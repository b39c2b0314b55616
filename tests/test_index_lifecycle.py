"""Crash-injection tests for the shared index-lifecycle compaction swap.

The r10 review found compact_bucketed_table's DROP-then-RENAME left a
window where a crash leaves NO table under the live name and the data
deleted.  The swap is now rename-live-out → rename-staging-in → drop-old
(pointer-swap-last): these tests kill the
swap at each intermediate instant and assert the data is never lost and
the live name is always restorable.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F  # noqa: F401

from exstream_implementation_spark.operators.bucketing import write_bucketed
from exstream_implementation_spark.operators.index_lifecycle import (
    compact_bucketed_table,
    recover_compaction,
)

TABLE = "lifecycle_crash_tbl"


def _fresh_table(spark, rows=200):
    for t in (TABLE, f"{TABLE}_old", f"{TABLE}_staging"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    df = spark.range(rows).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 13).alias("v")
    )
    write_bucketed(df, TABLE, ["k"], n_buckets=4, sort_cols=["k"])
    return {tuple(r) for r in spark.table(TABLE).collect()}


class _CrashAt:
    """spark.sql wrapper that raises on the first statement containing
    ``needle`` — the injected crash instant."""

    def __init__(self, spark, needle):
        self.spark, self.needle = spark, needle
        self.orig = spark.sql
        self.fired = False

    def __call__(self, stmt, *a, **kw):
        if self.needle in stmt and not self.fired:
            self.fired = True
            raise RuntimeError(f"injected crash at: {stmt}")
        return self.orig(stmt, *a, **kw)


def _crash_compact(spark, needle, monkeypatch):
    crash = _CrashAt(spark, needle)
    monkeypatch.setattr(spark, "sql", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_bucketed_table(spark, TABLE, ["k"])
    monkeypatch.setattr(spark, "sql", crash.orig)
    assert crash.fired


def test_crash_between_renames_is_recoverable(spark, monkeypatch):
    """Kill after live→old but before staging→live: the live name is
    briefly unbound, but the data survives under _old and
    recover_compaction restores it."""
    rows = _fresh_table(spark)
    _crash_compact(spark, f"ALTER TABLE {TABLE}_staging RENAME", monkeypatch)
    assert not spark.catalog.tableExists(TABLE)
    assert spark.catalog.tableExists(f"{TABLE}_old")
    assert recover_compaction(spark, TABLE) is True
    assert {tuple(r) for r in spark.table(TABLE).collect()} == rows
    # and the next compaction completes from the recovered state
    assert compact_bucketed_table(spark, TABLE, ["k"]) == len(rows)
    assert {tuple(r) for r in spark.table(TABLE).collect()} == rows
    assert not spark.catalog.tableExists(f"{TABLE}_old")
    assert not spark.catalog.tableExists(f"{TABLE}_staging")


def test_crash_before_drop_old_leaves_live_readable(spark, monkeypatch):
    """Kill after staging→live but before drop-old: the live name already
    serves the compacted data; recovery is a no-op and the next compaction
    clears the leftover."""
    rows = _fresh_table(spark)
    _crash_compact(spark, f"DROP TABLE {TABLE}_old", monkeypatch)
    assert spark.catalog.tableExists(TABLE)
    assert {tuple(r) for r in spark.table(TABLE).collect()} == rows
    assert recover_compaction(spark, TABLE) is False  # nothing to recover
    assert compact_bucketed_table(spark, TABLE, ["k"]) == len(rows)
    assert not spark.catalog.tableExists(f"{TABLE}_old")


def test_crash_during_staging_write_leaves_live_untouched(spark, monkeypatch):
    """Kill before any rename (while clearing staging): live table intact."""
    rows = _fresh_table(spark)
    _crash_compact(spark, f"DROP TABLE IF EXISTS {TABLE}_staging", monkeypatch)
    assert spark.catalog.tableExists(TABLE)
    assert {tuple(r) for r in spark.table(TABLE).collect()} == rows
    for t in (TABLE, f"{TABLE}_old", f"{TABLE}_staging"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")

