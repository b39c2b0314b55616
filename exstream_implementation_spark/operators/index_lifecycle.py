"""Serving-index lifecycle contract: idempotent append and crash-safe
compaction of a bucketed, catalog-served table.  The BM25 postings table
(plans/search.py) is the index family that uses it:

  append      anti-join the new rows against the served table's keys, pin
              the result with an eager localCheckpoint (the read-then-
              append trap: appending to the table the lineage reads would
              silently recompute against the updated table), then append
              through the catalog insert path so rows land in the table's
              bucket spec.  Idempotent under foreachBatch's at-least-once
              redelivery by construction.
  compaction  rewrite the bucketed table through a staging table + catalog
              rename (never overwrite a table being read), so many small
              appends are re-clustered into one file per bucket.

NAMESPACE CLAIM: compaction reserves ``{table}_staging`` and
``{table}_old`` as scratch names for any table it manages — it drops
leftovers under those names on entry and recover_compaction may rename
``{table}_old`` over the live name.  Do not create unrelated tables
with those suffixes next to a lifecycle-managed table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def idempotent_append(
    new_rows: DataFrame, table: str, key_cols: list[str]
) -> DataFrame:
    """Append ``new_rows`` not already present in ``table`` (by
    ``key_cols``), returning the appended frame (eagerly materialized —
    safe to count/inspect after the append).

    The anti-join makes redelivered batches no-ops; the eager
    localCheckpoint pins the pre-append result so the append cannot
    invalidate the plan that produced it; insertInto routes rows through
    the table's bucket spec (a path write would bypass it).
    """
    spark = new_rows.sparkSession
    existing = spark.table(table).select(*key_cols).distinct()
    fresh = (
        new_rows.join(existing, key_cols, "left_anti")
        # joining on a name list MOVES the key columns to the front, and
        # insertInto is POSITIONAL — realign to the table's layout or the
        # keys land in the wrong columns silently
        .select(*spark.table(table).columns)
        .localCheckpoint(eager=True)
    )
    fresh.write.mode("append").insertInto(table)
    return fresh


def compact_bucketed_table(
    spark: SparkSession,
    table: str,
    keys: list[str],
    default_buckets: int = 16,
) -> int:
    """Rewrite one bucketed table in place (staging + catalog rename):
    one file per bucket, rows sorted on the join keys — the co-located-
    join layout, freshly clustered after many small streaming appends.
    Returns the row count of the rewritten table.  The staging table is
    written first and swapped in with renames, so a failed rewrite
    leaves the live table untouched.

    Crash safety (the r10 review's swap-window finding): the swap is
    rename-live-out → rename-staging-in → drop-old, never DROP-then-
    RENAME — at no instant is the only copy of the data deleted.  A
    crash between the two renames leaves the data under ``{table}_old``;
    ``recover_compaction`` (called here on entry, and safe to call from
    any reader) restores it to the live name: the pointer is swapped
    last.

    ``{table}_staging`` and ``{table}_old`` are RESERVED scratch names
    (module note): leftovers under them are dropped on entry."""
    from exstream_implementation_spark.operators.bucketing import (
        write_bucketed,
    )

    staging, old = f"{table}_staging", f"{table}_old"
    recover_compaction(spark, table)
    spark.sql(f"DROP TABLE IF EXISTS {staging}")
    spark.sql(f"DROP TABLE IF EXISTS {old}")
    n_buckets = (
        spark.sql(f"DESCRIBE EXTENDED {table}")
        .filter("col_name = 'Num Buckets'")
        .first()
    )
    write_bucketed(
        spark.table(table),
        staging,
        list(keys),
        n_buckets=int(n_buckets["data_type"]) if n_buckets else default_buckets,
        sort_cols=list(keys),
    )
    n = spark.table(staging).count()
    spark.sql(f"ALTER TABLE {table} RENAME TO {old}")
    spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")
    spark.sql(f"DROP TABLE {old}")
    return n


def recover_compaction(spark: SparkSession, table: str) -> bool:
    """Restore ``table`` if a previous compaction crashed between its two
    renames (live name unbound, data parked under ``{table}_old``).
    Returns True when a recovery rename was performed.  No-op in every
    other state: live-present (old, if any, is a completed swap's
    leftover — compaction drops it on entry) or both-absent."""
    old = f"{table}_old"
    if not spark.catalog.tableExists(table) and spark.catalog.tableExists(old):
        spark.sql(f"ALTER TABLE {old} RENAME TO {table}")
        return True
    return False
