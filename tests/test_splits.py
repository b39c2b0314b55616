"""Leakage-safe splits (plans/splits.py): proportions, determinism,
partition/append invariance, md5-python mirror, and arg validation."""

import hashlib

import pytest
from pyspark.sql import functions as F

from exstream_implementation_spark.plans.splits import (
    assign_splits,
    split_oracle_case,
)
from exstream_implementation_spark.sources import load_table

SF_DIR = "/root/testdata/sf0.001"
W = {"train": 0.8, "val": 0.1, "test": 0.1}


def _docs(spark):
    return load_table(spark, SF_DIR, "documents").select("doc_id", "source")


def test_proportions_and_totals(spark):
    out = assign_splits(_docs(spark), W, unit_col="doc_id")
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    n = sum(counts.values())
    assert n == _docs(spark).count()
    assert counts["train"] / n == pytest.approx(0.8, abs=0.06)
    assert counts["val"] / n == pytest.approx(0.1, abs=0.05)
    assert counts["test"] / n == pytest.approx(0.1, abs=0.05)


def test_deterministic_partition_and_append_invariant(spark):
    docs = _docs(spark)
    a = {r["doc_id"]: r["split"]
         for r in assign_splits(docs.repartition(1), W).collect()}
    b = {r["doc_id"]: r["split"]
         for r in assign_splits(docs.repartition(13), W).collect()}
    assert a == b
    # appending new rows never reassigns old ones (pure projection of key)
    half = docs.filter(F.col("doc_id") < 250)
    c = {r["doc_id"]: r["split"] for r in assign_splits(half, W).collect()}
    assert c == {k: v for k, v in a.items() if k < 250}
    # a different salt draws an independent assignment
    d = {r["doc_id"]: r["split"]
         for r in assign_splits(docs, W, salt=9).collect()}
    assert d != a


def test_md5_flavor_matches_python_mirror(spark):
    """The assignment is reproducible from pure python —
    the same guarantee the DuckDB CASE (split_oracle_case) relies on."""
    out = assign_splits(_docs(spark), W, unit_col="doc_id", salt=1).collect()
    cut_train = format(int(0.8 * 16**6), "06x")
    cut_val = format(int(0.9 * 16**6), "06x")
    for r in out:
        h = hashlib.md5(f"{r['doc_id']}:1".encode()).hexdigest()[:6]
        want = ("train" if h < cut_train
                else "val" if h < cut_val else "test")
        assert r["split"] == want
    case = split_oracle_case(W, "d.doc_id", salt=1)
    assert f"< '{cut_train}' THEN 'train'" in case
    assert case.endswith("ELSE 'test' END")


def test_weights_validation(spark):
    docs = _docs(spark)
    with pytest.raises(ValueError, match="non-empty"):
        assign_splits(docs, {})
    with pytest.raises(ValueError, match=">= 0"):
        assign_splits(docs, {"a": -1.0, "b": 2.0})
    # unnormalized weights normalize
    out = assign_splits(docs, {"a": 8.0, "b": 2.0})
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    n = sum(counts.values())
    assert counts["a"] / n == pytest.approx(0.8, abs=0.06)