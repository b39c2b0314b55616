"""Hypothesis property test for the deterministic curation primitive
assign_splits (total coverage + python-mirror parity over random weights).
Few examples per property — each example runs Spark jobs."""

import hashlib

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from exstream_implementation_spark.plans.splits import assign_splits

_weights = st.dictionaries(
    keys=st.sampled_from(["train", "val", "test", "hold"]),
    values=st.floats(min_value=0.01, max_value=10.0, allow_nan=False),
    min_size=1,
    max_size=4,
)


@given(weights=_weights, salt=st.integers(min_value=0, max_value=50))
@settings(max_examples=8, deadline=None)
def test_split_total_coverage_and_mirror(spark, weights, salt):
    """Every row gets exactly one split from the weight keys, and the md5
    flavor matches an independent python computation of the same cutoffs."""
    df = spark.range(0, 120).withColumnRenamed("id", "doc_id")
    out = assign_splits(df, weights, unit_col="doc_id", salt=salt,
                        method="md5").collect()
    assert len(out) == 120
    total = sum(weights.values())
    names = list(weights)
    cuts = []
    acc = 0.0
    for nm in names:
        acc += weights[nm] / total
        cuts.append((nm, acc))
    cuts[-1] = (cuts[-1][0], 1.0)
    for r in out:
        h = hashlib.md5(f"{r['doc_id']}:{salt}".encode()).hexdigest()[:6]
        v = int(h, 16)
        want = next(
            nm for nm, hi in cuts
            if hi >= 1.0 or v < int(hi * 16**6)
        )
        assert r["split"] == want
        assert r["split"] in weights

