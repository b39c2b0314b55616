"""Unit + property tests for the entropy-reward core (C4-C8).

Golden values from FIXTURES.md §5 (hand-computed, verified against the
reference pipeline in the survey session).
"""

import math
import random

import pytest
from pyspark.sql import functions as F

from exstream_implementation_spark.operators.rewards import single_feature_rewards
from exstream_implementation_spark.operators.leap import (
    assemble_explanations,
    reward_leap_filter,
)
from tests import oracle_pandas as oracle


def melt_rows(spark, data):
    """data: dict feature -> (values, labels). Builds the melted long table
    for a single ano_key."""
    rows = []
    for order, (feat, (values, labels)) in enumerate(data.items()):
        for ts, (v, l) in enumerate(zip(values, labels)):
            rows.append(("a1", int(l), ts, feat, order, float(v)))
    return spark.createDataFrame(
        rows, "ano_key string, type_data int, timestamp long, feature string, "
        "feature_order int, value double"
    )


def spark_rewards(spark, data, mode="sorted"):
    df = single_feature_rewards(
        melt_rows(spark, data), list(data), duplicate_mode=mode
    )
    return {
        r["feature"]: (r["reward"], r["rank"])
        for r in df.collect()
    }


def test_perfect_separation_golden(spark):
    # FIXTURES §5: n_ref=n_ano=5, perfect separation, no duplicates:
    # class entropy 1.0, segmentation entropy 0.5*ln2=0.3466, reward 2.8854
    values = [1.0, 2.0, 3.0, 4.0, 5.0, 11.0, 12.0, 13.0, 14.0, 15.0]
    labels = [0] * 5 + [1] * 5
    out = spark_rewards(spark, {"f": (values, labels)})
    assert out["f"][0] == pytest.approx(1.0 / (0.5 * math.log(2)), rel=1e-12)
    assert out["f"][0] == pytest.approx(2.885390, abs=1e-4)


def test_final_segment_dropped_q2(spark):
    # [0,0,1,1] → only the first segment's term: (2/4)·ln(4/2) = 0.3466
    out = spark_rewards(spark, {"f": ([1.0, 2.0, 3.0, 4.0], [0, 0, 1, 1])})
    assert out["f"][0] == pytest.approx(1.0 / (0.5 * math.log(2)), rel=1e-12)


def test_duplicates_sorted_mode_matches_oracle(spark):
    values = [1.0, 1.0, 1.0, 2.0, 2.0, 3.0]
    labels = [0, 0, 1, 0, 1, 1]
    out = spark_rewards(spark, {"f": (values, labels)}, mode="sorted")
    assert out["f"][0] == pytest.approx(oracle.reward(values, labels, "sorted"), rel=1e-12)


def test_duplicates_worst_case_mode_matches_oracle(spark):
    values = [1.0, 1.0, 1.0, 2.0, 2.0, 3.0, 3.0, 3.0, 3.0]
    labels = [0, 0, 1, 0, 1, 1, 1, 0, 0]
    got = spark_rewards(spark, {"f": (values, labels)}, mode="worst_case")
    want = oracle.reward(values, labels, "worst_case")
    assert got["f"][0] == pytest.approx(want, rel=1e-12)


def test_property_random_matches_oracle(spark):
    rng = random.Random(7)
    data = {}
    for i in range(6):
        n = rng.randint(4, 30)
        # coarse-grained values → plenty of duplicate runs
        values = [float(rng.randint(0, 5)) for _ in range(n)]
        labels = [rng.randint(0, 1) for _ in range(n)]
        if 0 not in labels:
            labels[0] = 0
        if 1 not in labels:
            labels[-1] = 1
        data[f"f{i}"] = (values, labels)
    for mode in ("sorted", "worst_case"):
        got = spark_rewards(spark, data, mode=mode)
        for feat, (values, labels) in data.items():
            want = oracle.reward(values, labels, mode)
            assert got[feat][0] == pytest.approx(want, rel=1e-9), (mode, feat)


@pytest.mark.parametrize("mode", ["sorted", "worst_case"])
def test_missing_value_sorts_last_like_pandas_nan(spark, mode):
    """A missing value (Spark's CSV reader turns an empty cell into NULL)
    must segment like the reference's NaN, which pandas sorts last:
    references 1..5 and anomalies 10, 11, 12, <missing> give the label
    sequence [0]*5 + [1]*4 — (5/9)·ln(9/5) segmentation entropy."""

    def reward(missing):
        values = [(0, float(v)) for v in range(1, 6)]
        values += [(1, v) for v in (10.0, 11.0, 12.0, missing)]
        df = spark.createDataFrame(
            [("a1", td, ts, "f", 0, v) for ts, (td, v) in enumerate(values)],
            "ano_key string, type_data int, timestamp long, feature string, "
            "feature_order int, value double",
        )
        (row,) = single_feature_rewards(
            df, feature_names=["f"], duplicate_mode=mode
        ).collect()
        return row["reward"]

    class_ent = (5 / 9) * math.log2(9 / 5) + (4 / 9) * math.log2(9 / 4)
    want = class_ent / ((5 / 9) * math.log(9 / 5))
    assert want == pytest.approx(3.035, abs=1e-3)
    assert reward(float("nan")) == pytest.approx(want, rel=1e-12)
    assert reward(None) == pytest.approx(want, rel=1e-12)


INF, NAN = float("inf"), float("nan")

# real-trace value defects, each as (values, labels): references first
DEFECT_CASES = {
    "pos_inf_in_anomaly": (
        [1.0, 2.0, 2.0, 3.0, 4.0, 10.0, INF, 11.0, INF],
        [0, 0, 0, 0, 0, 1, 1, 1, 1],
    ),
    "neg_inf_in_reference": (
        [-INF, 1.0, -INF, 2.0, 5.0, 5.0, 6.0],
        [0, 0, 0, 0, 1, 1, 1],
    ),
    "inf_both_sides": (
        [-INF, INF, 1.0, INF, -INF, 2.0, INF, 3.0],
        [0, 0, 0, 1, 1, 1, 1, 0],
    ),
    "nan_mixed_with_inf": (
        [1.0, NAN, INF, 2.0, INF, NAN, -INF, 3.0],
        [0, 0, 0, 0, 1, 1, 1, 1],
    ),
    "duplicate_nans": (
        [NAN, NAN, 1.0, 2.0, NAN, NAN, NAN, 3.0],
        [0, 0, 0, 0, 1, 1, 1, 1],
    ),
    "constant_feature": ([7.0] * 7, [0, 0, 0, 1, 1, 1, 1]),
}


@pytest.mark.parametrize("case", sorted(DEFECT_CASES))
@pytest.mark.parametrize("mode", ["sorted", "worst_case"])
def test_inf_nan_and_constant_values_match_oracle(spark, mode, case):
    """±inf sorts at the ends of the order, every NaN sorts after +inf as
    one duplicate run (pandas sorts NaN last), and a constant feature is one
    duplicate run: both modes must give the oracle's reward."""
    values, labels = DEFECT_CASES[case]
    got = spark_rewards(spark, {"f": (values, labels)}, mode=mode)
    assert got["f"][0] == pytest.approx(
        oracle.reward(values, labels, mode), rel=1e-9
    )


_REWARDS_DDL = (
    "ano_key string, feature string, feature_order int, reward double, rank int"
)


def collected_rewards(df):
    """The (ano_key, feature, feature_order, reward) rows the pipeline
    collects after C7 and hands to the driver cut."""
    return df.select("ano_key", "feature", "feature_order", "reward").collect()


def test_leap_filter_golden(spark):
    # FIXTURES §5: rewards {f1: 2.885, f2: 0.701} → max leap 2.184 → keep [f1]
    rewards = spark.createDataFrame(
        [("a1", "f1", 0, 2.885, 1), ("a1", "f2", 1, 0.701, 2)], _REWARDS_DDL
    )
    kept = reward_leap_filter(collected_rewards(rewards))
    assert [r[1] for r in kept] == ["f1"]
    (expl,) = assemble_explanations(kept)
    assert expl["features"] == ["f1"]


def test_leap_cut_rows_golden():
    # FIXTURES §5 on plain driver rows: same rewards, same single survivor,
    # ranked whatever order the rows arrive in
    kept = reward_leap_filter([("a1", "f2", 1, 0.701), ("a1", "f1", 0, 2.885)])
    assert kept == [("a1", "f1", 0, 2.885, 1)]
    (expl,) = assemble_explanations(kept)
    assert expl["features"] == ["f1"]
    assert expl["feature_orders"] == [0]


def test_leap_filter_matches_oracle_random(spark):
    rng = random.Random(13)
    for trial in range(8):
        n = rng.randint(1, 8)
        vals = sorted({round(rng.uniform(0, 5), 3) for _ in range(n)}, reverse=True)
        ordered = [(f"f{i}", v) for i, v in enumerate(vals)]
        rows = [("k", f, i, v, i + 1) for i, (f, v) in enumerate(ordered)]
        df = spark.createDataFrame(rows, _REWARDS_DDL)
        kept = reward_leap_filter(collected_rewards(df))
        got = [f for _, f, _, _, _ in kept]
        want = oracle.leap_filter(ordered)
        assert got == want, (trial, ordered)


def test_leap_filter_single_feature_kept(spark):
    df = spark.createDataFrame([("a1", "f1", 0, 1.5, 1)], _REWARDS_DDL)
    assert len(reward_leap_filter(collected_rewards(df))) == 1


def test_fuzz_rewards_match_oracle_both_modes(spark):
    """40 random duplicate-heavy cases per mode, all scored in ONE Spark job
    each, vs the independent list-comprehension oracle. Values are drawn from
    a 4-symbol pool so duplicate runs (the C5/C6 hard part) dominate."""
    import numpy as np

    rng = np.random.default_rng(20260813)
    cases = {}
    for i in range(40):
        n = int(rng.integers(4, 24))
        values = rng.choice([1.0, 2.0, 3.0, 4.0], size=n)
        labels = rng.integers(0, 2, size=n)
        labels[0], labels[-1] = 0, 1  # both classes present
        cases[f"case_{i}"] = (values.tolist(), labels.tolist())

    for mode in ("sorted", "worst_case"):
        rows = []
        for key, (values, labels) in cases.items():
            for ts, (v, l) in enumerate(zip(values, labels)):
                rows.append((key, int(l), ts, "f", 0, float(v)))
        df = spark.createDataFrame(
            rows,
            "ano_key string, type_data int, timestamp long, feature string, "
            "feature_order int, value double",
        )
        got = {
            r["ano_key"]: r["reward"]
            for r in single_feature_rewards(
                df, ["f"], duplicate_mode=mode
            ).collect()
        }
        for key, (values, labels) in cases.items():
            want = oracle.reward(values, labels, mode=mode)
            assert got[key] == pytest.approx(want, rel=1e-9), (mode, key)
