"""Parity tests: segmentation_entropy_stitched (range-partitioned, boundary-
stitched — the scale path for raw high-frequency traces) must reproduce the
window form bit-for-bit-modulo-summation-order on every input shape.

The test session runs shuffle_partitions=8, so even the small fixtures split
into multiple range partitions — every assertion here exercises the
partition-boundary stitching, not the single-partition degenerate case.
"""

import math
import random

import pytest
from pyspark.sql import functions as F

from exstream_implementation_spark.operators.rewards import (
    segmentation_entropy,
    segmentation_entropy_stitched,
    single_feature_rewards,
    worst_case_labels,
)

from tests.test_rewards import melt_rows


def _seg_map(df):
    return {
        (r["ano_key"], r["feature_order"]): (r["seg_ent"], r["n_ano"], r["n_ref"])
        for r in df.collect()
    }


@pytest.mark.parametrize("mode", ["sorted", "worst_case"])
def test_stitched_matches_window_random(spark, mode):
    rng = random.Random(13)
    data = {}
    for i in range(5):
        n = rng.randint(4, 60)
        values = [float(rng.randint(0, 4)) for _ in range(n)]  # duplicate-heavy
        labels = [rng.randint(0, 1) for _ in range(n)]
        if 0 not in labels:
            labels[0] = 0
        if 1 not in labels:
            labels[-1] = 1
        data[f"f{i}"] = (values, labels)
    melted = melt_rows(spark, data)
    want = _seg_map(segmentation_entropy(worst_case_labels(melted, mode)))
    got = _seg_map(segmentation_entropy_stitched(melted, mode))
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == pytest.approx(want[k][0], rel=1e-12, abs=1e-15), k
        assert got[k][1:] == want[k][1:]


def test_stitched_single_segment_and_single_row(spark):
    # all-equal labels → one segment → final-segment drop (Q2) gives 0.0;
    # single-row groups likewise
    melted = melt_rows(
        spark,
        {
            "const": ([1.0, 2.0, 3.0, 4.0], [0, 0, 0, 1]),
            "one": ([5.0], [1]),
            "allsame": ([7.0, 7.0, 7.0], [1, 1, 1]),
        },
    )
    got = _seg_map(segmentation_entropy_stitched(melted, "sorted"))
    want = _seg_map(segmentation_entropy(worst_case_labels(melted, "sorted")))
    assert got == pytest.approx(want)
    assert got[("a1", 2)][0] == 0.0  # allsame
    assert got[("a1", 1)][0] == 0.0  # one


def test_stitched_composite_keys(spark):
    # multi-key partitioning (the pipeline's (run_id, ano_key) shape)
    rng = random.Random(29)
    rows = []
    for run in range(3):
        for feat_i in range(2):
            for ts in range(25):
                rows.append(
                    (
                        run,
                        "a1",
                        rng.randint(0, 1),
                        ts,
                        f"f{feat_i}",
                        feat_i,
                        float(rng.randint(0, 3)),
                    )
                )
    melted = spark.createDataFrame(
        rows,
        "run_id int, ano_key string, type_data int, timestamp long, "
        "feature string, feature_order int, value double",
    )
    keys = ("run_id", "ano_key")
    want = {
        (r["run_id"], r["feature_order"]): r["seg_ent"]
        for r in segmentation_entropy(
            worst_case_labels(melted, "sorted", keys), keys
        ).collect()
    }
    got = {
        (r["run_id"], r["feature_order"]): r["seg_ent"]
        for r in segmentation_entropy_stitched(melted, "sorted", keys).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12, abs=1e-15), k


@pytest.mark.parametrize("mode", ["sorted", "worst_case"])
def test_rewards_stitched_engine_parity_sf0001(spark, mode):
    """End-to-end rewards on the real sf0.001 events trace: the stitched
    engine must produce the identical (reward, rank) ranking."""
    from exstream_implementation_spark.operators.slicing import (
        melt_features,
        slice_intervals,
    )
    from exstream_implementation_spark.sources import events_trace

    trace = events_trace(spark, "/root/testdata/sf0.001")
    tmin, tmax = trace.agg(F.min("timestamp"), F.max("timestamp")).first()
    span = max(tmax - tmin, 4)
    labels = spark.createDataFrame(
        [
            (
                0,
                "events",
                1,
                "bursty input",
                tmin,
                tmin + span // 2,
                tmin + span // 2,
                tmin + 3 * span // 4,
            )
        ],
        "label_row int, trace_id string, ano_id int, ano_type string, "
        "ref_start long, ref_end long, ano_start long, ano_end long",
    )
    features = [c for c in trace.columns if c not in ("timestamp", "trace_id")]
    melted = melt_features(slice_intervals(trace, labels), features)
    want = {
        r["feature"]: (round(r["reward"], 9), r["rank"])
        for r in single_feature_rewards(
            melted, features, duplicate_mode=mode
        ).collect()
    }
    got = {
        r["feature"]: (round(r["reward"], 9), r["rank"])
        for r in single_feature_rewards(
            melted, features, duplicate_mode=mode, segmentation="stitched"
        ).collect()
    }
    assert got == want


def test_auto_segmentation_routing_and_parity(spark):
    """segmentation='auto' resolves (pipeline.route_segmentation) to window
    below the threshold and to stitched above it, and both routes return the
    window engine's rewards."""
    from exstream_implementation_spark.pipeline import (
        ExplainConfig,
        route_segmentation,
    )

    rng = random.Random(7)
    n = 40
    melted = melt_rows(
        spark,
        {
            "f0": (
                [float(rng.randint(0, 3)) for _ in range(n)],
                [i % 2 for i in range(n)],
            )
        },
    )
    # one feature, so the per-ano_key count the router probes IS the group
    # size: 40 rows, threshold 100 → window, threshold 10 → stitched
    routes = {
        threshold: route_segmentation(
            melted, ExplainConfig(segmentation_threshold=threshold)
        ).segmentation
        for threshold in (100, 10)
    }
    assert routes == {100: "window", 10: "stitched"}

    want = {
        r["feature"]: (round(r["reward"], 9), r["rank"])
        for r in single_feature_rewards(melted, ["f0"]).collect()
    }
    for threshold, route in routes.items():
        got = {
            r["feature"]: (round(r["reward"], 9), r["rank"])
            for r in single_feature_rewards(
                melted, ["f0"], segmentation=route
            ).collect()
        }
        assert got == want, threshold


def test_pipeline_auto_segmentation_parity(spark):
    """Default cfg (segmentation='auto') must match the explicit window
    engine, and forcing the threshold to 0 must route through stitched with
    identical explanations — no caller-side engine choice needed."""
    from exstream_implementation_spark.pipeline import (
        ExplainConfig,
        explain_anomalies,
    )
    from exstream_implementation_spark.plans.exstream_sql import (
        _two_anomaly_setup,
    )

    trace, labels = _two_anomaly_setup(spark, "/root/testdata/sf0.001")
    base = dict(instability_runs=2, reward_round=6)
    canon = lambda rows: sorted(
        (r["ano_key"], tuple(r["explanation"]), r["exp_size"], r["exp_instability"])
        for r in rows
    )
    want = canon(
        explain_anomalies(
            trace, labels, ExplainConfig(**base, segmentation="window")
        ).collect()
    )
    # default config: auto with the production threshold (small slice → window)
    assert canon(explain_anomalies(trace, labels, ExplainConfig(**base)).collect()) == want
    # threshold 0 forces every group over it → stitched route, same answer
    assert (
        canon(
            explain_anomalies(
                trace,
                labels,
                ExplainConfig(**base, segmentation_threshold=0),
            ).collect()
        )
        == want
    )


def test_pipeline_stitched_segmentation_parity(spark):
    """Full explain_anomalies with cfg.segmentation='stitched' returns the
    same explanations as the window engine (instability runs included)."""
    from exstream_implementation_spark.pipeline import (
        ExplainConfig,
        explain_anomalies,
    )
    from exstream_implementation_spark.plans.exstream_sql import (
        _two_anomaly_setup,
    )

    trace, labels = _two_anomaly_setup(spark, "/root/testdata/sf0.001")
    base = dict(instability_runs=2, reward_round=6)
    a = explain_anomalies(
        trace, labels, ExplainConfig(**base, segmentation="window")
    ).collect()
    b = explain_anomalies(
        trace, labels, ExplainConfig(**base, segmentation="stitched")
    ).collect()
    canon = lambda rows: sorted(
        (r["ano_key"], tuple(r["explanation"]), r["exp_size"], r["exp_instability"])
        for r in rows
    )
    assert canon(a) == canon(b)
