"""End-to-end pipeline test on a synthetic fixture (FIXTURES.md §1-§4 shape):
gaussian baseline, two injected anomalous features, one linear-ramp false
positive, one near-duplicate pair for clustering. The run-0 explanation is
cross-checked feature-by-feature against the pure-Python oracle.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from exstream_implementation_spark.pipeline import ExplainConfig, explain_anomalies
from tests import oracle_pandas as oracle

FEATURES = ["f_cpu", "f_heap", "f_sched", "f_net", "f_records", "f_uptime", "f_dup"]


def build_fixture(spark):
    rng = np.random.default_rng(42)
    rows = []
    for trace_id in ("1_1", "1_2"):
        n = 300
        base = {
            "f_cpu": rng.normal(50, 2, n),
            "f_heap": rng.normal(800, 30, n),
            "f_sched": rng.normal(10, 1, n),
            "f_net": rng.normal(5, 0.5, n),
            "f_records": rng.normal(1000, 40, n),
            "f_uptime": np.arange(n, dtype=float),
        }
        base["f_dup"] = base["f_sched"] + rng.normal(0, 0.01, n)
        # anomaly: [100, 150] — big shifts in f_sched and f_records
        base["f_sched"][100:151] += 40.0
        base["f_records"][100:151] += 2000.0
        for t in range(n):
            rows.append(
                (trace_id, t, *[float(base[f][t]) for f in FEATURES])
            )
    traces = spark.createDataFrame(
        rows,
        "trace_id string, timestamp long, " + ", ".join(f"{f} double" for f in FEATURES),
    )
    labels = spark.createDataFrame(
        [
            (0, "1_1", 1, "bursty input", 0, 100, 100, 150),
            (1, "1_2", 1, "bursty input", 0, 100, 100, 150),
        ],
        "label_row int, trace_id string, ano_id int, ano_type string, "
        "ref_start long, ref_end long, ano_start long, ano_end long",
    )
    return traces, labels, rows


def oracle_explanation(rows, trace_id):
    """Pure-python rerun: slice ref [0,100) / ano [100,150], reward per
    feature, leap filter — returns feature_order list."""
    t_rows = [r for r in rows if r[0] == trace_id]
    sliced = [(r[1], r[2:]) for r in t_rows if r[1] < 100 or 100 <= r[1] <= 150]
    rewards = []
    for i, f in enumerate(FEATURES):
        values, labels_ = [], []
        for ts, vals in sliced:
            values.append(vals[i])
            labels_.append(0 if ts < 100 else 1)
        rewards.append((f, i, oracle.reward(values, labels_, "sorted")))
    ordered = sorted(rewards, key=lambda t: -t[2])
    kept = oracle.leap_filter([(f, r) for f, _, r in ordered])
    by_name = {f: i for f, i, _ in rewards}
    return [by_name[f] for f in kept]


def test_explain_anomalies_matches_oracle(spark):
    traces, labels, rows = build_fixture(spark)
    cfg = ExplainConfig(instability_runs=2)
    out = explain_anomalies(traces, labels, cfg).orderBy("trace_id").collect()
    assert len(out) == 2
    for row in out:
        want = oracle_explanation(rows, row["trace_id"])
        assert list(row["explanation"]) == want, row["trace_id"]
        assert row["exp_size"] == len(want)
        # injected features must be explanatory
        assert 2 in row["explanation"] and 4 in row["explanation"]
        assert row["exp_instability"] is not None


def test_explain_anomalies_cluster_collapses_duplicate(spark):
    traces, labels, _ = build_fixture(spark)
    cfg = ExplainConfig(cluster=True, instability_runs=0)
    out = explain_anomalies(traces, labels, cfg).collect()
    for row in out:
        # f_dup (index 6) is |corr|>0.6 with f_sched (index 2): the cluster
        # representative is the lower column index, so 6 never appears
        assert 6 not in row["explanation"]
        assert 2 in row["explanation"]


def test_explain_anomalies_fp_filter_runs(spark):
    traces, labels, _ = build_fixture(spark)
    cfg = ExplainConfig(false_positive_filtering=True, instability_runs=0)
    out = explain_anomalies(traces, labels, cfg).collect()
    assert len(out) == 2
    for row in out:
        assert row["exp_size"] >= 1


def test_fp_filter_pools_per_run(spark):
    """Per-run reference pooling (reference re-runs the pipeline per sample,
    script_1.py:227-238): with sample_fraction=1.0 every run's pool equals
    the main run's, so FP filtering must keep identical features per run and
    exp_instability collapses to log2(exp_size). A pooled-across-runs bug
    triples the haystack and breaks the identity."""
    traces, labels, _ = build_fixture(spark)
    cfg = ExplainConfig(
        false_positive_filtering=True, instability_runs=2, sample_fraction=1.0
    )
    out = explain_anomalies(traces, labels, cfg).collect()
    assert len(out) == 2
    for row in out:
        assert row["exp_instability"] == pytest.approx(
            math.log2(row["exp_size"]), abs=1e-12
        )


def test_instability_log2k_identity(spark):
    """Verified reference quirk (SURVEY C9): k identical size-k explanations
    give entropy log2(k), not 0 — frequency is uniform over the k features.
    sample_fraction=1.0 makes every instability run identical to the main
    run, so exp_instability must equal log2(exp_size) exactly."""
    traces, labels, _ = build_fixture(spark)
    cfg = ExplainConfig(instability_runs=3, sample_fraction=1.0)
    for row in explain_anomalies(traces, labels, cfg).collect():
        assert row["exp_instability"] == pytest.approx(
            math.log2(row["exp_size"]), abs=1e-12
        )


def test_many_anomalies_parallel_matches_oracle(spark):
    """20 anomalies across 5 traces run as ONE keyed plan; every explanation
    must match the per-anomaly python oracle loop."""
    rng = np.random.default_rng(99)
    feats = ["g0", "g1", "g2", "g3"]
    rows, labels_rows = [], []
    for tnum in range(5):
        trace_id = f"t{tnum}"
        n = 200
        cols = {f: rng.normal(0, 1, n) for f in feats}
        for k in range(4):  # 4 anomalies per trace
            a0, a1 = 40 * k + 20, 40 * k + 35
            shift_feat = feats[(tnum + k) % len(feats)]
            cols[shift_feat][a0 : a1 + 1] += 8.0 + k
            labels_rows.append(
                (len(labels_rows), trace_id, k + 1, "bursty input",
                 0, 20, a0, a1)
            )
        for t in range(n):
            rows.append((trace_id, t, *[float(cols[f][t]) for f in feats]))
    traces = spark.createDataFrame(
        rows,
        "trace_id string, timestamp long, "
        + ", ".join(f"{f} double" for f in feats),
    )
    labels = spark.createDataFrame(
        labels_rows,
        "label_row int, trace_id string, ano_id int, ano_type string, "
        "ref_start long, ref_end long, ano_start long, ano_end long",
    )
    out = explain_anomalies(traces, labels, ExplainConfig(instability_runs=0))
    got = {(r["trace_id"], r["ano_id"]): list(r["explanation"]) for r in out.collect()}
    assert len(got) == 20
    by_trace = {}
    for r in rows:
        by_trace.setdefault(r[0], []).append(r)
    for (lr, trace_id, ano_id, _, r0, r1, a0, a1) in labels_rows:
        t_rows = by_trace[trace_id]
        rewards = []
        for i, f in enumerate(feats):
            values, labs = [], []
            for row in t_rows:
                ts = row[1]
                if r0 <= ts < r1:
                    values.append(row[2 + i]); labs.append(0)
                elif a0 <= ts <= a1:
                    values.append(row[2 + i]); labs.append(1)
            rewards.append((f, i, oracle.reward(values, labs, "sorted")))
        # tie-break: ordered desc by reward, stable on feature order
        ordered = sorted(rewards, key=lambda t: -t[2])
        kept = oracle.leap_filter([(f, rw) for f, _, rw in ordered])
        want = [dict((f, i) for f, i, _ in rewards)[f] for f in kept]
        assert got[(trace_id, ano_id)] == want, (trace_id, ano_id)


def test_rf_crosscheck_ranks_injected_features(spark):
    """C10 diagnostic (reference testing.ipynb cells 53-56): RandomForest
    importances must rank the injected anomalous features (f_sched=2,
    f_records=4) above the noise features."""
    from exstream_implementation_spark.diagnostics import rf_feature_importances
    from exstream_implementation_spark.operators.slicing import slice_intervals

    traces, labels, _ = build_fixture(spark)
    sliced = slice_intervals(traces, labels)
    imps = rf_feature_importances(sliced, FEATURES).collect()
    # f_uptime (the linear ramp) separates the intervals by time alone — the
    # designed false positive that RF cannot tell apart from real signal,
    # which is exactly why the reference pipeline adds C3 FP filtering
    top3 = {r["feature"] for r in imps[:3]}
    assert {"f_sched", "f_records", "f_uptime"} >= top3
    assert {"f_sched", "f_records"} & top3
    assert abs(sum(r["importance"] for r in imps) - 1.0) < 1e-6


def test_degenerate_labels_dropped_not_crashed(spark):
    """Intervals that slice to an empty class must drop that anomaly from the
    output (the reference raises ValueError instead,
    entropy_based_single_reward_feature.py:30-34 — documented divergence)."""
    traces, _, _ = build_fixture(spark)
    labels = spark.createDataFrame(
        [
            # valid anomaly
            (0, "1_1", 1, "bursty input", 0, 100, 100, 150),
            # anomaly interval beyond the trace: ano class empty
            (1, "1_1", 2, "bursty input", 0, 100, 5000, 6000),
            # empty reference interval
            (2, "1_1", 3, "bursty input", 50, 50, 100, 150),
        ],
        "label_row int, trace_id string, ano_id int, ano_type string, "
        "ref_start long, ref_end long, ano_start long, ano_end long",
    )
    out = explain_anomalies(traces, labels, ExplainConfig(instability_runs=0)).collect()
    assert [r["ano_id"] for r in out] == [1]
    assert len(out[0]["explanation"]) >= 1


def test_run_config_grid_writes_four_tables(spark, tmp_path):
    """Reference script_1.py's 2x2 driver grid: four result tables with the
    reference schema, sunk and re-readable."""
    from exstream_implementation_spark.pipeline import run_config_grid

    traces, labels, _ = build_fixture(spark)
    base = ExplainConfig(instability_runs=2)
    out = run_config_grid(traces, labels, str(tmp_path), base=base)
    assert set(out) == {
        "explanations", "explanations_cluster",
        "explanations_fpf", "explanations_cluster_fpf",
    }
    for name in out:
        back = spark.read.parquet(str(tmp_path / name))
        assert {
            "trace_id", "ano_id", "ano_key", "explanation", "exp_size",
            "exp_instability",
        } <= set(back.columns)
        assert back.count() == 2


def test_config_metric_summary_matches_pandas(spark, tmp_path):
    """plot_metrics.ipynb parity (cells 2-9): per-config mean instability and
    mean explanation size over the grid outputs, checked against a
    driver-side pandas mean over the same sinks."""
    from exstream_implementation_spark.pipeline import ExplainConfig, run_config_grid
    from exstream_implementation_spark.reporting import (
        config_metric_summary,
        summary_from_sinks,
    )
    traces, labels, _ = build_fixture(spark)
    base = ExplainConfig(instability_runs=2)
    out = run_config_grid(traces, labels, str(tmp_path), base=base)
    got = {
        r["config"]: r for r in config_metric_summary(out).collect()
    }
    assert set(got) == {
        "explanations", "explanations_cluster",
        "explanations_fpf", "explanations_cluster_fpf",
    }
    import pandas as pd

    for name, df in out.items():
        pdf = df.toPandas()
        assert got[name]["n_anomalies"] == len(pdf)
        assert got[name]["mean_exp_size"] == pytest.approx(
            pdf["exp_size"].mean(), abs=1e-6
        )
        if pdf["exp_instability"].notna().any():
            assert got[name]["mean_instability"] == pytest.approx(
                pdf["exp_instability"].dropna().mean(), abs=1e-6
            )
    # sink-reading path agrees with the in-memory path
    from_sinks = {
        r["config"]: r for r in summary_from_sinks(spark, str(tmp_path)).collect()
    }
    for name in got:
        assert from_sinks[name]["mean_exp_size"] == got[name]["mean_exp_size"]


def test_explain_config_rejects_bad_modes(spark):
    import pytest as _pytest

    from exstream_implementation_spark.pipeline import (
        ExplainConfig,
        explain_anomalies,
    )
    from exstream_implementation_spark.plans.exstream_sql import (
        _two_anomaly_setup,
    )

    trace, labels = _two_anomaly_setup(spark, "/root/testdata/sf0.001")
    with _pytest.raises(ValueError, match="sample_method"):
        explain_anomalies(
            trace, labels, ExplainConfig(sample_method="sha1")
        )
