"""End-to-end pipeline test on a synthetic fixture (FIXTURES.md §1-§4 shape):
gaussian baseline, two injected anomalous features, one linear-ramp false
positive, one near-duplicate pair for clustering. The run-0 explanation is
cross-checked feature-by-feature against the pure-Python oracle.
"""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from exstream_implementation_spark.operators.fp_filter import count_matches
from exstream_implementation_spark.pipeline import ExplainConfig, explain_anomalies
from tests import oracle_pandas as oracle

FEATURES = ["f_cpu", "f_heap", "f_sched", "f_net", "f_records", "f_uptime", "f_dup"]
LABEL_DDL = (
    "label_row int, trace_id string, ano_id int, ano_type string, "
    "ref_start long, ref_end long, ano_start long, ano_end long"
)
FIXTURE_LABELS = [
    (0, "1_1", 1, "bursty input", 0, 100, 100, 150),
    (1, "1_2", 1, "bursty input", 0, 100, 100, 150),
]


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
    labels = spark.createDataFrame(FIXTURE_LABELS, LABEL_DDL)
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


def fp_explanations(rows, label_rows, max_distance):
    """Independent pandas rerun of run 0 with FP filtering on and clustering
    off → ({ano_key: explanation}, {ano_key: kept by the fallback}): slice
    per label, pool every anomaly's reference rows per feature in (ano_key,
    timestamp) order, count each anomaly's reference matches in the pool,
    keep the features at ≤ 5 matches or else the one with the fewest (the
    first on a tie), then reward and leap-cut the kept features."""
    trace = pd.DataFrame(rows, columns=["trace_id", "timestamp", *FEATURES])
    parts = []
    for lr, tid, _, ano_type, r0, r1, a0, a1 in label_rows:
        t = trace[trace["trace_id"] == tid]
        key = f"{ano_type}_{tid}_{lr}"
        ts = t["timestamp"]
        parts.append(t[(ts >= r0) & (ts < r1)].assign(ano_key=key, type_data=0))
        parts.append(t[(ts >= a0) & (ts <= a1)].assign(ano_key=key, type_data=1))
    sliced = pd.concat(parts)
    refs = sliced[sliced["type_data"] == 0].sort_values(["ano_key", "timestamp"])
    want, fallback = {}, {}
    for key, grp in sliced.groupby("ano_key"):
        own = refs[refs["ano_key"] == key]
        counts = [
            count_matches(
                own[f].to_numpy(dtype=np.float64),
                refs[f].to_numpy(dtype=np.float64),
                max_distance,
            )
            for f in FEATURES
        ]
        use = [i for i, n in enumerate(counts) if n <= 5]
        fallback[key] = not use
        use = use or [int(np.argmin(counts))]
        labs = grp["type_data"].tolist()
        scored = [(i, oracle.reward(grp[FEATURES[i]].tolist(), labs)) for i in use]
        want[key] = oracle.leap_filter(sorted(scored, key=lambda t: -t[1]))
    return want, fallback


# 12 labels of 10-row references over the fixture's traces: at
# max_distance >= 5 every feature's reference shape matches the pooled
# references more than 5 times, so every anomaly keeps its fewest-matches
# feature
FALLBACK_LABELS = [
    (lr, tid, 1 + k, "bursty input", 10 * k, 10 * k + 10, 100, 150)
    for lr, (tid, k) in enumerate(
        (tid, k) for tid in ("1_1", "1_2") for k in range(6)
    )
]


def test_explain_anomalies_fp_filter_runs(spark):
    """FP filtering on (C3, reference exstream/false_positive_filtering.py:
    36-46): the run-0 explanation equals the pandas rerun's, once on the
    fixture, where every feature passes the ≤ 5 rule, and once on labels
    that reach the fewest-matches fallback for every anomaly."""
    traces, _, rows = build_fixture(spark)
    for label_rows, max_distance, fell_back in (
        (FIXTURE_LABELS, 40.0, False),
        (FALLBACK_LABELS, 5.0, True),
    ):
        want, fallback = fp_explanations(rows, label_rows, max_distance)
        assert set(fallback.values()) == {fell_back}
        out = explain_anomalies(
            traces,
            spark.createDataFrame(label_rows, LABEL_DDL),
            ExplainConfig(
                false_positive_filtering=True,
                instability_runs=0,
                max_distance=max_distance,
            ),
        ).collect()
        assert len(out) == len(label_rows)
        for row in out:
            assert list(row["explanation"]) == want[row["ano_key"]], row["ano_key"]
            assert row["exp_size"] == len(want[row["ano_key"]])


def test_explain_call_job_count(spark):
    """A warm explain call with clustering and FP filtering on runs at most
    9 Spark jobs: the pre-pass, C2's second pass and one query for C3 and
    C7 together, with each broadcast of a driver-side relation once."""
    traces, labels, _ = build_fixture(spark)
    cfg = ExplainConfig(cluster=True, false_positive_filtering=True, instability_runs=1)
    explain_anomalies(traces, labels, cfg)  # warm-up
    sc = spark.sparkContext
    sc.setJobGroup("explain-job-count", "one warm explain call")
    try:
        explain_anomalies(traces, labels, cfg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("explain-job-count")
    assert len(jobs) <= 9, f"{len(jobs)} jobs"


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


def test_sample_runs_losing_a_class_keep_explanation(spark):
    """Samples that lose a class (ROADMAP defect class): with
    sample_fraction=0.0 every sample run loses both classes, so each of its
    (run, anomaly) groups is dropped — the reference raises ValueError
    instead (entropy_based_single_reward_feature.py:30-34).  Every anomaly
    keeps its run-0 explanation, and exp_instability is NULL because no
    sample run survived."""
    traces, labels, _ = build_fixture(spark)
    base = {
        r["ano_key"]: list(r["explanation"])
        for r in explain_anomalies(
            traces, labels, ExplainConfig(instability_runs=0)
        ).collect()
    }
    out = explain_anomalies(
        traces, labels, ExplainConfig(instability_runs=3, sample_fraction=0.0)
    ).collect()
    assert len(out) == len(base) == 2
    for row in out:
        assert list(row["explanation"]) == base[row["ano_key"]]
        assert row["exp_size"] == len(base[row["ano_key"]])
        assert row["exp_instability"] is None


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


@pytest.mark.parametrize("cluster", [False, True], ids=["flat", "cluster"])
@pytest.mark.parametrize("dup_values", ["equal", "different"])
def test_duplicate_timestamps_match_oracle(spark, dup_values, cluster):
    """Duplicate timestamps (ROADMAP defect class): every third timestamp
    carries a second row, either a copy of the first (``equal``) or a
    disagreeing reading whose f_shift misses the anomaly's shift
    (``different``).  Both rows are slice rows, as in the reference's
    boolean mask (utils/get_data.py:83-100).  Rows with equal
    (value, type_data) carry equal labels, so their order in the
    segmentation cannot change a reward; the explanation must equal the
    oracle's on the same rows, with C2 clustering off and on.  On the
    ``different`` trace, keeping only the first or the last row of each
    timestamp gives another explanation, with clustering off or on."""
    rng = np.random.default_rng(7)
    feats = ["f_shift", "f_noise", "f_level", "f_twin"]
    n, ref_end, a0, a1 = 120, 60, 60, 90

    def draw(t, stale=False):
        shift = 6.0 if a0 <= t <= a1 else 0.0
        base = float(rng.normal(0, 1))
        # f_level takes few distinct values, so equal values straddle the
        # classes; f_twin tracks f_shift (|corr| > 0.6: one C2 component)
        level = float(round(rng.normal(0, 1)) + (1 if shift else 0))
        return [
            base + (0.0 if stale else shift),
            float(rng.normal(0, 1)),
            level,
            base + shift + float(rng.normal(0, 0.1)),
        ]

    rows = []
    for t in range(n):
        vals = draw(t)
        rows.append(("d", t, *vals))
        if t % 3 == 0:
            dup = vals if dup_values == "equal" else draw(t, stale=True)
            rows.append(("d", t, *dup))
    traces = spark.createDataFrame(
        rows,
        "trace_id string, timestamp long, "
        + ", ".join(f"{f} double" for f in feats),
    )
    labels = spark.createDataFrame(
        [(0, "d", 1, "bursty input", 0, ref_end, a0, a1)],
        "label_row int, trace_id string, ano_id int, ano_type string, "
        "ref_start long, ref_end long, ano_start long, ano_end long",
    )
    out = explain_anomalies(
        traces, labels, ExplainConfig(cluster=cluster, instability_runs=0)
    ).collect()

    sliced = [
        (0 if t < ref_end else 1, vals)
        for _, t, *vals in rows
        if t < ref_end or a0 <= t <= a1
    ]
    kept = list(range(len(feats)))
    if cluster:
        # C2: components of |corr| > 0.6 over the pooled slice rows, one
        # representative (the lowest column) each
        corr = np.corrcoef(np.array([v for _, v in sliced]).T)
        comp = list(range(len(feats)))
        for i in range(len(feats)):
            for j in range(i):
                if abs(corr[i][j]) > 0.6:
                    old, new = comp[i], comp[j]
                    comp = [new if c == old else c for c in comp]
        kept = sorted({min(i for i in kept if comp[i] == c) for c in set(comp)})
        assert kept == [0, 1, 2]
    rewards = [
        (i, oracle.reward([v[i] for _, v in sliced], [lab for lab, _ in sliced]))
        for i in kept
    ]
    want = oracle.leap_filter(sorted(rewards, key=lambda t: -t[1]))
    assert want == {
        ("equal", False): [0, 3],
        ("equal", True): [0],
        ("different", False): [3],
        ("different", True): [2, 0],
    }[dup_values, cluster]
    assert len(out) == 1
    assert list(out[0]["explanation"]) == want
    assert out[0]["exp_size"] == len(want)


LABEL_CASES = {
    # label_row: (what it pins, ref_start, ref_end, ano_start, ano_end)
    0: ("overlaps label 1", 0, 50, 50, 70),
    1: ("overlaps label 0", 30, 80, 60, 90),
    2: ("reference and anomaly overlap", 95, 125, 115, 135),
    3: ("starts before the trace", -50, 20, 20, 40),
    4: ("ends after the trace", 140, 150, 150, 400),
    5: ("wholly after the trace", 500, 600, 600, 700),
    6: ("wholly before the trace", -300, -200, -200, -100),
}


@pytest.mark.parametrize("cluster", [False, True], ids=["flat", "cluster"])
def test_overlapping_and_out_of_range_labels_match_oracle(spark, cluster):
    """Label defects (ROADMAP defect class): every label row is sliced on
    its own, as the reference's per-label boolean masks do
    (utils/get_data.py:83-100).  Overlapping labels each explain their own
    rows, a row in both of one label's intervals is a row of both classes,
    a label reaching past either end of the trace explains the rows it
    covers, and a label wholly outside the trace has no result row.  C2
    pools every sliced row of every label, so the out-of-range labels add
    nothing to it.  Pinned against tests/oracle_pandas with clustering off
    and on."""
    rng = np.random.default_rng(13)
    feats = ["f_a", "f_b", "f_c", "f_twin"]
    n = 160
    cols = {f: rng.normal(0, 1, n) for f in feats[:3]}
    for f, (lo, hi) in (("f_b", (50, 70)), ("f_c", (60, 90)), ("f_a", (115, 135)),
                        ("f_b", (20, 40)), ("f_c", (150, 159))):
        cols[f][lo : hi + 1] += 4.0
    cols["f_twin"] = cols["f_a"] + rng.normal(0, 0.3, n)
    rows = [("L", t, *[float(cols[f][t]) for f in feats]) for t in range(n)]
    traces = spark.createDataFrame(
        rows, "trace_id string, timestamp long, " + ", ".join(f"{f} double" for f in feats)
    )
    labels = spark.createDataFrame(
        [(lr, "L", 10 + lr, "shift", r0, r1, a0, a1)
         for lr, (_, r0, r1, a0, a1) in LABEL_CASES.items()],
        "label_row int, trace_id string, ano_id int, ano_type string, "
        "ref_start long, ref_end long, ano_start long, ano_end long",
    )
    out = explain_anomalies(
        traces, labels, ExplainConfig(cluster=cluster, instability_runs=0)
    ).collect()
    got = {r["ano_id"] - 10: list(r["explanation"]) for r in out}
    assert {r["ano_key"] for r in out} == {f"shift_L_{lr}" for lr in got}

    sliced = {
        lr: [(cls, vals) for _, t, *vals in rows for cls, (lo, hi) in
             ((0, (r0, r1 - 1)), (1, (a0, a1))) if lo <= t <= hi]
        for lr, (_, r0, r1, a0, a1) in LABEL_CASES.items()
    }
    kept = list(range(len(feats)))
    if cluster:
        pooled = np.array([v for s in sliced.values() for _, v in s]).T
        corr = np.corrcoef(pooled)
        comp = list(range(len(feats)))
        for i in range(len(feats)):
            for j in range(i):
                if abs(corr[i][j]) > 0.6:
                    old, new = comp[i], comp[j]
                    comp = [new if c == old else c for c in comp]
        kept = sorted({min(i for i in kept if comp[i] == c) for c in set(comp)})
        assert kept == [0, 1, 2]
    want = {}
    for lr, s in sliced.items():
        classes = [cls for cls, _ in s]
        if 0 not in classes or 1 not in classes:
            continue
        rewards = [(i, oracle.reward([v[i] for _, v in s], classes)) for i in kept]
        want[lr] = oracle.leap_filter(sorted(rewards, key=lambda t: -t[1]))
    # labels 5 and 6 have no row; f_twin joins f_a's component with C2 on
    assert want == {
        0: [2, 1], 1: [2], 2: [0] if cluster else [0, 3], 3: [1], 4: [2],
    }
    assert got == want
