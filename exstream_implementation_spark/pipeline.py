"""Full EXstream pipeline — reference script_1.py:118-254 re-expressed as one
lazy Spark plan.

Stages (reference driver at script_1.py:118-184):
  slice (C1) → correlation filter (C2) → per-anomaly FP filter (C3) →
  entropy rewards (C4-C7) → leap filter (C8) → explanation assembly →
  instability (C9).

Spark-first wins over the reference's 6× eager recomputation
(reference script_1.py:227-238):
  * the sliced table is computed once and cached; the main run and the 5
    instability samples are an EXPLODED ``run_id`` dimension over it, so
    rewards/leap for all six runs execute as ONE shuffle keyed
    (run_id, ano_key, feature) — not six sequential pipelines, and the
    sliced subtree appears once in the plan;
  * sampling is deterministic Bernoulli p=0.8 via xxhash64 per (row, run)
    (the reference's pandas ``sample(frac=0.8)`` draws exactly-80% without
    replacement and reruns eagerly — statistically equivalent, and FIXTURES
    §4 notes instability is only statistically comparable across engines
    anyway);
  * (run, anomaly) groups that lose an entire class to sampling are dropped
    (the reference would raise ValueError,
    reference exstream/entropy_based_single_reward_feature.py:30-34).

Explanation integer indices: the reference maps feature names to positions in
the sliced frame's column order (reference script_1.py:110-115); features
precede metadata there, so the index is exactly our ``feature_order``.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, functions as F

from exstream_implementation_spark.cache import tracked_persist
from exstream_implementation_spark.canon import md5_hex_threshold
from exstream_implementation_spark.operators.correlation import (
    correlated_features_filter,
)
from exstream_implementation_spark.operators.fp_filter import false_positive_filter
from exstream_implementation_spark.operators.leap import (
    assemble_explanations,
    reward_leap_filter,
)
from exstream_implementation_spark.operators.rewards import single_feature_rewards
from exstream_implementation_spark.operators.slicing import (
    melt_features,
    slice_intervals,
)
from exstream_implementation_spark.schemas import feature_columns
from exstream_implementation_spark.session import local_frame


@dataclass
class ExplainConfig:
    cluster: bool = False
    correlation_threshold: float = 0.6
    false_positive_filtering: bool = False
    max_distance: float = 40.0
    instability_runs: int = 5
    sample_fraction: float = 0.8
    duplicate_mode: str = "sorted"  # reference-exact; "worst_case" = paper mode
    seed: int = 42
    # round rewards to N decimals before ranking/leap (cross-engine float
    # determinism boundary); None = full precision
    reward_round: int | None = None
    # instability-sample selector: 'xxhash64' (production — one 64-bit JVM
    # hash per row) or 'md5' (bit-identical across engines, so the sampled
    # runs — and therefore the instability metric — are oracle-reproducible
    # in DuckDB; same trade as plans.dedup.sample_mix)
    sample_method: str = "xxhash64"
    # cache scope for the sliced table: "query" (default — released when the
    # next catalog query starts) or "session" (shared across queries via
    # CacheManager plan-matching, like the melted-events relation).  The
    # flagship family passes "session": its slice is O(anomalies × buckets)
    # — bounded — and identical across exstream_explain/_det/entry/bench, so
    # a long-lived session slices once instead of once per call.  Leave
    # "query" for arbitrary user traces, where pinning a full labeled slice
    # for the session's lifetime is a memory-pressure trade the caller must
    # opt into.
    slice_cache_scope: str = "query"


def _explanations_for(
    melted: DataFrame,
    cfg: ExplainConfig,
    keys: tuple[str, ...],
    feature_names: list[str],
) -> DataFrame:
    """rewards → leap → assembly, all partitioned by *keys (run_id, ano_key):
    the operators take the composite key natively, so the six instability runs
    ride the same shuffles as the main run.  Rewards key on the int
    ``feature_order`` and map it back to the name from ``feature_names`` (the
    melt's column list) after aggregation, so no melted exchange carries the
    feature STRING (guide §2.3)."""
    rewards = single_feature_rewards(
        melted, feature_names, cfg.duplicate_mode, cfg.reward_round, keys=keys
    )
    kept = reward_leap_filter(rewards, keys=keys)
    return assemble_explanations(kept, keys=keys)


def explain_anomalies(
    traces: DataFrame, labels: DataFrame, cfg: ExplainConfig | None = None
) -> DataFrame:
    """→ (trace_id, ano_id, ano_key, explanation array<int>, exp_size,
    exp_instability) — the reference's result schema (FIXTURES §4) plus the
    engine's explicit ano_key."""
    cfg = cfg or ExplainConfig()
    features = feature_columns(traces.columns)

    sliced = slice_intervals(traces, labels).transform(
        lambda df: tracked_persist(df, scope=cfg.slice_cache_scope)
    )

    # run 0 = main; runs 1..k = instability samples (reference
    # script_1.py:227-238).  One exploded run dimension over the cached slice
    # — NOT a 6-way union: the sliced subtree appears once in the plan (6×
    # smaller analysis/codegen) and the scan executes once.  Sampling is
    # deterministic Bernoulli via xxhash64(row key, run) — statistically
    # equivalent to the reference's pandas sample(frac) (FIXTURES §4:
    # instability is only statistically comparable across engines).
    n_runs = cfg.instability_runs
    if cfg.sample_method == "xxhash64":
        keep_sql = (
            f"pmod(xxhash64(ano_key, timestamp, run_id + {int(cfg.seed)}),"
            f" 1000000) < {int(cfg.sample_fraction * 1_000_000)}"
        )
    elif cfg.sample_method == "md5":
        # first 6 md5 hex chars of "ano_key:timestamp:(run+seed)" compared to
        # the fixed-width hex cutoff — md5 hex is bit-identical in DuckDB
        # (md5(x || ':' || CAST(bucket AS VARCHAR) || ...)), making every
        # sampled run reproducible by the oracle SQL
        keep_sql = (
            f"substring(md5(concat_ws(':', ano_key, timestamp,"
            f" run_id + {int(cfg.seed)})), 1, 6)"
            f" < '{md5_hex_threshold(cfg.sample_fraction)}'"
        )
    else:
        raise ValueError(f"unknown sample_method {cfg.sample_method!r}")
    all_runs = sliced.selectExpr(
        "*", f"explode(sequence(0, {int(n_runs)})) AS run_id"
    ).filter(f"run_id = 0 OR ({keep_sql})")

    # C2 per run (the reference re-clusters on each sample): driver loop over
    # tiny d×d matrices; skipped entirely when cluster=False.
    if cfg.cluster:
        per_run_feats = {}
        for i in range(cfg.instability_runs + 1):
            src = sliced if i == 0 else all_runs.filter(F.col("run_id") == i)
            per_run_feats[i] = correlated_features_filter(
                src, features, cfg.correlation_threshold
            )
        surv_rows = [
            (i, f) for i, feats in per_run_feats.items() for f in feats
        ]
        surv = F.broadcast(
            local_frame(
                sliced.sparkSession, surv_rows, "run_id int, feature string"
            )
        )
    else:
        surv = None

    # drop (run, key) groups that lost a class to sampling — computed on the
    # WIDE table (rows/|features| of the melted size) and applied as a tiny
    # broadcast join, not a window over the melted table (saves a full-width
    # shuffle; a (run, ano_key) pair list is O(runs × anomalies) ≪ data).
    valid = (
        all_runs.groupBy("run_id", "ano_key")
        .agg(F.max("type_data").alias("_mx"), F.min("type_data").alias("_mn"))
        .filter((F.col("_mx") == 1) & (F.col("_mn") == 0))
        .select("run_id", "ano_key")
    )
    all_runs = all_runs.join(F.broadcast(valid), ["run_id", "ano_key"], "inner")

    melted = melt_features(all_runs, features, extra_cols=("run_id",))
    if surv is not None:
        melted = melted.join(surv, ["run_id", "feature"], "inner")

    # C3 per run: each run pools only its own sampled references (the
    # reference re-runs the whole pipeline per sample, script_1.py:227-238)
    if cfg.false_positive_filtering:
        fp = false_positive_filter(melted, cfg.max_distance, keys=("run_id",))
        fp_kept = fp.filter(F.col("kept")).select("run_id", "ano_key", "feature")
        melted = melted.join(
            F.broadcast(fp_kept), ["run_id", "ano_key", "feature"], "inner"
        )

    expl = _explanations_for(
        melted, cfg, keys=("run_id", "ano_key"), feature_names=features
    ).transform(tracked_persist)

    # main explanation (run 0) + C9 instability in ONE groupBy over the
    # cached expl relation (one row per (run, anomaly) — tiny).  The older
    # form ran three plan branches (main filter; explode → two chained
    # groupBys for the frequency entropy; a main⋈inst join): 2 extra
    # exchanges + a join stage per explain call for data that fits one
    # aggregation.  C9 (reference script_1.py:187-205, log base 2):
    # H = -Σ p·log2 p = log2(T) - (Σ c·log2 c)/T over the per-feature
    # explanation frequencies c across the sample runs — computed here from
    # the flattened feature_orders of runs 1..k via array higher-order
    # functions (counts are per feature_order, a bijection of feature names
    # within one trace, so the frequencies are identical).
    fused = expl.groupBy("ano_key").agg(
        F.first(
            F.when(F.col("run_id") == 0, F.col("feature_orders")),
            ignorenulls=True,
        ).alias("explanation"),
        F.flatten(
            F.collect_list(F.when(F.col("run_id") > 0, F.col("feature_orders")))
        ).alias("_all"),
    )
    inst_expr = F.expr(
        """CASE WHEN size(_all) > 0 THEN
             log2(size(_all)) -
             aggregate(
               transform(array_distinct(_all),
                         f -> cast(size(filter(_all, x -> x = f)) AS DOUBLE)
                              * log2(size(filter(_all, x -> x = f)))),
               0D, (a, c) -> a + c) / size(_all)
           END"""
    )
    main = fused.filter(F.col("explanation").isNotNull()).select(
        "ano_key",
        "explanation",
        F.size("explanation").alias("exp_size"),
        inst_expr.alias("exp_instability"),
    )

    lbl = labels.select(
        "trace_id",
        "ano_id",
        F.concat_ws("_", "ano_type", "trace_id", "label_row").alias("ano_key"),
    )
    return main.join(F.broadcast(lbl), "ano_key", "inner").select(
        "trace_id", "ano_id", "ano_key", "explanation", "exp_size",
        "exp_instability",
    )


def run_config_grid(
    traces: DataFrame,
    labels: DataFrame,
    out_dir: str | None = None,
    fmt: str = "parquet",
    base: ExplainConfig | None = None,
) -> dict[str, DataFrame]:
    """Reference driver parity (reference script_1.py:257-328): run the
    pipeline in the 2×2 grid {correlation clustering on/off} × {FP filtering
    on/off}; optionally sink each result table.

    Result keys mirror the reference's four output files:
    ``explanations`` (plain), ``explanations_cluster``, ``explanations_fpf``,
    ``explanations_cluster_fpf``. All four share the one cached slice — the
    reference re-slices the CSVs for every config.
    """
    from exstream_implementation_spark.sources import write_results

    base = base or ExplainConfig()
    grid = {
        "explanations": (False, False),
        "explanations_cluster": (True, False),
        "explanations_fpf": (False, True),
        "explanations_cluster_fpf": (True, True),
    }
    out: dict[str, DataFrame] = {}
    for name, (cluster, fpf) in grid.items():
        cfg = replace(base, cluster=cluster, false_positive_filtering=fpf)
        df = explain_anomalies(traces, labels, cfg)
        out[name] = df
        if out_dir is not None:
            write_results(df, f"{out_dir}/{name}", fmt=fmt)
    return out
