"""Physical-plan shape guards — the scale contract.

Correct rows at sf0.01 say nothing about 100 TB; these tests pin the plan
properties that make the catalog survive a 1000-executor scale-up:
parquet filter pushdown + column pruning, broadcast joins for dimensions,
distributed top-k (TakeOrderedAndProject), and the absence of
single-partition window exchanges in the hot paths.
"""

import re

import pytest
from pyspark.sql import functions as F

from exstream_implementation_spark.plans import QUERIES
from exstream_implementation_spark.plans import relational as rel
from exstream_implementation_spark.plans import similarity as sim
from exstream_implementation_spark.plans import windows as winq

SF_DIR = "/root/testdata/sf0.01"

# unregistered building-block queries keep their plan contracts
_EXTRA = {
    "asof_join_events": rel.asof_join_events,
    "interval_join_binned": rel.interval_join_binned,
    "ann_topk_cosine": sim.ann_topk_cosine,
    "events_tumbling_window": winq.events_tumbling_window,
}


def q(name):
    return QUERIES.get(name) or _EXTRA[name]


def plan_str(df, mode="formatted"):
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        mode
    )
    return df._jdf.queryExecution().explainString(jmode)


def test_scan_project_pushdown_and_pruning(spark):
    plan = plan_str(QUERIES["scan_project"](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)" in plan
    # column pruning: the scan schema must not include unprojected columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_comment" not in read_schema and "l_shipdate" not in read_schema


def test_filter_range_pushdown(spark):
    # the suite's range branch filters the RAW ts column with typed
    # timestamp_ntz literals, so the predicate reaches the parquet scan
    plan = plan_str(QUERIES["filter_union_suite"](spark, SF_DIR))
    assert "PushedFilters" in plan and "GreaterThanOrEqual(ts" in plan


def test_dimension_joins_are_broadcast(spark):
    plan = plan_str(QUERIES["join_broadcast_dims"](spark, SF_DIR), mode="simple")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_topk_is_take_ordered_not_global_window(spark):
    plan = plan_str(QUERIES["sort_rank_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_no_single_partition_window_in_catalog_hot_paths(spark):
    """No query over a fact table may plan `Exchange SinglePartition` feeding
    a Window — the one-partition sort that breaks at scale.  (Scalar-aggregate
    single partitions over already-reduced data are fine.)"""
    for name in ["scan_project", "pivot_wide",
                 "positional_join", "sort_rank_topk", "dedup_minhash_lsh",
                 "ann_topk_cosine", "text_metrics_suite", "events_tumbling_window",
                 "filter_union_suite", "window_fn_suite", "agg_stats_suite",
                 "temporal_join_suite", "dedup_simhash_pairs"]:
        plan = plan_str(q(name)(spark, SF_DIR), mode="simple")
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if "Window" in line and "windowed" not in line:
                below = "\n".join(lines[i : i + 6])
                assert "SinglePartition" not in below, (name, below)


def test_groupby_has_partial_aggregation(spark):
    # map-side combine: two aggregate levels around one exchange (the
    # percentile buffers make them ObjectHashAggregate), partials below it
    plan = plan_str(QUERIES["agg_stats_suite"](spark, SF_DIR), mode="simple")
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1
    assert plan.index("Exchange") < plan.index("partial_count(1)")


def test_exstream_rewards_windows_are_keyed(spark):
    """The C6/C7 reward computation must partition every window by
    (ano_key, feature_order) — never a global sort, and never by the
    feature name string.  (The catalog's single-anomaly
    query constant-folds ano_key to one partition, so build a genuine
    multi-anomaly melted frame here.)"""
    from exstream_implementation_spark.operators.rewards import (
        single_feature_rewards,
    )

    rows = [
        (f"ano_{a}", td, t, f"f{i}", i, float((a + 1) * (i + 1) * t % 7))
        for a in range(3)
        for td in (0, 1)
        for t in range(5)
        for i in range(4)
    ]
    melted = spark.createDataFrame(
        rows,
        "ano_key string, type_data int, timestamp long, feature string, "
        "feature_order int, value double",
    )
    plan = plan_str(
        single_feature_rewards(melted, [f"f{i}" for i in range(4)]),
        mode="simple",
    )
    assert "SinglePartition" not in plan
    assert re.search(r"hashpartitioning\(ano_key#\d+, feature_order#\d+", plan)


def test_global_row_number_stays_distributed(spark):
    from exstream_implementation_spark.operators.ranking import global_row_number

    df = global_row_number(
        spark.read.parquet(f"{SF_DIR}/orders.parquet"),
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
    )
    plan = plan_str(df, mode="simple")
    assert "SinglePartition" not in plan
    assert "rangepartitioning" in plan


def test_ranks_are_consecutive_and_ordered(spark):
    from exstream_implementation_spark.operators.ranking import global_row_number

    df = global_row_number(
        spark.read.parquet(f"{SF_DIR}/supplier.parquet"),
        [F.desc("s_acctbal"), F.asc("s_suppkey")],
    )
    rows = df.orderBy("rn").collect()
    assert [r["rn"] for r in rows] == list(range(1, len(rows) + 1))
    bals = [r["s_acctbal"] for r in rows]
    assert bals == sorted(bals, reverse=True)


def test_salted_agg_two_phase_shape(spark):
    # hot-key spreading: exchange on (key, salt) then on key — both hash, no
    # single giant reducer per hot key
    plan = plan_str(QUERIES["groupby_salted_skew"](spark, SF_DIR), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "l_returnflag, __salt" in plan.replace("#", " ").replace("L", "") or \
        "__salt" in plan


def test_connected_components_hand_graph(spark):
    from exstream_implementation_spark.operators.components import (
        connected_components,
    )

    # two chains and a singleton edge: {1,2,3,4} via 1-2,2-3,3-4; {10,11}; {7,8}
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (10, 11), (8, 7)], "src long, dst long"
    )
    got = {
        r["vertex"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 7: 7, 8: 7}


def test_connected_components_chain_converges_in_log_rounds(spark):
    """A 64-vertex chain has diameter 63; pointer jumping must converge the
    distributed path in ~log2(63) rounds, where plain HashMin would need 63
    and silently truncate at any fixed cap."""
    from exstream_implementation_spark.operators.components import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "src long, dst long"
    )
    got = {
        r["vertex"]: r["component"]
        for r in connected_components(
            chain, max_iter=10, small_graph_edges=0
        ).collect()
    }
    assert got == {v: 0 for v in range(64)}


def test_connected_components_raises_instead_of_wrong_labels(spark):
    """Exhausting max_iter before convergence must raise, never return
    partially-propagated labels (which would split duplicate clusters)."""
    from exstream_implementation_spark.operators.components import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2, small_graph_edges=0)


def test_asof_join_is_single_shuffle_not_range_join(spark):
    # the as-of join must plan as union + keyed window (one Exchange on the
    # key), never a range/theta join that explodes pairs
    plan = plan_str(q("asof_join_events")(spark, SF_DIR), mode="simple")
    assert "Join" not in plan  # no join node at all — union + window instead
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan


def test_tpch_q5_all_dims_broadcast(spark):
    """At test SF, Catalyst's size-based planning must broadcast every Q5
    join side onto the lineitem fact (the sides are file-stat-small) WITHOUT
    hints on the SF-scaling relations — only fixed-cardinality nation/region
    carry a hint, so at 100 TB the customer/orders/supplier joins degrade to
    shuffle joins instead of a forced-broadcast OOM."""
    from exstream_implementation_spark.plans.analytics import tpch_q5_nation_revenue

    plan = plan_str(tpch_q5_nation_revenue(spark, SF_DIR), mode="simple")
    assert plan.count("BroadcastHashJoin") == 5
    assert "SortMergeJoin" not in plan
    # the hint set is exactly {nation, region}: the ANALYZED plan (hints are
    # folded into Join nodes by the optimizer, so the optimized plan never
    # shows ResolvedHint) must carry no hint on the SF-scaling sides
    ana = tpch_q5_nation_revenue(spark, SF_DIR)._jdf.queryExecution().analyzed().toString()
    assert ana.count("ResolvedHint") == 2, ana.count("ResolvedHint")


def test_tpch_q1_pushdown(spark):
    from exstream_implementation_spark.plans.analytics import tpch_q1_pricing

    plan = plan_str(tpch_q1_pricing(spark, SF_DIR))
    assert "PushedFilters" in plan and "LessThanOrEqual(l_shipdate" in plan


def test_tpch_q18_aggregates_before_join(spark):
    """The HAVING aggregate must sit BELOW the join-back (aggregate-then-join,
    not join-then-aggregate)."""
    from exstream_implementation_spark.plans.analytics import tpch_q18_large_orders

    plan = plan_str(tpch_q18_large_orders(spark, SF_DIR), mode="simple")
    join_at = plan.index("Join")
    agg_at = plan.rindex("HashAggregate")
    assert agg_at > join_at  # deeper in the tree = printed later


def test_cube_single_expand_pass(spark):
    # CUBE = one Expand node feeding one aggregation, not 4 unioned scans
    # (cube_agg is the `cube` branch of the tpch_suite catalog entry)
    from exstream_implementation_spark.plans.analytics import cube_agg

    plan = plan_str(cube_agg(spark, SF_DIR), mode="simple")
    assert plan.count("Expand") == 1
    assert "Union" not in plan


def test_interval_join_binned_is_hash_join(spark):
    """The binned range join must plan as an equality join (hash/SMJ on
    (user, bucket)) — never BroadcastNestedLoopJoin or CartesianProduct."""
    plan = plan_str(q("interval_join_binned")(spark, SF_DIR), mode="simple")
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan  # AQE may broadcast the small side at sf0.01
    )


def test_simhash_pairs_band_blocked_no_cartesian(spark):
    """The simhash pairing must come from the band equi-join — a cartesian or
    nested-loop self-join is the all-pairs shape that dies at 100 TB."""
    plan = plan_str(QUERIES["dedup_simhash_pairs"](spark, SF_DIR), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_emb_neardup_is_lsh_blocked_not_label_blocked(spark):
    """The oracle-gated embedding near-dup must draw candidates from the LSH
    (table, bucket) equi-join.  A label-only self-join is all-pairs-within-
    label — with O(10) distinct labels that is n²/10, a quadratic join hiding
    behind a key that doesn't grow with the data."""
    assert "emb_neardup_lsh" in QUERIES
    assert "emb_neardup_cosine" not in QUERIES  # demoted to test baseline
    plan = plan_str(QUERIES["emb_neardup_lsh"](spark, SF_DIR), mode="simple")
    assert "CartesianProduct" not in plan
    # the only admissible nested loops are the unconditioned crosses against
    # the broadcast constant-size hyperplane-weights table; a nested loop
    # carrying a vec_id condition is the all-pairs self-join shape
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "vec_id" not in line, line
    # candidate join keys must include the bucket, never the label
    assert "bucket" in plan and "label" not in plan


def test_ngram_jaccard_candidates_are_capped_equi_join(spark):
    """Candidate generation must be an equality join on the (frequency-capped)
    shingle — never cartesian; the cap's anti-join must be a broadcast."""
    plan = plan_str(QUERIES["dedup_ngram_jaccard"](spark, SF_DIR), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_unpartitioned_windows_sit_above_limit(spark):
    """Any Window.orderBy() with no partitionBy plans Exchange SinglePartition;
    that is only admissible when a LIMIT (GlobalLimit/TakeOrdered) has already
    bounded the input.  Guard the catalog so a refactor can't un-bound one."""
    import re as _re

    for name, fn in QUERIES.items():
        if name in ("exstream_explain_det", "corpus_curation"):
            continue  # long pipelines checked via their own guards above
        plan = plan_str(fn(spark, SF_DIR), mode="simple")
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if "Exchange SinglePartition" not in line:
                continue
            below = "\n".join(lines[i:])
            # admissible: feeding a scalar aggregate (no Window downstream of
            # this exchange) or bounded by a limit before the exchange
            has_window_below = "Window" in below
            bounded = any(
                ("GlobalLimit" in l) or ("TakeOrderedAndProject" in l)
                or ("LocalLimit" in l)
                for l in lines[i:]
            )
            # a SinglePartition whose input is already an aggregate output
            # carries per-group rows (feature counts, reward tables), not
            # fact data — that is the reference's own tiny-ranking shape
            reduced = any(
                "HashAggregate" in l or "ObjectHashAggregate" in l
                or "SortAggregate" in l
                for l in lines[i : i + 4]
            )
            if has_window_below:
                assert bounded or reduced, (name, "\n".join(lines[i : i + 8]))


def test_global_lag_matches_single_partition_window(spark):
    """global_lag (range-partitioned lag + boundary stitch) must reproduce
    the single-partition Window lag exactly, on non-trivially partitioned
    data, without planning a SinglePartition exchange."""
    from pyspark.sql import Window

    from exstream_implementation_spark.operators.ranking import global_lag

    df = spark.range(0, 1000).select(
        (F.col("id") * 37 % 1000).alias("k"),
        (F.col("id") % 13).cast("double").alias("v"),
    )
    got = global_lag(
        df, [F.asc("k")], "v", rn_col="rn", lag_col="prev", num_partitions=7
    )
    w = Window.orderBy("k")
    want = df.select(
        "k", "v",
        F.row_number().over(w).alias("rn"),
        F.lag("v").over(w).alias("prev"),
    )
    assert rows_sorted(got) == rows_sorted(want)
    plan = plan_str(got, mode="simple")
    assert "SinglePartition" not in plan


def rows_sorted(df):
    return sorted(
        tuple(r) for r in df.select("k", "v", "rn", "prev").collect()
    )


def test_no_canon_hostile_output_types_in_catalog(spark):
    """The grading harness canonicalizes results with pandas: array/map cells
    are unhashable in its sort, binary renders inconsistently, and DATE
    becomes datetime.date objects on the Spark side but datetime64 on the
    DuckDB side.  No registered query may emit any of them (schema-only
    check — no execution)."""
    banned = ("array", "map", "binary", "date")
    for name, fn in QUERIES.items():
        schema = fn(spark, SF_DIR).schema
        for f in schema.fields:
            t = f.dataType.simpleString()
            assert not any(t.startswith(b) for b in banned), (
                f"{name}.{f.name} has canon-hostile type {t}"
            )


def test_connected_components_strategies_agree(spark):
    """The adaptive small-graph union-find and the distributed min-label
    propagation must produce the identical labeling."""
    from exstream_implementation_spark.operators.components import (
        connected_components,
    )

    import random

    random.seed(3)
    edges = [(random.randrange(200), random.randrange(200)) for _ in range(150)]
    df = spark.createDataFrame(edges, "src long, dst long")
    small = {
        (r["vertex"], r["component"])
        for r in connected_components(df).collect()
    }
    dist = {
        (r["vertex"], r["component"])
        for r in connected_components(df, small_graph_edges=0).collect()
    }
    assert small == dist and small


def test_global_lag_preserves_mid_partition_nulls(spark):
    """A NULL value mid-partition must surface as the NEXT row's lag (Window
    semantics) — the boundary stitch may only fire on partition-first rows."""
    from pyspark.sql import Window

    from exstream_implementation_spark.operators.ranking import global_lag

    rows = [(k, None if k % 5 == 2 else float(k)) for k in range(40)]
    df = spark.createDataFrame(rows, "k int, v double")
    got = {
        r["k"]: r["prev"]
        for r in global_lag(df, [F.asc("k")], "v", num_partitions=4).collect()
    }
    w = Window.orderBy("k")
    want = {
        r["k"]: r["prev"]
        for r in df.select(
            "k", F.lag("v").over(w).alias("prev")
        ).collect()
    }
    assert got == want


def test_sample_source_mix_fuses_into_scan(spark):
    """The mix sampler must be a single codegen filter over a pruned scan —
    no shuffle, no Python eval, only (doc_id, source) read."""
    plan = plan_str(QUERIES["sample_source_mix"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema


def test_text_pii_redact_stays_jvm_side_in_catalog(spark):
    plan = plan_str(QUERIES["text_pii_redact"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semdedup_pair_join_is_cell_equi_join(spark):
    """The within-cell pair generation must be an equi-join on cell; the only
    nested-loop join allowed is the bounded broadcast of the √n centroid
    list in the IVF assignment."""
    plan = plan_str(QUERIES["semdedup_prune"](spark, SF_DIR), mode="simple")
    assert "CartesianProduct" not in plan
    joins = [l for l in plan.splitlines() if "Join cell" in l or "Join [cell" in l]
    assert not any("NestedLoop" in l for l in joins)


def test_corpus_decontaminate_benchmark_side_broadcasts(spark):
    """The benchmark gram set must end up the broadcast side of the hits
    join — there is deliberately no broadcast HINT (an oversized benchmark
    must degrade to a shuffle join), so the conversion comes from AQE's
    runtime size stats and is asserted on the FINAL adaptive plan."""
    df = QUERIES["corpus_decontaminate"](spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final


def test_global_row_number_consecutive_on_heavy_ties(spark):
    """Regression: repartitionByRange SAMPLES for boundaries, so the sizes
    job and the output job could land on different partitionings when the
    plan recomputes — colliding row numbers (observed at 15k rows).  The
    operator must emit exactly 1..n with no duplicates on a tie-heavy input
    large enough to engage boundary sampling."""
    from exstream_implementation_spark.operators.ranking import global_row_number

    n = 20_000
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),  # heavy ties on the sort key
    )
    out = global_row_number(df, [F.desc("v"), F.asc("k")], num_partitions=16)
    got = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("rn").alias("n_rn"),
        F.min("rn").alias("mn"),
        F.max("rn").alias("mx"),
    ).first()
    assert (got["n"], got["n_rn"], got["mn"], got["mx"]) == (n, n, 1, n)


def test_plan_audit_markers_and_rules(spark):
    """Pin tools/plan_audit.py's formatted-explain parser: marker extraction
    (joins, exchanges, pushdown) and both hard rules — the bounded-BNLJ
    allowlist and the aggregate-merge SinglePartition recognizer — on three
    cheap queries whose plan shapes the suite already guards."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools")
    )
    try:
        from plan_audit import BNLJ_ALLOW, _explain, _markers
    finally:
        sys.path.pop(0)

    # dimension-chain join: broadcasts present, no BNLJ, scans pushed
    m = _markers(_explain(QUERIES["join_broadcast_dims"](spark, SF_DIR)))
    assert m["bhj"] >= 2 and m["bnlj"] == 0 and m["cartesian"] == 0
    assert m["pushed_nonempty"] >= 1
    # 1-row scalar cross-join: BNLJ present AND allowlisted
    m = _markers(_explain(QUERIES["approx_aggs"](spark, SF_DIR)))
    assert m["bnlj"] >= 1 and "approx_aggs" in BNLJ_ALLOW
    # every SinglePartition exchange must be a global-agg merge step
    # (sp_unbounded == 0), here and in the scan+agg query
    assert m["sp_unbounded"] == 0
    m = _markers(_explain(QUERIES["agg_stats_suite"](spark, SF_DIR)))
    assert m["sp_unbounded"] == 0 and m["cartesian"] == 0


def test_global_lag_null_at_partition_boundary(spark):
    """A NULL as a partition's LAST value must stitch into the next
    partition's first-row lag as NULL (the max_by single-job stats fetch
    struct-wraps the value so an aggregate's null handling cannot skip the
    true last row)."""
    from pyspark.sql import Window

    from exstream_implementation_spark.operators.ranking import global_lag

    # nulls blanket every plausible range boundary for 4 partitions of 0..39
    null_ks = {9, 10, 11, 19, 20, 21, 29, 30, 31}
    rows = [(k, None if k in null_ks else float(k)) for k in range(40)]
    df = spark.createDataFrame(rows, "k int, v double")
    got = {
        r["k"]: r["prev"]
        for r in global_lag(df, [F.asc("k")], "v", num_partitions=4).collect()
    }
    w = Window.orderBy("k")
    want = {
        r["k"]: r["prev"]
        for r in df.select("k", F.lag("v").over(w).alias("prev")).collect()
    }
    assert got == want
