"""Analytical showcase queries — TPC-H-pattern plans over the testdata star
schema, plus multi-level grouping (cube / grouping sets) and higher-order
array functions.

The reference's only aggregation surface is SURVEY §2.1 rows 12-22; these
queries compose those same primitives at the shapes a warehouse user actually
runs (pricing summary, join-heavy revenue rollups, HAVING-gated join-backs),
proving the §2.2 "free from Spark" claim with oracle-gated evidence.

Float determinism: money aggregates are computed as EXACT decimal sums
(per-row values are 2-4 decimal digits by construction, so the decimal cast
is lossless), then cast to double and rounded at the query boundary —
summation order can't flip the hash (registry docstring).

Scale notes: every plan aggregates before joining where semantics allow;
broadcast HINTS go only on the fixed-cardinality dims (region 5 rows,
nation 25) — customer/orders/supplier scale with SF, so their join strategy
is left to Catalyst's size-based planning (broadcast while they fit,
shuffle join at warehouse scale); all expressions stay in whole-stage
codegen (no UDFs).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from exstream_implementation_spark.plans.registry import query
from exstream_implementation_spark.sources import load_table


# --- TPC-H Q1 pattern: full-scan pricing summary (§2.1 rows 12/21/22
#     composed; reference's only aggregates are per-interval counts/means,
#     e.g. explore_data.ipynb cell 13) ----------------------------------------
# catalog slot: tpch_suite below unions q1/q5/q18 canonicalized to one schema
# under one oracle; the three functions stay as the package API
_TPCH_Q1_DUCK = """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                         AS sum_qty,
           round(cast(sum(cast(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE), 2)
                                                             AS sum_base_price,
           round(cast(sum(cast(l_extendedprice AS DECIMAL(14,2))
                          * cast(1 - l_discount AS DECIMAL(5,2))) AS DOUBLE), 2)
                                                             AS sum_disc_price,
           round(avg(l_quantity), 4)                         AS avg_qty,
           round(avg(l_discount), 4)                         AS avg_disc,
           count(*)                                          AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """


def tpch_q1_pricing(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp")
    )
    price_dec = F.col("l_extendedprice").cast("decimal(14,2)")
    disc_dec = (F.lit(1) - F.col("l_discount")).cast("decimal(5,2)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum(price_dec).cast("double"), 2).alias("sum_base_price"),
        F.round(F.sum(price_dec * disc_dec).cast("double"), 2).alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


# --- TPC-H Q5 pattern: local-supplier revenue per nation (two broadcast dim
#     chains meeting on the fact table) ---------------------------------------
_TPCH_Q5_DUCK = """
    SELECT n_name,
           round(cast(sum(cast(l_extendedprice AS DECIMAL(14,2))
                          * cast(1 - l_discount AS DECIMAL(5,2))) AS DOUBLE), 2)
                                                             AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """


def tpch_q5_nation_revenue(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(5,2)")
    # broadcast HINTS only on the fixed-cardinality dims (nation 25 rows,
    # region 5); customer/orders/supplier scale with SF, so their join
    # strategy is left to Catalyst's size-based planning — broadcast while
    # small (as at test SFs), shuffle join at warehouse scale
    return (
        li.join(orders.join(cust, orders.o_custkey == cust.c_custkey),
                li.l_orderkey == F.col("o_orderkey"))
        .join(supp,
              (li.l_suppkey == supp.s_suppkey) & (F.col("c_nationkey") == supp.s_nationkey))
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue).cast("double"), 2).alias("revenue"))
    )


# --- TPC-H Q18 pattern: HAVING-gated join-back (large-quantity orders) -------
_TPCH_Q18_DUCK = """
    WITH big AS (
      SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
    )
    SELECT c_name, o_orderkey, o_orderdate, o_totalprice,
           round(total_qty, 2) AS total_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """


def tpch_q18_large_orders(spark, sf_dir):
    # aggregate FIRST, join after: the HAVING filter shrinks the fact-side
    # key set before any join, so the join-back input is tiny at any scale
    big = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    # customer scales with SF: no broadcast hint (see tpch_q5)
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name", "o_orderkey", "o_orderdate", "o_totalprice",
            F.round("total_qty", 2).alias("total_qty"),
        )
    )


# cube oracle (the `cube` branch of tpch_suite below; Spark side is the
# cube_agg function — all 4 grouping levels of (returnflag, linestatus) in
# one pass, §2.2 scope row "grouping sets/cube/rollup" + grouping_id)
_CUBE_DUCK = """
    SELECT coalesce(l_returnflag, '<all>') AS returnflag,
           coalesce(l_linestatus, '<all>') AS linestatus,
           grouping(l_returnflag) * 2 + grouping(l_linestatus) AS gid,
           count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """


# --- catalog suite: the three TPC-H patterns + the CUBE panel canonicalized
#     to one schema (branch, k1, k2, n, v1..v5) and unioned under one oracle —
#     each branch keeps its own independently-optimized plan (Q1 scan-agg,
#     Q5 broadcast dim chain, Q18 agg-before-join, cube one Expand pass); the
#     union itself is zero-shuffle.  Dates canonicalize to epoch seconds
#     (UTC-pinned session) so no cross-engine string formatting is in the
#     hash.  (cube folded in round 11 to bring agg_stats_suite /
#     temporal_join_suite inside the driver's 50-entry window.) ---------------
@query(
    "tpch_suite",
    oracle=f"""
    SELECT 'q1' AS branch, l_returnflag AS k1, l_linestatus AS k2,
           count_order AS n, sum_qty AS v1, sum_base_price AS v2,
           sum_disc_price AS v3, avg_qty AS v4, avg_disc AS v5
    FROM ({_TPCH_Q1_DUCK})
    UNION ALL
    SELECT 'q5' AS branch, n_name AS k1, '' AS k2, CAST(0 AS BIGINT) AS n,
           revenue AS v1, CAST(0.0 AS DOUBLE) AS v2, CAST(0.0 AS DOUBLE) AS v3,
           CAST(0.0 AS DOUBLE) AS v4, CAST(0.0 AS DOUBLE) AS v5
    FROM ({_TPCH_Q5_DUCK})
    UNION ALL
    SELECT 'q18' AS branch, c_name AS k1, CAST(o_orderkey AS VARCHAR) AS k2,
           CAST(floor(epoch(o_orderdate)) AS BIGINT) AS n,
           o_totalprice AS v1, total_qty AS v2, CAST(0.0 AS DOUBLE) AS v3,
           CAST(0.0 AS DOUBLE) AS v4, CAST(0.0 AS DOUBLE) AS v5
    FROM ({_TPCH_Q18_DUCK})
    UNION ALL
    SELECT 'cube' AS branch, returnflag AS k1, linestatus AS k2, n,
           sum_qty AS v1, CAST(gid AS DOUBLE) AS v2, CAST(0.0 AS DOUBLE) AS v3,
           CAST(0.0 AS DOUBLE) AS v4, CAST(0.0 AS DOUBLE) AS v5
    FROM ({_CUBE_DUCK})
    """,
)
def tpch_suite(spark, sf_dir):
    zero_d = F.lit(0.0).cast("double")
    q1 = tpch_q1_pricing(spark, sf_dir).select(
        F.lit("q1").alias("branch"),
        F.col("l_returnflag").alias("k1"),
        F.col("l_linestatus").alias("k2"),
        F.col("count_order").cast("long").alias("n"),
        F.col("sum_qty").alias("v1"),
        F.col("sum_base_price").alias("v2"),
        F.col("sum_disc_price").alias("v3"),
        F.col("avg_qty").alias("v4"),
        F.col("avg_disc").alias("v5"),
    )
    q5 = tpch_q5_nation_revenue(spark, sf_dir).select(
        F.lit("q5").alias("branch"),
        F.col("n_name").alias("k1"),
        F.lit("").alias("k2"),
        F.lit(0).cast("long").alias("n"),
        F.col("revenue").alias("v1"),
        zero_d.alias("v2"), zero_d.alias("v3"),
        zero_d.alias("v4"), zero_d.alias("v5"),
    )
    q18 = tpch_q18_large_orders(spark, sf_dir).select(
        F.lit("q18").alias("branch"),
        F.col("c_name").alias("k1"),
        F.col("o_orderkey").cast("string").alias("k2"),
        F.col("o_orderdate").cast("timestamp").cast("long").alias("n"),
        F.col("o_totalprice").alias("v1"),
        F.col("total_qty").alias("v2"),
        zero_d.alias("v3"), zero_d.alias("v4"), zero_d.alias("v5"),
    )
    cube = cube_agg(spark, sf_dir).select(
        F.lit("cube").alias("branch"),
        F.col("returnflag").alias("k1"),
        F.col("linestatus").alias("k2"),
        "n",
        F.col("sum_qty").alias("v1"),
        F.col("gid").cast("double").alias("v2"),
        zero_d.alias("v3"), zero_d.alias("v4"), zero_d.alias("v5"),
    )
    return q1.unionByName(q5).unionByName(q18).unionByName(cube)


# --- cube: all 4 grouping levels of (returnflag, linestatus) in one pass
#     (§2.2 scope row "grouping sets/cube/rollup" — rollup_agg covers rollup;
#     this covers cube + grouping_id).  Catalog slot merged into tpch_suite's
#     `cube` branch (round 11, oracle = _CUBE_DUCK above); the function stays
#     as package API + plan-shape test target. --------------------------------
def cube_agg(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("linestatus"),
            "gid", "n", "sum_qty",
        )
    )


# --- higher-order array functions: transform / filter / aggregate over a
#     per-order quantity vector (Spark lambda exprs ⇄ DuckDB list lambdas);
#     the reference's array surface is only len()/indexing
#     (reference script_1.py:110-115,171) -------------------------------------
@query(
    "array_higher_order",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey,
             list(l_quantity ORDER BY l_linenumber) AS qtys
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           len(qtys) AS n_lines,
           round(list_sum(list_transform(qtys, q -> q * 2)), 2) AS doubled_sum,
           len(list_filter(qtys, q -> q > 25)) AS n_heavy,
           round(list_max(qtys), 2) AS max_qty
    FROM per_order
    WHERE l_orderkey % 100 = 7
    """,
)
def array_higher_order(spark, sf_dir):
    per_order = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 100 == 7)
        .groupBy("l_orderkey")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("l_linenumber", "l_quantity"))
            ).alias("_s")
        )
        .select("l_orderkey", F.col("_s.l_quantity").alias("qtys"))
    )
    return per_order.select(
        "l_orderkey",
        F.size("qtys").alias("n_lines"),
        F.round(
            F.aggregate(
                F.transform("qtys", lambda q: q * 2),
                F.lit(0.0),
                lambda acc, q: acc + q,
            ),
            2,
        ).alias("doubled_sum"),
        F.size(F.filter("qtys", lambda q: q > 25)).alias("n_heavy"),
        F.round(F.array_max("qtys"), 2).alias("max_qty"),
    )


# --- approximate aggregates (HLL++ distinct, GK percentile sketch): the
#     estimates themselves are engine-specific, so the oracle-gated contract
#     is the ERROR BOUND, not the raw value — the query emits the estimate/
#     exact ratio (resp. the exact percent-rank of the approximate median)
#     rounded to one decimal, which hash-matches the oracle's constant iff
#     the sketch stayed within ±5% — a real cross-engine assertion, honest
#     about approximation. At 100 TB these sketches are the only viable
#     distinct/percentile path (fixed memory, one pass, mergeable). ----------
@query(
    "approx_aggs",
    oracle="""
    SELECT count(DISTINCT user_id) AS exact_n,
           CAST(1.0 AS DOUBLE) AS adc_ratio,
           CAST(0.5 AS DOUBLE) AS amed_rank
    FROM events
    """,
)
def approx_aggs(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    # the exact count_distinct must NOT share an Aggregate with the sketch
    # aggs: one distinct agg among non-distinct ones triggers the planner's
    # distinct-rewrite (Expand doubles every input row and the sketch
    # buffers ride the expanded stream) — measured 3.3 s vs 0.9 s for the
    # same three results computed as two 1-row aggregates cross-joined
    est_sketch = ev.agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("adc"),
        F.expr("approx_percentile(value, 0.5, 10000)").alias("amed"),
    )
    est = est_sketch.crossJoin(
        ev.agg(F.count_distinct("user_id").alias("exact_n"))
    )
    return (
        ev.join(F.broadcast(est))
        .agg(
            F.first("exact_n").alias("exact_n"),
            F.round(F.first("adc") / F.first("exact_n"), 1).alias("adc_ratio"),
            F.round(
                F.count(F.when(F.col("value") <= F.col("amed"), 1))
                / F.count(F.lit(1)),
                1,
            ).alias("amed_rank"),
        )
    )
