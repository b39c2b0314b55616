"""SURVEY §2.1 relational operator catalog over the TPC-H-ish testdata.

Each query is the declared Spark mapping of one (or more) §2.1 rows, with a
DuckDB oracle. Citations point at the reference behavior each row abstracts.

Scale notes common to all: filters/projections sit directly on the parquet
scan (Catalyst pushes them down — verified via .explain in tests), small
dimension tables are broadcast, aggregations are partial (map-side combine)
by construction, and no query collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from exstream_implementation_spark.plans.registry import query
from exstream_implementation_spark.sources import load_table


# --- §2.1 #1 scan + #6 projection + #7 drop + #8 derived/literal columns
#     (reference utils/get_data.py:77-79, script_1.py:54-55,167,240-241) ------
@query(
    "scan_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
           l_returnflag || '_' || CAST(l_linestatus AS VARCHAR) AS flag_key,
           'batch42' AS source_tag,
           cast(round(cast(l_extendedprice AS DECIMAL(14,2))
                      * cast(1 - l_discount AS DECIMAL(5,2)), 2) AS DOUBLE)
             AS net_price
    FROM lineitem WHERE l_quantity > 45.0
    """,
)
def scan_project(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    # .drop() exercises §2.1 #7; the remaining projection+filter still push
    # into the parquet scan (plan-guard tested)
    li = li.drop("l_partkey", "l_suppkey", "l_shipdate")
    return (
        li.filter(F.col("l_quantity") > 45.0)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            F.concat_ws("_", "l_returnflag", "l_linestatus").alias("flag_key"),
            F.lit("batch42").alias("source_tag"),
            # round the EXACT decimal product, then cast: rounding after the
            # double cast hits .xx5 ties that the engines break differently
            F.round(
                F.col("l_extendedprice").cast("decimal(14,2)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(5,2)"),
                2,
            )
            .cast("double")
            .alias("net_price"),
        )
    )


# --- §2.1 #3/#4/#5 filters + #9 union all + #23 row sampling + set ops, one
#     suite (reference utils/get_data.py:44-48,81,85-96, script_1.py:43,
#     228-229): each branch keeps its own pushed-down scan; the union is
#     Spark's zero-shuffle UnionExec over the branches -------------------------
@query(
    "filter_union_suite",
    oracle="""
    SELECT 'range' AS branch, event_id AS key, value AS num
    FROM events
    WHERE CAST(floor(epoch(ts)) AS BIGINT) >= 1704499200
      AND CAST(floor(epoch(ts)) AS BIGINT) <  1705104000
    UNION ALL
    SELECT 'eq', o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT 'prefix', p_partkey, p_retailprice FROM part WHERE p_name LIKE 'b%'
    UNION ALL
    SELECT 'sample', l_orderkey * 10 + l_linenumber, l_quantity FROM lineitem
    WHERE (l_orderkey * 7 + l_linenumber) % 10 < 8
    UNION ALL
    SELECT 'setops', q.o_custkey, NULL::DOUBLE FROM (
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_totalprice > 200000.0
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    ) q
    UNION ALL
    SELECT 'csvsink', p_partkey, p_retailprice FROM part WHERE p_name LIKE 'b%'
    """,
)
def filter_union_suite(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    rng = ev.filter(
        (F.col("ts") >= F.lit("2024-01-06 00:00:00").cast("timestamp_ntz"))
        & (F.col("ts") < F.lit("2024-01-13 00:00:00").cast("timestamp_ntz"))
    ).select(
        F.lit("range").alias("branch"),
        F.col("event_id").alias("key"),
        F.col("value").alias("num"),
    )
    o = load_table(spark, sf_dir, "orders")
    eq = o.filter(F.col("o_orderstatus") == "F").select(
        F.lit("eq").alias("branch"),
        F.col("o_orderkey").alias("key"),
        F.col("o_totalprice").alias("num"),
    )
    pre = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("b"))
        .select(
            F.lit("prefix").alias("branch"),
            F.col("p_partkey").alias("key"),
            F.col("p_retailprice").alias("num"),
        )
    )
    samp = (
        load_table(spark, sf_dir, "lineitem")
        .filter((F.col("l_orderkey") * 7 + F.col("l_linenumber")) % 10 < 8)
        .select(
            F.lit("sample").alias("branch"),
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("key"),
            F.col("l_quantity").alias("num"),
        )
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    big = o.filter(F.col("o_totalprice") > 200000.0).select("o_custkey")
    partial = o.filter(F.col("o_orderstatus") == "P").select("o_custkey")
    setops = (
        urgent.intersect(big)
        .exceptAll(partial.distinct())
        .select(
            F.lit("setops").alias("branch"),
            F.col("o_custkey").alias("key"),
            F.lit(None).cast("double").alias("num"),
        )
    )
    # CSV-sink round-trip arm (§2.1 row 2, reference script_1.py:275-328):
    # the prefix branch is written through write_results(fmt="csv") and read
    # back — putting the sink's serialization under the same oracle hash as
    # the in-memory branches
    import tempfile

    from exstream_implementation_spark.sources.tables import write_results

    sink_dir = tempfile.mkdtemp(prefix="exstream_csvsink_")
    write_results(pre.drop("branch"), sink_dir, fmt="csv")
    csvsink = (
        spark.read.option("header", True)
        .csv(sink_dir)
        .select(
            F.lit("csvsink").alias("branch"),
            F.col("key").cast("long").alias("key"),
            F.col("num").cast("double").alias("num"),
        )
    )
    return (
        rng.unionByName(eq)
        .unionByName(pre)
        .unionByName(samp)
        .unionByName(setops)
        .unionByName(csvsink)
    )


# --- §2.1 #10 inner equi-join, broadcast dims (reference utils/get_data.py:81,
#     script_1.py:164-166) ----------------------------------------------------
@query(
    "join_broadcast_dims",
    oracle="""
    SELECT c.c_custkey, n.n_name AS nation, r.r_name AS region, c.c_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE c.c_acctbal > 5000.0
    """,
)
def join_broadcast_dims(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000.0)
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select(
            "c_custkey",
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            "c_acctbal",
        )
    )


# --- §2.1 #11 positional (row-number) join (reference script_1.py:164-166 —
#     pd.merge on integer index; here made explicit and deterministic) --------
@query(
    "positional_join",
    oracle="""
    WITH c AS (SELECT c_custkey, c_acctbal,
                      row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS rn
               FROM customer),
         s AS (SELECT s_suppkey, s_acctbal,
                      row_number() OVER (ORDER BY s_acctbal DESC, s_suppkey) AS rn
               FROM supplier)
    SELECT c.rn AS rn, c.c_custkey, s.s_suppkey,
           round(c.c_acctbal - s.s_acctbal, 2) AS bal_gap
    FROM c JOIN s ON c.rn = s.rn
    """,
)
def positional_join(spark, sf_dir):
    from exstream_implementation_spark.operators.ranking import global_row_number

    # global_row_number keeps the global ordering distributed (range
    # repartition + partition offsets) instead of a one-partition window
    c = global_row_number(
        load_table(spark, sf_dir, "customer"),
        [F.desc("c_acctbal"), F.asc("c_custkey")],
    )
    s = global_row_number(
        load_table(spark, sf_dir, "supplier"),
        [F.desc("s_acctbal"), F.asc("s_suppkey")],
    )
    return c.join(s, "rn").select(
        "rn",
        "c_custkey",
        "s_suppkey",
        F.round(F.col("c_acctbal") - F.col("s_acctbal"), 2).alias("bal_gap"),
    )


# --- §2.1 #12 group-by count (reference
#     exstream/entropy_based_single_reward_feature.py:60), skew-resilient:
#     two-phase salted aggregation over a 3-distinct-value key (the hottest
#     possible skew) — result must be IDENTICAL to the direct group-by the
#     oracle runs --------------------------------------------------------------
@query(
    "groupby_salted_skew",
    oracle="""
    SELECT l_returnflag, count(*) AS n,
           round(sum(l_extendedprice), 2) AS sum_price,
           max(l_quantity) AS max_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def groupby_salted_skew(spark, sf_dir):
    from exstream_implementation_spark.operators.skew import salted_agg

    out = salted_agg(
        load_table(spark, sf_dir, "lineitem"),
        keys=["l_returnflag"],
        aggs={
            "n": ("sum", F.count(F.lit(1))),
            "sum_price": ("sum", F.sum("l_extendedprice")),
            "max_qty": ("max", F.max("l_quantity")),
        },
        salt_col=F.col("l_orderkey"),
    )
    return out.select(
        "l_returnflag", "n", F.round("sum_price", 2).alias("sum_price"), "max_qty"
    )


# --- §2.1 #15 multi-key sort + #16 rank (reference
#     entropy_based_single_reward_feature.py:224,239-241) — rank materialized
#     so the order survives the driver's order-insensitive hash --------------
@query(
    "sort_rank_topk",
    oracle="""
    SELECT * FROM (
      SELECT o_orderkey, o_totalprice,
             row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS price_rank
      FROM orders
    ) WHERE price_rank <= 100
    """,
)
def sort_rank_topk(spark, sf_dir):
    from exstream_implementation_spark.operators.ranking import top_k_ranked

    # distributed top-k (TakeOrderedAndProject) — the ranking window only ever
    # sees the 100 survivors, not the whole table
    return top_k_ranked(
        load_table(spark, sf_dir, "orders"),
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=100,
        rank_col="price_rank",
    ).select("o_orderkey", "o_totalprice", "price_rank")


# --- §2.1 #19 top-k-until-leap: the reward-leap cut (C8) expressed over
#     supplier revenue (reference entropy_based_single_reward_feature.py:293-310)
@query(
    "topk_until_leap",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev
      FROM lineitem GROUP BY l_suppkey
    ), ranked AS (
      SELECT l_suppkey, rev,
             row_number() OVER (ORDER BY rev DESC, l_suppkey) AS rnk,
             lag(rev) OVER (ORDER BY rev DESC, l_suppkey) AS prev_rev
      FROM revenue
    ), leaps AS (
      SELECT *, prev_rev - rev AS leap FROM ranked
    ), cut AS (
      SELECT min(rnk) AS cut_rank FROM leaps
      WHERE leap = (SELECT max(leap) FROM leaps) AND prev_rev <> 0
    )
    SELECT l_suppkey, rev, rnk FROM leaps
    WHERE rnk < (SELECT coalesce(cut_rank, 2147483647) FROM cut)
    """,
)
def topk_until_leap(spark, sf_dir):
    from exstream_implementation_spark.operators.ranking import global_lag

    rev = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("rev")
        )
    )
    # distributed leap cut: global rank + lag in ONE range-partitioned pass
    # (operators/ranking.global_lag — boundary rows stitch partitions, no
    # rank-shift self-join).  The cut scalars come from ONE aggregation —
    # max(leap) plus a filtered max-struct (largest leap, tie → smallest rnk,
    # prev_rev<>0 rows only) — instead of r07's two CHAINED scalar broadcasts;
    # the A/B (docs/ROUND8.md) measured the fused form
    # 16% faster with half the run-to-run variance, and it keeps the
    # scale-safe shape (no global window, per-supplier side stays partitioned)
    leaps = global_lag(
        rev,
        [F.desc("rev"), F.asc("l_suppkey")],
        "rev",
        rn_col="rnk",
        lag_col="prev_rev",
    ).withColumn("leap", F.col("prev_rev") - F.col("rev"))
    scalars = leaps.agg(
        F.max("leap").alias("max_leap"),
        F.max(
            F.when(
                F.col("prev_rev") != 0,
                F.struct(F.col("leap"), (-F.col("rnk")).alias("neg_rnk")),
            )
        ).alias("best_nz"),
    ).select(
        F.when(
            F.col("best_nz").isNotNull()
            & (F.col("best_nz.leap") == F.col("max_leap")),
            -F.col("best_nz.neg_rnk"),
        ).alias("cut_rank")
    )
    return (
        leaps.crossJoin(F.broadcast(scalars))
        .filter(F.col("cut_rank").isNull() | (F.col("rnk") < F.col("cut_rank")))
        .select("l_suppkey", "rev", "rnk")
    )


# --- §2.1 #21 conditional counts (reference
#     entropy_based_single_reward_feature.py:220, script_1.py:198-201) --------
@query(
    "conditional_counts",
    oracle="""
    SELECT o_custkey,
           count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished,
           count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_open,
           count(*) AS n_total,
           count(DISTINCT o_orderpriority) AS n_priorities
    FROM orders GROUP BY o_custkey
    """,
)
def conditional_counts(spark, sf_dir):
    # the countDistinct column also carries §2.1 #13 (distinct + count)
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
            F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
            F.count(F.lit(1)).alias("n_total"),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
        )
    )


# --- beyond-reference relational surface (SURVEY §2.2: the reference has no
#     joins beyond inner-equi — Spark provides them; these pin the semantics
#     under the same oracle gate) ---------------------------------------------
@query(
    "join_semi_anti",
    oracle="""
    WITH c AS (
      SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 9000.0
    ),
    o AS (
      SELECT o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS otot
      FROM orders GROUP BY o_custkey
    ),
    hi AS (
      SELECT o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS otot
      FROM orders GROUP BY o_custkey
      HAVING sum(CAST(o_totalprice AS DECIMAL(18,2)))
             > CAST(1500000.00 AS DECIMAL(18,2))
    )
    SELECT 'semianti' AS branch, c.c_custkey AS k, c.c_mktsegment AS seg,
           (c.c_custkey IN (SELECT o_custkey FROM orders)) AS flag,
           CAST(NULL AS DOUBLE) AS val
    FROM c
    UNION ALL
    SELECT 'left', c.c_custkey, c.c_mktsegment, CAST(NULL AS BOOLEAN), o.otot
    FROM c LEFT JOIN o ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'full', coalesce(c.c_custkey, hi.o_custkey), c.c_mktsegment,
           c.c_custkey IS NOT NULL, hi.otot
    FROM c FULL OUTER JOIN hi ON hi.o_custkey = c.c_custkey
    """,
)
def join_semi_anti(spark, sf_dir):
    """Semi/anti + LEFT + FULL outer semantics under ONE hash gate: the
    'left' branch's NULL ``val`` rows and the 'full' branch's left-only /
    right-only null-extension rows are all observable in the value hash, so
    a wrong join type or dropped null-extension breaks the gate.  Each
    outer join keys on the customer key; the orders side is pre-aggregated
    per customer (map-side partial agg) before joining — never row-level.
    Money sums run over DECIMAL(18,2) (exact — per-row prices carry 2
    decimal digits), and the HAVING threshold compares in decimal space,
    so partial-agg summation order can never flip a rounded cent or row
    membership between Spark and the oracle; the exact decimal is cast to
    double only for output (IEEE-correctly-rounded in both engines)."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") > 9000.0
    ).select("c_custkey", "c_mktsegment")
    orders = load_table(spark, sf_dir, "orders")
    nullb = F.lit(None).cast("boolean")
    nulld = F.lit(None).cast("double")

    odist = orders.select("o_custkey").distinct()
    with_orders = c.join(
        odist, c.c_custkey == odist.o_custkey, "left_semi"
    ).withColumn("flag", F.lit(True))
    without = c.join(
        odist, c.c_custkey == odist.o_custkey, "left_anti"
    ).withColumn("flag", F.lit(False))
    semianti = with_orders.unionByName(without).select(
        F.lit("semianti").alias("branch"),
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        "flag",
        nulld.alias("val"),
    )

    price_dec = F.col("o_totalprice").cast("decimal(18,2)")
    o = orders.groupBy("o_custkey").agg(
        F.sum(price_dec).cast("double").alias("otot")
    )
    left = c.join(o, c.c_custkey == o.o_custkey, "left").select(
        F.lit("left").alias("branch"),
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        nullb.alias("flag"),
        F.col("otot").alias("val"),
    )

    hi = (
        orders.groupBy("o_custkey")
        .agg(F.sum(price_dec).alias("_s"))
        .filter(F.col("_s") > F.expr("CAST(1500000.00 AS DECIMAL(18,2))"))
        .select("o_custkey", F.col("_s").cast("double").alias("otot"))
    )
    full = c.join(hi, c.c_custkey == hi.o_custkey, "full").select(
        F.lit("full").alias("branch"),
        F.coalesce("c_custkey", "o_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_custkey").isNotNull().alias("flag"),
        F.col("otot").alias("val"),
    )
    return semianti.unionByName(left).unionByName(full)


# (covered by temporal_join_suite's asof branch)
def asof_join_events(spark, sf_dir):
    from exstream_implementation_spark.operators.asof import asof_join_backward

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    left = ev.select("event_id", "user_id", "ts")
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join_backward(
        left, right, by="user_id", left_ts="ts", right_ts="ts",
        payload_cols=["value"],
    )
    return out.select(
        "event_id", "user_id", F.round("asof_value", 6).alias("asof_value")
    )


# --- §2.1 #30 pivot-wide assembly + #27 collect + unpivot round-trip
#     (reference script_1.py:240-248): pivot event counts wide per user,
#     attach the sorted collect_set, then UNPIVOT the count columns back to
#     long — pivot, collect, and melt under one oracle ------------------------
@query(
    "pivot_wide",
    oracle="""
    WITH wide AS (
      SELECT user_id,
             count(CASE WHEN event_type = 'click' THEN 1 END) AS click_n,
             count(CASE WHEN event_type = 'view' THEN 1 END) AS view_n,
             count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase_n,
             count(CASE WHEN event_type = 'error' THEN 1 END) AS error_n,
             count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup_n,
             array_to_string(list_sort(list_distinct(list(event_type))), ',')
               AS types_seen
      FROM events GROUP BY user_id
    )
    SELECT user_id, types_seen, metric, n
    FROM wide UNPIVOT (n FOR metric IN (click_n, view_n, purchase_n,
                                        error_n, signup_n))
    """,
)
def pivot_wide(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "error", "signup"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias(
                "seen"
            ),
        )
    )
    # per-pivot-value collect_sets (array cells, [t] or null) reassemble into
    # the full per-user sorted set
    seen = F.array_join(
        F.array_sort(
            F.array_compact(F.array(*[F.col(f"{t}_seen") for t in types]))
        ),
        ",",
    )
    for t in types:
        out = out.withColumn(f"{t}_n", F.coalesce(F.col(f"{t}_n"), F.lit(0)))
    wide = out.select(
        "user_id", seen.alias("types_seen"), *[f"{t}_n" for t in types]
    )
    return wide.unpivot(
        ["user_id", "types_seen"], [f"{t}_n" for t in types], "metric", "n"
    )


# --- binned interval join: the SCALE path for C1-style range predicates when
#     the interval side is too big to broadcast (reference utils/get_data.py:
#     83-100 slices by interval; slicing.slice_intervals broadcasts labels).
#     Each interval spans < 2 buckets of width W, so exploding intervals into
#     covered buckets turns the range join into an EQUALITY join on
#     (user, bucket) + a cheap residual filter — hash-shuffle both sides,
#     no broadcast, no nested-loop pair explosion, skew-safe under AQE. ------
_INC_W = 21600  # 6-hour incident window


# (covered by temporal_join_suite's interval branch)
def interval_join_binned(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts_sec"
    )
    inc = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("incident_id"),
        F.col("ts_sec").alias("t0"),
    )
    clk = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts_sec").alias("click_sec"),
    )
    w = F.lit(_INC_W)
    inc_b = inc.withColumn(
        "bucket",
        F.explode(
            F.array_distinct(
                F.array(
                    (F.col("t0") / w).cast("long"),
                    ((F.col("t0") + w - 1) / w).cast("long"),
                )
            )
        ),
    )
    clk_b = clk.withColumn("bucket", (F.col("click_sec") / w).cast("long"))
    return (
        inc_b.join(clk_b, ["user_id", "bucket"])
        .filter(
            (F.col("click_sec") >= F.col("t0"))
            & (F.col("click_sec") < F.col("t0") + w)
        )
        .select("user_id", "incident_id", "click_id", "click_sec")
    )


# --- §2.1 #25 scalar math + datetime/null scalars, one suite over orders
#     (reference entropy_based_single_reward_feature.py:35-37,187,
#     script_1.py:201-202): log2/ln/abs/ratio, calendar extraction,
#     date_trunc, nullif/coalesce — all whole-stage-codegen projections -------
@query(
    "scalar_expr_suite",
    oracle="""
    SELECT o_orderkey,
           round(log2(o_totalprice), 6) AS log2_price,
           round(ln(o_totalprice), 6) AS ln_price,
           round(abs(o_totalprice - 150000.0), 2) AS abs_dev,
           round(o_custkey / (o_totalprice + 1.0), 6) AS cust_price_ratio,
           year(o_orderdate)      AS yr,
           quarter(o_orderdate)   AS qtr,
           month(o_orderdate)     AS mon,
           dayofweek(o_orderdate) + 1 AS dow,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_label
    FROM orders WHERE o_orderkey % 50 = 1
    """,
)
def scalar_expr_suite(spark, sf_dir):
    # Spark dayofweek is 1=Sunday..7; DuckDB dayofweek is 0=Sunday..6 — the
    # +1 on the oracle aligns conventions.  month_start emits as yyyy-MM-dd
    # string (pandas renders Spark DATE as datetime.date objects but DuckDB
    # DATE as datetime64; the harness canonicalizer hashes them differently).
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 1)
    return o.select(
        "o_orderkey",
        F.round(F.log2("o_totalprice"), 6).alias("log2_price"),
        F.round(F.log("o_totalprice"), 6).alias("ln_price"),
        F.round(F.abs(F.col("o_totalprice") - 150000.0), 2).alias("abs_dev"),
        F.round(
            F.col("o_custkey") / (F.col("o_totalprice") + 1.0), 6
        ).alias("cust_price_ratio"),
        F.year("o_orderdate").alias("yr"),
        F.quarter("o_orderdate").alias("qtr"),
        F.month("o_orderdate").alias("mon"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.coalesce(
            F.nullif("o_orderstatus", F.lit("O")), F.lit("OPEN")
        ).alias("status_label"),
    )


# --- §2.1 #29 string cleanup + JSON extraction over events.props -------------
@query(
    "string_json_suite",
    oracle="""
    SELECT event_id,
           regexp_replace(regexp_replace(props, '[{}"]', '', 'g'), '\\s', '', 'g')
             AS props_clean,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket
    FROM events WHERE event_id < 2000
    """,
)
def string_json_suite(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select(
        "event_id",
        F.regexp_replace(
            F.regexp_replace("props", '[{}"]', ""), r"\s", ""
        ).alias("props_clean"),
        k.alias("k"),
        (k % 10).alias("k_bucket"),
    )


# --- window-function suite over one partitioned window (events, user < 25):
#     lag delta (#17), frame aggregates, ntile/percent_rank/cume_dist, and
#     the per-group top-k filter — one shuffle on user_id serves them all ----
@query(
    "window_fn_suite",
    oracle="""
    SELECT * FROM (
      SELECT user_id, event_id,
             round((value - lag(value) OVER w) + 1e-9, 2) AS delta,
             round((avg(value) OVER (PARTITION BY user_id ORDER BY event_id
                                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
                   + 1e-9, 6) AS moving_avg5,
             round((sum(value) OVER (PARTITION BY user_id ORDER BY event_id
                                     ROWS UNBOUNDED PRECEDING)) + 1e-9, 6)
               AS running_sum,
             ntile(4) OVER w AS quartile,
             round((percent_rank() OVER w) + 1e-9, 6) AS pr,
             round((cume_dist() OVER w) + 1e-9, 6) AS cd,
             row_number() OVER w AS rk
      FROM events WHERE user_id < 25
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    ) WHERE rk <= 50
    """,
)
def window_fn_suite(spark, sf_dir):
    from pyspark.sql import Window

    from exstream_implementation_spark.plans.registry import stable_round

    w = Window.partitionBy("user_id").orderBy("event_id")
    w5 = w.rowsBetween(-4, 0)
    wall = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 25)
        .select(
            "user_id",
            "event_id",
            stable_round(F.col("value") - F.lag("value").over(w), 2).alias("delta"),
            stable_round(F.avg("value").over(w5), 6).alias("moving_avg5"),
            stable_round(F.sum("value").over(wall), 6).alias("running_sum"),
            F.ntile(4).over(w).alias("quartile"),
            stable_round(F.percent_rank().over(w), 6).alias("pr"),
            stable_round(F.cume_dist().over(w), 6).alias("cd"),
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 50)
    )


# --- aggregate-statistics suite per event_type: max/min (#18), mean (#22),
#     Pearson corr (#24), exact percentiles, count, and the deterministic
#     argmin (#20, min over (value, user_id) lexicographic so ties can't
#     flip the hash) — one partial-agg shuffle for the lot --------------------
@query(
    "agg_stats_suite",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(max(value), 2) AS max_value,
           round(min(value), 2) AS min_value,
           round(avg(value), 4) AS avg_value,
           round(corr(value, user_id), 6) AS corr_value_user,
           round(quantile_cont(value, 0.5), 6) AS median_value,
           round(quantile_cont(value, 0.9), 6) AS p90_value,
           round(quantile_cont(value, 0.99), 6) AS p99_value,
           (min(struct_pack(v := value, u := user_id))).u AS argmin_user
    FROM events GROUP BY event_type
    """,
)
def agg_stats_suite(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max("value"), 2).alias("max_value"),
            F.round(F.min("value"), 2).alias("min_value"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.round(F.corr("value", "user_id"), 6).alias("corr_value_user"),
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("median_value"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90_value"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99_value"),
            # lexicographic min over (value, user_id): deterministic argmin —
            # plain min_by/arg_min tie-breaking is engine-arbitrary
            F.min(F.struct("value", "user_id"))
            .getField("user_id")
            .alias("argmin_user"),
        )
    )


# --- temporal joins, one suite: backward as-of join (asof branch) + binned
#     interval join (interval branch).  The as-of side is the distributed
#     sort-merge formulation in operators/asof.py; the interval side turns a
#     range predicate into an equality join on (user, time-bucket) + residual
#     filter — both are the shapes that survive 100 TB (no broadcast of fact
#     data, no nested-loop range join) ----------------------------------------
@query(
    "temporal_join_suite",
    oracle=f"""
    WITH l AS (SELECT event_id, user_id, ts FROM events WHERE user_id < 40),
    r AS (SELECT user_id, ts, value FROM events
          WHERE event_type = 'purchase' AND user_id < 40),
    asof_j AS (
      SELECT 'asof' AS branch, l.user_id,
             l.event_id AS left_id, NULL::BIGINT AS right_id,
             round(r.value, 6) AS val
      FROM l ASOF LEFT JOIN r
        ON l.user_id = r.user_id AND l.ts >= r.ts
    ),
    ev AS (SELECT user_id, event_id, event_type,
                  cast(floor(epoch(ts)) AS BIGINT) AS sec
           FROM events),
    i AS (SELECT user_id, event_id AS incident_id, sec AS t0
          FROM ev WHERE event_type = 'error'),
    c AS (SELECT user_id, event_id AS click_id, sec
          FROM ev WHERE event_type = 'click'),
    interval_j AS (
      SELECT 'interval' AS branch, i.user_id,
             i.incident_id AS left_id, c.click_id AS right_id,
             c.sec::DOUBLE AS val
      FROM i JOIN c ON c.user_id = i.user_id
       AND c.sec >= i.t0 AND c.sec < i.t0 + {_INC_W}
    )
    SELECT * FROM asof_j UNION ALL SELECT * FROM interval_j
    """,
)
def temporal_join_suite(spark, sf_dir):
    asof = asof_join_events(spark, sf_dir).select(
        F.lit("asof").alias("branch"),
        "user_id",
        F.col("event_id").alias("left_id"),
        F.lit(None).cast("long").alias("right_id"),
        F.col("asof_value").alias("val"),
    )
    interval = interval_join_binned(spark, sf_dir).select(
        F.lit("interval").alias("branch"),
        "user_id",
        F.col("incident_id").alias("left_id"),
        F.col("click_id").alias("right_id"),
        F.col("click_sec").cast("double").alias("val"),
    )
    return asof.unionByName(interval)
