"""EXstream core operators (C1, C4, C6, C7, C8) as oracle-checked queries.

These run the engine's REAL operator implementations
(operators.slicing / operators.rewards / operators.leap) over the events
table, and pit them against independent DuckDB SQL formulations of the same
math — class entropy (reference exstream/entropy_based_single_reward_feature.py:10-39),
segmentation entropy with the dropped-final-segment quirk (:157-200),
reward ranking (:203-243) and the leap cut (:278-310). A hash match here
means the distributed window-SQL reformulation reproduces the reference
semantics exactly on real data, verified by a second engine.

The "anomaly" labeling is synthetic but deterministic: the event time range
is split so the middle half is the reference interval and the next quarter
the anomaly interval, per event_type-derived features on an hourly trace.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from exstream_implementation_spark.cache import session_persist

from exstream_implementation_spark.operators.leap import reward_leap_filter
from exstream_implementation_spark.operators.rewards import (
    CLASS_ENTROPY_SQL,
    feature_name_expr,
    segmentation_entropy,
    single_feature_rewards,
)
from exstream_implementation_spark.plans.registry import query
from exstream_implementation_spark.sources import load_table
from exstream_implementation_spark.session import local_frame

EVENT_TYPES = ["click", "view", "purchase", "error", "signup"]

# Shared SQL scaffold: hourly per-type event-count trace + interval labels
# derived from the data's own time range (works at any scale factor).
_TRACE_SQL = """
  bounds AS (
    SELECT min(CAST(floor(epoch(ts)) AS BIGINT) // 3600) AS tmin,
           max(CAST(floor(epoch(ts)) AS BIGINT) // 3600) AS tmax
    FROM events
  ),
  iv AS (
    SELECT tmin AS ref_start,
           tmin + (tmax - tmin) // 2 AS ref_end,
           tmin + (tmax - tmin) // 2 AS ano_start,
           tmin + ((tmax - tmin) * 3) // 4 AS ano_end
    FROM bounds
  ),
  trace AS (
    SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS bucket,
           count(CASE WHEN event_type = 'click' THEN 1 END)::DOUBLE AS click_n,
           count(CASE WHEN event_type = 'view' THEN 1 END)::DOUBLE AS view_n,
           count(CASE WHEN event_type = 'purchase' THEN 1 END)::DOUBLE AS purchase_n,
           count(CASE WHEN event_type = 'error' THEN 1 END)::DOUBLE AS error_n,
           count(CASE WHEN event_type = 'signup' THEN 1 END)::DOUBLE AS signup_n
    FROM events GROUP BY 1
  ),
  sliced AS (
    SELECT t.*, 0 AS type_data FROM trace t, iv
    WHERE t.bucket >= iv.ref_start AND t.bucket < iv.ref_end
    UNION ALL
    SELECT t.*, 1 AS type_data FROM trace t, iv
    WHERE t.bucket >= iv.ano_start AND t.bucket <= iv.ano_end
  ),
  melted AS (
    SELECT bucket, type_data, 'click_n' AS feature, 0 AS feature_order, click_n AS value FROM sliced
    UNION ALL
    SELECT bucket, type_data, 'view_n', 1, view_n FROM sliced
    UNION ALL
    SELECT bucket, type_data, 'purchase_n', 2, purchase_n FROM sliced
    UNION ALL
    SELECT bucket, type_data, 'error_n', 3, error_n FROM sliced
    UNION ALL
    SELECT bucket, type_data, 'signup_n', 4, signup_n FROM sliced
  )
"""

_REWARDS_SQL = f"""
WITH {_TRACE_SQL},
  seq AS (
    SELECT feature, feature_order, value, type_data AS label, bucket,
           row_number() OVER (PARTITION BY feature, value
                              ORDER BY type_data, bucket) AS r
    FROM melted
  ),
  flagged AS (
    SELECT *, CASE WHEN lag(label) OVER (PARTITION BY feature
                                         ORDER BY value, r)
                   IS DISTINCT FROM label THEN 1 ELSE 0 END AS boundary
    FROM seq
  ),
  segmented AS (
    SELECT *, sum(boundary) OVER (PARTITION BY feature ORDER BY value, r
                                  ROWS UNBOUNDED PRECEDING) AS seg_id
    FROM flagged
  ),
  segs AS (
    SELECT feature, feature_order, seg_id, count(*) AS seg_len
    FROM segmented GROUP BY feature, feature_order, seg_id
  ),
  seg_tot AS (
    SELECT feature, feature_order, sum(seg_len) AS n_total, max(seg_id) AS max_seg
    FROM segs GROUP BY feature, feature_order
  ),
  seg_ent2 AS (
    SELECT s.feature, s.feature_order,
           sum(CASE WHEN s.seg_id < t.max_seg
                    THEN (s.seg_len::DOUBLE / t.n_total)
                         * ln(t.n_total::DOUBLE / s.seg_len)
                    ELSE 0.0 END) AS se
    FROM segs s JOIN seg_tot t USING (feature, feature_order)
    GROUP BY s.feature, s.feature_order
  ),
  cls AS (
    SELECT feature,
           count(CASE WHEN type_data = 0 THEN 1 END)::DOUBLE AS n_ref,
           count(CASE WHEN type_data = 1 THEN 1 END)::DOUBLE AS n_ano
    FROM melted GROUP BY feature
  ),
  cls_ent AS (
    SELECT feature,
           (n_ano / (n_ref + n_ano)) * log2((n_ref + n_ano) / n_ano)
         + (n_ref / (n_ref + n_ano)) * log2((n_ref + n_ano) / n_ref) AS ce
    FROM cls WHERE n_ref > 0 AND n_ano > 0
  ),
  rewards AS (
    SELECT s.feature, s.feature_order, c.ce / s.se AS reward
    FROM seg_ent2 s JOIN cls_ent c USING (feature)
  ),
  ranked AS (
    SELECT feature, round(reward, 6) AS reward,
           row_number() OVER (ORDER BY reward DESC, feature_order) AS rank
    FROM rewards
  )
"""


def _events_melted(spark, sf_dir) -> DataFrame:
    """Engine-side construction of the same hourly trace, melted, using the
    real slicing/melt path shapes (ano_key constant — one synthetic anomaly).

    Persisted: four catalog queries (rewards' two modes, the entropy
    profile, the leap cut) consume this identical subtree — Spark's
    CacheManager plan-matching shares one cached copy across all of them,
    so the events scan + pivot executes once per session, not six times.
    The melted slice is O(buckets × features) at any corpus scale."""
    ev = load_table(spark, sf_dir, "events")
    trace = (
        ev.withColumn("bucket", F.expr("ts_sec DIV 3600"))
        .groupBy("bucket")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    for i, t in enumerate(EVENT_TYPES):
        trace = trace.withColumn(
            f"{t}_n", F.coalesce(F.col(t).cast("double"), F.lit(0.0))
        ).drop(t)
    b = trace.agg(
        F.min("bucket").alias("tmin"), F.max("bucket").alias("tmax")
    )
    iv = b.select(
        F.col("tmin").alias("ref_start"),
        F.expr("tmin + (tmax - tmin) DIV 2").alias("ref_end"),
        F.expr("tmin + (tmax - tmin) DIV 2").alias("ano_start"),
        F.expr("tmin + ((tmax - tmin) * 3) DIV 4").alias("ano_end"),
    )
    t = trace.crossJoin(F.broadcast(iv))
    refs = t.filter(
        (F.col("bucket") >= F.col("ref_start")) & (F.col("bucket") < F.col("ref_end"))
    ).withColumn("type_data", F.lit(0))
    anos = t.filter(
        (F.col("bucket") >= F.col("ano_start")) & (F.col("bucket") <= F.col("ano_end"))
    ).withColumn("type_data", F.lit(1))
    sliced = refs.unionByName(anos)
    pairs = []
    for i, tname in enumerate(EVENT_TYPES):
        pairs.extend([f"'{tname}_n'", str(i), f"`{tname}_n`"])
    stack = (
        f"stack({len(EVENT_TYPES)}, {', '.join(pairs)}) "
        "as (feature, feature_order, value)"
    )
    # session scope: every exstream query melts the same events subtree, and
    # CacheManager plan-matching shares one copy — per-query release would
    # force each of them to re-melt
    return sliced.select(
        F.lit("events_0").alias("ano_key"),
        "type_data",
        F.col("bucket").alias("timestamp"),
        F.expr(stack),
    ).transform(session_persist)


# --- C4+C6+C7 (+C5): rewards on a real trace in BOTH duplicate modes, one
#     query — the `mode` dimension replaces two separate catalog entries so
#     the driver's 50-query correctness window covers more operator surface --
@query(
    "exstream_rewards",
    oracle=None,  # assembled below (shares the trace CTEs across both modes)
)
def exstream_rewards(spark, sf_dir):
    melted = _events_melted(spark, sf_dir)
    names = [f"{t}_n" for t in EVENT_TYPES]
    out = None
    for mode in ("sorted", "worst_case"):
        r = single_feature_rewards(
            melted, duplicate_mode=mode, feature_names=names
        ).select(
            F.lit(mode).alias("mode"),
            "feature",
            F.round("reward", 6).alias("reward"),
            "rank",
        )
        out = r if out is None else out.unionByName(r)
    return out


# worst-case duplicate mode (paper eq. 3-4 regularization — dead code in the
# reference, quirk Q5; closed-form labels from operators/rewards.py re-derived
# in SQL).  CTEs are wc_-prefixed so the fragment composes with _REWARDS_SQL
# (trace scaffold + sorted chain + cls/cls_ent are shared, computed once).
_REWARDS_WC_FRAGMENT = """
  wc_seq AS (
    SELECT feature, feature_order, value, type_data, bucket,
           row_number() OVER (PARTITION BY feature, value
                              ORDER BY type_data, bucket) - 1 AS r,
           sum(type_data) OVER (PARTITION BY feature, value) AS n1,
           count(*) OVER (PARTITION BY feature, value) AS cnt
    FROM melted
  ),
  wc_labeled AS (
    SELECT *, cnt - n1 AS n0,
           CASE WHEN cnt = 1 THEN type_data
                WHEN n1 = 0 THEN 0
                WHEN cnt - n1 = 0 THEN 1
                WHEN cnt - n1 = n1 THEN CASE WHEN r % 2 = 0 THEN 1 ELSE 2 END
                WHEN cnt - n1 < n1 THEN
                  CASE WHEN r % 2 = 1 AND r < 2 * (cnt - n1) THEN 0 ELSE 1 END
                ELSE CASE WHEN r % 2 = 0 AND r < 2 * n1 THEN 1 ELSE 0 END
           END AS label
    FROM wc_seq
  ),
  wc_flagged AS (
    SELECT *, CASE WHEN lag(label) OVER (PARTITION BY feature
                                         ORDER BY value, r)
                   IS DISTINCT FROM label THEN 1 ELSE 0 END AS boundary
    FROM wc_labeled
  ),
  wc_segmented AS (
    SELECT *, sum(boundary) OVER (PARTITION BY feature ORDER BY value, r
                                  ROWS UNBOUNDED PRECEDING) AS seg_id
    FROM wc_flagged
  ),
  wc_segs AS (
    SELECT feature, feature_order, seg_id, count(*) AS seg_len
    FROM wc_segmented GROUP BY feature, feature_order, seg_id
  ),
  wc_seg_tot AS (
    SELECT feature, feature_order, sum(seg_len) AS n_total, max(seg_id) AS max_seg
    FROM wc_segs GROUP BY feature, feature_order
  ),
  wc_seg_ent2 AS (
    SELECT s.feature, s.feature_order,
           sum(CASE WHEN s.seg_id < t.max_seg
                    THEN (s.seg_len::DOUBLE / t.n_total)
                         * ln(t.n_total::DOUBLE / s.seg_len)
                    ELSE 0.0 END) AS se
    FROM wc_segs s JOIN wc_seg_tot t USING (feature, feature_order)
    GROUP BY s.feature, s.feature_order
  ),
  wc_rewards AS (
    SELECT s.feature, s.feature_order, c.ce / s.se AS reward
    FROM wc_seg_ent2 s JOIN cls_ent c USING (feature)
  ),
  wc_ranked AS (
    SELECT feature, round(reward, 6) AS reward,
           row_number() OVER (ORDER BY reward DESC, feature_order) AS rank
    FROM wc_rewards
  )
"""

_REWARDS_BOTH_SQL = (
    _REWARDS_SQL
    + ","
    + _REWARDS_WC_FRAGMENT
    + """
SELECT 'sorted' AS mode, feature, reward, rank FROM ranked
UNION ALL
SELECT 'worst_case' AS mode, feature, reward, rank FROM wc_ranked
"""
)

from exstream_implementation_spark.plans.registry import ORACLES  # noqa: E402

ORACLES["exstream_rewards"] = _REWARDS_BOTH_SQL


# --- C4 + C6 in one profile: per-feature segmentation entropy joined with
#     the (shared) class entropy and interval counts — one catalog entry
#     covering what used to be exstream_segmentation_entropy +
#     exstream_class_entropy ---------------------------------------------------
@query(
    "exstream_entropy_profile",
    oracle=_REWARDS_SQL
    + """
SELECT s.feature, round(s.se, 6) AS seg_ent,
       CAST(c.n_ref AS BIGINT) AS n_ref, CAST(c.n_ano AS BIGINT) AS n_ano,
       round(e.ce, 6) AS class_ent
FROM seg_ent2 s
JOIN cls c USING (feature)
JOIN cls_ent e USING (feature)
""",
)
def exstream_entropy_profile(spark, sf_dir):
    melted = _events_melted(spark, sf_dir)
    # sorted-mode fast path: label IS type_data and (value, type_data,
    # timestamp) is the identical total order to (value, r), so the
    # worst_case_labels ranking window (one full Exchange+Sort of melted) is
    # skipped; n_ref/n_ano come folded into the same segment aggregates
    seg = segmentation_entropy(
        melted.drop("feature").withColumn("label", F.col("type_data")),
        ties=("type_data", "timestamp"),
    )
    return seg.selectExpr(
        feature_name_expr([f"{t}_n" for t in EVENT_TYPES]),
        "round(seg_ent, 6) AS seg_ent",
        "n_ref",
        "n_ano",
        f"round({CLASS_ENTROPY_SQL}, 6) AS class_ent",
    )


# --- C8: leap cut over the real reward ranking -------------------------------
@query(
    "exstream_leap_cut",
    oracle=_REWARDS_SQL
    + """,
    leaps AS (
      SELECT feature, reward, rank,
             lag(reward) OVER (ORDER BY rank) AS prev_reward
      FROM ranked
    ),
    cut AS (
      SELECT min(rank) AS cut_rank FROM leaps
      WHERE (prev_reward - reward) = (SELECT max(prev_reward - reward) FROM leaps)
        AND prev_reward <> 0
    )
    SELECT feature, reward, rank FROM leaps
    WHERE rank < (SELECT coalesce(cut_rank, 2147483647) FROM cut)
       OR (SELECT count(*) FROM ranked) <= 1
    """,
)
def exstream_leap_cut(spark, sf_dir):
    melted = _events_melted(spark, sf_dir)
    r = single_feature_rewards(
        melted, feature_names=[f"{t}_n" for t in EVENT_TYPES]
    ).withColumn("reward", F.round("reward", 6))
    kept = reward_leap_filter(r)
    return kept.select("feature", "reward", "rank")


# --- FLAGSHIP (deterministic core): slice → rewards → leap → assembly over
#     the full 10-feature events trace with TWO anomalies, end-to-end against
#     one independent DuckDB formulation.  Only the instability metric (seeded
#     Bernoulli sampling) is excluded — that stays rows-only checked. --------
EVENT_TYPES_FULL = EVENT_TYPES  # click, view, purchase, error, signup

_FULL_TRACE_DUCK = """
  trace AS (
    SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS bucket,
{cols}
    FROM events GROUP BY 1
  ),
  bounds AS (SELECT min(bucket) AS tmin, max(bucket) AS tmax FROM trace),
  sp AS (SELECT tmin, tmax, greatest(tmax - tmin, 4) AS span FROM bounds),
  labels AS (
    SELECT 0 AS label_row, 1 AS ano_id, 'bursty input' AS ano_type,
           tmin AS ref_start, tmin + span // 2 AS ref_end,
           tmin + span // 2 AS ano_start, tmin + (span * 3) // 4 AS ano_end
    FROM sp
    UNION ALL
    SELECT 1, 2, 'stalled input', tmin, tmin + span // 3,
           tmax - span // 4, tmax
    FROM sp
  ),
  keyed AS (
    SELECT t.*, l.label_row, l.ano_id,
           l.ano_type || '_events_' || l.label_row AS ano_key, 0 AS type_data
    FROM trace t JOIN labels l
      ON t.bucket >= l.ref_start AND t.bucket < l.ref_end
    UNION ALL
    SELECT t.*, l.label_row, l.ano_id,
           l.ano_type || '_events_' || l.label_row AS ano_key, 1
    FROM trace t JOIN labels l
      ON t.bucket >= l.ano_start AND t.bucket <= l.ano_end
  ),
  melted AS (
{melts}
  )
""".format(
    cols=",\n".join(
        f"           count(CASE WHEN event_type = '{t}' THEN 1 END)::DOUBLE"
        f" AS {t}_n,\n"
        f"           coalesce(round(sum(value) FILTER (event_type = '{t}'), 6),"
        f" 0.0) AS {t}_value"
        for t in EVENT_TYPES
    ),
    melts="\n    UNION ALL\n".join(
        f"    SELECT ano_key, ano_id, type_data, bucket, '{t}_{kind}' AS feature,"
        f" {2 * i + (0 if kind == 'n' else 1)} AS feature_order,"
        f" {t}_{kind} AS value FROM keyed"
        for i, t in enumerate(EVENT_TYPES)
        for kind in ("n", "value")
    ),
)

_FULL_PIPELINE_DUCK = f"""
WITH {_FULL_TRACE_DUCK},
  seq AS (
    SELECT ano_key, ano_id, feature, feature_order, value,
           type_data AS label, bucket,
           row_number() OVER (PARTITION BY ano_key, feature, value
                              ORDER BY type_data, bucket) AS r
    FROM melted
  ),
  flagged AS (
    SELECT *, CASE WHEN lag(label) OVER (PARTITION BY ano_key, feature
                                         ORDER BY value, r)
                   IS DISTINCT FROM label THEN 1 ELSE 0 END AS boundary
    FROM seq
  ),
  segmented AS (
    SELECT *, sum(boundary) OVER (PARTITION BY ano_key, feature
                                  ORDER BY value, r
                                  ROWS UNBOUNDED PRECEDING) AS seg_id
    FROM flagged
  ),
  segs AS (
    SELECT ano_key, ano_id, feature, feature_order, seg_id, count(*) AS seg_len
    FROM segmented GROUP BY ano_key, ano_id, feature, feature_order, seg_id
  ),
  seg_tot AS (
    SELECT ano_key, feature, sum(seg_len) AS n_total, max(seg_id) AS max_seg
    FROM segs GROUP BY ano_key, feature
  ),
  seg_ent AS (
    SELECT s.ano_key, s.ano_id, s.feature, s.feature_order,
           sum(CASE WHEN s.seg_id < t.max_seg
                    THEN (s.seg_len::DOUBLE / t.n_total)
                         * ln(t.n_total::DOUBLE / s.seg_len)
                    ELSE 0.0 END) AS se
    FROM segs s JOIN seg_tot t USING (ano_key, feature)
    GROUP BY s.ano_key, s.ano_id, s.feature, s.feature_order
  ),
  cls AS (
    SELECT ano_key, feature,
           count(CASE WHEN type_data = 0 THEN 1 END)::DOUBLE AS n_ref,
           count(CASE WHEN type_data = 1 THEN 1 END)::DOUBLE AS n_ano
    FROM melted GROUP BY ano_key, feature
  ),
  cls_ent AS (
    SELECT ano_key, feature,
           (n_ano / (n_ref + n_ano)) * log2((n_ref + n_ano) / n_ano)
         + (n_ref / (n_ref + n_ano)) * log2((n_ref + n_ano) / n_ref) AS ce
    FROM cls WHERE n_ref > 0 AND n_ano > 0
  ),
  rewards AS (
    -- rewards rounded to 6 BEFORE ranking: the cross-engine determinism
    -- boundary (the leap filter compares rewards for equality; unrounded
    -- doubles differ between engines in the last ulp)
    SELECT s.ano_key, s.ano_id, s.feature, s.feature_order,
           round(c.ce / s.se, 6) AS reward
    FROM seg_ent s JOIN cls_ent c USING (ano_key, feature)
  ),
  ranked AS (
    SELECT *, row_number() OVER (PARTITION BY ano_key
                                 ORDER BY reward DESC, feature_order) AS rank
    FROM rewards
  ),
  leaps AS (
    SELECT *, lag(reward) OVER (PARTITION BY ano_key ORDER BY rank)
                AS prev_reward
    FROM ranked
  ),
  stats AS (
    SELECT ano_key, max(prev_reward - reward) AS max_leap,
           count(*) AS n_features
    FROM leaps GROUP BY ano_key
  ),
  cut AS (
    SELECT l.ano_key, min(l.rank) AS cut_rank
    FROM leaps l JOIN stats s USING (ano_key)
    WHERE (l.prev_reward - l.reward) = s.max_leap AND l.prev_reward <> 0
    GROUP BY l.ano_key
  ),
  kept AS (
    SELECT l.* FROM leaps l
    JOIN stats s USING (ano_key)
    LEFT JOIN cut c USING (ano_key)
    WHERE s.n_features <= 1 OR c.cut_rank IS NULL OR l.rank < c.cut_rank
  )
SELECT 'events' AS trace_id, ano_id, ano_key,
       string_agg(feature_order::VARCHAR, ',' ORDER BY rank) AS explanation,
       count(*) AS exp_size
FROM kept GROUP BY ano_id, ano_key
"""


def _two_anomaly_setup(spark, sf_dir):
    """Cached 10-feature events trace + the two deterministic labels shared
    by exstream_explain_det, the C3 profile query, and __spark_entry__'s
    flagship (mirrors the `labels` CTE of _FULL_TRACE_DUCK exactly).

    The labels are derived IN-PLAN from the trace's min/max bucket — no
    driver-side bounds probe, so the whole pipeline stays one lazy graph."""
    from exstream_implementation_spark.sources import events_trace

    trace = events_trace(spark, sf_dir, bucket_seconds=3600).transform(session_persist)
    # both label rows exploded from the ONE bounds row, not two unioned
    # single-row aggregates: the labels relation is referenced in several
    # plan branches (the slice join AND the final ano_key↔label join), and
    # the union form embedded the min/max aggregation subtree twice per
    # reference — this form carries it once (guide §2.4 duplicated
    # subtrees).  Built as three selectExpr strings — one py4j round-trip
    # each — instead of ~40 Column-object calls (driver build cost).
    labels = (
        trace.selectExpr(
            "min(timestamp) AS tmin", "max(timestamp) AS tmax"
        )
        .selectExpr("*", "greatest(tmax - tmin, 4) AS span")
        .selectExpr(
            """inline(array(
              named_struct(
                'label_row', 0, 'trace_id', 'events', 'ano_id', 1,
                'ano_type', 'bursty input',
                'ref_start', tmin, 'ref_end', tmin + span DIV 2,
                'ano_start', tmin + span DIV 2,
                'ano_end', tmin + (span * 3) DIV 4),
              named_struct(
                'label_row', 1, 'trace_id', 'events', 'ano_id', 2,
                'ano_type', 'stalled input',
                'ref_start', tmin, 'ref_end', tmin + span DIV 3,
                'ano_start', tmax - span DIV 4, 'ano_end', tmax)))"""
        )
    )
    return trace, labels


@query("exstream_explain_det", oracle=_FULL_PIPELINE_DUCK)
def exstream_explain_det(spark, sf_dir):
    """The flagship pipeline with instability off — oracle-checked end to end
    (slice C1 → rewards C4/C6/C7 → leap C8 → assembly)."""
    from exstream_implementation_spark.pipeline import (
        ExplainConfig,
        explain_anomalies,
    )

    trace, labels = _two_anomaly_setup(spark, sf_dir)
    out = explain_anomalies(
        trace,
        labels,
        ExplainConfig(
            instability_runs=0, reward_round=6, slice_cache_scope="session"
        ),
    )
    # the driver's canonicalizer sorts result columns with pandas and cannot
    # hash/sort array cells — project the explanation as a joined string (the
    # array form stays available via explain_anomalies itself)
    return out.select(
        "trace_id",
        "ano_id",
        "ano_key",
        F.array_join(F.col("explanation").cast("array<int>"), ",").alias(
            "explanation"
        ),
        F.col("exp_size").cast("long").alias("exp_size"),
    )


# --- FLAGSHIP (full, C9 included): the same pipeline WITH the instability
#     metric, hash-gated.  The sampler's md5 oracle mode (pipeline.py
#     sample_method='md5') makes every Bernoulli run a pure function of
#     (ano_key, bucket, run, seed) that DuckDB reproduces bit-for-bit, so the
#     frequency-entropy instability (reference script_1.py:187-254) is
#     checkable end to end — runs 1..5 re-execute the whole rewards→leap→
#     assembly chain per (run_id, ano_key) in both engines. ------------------
_INST_RUNS = 5
_INST_SEED = 42
_INST_FRACTION = 0.8

from exstream_implementation_spark.canon import (  # noqa: E402
    md5_hex_threshold,
    stable_round,
)

_FLAGSHIP_INST_DUCK = f"""
WITH {_FULL_TRACE_DUCK},
  runs AS (SELECT unnest(generate_series(0, {_INST_RUNS})) AS run_id),
  sampled AS (
    -- run 0 = main (unsampled); runs 1..k keep each wide row via the first
    -- 6 md5 hex chars of "ano_key:bucket:(run+seed)" — the exact predicate
    -- the engine's md5 sample_method evaluates per sliced row
    SELECT m.*, r.run_id
    FROM melted m CROSS JOIN runs r
    WHERE r.run_id = 0
       OR substr(md5(m.ano_key || ':' || CAST(m.bucket AS VARCHAR)
                     || ':' || CAST(r.run_id + {_INST_SEED} AS VARCHAR)),
                 1, 6) < '{md5_hex_threshold(_INST_FRACTION)}'
  ),
  valid AS (
    -- (run, anomaly) groups that lost an entire class to sampling are
    -- dropped (pipeline.py 'valid' broadcast join)
    SELECT run_id, ano_key FROM sampled
    GROUP BY run_id, ano_key
    HAVING min(type_data) = 0 AND max(type_data) = 1
  ),
  vmelted AS (SELECT s.* FROM sampled s JOIN valid USING (run_id, ano_key)),
  seq AS (
    SELECT run_id, ano_key, ano_id, feature, feature_order, value,
           type_data AS label, bucket,
           row_number() OVER (PARTITION BY run_id, ano_key, feature, value
                              ORDER BY type_data, bucket) AS r
    FROM vmelted
  ),
  flagged AS (
    SELECT *, CASE WHEN lag(label) OVER (PARTITION BY run_id, ano_key, feature
                                         ORDER BY value, r)
                   IS DISTINCT FROM label THEN 1 ELSE 0 END AS boundary
    FROM seq
  ),
  segmented AS (
    SELECT *, sum(boundary) OVER (PARTITION BY run_id, ano_key, feature
                                  ORDER BY value, r
                                  ROWS UNBOUNDED PRECEDING) AS seg_id
    FROM flagged
  ),
  segs AS (
    SELECT run_id, ano_key, ano_id, feature, feature_order, seg_id,
           count(*) AS seg_len
    FROM segmented
    GROUP BY run_id, ano_key, ano_id, feature, feature_order, seg_id
  ),
  seg_tot AS (
    SELECT run_id, ano_key, feature, sum(seg_len) AS n_total,
           max(seg_id) AS max_seg
    FROM segs GROUP BY run_id, ano_key, feature
  ),
  seg_ent AS (
    SELECT s.run_id, s.ano_key, s.ano_id, s.feature, s.feature_order,
           sum(CASE WHEN s.seg_id < t.max_seg
                    THEN (s.seg_len::DOUBLE / t.n_total)
                         * ln(t.n_total::DOUBLE / s.seg_len)
                    ELSE 0.0 END) AS se
    FROM segs s JOIN seg_tot t USING (run_id, ano_key, feature)
    GROUP BY s.run_id, s.ano_key, s.ano_id, s.feature, s.feature_order
  ),
  cls AS (
    SELECT run_id, ano_key, feature,
           count(CASE WHEN type_data = 0 THEN 1 END)::DOUBLE AS n_ref,
           count(CASE WHEN type_data = 1 THEN 1 END)::DOUBLE AS n_ano
    FROM vmelted GROUP BY run_id, ano_key, feature
  ),
  cls_ent AS (
    SELECT run_id, ano_key, feature,
           (n_ano / (n_ref + n_ano)) * log2((n_ref + n_ano) / n_ano)
         + (n_ref / (n_ref + n_ano)) * log2((n_ref + n_ano) / n_ref) AS ce
    FROM cls WHERE n_ref > 0 AND n_ano > 0
  ),
  rewards AS (
    SELECT s.run_id, s.ano_key, s.ano_id, s.feature, s.feature_order,
           round(c.ce / s.se, 6) AS reward
    FROM seg_ent s JOIN cls_ent c USING (run_id, ano_key, feature)
  ),
  ranked AS (
    SELECT *, row_number() OVER (PARTITION BY run_id, ano_key
                                 ORDER BY reward DESC, feature_order) AS rank
    FROM rewards
  ),
  leaps AS (
    SELECT *, lag(reward) OVER (PARTITION BY run_id, ano_key ORDER BY rank)
                AS prev_reward
    FROM ranked
  ),
  stats AS (
    SELECT run_id, ano_key, max(prev_reward - reward) AS max_leap,
           count(*) AS n_features
    FROM leaps GROUP BY run_id, ano_key
  ),
  cut AS (
    SELECT l.run_id, l.ano_key, min(l.rank) AS cut_rank
    FROM leaps l JOIN stats s USING (run_id, ano_key)
    WHERE (l.prev_reward - l.reward) = s.max_leap AND l.prev_reward <> 0
    GROUP BY l.run_id, l.ano_key
  ),
  kept AS (
    SELECT l.* FROM leaps l
    JOIN stats s USING (run_id, ano_key)
    LEFT JOIN cut c USING (run_id, ano_key)
    WHERE s.n_features <= 1 OR c.cut_rank IS NULL OR l.rank < c.cut_rank
  ),
  main AS (
    SELECT ano_key, ano_id,
           string_agg(feature_order::VARCHAR, ',' ORDER BY rank) AS explanation,
           count(*) AS exp_size
    FROM kept WHERE run_id = 0 GROUP BY ano_key, ano_id
  ),
  freq AS (
    SELECT ano_key, feature, count(*) AS c
    FROM kept WHERE run_id > 0 GROUP BY ano_key, feature
  ),
  inst AS (
    -- H = log2(T) - (Σ c·log2 c)/T (reference script_1.py:187-205), nudged
    -- +1e-9 before round (canon.stable_round) to dodge half-boundary
    -- disagreement between the engines' rounding modes
    SELECT ano_key,
           round((log2(sum(c)) - sum(c * log2(c)) / sum(c)) + 1e-9, 6)
             AS exp_instability
    FROM freq GROUP BY ano_key
  )
SELECT 'events' AS trace_id, m.ano_id, m.ano_key, m.explanation, m.exp_size,
       i.exp_instability
FROM main m LEFT JOIN inst i USING (ano_key)
"""


@query("exstream_explain", oracle=_FLAGSHIP_INST_DUCK)
def exstream_explain(spark, sf_dir):
    """Flagship pipeline WITH the instability metric (C9) — hash-gated end to
    end.  sample_method='md5' swaps the production xxhash64 Bernoulli for the
    md5-portable selector (canon.md5_hex_threshold) so DuckDB reproduces the
    five sampled runs exactly; reward_round=6 is the usual cross-engine float
    boundary.  The production entry (__spark_entry__._flagship / bench) keeps
    xxhash64 — one JVM hash per row instead of an md5 string fold."""
    from exstream_implementation_spark.pipeline import (
        ExplainConfig,
        explain_anomalies,
    )

    trace, labels = _two_anomaly_setup(spark, sf_dir)
    out = explain_anomalies(
        trace,
        labels,
        ExplainConfig(
            instability_runs=_INST_RUNS,
            sample_fraction=_INST_FRACTION,
            seed=_INST_SEED,
            reward_round=6,
            sample_method="md5",
            slice_cache_scope="session",
        ),
    )
    return out.select(
        "trace_id",
        "ano_id",
        "ano_key",
        F.array_join(F.col("explanation").cast("array<int>"), ",").alias(
            "explanation"
        ),
        F.col("exp_size").cast("long").alias("exp_size"),
        stable_round(F.col("exp_instability"), 6).alias("exp_instability"),
    )


# --- C3: z-normalized subsequence distance profile (the MASS/FFT math inside
#     operators/fp_filter.py) vs a naive O(n·m) SQL evaluation.  Pattern = an
#     anomaly's reference slice, series = pooled references (quirk Q4); the
#     greedy exclusion-zone match counting is sequential and stays
#     golden-tested — this pins the numeric core cross-engine. ---------------
_FP_MAX_DIST = 40.0

_FP_PROFILE_DUCK = f"""
WITH {_FULL_TRACE_DUCK},
  refs AS (
    SELECT ano_key, feature, bucket, value FROM melted WHERE type_data = 0
  ),
  pattern AS (
    SELECT ano_key, feature, value,
           row_number() OVER (PARTITION BY ano_key, feature
                              ORDER BY bucket) AS k
    FROM refs
  ),
  pooled AS (
    SELECT feature, value,
           row_number() OVER (PARTITION BY feature
                              ORDER BY ano_key, bucket) AS q
    FROM refs
  ),
  msize AS (
    SELECT ano_key, feature, count(*) AS m, avg(value) AS qm,
           coalesce(stddev_pop(value), 0) AS qs
    FROM pattern GROUP BY ano_key, feature
  ),
  nsize AS (SELECT feature, count(*) AS n FROM pooled GROUP BY feature),
  win AS (
    SELECT pt.ano_key, pt.feature, pl.q - pt.k AS o,
           pt.value AS pv, pl.value AS tv
    FROM pattern pt
    JOIN msize USING (ano_key, feature)
    JOIN nsize USING (feature)
    JOIN pooled pl ON pl.feature = pt.feature
     AND pl.q - pt.k BETWEEN 0 AND n - m
  ),
  wstats AS (
    SELECT ano_key, feature, o, sum(pv * tv) AS dot, avg(tv) AS mu,
           coalesce(stddev_pop(tv), 0) AS sigma
    FROM win GROUP BY ano_key, feature, o
  ),
  dist AS (
    -- constant detection mirrors the engine's tolerance (fp_filter): an
    -- exact = 0 test diverges on near-constant data where float noise
    -- makes one side's variance tiny-but-nonzero
    SELECT w.ano_key, w.feature,
           CASE WHEN s.qs * s.qs <= 1e-9 * greatest(s.qm * s.qm, 1.0)
                 AND w.sigma * w.sigma <= 1e-9 * greatest(w.mu * w.mu, 1.0)
                  THEN 0.0
                WHEN s.qs * s.qs <= 1e-9 * greatest(s.qm * s.qm, 1.0)
                  OR w.sigma * w.sigma <= 1e-9 * greatest(w.mu * w.mu, 1.0)
                  THEN sqrt(s.m)
                ELSE sqrt(greatest(
                       2 * s.m * (1 - (w.dot - s.m * s.qm * w.mu)
                                      / (s.m * s.qs * w.sigma)), 0))
           END AS d
    FROM wstats w JOIN msize s USING (ano_key, feature)
  )
SELECT ano_key, feature,
       count(CASE WHEN round(d, 4) <= {_FP_MAX_DIST} THEN 1 END) AS n_below,
       round(min(d), 4) AS min_dist,
       count(*) AS n_windows
FROM dist GROUP BY ano_key, feature
"""


@query("exstream_fp_profile", oracle=_FP_PROFILE_DUCK)
def exstream_fp_profile(spark, sf_dir):
    from exstream_implementation_spark.operators.fp_filter import (
        distance_profile_stats,
    )
    from exstream_implementation_spark.operators.slicing import (
        melt_features,
        slice_intervals,
    )
    from exstream_implementation_spark.schemas import feature_columns

    trace, labels = _two_anomaly_setup(spark, sf_dir)
    melted = melt_features(
        slice_intervals(trace, labels),
        feature_columns(trace.columns),
    )
    return distance_profile_stats(melted, _FP_MAX_DIST)


# --- C2: correlation clustering — connected components of |corr| > τ over
#     the 10 trace features, deterministic lexicographic-min representative
#     (the reference's set.pop() at correlation_filtering.py:61 is arbitrary;
#     SURVEY §7 M2 documents the deterministic divergence).  DuckDB oracle
#     computes the same components via recursive-CTE transitive closure. ----
_CORR_TAU = 0.5

_TRACE10_MELT_DUCK = """
  trace AS (
    SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS bucket,
{cols}
    FROM events GROUP BY 1
  ),
  tmelted AS (
{melts}
  )
""".format(
    cols=",\n".join(
        f"           count(CASE WHEN event_type = '{t}' THEN 1 END)::DOUBLE"
        f" AS {t}_n,\n"
        f"           coalesce(round(sum(value) FILTER (event_type = '{t}'), 6),"
        f" 0.0) AS {t}_value"
        for t in EVENT_TYPES
    ),
    melts="\n    UNION ALL\n".join(
        f"    SELECT bucket, '{t}_{kind}' AS feature, {t}_{kind} AS value"
        f" FROM trace"
        for t in EVENT_TYPES
        for kind in ("n", "value")
    ),
)


@query(
    "corr_cluster_reps",
    oracle=f"""
    WITH RECURSIVE {_TRACE10_MELT_DUCK},
    pairs AS (
      SELECT a.feature AS fa, b.feature AS fb, corr(a.value, b.value) AS c
      FROM tmelted a JOIN tmelted b
        ON a.bucket = b.bucket AND a.feature < b.feature
      GROUP BY a.feature, b.feature
    ),
    edges AS (
      SELECT fa, fb FROM pairs WHERE abs(c) > {_CORR_TAU}
      UNION ALL
      SELECT fb, fa FROM pairs WHERE abs(c) > {_CORR_TAU}
    ),
    feats AS (SELECT DISTINCT feature FROM tmelted),
    reach(feature, reached) AS (
      SELECT feature, feature FROM feats
      UNION
      SELECT r.feature, e.fb FROM reach r JOIN edges e ON e.fa = r.reached
    )
    SELECT feature, min(reached) AS rep,
           count(*) AS component_size
    FROM reach GROUP BY feature
    """,
)
def corr_cluster_reps(spark, sf_dir):
    from exstream_implementation_spark.operators.correlation import (
        correlated_feature_clusters,
    )
    from exstream_implementation_spark.sources import events_trace

    trace = events_trace(spark, sf_dir, bucket_seconds=3600)
    feats = [c for c in trace.columns if c not in ("timestamp", "trace_id")]
    # single-pass pairwise corr: d(d-1)/2 corr aggregates in ONE job over the
    # trace (SURVEY §4.1) — the only driver-side data is the tiny d×d matrix
    aggs = [
        F.corr(feats[i], feats[j]).alias(f"{i}|{j}")
        for i in range(len(feats))
        for j in range(i + 1, len(feats))
    ]
    row = trace.agg(*aggs).first()
    d = len(feats)
    corr = [[float("nan")] * d for _ in range(d)]
    for i in range(d):
        corr[i][i] = 1.0
        for j in range(i + 1, d):
            v = row[f"{i}|{j}"]
            corr[i][j] = corr[j][i] = float("nan") if v is None else v
    clusters = correlated_feature_clusters(corr, feats, _CORR_TAU)
    out = []
    for cl in clusters:
        rep = min(cl)  # lexicographic — matches the oracle's min(reached)
        for f in cl:
            out.append((f, rep, len(cl)))
    return local_frame(
        trace.sparkSession,
        out,
        "feature string, rep string, component_size long",
    )


# --- C1: interval slicing row parity -----------------------------------------
@query(
    "exstream_slice_counts",
    oracle=f"""
    WITH {_TRACE_SQL}
    SELECT type_data, count(*) AS n_rows,
           CAST(min(bucket) AS BIGINT) AS first_ts,
           CAST(max(bucket) AS BIGINT) AS last_ts,
           round(sum(error_n), 2) AS sum_error_n
    FROM sliced GROUP BY type_data
    """,
)
def exstream_slice_counts(spark, sf_dir):
    melted = _events_melted(spark, sf_dir)
    err = melted.filter(F.col("feature") == "error_n")
    return err.groupBy("type_data").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("timestamp").alias("first_ts"),
        F.max("timestamp").alias("last_ts"),
        F.round(F.sum("value"), 2).alias("sum_error_n"),
    )
