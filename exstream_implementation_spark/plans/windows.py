"""Event-time window queries — batch twins of the M6 streaming transforms.

The streaming layer (``streaming/``) runs these same transforms unbounded;
registering the batch twins here puts the window semantics under the DuckDB
oracle gate (the driver can't hash-check an unbounded stream).

Scale notes: ``F.window`` is a plain projection (bucket arithmetic) before the
grouping shuffle — no WindowExec involved; the aggregation is partial-agg +
one shuffle on (window, key).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from exstream_implementation_spark.canon import stable_round
from exstream_implementation_spark.plans.registry import query


def _batch_events(spark, sf_dir):
    from exstream_implementation_spark.streaming.source import (
        events_batch_as_stream_input,
    )

    return events_batch_as_stream_input(spark, sf_dir)


# --- tumbling window features + stream-static z-score scoring in one entry
#     (streaming/features.py + streaming/scoring.py twins; the per-window
#     aggregate AND its z-score against the global per-type profile share one
#     shuffle on (window, event_type)) ----------------------------------------
@query(
    "events_tumbling_zscores",
    oracle="""
    WITH wf AS (
      SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start_s,
             event_type, count(*) AS n_events, sum(value) AS sum_value
      FROM events GROUP BY 1, 2
    ), prof AS (
      SELECT event_type,
             avg(n_events) AS mu_n, coalesce(stddev_pop(n_events), 0) AS sigma_n,
             avg(sum_value) AS mu_value,
             coalesce(stddev_pop(sum_value), 0) AS sigma_value
      FROM wf GROUP BY event_type
    )
    SELECT wf.window_start_s, wf.event_type, wf.n_events,
           round(wf.sum_value + 1e-9, 6) AS sum_value,
           round((wf.sum_value / wf.n_events) + 1e-9, 6) AS avg_value,
           round(((wf.n_events - prof.mu_n) / (prof.sigma_n + 1e-12)) + 1e-9, 6)
             AS z_n,
           round(((wf.sum_value - prof.mu_value) / (prof.sigma_value + 1e-12))
                 + 1e-9, 6) AS z_value
    FROM wf JOIN prof USING (event_type)
    """,
)
def events_tumbling_zscores(spark, sf_dir):
    from exstream_implementation_spark.streaming.scoring import (
        reference_profile,
        score_against_profile,
    )

    ev = _batch_events(spark, sf_dir)
    wf = (
        ev.groupBy(F.window("event_time", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    scored = score_against_profile(wf, reference_profile(wf))
    return scored.select(
        F.unix_timestamp("window_start").alias("window_start_s"),
        "event_type",
        "n_events",
        stable_round(F.col("sum_value"), 6).alias("sum_value"),
        stable_round(F.col("sum_value") / F.col("n_events"), 6).alias("avg_value"),
        "z_n",
        "z_value",
    )


# tumbling features alone (covered by events_tumbling_zscores in the catalog;
# kept for the package API and streaming parity tests)
def events_tumbling_window(spark, sf_dir):
    from exstream_implementation_spark.streaming.features import windowed_features

    wf = windowed_features(_batch_events(spark, sf_dir), "1 hour")
    return wf.select(
        F.unix_timestamp("window_start").alias("window_start_s"),
        "event_type",
        "n_events",
        "sum_value",
        "avg_value",
    )


# --- sliding window (2h window, 1h slide): each event lands in 2 windows ----
@query(
    "events_sliding_window",
    oracle="""
    WITH hours AS (
      SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_s, value
      FROM events
    ), assigned AS (
      SELECT hour_s - 3600 AS window_start_s, value FROM hours
      UNION ALL
      SELECT hour_s AS window_start_s, value FROM hours
    )
    SELECT window_start_s, count(*) AS n_events,
           round(sum(value) + 1e-9, 6) AS sum_value
    FROM assigned GROUP BY window_start_s
    """,
)
def events_sliding_window(spark, sf_dir):
    ev = _batch_events(spark, sf_dir)
    win = F.window("event_time", "2 hours", "1 hour")
    return (
        ev.groupBy(win.alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.unix_timestamp("win.start").alias("window_start_s"),
            "n_events",
            "sum_value",
        )
    )


# --- session windows (per-user, 30-minute inactivity gap) --------------------
# Spark's session_window start = first event, end = last event + gap; the
# oracle reproduces that with the classic lag/flag/cumsum sessionization.
@query(
    "events_session_windows",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, value
      FROM events
    ),
    flagged AS (
      SELECT *, CASE WHEN ts_s - lag(ts_s) OVER (PARTITION BY user_id
                                                 ORDER BY ts_s) > 1800
                     THEN 1 ELSE 0 END AS new_session
      FROM e
    ),
    sess AS (
      SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_s
                                       ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, min(ts_s) AS session_start_s,
           max(ts_s) + 1800 AS session_end_s,
           count(*) AS n_events, round(sum(value), 6) AS sum_value
    FROM sess GROUP BY user_id, session_id
    """,
)
def events_session_windows(spark, sf_dir):
    ev = _batch_events(spark, sf_dir)
    # truncate event_time to whole seconds so both engines bucket identically
    ev = ev.withColumn("event_time_s", F.date_trunc("second", F.col("event_time")))
    return (
        ev.groupBy(
            F.session_window("event_time_s", "30 minutes").alias("win"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp("win.start").alias("session_start_s"),
            F.unix_timestamp("win.end").alias("session_end_s"),
            "n_events",
            "sum_value",
        )
    )
