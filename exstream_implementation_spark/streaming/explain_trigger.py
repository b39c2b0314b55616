"""Online explanation trigger — the paper's full CEP loop (exstream.pdf §6.3).

The reference only ever explains *pre-labeled* anomalies in batch
(script_1.py:118-184 takes a labels CSV).  Here the labels are produced BY the
stream: scored windows (streaming/scoring.py) that exceed the z-threshold
become anomaly intervals, each paired with the trailing reference period, and
``foreachBatch`` runs the full batch explanation pipeline (pipeline.py) on the
recorded trace for exactly those intervals.

Per the paper's efficiency target (BASELINE.md: trigger → explanation < 30 s),
the handler runs the batch pipeline itself, ``explain_anomalies``, on the
intervals one micro-batch flags.  The labels are numbered on the driver from
one collect of the flagged windows' buckets, so the micro-batch's scoring
plan runs once and the explain queries read a local relation.  Counted with
``statusTracker`` job groups on the input of
tests/test_streaming.py::test_online_explanation_trigger (sf0.001), a
handler call on new intervals runs 10 Spark jobs: that collect and 9 inside
``explain_anomalies`` (its pre-pass, C2 and tail collects with the
broadcasts they read); a micro-batch that flags nothing costs the one
collect.

Scale notes: the handler receives only *flagged* windows (≪ all windows); the
trace lookup joins on a broadcast labels frame, so trigger volume, not stream
volume, drives explanation cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from exstream_implementation_spark.pipeline import ExplainConfig, explain_anomalies
from exstream_implementation_spark.schemas import LABELS_SCHEMA
from exstream_implementation_spark.session import local_frame


def flagged_windows_to_labels(
    flagged: DataFrame,
    bucket_seconds: int = 3600,
    ref_buckets: int = 24,
) -> DataFrame:
    """Turn flagged scored windows into the engine's labels schema: the
    anomaly interval is the flagged window (inclusive end, reference
    utils/get_data.py:92-96 semantics); the reference interval is the
    ``ref_buckets`` trace buckets immediately before it ([start, end)
    exclusive end, :85-89).  One label per flagged bucket, whatever event
    types flagged it: the flagged windows' buckets (far fewer than all
    windows) are collected once, deduplicated and numbered by
    ``ano_start`` on the driver."""
    b = F.floor(F.unix_timestamp("window_start") / bucket_seconds).cast("long")
    buckets = sorted({r[0] for r in flagged.select(b).collect()})
    rows = [
        # one-bucket anomaly [bucket, bucket] inclusive; reference
        # [bucket - ref_buckets, bucket) exclusive
        (i, "events", i + 1, "online", bucket - ref_buckets, bucket, bucket, bucket)
        for i, bucket in enumerate(buckets)
    ]
    return local_frame(flagged.sparkSession, rows, LABELS_SCHEMA)


def explain_flagged(
    trace: DataFrame,
    flagged: DataFrame,
    bucket_seconds: int = 3600,
    ref_buckets: int = 24,
    cfg: ExplainConfig | None = None,
) -> list:
    """Run the batch explanation pipeline for the intervals flagged online
    and return its rows; ``[]`` without an explain call when nothing is
    flagged.  ``trace`` is the recorded metric trace (sources.events_trace
    shape)."""
    labels = flagged_windows_to_labels(flagged, bucket_seconds, ref_buckets)
    if labels.isEmpty():
        return []
    cfg = cfg or ExplainConfig(instability_runs=0)
    return explain_anomalies(trace, labels, cfg).collect()


def start_online_explainer(
    spark: SparkSession,
    scored_stream: DataFrame,
    trace: DataFrame,
    sink: list,
    bucket_seconds: int = 3600,
    ref_buckets: int = 24,
    cfg: ExplainConfig | None = None,
):
    """Wire scored stream → foreachBatch explainer.  Explanation rows are
    appended to ``sink`` (driver-side list) as (batch_id, row) — a real
    deployment would write a Parquet/Kafka sink instead.  Returns the
    StreamingQuery (caller awaits/stops)."""
    flagged_stream = scored_stream.filter(F.col("is_anomalous"))

    def handle(batch_df: DataFrame, batch_id: int):
        for row in explain_flagged(trace, batch_df, bucket_seconds, ref_buckets, cfg):
            sink.append((batch_id, row))

    return (
        flagged_stream.writeStream.outputMode("update")
        .foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
