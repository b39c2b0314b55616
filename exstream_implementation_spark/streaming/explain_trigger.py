"""Online explanation trigger — the paper's full CEP loop (exstream.pdf §6.3).

The reference only ever explains *pre-labeled* anomalies in batch
(script_1.py:118-184 takes a labels CSV).  Here the labels are produced BY the
stream: scored windows (streaming/scoring.py) that exceed the z-threshold
become anomaly intervals, each paired with the trailing reference period, and
``foreachBatch`` runs the full batch explanation pipeline (pipeline.py) on the
recorded trace for exactly those intervals.

Per the paper's efficiency target (BASELINE.md: trigger → explanation < 30 s),
the handler runs the batch pipeline itself, ``explain_anomalies``, on the
intervals one micro-batch flags.  Counted with ``statusTracker`` job groups
on the input of tests/test_streaming.py::test_online_explanation_trigger
(sf0.001), a handler call that explains runs 13 Spark jobs: the
``batch_df.isEmpty()`` check, 11 inside ``explain_flagged`` (the labels'
window and ``explain_anomalies``' pre-pass, C2 and tail collects with the
broadcasts they read) and the final ``collect``; a micro-batch that flags
nothing costs the one ``isEmpty`` job.

Scale notes: the handler receives only *flagged* windows (≪ all windows); the
trace lookup joins on a broadcast labels frame, so trigger volume, not stream
volume, drives explanation cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from exstream_implementation_spark.pipeline import ExplainConfig, explain_anomalies


def flagged_windows_to_labels(
    flagged: DataFrame,
    bucket_seconds: int = 3600,
    ref_buckets: int = 24,
) -> DataFrame:
    """Turn flagged scored windows into the engine's labels schema: the
    anomaly interval is the flagged window (inclusive end, reference
    utils/get_data.py:92-96 semantics); the reference interval is the
    ``ref_buckets`` trace buckets immediately before it ([start, end)
    exclusive end, :85-89)."""
    b = F.floor(F.unix_timestamp("window_start") / bucket_seconds).cast("long")
    return (
        flagged.select(
            b.alias("ano_start"),
            (b).alias("ano_end"),  # one-bucket anomaly: [b, b] inclusive
            (b - ref_buckets).alias("ref_start"),
            b.alias("ref_end"),  # [b - k, b) exclusive end
            F.col("event_type"),
        )
        .groupBy("ano_start", "ano_end", "ref_start", "ref_end")
        .agg(F.array_sort(F.collect_set("event_type")).alias("flagged_types"))
        .withColumn("trace_id", F.lit("events"))
        .withColumn(
            "ano_id", F.row_number().over(Window.orderBy("ano_start"))
        )
        .withColumn("label_row", F.col("ano_id") - 1)
        .withColumn("ano_type", F.lit("online"))
    )


def explain_flagged(
    trace: DataFrame,
    flagged: DataFrame,
    bucket_seconds: int = 3600,
    ref_buckets: int = 24,
    cfg: ExplainConfig | None = None,
) -> DataFrame:
    """Run the batch explanation pipeline for the intervals flagged online.
    ``trace`` is the recorded metric trace (sources.events_trace shape)."""
    labels = flagged_windows_to_labels(flagged, bucket_seconds, ref_buckets).select(
        "label_row", "trace_id", "ano_id", "ano_type",
        "ref_start", "ref_end", "ano_start", "ano_end",
    )
    cfg = cfg or ExplainConfig(instability_runs=0)
    return explain_anomalies(trace, labels, cfg)


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
        if batch_df.isEmpty():
            return
        out = explain_flagged(trace, batch_df, bucket_seconds, ref_buckets, cfg)
        for row in out.collect():
            sink.append((batch_id, row))

    return (
        flagged_stream.writeStream.outputMode("update")
        .foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
