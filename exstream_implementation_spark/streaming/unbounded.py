"""Genuinely unbounded online explanation — rate source + processing-time
triggers.

Everything else in ``streaming/`` replays finite file sources with
``availableNow`` (bounded, deterministic — what the oracle gate can check).
This module is the paper's actual online setting (exstream.pdf §6.3: a
trigger fires and the explanation must arrive in under 30 s): an unbounded
``rate`` source feeds the same C7 → C8 → assembly loop through
``start_online_reward_scorer`` with a processing-time trigger, so
explanations refresh continuously as points arrive, forever.  Each trigger
collects its points to the driver, which continues the per-key C6 tuples
(streaming/online_scorer.py): the driver sees rate × trigger interval rows
per trigger.

The rate source is Spark's built-in unbounded generator (row = (timestamp,
value)); ``synthetic_melted_rate_stream`` maps it deterministically onto the
melted point schema the scorer consumes.  On a cluster the same wiring takes
a Kafka/landing-zone source instead — only the first ``select`` changes.

Label pattern: feature k flips its label every ``k+1`` points, so features
differ in segmentation entropy (low k → high flip rate → many segments →
high seg-entropy penalty) and the reward-leap filter has a real gradient to
cut on — the plumbing demo still exercises meaningful operator behavior.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

DEFAULT_FEATURES = ("f_cpu", "f_heap", "f_net", "f_io", "f_queue")


def synthetic_melted_rate_stream(
    spark: SparkSession,
    rows_per_second: int = 500,
    features: tuple[str, ...] = DEFAULT_FEATURES,
) -> DataFrame:
    """Unbounded melted point stream (ano_key, feature, feature_order, seq,
    label) from the rate source; round-robin across features, monotone seq
    per feature, deterministic labels."""
    n = len(features)
    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )
    forder = (F.col("value") % n).cast("int")
    seq = F.floor(F.col("value") / n).cast("long")
    return src.select(
        F.lit("rate_0").alias("ano_key"),
        F.element_at(
            F.array(*[F.lit(f) for f in features]), forder + F.lit(1)
        ).alias("feature"),
        forder.alias("feature_order"),
        seq.alias("seq"),
        (F.floor(seq / (forder + F.lit(1))) % 2).cast("long").alias("label"),
    )


def run_unbounded_scorer(
    spark: SparkSession,
    rows_per_second: int = 500,
    trigger: str = "1 second",
    max_wait_s: float = 30.0,
    stop_after_first: bool = True,
):
    """Start the online scorer on the unbounded stream and wait for the first
    explanation.  Returns (latency_seconds, emissions) — latency is
    query-start → first explanation in the sink, the paper's trigger→
    explanation envelope.  With ``stop_after_first=False`` the caller owns
    the returned (query, sink) pair and must stop it."""
    from exstream_implementation_spark.streaming.online_scorer import (
        start_online_reward_scorer,
    )

    stream = synthetic_melted_rate_stream(spark, rows_per_second)
    sink: list = []
    t0 = time.monotonic()
    q = start_online_reward_scorer(
        spark,
        stream,
        sink,
        trigger_available_now=False,
        processing_trigger=trigger,
    )
    if not stop_after_first:
        return q, sink
    try:
        while not sink and time.monotonic() - t0 < max_wait_s:
            time.sleep(0.25)
        latency = time.monotonic() - t0
    finally:
        q.stop()
    return latency, list(sink)
