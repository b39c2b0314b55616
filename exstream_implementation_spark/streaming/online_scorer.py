"""End-to-end ONLINE reward scorer — the full streaming C7→C8→explanation
loop in one streaming query (exstream.pdf §6.3's setting; the reference never
built an online path — script_1.py only explains pre-labeled batches).

Composition (all inside one StreamingQuery):
  melted point stream (ano_key, feature, feature_order, seq, label)
    → ``online_feature_rewards``   stateful C7: O(1) state per
      (ano_key, feature), update-mode reward emissions per micro-batch
    → foreachBatch handler: collect the update batch once and merge it into
      the serving view of latest rewards, then rank, leap-cut (C8) and
      assemble the anomalies TOUCHED THIS BATCH on the driver, from the
      view's rows, and emit one refreshed explanation per touched anomaly
      (per-batch work is O(touched × features), independent of how many
      anomalies the view holds; the trigger runs one Spark job, the
      stateful update's).

Restart durability: the stateful stage restores its per-key counters from the
checkpoint, but after recovery it only re-emits keys touched by new data — a
serving view held purely in driver memory would silently forget every
(anomaly, feature) not updated since the restart.  ``RewardServingView``
therefore journals every update batch to a parquet reward log keyed by
``(epoch, batch_id)`` and rebuilds latest-per-key from it on start.  The
``epoch`` is a per-construction monotonic counter (max epoch in the log + 1),
so a restart WITHOUT a checkpoint — where Spark's batch ids restart at 0 —
cannot be shadowed by the previous run's higher batch ids.  foreachBatch may
replay the last uncommitted batch after a crash; replays carry identical
lifetime values, so latest-per-key is idempotent.  Every ``compact_every``
journal appends the log is rewritten down to latest-per-key (the parquet
stand-in for a compacted topic / Delta-Iceberg merge, which is what a
production deployment would use).

Scale notes: the stateful stage shards on (ano_key, feature) across executors
with O(1) bytes per key; the per-batch leap/assembly input is the touched
anomalies' reward rows.  Driver memory for the serving view is bounded by
``max_view_anomalies`` (least recently updated anomalies are evicted; their
rewards stay durable in the log and are reloaded — via a key-prefix-pruned
scan — the next time the anomaly is touched).  The rebuild-on-start honors
the same bound: only the most recently touched ``max_view_anomalies``
anomalies are loaded.

Ordering semantics: rewards segment in ``seq`` order within a batch and
arrival order across batches (see online_feature_rewards).  Feeding each
feature's rows in the batch engine's (value, type_data) sort order makes the
streaming result converge to the batch pipeline bit-for-bit — pinned by
tests/test_streaming.py::test_online_scorer_end_to_end_matches_batch; the
kill-and-restart parity contract is pinned by
tests/test_streaming.py::test_online_scorer_restart_parity.  Serving-side
rounding uses canon.round_half_up (Spark F.round semantics), not Python's
half-even ``round`` — at an exact half boundary the two disagree and a
reward tie/rank could silently diverge from the batch pipeline.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.utils import AnalysisException

from exstream_implementation_spark.canon import round_half_up
# the driver-row C8, bound under the batch operators' names: exbench's
# tracer wraps these two attributes of this module (exbench/layers.py
# SPAN_TARGETS, pinned by tests/test_span_targets.py)
from exstream_implementation_spark.operators.leap import (
    assemble_rows as assemble_explanations,
    leap_cut_rows as reward_leap_filter,
)
from exstream_implementation_spark.streaming.stateful import (
    online_feature_rewards,
)
from exstream_implementation_spark.session import local_frame

_SEP = "\x1f"
# decimals the served rewards are rounded to before ranking — the batch
# pipeline's cross-engine float determinism boundary (reward_round=6)
REWARD_ROUND = 6
# the reward log's parquet schema; batch_id and epoch are NOT NULL, as the
# literal columns of logs written from the update DataFrame are, so every log
# file carries one schema (tests/test_streaming.py pins it)
JOURNAL_SCHEMA = (
    "key string, n_rows bigint, reward double,"
    " batch_id int NOT NULL, epoch int NOT NULL"
)


def melted_to_keyed(melted: DataFrame) -> DataFrame:
    """(ano_key, feature, feature_order, seq, label) → the stateful
    operator's (key, seq, label) input; key packs the composite so state
    shards on (ano_key, feature)."""
    return melted.select(
        F.concat_ws(
            _SEP, "ano_key", "feature", F.col("feature_order").cast("string")
        ).alias("key"),
        "seq",
        "label",
    )


class RewardServingView:
    """Latest-reward-per-(anomaly, feature) view with an optional durable
    parquet log.

    With ``state_dir``: every update batch is appended to the log with its
    ``(epoch, batch_id)`` and the in-memory map is rebuilt from the log on
    construction (latest ``(epoch, batch_id, n_rows)`` wins per key) — so a
    restarted query serves the union of checkpoint-restored and
    pre-restart keys.  Without ``state_dir`` the view is memory-only and
    does NOT survive restarts (fine for availableNow replays and tests).

    ``max_view_anomalies`` bounds driver memory on unbounded streams:
    when the number of distinct anomalies exceeds it, the least recently
    updated anomalies are dropped from the in-memory map (the log keeps
    them durable; the next update that touches a dropped — or never-seen —
    anomaly reloads its journaled rewards through a key-prefix-pruned scan
    before anything is served).  Because eviction without a log silently
    loses rewards forever, ``max_view_anomalies`` REQUIRES ``state_dir``.
    The rebuild honors the bound too: only the most recently touched
    ``max_view_anomalies`` anomalies are loaded into memory.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str | None = None,
        max_view_anomalies: int | None = None,
        compact_every: int | None = 64,
    ):
        if max_view_anomalies is not None and state_dir is None:
            raise ValueError(
                "max_view_anomalies requires state_dir: evicting without a "
                "journal permanently loses the evicted rewards and the view "
                "would serve wrong (partial) explanations on re-admission"
            )
        self.spark = spark
        self.state_dir = state_dir
        self.max_view_anomalies = max_view_anomalies
        self.compact_every = compact_every
        # (ano_key, feature, feature_order) -> raw (unrounded) reward
        self.latest: dict[tuple[str, str, int], float] = {}
        # ano_key -> (epoch, batch_id) of the last touch (for LRU eviction)
        self._touched: dict[str, tuple[int, int]] = {}
        self._epoch = 0
        self._appends = 0
        if state_dir is not None:
            self._rebuild()

    def _read_log(self) -> DataFrame | None:
        try:
            log = self.spark.read.parquet(self.state_dir)
        except AnalysisException:
            return None  # first start — nothing durable yet
        if "epoch" not in log.columns:  # pre-epoch journals
            log = log.withColumn("epoch", F.lit(0))
        return log

    @staticmethod
    def _latest_per_key(log: DataFrame) -> DataFrame:
        w = Window.partitionBy("key").orderBy(
            F.desc("epoch"), F.desc("batch_id"), F.desc("n_rows")
        )
        return (
            log.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def _absorb(self, rows) -> None:
        for r in rows:
            ano_key, feature, forder = r["key"].split(_SEP)
            self.latest[(ano_key, feature, int(forder))] = r["reward"]
            touch = (r["epoch"], r["batch_id"])
            if touch > self._touched.get(ano_key, (-1, -1)):
                self._touched[ano_key] = touch

    def _rebuild(self) -> None:
        log = self._read_log()
        if log is None:
            return
        self._epoch = (log.agg(F.max("epoch")).first()[0] or 0) + 1
        if self.max_view_anomalies is not None:
            # bounded rebuild: most recently touched anomalies only — the
            # whole point of the bound is that the driver never holds the
            # full anomaly population
            recent = [
                r["ano"]
                for r in (
                    log.groupBy(
                        F.substring_index("key", _SEP, 1).alias("ano")
                    )
                    .agg(
                        F.max(F.struct("epoch", "batch_id")).alias("touch")
                    )
                    .orderBy(F.desc("touch"))
                    .limit(self.max_view_anomalies)
                    .collect()
                )
            ]
            log = log.filter(
                F.substring_index("key", _SEP, 1).isin(recent)
            )
        self._absorb(
            self._latest_per_key(log)
            .select("key", "reward", "epoch", "batch_id")
            .collect()
        )

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> set[str]:
        """Journal + merge one update micro-batch; returns the set of
        anomalies touched by it (empty set: nothing changed).  ``batch_df``
        must carry (key, n_rows, reward)."""
        # the batch's only job: O(touched keys) reward scalars
        updates = batch_df.collect()
        if not updates:
            return set()
        if self.state_dir is not None:
            local_frame(
                self.spark,
                [
                    (r["key"], r["n_rows"], r["reward"], batch_id, self._epoch)
                    for r in updates
                ],
                JOURNAL_SCHEMA,
            ).write.mode("append").parquet(self.state_dir)
            self._appends += 1
        touched = {r["key"].split(_SEP, 1)[0] for r in updates}
        # an anomaly not currently in the view (LRU-evicted, or simply not
        # seen since this process started) may have journaled rewards for
        # OTHER features — reload them first, else the leap filter would
        # rank an incomplete reward set and emit a wrong explanation
        newcomers = touched - self._touched.keys()
        if newcomers and self.state_dir is not None:
            self._reload(newcomers)
        for r in updates:
            ano_key, feature, forder = r["key"].split(_SEP)
            self.latest[(ano_key, feature, int(forder))] = r["reward"]
            self._touched[ano_key] = (self._epoch, batch_id)
        self._evict()
        if (
            self.compact_every is not None
            and self.state_dir is not None
            and self._appends >= self.compact_every
        ):
            self._compact()
        return touched

    def _reload(self, ano_keys: set[str]) -> None:
        """Restore the journaled latest rewards for specific anomalies (the
        pruned-scan twin of ``_rebuild``: the log is filtered on the anomaly
        prefix, so the read stays O(touched history), not O(log))."""
        log = self._read_log()
        if log is None:
            return
        log = log.filter(
            F.substring_index("key", _SEP, 1).isin(list(ano_keys))
        )
        self._absorb(
            self._latest_per_key(log)
            .select("key", "reward", "epoch", "batch_id")
            .collect()
        )

    def _evict(self) -> None:
        if self.max_view_anomalies is None:
            return
        excess = len(self._touched) - self.max_view_anomalies
        if excess <= 0:
            return
        stale = sorted(self._touched, key=self._touched.__getitem__)[:excess]
        drop = set(stale)
        for ak in stale:
            del self._touched[ak]
        for k in [k for k in self.latest if k[0] in drop]:
            del self.latest[k]

    def _compact(self) -> None:
        """Rewrite the journal down to latest-per-key so log size, file
        count, and rebuild/reload cost stay bounded on unbounded streams.
        Local-filesystem implementation (write snapshot to an
        underscore-prefixed subdir — invisible to parquet readers — then
        swap); a production deployment would use a table format with
        compaction/merge (Delta, Iceberg) instead of raw parquet."""
        if "://" in self.state_dir:
            return  # only safe to swap atomically-enough on a local path
        log = self._read_log()
        if log is None:
            return
        tmp = os.path.join(self.state_dir, "_compact_tmp")
        (
            self._latest_per_key(log)
            .select("key", "n_rows", "reward", "batch_id", "epoch")
            .write.mode("overwrite")
            .parquet(tmp)
        )
        for entry in os.listdir(self.state_dir):
            if entry == "_compact_tmp":
                continue
            path = os.path.join(self.state_dir, entry)
            if os.path.isdir(path):
                shutil.rmtree(path)
            else:
                os.remove(path)
        for entry in os.listdir(tmp):
            os.rename(
                os.path.join(tmp, entry), os.path.join(self.state_dir, entry)
            )
        os.rmdir(tmp)
        self._appends = 0

    def as_rows(self, only: set[str] | None = None):
        """(ano_key, feature, feature_order, reward) rows — all anomalies,
        or just ``only``.  Rounds to ``REWARD_ROUND`` dp with Spark's F.round
        semantics (HALF_UP on the shortest decimal repr) so the ranking the
        leap filter sees is bit-identical to the batch pipeline's rounded
        rewards."""
        return [
            (ak, f, fo, round_half_up(rw, REWARD_ROUND))
            for (ak, f, fo), rw in self.latest.items()
            if only is None or ak in only
        ]


def start_online_reward_scorer(
    spark: SparkSession,
    melted_stream: DataFrame,
    sink: list,
    trigger_available_now: bool = True,
    state_dir: str | None = None,
    checkpoint_dir: str | None = None,
    processing_trigger: str | None = None,
    max_view_anomalies: int | None = None,
):
    """Wire the full online loop; explanation rows append to ``sink`` as
    (batch_id, row) — one row per anomaly TOUCHED by that micro-batch.
    Returns the StreamingQuery (caller awaits/stops).

    For a restartable production deployment pass BOTH ``checkpoint_dir``
    (stateful-operator recovery) and ``state_dir`` (serving-view recovery);
    with neither, the query is a replay-only pipeline.  (``state_dir``
    alone is also safe: the journal's epoch counter keeps a fresh run's
    batches ordered after the previous run's, even though Spark's batch
    ids restart at 0 without a checkpoint.)  Use ``processing_trigger``
    (e.g. ``"1 second"``) with ``trigger_available_now=False`` for an
    unbounded source.
    """
    rewards_stream = online_feature_rewards(melted_to_keyed(melted_stream))
    view = RewardServingView(spark, state_dir, max_view_anomalies)

    def handle(batch_df: DataFrame, batch_id: int):
        touched = view.apply_batch(batch_df, batch_id)
        if not touched:
            return
        # only the touched anomalies re-rank, on the driver rows: per-batch
        # work is O(touched × features), not O(view), and runs no Spark job —
        # the sink receives one refreshed explanation per anomaly that
        # actually changed
        kept = reward_leap_filter(view.as_rows(only=touched))
        for row in assemble_explanations(kept):
            sink.append((batch_id, row))

    writer = rewards_stream.writeStream.outputMode("update").foreachBatch(handle)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_trigger is not None:
        writer = writer.trigger(processingTime=processing_trigger)
    return writer.start()
