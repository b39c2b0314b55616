"""End-to-end ONLINE reward scorer — the full streaming C7→C8→explanation
loop in one streaming query (exstream.pdf §6.3's setting; the reference never
built an online path — script_1.py only explains pre-labeled batches).

Composition (all inside one StreamingQuery, which is stateless to Spark):
  melted point stream (ano_key, feature, feature_order, seq, label)
    → ``melted_to_keyed``: (key, seq, label), key = (ano_key, feature,
      feature_order) packed into one string
    → foreachBatch handler, per micro-batch:
      1. collect the batch's raw points once — the trigger's only Spark job,
         one stage, no shuffle;
      2. ``online_feature_rewards`` (stateful.py): continue each touched
         key's C6 tuple on the driver and compute C4/C7;
      3. ``RewardServingView.apply_batch``: journal and merge the updates
         into the serving view of latest rewards;
      4. rank, leap-cut (C8) and assemble the anomalies TOUCHED THIS BATCH
         from the view's rows, and emit one refreshed explanation per
         touched anomaly (per-batch work is O(points + touched × features),
         independent of how many anomalies the view holds).

Restart durability: Spark's checkpoint holds only the source offsets; the
C6 tuples and the rewards live in the view, so a query that resumes from a
checkpoint needs ``state_dir``.  With it, every update batch is journaled to
a parquet reward log keyed by ``(epoch, batch_id)`` and the touched keys'
tuples to a state log beside it (``<state_dir>/_c6``; the leading underscore
hides it from readers of the reward log).  A new view rebuilds
latest-per-key rewards from the reward log.  The ``epoch`` is a
per-construction monotonic counter (max epoch in the log + 1), so a restart
WITHOUT a checkpoint — where Spark's batch ids restart at 0 — cannot be
shadowed by the previous run's higher batch ids; such a fresh query starts
every tuple from empty.  A query resumes when its first micro-batch has
``batch_id > 0``: the view then restores the latest journaled tuple per key,
ignoring the entries at or after that batch id — they belong to the attempt
Spark is replaying, whose journal write landed but whose commit did not
(the recovery rule of *Discretized Streams*: replay the input from the last
committed batch).  A resume without ``state_dir``, or without a state log,
raises ``ValueError`` instead of serving partial state.  Every
``COMPACT_EVERY`` journal appends both logs are rewritten down to
latest-per-key (the parquet stand-in for a compacted topic / Delta-Iceberg
merge, which is what a production deployment would use).

Scale notes: the state is O(keys) tuples in driver memory — one per
(anomaly, feature), next to its reward.  ``max_view_anomalies`` bounds both
(least recently updated anomalies are evicted; their rewards and tuples stay
durable in the logs and are reloaded — via key-prefix-pruned scans — the
next time the anomaly is touched).  The rebuild-on-start honors the same
bound: only the most recently touched ``max_view_anomalies`` anomalies are
loaded.  The driver receives every point of a trigger, rate × interval
rows, so the ingest rate one driver sustains within the trigger budget is
bounded (measured in docs/ONLINE_LATENCY.json).

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
from exstream_implementation_spark.operators.leap import (
    assemble_explanations,
    reward_leap_filter,
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
# the state log: one C6 tuple (stateful.online_feature_rewards' state) per
# touched key and batch, in a subdirectory of state_dir that parquet readers
# of the reward log skip (leading underscore)
STATE_LOG = "_c6"
STATE_COLUMNS = (
    "n_rows", "closed_len", "closed_llnl", "closed_segs", "cur_label",
    "cur_len", "n_ano",
)
STATE_SCHEMA = (
    "key string, n_rows bigint, closed_len bigint, closed_llnl double,"
    " closed_segs bigint, cur_label bigint, cur_len bigint, n_ano bigint,"
    " batch_id int, epoch int"
)
_COMPACT_TMP = "_compact_tmp"
# journal appends between compactions of both logs to latest-per-key
COMPACT_EVERY = 64


def melted_to_keyed(melted: DataFrame) -> DataFrame:
    """(ano_key, feature, feature_order, seq, label) → the reducer's
    (key, seq, label) input; key packs the composite (ano_key, feature,
    feature_order) the state is kept per."""
    return melted.select(
        F.concat_ws(
            _SEP, "ano_key", "feature", F.col("feature_order").cast("string")
        ).alias("key"),
        "seq",
        "label",
    )


class RewardServingView:
    """Latest-reward-per-(anomaly, feature) view, the C6 state tuples that
    feed it, and an optional durable parquet journal of both.

    With ``state_dir``: every update batch is appended to the reward log
    with its ``(epoch, batch_id)``, the touched keys' tuples to the state
    log, and the in-memory reward map is rebuilt from the reward log on
    construction (latest ``(epoch, batch_id, n_rows)`` wins per key) — so a
    restarted query serves its pre-restart keys too.  Without ``state_dir``
    the view is memory-only and does NOT survive restarts (fine for
    availableNow replays and tests).

    ``max_view_anomalies`` bounds driver memory on unbounded streams:
    when the number of distinct anomalies exceeds it, the least recently
    updated anomalies are dropped from the in-memory maps (the logs keep
    them durable; the next batch that touches a dropped — or never-seen —
    anomaly reloads its journaled rewards and tuples through
    key-prefix-pruned scans before anything is updated or served).  Because
    eviction without a log silently loses rewards forever,
    ``max_view_anomalies`` REQUIRES ``state_dir``.  The anomalies a batch
    touches are never evicted by that batch, since the handler serves them
    next: a batch that touches more than ``max_view_anomalies`` anomalies
    leaves the view over its bound by up to that batch's touched count until
    the next batch's eviction.  The rebuild honors the bound too: only the
    most recently touched ``max_view_anomalies`` anomalies are loaded into
    memory.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str | None = None,
        max_view_anomalies: int | None = None,
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
        # (ano_key, feature, feature_order) -> raw (unrounded) reward
        self.latest: dict[tuple[str, str, int], float] = {}
        # packed key -> C6 tuple + n_ano (stateful.online_feature_rewards)
        self.state: dict[str, tuple] = {}
        # ano_key -> (epoch, batch_id) of the last touch (for LRU eviction)
        self._touched: dict[str, tuple[int, int]] = {}
        self._epoch = 0
        self._appends = 0
        # the query's first batch id, once ``admit`` has seen it; state-log
        # entries of earlier epochs count only below it
        self._first_batch: int | None = None
        if state_dir is not None:
            self._rebuild()

    def _read_log(self, path: str) -> DataFrame | None:
        try:
            log = self.spark.read.parquet(path)
        except AnalysisException:
            return None  # first start — nothing durable yet
        if "epoch" not in log.columns:  # pre-epoch journals
            log = log.withColumn("epoch", F.lit(0))
        return log

    def _state_log(self) -> DataFrame | None:
        """This query's journaled tuples: this epoch's, plus earlier epochs'
        below the first batch id (the committed batches a resumed query
        continues from; a fresh query's first batch id is 0)."""
        log = self._read_log(os.path.join(self.state_dir, STATE_LOG))
        if log is None:
            return None
        return log.filter(
            (F.col("epoch") == self._epoch)
            | (F.col("batch_id") < (self._first_batch or 0))
        )

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

    @staticmethod
    def _of_anomalies(log: DataFrame, ano_keys) -> DataFrame:
        return log.filter(
            F.substring_index("key", _SEP, 1).isin(list(ano_keys))
        )

    def _append(self, path: str, rows: list, schema: str) -> None:
        # one file per append, however many partitions the local relation has
        local_frame(self.spark, rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    def _absorb(self, rows) -> None:
        for r in rows:
            ano_key, feature, forder = r["key"].split(_SEP)
            self.latest[(ano_key, feature, int(forder))] = r["reward"]
            touch = (r["epoch"], r["batch_id"])
            if touch > self._touched.get(ano_key, (-1, -1)):
                self._touched[ano_key] = touch

    def _absorb_state(self, log: DataFrame) -> None:
        latest = self._latest_per_key(log).select("key", *STATE_COLUMNS)
        for r in latest.collect():
            self.state[r[0]] = tuple(r[1:])

    def _rebuild(self) -> None:
        log = self._read_log(self.state_dir)
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
            log = self._of_anomalies(log, recent)
        self._absorb(
            self._latest_per_key(log)
            .select("key", "reward", "epoch", "batch_id")
            .collect()
        )

    def admit(self, ano_keys: set[str], batch_id: int) -> None:
        """Ready the view for a micro-batch that touches ``ano_keys``,
        before the reducer updates their tuples: an anomaly not in memory
        gets its journaled rewards and tuples back.  On the query's first
        micro-batch, a resumed query (``batch_id > 0``) restores the
        journaled tuples of the anomalies in the view.

        Raises ``ValueError`` when a query resumes without ``state_dir`` or
        without a state log: its tuples would restart from empty and the
        view would serve rewards of a partial history.
        """
        if self._first_batch is None:
            self._first_batch = batch_id
            if batch_id > 0:
                self._restore()
        self._admit_newcomers(ano_keys, batch_id)

    def _restore(self) -> None:
        log = None if self.state_dir is None else self._state_log()
        if log is None:
            raise ValueError(
                "the query resumes from a checkpoint (first batch id "
                f"{self._first_batch}) but there is no state log to restore "
                "its C6 tuples from: pass the state_dir of the run that "
                "wrote the checkpoint"
            )
        if self.max_view_anomalies is not None:
            log = self._of_anomalies(log, self._touched)
        self._absorb_state(log)

    def _admit_newcomers(self, ano_keys: set[str], batch_id: int) -> None:
        # an anomaly not currently in the view (LRU-evicted, or simply not
        # seen since this process started) may have journaled rewards for
        # OTHER features — reload them first, else the leap filter would
        # rank an incomplete reward set and emit a wrong explanation
        newcomers = ano_keys - self._touched.keys()
        if newcomers and self.state_dir is not None:
            self._reload(newcomers)
        for ano_key in newcomers:
            self._touched.setdefault(ano_key, (self._epoch, batch_id))

    def apply_batch(self, updates: list, batch_id: int) -> set[str]:
        """Journal + merge one micro-batch's reward updates (rows carrying
        key, n_rows, reward — ``stateful.online_feature_rewards``' output);
        returns the set of anomalies touched by it (empty set: nothing
        changed)."""
        if not updates:
            return set()
        if self.state_dir is not None:
            self._append(
                self.state_dir,
                [
                    (r["key"], r["n_rows"], r["reward"], batch_id, self._epoch)
                    for r in updates
                ],
                JOURNAL_SCHEMA,
            )
            self._appends += 1
        touched = {r["key"].split(_SEP, 1)[0] for r in updates}
        self._admit_newcomers(touched, batch_id)
        for r in updates:
            ano_key, feature, forder = r["key"].split(_SEP)
            self.latest[(ano_key, feature, int(forder))] = r["reward"]
            self._touched[ano_key] = (self._epoch, batch_id)
        states = [
            (r["key"], *self.state[r["key"]], batch_id, self._epoch)
            for r in updates
            if r["key"] in self.state
        ]
        self._evict(keep=touched)
        if self.state_dir is None:
            return touched
        if self._appends >= COMPACT_EVERY:
            self._compact()
        if states:
            # after the compaction: the compacted state log then holds only
            # committed batches, so a replay of this one still finds the
            # tuples it continues from
            self._append(
                os.path.join(self.state_dir, STATE_LOG), states, STATE_SCHEMA
            )
        return touched

    def _reload(self, ano_keys: set[str]) -> None:
        """Restore the journaled latest rewards and tuples of specific
        anomalies (the pruned-scan twin of ``_rebuild``: the logs are
        filtered on the anomaly prefix, so the read stays O(touched
        history), not O(log))."""
        log = self._read_log(self.state_dir)
        if log is None:
            return
        self._absorb(
            self._latest_per_key(self._of_anomalies(log, ano_keys))
            .select("key", "reward", "epoch", "batch_id")
            .collect()
        )
        states = self._state_log()
        if states is not None:
            self._absorb_state(self._of_anomalies(states, ano_keys))

    def _evict(self, keep: set[str]) -> None:
        """Drop least recently updated anomalies down to
        ``max_view_anomalies``, never one in ``keep`` (this batch's touched
        set, which the handler serves next)."""
        if self.max_view_anomalies is None:
            return
        excess = len(self._touched) - self.max_view_anomalies
        if excess <= 0:
            return
        stale = [
            ak
            for ak in sorted(self._touched, key=self._touched.__getitem__)
            if ak not in keep
        ][:excess]
        drop = set(stale)
        for ak in stale:
            del self._touched[ak]
        for k in [k for k in self.latest if k[0] in drop]:
            del self.latest[k]
        for k in [k for k in self.state if k.split(_SEP, 1)[0] in drop]:
            del self.state[k]

    def _compact(self) -> None:
        """Rewrite both logs down to latest-per-key so log size, file
        count, and rebuild/reload cost stay bounded on unbounded streams.
        The state log keeps this query's tuples only (``_state_log``)."""
        if "://" in self.state_dir:
            return  # only safe to swap atomically-enough on a local path
        log = self._read_log(self.state_dir)
        if log is not None:
            self._rewrite(
                self.state_dir,
                self._latest_per_key(log).select(
                    "key", "n_rows", "reward", "batch_id", "epoch"
                ),
            )
        states = self._state_log()
        if states is not None:
            self._rewrite(
                os.path.join(self.state_dir, STATE_LOG),
                self._latest_per_key(states).select(
                    "key", *STATE_COLUMNS, "batch_id", "epoch"
                ),
            )
        self._appends = 0

    @staticmethod
    def _rewrite(path: str, latest: DataFrame) -> None:
        """Replace the log at ``path`` by ``latest``.  Local-filesystem
        implementation (write a snapshot to an underscore-prefixed subdir —
        invisible to parquet readers — then swap); a production deployment
        would use a table format with compaction/merge (Delta, Iceberg)
        instead of raw parquet.  The state log inside the reward log's
        directory is left to its own rewrite."""
        tmp = os.path.join(path, _COMPACT_TMP)
        latest.coalesce(1).write.mode("overwrite").parquet(tmp)
        for entry in os.listdir(path):
            if entry in (_COMPACT_TMP, STATE_LOG):
                continue
            full = os.path.join(path, entry)
            if os.path.isdir(full):
                shutil.rmtree(full)
            else:
                os.remove(full)
        for entry in os.listdir(tmp):
            os.rename(os.path.join(tmp, entry), os.path.join(path, entry))
        os.rmdir(tmp)

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
    (source offsets) and ``state_dir`` (the C6 tuples and the serving
    view); a query that resumes from ``checkpoint_dir`` without
    ``state_dir`` fails with ``ValueError`` (``RewardServingView.admit``).
    With neither, the query is a replay-only pipeline.  (``state_dir``
    alone is also safe: the journal's epoch counter keeps a fresh run's
    batches ordered after the previous run's, even though Spark's batch
    ids restart at 0 without a checkpoint.)  Use ``processing_trigger``
    (e.g. ``"1 second"``) with ``trigger_available_now=False`` for an
    unbounded source.
    """
    view = RewardServingView(spark, state_dir, max_view_anomalies)

    def handle(batch_df: DataFrame, batch_id: int):
        # the trigger's only Spark job: the raw points, one stage, no shuffle
        rows = batch_df.collect()
        keys = {r[0] for r in rows}
        view.admit({k.split(_SEP, 1)[0] for k in keys}, batch_id)
        updates = online_feature_rewards(view.state, rows)
        touched = view.apply_batch(updates, batch_id)
        if not touched:
            return
        # only the touched anomalies re-rank, on the driver rows: per-batch
        # work is O(touched × features), not O(view), and runs no Spark job —
        # the sink receives one refreshed explanation per anomaly that
        # actually changed
        kept = reward_leap_filter(view.as_rows(only=touched))
        for row in assemble_explanations(kept):
            sink.append((batch_id, row))

    writer = (
        melted_to_keyed(melted_stream)
        .writeStream.outputMode("append")
        .foreachBatch(handle)
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_trigger is not None:
        writer = writer.trigger(processingTime=processing_trigger)
    return writer.start()
