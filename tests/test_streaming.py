"""M6 streaming-layer tests: windowed features, stream-static scoring, and the
stateful online segmentation-entropy operator — each streaming result is
cross-checked against its batch twin (unified-API parity) or a driver-side
reference implementation."""

import math

import pytest
from pyspark.sql import functions as F

from exstream_implementation_spark.streaming.features import windowed_features
from exstream_implementation_spark.streaming.scoring import (
    reference_profile,
    score_against_profile,
)
from exstream_implementation_spark.streaming.source import (
    events_batch_as_stream_input,
    events_stream,
)
from exstream_implementation_spark.streaming.stateful import (
    batch_segmentation_entropy_reference,
    online_segmentation_entropy,
)

SF_DIR = "/root/testdata/sf0.001"


def run_stream_to_memory(sdf, name, output_mode="append"):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    # awaitTermination returns False (no raise) on timeout — assert it so a
    # slow run fails loudly instead of reading a half-populated sink
    assert q.awaitTermination(300), f"stream {name} did not drain in 300s"
    return sdf.sparkSession.table(name)


def rows_as_set(df, cols):
    return {tuple(r) for r in df.select(*cols).collect()}


def test_windowed_features_stream_matches_batch(spark):
    batch = windowed_features(events_batch_as_stream_input(spark, SF_DIR))
    stream = windowed_features(events_stream(spark, SF_DIR))
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    # complete mode emits every window → exact batch parity
    got_complete = run_stream_to_memory(stream, "wf_complete", "complete")
    assert rows_as_set(got_complete, cols) == rows_as_set(batch, cols)
    # append mode only finalizes windows past the watermark → strict subset
    # (the trailing still-open windows are withheld by design)
    got_append = run_stream_to_memory(stream, "wf_append", "append")
    append_rows = rows_as_set(got_append, cols)
    assert append_rows < rows_as_set(batch, cols)
    assert len(append_rows) > 0


def test_sliding_window_counts(spark):
    batch = events_batch_as_stream_input(spark, SF_DIR)
    slid = windowed_features(batch, "2 hours", slide_duration="1 hour")
    tumb = windowed_features(batch, "1 hour")
    # every event lands in exactly 2 sliding windows vs 1 tumbling window
    assert (
        slid.agg(F.sum("n_events")).first()[0]
        == 2 * tumb.agg(F.sum("n_events")).first()[0]
    )


def test_stream_static_scoring(spark):
    batch_wf = windowed_features(events_batch_as_stream_input(spark, SF_DIR))
    profile = reference_profile(batch_wf)
    scored_stream = score_against_profile(
        windowed_features(events_stream(spark, SF_DIR)), profile, z_threshold=1.5
    )
    got = run_stream_to_memory(scored_stream, "scored_mem")
    want = score_against_profile(batch_wf, profile, z_threshold=1.5)
    cols = ["window_start", "event_type", "z_n", "z_value", "is_anomalous"]
    # append mode: finalized windows only → non-empty strict subset of batch
    got_rows = rows_as_set(got, cols)
    assert got_rows and got_rows < rows_as_set(want, cols)
    # profile is exhaustive → no null z-scores
    assert got.filter(F.col("z_n").isNull()).count() == 0


def test_online_segmentation_entropy_matches_reference(spark):
    src = events_stream(spark, SF_DIR).select(
        F.col("event_type").alias("key"),
        F.col("ts").alias("seq"),
        (F.col("value") > 50.0).cast("long").alias("label"),
    )
    got = run_stream_to_memory(
        online_segmentation_entropy(src), "seg_mem", output_mode="update"
    )
    # driver-side oracle: same scan per key over ts-sorted labels
    import pandas as pd  # noqa: F401

    pdf = (
        events_batch_as_stream_input(spark, SF_DIR)
        .select("event_type", "ts", (F.col("value") > 50.0).cast("long").alias("label"))
        .toPandas()
        .sort_values(["event_type", "ts"])
    )
    by_key = {
        k: batch_segmentation_entropy_reference(g["label"].to_numpy())
        for k, g in pdf.groupby("event_type")
    }
    rows = {r["key"]: r for r in got.collect()}
    assert set(rows) == set(by_key)
    for k, want in by_key.items():
        assert rows[k]["seg_entropy"] == pytest.approx(want, abs=1e-9)
        assert rows[k]["n_rows"] == (pdf["event_type"] == k).sum()


def test_entropy_identity_hand_case():
    # [0,0,1,1]: one closed segment of len 2, n=4 → (ln4·2 − 2·ln2)/4 = ln2/2
    assert batch_segmentation_entropy_reference([0, 0, 1, 1]) == pytest.approx(
        math.log(2) / 2
    )
    # all-equal labels: nothing closes → 0.0 (Q2: final segment dropped)
    assert batch_segmentation_entropy_reference([1, 1, 1]) == 0.0
    assert batch_segmentation_entropy_reference([]) == 0.0


def test_online_explanation_trigger(spark):
    """Paper §6.3 loop: scored stream → flagged windows → foreachBatch runs
    the batch explainer; trigger→explanation must land well under the paper's
    30 s target at this scale."""
    import time

    from exstream_implementation_spark.sources import events_trace
    from exstream_implementation_spark.streaming.explain_trigger import (
        start_online_explainer,
    )

    batch_wf = windowed_features(events_batch_as_stream_input(spark, SF_DIR))
    profile = reference_profile(batch_wf)
    scored = score_against_profile(
        windowed_features(events_stream(spark, SF_DIR)), profile, z_threshold=3.0
    )
    trace = events_trace(spark, SF_DIR, bucket_seconds=3600)
    sink = []
    t0 = time.time()
    q = start_online_explainer(spark, scored, trace, sink)
    q.awaitTermination(120)
    elapsed = time.time() - t0
    assert sink, "no explanations produced — threshold too high for fixture?"
    for _batch_id, row in sink:
        assert row["trace_id"] == "events"
        assert row["exp_size"] == len(row["explanation"]) >= 1
    assert elapsed < 30, f"trigger→explanation took {elapsed:.1f}s (paper: <30s)"


def test_session_window_streaming_matches_batch(spark):
    """session_window works unbounded too: with a watermark, closed sessions
    stream out in append mode as a subset of the batch sessionization."""
    batch = events_batch_as_stream_input(spark, SF_DIR)
    stream = events_stream(spark, SF_DIR).withWatermark("event_time", "2 hours")

    def sessions(df):
        return (
            df.groupBy(
                F.session_window("event_time", "30 minutes").alias("win"), "user_id"
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("win.start").alias("session_start"), "user_id", "n_events"
            )
        )

    got = run_stream_to_memory(sessions(stream), "sess_mem", "append")
    got_rows = rows_as_set(got, ["session_start", "user_id", "n_events"])
    want_rows = rows_as_set(
        sessions(batch), ["session_start", "user_id", "n_events"]
    )
    assert got_rows and got_rows <= want_rows
    # nearly everything closes before end-of-stream at this watermark
    assert len(got_rows) > 0.9 * len(want_rows)


def test_streaming_exact_dedup(spark):
    """Stateful streaming dedup: dropDuplicates on a watermarked stream — the
    streaming twin of the dedup_exact batch query (state = one key per id
    within the watermark horizon)."""
    stream = events_stream(spark, SF_DIR).withWatermark("event_time", "1 hour")
    deduped = stream.dropDuplicates(["event_id"])
    got = run_stream_to_memory(
        deduped.select("event_id"), "dedup_mem", "append"
    )
    batch = events_batch_as_stream_input(spark, SF_DIR)
    assert got.count() == batch.select("event_id").distinct().count()
    assert got.distinct().count() == got.count()


def test_streaming_parquet_sink_roundtrip(spark, tmp_path):
    """writeStream → parquet sink with checkpoint, read back and reconcile —
    the durable-output path a production deployment uses."""
    out = str(tmp_path / "wf_out")
    ckpt = str(tmp_path / "wf_ckpt")
    wf = windowed_features(events_stream(spark, SF_DIR))
    q = (
        wf.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    back = spark.read.parquet(out)
    batch = windowed_features(events_batch_as_stream_input(spark, SF_DIR))
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    # append mode: finalized windows only — subset of batch, non-empty
    got = rows_as_set(back, cols)
    assert got and got < rows_as_set(batch, cols)


def test_transform_with_state_welford_matches_batch(spark):
    """Spark-4 transformWithStateInPandas path: lifetime per-key moments from
    the state store must converge to the batch avg/var over a finite replay.

    Requires protobuf (the transformWithState Python worker protocol) — not
    shipped in this container, so the test gates on the import; the operator
    itself is plain Spark 4 API and runs on any real cluster."""
    pytest.importorskip("google.protobuf")
    from exstream_implementation_spark.streaming.welford import online_moments

    # transformWithState requires the RocksDB state store provider
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    src = events_stream(spark, SF_DIR).select(
        F.col("event_type").alias("key"), F.col("value").cast("double")
    )
    got = run_stream_to_memory(online_moments(src), "welford_mem",
                               output_mode="update")
    # update mode emits one row per key per batch: keep the final (max n) row
    import pandas as pd  # noqa: F401

    last = {
        r["key"]: r
        for r in got.orderBy("n").collect()  # later rows overwrite earlier
    }
    want = {
        r["event_type"]: r
        for r in events_batch_as_stream_input(spark, SF_DIR)
        .groupBy("event_type")
        .agg(
            F.count("value").alias("n"),
            F.avg("value").alias("mean"),
            F.sqrt(F.var_pop("value")).alias("std_pop"),
        )
        .collect()
    }
    assert set(last) == set(want)
    for k, w in want.items():
        assert last[k]["n"] == w["n"]
        assert last[k]["mean"] == pytest.approx(w["mean"], rel=1e-9)
        assert last[k]["std_pop"] == pytest.approx(w["std_pop"], rel=1e-9)


def _attribution_join(views, clicks):
    """view→click attribution: clicks within 30 min after a view by the same
    user — the canonical stream-stream interval join (state pruned by both
    watermarks + the time bound)."""
    return views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_time") >= F.col("v_time"))
        & (F.col("c_time") <= F.col("v_time") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select("v_user", "v_time", "c_time", "v_id", "c_id")


def _split_views_clicks(src):
    views = src.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_time").alias("v_time"),
        F.col("event_id").alias("v_id"),
    )
    clicks = src.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_time").alias("c_time"),
        F.col("event_id").alias("c_id"),
    )
    return views, clicks


def test_stream_stream_interval_join_matches_batch(spark):
    """Inner stream-stream joins emit on match (watermarks only bound state),
    so a full availableNow replay must reproduce the batch join exactly."""
    src = events_stream(spark, SF_DIR)
    views, clicks = _split_views_clicks(src)
    joined = _attribution_join(
        views.withWatermark("v_time", "1 hour"),
        clicks.withWatermark("c_time", "1 hour"),
    )
    got = run_stream_to_memory(joined, "ssj_mem")

    bviews, bclicks = _split_views_clicks(events_batch_as_stream_input(spark, SF_DIR))
    want = _attribution_join(bviews, bclicks)
    cols = ["v_user", "v_time", "c_time", "v_id", "c_id"]
    assert rows_as_set(got, cols) == rows_as_set(want, cols)
    assert got.count() > 0


def test_online_feature_rewards_matches_driver_oracle(spark):
    """Online C7 (arrival-ordered segmentation + exact class entropy): the
    streamed lifetime reward must equal a driver-side recomputation over the
    same event-time ordering."""
    import math

    from exstream_implementation_spark.streaming.stateful import (
        online_feature_rewards,
    )

    src = events_stream(spark, SF_DIR).select(
        F.col("event_type").alias("key"),
        F.col("ts").alias("seq"),
        (F.col("value") > 50.0).cast("long").alias("label"),
    )
    got = run_stream_to_memory(
        online_feature_rewards(src), "rewards_mem", output_mode="update"
    )
    rows = {r["key"]: r for r in got.orderBy("n_rows").collect()}

    pdf = (
        events_batch_as_stream_input(spark, SF_DIR)
        .select("event_type", "ts", (F.col("value") > 50.0).cast("long").alias("label"))
        .toPandas()
        .sort_values(["event_type", "ts"])
    )
    for k, g in pdf.groupby("event_type"):
        labs = g["label"].to_numpy()
        seg = batch_segmentation_entropy_reference(labs)
        n, n_ano = len(labs), int(labs.sum())
        p_a = n_ano / n
        cls = (
            -p_a * math.log2(p_a) - (1 - p_a) * math.log2(1 - p_a)
            if 0 < n_ano < n
            else 0.0
        )
        r = rows[k]
        assert r["n_rows"] == n and r["n_ano"] == n_ano
        assert r["seg_entropy"] == pytest.approx(seg, abs=1e-9)
        assert r["class_entropy"] == pytest.approx(cls, abs=1e-9)
        want_reward = cls / seg if seg > 0 else 0.0
        assert r["reward"] == pytest.approx(want_reward, rel=1e-9)


def test_checkpointed_restart_is_exactly_once(spark, tmp_path):
    """Kill a checkpointed file-source→file-sink stream mid-replay, restart
    it, drain: the output must equal the input exactly — no loss, no
    duplicates. This is the operational contract that makes the streaming
    layer production-usable (checkpoint + idempotent sink = exactly-once)."""
    from exstream_implementation_spark.streaming.source import (
        EVENTS_STREAM_SCHEMA,
        events_batch_as_stream_input,
    )

    src_dir, out_dir, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    ev = events_batch_as_stream_input(spark, SF_DIR).drop("event_time")
    ev.repartition(4).write.parquet(src_dir)
    n_total = ev.count()

    def start():
        sdf = (
            spark.readStream.schema(EVENTS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        return (
            sdf.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    # stop between micro-batches (one file per batch): whatever committed
    # stays; the restart must resume from the checkpoint, not from scratch
    import time

    while not q.recentProgress and q.isActive:
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)

    q2 = start()
    q2.awaitTermination(120)

    got = spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(out_dir)
    assert got.count() == n_total
    assert got.select("event_id").distinct().count() == n_total


def test_online_scorer_end_to_end_matches_batch(spark, tmp_path):
    """Full streaming loop (stateful C7 → leap → assembly in ONE streaming
    query) converges to the batch pipeline bit-for-bit when each feature's
    points arrive in the batch engine's (value, type_data, ts) sort order."""
    from pyspark.sql import Window

    from exstream_implementation_spark.operators.leap import (
        assemble_explanations,
        reward_leap_filter,
    )
    from exstream_implementation_spark.operators.rewards import (
        single_feature_rewards,
    )
    from exstream_implementation_spark.plans.exstream_sql import (
        EVENT_TYPES,
        _events_melted,
    )
    from exstream_implementation_spark.streaming.online_scorer import (
        start_online_reward_scorer,
    )

    melted = _events_melted(spark, SF_DIR)

    # batch side: C7 (sorted mode) → round → C8 → assembly
    rewards = single_feature_rewards(
        melted, [f"{t}_n" for t in EVENT_TYPES]
    ).withColumn(
        "reward", F.round("reward", 6)
    )
    want = {
        r["ano_key"]: (list(r["features"]), list(r["feature_orders"]))
        for r in assemble_explanations(reward_leap_filter(rewards)).collect()
    }

    # stream side: seq = the batch sort order per feature
    w = Window.partitionBy("ano_key", "feature").orderBy(
        "value", "type_data", "timestamp"
    )
    pts = melted.select(
        "ano_key",
        "feature",
        "feature_order",
        F.row_number().over(w).alias("seq"),
        F.col("type_data").cast("long").alias("label"),
    )
    src_dir = str(tmp_path / "melted_src")
    pts.coalesce(1).write.parquet(src_dir)
    stream = (
        spark.readStream.schema(pts.schema).parquet(src_dir)
    )
    sink = []
    q = start_online_reward_scorer(spark, stream, sink)
    q.awaitTermination(120)
    assert sink, "online scorer produced no explanations"
    got = {}
    for _bid, row in sink:  # last emission per ano_key wins (update stream)
        got[row["ano_key"]] = (
            list(row["features"]),
            list(row["feature_orders"]),
        )
    assert got == want


def test_online_scorer_state_survives_across_batches(spark, tmp_path):
    """Feeding the same points as TWO micro-batches (prefix then suffix per
    key) must end at the same explanation as one batch — the stateful C7
    tuples carry across batches; emissions refresh as rewards evolve."""
    from pyspark.sql import Window

    from exstream_implementation_spark.plans.exstream_sql import _events_melted
    from exstream_implementation_spark.streaming.online_scorer import (
        start_online_reward_scorer,
    )

    melted = _events_melted(spark, SF_DIR)
    w = Window.partitionBy("ano_key", "feature").orderBy(
        "value", "type_data", "timestamp"
    )
    pts = melted.select(
        "ano_key",
        "feature",
        "feature_order",
        F.row_number().over(w).alias("seq"),
        F.col("type_data").cast("long").alias("label"),
    ).persist()
    cut = pts.groupBy("feature").agg(
        (F.max("seq") / 2).cast("long").alias("half")
    )
    src_dir = tmp_path / "batches"
    src_dir.mkdir()
    # file 1 = each key's first half, file 2 = the rest (lexicographic file
    # order == processing order for the file streaming source)
    half = pts.join(F.broadcast(cut), "feature")
    half.filter(F.col("seq") <= F.col("half")).drop("half").coalesce(
        1
    ).write.parquet(str(src_dir / "b=0"))
    half.filter(F.col("seq") > F.col("half")).drop("half").coalesce(
        1
    ).write.parquet(str(src_dir / "b=1"))

    stream = (
        spark.readStream.schema(pts.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir) + "/b=*")
    )
    sink = []
    q = start_online_reward_scorer(spark, stream, sink)
    q.awaitTermination(180)
    batch_ids = {b for b, _ in sink}
    assert len(batch_ids) >= 2, f"expected >=2 micro-batches, got {batch_ids}"

    # final state == single-batch run
    single_dir = str(tmp_path / "single")
    pts.coalesce(1).write.parquet(single_dir)
    sink1 = []
    q1 = start_online_reward_scorer(
        spark, spark.readStream.schema(pts.schema).parquet(single_dir), sink1
    )
    q1.awaitTermination(180)
    last = {r["ano_key"]: tuple(r["feature_orders"]) for _, r in sink}
    last1 = {r["ano_key"]: tuple(r["feature_orders"]) for _, r in sink1}
    assert last == last1


def _melted_points(spark):
    from pyspark.sql import Window

    from exstream_implementation_spark.plans.exstream_sql import _events_melted

    melted = _events_melted(spark, SF_DIR)
    w = Window.partitionBy("ano_key", "feature").orderBy(
        "value", "type_data", "timestamp"
    )
    return melted.select(
        "ano_key",
        "feature",
        "feature_order",
        F.row_number().over(w).alias("seq"),
        F.col("type_data").cast("long").alias("label"),
    )


def test_online_scorer_restart_parity(spark, tmp_path):
    """Kill-and-restart with checkpoint_dir (stateful C7 recovery) +
    state_dir (serving-view journal rebuild) must end at the same
    explanations as an uninterrupted run: the restarted query only sees new
    files, so any key untouched after the restart exists purely in the
    journal."""
    from exstream_implementation_spark.streaming.online_scorer import (
        start_online_reward_scorer,
    )

    pts = _melted_points(spark).persist()
    cut = pts.groupBy("feature").agg(
        (F.max("seq") / 2).cast("long").alias("half")
    )
    half = pts.join(F.broadcast(cut), "feature")
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")

    # run 1: only the first half exists; availableNow drains it and stops
    # (this IS the kill point — driver process state is discarded)
    half.filter(F.col("seq") <= F.col("half")).drop("half").coalesce(
        1
    ).write.parquet(str(src_dir / "b=0"))
    sink_a = []
    q = start_online_reward_scorer(
        spark,
        spark.readStream.schema(pts.schema).parquet(str(src_dir) + "/b=*"),
        sink_a,
        checkpoint_dir=ckpt,
        state_dir=state,
    )
    q.awaitTermination(180)
    assert sink_a, "first run emitted nothing"

    # run 2: second half lands; fresh query + fresh serving view, same dirs
    half.filter(F.col("seq") > F.col("half")).drop("half").coalesce(
        1
    ).write.parquet(str(src_dir / "b=1"))
    sink_b = []
    q2 = start_online_reward_scorer(
        spark,
        spark.readStream.schema(pts.schema).parquet(str(src_dir) + "/b=*"),
        sink_b,
        checkpoint_dir=ckpt,
        state_dir=state,
    )
    q2.awaitTermination(180)
    assert sink_b, "restarted run emitted nothing"

    # uninterrupted control run over the full point set
    single = str(tmp_path / "single")
    pts.coalesce(1).write.parquet(single)
    sink_c = []
    q3 = start_online_reward_scorer(
        spark, spark.readStream.schema(pts.schema).parquet(single), sink_c
    )
    q3.awaitTermination(180)
    pts.unpersist()

    last_restart = {
        r["ano_key"]: (tuple(r["features"]), tuple(r["feature_orders"]))
        for _, r in sink_a + sink_b
    }
    last_control = {
        r["ano_key"]: (tuple(r["features"]), tuple(r["feature_orders"]))
        for _, r in sink_c
    }
    assert last_restart == last_control


def test_reward_serving_view_reloads_evicted_anomaly(spark, tmp_path):
    """LRU-evicted anomaly touched again: its other features' rewards must
    come back from the journal BEFORE the merged view is served, not only at
    the next restart — otherwise the leap filter ranks an incomplete set."""
    from exstream_implementation_spark.streaming.online_scorer import (
        _SEP,
        RewardServingView,
    )

    state = str(tmp_path / "log")
    view = RewardServingView(spark, state_dir=state, max_view_anomalies=1)

    def batch(rows, bid):
        df = spark.createDataFrame(
            [(f"{a}{_SEP}{f}{_SEP}{o}", n, rw) for a, f, o, n, rw in rows],
            "key string, n_rows long, reward double",
        )
        view.apply_batch(df, bid)

    # anomaly A gets two features, then B's activity evicts A
    batch([("A", "f1", 0, 10, 0.9), ("A", "f2", 1, 10, 0.5)], 0)
    batch([("B", "g1", 0, 5, 0.7)], 1)
    assert ("A", "f1", 0) not in view.latest  # A evicted
    # A touched again with ONLY f2 — f1 must be journal-reloaded
    batch([("A", "f2", 1, 12, 0.6)], 2)
    assert view.latest[("A", "f1", 0)] == 0.9
    assert view.latest[("A", "f2", 1)] == 0.6

    # a fresh view rebuilt from the log agrees on A's full reward set
    view2 = RewardServingView(spark, state_dir=state)
    assert view2.latest[("A", "f1", 0)] == 0.9
    assert view2.latest[("A", "f2", 1)] == 0.6


def _view_batch(spark, view, rows, bid):
    from exstream_implementation_spark.streaming.online_scorer import _SEP

    df = spark.createDataFrame(
        [(f"{a}{_SEP}{f}{_SEP}{o}", n, rw) for a, f, o, n, rw in rows],
        "key string, n_rows long, reward double",
    )
    return view.apply_batch(df, bid)


def test_serving_view_eviction_requires_state_dir(spark):
    """Evicting without a journal permanently loses rewards — the view must
    refuse the combination instead of silently serving partial sets."""
    from exstream_implementation_spark.streaming.online_scorer import (
        RewardServingView,
    )

    with pytest.raises(ValueError, match="state_dir"):
        RewardServingView(spark, state_dir=None, max_view_anomalies=5)


def test_serving_view_epoch_beats_stale_batch_ids(spark, tmp_path):
    """Restart WITHOUT a checkpoint restarts Spark batch ids at 0; the
    journal's epoch counter must keep the new run's rewards ahead of the
    old run's higher batch ids."""
    from exstream_implementation_spark.streaming.online_scorer import (
        RewardServingView,
    )

    state = str(tmp_path / "log")
    run1 = RewardServingView(spark, state_dir=state)
    _view_batch(spark, run1, [("A", "f1", 0, 10, 0.9)], 57)

    run2 = RewardServingView(spark, state_dir=state)  # "restart", ids reset
    assert run2.latest[("A", "f1", 0)] == 0.9  # rebuilt from run 1
    _view_batch(spark, run2, [("A", "f1", 0, 20, 0.4)], 0)  # fresher value
    assert run2.latest[("A", "f1", 0)] == 0.4

    run3 = RewardServingView(spark, state_dir=state)
    # without the epoch, run 1's batch_id=57 row would shadow run 2's 0
    assert run3.latest[("A", "f1", 0)] == 0.4


def test_serving_view_rebuild_honors_anomaly_bound(spark, tmp_path):
    """Rebuild must load only the most recently touched max_view_anomalies
    anomalies (bounded driver memory), and a touch on an unloaded anomaly
    must reload its full journaled reward set before serving."""
    from exstream_implementation_spark.streaming.online_scorer import (
        RewardServingView,
    )

    state = str(tmp_path / "log")
    writer = RewardServingView(spark, state_dir=state)
    _view_batch(spark, writer, [("A", "f1", 0, 10, 0.9), ("A", "f2", 1, 10, 0.5)], 0)
    _view_batch(spark, writer, [("B", "g1", 0, 5, 0.7)], 1)
    _view_batch(spark, writer, [("C", "h1", 0, 5, 0.8)], 2)

    bounded = RewardServingView(spark, state_dir=state, max_view_anomalies=1)
    assert set(a for a, _, _ in bounded.latest) == {"C"}  # most recent only
    # touching evicted-at-rebuild A reloads BOTH its journaled features
    _view_batch(spark, bounded, [("A", "f2", 1, 12, 0.6)], 0)
    assert bounded.latest[("A", "f1", 0)] == 0.9
    assert bounded.latest[("A", "f2", 1)] == 0.6


def test_serving_view_compaction_bounds_log(spark, tmp_path):
    """After compact_every appends the journal is rewritten to latest-per-
    key: file count drops, and a fresh rebuild still serves the newest
    values."""
    import glob

    from exstream_implementation_spark.streaming.online_scorer import (
        RewardServingView,
    )

    state = str(tmp_path / "log")
    view = RewardServingView(spark, state_dir=state, compact_every=4)
    for bid in range(4):
        _view_batch(spark, view, [("A", "f1", 0, 10 + bid, 0.1 * (bid + 1))], bid)
    files_after = glob.glob(f"{state}/*.parquet")
    rows = spark.read.parquet(state).count()
    assert rows == 1  # latest-per-key only — 4 appended versions compacted
    assert len(files_after) >= 1
    rebuilt = RewardServingView(spark, state_dir=state)
    assert rebuilt.latest[("A", "f1", 0)] == pytest.approx(0.4)


def test_round_half_up_matches_spark_round(spark):
    """canon.round_half_up must agree with F.round on exact half boundaries
    where Python's builtin round (half-even) diverges."""
    from exstream_implementation_spark.canon import round_half_up

    values = [0.1234565, 0.1234575, 2.5e-07, 1.0000005, 0.5, -0.1234565]
    df = spark.createDataFrame([(v,) for v in values], "v double").select(
        F.round("v", 6).alias("r")
    )
    spark_rounded = [r["r"] for r in df.collect()]
    for v, want in zip(values, spark_rounded):
        assert round_half_up(v, 6) == want, v
    # and the builtin is genuinely different somewhere in this list,
    # otherwise this test pins nothing
    assert any(round(v, 6) != round_half_up(v, 6) for v in values)


def test_unbounded_rate_source_explanation_latency(spark):
    """The paper's online envelope (exstream.pdf §6.3): with a genuinely
    unbounded source (rate) and a processing-time trigger, the first
    explanation must arrive well inside 30 s of query start."""
    from exstream_implementation_spark.streaming.unbounded import run_unbounded_scorer

    latency, emissions = run_unbounded_scorer(
        spark, rows_per_second=500, trigger="1 second", max_wait_s=30.0
    )
    assert emissions, "no explanation within the 30 s envelope"
    assert latency < 30.0
    _bid, row = emissions[0]
    assert row["ano_key"] == "rate_0"
    assert len(row["features"]) >= 1


def test_session_window_drops_late_arrivals(spark, tmp_path):
    """Late-data policy of the windowed aggregations (the DROP side): an
    event arriving behind the watermark belongs to a session whose state
    is gone — it must NOT reopen or grow the session."""
    import time as _time

    d = str(tmp_path / "late_events")

    def w(rows):
        spark.createDataFrame(
            rows, "user_id long, event_time string"
        ).withColumn("event_time", F.to_timestamp("event_time")).coalesce(
            1
        ).write.mode("append").parquet(d)

    # batch 1: user 1's session (2 events) + a clock event pushing the
    # watermark to 12:00 (1 h delay)
    w([(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:05:00"),
       (2, "2024-01-01 13:00:00")])
    _time.sleep(1.5)  # distinct mtimes → files drain in write order
    # batch 2: only a clock — the 12:00 watermark now EVICTS + EMITS user 1's
    # closed session (a late row merging into still-live state would be
    # admitted; eviction must happen in an earlier batch than the late row)
    w([(2, "2024-01-01 13:30:00")])
    _time.sleep(1.5)
    # batch 3: a LATE user-1 event (10:10, far behind the watermark, state
    # evicted) + an on-time one
    w([(1, "2024-01-01 10:10:00"), (3, "2024-01-01 13:35:00")])

    stream = (
        spark.readStream.schema("user_id long, event_time timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .withWatermark("event_time", "1 hour")
    )
    sessions = (
        stream.groupBy(
            F.session_window("event_time", "30 minutes").alias("win"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("session_start"), "user_id", "n_events"
        )
    )
    got = run_stream_to_memory(sessions, "late_sess_mem", "append")
    u1 = {(str(r["session_start"]), r["n_events"])
          for r in got.filter(F.col("user_id") == 1).collect()}
    # the closed session emitted with its ON-TIME events only — the late
    # 10:10 event neither grew it to 3 nor opened a new 10:10 session
    assert u1 == {("2024-01-01 10:00:00", 2)}
