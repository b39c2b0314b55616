"""Scale-linearity smoke: run headline queries at sf0.1 and at an N×
replicated copy, and report wall-time ratios.

The correctness gate proves the plans RIGHT at sf0.01; this proves the
plans' cost model — a query whose plan survives scale-up should grow
sub-linearly to linearly in wall time (fixed per-job overheads amortize),
while an accidental all-pairs/quadratic shape shows up immediately as a
ratio ≫ N.

Replication keeps per-query semantics meaningful at N×:
  * events   — ids and timestamps shift by the replica span, so the trace
    gets N× longer (more buckets), users get N× more events;
  * documents — doc_id shifts and every token gets a per-replica prefix, so
    replica token spaces are disjoint: each replica keeps its own duplicate
    clusters and cross-replica pairs share nothing (true pairs grow
    linearly, as in a real corpus of distinct sources);
  * lineitem — order keys shift; supplier/part keys repeat (per-key groups
    grow N×, the realistic shape for per-entity aggregates).

Usage:  PYTHONPATH=/root/repo python tools/scale_smoke.py [N]
Writes the scaled tables under /root/repo/.scale/x{N}/ (gitignored) and
prints one JSON line {"replication": N, "queries": {name: {t1, tN, ratio}}}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

BASE = "/root/testdata/sf0.1"
SCALE_ROOT = "/root/repo/.scale"
# bump whenever build_scaled's replication logic changes — stale replicas
# (built by an older version) are detected via the _SUCCESS fingerprint and
# rebuilt instead of silently reused
BUILD_VERSION = "v2"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
QUERIES_TO_TIME = [
    "exstream_rewards",
    "topk_until_leap",
    "groupby_salted_skew",
    "agg_stats_suite",
    "window_fn_suite",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "corpus_curation",
    "text_metrics_suite",
    "text_fingerprint",
    "filter_union_suite",
    "positional_join",
    "ann_bucketed_topk",
    "emb_neardup_lsh",
    "semdedup_prune",
    "corpus_decontaminate",
    "text_repetition",
    "text_pii_redact",
    "sample_source_mix",
    "events_tumbling_zscores",
    "events_sliding_window",
    "events_session_windows",
    "mass_profile_chunked",
    "tpch_suite",
    "multimodal_suite",
    # the flagship end-to-end pipeline (resolved via __spark_entry__)
    "exstream_explain",
]


def build_scaled(spark, n: int) -> str:
    from pyspark.sql import functions as F

    out = f"{SCALE_ROOT}/x{n}"
    done = f"{out}/_SUCCESS"
    # the sentinel records the replication logic's version + params: a replica
    # built by an OLDER build_scaled is rebuilt, not silently reused (the
    # determinism claim only holds while this function is unchanged)
    fingerprint = f"{BUILD_VERSION}:n={n}:base={BASE}"
    if os.path.isdir(out):
        # deterministic build — a COMPLETE existing replica with a MATCHING
        # fingerprint is identical to what a rebuild would produce; reuse
        # unless explicitly disabled.  A missing/partial sentinel (interrupted
        # build) or a stale fingerprint forces the rebuild.
        stamp = None
        if os.path.exists(done):
            with open(done) as fh:
                stamp = fh.read().strip()
        if (
            stamp == fingerprint
            and os.environ.get("SPARK_GRAFT_SMOKE_REBUILD") != "1"
        ):
            return out
        shutil.rmtree(out)
    os.makedirs(out)
    # small dims: straight copies (broadcast sides stay broadcast-sized)
    for t in TABLES:
        if t in ("events", "documents", "lineitem", "embeddings"):
            continue
        shutil.copy(f"{BASE}/{t}.parquet", f"{out}/{t}.parquet")

    from exstream_implementation_spark.sources.tables import ts_seconds

    ev = spark.read.parquet(f"{BASE}/events.parquet")
    ts_is_timestamp = ev.schema["ts"].dataType.typeName().startswith("timestamp")
    sec = ts_seconds(ev.schema["ts"].dataType)
    bounds = ev.agg(
        F.max("event_id").alias("mx_id"),
        (F.max(sec) - F.min(sec) + 3600).alias("span_s"),
    ).first()
    scaled = None
    for i in range(n):
        if ts_is_timestamp:
            shifted = F.col("ts") + F.expr(
                f"INTERVAL {i * int(bounds['span_s'])} SECOND"
            )
        else:
            shifted = F.col("ts") + i * int(bounds["span_s"]) * 1_000_000_000
        rep = ev.select(
            (F.col("event_id") + i * (bounds["mx_id"] + 1)).alias("event_id"),
            shifted.alias("ts"),
            "user_id", "event_type", "value", "props",
        )
        scaled = rep if scaled is None else scaled.unionByName(rep)
    # events replica written Z-ordered on (ts, user_id): the smoke then
    # exercises the production layout writer end-to-end, and time-range /
    # per-user queries read a stats-prunable layout (operators/zorder.py)
    from exstream_implementation_spark.operators.zorder import write_zordered

    write_zordered(scaled, f"{out}/events.parquet", ["ts", "user_id"])

    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    mx_doc = docs.agg(F.max("doc_id")).first()[0]
    scaled = None
    for i in range(n):
        tagged = F.expr(
            f"array_join(transform(split(text, '\\\\s+'),"
            f" x -> concat('r{i}', x)), ' ')"
        )
        rep = docs.select(
            (F.col("doc_id") + i * (mx_doc + 1)).alias("doc_id"),
            tagged.alias("text"),
            "lang", "source",
        ).withColumn("n_chars", F.length("text"))
        scaled = rep if scaled is None else scaled.unionByName(rep)
    scaled.write.parquet(f"{out}/documents.parquet")

    # embeddings: vec_id shifts per replica; each replica applies ONE shared
    # coordinate sign-flip pattern (bits of the replica index).  A uniform
    # per-replica sign vector cancels in every intra-replica dot product, so
    # each replica keeps the base corpus's near-dup geometry EXACTLY (true
    # pairs grow linearly), while distinct sign patterns push replicas into
    # different orthants (expected cross-replica cosine ~0 — no quadratic
    # cross-replica pair blowup, the realistic many-distinct-sources shape).
    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    mx_vec = emb.agg(F.max("vec_id")).first()[0]
    scaled = None
    for i in range(n):
        rep = emb.select(
            (F.col("vec_id") + i * (mx_vec + 1)).alias("vec_id"),
            F.expr(
                f"transform(embedding, (x, j) ->"
                f" cast(x * (1 - 2 * ((int(floor({i} / pow(2, pmod(j, 5)))))"
                f" % 2)) AS float))"
            ).alias("embedding"),
            "label",
        )
        scaled = rep if scaled is None else scaled.unionByName(rep)
    scaled.write.parquet(f"{out}/embeddings.parquet")

    li = spark.read.parquet(f"{BASE}/lineitem.parquet")
    mx_ord = li.agg(F.max("l_orderkey")).first()[0]
    scaled = None
    for i in range(n):
        rep = li.withColumn(
            "l_orderkey", F.col("l_orderkey") + i * (mx_ord + 1)
        )
        scaled = rep if scaled is None else scaled.unionByName(rep)
    scaled.write.parquet(f"{out}/lineitem.parquet")
    with open(f"{out}/_SUCCESS", "w") as fh:
        fh.write(fingerprint)
    return out


def _rewards_raw(spark, sf_dir):
    """ONE anomaly spanning the full RAW events trace (1 s buckets — no
    hourly pre-aggregation), rewards end to end.  Each (anomaly, feature)
    group is sorted in a single window task (the parallelism floor VERDICT
    r06 flagged), so this entry times that sort at the replica's size."""
    from pyspark.sql import functions as F

    from exstream_implementation_spark.operators.rewards import (
        single_feature_rewards,
    )
    from exstream_implementation_spark.operators.slicing import (
        melt_features,
        slice_intervals,
    )
    from exstream_implementation_spark.sources import events_trace

    trace = events_trace(spark, sf_dir, bucket_seconds=1)
    b = trace.agg(
        F.min("timestamp").alias("tmin"), F.max("timestamp").alias("tmax")
    ).first()
    tmin, tmax = b["tmin"], b["tmax"]
    span = max(tmax - tmin, 4)
    labels = spark.createDataFrame(
        [
            (
                0, "events", 1, "bursty input",
                tmin, tmin + span // 2, tmin + span // 2, tmax,
            )
        ],
        "label_row int, trace_id string, ano_id int, ano_type string, "
        "ref_start long, ref_end long, ano_start long, ano_end long",
    )
    features = [c for c in trace.columns if c not in ("timestamp", "trace_id")]
    melted = melt_features(slice_intervals(trace, labels), features)
    return single_feature_rewards(melted, features)


def _text_stage(stage):
    """text_metrics_suite broken into its three cost components so the smoke
    attributes the suite's CPU-bound tail (VERDICT r06 #7): 'tokenize' =
    split + token stats, 'langid' = the 5 lexicon membership scans,
    'quality' = stop-ratio + punctuation regexp."""

    def q(spark, sf_dir):
        from pyspark.sql import functions as F

        from exstream_implementation_spark.plans.text import (
            LEX,
            _sql_list,
            _toks,
        )
        from exstream_implementation_spark.sources import (
            load_documents_parallel,
        )

        d = load_documents_parallel(spark, sf_dir)
        if stage == "tokenize":
            d = d.withColumn("toks", _toks())
            return d.select(
                "doc_id",
                F.size("toks").alias("n_tokens"),
                F.size(F.array_distinct("toks")).alias("n_distinct"),
                (
                    F.length(F.array_join("toks", "")).cast("double")
                    / F.size("toks")
                ).alias("mean_tok_len"),
            )
        if stage == "langid":
            d = d.withColumn("toks", _toks())
            for lg, ws in LEX.items():
                d = d.withColumn(
                    f"s_{lg}",
                    F.expr(f"size(filter(toks, x -> x IN ({_sql_list(ws)})))"),
                )
            return d.select("doc_id", *[f"s_{lg}" for lg in LEX])
        if stage == "quality":
            # production fast path (translate-based punct, IN-list stops —
            # the round-7 fix that cut this stage 12×/6×; see plans/text.py)
            from exstream_implementation_spark.plans.text import (
                punct_count,
                stop_count,
            )

            d = d.withColumn("toks", _toks())
            return d.select(
                "doc_id",
                (stop_count().cast("double") / F.size("toks")).alias("stop_r"),
                (punct_count().cast("double") / F.length("text")).alias(
                    "punct_r"
                ),
            )
        raise ValueError(stage)

    return q


def _neardup_vectorized(spark, sf_dir):
    """emb_neardup_lsh over the Arrow-matmul bucket builder — the production
    scale path (the JVM fold stays the oracle-canonical catalog form)."""
    from exstream_implementation_spark.plans.similarity import (
        emb_neardup_lsh,
        lsh_buckets_vectorized,
    )

    return emb_neardup_lsh(
        spark, sf_dir, buckets=lsh_buckets_vectorized(spark, sf_dir)
    )


SPECIAL = {
    "emb_neardup_lsh_vec": _neardup_vectorized,
    "rewards_raw_window": _rewards_raw,
    "text_stage_tokenize": _text_stage("tokenize"),
    "text_stage_langid": _text_stage("langid"),
    "text_stage_quality": _text_stage("quality"),
}


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    names = sys.argv[2:] or QUERIES_TO_TIME
    sys.path.insert(0, "/root/repo")
    from exstream_implementation_spark.plans import QUERIES
    from exstream_implementation_spark.session import get_spark

    spark = get_spark(app_name="scale-smoke")
    scaled_dir = build_scaled(spark, n)

    import __spark_entry__ as entrymod

    def run(name, sf_dir):
        t0 = time.time()
        if name == "exstream_explain":
            fn = entrymod._flagship
        else:
            fn = SPECIAL.get(name) or QUERIES[name]
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 2)

    # warm-up (session init; see bench.py)
    for name in names:
        run(name, "/root/testdata/sf0.01")
    spark.catalog.clearCache()

    results = {}
    for name in names:
        t1 = run(name, BASE)
        spark.catalog.clearCache()
        tn = run(name, scaled_dir)
        spark.catalog.clearCache()
        results[name] = {
            "t_base": t1,
            f"t_x{n}": tn,
            "ratio": round(tn / t1, 2) if t1 > 0 else None,
        }
    print(json.dumps({"replication": n, "queries": results}))
    spark.stop()


if __name__ == "__main__":
    main()
