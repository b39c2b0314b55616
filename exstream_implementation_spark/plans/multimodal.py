"""Multimodal-column queries: binary payload metadata, REAL BMP/PNG decode →
pixel statistics, REAL WAV decode → amplitude statistics, and the 1→N
frame-sampling path, oracle-checked against SQL reimplementations of the
same math (see operators.multimodal).

The decode branches are real: each document gets a genuine 24-bit BMP blob,
an 8-bit PNG (zlib inflate + all five unfilters on the read side), and a
RIFF/PCM16 WAV; the workers DECODE the actual bytes, and the per-channel /
per-stream stats come from the decoded values — each oracle recomputes them
from the synthetic integer formulas, so a codec bug (row order, BGR swap,
stride padding, PNG filter math, WAV byte order or chunk walk) breaks the
hash.  JPEG is real too but lives outside the hash gate (it is lossy) —
see tests/test_jpeg.py.

Catalog slot: ``multimodal_suite`` unions the five branches canonicalized
to one schema under one oracle — same evidence as five slots, one
driver-budget entry.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from exstream_implementation_spark.operators.multimodal import (
    attach_payload,
    audio_payload_stats,
    image_payload_stats,
    sample_frames,
    IMG_H,
    IMG_W,
    N_AUDIO_SAMPLES,
    N_FRAMES,
)
from exstream_implementation_spark.plans.registry import query
from exstream_implementation_spark.sources import load_table
from exstream_implementation_spark.sources.tables import (
    load_documents_parallel,
)


# --- binary payload + metadata (pure JVM path) -------------------------------
def mm_binary_meta(spark, sf_dir):
    d = attach_payload(load_table(spark, sf_dir, "documents"))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bytes").alias("total_bytes"),
        F.min(F.md5("text")).alias("min_hash"),
    )


# The codec branches run REAL per-file encode/decode in Python workers — the
# one place in the catalog where per-row CPU, not the plan, is the cost.  Two
# r12 fixes (guide §2.5, §4.1):
#   * the testdata corpus is a single parquet file → a single scan partition,
#     so every decoder ran single-threaded while 31 cores idled;
#     ``load_documents_parallel`` repartitions ONLY when the scan
#     under-splits (a no-op on a many-file production corpus);
#   * each codec branch paid TWO Python plan nodes (encode pandas UDF →
#     JVM → decode mapInPandas) with the payload bytes crossing the
#     JVM↔Python boundary twice; the fused ``*_payload_stats`` operators
#     run the identical encode→decode round-trip inside one task, shipping
#     only ``doc_id`` in and six stat columns out.
# attach_image_payload/image_stats (and the audio pair) stay as the two-op
# chains the tests check the fused operators against.


# --- real BMP/PNG decode → per-channel pixel stats vs SQL oracle -------------
def mm_image_features(spark, sf_dir, fmt="bmp"):
    return image_payload_stats(
        load_documents_parallel(spark, sf_dir), fmt=fmt
    )


# --- frame sampling: 1 row in → N_FRAMES rows out through mapInPandas --------
def mm_frame_sample(spark, sf_dir):
    d = attach_payload(load_documents_parallel(spark, sf_dir))
    return sample_frames(d)


# --- real WAV decode → amplitude stats vs SQL oracle --------------------------
def mm_audio_features(spark, sf_dir):
    return audio_payload_stats(load_documents_parallel(spark, sf_dir))


_FRAMES_DUCK = f"""
    WITH p AS (
      SELECT doc_id, lower(hex(encode(text))) AS hx,
             octet_length(encode(text)) // {N_FRAMES} AS q
      FROM documents
    ),
    frames AS (
      SELECT doc_id, k.range::INT AS frame_idx, q::INT AS frame_bytes,
             md5(substring(hx, 2 * k.range * q + 1, 2 * q)) AS frame_hash
      FROM p, range({N_FRAMES}) k
      WHERE q > 0
    )
    SELECT doc_id, frame_idx, frame_bytes, frame_hash FROM frames
"""


@query(
    "multimodal_suite",
    oracle=f"""
    SELECT 'meta' AS branch, source AS key,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS n,
           CAST(count(*) AS DOUBLE) AS v,
           min(md5(text)) AS h
    FROM documents GROUP BY source
    UNION ALL
    SELECT 'feat' AS branch,
           doc_id::VARCHAR || ':' || c || ':' || stat AS key,
           {IMG_W * IMG_H}::BIGINT AS n,
           round(v + 1e-9, 6) AS v,
           '' AS h
    FROM (
      WITH pix AS (
        SELECT doc_id, c.range AS c,
               ((doc_id % 256) * 7 + 11 * c.range + 13 * y.range
                 + 17 * x.range) % 256 AS p
        FROM documents, range(3) c, range({IMG_H}) y, range({IMG_W}) x
      ),
      chan AS (
        -- float contract shared with operators.multimodal.image_stats:
        -- exact integer sums, then single correctly-rounded IEEE ops
        SELECT doc_id, c, avg(p) AS m,
               sqrt(greatest(avg(p * p) - avg(p) * avg(p), 0)) AS s
        FROM pix GROUP BY doc_id, c
      )
      SELECT doc_id, c, 'mean' AS stat, m AS v FROM chan
      UNION ALL
      SELECT doc_id, c, 'std', s FROM chan
    )
    UNION ALL
    SELECT 'pngfeat' AS branch,
           doc_id::VARCHAR || ':' || c || ':' || stat AS key,
           {IMG_W * IMG_H}::BIGINT AS n,
           round(v + 1e-9, 6) AS v,
           '' AS h
    FROM (
      WITH pix AS (
        -- same pixel field as 'feat': the Spark side reaches these values
        -- only by inflating a real zlib stream and unfiltering all five PNG
        -- row filters, so any codec bug breaks this branch's hash
        SELECT doc_id, c.range AS c,
               ((doc_id % 256) * 7 + 11 * c.range + 13 * y.range
                 + 17 * x.range) % 256 AS p
        FROM documents, range(3) c, range({IMG_H}) y, range({IMG_W}) x
      ),
      chan AS (
        SELECT doc_id, c, avg(p) AS m,
               sqrt(greatest(avg(p * p) - avg(p) * avg(p), 0)) AS s
        FROM pix GROUP BY doc_id, c
      )
      SELECT doc_id, c, 'mean' AS stat, m AS v FROM chan
      UNION ALL
      SELECT doc_id, c, 'std', s FROM chan
    )
    UNION ALL
    SELECT 'wav' AS branch,
           doc_id::VARCHAR || ':' || stat AS key,
           {N_AUDIO_SAMPLES}::BIGINT AS n,
           round(v + 1e-9, 6) AS v,
           '' AS h
    FROM (
      WITH smp AS (
        -- the Spark side reaches these values only by parsing a real
        -- RIFF/PCM16 container built in the workers (a byte-order, chunk-
        -- walk, or interleave bug breaks this branch's hash)
        SELECT doc_id,
               ((doc_id % 256) * 31 + 7 * i.range) % 65536 - 32768 AS s
        FROM documents, range({N_AUDIO_SAMPLES}) i
      ),
      agg AS (
        SELECT doc_id, avg(s) AS m, sqrt(avg(s * s)) AS r
        FROM smp GROUP BY doc_id
      )
      SELECT doc_id, 'amp_mean' AS stat, m AS v FROM agg
      UNION ALL
      SELECT doc_id, 'amp_rms', r FROM agg
    )
    UNION ALL
    SELECT 'frame' AS branch,
           doc_id::VARCHAR || ':' || frame_idx::VARCHAR AS key,
           CAST(frame_bytes AS BIGINT) AS n,
           CAST(0.0 AS DOUBLE) AS v,
           frame_hash AS h
    FROM ({_FRAMES_DUCK})
    """,
)
def multimodal_suite(spark, sf_dir):
    meta = mm_binary_meta(spark, sf_dir).select(
        F.lit("meta").alias("branch"),
        F.col("source").alias("key"),
        F.col("total_bytes").cast("long").alias("n"),
        F.col("n_docs").cast("double").alias("v"),
        F.col("min_hash").alias("h"),
    )

    def feat_branch(fmt, branch):
        return (
            mm_image_features(spark, sf_dir, fmt=fmt)
            .select(
                "doc_id",
                "channel",
                (F.col("width") * F.col("height")).cast("long").alias("n"),
                F.expr(
                    "stack(2, 'mean', px_mean, 'std', px_std) as (stat, fval)"
                ),
            )
            .select(
                F.lit(branch).alias("branch"),
                F.concat_ws(
                    ":", F.col("doc_id").cast("string"), "channel", "stat"
                ).alias("key"),
                "n",
                F.round(F.col("fval") + F.lit(1e-9), 6).alias("v"),
                F.lit("").alias("h"),
            )
        )

    feat = feat_branch("bmp", "feat").unionByName(
        feat_branch("png", "pngfeat")
    )
    wav = (
        mm_audio_features(spark, sf_dir)
        .select(
            "doc_id",
            F.col("n_samples").cast("long").alias("n"),
            F.expr(
                "stack(2, 'amp_mean', amp_mean, 'amp_rms', amp_rms)"
                " as (stat, fval)"
            ),
        )
        .select(
            F.lit("wav").alias("branch"),
            F.concat_ws(":", F.col("doc_id").cast("string"), "stat").alias(
                "key"
            ),
            "n",
            F.round(F.col("fval") + F.lit(1e-9), 6).alias("v"),
            F.lit("").alias("h"),
        )
    )
    frame = mm_frame_sample(spark, sf_dir).select(
        F.lit("frame").alias("branch"),
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.col("frame_idx").cast("string"),
        ).alias("key"),
        F.col("frame_bytes").cast("long").alias("n"),
        F.lit(0.0).cast("double").alias("v"),
        F.col("frame_hash").alias("h"),
    )
    return meta.unionByName(feat).unionByName(wav).unionByName(frame)
