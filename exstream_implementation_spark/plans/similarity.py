"""Similarity search over the ``embeddings`` table (array<float>, 64-dim).

Brute-force cosine top-k is the exactness baseline; random-hyperplane LSH
bucketing is the 100 TB scale path (bucket assignment is a map-side
expression; the search join is keyed on the bucket, never cartesian; at
cluster scale the bucket id becomes the partitioning/bucketing key so query
fan-out touches one partition per probed bucket).

Dot products run in double precision as a strict left fold (Spark
``aggregate`` HOF ≡ DuckDB ``list_dot_product`` on DOUBLE[]), rounded at the
boundary so both engines hash identically.

The LSH hyperplane weights are md5-derived pseudo-randoms, so both engines
materialize bit-identical planes with no RNG.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from exstream_implementation_spark.cache import session_persist

from exstream_implementation_spark.plans.registry import query
from exstream_implementation_spark.sources import load_table
from exstream_implementation_spark.session import local_frame

DIM = 64
N_PLANES = 4
N_QUERIES = 5
TOP_K = 10

# expected vectors per LSH bucket; planes scale as log2(n / occupancy) so the
# quadratic bucket self-join stays O(n · occupancy) instead of O(n²/2^planes)
TARGET_BUCKET_OCC = 64
_PLANES_CACHE: dict[str, int] = {}


def _active_planes(spark, sf_dir) -> int:
    """Hyperplanes per LSH table for this corpus.

    A FIXED plane count means bucket occupancy — and the candidate join's
    per-bucket quadratic cost — grows linearly with corpus size (the 10×
    scale smoke showed a 45× blowup).  Scaling planes with log2(n) holds
    occupancy ~constant.  Floored at ``N_PLANES``, which is what the DuckDB
    oracle CTE is generated with: the floor is exact for the correctness
    gate's corpora (n ≤ 1024 at sf ≤ 0.01), so the hash compare sees
    identical buckets; larger corpora (bench sf0.1, scale smokes, prod) get
    finer tables with no oracle in play.
    """
    if sf_dir not in _PLANES_CACHE:
        n = load_table(spark, sf_dir, "embeddings").count()
        _PLANES_CACHE[sf_dir] = max(
            N_PLANES, math.ceil(math.log2(max(n, 2) / TARGET_BUCKET_OCC))
        )
    return _PLANES_CACHE[sf_dir]

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
    " cast(0.0 as double), (acc, v) -> acc + v)"
)
_NORM = (
    "sqrt(aggregate({a}, cast(0.0 as double),"
    " (acc, v) -> acc + cast(v as double) * cast(v as double)))"
)


def _cosine_expr(a: str, b: str) -> str:
    return (
        f"({_DOT.format(a=a, b=b)}) / "
        f"(({_NORM.format(a=a)}) * ({_NORM.format(a=b)}))"
    )


# --- brute-force cosine top-k (SQL-fold form).  Not a catalog entry: the
#     Arrow-vectorized twin below produces the identical result under the
#     identical oracle and is the plan you'd run at scale; this form remains
#     the recall-gate baseline in tests. --------------------------------------
def ann_topk_cosine(spark, sf_dir):
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qemb")
    )
    scored = (
        q.crossJoin(e)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(_cosine_expr("qemb", "embedding")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id", "neighbor_id", F.round("cos", 5).alias("cosine"), "rank"
        )
    )


# --- LSH bucket assignment: L hash tables × k random hyperplanes -------------
# One table of k planes has low recall on weakly-clustered embeddings (the
# testdata's top-5 cosines sit at ~0.3, so P(plane agrees) ≈ 0.62 and a
# single 4-bit bucket catches ~24% of true neighbors).  The standard levers,
# both implemented here, are (a) L independent tables (union of candidates)
# and (b) multiprobe — the query also probes every bucket at Hamming
# distance ≤ 1 in each table.  L=4, k=4, H≤1 measures recall@5 = 0.96 on the
# sf0.01 fixture (tests/test_properties.py pins ≥ 0.9).  Candidates still
# come from an equi-join on (table, bucket) — the only shape that survives
# 100 TB; candidate volume is governed by (L, k, H) per deployment.
N_TABLES = 4

def bucket_duck_sql(planes: int = N_PLANES) -> str:
    """DuckDB CTE fragment materializing the (vec_id, tbl, bucket) LSH
    assignment at a GIVEN plane count — the oracle-side twin of
    ``_buckets_spark``.  The catalog registers it at the ``N_PLANES``
    floor (exact for the driver's sf0.01 gate); the at-scale sweep
    regenerates it with ``_active_planes`` via ``scaled_lsh_oracles`` so
    the oracle mirrors the engine's log-scaled plane count instead of
    being excluded above sf0.01."""
    return f"""
    e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
    proj AS (
      SELECT vec_id, t.range AS tbl, p.range AS plane,
             sum(emb[j.range + 1]
                 * (((('0x' || substr(md5(t.range::VARCHAR || '_' || p.range::VARCHAR || '_' || j.range::VARCHAR), 1, 8))::BIGINT
                      % 2001) - 1000) / 1000.0)) AS dot
      FROM e, range({N_TABLES}) t, range({planes}) p, range({DIM}) j
      GROUP BY vec_id, t.range, p.range
    ),
    buckets AS (
      SELECT vec_id, tbl,
             CAST(sum(CASE WHEN dot > 0 THEN (1 << plane) ELSE 0 END) AS BIGINT)
               AS bucket
      FROM proj GROUP BY vec_id, tbl
    )
"""


def plane_weight_sql(dim: int) -> str:
    """The md5 hyperplane-weight derivation as a SQL transform over
    component index j, for a row scoped by (tbl, plane) columns or
    lambda vars, used by the batch bucket builder below.  The DuckDB
    oracle (``bucket_duck_sql``) spells the same derivation; the two must
    hash to bit-identical buckets.
    (lsh_buckets_vectorized mirrors it in numpy — kept in sync by the
    pytest that pins SQL==numpy bucket equality.)"""
    return (
        f"transform(sequence(0, {dim - 1}), j -> "
        "((cast(conv(substr(md5(concat(cast(tbl as string), '_',"
        " cast(plane as string), '_', cast(j as string))), 1, 8), 16, 10)"
        " as bigint) % 2001) - 1000) / 1000.0)"
    )


def _buckets_spark(spark, sf_dir):
    """(vec_id, tbl, bucket) — one row per vector per hash table; the
    hyperplane weights are md5-derived (seeded by table and plane) so both
    engines materialize bit-identical planes with no RNG."""
    planes = _active_planes(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    weights = (
        spark.range(N_TABLES)
        .select(F.col("id").cast("int").alias("tbl"))
        .crossJoin(
            spark.range(planes).select(F.col("id").cast("int").alias("plane"))
        )
        .select(
            "tbl",
            "plane",
            F.expr(plane_weight_sql(DIM)).alias("w"),
        )
    )
    # NOTE (round 7): folding all planes of a table into one nested
    # aggregate-inside-aggregate row was tried and MEASURED SLOWER (~25% at
    # the 20× replica) than this flat plane-major form — deeply nested
    # higher-order lambdas lose whole-stage codegen, while the flat
    # (vector × table × plane) projection plus a map-side-combined groupBy
    # stays compiled.  Keep the flat form.
    proj = e.crossJoin(F.broadcast(weights)).select(
        "vec_id",
        "tbl",
        "plane",
        F.expr(
            "aggregate(zip_with(embedding, w, (x, y) -> cast(x as double) * y),"
            " cast(0.0 as double), (acc, v) -> acc + v)"
        ).alias("dot"),
    )
    # both the candidate side and the query/probe side read this — persist so
    # the projection fold runs once per session
    return (
        proj.groupBy("vec_id", "tbl")
        .agg(
            F.sum(
                F.when(F.col("dot") > 0, F.expr("shiftleft(1, plane)")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("bucket")
        )
        # session scope: ann_lsh_topk and emb_neardup_lsh share the one
        # materialized bucket assignment across catalog queries
        .transform(session_persist)
    )


# --- LSH-bucketed ANN with multiprobe: candidates come from an equi-join on
#     (table, bucket); each query probes its own bucket plus every bucket at
#     Hamming distance 1 (k+1 probes per table).  Exact cosine re-ranks the
#     deduplicated candidate set.  At cluster scale (table, bucket) is the
#     partitioning key, so a query touches L·(k+1) partitions, not the corpus.
def ann_lsh_duck_sql(planes: int = N_PLANES) -> str:
    return f"""
    WITH {bucket_duck_sql(planes)},
    be AS (SELECT e.vec_id, e.emb, b.tbl, b.bucket
           FROM e JOIN buckets b USING (vec_id)),
    q AS (SELECT vec_id AS query_id, emb AS qemb FROM e
          WHERE vec_id < {N_QUERIES}),
    qb AS (SELECT vec_id AS query_id, tbl, bucket FROM buckets
           WHERE vec_id < {N_QUERIES}),
    probes AS (
      SELECT query_id, tbl, bucket AS pbucket FROM qb
      UNION
      SELECT query_id, tbl, CAST(xor(bucket, 1 << m.range) AS BIGINT)
      FROM qb, range({planes}) m
    ),
    cand AS (
      SELECT DISTINCT p.query_id, be.vec_id AS neighbor_id
      FROM probes p
      JOIN be ON be.tbl = p.tbl AND be.bucket = p.pbucket
      WHERE be.vec_id <> p.query_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             list_dot_product(q.qemb, e.emb)
               / (sqrt(list_dot_product(q.qemb, q.qemb))
                  * sqrt(list_dot_product(e.emb, e.emb))) AS cos
      FROM cand c
      JOIN q ON q.query_id = c.query_id
      JOIN e ON e.vec_id = c.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, round(cos, 5) AS cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(cos, 5) DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
    """


# catalog slot: ann_bucketed_topk below unions this with the IVF twin under
# one oracle (identical output schema); the function stays as the package API
def ann_lsh_topk(spark, sf_dir):
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    buckets = _buckets_spark(spark, sf_dir)
    be = e.join(buckets, "vec_id").select(
        "vec_id", "embedding", "tbl", "bucket"
    )
    qb = buckets.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "tbl", "bucket"
    )
    # multiprobe: own bucket + every single-bit flip of the k-bit signature
    probes = qb.select(
        "query_id",
        "tbl",
        F.explode(
            F.array_distinct(
                F.array(
                    F.col("bucket"),
                    *[
                        F.expr(f"cast(bucket ^ {1 << b} as long)")
                        for b in range(_active_planes(spark, sf_dir))
                    ],
                )
            )
        ).alias("pbucket"),
    )
    cand = (
        probes.join(
            be,
            (be.tbl == probes.tbl) & (be.bucket == F.col("pbucket")),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qemb")
    )
    return _rerank_candidates(cand, q, e)


def _rerank_candidates(cand, q, e, k: int = 5):
    """Exact-cosine re-rank — the shared tail of every bucketed ANN path
    (LSH multiprobe, stride IVF): candidates join back to the
    broadcast query vectors (bounded by N_QUERIES) and the corpus
    embeddings, score exact cosine, keep the top-k per query.  One
    definition so the output contract (rounding, tie-break, k) cannot
    silently diverge between paths."""
    from pyspark.sql import Window

    nb = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nemb")
    )
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(nb, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.expr(_cosine_expr("qemb", "nemb")), 5).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# --- IVF-flat ANN: coarse-quantize into cells, search the query's cell -------
# Centroids are a deterministic subset of the vectors (every stride-th
# vec_id) — no RNG, so both engines build the identical index.  The stride is
# DERIVED FROM THE CORPUS SIZE: stride = floor(sqrt(n)) gives #centroids ≈ √n
# (the textbook IVF balance point — assignment cost n·√n, avg cell size √n),
# so the broadcast centroid list grows as √n·dim, never linearly.  Both
# engines compute the stride from count(*), so the index stays
# oracle-reproducible with no RNG.  At 100 TB the assignment is one broadcast
# pass (√n centroids ≪ data), the cell id becomes the table's partitioning
# key, and a query touches nprobe partitions.
def _centroid_stride(n: int) -> int:
    import math

    return max(1, math.isqrt(n))


def _ivf_parts(spark, sf_dir, stride: int | None = None):
    """(vectors, centroids); one cheap parquet-metadata count() fixes the
    stride for both.  Default stride √n balances ANN search (assignment
    n·√n, avg cell √n); callers optimizing for within-cell pairwise work
    (semantic dedup) pass an explicit stride = target cell size instead."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if stride is None:
        stride = _centroid_stride(e.count())
    cents = e.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cemb")
    )
    return e, cents


def _ivf_assign_spark(spark, sf_dir, stride: int | None = None):
    from pyspark.sql import Window

    e, cents = _ivf_parts(spark, sf_dir, stride=stride)
    scored = e.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "embedding",
        "centroid_id",
        F.expr(_cosine_expr("embedding", "cemb")).alias("ccos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("centroid_id"))
    return (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("vec_id", "embedding", F.col("centroid_id").alias("cell"))
    )


_IVF_DUCK = """
    e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    cents AS (SELECT vec_id AS centroid_id, emb AS cemb FROM e
              WHERE vec_id % (SELECT greatest(1, CAST(floor(sqrt(count(*))) AS BIGINT))
                              FROM e) = 0),
    assign AS (
      SELECT vec_id, emb, centroid_id AS cell FROM (
        SELECT e.vec_id, e.emb, c.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_dot_product(e.emb, c.cemb)
                          / (sqrt(list_dot_product(e.emb, e.emb))
                             * sqrt(list_dot_product(c.cemb, c.cemb))) DESC,
                          c.centroid_id) AS r
        FROM e, cents c
      ) WHERE r = 1
    )
"""


# nprobe: how many nearest cells a query searches.  The centroid count grows
# as √n (stride above), while nprobe is a fixed deployment knob, so the
# probed FRACTION of the corpus → 0 as data grows and per-query cost stays
# bounded by nprobe partitions.  On near-random embeddings (this testdata)
# recall is purely probed-fraction-driven, so the recall gate in
# tests/test_properties.py passes a test-side nprobe covering ~80% of cells —
# it verifies the probe/union/rank mechanics, not clustering magic.
IVF_NPROBE = 8


_ANN_IVF_DUCK = f"""
    WITH {_IVF_DUCK},
    q AS (SELECT vec_id AS query_id, emb AS qemb FROM e
          WHERE vec_id < {N_QUERIES}),
    qcells AS (
      SELECT query_id, centroid_id AS cell FROM (
        SELECT q.query_id, c.centroid_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY list_dot_product(q.qemb, c.cemb)
                          / (sqrt(list_dot_product(q.qemb, q.qemb))
                             * sqrt(list_dot_product(c.cemb, c.cemb))) DESC,
                          c.centroid_id) AS r
        FROM q, cents c
      ) WHERE r <= {IVF_NPROBE}
    ),
    cand AS (
      SELECT DISTINCT qc.query_id, a.vec_id AS neighbor_id
      FROM qcells qc JOIN assign a ON a.cell = qc.cell
      WHERE a.vec_id <> qc.query_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             list_dot_product(q.qemb, e.emb)
               / (sqrt(list_dot_product(q.qemb, q.qemb))
                  * sqrt(list_dot_product(e.emb, e.emb))) AS cos
      FROM cand c
      JOIN q ON q.query_id = c.query_id
      JOIN e ON e.vec_id = c.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, round(cos, 5) AS cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(cos, 5) DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
    """


def ann_ivf_topk(spark, sf_dir, nprobe: int | None = None):
    from pyspark.sql import Window

    nprobe = IVF_NPROBE if nprobe is None else nprobe
    e, cents = _ivf_parts(spark, sf_dir)
    # assignment feeds the candidate side; queries rank ALL centroids and
    # probe their nprobe nearest cells
    # session scope: the cell assignment also serves semdedup_prune
    assign = _ivf_assign_spark(spark, sf_dir).transform(session_persist)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qemb")
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("ccos"), F.asc("centroid_id")
    )
    qcells = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "centroid_id",
            F.expr(_cosine_expr("qemb", "cemb")).alias("ccos"),
        )
        .withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= nprobe)
        .select("query_id", F.col("centroid_id").alias("cell"))
    )
    cand = (
        F.broadcast(qcells)
        .join(assign, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    return _rerank_candidates(cand, q, e)


# exact brute-force top-k oracle (the `brute` branch of ann_bucketed_topk;
# Spark side is the Arrow-matmul kernel in ann_topk_cosine_vectorized)
_ANN_BRUTE_DUCK = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(q.qemb, e.emb)
               / (sqrt(list_dot_product(q.qemb, q.qemb))
                  * sqrt(list_dot_product(e.emb, e.emb))), 5) AS cosine
      FROM q JOIN e ON e.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
    """


# --- catalog suite: all three ANN strategies (LSH multiprobe + IVF-flat +
#     exact brute-force Arrow matmul) under ONE oracle.  The branches produce
#     the identical output schema (query_id, neighbor_id, cosine, rank), so
#     the union is a zero-shuffle UnionExec over three independently-planned
#     searches — same evidence as three catalog slots, one driver-budget
#     entry (round-2 consolidation pattern; brute folded in round 11 to bring
#     agg_stats_suite/temporal_join_suite inside the driver's 50-entry
#     correctness window — see docs/COVERAGE.md).
def ann_bucketed_duck_sql(planes: int = N_PLANES) -> str:
    return f"""
    SELECT 'lsh' AS method, query_id, neighbor_id, cosine, rank
    FROM ({ann_lsh_duck_sql(planes)})
    UNION ALL
    SELECT 'ivf' AS method, query_id, neighbor_id, cosine, rank
    FROM ({_ANN_IVF_DUCK})
    UNION ALL
    SELECT 'brute' AS method, query_id, neighbor_id, cosine, rank
    FROM ({_ANN_BRUTE_DUCK})
    """


def scaled_lsh_oracles(spark, sf_dir) -> dict[str, str]:
    """Oracle SQL for the two LSH-bucketed catalog queries REGENERATED at
    the plane count the engine actually uses for ``sf_dir`` (the
    ``_active_planes`` log-scaling).  The catalog registers the N_PLANES
    floor — exact at the driver's sf0.01 gate; at-scale sweeps
    (tools/check_correctness.py with SPARK_GRAFT_CHECK_SF) swap these in
    so the hash gate follows the engine's adaptive index instead of
    excluding the two queries above sf0.01."""
    planes = _active_planes(spark, sf_dir)
    return {
        "ann_bucketed_topk": ann_bucketed_duck_sql(planes),
        "emb_neardup_lsh": emb_neardup_duck_sql(planes),
    }


@query(
    "ann_bucketed_topk",
    oracle=ann_bucketed_duck_sql(N_PLANES),
)
def ann_bucketed_topk(spark, sf_dir):
    lsh = ann_lsh_topk(spark, sf_dir).select(
        F.lit("lsh").alias("method"), "query_id", "neighbor_id", "cosine", "rank"
    )
    ivf = ann_ivf_topk(spark, sf_dir).select(
        F.lit("ivf").alias("method"), "query_id", "neighbor_id", "cosine", "rank"
    )
    brute = ann_topk_cosine_vectorized(spark, sf_dir).select(
        F.lit("brute").alias("method"),
        "query_id", "neighbor_id", "cosine", "rank",
    )
    return lsh.unionByName(ivf).unionByName(brute)


# --- distributed MASS: exact z-normalized distance profile of an hourly
#     event-count series against a 24-hour pattern, computed CHUNKED (the
#     arbitrary-length-series scale path for C3's subsequence matching,
#     reference exstream/false_positive_filtering.py:36-46; exactness of the
#     chunking is property-tested in tests/test_properties.py) ----------------
_MASS_M = 24

_MASS_DUCK = f"""
WITH hourly AS (
  SELECT cast(floor(epoch(ts)/3600) AS BIGINT) AS hr,
         cast(count(*) AS DOUBLE) AS value
  FROM events WHERE event_type = 'click' GROUP BY 1
),
series AS (
  SELECT row_number() OVER (ORDER BY hr) - 1 AS seq, value FROM hourly
),
nn AS (SELECT count(*) AS n FROM series),
pat AS (SELECT seq AS k, value AS pv FROM series WHERE seq < {_MASS_M}),
ps AS (SELECT avg(pv) AS qm, coalesce(stddev_pop(pv), 0) AS qs FROM pat),
win AS (
  SELECT s.seq - p.k AS start, p.pv AS pv, s.value AS tv
  FROM series s JOIN pat p
    ON s.seq - p.k BETWEEN 0 AND (SELECT n FROM nn) - {_MASS_M}
),
st AS (
  SELECT start, sum(pv * tv) AS dot, avg(tv) AS mu,
         coalesce(stddev_pop(tv), 0) AS sigma
  FROM win GROUP BY start
)
SELECT start,
       -- constant detection mirrors the engine's tolerance (fp_filter):
       -- an exact = 0 test diverges on near-constant data where float
       -- noise makes one side's variance tiny-but-nonzero
       round(CASE WHEN qs * qs <= 1e-9 * greatest(qm * qm, 1.0)
                   AND sigma * sigma <= 1e-9 * greatest(mu * mu, 1.0) THEN 0.0
                  WHEN qs * qs <= 1e-9 * greatest(qm * qm, 1.0)
                    OR sigma * sigma <= 1e-9 * greatest(mu * mu, 1.0)
                    THEN sqrt({_MASS_M}.0)
                  ELSE sqrt(greatest(2 * {_MASS_M} * (1 - (dot - {_MASS_M} * qm * mu)
                                 / ({_MASS_M} * qs * sigma)), 0.0))
             END, 4) AS dist
FROM st, ps
"""


@query("mass_profile_chunked", oracle=_MASS_DUCK)
def mass_profile_chunked(spark, sf_dir):
    from exstream_implementation_spark.operators.mass_distributed import (
        mass_profile_distributed,
    )
    from exstream_implementation_spark.operators.ranking import global_row_number

    # cache the tiny hourly aggregate: the ranking offsets, the pattern fetch
    # and the profile pass would each re-scan events otherwise
    hourly = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .groupBy((F.col("ts_sec") / 3600).cast("long").alias("hr"))
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
        .cache()
    )
    series = global_row_number(hourly, [F.asc("hr")]).withColumn(
        "seq", F.col("rn") - 1
    )
    # the pattern is a bounded m-row parameter fetch (m=24), not a data
    # collect — at scale it arrives as user input, exactly as stumpy's
    # `match(pattern, ts)` signature does
    pattern = [
        r["value"]
        for r in series.filter(F.col("seq") < _MASS_M).orderBy("seq").collect()
    ]
    return mass_profile_distributed(
        series, pattern, chunk_size=256, round_decimals=4
    )


# --- vectorized brute-force cosine top-k: the Arrow/BLAS fast path. The SQL
#     fold in ann_topk_cosine stays in codegen but folds 64 dims row-by-row;
#     here each Arrow batch becomes one numpy matmul (batch × dim @ dim × q),
#     and each batch emits only its LOCAL top-k per query — the classic
#     map-side prune, so the shuffle carries O(batches · q · k) rows, never
#     the full n·q score matrix. Ranking uses round(cos, 5) as the sort key
#     on BOTH engines: BLAS pairwise summation and DuckDB's left fold differ
#     in the last ulp, and rank must not depend on sub-rounding noise. ------
# Catalog slot merged into ann_bucketed_topk's `brute` branch (round 11;
# oracle = _ANN_BRUTE_DUCK above) — the function stays as package API and
# as bench.py's direct headline entry.
def ann_topk_cosine_vectorized(spark, sf_dir):
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # bounded query-set fetch (q × dim), the ANN search's input parameter
    qrows = sorted(
        e.filter(F.col("vec_id") < N_QUERIES).collect(), key=lambda r: r.vec_id
    )
    if not qrows:
        # empty corpus → no query vectors → no neighbors (mirrors the SQL
        # oracle, whose query-side join is empty), not a numpy shape error
        return local_frame(
            spark, [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    qmat = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    qn = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            emat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            en = emat / np.linalg.norm(emat, axis=1, keepdims=True)
            cos = np.round(en @ qn.T, 5)  # (batch, q)
            ids = pdf["vec_id"].to_numpy()
            out = []
            k = min(TOP_K, len(ids))
            for qi in range(len(qids)):
                col = np.where(ids == qids[qi], -np.inf, cos[:, qi])
                # local top-k by (cos desc, neighbor asc): lexsort on
                # (-cos, id) gives ascending (-cos, id) = the global order
                order = np.lexsort((ids, -col))[:k]
                for j in order:
                    if np.isfinite(col[j]):
                        out.append((int(qids[qi]), int(ids[j]), float(col[j])))
            yield pd.DataFrame(
                out, columns=["query_id", "neighbor_id", "cosine"]
            )

    scored = e.mapInPandas(
        score, "query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# --- embedding near-dup pairs, LSH-BLOCKED (the label-free scale path) -------
# Blocking on the label column would be all-pairs within a label (n²/10 on
# the testdata's 10 labels) and is unavailable for a raw unlabeled corpus.
# Candidates come from the multiprobe LSH tables instead (same
# (table, bucket) equi-join as ann_lsh_topk, no all-pairs self-join) and
# are re-ranked exactly.  Recall vs the brute-force ground truth is pinned in
# tests/test_properties.py.  The md5-derived buckets are reproduced
# bit-identically in DuckDB (bucket_duck_sql), so the oracle draws the IDENTICAL
# candidate set and the hash gate stays exact.  Candidate pairs are oriented:
# the lower vec_id probes (own bucket + Hamming-1 flips), the higher vec_id
# is matched at its exact buckets — symmetric for H≤1 and half the join volume.
def lsh_buckets_vectorized(spark, sf_dir):
    """Arrow/numpy twin of ``_buckets_spark`` — the PRODUCTION bucket
    builder: one BLAS matmul per Arrow batch replaces the per-(vector,
    table, plane) SQL dot fold (the fold is ~10G scalar multiply-adds at the
    20× corpus and dominates the near-dup wall; the matmul is memory-bound).

    The hyperplane weights are the identical md5 derivation, built once
    driver-side (N_TABLES × planes × DIM floats — parameter-sized).  Caveat
    for oracle work: numpy's matmul accumulates in a different order than
    the SQL left fold, so a dot within float-noise of 0.0 could flip a
    bucket bit — statistically never (|dot| ~ O(1)); exact equality with
    the JVM fold is pytest-pinned on the real corpus, and the CATALOG
    queries keep the fold so the DuckDB gate stays exact by construction."""
    import hashlib

    import numpy as np
    import pandas as pd

    planes = _active_planes(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    W = np.empty((N_TABLES * planes, DIM), dtype=np.float64)
    for t in range(N_TABLES):
        for p in range(planes):
            for j in range(DIM):
                h = int(
                    hashlib.md5(f"{t}_{p}_{j}".encode()).hexdigest()[:8], 16
                )
                W[t * planes + p, j] = ((h % 2001) - 1000) / 1000.0

    def batches(it):
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            E = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            bits = (E @ W.T) > 0  # (n, N_TABLES*planes)
            vecs = pdf["vec_id"].to_numpy()
            ids, tbls, bks = [], [], []
            for t in range(N_TABLES):
                b = np.zeros(n, dtype=np.int64)
                for p in range(planes):
                    b |= bits[:, t * planes + p].astype(np.int64) << p
                ids.append(vecs)
                tbls.append(np.full(n, t, dtype=np.int32))
                bks.append(b)
            yield pd.DataFrame(
                {
                    "vec_id": np.concatenate(ids),
                    "tbl": np.concatenate(tbls),
                    "bucket": np.concatenate(bks),
                }
            )

    return e.mapInPandas(batches, "vec_id long, tbl int, bucket long")


def emb_neardup_duck_sql(planes: int = N_PLANES) -> str:
    """Banded-form oracle for ``emb_neardup_lsh`` — the same shape the
    Spark side runs: UPWARD-only Hamming-1 probes (half the probe rows of
    the old symmetric ±flip form), per-VECTOR norms computed once and
    joined in (the old form folded both norms per candidate pair), and
    pair dedup AFTER the cosine filter (the old pre-filter DISTINCT
    shuffled the full candidate set — the formulation that temp-spilled
    DuckDB at the 20× corpus).  Same final relation: cosine filtered on
    the raw value, rounded to 5 dp, one row per unordered pair."""
    return f"""
    WITH {bucket_duck_sql(planes)},
    en AS (SELECT vec_id, emb,
                  sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
    probes AS (
      SELECT vec_id, tbl, bucket AS pbucket FROM buckets
      UNION ALL
      SELECT vec_id, tbl, CAST(bucket | (1 << m.range) AS BIGINT)
      FROM buckets, range({planes}) m
      WHERE (bucket & (1 << m.range)) = 0
    ),
    cand AS (
      SELECT least(p.vec_id, b.vec_id) AS vec_a,
             greatest(p.vec_id, b.vec_id) AS vec_b
      FROM probes p
      JOIN buckets b ON b.tbl = p.tbl AND b.bucket = p.pbucket
      WHERE p.vec_id <> b.vec_id
    ),
    scored AS (
      SELECT c.vec_a, c.vec_b,
             list_dot_product(ea.emb, eb.emb) / (ea.nrm * eb.nrm) AS cos
      FROM cand c
      JOIN en ea ON ea.vec_id = c.vec_a
      JOIN en eb ON eb.vec_id = c.vec_b
    )
    SELECT DISTINCT vec_a, vec_b, round(cos, 5) AS cosine
    FROM scored WHERE cos >= 0.3
    """


@query(
    "emb_neardup_lsh",
    oracle=emb_neardup_duck_sql(N_PLANES),
)
def emb_neardup_lsh(
    spark,
    sf_dir,
    min_cosine: float = 0.3,
    buckets=None,
):
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if buckets is None:
        buckets = _buckets_spark(spark, sf_dir)
    bands = buckets.select("vec_id", "tbl", "bucket")
    # PAIR generation needs only UPWARD Hamming-1 probes (flip a 0-bit to 1):
    # for an unordered pair differing in exactly bit k, the side holding 0 at
    # k probes the other's bucket — one detection per pair is enough, so the
    # symmetric ±flip probing evaluated every 1-bit pair twice for no
    # coverage gain (equal-bucket pairs meet through the own-bucket probe).
    # Halves the probe/join volume; the candidate SET is provably identical
    # (pinned by test_upward_probe_candidates_match_symmetric).  The vec_id
    # order cannot live in the join anymore — the probing side is chosen by
    # bucket bits, not id — so pairs canonicalize to (least, greatest) after.
    planes = _active_planes(spark, sf_dir)
    probes = bands.select(
        "vec_id",
        "tbl",
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.expr(
                        f"CASE WHEN bucket & {1 << b} = 0"
                        f" THEN cast(bucket | {1 << b} as long) END"
                    )
                    for b in range(planes)
                ],
            )
        ).alias("pbucket"),
    ).filter(F.col("pbucket").isNotNull())
    cand = (
        probes.alias("a")
        .join(
            bands.alias("b"),
            (F.col("b.tbl") == F.col("a.tbl"))
            & (F.col("b.bucket") == F.col("a.pbucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.least("a.vec_id", "b.vec_id").alias("vec_a"),
            F.greatest("a.vec_id", "b.vec_id").alias("vec_b"),
        )
        # NO distinct here: only ~12% of raw candidates are multi-table
        # duplicates (measured at x20), so deduplicating BEFORE the cosine
        # filter shuffles the full 45M-row candidate set to save 5M dot
        # folds; the filter cuts candidates ~20× first and the pair dedup
        # below shuffles only the survivors
    )
    # re-rank cost discipline, both bit-identical to the inline form:
    #   * per-VECTOR norms (one sqrt-fold per vector, joined in) instead of
    #     per-PAIR — the pair side folds only the dot;
    #   * cosine materialized as a column BEFORE the filter — spelled in both
    #     Filter and Project it would evaluate twice per candidate (operator-
    #     level subexpression elimination does not cross the two nodes).
    ea = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.expr(_NORM.format(a="embedding")).alias("norm_a"),
    )
    eb = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.expr(_NORM.format(a="embedding")).alias("norm_b"),
    )
    cos = F.expr(_DOT.format(a="emb_a", b="emb_b")) / (
        F.col("norm_a") * F.col("norm_b")
    )
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("__cos", cos)
        .filter(F.col("__cos") >= min_cosine)
        .select("vec_a", "vec_b", F.round("__cos", 5).alias("cosine"))
        .dropDuplicates(["vec_a", "vec_b"])
    )


# --- SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
#     cluster, then prune near-identical vectors WITHIN each cluster.
def semantic_dedup(
    spark,
    sf_dir,
    min_cosine: float = 0.85,
    target_cell: int | None = 256,
):
    """(vec_id, keep_id, cell, cosine) — one row per PRUNED vector.

    Clusters are deterministic IVF cells (stride-derived centroids, no RNG).
    Within a cell, a vector is pruned when a LOWER-id vector in the same
    cell matches at ``cosine >= min_cosine``; ``keep_id`` is its lowest-id
    such match (deterministic representative).

    Scale — the cell-size knob is the whole cost model.  The self-join is
    keyed on ``cell``, so pair volume is Σ |cell|²/2.  With the ANN-shared
    √n cells that is O(n^1.5) total — O(√n) per row, exactly the drift the
    20× smoke measures — so the PRODUCTION default quantizes to
    constant-size cells instead: ``target_cell`` vectors per cell
    (#centroids = n/target_cell), making pair volume O(n·target_cell) —
    linear, the SemDeDup paper's own regime (cluster count grows with the
    corpus).  ``target_cell=None`` keeps the √n cells and shares the one
    session-persisted assignment with ann_ivf_topk — right for oracle-exact
    fixtures and small corpora, and what the catalog gate pins.
    """
    from pyspark.sql import Window

    # persisted: the cell self-join reads the assignment from BOTH sides;
    # with target_cell=None the session scope shares it with ann_ivf_topk
    # across catalog queries (a custom stride is its own plan → own cache)
    assign = _ivf_assign_spark(
        spark, sf_dir, stride=target_cell
    ).transform(session_persist)
    # norms hoisted per VECTOR (bit-identical to folding them per pair —
    # same expression over the same data, just evaluated once): the cell
    # self-join's pair volume dominates, so each pair folds only the dot
    a = assign.select(
        F.col("cell"),
        F.col("vec_id").alias("keep_cand"),
        F.col("embedding").alias("emb_a"),
        F.expr(_NORM.format(a="embedding")).alias("norm_a"),
    )
    b = assign.select(
        F.col("cell"),
        F.col("vec_id").alias("vec_id"),
        F.col("embedding").alias("emb_b"),
        F.expr(_NORM.format(a="embedding")).alias("norm_b"),
    )
    cos = F.expr(_DOT.format(a="emb_a", b="emb_b")) / (
        F.col("norm_a") * F.col("norm_b")
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("keep_cand") < F.col("vec_id"))
        .select(
            "cell",
            "vec_id",
            "keep_cand",
            F.round(cos, 5).alias("cosine"),
        )
        .filter(F.col("cosine") >= min_cosine)
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("keep_cand"))
    return (
        pairs.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("vec_id", F.col("keep_cand").alias("keep_id"), "cell", "cosine")
    )


# Catalog gate: the production default (0.85) targets true near-duplicates,
# but this corpus's embeddings are near-orthogonal (p99 within-cell cosine
# ~0.35), so the gate runs at 0.35 to exercise a non-trivial pruned set —
# the mechanics (cell join, threshold, lowest-id representative) are
# identical at any threshold.
SEMDEDUP_GATE_COSINE = 0.35


@query(
    "semdedup_prune",
    oracle=f"""
    WITH {_IVF_DUCK},
    p AS (
      SELECT b.vec_id AS vec_id, a.vec_id AS keep_cand, a.cell,
             round(list_dot_product(a.emb, b.emb)
                   / (sqrt(list_dot_product(a.emb, a.emb))
                      * sqrt(list_dot_product(b.emb, b.emb))), 5) AS cosine
      FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id),
    f AS (SELECT * FROM p WHERE cosine >= {SEMDEDUP_GATE_COSINE}),
    r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY keep_cand) AS rn FROM f)
    SELECT vec_id, keep_cand AS keep_id, cell, cosine FROM r WHERE rn = 1
    """,
)
def semdedup_prune(spark, sf_dir):
    """SemDeDup pruning as a catalog slot (see ``semantic_dedup``).
    ``target_cell=None``: the oracle CTE quantizes with the √n stride, and
    the √n assignment is the one shared session-wide with ann_ivf_topk."""
    return semantic_dedup(
        spark, sf_dir, min_cosine=SEMDEDUP_GATE_COSINE, target_cell=None
    )
