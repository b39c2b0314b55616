"""Distributed Lloyd k-means over embedding columns — the trained-centroid
upgrade of the IVF index (plans/similarity.py uses deterministic stride
centroids so the oracle can reproduce them; real deployments train).

Spark-first iteration, no MLlib dependency needed for this shape:
  assign:   crossJoin(broadcast(centroids)) → argmin squared L2 per vector
            (one map-side pass — centroids are k×dim, always broadcastable)
  update:   groupBy(cell) → element-wise mean via aggregate() over the
            posexploded components (one shuffle keyed by cell)
Each iteration = one job; inertia is monitored for convergence.  This is an
iterative algorithm (not SQL-expressible) — validated by property tests
(inertia monotonically non-increasing, partition into k non-empty cells)
rather than the DuckDB oracle, per the driver contract's weak-check rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from exstream_implementation_spark.session import local_frame

_SQDIST = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (cast(x as double) - y) *"
    " (cast(x as double) - y)), cast(0.0 as double), (acc, v) -> acc + v)"
)


def _assign(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, embedding) × (cell, cemb) → nearest cell per vector."""
    scored = vecs.crossJoin(F.broadcast(centroids)).withColumn(
        "sqdist", F.expr(_SQDIST.format(a="embedding", b="cemb"))
    )
    w = Window.partitionBy("vec_id").orderBy("sqdist", "cell")
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select("vec_id", "embedding", "cell", "sqdist")
    )


def kmeans_train(
    vecs: DataFrame,
    k: int,
    max_iter: int = 10,
    tol: float = 1e-6,
) -> tuple[DataFrame, list[float]]:
    """Train k centroids on ``vecs(vec_id, embedding array<float>)``.

    Init: the k lowest vec_ids (deterministic).  Returns (centroids DataFrame
    ``(cell, cemb array<double>)``, per-iteration inertia history).

    Empty cells SHRINK k: a cell that attracts no vectors in an assignment
    round has no mean and is dropped by the update's groupBy, so the returned
    centroid count can be < k (standard Lloyd behavior without a re-seeding
    heuristic — deterministic here, where re-seeding would need an RNG).  The
    effective count is ``centroids.count()``; callers gating recall on "k
    cells probed" (e.g. ann_ivf_trained_topk) should read the real k from the
    returned frame, not assume the requested one.
    """
    centroids = (
        vecs.orderBy("vec_id")
        .limit(k)
        .select(
            F.col("vec_id").alias("cell"),
            F.expr("transform(embedding, x -> cast(x as double))").alias("cemb"),
        )
    )
    spark = vecs.sparkSession
    cell_type = vecs.schema["vec_id"].dataType.simpleString()
    history: list[float] = []
    for _ in range(max_iter):
        assigned = _assign(vecs, centroids).persist()
        inertia = assigned.agg(F.sum("sqdist")).first()[0]
        if inertia is None:  # zero input vectors — fail with a clear message
            raise ValueError("kmeans_train: input has no vectors")
        # element-wise mean per cell: explode components, mean per (cell, pos).
        # The sum goes through DECIMAL, not double: decimal addition is
        # associative, so the mean — and therefore every centroid, every
        # assignment, and anything sampled from the cells — is bit-identical
        # regardless of input partitioning (float partial-sum order would
        # let a near-boundary vector flip cells across repartitionings).
        # 12 fractional digits comfortably exceed the float32 inputs'
        # precision; 38-digit headroom covers ~1e26 rows per cell.
        comps = assigned.select(
            "cell", F.posexplode(F.col("embedding").cast("array<double>"))
        )
        new_rows = (
            comps.groupBy("cell", "pos")
            .agg(
                F.avg(F.col("col").cast("decimal(38,12)"))
                .cast("double")
                .alias("m")
            )
            .groupBy("cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("_s")
            )
            .select("cell", F.col("_s.m").alias("cemb"))
            # materialize to the driver: centroids are k x dim — broadcast-
            # sized by construction.  Rebuilding them as a local relation
            # each iteration cuts the lineage; leaving them lazy stacks
            # every iteration's plan on the UNPERSISTED previous assignment,
            # so each materialization recomputes all prior iterations
            # (O(iter^2) work and unbounded plan depth).
            .collect()
        )
        assigned.unpersist()
        centroids = local_frame(
            spark,
            [(r["cell"], r["cemb"]) for r in new_rows],
            f"cell {cell_type}, cemb array<double>",
        )
        history.append(float(inertia))
        if len(history) >= 2 and history[-2] - history[-1] <= tol * history[-2]:
            break
    return centroids, history


