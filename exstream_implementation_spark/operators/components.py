"""Distributed connected components via min-label propagation.

The dedup pipelines produce near-duplicate PAIRS (shared shingle, LSH bucket,
simhash distance); turning pairs into duplicate CLUSTERS — keep one doc per
component — needs connected components over a graph with potentially billions
of vertices.  C2's driver-side union-find (operators/correlation.py) is right
for d≈10 features and wrong here, so this is the scale path: iterative
min-label propagation as pure DataFrame joins/aggregations.

Each round every vertex takes the min label among itself and its neighbors,
then COMPRESSES through the label graph (pointer jumping: label ← label of
label), so label reach roughly doubles per round and convergence needs
O(log diameter) iterations, not diameter — the default ``max_iter=20``
covers diameters up to ~2^20, far beyond any real near-dup graph (plain
HashMin without the jump needs diameter rounds, and a chain-shaped
templated-document corpus can exceed any fixed cap).  Each iteration is two
shuffles keyed on vertex id; the loop stops when no label changes (cheap
count on a changed-flag).  If ``max_iter`` is exhausted before convergence
the function RAISES rather than returning silently wrong labels — an
unconverged labeling splits duplicate clusters and keeps duplicates.
This is the standard Spark/GraphX "HashMin + pointer jumping" pattern, no
GraphFrames dependency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from exstream_implementation_spark.session import local_frame


SMALL_GRAPH_EDGES = 200_000


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """edges(src, dst) undirected → (vertex, component) where component is
    the minimum vertex id reachable.  Vertices = everything in edges.

    Adaptive, like Spark's own broadcast-join decisioning: one cheap count
    picks the physical strategy.  Below ``small_graph_edges`` the pair graph
    collects to a driver union-find (near-dup graphs are usually ≪ corpus
    size — duplicate pairs, not documents) and the result re-parallelizes;
    above it, the iterative min-label propagation below runs fully
    distributed.  Both produce the identical min-reachable-id labeling."""
    # size probe as a COUNT, not take(n+1): take ships up to n+1 full rows to
    # the driver even when the graph is huge; count moves only a long.
    # A FULL count (not limit(n+1).count()): limit early-stops, which leaves
    # part of the persisted edge table uncached, so the driver path's
    # collect() (and the distributed path's first iteration) re-evaluates
    # the upstream candidate join — usually the most expensive subtree in
    # the whole pipeline.  The full count materializes every partition into
    # the cache exactly once; everything after is a cache read (guide §1.2).
    pinned = edges.select(src, dst).persist()
    try:
        n_edges = pinned.count()
        if n_edges <= small_graph_edges:
            pairs = [(r[0], r[1]) for r in pinned.collect()]
            parent: dict = {}

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in pairs:
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union by MIN id so the representative is deterministic
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
            rows = [(v, find(v)) for v in parent]
            vtype = edges.schema[src].dataType.simpleString()
            return local_frame(
                edges.sparkSession, rows, f"vertex {vtype}, component {vtype}"
            )

        both = pinned.select(
            F.col(src).alias("a"), F.col(dst).alias("b")
        ).unionByName(pinned.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        labels = (
            both.select(F.col("a").alias("vertex"))
            .distinct()
            .withColumn("component", F.col("vertex"))
        )
        both = both.persist()
        labels = labels.localCheckpoint(eager=True)
        converged = False
        for _ in range(max_iter):
            # neighbor-min message pass, one shuffle on vertex id
            nbr_min = (
                both.join(labels, both.b == labels.vertex)
                .groupBy(F.col("a").alias("vertex"))
                .agg(F.min("component").alias("nbr_component"))
            )
            stepped = labels.join(nbr_min, "vertex", "left").select(
                "vertex",
                F.col("component").alias("old"),
                F.least(
                    "component", F.coalesce("nbr_component", "component")
                ).alias("mid"),
            )
            # pointer jumping: follow the label one more hop (label of
            # label) so reach doubles per round — labels only ever point at
            # smaller ids inside the same component, so compression
            # preserves the min-reachable-id fixpoint
            lbl = stepped.select(
                F.col("vertex").alias("cv"), F.col("mid").alias("cc")
            )
            # localCheckpoint each round: persist alone keeps the FULL logical
            # lineage, so iteration i's plan nests all i-1 predecessors —
            # analysis/optimization memory grows until the driver OOMs on
            # higher-diameter graphs.  Checkpointing truncates the lineage to
            # the materialized partitions (the standard iterative-algorithm
            # pattern; same fix GraphX applies internally).
            new_labels = (
                stepped.join(lbl, stepped.mid == lbl.cv, "left")
                .select(
                    "vertex",
                    F.least("mid", F.coalesce("cc", "mid")).alias("component"),
                    (
                        F.least("mid", F.coalesce("cc", "mid"))
                        < F.col("old")
                    ).alias("changed"),
                )
            ).localCheckpoint(eager=True)
            changed = new_labels.filter(F.col("changed")).limit(1).count()
            labels = new_labels.drop("changed")
            if changed == 0:
                converged = True
                break
        both.unpersist()
        if not converged:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                "iterations (graph diameter > 2^max_iter is implausible — "
                "check the input, or raise max_iter); refusing to return "
                "partially-propagated labels that would silently split "
                "duplicate clusters"
            )
        return labels
    finally:
        pinned.unpersist()
