"""C2 — correlation clustering (SURVEY §2.3 C2).

Reference (reference exstream/correlation_filtering.py:39-61): pairwise
Pearson correlation over the pooled ref∪ano rows; connect features with
|corr| > threshold; keep one representative per connected component. The
reference picks ``set.pop()`` — nondeterministic; we pick the feature whose
column position is smallest (deterministic, and equal to the reference's
result whenever components are singletons).

Spark-first: one pass over the data with ``Correlation.corr`` on assembled
vectors (d×d matrix from a single aggregation — the d² pandas double loop at
reference exstream/correlation_filtering.py:50-55 becomes a driver-side scan
of a tiny matrix). Union-find on the driver: d ≈ 10-100 features, so a
GraphFrames dependency is unjustified (SURVEY §7 M2).

NaN correlations (constant columns) never exceed the threshold, matching
``abs(nan) > t == False`` in numpy.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.stat import Correlation


def correlation_matrix(sliced: DataFrame, features: list[str]) -> list[list[float]]:
    """d×d Pearson matrix over the feature columns of the sliced table."""
    assembled = VectorAssembler(
        inputCols=features, outputCol="_vec", handleInvalid="keep"
    ).transform(sliced.select(*features))
    m = Correlation.corr(assembled, "_vec", "pearson").head()[0]
    return m.toArray().tolist()


def correlated_feature_clusters(
    corr: list[list[float]], features: list[str], threshold: float
) -> list[list[str]]:
    """Union-find over |corr| > threshold edges → clusters (driver-side;
    feature count is tiny by design)."""
    parent = list(range(len(features)))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i in range(len(features)):
        for j in range(i):
            c = corr[i][j]
            if not math.isnan(c) and abs(c) > threshold:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[ri] = rj
    clusters: dict[int, list[str]] = {}
    for i, f in enumerate(features):
        clusters.setdefault(find(i), []).append(f)
    return list(clusters.values())


def correlated_features_filter(
    sliced: DataFrame,
    features: list[str],
    threshold: float,
) -> list[str]:
    """Surviving feature list, preserving original column order
    (reference exstream/correlation_filtering.py:7-67; the nested-list append
    bug at :66 — quirk Q1 — is intentionally not replicated).  Callers skip
    it when clustering is off."""
    corr = correlation_matrix(sliced, features)
    clusters = correlated_feature_clusters(corr, features, threshold)
    order = {f: i for i, f in enumerate(features)}
    reps = {min(c, key=order.__getitem__) for c in clusters}
    return [f for f in features if f in reps]
