"""C2 — correlation clustering (SURVEY §2.3 C2).

Reference (reference exstream/correlation_filtering.py:39-61): pairwise
Pearson correlation over the pooled ref∪ano rows; connect features with
|corr| > threshold; keep one representative per connected component. The
reference picks ``set.pop()`` — nondeterministic; we pick the feature whose
column position is smallest (deterministic, and equal to the reference's
result whenever components are singletons).

Spark-first: two grouped SQL aggregations per call, however many runs it
clusters, and Pearson on the driver.
  * pass 1 (``moment_aggregates``): per feature the sum, min and max of its
    value read as a double.  The pipeline folds these aggregates into its
    class-check pre-pass, so C2 adds no scan of its own there.
  * pass 2 (``correlation_matrices``): per run, the sums of the centred
    values c_i = v_i - mean_i and of their products c_i·c_j (i ≤ j).  The
    run means enter the query as data (one array literal per feature,
    indexed by run), so the generated code does not change with the trace.
  * driver: S_ij = Σc_i·c_j - Σc_i·Σc_j / n (the corrected two-pass form:
    exact for any centring, so a rounded mean costs no digits; raw one-pass
    Σx² moments lose every digit on a column like 1e12 + noise), then
    r_ij = S_ij / sqrt(S_ii·S_jj).  Every division happens here, so ANSI
    mode never sees a ``DIVIDE_BY_ZERO``.
The d² pandas double loop at reference exstream/correlation_filtering.py:50-55
becomes a driver-side scan of a tiny matrix.  Union-find on the driver:
d ≈ 10-100 features, so a GraphFrames dependency is unjustified (SURVEY §7
M2).

A coefficient is NaN — no edge, matching ``abs(nan) > t == False`` in numpy
— when its run has fewer than two rows, or when either column is constant
(min == max, so a rounded mean cannot fake a variance) or holds a NULL,
NaN or ±inf (NULL reads as NaN, as MLlib's ``VectorAssembler`` with
``handleInvalid="keep"`` did).  A run with no rows clusters nothing: every
feature survives.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

from exstream_implementation_spark.operators.slicing import _sql_ident

_NAN = "CAST('NaN' AS DOUBLE)"


def _value(feature: str) -> str:
    return f"coalesce(CAST({_sql_ident(feature)} AS DOUBLE), {_NAN})"


def moment_aggregates(features: list[str]) -> str:
    """Pass 1 as SQL aggregates, in feature order: the sum, min and max of
    each feature (NULL read as NaN).  A NaN or ±inf in a group makes its
    sum non-finite, which ``correlation_matrices`` reads as "no edge"."""
    return ", ".join(
        f"sum({v}), min({v}), max({v})" for v in map(_value, features)
    )


def no_rows(features: list[str]) -> list:
    """Pass 1 over no rows, where every run's fold starts:
    [n, sum_0, min_0, max_0, sum_1, ...] = [0, 0.0, inf, -inf, 0.0, ...]."""
    return [0] + [0.0, math.inf, -math.inf] * len(features)


def merge_moments(acc: list, n: int, aggs) -> None:
    """Fold one group's row count and ``moment_aggregates`` values into a
    run's ``acc`` (``no_rows`` layout)."""
    acc[0] += n
    for i in range(1, len(acc), 3):
        acc[i] += aggs[i - 1]
        acc[i + 1] = min(acc[i + 1], aggs[i])
        acc[i + 2] = max(acc[i + 2], aggs[i + 1])


def correlation_matrices(
    rows: DataFrame,
    features: list[str],
    moments: dict,
    run_col: str | None = None,
) -> dict[int, list[list[float]]]:
    """d×d Pearson matrix per run key of ``moments`` (pass 1, ``no_rows``
    layout) over the feature columns of ``rows``.  ``run_col`` names the
    int run column, ≥ 0; without it every row is run 0.  Pass 2 runs only
    when some run has a usable column."""
    d = len(features)
    usable, means = {}, {}
    for key, (n, *aggs) in moments.items():
        sums, los, his = aggs[0::3], aggs[1::3], aggs[2::3]
        ok = [
            n >= 2 and math.isfinite(s) and lo != hi
            for s, lo, hi in zip(sums, los, his)
        ]
        means[key] = [s / n if o else 0.0 for s, o in zip(sums, ok)]
        if any(ok):
            usable[key] = (n, ok)
    out = {key: [[math.nan] * d for _ in features] for key in moments}
    if not usable:
        return out
    key_sql = run_col or "0"
    width = max(moments) + 1
    centred = ", ".join(
        f"{_value(f)} - element_at(array("
        + ", ".join(
            repr(means[k][i] if k in means else 0.0) + "D"
            for k in range(width)
        )
        + f"), {key_sql} + 1) AS c{i}"
        for i, f in enumerate(features)
    )
    sums = ", ".join(f"sum(c{i})" for i in range(d))
    products = ", ".join(
        f"sum(c{i} * c{j})" for i in range(d) for j in range(i, d)
    )
    result = rows.sparkSession.sql(
        f"SELECT k, {sums}, {products} FROM"
        f" (SELECT {key_sql} AS k, {centred} FROM {{rows}}) GROUP BY k",
        rows=rows,
    ).collect()
    for key, *agg in result:
        if key not in usable:
            continue
        n, ok = usable[key]
        s, prods = agg[:d], iter(agg[d:])
        cov = [[0.0] * d for _ in features]
        for i in range(d):
            for j in range(i, d):
                cov[i][j] = cov[j][i] = next(prods) - s[i] * s[j] / n
        m = out[key]
        for i in range(d):
            for j in range(d):
                if ok[i] and ok[j] and cov[i][i] > 0 and cov[j][j] > 0:
                    m[i][j] = cov[i][j] / math.sqrt(cov[i][i] * cov[j][j])
    return out


def feature_moments(
    rows: DataFrame, features: list[str], run_col: str | None = None
) -> dict:
    """Pass 1 on its own, grouped by ``run_col`` (every row is run 0
    without it): {run: ``no_rows`` layout} for the runs that have rows.
    The pipeline folds the same aggregates into its pre-pass instead."""
    moments: dict = {}
    for key, n, *aggs in rows.sparkSession.sql(
        f"SELECT {run_col or '0'} AS k, count(1), {moment_aggregates(features)}"
        " FROM {rows} GROUP BY k",
        rows=rows,
    ).collect():
        merge_moments(moments.setdefault(key, no_rows(features)), n, aggs)
    return moments


def correlation_matrix(rows: DataFrame, features: list[str]) -> list[list[float]]:
    """d×d Pearson matrix over the feature columns of ``rows``.  Below two
    rows no coefficient is defined, so every entry is NaN (no edge), as
    pandas ``corr`` gives for the reference."""
    moments = {0: no_rows(features), **feature_moments(rows, features)}
    return correlation_matrices(rows, features, moments)[0]


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
    runs: DataFrame,
    features: list[str],
    threshold: float,
    moments: dict,
) -> dict[int, list[str]]:
    """Surviving feature list per ``run_id`` of ``moments``, each in the
    original column order (reference exstream/correlation_filtering.py:7-67;
    the nested-list append bug at :66 — quirk Q1 — is intentionally not
    replicated).  One pass 2 serves every run.  Callers skip it when
    clustering is off."""
    order = {f: i for i, f in enumerate(features)}
    out = {}
    for key, corr in correlation_matrices(runs, features, moments, "run_id").items():
        clusters = correlated_feature_clusters(corr, features, threshold)
        reps = {min(c, key=order.__getitem__) for c in clusters}
        out[key] = [f for f in features if f in reps]
    return out
