"""C3 — false-positive filtering via z-normalized subsequence matching.

Reference (reference exstream/false_positive_filtering.py:36-46): for each
surviving feature, run ``stumpy.match(pattern, ts, max_distance)`` where —
quirk Q4 (SURVEY §2.4) — the *pattern* is this anomaly's REFERENCE-interval
series and ``ts`` is the pooled reference series of all anomalies; a feature
is kept when its reference shape is rare (≤ 5 matches). If nothing survives,
the single feature with the fewest matches is kept
(reference exstream/false_positive_filtering.py:45-46).

Spark realization (SURVEY §7 M3): the distance profile is the classic MASS
algorithm (Mueen's FFT-based z-normalized matching — public algorithm) in
numpy inside one ``applyInPandas`` keyed by (run_id, feature)
(``match_profile``): each group holds one run's pooled reference series of
one feature and computes every anomaly's profile once, emitting the greedy
match count with the profile statistics the ``exstream_fp_profile`` catalog
query checks against DuckDB — the pipeline and the catalog run the same
pass.  The keep/fallback rule (``false_positive_filter``) runs on the
driver over the counts, O(runs × anomalies × features) rows, which the
pipeline collects in the same query as the C7 rewards.

Match-selection semantics follow stumpy's documented behavior: candidates
with D ≤ max_distance, greedily picked in ascending distance, suppressing an
exclusion zone of ±ceil(m/4) around each pick.

Ordering note: the pooled series concatenates per-anomaly reference slices.
The reference's order is os.listdir file order (nondeterministic!); we order
by (ano_key, timestamp) — deterministic, differing only in windows that
straddle slice boundaries.

Scale bound: each applyInPandas group holds ONE run's pooled reference
series of one feature — sized by (#labeled anomalies × reference-window
length), i.e. by the label catalog, not by raw data volume; the 100 TB
trace never pools.
But every anomaly's pattern runs a full-length MASS over that pooled
series, so a group's work grows with the SQUARE of the anomaly count:
``fp_filter.python_s`` measured 0.28 s at 2 anomalies and 23.1 s at 80
(4 cores; ROADMAP Recent).  Making C3 scale — one chunked MASS
(``operators/mass_distributed.py``) shared with this filter — is ROADMAP
item 1.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

# the reference keeps a feature whose reference shape stumpy.match finds at
# most this many times (reference exstream/false_positive_filtering.py:36-46,
# before the :45-46 fewest-matches fallback)
KEEP_THRESHOLD = 5

# match_profile rounds distances to this many decimals, as the
# exstream_fp_profile oracle SQL does (round(d, 4))
PROFILE_DECIMALS = 4


def mass_distance_profile(query: np.ndarray, ts: np.ndarray) -> np.ndarray:
    """Z-normalized Euclidean distance between ``query`` and every window of
    ``ts`` (MASS: FFT sliding dot product + rolling moments).

    Non-finite values (NaN/inf — nulls in the source become NaN in pandas)
    are handled stumpy-style: they are zeroed for the computation, windows
    CONTAINING one get distance +inf (can never match), and a non-finite
    query yields an all-inf profile — without this, one NaN anywhere in the
    pooled series poisons the whole FFT and argmin lands on a NaN, silently
    reporting 0 matches and disabling the false-positive filter entirely.
    """
    m, n = len(query), len(ts)
    if m > n:
        return np.empty(0)
    finite_q = np.isfinite(query)
    if not finite_q.all():
        return np.full(n - m + 1, np.inf)
    finite_t = np.isfinite(ts)
    if not finite_t.all():
        bad = np.concatenate(([0], np.cumsum(~finite_t)))
        win_bad = (bad[m:] - bad[:-m]) > 0
        ts = np.where(finite_t, ts, 0.0)
    else:
        win_bad = None
    qm, qs = query.mean(), query.std()
    # rolling mean/std of ts windows
    csum = np.concatenate(([0.0], np.cumsum(ts)))
    csum2 = np.concatenate(([0.0], np.cumsum(ts * ts)))
    mu = (csum[m:] - csum[:-m]) / m
    var = (csum2[m:] - csum2[:-m]) / m - mu * mu
    # constant detection must be tolerance-based on BOTH sides, not == 0:
    # the single-pass cumsum variance cancels catastrophically (and its
    # rounding noise depends on the window's absolute offset in the series,
    # so an exact-zero test would make chunked and whole-series profiles
    # disagree on degenerate windows), and a constant QUERY's std is equally
    # inexact — e.g. ([0.1]*3).std() is ~1.4e-17, and dividing by it turns
    # the profile into amplified cancellation noise.  The DuckDB oracles
    # mirror the same tolerance.
    const_win = var <= 1e-9 * np.maximum(mu * mu, 1.0)
    sigma = np.sqrt(np.maximum(np.where(const_win, 0.0, var), 0.0))
    q_const = qs * qs <= 1e-9 * max(qm * qm, 1.0)
    # sliding dot product via FFT
    size = 1 << int(np.ceil(np.log2(n + m)))
    qt = np.fft.irfft(np.fft.rfft(ts, size) * np.fft.rfft(query[::-1], size), size)
    qt = qt[m - 1 : n]
    denom = m * qs * sigma
    with np.errstate(divide="ignore", invalid="ignore"):
        rho = (qt - m * qm * mu) / denom
        d = np.sqrt(np.maximum(2 * m * (1.0 - rho), 0.0))
    # degenerate windows: constant query and/or constant window
    if q_const:
        d = np.where(sigma == 0, 0.0, math.sqrt(m))
    else:
        d = np.where(sigma == 0, math.sqrt(m), d)
    if win_bad is not None:
        d = np.where(win_bad, np.inf, d)
    return d


def _greedy_matches(d: np.ndarray, m: int, max_distance: float) -> int:
    """Number of non-overlapping windows of the profile ``d`` with distance
    ≤ max_distance, stumpy.match-style: ascending-distance greedy with
    ±ceil(m/4) exclusion around each pick."""
    if d.size == 0:
        return 0
    excl = int(np.ceil(m / 4))
    d = d.copy()
    count = 0
    while True:
        i = int(np.argmin(d))
        if not (d[i] <= max_distance):
            break
        count += 1
        d[max(0, i - excl) : i + excl + 1] = np.inf
    return count


def count_matches(query: np.ndarray, ts: np.ndarray, max_distance: float) -> int:
    """Number of non-overlapping windows of ``ts`` within max_distance of
    ``query`` (``_greedy_matches`` over its MASS profile)."""
    return _greedy_matches(mass_distance_profile(query, ts), len(query), max_distance)


def match_profile(melted: DataFrame, max_distance: float = 40.0) -> DataFrame:
    """melted long table (with ``run_id``) → (run_id, ano_key, feature,
    feature_order, n_matches, n_below, min_dist, n_windows): C3's one MASS
    pass.

    One group per (run_id, feature) holds that run's pooled reference
    series; each anomaly's reference slice is matched against it with one
    ``mass_distance_profile``, and that one profile gives both the greedy
    match count the keep rule reads (``n_matches``) and the oracle-checkable
    statistics of the full profile: ``n_below`` windows at distance ≤
    max_distance, the smallest distance and the window count, distances
    rounded to ``PROFILE_DECIMALS`` so the FFT path and a naive O(n·m) SQL
    evaluation agree.
    """
    refs = melted.filter(F.col("type_data") == 0).select(
        "run_id", "ano_key", "timestamp", "feature", "feature_order", "value"
    )
    columns = [
        "run_id", "ano_key", "feature", "feature_order", "n_matches",
        "n_below", "min_dist", "n_windows",
    ]
    out_schema = (
        "run_id int, ano_key string, feature string, feature_order int, "
        "n_matches long, n_below long, min_dist double, n_windows long"
    )

    def per_feature(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ano_key", "timestamp"])
        pooled = pdf["value"].to_numpy(dtype=np.float64)
        run_id = int(pdf["run_id"].iloc[0])
        feature = pdf["feature"].iloc[0]
        order = int(pdf["feature_order"].iloc[0])
        rows = []
        for key, grp in pdf.groupby("ano_key", sort=True):
            pattern = grp["value"].to_numpy(dtype=np.float64)
            # the pattern is a slice of the pooled series, so d is never empty
            d = mass_distance_profile(pattern, pooled)
            rows.append(
                (
                    run_id,
                    key,
                    feature,
                    order,
                    _greedy_matches(d, len(pattern), max_distance),
                    int((np.round(d, PROFILE_DECIMALS) <= max_distance).sum()),
                    float(np.round(d.min(), PROFILE_DECIMALS)),
                    int(d.size),
                )
            )
        return pd.DataFrame(rows, columns=columns)

    return refs.groupBy("run_id", "feature").applyInPandas(per_feature, out_schema)


def false_positive_filter(counts) -> list[tuple[int, str, str]]:
    """``match_profile``'s collected (run_id, ano_key, feature,
    feature_order, n_matches) rows → the kept (run_id, ano_key, feature),
    the reference's rule decided per (run_id, ano_key): every feature with
    n_matches ≤ KEEP_THRESHOLD, in column order; if none qualifies, only the
    feature with the fewest matches, ties going to the lowest feature_order
    (np.argmin = first occurrence, reference
    exstream/false_positive_filtering.py:45-46).

    ``match_profile`` pools per (run_id, feature): each instability run
    pools ONLY its own sampled references, exactly as the reference's
    per-run pipeline re-execution does (reference script_1.py:227-238).
    """
    groups: dict[tuple[int, str], list[tuple[int, int, str]]] = {}
    for run_id, ano_key, feature, order, n in counts:
        groups.setdefault((run_id, ano_key), []).append((n, order, feature))
    kept = []
    for (run_id, ano_key), cands in groups.items():
        primary = sorted(
            (c for c in cands if c[0] <= KEEP_THRESHOLD), key=lambda c: c[1]
        )
        kept.extend((run_id, ano_key, f) for _, _, f in primary or [min(cands)])
    return kept
