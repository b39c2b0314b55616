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
numpy inside one ``applyInPandas`` keyed by feature: each group holds one
feature's pooled reference series, computes every anomaly's profile in a few
vectorized FFTs, and emits (ano_key, n_matches). Everything around it —
keep/fallback logic — is plain DataFrame ops.

Match-selection semantics follow stumpy's documented behavior: candidates
with D ≤ max_distance, greedily picked in ascending distance, suppressing an
exclusion zone of ±ceil(m/4) around each pick.

Ordering note: the pooled series concatenates per-anomaly reference slices.
The reference's order is os.listdir file order (nondeterministic!); we order
by (ano_key, timestamp) — deterministic, differing only in windows that
straddle slice boundaries.

Scale bound: each applyInPandas group holds ONE feature's pooled reference
series — sized by (#labeled anomalies × reference-window length), i.e. by
the label catalog, not by raw data volume; the 100 TB trace never pools.
If labels ever grow pathological, MASS is chunkable (split the series with
m-1 overlap and union the profiles) — not needed at the reference's scale.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

# the reference keeps a feature whose reference shape stumpy.match finds at
# most this many times (reference exstream/false_positive_filtering.py:36-46,
# before the :45-46 fewest-matches fallback)
KEEP_THRESHOLD = 5

# distance_profile_stats rounds distances to this many decimals, as the
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


def count_matches(query: np.ndarray, ts: np.ndarray, max_distance: float) -> int:
    """Number of non-overlapping windows with distance ≤ max_distance,
    stumpy.match-style: ascending-distance greedy with ±ceil(m/4) exclusion."""
    d = mass_distance_profile(query, ts)
    if d.size == 0:
        return 0
    excl = int(np.ceil(len(query) / 4))
    d = d.copy()
    count = 0
    while True:
        i = int(np.argmin(d))
        if not (d[i] <= max_distance):
            break
        count += 1
        d[max(0, i - excl) : i + excl + 1] = np.inf
    return count


def distance_profile_stats(
    melted: DataFrame,
    max_distance: float = 40.0,
) -> DataFrame:
    """Oracle-checkable projection of C3: per (ano_key, feature), statistics
    of the full z-normalized distance profile (pattern = the anomaly's
    reference slice, series = pooled references — quirk Q4 orientation)
    WITHOUT the greedy exclusion-zone match selection, which is inherently
    sequential and stays golden-tested.  Distances are rounded to
    ``PROFILE_DECIMALS`` before the threshold compare so the FFT path and a
    naive O(n·m) SQL evaluation agree.
    """
    refs = melted.filter(F.col("type_data") == 0).select(
        "ano_key", "timestamp", "feature", "value"
    )
    out_schema = (
        "ano_key string, feature string, n_below long, min_dist double, "
        "n_windows long"
    )

    def per_feature(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ano_key", "timestamp"])
        pooled = pdf["value"].to_numpy(dtype=np.float64)
        feature = pdf["feature"].iloc[0]
        rows = []
        for key, grp in pdf.groupby("ano_key", sort=True):
            pattern = grp["value"].to_numpy(dtype=np.float64)
            d = mass_distance_profile(pattern, pooled)
            dr = np.round(d, PROFILE_DECIMALS)
            rows.append(
                (
                    key,
                    feature,
                    int((dr <= max_distance).sum()),
                    float(np.round(d.min(), PROFILE_DECIMALS)),
                    int(d.size),
                )
            )
        return pd.DataFrame(
            rows,
            columns=["ano_key", "feature", "n_below", "min_dist", "n_windows"],
        )

    return refs.groupBy("feature").applyInPandas(per_feature, out_schema)


def false_positive_filter(
    melted: DataFrame,
    max_distance: float = 40.0,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """melted long table → (*keys, ano_key, feature, feature_order,
    n_matches, kept).

    ``kept`` replicates the reference's rule: n_matches ≤ KEEP_THRESHOLD, with
    the fewest-matches fallback when an anomaly would keep nothing.

    ``keys`` are extra grouping columns (e.g. ``run_id`` for the instability
    re-runs): pooling happens per (*keys, feature) — each run pools ONLY its
    own sampled references, exactly as the reference's per-run pipeline
    re-execution does (reference script_1.py:227-238).
    """
    refs = melted.filter(F.col("type_data") == 0).select(
        *keys, "ano_key", "timestamp", "feature", "feature_order", "value"
    )

    # derive each extra key's type from the input — hardcoding int crashed
    # string/long keys at Arrow conversion
    key_schema = "".join(
        f"{k} {melted.schema[k].dataType.simpleString()}, " for k in keys
    )
    out_schema = (
        f"{key_schema}feature string, feature_order int, ano_key string, "
        "n_matches long"
    )

    def per_feature(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ano_key", "timestamp"])
        pooled = pdf["value"].to_numpy(dtype=np.float64)
        feature = pdf["feature"].iloc[0]
        order = int(pdf["feature_order"].iloc[0])
        extra = tuple(
            v.item() if hasattr(v, "item") else v
            for v in (pdf[k].iloc[0] for k in keys)
        )
        rows = []
        for key, grp in pdf.groupby("ano_key", sort=True):
            pattern = grp["value"].to_numpy(dtype=np.float64)
            n = count_matches(pattern, pooled, max_distance)
            rows.append((*extra, feature, order, key, n))
        return pd.DataFrame(
            rows,
            columns=[*keys, "feature", "feature_order", "ano_key", "n_matches"],
        )

    counts = refs.groupBy(*keys, "feature").applyInPandas(per_feature, out_schema)

    w_key = Window.partitionBy(*keys, "ano_key")
    counts = counts.withColumn(
        "kept_primary", (F.col("n_matches") <= F.lit(KEEP_THRESHOLD)).cast("int")
    )
    counts = counts.withColumn("any_kept", F.max("kept_primary").over(w_key))
    # fallback: argmin n_matches, ties by column order (np.argmin = first
    # occurrence, reference exstream/false_positive_filtering.py:46)
    w_min = Window.partitionBy(*keys, "ano_key").orderBy(
        "n_matches", "feature_order"
    )
    counts = counts.withColumn("min_rank", F.row_number().over(w_min))
    return counts.withColumn(
        "kept",
        F.when(F.col("any_kept") == 1, F.col("kept_primary") == 1).otherwise(
            F.col("min_rank") == 1
        ),
    ).select(*keys, "ano_key", "feature", "feature_order", "n_matches", "kept")
