"""Distributed (chunked) MASS — z-normalized subsequence distance profile
over a series of arbitrary length.

The per-feature MASS in ``operators/fp_filter.py`` holds one feature's pooled
reference series in a single ``applyInPandas`` group and runs one full-length
MASS per anomaly over it (reference exstream/false_positive_filtering.py:
36-46), so C3's work grows with the square of the anomaly count (0.28 s of
Python at 2 anomalies, 23.1 s at 80; ROADMAP item 1 moves C3 onto this
operator).  This operator is the scale path for similarity search: the
series is split into fixed-size chunks with an (m-1)-row overlap, each chunk
computes its window starts' distances independently (z-normalized distance
depends only on the window and the pattern, so chunking is EXACT, not
approximate), and the union of per-chunk profiles is the full profile.

Plan shape: one narrow explode (each row lands in ≤ 2 chunks), one shuffle
keyed by chunk_id, Arrow-batched FFT per chunk. Series length is bounded
only by cluster storage; chunk_size bounds executor memory.

Requirements: ``seq`` must be DENSE consecutive integers starting at 0 in
series order (densify with ``operators.ranking.global_row_number`` first) and
``chunk_size >= len(pattern)``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from exstream_implementation_spark.operators.fp_filter import mass_distance_profile


def mass_profile_distributed(
    series: DataFrame,
    pattern: np.ndarray,
    chunk_size: int = 1 << 20,
    round_decimals: int | None = None,
) -> DataFrame:
    """(seq, value) series → (start, dist) full distance profile.

    Every window start position s gets the z-normalized Euclidean distance
    between pattern and series[s : s+m]. Exactly equivalent to running
    ``mass_distance_profile`` on the whole series (property-tested).
    """
    pat = np.asarray(pattern, dtype=np.float64)
    m = len(pat)
    if m < 2:
        raise ValueError("pattern must have at least 2 points")
    if chunk_size < m:
        raise ValueError(f"chunk_size {chunk_size} < pattern length {m}")

    c = int(chunk_size)
    own = (F.col("seq") / c).cast("long")
    # overlap rows (first m-1 of each chunk) also feed the previous chunk
    chunk_ids = F.array_compact(
        F.array(own, F.when((F.col("seq") % c <= m - 2) & (own > 0), own - 1))
    )
    exploded = series.select(
        F.col("seq").alias("__seq"),
        F.col("value").cast("double").alias("__val"),
        F.explode(chunk_ids).alias("__chunk"),
    )

    def per_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__seq")
        vals = pdf["__val"].to_numpy(dtype=np.float64)
        seqs = pdf["__seq"].to_numpy()
        k = int(pdf["__chunk"].iloc[0])
        d = mass_distance_profile(pat, vals)
        starts = seqs[: d.size]
        mask = (starts >= k * c) & (starts < (k + 1) * c)
        if round_decimals is not None:
            d = np.round(d, round_decimals)
        return pd.DataFrame({"start": starts[mask], "dist": d[mask]})

    return exploded.groupBy("__chunk").applyInPandas(
        per_chunk, "start long, dist double"
    )
