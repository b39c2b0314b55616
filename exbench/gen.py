"""Seeded input generator for the benchmark.

Every input the package sees is written here from ``--seed`` alone, as
parquet, so the same seed gives byte-identical files: a 1 Hz metric
trace with ``n_features`` rounded float metrics (Exathlon-like) plus a
labels table.  Each anomaly shifts a different subset of features during
its anomaly interval; features come in correlated pairs so correlation
filtering has clusters to merge.

No NULL, NaN or +-inf is ever generated: the engine's semantics for those
are not defined yet, so the benchmark does not exercise them.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def raw(
    seed: int,
    out_dir: str,
    n_features: int = 10,
    anomalies: int = 2,
    ref_rows: int = 20_000,
    ano_rows: int = 20_000,
    gap_rows: int = 1_000,
) -> str:
    """Write ``out_dir/trace.parquet`` and ``out_dir/labels.parquet``.

    Anomaly i owns the block [ref | gap | ano | gap] of the trace, with its
    reference interval ``[ref_start, ref_end)`` and anomaly interval
    ``[ano_start, ano_end]`` (the package's slicing bounds)."""
    rng = np.random.default_rng([seed, 2])
    block = ref_rows + ano_rows + 2 * gap_rows
    n = anomalies * block
    base = rng.normal(50.0, 5.0, (n, n_features // 2))
    cols = {}
    for j in range(n_features):
        src = base[:, j // 2]
        if j % 2:  # the correlated partner of feature j-1
            src = 0.8 * src + rng.normal(0.0, 1.5, n)
        cols[f"m{j:02d}"] = src
    labels = []
    for i in range(anomalies):
        start = i * block
        ref_start, ref_end = start, start + ref_rows
        ano_start = ref_end + gap_rows
        ano_end = ano_start + ano_rows - 1
        shifted = rng.choice(n_features, size=2 + i % 3, replace=False)
        for j in shifted:
            scale = rng.uniform(0.3, 1.5)
            cols[f"m{j:02d}"][ano_start : ano_end + 1] += scale * 5.0
        labels.append(
            (i, "raw", i + 1, f"shift_{i}", ref_start, ref_end, ano_start, ano_end)
        )
    trace = pa.table(
        {
            "timestamp": pa.array(np.arange(n, dtype=np.int64)),
            **{k: pa.array(np.round(v, 1)) for k, v in cols.items()},
            "trace_id": pa.array(["raw"] * n),
        }
    )
    _write(trace, os.path.join(out_dir, "trace.parquet"))
    names = [
        "label_row", "trace_id", "ano_id", "ano_type",
        "ref_start", "ref_end", "ano_start", "ano_end",
    ]
    types = [
        pa.int32(), pa.string(), pa.int32(), pa.string(),
        pa.int64(), pa.int64(), pa.int64(), pa.int64(),
    ]
    label_table = pa.table(
        {
            name: pa.array([row[k] for row in labels], type=t)
            for k, (name, t) in enumerate(zip(names, types))
        }
    )
    _write(label_table, os.path.join(out_dir, "labels.parquet"))
    return out_dir
