"""A warm explain call compiles no classes.

Spark caches the classes it generates (Janino) in an LRU keyed by generated
source.  ``get_spark`` sizes that cache to hold the engine's working set;
at Spark's default of 100 entries, one explain call with clustering and FP
filtering (~160 classes) evicted its own classes and every warm call
recompiled all of them.  The plans must also be data-independent: a second
trace with the same columns but a different number of anomalies reuses the
compiled classes (the per-run correlation survivors are data in a local
relation, and C2's per-run means an array literal the generated class holds
as a reference, not literals in the generated source).
"""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from exstream_implementation_spark import cache
from exstream_implementation_spark.pipeline import ExplainConfig, explain_anomalies

N_FEATURES = 6
REF, ANO, GAP = 300, 150, 30


def _write_trace(root, seed: int, anomalies: int) -> str:
    """Trace + labels parquet: anomaly i owns [ref | gap | ano | gap] and
    shifts features i % N and (i + 2) % N during its anomaly interval;
    odd features are noisy copies of their even partner (clusters for C2)."""
    rng = np.random.default_rng(seed)
    block = REF + ANO + 2 * GAP
    n = anomalies * block
    base = rng.normal(50.0, 5.0, (n, N_FEATURES // 2))
    feats = np.empty((n, N_FEATURES))
    for j in range(N_FEATURES):
        feats[:, j] = base[:, j // 2] + (rng.normal(0, 1.0, n) if j % 2 else 0)
    labels = []
    for i in range(anomalies):
        s = i * block
        a0 = s + REF + GAP
        for j in (i % N_FEATURES, (i + 2) % N_FEATURES):
            feats[a0 : a0 + ANO, j] += 40.0
        labels.append((i, "t1", i + 1, "bursty input", s, s + REF, a0, a0 + ANO - 1))
    cols = {"trace_id": pa.array(["t1"] * n), "timestamp": pa.array(np.arange(n))}
    for j in range(N_FEATURES):
        cols[f"f{j}"] = pa.array(np.round(feats[:, j], 3))
    out = root / f"trace_{seed}"
    out.mkdir()
    pq.write_table(pa.table(cols), out / "trace.parquet")
    names = ["label_row", "trace_id", "ano_id", "ano_type",
             "ref_start", "ref_end", "ano_start", "ano_end"]
    pq.write_table(
        pa.table({k: pa.array(v) for k, v in zip(names, zip(*labels))}),
        out / "labels.parquet",
    )
    return str(out)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _explain(spark, d: str) -> tuple[int, int]:
    """(classes compiled, explanation rows) of one explain call."""
    cache.enter_query()
    try:
        before = _compiles(spark)
        rows = explain_anomalies(
            spark.read.parquet(f"{d}/trace.parquet"),
            spark.read.parquet(f"{d}/labels.parquet"),
            ExplainConfig(
                cluster=True, false_positive_filtering=True, instability_runs=1
            ),
        ).collect()
        return _compiles(spark) - before, len(rows)
    finally:
        cache.exit_query()


def test_warm_explain_compiles_nothing(spark, tmp_path):
    first = _write_trace(tmp_path, seed=1, anomalies=2)
    second = _write_trace(tmp_path, seed=2, anomalies=3)
    _, n_first = _explain(spark, first)  # warm-up: compiles the working set
    assert n_first == 2
    repeat, _ = _explain(spark, first)
    assert repeat == 0, f"a repeat call compiled {repeat} classes"
    other, n_other = _explain(spark, second)
    assert n_other == 3
    assert other == 0, (
        f"a call on a trace with a different anomaly count compiled {other} classes"
    )
