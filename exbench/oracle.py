"""Expected answers, computed once per run outside the timed region.

The batch pipeline is re-derived in pandas/numpy with the repository's
single-node oracle (``tests/oracle_pandas.py``) for rewards, the leap cut
and instability, and numpy for the correlation clusters.  Two steps have
no independent implementation and are documented as such:

* which rows each instability run samples is decided by Spark's
  ``xxhash64``; the membership is computed by one Spark SQL expression over
  the slice keys (``sample_membership``) and everything after it in pandas;
* false-positive filtering calls the package's numpy MASS kernel
  (``operators.fp_filter.count_matches``) directly, so the oracle checks the
  pooling, grouping and keep/fallback logic around it, not the kernel.

The streaming oracle recomputes every anomaly's explanation from the
deterministic rate-source mapping (``stream_explanations``) up to a batch's end
offset.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from exstream_implementation_spark.canon import round_half_up
from exstream_implementation_spark.operators.fp_filter import count_matches
from tests import oracle_pandas as op


def slice_trace(trace: pd.DataFrame, labels: pd.DataFrame) -> pd.DataFrame:
    """Reference rows ``[ref_start, ref_end)`` and anomaly rows
    ``[ano_start, ano_end]`` per label, tagged ``type_data`` and ``ano_key``."""
    parts = []
    for lb in labels.itertuples(index=False):
        tr = trace[trace["trace_id"] == lb.trace_id]
        ts = tr["timestamp"]
        key = f"{lb.ano_type}_{lb.trace_id}_{lb.label_row}"
        for mask, cls in (
            ((ts >= lb.ref_start) & (ts < lb.ref_end), 0),
            ((ts >= lb.ano_start) & (ts <= lb.ano_end), 1),
        ):
            parts.append(tr[mask].assign(type_data=cls, ano_key=key, ano_id=lb.ano_id))
    return pd.concat(parts, ignore_index=True)


def sample_membership(spark, sliced: pd.DataFrame, runs: int, seed: int = 42,
                      fraction: float = 0.8) -> set[tuple[str, int, int]]:
    """(ano_key, timestamp, run_id) triples kept by the pipeline's xxhash64
    Bernoulli sampler for runs 1..runs (same expression and column types as
    ``pipeline.explain_anomalies``)."""
    if runs < 1:
        return set()
    keys = sliced[["ano_key", "timestamp"]].drop_duplicates()
    df = spark.createDataFrame(
        list(zip(keys["ano_key"].tolist(), keys["timestamp"].astype(int).tolist())),
        "ano_key string, timestamp long",
    )
    kept = df.selectExpr(
        "ano_key", "timestamp", f"explode(sequence(1, {int(runs)})) AS run_id"
    ).filter(
        f"pmod(xxhash64(ano_key, timestamp, run_id + {int(seed)}), 1000000)"
        f" < {int(fraction * 1_000_000)}"
    )
    return {(r[0], r[1], r[2]) for r in kept.collect()}


def _clusters(run_rows: pd.DataFrame, features: list[str], threshold: float) -> list[str]:
    corr = np.corrcoef(run_rows[features].to_numpy(dtype=float), rowvar=False)
    parent = list(range(len(features)))

    def find(i):
        while parent[i] != i:
            i = parent[i]
        return i

    for i in range(len(features)):
        for j in range(i):
            if not math.isnan(corr[i][j]) and abs(corr[i][j]) > threshold:
                parent[find(i)] = find(j)
    reps = {min(i for i in range(len(features)) if find(i) == r)
            for r in {find(i) for i in range(len(features))}}
    return [f for i, f in enumerate(features) if i in reps]


def _fp_kept(rows: pd.DataFrame, feats: list[str], max_distance: float) -> dict:
    """ano_key -> kept features, the reference's rule: <= 5 matches of the
    anomaly's reference shape in the pooled references, else the feature
    with the fewest matches."""
    refs = rows[rows["type_data"] == 0].sort_values(["ano_key", "timestamp"])
    counts: dict[str, list[tuple[int, int, str]]] = {}
    for order, f in feats:
        pooled = refs[f].to_numpy(dtype=np.float64)
        for key, grp in refs.groupby("ano_key", sort=True):
            n = count_matches(grp[f].to_numpy(dtype=np.float64), pooled, max_distance)
            counts.setdefault(key, []).append((n, order, f))
    kept = {}
    for key, lst in counts.items():
        primary = [f for n, _, f in lst if n <= 5]
        kept[key] = set(primary) if primary else {min(lst)[2]}
    return kept


def explain(trace: pd.DataFrame, labels: pd.DataFrame, spark, runs: int = 5,
            cluster: bool = False, fp: bool = False, threshold: float = 0.6,
            max_distance: float = 40.0) -> dict[str, tuple[list[int], float | None]]:
    """ano_key -> (explanation feature_orders, instability) for the
    pipeline's default config with the given filters."""
    meta = {"trace_id", "timestamp", "ano_id", "type_data", "ano_key"}
    features = [c for c in trace.columns if c not in meta]
    order = {f: i for i, f in enumerate(features)}
    sliced = slice_trace(trace, labels)
    member = sample_membership(spark, sliced, runs)
    keyed = list(zip(sliced["ano_key"], sliced["timestamp"].astype(int)))
    per_run: dict[int, dict[str, list[int]]] = {}
    for run in range(runs + 1):
        if run == 0:
            rows = sliced
        else:
            mask = [(k, t, run) in member for k, t in keyed]
            rows = sliced[np.array(mask, dtype=bool)]
        feats = _clusters(rows, features, threshold) if cluster else features
        valid = rows.groupby("ano_key")["type_data"].agg(["min", "max"])
        valid = valid[(valid["min"] == 0) & (valid["max"] == 1)].index
        rows = rows[rows["ano_key"].isin(valid)]
        fp_kept = _fp_kept(rows, [(order[f], f) for f in feats], max_distance) if fp else None
        out = {}
        for key, grp in rows.groupby("ano_key", sort=True):
            use = [f for f in feats if fp_kept is None or f in fp_kept[key]]
            labs = grp["type_data"].tolist()
            scored = [(order[f], op.reward(grp[f].tolist(), labs)) for f in use]
            scored.sort(key=lambda t: (-t[1], t[0]))
            out[key] = op.leap_filter(scored)
        per_run[run] = out
    result = {}
    for key, expl in per_run[0].items():
        samples = [per_run[r][key] for r in range(1, runs + 1) if key in per_run[r]]
        flat = [x for s in samples for x in s]
        result[key] = (list(expl), op.instability(samples) if flat else None)
    return result


def stream_periods(seed: int, keys: int, features: int) -> list[int]:
    """Label-run length per (key, feature): each anomaly key gets its own
    feature ranking."""
    rng = np.random.default_rng([seed, 3])
    return [int(p) for p in rng.integers(1, 9, keys * features)]


def stream_explanations(n_values: int, keys: int, features: int,
                        periods: list[int]) -> dict[str, list[int]]:
    """Expected explanation per anomaly key after the rate source emitted
    values [0, n_values): value v feeds key v % K, feature (v // K) % F at
    seq v // (K*F), labelled (seq // period) % 2 (the ``online_rate``
    mapping).  Mirrors the online scorer: arrival-order segmentation with
    the open run excluded, rewards rounded HALF_UP to 6 decimals, then the
    batch leap cut."""
    out = {}
    for k in range(keys):
        scored = []
        for f in range(features):
            slot = k + keys * f
            n = 0 if n_values <= slot else (n_values - 1 - slot) // (keys * features) + 1
            if n == 0:
                continue
            p = periods[k * features + f]
            labels = [(s // p) % 2 for s in range(n)]
            n_ano = sum(labels)
            if 0 < n_ano < n:
                pa = n_ano / n
                pr = 1.0 - pa
                cls = -pa * math.log2(pa) - pr * math.log2(pr)
            else:
                cls = 0.0
            seg = op.segmentation_entropy(labels)
            reward = cls / seg if seg > 0 else 0.0
            scored.append((f, round_half_up(reward, 6)))
        scored.sort(key=lambda t: (-t[1], t[0]))
        out[f"rate_{k}"] = op.leap_filter(scored)
    return out
