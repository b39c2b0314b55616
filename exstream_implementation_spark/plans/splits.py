"""Leakage-safe train/val/test splits for corpus building.

Not in the reference (no dataset-assembly stage there) — this is the step
every training-data pipeline ends with, and one often done wrong at scale:
a row-wise `rand()` split changes with partitioning and retries.

Spark-first design:

  assignment  a PURE PROJECTION — split = f(md5(unit_key:salt)) with
              cumulative cutoffs over the weight vector.  No shuffle, no
              sample pass, no state; the split of a row can be recomputed
              anywhere from its key alone, so reruns, backfills and
              incremental appends land rows consistently.  md5 hex is
              bit-identical Spark<->DuckDB, the same selector as
              sample_mix (plans/dedup.py).
  group-aware the unit key can be a GROUP id (near-dup cluster, url host,
              license pool ...) instead of the row id: every member of a
              group hashes identically, so whole clusters co-assign.

Determinism note: weights are positions on the [0, 16^6) md5-prefix line,
identical to md5_hex_threshold's encoding, so expected proportions are
exact up to hash granularity (~6e-8) and EVERY engine or round re-derives
the same membership — the catalog gate (split branch of
sample_source_mix) pins that cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from exstream_implementation_spark.canon import md5_hex_threshold


def _cutoffs(weights: dict) -> list:
    """[(name, lo_frac, hi_frac)] — cumulative, normalized, insertion order."""
    if not weights:
        raise ValueError("assign_splits: weights must be non-empty")
    total = float(sum(weights.values()))
    if total <= 0 or any(w < 0 for w in weights.values()):
        raise ValueError(f"assign_splits: weights must be >= 0, sum > 0: {weights}")
    out, acc = [], 0.0
    for name, w in weights.items():
        lo = acc
        acc += w / total
        out.append((name, lo, acc))
    out[-1] = (out[-1][0], out[-1][1], 1.0)  # absorb float residue
    return out


def assign_splits(
    df: DataFrame,
    weights: dict,
    unit_col: str = "doc_id",
    salt: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Add ``split_col`` in {weights.keys()} — deterministic in
    (df[unit_col], salt, weights), independent of partitioning and engine.

    All rows sharing a ``unit_col`` value get the SAME split: pass the row
    id for an i.i.d. row split, or a group id (cluster / host / license)
    for a leakage-safe group split.  ``split_oracle_case`` is its DuckDB
    mirror.
    """
    cuts = _cutoffs(weights)
    u_hex = F.substring(
        F.md5(F.concat(F.col(unit_col).cast("string"), F.lit(f":{salt}"))),
        1, 6,
    )
    expr = F.lit(cuts[-1][0])
    # build the CASE from the top down: u < hi(name_i) picks name_i
    for name, _lo, hi in reversed(cuts[:-1]):
        expr = F.when(
            u_hex < F.lit(md5_hex_threshold(hi)), F.lit(name)
        ).otherwise(expr)
    return df.withColumn(split_col, expr)


def split_oracle_case(weights: dict, unit_sql: str, salt: int = 0) -> str:
    """The DuckDB mirror of assign_splits as a CASE
    expression over ``unit_sql`` — used by the catalog gate so both
    engines derive membership from the identical md5-prefix line."""
    cuts = _cutoffs(weights)
    parts = []
    for name, _lo, hi in cuts[:-1]:
        parts.append(
            f"WHEN substr(md5(CAST({unit_sql} AS VARCHAR) || ':{salt}'), 1, 6)"
            f" < '{md5_hex_threshold(hi)}' THEN '{name}'"
        )
    return "CASE " + " ".join(parts) + f" ELSE '{cuts[-1][0]}' END"
