"""Shuffle-free heavy hitters — a space-saving (Metwally et al. 2005,
"Efficient computation of frequent and top-k elements in data streams")
summary computed per partition and merged, so the frequent items of a
100 TB key column surface WITHOUT exchanging the full key set.

Not in the reference (numeric traces only) — this serves corpus curation:
hot shingles/boilerplate lines/over-represented URLs are exactly the keys
whose exact groupBy would shuffle billions of near-unique rows to find a
handful of heavy ones.  plans/dedup.py's df-cap derives hot shingles from
a full gram aggregation; this sketch finds the same hot set in one pass
with O(partitions x capacity) summary state.

Guarantees (pinned by tests against exact counts):
  * presence — any key with true count > n_rows / capacity is tracked by
    at least one partition summary (sum(n_p/cap) = n/cap, so a globally
    heavy key is locally heavy somewhere) and therefore reported;
  * bounds — every reported key carries count_lo <= true <= count_hi.
    Per partition, an untracked key's count is bounded by that summary's
    eviction floor (its min count if full, 0 otherwise); the merge adds
    exactly those floors for the partitions where a key is absent:
      count_hi(x) = sum_tracked(count_hi_p(x))
                  + sum_{p not tracking x}(floor_p)
    computed relationally as sum(count_hi_p) + total_floor -
    sum(floor_p over tracking partitions);
  * exact — keys whose bounds coincide (tracked everywhere, never hit by
    an eviction) are marked; their count is the true count.

Execution shape: one ``mapInPandas`` pass emits <= capacity rows per
partition (each batch pre-reduced with a vectorized ``value_counts`` —
the Python loop touches distinct-per-batch keys, not rows); the partial
summaries are capacity-bounded, so everything downstream is a groupBy
over O(partitions x capacity) TINY rows — nothing corpus-sized moves.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _ss_update(counts: dict, err: dict, key, inc: int, capacity: int):
    """Space-saving insert of ``inc`` occurrences of ``key``."""
    if key in counts:
        counts[key] += inc
        return
    if len(counts) < capacity:
        counts[key] = inc
        err[key] = 0
        return
    # evict the current minimum; the newcomer inherits its count as
    # overestimation error (the classic space-saving step)
    mk = min(counts, key=counts.get)
    mv = counts.pop(mk)
    err.pop(mk)
    counts[key] = mv + inc
    err[key] = mv


def partition_summaries(
    df: DataFrame, col: str, capacity: int
) -> DataFrame:
    """(pid, key, count_hi, err, floor) — <= capacity key rows per
    partition.  ``floor`` is the partition's eviction floor (every
    UNTRACKED key's true count there is <= floor); it repeats on each of
    the partition's rows so the merge can reconstruct per-partition
    floors without a second pass."""
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1: {capacity}")

    def summarize(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict = {}
        err: dict = {}
        pid = -1
        for pdf in it:
            if pdf.empty:
                continue
            pid = int(pdf["__pid"].iloc[0])
            # vectorized pre-reduction: the slow path iterates DISTINCT
            # keys of the batch, not its rows
            vc = pdf[col].value_counts()
            for key, inc in vc.items():
                _ss_update(counts, err, key, int(inc), capacity)
        if counts:
            floor = (
                min(counts.values()) if len(counts) >= capacity else 0
            )
            yield pd.DataFrame(
                {
                    "pid": pid,
                    "key": list(counts.keys()),
                    "count_hi": list(counts.values()),
                    "err": [err[k] for k in counts],
                    "floor": floor,
                }
            )

    return (
        df.select(F.col(col).cast("string").alias(col))
        .withColumn("__pid", F.spark_partition_id())
        .mapInPandas(
            summarize,
            schema="pid int, key string, count_hi long, err long,"
            " floor long",
        )
    )


def heavy_hitters(
    df: DataFrame, col: str, k: int, capacity: int | None = None
) -> DataFrame:
    """Top-``k`` candidates of ``col`` with certainty bounds:
    (key, count_lo, count_hi, exact) ordered by count_hi desc, key asc.

    ``capacity`` (default 16*k, min 256) sets the guarantee: any key with
    true frequency > n_rows / capacity is reported (choose k and capacity
    so that n/capacity sits below the count of the rarest key you care
    about).  ``exact`` marks keys whose bounds coincide — their count is
    the true count."""
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    cap = capacity if capacity is not None else max(16 * k, 256)
    return (
        merge_summary_units(partition_summaries(df, col, cap), ["pid"])
        .orderBy(F.desc("count_hi"), F.asc("key"))
        .limit(k)
    )


def merge_summary_units(parts: DataFrame, unit_cols: list) -> DataFrame:
    """Merge space-saving summaries over any DISJOINT cover of the data —
    each distinct ``unit_cols`` tuple is one summary (a partition, or a
    (batch_id, pid) cell of a streaming sketch log).  The bound math is
    cover-agnostic: an untracked key's count within a unit is <= that
    unit's eviction floor, so

      count_hi(x) = sum_tracked(count_hi_u(x))
                  + sum_{u not tracking x}(floor_u)

    computed relationally exactly as the per-partition merge does.  The
    presence guarantee also carries over: sum_u(n_u/cap) = n/cap, so a
    globally heavy key is locally heavy in some unit and gets reported."""
    unit_cols = list(unit_cols)
    # total eviction floor across units — one tiny agg (<= one row per
    # unit after the distinct)
    floors = parts.select(*unit_cols, "floor").distinct()
    total_floor = F.broadcast(
        floors.agg(F.coalesce(F.sum("floor"), F.lit(0)).alias("__tf"))
    )
    merged = (
        parts.groupBy("key")
        .agg(
            F.sum("count_hi").alias("__hi_tracked"),
            F.sum("err").alias("__err"),
            F.sum("floor").alias("__floor_tracked"),
        )
        .crossJoin(total_floor)
        .select(
            "key",
            (F.col("__hi_tracked") - F.col("__err")).alias("count_lo"),
            (
                F.col("__hi_tracked")
                + F.col("__tf")
                - F.col("__floor_tracked")
            ).alias("count_hi"),
        )
        .withColumn("exact", F.col("count_hi") == F.col("count_lo"))
    )
    return merged
