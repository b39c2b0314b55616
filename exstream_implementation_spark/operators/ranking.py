"""Scalable global ordering operators.

``Window.orderBy`` with no partition key moves every row to ONE partition —
fine at sf0.01, fatal at 100 TB.  These helpers keep global rankings fully
distributed:

- ``global_row_number``  range-repartition on the sort key, sort within each
  partition, then offset each partition's local row numbers by the cumulative
  count of the partitions before it (one tiny driver-side prefix sum over
  #partitions values — never over rows).
- ``top_k_ranked``       distributed top-k (per-partition top-k + merge via
  ``orderBy().limit()``, which Spark plans as TakeOrderedAndProject) followed
  by a window over only the k survivors.

Reference parity: these replace the eager pandas global sorts/positional
index the reference relies on (script_1.py:164-166 positional merge;
entropy_based_single_reward_feature.py:239-241 global reward ordering).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from exstream_implementation_spark.cache import tracked_persist
from exstream_implementation_spark.session import local_frame


def global_row_number(
    df: DataFrame,
    order_by: list[Column],
    rn_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Consecutive 1-based global row numbers in ``order_by`` order, without a
    single-partition window.

    Plan shape: rangepartition+sort (one shuffle, all partitions), a cheap
    per-partition count job, then a map-side offset join — the count job reads
    only partition sizes, so the added cost is one lightweight pass.
    """
    n = num_partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    ordered = df.repartitionByRange(int(n), *order_by).sortWithinPartitions(*order_by)
    # MUST persist before the sizes job: repartitionByRange SAMPLES the data
    # to pick range boundaries, so an unpersisted plan can land on DIFFERENT
    # boundaries when the final job recomputes it — the collected offsets
    # then belong to a partitioning that no longer exists and row numbers
    # collide (observed at 15k rows: 58 duplicate rns).  The persist pins
    # one materialized partitioning that both the sizes job and the output
    # job read (same discipline as global_lag below).
    with_pid = ordered.withColumn("__pid", F.spark_partition_id()).transform(
        tracked_persist
    )
    # per-partition sizes → driver-side prefix sum (O(#partitions), tiny)
    sizes = {
        r["__pid"]: r["cnt"]
        for r in with_pid.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    offset_df = F.broadcast(
        local_frame(
            df.sparkSession,
            [(pid, off) for pid, off in offsets.items()],
            "__pid int, __offset long",
        )
    )
    w_local = Window.partitionBy("__pid").orderBy(*order_by)
    return (
        with_pid.withColumn("__local_rn", F.row_number().over(w_local))
        .join(offset_df, "__pid")
        .withColumn(rn_col, (F.col("__offset") + F.col("__local_rn")).cast("long"))
        .drop("__pid", "__local_rn", "__offset")
    )


def global_lag(
    df: DataFrame,
    order_by: list[Column],
    value_col: str,
    rn_col: str = "rn",
    lag_col: str = "prev",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global row number AND lag(value) in one distributed pass — no
    single-partition window and no rank-shift self-join.

    lag is computed inside each range partition (rows are already sorted
    there); the first row of partition p takes its predecessor from
    partition p-1's LAST row, fetched by a boundary collect of one row per
    partition (O(#partitions), never O(rows)).  Compared to the
    rank-then-join-on-(rn+1) formulation this removes a full shuffle of the
    ranked table — the win that matters when the ranked relation is itself
    large (e.g. per-key aggregates over a 100 TB fact table).

    ``df`` is cached before the range partitioning: ``repartitionByRange``
    SAMPLES its child in a separate job, so an unpersisted input subtree is
    computed TWICE (sampling pass + shuffle map pass).  The input cache is
    dropped as soon as the shuffled output is materialized.
    """
    n = num_partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    src = tracked_persist(df)
    w_local = Window.partitionBy("__pid").orderBy(*order_by)
    # one persisted pass carries the sort, the window row numbers AND the
    # window lag — the sizes job, the boundary job and the caller's
    # materialization all read this cache (the window never computes twice)
    local = (
        src.repartitionByRange(int(n), *order_by)
        .sortWithinPartitions(*order_by)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__local_rn", F.row_number().over(w_local))
        .withColumn("__lag", F.lag(value_col).over(w_local))
        .transform(tracked_persist)
    )
    # ONE stats job fetches both the per-partition sizes and the boundary
    # (last-row) values: max_by picks the row with the highest local rn per
    # partition — halves the O(#partitions) driver fetches vs a sizes job
    # followed by a boundary-row filter job
    stats = (
        local.groupBy("__pid")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            # struct-wrap: max_by must hand back the TRUE last row's value
            # even when that value is NULL (a bare null value could be
            # skipped by the aggregate's null handling)
            F.max_by(
                F.struct(F.col(value_col).alias("v")), F.col("__local_rn")
            ).alias("last_val"),
        )
        .collect()
    )
    # `local` is materialized by the stats job — the input cache has served
    # both its reads (sampling + shuffle map) and can go now
    src.unpersist()
    sizes = {r["__pid"]: r["cnt"] for r in stats}
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    # ONE broadcast frame carries offsets AND the previous partition's
    # boundary value (the old shape broadcast-joined two separate frames —
    # two BroadcastExchanges and two join nodes for O(#partitions) rows)
    boundary = {r["__pid"]: r["last_val"]["v"] for r in stats}
    nonempty = sorted(boundary)
    prev_of = {
        pid: boundary[prev_pid]
        for prev_pid, pid in zip(nonempty, nonempty[1:])
    }
    vtype = df.schema[value_col].dataType.simpleString()
    meta_df = F.broadcast(
        local_frame(
            df.sparkSession,
            [
                (pid, offsets[pid], prev_of.get(pid))
                for pid in sorted(sizes)
            ],
            f"__pid int, __offset long, __bprev {vtype}",
        )
    )
    # the boundary value substitutes ONLY on each partition's first row — a
    # NULL value_col mid-partition must stay NULL, exactly as Window lag
    # would report it
    stitched_lag = F.when(
        F.col("__local_rn") == 1, F.col("__bprev")
    ).otherwise(F.col("__lag"))
    out = (
        local.join(meta_df, "__pid")
        .withColumn(rn_col, (F.col("__offset") + F.col("__local_rn")).cast("long"))
        .withColumn(lag_col, stitched_lag)
        .drop("__pid", "__local_rn", "__lag", "__offset", "__bprev")
    )
    return out


def top_k_ranked(
    df: DataFrame,
    order_by: list[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Top-k rows with a 1..k rank column.  ``orderBy().limit(k)`` compiles to
    TakeOrderedAndProject (per-partition heap + driver merge of k·#partitions
    rows); the ranking window then runs over k rows only."""
    topk = df.orderBy(*order_by).limit(k)
    w = Window.orderBy(*order_by)
    return topk.withColumn(rank_col, F.row_number().over(w))
