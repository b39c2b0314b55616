"""One-scan dataset profiling — the look-before-you-train report every
100 TB corpus job starts with.

Not in the reference (no data-quality stage there).  The naive profiler
runs one job per column per statistic; at corpus scale that is dozens of
full scans.  Here the whole numeric/null/distinct/extremes profile
compiles into ONE aggregation over ONE scan (the operators/expectations.py
compilation trick — every statistic is an aggregate expression, so
Catalyst fuses them into a single whole-stage-codegen pass), and the
frequent-values report reuses the shuffle-free space-saving sketch
(operators/sketches.py) over a stacked (column, value) projection — one
more pass, independent of how many columns are profiled.

Per column:  n_null, null_frac, approx_distinct (HLL), min / max
             (as strings, so one report schema fits every type),
             mean / stddev for numeric columns, avg_len for strings.
Top values:  per-column top-k with space-saving certainty bounds
             (count_lo == count_hi marks exact counts).

Both entry points return small tidy DataFrames (one row per column /
per (column, value)) built driver-side from the bounded aggregate
results — report frames, not corpus frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from exstream_implementation_spark.operators.sketches import (
    merged_summaries,
)
from exstream_implementation_spark.session import local_frame

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def profile_columns(df: DataFrame, cols: list | None = None) -> DataFrame:
    """One-aggregation profile; returns (column, dtype, n, n_null,
    null_frac, approx_distinct, min, max, mean, stddev, avg_len) with
    NULL in the slots a type doesn't have."""
    names = cols if cols is not None else df.columns
    missing = [c for c in names if c not in df.columns]
    if missing:
        raise ValueError(f"profile_columns: unknown columns {missing}")
    if not names:
        raise ValueError("profile_columns: no columns to profile")
    aggs = [F.count(F.lit(1)).alias("__n")]
    by_type = {}
    for c in names:
        dt = df.schema[c].dataType
        by_type[c] = dt
        aggs.append((F.count(F.lit(1)) - F.count(c)).alias(f"nn_{c}"))
        simple = isinstance(
            dt, _NUMERIC + (T.StringType, T.BooleanType, T.DateType,
                            T.TimestampType, T.TimestampNTZType)
        )
        if simple:
            aggs.append(F.approx_count_distinct(c).alias(f"ad_{c}"))
            aggs.append(F.min(c).cast("string").alias(f"mn_{c}"))
            aggs.append(F.max(c).cast("string").alias(f"mx_{c}"))
        if isinstance(dt, _NUMERIC):
            aggs.append(F.avg(F.col(c).cast("double")).alias(f"mu_{c}"))
            aggs.append(
                F.stddev_pop(F.col(c).cast("double")).alias(f"sd_{c}")
            )
        if isinstance(dt, T.StringType):
            aggs.append(F.avg(F.length(c)).alias(f"al_{c}"))
    row = df.agg(*aggs).first()  # the ONE scan
    n = int(row["__n"])
    out = []
    for c in names:
        g = lambda k: row[f"{k}_{c}"] if f"{k}_{c}" in row.asDict() else None
        n_null = int(g("nn"))
        out.append((
            c,
            by_type[c].simpleString(),
            n,
            n_null,
            (n_null / n) if n else None,
            int(g("ad")) if g("ad") is not None else None,
            g("mn"),
            g("mx"),
            float(g("mu")) if g("mu") is not None else None,
            float(g("sd")) if g("sd") is not None else None,
            float(g("al")) if g("al") is not None else None,
        ))
    return local_frame(
        df.sparkSession,
        out,
        "column string, dtype string, n long, n_null long,"
        " null_frac double, approx_distinct long, min string, max string,"
        " mean double, stddev double, avg_len double",
    )


def profile_top_values(
    df: DataFrame, cols: list | None = None, k: int = 5,
    capacity: int | None = None,
) -> DataFrame:
    """Per-column frequent values in ONE pass over a stacked projection:
    every profiled column contributes (column, value-as-string) rows to a
    single space-saving sketch keyed by the pair, so the pass count does
    not grow with the column count.  NULLs are skipped (they are counted
    by profile_columns).  Returns (column, value, count_lo, count_hi,
    exact), top-k per column by count_hi desc, value asc."""
    names = cols if cols is not None else df.columns
    if not names:
        raise ValueError("profile_top_values: no columns to profile")
    missing = [c for c in names if c not in df.columns]
    if missing:
        raise ValueError(f"profile_top_values: unknown columns {missing}")
    if any("\x1f" in c for c in names):
        raise ValueError(
            "profile_top_values: column names may not contain U+001F"
        )
    stacked = df.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("column"),
                    F.col(c).cast("string").alias("value"),
                )
                for c in names
            ])
        ).alias("s")
    ).select("s.column", "s.value").filter(F.col("value").isNotNull())
    pair = stacked.select(
        F.concat_ws("\x1f", "column", "value").alias("key")
    )
    # full merged summary, then cut per COLUMN — a global top cut would
    # let one heavy column starve the others' top-k.  Capacity scales
    # with the column count so each column keeps its per-column guarantee
    # (presence of keys with freq > n_col_rows / (capacity / n_cols)).
    cap = capacity if capacity is not None else max(16 * k, 256) * len(names)
    hits = merged_summaries(pair, "key", cap)
    from pyspark.sql import Window

    # split at the FIRST separator only: column names are \x1f-free (we
    # control them), but a raw corpus VALUE may contain \x1f — taking the
    # remainder keeps such values intact instead of truncating them
    split = hits.select(
        F.expr("substring(key, 1, locate('\x1f', key) - 1)").alias("column"),
        F.expr("substring(key, locate('\x1f', key) + 1)").alias("value"),
        "count_lo", "count_hi", "exact",
    )
    w = Window.partitionBy("column").orderBy(
        F.desc("count_hi"), F.asc("value")
    )
    return (
        split.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .drop("__r")
        .orderBy("column", F.desc("count_hi"), F.asc("value"))
    )
