"""Deterministic shuffle-shard export — the training pipeline's last mile.

Not in the reference (a numeric-trace anomaly engine; reference core
script_1.py / exstream_lib.py never writes corpora) — this is the step a
training-data pipeline runs after curation/dedup/packing: a GLOBAL
pseudo-random shuffle of the corpus into N equal-ish shards, such that

  * the permutation is DETERMINISTIC in (data, seed) — re-running the
    export reproduces byte-identical shard membership and order, so a
    training run can be resumed/audited, and a different ``seed`` gives an
    independent epoch permutation;
  * no global sort: rows hash to a shard (one all-to-all shuffle, the
    unavoidable one for a global shuffle) and only sort WITHIN their shard
    (spillable, per-partition) — a total order across 100 TB is never
    materialized;
  * balance is hash-uniform: shard sizes concentrate around rows/N with
    multiplicative Chernoff deviation, no planning pass needed.

The position key is ``xxhash64(key, seed)`` — a keyed hash, not rand():
Spark's rand() is seeded per-partition, so its "shuffle" changes with the
input partitioning; a keyed hash depends only on row identity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from exstream_implementation_spark.session import local_frame

# distinct salts so the shard assignment and the within-shard order are
# independent hash draws (otherwise shard i would hold a contiguous hash
# range and within-shard order would correlate with assignment)
_SHARD_SALT = 0x511AD
_ORDER_SALT = 0x0BDE5


def assign_shards(
    df: DataFrame, key_col: str, n_shards: int, seed: int = 0
) -> DataFrame:
    """Add ``shard`` (int, 0..n_shards-1) and ``pos`` (long) columns.

    ``key_col`` must identify a row (post-dedup corpora: doc_id).  Rows
    with equal keys co-locate — harmless after dedup, and it keeps the
    permutation a pure function of row identity.
    """
    h = lambda salt: F.xxhash64(  # noqa: E731
        F.col(key_col), F.lit(int(seed)), F.lit(salt)
    )
    return df.withColumn(
        "shard", F.pmod(h(_SHARD_SALT), F.lit(n_shards)).cast("int")
    ).withColumn("pos", h(_ORDER_SALT))


def shuffle_shard(
    df: DataFrame, key_col: str, n_shards: int, seed: int = 0
) -> DataFrame:
    """Globally shuffled frame, physically partitioned one-shard-per-
    partition with rows in final within-shard order.  Writing it with any
    per-partition writer yields one file per shard."""
    return (
        assign_shards(df, key_col, n_shards, seed)
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "pos", key_col)
    )


def write_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    n_shards: int,
    seed: int = 0,
    fmt: str = "parquet",
) -> None:
    """Export the shuffled corpus as ``path/shard=i/`` — exactly ONE data
    file per shard.

    ``repartition(n, "shard")`` alone cannot promise one file per shard
    (it hash-partitions the shard VALUE, and two values can collide into
    one task, leaving another empty); writing ``partitionBy("shard")`` on
    top of it can: each shard value lives in exactly one task, and each
    task emits one file per shard value it holds.

    ``fmt``: "parquet" or "json" (JSONL — one object per line, the
    interchange format most training loaders read).  ``pos`` is kept in
    the rows and ``shard`` in the directory name, so every row's placement
    is auditable and a resumed export trivially verifiable.
    """
    if fmt not in ("parquet", "json"):
        raise ValueError(f"unsupported shard format: {fmt}")
    shuffled = shuffle_shard(df, key_col, n_shards, seed)
    shuffled.write.mode("overwrite").format(fmt).partitionBy("shard").save(path)


def shard_balance(df_sharded: DataFrame) -> DataFrame:
    """Rows per shard — one map-side-combined aggregate, for balance
    monitoring/alerting at export time."""
    return df_sharded.groupBy("shard").agg(F.count("*").alias("rows"))


# --- range-partitioned sorted shards + min/max manifest ---------------------
#
# The OTHER canonical shard layout: where the hash shuffle above randomizes
# (what a training loader wants), a RANGE layout clusters (what a serving /
# time-series / id-range reader wants) — shard i holds a contiguous key
# range, rows sorted by key within the shard, and a manifest records each
# shard's (key_min, key_max, rows) so a range query opens only the shards
# that can contain it (file-level data skipping, the same idea parquet
# row-group stats implement one level down; cf. operators/zorder.py for the
# multi-column variant of the layout question).
#
# Boundary keys are EXACT quantile split points, not repartitionByRange's
# sampled ones: sampled boundaries change run-to-run and with input layout,
# which breaks the "re-export reproduces byte-identical shards" contract the
# hash path above pins.  Exactness costs one narrow aggregation of the key
# column — (key, count) — plus the offset-stitched prefix sum from
# operators/ranking.py (per-partition sums + an O(#partitions) driver
# collect), never a single-partition sort.

_MANIFEST = "_RANGE_MANIFEST.json"


def range_shard_bounds(
    df: DataFrame, key_col: str, n_shards: int
) -> list:
    """Exact upper-boundary keys splitting df into ``n_shards`` equal-count
    key ranges: bound i is the key at global row rank ceil(rows*(i+1)/N),
    i = 0..N-2.  Deterministic in (data, n_shards) — independent of input
    partitioning.  Equal keys never split across shards, so a key hotter
    than rows/N yields duplicate bounds, which collapse to fewer, larger
    shards (inherent to any range layout; the manifest records reality).

    Cost: one map-side-combined (key, count) aggregation, one range
    exchange of that NARROW table, an O(#partitions) sizes collect, and an
    O(n_shards) boundary collect.  The data table itself is not touched.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1: {n_shards}")
    if n_shards == 1:
        return []
    return _bounds_from_counts(_key_counts(df, key_col), key_col, n_shards)


def _key_counts(df: DataFrame, key_col: str) -> DataFrame:
    """Persisted, range-ordered (key, _n, _pid) — the ONE narrow aggregate
    of the data table that bounds, NULL validation, and the manifest stats
    all derive from."""
    from exstream_implementation_spark.cache import tracked_persist

    kc = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("_n"))
    # shuffle.partitions can be non-numeric ("auto" on AQE-managed
    # platforms) — fall back to the frame's own partitioning, then a
    # fixed default, rather than throwing on the conf parse
    try:
        p = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        try:
            p = max(df.rdd.getNumPartitions(), 1)
        except Exception:
            p = 200
    # persist BEFORE the sizes job: repartitionByRange samples to pick its
    # partition boundaries, so an unpersisted plan can re-sample onto
    # different boundaries between the sizes job and the boundary job
    # (operators/ranking.py global_row_number pins the same discipline)
    return tracked_persist(
        kc.repartitionByRange(p, key_col)
        .sortWithinPartitions(key_col)
        .withColumn("_pid", F.spark_partition_id())
    )


def _bounds_from_counts(
    ordered: DataFrame, key_col: str, n_shards: int
) -> list:
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1: {n_shards}")
    if n_shards == 1:
        return []
    spark = ordered.sparkSession
    sizes = {
        r["_pid"]: r["s"]
        for r in ordered.groupBy("_pid")
        .agg(F.sum("_n").alias("s"))
        .collect()
    }
    total = sum(sizes.values())
    if total == 0:
        return []
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    # global cumulative row count at each key = partition offset + local
    # running sum; a key is boundary i iff target_i lands in
    # (cum - _n, cum] — each target crossed by exactly one key row
    targets = [
        -(-total * (i + 1) // n_shards) for i in range(n_shards - 1)
    ]  # ceil
    off = F.broadcast(
        local_frame(
            spark,
            [(pid, o) for pid, o in offsets.items()],
            "_pid int, _off long",
        )
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(key_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = ordered.join(off, "_pid").withColumn(
        "_cum", F.col("_off") + F.sum("_n").over(w)
    )
    t_arr = F.array(*[F.lit(t) for t in targets])
    hits = cum.select(
        F.col(key_col),
        F.filter(
            t_arr,
            lambda t: (t > F.col("_cum") - F.col("_n"))
            & (t <= F.col("_cum")),
        ).alias("_hit"),
    ).filter(F.size("_hit") > 0)
    bounds = sorted({r[key_col] for r in hits.collect()})
    return bounds


def _shard_expr(key_col: str, bounds: list) -> F.Column:
    """shard = number of bounds strictly below the key."""
    if not bounds:
        return F.lit(0)
    b_arr = F.array(*[F.lit(b) for b in bounds])
    return F.size(F.filter(b_arr, lambda b: b < F.col(key_col))).cast("int")


def assign_range_shards(
    df: DataFrame, key_col: str, bounds: list
) -> DataFrame:
    """Add ``shard`` = number of bounds strictly below the key (so shard i
    holds keys in (bounds[i-1], bounds[i]], shard 0 everything up to
    bounds[0], the last shard everything above).  NULL keys are rejected —
    a range layout has no defined place for them; filter or impute first.
    (The NULL check is one eager pass over the key column;
    ``write_range_shards`` performs it on its narrow key-count table
    instead and skips this one.)"""
    if df.filter(F.col(key_col).isNull()).limit(1).count() > 0:
        raise ValueError(
            f"range sharding: NULL {key_col} has no defined range; "
            "filter or impute NULL keys first"
        )
    return df.withColumn("shard", _shard_expr(key_col, bounds))


def write_range_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    n_shards: int,
    fmt: str = "parquet",
) -> dict:
    """Export ``path/shard=i/`` with contiguous key ranges, rows sorted by
    key within each shard, ONE data file per shard (same partitionBy
    guarantee as write_shards), plus ``_RANGE_MANIFEST.json`` recording per
    shard (shard, key_min, key_max, rows) — the pruning index
    ``read_range_shards`` consumes.  Returns the manifest dict.

    Empty input still writes a schema-bearing empty shard=0 file so the
    export root stays readable (the corpus_prep empty-split convention).
    """
    if fmt not in ("parquet", "json"):
        raise ValueError(f"unsupported shard format: {fmt}")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1: {n_shards}")
    import json
    import os

    # the data table is scanned exactly TWICE: the narrow (key, count)
    # aggregate below, and the write itself.  NULL validation and the
    # manifest stats both derive from the persisted key-count table, so
    # they can never disagree with the bounds — and an expensive upstream
    # lineage is not re-executed per bookkeeping pass.
    kc = _key_counts(df, key_col)
    if kc.filter(F.col(key_col).isNull()).limit(1).count() > 0:
        raise ValueError(
            f"range sharding: NULL {key_col} has no defined range; "
            "filter or impute NULL keys first"
        )
    bounds = (
        _bounds_from_counts(kc, key_col, n_shards) if n_shards > 1 else []
    )
    (
        df.withColumn("shard", _shard_expr(key_col, bounds))
        .repartition(max(len(bounds) + 1, 1), "shard")
        .sortWithinPartitions("shard", key_col)
        .write.mode("overwrite")
        .format(fmt)
        .partitionBy("shard")
        .save(path)
    )
    stats = (
        kc.withColumn("shard", _shard_expr(key_col, bounds))
        .groupBy("shard")
        .agg(
            F.min(key_col).alias("key_min"),
            F.max(key_col).alias("key_max"),
            F.sum("_n").alias("rows"),
        )
        .collect()
    )
    if not stats and fmt == "parquet":
        # empty input: keep the root readable for a direct spark.read.
        # Parquet only — an empty JSON file is schema-less, so the JSON
        # empty case is served from the manifest's recorded schema
        # (read_range_shards constructs the empty frame from it).
        df.limit(0).write.mode("overwrite").format(fmt).save(
            os.path.join(path, "shard=0")
        )
    manifest = {
        "key_col": key_col,
        "fmt": fmt,
        # the frame's schema (sans the added shard column) — lets readers
        # build a typed empty frame when pruning eliminates every shard
        # or the export itself was empty (JSON files can't carry schema)
        "schema": json.loads(df.schema.json()),
        "n_shards_requested": n_shards,
        "shards": sorted(
            (
                {
                    "shard": r["shard"],
                    "key_min": r["key_min"],
                    "key_max": r["key_max"],
                    "rows": r["rows"],
                }
                for r in stats
            ),
            key=lambda s: s["shard"],
        ),
    }
    tmp = os.path.join(path, f".{_MANIFEST}.tmp")
    with open(tmp, "w") as fh:
        # keys must round-trip through JSON for pruning to compare them
        # faithfully — numeric and string keys do; anything else (e.g.
        # timestamps) serializes via str() and the caller must prune with
        # the same string form
        json.dump(manifest, fh, indent=1, sort_keys=True, default=str)
    os.replace(tmp, os.path.join(path, _MANIFEST))
    return manifest


def prune_range_shards(path: str, lo=None, hi=None) -> list:
    """Shard ids whose [key_min, key_max] intersects [lo, hi] (None =
    unbounded) — the manifest read, no data touched."""
    import json
    import os

    with open(os.path.join(path, _MANIFEST)) as fh:
        manifest = json.load(fh)
    out = []
    for s in manifest["shards"]:
        if lo is not None and s["key_max"] < lo:
            continue
        if hi is not None and s["key_min"] > hi:
            continue
        out.append(s["shard"])
    return out


def read_range_shards(spark, path: str, lo=None, hi=None) -> DataFrame:
    """Rows with ``lo <= key <= hi`` (either side None = unbounded),
    scanning ONLY the shards the manifest says can contain the range.
    Pruning is a performance lever; the residual filter carries the
    semantics, so a stale manifest can cost speed but never correctness
    within the scanned shards."""
    import json
    import os

    with open(os.path.join(path, _MANIFEST)) as fh:
        manifest = json.load(fh)
    key_col, fmt = manifest["key_col"], manifest["fmt"]
    keep = prune_range_shards(path, lo, hi)
    if not keep:
        if "schema" in manifest:
            # typed empty frame straight from the manifest — no file scan,
            # and the only correct path for JSON (whose empty files carry
            # no schema to infer).  `shard` is appended to mirror the
            # partition column the non-pruned read path discovers.
            from pyspark.sql.types import (
                IntegerType,
                StructField,
                StructType,
            )

            st = StructType.fromJson(manifest["schema"])
            if "shard" not in st.names:
                st = StructType(
                    list(st.fields)
                    + [StructField("shard", IntegerType(), True)]
                )
            return local_frame(spark, [], st)
        empty = (  # pre-schema manifests: infer from the parquet files
            spark.read.format(fmt)
            .option("basePath", path)
            .load(os.path.join(path, "shard=*"))
            .limit(0)
        )
        return empty
    reader = spark.read.format(fmt).option("basePath", path)
    df = reader.load([os.path.join(path, f"shard={i}") for i in keep])
    if lo is not None:
        df = df.filter(F.col(key_col) >= F.lit(lo))
    if hi is not None:
        df = df.filter(F.col(key_col) <= F.lit(hi))
    return df
