"""Physical-layout levers for skewed joins and multi-column pruning: AQE's
skew-join split, and the z-order layout (operators/zorder.py) that keeps
per-file min/max spans tight on two columns at once."""


def test_aqe_splits_skewed_join_partitions(spark):
    """Skew story beyond salting (groupby_salted_skew): for JOINS we rely on
    AQE's skew-join rule — a hot key's oversized reduce partition is split at
    runtime by mapper ranges. Two operational preconditions this test pins
    (both bit us): the upstream stage needs MULTIPLE mappers (a split's unit
    is one mapper's output — a single-file scan gives one mapper and nothing
    can split), and the skew thresholds must sit below the hot partition's
    COMPRESSED shuffle size."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(
            "/root/testdata/sf0.01/lineitem.parquet"
        ).repartition(16)
        # 10x volume, 90% of rows on join key 0
        fact = li.select(
            F.explode(F.sequence(F.lit(1), F.lit(10))).alias("rep"),
            F.when(F.col("l_orderkey") % 10 < 9, 0)
            .otherwise(F.col("l_orderkey") % 1000)
            .alias("k"),
            "l_quantity",
        )
        dim = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        joined = fact.join(dim, "k").select(
            (F.col("l_quantity") + F.col("w")).alias("x")
        )
        assert len(joined.collect()) == 600_000
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_zorder_layout_shrinks_per_file_span_on_both_columns(spark, tmp_path):
    """The point of Z-ordering: after the layout write, EVERY clustered
    column's per-file min/max span is a small fraction of its full range
    (a plain x-sort leaves y spanning ~the full range in every file), so
    parquet stats prune filters on either column."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from exstream_implementation_spark.operators.zorder import write_zordered

    n = 40_000
    df = spark.range(n).select(
        (F.hash("id") % 10_000).cast("double").alias("x"),
        (F.hash(F.col("id") + 1) % 10_000).cast("double").alias("y"),
    )
    zpath = str(tmp_path / "zordered")
    write_zordered(df, zpath, ["x", "y"], bits=8, num_files=16)

    def mean_span(path, col):
        spans, full_min, full_max = [], None, None
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            fmn = fmx = None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        s = c.statistics
                        fmn = s.min if fmn is None else min(fmn, s.min)
                        fmx = s.max if fmx is None else max(fmx, s.max)
            if fmn is None:
                continue
            spans.append(fmx - fmn)
            full_min = fmn if full_min is None else min(full_min, fmn)
            full_max = fmx if full_max is None else max(full_max, fmx)
        return (sum(spans) / len(spans)) / (full_max - full_min)

    # plain x-sorted baseline: y stats are useless (span ≈ full range)
    spath = str(tmp_path / "xsorted")
    df.repartitionByRange(16, F.col("x")).sortWithinPartitions("x").write.mode(
        "overwrite"
    ).parquet(spath)
    assert mean_span(spath, "x") < 0.2          # leading col clusters...
    assert mean_span(spath, "y") > 0.8          # ...the other does not

    # z-ordered: BOTH columns cluster (16 files over an 8-bit 2-D curve:
    # each file covers ~1/16 of the curve → expected per-axis span ~1/4)
    assert mean_span(zpath, "x") < 0.5
    assert mean_span(zpath, "y") < 0.5


def test_zorder_prunes_row_groups_on_second_column(spark, tmp_path):
    """End-to-end pruning claim, not just stat-span shrinkage: under a range
    filter on the SECOND clustered column, the parquet reader must skip row
    groups — visible as the scan node materializing far fewer rows than the
    plain leading-column sort, whose every row group spans y's full range.

    (numFiles stays equal on both layouts: Spark lists all files and skips at
    ROW-GROUP granularity via the pushed min/max filter, so the honest metric
    is the scan's numOutputRows.)"""
    from pyspark.sql import functions as F

    from exstream_implementation_spark.operators.zorder import write_zordered

    n = 40_000
    df = spark.range(n).select(
        (F.hash("id") % 10_000).cast("double").alias("x"),
        (F.hash(F.col("id") + 1) % 10_000).cast("double").alias("y"),
    )
    zpath, spath = str(tmp_path / "z"), str(tmp_path / "xsorted")
    write_zordered(df, zpath, ["x", "y"], bits=8, num_files=16)
    df.repartitionByRange(16, F.col("x")).sortWithinPartitions("x").write.mode(
        "overwrite"
    ).parquet(spath)

    def scan_stats(path):
        r = spark.read.parquet(path).filter(
            (F.col("y") >= 100) & (F.col("y") <= 200)
        )
        out_rows = r.count()
        r2 = spark.read.parquet(path).filter(
            (F.col("y") >= 100) & (F.col("y") <= 200)
        )
        r2.collect()
        plan = r2._jdf.queryExecution().executedPlan()
        leaf = plan.collectLeaves().apply(0)
        assert "FileSourceScanExec" in leaf.getClass().getName()
        # the y-range predicate must actually reach parquet
        assert "PushedFilters: [" in leaf.toString()
        assert "y" in leaf.toString().split("PushedFilters")[1][:120]
        return out_rows, leaf.metrics().apply("numOutputRows").value()

    z_rows, z_scanned = scan_stats(zpath)
    s_rows, s_scanned = scan_stats(spath)
    assert z_rows == s_rows > 0           # same answer from both layouts
    assert s_scanned == n                 # baseline: nothing skipped
    assert z_scanned < n * 0.5            # z-order: >half the row groups skipped


def test_zorder_tolerates_nan_inf_null(spark, tmp_path):
    """Non-finite metric values must not poison the span (NaN is F.max) or
    crash the ANSI long cast; they land in bucket 0 like NULLs."""
    from pyspark.sql import functions as F

    from exstream_implementation_spark.operators.zorder import zorder_key

    df = spark.createDataFrame(
        [(1, 0.0), (2, 100.0), (3, float("nan")), (4, float("inf")), (5, None)],
        "id int, x double",
    ).withColumn("y", F.col("id").cast("double"))
    out = {r["id"]: r["__zkey"] for r in zorder_key(df, ["x", "y"], bits=4).collect()}
    assert len(out) == 5
    # finite rows still spread across buckets: min-x row < max-x row keys
    assert out[1] < out[2]

