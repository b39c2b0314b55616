"""SparkSession factory tuned for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default all cores); the
same configs are what we would set cluster-side: AQE on (runtime re-planning,
skew-join splitting, partition coalescing), Arrow on (fast pandas interchange
for the few applyInPandas operators), sane shuffle partition count, and a
compiled-class cache that holds the engine's classes.  ``local_frame`` is
the one way the package turns driver-side rows into a DataFrame.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_SHUFFLE_PARTITIONS = 32

# Size of Spark's compiled-class cache (spark.sql.codegen.cache.maxEntries,
# an LRU keyed by generated source; static, so it is set at session build
# only).  Spark's default holds 100 classes, but one explain call with
# correlation clustering and FP filtering needs ~160 distinct classes: the
# LRU evicted each class before the next call asked for it again, so every
# warm call recompiled all ~160 with Janino.  Distinct classes measured with
# an unbounded cache: 163 for any number of explain calls (same columns, any
# anomaly count), 214 with the flagship query added, and 1,122 for one
# tools/check_correctness.py pass over the 50-query catalog.  2,000 holds
# all of them with headroom, so a warm explain call compiles nothing.
CODEGEN_CACHE_ENTRIES = 2000


def get_spark(
    app_name: str = "exstream-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce CACHED plans too (off upstream by default to
        # preserve cache output partitioning for consumers that elide
        # exchanges on it — none of this engine's caches are consumed on
        # their materialized partitioning, audited r13).  Without it every
        # small cached aggregate (the events trace, the melted relation,
        # the flagship slice) pins shuffle.partitions-many near-empty
        # partitions and every downstream stage schedules that many tasks:
        # flagship warm pass 2.9 -> 2.0 s, 12 -> 11 jobs.  Scale-adaptive,
        # not a local tune: partitions coalesce toward the AQE advisory
        # size, and explicit repartition(n) caches (the CPU-heavy gram /
        # document tables) are never coalesced.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # the driver-generated events.parquet carries TIMESTAMP(NANOS), which
        # Spark's reader rejects unless nanos are surfaced as long
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # PySpark 4's call-site capture wraps EVERY DataFrame API call with a
        # getActiveSession + conf lookup + JVM origin set/clear — 3 extra
        # py4j round-trips per operation, measured +40% on pure plan
        # construction (r12: 300 chained selects 4.2 s off vs 6.2 s on; the
        # flagship builds ~3600 py4j calls per run).  The cost is
        # driver-side and scale-independent; what it buys (the Python call
        # site echoed inside error messages) is a debugging nicety, so
        # production sessions run with it off.  Overridable via extra_conf.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # NOT set: a spark.python.daemon.module that pre-imports
        # numpy/pandas before forking workers (the COW-preload pattern).
        # Measured r13, interleaved A/B ×3: first Python stage 3.5/4.2/4.3 s
        # WITH preload vs 2.8/3.5/3.5 s stock — in local[32] the workers
        # import the numeric stack in parallel across cores, while the
        # daemon preload serializes that import before the first fork.  The
        # session's first-Arrow-stage cost is worker bring-up either way;
        # spark.python.worker.reuse (default on) keeps it one-time.
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if "spark.python.sql.dataFrameDebugging.enabled" in (extra_conf or {}):
        # PySpark caches is_debugging_enabled() in a process-global on the
        # first DataFrame API call (pyspark/errors/utils.py), so an
        # extra_conf override in a second session of the same Python
        # process would otherwise be silently ignored — reset the memo so
        # the override takes effect.
        try:
            from pyspark.errors import utils as _perr_utils

            if hasattr(_perr_utils, "_enable_debugging_cache"):
                _perr_utils._enable_debugging_cache = None
        except Exception:  # pragma: no cover — future PySpark renames it
            pass
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply engine-preferred runtime confs to an externally-provided session
    (the verify driver hands us its own SparkSession)."""
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # cached-plan AQE coalescing (see get_spark) — runtime-settable
    spark.conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
    )
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # a host session may carry the 200-partition default — size to the suite
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS)
    )
    # per-call call-site capture and the compiled-class cache size (see
    # get_spark) are STATIC confs — they can only be set at session build
    # time, so an externally-provided session keeps whatever it was built
    # with (upstream: debugging on, a 100-class cache that warm explain
    # calls thrash); nothing to do here.
    return spark


def local_frame(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """Lift driver-side rows (tuples in schema order) into a DataFrame — the
    package's only way to do it (tests/test_local_frame.py guards that no
    other ``createDataFrame`` call exists).

    The rows become a ``pyarrow.Table`` typed exactly as ``schema`` (a DDL
    string or a StructType) says, so Spark takes them as a local relation on
    the driver.  ``createDataFrame(list)`` instead parallelizes the rows and
    converts them in Python workers: a 4-task job, ~0.9 CPU-s and ~0.45 s
    wall for 10 rows on 4 cores, paid on every explain call and every
    streaming trigger.  A value that does not fit its column type (an int32
    overflow, a string in a numeric column) raises ``ValueError``, as
    ``verifySchema`` does on the list path.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    arrow = to_arrow_schema(struct)
    rows = list(rows)
    if any(len(r) != len(struct.fields) for r in rows):
        raise ValueError(f"every row must have {len(struct.fields)} fields")
    columns = list(zip(*rows)) if rows else [()] * len(struct.fields)
    arrays = []
    for col, field, atype in zip(columns, struct.fields, arrow.types):
        try:
            arrays.append(pa.array(col, type=atype))
        except (pa.ArrowException, OverflowError, TypeError) as exc:
            raise ValueError(f"column {field.name!r}: {exc}") from exc
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), struct)
