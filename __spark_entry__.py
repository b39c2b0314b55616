"""Driver contract for the spark-graft builder (PySpark target).

``entry``    — flagship: the full EXstream explanation pipeline (slice →
               correlation filter → entropy rewards → leap filter →
               instability) over a metric trace derived from the events
               table.
``queries``  — one entry per implemented operator from SURVEY.md §2 plus the
               training-data-pipeline extensions (dedup / similarity / text /
               multimodal), each returning a DataFrame.
``oracle_sql`` — matching DuckDB SQL for every oracle-checkable query
               (column names aligned; floats rounded on both sides).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

SF_SMOKE = "/root/testdata/sf0.001"


def _flagship(spark: SparkSession, sf_dir: str, instability_runs: int = 5) -> DataFrame:
    from exstream_implementation_spark.pipeline import (
        ExplainConfig,
        explain_anomalies,
    )
    from exstream_implementation_spark.plans.exstream_sql import (
        _two_anomaly_setup,
    )
    from exstream_implementation_spark.session import tune_session

    tune_session(spark)
    # trace is cached post-pivot; labels are derived in-plan from its bounds
    # (no driver-side probe job)
    trace, labels = _two_anomaly_setup(spark, sf_dir)
    cfg = ExplainConfig(
        instability_runs=instability_runs, slice_cache_scope="session"
    )
    out = explain_anomalies(trace, labels, cfg)
    return out.select(
        "trace_id", "ano_id", "ano_key", "explanation", "exp_size",
        F.round("exp_instability", 6).alias("exp_instability"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _flagship(spark, SF_SMOKE)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from exstream_implementation_spark.plans import QUERIES
    from exstream_implementation_spark.session import tune_session

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_session(spark)
            return fn(spark, sf_dir)

        return run

    # the full pipeline (instability included) is a registry query since
    # round 7: plans.exstream_sql.exstream_explain runs the sampler in its
    # md5-portable oracle mode, so the catalog entry is hash-gated.  The
    # xxhash64 production path stays as _flagship (bench / entry / smoke).
    return {name: wrap(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    from exstream_implementation_spark.plans import ORACLES

    return dict(ORACLES)
