"""Capture .explain('formatted') for every bench query → plans/r13/ (override via SPARK_GRAFT_PLAN_ROUND).

Usage:  PYTHONPATH=/root/repo python tools/capture_plans.py before
        PYTHONPATH=/root/repo python tools/capture_plans.py after [names...]

Writes plans/<round>/<query>_<tag>.txt for the 13 bench-suite queries (the
flagship included).  Building a DataFrame may run the small eager probes a
query legitimately embeds (e.g. correlation matrices when clustering is on);
the captured text is the final lazy plan the noop sink would execute.
"""

from __future__ import annotations

import os
import sys

TAG = sys.argv[1] if len(sys.argv) > 1 else "before"
ONLY = set(sys.argv[2:])
OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r13"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    os.makedirs(OUT_DIR, exist_ok=True)
    from exstream_implementation_spark.session import get_spark
    from exstream_implementation_spark.plans import QUERIES
    from exstream_implementation_spark.plans.similarity import (
        ann_topk_cosine_vectorized,
    )
    import __spark_entry__ as entrymod

    spark = get_spark(app_name="exstream-plan-capture")

    bench_queries = [
        "exstream_rewards",
        "exstream_leap_cut",
        "groupby_salted_skew",
        "topk_until_leap",
        "join_broadcast_dims",
        "pivot_wide",
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "dedup_simhash",
        "ann_topk_cosine_vectorized",
        "text_fingerprint",
        "text_metrics_suite",
    ]
    fns = {
        name: QUERIES.get(name)
        or {"ann_topk_cosine_vectorized": ann_topk_cosine_vectorized}[name]
        for name in bench_queries
    }
    fns["exstream_explain"] = lambda sp, sf: entrymod._flagship(sp, sf)
    # any other catalog query named explicitly is capturable too (r12: the
    # optimization round touches non-bench queries as well)
    for name in ONLY:
        if name not in fns and name in QUERIES:
            fns[name] = QUERIES[name]

    for name, fn in fns.items():
        if ONLY and name not in ONLY:
            continue
        df = fn(spark, SF_DIR)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(OUT_DIR, f"{name}_{TAG}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
