"""Degenerate-input robustness sweep (VERDICT r07 next-round #6).

Runs every catalog query against an EMPTY-tables dir, a 1-ROW-per-table dir
and a dir whose events table lacks one event type.  ANSI mode (Spark 4
default) turns empty-array indexing, div-zero and log(0) into hard errors,
and the entropy/leap math divides by counts — this gate proves none of the
50 queries hits an ANSI crash on degenerate input.  The third dir is the
constant-column class: the absent type's trace columns are all 0.0, which
the other two cannot produce (a corr over at most one bucket is NULL and
never divides).

Contract per (query, dir):
  PASS   the query plan builds and collects (any row count, including 0), or
         raises a DOCUMENTED validation error — ValueError/NotImplementedError
         raised by OUR code with a message (the "refuse loudly" contract,
         e.g. a query that must derive anomaly labels from an empty events
         table).
  FAIL   anything else — ANSI SparkArithmeticException / CAST_INVALID_INPUT /
         INVALID_ARRAY_INDEX, Python TypeError from None arithmetic, etc.

Edge dirs are built from sf0.001 by limit(0)/limit(1)/dropping the signup
events, preserving every table's exact schema (including the events ts
encoding), under .scale/ (gitignored), with a sentinel so they rebuild only
when the base changes.

Usage: PYTHONPATH=. python tools/edge_sweep.py [query ...]
Exit code 0 iff every checked (query, dir) passes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import traceback

BASE = "/root/testdata/sf0.001"
ROOT = "/root/repo/.scale"
TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()
SENTINEL_V = "edge-v2"
EDGE_DIRS = {
    "edge_empty": lambda table, df: df.limit(0),
    "edge_1row": lambda table, df: df.limit(1),
    "edge_no_signup": lambda table, df: (
        df.filter("event_type != 'signup'") if table == "events" else df
    ),
}


def build_edge_dirs(spark) -> dict[str, str]:
    out = {}
    for kind, derive in EDGE_DIRS.items():
        d = f"{ROOT}/{kind}"
        sentinel = f"{d}/_SUCCESS"
        stamp = f"{SENTINEL_V}:base={BASE}"
        if os.path.exists(sentinel) and open(sentinel).read().strip() == stamp:
            out[kind] = d
            continue
        if os.path.isdir(d):
            shutil.rmtree(d)
        os.makedirs(d)
        for t in TABLES:
            df = derive(t, spark.read.parquet(f"{BASE}/{t}.parquet"))
            df.coalesce(1).write.mode("overwrite").parquet(f"{d}/{t}.parquet")
        with open(sentinel, "w") as fh:
            fh.write(stamp)
        out[kind] = d
    return out


def run_sweep(spark, names=None) -> list[dict]:
    import __spark_entry__ as entry

    qs = entry.queries()
    if names:
        qs = {k: v for k, v in qs.items() if k in names}
    dirs = build_edge_dirs(spark)
    results = []
    for kind, d in dirs.items():
        for name, fn in qs.items():
            status, detail = "pass", ""
            try:
                n_rows = fn(spark, d).count()
                detail = f"rows={n_rows}"
            except (ValueError, NotImplementedError) as e:
                # documented refusal: OUR validation errors say what's wrong
                status, detail = "pass", f"refused: {type(e).__name__}: {e}"
            except Exception as e:  # noqa: BLE001 — the gate's whole point
                status = "fail"
                detail = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
                if os.environ.get("EDGE_SWEEP_TRACE"):
                    traceback.print_exc()
            results.append(
                {"query": name, "dir": kind, "status": status, "detail": detail}
            )
            mark = "PASS" if status == "pass" else "FAIL"
            print(f"{mark} {kind}/{name}: {detail[:160]}", file=sys.stderr)
    return results


def main():
    from exstream_implementation_spark.session import get_spark

    names = set(sys.argv[1:]) or None
    spark = get_spark(app_name="edge-sweep", shuffle_partitions=8)
    results = run_sweep(spark, names)
    fails = [r for r in results if r["status"] == "fail"]
    print(
        json.dumps(
            {
                "checked": len(results),
                "failed": len(fails),
                "failures": fails,
            }
        )
    )
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
