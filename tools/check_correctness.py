"""Local replica of the driver's t2 correctness gate.

Runs every registered query on Spark at sf0.01 and its oracle SQL on DuckDB
over the same parquet, then compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted, floats
rounded to 9 significant-ish decimals before hashing).

Usage:  PYTHONPATH=/root/repo python tools/check_correctness.py [names...]
        PYTHONPATH=/root/repo SPARK_GRAFT_CHECK_SF=/root/repo/.scale/x20 \
            python tools/check_correctness.py --out docs/X20_SWEEP_r12.json

``--out FILE`` additionally writes a JSON artifact {query: {status,
rows, wall_s, hash}, "_summary": {...}} — the committed record of a
sweep.  ``hash`` is the Spark side's value hash (``table_hash``), so two
commits' artifacts show whether a query's answer changed between them.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time

import duckdb

# The LSH oracles (ann_bucketed_topk, emb_neardup_lsh) are regenerated in
# main() at the plane count the engine uses for SF_DIR
# (plans/similarity.scaled_lsh_oracles), so the hash gate follows the
# engine's log-scaled index at every SF instead of excluding those two
# queries above sf0.01.
SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


_KIND = {"i": "i", "u": "i", "f": "f", "b": "b", "O": "O", "M": "M", "m": "m"}


def pandas_hazards(spark_pdf, duck_pdf):
    """Replicate the DRIVER's pandas-based canonicalization hazards.

    The round-1 driver sorted both result frames with
    ``df.sort_values(list(df.columns))`` and hash-compared rendered cells.
    Two failure classes that the raw-value compare above can't see:
      * unhashable cells (ndarray/list) crash the sort  -> query must not
        emit array/map columns;
      * dtype divergence (Spark int64 vs DuckDB HUGEINT->object/float)
        renders differently -> hash mismatch despite equal values.
    Returns a list of human-readable issue strings (empty == clean).
    """
    issues = []
    for side, pdf in (("spark", spark_pdf), ("duck", duck_pdf)):
        try:
            pdf.sort_values(list(pdf.columns))
        except Exception as e:  # the driver would error this query outright
            issues.append(f"{side} canon-sort failed: {type(e).__name__}: {e}")
        for c in pdf.columns:
            if pdf[c].dtype.kind == "O":
                bad = {
                    type(v).__name__
                    for v in pdf[c].dropna().head(50)
                    if not isinstance(v, (str, bytes, bool, int, float))
                }
                if bad:
                    issues.append(f"{side}.{c}: object cells of type {bad}")
    for c in set(spark_pdf.columns) & set(duck_pdf.columns):
        ks = _KIND.get(spark_pdf[c].dtype.kind, spark_pdf[c].dtype.kind)
        kd = _KIND.get(duck_pdf[c].dtype.kind, duck_pdf[c].dtype.kind)
        if ks != kd:
            issues.append(
                f"dtype mismatch on {c}: spark {spark_pdf[c].dtype} "
                f"vs duck {duck_pdf[c].dtype}"
            )
    return issues


def main():
    from exstream_implementation_spark.plans import ORACLES, QUERIES
    from exstream_implementation_spark.session import get_spark

    argv = sys.argv[1:]
    out_path = None
    if "--out" in argv:
        i = argv.index("--out")
        out_path = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    names = argv or list(QUERIES)
    record: dict = {}
    spark = get_spark(app_name="check-correctness", shuffle_partitions=16)

    # LSH oracles follow the engine's log-scaled plane count for the
    # chosen SF dir (identical to the registered floor at sf <= 0.01, so
    # the driver-facing ORACLES stay static strings)
    from exstream_implementation_spark.plans.similarity import (
        scaled_lsh_oracles,
    )

    oracles = dict(ORACLES)
    oracles.update(scaled_lsh_oracles(spark, SF_DIR))

    con = duckdb.connect()
    for t in TABLES:
        # testdata ships single-file tables; Spark-written replicas (the
        # scale-smoke dirs) are part-file directories — glob those
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    n_pass = n_fail = n_weak = 0
    for name in names:
        fn = QUERIES[name]
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).persist()
            scols = sdf.columns
            spdf = sdf.toPandas()  # driver-parity dtype view
            srows = [tuple(r) for r in sdf.collect()]
            sdf.unpersist()
            shash = table_hash(scols, srows)
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            record[name] = {"status": "fail",
                            "err": f"spark error: {str(e)[:200]}"}
            n_fail += 1
            continue
        if name not in oracles:
            print(f"WEAK {name}: rows={len(srows)} (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            record[name] = {"status": "weak", "rows": len(srows),
                            "wall_s": round(time.time() - t0, 1),
                            "hash": shash}
            n_weak += 1
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            # one execution feeds both views: arrow table → pandas (dtype
            # parity check) and python rows (value hash) — re-running the
            # oracle would double DuckDB time on the deliberately naive
            # all-pairs/recursive formulations
            tbl = res.fetch_arrow_table()
            dpdf = tbl.to_pandas()
            col_lists = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
            drows = list(zip(*col_lists)) if col_lists else []
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            record[name] = {"status": "fail", "hash": shash,
                            "err": f"duckdb error: {str(e)[:200]}"}
            n_fail += 1
            continue
        ok_cols = sorted(scols) == sorted(dcols)
        ok_count = len(srows) == len(drows)
        ok_hash = (
            shash == table_hash(dcols, drows)
            if ok_cols and ok_count
            else False
        )
        hazards = pandas_hazards(spdf, dpdf)
        if hazards:
            print(f"FAIL {name}: driver-canon hazards: {hazards}")
            record[name] = {"status": "fail", "hash": shash,
                            "err": f"canon hazards: {str(hazards)[:200]}"}
            n_fail += 1
            continue
        if ok_cols and ok_count and ok_hash:
            print(f"PASS {name}: rows={len(srows)} [{time.time()-t0:.1f}s]")
            record[name] = {"status": "pass", "rows": len(srows),
                            "wall_s": round(time.time() - t0, 1),
                            "hash": shash}
            n_pass += 1
        else:
            print(
                f"FAIL {name}: cols {sorted(scols)} vs {sorted(dcols)} | "
                f"rows {len(srows)} vs {len(drows)} | hash_ok={ok_hash}"
            )
            if ok_cols and ok_count:
                # show first differing row pair for debugging
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
                ls = sorted("\x1f".join(norm_cell(r[i]) for i in order_s) for r in srows)
                ld = sorted("\x1f".join(norm_cell(r[i]) for i in order_d) for r in drows)
                for a, b in zip(ls, ld):
                    if a != b:
                        print(f"  spark: {a[:200]}\n  duck : {b[:200]}")
                        break
            record[name] = {"status": "fail", "rows": len(srows),
                            "hash": shash,
                            "err": f"rows {len(srows)} vs {len(drows)}, "
                                   f"cols_ok={ok_cols}, hash_ok={ok_hash}"}
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_weak} weak (rows-only)")
    if out_path is not None:
        record["_summary"] = {
            "pass": n_pass, "fail": n_fail, "weak": n_weak,
            "sf_dir": SF_DIR, "n_queries": len(names),
        }
        with open(out_path, "w") as fh:
            json.dump(record, fh, indent=1, sort_keys=True)
        print(f"wrote {out_path}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
