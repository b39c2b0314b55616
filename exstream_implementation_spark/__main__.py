"""Drop-in CLI for reference users — the script_1.py driver as a module run.

The reference is driven by editing constants at the bottom of script_1.py
(reference script_1.py:256-328: DATA_FOLDER / LABEL_FILENAME /
CORRELATION_THRESHOLD / MAX_DISTANCE, then four construct_explanations calls
writing four result CSVs).  This CLI runs the same 2×2 grid
{correlation clustering on/off} × {false-positive filtering on/off} over the
same on-disk layout (a folder of per-trace CSVs + one labels CSV) and writes
the same four result tables:

    python -m exstream_implementation_spark \
        --data-folder data/folder_1 --label-filename labels \
        --out-dir data/folder_1_results [--fmt csv|parquet] \
        [--correlation-threshold 0.6] [--max-distance 40.0] \
        [--instability-runs 5] [--seed 42] [--sample-method xxhash64|md5] \
        [--shuffle-partitions N]

Differences from the reference, by design: all four configs share ONE cached
slice (the reference re-reads and re-slices the CSVs per config), and the
result schema carries the explicit ano_key next to the reference's columns.
"""

from __future__ import annotations

import argparse
import os
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m exstream_implementation_spark",
        description="EXstream explanation grid over a reference-format data folder",
    )
    ap.add_argument("--data-folder", required=True)
    ap.add_argument("--label-filename", default="labels")
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--fmt", choices=["parquet", "csv"], default="csv")
    ap.add_argument("--correlation-threshold", type=float, default=0.6)
    ap.add_argument("--max-distance", type=float, default=40.0)
    ap.add_argument("--instability-runs", type=int, default=5)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument(
        "--sample-method", choices=["xxhash64", "md5"], default="xxhash64",
        help="instability sampler: xxhash64 (production) or md5 "
        "(engine-reproducible, for oracle cross-checks)",
    )
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args(argv)

    from exstream_implementation_spark.pipeline import (
        ExplainConfig,
        run_config_grid,
    )
    from exstream_implementation_spark.session import get_spark
    from exstream_implementation_spark.sources import (
        read_labels_csv,
        read_trace_csv,
    )

    spark = get_spark(
        app_name="exstream-grid", shuffle_partitions=args.shuffle_partitions
    )
    # reference utils/get_data.py:8-23: every CSV in the folder except the
    # labels file is a trace named by its stem
    stems = sorted(
        f[:-4]
        for f in os.listdir(args.data_folder)
        if f.endswith(".csv") and f[:-4] != args.label_filename
    )
    if not stems:
        print(f"no trace CSVs in {args.data_folder}", file=sys.stderr)
        return 2
    traces = None
    for stem in stems:
        t = read_trace_csv(
            spark, os.path.join(args.data_folder, f"{stem}.csv"), trace_id=stem
        )
        traces = t if traces is None else traces.unionByName(t)
    labels = read_labels_csv(
        spark, os.path.join(args.data_folder, f"{args.label_filename}.csv")
    )

    cfg = ExplainConfig(
        correlation_threshold=args.correlation_threshold,
        max_distance=args.max_distance,
        instability_runs=args.instability_runs,
        seed=args.seed,
        sample_method=args.sample_method,
    )
    out = run_config_grid(traces, labels, args.out_dir, fmt=args.fmt, base=cfg)
    for name, df in out.items():
        print(f"== {name} ==")
        for row in df.collect():
            print(dict(row.asDict()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
