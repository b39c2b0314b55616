"""The seeded input generator: the same seed gives byte-identical files, a
different seed gives different values with the same schema and row counts.

Run: python3 -m pytest exbench/tests -q
"""

import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

SMALL_RAW = {"anomalies": 2, "ref_rows": 300, "ano_rows": 200, "gap_rows": 10}
FILES = ("trace.parquet", "labels.parquet")


def test_same_seed_gives_identical_bytes(tmp_path):
    a = gen.raw(7, str(tmp_path / "a"), **SMALL_RAW)
    b = gen.raw(7, str(tmp_path / "b"), **SMALL_RAW)
    for name in FILES:
        with open(os.path.join(a, name), "rb") as fa, open(os.path.join(b, name), "rb") as fb:
            assert fa.read() == fb.read(), name


def test_other_seed_changes_values_not_shape(tmp_path):
    a = gen.raw(7, str(tmp_path / "a"), **SMALL_RAW)
    b = gen.raw(8, str(tmp_path / "b"), **SMALL_RAW)
    changed = False
    for name in FILES:
        ta = pq.read_table(os.path.join(a, name))
        tb = pq.read_table(os.path.join(b, name))
        assert ta.schema == tb.schema and ta.num_rows == tb.num_rows, name
        changed |= not ta.equals(tb)
    assert changed


def test_raw_labels_bound_each_interval_and_trace_has_no_gaps(tmp_path):
    d = gen.raw(3, str(tmp_path), **SMALL_RAW)
    trace = pq.read_table(os.path.join(d, "trace.parquet")).to_pandas()
    labels = pq.read_table(os.path.join(d, "labels.parquet")).to_pandas()
    assert not trace.isna().any().any()
    assert (trace["timestamp"].diff().dropna() == 1).all()
    for lb in labels.itertuples():
        assert lb.ref_end - lb.ref_start == SMALL_RAW["ref_rows"]
        assert lb.ano_end - lb.ano_start + 1 == SMALL_RAW["ano_rows"]
