"""C2 correlation clustering: the driver-side union-find, the catalog's
``corr_cluster_reps`` on a trace with a constant feature, and the matrix
on fewer than two rows.

Reference: exstream/correlation_filtering.py:39-61 connects two features
when |corr| > threshold and keeps one representative per component.
"""

from __future__ import annotations

import math

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from exstream_implementation_spark.operators.correlation import (
    correlated_feature_clusters,
)
from tests.test_testdata_contract import SF_DIR


def _clusters(corr, features, threshold):
    return sorted(sorted(c) for c in correlated_feature_clusters(corr, features, threshold))


def test_union_find_joins_a_transitive_chain():
    # a-b and b-c are edges, a-c is not: one component all the same
    corr = [
        [1.0, 0.9, 0.1],
        [0.9, 1.0, 0.8],
        [0.1, 0.8, 1.0],
    ]
    assert _clusters(corr, ["a", "b", "c"], 0.5) == [["a", "b", "c"]]


def test_union_find_edge_rule_on_sign_tie_and_nan():
    feats = ["a", "b", "c", "d", "e"]
    corr = [[1.0 if i == j else 0.0 for j in range(5)] for i in range(5)]
    corr[0][1] = corr[1][0] = -0.9  # |r| > tau although r < 0: an edge
    corr[1][2] = corr[2][1] = 0.5  # |r| == tau: no edge
    corr[2][3] = corr[3][2] = math.nan  # constant column: no edge
    corr[3][4] = corr[4][3] = -0.5  # |r| == tau on the negative side
    assert _clusters(corr, feats, 0.5) == [["a", "b"], ["c"], ["d"], ["e"]]


def test_corr_cluster_reps_with_an_absent_event_type(spark, tmp_path):
    # every signup row dropped: signup_n and signup_value are constant 0.0,
    # which an ANSI-mode SQL corr() turns into DIVIDE_BY_ZERO; the pipeline's
    # matrix gives NaN there, so both are singleton components
    from exstream_implementation_spark.plans import QUERIES

    events = pq.read_table(f"{SF_DIR}/events.parquet")
    pq.write_table(
        events.filter(pc.not_equal(events["event_type"], "signup")),
        tmp_path / "events.parquet",
    )
    rows = QUERIES["corr_cluster_reps"](spark, str(tmp_path)).collect()
    got = {r["feature"]: (r["rep"], r["component_size"]) for r in rows}
    # the catalog's DuckDB oracle gives the same components on this table
    want = {
        f"{t}_{kind}": (f"{t}_n", 2)
        for t in ("click", "view", "purchase", "error")
        for kind in ("n", "value")
    }
    want["signup_n"] = ("signup_n", 1)
    want["signup_value"] = ("signup_value", 1)
    assert got == want


@pytest.mark.parametrize("n_rows", [0, 1])
def test_corr_cluster_reps_with_fewer_than_two_buckets(spark, tmp_path, n_rows):
    # no coefficient is defined below two rows: every feature is alone
    from exstream_implementation_spark.plans import QUERIES

    events = pq.read_table(f"{SF_DIR}/events.parquet")
    pq.write_table(events.slice(0, n_rows), tmp_path / "events.parquet")
    rows = QUERIES["corr_cluster_reps"](spark, str(tmp_path)).collect()
    assert len(rows) == 10
    assert all(r["rep"] == r["feature"] and r["component_size"] == 1 for r in rows)


def _tiny_trace(spark):
    """Ten 1 s rows and one label whose slice holds two rows: reference
    [3, 4) and anomaly [4, 4].  An 80% sample of it often keeps one row."""
    trace = spark.createDataFrame(
        [(t, float(t), float((7 * t) % 10), "tiny") for t in range(10)],
        "timestamp long, f0 double, f1 double, trace_id string",
    )
    labels = spark.createDataFrame(
        [(0, "tiny", 1, "spike", 3, 4, 4, 4)],
        "label_row int, trace_id string, ano_id int, ano_type string, "
        "ref_start long, ref_end long, ano_start long, ano_end long",
    )
    return trace, labels


@pytest.mark.parametrize("n_rows", [0, 1])
def test_correlation_matrix_below_two_rows_is_undefined(spark, n_rows):
    # pandas DataFrame.corr, which the reference calls, gives NaN for every
    # pair below two rows: no edge, every feature is its own component
    from exstream_implementation_spark.operators.correlation import (
        correlation_matrix,
    )

    trace, _ = _tiny_trace(spark)
    corr = correlation_matrix(trace.filter(f"timestamp < {n_rows}"), ["f0", "f1"])
    assert len(corr) == 2 and all(len(r) == 2 for r in corr)
    assert all(math.isnan(c) for r in corr for c in r)


def test_clustered_explain_on_a_two_row_slice(spark):
    # the slice has two rows, so some instability samples keep fewer; the
    # clustered pipeline explains the anomaly as the unclustered one does
    from exstream_implementation_spark.pipeline import ExplainConfig, explain_anomalies

    trace, labels = _tiny_trace(spark)
    got = {}
    for cluster in (False, True):
        rows = explain_anomalies(trace, labels, ExplainConfig(cluster=cluster)).collect()
        assert [r["ano_id"] for r in rows] == [1]
        got[cluster] = (list(rows[0]["explanation"]), rows[0]["exp_instability"])
    # f0 and f1 correlate perfectly over two rows, so f0 represents both
    assert got[True] == got[False] == ([0], 0.0)
