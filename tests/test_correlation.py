"""C2 correlation clustering: the driver-side union-find, the catalog's
``corr_cluster_reps`` on a trace with a constant feature, the matrix on
fewer than two rows, and the two-pass SQL Pearson against numpy (a large
offset, constant and invalid columns, runs of 0-2 rows).

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


# --- the two-pass SQL Pearson ---------------------------------------------------

OFFSET = 1e12  # an integer double: OFFSET + k/1024 is exact for |k/1024| < 2**26


def _runs_frame(spark, cols, runs):
    """One row per position of the (possibly None) double columns, tagged
    with its int ``run_id``."""
    names = list(cols)
    rows = [(r, *vals) for r, *vals in zip(runs, *cols.values())]
    return spark.createDataFrame(
        rows, "run_id int, " + ", ".join(f"{c} double" for c in names)
    ), names


def _matrices(df, names):
    from exstream_implementation_spark.operators.correlation import (
        correlation_matrices,
        feature_moments,
    )

    return correlation_matrices(
        df, names, feature_moments(df, names, "run_id"), "run_id"
    )


def _same(got, want, tol):
    # NaN where the other is NaN, else within tol
    return all(
        (math.isnan(g) and math.isnan(w)) or abs(g - w) <= tol
        for gr, wr in zip(got, want)
        for g, w in zip(gr, wr)
    )


def test_pearson_matches_numpy_on_a_large_offset_column(spark):
    # "big" sits at 1e12 with noise of ~1: numpy's corrcoef on the raw
    # column is itself off by ~1e-9, so the reference shifts it back first
    # (the shift is exact); a raw one-pass Σx² formula returns garbage there
    import numpy as np

    from exstream_implementation_spark.operators.correlation import (
        correlation_matrix,
    )

    rng = np.random.default_rng(11)
    n = 240
    a = rng.normal(0, 1, n)
    cols = {
        "a": a,
        "b": 0.7 * a + rng.normal(0, 0.5, n),
        "c": rng.normal(-3e4, 20, n),
        "big": OFFSET + np.round((0.8 * a + rng.normal(0, 0.6, n)) * 1024) / 1024,
        # its run means print with an exponent ("2.1e-05") in the SQL text
        "tiny": rng.normal(2e-5, 1e-6, n),
    }
    runs = rng.integers(0, 3, n)
    df, names = _runs_frame(spark, {k: v.tolist() for k, v in cols.items()}, runs.tolist())
    got = _matrices(df, names)
    exact = np.vstack(
        [cols["a"], cols["b"], cols["c"], cols["big"] - OFFSET, cols["tiny"]]
    )
    assert sorted(got) == [0, 1, 2]
    for r in range(3):
        want = np.corrcoef(exact[:, runs == r])
        assert _same(got[r], want.tolist(), 1e-12), r
        # one call over all runs equals a call on the run's own rows
        alone = correlation_matrix(df.filter(f"run_id = {r}"), names)
        assert _same(got[r], alone, 1e-13), r

    x, y = cols["a"], cols["big"]
    with np.errstate(divide="ignore", invalid="ignore"):
        one_pass = (np.sum(x * y) - np.sum(x) * np.sum(y) / n) / np.sqrt(
            (np.sum(x * x) - np.sum(x) ** 2 / n)
            * (np.sum(y * y) - np.sum(y) ** 2 / n)
        )
    assert not abs(one_pass - np.corrcoef(exact)[0, 3]) <= 1e-6


def test_pearson_is_nan_on_constant_and_invalid_columns(spark):
    # 0.1 repeated: its sum / n is not 0.1, so a centred sum of squares is
    # not 0; min == max still marks it constant
    import numpy as np

    n = 7
    assert sum([0.1] * n) / n != 0.1
    x = [1.0, 2.0, 4.0, 3.0, 7.0, 5.0, 6.0]
    y = [2.0, 1.0, 5.0, 3.0, 6.0, 7.0, 4.0]

    def poisoned(v):
        return [v if i == 3 else 10.0 + i for i in range(n)]

    cols = {
        "x": x,
        "tenth": [0.1] * n,
        "gap": poisoned(None),
        "nan": poisoned(math.nan),
        "pinf": poisoned(math.inf),
        "ninf": poisoned(-math.inf),
        "y": y,
    }
    df, names = _runs_frame(spark, cols, [0] * n)
    got = _matrices(df, names)[0]
    good = {0, 6}
    for i in range(len(names)):
        for j in range(len(names)):
            if i in good and j in good:
                want = np.corrcoef([cols[names[i]], cols[names[j]]])[0, 1]
                assert abs(got[i][j] - want) <= 1e-12
            else:
                assert math.isnan(got[i][j]), (names[i], names[j])


def test_pearson_on_runs_of_two_one_and_no_rows(spark):
    # run 0 has two rows (every defined r is ±1), run 1 one row (all NaN);
    # run 2 sampled no rows: it clusters nothing, so every feature survives
    from exstream_implementation_spark.operators.correlation import (
        correlated_features_filter,
        feature_moments,
        no_rows,
    )

    cols = {"a": [1.0, 2.0, 5.0], "b": [3.0, 1.0, 5.0], "c": [4.0, 4.0, 5.0]}
    df, names = _runs_frame(spark, cols, [0, 0, 1])
    got = _matrices(df, names)
    assert sorted(got) == [0, 1]
    nan = math.nan
    assert _same(got[0], [[1.0, -1.0, nan], [-1.0, 1.0, nan], [nan, nan, nan]], 1e-15)
    assert all(math.isnan(c) for row in got[1] for c in row)

    moments = {**feature_moments(df, names, "run_id"), 2: no_rows(names)}
    assert correlated_features_filter(df, names, 0.6, moments) == {
        0: ["a", "c"],
        1: ["a", "b", "c"],
        2: ["a", "b", "c"],
    }


def test_pearson_at_the_papers_feature_width(spark):
    # d = 100 features, as in the paper's traces: pass 2 is one grouped
    # aggregation of d(d+1)/2 = 5,050 product sums plus d sums
    import numpy as np

    from exstream_implementation_spark.operators.correlation import (
        correlated_feature_clusters,
    )

    d, n = 100, 60
    rng = np.random.default_rng(23)
    x = rng.normal(0.0, 1.0, (d, n)) * rng.uniform(0.5, 50.0, (d, 1))
    x[7] = 3.0 * x[3] + rng.normal(0.0, 0.05, n)  # one strongly correlated pair
    runs = np.repeat([0, 1], n // 2)
    names = [f"f{i}" for i in range(d)]
    df, names = _runs_frame(spark, dict(zip(names, x.tolist())), runs.tolist())
    got = _matrices(df, names)
    assert sorted(got) == [0, 1]
    for r in (0, 1):
        want = np.corrcoef(x[:, runs == r])
        assert _same(got[r], want.tolist(), 1e-12), r
        assert abs(got[r][3][7]) > 0.99
        clusters = correlated_feature_clusters(got[r], names, 0.9)
        assert sorted(c for c in clusters if len(c) > 1) == [["f3", "f7"]]
