"""URL curation (plans/urls.py): canonicalization against hand-written
expected forms + idempotence, and cap_per_group vs an exact window
reference with partition invariance."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from exstream_implementation_spark.plans.urls import _norm_expr, cap_per_group
from exstream_implementation_spark.sources import load_table

SF_DIR = "/root/testdata/sf0.001"

# (raw, expected canonical) — the contract, spelled out case by case
CANON = [
    # lowercase scheme+host, path case preserved
    ("HTTPS://Example.COM/Path/A", "https://example.com/Path/A"),
    # default ports stripped, non-default kept
    ("http://example.com:80/a", "http://example.com/a"),
    ("https://example.com:443/a", "https://example.com/a"),
    ("http://example.com:8080/a", "http://example.com:8080/a"),
    # fragment dropped
    ("https://example.com/a#section-2", "https://example.com/a"),
    # tracking params removed, survivors SORTED, '?' dropped when empty
    (
        "https://example.com/a?utm_source=x&b=2&a=1&fbclid=abc",
        "https://example.com/a?a=1&b=2",
    ),
    ("https://example.com/a?utm_campaign=x&gclid=1", "https://example.com/a"),
    # a real param that merely starts like a tracker is kept
    ("https://example.com/a?utm=keep", "https://example.com/a?utm=keep"),
    # trailing slash trimmed; bare '/' collapses
    ("https://example.com/a/b/", "https://example.com/a/b"),
    ("https://example.com/", "https://example.com"),
    ("https://example.com", "https://example.com"),
    # no scheme/host anchor → NULL
    ("not a url", None),
    ("/relative/path?x=1", None),
    ("", None),
]


def _canon(df):
    return [r[0] for r in df.select(_norm_expr(F.col("url"))).collect()]


def test_canonical_forms(spark):
    df = spark.createDataFrame([(u,) for u, _ in CANON], "url string")
    got = _canon(df)
    want = [w for _, w in CANON]
    assert got == want


def test_normalization_is_idempotent(spark):
    df = spark.createDataFrame(
        [(u,) for u, w in CANON if w is not None], "url string"
    )
    once = df.withColumn("n1", _norm_expr(F.col("url")))
    twice = once.withColumn("n2", _norm_expr(F.col("n1")))
    for r in twice.collect():
        assert r["n2"] == r["n1"], r["url"]


def _exact_cap(docs, keys, n, order_col, id_col="doc_id"):
    w = Window.partitionBy(*keys).orderBy(
        F.asc(order_col or id_col), F.asc(id_col)
    )
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


@pytest.mark.parametrize("order_col", [None, "n_chars"])
def test_cap_per_group_matches_window_reference(spark, order_col):
    docs = load_table(spark, SF_DIR, "documents")
    got = cap_per_group(docs, ["source"], 7, order_col=order_col)
    want = _exact_cap(docs, ["source"], 7, order_col)
    assert got.columns == docs.columns
    assert sorted(r["doc_id"] for r in got.collect()) == sorted(
        r["doc_id"] for r in want.collect()
    )
    # partition invariance: a different layout keeps the same rows
    relaid = cap_per_group(
        docs.repartition(13), ["source"], 7, order_col=order_col
    )
    assert sorted(r["doc_id"] for r in relaid.collect()) == sorted(
        r["doc_id"] for r in got.collect()
    )


def test_cap_per_group_small_groups_and_args(spark):
    docs = load_table(spark, SF_DIR, "documents")
    total = docs.count()
    # n beyond every group size keeps everything
    assert cap_per_group(docs, ["source"], 10**6).count() == total
    with pytest.raises(ValueError, match="positive"):
        cap_per_group(docs, ["source"], 0)


def test_fragment_query_confusion(spark):
    # a '?' INSIDE an SPA-style fragment is not a query
    df = spark.createDataFrame(
        [("https://site.com/page#/route?x=1",),
         ("https://site.com/page#frag?utm_source=x&y=2",)],
        "url string",
    )
    got = _canon(df)
    assert got == ["https://site.com/page", "https://site.com/page"]


def test_tracking_params_case_insensitive(spark):
    df = spark.createDataFrame(
        [("https://a.com/p?UTM_SOURCE=mail",),
         ("https://a.com/p?Fbclid=y&keep=1",)],
        "url string",
    )
    got = _canon(df)
    assert got == ["https://a.com/p", "https://a.com/p?keep=1"]


def test_cap_per_group_null_group_is_capped_not_dropped(spark):
    rows = [(i, None if i < 5 else "s", i) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string, v long")
    kept = sorted(
        r["doc_id"] for r in cap_per_group(df, ["source"], 3).collect()
    )
    # NULL is a group of its own: 3 smallest of each group survive
    assert kept == [0, 1, 2, 5, 6, 7]
