"""BM25 ranked retrieval (plans/search.py): exact parity vs an independent
local (pure-python) BM25 model, pruning semantics, plan shape, degenerate
inputs, and the two-phase top-k fold's tie-break agreement."""

import math
import re
from collections import Counter

import pytest

from exstream_implementation_spark.plans.search import BM25_B, BM25_K1, bm25_topk
from exstream_implementation_spark.sources import load_table

SF_DIR = "/root/testdata/sf0.001"


def _local_bm25(docs, queries, k, k1=BM25_K1, b=BM25_B, max_df_ratio=0.5):
    """Independent reference model: plain-python BM25 over (doc_id, text).
    Token-less docs are outside the collection (no postings), matching the
    engine's n/avgdl semantics."""
    toks = {
        d: ts
        for d, txt in docs
        if (ts := [t for t in re.split(r"\s+", txt.lower()) if t])
    }
    n = len(toks)
    if n == 0:
        return {qid: [] for qid, _ in queries}
    avgdl = sum(len(t) for t in toks.values()) / n
    dfreq = Counter()
    for ts in toks.values():
        dfreq.update(set(ts))
    out = {}
    for qid, qtext in queries:
        terms = [
            t
            for t in dict.fromkeys(x for x in re.split(r"\s+", qtext.lower()) if x)
            if 0 < dfreq[t] <= max_df_ratio * n
        ]
        scores = {}
        for d, ts in toks.items():
            tf = Counter(ts)
            s = 0.0
            for t in terms:
                if tf[t]:
                    idf = math.log(1 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
                    s += idf * tf[t] * (k1 + 1) / (
                        tf[t] + k1 * (1 - b + b * len(ts) / avgdl)
                    )
            if s > 0:
                scores[d] = s
        out[qid] = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]
    return out


def _queries_df(spark, rows):
    return spark.createDataFrame(rows, "query_id int, query_text string")


def test_bm25_matches_local_model_on_testdata(spark):
    docs_df = load_table(spark, SF_DIR, "documents")
    docs = [(r["doc_id"], r["text"]) for r in docs_df.select("doc_id", "text").collect()]
    # queries built from real document fragments so hits are non-trivial,
    # plus a multi-term mix and a term nobody has
    frag = " ".join(docs[3][1].split()[5:9])
    qrows = [
        (1, frag),
        (2, docs[10][1].split()[2] + " " + docs[20][1].split()[4]),
        (3, "zzz-no-such-term-zzz"),
    ]
    expected = _local_bm25(docs, qrows, k=7)
    got = bm25_topk(spark, docs_df, _queries_df(spark, qrows), k=7).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, exp in expected.items():
        rows = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
        assert [r["doc_id"] for r in rows] == [d for d, _ in exp], qid
        for r, (_, s) in zip(rows, exp):
            assert r["score"] == pytest.approx(s, rel=1e-9)
        assert [r["rank"] for r in rows] == list(range(1, len(exp) + 1))


def test_stop_term_pruning_drops_high_df_terms(spark):
    docs = [(i, "common filler words") for i in range(9)] + [(9, "rare gem")]
    docs_df = spark.createDataFrame(docs, "doc_id long, text string")
    q = _queries_df(spark, [(1, "common rare")])
    # 'common' has df=9 > 5 -> pruned; 'rare' df=1 survives, so the pruned
    # term contributes nothing to scoring
    top = bm25_topk(spark, docs_df, q, k=3, max_df_ratio=0.5).collect()
    assert [r["doc_id"] for r in top] == [9]
    # the surviving weight is rare's idf over N = 10 token-bearing docs
    n, df, dl, avgdl = 10, 1, 2, (9 * 3 + 2) / 10
    idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
    tf_norm = (BM25_K1 + 1) / (1 + BM25_K1 * (1 - BM25_B + BM25_B * dl / avgdl))
    assert top[0]["score"] == pytest.approx(idf * tf_norm, rel=1e-12)
    # without the cap 'common' scores too: the cap is what dropped it
    uncapped = bm25_topk(spark, docs_df, q, k=10, max_df_ratio=1.0).collect()
    assert {r["doc_id"] for r in uncapped} == set(range(10))


def test_corpus_never_shuffles_to_meet_queries(spark):
    """Ad-hoc scoring never shuffles the corpus: the ONLY join in the plan
    is the broadcast of the 1-row stats aggregate into the scoring
    projection (BroadcastNestedLoopJoin, build side = one row), and the
    only shuffles are the bounded top-k fold/window."""
    docs_df = load_table(spark, SF_DIR, "documents")
    plan = bm25_topk(
        spark, docs_df, _queries_df(spark, [(1, "alpha beta")]), k=5
    )._jdf.queryExecution().executedPlan().toString()
    for op in ("CartesianProduct", "SortMergeJoin", "ShuffledHashJoin"):
        assert op not in plan, op
    # exactly one join: the 1-row stats broadcast (never the corpus side)
    assert plan.count("Join") == plan.count(
        "BroadcastNestedLoopJoin BuildRight, Cross"
    ) == 1, plan


def test_partial_topk_tiebreak_matches_final_window(spark):
    """Equal-score docs spread across partitions: the fold must keep the
    LOWEST doc_ids (the final tie-break), not whatever its partition saw."""
    # 40 identical docs -> identical scores; k=3 must return doc_ids 0,1,2
    docs = [(i, "needle haystack") for i in range(40)]
    docs_df = spark.createDataFrame(docs, "doc_id long, text string").repartition(8)
    top = bm25_topk(
        spark, docs_df, _queries_df(spark, [(1, "needle")]), k=3, max_df_ratio=1.0
    ).collect()
    assert [r["doc_id"] for r in sorted(top, key=lambda r: r["rank"])] == [0, 1, 2]
    assert len({round(r["score"], 9) for r in top}) == 1


def test_degenerate_inputs(spark):
    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    out = bm25_topk(spark, empty_docs, _queries_df(spark, [(1, "x")]), k=5)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id",
        "doc_id",
        "score",
        "rank",
    ]
    docs_df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    assert bm25_topk(spark, docs_df, _queries_df(spark, []), k=5).count() == 0


def test_query_vocabulary_wider_than_the_fused_row_raises(spark):
    # every query term is one df counter of the one stats row: a batch past
    # _FUSED_VOCAB_MAX distinct terms is refused before any job runs
    from exstream_implementation_spark.plans.search import _FUSED_VOCAB_MAX

    docs_df = spark.createDataFrame([(1, "t0 t1")], "doc_id long, text string")
    at_cap = [(1, " ".join(f"t{i}" for i in range(_FUSED_VOCAB_MAX)))]
    # repeated terms count once, across queries too
    at_cap.append((2, "t0 T0 t1"))
    assert bm25_topk(spark, docs_df, at_cap, k=1).columns == [
        "query_id", "doc_id", "score", "rank",
    ]
    over = at_cap + [(3, f"t{_FUSED_VOCAB_MAX}")]
    with pytest.raises(ValueError, match=f"at most {_FUSED_VOCAB_MAX} distinct"):
        bm25_topk(spark, docs_df, over, k=1)


# --- property: random corpora vs the local model -----------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402

_WORDS = ["a", "b", "ab", "the", "x1", "zz"]
_doc_strat = st.lists(
    st.sampled_from(_WORDS + ["", " "]), min_size=0, max_size=12
).map(lambda ws: " ".join(ws))
_q_strat = st.lists(
    st.sampled_from(_WORDS + ["nosuchterm"]), min_size=1, max_size=4
).map(lambda ws: " ".join(ws))


@given(
    texts=st.lists(_doc_strat, min_size=1, max_size=10),
    qtext=_q_strat,
    ratio=st.sampled_from([0.5, 1.0]),
)
@settings(max_examples=10, deadline=None)
def test_bm25_property_random_corpora(spark, texts, qtext, ratio):
    """Random tiny corpora (duplicate texts, empty docs, stray whitespace,
    unknown query terms): the distributed result must equal the local
    model's ranking and scores exactly."""
    docs = list(enumerate(texts))
    docs_df = spark.createDataFrame(docs, "doc_id long, text string")
    exp = _local_bm25(docs, [(1, qtext)], k=5, max_df_ratio=ratio)[1]
    got = sorted(
        bm25_topk(
            spark, docs_df, _queries_df(spark, [(1, qtext)]), k=5,
            max_df_ratio=ratio,
        ).collect(),
        key=lambda r: r["rank"],
    )
    assert [r["doc_id"] for r in got] == [d for d, _ in exp]
    for r, (_, s) in zip(got, exp):
        assert r["score"] == pytest.approx(s, rel=1e-9)

