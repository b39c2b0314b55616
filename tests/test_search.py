"""BM25 ranked retrieval (plans/search.py): exact parity vs an independent
local (pure-python) BM25 model, pruning semantics, plan shape, degenerate
inputs, and the two-phase top-k fold's tie-break agreement."""

import math
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from exstream_implementation_spark.plans.search import (
    BM25_B,
    BM25_K1,
    bm25_topk,
    build_postings,
    corpus_stats,
    query_term_weights,
)
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
    postings = build_postings(docs_df)
    n, _ = corpus_stats(postings)
    assert n == 10
    w = query_term_weights(
        postings,
        _queries_df(spark, [(1, "common rare")]),
        n,
        max_df_ratio=0.5,
    ).collect()
    # 'common' has df=9 > 5 -> pruned; 'rare' df=1 survives
    assert [r["term"] for r in w] == ["rare"]
    # and the pruned term contributes nothing to scoring
    top = bm25_topk(
        spark, docs_df, _queries_df(spark, [(1, "common rare")]), k=3
    ).collect()
    assert [r["doc_id"] for r in top] == [9]


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


def test_prebuilt_postings_path(spark):
    docs_df = load_table(spark, SF_DIR, "documents")
    postings = build_postings(docs_df)
    # the testdata's lead tokens are corpus-wide stopwords (df ~0.8N), so
    # disable pruning here — this test is about prebuilt==on-the-fly parity
    q = _queries_df(spark, [(1, " ".join(docs_df.first()["text"].split()[:3]))])
    a = {
        (r["query_id"], r["doc_id"], r["rank"])
        for r in bm25_topk(spark, docs_df, q, k=5, max_df_ratio=1.0).collect()
    }
    b = {
        (r["query_id"], r["doc_id"], r["rank"])
        for r in bm25_topk(
            spark, postings, q, k=5, prebuilt=True, max_df_ratio=1.0
        ).collect()
    }
    assert a == b and a


# --- hybrid retrieval (dense arm + RRF fusion) -------------------------------


def _local_cosine_topk(embs, qvec, k):
    """(vec_id, [float32]) list x query vec -> [(vec_id, rank)] top-k by
    round(cosine, 6) desc, vec_id asc — mirrors dense_topk's contract."""
    import math as m

    qn = m.sqrt(sum(float(x) * float(x) for x in qvec))
    scored = []
    for vid, e in embs:
        dot = sum(float(x) * float(y) for x, y in zip(qvec, e))
        en = m.sqrt(sum(float(x) * float(x) for x in e))
        scored.append((vid, round(dot / (en * qn), 6)))
    scored.sort(key=lambda t: (-t[1], t[0]))
    return [(vid, i + 1) for i, (vid, _) in enumerate(scored[:k])]


def test_hybrid_rrf_matches_local_model(spark):
    from exstream_implementation_spark.plans.search import (
        dense_topk,
        hybrid_rrf_topk,
    )

    docs_df = load_table(spark, SF_DIR, "documents")
    emb_df = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    docs = [(r["doc_id"], r["text"]) for r in docs_df.select("doc_id", "text").collect()]
    embs = [(r["vec_id"], list(r["embedding"])) for r in emb_df.collect()]
    qtext = " ".join(docs[7][1].split()[:4])
    qvec = dict(embs)[7]
    k, arm_k, rrf_k = 5, 15, 60

    # local expectation: BM25 arm + cosine arm + RRF
    lex = {
        d: r + 1
        for r, (d, _) in enumerate(
            _local_bm25(docs, [(1, qtext)], k=arm_k, max_df_ratio=1.0)[1]
        )
    }
    dense = dict(_local_cosine_topk(embs, qvec, arm_k))
    fused = {}
    for d in set(lex) | set(dense):
        fused[d] = (1.0 / (rrf_k + lex[d]) if d in lex else 0.0) + (
            1.0 / (rrf_k + dense[d]) if d in dense else 0.0
        )
    exp = sorted(fused.items(), key=lambda t: (-t[1], t[0]))[:k]

    q = spark.createDataFrame(
        [(1, qtext, qvec)], "query_id int, query_text string, qvec array<float>"
    )
    got = sorted(
        hybrid_rrf_topk(
            spark, docs_df, emb_df, q, k=k, arm_k=arm_k, rrf_k=rrf_k,
            max_df_ratio=1.0,
        ).collect(),
        key=lambda r: r["rank"],
    )
    assert [r["doc_id"] for r in got] == [d for d, _ in exp]
    for r, (_, s) in zip(got, exp):
        assert r["rrf"] == pytest.approx(s, rel=1e-12)
    # sanity on the arms themselves
    darm = dense_topk(spark, emb_df, q.select("query_id", "qvec"), k=arm_k)
    assert {(r["doc_id"], r["rank"]) for r in darm.collect()} == set(
        _local_cosine_topk(embs, qvec, arm_k)
    )


def test_hybrid_single_arm_docs_still_fuse(spark):
    from exstream_implementation_spark.plans.search import hybrid_rrf_topk

    # doc 0 matches the text but has a near-orthogonal embedding rank;
    # doc 9 has the matching embedding but shares no term
    docs = spark.createDataFrame(
        [(0, "needle alpha"), (9, "zzz yyy")], "doc_id long, text string"
    )
    embs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (9, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    q = spark.createDataFrame(
        [(1, "needle", [0.0, 1.0])],
        "query_id int, query_text string, qvec array<float>",
    )
    rows = {
        r["doc_id"]: r
        for r in hybrid_rrf_topk(
            spark, docs, embs, q, k=5, max_df_ratio=1.0
        ).collect()
    }
    assert set(rows) == {0, 9}
    assert rows[0]["lex_rank"] == 1 and rows[0]["dense_rank"] == 2
    assert rows[9]["lex_rank"] is None and rows[9]["dense_rank"] == 1
    # both present-arm terms beat the single best-arm term at rrf_k=60:
    # doc 0 = 1/61 + 1/62 > doc 9 = 1/61
    assert rows[0]["rank"] == 1 and rows[9]["rank"] == 2


def test_hybrid_plan_shape(spark):
    """Corpus sides never shuffle toward the query batch: the dense arm is
    a broadcast NLJ (query side broadcast), the lexical arm a broadcast
    hash join; no CartesianProduct."""
    from exstream_implementation_spark.plans.search import hybrid_rrf_topk

    docs_df = load_table(spark, SF_DIR, "documents")
    emb_df = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    q = spark.createDataFrame(
        [(1, "merge sort", [0.1] * 64)],
        "query_id int, query_text string, qvec array<float>",
    )
    plan = (
        hybrid_rrf_topk(spark, docs_df, emb_df, q, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    # dense arm: query batch broadcast against the corpus; lexical arm is
    # join-free (projection path); the RRF fusion joins two k-bounded arms
    assert "BroadcastNestedLoopJoin" in plan


def test_dense_topk_degenerate(spark):
    from exstream_implementation_spark.plans.search import dense_topk

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    q = spark.createDataFrame([(1, [1.0, 0.0])], "query_id int, qvec array<float>")
    out = dense_topk(spark, empty, q, k=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["query_id", "doc_id", "score", "rank"]


# --- serving from a pre-built bucketed index ---------------------------------


def test_served_index_lifecycle(spark, tmp_path_factory):
    """Deployment shape: tokenize ONCE into a term-bucketed postings table,
    then (a) probe results are identical to the on-the-fly path, for both
    plain bm25 and the hybrid, and (b) the bucketed probe plan has strictly
    fewer Exchanges than probing the same postings stored as plain parquet
    — the df aggregation reads co-located buckets instead of shuffling."""
    from exstream_implementation_spark.plans.search import (
        bm25_topk,
        build_postings,
        hybrid_rrf_topk,
        write_postings,
    )

    warehouse = tmp_path_factory.mktemp("warehouse")
    plain_dir = str(tmp_path_factory.mktemp("plain") / "postings")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bm25demo LOCATION '{warehouse}'")
    try:
        docs_df = load_table(spark, SF_DIR, "documents")
        emb_df = load_table(spark, SF_DIR, "embeddings").select(
            "vec_id", "embedding"
        )
        postings = build_postings(docs_df)
        write_postings(postings, "bm25demo.postings", buckets=8)
        postings.write.mode("overwrite").parquet(plain_dir)
        served = spark.table("bm25demo.postings")
        plain = spark.read.parquet(plain_dir)

        q = _queries_df(spark, [(1, "dup key table"), (2, "merge sort window")])
        fly = bm25_topk(spark, docs_df, q, k=5, max_df_ratio=1.0)
        probe = bm25_topk(spark, served, q, k=5, max_df_ratio=1.0, prebuilt=True)
        probe_plain = bm25_topk(
            spark, plain, q, k=5, max_df_ratio=1.0, prebuilt=True
        )
        as_set = lambda df: {  # noqa: E731
            (r["query_id"], r["doc_id"], r["rank"], round(r["score"], 9))
            for r in df.collect()
        }
        assert as_set(fly) == as_set(probe) == as_set(probe_plain)
        assert fly.count() == 10

        plan_of = lambda df: (  # noqa: E731
            df._jdf.queryExecution().executedPlan().toString()
        )
        assert plan_of(probe).count("Exchange") < plan_of(probe_plain).count(
            "Exchange"
        )

        qvec = [float(x) for x in emb_df.filter("vec_id = 7").first()["embedding"]]
        hq = spark.createDataFrame(
            [(1, "dup key table", qvec)],
            "query_id int, query_text string, qvec array<float>",
        )
        h_fly = hybrid_rrf_topk(
            spark, docs_df, emb_df, hq, k=5, max_df_ratio=1.0
        )
        h_served = hybrid_rrf_topk(
            spark, docs_df, emb_df, hq, k=5, max_df_ratio=1.0, postings=served
        )
        hs = lambda df: {  # noqa: E731
            (r["query_id"], r["doc_id"], r["rank"]) for r in df.collect()
        }
        assert hs(h_fly) == hs(h_served) and len(hs(h_fly)) == 5
    finally:
        spark.sql("DROP DATABASE IF EXISTS bm25demo CASCADE")


# --- bulk (corpus-scale query batch) path ------------------------------------


def test_bulk_matches_perquery_path(spark, tmp_path_factory):
    """bm25_topk_bulk over a many-query batch must return exactly what the
    per-query broadcast path returns, and with a term-bucketed postings
    table the postings side of the term join must contribute no Exchange."""
    from exstream_implementation_spark.plans.search import (
        bm25_topk,
        bm25_topk_bulk,
        build_postings,
        write_postings,
    )

    docs_df = load_table(spark, SF_DIR, "documents")
    docs = [
        (r["doc_id"], r["text"]) for r in docs_df.select("doc_id", "text").collect()
    ]
    # 40 queries drawn from doc fragments at varying offsets/widths
    qrows = [
        (i, " ".join(docs[(7 * i) % len(docs)][1].split()[i % 5 : i % 5 + 3]))
        for i in range(40)
    ]
    q = _queries_df(spark, qrows).repartition(8)

    warehouse = tmp_path_factory.mktemp("warehouse")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bulkdemo LOCATION '{warehouse}'")
    try:
        write_postings(build_postings(docs_df), "bulkdemo.postings", buckets=8)
        served = spark.table("bulkdemo.postings")

        bulk = bm25_topk_bulk(spark, served, q, k=4, max_df_ratio=1.0)
        per = bm25_topk(spark, docs_df, q, k=4, max_df_ratio=1.0)
        key = lambda df: {  # noqa: E731
            (r["query_id"], r["doc_id"], r["rank"], round(r["score"], 9))
            for r in df.collect()
        }
        got, exp = key(bulk), key(per)
        assert got == exp and len(got) > 100

        # bucketed postings: the scan->join path on the postings side has no
        # Exchange (only the query side shuffles to meet the buckets)
        plan = bulk._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        scan_idx = plan.find("bulkdemo.postings")
        assert scan_idx != -1
        # walk upwards from the bucketed scan: the enclosing join block for
        # the scoring join must show Bucketed: true on this scan
        assert "Bucketed: true" in plan
    finally:
        spark.sql("DROP DATABASE IF EXISTS bulkdemo CASCADE")


def test_append_postings_incremental_refresh(spark, tmp_path_factory):
    """Index half the corpus, append the rest: the probe equals the
    full-corpus probe exactly (n/avgdl/df derive from the table at probe
    time).  Redelivering an already-indexed batch is a no-op."""
    from exstream_implementation_spark.plans.search import (
        append_postings,
        bm25_topk,
        build_postings,
        write_postings,
    )

    warehouse = tmp_path_factory.mktemp("warehouse")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS appdemo LOCATION '{warehouse}'")
    try:
        docs_df = load_table(spark, SF_DIR, "documents")
        first_half = docs_df.filter("doc_id % 2 = 0")
        second_half = docs_df.filter("doc_id % 2 = 1")
        write_postings(build_postings(first_half), "appdemo.postings", buckets=8)

        n_new = append_postings(spark, second_half, "appdemo.postings")
        assert n_new == second_half.count()

        q = _queries_df(spark, [(1, "dup key table")])
        spark.catalog.refreshTable("appdemo.postings")
        served = bm25_topk(
            spark, spark.table("appdemo.postings"), q, k=5,
            max_df_ratio=1.0, prebuilt=True,
        )
        full = bm25_topk(spark, docs_df, q, k=5, max_df_ratio=1.0)
        key = lambda df: [  # noqa: E731
            (r["doc_id"], r["rank"], round(r["score"], 9))
            for r in sorted(df.collect(), key=lambda r: r["rank"])
        ]
        assert key(served) == key(full) and len(key(full)) == 5

        # idempotence: redelivery indexes nothing and changes nothing
        assert append_postings(spark, second_half, "appdemo.postings") == 0
        spark.catalog.refreshTable("appdemo.postings")
        again = bm25_topk(
            spark, spark.table("appdemo.postings"), q, k=5,
            max_df_ratio=1.0, prebuilt=True,
        )
        assert key(again) == key(full)
    finally:
        spark.sql("DROP DATABASE IF EXISTS appdemo CASCADE")


def test_rrf_fuse_composes_bulk_arms(spark):
    """rrf_fuse over the BULK lexical arm + the dense arm must equal
    hybrid_rrf_topk built from the broadcast arms — fusion is agnostic to
    which execution shape produced each arm."""
    from exstream_implementation_spark.plans.search import (
        bm25_topk_bulk,
        build_postings,
        dense_topk,
        hybrid_rrf_topk,
        rrf_fuse,
    )

    docs_df = load_table(spark, SF_DIR, "documents")
    emb_df = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    qvec = [float(x) for x in emb_df.filter("vec_id = 7").first()["embedding"]]
    hq = spark.createDataFrame(
        [(1, "dup key table", qvec)],
        "query_id int, query_text string, qvec array<float>",
    )
    k, arm_k = 5, 15

    lex_bulk = bm25_topk_bulk(
        spark, build_postings(docs_df),
        hq.select("query_id", "query_text"), k=arm_k, max_df_ratio=1.0,
    ).select("query_id", "doc_id", F.col("rank").alias("lex_rank"))
    dense = dense_topk(
        spark, emb_df, hq.select("query_id", "qvec"), k=arm_k
    ).select("query_id", "doc_id", F.col("rank").alias("dense_rank"))

    composed = rrf_fuse(lex_bulk, dense, k=k)
    reference = hybrid_rrf_topk(
        spark, docs_df, emb_df, hq, k=k, arm_k=arm_k, max_df_ratio=1.0
    )
    key = lambda df: sorted(  # noqa: E731
        (r["query_id"], r["doc_id"], r["rank"], round(r["rrf"], 12))
        for r in df.collect()
    )
    assert key(composed) == key(reference) and len(key(composed)) == k


def test_streaming_postings_refresh(spark, tmp_path):
    """The served index stays fresh under streaming ingest: arriving doc
    batches run through append_postings in foreachBatch (at-least-once —
    idempotence comes from the anti-join), and after an availableNow drain
    the probe equals a from-scratch full-corpus probe exactly."""
    from exstream_implementation_spark.plans.search import (
        append_postings,
        bm25_topk,
        build_postings,
        write_postings,
    )

    warehouse = tmp_path / "warehouse"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS sref LOCATION '{warehouse}'")
    try:
        docs_df = load_table(spark, SF_DIR, "documents")
        seed = docs_df.filter("doc_id % 3 = 0")
        rest = docs_df.filter("doc_id % 3 != 0")
        write_postings(build_postings(seed), "sref.postings", buckets=4)

        arrivals = str(tmp_path / "arrivals")
        rest.repartition(3).write.mode("overwrite").parquet(arrivals)

        def _refresh(batch_df, batch_id):
            append_postings(batch_df.sparkSession, batch_df, "sref.postings")

        q = (
            spark.readStream.schema(rest.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(arrivals)
            .writeStream.foreachBatch(_refresh)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        spark.catalog.refreshTable("sref.postings")

        qdf = _queries_df(spark, [(1, "dup key table")])
        served = bm25_topk(
            spark, spark.table("sref.postings"), qdf, k=5,
            max_df_ratio=1.0, prebuilt=True,
        )
        full = bm25_topk(spark, docs_df, qdf, k=5, max_df_ratio=1.0)
        key = lambda df: [  # noqa: E731
            (r["doc_id"], r["rank"], round(r["score"], 9))
            for r in sorted(df.collect(), key=lambda r: r["rank"])
        ]
        assert key(served) == key(full) and len(key(full)) == 5
    finally:
        spark.sql("DROP DATABASE IF EXISTS sref CASCADE")


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


def test_mine_hard_negatives(spark):
    from exstream_implementation_spark.plans.search import (
        mine_hard_negatives,
    )

    results = spark.createDataFrame(
        [  # query 1: docs ranked 1..5; query 2: 1..3
            (1, 10, 1), (1, 11, 2), (1, 12, 3), (1, 13, 4), (1, 14, 5),
            (2, 20, 1), (2, 21, 2), (2, 22, 3),
        ],
        "query_id long, doc_id long, rank int",
    )
    qrels = spark.createDataFrame(
        [  # 11 and 20 are positives; 12 judged IRRELEVANT (rel 0) —
           # still an eligible negative by convention
            (1, 11, 1.0), (1, 12, 0.0), (2, 20, 2.0),
        ],
        "query_id long, doc_id long, rel double",
    )
    got = sorted(
        mine_hard_negatives(results, qrels, k_neg=3).collect(),
        key=lambda r: (r["query_id"], r["neg_rank"]),
    )
    as_tuples = [(r["query_id"], r["doc_id"], r["neg_rank"]) for r in got]
    assert as_tuples == [
        # positives skipped, order preserved, ranks densified
        (1, 10, 1), (1, 12, 2), (1, 13, 3),
        (2, 21, 1), (2, 22, 2),
    ]
    # every result relevant -> no negatives for that query
    allrel = spark.createDataFrame(
        [(2, 21, 1.0), (2, 22, 1.0), (2, 20, 1.0)],
        "query_id long, doc_id long, rel double",
    )
    q2 = mine_hard_negatives(
        results.filter(F.col("query_id") == 2), allrel
    )
    assert q2.count() == 0
    import pytest as _pt

    with _pt.raises(ValueError, match="k_neg"):
        mine_hard_negatives(results, qrels, k_neg=0)


def test_mine_hard_negatives_end_to_end_bm25(spark):
    """Composition: bm25 top-k over testdata docs, the known best hit is
    the positive, the mined negatives are the next-ranked non-positives."""
    from exstream_implementation_spark.plans.search import (
        bm25_topk,
        mine_hard_negatives,
    )
    from exstream_implementation_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    queries = _queries_df(spark, [(0, "data quality and streaming")])
    res = bm25_topk(spark, docs, queries, k=10, max_df_ratio=1.0).select(
        "query_id", "doc_id", "rank"
    )
    top = sorted(res.collect(), key=lambda r: r["rank"])
    assert len(top) == 10
    qrels = spark.createDataFrame(
        [(0, top[0]["doc_id"], 1.0)], "query_id long, doc_id long, rel double"
    )
    negs = sorted(
        mine_hard_negatives(res, qrels, k_neg=4).collect(),
        key=lambda r: r["neg_rank"],
    )
    assert [r["doc_id"] for r in negs] == [r["doc_id"] for r in top[1:5]]
    assert [r["neg_rank"] for r in negs] == [1, 2, 3, 4]


def test_rrf_fuse_many_matches_two_arm_and_three_arm_reference(spark):
    from exstream_implementation_spark.plans.search import (
        rrf_fuse,
        rrf_fuse_many,
    )

    lex = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "query_id long, doc_id long, lex_rank int",
    )
    dense = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2)],
        "query_id long, doc_id long, dense_rank int",
    )
    two = {
        r["doc_id"]: r["rrf"]
        for r in rrf_fuse(lex, dense, k=10).collect()
    }
    many = {
        r["doc_id"]: r["rrf"]
        for r in rrf_fuse_many(
            [
                lex.withColumnRenamed("lex_rank", "rank"),
                dense.withColumnRenamed("dense_rank", "rank"),
            ],
            k=10,
        ).collect()
    }
    assert set(two) == set(many)
    for d in two:
        assert many[d] == pytest.approx(two[d], abs=1e-12)
    # third arm shifts the winner: doc 13 ranked 1st by two arms
    rec = spark.createDataFrame(
        [(1, 13, 1), (1, 10, 2)], "query_id long, doc_id long, rank int"
    )
    fused = rrf_fuse_many(
        [
            lex.withColumnRenamed("lex_rank", "rank"),
            dense.withColumnRenamed("dense_rank", "rank"),
            rec,
        ],
        k=2,
    ).collect()
    by_rank = {r["rank"]: r for r in fused}
    # hand-computed: docs 10, 11 and 13 all score 1/61 + 1/62 (one first
    # place + one second place each) -> three-way tie, doc_id asc wins
    assert by_rank[1]["doc_id"] == 10 and by_rank[2]["doc_id"] == 11
    assert by_rank[1]["rrf"] == pytest.approx(1 / 61 + 1 / 62)
    assert by_rank[1]["n_arms"] == 2
    with pytest.raises(ValueError, match=">= 2"):
        rrf_fuse_many([lex])


def test_rrf_fuse_many_is_rounded_before_ranking(spark):
    from exstream_implementation_spark.plans.search import rrf_fuse_many

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id long, doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(1, 10, 2), (1, 11, 1)], "query_id long, doc_id long, rank int"
    )
    c = spark.createDataFrame(
        [(1, 10, 3), (1, 11, 3)], "query_id long, doc_id long, rank int"
    )
    out = {r["doc_id"]: r for r in rrf_fuse_many([a, b, c], k=5).collect()}
    # identical rank multisets -> identical ROUNDED scores -> doc_id asc
    assert out[10]["rrf"] == out[11]["rrf"]
    assert out[10]["rank"] == 1 and out[11]["rank"] == 2
