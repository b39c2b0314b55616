"""Ranked text retrieval — inverted index + BM25 top-k over ``documents``.

Not in the reference (it processes numeric metric streams only;
reference core scripts script_1.py / exstream_lib.py have no text search) —
this is the classic training-data/RAG retrieval family the extension
surface lacked: given a small set of text queries, return the top-k
documents per query under BM25 (Robertson/Sparck-Jones; the idf form is
Lucene's non-negative variant ``ln(1 + (N - df + 0.5)/(df + 0.5))``).

Scale design (the part that matters at 100 TB):

* The inverted index is ONE map-side-combinable aggregation:
  ``explode(tokens) -> groupBy(term, doc_id).count()`` — tf rows
  pre-combine inside each map task, and the document length rides along
  (``dl`` is denormalized into the postings so scoring never joins back
  to a per-doc table).  At deployment the postings table is written
  bucketed by ``term`` (``write_postings`` below) so repeated query
  batches never re-shuffle the corpus.
* The query side is SMALL by construction (a query batch is human-scale);
  every corpus-sized frame is joined via ``F.broadcast(<query terms>)`` —
  the postings NEVER shuffle to meet the queries (BroadcastHashJoin,
  plan-asserted in tests/test_search.py).
* Stop-term pruning: query terms whose document frequency exceeds
  ``max_df_ratio * N`` are dropped before the postings join (the WAND-ish
  guard) — a stopword-laden query would otherwise drag a constant
  fraction of the corpus into scoring.  Dropped terms are a documented
  semantic: BM25 with a df-pruned query vocabulary.
* Per-query top-k is two-phase: a per-shuffle-partition fold keeps only
  ``k`` candidates per (query, partition) — bounded by partition size —
  so the final exact row_number window ranks at most ``partitions * k``
  rows per query, never the full candidate set.

Corpus constants (N, avgdl): the prebuilt/wide-vocab paths fetch them with
one bounded 1-row collect (same contract as the k-row centroid fetch in
operators/kmeans.py:71); the fused ad-hoc path broadcast-joins the 1-row
stats aggregate into the scoring projection instead, so the whole
retrieval is a single job.
"""

from __future__ import annotations


import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from exstream_implementation_spark.session import local_frame

BM25_K1 = 1.2
BM25_B = 0.75

# Java regex \s is ASCII-only; python \s is unicode-aware.  The driver-side
# query tokenizer must split exactly like the JVM corpus tokenizer or a
# query term containing e.g. \xa0 would silently never match.
_PY_WS = re.compile(r"[ \t\n\x0b\f\r]+")

# widest query vocabulary that still fuses df counting into the single
# stats aggregation row (one array_contains counter per term); beyond this
# the df computation falls back to a distributed aggregation
_FUSED_VOCAB_MAX = 256


def _terms(text_col: str):
    """Lowercased whitespace tokens, empties dropped (leading-space split
    artifacts must not become index terms)."""
    return F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != F.lit("")
    )


def build_postings(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Inverted index: one row per (term, doc_id) with term frequency and
    the document's token length.

    Single shuffle on (term, doc_id) with map-side partial count; ``dl``
    is carried as a group-constant (``first``) rather than re-joined.
    """
    toks = docs.select(
        F.col("doc_id"), _terms(text_col).alias("toks")
    ).withColumn("dl", F.size("toks"))
    return (
        toks.select("doc_id", "dl", F.explode("toks").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
    )


def write_postings(postings: DataFrame, table: str, buckets: int = 64) -> None:
    """Persist the index bucketed by term: repeated query batches probe
    co-located buckets with no corpus shuffle."""
    (
        postings.write.mode("overwrite")
        .bucketBy(buckets, "term")
        .sortBy("term")
        .saveAsTable(table)
    )


def append_postings(
    spark: SparkSession,
    new_docs: DataFrame,
    table: str,
    text_col: str = "text",
) -> int:
    """Incrementally index new documents into a served postings table.

    BM25's index state is trivially incremental: new (term, doc) rows
    don't touch old ones, and n/avgdl/df are derived at probe time from
    the table, so a probe after append is automatically fresh.  Doc_ids
    already present are skipped (anti-join on the distinct indexed ids —
    one column-pruned scan), making redelivered batches idempotent
    (operators/index_lifecycle.py).  Appends go through the catalog
    insert path so rows land in the table's term buckets.  Returns the
    number of newly indexed documents.
    """
    from exstream_implementation_spark.operators.index_lifecycle import (
        idempotent_append,
    )

    indexed = spark.table(table).select("doc_id").distinct()
    fresh = new_docs.join(indexed, "doc_id", "left_anti")
    # the anti-join must run on DOC ids before tokenization (a (term, doc)
    # anti-join would re-tokenize the whole batch just to learn it's a
    # replay), so the shared append dedupes on the postings' natural key
    # after the doc-level cut — same result, one contract
    posts = idempotent_append(
        build_postings(fresh, text_col), table, ["term", "doc_id"]
    )
    return posts.select("doc_id").distinct().count()


def corpus_stats(postings: DataFrame) -> tuple[int, float]:
    """(N docs, average document length) — one aggregate, 1-row fetch."""
    row = (
        postings.groupBy("doc_id")
        .agg(F.first("dl").alias("dl"))
        .agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl"))
        .first()
    )
    return int(row["n"] or 0), float(row["avgdl"] or 0.0)


def query_term_weights(
    postings: DataFrame,
    queries: DataFrame,
    n_docs: int,
    max_df_ratio: float = 0.5,
    query_text_col: str = "query_text",
) -> DataFrame:
    """Per (query_id, term): BM25 idf, with stop-term pruning.

    df(term) comes from one aggregate over the postings restricted (semi-
    joined, broadcast) to the queries' vocabulary — the full term-df table
    is never materialized for a query batch.
    """
    qterms = queries.select(
        "query_id", F.explode(F.array_distinct(_terms(query_text_col))).alias("term")
    )
    vocab = qterms.select("term").distinct()
    dfreq = (
        postings.join(F.broadcast(vocab), "term")
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    return (
        qterms.join(F.broadcast(dfreq), "term")
        .filter(F.col("df") <= F.lit(max_df_ratio * n_docs))
        .select("query_id", "term", idf.alias("idf"))
    )


def bm25_topk(
    spark: SparkSession,
    docs_or_postings: DataFrame,
    queries,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_df_ratio: float = 0.5,
    text_col: str = "text",
    prebuilt: bool = False,
    score_round: int | None = None,
    toks_col: str | None = None,
) -> DataFrame:
    """Top-k documents per query under BM25.

    ``queries``: (query_id int, query_text string) DataFrame — small by
    contract — or a literal ``[(query_id, query_text), ...]`` list (a
    constant query batch skips the driver collect job entirely).
    Returns (query_id, doc_id, score double, rank int), rank 1..k, ties
    broken by doc_id ascending (deterministic).

    ``toks_col`` (ad-hoc path only): name of an existing token-array
    column on ``docs_or_postings`` — callers that already tokenized (and
    possibly cached) the corpus pass it so BM25 reuses that frame instead
    of re-splitting the raw text.  Empty tokens are re-filtered here (an
    array filter is free next to a second corpus scan), so a raw
    ``split(lower(text), '\\s+')`` column is acceptable as-is.

    ``score_round``: round the score to N decimals BEFORE ranking.  This is
    the cross-engine determinism knob (the oracle-gated catalog branch uses
    6): raw float sums can differ between engines in the last ulp when the
    per-term addends associate differently, and a rank built on raw floats
    would then tie-break differently.  Rounding first collapses sub-1e-N
    differences into exact ties that the doc_id tie-break resolves
    identically everywhere.
    """
    scored: DataFrame | None = None
    if prebuilt and isinstance(queries, list):
        # the prebuilt path joins the query frame distributed — lift a
        # literal list into a frame there
        queries = local_frame(
            spark, queries, "query_id int, query_text string"
        )
    if prebuilt:
        # postings-table path (the served deployment): the table is cheap to
        # re-scan (bucketed, columnar), so stats/df/tf all read it directly.
        postings = docs_or_postings
        n_docs, avgdl = corpus_stats(postings)
        if n_docs == 0 or queries.isEmpty():
            return local_frame(
                spark, [], "query_id int, doc_id bigint, score double, rank int"
            )
        weights = query_term_weights(
            postings, queries, n_docs, max_df_ratio=max_df_ratio
        )
        hits = postings
    else:
        # ad-hoc path: NEVER materialize the corpus-wide inverted index just
        # to answer one query batch.  The query batch is human-scale by
        # contract, so it is collected to the driver (same bounded-fetch
        # class as the k-row centroid collect, operators/kmeans.py) and the
        # whole retrieval runs in TWO jobs:
        #   job 1 — one scan+agg computes n, avgdl AND per-vocab-term df
        #           (one array_contains counter per term, partial-combined);
        #           idf/pruning are then trivial driver arithmetic;
        #   job 2 — with the weights now driver-side literals, scoring is a
        #           pure per-doc PROJECTION (per-term tf from array ops —
        #           no token explode, no (term, doc) shuffle anywhere),
        #           straight into the two-phase top-k fold.
        # Vocabularies too wide for a fused counter row / projection
        # (> _FUSED_VOCAB_MAX) fall back to the distributed explode+join
        # formulation.
        # a literal [(query_id, query_text)] list skips the collect job —
        # callers with a constant query batch (the catalog branch) save a
        # full scheduler round-trip per invocation
        if isinstance(queries, list):
            qrows = [
                {"query_id": qid, "query_text": qt} for qid, qt in queries
            ]
        else:
            qrows = queries.select("query_id", "query_text").collect()
        qterms_local: list[tuple[int, str]] = []
        for r in qrows:
            seen: list[str] = []
            # mirror the JVM tokenizer exactly: Java regex \s is ASCII-only
            for t in _PY_WS.split((r["query_text"] or "").lower()):
                if t and t not in seen:
                    seen.append(t)
                    qterms_local.append((int(r["query_id"]), t))
        if not qterms_local:
            return local_frame(
                spark, [], "query_id int, doc_id bigint, score double, rank int"
            )
        vocab_terms = sorted({t for _, t in qterms_local})
        tok_arr = (
            F.filter(F.col(toks_col), lambda t: t != F.lit(""))
            if toks_col is not None
            else _terms(text_col)
        )
        toks = (
            docs_or_postings.select(F.col("doc_id"), tok_arr.alias("toks"))
            .withColumn("dl", F.size("toks"))
            .filter(F.col("dl") > 0)
        )
        if len(vocab_terms) <= _FUSED_VOCAB_MAX:
            # ONE job: the corpus-stats aggregate (n, avgdl, per-vocab-term
            # df — all partial-combined in one pass) broadcast-joins into
            # the scoring projection instead of being fetched to the driver
            # first.  The old two-job shape (stats .first(), then a
            # projection built from driver literals) cost a blocking
            # scheduler round-trip per invocation — the dominant warm-path
            # cost on human-scale corpora — and bought nothing at scale,
            # since both jobs read the same scan.
            stats = toks.agg(
                F.count("*").cast("double").alias("__n"),
                F.avg("dl").alias("__avgdl"),
                *[
                    F.sum(F.array_contains("toks", t).cast("int"))
                    .cast("double")
                    .alias(f"__df{i}")
                    for i, t in enumerate(vocab_terms)
                ],
            )
            idx = {t: i for i, t in enumerate(vocab_terms)}
            by_query: dict[int, list[str]] = {}
            for qid, t in qterms_local:
                by_query.setdefault(qid, []).append(t)
            # one O(dl) pass keeps only query-term occurrences; per-term tf
            # then scans that (usually tiny) matched list
            matched = F.filter(
                F.col("toks"), lambda x: x.isin(vocab_terms)
            ).alias("matched")
            docs_m = (
                toks.select("doc_id", "dl", matched)
                .filter(F.size("matched") > 0)
                .crossJoin(F.broadcast(stats))  # 1-row stats side
            )

            def _qscore(terms: list[str]):
                # fixed summation order (query-term order); same formula as
                # the hits path: idf * (tf*(k1+1)) / (tf + k1*(1-b+b*dl/avgdl))
                denom_tail = k1 * (
                    1.0 - b + b * F.col("dl") / F.col("__avgdl")
                )
                parts = []
                for t in terms:
                    dfc = F.col(f"__df{idx[t]}")
                    idf = F.log(
                        F.lit(1.0) + (F.col("__n") - dfc + 0.5) / (dfc + 0.5)
                    )
                    tf = F.size(
                        F.filter(F.col("matched"), lambda x: x == F.lit(t))
                    )
                    # stop-term cap in-expression (mirrors the driver-side
                    # wrows filter); df=0 terms contribute 0 via tf=0
                    parts.append(
                        F.when(
                            dfc <= F.lit(float(max_df_ratio)) * F.col("__n"),
                            idf * ((tf * (k1 + 1.0)) / (tf + denom_tail)),
                        ).otherwise(F.lit(0.0))
                    )
                score = parts[0]
                for p in parts[1:]:
                    score = score + p
                return score

            entries = F.array(
                *[
                    F.struct(
                        F.lit(qid).cast("int").alias("query_id"),
                        _qscore(terms).alias("score"),
                    )
                    for qid, terms in by_query.items()
                ]
            )
            scored = (
                docs_m.select("doc_id", F.inline(entries))
                # a doc scores for a query only if it contains >= 1 of THAT
                # query's terms (score is NaN-free: tf=0 => term part 0)
                .filter(F.col("score") > 0.0)
                .select("query_id", "doc_id", "score")
            )
        else:
            row = toks.agg(
                F.count("*").alias("n"), F.avg("dl").alias("avgdl")
            ).first()
            n_docs, avgdl = int(row["n"] or 0), float(row["avgdl"] or 0.0)
            if n_docs == 0:
                return local_frame(
                    spark, [], "query_id int, doc_id bigint, score double, rank int"
                )
            qterms = local_frame(
                spark, qterms_local, "query_id int, term string"
            )
            vocab = qterms.select("term").distinct()
            dfreq = (
                toks.select(
                    "doc_id", F.explode(F.array_distinct("toks")).alias("term")
                )
                .join(F.broadcast(vocab), "term")
                .groupBy("term")
                .agg(F.count("*").alias("df"))
            )
            idf = F.log(
                F.lit(1.0)
                + (F.lit(float(n_docs)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            )
            weights = (
                qterms.join(F.broadcast(dfreq), "term")
                .filter(F.col("df") <= F.lit(max_df_ratio * n_docs))
                .select("query_id", "term", idf.alias("idf"))
            )
            hits = (
                toks.select("doc_id", "dl", F.explode("toks").alias("term"))
                .join(F.broadcast(weights.select("term").distinct()), "term")
                .groupBy("term", "doc_id")
                .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
            )
    if scored is None:
        # hits x broadcast(query-term weights): BroadcastHashJoin — the
        # corpus side never shuffles to meet the query batch.
        tf_norm = (F.col("tf") * (k1 + 1.0)) / (
            F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
        )
        scored = (
            hits.join(F.broadcast(weights), "term")
            .groupBy("query_id", "doc_id")
            .agg(F.sum(F.col("idf") * tf_norm).alias("score"))
        )
    if score_round is not None:
        # applied before the fold AND the final window so both rank the
        # same value (see docstring)
        scored = scored.withColumn("score", F.round("score", score_round))
    return two_phase_topk(scored, k)


def two_phase_topk(scored: DataFrame, k: int) -> DataFrame:
    """Distributed per-query top-k over (query_id, doc_id, score) rows.

    Phase 1 folds each shuffle partition down to k candidates per query
    (collect_list bounded by partition rows); phase 2 exact-ranks the
    <= partitions*k survivors per query with a row_number window.  The
    fold's struct sort must agree with the final window's tie-break
    (score DESC, doc_id ASC), so doc_id enters the struct negated:
    sort_array(desc) then orders ties by -doc_id descending == doc_id
    ascending.
    """
    part_topk = (
        scored.groupBy("query_id", F.spark_partition_id().alias("_p"))
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("score"), (-F.col("doc_id")).alias("negid")
                        )
                    ),
                    asc=False,
                ),
                1,
                k,
            ).alias("top")
        )
        .select("query_id", F.explode("top").alias("c"))
        .select(
            "query_id",
            (-F.col("c.negid")).alias("doc_id"),
            F.col("c.score").alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        part_topk.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def bm25_topk_bulk(
    spark: SparkSession,
    postings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_df_ratio: float = 0.5,
) -> DataFrame:
    """Top-k under BM25 for a CORPUS-SCALE query batch (millions of
    queries) — the formulation where neither side broadcasts.

    ``bm25_topk`` assumes a human-scale batch (driver-side weights, pure
    projection).  When the batch is itself big data — offline eval sets,
    query-log mining, all-pairs doc-to-doc retrieval — everything must stay
    distributed:

    * df comes from one corpus-wide postings aggregation (map-side
      combined, output is vocabulary-sized);
    * query terms shuffle by ``term`` to meet the postings in an equi-join
      — with a ``write_postings`` term-bucketed table the postings side
      contributes NO exchange, only the (smaller) query side moves;
    * per-(query, doc) scores aggregate with map-side partial sums, then
      the two-phase fold bounds the final ranking shuffle at k rows per
      (query, partition).

    Stop-term pruning (``max_df_ratio``) is load-bearing here: an unpruned
    stopword fans every query containing it out to df(term) ~ N docs.

    Returns (query_id, doc_id, score double, rank int).
    """
    row = (
        postings.groupBy("doc_id")
        .agg(F.first("dl").alias("dl"))
        .agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl"))
        .first()
    )
    n_docs, avgdl = int(row["n"] or 0), float(row["avgdl"] or 0.0)
    if n_docs == 0:
        return local_frame(
            spark, [], "query_id int, doc_id bigint, score double, rank int"
        )
    qterms = queries.select(
        "query_id",
        F.explode(F.array_distinct(_terms("query_text"))).alias("term"),
    )
    dfreq = (
        postings.groupBy("term")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= F.lit(max_df_ratio * n_docs))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    weights = qterms.join(dfreq, "term").select(
        "query_id", "term", idf.alias("idf")
    )
    tf_norm = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
    )
    scored = (
        postings.join(weights, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("idf") * tf_norm).alias("score"))
    )
    return two_phase_topk(scored, k)


def mine_hard_negatives(
    results: DataFrame, qrels: DataFrame, k_neg: int = 5
) -> DataFrame:
    """Hard negatives for training a dense retriever (Karpukhin et al.
    2020, DPR §3.2): per query, the HIGHEST-ranked retrieved docs that are
    not judged relevant — lexically/semantically confusable with the
    positives, which is exactly what contrastive training needs (random
    negatives are too easy to carry gradient).

    ``results``: (query_id, doc_id, rank) from any ranker here (bm25 /
    dense / hybrid / bulk).  ``qrels``: (query_id, doc_id, rel) — rows
    with rel > 0 are positives; zero/negative-rel judgments are treated
    as unjudged (still eligible as negatives, the standard convention).

    Plan: one left-anti equi-join against the positive qrels, then a
    per-query re-rank window BOUNDED by the ranker's own top-k — no
    corpus-sized partitions.  Returns (query_id, doc_id, neg_rank) with
    neg_rank 1..k_neg densified in original rank order.
    """
    if k_neg < 1:
        raise ValueError(f"mine_hard_negatives: k_neg must be >= 1: {k_neg}")
    positives = qrels.filter(F.col("rel") > 0.0).select("query_id", "doc_id")
    w = Window.partitionBy("query_id").orderBy(F.asc("rank"), F.asc("doc_id"))
    return (
        results.join(positives, ["query_id", "doc_id"], "left_anti")
        .withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k_neg)
        .select("query_id", "doc_id", "neg_rank")
    )


# --- dense arm + reciprocal-rank fusion (hybrid retrieval) -------------------
# The standard RAG/retrieval stack pairs a lexical ranker with an embedding
# ranker and fuses by rank, not score (Cormack/Clarke/Buettcher RRF, SIGIR
# 2009): rrf(d) = sum over arms of 1 / (rrf_k + rank_arm(d)).  Rank-based
# fusion sidesteps the incomparable-score-scales problem AND the float-
# determinism problem — ranks are small exact integers, so the fused score
# is a sum of exact dyadic-ish rationals and ties break identically on any
# engine.


def dense_topk(
    spark: SparkSession,
    embeddings: DataFrame,
    queries_vec: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    cos_round: int | None = 6,
) -> DataFrame:
    """Top-k embeddings per query vector under cosine, exact (brute-force).

    ``queries_vec``: (query_id int, qvec array<float>) — SMALL by contract;
    it broadcasts against the corpus (BroadcastNestedLoopJoin with the
    k-row side broadcast — the corpus never shuffles, same contract as the
    recall baseline plans/similarity.py:79).  For corpus-scale query sets
    use the bucketed/IVF paths in plans/similarity.py instead.

    Returns (query_id, doc_id, score double, rank int) — doc_id is the
    corpus ``id_col``; score is cosine, rounded to ``cos_round`` BEFORE
    ranking (same determinism contract as bm25_topk's score_round).
    """
    from exstream_implementation_spark.plans.similarity import _cosine_expr

    if queries_vec.isEmpty() or embeddings.isEmpty():
        return local_frame(
            spark, [], "query_id int, doc_id bigint, score double, rank int"
        )
    scored = (
        embeddings.crossJoin(F.broadcast(queries_vec))
        .select(
            "query_id",
            F.col(id_col).alias("doc_id"),
            F.expr(_cosine_expr("qvec", emb_col)).alias("score"),
        )
    )
    if cos_round is not None:
        scored = scored.withColumn("score", F.round("score", cos_round))
    return two_phase_topk(scored, k)


def hybrid_rrf_topk(
    spark: SparkSession,
    docs: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    arm_k: int | None = None,
    rrf_k: int = 60,
    max_df_ratio: float = 0.5,
    text_col: str = "text",
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    postings: DataFrame | None = None,
) -> DataFrame:
    """Hybrid retrieval: BM25 arm + dense-cosine arm fused with RRF.

    ``postings``: optional pre-built inverted index (``build_postings`` /
    a ``write_postings`` table read back) — the served deployment never
    re-tokenizes the corpus per query batch, and a term-bucketed postings
    table keeps the df aggregation exchange-free.

    ``queries``: (query_id int, query_text string, qvec array<float>) —
    small by contract.  ``docs.doc_id`` and ``embeddings.<id_col>`` must
    share the id space.  Each arm contributes its top ``arm_k``
    (default 3*k) candidates; a document absent from one arm simply
    contributes no term for it (the standard RRF convention).  Returns
    (query_id, doc_id, rrf double, lex_rank int?, dense_rank int?, rank).

    Scale shape: both arms are broadcast-query designs (the corpus sides
    never shuffle toward the batch), and fusion joins two <= arm_k-row-per-
    query frames — driver-free, bounded, one tiny shuffle on (query_id,
    doc_id).
    """
    arm_k = arm_k or 3 * k
    lex = bm25_topk(
        spark,
        postings if postings is not None else docs,
        queries.select("query_id", "query_text"),
        k=arm_k,
        max_df_ratio=max_df_ratio,
        text_col=text_col,
        prebuilt=postings is not None,
    ).select("query_id", "doc_id", F.col("rank").alias("lex_rank"))
    dense = dense_topk(
        spark,
        embeddings,
        queries.select("query_id", "qvec"),
        k=arm_k,
        id_col=id_col,
        emb_col=emb_col,
    ).select("query_id", "doc_id", F.col("rank").alias("dense_rank"))
    return rrf_fuse(lex, dense, k=k, rrf_k=rrf_k)


def rrf_fuse(
    lex: DataFrame, dense: DataFrame, k: int = 10, rrf_k: int = 60
) -> DataFrame:
    """Fuse two ranked-arm frames by reciprocal rank.

    ``lex``: (query_id, doc_id, lex_rank); ``dense``: (query_id, doc_id,
    dense_rank) — any per-query top-k producer qualifies, so this composes
    the broadcast arms (``bm25_topk`` + ``dense_topk``) AND the bulk arms
    (``bm25_topk_bulk`` + the IVF/bucketed ANN paths in plans/similarity)
    alike.  Both inputs are k-bounded per query, so the full-outer join
    and the per-query window stay bounded regardless of corpus size.
    """
    both = lex.join(dense, ["query_id", "doc_id"], "full_outer")
    rrf_term = lambda c: F.when(  # noqa: E731
        F.col(c).isNotNull(), F.lit(1.0) / (F.lit(rrf_k) + F.col(c))
    ).otherwise(F.lit(0.0))
    fused = both.withColumn("rrf", rrf_term("lex_rank") + rrf_term("dense_rank"))
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rrf", "lex_rank", "dense_rank", "rank")
    )


def rrf_fuse_many(
    arms: list, k: int = 10, rrf_k: int = 60
) -> DataFrame:
    """Reciprocal-rank fusion over ANY number of ranked arms — lexical,
    dense, ANN, recency, whatever produces (query_id, doc_id, rank).
    Generalizes the two-arm ``rrf_fuse`` (kept for its named lex/dense
    output contract): score = Σ_arms 1/(rrf_k + rank), absent arms
    contribute nothing.

    Every arm is k-bounded per query by contract, so the union has at
    most |arms|*k rows per query: the groupBy and the final window are
    both bounded, corpus size never appears.

    Output: (query_id, doc_id, rrf, n_arms, rank).
    """
    if len(arms) < 2:
        raise ValueError(f"rrf_fuse_many needs >= 2 arms, got {len(arms)}")
    parts = [
        a.select("query_id", "doc_id", F.col("rank").alias("__r"))
        for a in arms
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    # round BEFORE ranking (the bm25_topk score_round contract): with 3+
    # arms F.sum accumulates in task order, and an ulp difference between
    # equal rank-multisets would flip the doc_id tie-break run-to-run.
    # Contributions are >= 1/(rrf_k + k) apart when they differ at all,
    # so 12 decimals collapses float noise without merging real scores.
    fused = u.groupBy("query_id", "doc_id").agg(
        F.round(
            F.sum(F.lit(1.0) / (F.lit(rrf_k) + F.col("__r"))), 12
        ).alias("rrf"),
        F.count(F.lit(1)).alias("n_arms"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rrf", "n_arms", "rank")
    )
