"""Ranked text retrieval — BM25 top-k over ``documents``.

Not in the reference (it processes numeric metric streams only;
reference core scripts script_1.py / exstream_lib.py have no text search) —
this is the classic training-data/RAG retrieval family the extension
surface lacked: given a small set of text queries, return the top-k
documents per query under BM25 (Robertson/Sparck-Jones; the idf form is
Lucene's non-negative variant ``ln(1 + (N - df + 0.5)/(df + 0.5))``).

Scale design:

* The query side is SMALL by construction (a query batch is human-scale),
  so its terms become driver-side literals and the corpus is never
  inverted: one scan aggregates N, avgdl and the per-term df of the query
  vocabulary, and that 1-row aggregate broadcast-joins into a per-document
  scoring projection — the corpus NEVER shuffles to meet the queries
  (plan-asserted in tests/test_search.py).
* Stop-term pruning: query terms whose document frequency exceeds
  ``max_df_ratio * N`` are dropped (the WAND-ish guard) — a
  stopword-laden query would otherwise drag a constant fraction of the
  corpus into scoring.  Dropped terms are a documented semantic: BM25 with
  a df-pruned query vocabulary.
* Per-query top-k is two-phase: a per-shuffle-partition fold keeps only
  ``k`` candidates per (query, partition) — bounded by partition size —
  so the final exact row_number window ranks at most ``partitions * k``
  rows per query, never the full candidate set.
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

# widest query vocabulary bm25_topk accepts: df counting fuses into the
# single stats aggregation row, one array_contains counter per term, and a
# wider batch raises ValueError instead of growing that row
_FUSED_VOCAB_MAX = 256


def _terms(text_col: str):
    """Lowercased whitespace tokens, empties dropped (leading-space split
    artifacts must not become index terms)."""
    return F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != F.lit("")
    )


def bm25_topk(
    spark: SparkSession,
    docs: DataFrame,
    queries,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_df_ratio: float = 0.5,
    text_col: str = "text",
    score_round: int | None = None,
    toks_col: str | None = None,
) -> DataFrame:
    """Top-k documents per query under BM25.

    ``queries``: (query_id int, query_text string) DataFrame — small by
    contract — or a literal ``[(query_id, query_text), ...]`` list (a
    constant query batch skips the driver collect job entirely).
    Returns (query_id, doc_id, score double, rank int), rank 1..k, ties
    broken by doc_id ascending (deterministic).  Raises ``ValueError`` when
    the batch holds more than ``_FUSED_VOCAB_MAX`` (256) distinct terms:
    split such a batch.

    ``toks_col``: name of an existing token-array column on ``docs`` —
    callers that already tokenized (and possibly cached) the corpus pass it
    so BM25 reuses that frame instead of re-splitting the raw text.  Empty
    tokens are re-filtered here (an array filter is free next to a second
    corpus scan), so a raw ``split(lower(text), '\\s+')`` column is
    acceptable as-is.

    ``score_round``: round the score to N decimals BEFORE ranking.  This is
    the cross-engine determinism knob (the oracle-gated catalog branch uses
    6): raw float sums can differ between engines in the last ulp when the
    per-term addends associate differently, and a rank built on raw floats
    would then tie-break differently.  Rounding first collapses sub-1e-N
    differences into exact ties that the doc_id tie-break resolves
    identically everywhere.
    """
    # NEVER materialize the corpus-wide inverted index just to answer one
    # query batch: the batch is human-scale by contract, so its terms are
    # tokenized on the driver and become literals of a per-doc scoring
    # projection (per-term tf from array ops — no token explode, no
    # (term, doc) shuffle).  A literal [(query_id, query_text)] list skips the
    # collect job — callers with a constant query batch (the catalog
    # branch) save a full scheduler round-trip per invocation.
    if isinstance(queries, list):
        qrows = [{"query_id": qid, "query_text": qt} for qid, qt in queries]
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
    if len(vocab_terms) > _FUSED_VOCAB_MAX:
        raise ValueError(
            f"bm25_topk takes at most {_FUSED_VOCAB_MAX} distinct query terms"
            f" per batch, got {len(vocab_terms)}: split the batch"
        )
    tok_arr = (
        F.filter(F.col(toks_col), lambda t: t != F.lit(""))
        if toks_col is not None
        else _terms(text_col)
    )
    toks = (
        docs.select(F.col("doc_id"), tok_arr.alias("toks"))
        .withColumn("dl", F.size("toks"))
        .filter(F.col("dl") > 0)
    )
    # ONE job: the corpus-stats aggregate (n, avgdl, per-vocab-term df —
    # all partial-combined in one pass) broadcast-joins into the scoring
    # projection instead of being fetched to the driver first, which would
    # cost a blocking scheduler round-trip per invocation.
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
        # fixed summation order (query-term order):
        # idf * (tf*(k1+1)) / (tf + k1*(1-b+b*dl/avgdl))
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
            # stop-term cap in-expression; df=0 terms contribute 0
            # via tf=0
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

