"""Text-analysis operators for large-scale training-data pipelines.

Not present in the reference (it processes numeric metric streams only) —
these are the BASELINE.json north-star extensions: token statistics, quality
scoring, language-ID heuristics, and document fingerprinting over the
``documents`` table, each with a DuckDB oracle.

All are single-pass, shuffle-free per-row transforms (tokenize/score) or one
map-side-combinable aggregation — they scale linearly and keep everything in
whole-stage codegen (no Python UDFs).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from exstream_implementation_spark.plans.registry import query
from exstream_implementation_spark.sources import (
    load_documents_parallel,
    load_table,
)

STOP_EN = ["the", "a", "and", "of", "is", "to", "in", "on"]
LEX = {
    "en": ["the", "a", "and", "of", "is"],
    "fr": ["le", "la", "les", "et", "de"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "los", "las", "y", "que"],
    "zh": ["的", "是", "在", "和", "了"],
}


def _toks(col="text"):
    return F.split(F.lower(F.col(col)), r"\s+")


def _sql_list(words):
    return ", ".join(f"'{w}'" for w in words)


# The exact character set of the Java regex class [a-z0-9\s] (\s = ASCII
# [ \t\n\x0b\f\r]).  Removing these via translate() — a single-pass char
# map — and measuring the remaining length counts the punctuation chars
# 12× faster than the equivalent regexp_replace('[^a-z0-9\s]','') at the
# 20× corpus replica (x20 micro-bench, docs/ROUND7.md): the regex engine
# builds a stripped copy per row; translate is a branchless table lookup.
_ALNUM_WS = "abcdefghijklmnopqrstuvwxyz0123456789 \t\n\x0b\f\r"


def punct_count(col="text"):
    """Count of chars matching [^a-z0-9\\s] — translate-based fast path,
    value-identical to the regexp formulation (the oracle keeps regexp)."""
    return F.length(F.translate(F.col(col), _ALNUM_WS, ""))


def stop_count(toks_col="toks", words=STOP_EN):
    """Stop-word occurrences via an IN-list lambda — compiles to constant
    predicates (6× faster than filtering with array_contains on a literal
    array column, same x20 micro-bench)."""
    return F.expr(f"size(filter({toks_col}, x -> x IN ({_sql_list(words)})))")


# --- per-doc text metrics: token stats + quality + language-ID in ONE pass --
# Each family used to be its own catalog entry; they are all single-pass
# codegen projections over the same tokenized scan, so one suite query covers
# the whole surface while freeing driver-correctness slots.
_LANG_SCORES_SQL_SUITE = ",\n".join(
    f"           len(list_filter(toks, x -> x IN ({_sql_list(ws)}))) AS s_{lg}"
    for lg, ws in LEX.items()
)


@query(
    "text_metrics_suite",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, text,
                      regexp_split_to_array(lower(text), '\\s+') AS toks
               FROM documents),
    m AS (
      SELECT doc_id, lang,
             len(toks) AS n_tokens,
             len(list_distinct(toks)) AS n_distinct,
             len(array_to_string(toks, ''))::DOUBLE / len(toks) AS mtl,
             len(list_filter(toks, x -> x IN ({_sql_list(STOP_EN)})))::DOUBLE
               / len(toks) AS stop_r,
             (length(text) - length(regexp_replace(text, '[^a-z0-9\\s]', '', 'g')))::DOUBLE
               / length(text) AS punct_r,
{_LANG_SCORES_SQL_SUITE}
      FROM t
    )
    SELECT doc_id, lang AS true_lang,
           CASE WHEN s_en >= greatest(s_fr, s_de, s_es, s_zh) THEN 'en'
                WHEN s_fr >= greatest(s_de, s_es, s_zh) THEN 'fr'
                WHEN s_de >= greatest(s_es, s_zh) THEN 'de'
                WHEN s_es >= s_zh THEN 'es'
                ELSE 'zh' END AS pred_lang,
           n_tokens, n_distinct,
           round(mtl, 4) AS mean_tok_len,
           round(stop_r, 4) AS stop_ratio,
           round(punct_r, 4) AS punct_ratio,
           round(0.4 * least(n_tokens / 100.0, 1.0)
               + 0.4 * stop_r + 0.2 * (1.0 - punct_r), 4) AS quality
    FROM m
    """,
)
def text_metrics_suite(spark, sf_dir):
    d = load_documents_parallel(spark, sf_dir).withColumn("toks", _toks())
    for lg, ws in LEX.items():
        d = d.withColumn(
            f"s_{lg}",
            F.expr(f"size(filter(toks, x -> x IN ({_sql_list(ws)})))"),
        )
    pred = (
        F.when(
            F.col("s_en") >= F.greatest("s_fr", "s_de", "s_es", "s_zh"), "en"
        )
        .when(F.col("s_fr") >= F.greatest("s_de", "s_es", "s_zh"), "fr")
        .when(F.col("s_de") >= F.greatest("s_es", "s_zh"), "de")
        .when(F.col("s_es") >= F.col("s_zh"), "es")
        .otherwise("zh")
    )
    stop_r = stop_count().cast("double") / F.size("toks")
    punct_r = punct_count().cast("double") / F.length("text")
    d = d.select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        pred.alias("pred_lang"),
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
        F.round(
            F.length(F.array_join("toks", "")).cast("double") / F.size("toks"),
            4,
        ).alias("mean_tok_len"),
        stop_r.alias("stop_r"),
        punct_r.alias("punct_r"),
    )
    return d.select(
        "doc_id",
        "true_lang",
        "pred_lang",
        "n_tokens",
        "n_distinct",
        "mean_tok_len",
        F.round("stop_r", 4).alias("stop_ratio"),
        F.round("punct_r", 4).alias("punct_ratio"),
        F.round(
            0.4 * F.least(F.col("n_tokens") / 100.0, F.lit(1.0))
            + 0.4 * F.col("stop_r")
            + 0.2 * (1.0 - F.col("punct_r")),
            4,
        ).alias("quality"),
    )


# --- BPE-ish subword token counting ------------------------------------------
# GPT-2-style pre-tokenization approximated without lookarounds (so the Java
# and RE2 regex engines match): optional leading space + letter run / digit
# run / punctuation run.  The count is the usual first-order estimate of
# post-BPE token counts for data budgeting.
_BPE_RE = r" ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+"


# --- document fingerprint (position-weighted rolling hash, md5-derived so
#     both engines agree bit-for-bit) + cross-document duplicated-span
#     detection (the substring-dedup shape of Lee et al. 2022, "Deduplicating
#     Training Data Makes Language Models Better", arXiv:2107.06499 —
#     approximated at token-W-gram granularity): a position is "duplicated"
#     when its W-gram occurs in ≥2 distinct docs; overlapping/adjacent hit
#     windows merge into maximal spans per doc (the classic islands pattern,
#     per-doc windows so partitions stay bounded by document length).  Scale:
#     the gram explode matches dedup_ngram_jaccard's accepted volume class,
#     the gram groupBy pre-combines map-side, and the hit semi-join is an
#     AQE equi-join on the 60-bit gram hash — identical md5-derived hash on
#     both engines, so even collisions collide identically. -------------------
SPAN_W = 8

# bm25 branch: fixed query batch + k, shared by the Spark plan and the
# DuckDB oracle.  'dup' is the corpus's one rare term (df ~0.05N), the rest
# are mid/high-df — max_df_ratio=1.0 because this synthetic vocabulary is
# 31 terms of which 30 exceed any sane stop-term cutoff; differentiation
# comes from tf and dl, which is exactly what BM25's tf-saturation and
# length normalization are for.
BM25_Q = [(1, "dup key table"), (2, "merge sort window"), (3, "vector scan fast stream")]
BM25_K = 10
BM25_Q_SQL = ", ".join(f"({i}, '{t}')" for i, t in BM25_Q)


@query(
    "text_fingerprint",
    oracle=f"""
    WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks
               FROM documents),
    u AS (SELECT doc_id, unnest(toks) AS tok,
                 generate_subscripts(toks, 1) AS pos
          FROM t),
    fp AS (
      SELECT doc_id,
             CAST(sum((('0x' || substr(md5(tok), 1, 8))::BIGINT % 1000003)
                      * (((pos - 1) % 64) + 1)) % 2147483647 AS BIGINT) AS val
      FROM u GROUP BY doc_id
    ),
    g AS (
      SELECT doc_id, CAST(i AS INT) AS pos,
             ('0x' || substr(md5(array_to_string(
                toks[i + 1 : i + {SPAN_W}], ' ')), 1, 15))::BIGINT AS gh
      FROM t, unnest(range(len(toks) - {SPAN_W - 1})) AS r(i)
      WHERE len(toks) >= {SPAN_W}
    ),
    dup AS (SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
    hit AS (SELECT doc_id, pos FROM g SEMI JOIN dup USING (gh)),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN max(pos + {SPAN_W}) OVER w IS NULL
                    OR pos > max(pos + {SPAN_W}) OVER w
                  THEN 1 ELSE 0 END AS new_isl
      FROM hit
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    isl2 AS (
      SELECT doc_id, pos,
             sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM isl
    ),
    spans AS (
      SELECT doc_id, CAST(min(pos) AS INT) AS pos,
             CAST(max(pos) + {SPAN_W} AS BIGINT) AS val
      FROM isl2 GROUP BY doc_id, island
    ),
    -- bm25 branch: ranked retrieval for the fixed query batch (plans/
    -- search.py bm25_topk, score_round=6).  Arithmetic mirrors the engine
    -- op-for-op — (1.2 + 1.0) not 2.2, (0.75 * dl) / avgdl associativity —
    -- so only the 6-dp-rounded sum has to agree, not raw float ulps.
    bq(query_id, query_text) AS (VALUES {BM25_Q_SQL}),
    bt AS (SELECT doc_id,
                  list_filter(regexp_split_to_array(lower(text), '\\s+'),
                              x -> x <> '') AS btoks
           FROM documents),
    bdl AS (SELECT doc_id, len(btoks) AS dl FROM bt WHERE len(btoks) > 0),
    bpost AS (
      SELECT doc_id, unnest(btoks) AS term FROM bt
    ),
    btf AS (SELECT doc_id, term, count(*) AS tf FROM bpost GROUP BY doc_id, term),
    bstat AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM bdl),
    bqt AS (SELECT query_id,
                   unnest(list_distinct(list_filter(
                     regexp_split_to_array(lower(query_text), '\\s+'),
                     x -> x <> ''))) AS term
            FROM bq),
    bdf AS (SELECT term, count(*) AS df FROM btf
            SEMI JOIN (SELECT DISTINCT term FROM bqt) v USING (term)
            GROUP BY term),
    bw AS (SELECT q.query_id, q.term,
                  ln(1.0 + (CAST(s.n AS DOUBLE) - d.df + 0.5) / (d.df + 0.5)) AS idf
           FROM bqt q JOIN bdf d USING (term) CROSS JOIN bstat s),
    bsc AS (
      SELECT w.query_id, p.doc_id,
             round(sum(w.idf * (p.tf * (1.2 + 1.0))
                       / (p.tf + 1.2 * (0.25 + (0.75 * l.dl) / s.avgdl))),
                   6) AS score_r
      FROM btf p JOIN bw w USING (term) JOIN bdl l ON p.doc_id = l.doc_id
      CROSS JOIN bstat s
      GROUP BY w.query_id, p.doc_id
    ),
    brk AS (
      SELECT query_id, doc_id, score_r,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score_r DESC, doc_id) AS rk
      FROM bsc
    )
    SELECT 'fp' AS branch, doc_id, 0 AS pos, val FROM fp
    UNION ALL
    SELECT 'span' AS branch, doc_id, pos, val FROM spans
    UNION ALL
    SELECT 'bm25' AS branch, doc_id,
           CAST(query_id * 100 + rk AS INT) AS pos,
           CAST(round(score_r * 1000000) AS BIGINT) AS val
    FROM brk WHERE rk <= {BM25_K}
    """,
)
def text_fingerprint(spark, sf_dir):
    from pyspark.sql import Window

    from exstream_implementation_spark.cache import tracked_persist

    # ONE tokenized materialization shared by all three branches (fp agg,
    # span gram explode, bm25 stats+scoring) — previously each branch
    # re-scanned and re-split the corpus, and the bm25 ad-hoc path's two
    # jobs made this the suite's only warm>cold query (r09 verdict).
    # Narrow cache: (doc_id, toks) only, released when the next catalog
    # query starts (cache.py discipline).
    d = tracked_persist(
        load_documents_parallel(spark, sf_dir).select(
            "doc_id", _toks().alias("toks")
        )
    )
    # per-doc rolling fingerprint as ONE map-side array fold: the sum over
    # (md5-derived term value × position weight) is a pure per-row reduction,
    # so the posexplode + corpus-wide groupBy Exchange the old shape paid
    # are gone — at 100 TB this removes a full shuffle of the tokenized
    # corpus (guide §2.4).  Same arithmetic, same mod at the end: per-token
    # addends are ≤ ~6.4e7, so a bigint accumulator cannot overflow for any
    # real document length.
    fp = d.filter(F.size("toks") > 0).select(
        F.lit("fp").alias("branch"),
        "doc_id",
        F.lit(0).cast("int").alias("pos"),
        F.expr(
            "aggregate(zip_with(toks, sequence(0, size(toks) - 1),"
            " (t, i) -> (cast(conv(substr(md5(t), 1, 8), 16, 10) as bigint)"
            " % 1000003) * ((i % 64) + 1)),"
            " 0L, (acc, x) -> acc + x) % 2147483647"
        ).alias("val"),
    )

    # gram identity only gates duplicate detection — it never reaches the
    # output — so the ENGINE hashes with xxhash64 (one JVM pass) while the
    # DuckDB oracle keeps md5: both sides derive the same dup-gram SET from
    # the same token windows.  "Appears in ≥2 docs" is min(doc)≠max(doc)
    # per gh via groupBy — map-side partial min/max combine BEFORE the
    # shuffle, so a boilerplate gram duplicated across millions of docs
    # (exactly what this query hunts) never colocates its raw occurrences
    # in one task the way a window over gh would; the small dup set then
    # semi-joins back (AQE broadcasts it).  The aggregate and the join
    # each recompute the explode from the cached tokenized frame —
    # measured FASTER than persisting grams (the xxhash64 explode is
    # ~0.25 s here and pipelines, while a persist is a materialization
    # barrier), and at scale caching a corpus-sized gram table is itself
    # the liability.
    grams = d.filter(F.size("toks") >= SPAN_W).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(toks) - {SPAN_W}),"
                f" i -> xxhash64(array_join("
                f"slice(toks, i + 1, {SPAN_W}), ' ')))"
            )
        ).alias("pos", "gh"),
    )
    dup = (
        grams.groupBy("gh")
        .agg((F.min("doc_id") != F.max("doc_id")).alias("dup"))
        .filter("dup")
        .select("gh")
    )
    hit = grams.join(dup, "gh", "left_semi").select(
        "doc_id", F.col("pos").cast("int").alias("pos")
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_end = F.max(F.col("pos") + SPAN_W).over(w_prev)
    isl = hit.withColumn(
        "new_isl",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0),
    ).withColumn("island", F.sum("new_isl").over(w_run))
    spans = (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("int").alias("pos"),
            (F.max("pos") + SPAN_W).cast("long").alias("val"),
        )
        .select(F.lit("span").alias("branch"), "doc_id", "pos", "val")
    )

    from exstream_implementation_spark.plans.search import bm25_topk

    bm = bm25_topk(
        spark,
        d,
        BM25_Q,  # literal batch: no query-frame collect job
        k=BM25_K,
        max_df_ratio=1.0,
        score_round=6,
        toks_col="toks",
    ).select(
        F.lit("bm25").alias("branch"),
        "doc_id",
        (F.col("query_id") * 100 + F.col("rank")).cast("int").alias("pos"),
        F.round(F.col("score") * 1e6).cast("long").alias("val"),
    )
    return fp.unionByName(spans).unionByName(bm)


# --- Python UDTF surface (§2.2 scope row "UDAF/UDTF: absent" — Spark 4
#     provides table functions natively): fixed-size token chunking, the
#     context-window splitter every LLM training-data pipeline needs.
#     Row-wise Python is acceptable here: chunking is inherently per-row
#     string work, and the UDTF fans out via LATERAL inside the plan (no
#     driver loop, shards with the scan partitions). ---------------------------
CHUNK_TOKS = 32


@query(
    "udtf_token_chunks",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM documents WHERE doc_id % 10 = 3
    ),
    idx AS (
      SELECT doc_id, t,
             unnest(range(cast(ceil(len(t)/{CHUNK_TOKS}.0) AS BIGINT))) AS i
      FROM toks
    ),
    chunks AS (
      SELECT doc_id, cast(i AS INT) AS chunk_idx,
             array_to_string(t[i*{CHUNK_TOKS}+1 : i*{CHUNK_TOKS}+{CHUNK_TOKS}], ' ')
                 AS chunk_text,
             cast(least(len(t) - i*{CHUNK_TOKS}, {CHUNK_TOKS}) AS INT) AS n_toks
      FROM idx
    )
    SELECT doc_id, chunk_idx, chunk_text, n_toks,
           cast(len(regexp_extract_all(lower(chunk_text), '{_BPE_RE}')) AS INT)
               AS n_bpe
    FROM chunks
    """,
)
def udtf_token_chunks(spark, sf_dir):
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, chunk_text string, n_toks int")
    class ChunkDoc:
        def eval(self, text: str):
            toks = (text or "").split(" ")
            for i in range(0, len(toks), CHUNK_TOKS):
                c = toks[i : i + CHUNK_TOKS]
                yield i // CHUNK_TOKS, " ".join(c), len(c)

    spark.udtf.register("chunk_doc", ChunkDoc)
    load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 3
    ).createOrReplaceTempView("_udtf_docs")
    # n_bpe computed OUTSIDE the UDTF as a codegen regexp projection — the
    # Python table function only does the string chunking it exists for.
    # Spark SQL string literals consume one level of backslash escaping
    # (unlike DuckDB's), so the regex's backslashes double here or the
    # \\s class silently becomes a literal 's'.
    bpe_sql = _BPE_RE.replace("\\", "\\\\")
    return spark.sql(
        f"""
        SELECT d.doc_id, c.chunk_idx, c.chunk_text, c.n_toks,
               cast(size(regexp_extract_all(lower(c.chunk_text),
                                            '{bpe_sql}', 0)) AS INT) AS n_bpe
        FROM _udtf_docs d, LATERAL chunk_doc(d.text) c
        """
    )


# --- PII redaction -----------------------------------------------------------
# Pretraining scrub pass: mask emails / phone numbers / IPv4s / credit-card-
# shaped digit runs with typed placeholders.  Pure regexp_replace chain —
# whole-stage codegen, zero Python in the hot path, linear at 100 TB, and
# trivially extensible per deployment (the pattern list is data, not code).
PII_PATTERNS = [
    # (placeholder, regex) — applied in order; earlier masks win overlaps
    ("<EMAIL>", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("<IP>", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
    ("<CARD>", r"\b\d{4}[ -]?\d{4}[ -]?\d{4}[ -]?\d{4}\b"),
    ("<PHONE>", r"\+?\d[\d -]{7,14}\d"),
]


def redact_pii(df, text_col: str = "text"):
    """Replace PII-shaped substrings in ``text_col`` with placeholders and
    count the redactions per row (``n_redacted``)."""
    out = df.withColumn("__orig_len", F.length(text_col))
    redacted = F.col(text_col)
    for placeholder, pat in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, placeholder)
    out = out.withColumn(text_col, redacted)
    # count = masked placeholders present after the chain
    n = F.lit(0)
    for placeholder, _ in PII_PATTERNS:
        esc = placeholder.replace("<", "\\<").replace(">", "\\>")
        n = n + F.size(F.expr(f"regexp_extract_all({text_col}, '{esc}', 0)"))
    return out.withColumn("n_redacted", n.cast("int")).drop("__orig_len")


# Catalog gate for the redaction chain: the synthetic corpus carries little
# natural PII, so the query plants one email + one IPv4 per document from the
# doc_id (both engines construct the identical augmented text) and redacts.
# The hash gate then proves the four-pattern regexp chain byte-identical
# between Spark (Java regex) and DuckDB (RE2) on every document.
_PII_ORACLE_CHAIN = (
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,\n"
    "      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),\n"
    "      '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),\n"
    "      '\\b\\d{4}[ -]?\\d{4}[ -]?\\d{4}[ -]?\\d{4}\\b', '<CARD>', 'g'),\n"
    "      '\\+?\\d[\\d -]{7,14}\\d', '<PHONE>', 'g')"
)


@query(
    "text_pii_redact",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact u' || CAST(doc_id AS VARCHAR)
                  || '@example.com from 10.0.'
                  || CAST(doc_id % 256 AS VARCHAR) || '.7' AS text
      FROM documents),
    red AS (SELECT doc_id, {_PII_ORACLE_CHAIN} AS text FROM aug)
    SELECT doc_id, text,
           CAST(len(regexp_extract_all(text, '<(EMAIL|IP|CARD|PHONE)>')) AS INT)
             AS n_redacted
    FROM red
    """,
)
def text_pii_redact(spark, sf_dir):
    """PII scrub over the corpus with planted per-doc email + IPv4 markers
    (deterministic from doc_id) so every row exercises the chain."""
    d = load_documents_parallel(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        ).alias("text"),
    )
    return redact_pii(d).select("doc_id", "text", "n_redacted")


# --- repetition metrics (Gopher-style quality heuristics) --------------------
# Rae et al. 2021 (arXiv:2112.11446) filter documents by repetition: share
# of duplicate lines and the mass of the most frequent n-gram.  Both are
# array/higher-order expressions — no shuffle, no UDF; a quality filter at
# corpus scale is a scan-fused projection + filter.
def repetition_metrics(df, text_col: str = "text"):
    """Adds ``dup_line_frac`` (1 - distinct/total lines) and
    ``top_bigram_share`` (occurrences of the modal word-bigram / total
    bigrams; 0.0 for docs with < 2 tokens).  NULL text scores (0.0, 0.0)
    like empty text — the oracle's unnest/LEFT JOIN mirror coalesces missing
    docs to 0.0, so the Spark side must not propagate NULL."""
    df = df.withColumn(text_col, F.coalesce(F.col(text_col), F.lit("")))
    lines = F.split(F.col(text_col), r"\n")
    # materialize the token array ONCE per row: a split() spelled inline in
    # the transform lambda is re-evaluated per ELEMENT (Catalyst does not CSE
    # inside higher-order lambda bodies) — O(d²) string work per doc, which
    # was this operator's 16× scale tail before round 7.  CollapseProject
    # keeps the alias because it is referenced many times.
    df = df.withColumn("__toks", F.split(F.lower(F.col(text_col)), r"\s+"))
    # guard < 2 tokens: sequence(0, -1) is DESCENDING ([0,-1]) and ANSI mode
    # makes the out-of-range index a hard error, not a null
    bigrams = F.expr(
        "CASE WHEN size(__toks) < 2 THEN array() ELSE "
        "transform(sequence(0, size(__toks) - 2),"
        " i -> concat_ws(' ', __toks[i], __toks[i+1])) END"
    )
    # modal-bigram count via sort + linear run-length fold — O(d log d) per
    # doc (a transform×filter counting scan would be O(d²) and hurt on long
    # documents)
    top_share = F.expr(
        "CASE WHEN size(__bigrams) < 1 THEN 0.0 ELSE "
        "aggregate(array_sort(__bigrams),"
        " struct(cast(null as string) as prev, 0L as run, 0L as best),"
        " (acc, x) -> struct(x,"
        "   if(x <=> acc.prev, acc.run + 1L, 1L),"
        "   greatest(acc.best, if(x <=> acc.prev, acc.run + 1L, 1L))),"
        " acc -> acc.best)"
        " / cast(size(__bigrams) as double) END"
    )
    return (
        df.withColumn(
            "dup_line_frac",
            F.when(
                F.size(lines) > 0,
                F.round(
                    1 - F.size(F.array_distinct(lines)) / F.size(lines), 6
                ),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("__bigrams", bigrams)
        .withColumn("top_bigram_share", F.round(top_share, 6))
        .drop("__bigrams", "__toks")
    )


@query(
    "text_repetition",
    oracle="""
    WITH t AS (SELECT doc_id,
                      regexp_split_to_array(lower(text), '\\s+') AS toks,
                      string_split(text, chr(10)) AS lines
               FROM documents),
    bg AS (SELECT doc_id, lines,
                  list_filter(
                    list_transform(list_zip(toks, toks[2:]),
                      x -> CASE WHEN x[2] IS NULL THEN NULL
                                ELSE x[1] || ' ' || x[2] END),
                    x -> x IS NOT NULL) AS bigrams
           FROM t),
    eb AS (SELECT doc_id, unnest(bigrams) AS b FROM bg),
    cnt AS (SELECT doc_id, b, count(*) AS c FROM eb GROUP BY doc_id, b),
    top AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_bg
            FROM cnt GROUP BY doc_id),
    dl AS (SELECT doc_id, length(text) AS len, text FROM documents),
    gp AS (SELECT doc_id, text,
                  unnest(generate_series(1, greatest(len - 39, 0))) AS i
           FROM dl),
    gr AS (SELECT doc_id, i, substr(text, i, 40) AS g FROM gp),
    dupg AS (SELECT g FROM gr GROUP BY g HAVING count(*) >= 2),
    dpos AS (SELECT gr.doc_id, gr.i FROM gr JOIN dupg USING (g)),
    cov AS (SELECT doc_id, i,
                   max(i + 40) OVER (PARTITION BY doc_id ORDER BY i
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
            FROM dpos),
    dc AS (SELECT doc_id,
                  sum(greatest(0, i + 40 - greatest(i, coalesce(pe, 0))))
                    AS dup_chars
           FROM cov GROUP BY doc_id),
    lmtok AS (SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                 x -> x <> '') AS lt
              FROM documents),
    uc AS (SELECT w, count(*) AS c
           FROM (SELECT unnest(lt) AS w FROM lmtok) GROUP BY w),
    tot AS (SELECT sum(c) AS n, count(*) AS v FROM uc),
    dp AS (SELECT doc_id, x[1] AS w1, x[2] AS w2
           FROM (SELECT doc_id, unnest(list_zip(lt, lt[2:])) AS x
                 FROM lmtok)
           WHERE x[2] IS NOT NULL),
    bc AS (SELECT w1, w2, count(*) AS c FROM dp GROUP BY w1, w2),
    sc AS (SELECT dp.doc_id,
                  coalesce(CAST(bc.c AS DOUBLE) / u1.c,
                           0.4 * (coalesce(u2.c, 0) + 1)
                               / CAST(tot.n + tot.v AS DOUBLE)) AS p
           FROM dp
           LEFT JOIN bc ON bc.w1 = dp.w1 AND bc.w2 = dp.w2
           LEFT JOIN uc u1 ON u1.w = dp.w1
           LEFT JOIN uc u2 ON u2.w = dp.w2, tot),
    lmn AS (SELECT doc_id, round(-avg(ln(p)), 6) AS lm_nll
            FROM sc GROUP BY doc_id)
    SELECT bg.doc_id,
           round(CASE WHEN len(lines) > 0
                 THEN 1 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines)
                 ELSE 0.0 END, 6) AS dup_line_frac,
           round(coalesce(CAST(top.top_c AS DOUBLE) / top.n_bg, 0.0), 6)
             AS top_bigram_share,
           round(CASE WHEN dl.len > 0
                 THEN CAST(coalesce(dc.dup_chars, 0) AS DOUBLE) / dl.len
                 ELSE 0.0 END, 6) AS dup40_frac,
           coalesce(lmn.lm_nll, 0.0) AS lm_nll
    FROM bg LEFT JOIN top USING (doc_id)
            JOIN dl USING (doc_id)
            LEFT JOIN dc USING (doc_id)
            LEFT JOIN lmn USING (doc_id)
    """,
)
def text_repetition(spark, sf_dir):
    """Gopher repetition filters (Rae et al. 2021) plus the Lee et al.
    2021 exact-substring duplication fraction, as one catalog slot: the
    modal-bigram fold and dup-line fraction hash-gated against a plain
    unnest/GROUP BY mirror, and ``dup40_frac`` (chars inside a
    corpus-duplicated span of length >= 40; plans/substring.py) gated
    against an independent generate_series + self-join + window-union
    DuckDB formulation; both engines group on identical raw-gram
    anchors.  Round 9 also
    adds ``lm_nll`` (plans/lm.py: CCNet-style corpus-LM quality score —
    bigram stupid-backoff mean negative ln-likelihood, trained and scored
    on this same corpus) under the hash, mirrored by independent count-
    table CTEs on the DuckDB side."""
    from exstream_implementation_spark.plans.lm import (
        score_lm_nll,
        train_bigram_lm,
    )
    from exstream_implementation_spark.plans.substring import (
        dup_span_profile,
    )

    # NOT cached deliberately (r12 interleaved A/B): the seven branch reads
    # of the corpus are pure scan+repartition — caching (doc_id, text) saves
    # no computation, and the materialization barrier + InMemory read cost
    # measured 10% SLOWER than the parallel re-scans (3.63 s vs 4.01 s).
    # Contrast text_fingerprint, whose cache holds TOKENIZED output.
    d = load_documents_parallel(spark, sf_dir).select("doc_id", "text")
    rep = repetition_metrics(d).select(
        "doc_id", "dup_line_frac", "top_bigram_share"
    )
    prof = dup_span_profile(d, k=40).select(
        "doc_id", F.col("dup_frac").alias("dup40_frac")
    )
    lm = score_lm_nll(d, train_bigram_lm(d)).select("doc_id", "lm_nll")
    return rep.join(prof, "doc_id").join(lm, "doc_id")


# --- per-document tf-idf keyword extraction ----------------------------------
from exstream_implementation_spark.canon import (  # noqa: E402
    stable_round,
    stable_round_sql,
)

TFIDF_K = 3
TFIDF_MAX_DF = 0.9


@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      -- empty-token filter on BOTH sides: for edge whitespace DuckDB's
      -- regexp_split_to_array keeps ''-tokens where Spark's split drops
      -- them — the parity must not depend on the corpus never emitting
      -- leading/trailing whitespace (r10 advice)
      SELECT doc_id, term
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
            FROM documents)
      WHERE term <> ''
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    n AS (SELECT count(*) AS n FROM documents),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf * ln(n.n / dfq.df) AS score
      FROM tf JOIN dfq USING (term) CROSS JOIN n
      WHERE dfq.df <= {TFIDF_MAX_DF} * n.n
    ),
    ranked AS (
      SELECT doc_id, term,
             {stable_round_sql("score")} AS score_r,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY {stable_round_sql("score")} DESC,
                                         term) AS rnk
      FROM scored
    )
    SELECT doc_id, CAST(rnk AS INT) AS rnk, term, score_r
    FROM ranked WHERE rnk <= {TFIDF_K}
    """,
)
def tfidf_top_terms(spark, sf_dir):
    """Per-document top-{k} keyword extraction by tf-idf — the classic
    topic-tagging / document-representation primitive a curation pipeline
    runs after tokenization (extension surface: the reference has no term
    weighting; the bm25 family in plans/search.py shares the same idf
    statistics but ranks documents per query, not terms per document).

    Scale shape: tf is one map-side-combining groupBy over the exploded
    corpus; df aggregates the (doc, term) table, which is vocabulary-bound
    per doc; the tf⋈df join is on term — AQE broadcasts the df table at
    small scale and falls back to a shuffle join when the vocabulary
    outgrows the broadcast threshold (exactly right at 100 TB, where the
    vocabulary is itself huge); the final top-k is a per-doc window whose
    input was already cut to df ≤ {max_df} · N.  Determinism: the rank is
    taken over the 6-dp-ROUNDED score (the bm25 oracle convention — raw
    float ulps between Spark's Math.log and DuckDB's libm ln must not
    decide the rnk ≤ k cut), ties break by term ascending.
    """
    from pyspark.sql import Window

    d = load_documents_parallel(spark, sf_dir).select(
        "doc_id", _toks().alias("toks")
    )
    tf = (
        d.select("doc_id", F.explode("toks").alias("term"))
        # mirror of the oracle's ''-token filter (edge-whitespace parity):
        # Spark split drops a trailing '' but KEEPS a leading one
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    n = d.agg(F.count("*").alias("n"))
    dfq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(dfq, "term")
        .crossJoin(F.broadcast(n))
        .filter(F.col("df") <= TFIDF_MAX_DF * F.col("n"))
        .select(
            "doc_id",
            "term",
            (F.col("tf") * F.log(F.col("n") / F.col("df"))).alias("score"),
        )
    )
    scored = scored.withColumn("score_r", stable_round(F.col("score")))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_r"), F.asc("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_K)
        .select(
            "doc_id",
            F.col("rnk").cast("int").alias("rnk"),
            "term",
            "score_r",
        )
    )
