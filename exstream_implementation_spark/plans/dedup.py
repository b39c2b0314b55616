"""Deduplication operators — exact, n-gram Jaccard, MinHash+LSH, SimHash.

Reference-free extensions (BASELINE.json north star): the reference engine
has no text pipeline, but a 100 TB training-data deployment of this engine
needs dedup as a first-class operator family.

Cross-engine determinism: every hash is derived from md5 hex (both engines),
converted to int64 via the leading hex digits — Spark ``conv(substr(md5(x),
1,k),16,10)`` ≡ DuckDB ``('0x'||substr(md5(x),1,k))::BIGINT`` (verified).

Scale design:
  * exact dedup — one hash-partitioned groupBy; at 100 TB the shuffle key is
    the content hash, so data skew only occurs on true duplicates (bounded).
  * n-gram Jaccard — candidate generation by shared shingle (equi-join on
    the shingle hash, never a cartesian); frequency-capped shingles would be
    the next lever at extreme scale.
  * MinHash+LSH — signatures fold map-side (8 mins per doc in one agg);
    candidates via equi-join on (band_id, band_hash).
  * SimHash — 32 conditional sums in a single groupBy; pairing is blocked
    per ``source`` so the join is keyed, not cartesian.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from exstream_implementation_spark.cache import session_persist, tracked_persist

from exstream_implementation_spark.plans.registry import query
from exstream_implementation_spark.sources import (
    load_documents_parallel,
    load_table,
)

N_MINHASH = 8


def _doc_tokens(spark, sf_dir):
    # parallel load: shingle/minhash work is CPU-bound per doc
    return (
        load_documents_parallel(spark, sf_dir)
        .select("doc_id", F.split(F.lower("text"), r"\s+").alias("toks"))
    )


def _doc_grams(spark, sf_dir):
    """Distinct word-3-gram shingles per doc (0-based Spark array indexing).

    Persisted: every dedup query branches over this table several times, and
    Spark's CacheManager plan-matching lets ALL dedup queries in a session
    share the single cached copy (#docs rows of gram arrays — the standard
    materialized shingle table of a corpus-dedup pass, ≪ corpus text size).
    """
    return _doc_tokens(spark, sf_dir).select(
        "doc_id",
        F.array_distinct(
            F.expr(
                # < 3 tokens: sequence(0, -1) is descending and ANSI mode
                # turns the out-of-range index into a hard error
                "CASE WHEN size(toks) < 3 THEN array() ELSE "
                "transform(sequence(0, size(toks) - 3),"
                " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) END"
            )
        ).alias("grams"),
        # session scope: five catalog queries (jaccard/minhash/components/
        # curation/decontaminate) share this one materialized shingle table
        # via CacheManager plan-matching — query scope would rebuild it per
        # query in a sweep
    ).transform(session_persist)


_GRAMS_SQL = """
  t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks
        FROM documents),
  g AS (SELECT doc_id,
               list_distinct(list_filter(
                 list_transform(list_zip(toks, toks[2:], toks[3:]),
                                x -> x[1] || ' ' || x[2] || ' ' || x[3]),
                 x -> x IS NOT NULL)) AS grams
        FROM t)
"""

# Shingle document-frequency cap: a shingle appearing in more than DF_CAP
# docs generates O(df²) candidate pairs in the shared-shingle join — one
# stop-word-like 3-gram over a 10⁹-doc corpus would alone produce 10¹⁸
# candidates.  Capping bounds per-shingle join fan-out at DF_CAP², making
# the candidate stage linear in corpus size; Jaccard is then computed in the
# capped shingle space on BOTH engines (near-dup pairs share *rare* shingles,
# so the capped metric keeps the same pairs in practice).
DF_CAP = 100

_CAPPED_EDGES_SQL = f"""
  eg AS (SELECT doc_id, unnest(grams) AS gram FROM g),
  gdf AS (SELECT gram, count(*) AS df FROM eg GROUP BY gram),
  e AS (SELECT eg.doc_id, eg.gram FROM eg JOIN gdf USING (gram)
        WHERE gdf.df <= {DF_CAP}),
  sized AS (SELECT doc_id, count(*) AS n_grams FROM e GROUP BY doc_id)
"""


def _capped_gram_edges(g, scope: str = "session"):
    """(doc_id, gram) pairs with hot shingles (df > DF_CAP) removed, plus the
    per-doc capped-space gram counts.

    The hot-shingle list is usually tiny (only stop-shingles exceed the
    cap) but its worst case is total_edges/DF_CAP — corpus-linear — so the
    anti-join carries NO broadcast hint: AQE converts it to a broadcast
    from the hot side's measured runtime size while it fits (keeping the
    big edge table map-side) and keeps the gram-key shuffle join past the
    threshold.  Size-adaptive with zero eager driver-side jobs — plan
    construction stays fully lazy.

    ``scope``: "session" when the caller's gram table is the shared
    ``_doc_grams`` plan (jaccard/components reuse the one materialized edge
    table across catalog queries); callers with a private gram plan
    (corpus_curation's post-dedup grams) pass "query" so their edge table is
    released at the next query instead of pinning dead for the session."""
    e = g.select("doc_id", F.explode("grams").alias("gram"))
    hot = (
        e.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > DF_CAP)
        .select("gram")
    )
    capped = e.join(hot, "gram", "left_anti").transform(
        lambda d: tracked_persist(d, scope=scope)
    )
    sizes = capped.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    return capped, sizes


# --- exact dedup (hash-groupBy), raw + whitespace-normalized in one pass ----
# One scan computes both hash columns; each variant is a hash-partitioned
# groupBy joined back.  At 100 TB the shuffle key is the content hash, so
# skew only occurs on true duplicates (bounded by real dup multiplicity).
@query(
    "dedup_exact",
    oracle="""
    WITH h AS (SELECT doc_id, md5(text) AS content_hash,
                      md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                        AS norm_hash
               FROM documents),
    grp AS (SELECT content_hash, min(doc_id) AS keep_id
            FROM h GROUP BY content_hash),
    ngrp AS (SELECT norm_hash, min(doc_id) AS norm_keep_id,
                    count(*) AS norm_copies
             FROM h GROUP BY norm_hash)
    SELECT h.doc_id, h.content_hash, grp.keep_id,
           (h.doc_id <> grp.keep_id) AS is_duplicate,
           h.norm_hash, ngrp.norm_keep_id, ngrp.norm_copies,
           (h.doc_id <> ngrp.norm_keep_id) AS is_norm_duplicate
    FROM h JOIN grp USING (content_hash) JOIN ngrp USING (norm_hash)
    """,
)
def dedup_exact(spark, sf_dir):
    from pyspark.sql import Window

    h = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5("text").alias("content_hash"),
        F.md5(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
        ).alias("norm_hash"),
    )
    # per-hash min/count as unordered windows, not groupBy + join-back: the
    # old shape recomputed the md5 scan THREE times (h, grp, ngrp are three
    # occurrences of the same subtree) and shuffled h twice more for the
    # joins — at 100 TB that is three reads of the text corpus.  Two window
    # exchanges over the narrow (doc_id, 2×hash) projection read the text
    # exactly once; partitions are bounded by true duplicate multiplicity,
    # so no skew beyond real dup groups (guide §2.4).
    w_c = Window.partitionBy("content_hash")
    w_n = Window.partitionBy("norm_hash")
    return h.select(
        "doc_id",
        "content_hash",
        F.min("doc_id").over(w_c).alias("keep_id"),
        "norm_hash",
        F.min("doc_id").over(w_n).alias("norm_keep_id"),
        F.count(F.lit(1)).over(w_n).alias("norm_copies"),
    ).select(
        "doc_id",
        "content_hash",
        "keep_id",
        (F.col("doc_id") != F.col("keep_id")).alias("is_duplicate"),
        "norm_hash",
        "norm_keep_id",
        "norm_copies",
        (F.col("doc_id") != F.col("norm_keep_id")).alias(
            "is_norm_duplicate"
        ),
    )


# --- n-gram Jaccard near-dup (frequency-capped shared-shingle join) ----------
@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_GRAMS_SQL},
    {_CAPPED_EDGES_SQL},
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           round(p.n_inter::DOUBLE
                 / (sa.n_grams + sb.n_grams - p.n_inter), 6) AS jaccard
    FROM pairs p
    JOIN sized sa ON sa.doc_id = p.doc_a
    JOIN sized sb ON sb.doc_id = p.doc_b
    WHERE p.n_inter::DOUBLE / (sa.n_grams + sb.n_grams - p.n_inter) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    g = _doc_grams(spark, sf_dir)
    e, sized = _capped_gram_edges(g)
    a = e.alias("a")
    b = e.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("sa.n_grams") + F.col("sb.n_grams") - F.col("n_inter")
    )
    return (
        pairs.join(sized.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
        .join(sized.alias("sb"), F.col("sb.doc_id") == F.col("doc_b"))
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# --- MinHash + LSH banding ---------------------------------------------------
# two md5s per gram (plain + salted) = 64 hex chars, split into 8 independent
# 32-bit hashes — 4× cheaper than salting md5 once per hash function
_MIN_COLS_DUCK = ",\n".join(
    f"           min(('0x' || substr(md5(gram) || md5('x' || gram), {1 + 8 * i}, 8))::BIGINT) AS h{i}"
    for i in range(N_MINHASH)
)


# --- per-row MinHash fold (the batch catalog's signature builder — no
#     explode, no groupBy, zero shuffle for signatures) ---------------------
def minhash_lanes(df, grams_col: str = "grams"):
    """h0..h7 lane fold over an existing shingle-array column — md5 once per
    gram in a materialized intermediate (lambda-CSE rule), then 8 array_min
    scans.  No explode, no shuffle."""
    out = df.withColumn(
        "__mh",
        F.expr(
            f"transform({grams_col}, g -> concat(md5(g), md5(concat('x', g))))"
        ),
    )
    for i in range(N_MINHASH):
        out = out.withColumn(
            f"h{i}",
            F.expr(
                f"array_min(transform(__mh, m ->"
                f" cast(conv(substr(m, {1 + 8 * i}, 8), 16, 10) as bigint)))"
            ),
        )
    return out.drop("__mh")


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_GRAMS_SQL},
    e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
    sig AS (
      SELECT doc_id,
{_MIN_COLS_DUCK}
      FROM e GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band_id,
             md5(h0::VARCHAR || '_' || h1::VARCHAR || '_' || h2::VARCHAR || '_' || h3::VARCHAR) AS band_hash
      FROM sig
      UNION ALL
      SELECT doc_id, 1,
             md5(h4::VARCHAR || '_' || h5::VARCHAR || '_' || h6::VARCHAR || '_' || h7::VARCHAR)
      FROM sig
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           round((CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END
                + CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END
                + CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END
                + CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END
                + CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END
                + CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END
                + CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END
                + CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END) / 8.0, 4)
             AS est_jaccard
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.doc_a
    JOIN sig sb ON sb.doc_id = c.doc_b
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    # signatures via the per-row lane fold over the SESSION-SHARED cached
    # gram table: no explode, no shuffle (the old explode+groupBy
    # materialized the token-wise relation and moved pre-combined rows
    # through an exchange — 2x slower measured standalone at sf0.1), and a
    # catalog sweep still shares _doc_grams with jaccard/components.
    # Persisted: the table feeds 4 branches (2 band projections + sa/sb).
    sig = (
        minhash_lanes(_doc_grams(spark, sf_dir))
        .filter(F.col("h0").isNotNull())
        .select("doc_id", *[f"h{i}" for i in range(N_MINHASH)])
        .transform(tracked_persist)
    )
    b0 = sig.select(
        "doc_id",
        F.lit(0).alias("band_id"),
        F.md5(F.concat_ws("_", "h0", "h1", "h2", "h3")).alias("band_hash"),
    )
    b1 = sig.select(
        "doc_id",
        F.lit(1).alias("band_id"),
        F.md5(F.concat_ws("_", "h4", "h5", "h6", "h7")).alias("band_hash"),
    )
    bands = b0.unionByName(b1)
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    est = sum(
        F.when(F.col(f"sa.h{i}") == F.col(f"sb.h{i}"), 1).otherwise(0)
        for i in range(N_MINHASH)
    ) / float(N_MINHASH)
    return (
        cand.join(sig.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
        .join(sig.alias("sb"), F.col("sb.doc_id") == F.col("doc_b"))
        .select("doc_a", "doc_b", F.round(est, 4).alias("est_jaccard"))
    )


# --- duplicate clusters: near-dup pairs → connected components ---------------
# The "keep one doc per duplicate cluster" step: n-gram Jaccard pairs become
# an undirected graph; distributed min-label propagation
# (operators/components.py) finds each doc's cluster representative.  Oracle:
# recursive-CTE transitive closure over the identical pair set.
@query(
    "dedup_ngram_components",
    oracle=f"""
    WITH RECURSIVE {_GRAMS_SQL},
    {_CAPPED_EDGES_SQL},
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    dup AS (
      SELECT p.doc_a, p.doc_b FROM pairs p
      JOIN sized sa ON sa.doc_id = p.doc_a
      JOIN sized sb ON sb.doc_id = p.doc_b
      WHERE p.n_inter::DOUBLE / (sa.n_grams + sb.n_grams - p.n_inter) >= 0.5
    ),
    undirected AS (
      SELECT doc_a AS a, doc_b AS b FROM dup
      UNION ALL SELECT doc_b, doc_a FROM dup
    ),
    verts AS (SELECT DISTINCT a AS vertex FROM undirected),
    reach(vertex, reached) AS (
      SELECT vertex, vertex FROM verts
      UNION
      SELECT r.vertex, u.b FROM reach r JOIN undirected u ON u.a = r.reached
    )
    SELECT vertex AS doc_id, min(reached) AS component
    FROM reach GROUP BY vertex
    """,
)
def dedup_ngram_components(spark, sf_dir):
    from exstream_implementation_spark.operators.components import (
        connected_components,
    )

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    return cc.select(F.col("vertex").alias("doc_id"), "component")


# --- SimHash (64-bit, distinct-token weights), carried as 4×16-bit bands ----
# 64 bits, not 32: the 10× scale smoke (tools/scale_smoke.py) showed 8-bit
# bands saturating — band-bucket occupancy grows n/2^bits, so candidate
# pairs grow n²/2^bits and the band join degrades toward quadratic as the
# corpus outgrows the band space.  16-bit bands (65 536 values each) keep
# occupancy — and with it candidate volume — per-bucket-bounded at far
# larger corpora; the sign bit of a single BIGINT never materializes because
# the hash lives as its four band values (hex-joined for display).
_SIMHASH_BITS = 64
_SIMHASH_BANDS = 4
_HAMMING_MAX = _SIMHASH_BANDS - 1  # pigeonhole guarantee


# --- per-row SimHash fold ----------------------------------------------------
# Token bit g (0..63): low 32 bits from md5 hex chars 1-8, high 32 from 9-16;
# band b bit j set iff the ±1 vote sum of bit 16b+j is > 0.  Computed as ONE
# left fold over the distinct-token array with a 64-lane accumulator — no
# explode, no groupBy.  The alternative (explode to one row per token, 64
# aggregates, groupBy doc_id) shuffles the corpus token-wise: ~100× the doc
# count through the exchange at 100 TB.  The fold stays in whole-stage
# codegen per row (measured faster even single-node) and, because it needs
# no shuffle or state, it is also the form that runs on an unbounded stream.
# md5 runs in an INNER transform so it executes once per token: spelled
# inside the struct lambda it would run twice (lo and hi) — Catalyst does
# not CSE inside lambda bodies (same class of tail as text_repetition's
# round-7 fix).
_SH_HASHES = (
    "transform(transform(array_distinct({toks}), t -> md5(t)),"
    " m -> named_struct("
    " 'lo', cast(conv(substr(m, 1, 8), 16, 10) as bigint),"
    " 'hi', cast(conv(substr(m, 9, 8), 16, 10) as bigint)))"
)

# ONES fold, not ±1 votes: accumulating the raw bit drops a branch per
# (token, lane) — votes[g] = 2·ones[g] − n, so "votes > 0" ⟺ "2·ones > n".
# Together with the single-md5 stage: −18% wall on the x20 corpus,
# bit-parity pinned by the python-oracle and DuckDB gates.
_SH_ONES = (
    "aggregate({hs},"
    " transform(sequence(0, 63), g -> cast(0 as bigint)),"
    " (acc, h) -> zip_with(acc,"
    "   transform(sequence(0, 63), g ->"
    "     ((CASE WHEN g < 32 THEN h.lo ELSE h.hi END) >> (g % 32)) & 1),"
    "   (a, d) -> a + d))"
)


def _band_expr(b: int, ones_col: str, ntok_col: str) -> F.Column:
    return F.expr(
        f"aggregate(transform(sequence(0, 15), j -> CASE WHEN"
        f" 2 * element_at({ones_col}, {16 * b} + j + 1) > {ntok_col}"
        f" THEN shiftleft(cast(1 as bigint), j) ELSE cast(0 as bigint) END),"
        f" cast(0 as bigint), (acc, v) -> acc + v)"
    )


def with_simhash_bands(df, text_col: str = "text"):
    """Append b0..b3 (4×16-bit SimHash bands) as per-row expressions —
    shuffle-free, stream-safe, bit-identical to the DuckDB oracle's
    explode-based formulation (parity pinned by the ``dedup_simhash``
    oracle).

    NULL-text rows are DROPPED, matching both the oracle (unnest of a NULL
    token array yields no rows, so the doc never reaches the groupBy) and
    the old explode-based plan; without the filter the fold would emit the
    row with NULL bands and break the hash gate on a NULL-bearing corpus."""
    toks = f"split(lower({text_col}), '\\\\s+')"
    out = df.filter(F.col(text_col).isNotNull()).withColumn(
        "_sh_ones", F.expr(_SH_ONES.format(hs=_SH_HASHES.format(toks=toks)))
    ).withColumn("_sh_ntok", F.expr(f"size(array_distinct({toks}))"))
    for b in range(_SIMHASH_BANDS):
        out = out.withColumn(f"b{b}", _band_expr(b, "_sh_ones", "_sh_ntok"))
    return out.drop("_sh_ones", "_sh_ntok")


def band_structs(prefix: str = "b") -> F.Column:
    """array<struct<band_id,band_val>> over the 4 SimHash band columns —
    the shared explode input for every band-blocked join (batch pairs,
    corpus index, streaming probes)."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.col(f"{prefix}{b}").alias("band_val"),
            )
            for b in range(_SIMHASH_BANDS)
        ]
    )

# token bit g (0..63): low 32 bits from md5 hex chars 1-8, high 32 from 9-16
_SH_BITS_DUCK = f"""
    u AS (SELECT doc_id,
                 ('0x' || substr(md5(unnest(toks)), 1, 8))::BIGINT AS h_lo,
                 ('0x' || substr(md5(unnest(toks)), 9, 8))::BIGINT AS h_hi
          FROM t),
    bits AS (
      SELECT doc_id, i.range AS g,
             sum(CASE WHEN ((CASE WHEN i.range < 32 THEN h_lo ELSE h_hi END)
                            >> (i.range % 32)) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM u, range({_SIMHASH_BITS}) i
      GROUP BY doc_id, i.range
    ),
    sh AS (
      SELECT doc_id,
{", ".join(
    f'''             CAST(sum(CASE WHEN g >= {16 * b} AND g < {16 * (b + 1)} AND s > 0
                      THEN (1::BIGINT << (g % 16)) ELSE 0 END) AS BIGINT) AS b{b}'''
    for b in range(4)
)}
      FROM bits GROUP BY doc_id
    )
"""


@query(
    "dedup_simhash",
    oracle=f"""
    WITH t AS (SELECT doc_id,
                      list_distinct(regexp_split_to_array(lower(text), '\\s+')) AS toks
               FROM documents),
    {_SH_BITS_DUCK}
    SELECT doc_id, b0, b1, b2, b3,
           lower(lpad(hex(b3), 4, '0') || lpad(hex(b2), 4, '0')
              || lpad(hex(b1), 4, '0') || lpad(hex(b0), 4, '0')) AS simhash_hex
    FROM sh
    """,
)
def dedup_simhash(spark, sf_dir):
    # per-row fold (no token shuffle); parallel load because the fold is
    # CPU-bound per doc
    sh = with_simhash_bands(load_documents_parallel(spark, sf_dir))
    hex_parts = [
        F.lower(F.lpad(F.expr(f"hex(b{b})"), 4, "0")) for b in (3, 2, 1, 0)
    ]
    return sh.select(
        "doc_id", "b0", "b1", "b2", "b3",
        F.concat(*hex_parts).alias("simhash_hex"),
    )


# --- SimHash near-dup pairs, BAND-BLOCKED (Hamming ≤ 3 exact) ----------------
# Two 64-bit hashes within Hamming distance 3 differ in at most 3 of the 4
# bands, so by pigeonhole they agree EXACTLY on at least one — candidates
# come from a plain equi-join on (band_id, band_value), never an all-pairs
# self-join.  The oracle is the INDEPENDENT naive all-pairs formulation, so
# a hash match proves the banding loses no pair.
@query(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH t AS (SELECT doc_id,
                      list_distinct(regexp_split_to_array(lower(text), '\\s+')) AS toks
               FROM documents),
    {_SH_BITS_DUCK}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
         + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
        + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
        <= {_HAMMING_MAX}
    """,
)
def dedup_simhash_pairs(spark, sf_dir):
    sh = dedup_simhash(spark, sf_dir).select(
        "doc_id", "b0", "b1", "b2", "b3"
    ).transform(tracked_persist)
    bands = sh.select(
        "doc_id", F.explode(band_structs()).alias("band")
    ).select("doc_id", "band.band_id", "band.band_val")
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    hamming = sum(
        F.expr(f"bit_count(sa.b{b} ^ sb.b{b})") for b in range(4)
    )
    return (
        cand.join(sh.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
        .join(sh.alias("sb"), F.col("sb.doc_id") == F.col("doc_b"))
        .filter(hamming <= _HAMMING_MAX)
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
    )


# --- END-TO-END corpus curation: the full training-data pass in ONE lazy
#     plan — quality gate → exact dedup (normalized hash) → near-dup
#     clustering (3-gram Jaccard ≥ 0.5 → connected components, min-id
#     representative) → context-chunk accounting. Every stage is an operator
#     gated elsewhere in this catalog; this entry proves they COMPOSE.
#     Scale path: quality+hash are map-side; the exact-dedup groupBy and the
#     gram self-join shrink monotonically (each stage only drops rows), and
#     components run on the tiny duplicate-pair graph, not the corpus. ------
_CURATION_DUCK = """
WITH RECURSIVE
  q0 AS (
    SELECT doc_id, text,
           regexp_split_to_array(lower(text), '\\s+') AS toks
    FROM documents
  ),
  q AS (
    SELECT doc_id, text, len(toks) AS n_tokens,
           len(list_filter(toks, x -> x IN
             ('the','a','and','of','is','to','in','on')))::DOUBLE
             / len(toks) AS stop_ratio
    FROM q0
  ),
  qual AS (
    SELECT doc_id, text, n_tokens FROM q
    WHERE n_tokens >= 20 AND stop_ratio >= 0.02
  ),
  h AS (
    SELECT doc_id, text, n_tokens,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS ch
    FROM qual
  ),
  ex AS (
    SELECT h.* FROM h
    JOIN (SELECT ch, min(doc_id) AS keep_id FROM h GROUP BY ch) k
      ON h.ch = k.ch AND h.doc_id = k.keep_id
  ),
  t AS (SELECT doc_id, n_tokens,
               regexp_split_to_array(lower(text), '\\s+') AS toks FROM ex),
  g AS (SELECT doc_id, n_tokens,
               list_distinct(list_filter(
                 list_transform(list_zip(toks, toks[2:], toks[3:]),
                                x -> x[1] || ' ' || x[2] || ' ' || x[3]),
                 x -> x IS NOT NULL)) AS grams
        FROM t),
  {capped_edges}
  pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
    FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
  ),
  dup AS (
    SELECT p.doc_a, p.doc_b FROM pairs p
    JOIN sized sa ON sa.doc_id = p.doc_a
    JOIN sized sb ON sb.doc_id = p.doc_b
    WHERE p.n_inter::DOUBLE / (sa.n_grams + sb.n_grams - p.n_inter) >= 0.5
  ),
  undirected AS (
    SELECT doc_a AS a, doc_b AS b FROM dup
    UNION ALL SELECT doc_b, doc_a FROM dup
  ),
  verts AS (SELECT DISTINCT a AS vertex FROM undirected),
  reach(vertex, reached) AS (
    SELECT vertex, vertex FROM verts
    UNION
    SELECT r.vertex, u.b FROM reach r JOIN undirected u ON u.a = r.reached
  ),
  comp AS (SELECT vertex, min(reached) AS component FROM reach GROUP BY vertex),
  final AS (
    SELECT x.doc_id, x.n_tokens
    FROM ex x LEFT JOIN comp c ON c.vertex = x.doc_id
    WHERE c.vertex IS NULL OR c.component = x.doc_id
  ),
  f2 AS (
    SELECT f.doc_id, f.n_tokens, d.source,
           row_number() OVER (PARTITION BY d.source ORDER BY f.doc_id) AS rn
    FROM final f JOIN documents d ON d.doc_id = f.doc_id
  )
-- url_norm is the ANALYTIC canonical form of the messy URL the Spark side
-- synthesizes and runs through its general normalizer: scheme+host
-- lowercased, :443 stripped, trailing slash trimmed, utm_* and the
-- fragment dropped, surviving params sorted (a=1 before b=N).
SELECT doc_id, n_tokens,
       cast(ceil(n_tokens / 32.0) AS BIGINT) AS n_chunks,
       'https://' || lower(source) || '.example.com/docs/' || doc_id
         || '?a=1&b=' || (doc_id % 7) AS url_norm,
       rn <= 10 AS cap_kept
FROM f2
""".format(capped_edges=_CAPPED_EDGES_SQL + ",")


@query("corpus_curation", oracle=_CURATION_DUCK)
def corpus_curation(spark, sf_dir):
    from exstream_implementation_spark.operators.components import (
        connected_components,
    )

    from exstream_implementation_spark.plans.text import stop_count

    d = load_documents_parallel(spark, sf_dir).select(
        "doc_id", "text", "source",
        F.split(F.lower("text"), r"\s+").alias("toks"),
    )
    d = d.select(
        "doc_id",
        "text",
        "source",
        "toks",
        F.size("toks").alias("n_tokens"),
        (stop_count() / F.size("toks")).alias("stop_ratio"),
    )
    qual = d.filter((F.col("n_tokens") >= 20) & (F.col("stop_ratio") >= 0.02))
    h = qual.select(
        "doc_id",
        "toks",
        "n_tokens",
        "source",
        F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))).alias("ch"),
    )
    # window-min instead of groupBy + join-back: the old shape evaluated the
    # tokenize+md5 subtree twice (h and keep) and joined them; one unordered
    # window over ch reads it once — partition size is bounded by true dup
    # multiplicity (guide §2.4).
    # MEASURED AND REJECTED (r13, interleaved A/B ×5, sf0.1): carrying raw
    # `text` through the ch exchange instead of `toks` and re-tokenizing
    # survivors post-shuffle — 0.884 → 1.114 s median (rows equal).  The
    # byte shave (text < token array) is smaller than the second
    # split+lower over every survivor, locally AND per-row at scale.
    from pyspark.sql import Window

    # ONE persist for the deduped survivors: grams are derived in the same
    # projection that drops toks, so the keeper output materializes once
    # (r12: previously ex-with-toks AND grams were two chained corpus-sized
    # caches — two materialization barriers, with the token arrays pinned
    # for the whole query even though nothing below the gram build reads
    # them).  `source` is carried through (one narrow string already in the
    # scan) so the URL/cap branch below never re-scans documents and
    # re-joins on doc_id (guide §2.4, §5 caching).
    ex = (
        h.withColumn(
            "keep_id", F.min("doc_id").over(Window.partitionBy("ch"))
        )
        .filter(F.col("doc_id") == F.col("keep_id"))
        .select(
            "doc_id",
            "n_tokens",
            "source",
            F.array_distinct(
                F.expr(
                    # < 3 tokens: sequence(0, -1) is descending and ANSI mode
                    # turns the out-of-range index into a hard error
                    "CASE WHEN size(toks) < 3 THEN array() ELSE "
                    "transform(sequence(0, size(toks) - 3),"
                    " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) END"
                )
            ).alias("grams"),
        )
        .transform(tracked_persist)
    )
    grams = ex.select("doc_id", "n_tokens", "grams")
    e, sized = _capped_gram_edges(grams, scope="query")
    pairs = (
        e.alias("a")
        .join(
            e.alias("b"),
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    dup = (
        pairs.join(
            sized.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "n_grams", "ga"
            ),
            "doc_a",
        )
        .join(
            sized.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "n_grams", "gb"
            ),
            "doc_b",
        )
        .filter(
            F.col("n_inter") / (F.col("ga") + F.col("gb") - F.col("n_inter"))
            >= 0.5
        )
        .select("doc_a", "doc_b")
    )
    comp = connected_components(dup, src="doc_a", dst="doc_b")
    final = ex.join(comp, ex.doc_id == comp.vertex, "left").filter(
        F.col("vertex").isNull() | (F.col("component") == F.col("doc_id"))
    )
    # --- URL + per-source-cap branches (plans/urls.py), hash-gated -------
    # A deterministic messy URL is synthesized per surviving doc (mixed
    # case, default port, tracking param, unsorted params, fragment,
    # trailing slash) and canonicalized by the GENERAL normalizer; the
    # DuckDB oracle derives the expected canonical form analytically, so
    # any bug in port/param/case/slash handling breaks the value hash.
    # cap_kept flags the 10 smallest doc_ids per source — cap_per_group's
    # two-phase fold as a membership column.
    from exstream_implementation_spark.plans.urls import (
        _norm_expr,
        cap_per_group,
    )

    base = tracked_persist(final.select("doc_id", "n_tokens", "source"))
    winners = (
        cap_per_group(base.select("doc_id", "source"), ["source"], 10)
        .select("doc_id")
        .withColumn("__w", F.lit(True))
    )
    raw_url = F.concat(
        F.lit("HTTPS://"),
        F.upper("source"),
        F.lit(".Example.COM:443/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("/?b="),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("&utm_source=feed&a=1#frag"),
    )
    return (
        base.join(winners, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.ceil(F.col("n_tokens") / 32.0).cast("long").alias("n_chunks"),
            _norm_expr(raw_url).alias("url_norm"),
            F.coalesce(F.col("__w"), F.lit(False)).alias("cap_kept"),
        )
    )


# --- benchmark decontamination -----------------------------------------------
# Standard pretraining hygiene: drop (or flag) training documents that
# overlap an evaluation benchmark's n-grams.  The benchmark side is tiny by
# construction, so its shingle set BROADCASTS and the check is one map-side
# semi-join per document — no shuffle of the corpus, linear at 100 TB.
def decontaminate(spark, sf_dir, benchmark_grams, max_overlap: float = 0.0):
    """(doc_id, n_grams, n_contaminated, overlap, contaminated) per corpus doc.

    ``benchmark_grams`` is the eval set's pre-shingled word 3-grams, one
    distinct ``gram`` column.  A document's overlap is |its distinct 3-grams
    ∩ benchmark 3-grams| / |its distinct 3-grams|; ``contaminated`` flags
    overlap > ``max_overlap``.  Empty/short docs (no 3-grams) report
    overlap 0.0.
    """
    grams = _doc_grams(spark, sf_dir)
    e = grams.select("doc_id", F.explode("grams").alias("gram"))
    # real eval benchmarks are MB-sized (≪ 1M distinct 3-grams) so this join
    # normally broadcasts and the corpus never shuffles — but the hint is
    # left to AQE's runtime-size conversion rather than forced, so an
    # oversized "benchmark" (e.g. a corpus slice) degrades to a gram-key
    # shuffle join instead of a forced-broadcast OOM, and plan construction
    # stays lazy (no probe jobs, no persist of a caller-owned frame)
    hits = (
        e.join(benchmark_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    sized = grams.select("doc_id", F.size("grams").alias("n_grams"))
    out = (
        sized.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            F.when(F.col("n_grams") > 0,
                   F.round(F.coalesce("n_contaminated", F.lit(0))
                           / F.col("n_grams"), 6))
            .otherwise(F.lit(0.0))
            .alias("overlap"),
        )
    )
    return out.withColumn(
        "contaminated", F.col("overlap") > F.lit(max_overlap)
    )


# Catalog gate: a deterministic ~1% slice of the corpus (doc_id % 97 == 0)
# stands in for the eval benchmark, so both engines build the identical
# benchmark gram set with no side-channel fixture.  Threshold 0.1 mirrors
# real decontamination policy (a stray shared trigram is not contamination;
# material overlap is).
_DECON_BENCH_MOD = 97
_DECON_MAX_OVERLAP = 0.1


@query(
    "corpus_decontaminate",
    oracle=f"""
    WITH {_GRAMS_SQL},
    bg AS (SELECT DISTINCT unnest(grams) AS gram FROM g
           WHERE doc_id % {_DECON_BENCH_MOD} = 0),
    e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
    hits AS (SELECT e.doc_id, count(*) AS n_contaminated
             FROM e JOIN bg USING (gram) GROUP BY e.doc_id),
    sized AS (SELECT doc_id, len(grams) AS n_grams FROM g),
    scored AS (
      SELECT s.doc_id, s.n_grams,
             coalesce(h.n_contaminated, 0) AS n_contaminated,
             CASE WHEN s.n_grams > 0
                  THEN round(CAST(coalesce(h.n_contaminated, 0) AS DOUBLE)
                             / s.n_grams, 6)
                  ELSE 0.0 END AS overlap
      FROM sized s LEFT JOIN hits h USING (doc_id))
    SELECT doc_id, n_grams, n_contaminated, overlap,
           (overlap > {_DECON_MAX_OVERLAP}) AS contaminated
    FROM scored
    """,
)
def corpus_decontaminate(spark, sf_dir):
    """Benchmark decontamination as a catalog slot: flag corpus docs whose
    distinct-trigram overlap with the benchmark slice exceeds 10%.

    The benchmark is a corpus slice, so its gram set comes from the
    session-cached shingle table (no second scan + re-tokenize of the
    documents parquet)."""
    bench_grams = (
        _doc_grams(spark, sf_dir)
        .filter(F.col("doc_id") % _DECON_BENCH_MOD == 0)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    return decontaminate(
        spark,
        sf_dir,
        benchmark_grams=bench_grams,
        max_overlap=_DECON_MAX_OVERLAP,
    )


# --- deterministic source-mix sampling --------------------------------------
# Pretraining data mixing: per-source sampling rates (e.g. web ×0.3) applied
# as a deterministic hash Bernoulli — reproducible across runs and executors
# with NO RNG, expressible as a single filter that fuses into the scan (no
# shuffle, no sort, trivially restartable).
from exstream_implementation_spark.canon import (  # noqa: E402
    md5_hex_threshold as _md5_hex_threshold,
)


def sample_mix(
    df,
    fractions: dict,
    key: str = "source",
    id_col: str = "doc_id",
    salt: int = 0,
):
    """Keep each row of ``df`` with its source's probability.

    ``fractions`` maps key-column values to keep-probabilities in [0, 1];
    unlisted sources are dropped.  Selection compares the first 6 hex chars
    of md5(f"{id}:{salt}") against a per-source hex cutoff — per-row
    deterministic, independent of partitioning, and a different ``salt``
    draws an independent sample.  md5 hex is bit-identical across engines,
    so the DuckDB oracle reproduces the exact kept set.
    """
    for src, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {src!r} must be in [0,1]: {frac}")
    u_hex = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{salt}"))),
        1,
        6,
    )
    th = F.create_map(
        *[
            F.lit(x)
            for src, frac in fractions.items()
            for x in (src, _md5_hex_threshold(frac))
        ]
    )[F.col(key)]
    return df.filter(th.isNotNull() & (u_hex < th))


# Catalog gate: a graded mix over the testdata's 20 sources (full / half /
# quarter keep rates, tail dropped) with the md5 selector, so DuckDB
# reproduces the EXACT kept set — the gate proves the sampler is a pure
# function of (doc_id, salt, policy), not of partitioning or engine.
MIX_POLICY = {
    **{f"src{i}": 1.0 for i in range(5)},
    **{f"src{i}": 0.5 for i in range(5, 10)},
    **{f"src{i}": 0.25 for i in range(10, 15)},
}

_MIX_VALUES = ", ".join(
    f"('{src}', '{_md5_hex_threshold(frac)}')" for src, frac in MIX_POLICY.items()
)


SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}

from exstream_implementation_spark.plans.splits import (  # noqa: E402
    assign_splits as _assign_splits,
    split_oracle_case as _split_oracle_case,
)

_SPLIT_CASE = _split_oracle_case(SPLIT_WEIGHTS, "d.doc_id", salt=1)


@query(
    "sample_source_mix",
    oracle=f"""
    WITH fr(source, cutoff) AS (VALUES {_MIX_VALUES})
    SELECT d.doc_id, d.source,
           {_SPLIT_CASE} AS split
    FROM documents d JOIN fr USING (source)
    WHERE substr(md5(CAST(d.doc_id AS VARCHAR) || ':0'), 1, 6) < fr.cutoff
    """,
)
def sample_source_mix(spark, sf_dir):
    """Deterministic source-mix sample (md5 selector) — the kept
    (doc_id, source) set under the graded policy above — plus the
    train/val/test assignment from plans/splits.py (salt=1),
    so the gate pins BOTH samplers as pure functions of (doc_id, salt)
    reproduced bit-identically by the DuckDB oracle."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    kept = sample_mix(d, MIX_POLICY)
    return _assign_splits(kept, SPLIT_WEIGHTS, unit_col="doc_id", salt=1)


# --- per-source frequency capping -------------------------------------------
CAP_PER_SOURCE = 25
_CAP_SALTS = 8


@query(
    "source_cap_sample",
    oracle=f"""
    WITH ranked AS (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':cap'), doc_id
             ) AS rnk
      FROM documents
    )
    SELECT source, doc_id, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {CAP_PER_SOURCE}
    """,
)
def source_cap_sample(spark, sf_dir):
    """Per-source frequency capping: keep at most CAP_PER_SOURCE documents
    per source, chosen by a deterministic md5 order over doc_id — the
    standard defense against one crawl domain dominating a training mix
    (the per-domain analog of ``sample_source_mix``'s graded policy; the
    reference has no sampling beyond script_1.py's shuffle_observations,
    so this is extension surface).

    Scale shape: a single window over ``source`` would funnel each
    source's full row set through one task — a skew hazard when one
    domain holds billions of rows — so phase 1 pre-trims to the top
    CAP_PER_SOURCE per (source, xxhash64-salt) bucket, bounding phase 2's
    per-source input to _CAP_SALTS × CAP_PER_SOURCE rows regardless of
    source size.  The two-phase form is exactly top-k-per-key: every
    global top-k member is also in its salt bucket's local top-k, so the
    DuckDB oracle's single-window formulation is value-identical."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select("source", "doc_id")
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":cap")))
    w1 = Window.partitionBy("source", "salt").orderBy("h", "doc_id")
    w2 = Window.partitionBy("source").orderBy("h", "doc_id")
    pre = (
        d.withColumn("h", h)
        .withColumn("salt", F.pmod(F.xxhash64("doc_id"), F.lit(_CAP_SALTS)))
        .withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= CAP_PER_SOURCE)
    )
    return (
        pre.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= CAP_PER_SOURCE)
        .select("source", "doc_id", F.col("rnk").cast("int").alias("rnk"))
    )
