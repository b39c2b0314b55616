"""Decontamination + deterministic mix sampling (training-data curation API)."""

import pytest
from pyspark.sql import functions as F

from exstream_implementation_spark.plans.dedup import (
    decontaminate,
    dedup_simhash,
    sample_mix,
    with_simhash_bands,
)
from exstream_implementation_spark.sources import load_table

SF_DIR = "/root/testdata/sf0.001"


def bench_grams(bench):
    """A benchmark's ``text`` column → its distinct word 3-grams, shingled
    like the corpus side (lower-case, whitespace split)."""
    toks = bench.select(F.split(F.lower("text"), r"\s+").alias("toks"))
    return toks.select(
        F.explode(
            F.array_distinct(
                F.expr(
                    "CASE WHEN size(toks) < 3 THEN array() ELSE "
                    "transform(sequence(0, size(toks) - 3),"
                    " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) END"
                )
            )
        ).alias("gram")
    ).distinct()


def test_decontaminate_flags_exact_benchmark_members(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # benchmark = the full text of three corpus docs -> those docs must come
    # back 100% contaminated; unrelated docs with disjoint grams must not
    bench_ids = [r["doc_id"] for r in docs.select("doc_id").orderBy("doc_id").limit(3).collect()]
    bench = docs.filter(F.col("doc_id").isin(bench_ids)).select("text")

    out = decontaminate(spark, SF_DIR, bench_grams(bench)).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert set(by_id) == {r["doc_id"] for r in docs.select("doc_id").collect()}
    for did in bench_ids:
        r = by_id[did]
        if r["n_grams"] > 0:
            assert r["overlap"] == 1.0 and r["contaminated"]
    # contamination is not universal (benchmark is 3 docs of a corpus)
    n_clean = sum(1 for r in out if not r["contaminated"])
    assert n_clean > 0


def test_decontaminate_threshold(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = docs.orderBy("doc_id").limit(1).select("text")
    strict = decontaminate(spark, SF_DIR, bench_grams(bench), max_overlap=0.0)
    loose = decontaminate(spark, SF_DIR, bench_grams(bench), max_overlap=0.99)
    n_strict = strict.filter("contaminated").count()
    n_loose = loose.filter("contaminated").count()
    assert n_loose <= n_strict
    assert n_loose >= 1  # the benchmark doc itself exceeds 99% overlap


def test_sample_mix_deterministic_and_calibrated(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sources = [r["source"] for r in docs.select("source").distinct().collect()]
    assert len(sources) >= 2, "fixture needs multiple sources"
    fractions = {sources[0]: 1.0, sources[1]: 0.4}

    a = sample_mix(docs, fractions)
    b = sample_mix(docs, fractions)
    got_a = {r["doc_id"] for r in a.select("doc_id").collect()}
    got_b = {r["doc_id"] for r in b.select("doc_id").collect()}
    assert got_a == got_b  # deterministic

    # full-keep source survives completely; unlisted sources are dropped
    n_s0 = docs.filter(F.col("source") == sources[0]).count()
    assert a.filter(F.col("source") == sources[0]).count() == n_s0
    assert a.filter(~F.col("source").isin(list(fractions))).count() == 0

    # 0.4 source lands near 0.4 (hash-uniform; generous tolerance)
    n_s1 = docs.filter(F.col("source") == sources[1]).count()
    kept = a.filter(F.col("source") == sources[1]).count()
    assert 0.2 * n_s1 <= kept <= 0.6 * n_s1

    # different salt draws a different (but same-rate) sample
    c = sample_mix(docs, fractions, salt=7)
    got_c = {r["doc_id"] for r in c.select("doc_id").collect()}
    assert got_c != got_a


def test_sample_mix_rejects_bad_fraction(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    with pytest.raises(ValueError):
        sample_mix(docs, {"web": 1.5})


def test_sample_mix_md5_portable_method(spark):
    """The md5 selector keeps frac=1.0 sources whole, drops frac=0.0, and
    approximates intermediate rates."""
    from exstream_implementation_spark.plans.dedup import _md5_hex_threshold

    assert _md5_hex_threshold(1.0) == "g"          # above every hex prefix
    assert _md5_hex_threshold(0.0) == "000000"     # below every hex prefix
    assert _md5_hex_threshold(0.5) == "800000"

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sources = sorted(r["source"] for r in docs.select("source").distinct().collect())
    fractions = {sources[0]: 1.0, sources[1]: 0.5, sources[2]: 0.0}
    a = sample_mix(docs, fractions)
    b = sample_mix(docs, fractions)
    got_a = {r["doc_id"] for r in a.select("doc_id").collect()}
    assert got_a == {r["doc_id"] for r in b.select("doc_id").collect()}

    n_full = docs.filter(F.col("source") == sources[0]).count()
    assert a.filter(F.col("source") == sources[0]).count() == n_full
    assert a.filter(F.col("source") == sources[2]).count() == 0
    n_half = docs.filter(F.col("source") == sources[1]).count()
    kept = a.filter(F.col("source") == sources[1]).count()
    assert 0.2 * n_half <= kept <= 0.8 * n_half


def test_repetition_metrics_null_text_scores_zero(spark):
    """NULL text must score (0.0, 0.0) like empty text — the DuckDB oracle's
    LEFT JOIN mirror coalesces missing docs to 0.0."""
    from exstream_implementation_spark.plans.text import repetition_metrics

    df = spark.createDataFrame(
        [(1, None), (2, "")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in repetition_metrics(df).collect()}
    for did in (1, 2):
        assert rows[did]["dup_line_frac"] == 0.0
        assert rows[did]["top_bigram_share"] == 0.0


def test_redact_pii_masks_and_counts(spark):
    from exstream_implementation_spark.plans.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@corp.example.org or call +1 415-555-0199"),
            (2, "server 10.0.42.7 charged 4111 1111 1111 1111 yesterday"),
            (3, "nothing sensitive here"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert "<EMAIL>" in rows[1]["text"] and "@" not in rows[1]["text"]
    assert "<PHONE>" in rows[1]["text"]
    assert rows[1]["n_redacted"] == 2
    assert "<IP>" in rows[2]["text"] and "<CARD>" in rows[2]["text"]
    assert "4111" not in rows[2]["text"]
    assert rows[3]["text"] == "nothing sensitive here"
    assert rows[3]["n_redacted"] == 0
    assert rows[4]["n_redacted"] == 0


def test_redact_pii_stays_jvm_side(spark):
    from exstream_implementation_spark.plans.text import redact_pii

    df = spark.createDataFrame([(1, "a@b.co")], "doc_id long, text string")
    plan = redact_pii(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_repetition_metrics_hand_cases(spark):
    from exstream_implementation_spark.plans.text import repetition_metrics

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),          # bigrams: ab,ba,ab,ba,ab -> top 3/5
            (2, "x\nx\nx\ny"),           # 4 lines, 2 distinct -> dup 0.5
            (3, "unique words only here"),
            (4, "one"),                  # <2 tokens -> share 0.0
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_metrics(df).collect()}
    assert rows[1]["top_bigram_share"] == 0.6
    assert rows[2]["dup_line_frac"] == 0.5
    assert rows[3]["dup_line_frac"] == 0.0
    assert rows[3]["top_bigram_share"] == round(1 / 3, 6)
    assert rows[4]["top_bigram_share"] == 0.0


def test_repetition_metrics_on_corpus(spark):
    from exstream_implementation_spark.plans.text import repetition_metrics

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = repetition_metrics(docs)
    stats = out.agg(
        F.min("dup_line_frac"), F.max("dup_line_frac"),
        F.min("top_bigram_share"), F.max("top_bigram_share"),
    ).first()
    assert 0.0 <= stats[0] <= stats[1] <= 1.0
    assert 0.0 <= stats[2] <= stats[3] <= 1.0


def test_short_docs_survive_gram_paths(spark, tmp_path):
    """Docs with < 3 tokens must not blow up the shingle transforms under
    ANSI mode (sequence(0, -1) is descending -> out-of-range index error)."""
    from exstream_implementation_spark.plans.dedup import (
        decontaminate,
        dedup_ngram_jaccard,
    )

    docs = spark.createDataFrame(
        [
            (0, "x", "en", "src0", 1),
            (1, "two words", "en", "src0", 9),
            (2, "", "en", "src1", 0),
            (3, "now three tokens here okay", "en", "src1", 26),
            (4, "now three tokens here okay", "en", "src1", 26),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))

    pairs = dedup_ngram_jaccard(spark, str(tmp_path)).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(3, 4)}

    bench = spark.createDataFrame([("x",)], "text string")  # 1-token benchmark
    out = decontaminate(spark, str(tmp_path), bench_grams(bench)).collect()
    assert len(out) == 5
    assert all(not r["contaminated"] for r in out)


# --- per-row SimHash (bit parity with pure Python, shuffle-free fold) -------
def _py_simhash_bands(text: str) -> tuple:
    """Independent pure-Python SimHash oracle (same spec: distinct
    whitespace tokens of lower(text); bit g from md5 hex chars 1-8 (g<32)
    resp. 9-16; band b bit j set iff vote sum of bit 16b+j > 0).

    The split is the ASCII class [ \\t\\n\\x0b\\f\\r] — Java's regex \\s,
    which is what Spark's split uses — NOT Python's Unicode-aware \\s
    (U+00A0 etc. are token characters to the engine, and must be here too)."""
    import hashlib
    import re

    votes = [0] * 64
    for tok in set(re.split(r"[ \t\n\x0b\f\r]+", text.lower())):
        h = hashlib.md5(tok.encode()).hexdigest()
        lo, hi = int(h[:8], 16), int(h[8:16], 16)
        for g in range(64):
            bit = ((lo if g < 32 else hi) >> (g % 32)) & 1
            votes[g] += 1 if bit else -1
    bands = []
    for b in range(4):
        v = 0
        for j in range(16):
            if votes[16 * b + j] > 0:
                v |= 1 << j
        bands.append(v)
    return tuple(bands)


def test_perrow_simhash_matches_python_oracle(spark):
    """The fold-based per-row SimHash must match an independent pure-Python
    implementation bit-for-bit (dedup_simhash itself now uses the fold, so
    this — plus the DuckDB explode-based oracle in the catalog gate — is the
    independent parity anchor)."""
    docs = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 60)
    got = {
        r["doc_id"]: (r["b0"], r["b1"], r["b2"], r["b3"])
        for r in with_simhash_bands(docs)
        .select("doc_id", "b0", "b1", "b2", "b3")
        .collect()
    }
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    assert len(got) == 60
    for doc_id, text in texts.items():
        assert got[doc_id] == _py_simhash_bands(text), doc_id


def test_perrow_simhash_property_random_texts(spark):
    """Hypothesis-style sweep over adversarial text shapes (single token,
    repeated tokens, mixed case, leading/trailing/multiple whitespace,
    unicode) — the fold must match the pure-Python oracle on every one."""
    from hypothesis import given, settings, strategies as st

    # includes U+00A0 (no-break space): a token character to the engine's
    # ASCII-\s split — the oracle must agree, not split on it
    token = st.text(
        alphabet=st.characters(
            whitelist_categories=("Ll", "Lu", "Nd"),
            whitelist_characters="\u00a0",
            max_codepoint=0x24F,
        ),
        min_size=1,
        max_size=8,
    )
    texts = st.lists(token, min_size=1, max_size=12).map(" ".join)

    @settings(max_examples=25, deadline=None)
    @given(st.lists(texts, min_size=1, max_size=6))
    def check(batch):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(batch)], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (r["b0"], r["b1"], r["b2"], r["b3"])
            for r in with_simhash_bands(df).collect()
        }
        for i, t in enumerate(batch):
            assert got[i] == _py_simhash_bands(t), repr(t)

    check()


def test_catalog_simhash_uses_perrow_fold(spark):
    """dedup_simhash must carry no per-token explode+groupBy: its only
    aggregation work is the fold expression, so the plan is shuffle-free up
    to the (optional) parallel-load repartition."""
    plan = (
        dedup_simhash(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "HashAggregate" not in plan and "Generate" not in plan


def test_perrow_simhash_plan_has_no_shuffle(spark):
    """The per-row formulation must stay map-side: no Exchange in the plan
    below the scan (that is the whole point of the fold)."""
    docs = load_table(spark, SF_DIR, "documents")
    plan = with_simhash_bands(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
