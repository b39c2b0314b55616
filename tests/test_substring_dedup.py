"""Substring duplication profile (plans/substring.py) vs an independent
pure-python model: coverage parity on planted and random corpora,
within-doc repetition, and degenerate inputs."""

import random

import pytest

from exstream_implementation_spark.plans.substring import (
    dup_span_profile,
    gram_anchors,
)


def _py_mask(texts, k):
    """{doc_id: bool mask over chars — True = inside a duplicated span}."""
    occ = {}
    for d in sorted(texts):
        t = texts[d]
        for i in range(len(t) - k + 1):
            occ.setdefault(t[i : i + k], []).append((d, i))
    out = {d: [False] * len(t) for d, t in texts.items()}
    for ps in occ.values():
        if len(ps) < 2:
            continue
        for d, i in ps:
            for j in range(i, i + k):
                out[d][j] = True
    return out


def _df(spark, texts):
    return spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )


def _check_profile(spark, texts, k):
    got = {
        r["doc_id"]: r
        for r in dup_span_profile(_df(spark, texts), k=k).collect()
    }
    masks = _py_mask(texts, k)
    for d, t in texts.items():
        exp = sum(masks[d])
        assert got[d]["dup_chars"] == exp, d
        assert got[d]["doc_len"] == len(t)
        exp_frac = round(exp / len(t), 6) if t else 0.0
        assert got[d]["dup_frac"] == pytest.approx(exp_frac, abs=1e-9)


def test_profile_matches_python_on_planted_duplicates(spark):
    boiler = "all rights reserved by the original author of this work"
    texts = {
        0: "unique alpha prefix " + boiler + " unique alpha suffix",
        1: "totally different beta words " + boiler + " trailing beta",
        2: "no shared content here at all just singular prose",
        3: "short",
        4: "",
    }
    _check_profile(spark, texts, k=12)


def test_profile_matches_python_on_random_corpus(spark):
    rng = random.Random(7)
    vocab = ["the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog"]
    texts = {
        d: " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 60)))
        for d in range(40)
    }
    _check_profile(spark, texts, k=10)


def test_within_doc_repetition_is_caught(spark):
    # the duplicated span lives twice in ONE doc
    texts = {0: "abcdefghijklmnop MIDDLE abcdefghijklmnop"}
    _check_profile(spark, texts, k=16)


def test_bad_args(spark):
    docs = _df(spark, {0: "abc"})
    with pytest.raises(ValueError):
        gram_anchors(docs, k=1)
