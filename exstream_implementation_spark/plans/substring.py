"""Exact substring deduplication (Lee et al. 2021, "Deduplicating Training
Data Makes Language Models Better", arXiv:2107.06499) — find and remove
character spans that occur verbatim more than once anywhere in the corpus.

Not in the reference (numeric traces only; cf. reference core src/ which has
no text path at all) — this is the third leg of the dedup family next to
document-level exact dedup and MinHash/SimHash near-dup (plans/dedup.py):
verbatim repetition *within* and *across* otherwise-distinct documents, the
boilerplate/license-header/quoted-reply class that document-level methods
cannot see.  Lee et al. build one corpus-wide suffix array — an inherently
single-machine construction.  The Spark-first equivalent rests on one fact:

  every length-k window of a duplicated span of length >= k is itself
  duplicated — so k-gram anchors are a COMPLETE witness set for duplicated
  spans at resolution k.  Coverage by duplicated anchors is exactly the
  set of characters lying inside some duplicated span of length >= k.

Pipeline (all relational, nothing Python in the hot path):

  anchors   one corpus pass explodes each doc into (pos, anchor) k-gram
            witnesses.  ``hashed=True`` ships xxhash64(gram) — 8 bytes per
            position instead of k chars.  ``mod=m`` keeps only anchors
            whose hash ≡ 0 (mod m): content-defined sampling (the
            rsync/CDC trick) — selection depends on the gram bytes alone,
            so both copies of a duplicated span select the SAME interior
            anchors; there is no boundary desync to reason about.  Volume
            drops m-fold; a duplicated span of length L carries
            (L - k + 1) witnesses of which each survives w.p. 1/m, so the
            miss probability decays geometrically, (1 - 1/m)^(L-k+1)
            (~3e-4 for m=8, L=k+60).
  dup set   one window partitioned by anchor keeps anchors seen >= 2
            times — the corpus explodes ONCE and shuffles once (2.8x the
            join form's speed at the 100x replica; the join-back form
            remains as ``via='join'`` for hot-anchor skew, where AQE can
            split the join but never a window partition).
            ``policy='keep_first'`` also takes min(doc_id, pos) per
            anchor so the globally first occurrence survives cleaning
            (the Lee et al. keep-one convention).
  coverage  duplicated positions union their [pos, pos+k) windows with a
            running-max window fold partitioned by doc — per-doc work
            bounded by doc length; no corpus-wide sort anywhere.
  removal   merged spans splice back over the text via a pure-JVM
            ``aggregate`` fold.

100 TB note: anchor volume is O(total_chars) exact / O(total_chars / m)
sampled — the same asymptotics as the suffix-array witness set Lee et al.
materialize, but built with one map-side-combined exchange instead of a
global sort, and shrinkable m-fold with an explicit, quantified miss bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def gram_anchors(
    docs: DataFrame,
    k: int = 40,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed: bool = True,
    mod: int | None = None,
) -> DataFrame:
    """(id, pos, anchor) — one row per k-gram position (1-based).

    ``hashed`` anchors are xxhash64 of the gram (8 bytes/row on the wire);
    ``mod=m`` keeps only hash % m == 0 anchors (content-defined sampling —
    requires ``hashed``).  Docs shorter than k emit nothing.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2: {k}")
    if mod is not None and not hashed:
        raise ValueError("mod sampling needs hashed anchors")
    if mod is not None and mod < 1:
        raise ValueError(f"mod must be >= 1: {mod}")
    # sequence(1, n) with n < 1 would COUNT DOWN (Spark auto-negates the
    # step) — guard with an explicit empty array for short docs.
    grams = F.when(
        F.length(F.col(text_col)) >= k,
        F.expr(
            f"transform(sequence(1, length({text_col}) - {k - 1}),"
            f" i -> substring({text_col}, i, {k}))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = docs.select(
        F.col(id_col), F.posexplode(grams).alias("__idx", "__gram")
    ).select(
        id_col,
        (F.col("__idx") + 1).alias("pos"),
        (F.xxhash64("__gram") if hashed else F.col("__gram")).alias(
            "anchor"
        ),
    )
    if mod is not None and mod > 1:
        out = out.filter(F.pmod(F.col("anchor"), F.lit(mod)) == 0)
    return out


#: ``via='auto'``: route to the join form when the hottest anchor's
#: estimated multiplicity exceeds this (a window partition of this many
#: occurrence rows lands in ONE un-splittable task).
HOT_ANCHOR_THRESHOLD = 5_000_000
_AUTO_SAMPLE = 0.01


def choose_via(
    anchors: DataFrame,
    threshold: int = HOT_ANCHOR_THRESHOLD,
    sample: float = _AUTO_SAMPLE,
) -> str:
    """'window' or 'join', from the hottest anchor's estimated global
    multiplicity — a space-saving sketch over a Bernoulli sample of the
    anchor stream (operators/sketches.py: one pass, map-side only, no
    shuffle of the key set).  Sampling keeps the probe cheap; a key hot
    enough to matter (>= threshold ~ millions) cannot hide from a 1%
    sample, and cold keys mis-estimated low cost nothing — the window
    form is the fast path they belong on anyway."""
    from exstream_implementation_spark.operators.sketches import (
        heavy_hitters,
    )

    top = heavy_hitters(
        anchors.sample(fraction=sample, seed=7), "anchor", k=1, capacity=256
    ).collect()
    est = top[0]["count_hi"] / sample if top else 0
    return "join" if est > threshold else "window"


def duplicated_positions(
    anchors: DataFrame,
    id_col: str = "doc_id",
    policy: str = "all",
    via: str = "window",
) -> DataFrame:
    """(id, pos) of anchor occurrences that witness duplication.

    ``policy='all'``: every occurrence of an anchor seen >= 2 times (the
    symmetric form — right for profiling).  ``policy='keep_first'``: all
    but the globally first occurrence (min (id, pos)) — right for cleaning,
    where exactly one copy must survive.

    ``via='window'`` (default) computes count/min over a window partitioned
    by anchor: the corpus is exploded ONCE and shuffled once — measured
    2.8x faster than the join form at the 100x replica (39 s vs 109 s).
    ``via='join'`` aggregates then equi-joins back: the anchor subtree is
    exploded twice, but a pathological hot anchor (one boilerplate gram
    repeated 10^7 times) hits an AQE-splittable join instead of a single
    un-splittable window partition — pick it when one anchor's occurrence
    count alone exceeds a healthy task.  ``via='auto'`` makes that call
    from data (``choose_via``: sampled heavy-hitter probe, one cheap
    extra pass) so no caller has to know their boilerplate profile.
    """
    if policy not in ("all", "keep_first"):
        raise ValueError(f"unknown policy: {policy}")
    if via not in ("window", "join", "auto"):
        raise ValueError(f"unknown via: {via}")
    if via == "auto":
        via = choose_via(anchors)
    first = F.struct(F.col(id_col), F.col("pos"))
    if via == "window":
        w = Window.partitionBy("anchor")
        j = (
            anchors.withColumn("__n", F.count("*").over(w))
            .withColumn("__first", F.min(first).over(w))
            .filter(F.col("__n") >= 2)
        )
    else:
        occ = (
            anchors.groupBy("anchor")
            .agg(
                F.count("*").alias("__n"),
                F.min(first).alias("__first"),
            )
            .filter(F.col("__n") >= 2)
        )
        j = anchors.join(occ, "anchor")
    if policy == "keep_first":
        j = j.filter(first != F.col("__first"))
    return j.select(id_col, "pos")


def _coverage(dup_pos: DataFrame, k: int, id_col: str) -> DataFrame:
    """(id, dup_chars, n_dup_anchors): union length of [pos, pos+k) over
    the duplicated positions — running-max interval fold, per-doc work."""
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.coalesce(F.max(F.col("pos") + k).over(w), F.lit(0))
    contrib = F.greatest(
        F.lit(0),
        F.col("pos") + k - F.greatest(F.col("pos"), prev_end),
    )
    return (
        dup_pos.withColumn("__c", contrib)
        .groupBy(id_col)
        .agg(
            F.sum("__c").alias("dup_chars"),
            F.count("*").alias("n_dup_anchors"),
        )
    )


def dup_span_profile(
    docs: DataFrame,
    k: int = 40,
    text_col: str = "text",
    id_col: str = "doc_id",
    policy: str = "all",
    hashed: bool = True,
    mod: int | None = None,
    via: str = "window",
) -> DataFrame:
    """Per-doc duplication profile: (id, doc_len, dup_chars, n_dup_anchors,
    dup_frac) where dup_frac is the fraction of characters lying inside a
    corpus-duplicated span of length >= k (6 dp)."""
    cov = _coverage(
        duplicated_positions(
            gram_anchors(docs, k, text_col, id_col, hashed, mod),
            id_col,
            policy,
            via,
        ),
        k,
        id_col,
    )
    return (
        docs.select(id_col, F.length(text_col).alias("doc_len"))
        .join(cov, id_col, "left")
        .select(
            id_col,
            "doc_len",
            F.coalesce("dup_chars", F.lit(0)).alias("dup_chars"),
            F.coalesce("n_dup_anchors", F.lit(0)).alias("n_dup_anchors"),
            F.when(
                F.col("doc_len") > 0,
                F.round(
                    F.coalesce("dup_chars", F.lit(0)) / F.col("doc_len"), 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )


def dup_spans(
    docs: DataFrame,
    k: int = 40,
    text_col: str = "text",
    id_col: str = "doc_id",
    policy: str = "keep_first",
    hashed: bool = True,
    mod: int | None = None,
    via: str = "window",
) -> DataFrame:
    """(id, spans) — merged duplicated intervals per doc, sorted; each span
    is struct(start, end), 1-based char positions, end exclusive.  Docs
    with no duplication are absent (left-join downstream)."""
    dp = duplicated_positions(
        gram_anchors(docs, k, text_col, id_col, hashed, mod),
        id_col,
        policy,
        via,
    )
    return spans_from_positions(dp, k, id_col)


def spans_from_positions(
    dup_pos: DataFrame, k: int, id_col: str = "doc_id"
) -> DataFrame:
    """(id, spans) from raw duplicated positions: union the [pos, pos+k)
    windows into merged sorted intervals — the island fold ``dup_spans``
    uses, factored so callers that derive positions differently reuse the
    identical merge semantics."""
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.coalesce(
        F.max(F.col("pos") + k).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    islands = dup_pos.withColumn(
        "__island",
        F.sum((F.col("pos") > prev_end).cast("int")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        islands.groupBy(id_col, "__island")
        .agg(
            F.min("pos").alias("start"),
            (F.max("pos") + k).alias("end"),
        )
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("start", "end"))
            ).alias("spans")
        )
    )


def substring_dedup(
    docs: DataFrame,
    k: int = 40,
    text_col: str = "text",
    id_col: str = "doc_id",
    policy: str = "keep_first",
    hashed: bool = True,
    mod: int | None = None,
    via: str = "window",
) -> DataFrame:
    """Remove duplicated spans from every document (default: all but the
    globally first occurrence survive).  Returns the input columns with
    ``text_col`` rewritten plus ``n_removed_chars``; column order kept."""
    spans = dup_spans(docs, k, text_col, id_col, policy, hashed, mod, via)
    return remove_spans(docs, spans, text_col, id_col)


def remove_spans(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Splice the given (id, spans) intervals out of each document's text —
    the removal step of ``substring_dedup``, factored for callers that
    compute spans differently.  Spans must be sorted and disjoint (the
    ``spans_from_positions`` contract).  Docs absent from ``spans`` pass
    through unchanged; output = input columns with ``text_col`` rewritten
    plus ``n_removed_chars``, column order kept."""
    t = F.col(text_col)
    # splice: walk the sorted disjoint spans, keeping [cur, start) each
    # time, then the tail.  Pure-JVM fold; text is resolved from the row.
    spliced = F.aggregate(
        F.col("spans"),
        F.struct(F.lit("").alias("out"), F.lit(1).alias("cur")),
        lambda acc, s: F.struct(
            F.concat(
                acc["out"],
                F.substring(
                    t, acc["cur"], F.greatest(s["start"] - acc["cur"], F.lit(0))
                ),
            ).alias("out"),
            s["end"].alias("cur"),
        ),
        lambda acc: F.concat(
            acc["out"],
            F.substring(
                t,
                acc["cur"],
                F.greatest(F.length(t) - acc["cur"] + 1, F.lit(0)),
            ),
        ),
    )
    cleaned = docs.join(spans, id_col, "left").withColumn(
        "__clean", F.when(F.col("spans").isNull(), t).otherwise(spliced)
    )
    return cleaned.select(
        *[
            F.col("__clean").alias(text_col) if c == text_col else F.col(c)
            for c in docs.columns
        ],
        (F.length(t) - F.length("__clean")).alias("n_removed_chars"),
    )
