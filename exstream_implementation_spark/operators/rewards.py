"""C4–C7 — entropy-based single-feature reward, fully in window/aggregate SQL.

Reference semantics (reference exstream/entropy_based_single_reward_feature.py):

  reward(f) = class_entropy / segmentation_entropy            (:203-243)

  * class_entropy = p_a·log2(1/p_a) + p_r·log2(1/p_r) from interval row counts
    (:10-39, log base 2).
  * segmentation_entropy: sort all (ref ∪ ano) rows of the anomaly by
    (feature_value, type_data); run-length scan the label sequence summing
    p_i·ln(1/p_i) per segment **except the final segment, whose term is never
    added** (:157-200 — verified quirk Q2, SURVEY §2.4) — natural log (Q3).

Quirk Q5 (verified this round, beyond SURVEY §2.4's list): the reference's
worst-case duplicate shuffle (:42-154) is DEAD CODE. Its duplicate detector
``sorted_values[feature].drop_duplicates().value_counts()`` (:63-65) counts
occurrences *after* dropping duplicates, so every count is 1 and the
``continue`` at :86-88 fires for every value — no rewrite ever happens. The
shipped pipeline therefore scores segmentation on the (value, type_data)-
sorted label sequence as-is. We implement BOTH:

  duplicate_mode="sorted"     — reference-exact (default): label = type_data,
                                sequence ordered by (value, type_data).
  duplicate_mode="worst_case" — the paper's intended regularization (eq. 3-4)
                                and what :42-154 *tries* to do, computed in
                                closed form per row (SURVEY §4.3):

  group size 1          → label = type_data
  n1 == 0               → 0                     (all-reference run, unchanged)
  n0 == 0               → 1
  n0 == n1  (>0)        → r even → 1, r odd → 2
      (the reference's alternator ``abs(last - i%2 - 1)`` with last=0 — the
       first label of a duplicate run is always 0 because the sort puts
       type_data 0 first — emits the literal value 2 on odd positions
       (:131-134); the '2' labels segment identically to alternating 0s
       *within* the run but never merge with a neighboring 0/1 run)
  0 < n0 < n1           → r odd  and r < 2·n0 → 0 else 1      (:103-125)
  0 < n1 < n0           → r even and r < 2·n1 → 1 else 0

where n0/n1 are the run's class counts and r the within-run position — no
UDF, no Python loop, whole-stage codegen end to end; one shuffle keyed
(ano_key, feature_order, value), one keyed (ano_key, feature_order).

Segmentation sorts each (ano_key, feature_order) group in one window
partition: the reference's one sort per (anomaly, feature).

A missing value (SQL NULL) sorts after every number, as pandas sorts NaN
last (``sort_values`` default ``na_position='last'``), so a gap in a trace
segments exactly like the reference's NaN.

Input: melted long table (ano_key, type_data, timestamp, feature_order,
value) from operators.slicing.melt_features; its ``feature`` name column is
dropped before any exchange, since the int ``feature_order`` is the key.
Output: (ano_key, feature, feature_order, reward, rank).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from exstream_implementation_spark.operators.slicing import _sql_str

# C4 class entropy p_a·log2(1/p_a) + p_r·log2(1/p_r) over the interval row
# counts, as SQL text with p recomputed per term (the shape the oracle hashes
# were taken on — float results stay bit-identical)
CLASS_ENTROPY_SQL = (
    "(n_ano / (n_ref + n_ano))"
    " * log2(1.0 / (n_ano / (n_ref + n_ano)))"
    " + (n_ref / (n_ref + n_ano))"
    " * log2(1.0 / (n_ref / (n_ref + n_ano)))"
)


def feature_name_expr(feature_names: list[str]) -> str:
    """``feature`` re-derived from the 0-based ``feature_order`` by a literal
    array lookup — meant for the tiny post-aggregation projection (one row
    per (*keys, feature)), never for the melted exchange."""
    arr = ", ".join(_sql_str(n) for n in feature_names)
    return f"array({arr})[feature_order] AS feature"


def worst_case_labels(
    melted: DataFrame,
    duplicate_mode: str = "sorted",
    keys: tuple[str, ...] = ("ano_key",),
) -> DataFrame:
    """Assign each row its segmentation label and sequence position.

    Adds: r (0-based position within the (ano_key, feature_order, value)
    duplicate run, type_data ascending — the reference's sort puts class 0
    first within equal values, reference
    exstream/entropy_based_single_reward_feature.py:224), and label (int; 0,
    1, or the reference's literal 2 in worst_case mode).
    """
    if duplicate_mode not in ("sorted", "worst_case"):
        raise ValueError(f"unknown duplicate_mode {duplicate_mode!r}")
    # SQL-string construction — one py4j round-trip per selectExpr instead
    # of one per expression node (see segmentation_entropy)
    gk = ", ".join(f"`{c}`" for c in (*keys, "feature_order", "value"))
    df = melted.selectExpr(
        "*",
        f"row_number() OVER (PARTITION BY {gk}"
        f" ORDER BY type_data, timestamp) - 1 AS r",
    )
    if duplicate_mode == "sorted":
        return df.selectExpr("*", "type_data AS label")

    df = df.selectExpr(
        "*",
        f"sum(type_data) OVER (PARTITION BY {gk}) AS n1",
        f"count(1) OVER (PARTITION BY {gk}) AS cnt",
    )
    return df.selectExpr(
        "*",
        """CASE WHEN cnt = 1 THEN type_data
                WHEN n1 = 0 THEN 0
                WHEN cnt - n1 = 0 THEN 1
                WHEN cnt - n1 = n1 THEN
                  CASE WHEN r % 2 = 0 THEN 1 ELSE 2 END
                WHEN cnt - n1 < n1 THEN
                  CASE WHEN r % 2 = 1 AND r < 2 * (cnt - n1)
                       THEN 0 ELSE 1 END
                ELSE CASE WHEN r % 2 = 0 AND r < 2 * n1
                          THEN 1 ELSE 0 END
           END AS label""",
    ).drop("cnt", "n1")


def segmentation_entropy(
    labeled: DataFrame,
    keys: tuple[str, ...] = ("ano_key",),
    ties: tuple[str, ...] = ("r",),
) -> DataFrame:
    """(*keys, feature_order) → (*keys, feature_order, seg_ent, n_ano, n_ref).

    Run-length segmentation of the label sequence ordered by (value, r),
    Σ (len/N)·ln(N/len) over all segments EXCEPT the last (quirk Q2 — the
    reference only emits a segment's term when it sees the *next* boundary,
    so the final segment never contributes,
    reference exstream/entropy_based_single_reward_feature.py:181-200).

    ``ties`` orders rows of equal value (default ``r``).  Sorted-mode
    callers pass ``(type_data, timestamp)`` — the identical total order
    (``r`` IS row_number over (type_data, timestamp) within equal values) —
    which lets them skip ``worst_case_labels``'s per-(key, feature, value)
    window entirely: one full Exchange+Sort of the melted relation removed
    (guide §2.4).

    ``n_ref``/``n_ano`` are folded into the SAME segment aggregates (each
    melted row belongs to exactly one segment, so Σ per-segment type_data
    sums = n_ano) — reward callers need no second full pass over ``melted``
    and no seg⋈cls join.
    """
    # plan text built as SQL strings: selectExpr is ONE py4j round-trip per
    # call, where the equivalent Column-object chain paid one per
    # expression node — the rewards build sits on every explain call's
    # driver-side critical path (guide §1.2 step 2 applied to plan
    # construction; round-12/13 profiles put build ≈ 2× execute locally)
    pk = ", ".join(f"`{c}`" for c in (*keys, "feature_order"))
    ob = ", ".join(["`value` NULLS LAST", *(f"`{c}`" for c in ties)])
    df = labeled.selectExpr(
        "*",
        f"lag(label) OVER (PARTITION BY {pk} ORDER BY {ob}) AS prev_label",
    ).selectExpr(
        "*",
        # the boundary flag folded into the running sum's argument
        f"sum(CASE WHEN prev_label IS NULL OR prev_label != label"
        f" THEN 1 ELSE 0 END) OVER (PARTITION BY {pk} ORDER BY {ob}"
        f" ROWS UNBOUNDED PRECEDING) AS seg_id",
    )
    segs = df.groupBy(*keys, "feature_order", "seg_id").agg(
        F.count(F.lit(1)).alias("seg_len"), F.sum("type_data").alias("_seg_n1")
    )
    segs = segs.selectExpr(
        "*",
        f"sum(seg_len) OVER (PARTITION BY {pk}) AS n_total",
        f"max(seg_id) OVER (PARTITION BY {pk}) AS max_seg",
    )
    p = F.col("seg_len") / F.col("n_total")
    term = F.when(F.col("seg_id") < F.col("max_seg"), p * F.log(1.0 / p)).otherwise(
        F.lit(0.0)
    )
    return segs.groupBy(*keys, "feature_order").agg(
        F.sum(term).alias("seg_ent"),
        F.sum("_seg_n1").alias("n_ano"),
        (F.first("n_total") - F.sum("_seg_n1")).alias("n_ref"),
    )


def single_feature_rewards(
    melted: DataFrame,
    feature_names: list[str],
    duplicate_mode: str = "sorted",
    reward_round: int | None = None,
    keys: tuple[str, ...] = ("ano_key",),
) -> DataFrame:
    """C7 — reward(f) = class_ent / seg_ent per (ano_key, feature), ranked.

    ``feature_names``: the trace's feature list in ``feature_order``
    position order.  The ``feature`` STRING is dropped before any shuffle —
    segmentation and aggregation key on the int ``feature_order`` — and the
    name is mapped back once, in the final (tiny, post-aggregation)
    projection: the hot exchanges of the melted relation carry one int where
    they would carry int + string (guide §2.3 "narrower types" / "shuffle
    fewer bytes"; the name was 10-20% of the melted exchange's bytes on the
    events trace).  ``feature_order`` is a bijection of the name within one
    trace, so results do not depend on the key.

    Class entropy (C4) comes from the n_ref/n_ano folded into the
    segmentation aggregates — identical for every feature of a key, and no
    second pass over ``melted``.

    rank is row_number over (reward desc, feature_order asc): the reference
    sorts its dict descending with Python's stable sort, so ties keep the
    feature column order
    (reference exstream/entropy_based_single_reward_feature.py:239-241).

    ``reward_round``: round rewards to N decimals BEFORE ranking — the
    cross-engine determinism boundary (float summation order differs between
    engines, and the downstream leap filter compares rewards for equality).
    """
    melted = melted.drop("feature")
    if duplicate_mode == "sorted":
        # label IS type_data, and (value, type_data, timestamp) is the
        # identical total order to (value, r) — skip worst_case_labels's
        # per-(key, feature, value) ranking window: one full Exchange+Sort
        # of the melted relation removed (guide §2.4)
        seg = segmentation_entropy(
            melted.withColumn("label", F.col("type_data")),
            keys,
            ties=("type_data", "timestamp"),
        )
    else:
        seg = segmentation_entropy(
            worst_case_labels(melted, duplicate_mode, keys), keys
        )
    # expression trees written as SQL text: selectExpr keeps the build to
    # one py4j round-trip
    reward = (
        f"(CASE WHEN n_ref > 0 AND n_ano > 0 THEN {CLASS_ENTROPY_SQL} END)"
        " / seg_ent"
    )
    if reward_round is not None:
        reward = f"round({reward}, {int(reward_round)})"
    kq = ", ".join(f"`{c}`" for c in keys)
    return seg.selectExpr(
        *(f"`{c}`" for c in keys),
        feature_name_expr(feature_names),
        "feature_order",
        f"{reward} AS reward",
    ).selectExpr(
        "*",
        f"row_number() OVER (PARTITION BY {kq}"
        f" ORDER BY reward DESC, feature_order ASC) AS rank",
    )
