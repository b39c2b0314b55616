"""C8 — reward-leap filtering as window functions over the ranked rewards.

Reference (reference exstream/entropy_based_single_reward_feature.py:249-314 and
script_1.py:16-28):

  * leaps = consecutive differences of the desc-sorted rewards; threshold =
    max leap (:266-273).
  * walk the ranking: keep features until a leap equal to the threshold is
    seen, EXCEPT that a comparison is skipped when the previous reward is
    exactly 0 (the ``last_distance != 0`` sentinel guard, :298-303) — so if
    the max leap follows a zero reward the cut point moves to the next
    occurrence (or nothing is cut).
  * a single-feature ranking is never filtered (script_1.py:22-26).

Spark: lag/max/min windows over the tiny (ano_key, feature, reward, rank)
relation — per-anomaly state never leaves the executor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def reward_leap_filter(
    rewards: DataFrame, keys: tuple[str, ...] = ("ano_key",)
) -> DataFrame:
    """(*keys, feature, feature_order, reward, rank) → kept rows only."""
    # SQL-string construction — one py4j round-trip per selectExpr instead
    # of one per expression node (see operators.rewards); window nesting
    # rules force three steps: lag → (max, count) over it → min over those
    pk = ", ".join(f"`{c}`" for c in keys)
    df = (
        rewards.selectExpr(
            "*",
            f"lag(reward) OVER (PARTITION BY {pk} ORDER BY rank)"
            f" AS prev_reward",
        )
        .selectExpr(
            "*",
            "prev_reward - reward AS leap",
            f"max(prev_reward - reward) OVER (PARTITION BY {pk}) AS max_leap",
            f"count(1) OVER (PARTITION BY {pk}) AS n_features",
        )
        .selectExpr(
            "*",
            f"min(CASE WHEN leap = max_leap AND prev_reward != 0"
            f" THEN rank END) OVER (PARTITION BY {pk}) AS cut_rank",
        )
    )
    kept = df.filter(
        "n_features <= 1 OR cut_rank IS NULL OR rank < cut_rank"
    )
    return kept.select(*keys, "feature", "feature_order", "reward", "rank")


def assemble_explanations(
    kept: DataFrame, keys: tuple[str, ...] = ("ano_key",)
) -> DataFrame:
    """(*keys) → (*keys, features array<string> in rank order,
    feature_orders array<int>).

    The rank-ordered feature list is the reference's explanation value
    (reference script_1.py:93); integer indices are mapped by the pipeline
    from the full sliced-column order (reference script_1.py:110-115).
    """
    return kept.groupBy(*keys).agg(
        F.sort_array(
            F.collect_list(F.struct("rank", "feature", "feature_order"))
        ).alias("_s")
    ).select(
        *keys,
        F.col("_s.feature").alias("features"),
        F.col("_s.feature_order").alias("feature_orders"),
    )
