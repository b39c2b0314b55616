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

Driver rows: ``leap_cut_rows`` + ``assemble_rows`` are the same cut and
assembly in plain Python, for rewards that already sit in driver memory (the
streaming trigger's touched anomalies, O(touched × features) scalars) —
lifting them into a DataFrame would cost a Spark job per trigger.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame, Row, functions as F


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


def leap_cut_rows(rewards) -> list[tuple[str, str, int, float, int]]:
    """(ano_key, feature, feature_order, reward) driver rows → the kept
    (ano_key, feature, feature_order, reward, rank) rows, each anomaly's in
    rank order: ``reward_leap_filter`` over the rewards ranked by reward
    desc, feature_order asc."""
    by_anomaly = defaultdict(list)
    for ano_key, feature, feature_order, reward in rewards:
        by_anomaly[ano_key].append((feature, feature_order, reward))
    kept = []
    for ano_key, rows in by_anomaly.items():
        ranked = sorted(rows, key=lambda r: (-r[2], r[1]))
        rs = [r[2] for r in ranked]
        leaps = [prev - rw for prev, rw in zip(rs, rs[1:])]
        max_leap = max(leaps, default=None)
        # keep the ranks before the first max leap whose previous reward is
        # not 0; no such leap (a single feature has none): nothing is cut
        n_kept = next(
            (
                i
                for i, leap in enumerate(leaps, 1)
                if leap == max_leap and rs[i - 1] != 0
            ),
            len(rs),
        )
        kept.extend(
            (ano_key, f, fo, rw, rank)
            for rank, (f, fo, rw) in enumerate(ranked[:n_kept], 1)
        )
    return kept


def assemble_rows(kept) -> list[Row]:
    """``leap_cut_rows`` output (each anomaly's rows in rank order) → one
    ``Row(ano_key, features, feature_orders)`` per anomaly, as
    ``assemble_explanations`` collects them."""
    by_anomaly = defaultdict(list)
    for ano_key, feature, feature_order, _reward, _rank in kept:
        by_anomaly[ano_key].append((feature, feature_order))
    return [
        Row(
            ano_key=ano_key,
            features=[f for f, _ in rows],
            feature_orders=[fo for _, fo in rows],
        )
        for ano_key, rows in by_anomaly.items()
    ]
