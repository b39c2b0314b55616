"""C8 — reward-leap filtering and explanation assembly on driver rows.

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

Both callers hold the rewards in driver memory when they cut: the batch
pipeline collects its O(runs × anomalies × features) reward rows once after
C7, and the streaming trigger's view holds the touched anomalies'
O(touched × features) rewards.  A Spark window over so few rows would cost
a shuffle and a job per call.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import Row


def reward_leap_filter(rewards) -> list[tuple]:
    """(ano_key, feature, feature_order, reward) driver rows → the kept
    (ano_key, feature, feature_order, reward, rank) rows, each anomaly's in
    rank order.  rank is 1-based over reward desc, feature_order asc (the
    reference's stable sort keeps ties in column order).  The rows group by
    their first field, so any hashable key works there — the batch
    pipeline passes ``(run_id, ano_key)``."""
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


def assemble_explanations(kept) -> list[Row]:
    """``reward_leap_filter`` output (each anomaly's rows in rank order) →
    one ``Row(ano_key, features, feature_orders)`` per anomaly, both lists
    in rank order.

    The rank-ordered feature list is the reference's explanation value
    (reference script_1.py:93); the pipeline's integer explanation is the
    ``feature_orders`` list, the features' positions in the sliced column
    order (reference script_1.py:110-115).
    """
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
