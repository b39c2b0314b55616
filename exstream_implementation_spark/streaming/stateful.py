"""Online feature rewards (C4/C6/C7, streaming): a driver-side reducer.

Batch C6 (reference entropy_based_single_reward_feature.py:157-200) run-length
scans a label sequence and sums p·ln(1/p) per segment, never counting the
final segment (SURVEY Q2).  Online, the sequence is unbounded, so the reducer
keeps O(1) state per key and emits the entropy over *closed* segments (with
the class entropy and their ratio, the reward) after each micro-batch — the
still-open run is exactly the "final segment" Q2 drops, so the streaming
semantics converge to the batch value on a finite replay.

Identity used (n = rows seen, l_i = closed-segment lengths):
    H = Σ (l_i/n)·ln(n/l_i) = (ln n)·(Σ l_i)/n − (1/n)·Σ l_i·ln l_i
so state is just (n, Σ l_i, Σ l_i·ln l_i, open-run label, open-run length) —
O(#keys) tuples, independent of stream length.

The state update is plain Python over the rows a trigger collects: at the
per-trigger volumes of the online setting (hundreds to thousands of points
over tens of keys) a Spark stateful operator costs more in shuffle, Arrow
hand-off and state-store commit than the scan itself.  The caller owns the
tuples (``streaming.online_scorer`` keeps them next to its serving view and
journals them for restarts).

Ordering: rows are scanned in ``seq`` order across each key's whole
micro-batch; cross-batch order is arrival order.  Feed event-time-sorted
batches (e.g. the file source replaying time-partitioned files) for exact
batch parity.
"""

from __future__ import annotations

import math
from operator import itemgetter

from pyspark.sql import Row


def _scan(labels, state):
    """Run-length scan continuing from ``state`` tuple; returns new tuple."""
    n, closed_len, closed_llnl, closed_segs, cur_label, cur_len = state
    for lab in labels:
        lab = int(lab)
        if cur_len == 0:
            cur_label, cur_len = lab, 1
        elif lab == cur_label:
            cur_len += 1
        else:
            closed_len += cur_len
            closed_llnl += cur_len * math.log(cur_len)
            closed_segs += 1
            cur_label, cur_len = lab, 1
        n += 1
    return n, closed_len, closed_llnl, closed_segs, cur_label, cur_len


def _entropy(n, closed_len, closed_llnl):
    if n == 0 or closed_len == 0:
        return 0.0
    return (math.log(n) * closed_len - closed_llnl) / n


def batch_segmentation_entropy_reference(labels) -> float:
    """Driver-side oracle for tests: reference C6 on a finite label list,
    including Q2 (final segment dropped)."""
    st = _scan(labels, (0, 0, 0.0, 0, -1, 0))
    return _entropy(st[0], st[1], st[2])


# the update row the reducer emits per touched key
RewardUpdate = Row("key", "n_rows", "n_ano", "class_entropy", "seg_entropy", "reward")

# a key's state before its first point: the C6 tuple, then n_ano
EMPTY_STATE = (0, 0, 0.0, 0, -1, 0, 0)


def online_feature_rewards(state: dict, rows) -> list:
    """Online C7 over ``(key, seq, label)`` rows: per-key reward =
    class_entropy / segmentation_entropy over the ARRIVAL-ORDERED label
    sequence, maintained incrementally forever.

    ``state`` maps key → ``(n, closed_len, closed_llnl, closed_segs,
    cur_label, cur_len, n_ano)``; a missing key starts at ``EMPTY_STATE``.
    The reducer stable-sorts each key's rows of this micro-batch by ``seq``,
    continues the key's C6 scan from its tuple, stores the new tuple back in
    ``state`` and returns one ``RewardUpdate`` per key the rows touch.

    Semantic note (vs batch ``operators.rewards``): batch C7 sorts the rows by
    feature VALUE before segmenting (reference
    exstream/entropy_based_single_reward_feature.py:224) — an inherently
    offline step, since any later row can land anywhere in the sort. The
    online variant segments in event-time order, which is the paper's online
    monitoring framing (exstream.pdf §6.3): a feature whose label runs are
    long in time (few alternations) separates the classes well *as the stream
    evolves*. Class entropy (C4, log2) is order-free, so it is exact.
    """
    points: dict[str, list] = {}
    for key, seq, label in rows:
        points.setdefault(key, []).append((seq, label))
    updates = []
    for key, pts in points.items():
        pts.sort(key=itemgetter(0))  # stable: equal seqs keep arrival order
        labs = [lab for _, lab in pts]
        st = state.get(key, EMPTY_STATE)
        c6 = _scan(labs, st[:6])
        n_ano = st[6] + sum(1 for lab in labs if lab == 1)
        state[key] = (*c6, n_ano)
        n = c6[0]
        seg = _entropy(c6[0], c6[1], c6[2])
        if 0 < n_ano < n:
            p_a = n_ano / n
            p_r = 1.0 - p_a
            cls = -p_a * math.log2(p_a) - p_r * math.log2(p_r)
        else:
            cls = 0.0
        reward = cls / seg if seg > 0 else 0.0
        updates.append(RewardUpdate(key, n, n_ano, cls, seg, reward))
    return updates
