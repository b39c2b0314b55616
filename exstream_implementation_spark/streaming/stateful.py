"""Custom stateful operator — online segmentation entropy (C6, streaming).

Batch C6 (reference entropy_based_single_reward_feature.py:157-200) run-length
scans a label sequence and sums p·ln(1/p) per segment, never counting the
final segment (SURVEY Q2).  Online, the sequence is unbounded, so the operator
keeps O(1) state per key and emits the entropy over *closed* segments after
each micro-batch — the still-open run is exactly the "final segment" Q2 drops,
so the streaming semantics converge to the batch value on a finite replay.

Identity used (n = rows seen, l_i = closed-segment lengths):
    H = Σ (l_i/n)·ln(n/l_i) = (ln n)·(Σ l_i)/n − (1/n)·Σ l_i·ln l_i
so state is just (n, Σ l_i, Σ l_i·ln l_i, open-run label, open-run length) —
state-store size is O(#keys), independent of stream length.

Ordering: rows are scanned in ``seq`` order *within* each micro-batch;
cross-batch order is arrival order.  Feed event-time-sorted batches (e.g. the
file source replaying time-partitioned files) for exact batch parity.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("n_rows", LongType()),
        StructField("closed_segments", LongType()),
        StructField("seg_entropy", DoubleType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("closed_len", LongType()),
        StructField("closed_llnl", DoubleType()),
        StructField("closed_segs", LongType()),
        StructField("cur_label", LongType()),
        StructField("cur_len", LongType()),
    ]
)


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


def online_segmentation_entropy(df: DataFrame) -> DataFrame:
    """Apply the online C6 operator to a (streaming or batch) DataFrame with
    columns ``(key, seq, label)``; emits one row per key per micro-batch in
    update mode."""

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState):
        st = state.get if state.exists else (0, 0, 0.0, 0, -1, 0)
        for pdf in pdf_iter:
            pdf = pdf.sort_values("seq", kind="mergesort")
            st = _scan(pdf["label"].to_numpy(), st)
        state.update(st)
        n, closed_len, closed_llnl, closed_segs = st[0], st[1], st[2], st[3]
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "n_rows": [n],
                "closed_segments": [closed_segs],
                "seg_entropy": [_entropy(n, closed_len, closed_llnl)],
            }
        )

    return df.groupBy("key").applyInPandasWithState(
        fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def batch_segmentation_entropy_reference(labels) -> float:
    """Driver-side oracle for tests: reference C6 on a finite label list,
    including Q2 (final segment dropped)."""
    st = _scan(labels, (0, 0, 0.0, 0, -1, 0))
    return _entropy(st[0], st[1], st[2])


REWARD_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("n_rows", LongType()),
        StructField("n_ano", LongType()),
        StructField("class_entropy", DoubleType()),
        StructField("seg_entropy", DoubleType()),
        StructField("reward", DoubleType()),
    ]
)

REWARD_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("closed_len", LongType()),
        StructField("closed_llnl", DoubleType()),
        StructField("closed_segs", LongType()),
        StructField("cur_label", LongType()),
        StructField("cur_len", LongType()),
        StructField("n_ano", LongType()),
    ]
)


def online_feature_rewards(df: DataFrame) -> DataFrame:
    """Online C7 over columns ``(key, seq, label)``: per-key reward =
    class_entropy / segmentation_entropy over the ARRIVAL-ORDERED label
    sequence, maintained incrementally forever.

    Semantic note (vs batch ``operators.rewards``): batch C7 sorts the rows by
    feature VALUE before segmenting (reference
    exstream/entropy_based_single_reward_feature.py:224) — an inherently
    offline step, since any later row can land anywhere in the sort. The
    online variant segments in event-time order, which is the paper's online
    monitoring framing (exstream.pdf §6.3): a feature whose label runs are
    long in time (few alternations) separates the classes well *as the stream
    evolves*. Class entropy (C4, log2) is order-free, so it is exact.
    State per key is O(1): the C6 tuple plus the anomaly-row count.
    """

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState):
        st = state.get if state.exists else (0, 0, 0.0, 0, -1, 0, 0)
        c6, n_ano = st[:6], st[6]
        for pdf in pdf_iter:
            pdf = pdf.sort_values("seq", kind="mergesort")
            labs = pdf["label"].to_numpy()
            c6 = _scan(labs, c6)
            n_ano += int((labs == 1).sum())
        state.update((*c6, n_ano))
        n = c6[0]
        seg = _entropy(c6[0], c6[1], c6[2])
        if 0 < n_ano < n:
            p_a = n_ano / n
            p_r = 1.0 - p_a
            cls = -p_a * math.log2(p_a) - p_r * math.log2(p_r)
        else:
            cls = 0.0
        reward = cls / seg if seg > 0 else 0.0
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "n_rows": [n],
                "n_ano": [n_ano],
                "class_entropy": [cls],
                "seg_entropy": [seg],
                "reward": [reward],
            }
        )

    return df.groupBy("key").applyInPandasWithState(
        fn,
        outputStructType=REWARD_OUTPUT_SCHEMA,
        stateStructType=REWARD_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
