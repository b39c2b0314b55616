"""Property tests (hypothesis) for the driver-side numeric cores, plus
one-shot Spark equivalence checks for the distributed operators."""

import math

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from exstream_implementation_spark.canon import round_half_up
from exstream_implementation_spark.streaming.stateful import (
    _entropy,
    _scan,
    batch_segmentation_entropy_reference,
    online_feature_rewards,
)
from tests import oracle_pandas as oracle


def naive_seg_entropy_dropping_last(labels):
    """Brute-force C6 with quirk Q2: run-length segments, last term dropped."""
    if not labels:
        return 0.0
    segs, cur = [], 1
    for a, b in zip(labels, labels[1:]):
        if a == b:
            cur += 1
        else:
            segs.append(cur)
            cur = 1
    # final segment intentionally NOT appended (Q2)
    n = len(labels)
    return sum((l / n) * math.log(n / l) for l in segs)


@given(st.lists(st.integers(min_value=0, max_value=2), max_size=200))
@settings(max_examples=300, deadline=None)
def test_scan_entropy_matches_naive(labels):
    assert batch_segmentation_entropy_reference(labels) == pytest_approx(
        naive_seg_entropy_dropping_last(labels)
    )


@given(
    st.lists(st.integers(min_value=0, max_value=2), min_size=0, max_size=120),
    st.integers(min_value=1, max_value=5),
)
@settings(max_examples=200, deadline=None)
def test_scan_is_chunking_invariant(labels, n_chunks):
    """Feeding the same sequence in any number of chunks must give the same
    state — the property that makes the operator correct across micro-batches."""
    whole = _scan(labels, (0, 0, 0.0, 0, -1, 0))
    st_ = (0, 0, 0.0, 0, -1, 0)
    k = max(1, len(labels) // n_chunks)
    for i in range(0, len(labels), k):
        st_ = _scan(labels[i : i + k], st_)
    assert st_[0] == whole[0] and st_[3] == whole[3]
    assert _entropy(st_[0], st_[1], st_[2]) == pytest_approx(
        _entropy(whole[0], whole[1], whole[2])
    )


@given(
    st.lists(st.integers(min_value=0, max_value=1), min_size=1, max_size=120),
    st.data(),
)
@settings(max_examples=200, deadline=None)
def test_online_reducer_is_batching_and_order_invariant(labels, data):
    """A key's label sequence split into random consecutive micro-batches,
    each arriving in a random row order, must give exactly the reference
    C4/C6/C7 of the whole sequence: the reducer sorts each batch by seq and
    continues the same float operations from the key's tuple."""
    cuts = sorted(
        data.draw(
            st.sets(st.integers(min_value=1, max_value=len(labels) - 1))
            if len(labels) > 1
            else st.just(set())
        )
    )
    state = {}
    for lo, hi in zip([0, *cuts], [*cuts, len(labels)]):
        rows = [("k", seq, labels[seq]) for seq in range(lo, hi)]
        shuffled = data.draw(st.permutations(rows))
        (update,) = online_feature_rewards(state, shuffled)
    n, n_ano = len(labels), labels.count(1)
    seg = batch_segmentation_entropy_reference(labels)
    if 0 < n_ano < n:
        p_a = n_ano / n
        cls = -p_a * math.log2(p_a) - (1.0 - p_a) * math.log2(1.0 - p_a)
    else:
        cls = 0.0
    assert (update["n_rows"], update["n_ano"]) == (n, n_ano)
    assert update["seg_entropy"] == seg
    assert update["class_entropy"] == cls
    assert update["reward"] == (cls / seg if seg > 0 else 0.0)


def pytest_approx(x):
    import pytest

    return pytest.approx(x, abs=1e-12)


def test_salted_agg_equals_plain_groupby(spark):
    from exstream_implementation_spark.operators.skew import salted_agg

    df = spark.range(0, 5000).select(
        (F.col("id") % 4).alias("k"),
        F.col("id").alias("sub"),
        (F.col("id") * 7 % 101).cast("double").alias("v"),
    )
    got = salted_agg(
        df,
        keys=["k"],
        aggs={
            "n": ("sum", F.count(F.lit(1))),
            "s": ("sum", F.sum("v")),
            "mx": ("max", F.max("v")),
            "mn": ("min", F.min("v")),
        },
        salt_col=F.col("sub"),
        n_salts=13,
    )
    want = df.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
        F.max("v").alias("mx"),
        F.min("v").alias("mn"),
    )
    as_map = lambda d: {r["k"]: (r["n"], r["s"], r["mx"], r["mn"]) for r in d.collect()}
    assert as_map(got) == as_map(want)


def test_mass_profile_and_greedy_matches_bruteforce():
    """C3 numeric core: the FFT distance profile and the stumpy-style greedy
    exclusion count must match a naive O(n·m) implementation on random data."""
    import numpy as np

    from exstream_implementation_spark.operators.fp_filter import (
        count_matches,
        mass_distance_profile,
    )

    rng = np.random.default_rng(123)
    for trial in range(20):
        n = int(rng.integers(20, 200))
        m = int(rng.integers(4, max(5, n // 3)))
        ts = rng.normal(0, 1, n)
        if trial % 4 == 0:  # plant a near-match
            q = ts[5 : 5 + m].copy() + rng.normal(0, 0.01, m)
        elif trial % 4 == 1:  # constant query (degenerate)
            q = np.full(m, 3.14)
        else:
            q = rng.normal(0, 1, m)
        got = mass_distance_profile(q, ts)
        # naive z-normalized distances
        want = np.empty(n - m + 1)
        qm, qs = q.mean(), q.std()
        for i in range(n - m + 1):
            w = ts[i : i + m]
            ws = w.std()
            if qs == 0:
                want[i] = 0.0 if ws == 0 else np.sqrt(m)
            elif ws == 0:
                want[i] = np.sqrt(m)
            else:
                zq = (q - qm) / qs
                zw = (w - w.mean()) / ws
                want[i] = np.sqrt(((zq - zw) ** 2).sum())
        assert np.allclose(got, want, atol=1e-6), trial
        # greedy count parity for a mid-range threshold
        thresh = float(np.percentile(want, 30))
        d = want.copy()
        excl = int(np.ceil(m / 4))
        expect = 0
        while True:
            i = int(np.argmin(d))
            if not (d[i] <= thresh):
                break
            expect += 1
            d[max(0, i - excl) : i + excl + 1] = np.inf
        assert count_matches(q, ts, thresh) == expect, trial


def test_fp_keep_rule_threshold_fallback_and_tie_break():
    """C3's keep rule on the driver (reference
    exstream/false_positive_filtering.py:36-46): every feature with at most
    KEEP_THRESHOLD matches is kept, in column order; when none qualifies
    only the one with the fewest matches is kept, a tie going to the lowest
    feature_order (np.argmin); each (run_id, ano_key) is decided alone."""
    from exstream_implementation_spark.operators.fp_filter import (
        KEEP_THRESHOLD,
        false_positive_filter,
    )

    assert KEEP_THRESHOLD == 5

    def kept(rows):
        out = {}
        for run_id, ano_key, feature in false_positive_filter(rows):
            out.setdefault((run_id, ano_key), []).append(feature)
        return out

    # (run_id, ano_key, feature, feature_order, n_matches); rows arrive in
    # no particular order, as a collect returns them
    primary = [
        (0, "a", "f3", 3, 0),
        (0, "a", "f0", 0, 5),
        (0, "a", "f1", 1, 6),
        (0, "a", "f2", 2, 2),
    ]
    assert kept(primary) == {(0, "a"): ["f0", "f2", "f3"]}

    fallback = [(0, "a", "f0", 0, 9), (0, "a", "f1", 1, 7), (0, "a", "f2", 2, 8)]
    assert kept(fallback) == {(0, "a"): ["f1"]}

    tie = [(0, "a", "f4", 4, 7), (0, "a", "f2", 2, 7), (0, "a", "f3", 3, 9)]
    assert kept(tie) == {(0, "a"): ["f2"]}

    # the same feature counts, decided per run and per anomaly: run 1 of "a"
    # and run 0 of "b" keep nothing at <= 5 and fall back on their own
    mixed = primary + [
        (1, "a", "f0", 0, 6),
        (1, "a", "f1", 1, 8),
        (0, "b", "f0", 0, 12),
        (0, "b", "f1", 1, 10),
        (0, "b", "f2", 2, 10),
        (1, "b", "f1", 1, 1),
        (1, "b", "f0", 0, 20),
    ]
    assert kept(mixed) == {
        (0, "a"): ["f0", "f2", "f3"],
        (1, "a"): ["f0"],
        (0, "b"): ["f1"],
        (1, "b"): ["f1"],
    }


def test_mass_constant_query_with_inexact_mean():
    """A flat pattern whose float mean is INEXACT (e.g. [0.1]*3: std is
    ~1.4e-17, not 0) must behave like a constant query — distance 0 to
    constant windows, sqrt(m) to varying ones — not divide cancellation
    noise by 1e-17 and produce garbage."""
    import numpy as np

    from exstream_implementation_spark.operators.fp_filter import (
        count_matches,
        mass_distance_profile,
    )

    q = np.array([0.1, 0.1, 0.1])
    ts = np.concatenate([q, np.random.default_rng(5).normal(1000, 5, 40)])
    d = mass_distance_profile(q, ts)
    assert d[0] == 0.0  # its own (constant) window
    varying = d[4:]  # windows fully inside the noisy region
    assert np.allclose(varying, np.sqrt(3)), varying[:5]
    # greedy count: only the constant window(s) at the head can match
    assert count_matches(q, ts, max_distance=1e-6) == 1


def test_mass_nonfinite_values_do_not_poison_profile():
    """One NaN in the pooled series must only disqualify the windows that
    contain it (distance +inf) — not NaN the whole FFT profile and make
    count_matches silently return 0."""
    import numpy as np

    from exstream_implementation_spark.operators.fp_filter import (
        count_matches,
        mass_distance_profile,
    )

    rng = np.random.default_rng(11)
    ts = rng.normal(0, 1, 60)
    q = ts[40:48].copy()  # exact sub-slice → distance 0 at offset 40
    ts_nan = ts.copy()
    ts_nan[5] = np.nan
    d = mass_distance_profile(q, ts_nan)
    m = len(q)
    covered = np.arange(len(d)) + m > 5  # windows containing index 5
    touched = (np.arange(len(d)) <= 5) & covered
    assert np.all(np.isinf(d[touched]))
    assert np.all(np.isfinite(d[~touched]))
    assert d[40] < 1e-6
    # the self-match must still be counted despite the NaN elsewhere
    assert count_matches(q, ts_nan, max_distance=1.0) >= 1
    # an all-NaN query can never match anything
    qq = q.copy()
    qq[0] = np.nan
    assert count_matches(qq, ts, max_distance=1e9) == 0


def test_chunked_mass_equals_whole_series(spark):
    """Chunking with (m-1)-overlap reproduces one-shot MASS on the full
    series for every chunk size (up to FFT rounding: the per-chunk transform
    size differs from the whole-series one, so distances agree to ~1e-7, not
    bitwise)."""
    import numpy as np
    import pytest

    from exstream_implementation_spark.operators.fp_filter import (
        mass_distance_profile,
    )
    from exstream_implementation_spark.operators.mass_distributed import (
        mass_profile_distributed,
    )

    rng = np.random.default_rng(7)
    n, m = 200, 7
    ts = np.round(rng.normal(size=n) * 10, 3)
    # include a constant stretch to hit the degenerate sigma=0 branch
    ts[50:70] = 5.0
    pattern = ts[30:30 + m]
    expect = mass_distance_profile(pattern, ts)

    series = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(ts)], "seq long, value double"
    )
    for chunk_size in (m, 16, 50, 200, 1000):
        got_rows = mass_profile_distributed(
            series, pattern, chunk_size=chunk_size
        ).collect()
        got = {r["start"]: r["dist"] for r in got_rows}
        assert len(got) == n - m + 1, chunk_size
        for s in range(n - m + 1):
            assert got[s] == pytest.approx(expect[s], abs=1e-6), (chunk_size, s)


def test_ann_recall_vs_brute_force(spark):
    """Retrieval-quality gate: the LSH- and IVF-bucketed ANN paths must keep
    recall@5 >= 0.9 against the exact brute-force ranking (the oracle hash
    gate pins exactness on fixed data; this pins QUALITY as data varies)."""
    from pyspark.sql import functions as F

    from exstream_implementation_spark.plans import similarity as sim

    sf_dir = "/root/testdata/sf0.01"
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.ann_topk_cosine(spark, sf_dir)
        .filter(F.col("rank") <= 5)
        .collect()
    }
    by_q = {}
    for q, n in exact:
        by_q.setdefault(q, set()).add(n)

    # IVF on near-random embeddings: recall is probed-fraction-driven, so the
    # gate probes ~80% of the √n-derived cells — it verifies the
    # probe/union/rank mechanics.
    import math

    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    stride = sim._centroid_stride(n)
    n_cells = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") % stride == 0)
        .count()
    )
    ivf_nprobe = math.ceil(0.8 * n_cells)

    for name, fn in [
        ("lsh", sim.ann_lsh_topk),
        ("ivf", lambda s, d: sim.ann_ivf_topk(s, d, nprobe=ivf_nprobe)),
    ]:
        approx = {}
        for r in fn(spark, sf_dir).collect():
            approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        recalls = [
            len(approx.get(q, set()) & wanted) / len(wanted)
            for q, wanted in by_q.items()
        ]
        recall = sum(recalls) / len(recalls)
        assert recall >= 0.9, f"{name} recall@5 = {recall:.2f} < 0.9"


def test_ivf_centroid_count_grows_sqrt(spark):
    """The IVF index must scale sublinearly: #centroids ≈ √n at every SF
    (round-2 verdict: a fixed stride made it n/50 — linear).  Pinned across
    two scale factors so a future constant-stride regression fails here."""
    from exstream_implementation_spark.plans import similarity as sim

    for sf in ["sf0.01", "sf0.1"]:
        e = spark.read.parquet(f"/root/testdata/{sf}/embeddings.parquet")
        n = e.count()
        stride = sim._centroid_stride(n)
        n_cents = e.filter(F.col("vec_id") % stride == 0).count()
        assert 0.8 <= n_cents / (n**0.5) <= 1.3, (sf, n, n_cents)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-1000, max_value=1000),
            st.floats(min_value=-100, max_value=100, allow_nan=False),
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=1, max_value=5),
)
@settings(max_examples=8, deadline=None)
def test_global_lag_property(rows, nparts):
    """global_lag == single-partition lag for arbitrary key/value sets and
    partition counts (boundary stitching has no edge-case holes)."""
    from pyspark.sql import Window

    from exstream_implementation_spark.operators.ranking import global_lag
    from exstream_implementation_spark.session import get_spark

    spark = get_spark(app_name="exstream-spark-tests", shuffle_partitions=8)
    df = spark.createDataFrame(rows, "k int, v double")
    got = sorted(
        tuple(r)
        for r in global_lag(
            df, [F.asc("k")], "v", num_partitions=nparts
        ).select("k", "v", "rn", "prev").collect()
    )
    w = Window.orderBy("k")
    want = sorted(
        tuple(r)
        for r in df.select(
            "k", "v",
            F.row_number().over(w).alias("rn"),
            F.lag("v").over(w).alias("prev"),
        ).collect()
    )
    assert got == want


def test_emb_neardup_lsh_recall():
    """The label-free LSH-blocked near-dup pass must recover >= 85% of the
    true cosine>=0.3 pairs that brute force finds (candidates come from the
    multiprobe band join, never an all-pairs self-join)."""
    from pyspark.sql import functions as SF

    from exstream_implementation_spark.plans.similarity import (
        _cosine_expr,
        emb_neardup_lsh,
    )
    from exstream_implementation_spark.session import get_spark
    from exstream_implementation_spark.sources import load_table

    spark = get_spark(app_name="exstream-spark-tests", shuffle_partitions=8)
    sf_dir = "/root/testdata/sf0.01"
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    a = e.select(SF.col("vec_id").alias("vec_a"), SF.col("embedding").alias("emb_a"))
    b = e.select(SF.col("vec_id").alias("vec_b"), SF.col("embedding").alias("emb_b"))
    cos = SF.expr(_cosine_expr("emb_a", "emb_b"))
    truth = {
        (r["vec_a"], r["vec_b"])
        for r in a.join(b, SF.col("vec_a") < SF.col("vec_b"))
        .filter(cos >= 0.3)
        .select("vec_a", "vec_b")
        .collect()
    }
    got = {
        (r["vec_a"], r["vec_b"])
        for r in emb_neardup_lsh(spark, sf_dir).collect()
    }
    assert got <= truth or not truth  # no false positives (exact re-rank)
    recall = len(got & truth) / len(truth) if truth else 1.0
    assert recall >= 0.85, f"lsh near-dup recall {recall:.2f}"


def test_adaptive_lsh_planes_contract(spark):
    """The oracle CTE is generated with the fixed N_PLANES width, so the
    adaptive count MUST equal the floor at the correctness-gate corpora
    (sf <= 0.01) and grow with larger corpora (occupancy held ~constant)."""
    from exstream_implementation_spark.plans import similarity as sim

    sim._PLANES_CACHE.clear()
    assert sim._active_planes(spark, "/root/testdata/sf0.01") == sim.N_PLANES
    bigger = sim._active_planes(spark, "/root/testdata/sf0.1")
    assert bigger > sim.N_PLANES  # 2000 vectors / occ 64 -> 5 planes
    # memoized: second call must not re-count
    assert sim._PLANES_CACHE["/root/testdata/sf0.1"] == bigger


def _semdedup_mirror(rows, stride, min_cos):
    """Numpy mirror of _ivf_parts/_ivf_assign_spark + within-cell prune for
    an explicit stride: stride-th centroids, max-cos cell, lowest-lower-id
    representative at cosine >= min_cos."""
    import numpy as np

    ids = np.array([r["vec_id"] for r in rows])
    mat = np.stack([np.array(r["embedding"], dtype=np.float64) for r in rows])
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    norms = np.linalg.norm(mat, axis=1)

    cent_mask = ids % stride == 0
    cids, cmat, cnorms = ids[cent_mask], mat[cent_mask], norms[cent_mask]
    cos_to_c = (mat @ cmat.T) / np.outer(norms, cnorms)
    # ties broken by ascending centroid id == argmax on first max occurrence
    cells = cids[np.argmax(np.round(cos_to_c, 12), axis=1)]

    want = {}
    for ci in np.unique(cells):
        members = ids[cells == ci]
        sub = mat[np.isin(ids, members)]
        subn = norms[np.isin(ids, members)]
        cos = np.round((sub @ sub.T) / np.outer(subn, subn), 5)
        for bi, b in enumerate(members):
            lower = [
                a
                for ai, a in enumerate(members)
                if a < b and cos[ai, bi] >= min_cos
            ]
            if lower:
                keep = min(lower)
                ai = list(members).index(keep)
                want[int(b)] = (int(keep), float(cos[ai, bi]))
    return want


def test_semantic_dedup_matches_brute_force_mirror(spark):
    """semantic_dedup (SemDeDup-style: deterministic IVF cells + within-cell
    prune) must agree exactly with a numpy mirror of the same rule — on BOTH
    quantizations: the ANN-shared √n cells (target_cell=None, what the
    oracle-gated catalog slot runs) and the linear-cost bounded cells
    (the production default's constant target_cell)."""
    import math

    from exstream_implementation_spark.plans.similarity import semantic_dedup

    sf_dir = "/root/testdata/sf0.01"
    min_cos = 0.35  # the 500-vector fixture has ~58 in-cell pairs here

    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )

    sqrt_stride = max(1, math.isqrt(len(rows)))
    for target_cell, stride in ((None, sqrt_stride), (64, 64)):
        want = _semdedup_mirror(rows, stride, min_cos)
        got = {
            r["vec_id"]: (r["keep_id"], r["cosine"])
            for r in semantic_dedup(
                spark, sf_dir, min_cosine=min_cos, target_cell=target_cell
            ).collect()
        }
        assert got == want, f"target_cell={target_cell}"
        assert want, "fixture produced no prunes — threshold too high to test"


def test_asof_join_matches_pandas_merge_asof(spark):
    """Property: the union+carry-forward as-of join must agree with pandas
    merge_asof(direction='backward') on randomized keyed series — including
    equal-timestamp matches, left rows before any right row, and keys
    present on only one side.  (The catalog oracle pins fixed data; this
    pins the SEMANTICS as data varies.)"""
    import numpy as np
    import pandas as pd

    import pytest

    from exstream_implementation_spark.operators.asof import asof_join_backward

    rng = np.random.default_rng(42)
    for trial in range(3):
        n_l, n_r = int(rng.integers(20, 120)), int(rng.integers(5, 80))
        left = pd.DataFrame(
            {
                "k": rng.integers(0, 5, n_l),
                "lts": rng.integers(0, 500, n_l),
                "lval": rng.normal(size=n_l).round(3),
            }
        )
        right = pd.DataFrame(
            {
                "k": rng.integers(0, 6, n_r),  # key 5 only on the right
                "rts": rng.integers(0, 500, n_r),
                "payload": rng.normal(size=n_r).round(3),
            }
        )
        # merge_asof is undefined across duplicate (k, rts): collapse to the
        # LAST row per (k, rts), matching the operator's documented tiebreak
        right = right.sort_values(["k", "rts"]).groupby(["k", "rts"], as_index=False).last()

        ldf = spark.createDataFrame(left.assign(row=np.arange(n_l)))
        rdf = spark.createDataFrame(right)
        got = {
            r["row"]: r["asof_payload"]
            for r in asof_join_backward(
                ldf, rdf, by="k", left_ts="lts", right_ts="rts",
                payload_cols=["payload"],
            ).collect()
        }

        want_df = pd.merge_asof(
            left.assign(row=np.arange(n_l)).sort_values("lts"),
            right.rename(columns={"rts": "lts"}).sort_values("lts"),
            on="lts", by="k", direction="backward",
        )
        want = dict(zip(want_df["row"], want_df["payload"]))
        for row in range(n_l):
            g, w = got.get(row), want.get(row)
            if w is None or (isinstance(w, float) and np.isnan(w)):
                assert g is None, (trial, row, g)
            else:
                assert g == pytest.approx(w), (trial, row, g, w)


def test_upward_probe_candidates_match_symmetric(spark):
    """The upward-flip (0→1) Hamming-1 probe must produce EXACTLY the
    candidate pair set of the symmetric ±flip probing: for a pair differing
    in bit k, the side holding 0 at k probes the other; equal-bucket pairs
    meet through the own-bucket probe."""
    from exstream_implementation_spark.plans.similarity import (
        _active_planes,
        _buckets_spark,
    )

    sf_dir = "/root/testdata/sf0.001"
    bands = _buckets_spark(spark, sf_dir).select("vec_id", "tbl", "bucket")
    planes = _active_planes(spark, sf_dir)

    sym_probes = bands.select(
        "vec_id",
        "tbl",
        F.explode(
            F.array_distinct(
                F.array(
                    F.col("bucket"),
                    *[
                        F.expr(f"cast(bucket ^ {1 << b} as long)")
                        for b in range(planes)
                    ],
                )
            )
        ).alias("pbucket"),
    )
    sym = (
        sym_probes.alias("a")
        .join(
            bands.alias("b"),
            (F.col("b.tbl") == F.col("a.tbl"))
            & (F.col("b.bucket") == F.col("a.pbucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select("a.vec_id", "b.vec_id")
    )
    want = {(r[0], r[1]) for r in sym.distinct().collect()}

    up_probes = bands.select(
        "vec_id",
        "tbl",
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.expr(
                        f"CASE WHEN bucket & {1 << b} = 0"
                        f" THEN cast(bucket | {1 << b} as long) END"
                    )
                    for b in range(planes)
                ],
            )
        ).alias("pbucket"),
    ).filter(F.col("pbucket").isNotNull())
    up = (
        up_probes.alias("a")
        .join(
            bands.alias("b"),
            (F.col("b.tbl") == F.col("a.tbl"))
            & (F.col("b.bucket") == F.col("a.pbucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.least("a.vec_id", "b.vec_id").alias("va"),
            F.greatest("a.vec_id", "b.vec_id").alias("vb"),
        )
    )
    got = {(r[0], r[1]) for r in up.distinct().collect()}
    assert got == want and len(got) > 0


def test_vectorized_buckets_match_sql_fold(spark):
    """The Arrow matmul bucket builder must reproduce the JVM fold's
    (vec_id, tbl, bucket) assignment exactly on the real corpus (a sign
    flip would need a dot within float-noise of zero)."""
    from exstream_implementation_spark.plans.similarity import (
        _buckets_spark,
        lsh_buckets_vectorized,
    )

    sf_dir = "/root/testdata/sf0.001"
    want = {
        (r["vec_id"], r["tbl"]): r["bucket"]
        for r in _buckets_spark(spark, sf_dir).collect()
    }
    got = {
        (r["vec_id"], r["tbl"]): r["bucket"]
        for r in lsh_buckets_vectorized(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


def test_neardup_vectorized_buckets_same_pairs(spark):
    from pyspark.sql import functions as F  # noqa: F811

    from exstream_implementation_spark.plans.similarity import (
        emb_neardup_lsh,
        lsh_buckets_vectorized,
    )

    sf_dir = "/root/testdata/sf0.001"
    base = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in emb_neardup_lsh(spark, sf_dir).collect()
    }
    vec = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in emb_neardup_lsh(
            spark, sf_dir, buckets=lsh_buckets_vectorized(spark, sf_dir)
        ).collect()
    }
    assert vec == base and len(vec) > 0


def test_emb_neardup_lsh_planted_neardup_recall(spark, tmp_path):
    """Recall gate at the CHOSEN operating point (TARGET_BUCKET_OCC=64,
    docs/ROUND8.md §5): near-duplicate pairs planted at cosine ≈ 0.94 into a
    4096-vector random corpus must be recovered at ≥ 0.9 through the
    ADAPTIVE-planes path (n=4396 → 7 planes — past the N_PLANES floor the
    sf0.01 gate exercises).  The base corpus has no high-cosine pairs, so
    every planted pair is a true near-dup the pass exists to catch."""
    import os

    import numpy as np

    from exstream_implementation_spark.plans import similarity as sim

    rng = np.random.default_rng(7)
    n_base, n_pairs, dim = 4096, 300, 64
    base = rng.standard_normal((n_base, dim))
    rows = [(i, int(i % 37), [float(x) for x in base[i]]) for i in range(n_base)]
    planted = []
    for k in range(n_pairs):
        src = k * 13 % n_base
        noise = rng.standard_normal(dim)
        v = base[src] + noise * (
            np.linalg.norm(base[src]) / np.linalg.norm(noise) * 0.35
        )
        vid = n_base + k
        rows.append((vid, int(src % 37), [float(x) for x in v]))
        planted.append((src, vid))
    d = str(tmp_path / "planted_corpus")
    spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    ).write.parquet(os.path.join(d, "embeddings.parquet"))

    sim._PLANES_CACHE.clear()
    try:
        got = {
            (r["vec_a"], r["vec_b"])
            for r in sim.emb_neardup_lsh(spark, d)
            .select("vec_a", "vec_b")
            .collect()
        }
        assert sim._PLANES_CACHE[d] == 7  # adaptive path, past the floor
    finally:
        sim._PLANES_CACHE.clear()  # tmp dir must not linger in the cache
    hits = sum(1 for s, v in planted if (min(s, v), max(s, v)) in got)
    assert hits / n_pairs >= 0.9, f"planted near-dup recall {hits}/{n_pairs}"


# rewards for the driver leap cut: a small pool makes exact ties and zero
# rewards common; the floats are rounded as the serving view rounds them
_REWARD_POOL = (-1.0, 0.0, 0.5, 1.0, 2.0)
_reward = st.one_of(
    st.sampled_from(_REWARD_POOL),
    st.floats(min_value=-5, max_value=5, allow_nan=False).map(
        lambda v: round_half_up(v, 6)
    ),
)


@st.composite
def _anomaly_rewards(draw):
    """One anomaly's rewards: 1-8 features, feature_order a permutation so a
    tie is broken by it rather than by list position."""
    rewards = draw(st.lists(_reward, min_size=1, max_size=8))
    orders = draw(st.permutations(range(len(rewards))))
    return [(f"f{o}", o, rw) for o, rw in zip(orders, rewards)]


@given(st.lists(_anomaly_rewards(), min_size=1, max_size=4))
@example([[("f0", 0, 2.885), ("f1", 1, 0.701)]])  # FIXTURES §5
@example([[("f0", 0, 1.0), ("f1", 1, 1.0), ("f2", 2, 1.0)]])  # all equal
@example([[("f0", 0, 0.0), ("f1", 1, 0.0)]])  # all zero: nothing cut
@example([[("f3", 3, 1.5)], [("f0", 0, 0.0)]])  # single-feature anomalies
# the largest leap (1.0) first follows a zero reward: that one is skipped
# and the cut falls at its second occurrence
@example([[("f0", 0, 0.5), ("f1", 1, 0.0), ("f2", 2, -1.0),
           ("f3", 3, -1.5), ("f4", 4, -2.5)]])
# the largest leap only ever follows a zero reward: nothing is cut
@example([[("f0", 0, 0.0), ("f1", 1, -2.0), ("f2", 2, -2.5)]])
# leaps compare exactly: in binary 0.3 - 0.2 < 0.2 - 0.1, so the max leap
# is the second one
@example([[("f0", 0, 0.3), ("f1", 1, 0.2), ("f2", 2, 0.1)]])
# exact ties broken by feature_order, not by row position
@example([[("f2", 2, 1.0), ("f0", 0, 1.0), ("f1", 1, 0.25)]])
@settings(max_examples=30, deadline=None)
def test_driver_leap_cut_matches_reference_loop(anomalies):
    """reward_leap_filter + assemble_explanations == oracle_pandas.leap_filter,
    the line-for-line port of the reference's cut loop
    (entropy_based_single_reward_feature.py:249-314), over each anomaly's
    rewards sorted as the reference sorts its dict: by reward, descending,
    stable over the feature column order."""
    from exstream_implementation_spark.operators.leap import (
        assemble_explanations,
        reward_leap_filter,
    )

    rows = [
        (f"a{i}", f, fo, rw)
        for i, rewards in enumerate(anomalies)
        for f, fo, rw in rewards
    ]
    got = {
        r["ano_key"]: (r["features"], r["feature_orders"])
        for r in assemble_explanations(reward_leap_filter(rows))
    }
    want = {}
    for i, rewards in enumerate(anomalies):
        by_column = sorted(rewards, key=lambda r: r[1])
        ordered = sorted(by_column, key=lambda r: r[2], reverse=True)
        kept = oracle.leap_filter([(f, rw) for f, _, rw in ordered])
        order_of = {f: fo for f, fo, _ in rewards}
        want[f"a{i}"] = (kept, [order_of[f] for f in kept])
    assert got == want


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=9), min_size=1, max_size=8),
        max_size=6,
    )
)
@example([])  # no sample run survived
@example([[2, 4], [2, 4], [2, 4]])  # identical runs: log2(k)
@settings(max_examples=200, deadline=None)
def test_explanation_instability_matches_oracle(explanations):
    """C9: the pipeline's driver entropy equals the oracle's frequency
    entropy over the sample runs' feature orders, and is None (SQL NULL)
    when no sample run survived."""
    from exstream_implementation_spark.pipeline import explanation_instability

    got = explanation_instability(explanations)
    if not explanations:
        assert got is None
    else:
        assert abs(got - oracle.instability(explanations)) <= 1e-12


_corr_value = st.one_of(
    # multiples of 1/8: no variance underflows, so numpy and the engine
    # agree on which columns are defined
    st.integers(min_value=-(10**6), max_value=10**6).map(lambda k: k / 8),
    st.sampled_from([0.1, 1e12, 1e12 + 0.5, None, math.nan, math.inf]),
)


@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=2), _corr_value, _corr_value),
        max_size=12,
    )
)
@example([(0, 0.1, 1.0), (0, 0.1, 2.0), (1, 1e12, 3.0), (1, 1e12 + 0.5, 1.0)])
@settings(max_examples=10, deadline=None)
def test_grouped_pearson_matches_numpy_per_run(rows):
    """C2's two-pass SQL Pearson over all runs in one call: per run, NaN
    exactly where numpy's corrcoef has no defined value (under 2 rows, a
    constant column, any NULL, NaN or inf), else numpy's coefficient."""
    import numpy as np

    from exstream_implementation_spark.operators.correlation import (
        correlation_matrices,
        feature_moments,
        no_rows,
    )
    from exstream_implementation_spark.session import get_spark

    spark = get_spark(app_name="exstream-spark-tests", shuffle_partitions=8)
    df = spark.createDataFrame(rows, "run_id int, x double, y double")
    moments = {r: no_rows(["x", "y"]) for r in range(3)}
    moments.update(feature_moments(df, ["x", "y"], "run_id"))
    got = correlation_matrices(df, ["x", "y"], moments, "run_id")
    for r in range(3):
        cols = [
            np.array([math.nan if row[k] is None else row[k] for row in rows if row[0] == r])
            for k in (1, 2)
        ]
        valid = [
            len(c) >= 2 and bool(np.all(np.isfinite(c))) and c.min() != c.max()
            for c in cols
        ]
        for i in range(2):
            for j in range(2):
                if valid[i] and valid[j]:
                    # numpy on a raw 1e12 column loses ~1e-9 of its own, so
                    # each column is shifted by its median first
                    a, b = (cols[k] - np.median(cols[k]) for k in (i, j))
                    want = np.corrcoef(a, b)[0, 1]
                    assert abs(got[r][i][j] - want) <= 1e-9, (r, i, j)
                else:
                    assert math.isnan(got[r][i][j]), (r, i, j)
