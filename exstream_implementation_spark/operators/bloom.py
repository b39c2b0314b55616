"""Distributed Bloom filters — the membership-test scale path for joins
whose small side outgrows a broadcast-able ROW set but still fits as a
BITMAP.

The motivating case is benchmark decontamination (plans/dedup.py): the
exact check is a semi-join of every corpus 3-gram against the benchmark
gram set.  A real eval suite is MB-sized and broadcasts as rows; a
CONSOLIDATED suite (every benchmark you ever test on, ~1e9 distinct
grams) no longer broadcasts as strings (~tens of GB) — but its Bloom
bitmap at 1% fpp is ~1.2 GB, still a legal broadcast.  Probing the
bitmap corpus-side turns the all-grams shuffle join into a map-side
filter that discards ~(1-fpp) of gram rows BEFORE any exchange; the
exact join then runs only on the survivors, so false positives cost a
few extra joined rows, never a wrong answer.

Execution shape (build): hash positions are computed JVM-side
(``xxhash64`` under whole-stage codegen — the Python boundary never sees
the values, only positions); one ``mapInPandas`` pass ORs them into
per-partition bitmap CHUNKS (64 KiB each, only chunks that contain set
bits are emitted); a groupBy(chunk_id) merge ORs partitions together.
Nothing corpus-sized moves: the shuffle carries at most
``partitions × ceil(m/chunk)`` chunk rows.  The assembled bitmap ships
to probes via a TorrentBroadcast (same mechanism Spark's own runtime
row-level Bloom filtering relies on).

Probe: positions again JVM-side; one Arrow-vectorized pandas UDF does
the numpy bit lookups against the broadcast bitmap.

Guarantees (pinned by tests): NO false negatives ever (a member's bits
were all set by construction); false-positive rate ≈ the configured
``fpp`` (standard (1-e^{-kn/m})^k sizing); the bitmap is bit-identical
regardless of input partitioning (OR is commutative) and across rebuilds
(xxhash64 is deterministic) — so retries and incremental rebuilds agree.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 2^19 bits = 64 KiB per chunk: big enough that a dense bitmap is a few
# thousand rows, small enough that sparse partitions skip empty regions
CHUNK_BITS = 1 << 19
_CHUNK_BYTES = CHUNK_BITS // 8


@dataclass(frozen=True)
class BloomFilter:
    """Driver-side assembled filter: packed little-endian-bit bitmap plus
    the parameters a probe must reuse (positions depend on all three)."""

    bits: np.ndarray  # uint8, ceil(m_bits/8) bytes
    m_bits: int
    k_hashes: int
    seed: int
    # memoized TorrentBroadcast of ``bits`` — probing the same filter
    # repeatedly must not pin a fresh bitmap copy per call
    _bc: object = field(default=None, compare=False, repr=False)
    _bc_sc: object = field(default=None, compare=False, repr=False)

    def fill_ratio(self) -> float:
        return float(np.unpackbits(self.bits).sum()) / self.m_bits

    def broadcast(self, sc):
        """The (memoized per SparkContext) executor-side handle for
        ``bits`` — a filter that outlives a context restart re-broadcasts
        on the live context instead of handing out a destroyed handle."""
        if self._bc is None or self._bc_sc is not sc:
            object.__setattr__(self, "_bc", sc.broadcast(self.bits))
            object.__setattr__(self, "_bc_sc", sc)
        return self._bc


def bloom_params(
    n_items: int, fpp: float, cost_balanced: bool = False
) -> tuple[int, int]:
    """Textbook sizing: m = -n ln p / (ln 2)^2 bits, k = (m/n) ln 2
    hash functions.  m is rounded up to a whole chunk so every chunk is
    the same size; k is clamped to [1, 30] — the chunk rounding can
    oversize m by orders of magnitude for tiny n, where the "optimal"
    k = (m/n) ln 2 explodes into an unusably wide hash expression while
    an oversized m already beats the target fpp at any small k (the
    un-rounded optimum never exceeds ln(1/fpp)/ln 2, i.e. 30 covers
    fpp >= 1e-9).

    ``cost_balanced=True`` re-optimizes for DISTRIBUTED cost instead of
    bits: build and probe work scale with POSITIONS (k rows per key
    through hash/explode/exchange/Arrow), while bits only size the
    persisted table, so the textbook bits-optimal k overpays wherever n
    is corpus-scale.  Picks the smallest k whose required m — solving
    fill = fpp^(1/k), m = -k·n / ln(1-fill) — stays within 1.15× the
    bits-optimal m.  At fpp=0.01 that is k=4 at +9.7% bits for −43%
    positions; the realized rate still meets ``fpp`` at capacity because
    m is derived FROM the target for the chosen k."""
    if n_items < 1:
        raise ValueError(f"n_items must be >= 1: {n_items}")
    if not 0.0 < fpp < 1.0:
        raise ValueError(f"fpp must be in (0, 1): {fpp}")
    m_exact = -n_items * math.log(fpp) / (math.log(2) ** 2)
    # derive k from the UN-rounded m (the true optimum for the target
    # fpp); the rounded-up m only ever lowers the realized rate
    k = min(30, max(1, round(m_exact / n_items * math.log(2))))
    if cost_balanced:
        for k_try in range(1, k):
            fill = fpp ** (1.0 / k_try)
            m_try = -k_try * n_items / math.log(1.0 - fill)
            if m_try <= 1.15 * m_exact:
                m_exact, k = m_try, k_try
                break
    m = ((int(math.ceil(m_exact)) + CHUNK_BITS - 1) // CHUNK_BITS) * CHUNK_BITS
    return m, k


def _positions(col: str, m_bits: int, k_hashes: int, seed: int) -> Column:
    """array<long> of the k bit positions for ``col`` — pure JVM codegen
    (xxhash64 + pmod), evaluated identically at build and probe time.

    The value is canonicalized to STRING before hashing: xxhash64 hashes
    IntegerType and LongType differently, so without the cast a probe
    column of a different INTEGER WIDTH than the build column would miss
    every member — a false negative, the one error class a Bloom filter
    must never produce.  The canonicalization covers integer widths only:
    int 1 and double 1.0 render as '1' vs '1.0', so build and probe must
    still present the same logical type family (cast consistently at the
    call site when mixing)."""
    return F.array(
        *[
            F.pmod(
                F.xxhash64(
                    F.lit(seed), F.lit(i), F.col(col).cast("string")
                ),
                F.lit(m_bits),
            )
            for i in range(k_hashes)
        ]
    )


def bloom_chunks(
    df: DataFrame,
    col: str,
    m_bits: int,
    k_hashes: int,
    seed: int,
    by_chunk: bool | None = None,
) -> DataFrame:
    """(chunk_id, bits) — the distributed build state, one <=64 KiB row
    per non-empty chunk after the cross-partition OR.  Exposed separately
    from ``build_bloom`` so incremental pipelines can persist the chunk
    table and OR tomorrow's chunks into it (union + this same merge)
    instead of rebuilding from history.

    Two physically different plans produce the IDENTICAL table (OR is
    commutative; a test pins byte equality):

      by_chunk=False  per-input-partition dense partials, then a
                      groupBy(chunk_id) OR merge.  Right for SMALL
                      filters, where a partition touches few chunks and
                      the merge shuffle is tiny.
      by_chunk=True   explode positions and hash-partition them by
                      chunk_id FIRST, so every chunk is built exactly
                      once and the merge stage disappears.  Right for
                      CORPUS-SCALE filters: the dense-partial form emits
                      partitions × m/8 bytes through Python twice (the
                      r11 x1000 init tax), where this form shuffles the
                      positions once JVM-side and emits m/8 bytes once.

    Default: by_chunk for filters of >= 1024 chunks (64 MiB+)."""
    if m_bits % CHUNK_BITS != 0:
        raise ValueError(
            f"m_bits must be a multiple of {CHUNK_BITS}: {m_bits}"
        )
    if by_chunk is None:
        by_chunk = m_bits // CHUNK_BITS >= 1024
    if by_chunk:
        return _bloom_chunks_by_chunk(df, col, m_bits, k_hashes, seed)
    pos = (
        df.filter(F.col(col).isNotNull())
        .select(_positions(col, m_bits, k_hashes, seed).alias("__pos"))
    )

    def to_chunks(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict = {}
        for pdf in it:
            if pdf.empty:
                continue
            p = np.concatenate(pdf["__pos"].to_numpy())
            cid = p // CHUNK_BITS
            local = p % CHUNK_BITS
            # one argsort groups positions by chunk — O(n log n) per
            # batch; a per-chunk boolean mask would rescan the full
            # position array once per touched chunk (quadratic when a
            # dense partition touches thousands of chunks)
            order = np.argsort(cid, kind="stable")
            uniq, starts = np.unique(cid[order], return_index=True)
            for c, sel in zip(uniq, np.split(local[order], starts[1:])):
                chunk = acc.get(int(c))
                if chunk is None:
                    chunk = acc[int(c)] = np.zeros(
                        _CHUNK_BYTES, dtype=np.uint8
                    )
                if len(sel) >= 4096:
                    # dense chunk: boolean scatter + packbits is ~30×
                    # faster than the unbuffered bitwise_or.at ufunc —
                    # the dominant cost of a corpus-scale init build
                    # (the r11 +590 s x1000 init tax lived here)
                    bl = np.zeros(CHUNK_BITS, dtype=bool)
                    bl[sel] = True
                    chunk |= np.packbits(bl, bitorder="little")
                else:
                    np.bitwise_or.at(
                        chunk,
                        sel >> 3,
                        np.left_shift(1, sel & 7).astype(np.uint8),
                    )
        if acc:
            yield pd.DataFrame(
                {
                    "chunk_id": list(acc.keys()),
                    "bits": [a.tobytes() for a in acc.values()],
                }
            )

    partials = pos.mapInPandas(
        to_chunks, schema="chunk_id int, bits binary"
    )

    def or_merge(pdf: pd.DataFrame) -> pd.DataFrame:
        out = np.zeros(_CHUNK_BYTES, dtype=np.uint8)
        for b in pdf["bits"]:
            out |= np.frombuffer(b, dtype=np.uint8)
        return pd.DataFrame(
            {"chunk_id": [pdf["chunk_id"].iloc[0]], "bits": [out.tobytes()]}
        )

    return partials.groupBy("chunk_id").applyInPandas(
        or_merge, schema="chunk_id int, bits binary"
    )


def _bloom_chunks_by_chunk(
    df: DataFrame, col: str, m_bits: int, k_hashes: int, seed: int
) -> DataFrame:
    """The corpus-scale build plan (see bloom_chunks): single exploded
    positions exchange hash-partitioned on chunk_id, then ONE Python pass
    that owns each of its chunks outright — total Python emission is
    exactly m/8 bytes however many partitions hash/scan the input, and
    there is no second (merge) pass."""
    spark = df.sparkSession
    parts = spark.sparkContext.defaultParallelism
    pos = (
        df.filter(F.col(col).isNotNull())
        .select(
            F.explode(
                _positions(col, m_bits, k_hashes, seed)
            ).alias("__p")
        )
        .repartition(
            parts, (F.col("__p") / CHUNK_BITS).cast("int")
        )
    )

    def to_owned_chunks(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict = {}
        for pdf in it:
            if pdf.empty:
                continue
            p = pdf["__p"].to_numpy()
            cid = p // CHUNK_BITS
            local = p % CHUNK_BITS
            order = np.argsort(cid, kind="stable")
            uniq, starts = np.unique(cid[order], return_index=True)
            for c, sel in zip(uniq, np.split(local[order], starts[1:])):
                chunk = acc.get(int(c))
                if chunk is None:
                    chunk = acc[int(c)] = np.zeros(
                        _CHUNK_BYTES, dtype=np.uint8
                    )
                if len(sel) >= 4096:
                    bl = np.zeros(CHUNK_BITS, dtype=bool)
                    bl[sel] = True
                    chunk |= np.packbits(bl, bitorder="little")
                else:
                    np.bitwise_or.at(
                        chunk,
                        sel >> 3,
                        np.left_shift(1, sel & 7).astype(np.uint8),
                    )
        if acc:
            yield pd.DataFrame(
                {
                    "chunk_id": list(acc.keys()),
                    "bits": [a.tobytes() for a in acc.values()],
                }
            )

    return pos.mapInPandas(
        to_owned_chunks, schema="chunk_id int, bits binary"
    )


def build_bloom(
    df: DataFrame,
    col: str,
    n_items: int | None = None,
    fpp: float = 0.01,
    m_bits: int | None = None,
    k_hashes: int | None = None,
    seed: int = 42,
) -> BloomFilter:
    """Build and assemble a BloomFilter over ``df[col]`` (nulls are not
    members).  Size with (``n_items``, ``fpp``) — or pin ``m_bits`` (a
    multiple of CHUNK_BITS) and ``k_hashes`` directly.  EAGER: runs the
    chunk jobs now; the filter side of a Bloom pipeline is the small one
    by construction, so this is the centroid-fetch class of bounded
    action, not a corpus scan."""
    if m_bits is None:
        if n_items is None:
            raise ValueError("pass n_items (with fpp) or m_bits")
        m_bits, derived_k = bloom_params(n_items, fpp)
        k_hashes = k_hashes or derived_k
    elif k_hashes is None:
        raise ValueError("explicit m_bits requires explicit k_hashes")
    bitmap = np.zeros(m_bits // 8, dtype=np.uint8)
    for row in bloom_chunks(
        df, col, m_bits, k_hashes, seed
    ).toLocalIterator():
        start = row["chunk_id"] * _CHUNK_BYTES
        bitmap[start : start + _CHUNK_BYTES] |= np.frombuffer(
            row["bits"], dtype=np.uint8
        )
    return BloomFilter(
        bits=bitmap, m_bits=m_bits, k_hashes=k_hashes, seed=seed
    )


def might_contain(
    df: DataFrame,
    col: str,
    bloom: BloomFilter,
    out_col: str = "might_contain",
) -> DataFrame:
    """Append a boolean: False is DEFINITE absence, True means present
    with probability >= 1 - fpp.  Nulls are never members.  Positions are
    JVM codegen; the bit lookup is one Arrow-vectorized numpy gather
    against the TorrentBroadcast bitmap (memoized on the filter — probing
    the same BloomFilter many times reuses one broadcast)."""
    bc = bloom.broadcast(df.sparkSession.sparkContext)

    @F.pandas_udf("boolean")
    def probe(pos: pd.Series) -> pd.Series:
        bits = bc.value
        if len(pos) == 0:
            return pd.Series([], dtype=bool)
        mat = np.vstack(pos.to_numpy())
        hit = (bits[mat >> 3] >> (mat & 7).astype(np.uint8)) & 1
        return pd.Series(hit.all(axis=1))

    return df.withColumn(
        out_col,
        F.when(F.col(col).isNull(), F.lit(False)).otherwise(
            probe(_positions(col, bloom.m_bits, bloom.k_hashes, bloom.seed))
        ),
    )


def bloom_prefilter(
    probe: DataFrame, members: DataFrame, col: str, fpp: float
) -> tuple[DataFrame, DataFrame]:
    """The standard prefilter composition shared by the decontamination
    arm (plans/dedup.decontaminate):
    persist ``members`` (it is read again by the bloom build and by the
    caller's verify join), build its filter eagerly, and return
    (``probe`` filtered to might-contain rows, the persisted ``members``).
    An empty member set skips the filter — the caller's exact join
    against it yields nothing anyway."""
    from exstream_implementation_spark.cache import tracked_persist

    members = tracked_persist(members)
    n = members.count()
    if n > 0:
        flt = build_bloom(members, col, n_items=n, fpp=fpp)
        probe = (
            might_contain(probe, col, flt, "__bloom_mc")
            .filter(F.col("__bloom_mc"))
            .drop("__bloom_mc")
        )
    return probe, members
