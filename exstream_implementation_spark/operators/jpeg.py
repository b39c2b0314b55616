"""Baseline JPEG codec — pure numpy + stdlib, no system codec.

Completes the multimodal decode story (operators/multimodal.py) beside BMP
and PNG: baseline sequential (SOF0) DCT JPEG, 8-bit, 4:4:4 and
chroma-subsampled, optimized per-image Huffman tables.

Scope and honesty:
  * ``encode_jpeg`` writes a spec-conformant JFIF stream: level
    shift → 2D DCT-II (orthonormal matrix product) → quality-scaled
    quantization → zigzag → DC-differential + AC run-length → canonical
    Huffman (tables BUILT from this image's symbol frequencies, emitted in
    DHT — no memorized Annex K constants to get subtly wrong) → byte-stuffed
    entropy stream.
  * ``decode_jpeg`` parses the marker stream and inverts each step, reading
    quant + Huffman tables FROM THE FILE, so it decodes any single-scan
    interleaved baseline JPEG, 4:4:4 AND chroma-subsampled (4:2:0/4:2:2/
    4:4:0, any integer factor ratio; nearest-neighbor chroma upsample) —
    not just our own.  Progressive, 12-bit, arithmetic-coded, lossless and
    hierarchical variants, restart intervals (DRI) and multi-scan
    sequential streams refuse loudly with NotImplementedError — swap in
    PIL/libjpeg-turbo on a real cluster.
  * JPEG is lossy: round-trips are exact only for DC-flat blocks; tests pin
    exactness there and PSNR elsewhere, plus pure-math invariants (DCT
    orthonormality, zigzag involution) that a shared encoder/decoder bug
    could not fake.

The zigzag order is GENERATED from the diagonal rule (sum s asc; odd s row
asc, even s row desc) rather than typed in; quant tables are the standard
ones but carried by DQT, so a transcription slip would change quality, not
correctness.
"""

from __future__ import annotations

import struct

import numpy as np

# --- constants ---------------------------------------------------------------


def _zigzag_order() -> np.ndarray:
    """(64,) flat indices of the 8×8 zigzag scan, generated from the rule:
    diagonals by ascending r+c; odd diagonals walk row-ascending, even ones
    row-descending."""
    cells = []
    for s in range(15):
        rng = range(max(0, s - 7), min(s, 7) + 1)  # rows on this diagonal
        rows = rng if s % 2 == 1 else reversed(rng)
        cells.extend((r, s - r) for r in rows)
    return np.array([r * 8 + c for r, c in cells], dtype=np.int64)


ZIGZAG = _zigzag_order()
UNZIGZAG = np.argsort(ZIGZAG)

# standard base quantization tables (carried in DQT, so they set quality,
# not conformance)
_QL = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.float64,
)
_QC = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.float64,
)


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """libjpeg quality scaling: 1..100 → scaled integer tables in 1..255."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 / q if q < 50 else 200 - 2 * q
    out = []
    for base in (_QL, _QC):
        t = np.floor((base * scale + 50) / 100)
        out.append(np.clip(t, 1, 255).astype(np.int64))
    return out[0], out[1]


def _dct_matrix() -> np.ndarray:
    """Orthonormal DCT-II matrix D: forward = D @ B @ D.T, inverse = D.T·C·D."""
    k = np.arange(8)[:, None]
    n = np.arange(8)[None, :]
    d = np.cos((2 * n + 1) * k * np.pi / 16) * np.sqrt(2 / 8)
    d[0, :] = np.sqrt(1 / 8)
    return d


DCT = _dct_matrix()


# --- color transforms (BT.601, the JFIF convention) --------------------------
def rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.stack([r, g, b], axis=-1)


# --- Huffman: optimal length-limited canonical tables ------------------------
def _optimal_code_lengths(freqs: dict[int, int]) -> dict[int, int]:
    """JPEG-style optimal code lengths (libjpeg jpeg_gen_optimal_table):
    pairwise merge, then limit to 16 bits by moving symbols up.  A pseudo-
    symbol 256 (freq 1) reserves the all-ones codepoint per the spec."""
    freq = np.zeros(257, dtype=np.int64)
    for sym, f in freqs.items():
        freq[sym] = f
    freq[256] = 1
    codesize = np.zeros(257, dtype=np.int64)
    others = np.full(257, -1, dtype=np.int64)
    while True:
        present = np.where(freq > 0)[0]
        if len(present) <= 1:
            break
        # two least-frequent (ties → higher symbol value first, like libjpeg)
        order = present[np.lexsort((-present, freq[present]))]
        c1, c2 = int(order[0]), int(order[1])
        freq[c1] += freq[c2]
        freq[c2] = 0
        codesize[c1] += 1
        while others[c1] >= 0:
            c1 = int(others[c1])
            codesize[c1] += 1
        others[c1] = c2
        codesize[c2] += 1
        while others[c2] >= 0:
            c2 = int(others[c2])
            codesize[c2] += 1
    bits = np.zeros(33, dtype=np.int64)
    for size in codesize[codesize > 0]:
        bits[min(int(size), 32)] += 1
    # limit to 16 bits (libjpeg's adjustment: take two from the longest
    # level, move one up a level, pair the other deeper)
    for i in range(32, 16, -1):
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
    # drop the pseudo-symbol's codepoint (largest code of the longest run)
    i = 16
    while bits[i] == 0:
        i -= 1
    bits[i] -= 1
    # canonical: symbols sorted by (codesize, symbol), pseudo excluded
    syms = [s for s in range(256) if codesize[s] > 0]
    syms.sort(key=lambda s: (codesize[s], s))
    lengths: dict[int, int] = {}
    k = 0
    for ln in range(1, 17):
        for _ in range(int(bits[ln])):
            lengths[syms[k]] = ln
            k += 1
    assert k == len(syms)
    return lengths


class _HuffTable:
    """Canonical Huffman table: encode map + DHT payload + decode index."""

    def __init__(self, lengths: dict[int, int]):
        self.lengths = lengths
        bysize = sorted(lengths.items(), key=lambda kv: (kv[1], kv[0]))
        self.codes: dict[int, tuple[int, int]] = {}
        code, prev_len = 0, 0
        for sym, ln in bysize:
            code <<= ln - prev_len
            self.codes[sym] = (code, ln)
            code += 1
            prev_len = ln
        self.bits = [0] * 17
        for _, ln in bysize:
            self.bits[ln] += 1
        self.vals = [sym for sym, _ in bysize]

    @classmethod
    def from_dht(cls, bits: list[int], vals: list[int]) -> "_HuffTable":
        lengths: dict[int, int] = {}
        k = 0
        for ln in range(1, 17):
            for _ in range(bits[ln]):
                lengths[vals[k]] = ln
                k += 1
        return cls(lengths)

    def dht_payload(self) -> bytes:
        return bytes(self.bits[1:17]) + bytes(self.vals)

    def decoder_index(self):
        """per length: (mincode, maxcode, first val index) for fast decode."""
        idx, code, k = {}, 0, 0
        for ln in range(1, 17):
            n = self.bits[ln]
            if n:
                idx[ln] = (code, code + n - 1, k)
                code += n
                k += n
            code <<= 1
        return idx


# --- bit I/O with 0xFF byte stuffing ----------------------------------------
class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec
        return bytes(self.out)


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("JPEG entropy stream truncated")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos < len(self.data) and self.data[self.pos] == 0x00:
                self.pos += 1  # stuffed byte
            else:
                raise ValueError("unexpected marker inside entropy stream")
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _decode_symbol(reader: _BitReader, index) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | reader.read_bit()
        if ln in index:
            lo, hi, k = index[ln]
            if lo <= code <= hi:
                return index["vals"][k + code - lo]
    raise ValueError("invalid Huffman code in JPEG stream")


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _extend(bits: int, size: int) -> int:
    """JPEG EXTEND: magnitude bits → signed value (one's complement negs)."""
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


# --- encoder -----------------------------------------------------------------
_SUBSAMPLING = {
    # component (h, v) sampling factors, Y Cb Cr
    "444": ((1, 1), (1, 1), (1, 1)),
    "422": ((2, 1), (1, 1), (1, 1)),
    "420": ((2, 2), (1, 1), (1, 1)),
}

def encode_jpeg(
    arr: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
) -> bytes:
    """(h, w, 3) uint8 RGB → baseline JFIF bytes (optimized tables).

    ``subsampling``: "444" (default), "422", or "420" (2×2 box-averaged
    chroma, the variant virtually all web JPEGs use).  Interleaved MCUs per
    ITU T.81 §A.2.3: each MCU carries h_i×v_i blocks per component in
    raster order within the MCU.
    """
    h, w, c = arr.shape
    if c != 3:
        raise ValueError("encode_jpeg expects (h, w, 3) RGB")
    if subsampling not in _SUBSAMPLING:
        raise ValueError(f"subsampling must be one of {set(_SUBSAMPLING)}")
    factors = _SUBSAMPLING[subsampling]
    hmax = max(f for f, _ in factors)
    vmax = max(v for _, v in factors)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    ql, qc = _quality_tables(quality)
    ycc = rgb_to_ycbcr(arr.astype(np.float64))

    # per component: box-downsample chroma, pad to full MCU coverage,
    # DCT + quantize, then reorder blocks raster → MCU-scan order (for
    # 4:4:4 the reorder is the identity)
    comp_coefs = []
    for ci, (fh, fv) in enumerate(factors):
        ch = ycc[:, :, ci]
        sy, sx = vmax // fv, hmax // fh
        if sy > 1 or sx > 1:
            ph, pw = -(-h // sy) * sy, -(-w // sx) * sx
            p = np.pad(ch, ((0, ph - h), (0, pw - w)), mode="edge")
            ch = p.reshape(ph // sy, sy, pw // sx, sx).mean(axis=(1, 3))
        chh, chw = ch.shape
        CH, CW = mcuy * fv * 8, mcux * fh * 8
        p = np.pad(ch, ((0, CH - chh), (0, CW - chw)), mode="edge") - 128.0
        blocks = (
            p.reshape(CH // 8, 8, CW // 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(-1, 8, 8)
        )
        coefs = np.einsum("ij,njk,lk->nil", DCT, blocks, DCT)
        q = ql if ci == 0 else qc
        zz = np.round(coefs / q).astype(np.int64).reshape(-1, 64)[:, ZIGZAG]
        nbx = CW // 8
        order = np.array(
            [
                (my * fv + by) * nbx + (mx * fh + bx)
                for my in range(mcuy)
                for mx in range(mcux)
                for by in range(fv)
                for bx in range(fh)
            ],
            dtype=np.int64,
        )
        comp_coefs.append(zz[order])

    # symbol statistics → optimal tables (luma: tables 0, chroma: tables 1)
    def symbols(ci):
        dc_syms, ac_syms = [], []
        prev = 0
        for blk in comp_coefs[ci]:
            diff = int(blk[0]) - prev
            prev = int(blk[0])
            dc_syms.append(_category(diff))
            run = 0
            ac = blk[1:]
            nz = np.nonzero(ac)[0]
            last = nz[-1] if len(nz) else -1
            for i in range(64 - 1):
                if i > last:
                    ac_syms.append(0x00)  # EOB
                    break
                v = int(ac[i])
                if v == 0:
                    run += 1
                    if run == 16:
                        ac_syms.append(0xF0)  # ZRL
                        run = 0
                else:
                    ac_syms.append((run << 4) | _category(v))
                    run = 0
        return dc_syms, ac_syms

    stats = [symbols(0), symbols(1), symbols(2)]
    freq = lambda seqs: {
        s: sum(seq.count(s) for seq in seqs) for s in set().union(*seqs)
    }
    dc_l = _HuffTable(_optimal_code_lengths(freq([stats[0][0]])))
    ac_l = _HuffTable(_optimal_code_lengths(freq([stats[0][1]])))
    dc_c = _HuffTable(_optimal_code_lengths(freq([stats[1][0], stats[2][0]])))
    ac_c = _HuffTable(_optimal_code_lengths(freq([stats[1][1], stats[2][1]])))

    # entropy-code interleaved MCUs: h_i×v_i blocks per component per MCU,
    # consumed sequentially from each component's scan-ordered block list
    bw = _BitWriter()
    prev_dc = [0, 0, 0]
    cursor = [0, 0, 0]
    blocks_per_mcu = [fh * fv for fh, fv in factors]
    for _ in range(mcux * mcuy):
        for ci in range(3):
            for _ in range(blocks_per_mcu[ci]):
                dct_t = dc_l if ci == 0 else dc_c
                act_t = ac_l if ci == 0 else ac_c
                blk = comp_coefs[ci][cursor[ci]]
                cursor[ci] += 1
                diff = int(blk[0]) - prev_dc[ci]
                prev_dc[ci] = int(blk[0])
                size = _category(diff)
                code, ln = dct_t.codes[size]
                bw.write(code, ln)
                if size:
                    bw.write(diff if diff > 0 else diff + (1 << size) - 1, size)
                run = 0
                ac = blk[1:]
                nz = np.nonzero(ac)[0]
                last = nz[-1] if len(nz) else -1
                for i in range(63):
                    if i > last:
                        code, ln = act_t.codes[0x00]
                        bw.write(code, ln)
                        break
                    v = int(ac[i])
                    if v == 0:
                        run += 1
                        if run == 16:
                            code, ln = act_t.codes[0xF0]
                            bw.write(code, ln)
                            run = 0
                    else:
                        size = _category(v)
                        code, ln = act_t.codes[(run << 4) | size]
                        bw.write(code, ln)
                        bw.write(v if v > 0 else v + (1 << size) - 1, size)
                        run = 0

    # marker stream
    seg = _seg
    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tq, q in ((0, ql), (1, qc)):
        out += seg(0xFFDB, bytes([tq]) + bytes(q.reshape(-1)[ZIGZAG].tolist()))
    sof_comps = []
    for ci, (fh, fv) in enumerate(factors):
        sof_comps += [ci + 1, (fh << 4) | fv, 0 if ci == 0 else 1]
    out += seg(
        0xFFC0,
        struct.pack(">BHHB", 8, h, w, 3) + bytes(sof_comps),
    )
    for tc_th, t in ((0x00, dc_l), (0x10, ac_l), (0x01, dc_c), (0x11, ac_c)):
        out += seg(0xFFC4, bytes([tc_th]) + t.dht_payload())
    out += seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    out += bw.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">HH", marker, len(payload) + 2) + payload


# --- decoder -----------------------------------------------------------------
def _decode_block(reader, blk, dc_idx, ac_idx, preds, cid):
    """One block of a baseline scan: the DC difference, then the AC
    run-length symbols up to EOB (T.81 §F.2.2)."""
    size = _decode_symbol(reader, dc_idx)
    preds[cid] += _extend(reader.read_bits(size), size)
    blk[0] = preds[cid]
    k = 1
    while k <= 63:
        sym = _decode_symbol(reader, ac_idx)
        r, s = sym >> 4, sym & 0xF
        if s:
            k += r
            if k > 63:
                raise ValueError("AC run past block end")
            blk[k] = _extend(reader.read_bits(s), s)
            k += 1
        elif r == 15:
            k += 16  # ZRL
        elif r == 0:
            return  # EOB
        else:
            # EOBn is progressive-only: in a sequential scan it means a
            # corrupt entropy stream, and decoding on would desynchronize
            # every later coefficient
            raise ValueError("bad AC symbol")


def decode_jpeg(payload: bytes) -> np.ndarray:
    """8-bit Huffman baseline JFIF bytes → (h, w, 3) uint8 RGB.

    Tables come from the file (DQT/DHT); the one interleaved scan walks the
    MCU lattice.  Any integer sampling-factor combination where
    max_factor % factor == 0 decodes (4:4:4, 4:2:0, 4:2:2, 4:4:0, ...);
    subsampled chroma is nearest-neighbor upsampled before YCbCr→RGB.
    Progressive, 12-bit, arithmetic-coded, lossless and hierarchical
    variants, restart intervals and non-interleaved scans refuse loudly
    with NotImplementedError."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream (no SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    sof = None
    grids = None
    comp_f = None
    mcux = mcuy = hmax = vmax = 0
    saw_scan = False
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        # spec-legal fill: any run of extra 0xFF padding bytes may precede
        # the marker code (ITU T.81 §B.1.1.2) — skip to the last 0xFF
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        marker = struct.unpack_from(">H", payload, pos)[0]
        if marker == 0xFFD9:
            break
        # standalone (length-less) markers: TEM and RST0-RST7
        if marker == 0xFF01 or 0xFFD0 <= marker <= 0xFFD7:
            pos += 2
            continue
        ln = struct.unpack_from(">H", payload, pos + 2)[0]
        body = payload[pos + 4 : pos + 2 + ln]
        if marker == 0xFFDB:
            bpos = 0
            while bpos < len(body):
                pq_tq = body[bpos]
                if pq_tq >> 4 != 0:
                    raise NotImplementedError("16-bit quant tables unsupported")
                tbl = np.zeros(64, dtype=np.int64)
                tbl[ZIGZAG] = np.frombuffer(
                    body, np.uint8, 64, bpos + 1
                ).astype(np.int64)
                qt[pq_tq & 0xF] = tbl.reshape(8, 8)
                bpos += 65
        elif marker == 0xFFC0:
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit JPEG unsupported")
            comps = []
            for i in range(nc):
                cid, samp, tq = body[6 + 3 * i : 9 + 3 * i]
                fh, fv = samp >> 4, samp & 0xF
                if not (1 <= fh <= 4 and 1 <= fv <= 4):
                    raise ValueError(f"bad sampling factors {fh}x{fv}")
                comps.append((cid, tq, fh, fv))
            if len(comps) != 3:
                raise NotImplementedError(
                    "only 3-component (YCbCr) JPEG decodes here"
                )
            # MCU geometry from the sampling factors (T.81 §A.2.3): an MCU
            # covers 8·hmax × 8·vmax pixels; component i contributes
            # fh_i×fv_i blocks per MCU, raster order within the MCU
            hmax = max(fh for _, _, fh, _ in comps)
            vmax = max(fv for _, _, _, fv in comps)
            for cid, _, fh, fv in comps:
                if hmax % fh or vmax % fv:
                    raise NotImplementedError(
                        f"non-integer upsample ratio for component {cid} "
                        f"({fh}x{fv} vs max {hmax}x{vmax})"
                    )
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            comp_f = {cid: (fh, fv) for cid, _, fh, fv in comps}
            # quantized coefficients, zigzag order; dequantize + IDCT
            # happen once at EOI
            grids = {
                cid: np.zeros((mcuy * fv, mcux * fh, 64), dtype=np.int64)
                for cid, _, fh, fv in comps
            }
            sof = (h, w, comps)
        elif marker in (
            0xFFC1, 0xFFC2, 0xFFC3, 0xFFC5, 0xFFC6, 0xFFC7,
            0xFFC9, 0xFFCA, 0xFFCB, 0xFFCD, 0xFFCE, 0xFFCF,
        ):
            raise NotImplementedError(
                "only baseline (SOF0) JPEG decodes here"
            )
        elif marker == 0xFFC4:
            bpos = 0
            while bpos < len(body):
                tc_th = body[bpos]
                bits = [0] + list(body[bpos + 1 : bpos + 17])
                nv = sum(bits)
                vals = list(body[bpos + 17 : bpos + 17 + nv])
                t = _HuffTable.from_dht(bits, vals)
                index = t.decoder_index()
                index["vals"] = t.vals
                huff[(tc_th >> 4, tc_th & 0xF)] = index
                bpos += 17 + nv
        elif marker == 0xFFDD:
            if struct.unpack_from(">H", body, 0)[0]:
                raise NotImplementedError("restart intervals (DRI) unsupported")
        elif marker == 0xFFDA:
            if grids is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scomps = [
                (body[1 + 2 * i], body[2 + 2 * i] >> 4, body[2 + 2 * i] & 0xF)
                for i in range(ns)
            ]
            for cid, _, _ in scomps:
                if cid not in comp_f:
                    raise ValueError(f"scan references unknown component {cid}")
            if saw_scan or ns != len(comp_f):
                raise NotImplementedError(
                    "only single-scan interleaved baseline JPEG decodes here"
                )
            if body[1 + 2 * ns : 4 + 2 * ns] != bytes([0, 63, 0]):
                raise ValueError("baseline scan must be Ss=0 Se=63 Ah=Al=0")
            data_start = pos + 2 + ln
            reader = _BitReader(memoryview(payload)[data_start:])
            preds = {cid: 0 for cid, _, _ in scomps}
            for my in range(mcuy):
                for mx in range(mcux):
                    for cid, td, ta in scomps:
                        fh, fv = comp_f[cid]
                        for by in range(fv):
                            for bx in range(fh):
                                _decode_block(
                                    reader,
                                    grids[cid][my * fv + by, mx * fh + bx],
                                    huff[(0, td)], huff[(1, ta)], preds, cid,
                                )
            saw_scan = True
            # entropy data ends at the next true marker; the reader stops
            # exactly after the last consumed byte (pad bits unread)
            p = data_start + reader.pos
            while p < len(payload) and payload[p] != 0xFF:
                p += 1
            pos = p
            continue
        pos += 2 + ln
    if sof is None or not saw_scan:
        raise ValueError("JPEG stream missing SOF/SOS")
    h, w, comps = sof
    comp_q = {cid: qt[tq] for cid, tq, _, _ in comps}

    # dequantize, inverse DCT, crop each component to its own resolution,
    # upsample subsampled components (nearest neighbor) to full frame
    chans = []
    for cid, _, fh, fv in comps:
        nby, nbx = grids[cid].shape[:2]
        zz = grids[cid].reshape(-1, 64)
        nat = np.zeros(zz.shape, dtype=np.float64)
        nat[:, ZIGZAG] = zz
        blocks = nat.reshape(-1, 8, 8) * comp_q[cid]
        spatial = np.einsum("ji,njk,kl->nil", DCT, blocks, DCT) + 128.0
        grid = spatial.reshape(nby, nbx, 8, 8).transpose(0, 2, 1, 3)
        plane = grid.reshape(nby * 8, nbx * 8)
        ch = -(-(h * fv) // vmax)  # component resolution (T.81 §A.1.1)
        cw = -(-(w * fh) // hmax)
        plane = plane[:ch, :cw]
        sy, sx = vmax // fv, hmax // fh
        if sy > 1 or sx > 1:
            plane = plane.repeat(sy, axis=0).repeat(sx, axis=1)
        chans.append(plane[:h, :w])
    ycc = np.stack(chans, axis=-1)
    return np.clip(np.round(ycbcr_to_rgb(ycc)), 0, 255).astype(np.uint8)
