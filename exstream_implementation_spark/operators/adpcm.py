"""Compressed-telephony audio codecs — G.711 (A-law / µ-law) and IMA
ADPCM — pure numpy, no system codec.

These are the three compressed WAV variants real speech corpora actually
carry (format tags 6, 7 and 0x11); until this round ``decode_wav``
refused them with NotImplementedError.  All three are public ITU/IMA
specifications:

- **G.711** (ITU-T, 1972): byte-per-sample logarithmic PCM.  Decode is a
  fixed 256-entry table (the piecewise segment formula below *is* the
  spec), so decoding is exact and vectorizes as one ``np.take``.
- **IMA ADPCM** (IMA Digital Audio Focus Group, 1992; WAV tag 0x11 a.k.a.
  DVI ADPCM): 4 bits per sample, block-structured, with a per-block
  (predictor, step-index) header.  Decode is bit-exact per the reference
  step/index tables; the predictor feedback makes it inherently
  sequential per block, so the inner loop is per-block python over numpy
  nibble arrays — inside Spark this always runs behind an Arrow
  ``mapInPandas`` boundary (operators/multimodal.py), never per-row py4j.

The reference implementation has no media pipeline at all (see
operators/multimodal.py); this module exists for the 100 TB training-data
extension surface.  Encoders are provided for round-trip tests and
payload synthesis: G.711 encode→decode is the spec quantization
(idempotent on decoded values); IMA encode→decode is the deterministic
codec loop, pinned in tests against the independent stdlib ``audioop``
model where available.
"""

from __future__ import annotations

import struct

import numpy as np

# --- G.711 -------------------------------------------------------------------

_ULAW_BIAS = 0x84  # 132: the spec's linearization bias


def _ulaw_decode_table() -> np.ndarray:
    """All 256 µ-law bytes → int16, straight from the G.711 expansion
    formula: invert the byte, then magnitude = ((mantissa<<3)+bias)
    << exponent, minus bias."""
    b = np.arange(256, dtype=np.int32) ^ 0xFF
    sign = (b & 0x80) != 0
    exponent = (b >> 4) & 0x07
    mantissa = b & 0x0F
    mag = (((mantissa << 3) + _ULAW_BIAS) << exponent) - _ULAW_BIAS
    return np.where(sign, -mag, mag).astype(np.int16)


def _alaw_decode_table() -> np.ndarray:
    """All 256 A-law bytes → int16 (G.711 A-law expansion: XOR 0x55, then
    the chord/step segment formula, scaled ×16 into the 16-bit range)."""
    b = np.arange(256, dtype=np.int32) ^ 0x55
    sign = (b & 0x80) != 0
    exponent = (b >> 4) & 0x07
    mantissa = b & 0x0F
    mag = np.where(
        exponent > 0,
        ((mantissa << 4) + 0x108) << np.maximum(exponent - 1, 0),
        (mantissa << 4) + 8,
    )
    # A-law signals positive with the sign bit SET (after the 0x55 XOR) —
    # the opposite of µ-law's convention
    return np.where(sign, mag, -mag).astype(np.int16)


ULAW_TABLE = _ulaw_decode_table()
ALAW_TABLE = _alaw_decode_table()


def decode_ulaw(data: bytes) -> np.ndarray:
    """µ-law bytes → int16 samples (exact, one table gather)."""
    return ULAW_TABLE[np.frombuffer(data, dtype=np.uint8)]


def decode_alaw(data: bytes) -> np.ndarray:
    """A-law bytes → int16 samples (exact, one table gather)."""
    return ALAW_TABLE[np.frombuffer(data, dtype=np.uint8)]


# segment end-points of the G.711 compression chords (the spec's 14-bit
# µ-law / 13-bit A-law working precision — the 2/3 LSBs of a 16-bit
# sample are below the codec's resolution and drop first)
_ULAW_SEG_END = np.array(
    [0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF], dtype=np.int32
)
_ALAW_SEG_END = np.array(
    [0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF], dtype=np.int32
)


def encode_ulaw(samples: np.ndarray) -> bytes:
    """int16 samples → µ-law bytes (G.711 compression at the spec's 14-bit
    working precision, fully vectorized: one searchsorted for the chord,
    shifts for the step).  Bit-exact vs the classic reference encoder
    (pinned against stdlib ``audioop`` in tests)."""
    x = np.asarray(samples, dtype=np.int32).reshape(-1) >> 2  # 14-bit
    mask = np.where(x >= 0, 0xFF, 0x7F)
    mag = np.minimum(np.where(x >= 0, x, -x), 8159) + (_ULAW_BIAS >> 2)
    seg = np.searchsorted(_ULAW_SEG_END, mag, side="left")
    uval = (seg << 4) | ((mag >> (seg + 1)) & 0x0F)
    return (
        (np.where(seg >= 8, 0x7F, uval) ^ mask).astype(np.uint8).tobytes()
    )


def encode_alaw(samples: np.ndarray) -> bytes:
    """int16 samples → A-law bytes (G.711 compression at the spec's 13-bit
    working precision, vectorized; same reference-encoder parity contract
    as ``encode_ulaw``)."""
    x = np.asarray(samples, dtype=np.int32).reshape(-1) >> 3  # 13-bit
    mask = np.where(x >= 0, 0xD5, 0x55)
    mag = np.where(x >= 0, x, -x - 1)
    seg = np.searchsorted(_ALAW_SEG_END, mag, side="left")
    aval = (seg << 4) | np.where(
        seg < 2, (mag >> 1) & 0x0F, (mag >> np.maximum(seg, 1)) & 0x0F
    )
    return (
        (np.where(seg >= 8, 0x7F, aval) ^ mask).astype(np.uint8).tobytes()
    )


# --- IMA ADPCM ---------------------------------------------------------------

# the two reference tables from the IMA ADPCM specification (also RFC 3551
# appendix / every DVI4 implementation) — decode is defined bit-exactly by
# these plus the clamp rules below
IMA_STEP_TABLE = np.array(
    [
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
        37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
        157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
        544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
        1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
        4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
        12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
        29794, 32767,
    ],
    dtype=np.int32,
)
IMA_INDEX_TABLE = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32)


def _ima_decode_nibbles(
    nibbles: np.ndarray, predictor: int, index: int
) -> tuple[np.ndarray, int, int]:
    """Decode a run of 4-bit codes with the given starting state → (int16
    samples, predictor', index').  The predictor feedback is sequential by
    construction; the loop is per-nibble python over a pre-split numpy
    array, amortized per 505-sample block."""
    out = np.empty(len(nibbles), dtype=np.int16)
    step_table, index_table = IMA_STEP_TABLE, IMA_INDEX_TABLE
    for i, n in enumerate(nibbles):
        step = int(step_table[index])
        diff = step >> 3
        if n & 1:
            diff += step >> 2
        if n & 2:
            diff += step >> 1
        if n & 4:
            diff += step
        if n & 8:
            diff = -diff
        predictor = min(32767, max(-32768, predictor + diff))
        index = min(88, max(0, index + int(index_table[n & 7])))
        out[i] = predictor
    return out, predictor, index


def adpcm_samples_per_block(block_align: int, channels: int) -> int:
    """Samples per channel in one IMA WAV block: the 4-byte per-channel
    header carries sample 0; every remaining byte carries two codes."""
    return (block_align - 4 * channels) * 2 // channels + 1


def decode_adpcm(
    data: bytes, channels: int, block_align: int, n_samples: int | None = None
) -> np.ndarray:
    """IMA-ADPCM WAV payload → (n, channels) int16.

    Block layout per the IMA/DVI WAV mapping: each ``block_align``-sized
    block opens with a 4-byte header PER CHANNEL (int16 predictor — which
    IS output sample 0 — uint8 step index, reserved byte), then the codes
    interleave in 4-byte-per-channel groups (8 nibbles of channel 0, 8 of
    channel 1, …), low nibble first within each byte.  ``n_samples``
    trims the final partial block (the fact chunk count when present)."""
    if channels < 1:
        raise ValueError("decode_adpcm: channels must be >= 1")
    body = block_align - 4 * channels
    if body <= 0 or body % (4 * channels) != 0:
        raise ValueError(
            f"decode_adpcm: block_align {block_align} invalid for "
            f"{channels} channel(s) — body must be a positive multiple of "
            f"{4 * channels} bytes (the spec's 4-byte-per-channel groups)"
        )
    spb = adpcm_samples_per_block(block_align, channels)
    out_blocks = []
    for off in range(0, len(data) - (len(data) % block_align), block_align):
        block = data[off : off + block_align]
        chans = []
        nib_bytes = np.frombuffer(block, dtype=np.uint8, offset=4 * channels)
        # nibble stream per channel: bytes group in 4-byte runs per channel
        groups = nib_bytes.reshape(-1, channels, 4)  # (n_groups, ch, 4)
        for c in range(channels):
            predictor, index, _rsvd = struct.unpack_from(
                "<hBB", block, 4 * c
            )
            index = min(88, max(0, index))
            chan_bytes = groups[:, c, :].reshape(-1)
            nib = np.empty(chan_bytes.size * 2, dtype=np.uint8)
            nib[0::2] = chan_bytes & 0x0F  # low nibble first
            nib[1::2] = chan_bytes >> 4
            decoded, _, _ = _ima_decode_nibbles(
                nib[: spb - 1], predictor, index
            )
            chans.append(
                np.concatenate(([np.int16(predictor)], decoded))
            )
        out_blocks.append(np.stack(chans, axis=1))  # (spb, ch)
    if not out_blocks:
        return np.empty((0, channels), dtype=np.int16)
    out = np.concatenate(out_blocks, axis=0)
    if n_samples is not None:
        out = out[:n_samples]
    return out


def encode_adpcm(
    samples: np.ndarray, block_align: int | None = None
) -> tuple[bytes, int, int]:
    """(n,) or (n, channels) int16 → (IMA-ADPCM payload, block_align,
    samples_per_block).

    The standard encoder: per nibble, code = sign bit + the 3-bit
    magnitude of diff/step, with the SAME reconstruction feedback the
    decoder runs (so encoder and decoder predictors never drift).  The
    final partial block is zero-padded; callers track the true sample
    count (WAV writes it in the ``fact`` chunk)."""
    s = np.asarray(samples, dtype=np.int16)
    if s.ndim == 1:
        s = s[:, None]
    n, channels = s.shape
    if n == 0:
        raise ValueError("encode_adpcm: empty input")
    if block_align is None:
        block_align = 4 * channels * (1 + 8)  # 64 codes/channel per block
    spb = adpcm_samples_per_block(block_align, channels)
    blocks = []
    step_table, index_table = IMA_STEP_TABLE, IMA_INDEX_TABLE
    indices = [0] * channels
    for start in range(0, n, spb):
        chunk = s[start : start + spb]
        if len(chunk) < spb:  # zero-pad the tail block
            chunk = np.vstack(
                [chunk, np.zeros((spb - len(chunk), channels), np.int16)]
            )
        headers, chan_nibs = [], []
        for c in range(channels):
            predictor = int(chunk[0, c])
            index = indices[c]
            headers.append(struct.pack("<hBB", predictor, index, 0))
            nibs = np.empty(spb - 1, dtype=np.uint8)
            for i in range(1, spb):
                step = int(step_table[index])
                diff = int(chunk[i, c]) - predictor
                code = 0
                if diff < 0:
                    code = 8
                    diff = -diff
                if diff >= step:
                    code |= 4
                    diff -= step
                if diff >= step >> 1:
                    code |= 2
                    diff -= step >> 1
                if diff >= step >> 2:
                    code |= 1
                # reconstruct exactly as the decoder will
                delta = step >> 3
                if code & 1:
                    delta += step >> 2
                if code & 2:
                    delta += step >> 1
                if code & 4:
                    delta += step
                if code & 8:
                    delta = -delta
                predictor = min(32767, max(-32768, predictor + delta))
                index = min(88, max(0, index + int(index_table[code & 7])))
                nibs[i - 1] = code
            indices[c] = index
            packed = (nibs[0::2] | (nibs[1::2] << 4)).astype(np.uint8)
            chan_nibs.append(packed.reshape(-1, 4))  # 4-byte groups
        body = np.stack(chan_nibs, axis=1).reshape(-1).tobytes()
        blocks.append(b"".join(headers) + body)
    return b"".join(blocks), block_align, spb
