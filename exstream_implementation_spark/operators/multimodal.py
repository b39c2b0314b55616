"""Multimodal column plumbing — binary payloads with typed metadata.

The reference has no media pipeline; this is the BASELINE.json north-star
extension for 100 TB training-data work: treat image/audio/video as opaque
``binary`` columns plus metadata, with decode / feature-extraction running as
Arrow-batched ``mapInPandas`` so each Python worker touches one partition's
batches, never the driver.

Image decode is REAL for BMP and PNG, the two formats ``multimodal_suite``
encodes: a pure-numpy 24-bit BMP reader/writer and a stdlib-zlib PNG codec
(IDAT inflate + all five row unfilters; decode covers every static color
type, depths 1-16, and Adam7) need no system codec, so
``attach_image_payload`` generates genuine blobs (deterministic synthetic
pixels) and ``image_stats`` decodes the actual bytes and computes
per-channel pixel statistics — the full ingest → decode → feature path runs
on real image data, including a real DEFLATE round-trip on the PNG path.
Baseline JPEG is real too (operators/jpeg.py: huffman + dequant + IDCT,
4:4:4 and chroma-subsampled) but no catalog query encodes it; it is lossy,
so its stats are tolerance-tested in pytest instead of hash-gated.
Audio is real too: a RIFF WAV codec covering integer PCM (8/16/24/32-bit),
IEEE float (32/64-bit) and WAVE_FORMAT_EXTENSIBLE (lossless, so
``audio_stats`` is hash-gated exactly like the pixel paths).  What refuses
with NotImplementedError is every other container or codec: progressive
JPEG, WebP, compressed WAV (G.711, ADPCM, MP3-in-WAV) and every video
container — the honest boundary; frame sampling (``sample_frames``) is
byte-chunk plumbing, not a video decode.  The pixel/sample synths are exact
integer formulas so the BMP/PNG/WAV stats stay oracle-checkable in SQL
(plans.multimodal).
"""

from __future__ import annotations

import hashlib
import math
import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


def attach_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Opaque binary payload column + byte-length metadata (stand-in for an
    image/audio blob ingested from object storage)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8")).withColumn(
        "n_bytes", F.length(F.col("payload"))
    )


# --- real BMP codec (pure numpy/struct — no system codec needed) -------------
def encode_bmp(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → 24-bit bottom-up BMP (BITMAPINFOHEADER), rows
    zero-padded to 4-byte multiples per the spec."""
    h, w, c = arr.shape
    if c != 3:
        raise ValueError("encode_bmp expects (h, w, 3) RGB")
    row = w * 3
    pad = (4 - row % 4) % 4
    img_size = (row + pad) * h
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + img_size, 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    body = bytearray()
    zeros = b"\x00" * pad
    for y in range(h - 1, -1, -1):  # bottom-up row order
        body += arr[y, :, ::-1].tobytes() + zeros  # BGR byte order
    return header + info + bytes(body)


# --- real PNG codec (stdlib zlib + numpy — no system codec needed) -----------
_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """PNG Paeth predictor, elementwise (a=left, b=up, c=upper-left)."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def encode_png(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → 8-bit truecolor PNG, pure stdlib zlib.

    Row y uses filter type y % 5 (None/Sub/Up/Average/Paeth) DELIBERATELY:
    any payload taller than 4 rows forces the decoder through every unfilter
    branch, so a wrong Paeth/Average implementation breaks the round-trip —
    and, through ``image_stats``'s pixel-formula oracle, the catalog hash."""
    h, w, c = arr.shape
    if c != 3:
        raise ValueError("encode_png expects (h, w, 3) RGB")
    zeros = np.zeros((1, 3), np.int32)
    raw = bytearray()
    prev = np.zeros((w, 3), np.int32)
    for y in range(h):
        row = arr[y].astype(np.int32)
        left = np.vstack([zeros, row[:-1]])
        ul = np.vstack([zeros, prev[:-1]])
        ftype = y % 5
        if ftype == 0:
            filt = row
        elif ftype == 1:
            filt = row - left
        elif ftype == 2:
            filt = row - prev
        elif ftype == 3:
            filt = row - (left + prev) // 2
        else:
            filt = row - _paeth(left, prev, ul)
        raw += bytes([ftype]) + (filt % 256).astype(np.uint8).tobytes()
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


# channels per PNG color type: gray, truecolor, palette, gray+alpha, RGBA
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# Adam7 pass geometry: (x0, y0, dx, dy)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(raw: bytes, off: int, pw: int, ph: int, bpp: int,
                  rowbytes: int) -> np.ndarray:
    """Unfilter one (sub-)image: ``ph`` rows of ``1 + rowbytes`` bytes at
    ``off``.  Filtering is byte-oriented with a ``bpp``-byte left offset
    (PNG spec §6): None/Up are vectorized, Sub is a cumulative sum over the
    byte columns mod 256, Average/Paeth walk bytes (small rows here; a
    production path swaps in a codec lib).  Returns (ph, rowbytes) uint8."""
    out = np.empty((ph, rowbytes), np.uint8)
    prev = np.zeros(rowbytes, np.int32)
    stride = 1 + rowbytes
    for y in range(ph):
        ft = raw[off + y * stride]
        row = np.frombuffer(
            raw, np.uint8, rowbytes, off + y * stride + 1
        ).astype(np.int32)
        if ft == 0:
            rec = row
        elif ft == 1:
            rec = row.copy()
            # recon[i] = filt[i] + recon[i-bpp]: cumsum per byte column
            n = rowbytes // bpp
            head = rec[: n * bpp].reshape(n, bpp)
            head[:] = np.cumsum(head, axis=0) % 256
            for i in range(n * bpp, rowbytes):  # ragged tail (sub-byte rows)
                rec[i] = (rec[i] + rec[i - bpp]) % 256
        elif ft == 2:
            rec = (row + prev) % 256
        elif ft in (3, 4):
            rec = np.zeros_like(row)
            for i in range(rowbytes):
                left = rec[i - bpp] if i >= bpp else 0
                ul = prev[i - bpp] if i >= bpp else 0
                if ft == 3:
                    pred = (left + prev[i]) // 2
                else:
                    pa = abs(prev[i] - ul)
                    pb = abs(left - ul)
                    pc = abs(left + prev[i] - 2 * ul)
                    pred = (
                        left if pa <= pb and pa <= pc
                        else (prev[i] if pb <= pc else ul)
                    )
                rec[i] = (row[i] + pred) % 256
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        out[y] = rec.astype(np.uint8)
        prev = rec
    return out


def _png_samples(rows: np.ndarray, pw: int, channels: int,
                 depth: int) -> np.ndarray:
    """(ph, rowbytes) unfiltered bytes → (ph, pw, channels) samples scaled
    to 8 bits (16-bit takes the high byte; sub-byte depths unpack MSB-first
    and are left as raw indices/levels for the caller to scale)."""
    ph = rows.shape[0]
    if depth == 16:
        return rows.reshape(ph, -1, 2)[:, :, 0].reshape(ph, pw, channels)
    if depth == 8:
        return rows.reshape(ph, pw, channels)
    # depth 1/2/4: single-channel only (gray or palette), MSB-first packing
    bits = np.unpackbits(rows, axis=1)
    per = 8 // depth
    vals = bits.reshape(ph, -1, depth)
    weights = 1 << np.arange(depth - 1, -1, -1)
    packed = (vals * weights).sum(axis=2)
    return packed[:, :pw].reshape(ph, pw, 1)


def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes → (h, w, 3) uint8 RGB.

    Full static-image coverage: color types 0 (grayscale), 2 (truecolor),
    3 (palette), 4 (gray+alpha), 6 (RGBA); bit depths 1/2/4/8/16; both
    non-interlaced and Adam7-interlaced streams.  IHDR/PLTE/IDAT chunk
    walk, stdlib ``zlib.decompress``, byte-oriented unfilter per (sub-)
    image.  Alpha is dropped (the RGB feature path's convention) and
    16-bit samples take the high byte; sub-byte grayscale levels scale by
    255/(2^depth-1)."""
    pos, idat, w, plte = 8, b"", None, None
    while pos + 8 <= len(payload):
        ln, typ = struct.unpack_from(">I4s", payload, pos)
        data = payload[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
        if typ == b"IHDR":
            w, h, depth, ctype, comp, filt, inter = struct.unpack(
                ">IIBBBBB", data
            )
            if comp != 0 or filt != 0 or inter not in (0, 1):
                raise ValueError(
                    f"bad PNG header (compression={comp}, filter={filt}, "
                    f"interlace={inter})"
                )
            if ctype not in _PNG_CHANNELS:
                raise ValueError(f"bad PNG color type {ctype}")
            ok_depths = (1, 2, 4, 8, 16) if ctype in (0, 3) else (8, 16)
            if depth not in ok_depths or (ctype == 3 and depth == 16):
                raise ValueError(
                    f"bad PNG depth {depth} for color type {ctype}"
                )
        elif typ == b"PLTE":
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    if w is None:
        raise ValueError("PNG payload has no IHDR")
    channels = _PNG_CHANNELS[ctype]
    bpp = max(1, channels * depth // 8)
    raw = zlib.decompress(idat)

    def rowbytes(pw):
        return (pw * channels * depth + 7) // 8

    samples = np.zeros((h, w, channels), np.uint8)
    if inter == 0:
        rows = _png_unfilter(raw, 0, w, h, bpp, rowbytes(w))
        samples = _png_samples(rows, w, channels, depth)
    else:  # Adam7: seven independently-filtered sub-images, scattered back
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = max(0, -(-(w - x0) // dx))
            ph = max(0, -(-(h - y0) // dy))
            if pw == 0 or ph == 0:
                continue
            rb = rowbytes(pw)
            rows = _png_unfilter(raw, off, pw, ph, bpp, rb)
            off += ph * (1 + rb)
            sub = _png_samples(rows, pw, channels, depth)
            samples[y0::dy, x0::dx] = sub
    if ctype == 3:
        if plte is None:
            raise ValueError("palette PNG without a PLTE chunk")
        idx = samples[:, :, 0].astype(np.int64)
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError("PNG palette index outside PLTE")
        return plte[idx]
    if ctype in (0, 4):  # grayscale (±alpha): scale sub-byte levels, tile
        g = samples[:, :, 0].astype(np.float64)
        if depth < 8:
            g = np.round(g * 255.0 / ((1 << depth) - 1))
        return np.repeat(g.astype(np.uint8)[:, :, None], 3, axis=2)
    return np.ascontiguousarray(samples[:, :, :3])  # truecolor / RGBA


def decode_image(payload: bytes) -> np.ndarray:
    """Decode an image payload → (h, w, 3) uint8 RGB.

    Real decode for uncompressed 24-bit BMP (bottom-up or top-down), PNG
    (all static color types and depths, Adam7 included — stdlib zlib
    inflate + numpy unfilter), and 8-bit Huffman baseline JPEG
    (operators/jpeg.py, any subsampling) — no system codec.  Every other
    container or variant (progressive JPEG and WebP included) needs a codec
    library absent from this environment and raises NotImplementedError
    (swap in PIL.Image.open on a real cluster)."""
    if payload[:8] == _PNG_SIG:
        return decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        from exstream_implementation_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload[:2] != b"BM":
        raise NotImplementedError(
            "only BMP/PNG/JPEG decode without a system codec; swap in "
            "PIL.Image.open / libvips for other containers on a real cluster"
        )
    off = struct.unpack_from("<I", payload, 10)[0]
    _hdr, w, h, _planes, bpp = struct.unpack_from("<IiiHH", payload, 14)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"BMP variant unsupported without a codec (bpp={bpp}, "
            f"compression={compression}); only uncompressed 24-bit decodes"
        )
    top_down, h = h < 0, abs(h)
    stride = w * 3 + (4 - (w * 3) % 4) % 4
    rows = [
        np.frombuffer(payload, np.uint8, count=w * 3, offset=off + i * stride)
        .reshape(w, 3)[:, ::-1]  # BGR → RGB
        for i in range(h)
    ]
    img = np.stack(rows)
    return img if top_down else img[::-1].copy()


# synthetic image geometry: width deliberately NOT a multiple of 4 so every
# encoded row carries real BMP padding the decoder must honor
IMG_W, IMG_H = 7, 5


def synth_pixels(doc_id: int, w: int = IMG_W, h: int = IMG_H) -> np.ndarray:
    """Deterministic pixel field p(c,y,x) = ((id%256)·7 + 11c + 13y + 17x)
    mod 256 — an exact integer formula DuckDB reproduces verbatim, so stats
    computed from the DECODED bytes are oracle-checkable."""
    c = np.arange(3)[None, None, :]
    y = np.arange(h)[:, None, None]
    x = np.arange(w)[None, :, None]
    return (
        ((int(doc_id) % 256) * 7 + 11 * c + 13 * y + 17 * x) % 256
    ).astype(np.uint8)


def _image_encoder(fmt: str):
    """Shared encoder dispatch — ``attach_image_payload`` (chained) and
    ``image_payload_stats`` (fused) call this ONE implementation so the two
    paths can never drift."""
    if fmt not in ("bmp", "png", "jpeg"):
        raise ValueError(f"unknown image format {fmt!r}")
    if fmt == "jpeg":
        from exstream_implementation_spark.operators.jpeg import encode_jpeg

        return lambda a: encode_jpeg(a, quality=95)
    return encode_bmp if fmt == "bmp" else encode_png


def _image_stats_frame(id_col: str, items) -> pd.DataFrame:
    """Per-channel mean/std rows for an iterable of (doc_id, decoded int64
    image) — the ONE stats loop behind ``image_stats`` and
    ``image_payload_stats`` (same float contract: exact integer sums S1, S2
    → mean = S1/n, std = sqrt(max(S2/n − mean², 0)), each op one
    correctly-rounded IEEE operation, bitwise equal to the SQL oracle)."""
    ids, ws, hs, cs, means, stds = [], [], [], [], [], []
    for did, img in items:
        ih, iw, _ = img.shape
        n = float(ih * iw)
        for c in range(3):
            ch = img[:, :, c]
            m = float(ch.sum()) / n
            var = float((ch * ch).sum()) / n - m * m
            ids.append(did)
            ws.append(iw)
            hs.append(ih)
            cs.append(c)
            means.append(m)
            stds.append(math.sqrt(max(var, 0.0)))
    return pd.DataFrame(
        {
            id_col: pd.Series(ids, dtype="int64"),
            "width": pd.Series(ws, dtype="int32"),
            "height": pd.Series(hs, dtype="int32"),
            "channel": pd.Series(cs, dtype="int32"),
            "px_mean": pd.Series(means, dtype="float64"),
            "px_std": pd.Series(stds, dtype="float64"),
        }
    )


def attach_image_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    w: int = IMG_W,
    h: int = IMG_H,
    fmt: str = "bmp",
) -> DataFrame:
    """REAL image payloads: each row gets a genuine 24-bit BMP or 8-bit
    truecolor PNG or baseline JPEG blob of its synthetic pixel field
    (Arrow-batched pandas UDF — bytes are built in the workers, never the
    driver).  The PNG encoder cycles all five row filters, so decoding it
    exercises the full inflate + unfilter path; JPEG (quality 95) is lossy
    by nature, so its decoded stats are tolerance-tested, not hash-gated."""
    enc = _image_encoder(fmt)

    @F.pandas_udf("binary")
    def blob(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: enc(synth_pixels(i, w, h)))

    out = df.withColumn("payload", blob(F.col(id_col)))
    return out.withColumn("n_bytes", F.length("payload"))


def image_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode each payload (REAL BMP parse) and emit per-channel pixel mean
    and std — the canonical image feature-extraction shape, Arrow-batched via
    mapInPandas.

    Float determinism contract with the SQL oracle: mean = S1/n and
    std = sqrt(max(S2/n − (S1/n)², 0)) over EXACT integer sums S1, S2 — every
    operation is a single correctly-rounded IEEE op, so numpy and DuckDB
    (avg(p), sqrt(greatest(avg(p·p) − avg(p)·avg(p), 0))) agree bitwise."""
    schema = (
        f"{id_col} long, width int, height int, channel int, "
        "px_mean double, px_std double"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _image_stats_frame(
                id_col,
                (
                    (did, decode_image(bytes(payload)).astype(np.int64))
                    for did, payload in zip(pdf[id_col], pdf["payload"])
                ),
            )

    return df.select(id_col, "payload").mapInPandas(batches, schema)


def image_payload_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    w: int = IMG_W,
    h: int = IMG_H,
    fmt: str = "bmp",
) -> DataFrame:
    """``attach_image_payload`` → ``image_stats`` fused into ONE
    mapInPandas: the encoder and decoder run back-to-back inside the same
    Python task (the identical real encode→decode byte round-trip — any
    codec bug still breaks the hash), so the payload bytes never cross the
    JVM↔Python boundary at all and each branch pays one Python plan node
    instead of two (guide §4.1: one boundary, only the columns the function
    needs — here just ``id_col``).  Output and float contract are exactly
    ``image_stats``'s."""
    enc = _image_encoder(fmt)
    schema = (
        f"{id_col} long, width int, height int, channel int, "
        "px_mean double, px_std double"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _image_stats_frame(
                id_col,
                (
                    (
                        did,
                        decode_image(enc(synth_pixels(did, w, h))).astype(
                            np.int64
                        ),
                    )
                    for did in pdf[id_col]
                ),
            )

    return df.select(id_col).mapInPandas(batches, schema)


# --- real WAV codec (RIFF — lossless for integer AND float PCM, so the
#     audio feature path is hash-gateable exactly like the BMP/PNG pixel
#     paths) ------------------------------------------------------------------

# WAVE_FORMAT_EXTENSIBLE SubFormat GUID = (tag as 4-byte LE) + this suffix
# (RFC 2361 / mmreg.h) — the container real multi-channel/float corpora use
_WAVEX_GUID_SUFFIX = bytes.fromhex("000010008000 00aa00389b71".replace(" ", ""))

_WAV_DTYPES = {
    # dtype -> (format tag, bits per sample, little-endian numpy dtype)
    np.dtype(np.uint8): (1, 8, "u1"),
    np.dtype(np.int16): (1, 16, "<i2"),
    np.dtype(np.int32): (1, 32, "<i4"),
    np.dtype(np.float32): (3, 32, "<f4"),
    np.dtype(np.float64): (3, 64, "<f8"),
}


def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """(n,) or (n, channels) samples → RIFF/WAVE bytes.

    The format is inferred from the dtype: int16/int32 → integer PCM
    (format tag 1), uint8 → 8-bit PCM (unsigned, per the WAV spec),
    float32/float64 → IEEE float (format tag 3).  All are uncompressed:
    encode→decode round-trips the sample VALUES bit-exactly — with the
    one spec-imposed asymmetry that 8-bit input comes back zero-centered
    as int16 (value - 128), matching ``decode_wav``'s convention for
    foreign 8-bit streams.  int16 emission is byte-stable with earlier
    rounds."""
    if samples.ndim == 1:
        samples = samples[:, None]
    key = np.dtype(samples.dtype)
    if key not in _WAV_DTYPES:
        raise ValueError(
            f"encode_wav expects one of {sorted(str(d) for d in _WAV_DTYPES)}"
            f", got {samples.dtype}"
        )
    tag, bits, le = _WAV_DTYPES[key]
    n, ch = samples.shape
    step = bits // 8
    data = samples.astype(le).tobytes()  # interleaved little-endian
    fmt = struct.pack(
        "<HHIIHH", tag, ch, sample_rate,
        sample_rate * ch * step, ch * step, bits,
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE bytes → ((n, channels) samples, sample_rate).

    Decodes every variant real speech/audio corpora actually carry:

    - integer PCM (format tag 1) at 8 (unsigned → returned centered as
      int16), 16, 24 (returned as int32, sign-extended) and 32 bits;
    - IEEE float (tag 3) at 32/64 bits;
    - WAVE_FORMAT_EXTENSIBLE (tag 0xFFFE) wrapping integer/float PCM —
      the SubFormat GUID's leading dword is the real tag.

    The returned dtype mirrors the stream.  Compressed formats (G.711,
    ADPCM, MP3-in-WAV etc.) refuse with NotImplementedError at the fmt
    chunk (soundfile/ffmpeg on a real cluster).  Chunk-walks the
    container, so extra chunks (LIST, fact) are skipped, not tripped
    over."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        ln = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + ln]
        if cid == b"fmt ":
            tag, ch, rate, _br, _ba, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            if tag == 0xFFFE:  # extensible: the true tag lives in SubFormat
                if len(body) < 40:
                    raise ValueError("truncated WAVE_FORMAT_EXTENSIBLE fmt")
                guid = body[24:40]
                if guid[4:] != _WAVEX_GUID_SUFFIX:
                    raise NotImplementedError(
                        "non-PCM SubFormat GUID in extensible WAV"
                    )
                tag = struct.unpack_from("<I", guid, 0)[0]
            if (tag, bits) not in (
                (1, 8), (1, 16), (1, 24), (1, 32), (3, 32), (3, 64),
            ):
                raise NotImplementedError(
                    f"WAV format={tag} bits={bits} needs a codec (only "
                    f"PCM/float decode without one; swap in soundfile/ffmpeg "
                    f"for the rest)"
                )
            fmt = (tag, ch, rate, bits)
        elif cid == b"data":
            data = body
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV stream missing fmt/data chunk")
    tag, ch, rate, bits = fmt
    if tag == 3:
        samples = np.frombuffer(data, dtype="<f4" if bits == 32 else "<f8")
    elif bits == 8:
        # 8-bit PCM is unsigned with a 128 midpoint (WAV spec); return it
        # zero-centered like every other width (the soundfile convention)
        samples = np.frombuffer(data, dtype=np.uint8).astype(np.int16) - 128
    elif bits == 24:
        raw = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3).astype(np.int32)
        val = raw[:, 0] | (raw[:, 1] << 8) | (raw[:, 2] << 16)
        samples = np.where(val >= 1 << 23, val - (1 << 24), val).astype(np.int32)
    else:
        samples = np.frombuffer(data, dtype="<i2" if bits == 16 else "<i4")
    return samples.reshape(-1, ch), rate


N_AUDIO_SAMPLES = 256
AUDIO_RATE = 8000


def synth_samples(doc_id: int, n: int = N_AUDIO_SAMPLES) -> np.ndarray:
    """Deterministic int16 sample field s(i) = ((id%256)·31 + 7i) mod 65536
    − 32768 — an exact integer formula DuckDB reproduces verbatim, so
    features computed from the DECODED bytes are oracle-checkable (the WAV
    analog of ``synth_pixels``)."""
    i = np.arange(n, dtype=np.int64)
    return (((int(doc_id) % 256) * 31 + 7 * i) % 65536 - 32768).astype(np.int16)


def attach_audio_payload(
    df: DataFrame, id_col: str = "doc_id", n: int = N_AUDIO_SAMPLES
) -> DataFrame:
    """REAL WAV payloads: each row gets a genuine PCM16 RIFF blob of its
    synthetic sample field, built in the Arrow workers."""

    @F.pandas_udf("binary")
    def wav(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: encode_wav(synth_samples(i, n), AUDIO_RATE))

    out = df.withColumn("payload", wav(F.col(id_col)))
    return out.withColumn("n_bytes", F.length("payload"))


def _audio_stats_frame(id_col: str, items) -> pd.DataFrame:
    """Duration + amplitude mean/RMS rows for an iterable of (doc_id,
    decoded samples, sample_rate) — the ONE stats loop behind
    ``audio_stats`` and ``audio_payload_stats``."""
    ids, ns, rates, means, rmss = [], [], [], [], []
    for did, samples, rate in items:
        # int16 streams keep the exact-integer-sum contract (the oracle
        # hash depends on it; squares ≤ 2^30 can never wrap int64).  Wider
        # integers (24/32-bit PCM) and floats sum in float64: a full-scale
        # int32 square is ~2^62, so two samples already overflow the int64
        # sum-of-squares.
        cast = np.int64 if samples.dtype == np.int16 else np.float64
        s = samples.astype(cast).reshape(-1)
        cnt = len(s)
        ids.append(did)
        ns.append(cnt)
        rates.append(rate)
        means.append(float(s.sum()) / cnt)
        rmss.append(math.sqrt(float((s * s).sum()) / cnt))
    return pd.DataFrame(
        {
            id_col: pd.Series(ids, dtype="int64"),
            "n_samples": pd.Series(ns, dtype="int32"),
            "sample_rate": pd.Series(rates, dtype="int32"),
            "amp_mean": pd.Series(means, dtype="float64"),
            "amp_rms": pd.Series(rmss, dtype="float64"),
        }
    )


def audio_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode each payload (REAL RIFF/PCM16 parse) and emit duration and
    per-stream amplitude mean/RMS — the canonical audio feature-extraction
    shape, Arrow-batched via mapInPandas.

    Same float-determinism contract as ``image_stats``: exact integer sums
    S1, S2 → mean = S1/n, rms = sqrt(S2/n); each op is one correctly-rounded
    IEEE operation, so numpy and DuckDB agree bitwise."""
    schema = (
        f"{id_col} long, n_samples int, sample_rate int, "
        "amp_mean double, amp_rms double"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _audio_stats_frame(
                id_col,
                (
                    (did, *decode_wav(bytes(payload)))
                    for did, payload in zip(pdf[id_col], pdf["payload"])
                ),
            )

    return df.select(id_col, "payload").mapInPandas(batches, schema)


def audio_payload_stats(
    df: DataFrame, id_col: str = "doc_id", n: int = N_AUDIO_SAMPLES
) -> DataFrame:
    """``attach_audio_payload`` → ``audio_stats`` fused into ONE
    mapInPandas — same rationale and same real RIFF/PCM16 encode→decode
    round-trip as ``image_payload_stats``; output and float contract are
    exactly ``audio_stats``'s."""
    schema = (
        f"{id_col} long, n_samples int, sample_rate int, "
        "amp_mean double, amp_rms double"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _audio_stats_frame(
                id_col,
                (
                    (
                        did,
                        *decode_wav(
                            encode_wav(synth_samples(did, n), AUDIO_RATE)
                        ),
                    )
                    for did in pdf[id_col]
                ),
            )

    return df.select(id_col).mapInPandas(batches, schema)


N_FRAMES = 4


def sample_frames(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Frame-sampling plumbing: one input row → N_FRAMES output rows, the
    variable-cardinality mapInPandas shape a real video frame sampler has.
    The "frames" are deterministic equal byte chunks (remainder dropped) with
    an md5 content hash — swap the chunking for ffmpeg keyframe extraction on
    a real cluster; the Spark contract (schema, batching, fan-out) is what
    this exercises, and the md5 math keeps it oracle-checkable in SQL.
    """
    schema = f"{id_col} long, frame_idx int, frame_bytes int, frame_hash string"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, sizes, hashes = [], [], [], []
            for did, payload in zip(pdf[id_col], pdf["payload"]):
                data = bytes(payload)
                q = len(data) // N_FRAMES
                if q == 0:
                    continue
                for k in range(N_FRAMES):
                    chunk = data[k * q : (k + 1) * q]
                    ids.append(did)
                    idxs.append(k)
                    sizes.append(len(chunk))
                    # hash the hex encoding: DuckDB's md5 is VARCHAR-only, so
                    # the oracle can reproduce this without blob md5 support
                    hashes.append(hashlib.md5(chunk.hex().encode()).hexdigest())
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_bytes": pd.Series(sizes, dtype="int32"),
                    "frame_hash": pd.Series(hashes, dtype="object"),
                }
            )

    return df.select(id_col, "payload").mapInPandas(batches, schema)

