"""Real-BMP/PNG multimodal path: codec roundtrips (the PNG one through a
true zlib inflate + all five row unfilters), honest failure on formats that
need a system codec, and the Spark decode→stats pipeline against locally
computed pixel statistics."""

import math
import struct

import numpy as np
import pytest

from exstream_implementation_spark.operators.multimodal import (
    IMG_H,
    IMG_W,
    attach_image_payload,
    decode_image,
    decode_png,
    encode_bmp,
    encode_png,
    image_payload_stats,
    image_stats,
    synth_pixels,
)


@pytest.mark.parametrize("w,h", [(7, 5), (8, 8), (1, 1), (5, 2), (13, 3)])
def test_bmp_roundtrip(w, h):
    rng = np.random.default_rng(w * 100 + h)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    out = decode_image(encode_bmp(img))
    assert out.shape == (h, w, 3)
    assert np.array_equal(out, img)


def test_bmp_topdown_decode():
    # same pixels, negative height + rows in top-down order — decoders must
    # honor the sign convention
    img = synth_pixels(3, w=6, h=4)
    bottom_up = encode_bmp(img)
    h, w = 4, 6
    off = 54
    stride = w * 3  # 18 bytes; pad (4 - 18 % 4) % 4 = 2
    stride += (4 - stride % 4) % 4
    body = bytearray(bottom_up[off:])
    flipped = bytearray()
    for i in range(h - 1, -1, -1):
        flipped += body[i * stride : (i + 1) * stride]
    td = bytearray(bottom_up[:off]) + flipped
    struct.pack_into("<i", td, 22, -h)  # biHeight < 0 = top-down
    assert np.array_equal(decode_image(bytes(td)), img)


def test_non_bmp_raises_not_implemented(spark):
    # WebP and progressive JPEG need a real codec — honest refusal (baseline
    # JPEG is real).  The progressive stream is SOI, a JFIF APP0 and an 8x8
    # three-component SOF2 frame header, then EOI.
    app0 = b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    frame = b"\x00\x11\x08\x00\x08\x00\x08\x03\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    for payload in (
        b"RIFF\x00\x00\x00\x00WEBPVP8 " + b"\x00" * 64,
        b"RIFF\x00\x00\x00\x00WEBPVP8L" + b"\x00" * 64,
        b"\xff\xd8" + app0 + b"\xff\xc2" + frame + b"\xff\xd9",
    ):
        with pytest.raises(NotImplementedError):
            decode_image(payload)
    with pytest.raises(ValueError):
        image_payload_stats(spark.range(1), fmt="jpeg_progressive")
    # 8-bit BMP variant: honest refusal, not silent garbage
    img = encode_bmp(np.zeros((2, 2, 3), dtype=np.uint8))
    bad = bytearray(img)
    struct.pack_into("<H", bad, 28, 8)
    with pytest.raises(NotImplementedError):
        decode_image(bytes(bad))


def test_image_stats_matches_local(spark):
    df = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    got = {
        (r["doc_id"], r["channel"]): (r["px_mean"], r["px_std"], r["width"], r["height"])
        for r in image_stats(attach_image_payload(df)).collect()
    }
    assert len(got) == 40 * 3
    for did in range(40):
        img = synth_pixels(did).astype(np.int64)
        n = float(IMG_W * IMG_H)
        for c in range(3):
            ch = img[:, :, c]
            m = float(ch.sum()) / n
            s = math.sqrt(max(float((ch * ch).sum()) / n - m * m, 0.0))
            gm, gs, gw, gh = got[(did, c)]
            assert (gw, gh) == (IMG_W, IMG_H)
            assert gm == m and gs == s  # bitwise — exact-integer contract


def test_bmp_roundtrip_property():
    """Hypothesis sweep: any (h, w) geometry (every padding class 0-3) and
    any pixel content must round-trip bit-exactly."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(min_value=1, max_value=17),
        st.integers(min_value=1, max_value=9),
        st.integers(min_value=0, max_value=2**32 - 1),
    )
    def check(w, h, seed):
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        payload = encode_bmp(img)
        # spec invariants: declared size matches, rows padded to 4 bytes
        declared = struct.unpack_from("<I", payload, 2)[0]
        assert declared == len(payload)
        assert (len(payload) - 54) == ((w * 3 + (4 - (w * 3) % 4) % 4) * h)
        assert np.array_equal(decode_image(payload), img)

    check()


@pytest.mark.parametrize(
    "w,h", [(1, 1), (1, 9), (9, 1), (7, 5), (11, 13), (17, 32)]
)
def test_png_roundtrip(w, h):
    """Shapes taller than 4 rows force every filter type (encoder cycles
    y % 5); 1-wide/1-tall shapes hit the left/up boundary conditions."""
    rng = np.random.default_rng(w * 1000 + h)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    payload = encode_png(img)
    assert payload[:8] == b"\x89PNG\r\n\x1a\n"
    assert np.array_equal(decode_png(payload), img)
    # dispatch path agrees
    assert np.array_equal(decode_image(payload), img)


def test_png_roundtrip_property():
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=30, deadline=None)
    @given(st.integers(1, 12), st.integers(1, 12), st.integers(0, 2**32 - 1))
    def check(w, h, seed):
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(img)), img)

    check()


def test_png_malformed_streams_raise():
    import struct as _struct

    payload = bytearray(encode_png(np.zeros((2, 2, 3), dtype=np.uint8)))
    # IHDR data starts at 16 (sig 8 + len 4 + type 4); layout w(4) h(4)
    # depth(1) ctype(1) ... — color type 1 does not exist in the PNG spec
    _struct.pack_into("B", payload, 16 + 9, 1)
    with pytest.raises(ValueError):
        decode_png(bytes(payload))
    # truncated/garbage PNG: loud failure, not silent garbage
    with pytest.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\n" + b"\x00" * 64)


def _png_fixture(w, h, depth, ctype, scanline_rows, plte=None, interlace=0):
    """Hand-assemble a PNG from raw (filter-byte-prefixed) scanlines."""
    import struct as _struct
    import zlib as _zlib

    def chunk(typ, data):
        return (
            _struct.pack(">I", len(data)) + typ + data
            + _struct.pack(">I", _zlib.crc32(typ + data))
        )

    ihdr = _struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if plte is not None:
        out += chunk(b"PLTE", bytes(plte))
    out += chunk(b"IDAT", _zlib.compress(b"".join(scanline_rows)))
    return out + chunk(b"IEND", b"")


def test_png_palette_and_subbyte_depths():
    # depth-8 palette: indices map straight through PLTE
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 7, 8, 9])
    rows = [bytes([0, 0, 1]), bytes([0, 2, 3])]
    img = decode_png(_png_fixture(2, 2, 8, 3, rows, plte=plte))
    want = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [7, 8, 9]]], np.uint8
    )
    np.testing.assert_array_equal(img, want)
    # depth-2 palette, 5 px/row: indices 3,2,1,0,3 pack MSB-first into
    # 0b11100100 0b11000000
    img = decode_png(
        _png_fixture(5, 1, 2, 3, [bytes([0, 0b11100100, 0b11000000])],
                     plte=plte)
    )
    want = np.array(
        [[[7, 8, 9], [0, 0, 255], [0, 255, 0], [255, 0, 0], [7, 8, 9]]],
        np.uint8,
    )
    np.testing.assert_array_equal(img, want)
    # depth-1 grayscale: bits 1,0,1 → 255,0,255 tiled to RGB
    img = decode_png(_png_fixture(3, 1, 1, 0, [bytes([0, 0b10100000])]))
    np.testing.assert_array_equal(
        img, np.array([[[255] * 3, [0] * 3, [255] * 3]], np.uint8)
    )


def test_png_gray_rgba_and_16bit():
    # 8-bit grayscale with a Sub filter row
    rows = [bytes([1, 100, 10, 10])]  # recon: 100, 110, 120
    img = decode_png(_png_fixture(3, 1, 8, 0, rows))
    np.testing.assert_array_equal(img[0, :, 0], [100, 110, 120])
    assert (img[:, :, 0] == img[:, :, 1]).all()
    # RGBA: alpha dropped
    rows = [bytes([0, 1, 2, 3, 200, 4, 5, 6, 0])]
    img = decode_png(_png_fixture(2, 1, 8, 6, rows))
    np.testing.assert_array_equal(img, [[[1, 2, 3], [4, 5, 6]]])
    # gray+alpha 16-bit: high byte wins, alpha dropped
    rows = [bytes([0, 0xAB, 0xCD, 0xFF, 0xFF])]
    img = decode_png(_png_fixture(1, 1, 16, 4, rows))
    np.testing.assert_array_equal(img, [[[0xAB] * 3]])
    # truecolor 16-bit
    rows = [bytes([0, 0x11, 0x22, 0x33, 0x44, 0x55, 0x66])]
    img = decode_png(_png_fixture(1, 1, 16, 2, rows))
    np.testing.assert_array_equal(img, [[[0x11, 0x33, 0x55]]])


def test_png_adam7_interlaced_matches_progressive():
    """An Adam7 stream built BY HAND (seven independently filtered
    sub-images in spec pass order) must decode to the same pixels as the
    progressive encoding of the same image."""
    rng = np.random.default_rng(17)
    h, w = 9, 10  # exercises empty-row passes and ragged pass widths
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    passes = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
              (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]
    rows = []
    for x0, y0, dx, dy in passes:
        sub = img[y0::dy, x0::dx]
        for r in range(sub.shape[0]):
            rows.append(bytes([0]) + sub[r].tobytes())
    got = decode_png(_png_fixture(w, h, 8, 2, rows, interlace=1))
    np.testing.assert_array_equal(got, img)


def test_png_spark_stats_match_bmp_path(spark):
    """The decoded-PNG pixel stats must equal the decoded-BMP stats row for
    row — both decode to the same synthetic field through entirely different
    byte paths (stride/pad vs inflate/unfilter)."""
    from exstream_implementation_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").filter(
        "doc_id < 30"
    )
    key = ["doc_id", "channel"]
    a = {
        tuple(r[k] for k in key): (r["px_mean"], r["px_std"])
        for r in image_stats(attach_image_payload(docs, fmt="bmp")).collect()
    }
    b = {
        tuple(r[k] for k in key): (r["px_mean"], r["px_std"])
        for r in image_stats(attach_image_payload(docs, fmt="png")).collect()
    }
    assert a == b and len(a) == 90


def test_wav_roundtrip_exact():
    """PCM16 is lossless — encode→decode must be bit-exact, mono and
    multi-channel, including a chunk walk past an extra LIST chunk."""
    import struct as _struct

    from exstream_implementation_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    rng = np.random.default_rng(5)
    for ch in (1, 2, 4):
        s = rng.integers(-32768, 32768, (301, ch)).astype(np.int16)
        back, rate = decode_wav(encode_wav(s, 44100))
        assert rate == 44100 and (back == s).all(), ch
    # mono 1-D input round-trips as (n, 1)
    s = rng.integers(-32768, 32768, 17).astype(np.int16)
    back, _ = decode_wav(encode_wav(s))
    assert (back.reshape(-1) == s).all()
    # an unknown chunk before data must be skipped, not tripped over
    payload = bytearray(encode_wav(s))
    extra = b"LIST" + _struct.pack("<I", 4) + b"INFO"
    insert_at = payload.find(b"data")
    payload = payload[:insert_at] + extra + payload[insert_at:]
    _struct.pack_into("<I", payload, 4, len(payload) - 8)
    back, _ = decode_wav(bytes(payload))
    assert (back.reshape(-1) == s).all()


def test_wav_float_and_wide_pcm_roundtrip_exact():
    """IEEE-float (format 3) and 32-bit/8-bit PCM streams round-trip
    bit-exactly with the stream's own dtype coming back."""
    from exstream_implementation_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    rng = np.random.default_rng(9)
    f32 = rng.standard_normal((211, 2)).astype(np.float32)
    back, rate = decode_wav(encode_wav(f32, 16000))
    assert back.dtype == np.float32 and rate == 16000
    assert (back == f32).all()
    f64 = rng.standard_normal(57)  # float64, mono 1-D
    back, _ = decode_wav(encode_wav(f64))
    assert back.dtype == np.float64 and (back.reshape(-1) == f64).all()
    i32 = rng.integers(-(2**31), 2**31, (101, 3), dtype=np.int64).astype(np.int32)
    back, _ = decode_wav(encode_wav(i32, 48000))
    assert back.dtype == np.int32 and (back == i32).all()
    # 8-bit PCM is unsigned on the wire; it comes back zero-centered
    u8 = rng.integers(0, 256, 83, dtype=np.int64).astype(np.uint8)
    back, _ = decode_wav(encode_wav(u8))
    assert back.dtype == np.int16
    assert (back.reshape(-1) == u8.astype(np.int16) - 128).all()


def test_wav_decodes_foreign_24bit_and_extensible_streams():
    """Hand-built streams our encoder never emits: 24-bit PCM (packed
    3-byte little-endian, sign-extended to int32 on decode) and a
    WAVE_FORMAT_EXTENSIBLE header wrapping IEEE float."""
    import struct as _struct

    from exstream_implementation_spark.operators.multimodal import (
        decode_wav,
    )

    def riff(fmt_body, data):
        chunks = (
            b"fmt " + _struct.pack("<I", len(fmt_body)) + fmt_body
            + (b"\x00" if len(fmt_body) & 1 else b"")
            + b"data" + _struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + _struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    # 24-bit PCM, mono: values crossing the sign boundary
    vals = [0, 1, -1, 8388607, -8388608, 70000, -70000]
    data = b"".join(
        (v & 0xFFFFFF).to_bytes(3, "little") for v in vals
    )
    fmt = _struct.pack("<HHIIHH", 1, 1, 22050, 22050 * 3, 3, 24)
    back, rate = decode_wav(riff(fmt, data))
    assert rate == 22050 and back.dtype == np.int32
    assert back.reshape(-1).tolist() == vals

    # extensible wrapping float32 stereo
    f32 = np.array([[0.5, -0.25], [1.0, -1.0], [0.125, 3.5]], dtype=np.float32)
    guid = _struct.pack("<I", 3) + bytes.fromhex("000010008000" + "00aa00389b71")
    fmt = (
        _struct.pack("<HHIIHH", 0xFFFE, 2, 44100, 44100 * 8, 8, 32)
        + _struct.pack("<HHI", 22, 32, 0x3)
        + guid
    )
    back, rate = decode_wav(riff(fmt, f32.tobytes()))
    assert back.dtype == np.float32 and (back == f32).all()


def test_wav_refuses_compressed_formats():
    import struct as _struct

    from exstream_implementation_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
        synth_samples,
    )

    payload = bytearray(encode_wav(synth_samples(1)))
    fmt_at = payload.find(b"fmt ") + 8
    _struct.pack_into("<H", payload, fmt_at, 2)  # ADPCM format tag
    with pytest.raises(NotImplementedError):
        decode_wav(bytes(payload))
    _struct.pack_into("<H", payload, fmt_at, 3)  # float tag with 16 bits:
    with pytest.raises(NotImplementedError):  # inconsistent → refuse
        decode_wav(bytes(payload))
    with pytest.raises(ValueError):
        decode_wav(b"RIFX" + b"\x00" * 40)
    with pytest.raises(ValueError):
        encode_wav(np.zeros(4, dtype=np.int8))

    def riff(fmt_body, data):
        chunks = (
            b"fmt " + _struct.pack("<I", len(fmt_body)) + fmt_body
            + b"data" + _struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + _struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    def fmt(tag, block_align, bits):
        return _struct.pack(
            "<HHIIHH", tag, 1, 8000, 8000 * block_align, block_align, bits
        )

    # well-formed compressed streams
    for payload in (
        riff(fmt(6, 1, 8), bytes(4)),  # G.711 A-law
        riff(fmt(7, 1, 8), bytes(4)),  # G.711 µ-law
        # IMA ADPCM, one 36-byte block of 65 samples (cbSize 2)
        riff(fmt(0x11, 36, 4) + _struct.pack("<HH", 2, 65), bytes(36)),
    ):
        with pytest.raises(NotImplementedError):
            decode_wav(payload)


def test_wav_still_refuses_perceptual_codecs():
    from exstream_implementation_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
        synth_samples,
    )

    blob = bytearray(encode_wav(synth_samples(5, 100)))
    at = blob.find(b"fmt ") + 8
    struct.pack_into("<H", blob, at, 0x55)  # MP3-in-WAV
    with pytest.raises(NotImplementedError):
        decode_wav(bytes(blob))


def test_spark_audio_stats_match_local(spark):
    """attach real WAV payloads → RIFF/PCM16 parse in Arrow workers →
    amplitude stats; every value must equal the local numpy computation on
    the same synthetic sample field."""
    from exstream_implementation_spark.operators.multimodal import (
        attach_audio_payload,
        audio_stats,
        synth_samples,
        AUDIO_RATE,
        N_AUDIO_SAMPLES,
    )
    from exstream_implementation_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").filter(
        "doc_id < 25"
    )
    got = {
        r["doc_id"]: (
            r["n_samples"], r["sample_rate"], r["amp_mean"], r["amp_rms"]
        )
        for r in audio_stats(attach_audio_payload(docs)).collect()
    }
    assert len(got) == 25
    for did, (n, rate, mean, rms) in got.items():
        s = synth_samples(did).astype(np.int64)
        assert (n, rate) == (N_AUDIO_SAMPLES, AUDIO_RATE)
        assert mean == float(s.sum()) / len(s)
        assert rms == math.sqrt(float((s * s).sum()) / len(s))


def test_spark_audio_stats_over_float_payloads(spark):
    """audio_stats must handle IEEE-float WAV streams through the same
    Arrow path — float64 sums, no silent integer truncation."""
    from exstream_implementation_spark.operators.multimodal import (
        audio_stats,
        decode_wav,
        encode_wav,
    )

    rng = np.random.default_rng(21)
    payloads = {i: rng.standard_normal(128).astype(np.float32) for i in range(4)}
    df = spark.createDataFrame(
        [(i, bytearray(encode_wav(s, 16000))) for i, s in payloads.items()],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: r for r in audio_stats(df).collect()}
    assert len(got) == 4
    for i, s in payloads.items():
        dec, _ = decode_wav(encode_wav(s, 16000))
        f = dec.astype(np.float64).reshape(-1)
        assert got[i]["amp_mean"] == float(f.sum()) / len(f)
        assert got[i]["amp_rms"] == math.sqrt(float((f * f).sum()) / len(f))


def test_audio_stats_full_scale_int32_does_not_overflow(spark):
    """Sum-of-squares of full-scale 32-bit PCM wraps int64 after two
    samples; the stats path must route wide integers through float64."""
    from exstream_implementation_spark.operators.multimodal import (
        audio_stats,
        encode_wav,
    )

    s = np.full(64, 2**31 - 1, dtype=np.int32)
    df = spark.createDataFrame(
        [(1, bytearray(encode_wav(s, 8000)))], "doc_id long, payload binary"
    )
    row = audio_stats(df).collect()[0]
    assert row["amp_rms"] == pytest.approx(float(2**31 - 1))
    assert row["amp_mean"] == pytest.approx(float(2**31 - 1))


@pytest.mark.parametrize("fmt", ["bmp", "png", "jpeg"])
def test_image_payload_stats_matches_two_op_chain(spark, fmt):
    """The fused encode→decode→stats operator (r12: one Python plan node,
    payload never crosses the JVM boundary) must be bitwise identical to
    the attach_image_payload → image_stats chain it replaces — across
    EVERY encoder the dispatch supports, including the lossy jpeg path
    (lossy vs the pixels, but the fused and chained operators decode the
    same bytes, so their stats must still match exactly)."""
    df = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    key = lambda r: (r["doc_id"], r["channel"])
    chain = {
        key(r): (r["px_mean"], r["px_std"], r["width"], r["height"])
        for r in image_stats(attach_image_payload(df, fmt=fmt)).collect()
    }
    fused = {
        key(r): (r["px_mean"], r["px_std"], r["width"], r["height"])
        for r in image_payload_stats(df, fmt=fmt).collect()
    }
    assert fused == chain and len(fused) == 40 * 3


def test_audio_payload_stats_matches_two_op_chain(spark):
    from exstream_implementation_spark.operators.multimodal import (
        attach_audio_payload,
        audio_payload_stats,
        audio_stats,
    )

    df = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    cols = ("n_samples", "sample_rate", "amp_mean", "amp_rms")
    chain = {
        r["doc_id"]: tuple(r[c] for c in cols)
        for r in audio_stats(attach_audio_payload(df)).collect()
    }
    fused = {
        r["doc_id"]: tuple(r[c] for c in cols)
        for r in audio_payload_stats(df).collect()
    }
    assert fused == chain and len(fused) == 40
