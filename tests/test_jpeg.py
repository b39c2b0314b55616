"""Baseline JPEG codec (operators/jpeg.py): pure-math invariants a shared
encoder/decoder bug could not fake (zigzag anchors from the spec, DCT
orthonormality), exactness where JPEG IS exact (DC-flat blocks), PSNR
envelopes where it is lossy, structural conformance of the emitted stream,
honest refusal of unsupported variants, and the Spark decode→stats path."""

import struct

import numpy as np
import pytest

from exstream_implementation_spark.operators.jpeg import (
    DCT,
    UNZIGZAG,
    ZIGZAG,
    decode_jpeg,
    encode_jpeg,
)


def _psnr(a, b):
    mse = ((a.astype(float) - b.astype(float)) ** 2).mean()
    return 99.0 if mse == 0 else 10 * np.log10(255**2 / mse)


def test_zigzag_is_the_spec_scan():
    # involution + the first diagonal walk and terminal cell of ISO 10918's
    # zigzag — anchors typed from the spec figure, the rest generated
    assert (np.arange(64)[ZIGZAG][UNZIGZAG] == np.arange(64)).all()
    assert ZIGZAG[:10].tolist() == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]
    assert ZIGZAG[63] == 63


def test_dct_matrix_is_orthonormal():
    assert np.allclose(DCT @ DCT.T, np.eye(8), atol=1e-12)
    # DC row: constant block → single DC coefficient
    coefs = DCT @ np.full((8, 8), 7.0) @ DCT.T
    assert abs(coefs[0, 0] - 56.0) < 1e-9  # 7 · 8 (orthonormal scaling)
    assert np.abs(coefs).sum() - abs(coefs[0, 0]) < 1e-9


def test_flat_image_roundtrips_exactly():
    # a constant image quantizes to DC-only blocks with zero error
    for level in (0, 128, 255):
        img = np.full((16, 24, 3), level, dtype=np.uint8)
        out = decode_jpeg(encode_jpeg(img, quality=85))
        assert int(np.abs(out.astype(int) - level).max()) <= 1, level


@pytest.mark.parametrize("h,w", [(8, 8), (40, 56), (13, 9), (1, 1), (9, 32)])
def test_roundtrip_psnr(h, w):
    y, x = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(x * 4) % 256, (y * 3) % 256, ((x + y) * 2) % 256], axis=-1
    ).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(img, quality=90))
    assert dec.shape == (h, w, 3)
    assert _psnr(dec, img) > 35.0


def test_roundtrip_noise_psnr():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (24, 16, 3), dtype=np.uint8)
    assert _psnr(decode_jpeg(encode_jpeg(img, quality=95)), img) > 30.0


def test_quality_monotonicity():
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    p50 = _psnr(decode_jpeg(encode_jpeg(img, quality=50)), img)
    p95 = _psnr(decode_jpeg(encode_jpeg(img, quality=95)), img)
    assert p95 > p50
    assert len(encode_jpeg(img, quality=95)) > len(encode_jpeg(img, quality=50))


def test_stream_structure_is_conformant():
    """Marker walk of our own emission: SOI, APP0(JFIF), 2 DQT, SOF0 with
    4:4:4 sampling, 4 DHT, SOS, EOI at the end — the segments any standard
    decoder needs, in a legal order, with self-consistent lengths."""
    img = np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3)
    b = encode_jpeg(img, quality=85)
    assert b[:2] == b"\xff\xd8" and b[-2:] == b"\xff\xd9"
    pos, seen = 2, []
    while pos < len(b):
        marker = struct.unpack_from(">H", b, pos)[0]
        seen.append(marker)
        ln = struct.unpack_from(">H", b, pos + 2)[0]
        if marker == 0xFFC0:
            prec, h, w, nc = struct.unpack_from(">BHHB", b, pos + 4)
            assert (prec, h, w, nc) == (8, 8, 8, 3)
            assert b[pos + 11] == 0x11  # comp 1 sampling = 4:4:4
        if marker == 0xFFDA:
            break
        pos += 2 + ln
    assert seen.count(0xFFDB) == 2 and seen.count(0xFFC4) == 4
    assert 0xFFE0 in seen and seen[-1] == 0xFFDA


def test_refuses_unsupported_variants():
    img = np.zeros((8, 8, 3), dtype=np.uint8)
    b = bytearray(encode_jpeg(img))
    sof = bytes(b).find(b"\xff\xc0")
    # lossless sequential: flip SOF0 → SOF3
    lossless = bytearray(b)
    lossless[sof + 1] = 0xC3
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(lossless))
    # arithmetic-coded progressive: flip SOF0 → SOF10
    arith = bytearray(b)
    arith[sof + 1] = 0xCA
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(arith))
    # 12-bit precision
    deep = bytearray(b)
    deep[sof + 4] = 12
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(deep))
    # progressive: flip SOF0 → SOF2
    prog = bytearray(b)
    prog[sof + 1] = 0xC2
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(prog))
    # restart intervals: a DRI segment (every MCU) ahead of the SOF
    dri = b[:sof] + b"\xff\xdd\x00\x04\x00\x01" + b[sof:]
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(dri))
    # not a JPEG at all
    with pytest.raises(ValueError):
        decode_jpeg(b"\x89PNG\r\n\x1a\nnope")


@pytest.mark.parametrize("sub", ["420", "422"])
@pytest.mark.parametrize("h,w", [(16, 16), (37, 53), (9, 8), (17, 31)])
def test_subsampled_roundtrip_psnr(sub, h, w):
    # chroma subsampling is lossy in chroma only: a smooth image must
    # round-trip within a PSNR envelope at every edge-padding geometry
    y, x = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(x * 3 + y * 2) % 256, (x + y * 4) % 256, (255 - x * 2 - y) % 256],
        axis=-1,
    ).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(img, quality=90, subsampling=sub))
    assert dec.shape == (h, w, 3)
    assert _psnr(dec, img) > 32.0, (sub, h, w)


def test_subsampled_flat_roundtrips_exactly():
    # constant color → DC-only blocks in Y AND the box-averaged chroma:
    # 4:2:0 must be exact here despite the 2×2 average + upsample
    for level in (0, 77, 200, 255):
        img = np.full((24, 40, 3), level, dtype=np.uint8)
        out = decode_jpeg(encode_jpeg(img, quality=85, subsampling="420"))
        assert int(np.abs(out.astype(int) - level).max()) <= 1, level


def test_subsampled_sof_declares_factors():
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    b = encode_jpeg(img, subsampling="420")
    sof = b.find(b"\xff\xc0")
    assert b[sof + 11] == 0x22  # Y: 2x2
    assert b[sof + 14] == 0x11 and b[sof + 17] == 0x11  # Cb/Cr: 1x1


def test_decodes_foreign_handbuilt_420_stream():
    """A 4:2:0 stream assembled BY HAND — fixed (non-optimized) Huffman
    tables, identity quantization, different table layout from our
    encoder — so the decode path is exercised against a stream our own
    encoder could never have produced.  16×16 constant RGB(200,200,200):
    Y DC = 8·(200-128) = 576 in the first Y block, every later diff 0,
    chroma DC 0 → decoded frame must be exactly 200 everywhere."""

    def seg(marker, payload):
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    # identity quant table tq=0 (natural order == any order when all 1s)
    out += seg(0xFFDB, bytes([0]) + bytes([1] * 64))
    # SOF0: 8-bit 16x16, Y 2x2 tq0, Cb/Cr 1x1 tq0
    out += seg(
        0xFFC0,
        struct.pack(">BHHB", 8, 16, 16, 3)
        + bytes([1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    # DC table 0: canonical {sym 0: '0' (1 bit), sym 10: '10' (2 bits)}
    dc_bits = [1, 1] + [0] * 14
    out += seg(0xFFC4, bytes([0x00] + dc_bits + [0, 10]))
    # AC table 0: single symbol EOB '0'
    ac_bits = [1] + [0] * 15
    out += seg(0xFFC4, bytes([0x10] + ac_bits + [0]))
    out += seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    # entropy: Y1 = DC sym 10 ('10') + 576 in 10 bits + EOB ('0');
    # Y2-4, Cb, Cr = DC sym 0 ('0') + EOB ('0'); pad with 1s
    bits = "10" + format(576, "010b") + "0" + "00" * 5
    bits += "1" * (-len(bits) % 8)
    out += int(bits, 2).to_bytes(len(bits) // 8, "big")
    out += b"\xff\xd9"
    dec = decode_jpeg(bytes(out))
    assert dec.shape == (16, 16, 3)
    assert (dec == 200).all()


def test_spark_image_stats_over_jpeg_payloads(spark):
    """The full Spark path — attach JPEG payloads, decode in Arrow workers,
    compute pixel stats — must land within quantization distance of the
    exact (BMP-path) stats.  JPEG is lossy, so this is a tolerance gate,
    not the hash gate BMP/PNG get."""
    from exstream_implementation_spark.operators.multimodal import (
        attach_image_payload,
        image_stats,
    )
    from exstream_implementation_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").filter(
        "doc_id < 20"
    )
    key = ["doc_id", "channel"]
    exact = {
        tuple(r[k] for k in key): (r["px_mean"], r["px_std"])
        for r in image_stats(attach_image_payload(docs, fmt="bmp")).collect()
    }
    lossy = {
        tuple(r[k] for k in key): (r["px_mean"], r["px_std"])
        for r in image_stats(attach_image_payload(docs, fmt="jpeg")).collect()
    }
    assert set(lossy) == set(exact) and len(exact) == 60
    for k in exact:
        assert abs(lossy[k][0] - exact[k][0]) < 4.0, k
        assert abs(lossy[k][1] - exact[k][1]) < 8.0, k


def test_fill_bytes_and_standalone_markers_in_header():
    """ITU T.81 B.1.1.2: any run of 0xFF fill bytes may precede a marker
    code, and TEM (FF01) / RSTn (FFD0-FFD7) are length-less standalone
    markers.  A conformant foreign stream using either must decode
    identically to the plain stream (ADVICE r08)."""
    y, x = np.mgrid[0:16, 0:24]
    img = np.stack(
        [(x * 9) % 256, (y * 5) % 256, ((x + y) * 3) % 256], axis=-1
    ).astype(np.uint8)
    plain = encode_jpeg(img, quality=85)
    # inject after SOI: standalone TEM, standalone RST0, then a 0xFF fill
    # run that merges into the following APP0 marker's leading 0xFF
    padded = plain[:2] + b"\xff\x01\xff\xd0\xff\xff" + plain[2:]
    assert (decode_jpeg(padded) == decode_jpeg(plain)).all()


def test_sequential_scan_rejects_progressive_eobn():
    """A baseline (SOF0) stream whose entropy data contains an EOBn symbol
    (progressive-only, size=0 run∉{0,15}) must refuse loudly — decoding on
    would silently desynchronize every later coefficient."""

    def seg(marker, payload):
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xFFDB, bytes([0]) + bytes([1] * 64))
    out += seg(
        0xFFC0,
        struct.pack(">BHHB", 8, 8, 8, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    # DC table 0: single symbol (category 0) → code '0' is 0 bits of diff
    out += seg(0xFFC4, bytes([0x00] + [1] + [0] * 15 + [0]))
    # AC table 0: {0x00 EOB: '0', 0x10 EOB2: '10'} — 0x10 is progressive-only
    out += seg(0xFFC4, bytes([0x10] + [1, 1] + [0] * 14 + [0x00, 0x10]))
    out += seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    # Y1 block: DC '0' then AC symbol '10' (EOB2) — illegal in baseline
    bits = "0" + "10"
    bits += "1" * (-len(bits) % 8)
    out += int(bits, 2).to_bytes(len(bits) // 8, "big")
    out += b"\xff\xd9"
    with pytest.raises(ValueError, match="bad AC symbol"):
        decode_jpeg(bytes(out))
