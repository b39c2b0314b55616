"""Compressed-audio codecs: G.711 A-law/µ-law and IMA ADPCM.

The reference has no media pipeline (SURVEY.md — these are extension
surface for the 100 TB training-data design point).  Where the stdlib
``audioop`` module exists (<= 3.12) it serves as an INDEPENDENT reference
implementation for the G.711 tables/encoders and the IMA nibble decoder —
bit-exact parity, not tolerance."""

import struct

import numpy as np
import pytest

from exstream_implementation_spark.operators.adpcm import (
    ALAW_TABLE,
    ULAW_TABLE,
    adpcm_samples_per_block,
    decode_adpcm,
    encode_adpcm,
    encode_alaw,
    encode_ulaw,
)
from exstream_implementation_spark.operators.multimodal import (
    decode_wav,
    encode_wav_compressed,
    synth_samples,
)

try:  # stdlib independent model (deprecated 3.11, removed 3.13)
    import audioop
except ImportError:  # pragma: no cover
    audioop = None

needs_audioop = pytest.mark.skipif(
    audioop is None, reason="stdlib audioop removed on this python"
)


# --- G.711 -------------------------------------------------------------------


@needs_audioop
def test_g711_tables_match_audioop_bit_exact():
    all_bytes = bytes(range(256))
    assert np.array_equal(
        np.frombuffer(audioop.ulaw2lin(all_bytes, 2), "<i2"), ULAW_TABLE
    )
    assert np.array_equal(
        np.frombuffer(audioop.alaw2lin(all_bytes, 2), "<i2"), ALAW_TABLE
    )


@needs_audioop
def test_g711_encoders_match_audioop_bit_exact():
    rng = np.random.default_rng(7)
    s = np.concatenate(
        [
            rng.integers(-32768, 32768, 50_000),
            [0, 1, -1, 32767, -32768, 32635, -32635, 8158, -8159, 4, -4],
        ]
    ).astype(np.int16)
    assert encode_ulaw(s) == audioop.lin2ulaw(s.tobytes(), 2)
    assert encode_alaw(s) == audioop.lin2alaw(s.tobytes(), 2)


@pytest.mark.parametrize("codec", ["ulaw", "alaw"])
def test_g711_wav_roundtrip_and_idempotence(codec):
    s = synth_samples(11, 2000)
    d1, rate = decode_wav(encode_wav_compressed(s, 8000, codec))
    assert rate == 8000 and d1.shape == (2000, 1) and d1.dtype == np.int16
    # companding error bound: widest chord step is 1024 (16-bit units)
    err = np.abs(d1.reshape(-1).astype(np.int32) - s.astype(np.int32))
    assert err.max() <= 1024
    # idempotence: re-encoding already-expanded values is lossless
    d2, _ = decode_wav(
        encode_wav_compressed(d1.reshape(-1).astype(np.int16), 8000, codec)
    )
    assert np.array_equal(d1, d2)


# --- IMA ADPCM ---------------------------------------------------------------


@needs_audioop
def test_ima_nibble_decode_matches_audioop_bit_exact():
    from exstream_implementation_spark.operators.adpcm import (
        _ima_decode_nibbles,
    )

    rng = np.random.default_rng(3)
    nibs = rng.integers(0, 16, 4096).astype(np.uint8)
    # audioop packs the FIRST sample in the high nibble; WAV packs it low —
    # repack accordingly so both decode the same code sequence
    hi_first = bytes(
        (int(a) << 4) | int(b) for a, b in zip(nibs[0::2], nibs[1::2])
    )
    ref = np.frombuffer(audioop.adpcm2lin(hi_first, 2, (0, 0))[0], "<i2")
    mine, _, _ = _ima_decode_nibbles(nibs, 0, 0)
    assert np.array_equal(ref, mine)


def test_ima_adpcm_synth_field_roundtrips_exactly():
    # the synthetic sample field slews 7/sample — within the initial step,
    # so the deterministic codec loop reproduces it bit-exactly
    s = synth_samples(42, 4000)
    back, rate = decode_wav(encode_wav_compressed(s, 8000, "adpcm"))
    assert rate == 8000
    assert np.array_equal(back.reshape(-1), s)


def test_ima_adpcm_sine_tracks_within_adaptive_step():
    t = np.arange(16_000)
    sig = (12_000 * np.sin(2 * np.pi * 440 * t / 8000)).astype(np.int16)
    back, _ = decode_wav(encode_wav_compressed(sig, 8000, "adpcm"))
    err = np.abs(back.reshape(-1).astype(np.int32) - sig.astype(np.int32))
    # steady-state quantization ~step/8; the attack transient while the
    # step adapts from 7 is the known IMA artifact (audioop shows the
    # identical profile on this signal: mean 229, max 11547)
    assert err.mean() < 300
    assert np.median(err) < 300


def test_ima_adpcm_stereo_blocks_and_fact_trim():
    s = synth_samples(9, 1998)
    st = np.stack([s[:999], s[999:1998]], axis=1)  # odd → padded tail block
    blob = encode_wav_compressed(st, 16_000, "adpcm")
    back, rate = decode_wav(blob)
    assert rate == 16_000
    assert back.shape == (999, 2)  # fact chunk trims the zero padding
    err = np.abs(back.astype(np.int32) - st.astype(np.int32))
    assert err.mean() < 300


def test_ima_adpcm_validation():
    with pytest.raises(ValueError):
        decode_adpcm(b"\x00" * 64, channels=1, block_align=7)  # bad body
    with pytest.raises(ValueError):
        decode_adpcm(b"", channels=0, block_align=36)
    with pytest.raises(ValueError):
        encode_adpcm(np.empty((0,), dtype=np.int16))
    assert adpcm_samples_per_block(36, 1) == 65
    # inconsistent wSamplesPerBlock in the container refuses loudly
    blob = bytearray(encode_wav_compressed(synth_samples(5, 100), 8000, "adpcm"))
    at = blob.find(b"fmt ") + 8 + 18  # cbSize extension: wSamplesPerBlock
    struct.pack_into("<H", blob, at, 9999)
    with pytest.raises(ValueError):
        decode_wav(bytes(blob))


def test_wav_still_refuses_perceptual_codecs():
    blob = bytearray(encode_wav_compressed(synth_samples(5, 100), 8000, "ulaw"))
    at = blob.find(b"fmt ") + 8
    struct.pack_into("<H", blob, at, 0x55)  # MP3-in-WAV
    with pytest.raises(NotImplementedError):
        decode_wav(bytes(blob))


def test_spark_audio_stats_over_compressed_payloads(spark):
    """audio_stats' mapInPandas path decodes G.711/ADPCM payloads like any
    PCM stream — features match a local decode of the same blobs."""
    import math

    import pandas as pd
    from pyspark.sql import functions as F

    from exstream_implementation_spark.operators.multimodal import audio_stats

    @F.pandas_udf("binary")
    def blob(ids: pd.Series) -> pd.Series:
        return ids.map(
            lambda i: encode_wav_compressed(
                synth_samples(int(i), 300),
                8000,
                ("ulaw", "alaw", "adpcm")[int(i) % 3],
            )
        )

    df = (
        spark.range(9)
        .select(F.col("id").alias("doc_id"))
        .withColumn("payload", blob(F.col("doc_id")))
    )
    got = {r["doc_id"]: r for r in audio_stats(df).collect()}
    assert len(got) == 9
    for i in range(9):
        samples, rate = decode_wav(
            encode_wav_compressed(
                synth_samples(i, 300), 8000, ("ulaw", "alaw", "adpcm")[i % 3]
            )
        )
        s = samples.astype(np.int64).reshape(-1)
        assert got[i]["n_samples"] == 300 and got[i]["sample_rate"] == 8000
        assert got[i]["amp_mean"] == float(s.sum()) / 300
        assert got[i]["amp_rms"] == math.sqrt(float((s * s).sum()) / 300)
