"""Codec layer unit tests (no Spark)."""

import warnings

import numpy as np
import pytest

from open_data_linter_spark.audio.codecs import (
    CODECS,
    decode_clip,
    encode_clip,
    pcm_to_float32,
    sniff_codec,
    snr_db,
)


def _pcm(n=1600, seed=7):
    rng = np.random.default_rng(seed)
    t = np.arange(n) / 8000.0
    x = 0.5 * np.sin(2 * np.pi * 440 * t) + 0.01 * rng.standard_normal(n)
    return np.clip(x * 32767, -32768, 32767).astype(np.int16)


@pytest.mark.parametrize("codec", CODECS)
def test_roundtrip(codec):
    pcm = _pcm()
    data = encode_clip(pcm, 8000, codec)
    assert sniff_codec(data) == codec
    got_codec, sr, decoded = decode_clip(data)
    assert got_codec == codec
    assert sr == 8000
    assert len(decoded) == len(pcm)
    if codec == "pcm_s16le":
        assert np.array_equal(decoded, pcm)
    else:
        # G.711 is lossy but must stay comfortably above the 30 dB gate
        assert snr_db(pcm_to_float32(pcm), pcm_to_float32(decoded)) > 30.0


def test_g711_tables_match_audioop():
    """The lookup-table G.711 coder equals the stdlib one on every code and
    every int16 sample (for as long as ``audioop`` still imports)."""
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        audioop = pytest.importorskip("audioop")
    codes = bytes(range(256))
    samples = np.arange(-32768, 32768).astype(np.int16)
    for codec, lin2g, g2lin in (("ulaw", audioop.lin2ulaw, audioop.ulaw2lin),
                                ("alaw", audioop.lin2alaw, audioop.alaw2lin)):
        payload = encode_clip(samples, 8000, codec)[12:]
        assert payload == lin2g(samples.tobytes(), 2), codec
        container = encode_clip(np.zeros(256, np.int16), 8000, codec)[:12]
        _, _, decoded = decode_clip(container + codes)
        assert decoded.tobytes() == g2lin(codes, 2), codec


def test_decode_rejects_garbage():
    with pytest.raises(ValueError):
        decode_clip(b"XXXXnotaudio")
    with pytest.raises(ValueError):
        decode_clip(encode_clip(_pcm(), 8000, "ulaw")[:10])  # truncated payload


def test_decode_truncated_riff_is_valueerror():
    """4-11-byte RIFF fragments make the stdlib chunk reader raise
    EOFError (not wave.Error); the decode contract must normalize it to
    ValueError or one malformed clip kills a whole Spark job."""
    wav = encode_clip(_pcm(), 8000, "pcm_s16le")
    for frag in (b"RIFF", b"RIFFxx", b"RIFF\x00\x00\x00\x00WAV", wav[:11]):
        with pytest.raises(ValueError):
            decode_clip(frag)


def test_snr_exact_and_mismatch():
    a = pcm_to_float32(_pcm())
    assert snr_db(a, a) == float("inf")
    assert snr_db(a, a[:-1]) == -99.0


def test_synthesis_deterministic():
    from open_data_linter_spark.audio.synth import gen_clips_pdf

    a = gen_clips_pdf(np.array([0, 5, 9]))
    b = gen_clips_pdf(np.array([0, 5, 9]))
    assert a.equals(b)
    # any-subset regeneration matches full-batch generation
    full = gen_clips_pdf(np.arange(10))
    assert full.iloc[5]["bytes"] == a.iloc[1]["bytes"]
    assert full.iloc[5]["transcript"] == a.iloc[1]["transcript"]


def test_reference_matches_clean_decode():
    from open_data_linter_spark.audio.synth import gen_clips_pdf, gen_reference_pdf

    clips = gen_clips_pdf(np.arange(8))
    refs = gen_reference_pdf(np.arange(8))
    for i in range(8):
        _, sr, pcm = decode_clip(clips.iloc[i]["bytes"])
        ref = np.frombuffer(refs.iloc[i]["pcm_ref"], dtype=np.int16)
        assert sr == refs.iloc[i]["sr_hz_ref"]
        assert np.array_equal(pcm, ref)
        assert clips.iloc[i]["transcript"] == refs.iloc[i]["transcript_ref"]
