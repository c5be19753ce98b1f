"""WAV codec (sparkextract/wav.py): encode→decode round-trips including
hypothesis-driven PCM, float32 scaling, exact features, and honest
failure on malformed or unsupported payloads."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sparkextract.wav import decode_wav, encode_wav_pcm16, wav_features


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.integers(-32768, 32767), min_size=1, max_size=400),
    st.integers(1, 3),
    st.sampled_from([8000, 16000, 44100]),
)
def test_wav_roundtrip_property(vals, ch, sr):
    n = len(vals) // ch
    if n == 0:
        return
    arr = np.array(vals[: n * ch], dtype=np.int16).reshape(n, ch)
    sr_out, out = decode_wav(encode_wav_pcm16(arr, sr))
    assert sr_out == sr
    assert out.shape == (n, ch)
    assert (out == arr).all()


def test_wav_mono_1d_input():
    s = (np.arange(100) - 50).astype(np.int16)
    sr, out = decode_wav(encode_wav_pcm16(s, 8000))
    assert out.shape == (100, 1) and (out[:, 0] == s).all()


def test_wav_malformed_raises():
    good = encode_wav_pcm16(np.zeros(10, np.int16), 8000)
    for bad in (b"", b"RIFF", b"RIFF\x10\x00\x00\x00WAVE", good[:30],
                b"RIFF\x04\x00\x00\x00AVI "):
        with pytest.raises(ValueError):
            decode_wav(bad)


def test_wav_non_pcm_raises_not_implemented():
    good = bytearray(encode_wav_pcm16(np.zeros(10, np.int16), 8000))
    good[20] = 85  # audio_format = MP3 — no stdlib path
    with pytest.raises(NotImplementedError):
        decode_wav(bytes(good))


def test_wav_float32_decodes_scaled():
    from sparkextract.wav import encode_wav_float32

    f = np.array([0.0, 0.5, -0.5, 1.0, -1.0, 2.0], dtype=np.float32)
    sr, out = decode_wav(encode_wav_float32(f, 22050))
    assert sr == 22050 and out.shape == (6, 1)
    assert out[:, 0].tolist() == [0, 16384, -16384, 32767, -32767, 32767]


def test_wav_features_exact():
    # constant +100 signal: rms == peak == 100, no crossings
    f = wav_features(encode_wav_pcm16(np.full(800, 100, np.int16), 16000))
    assert f == {
        "sample_rate": 16000, "n_channels": 1, "n_samples": 800,
        "duration_ms": 50.0, "rms": 100.0, "peak": 100,
        "zero_crossings": 0,
    }
    # alternating ±100: a crossing at every step
    alt = np.tile(np.array([100, -100], np.int16), 400)
    assert wav_features(encode_wav_pcm16(alt, 8000))["zero_crossings"] == 799
