"""Audio codec + feature tests.

External vectors: CPython's bundled pluck-* clips (PSF-licensed public
test data, tests/fixtures/audio/) — one waveform as WAV at four PCM
depths plus a WAVE_FORMAT_EXTENSIBLE copy. The stdlib ``wave`` reader
is the independent bit-exact oracle; the depths cross-check each other
by correlation. Formats other than WAV are not decoded: they must fail
loudly in ``decode_wav`` and fall back to the fake in the seam.
"""

import os
import struct

import numpy as np
import pytest

from sfa_spark.operators.audio import (
    audio_features,
    audio_fingerprint,
    audio_or_fake_decoder,
    decode_wav,
    encode_wav,
    fake_audio_decoder,
)

F = os.path.join(os.path.dirname(__file__), "fixtures", "audio")


def fx(name: str) -> bytes:
    return open(os.path.join(F, name), "rb").read()


def corr(a: np.ndarray, b: np.ndarray) -> float:
    n = min(a.size, b.size)
    return float(np.corrcoef(a.ravel()[:n], b.ravel()[:n])[0, 1])


@pytest.mark.parametrize(
    "name,bits", [("pluck-pcm8.wav", 8), ("pluck-pcm16.wav", 16),
                  ("pluck-pcm24.wav", 24), ("pluck-pcm32.wav", 32)]
)
def test_wav_matches_stdlib_wave(name, bits):
    import io
    import wave

    payload = fx(name)
    samples, rate = decode_wav(payload)
    wv = wave.open(io.BytesIO(payload))
    assert rate == wv.getframerate()
    assert samples.shape == (wv.getnframes(), wv.getnchannels())
    raw = wv.readframes(wv.getnframes())
    if bits == 8:
        want = (np.frombuffer(raw, np.uint8).astype(np.float64) - 128.0) / 128.0
    elif bits == 24:
        b = np.frombuffer(raw, np.uint8).reshape(-1, 3)
        v = (b[:, 2].astype(np.int32) << 16) | (b[:, 1].astype(np.int32) << 8) | b[:, 0]
        want = np.where(v & 0x800000, v - 0x1000000, v).astype(np.float64) / (1 << 23)
    else:
        want = np.frombuffer(raw, f"<i{bits//8}").astype(np.float64) / (1 << (bits - 1))
    assert np.array_equal(samples.ravel(), want)


def test_wave_format_extensible_equals_plain_24bit():
    a, ra = decode_wav(fx("pluck-pcm24.wav"))
    b, rb = decode_wav(fx("pluck-pcm24-ext.wav"))
    assert ra == rb and np.array_equal(a, b)


def test_cross_container_same_waveform():
    """The same pluck recording at four PCM depths must decode to
    near-identical waveforms (independent conversions of one clip)."""
    w, rw = decode_wav(fx("pluck-pcm16.wav"))
    assert rw == 11025 and w.shape == (3307, 2)
    for name in ("pluck-pcm8.wav", "pluck-pcm24.wav", "pluck-pcm32.wav"):
        d, rd = decode_wav(fx(name))
        assert rd == rw and d.shape == w.shape, name
        assert corr(d, w) > 0.999, name


def test_wav_round_trip():
    rng = np.random.default_rng(5)
    s = np.clip(rng.normal(0, 0.2, (500, 2)), -1, 0.999)
    for bits in (8, 16, 32):
        out, rate = decode_wav(encode_wav(s, 22050, bits=bits))
        assert rate == 22050 and out.shape == s.shape
        assert np.abs(out - s).max() <= 1.5 / (1 << (bits - 1))


def test_features_on_synthetic_sine():
    rate = 8000
    t = np.arange(rate)  # 1 second
    # 943 Hz: not a divisor of the rate, so no exact-zero sample comb
    sine = 0.5 * np.sin(2 * np.pi * 943.0 * t / rate)
    f = audio_features(sine.reshape(-1, 1), rate)
    assert abs(f["duration_s"] - 1.0) < 1e-9
    assert abs(f["rms"] - 0.5 / np.sqrt(2)) < 0.01
    assert abs(f["peak"] - 0.5) < 1e-3
    assert abs(f["zcr"] - 2 * 943.0 / rate) < 0.01  # 2 crossings per cycle
    assert abs(f["centroid_hz"] - 943.0) < 120.0
    assert f["rolloff_hz"] >= 900.0
    assert f["silence_ratio"] < 0.05
    noise = np.clip(np.random.default_rng(1).normal(0, 0.3, rate), -1, 1)
    fn = audio_features(noise.reshape(-1, 1), rate)
    assert fn["flatness"] > f["flatness"] * 5  # noise is spectrally flat
    assert fn["bandwidth_hz"] > f["bandwidth_hz"]


def test_fingerprint_determinism_and_discrimination():
    rate = 8000
    t = np.arange(rate)
    chirp = np.sin(2 * np.pi * (300 + 0.2 * t) * t / rate)
    other = np.sin(2 * np.pi * 2500.0 * t / rate)
    f1 = audio_fingerprint(chirp)
    assert f1 == audio_fingerprint(chirp.copy())
    assert len(f1) == 8 and f1 == sorted(f1)
    assert f1 != audio_fingerprint(other)
    w, _ = decode_wav(fx("pluck-pcm16.wav"))
    a, _ = decode_wav(fx("pluck-pcm24.wav"))
    fw = audio_fingerprint(w.mean(axis=1))
    fa = audio_fingerprint(a.mean(axis=1))
    # near-identical waveforms land in mostly the same landmark set
    assert len(set(fw) & set(fa)) >= 6


def test_seam_dispatch_and_fake_fallback():
    s, rate = audio_or_fake_decoder(fx("pluck-pcm16.wav"), {})
    assert rate == 11025 and s.shape == (3307, 2)
    s, rate = audio_or_fake_decoder(fx("pluck-pcm24-ext.wav"), {})
    assert rate == 11025 and s.shape == (3307, 2)
    garbage = b"ID3\x03\x00" + bytes(range(200))  # an mp3-ish payload
    s, rate = audio_or_fake_decoder(garbage, {"sample_rate": 16000})
    sf, rf = fake_audio_decoder(garbage, {"sample_rate": 16000})
    assert rate == rf == 16000 and np.array_equal(s, sf)


def test_corrupt_payloads_raise():
    with pytest.raises(ValueError):
        decode_wav(b"not audio at all")
    with pytest.raises(ValueError):
        decode_wav(b"RIFF\x08\x00\x00\x00WAVEdata")  # no fmt chunk


def test_companded_wav_fails_loudly_and_seam_falls_back_to_fake():
    # format tag 0x0007 is G.711 µ-law: a valid WAV, but not one decoded here
    raw = bytes(range(256)) * 4
    fmt = struct.pack("<HHIIHH", 0x0007, 1, 8000, 8000, 1, 8)
    payload = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    payload += b"data" + struct.pack("<I", len(raw)) + raw
    payload = b"RIFF" + struct.pack("<I", 4 + len(payload)) + b"WAVE" + payload
    with pytest.raises(ValueError, match="^unsupported WAVE format tag 0x0007$"):
        decode_wav(payload)
    meta = {"sample_rate": 8000}
    s, rate = audio_or_fake_decoder(payload, meta)
    sf, rf = fake_audio_decoder(payload, meta)
    assert rate == rf and np.array_equal(s, sf)


def test_extract_audio_features_spark_end_to_end(spark):
    import pandas as pd

    from sfa_spark.operators.audio import extract_audio_features
    from sfa_spark.operators.multimodal import MEDIA_SCHEMA

    rate = 8000
    t = np.arange(rate // 2)
    rows = []
    for i in range(4):
        tone = 0.4 * np.sin(2 * np.pi * (400 * (i + 1)) * t / rate)
        rows.append(
            {
                "media_id": i,
                "kind": "audio",
                "payload": encode_wav(tone.reshape(-1, 1), rate),
                "meta": {"width": None, "height": None, "channels": 1,
                         "sample_rate": rate, "duration_ms": 500},
            }
        )
    rows.append(
        {
            "media_id": 99,
            "kind": "audio",
            "payload": b"\x00\x01\x02oggish",
            "meta": {"width": None, "height": None, "channels": 1,
                     "sample_rate": 8000, "duration_ms": 10},
        }
    )
    media = spark.createDataFrame(pd.DataFrame(rows), schema=MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in extract_audio_features(media).collect()}
    assert len(out) == 5
    # centroids track the tone frequencies, monotonically
    cents = [out[i]["centroid_hz"] for i in range(4)]
    assert all(b > a for a, b in zip(cents, cents[1:]))
    assert all(abs(out[i]["duration_s"] - 0.5) < 1e-9 for i in range(4))
    assert len(out[0]["fingerprint"]) == 8
