"""Golden tests for the batch PCM resampler: the flat-vectorized
np.interp kernel must equal the obvious per-clip np.interp loop, and
resampling must preserve signal identity (same rate), frequency
content (tone survives 8k -> 16k), and row-count/NULL contracts."""

from __future__ import annotations

import numpy as np
import pytest

from marshmallow_spark.functions.audio import ULAW_DECODE_LUT, ulaw_encode
from marshmallow_spark.functions.audio_transform import resample_clips


def _pcm16(x):
    return (np.clip(x, -1, 1) * 32767).astype("<i2").tobytes()


def _decode16(b):
    return np.frombuffer(b, dtype="<i2").astype(np.float64) / 32768.0


def _py_resample(x: np.ndarray, in_sr: int, out_sr: int) -> np.ndarray:
    n_in = len(x)
    n_out = max((n_in * out_sr + in_sr // 2) // in_sr, 1)
    if n_out == 1:
        pos = np.array([0.0])
    else:
        pos = np.arange(n_out) * (n_in - 1) / (n_out - 1)
    y = np.interp(pos, np.arange(n_in), x)
    # encode scale matches the decoder's 1/32768 (advice r4) so the
    # pcm16 encode/decode pair is an exact round-trip
    return np.clip(np.rint(y * 32768.0), -32768, 32767) / 32768.0


def test_resample_matches_per_clip_interp(spark):
    rng = np.random.default_rng(7)
    rows = []
    signals = {}
    for i, sr in enumerate([8000, 16000, 22050, 8000, 16000]):
        x = 0.4 * np.sin(2 * np.pi * (50 + 30 * i) * np.arange(sr // 2) / sr)
        x += 0.01 * rng.standard_normal(len(x))
        signals[f"c{i}"] = (x, sr)
        rows.append((f"c{i}", _pcm16(x), sr, 500, "pcm16"))
    # a ulaw clip exercises the other decode path
    xu = 0.3 * np.sin(2 * np.pi * 100 * np.arange(4000) / 8000)
    signals["cu"] = (
        ULAW_DECODE_LUT[
            np.frombuffer(
                ulaw_encode((xu * 32767).astype(np.int16)).tobytes(), np.uint8
            )
        ].astype(np.float64)
        / 32768.0,
        8000,
    )
    rows.append(
        ("cu", ulaw_encode((xu * 32767).astype(np.int16)).tobytes(), 8000, 500, "ulaw")
    )
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string"
    )
    out = {r.clip_id: r for r in resample_clips(df, 16000).collect()}
    assert len(out) == len(rows)
    for cid, (x, sr) in signals.items():
        exp = _py_resample(
            _decode16(_pcm16(x)) if cid != "cu" else x, sr, 16000
        )
        got = _decode16(bytes(out[cid].bytes))
        assert out[cid].sr_hz == 16000 and out[cid].codec == "pcm16"
        assert out[cid].n_samples == len(exp), cid
        np.testing.assert_allclose(got, exp, atol=1.5 / 32768.0), cid


def test_resample_identity_and_tone_frequency(spark):
    sr = 8000
    t = np.arange(sr) / sr
    tone = 0.4 * np.sin(2 * np.pi * 100 * t)
    df = spark.createDataFrame(
        [("tone", _pcm16(tone), sr, 1000, "pcm16")],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string",
    )
    same = resample_clips(df, sr).collect()[0]
    # identity-rate resample of a pcm16 clip is now an exact byte-level
    # round-trip (advice r4: encode with 1/decode scale, not 32767)
    assert bytes(same.bytes) == _pcm16(tone)
    up = resample_clips(df, 16000).collect()[0]
    y = _decode16(bytes(up.bytes))
    assert len(y) == 16000
    # the 100 Hz tone still crosses zero ~200 times per second
    zc = int(np.sum((y[1:] >= 0) != (y[:-1] >= 0)))
    assert abs(zc - 200) <= 2


def test_resample_null_and_unknown_rows_pass_through(spark):
    df = spark.createDataFrame(
        [
            ("bad-codec", b"\x01\x02", 8000, 10, "mp3"),
            ("null-bytes", None, 8000, 10, "pcm16"),
            ("ok", _pcm16(np.linspace(-0.5, 0.5, 80)), 8000, 10, "pcm16"),
        ],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string",
    )
    out = {r.clip_id: r for r in resample_clips(df, 16000).collect()}
    assert len(out) == 3
    assert out["bad-codec"].bytes is None and out["bad-codec"].n_samples == 0
    assert out["bad-codec"].codec is None and out["bad-codec"].sr_hz == 0
    assert out["null-bytes"].bytes is None
    assert out["ok"].n_samples == 160


def test_resample_rejects_bad_rate(spark):
    df = spark.createDataFrame(
        [("a", b"", 8000, 1, "pcm16")],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string",
    )
    with pytest.raises(ValueError):
        resample_clips(df, 0)


def test_segment_clips_golden_vs_loop(spark):
    """Fixed-length windows match a per-clip python loop exactly:
    byte-identical slices for pcm16 input (exact round-trip encode),
    overlap honored, partial tail kept, undecodable rows yield zero
    segments."""
    from marshmallow_spark.functions.audio_transform import segment_clips

    rng = np.random.default_rng(11)
    rows, signals = [], {}
    for i, (sr, nsamp) in enumerate(
        [(8000, 4000), (16000, 16000), (8000, 799), (22050, 5)]
    ):
        x = np.clip(0.5 * rng.standard_normal(nsamp), -1, 1)
        payload = np.clip(np.rint(x * 32768.0), -32768, 32767).astype("<i2")
        signals[f"c{i}"] = (payload, sr)
        rows.append((f"c{i}", payload.tobytes(), sr, 500, "pcm16"))
    rows.append(("bad", b"\x01\x02", 8000, 10, "mp3"))
    rows.append(("nul", None, 8000, 10, "pcm16"))
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string"
    )
    seg_ms, hop_ms = 100, 60
    got = {}
    for r in segment_clips(df, segment_ms=seg_ms, hop_ms=hop_ms).collect():
        got.setdefault(r.clip_id, {})[r.seg_idx] = r
    assert "bad" not in got and "nul" not in got

    for cid, (payload, sr) in signals.items():
        L = len(payload)
        seg_len = max(sr * seg_ms // 1000, 1)
        hop = max(sr * hop_ms // 1000, 1)
        want = []
        start = 0
        while start < L:
            want.append((start, payload[start : start + seg_len]))
            start += hop
        assert set(got[cid]) == set(range(len(want))), cid
        for idx, (s, seg) in enumerate(want):
            r = got[cid][idx]
            assert r.start_sample == s and r.n_samples == len(seg), (cid, idx)
            assert bytes(r.bytes) == seg.tobytes(), (cid, idx)
            assert r.codec == "pcm16" and r.sr_hz == sr


def test_segment_clips_default_hop_tiles_losslessly(spark):
    """hop = segment: concatenating the segments reproduces the clip
    byte-for-byte (chunk_documents' lossless-reassembly contract)."""
    from marshmallow_spark.functions.audio_transform import segment_clips

    x = np.arange(-500, 500, dtype="<i2")
    df = spark.createDataFrame(
        [("c", x.tobytes(), 8000, 125, "pcm16")],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string",
    )
    segs = sorted(
        segment_clips(df, segment_ms=37).collect(), key=lambda r: r.seg_idx
    )
    assert b"".join(bytes(r.bytes) for r in segs) == x.tobytes()
    assert [r.start_sample for r in segs] == [
        i * (8000 * 37 // 1000) for i in range(len(segs))
    ]


def test_normalize_gain_golden_vs_loop(spark):
    """Loudness normalization matches a per-clip loop: target RMS hit
    (within pcm16 quantization), silent clips untouched at 0 dB gain,
    hot clips attenuated, undecodable rows NULL."""
    from marshmallow_spark.functions.audio_transform import normalize_gain

    rng = np.random.default_rng(3)
    quiet = 0.01 * rng.standard_normal(2000)
    hot = np.clip(0.9 * np.sin(2 * np.pi * 50 * np.arange(3000) / 8000), -1, 1)
    silent = np.zeros(500)
    # a long random clip: the gain multiply must run in float64 — a
    # float32 product flips the rounded pcm16 sample by 1 LSB somewhere
    # among this many samples
    big = 0.05 * rng.standard_normal(200_000)
    rows = [
        ("quiet", np.clip(np.rint(quiet * 32768.0), -32768, 32767).astype("<i2").tobytes(), 8000, "pcm16"),
        ("hot", np.clip(np.rint(hot * 32768.0), -32768, 32767).astype("<i2").tobytes(), 8000, "pcm16"),
        ("silent", silent.astype("<i2").tobytes(), 8000, "pcm16"),
        ("big", np.clip(np.rint(big * 32768.0), -32768, 32767).astype("<i2").tobytes(), 16000, "pcm16"),
        ("bad", b"\x01", 8000, "mp3"),
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, codec string"
    )
    target = -20.0
    out = {r.clip_id: r for r in normalize_gain(df, target_dbfs=target).collect()}

    for cid, payload, _, codec in rows:
        if codec != "pcm16":
            assert out[cid].bytes is None and out[cid].gain_db is None
            continue
        x = np.frombuffer(payload, dtype="<i2").astype(np.float64) / 32768.0
        rms = np.sqrt(np.mean(x * x)) if len(x) else 0.0
        got = np.frombuffer(bytes(out[cid].bytes), dtype="<i2").astype(np.float64) / 32768.0
        if rms == 0.0:
            assert out[cid].gain_db == 0.0
            np.testing.assert_array_equal(got, x)
            continue
        want_gain = (10.0 ** (target / 20.0)) / rms
        assert out[cid].gain_db == pytest.approx(20 * np.log10(want_gain), abs=1e-9)
        want = np.clip(np.rint(np.clip(x * want_gain, -1, 1) * 32768.0), -32768, 32767) / 32768.0
        np.testing.assert_allclose(got, want, atol=1e-12), cid
    # the hot clip was attenuated (negative gain), the quiet one boosted
    assert out["hot"].gain_db < 0 < out["quiet"].gain_db
    # and the normalized RMS actually lands on target (quantization-close)
    y = np.frombuffer(bytes(out["quiet"].bytes), dtype="<i2").astype(np.float64) / 32768.0
    assert 20 * np.log10(np.sqrt(np.mean(y * y))) == pytest.approx(-20.0, abs=0.05)


def test_gain_metrics_fusion_exact(spark):
    """The fused gain->metrics kernel (round-6 composition fusion:
    gain_normalized_quality_metrics) must equal the CHAINED form
    audio_quality_metrics(normalize_gain(df)) bit-for-bit on every
    column — decodable pcm16/ulaw/alaw clips, a boosted quiet clip, a
    clipped-after-gain hot clip, a silent clip, an odd-trailing-byte
    payload, a NULL payload, and an unknown codec."""
    from marshmallow_spark.functions.audio import alaw_encode, ulaw_encode
    from marshmallow_spark.functions.audio_quality import (
        audio_quality_metrics,
    )
    from marshmallow_spark.functions.audio_transform import (
        gain_normalized_quality_metrics,
        normalize_gain,
    )

    rng = np.random.default_rng(11)
    quiet = 0.01 * rng.standard_normal(2000)
    hot = np.clip(0.9 * np.sin(2 * np.pi * 50 * np.arange(3000) / 8000), -1, 1)
    tone = 0.3 * np.sin(2 * np.pi * 220 * np.arange(4000) / 16000)
    rows = [
        ("quiet", _pcm16(quiet), 8000, "pcm16"),
        ("hot", _pcm16(hot), 8000, "pcm16"),
        ("silent", np.zeros(500, dtype="<i2").tobytes(), 8000, "pcm16"),
        ("odd", _pcm16(tone)[:-1], 16000, "pcm16"),
        ("ul", ulaw_encode((tone * 32767).astype(np.int16)).tobytes(), 8000, "ulaw"),
        ("al", alaw_encode((tone * 32767).astype(np.int16)).tobytes(), 8000, "alaw"),
        ("nul", None, 8000, "pcm16"),
        ("bad", b"\x01\x02", 8000, "mp3"),
        ("empty", b"", 8000, "pcm16"),
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, codec string"
    )
    for target in (-12.0, -20.0):
        chained = {
            r.clip_id: tuple(r)
            for r in audio_quality_metrics(
                normalize_gain(df, target_dbfs=target)
            ).collect()
        }
        fused = {
            r.clip_id: tuple(r)
            for r in gain_normalized_quality_metrics(
                df, target_dbfs=target
            ).collect()
        }
        assert set(chained) == set(fused)
        for cid in chained:
            assert chained[cid] == fused[cid], (target, cid, chained[cid], fused[cid])


def test_feature_drift_uses_fusion_and_matches_unfused(spark):
    """audio_feature_drift over a normalize_gain current side takes the
    fused single-decode path (2 MapInArrow nodes, not 3) and returns
    the identical report to the unfused chain."""
    from marshmallow_spark.functions.audio_quality import (
        audio_feature_drift,
        audio_quality_metrics,
    )
    from marshmallow_spark.functions.audio_transform import normalize_gain
    from marshmallow_spark.operators.drift import divergence_report_multi
    from marshmallow_spark.functions.audio_quality import (
        DRIFT_FEATURES_DEFAULT,
    )
    from pyspark.sql import functions as F

    rng = np.random.default_rng(5)
    rows = []
    for i in range(50):
        x = 0.2 * np.sin(2 * np.pi * (60 + i) * np.arange(1600) / 8000)
        x += 0.02 * rng.standard_normal(1600)
        rows.append((f"c{i}", _pcm16(x), 8000, "pcm16"))
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, codec string"
    )
    cur = normalize_gain(df, target_dbfs=-12.0)
    fused_report = audio_feature_drift(df, cur).collect()

    # unfused chain, built WITHOUT the fusion tag
    m0 = audio_quality_metrics(df).withColumn("_snap", F.lit(0))
    m1 = audio_quality_metrics(cur).withColumn("_snap", F.lit(1))
    unfused_report = divergence_report_multi(
        m0.unionByName(m1), dict(DRIFT_FEATURES_DEFAULT), "_snap", 20,
        round_digits=6,
    ).collect()
    assert [tuple(r) for r in fused_report] == [tuple(r) for r in unfused_report]
