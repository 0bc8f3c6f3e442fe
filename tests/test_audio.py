"""Audio codec + invariant checks: G.711 roundtrip SNR, corruption
detection, truncation, transcript mismatch — on the deterministic synth
table."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from marshmallow_spark.functions import audio
from marshmallow_spark.sources.synth import generate_batch, synth_clips


def _invariant(pdf):
    """check_invariant_arrow_batch over a generate_batch frame, as a
    pandas frame (empty when the kernel emits no batch)."""
    out = audio.check_invariant_arrow_batch(pa.RecordBatch.from_pandas(pdf))
    if out is None:
        return pd.DataFrame(columns=["clip_id", "field", "message", "snr_db"])
    return out.to_pandas()


def test_ulaw_roundtrip_snr():
    idx = np.arange(8, dtype=np.int64)
    sr = np.full(8, 8000, dtype=np.int64)
    dur = np.full(8, 100, dtype=np.int64)
    pcm, lens = audio.reference_pcm16_flat(idx, sr, dur)
    dec = audio.ULAW_DECODE_LUT[audio.ulaw_encode(pcm)].astype(np.float32) / 32768.0
    ref = pcm.astype(np.float32) / 32768.0
    snr = audio._snr_db(ref, dec, lens)
    assert (snr > 30).all(), snr


def test_alaw_roundtrip_snr():
    idx = np.arange(8, dtype=np.int64)
    sr = np.full(8, 16000, dtype=np.int64)
    dur = np.full(8, 80, dtype=np.int64)
    pcm, lens = audio.reference_pcm16_flat(idx, sr, dur)
    dec = audio.ALAW_DECODE_LUT[audio.alaw_encode(pcm)].astype(np.float32) / 32768.0
    ref = pcm.astype(np.float32) / 32768.0
    snr = audio._snr_db(ref, dec, lens)
    assert (snr > 30).all(), snr


def test_clean_batch_has_no_violations():
    idx = np.arange(50, dtype=np.int64)
    pdf = generate_batch(idx, with_violations=False, dur_lo=40, dur_hi=120)
    out = _invariant(pdf)
    assert len(out) == 0, out


def test_injected_violations_detected():
    # indices covering each violation class
    idx = np.array([3, 5, 17, 23, 499 * 3 + 3, 991 + 5, 977 + 23], dtype=np.int64)
    pdf = generate_batch(idx, with_violations=True, dur_lo=40, dur_hi=120)
    out = _invariant(pdf)
    by_field = out.groupby("field").size().to_dict()
    assert by_field.get("bytes", 0) >= 3  # corrupt x2 + truncated
    assert by_field.get("transcript", 0) >= 2
    # corrupted rows report SNR below threshold
    snrs = out[out["message"].str.startswith("Audio does not match")]["snr_db"]
    assert (snrs < 30).all()


def test_unknown_codec_detected():
    idx = np.array([17, 1019 + 17], dtype=np.int64)
    pdf = generate_batch(idx, with_violations=True, dur_lo=40, dur_hi=120)
    out = _invariant(pdf)
    assert "Must be one of: pcm16, ulaw, alaw." in set(out["message"])


def test_synth_clips_deterministic(spark):
    a = synth_clips(spark, 200, num_partitions=2).orderBy("clip_id").collect()
    b = synth_clips(spark, 200, num_partitions=4).orderBy("clip_id").collect()
    assert len(a) == 200
    for ra, rb in zip(a, b):
        assert ra.clip_id == rb.clip_id
        assert ra.bytes == rb.bytes
        assert ra.transcript == rb.transcript


def test_invariant_on_spark(spark):
    df = synth_clips(spark, 1000, num_partitions=4)
    viol = audio.audio_invariant_violations(df)
    rows = viol.collect()
    assert len(rows) > 0
    fields = {r.field for r in rows}
    assert "bytes" in fields
    # clean table has zero invariant violations
    clean = synth_clips(spark, 500, with_violations=False, num_partitions=2)
    assert audio.audio_invariant_violations(clean).count() == 0


def _mixed_clip_batch(n=3000):
    """~3k rows of every codec with the planted violations, including
    truncated payloads (i % 991 == 5), plus every 97th payload NULL."""
    pdf = generate_batch(
        np.arange(n, dtype=np.int64), with_violations=True, dur_lo=40, dur_hi=120
    )
    pdf.loc[::97, "bytes"] = None
    return pa.RecordBatch.from_pandas(pdf, preserve_index=False)


def test_iter_decoded_chunks_independent_of_chunk_size():
    """The shared chunk loop yields the same rows, in the same order,
    with the same decoded samples per row whether a chunk holds 7 rows
    or the whole batch."""
    batch = _mixed_clip_batch()
    cb = audio.ClipBatch(batch)
    usable = cb.usable()
    assert (~cb.b_valid).sum() > 0
    assert (cb.b_valid & (usable != cb.byte_len)).sum() > 0  # odd-byte truncations
    assert set(audio.KNOWN_CODECS) <= set(cb.col["codec"].to_pylist())

    def decode(chunk_rows):
        order, pcm = [], {}
        for codec, sel, lens, x in audio.iter_decoded_chunks(
            cb, usable > 0, usable, chunk_rows
        ):
            assert 0 < len(sel) <= chunk_rows
            assert (cb.width[sel] == audio.SAMPLE_WIDTH[codec]).all()
            assert x.shape[0] == lens.sum()
            starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
            for i, s0, ln in zip(sel.tolist(), starts, lens):
                pcm[i] = x[s0 : s0 + ln].copy()
            order.extend(sel.tolist())
        return order, pcm

    small_order, small = decode(7)
    whole_order, whole = decode(batch.num_rows)
    assert small_order == whole_order
    assert sorted(whole_order) == np.flatnonzero(usable > 0).tolist()
    for i in whole_order:
        np.testing.assert_array_equal(small[i], whole[i])


@pytest.mark.parametrize("quality", [None, {"min_rms_dbfs": -40.0, "clip_threshold": 0.999}])
def test_invariant_kernel_independent_of_chunk_size(monkeypatch, quality):
    batch = _mixed_clip_batch()

    def run(chunk_rows):
        monkeypatch.setattr(audio, "UDF_CHUNK_ROWS", chunk_rows)
        return audio.check_invariant_arrow_batch(batch, quality=quality).to_pydict()

    small, whole = run(7), run(batch.num_rows)
    assert len(whole["clip_id"]) > 0
    assert small == whole


def test_zero_sample_decodable_row_does_not_crash(spark):
    """A structurally-plausible clip whose sr*dur yields ZERO samples
    (sr=1 Hz, dur=1 ms -> n_samples=0, empty payload matches expected
    length) sits last in the batch: its reduceat start index equals the
    flat array length — the fuzz-caught out-of-bounds. Both the plain
    invariant kernel and the fused invariant+quality kernel must
    process the batch; the empty clip is simply unmeasured."""
    rows = [
        ("ok-000000000003", None, 8000, 500, "pcm16", None),
        ("zz-empty", b"", 1, 1, "pcm16", "x"),
    ]
    # give the ok row a real payload from the generator
    from marshmallow_spark.sources.synth import synth_clips

    base = synth_clips(spark, 50, with_violations=False, num_partitions=1)
    extra = spark.createDataFrame(
        [rows[1]],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
    )
    df = base.unionByName(extra, allowMissingColumns=True).coalesce(1)
    # invariant kernel
    viol = audio.audio_invariant_violations(df).collect()
    assert all(r.clip_id != "zz-empty" or r.field in ("bytes", "transcript") for r in viol)
    # fused kernel
    from marshmallow_spark.functions.audio_quality import fused_audio_violations

    fused = fused_audio_violations(df, min_rms_dbfs=-60.0).collect()
    assert not any(r.clip_id == "zz-empty" and r.check == "audio_quality" for r in fused)
