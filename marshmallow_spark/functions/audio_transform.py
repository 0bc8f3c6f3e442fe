"""Audio payload transforms — sample-rate normalization for training
pipelines (the audio analog of image resize).

``resample_clips`` decodes each clip (same LUT kernels as the
invariant), linearly resamples it to a target rate, and re-encodes
pcm16 — all inside one ``mapInArrow`` pass with NO per-row Python
loop: the interpolation positions for every output sample of every
clip in the batch are built as flat vectors (offsets + repeat) and a
single ``np.interp`` call over the concatenated sample buffer does the
whole batch. Per-segment position mapping is endpoint-to-endpoint
(position = in_off + local * (len_in-1)/(len_out-1)), so positions
never cross a clip boundary — neighbor clips cannot blend.

Linear interpolation is the documented quality/cost point (no
polyphase filter): adequate for the sine-plus-noise reference corpus
and for feature pipelines; a production kernel would swap in a
windowed-sinc filter behind the same batch plumbing.
"""

from __future__ import annotations

import numpy as np

from .audio import _WS, ClipBatch, iter_decoded_chunks

RESAMPLE_OUT_SCHEMA = (
    "clip_id string, bytes binary, sr_hz int, dur_ms int, "
    "codec string, n_samples long"
)

RESAMPLE_CHUNK_ROWS = 2048


def _encode_pcm16(x: np.ndarray) -> np.ndarray:
    """Re-encode float PCM in [-1, 1] to int16 with the SAME scale the
    decoder uses (1/32768), so decode -> encode is an exact bit-for-bit
    round-trip for pcm16 sources: trim_silence is a pure cut of kept
    samples and an identity-rate resample is lossless.  (Encoding with
    32767 — the previous behavior — perturbed full-scale samples by
    1 LSB.)  Clipped to the int16 range: only +1.0 exactly maps above
    32767 and clips to it."""
    return np.clip(np.rint(x * 32768.0), -32768, 32767).astype("<i2")


def _gain_scaled_pcm16_chunk(dec32: np.ndarray, lens: np.ndarray, target_amp: float):
    """The normalize_gain chain over one decoded chunk — per-clip RMS
    gain to ``target_amp``, clip, pcm16 quantize — with every
    per-sample temporary in the per-worker workspace.

    The round-5 form allocated ~7 fresh multi-MB numpy arrays per chunk
    (``astype(float64)``, ``dec * dec``, ``np.repeat(gains, lens)``,
    and four more inside ``_encode_pcm16``); across 32 workers those
    mmap allocations serialize on the kernel page allocator (the
    audio._Workspace lesson — measured here as the fused drift kernel
    running 4x the plain metrics pass over the same corpus).  Every
    operation below is value-identical to that form: the f32->f64 copy
    is the exact widening ``astype`` performed, the per-row scalar
    multiply applies the same float64 product ``np.repeat`` expanded
    elementwise, and the in-place rint/clip with an int16 buffer
    assignment is ``_encode_pcm16``'s chain (the cast is exact — values
    are integral after rint).

    Returns (pcm int16 workspace view, starts, gain_db) for the chunk;
    the view is valid until the next chunk on this worker."""
    m = dec32.shape[0]
    starts = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    # dtype= forces the exact widen-then-square float64 loop over the
    # f32 samples — identical to the astype(float64) copy the round-5
    # form paid a full memory pass for (_segment_stats' same trick)
    sq = np.multiply(dec32, dec32, dtype=np.float64, out=_WS.f64("gn_sq", m))
    ssum = np.add.reduceat(sq, starts) if m else np.zeros(len(lens))
    ssum[lens == 0] = 0.0
    rms = np.sqrt(ssum / np.maximum(lens, 1))
    gains = np.where(rms > 0.0, target_amp / np.maximum(rms, 1e-300), 1.0)
    gain_db = np.where(
        rms > 0.0, 20.0 * np.log10(np.maximum(gains, 1e-300)), 0.0
    )
    dec = _WS.f64("gn_dec64", m)
    for j in range(len(lens)):
        s = int(starts[j])
        e = s + int(lens[j])
        # dtype= again: without it NumPy's value-based casting demotes
        # the float64 gain to float32 and the product is rounded to
        # float32 before the widening store — a 1-LSB pcm16 flip on
        # some samples of long clips
        np.multiply(dec32[s:e], gains[j], out=dec[s:e], dtype=np.float64)
    # the round-5 clip(-1, 1) pass is provably absorbed by the int16
    # clamp below: for |x| > 1, rint(x * 32768) lands outside
    # [-32768, 32767] exactly when clip-then-scale would, and both
    # forms emit the same saturated sample — one fewer full pass
    dec *= 32768.0
    np.rint(dec, out=dec)
    np.clip(dec, -32768, 32767, out=dec)
    pcm = _WS._get("gn_pcm", m, np.dtype("<i2"))
    pcm[:] = dec
    return pcm, starts, gain_db


def _pcm16_offsets(final_off: np.ndarray) -> np.ndarray:
    """Byte offsets for the output pa.binary() column.  Arrow's binary
    type carries int32 offsets; one mapInArrow batch whose re-encoded
    payload exceeds 2**31-1 bytes (~1.07e9 samples) would silently wrap
    negative and emit a corrupt RecordBatch — raise instead so callers
    lower spark.sql.execution.arrow.maxRecordsPerBatch (or chunk long
    clips upstream)."""
    total = int(final_off[-1]) * 2
    if total > np.iinfo(np.int32).max:
        raise ValueError(
            f"re-encoded PCM payload for this Arrow batch is {total} bytes, "
            "over the int32 offset limit of pa.binary(); reduce "
            "spark.sql.execution.arrow.maxRecordsPerBatch so fewer clips "
            "land in one batch"
        )
    return (final_off * 2).astype(np.int32)


def _resample_flat(
    flat: np.ndarray, in_lens: np.ndarray, out_lens: np.ndarray
) -> np.ndarray:
    """Vectorized per-segment linear resample of the concatenated
    sample buffer: one np.interp over the whole batch."""
    n_out = int(out_lens.sum())
    if n_out == 0:
        return np.empty(0, dtype=np.float64)
    in_off = np.zeros(len(in_lens), dtype=np.int64)
    np.cumsum(in_lens[:-1], out=in_off[1:])
    out_off = np.zeros(len(out_lens), dtype=np.int64)
    np.cumsum(out_lens[:-1], out=out_off[1:])

    # local output index within each segment
    gidx = np.arange(n_out, dtype=np.float64)
    gidx -= np.repeat(out_off, out_lens)
    # endpoint-to-endpoint ratio; single-sample outputs pin to start
    denom = np.maximum(out_lens - 1, 1).astype(np.float64)
    ratio = (in_lens - 1).astype(np.float64) / denom
    pos = gidx * np.repeat(ratio, out_lens) + np.repeat(in_off, out_lens)
    return np.interp(pos, np.arange(flat.shape[0], dtype=np.float64), flat)


def resample_arrow_batch(batch, target_sr: int):
    import pyarrow as pa
    import pyarrow.compute as pc

    cb = ClipBatch(batch)
    n, col, sr = cb.n, cb.col, cb.sr
    id_arr = col["clip_id"]
    usable = cb.usable()
    decodable = (usable > 0) & (sr > 0)

    # pass 1 (metadata only): output length per row, so the final
    # binary column's offsets and sample buffer can be allocated up
    # front and each chunk's samples SCATTERED into place with one
    # fancy-index assignment — no per-row Python in the assembly either
    out_n = np.zeros(n, dtype=np.int64)
    rows = np.flatnonzero(decodable)
    in_lens = usable[rows] // cb.width[rows]
    out_n[rows] = np.maximum((in_lens * target_sr + sr[rows] // 2) // sr[rows], 1)

    final_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(out_n, out=final_off[1:])
    data = np.zeros(int(final_off[-1]), dtype="<i2")

    for _, sel, in_lens, dec in iter_decoded_chunks(
        cb, decodable, usable, RESAMPLE_CHUNK_ROWS
    ):
        out_lens = out_n[sel]
        res = _resample_flat(dec.astype(np.float64), in_lens, out_lens)
        pcm = _encode_pcm16(res)
        oo = np.zeros(len(sel), dtype=np.int64)
        np.cumsum(out_lens[:-1], out=oo[1:])
        local = np.arange(int(out_lens.sum()), dtype=np.int64)
        local -= np.repeat(oo, out_lens)
        dest = np.repeat(final_off[sel], out_lens) + local
        data[dest] = pcm

    valid = out_n > 0
    offsets = _pcm16_offsets(final_off)
    raw_binary = pa.Array.from_buffers(
        pa.binary(),
        n,
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data.tobytes())],
    )
    bytes_arr = pc.if_else(
        pa.array(valid), raw_binary, pa.scalar(None, pa.binary())
    )
    codec_out = pc.if_else(
        pa.array(valid), pa.scalar("pcm16", pa.string()), pa.scalar(None, pa.string())
    )
    return pa.RecordBatch.from_arrays(
        [
            pc.cast(id_arr, pa.string()),
            bytes_arr,
            pa.array(
                np.where(valid, target_sr, 0).astype(np.int32), type=pa.int32()
            ),
            pc.cast(col["dur_ms"], pa.int32()),
            codec_out,
            pa.array(out_n, type=pa.int64()),
        ],
        names=["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "n_samples"],
    )


def resample_clips(df, target_sr: int):
    """DataFrame entry point: re-encode every decodable clip as pcm16
    at ``target_sr`` (one row out per row in; undecodable rows keep
    NULL payload/codec and n_samples 0 so callers can route them to the
    violation stream). Zero shuffles — a pure mapInArrow over the
    pruned scan."""
    if target_sr < 1:
        raise ValueError(f"target_sr {target_sr} < 1")
    pruned = df.select("clip_id", "bytes", "sr_hz", "dur_ms", "codec")

    def run(batches):
        for batch in batches:
            yield resample_arrow_batch(batch, target_sr)

    return pruned.mapInArrow(run, schema=RESAMPLE_OUT_SCHEMA)


TRIM_OUT_SCHEMA = (
    "clip_id string, bytes binary, sr_hz int, codec string, "
    "n_samples long, trimmed_head long, trimmed_tail long"
)


def trim_silence_arrow_batch(batch, threshold: float):
    """One Arrow RecordBatch -> leading/trailing silence stripped from
    every decodable clip, re-encoded pcm16. Zero per-row Python: the
    per-clip first/last active sample comes from min/max.reduceat over
    index vectors masked by |x| >= threshold, and the kept runs scatter
    into the preallocated output buffer exactly like resample."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cb = ClipBatch(batch)
    n, col = cb.n, cb.col
    id_arr = col["clip_id"]
    usable = cb.usable()
    decodable = usable > 0

    out_n = np.zeros(n, dtype=np.int64)
    head_cut = np.zeros(n, dtype=np.int64)
    tail_cut = np.zeros(n, dtype=np.int64)
    first_rel = np.zeros(n, dtype=np.int64)

    # pass 1: decode per chunk, locate each clip's active run
    for _, sel, lens, dec in iter_decoded_chunks(
        cb, decodable, usable, RESAMPLE_CHUNK_ROWS
    ):
        starts = np.zeros(len(sel), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        total = int(lens.sum())
        idxs = np.arange(total, dtype=np.int64)
        active = np.abs(dec) >= np.float32(threshold)
        big = np.int64(total + 1)
        first = np.minimum.reduceat(np.where(active, idxs, big), starts)
        last = np.maximum.reduceat(
            np.where(active, idxs, np.int64(-1)), starts
        )
        nz = lens > 0
        silent = (~nz) | (first > last)
        rel_first = np.where(silent, 0, first - starts)
        rel_last = np.where(silent, -1, last - starts)
        keep = rel_last - rel_first + 1  # 0 for fully-silent clips
        out_n[sel] = keep
        head_cut[sel] = np.where(silent, lens, rel_first)
        tail_cut[sel] = np.where(silent, 0, lens - 1 - rel_last)
        first_rel[sel] = rel_first

    final_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(out_n, out=final_off[1:])
    data = np.zeros(int(final_off[-1]), dtype="<i2")

    # pass 2: re-decode per chunk and scatter the kept runs
    for _, sel, lens, dec in iter_decoded_chunks(
        cb, decodable, usable, RESAMPLE_CHUNK_ROWS
    ):
        keep = out_n[sel]
        kept_total = int(keep.sum())
        if kept_total == 0:
            continue
        starts = np.zeros(len(sel), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        oo = np.zeros(len(sel), dtype=np.int64)
        np.cumsum(keep[:-1], out=oo[1:])
        local = np.arange(kept_total, dtype=np.int64)
        local -= np.repeat(oo, keep)
        src = np.repeat(starts + first_rel[sel], keep) + local
        dest = np.repeat(final_off[sel], keep) + local
        data[dest] = _encode_pcm16(dec[src].astype(np.float64))

    offsets = _pcm16_offsets(final_off)
    raw_binary = pa.Array.from_buffers(
        pa.binary(),
        n,
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data.tobytes())],
    )
    bytes_arr = pc.if_else(
        pa.array(decodable), raw_binary, pa.scalar(None, pa.binary())
    )
    codec_out = pc.if_else(
        pa.array(decodable),
        pa.scalar("pcm16", pa.string()),
        pa.scalar(None, pa.string()),
    )

    def _i64(vals):
        return pa.array(
            [int(v) if m else None for v, m in zip(vals, decodable)],
            type=pa.int64(),
        )

    return pa.RecordBatch.from_arrays(
        [
            pc.cast(id_arr, pa.string()),
            bytes_arr,
            pc.cast(col["sr_hz"], pa.int32()),
            codec_out,
            _i64(out_n),
            _i64(head_cut),
            _i64(tail_cut),
        ],
        names=[
            "clip_id",
            "bytes",
            "sr_hz",
            "codec",
            "n_samples",
            "trimmed_head",
            "trimmed_tail",
        ],
    )


def trim_silence_clips(df, *, threshold: float = 1e-4):
    """DataFrame entry point: strip leading/trailing samples with
    |x| < ``threshold`` from every decodable clip (the VAD-lite
    pre-processing step before feature extraction / packing);
    re-encoded pcm16, one row out per row in. Fully-silent clips come
    back with an EMPTY payload and n_samples 0 (trimmed away, still
    addressable); undecodable rows keep NULL payload/codec. Samples at
    exactly the threshold are active (>=). Zero shuffles — a pure
    mapInArrow over the pruned scan."""
    if not (0.0 < threshold < 1.0):
        raise ValueError(f"threshold {threshold} outside (0, 1)")
    pruned = df.select("clip_id", "bytes", "sr_hz", "codec")

    def run(batches):
        for batch in batches:
            yield trim_silence_arrow_batch(batch, threshold)

    return pruned.mapInArrow(run, schema=TRIM_OUT_SCHEMA)


SEGMENT_OUT_SCHEMA = (
    "clip_id string, seg_idx int, bytes binary, sr_hz int, "
    "codec string, n_samples long, start_sample long"
)


def segment_clips_batch(batch, segment_ms: int, hop_ms: int):
    """One Arrow RecordBatch of clips -> one RecordBatch of fixed-length
    training windows (the audio analog of ``chunk_documents``): each
    decodable clip yields segments of ``segment_ms`` starting every
    ``hop_ms`` (overlap when hop < segment), the final partial window
    kept. Undecodable / NULL-payload rows yield ZERO segments — they
    belong to the violation stream, and a variable-fanout kernel has no
    NULL row to hang them on.

    Vectorized like the other transform kernels: per codec chunk, the
    segment table (clip index, start, length) is built with
    repeat/cumsum vectors, ONE fancy-index gather pulls every output
    sample from the decoded buffer, and the binary column assembles via
    Array.from_buffers with guarded int32 offsets. The only Python
    loops are over codecs and fixed-size chunks."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cb = ClipBatch(batch)
    col, sr = cb.col, cb.sr
    id_arr = col["clip_id"]
    usable = cb.usable()

    out_clip_idx: list[np.ndarray] = []
    out_seg_idx: list[np.ndarray] = []
    out_start: list[np.ndarray] = []
    out_data: list[np.ndarray] = []
    out_lens: list[np.ndarray] = []

    for _, sel, lens, dec in iter_decoded_chunks(
        cb, (usable > 0) & (sr > 0), usable, RESAMPLE_CHUNK_ROWS
    ):
        dec = dec.astype(np.float64)
        base = np.zeros(len(sel), dtype=np.int64)
        np.cumsum(lens[:-1], out=base[1:])
        seg_len = np.maximum(sr[sel] * segment_ms // 1000, 1)
        hop = np.maximum(sr[sel] * hop_ms // 1000, 1)
        n_segs = (lens - 1) // hop + 1  # lens > 0 by selection

        clip_of_seg = np.repeat(np.arange(len(sel)), n_segs)
        seg_off = np.zeros(len(sel), dtype=np.int64)
        np.cumsum(n_segs[:-1], out=seg_off[1:])
        local_seg = np.arange(int(n_segs.sum()), dtype=np.int64)
        local_seg -= np.repeat(seg_off, n_segs)
        starts = local_seg * hop[clip_of_seg]
        seg_n = np.minimum(seg_len[clip_of_seg], lens[clip_of_seg] - starts)

        gather_off = np.zeros(len(starts), dtype=np.int64)
        np.cumsum(seg_n[:-1], out=gather_off[1:])
        local_sample = np.arange(int(seg_n.sum()), dtype=np.int64)
        local_sample -= np.repeat(gather_off, seg_n)
        src = np.repeat(base[clip_of_seg] + starts, seg_n) + local_sample

        out_clip_idx.append(sel[clip_of_seg])
        out_seg_idx.append(local_seg)
        out_start.append(starts)
        out_lens.append(seg_n)
        out_data.append(_encode_pcm16(dec[src]))

    if out_lens:
        clip_idx = np.concatenate(out_clip_idx)
        seg_idx = np.concatenate(out_seg_idx)
        starts = np.concatenate(out_start)
        seg_n = np.concatenate(out_lens)
        data = np.concatenate(out_data)
    else:
        clip_idx = seg_idx = starts = seg_n = np.empty(0, dtype=np.int64)
        data = np.empty(0, dtype="<i2")

    final_off = np.zeros(len(seg_n) + 1, dtype=np.int64)
    np.cumsum(seg_n, out=final_off[1:])
    offsets = _pcm16_offsets(final_off)
    bytes_out = pa.Array.from_buffers(
        pa.binary(),
        len(seg_n),
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data.tobytes())],
    )
    take = pa.array(clip_idx, type=pa.int64())
    return pa.RecordBatch.from_arrays(
        [
            pc.cast(pc.take(id_arr, take), pa.string()),
            pa.array(seg_idx.astype(np.int32), type=pa.int32()),
            bytes_out,
            pc.cast(pc.take(col["sr_hz"], take), pa.int32()),
            pa.array(["pcm16"] * len(seg_n), type=pa.string()),
            pa.array(seg_n, type=pa.int64()),
            pa.array(starts, type=pa.int64()),
        ],
        names=[
            "clip_id",
            "seg_idx",
            "bytes",
            "sr_hz",
            "codec",
            "n_samples",
            "start_sample",
        ],
    )


def segment_clips(df, *, segment_ms: int, hop_ms: int | None = None):
    """DataFrame entry point: fixed-length (optionally overlapping)
    training windows from every decodable clip, re-encoded pcm16 —
    variable fanout (rows out != rows in), zero shuffles (pure
    mapInArrow over the pruned scan). ``hop_ms`` defaults to
    ``segment_ms`` (non-overlapping tiling); the final partial window
    is kept, matching ``chunk_documents``' lossless-tail contract."""
    if segment_ms < 1:
        raise ValueError(f"segment_ms {segment_ms} < 1")
    hop_ms = segment_ms if hop_ms is None else hop_ms
    if hop_ms < 1:
        raise ValueError(f"hop_ms {hop_ms} < 1")
    pruned = df.select("clip_id", "bytes", "sr_hz", "codec")

    def run(batches):
        for batch in batches:
            yield segment_clips_batch(batch, segment_ms, hop_ms)

    return pruned.mapInArrow(run, schema=SEGMENT_OUT_SCHEMA)


GAIN_OUT_SCHEMA = (
    "clip_id string, bytes binary, sr_hz int, codec string, "
    "n_samples long, gain_db double"
)


def normalize_gain_batch(batch, target_dbfs: float):
    """One Arrow RecordBatch -> every decodable clip rescaled to
    ``target_dbfs`` RMS (loudness normalization, the standard training
    corpus leveler): per-clip RMS via one reduceat over squared
    samples, one gain multiply over the flat buffer, clipped pcm16
    re-encode. Fully-silent clips (RMS 0) pass through at gain 0 dB
    (nothing to scale); undecodable rows keep NULL payload and NULL
    gain. Zero per-row Python."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cb = ClipBatch(batch)
    n, col = cb.n, cb.col
    id_arr = col["clip_id"]
    usable = cb.usable()
    decodable = usable > 0
    out_n = usable // np.maximum(cb.width, 1)
    gain_db = np.zeros(n, dtype=np.float64)

    final_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(out_n, out=final_off[1:])
    data = np.zeros(int(final_off[-1]), dtype="<i2")

    target_amp = 10.0 ** (target_dbfs / 20.0)
    for _, sel, lens, dec in iter_decoded_chunks(
        cb, decodable, usable, RESAMPLE_CHUNK_ROWS
    ):
        # workspace-backed gain+quantize (value-identical; see
        # _gain_scaled_pcm16_chunk for the allocator story)
        pcm, starts, gdb = _gain_scaled_pcm16_chunk(dec, lens, target_amp)
        gain_db[sel] = gdb
        # contiguous per-row copy into the output buffer — the
        # round-5 fancy-index scatter built three full-size index
        # arrays (arange + two repeats) to express what is a
        # row-sliced memcpy
        for j in range(len(sel)):
            s = int(starts[j])
            ln = int(lens[j])
            d = int(final_off[sel[j]])
            data[d : d + ln] = pcm[s : s + ln]

    offsets = _pcm16_offsets(final_off)
    raw_binary = pa.Array.from_buffers(
        pa.binary(),
        n,
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data.tobytes())],
    )
    dmask = pa.array(decodable)
    return pa.RecordBatch.from_arrays(
        [
            pc.cast(id_arr, pa.string()),
            pc.if_else(dmask, raw_binary, pa.scalar(None, pa.binary())),
            pc.cast(col["sr_hz"], pa.int32()),
            pc.if_else(
                dmask, pa.scalar("pcm16", pa.string()), pa.scalar(None, pa.string())
            ),
            pa.array(out_n, type=pa.int64()),
            pc.if_else(
                dmask, pa.array(gain_db, type=pa.float64()), pa.scalar(None, pa.float64())
            ),
        ],
        names=["clip_id", "bytes", "sr_hz", "codec", "n_samples", "gain_db"],
    )


def normalize_gain(df, *, target_dbfs: float = -20.0):
    """DataFrame entry point: loudness-normalize every decodable clip
    to ``target_dbfs`` RMS (clipped pcm16 re-encode; the applied gain
    is reported in dB per clip). One row out per row in, zero shuffles
    — a pure mapInArrow over the pruned scan.

    The returned frame carries a ``_mms_gain_fusion`` composition tag
    (source frame, target): downstream kernels that only need the
    DECODED samples of the releveled audio (audio_feature_drift's
    current-snapshot metrics) fuse the gain transform into
    their own decode instead of consuming the re-encoded bytes —
    skipping one pcm16 encode, the Arrow/JVM round-trip of the whole
    payload column, and one decode, while producing bit-identical
    samples (the fused path applies the SAME quantization:
    rint-clip-int16 then the decoder's 1/32768 float32 scale; pinned by
    tests/test_audio_transform.py). Consuming the frame normally is
    unaffected."""
    if not (-100.0 <= target_dbfs <= 0.0):
        raise ValueError(f"target_dbfs {target_dbfs} outside [-100, 0]")
    pruned = df.select("clip_id", "bytes", "sr_hz", "codec")

    def run(batches):
        for batch in batches:
            yield normalize_gain_batch(batch, target_dbfs)

    out = pruned.mapInArrow(run, schema=GAIN_OUT_SCHEMA)
    out._mms_gain_fusion = (df, float(target_dbfs))
    return out


def gain_normalized_quality_metrics(df, *, target_dbfs: float):
    """EXACTLY ``audio_quality_metrics(normalize_gain(df, target_dbfs))``
    from ONE decode of ``bytes`` — the fused current-snapshot side of
    audio_feature_drift (guide §4: the unfused chain decodes, scales,
    re-encodes pcm16, ships the full payload column Python->JVM->
    Python across two MapInArrow nodes, then decodes AGAIN; at MB-scale
    clips the payload round-trip dominates the whole check).

    Bit-exactness: pcm16 encode (clip(rint(x*32768))) followed by the
    decoder's ``int16 * float32(1/32768)`` is a deterministic
    quantization of the scaled samples — the fused kernel applies that
    exact chain in memory, so every metric matches the chained form
    bit-for-bit (pinned by tests/test_audio_transform.py::
    test_gain_metrics_fusion_exact)."""
    from .audio_quality import QUALITY_OUT_SCHEMA, _metrics_batch

    if not (-100.0 <= target_dbfs <= 0.0):
        raise ValueError(f"target_dbfs {target_dbfs} outside [-100, 0]")
    pruned = df.select("clip_id", "bytes", "sr_hz", "codec")
    target_amp = 10.0 ** (target_dbfs / 20.0)

    def scaled_chunks(cb):
        # same row selection as normalize_gain_batch: its output rows
        # are decodable by the downstream metrics pass iff they were
        # decodable here (pcm16 re-encode keeps usable > 0 <->
        # n_samples > 0)
        usable = cb.usable()
        for c, sel, lens, dec in iter_decoded_chunks(
            cb, usable > 0, usable, RESAMPLE_CHUNK_ROWS
        ):
            # normalize_gain_batch's exact gain -> pcm16 quantize chain
            pcm, _, _ = _gain_scaled_pcm16_chunk(dec, lens, target_amp)
            # ... then the decoder's int16 * float32(1/32768) —
            # bit-identical to decoding the re-encoded payload
            samples = np.multiply(
                pcm, np.float32(1.0 / 32768.0), out=_WS.f32("gm_dec", pcm.shape[0])
            )
            yield c, sel, lens, samples

    def run(batches):
        for batch in batches:
            cb = ClipBatch(batch)
            # the chained form's codec column is normalize_gain's OUTPUT
            # codec: 'pcm16' for every decodable row, NULL otherwise
            yield _metrics_batch(cb, scaled_chunks(cb), pcm16_out=True)

    return pruned.mapInArrow(run, schema=QUALITY_OUT_SCHEMA)
