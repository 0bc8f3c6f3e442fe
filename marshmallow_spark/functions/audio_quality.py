"""Per-clip audio signal-quality metrics — the descriptive companion to
the pass/fail PCM invariant in functions/audio.py.

A training pipeline over audio+transcript pairs filters on signal
statistics before any model sees a clip: near-silent recordings,
clipped (full-scale-saturated) captures, DC-offset microphone faults,
and degenerate constant tones. This module computes, per clip:

  n_samples, rms_dbfs, peak, dc_offset, clipping_ratio,
  zero_crossing_rate, is_silent, is_clipped

entirely inside one vectorized ``mapInArrow`` pass: payload bytes are
consumed from the Arrow flat buffer (no per-row bytes objects), decoded
per-codec through the same LUT kernels as the invariant check, and all
per-clip statistics come from ``reduceat`` over the concatenated sample
array. Zero per-row Python; the scan of ``bytes`` dominates, as it must.

Unlike the invariant, this is codec-tolerant: a truncated payload is
decoded to its usable prefix (odd trailing byte of a pcm16 clip is
dropped), and rows that cannot be decoded at all (unknown codec, NULL
payload, zero samples) emit NULL metrics rather than violations —
classification is the schema engine's job, measurement is ours.
"""

from __future__ import annotations

import numpy as np

from .audio import _WS, ClipBatch, iter_decoded_chunks

#: |sample| at or above this (in [-1, 1] float PCM) counts as clipped —
#: 0.999 captures full-scale int16 (32767/32768) plus encoder headroom.
CLIP_THRESHOLD = 0.999

#: RMS below this many dBFS flags the clip silent.
SILENCE_DBFS = -60.0

#: clipping_ratio at or above this flags the clip clipped.
CLIPPED_RATIO = 0.001

QUALITY_OUT_SCHEMA = (
    "clip_id string, codec string, n_samples long, rms_dbfs double, "
    "peak double, dc_offset double, clipping_ratio double, "
    "zero_crossing_rate double, is_silent boolean, is_clipped boolean"
)

#: Rows per numpy working set. Smaller than audio.UDF_CHUNK_ROWS'
#: cache argument alone would suggest: the COLD cost of this kernel is
#: first-touch page faults on the per-worker workspace buffers, and it
#: scales with chunk size across 32 workers (measured first-run walls
#: at 1.2M clips: 512 rows -> 23 s, 1024 -> 44 s, 2048 -> 77 s, all
#: converging to the same ~8-15 s steady state). 512 keeps the numpy
#: calls batch-sized (~600k samples) while making the first execution
#: 3x cheaper.
QUALITY_CHUNK_ROWS = 512


def _segment_stats(x: np.ndarray, lens: np.ndarray):
    """Vectorized per-segment stats over the concatenated sample array
    ``x`` partitioned into ``lens``-sized segments. Returns float64
    arrays (sum, sumsq, peak, clipped_count, zero_crossings); rows with
    lens == 0 are zeroed (reduceat's zero-length quirk masked)."""
    starts = np.zeros(len(lens), dtype=np.int64)
    if len(lens) > 1:
        np.cumsum(lens[:-1], out=starts[1:])
    n = x.shape[0]
    nz = lens > 0
    if n == 0:
        z = np.zeros(len(lens))
        return z, z.copy(), z.copy(), z.copy(), z.copy()
    # reduceat indexes must stay < n: a TRAILING zero-length segment's
    # start equals n and raises IndexError (fuzz-caught). Reduce over
    # the nonzero segments only and scatter back — boundaries stay
    # correct because zero-length rows contribute no samples between
    # their neighbors.
    starts = starts[nz]
    full = np.zeros(len(lens))

    def scatter(vals):
        out = full.copy()
        out[nz] = vals
        return out

    # All reductions accumulate in float64 via reduceat's dtype= without
    # ever materializing a float64 copy of the sample array: the decoded
    # samples are exact k/32768 float32 values, so the float32 abs /
    # square / threshold-compare below are bit-identical to the float64
    # versions (nearest representable sample is ~3e-5 from the 0.999
    # threshold vs float32's ~1.2e-7 rounding), while moving half the
    # bytes — this kernel is memory-bandwidth-bound at 32 threads.
    # Every per-sample temporary lives in the shared _Workspace:
    # mallocing multi-MB arrays per chunk serializes 32 workers on the
    # kernel page allocator (audio.py _Workspace docstring; measured
    # here as a 4-5x wall inflation at 1.2M clips before the reuse).
    s = scatter(np.add.reduceat(x, starts, dtype=np.float64))
    # dtype= AND out=: out= alone selects the float32 product loop and
    # only casts the rounded result — dtype forces the exact
    # cast-then-square float64 loop into the reused buffer
    xx = np.multiply(x, x, dtype=np.float64, out=_WS.f64("q_xx", n))
    ss = scatter(np.add.reduceat(xx, starts))
    ax = np.abs(x, out=_WS.f32("q_ax", n))
    peak = scatter(np.maximum.reduceat(ax, starts).astype(np.float64))
    clipth = np.greater_equal(
        ax, np.float32(CLIP_THRESHOLD), out=_WS._get("q_th", n, np.bool_)
    )
    clipped = scatter(np.add.reduceat(clipth, starts, dtype=np.float64))

    if n > 1:
        sign = np.greater_equal(x, 0, out=_WS._get("q_sg", n, np.bool_))
        changes = np.not_equal(
            sign[1:], sign[:-1], out=_WS._get("q_ch", n - 1, np.bool_)
        )
        # a change element straddling two segments is not a crossing of
        # either clip: zero it before the per-segment reduceat
        straddle = starts[1:] - 1
        changes[straddle[straddle >= 0]] = False
        # reduceat over the N-1 change slots at the same starts: the
        # last in-bounds start may equal len(changes) for a trailing
        # 1-sample segment — clamp and mask
        cstarts = np.minimum(starts, max(n - 2, 0))
        zc = scatter(
            np.where(
                lens[nz] > 1,
                np.add.reduceat(changes, cstarts, dtype=np.float64),
                0.0,
            )
        )
    else:
        zc = np.zeros(len(lens))
    return s, ss, peak, clipped, zc


def quality_metrics_arrow_batch(batch):
    """One Arrow RecordBatch of clips -> one metrics RecordBatch
    (always same row count as the input)."""
    cb = ClipBatch(batch)
    usable = cb.usable()
    return _metrics_batch(
        cb, iter_decoded_chunks(cb, usable > 0, usable, QUALITY_CHUNK_ROWS)
    )


def _metrics_batch(cb, chunks, *, pcm16_out: bool = False):
    """QUALITY_OUT_SCHEMA RecordBatch for ``cb`` from iter_decoded_chunks-
    shaped ``(codec, sel, lens, samples)`` chunks; rows no chunk covers
    get NULL metrics. The
    codec column echoes the input unless ``pcm16_out`` (the output
    codec of a pcm16 re-encode: 'pcm16' where measured, else NULL)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = cb.n
    n_samp = np.zeros(n, dtype=np.int64)
    sum_x = np.zeros(n)
    sum_xx = np.zeros(n)
    peak = np.zeros(n)
    clipped = np.zeros(n)
    zcross = np.zeros(n)
    measured = np.zeros(n, dtype=bool)

    for _, sel, lens, x in chunks:
        s, ss, pk, cl, zc = _segment_stats(x, lens)
        n_samp[sel] = lens
        sum_x[sel] = s
        sum_xx[sel] = ss
        peak[sel] = pk
        clipped[sel] = cl
        zcross[sel] = zc
        measured[sel] = True

    with np.errstate(divide="ignore", invalid="ignore"):
        denom = np.maximum(n_samp, 1).astype(np.float64)
        rms = np.sqrt(sum_xx / denom)
        rms_dbfs = 20.0 * np.log10(np.maximum(rms, 1e-12))
        dc = sum_x / denom
        clip_ratio = clipped / denom
        zcr = zcross / np.maximum(n_samp - 1, 1).astype(np.float64)

    unmeasured = ~measured

    def _f64(vals):
        return pa.array(
            np.ascontiguousarray(vals, dtype=np.float64), mask=unmeasured
        )

    if pcm16_out:
        codec = pc.if_else(
            pa.array(measured),
            pa.scalar("pcm16", pa.string()),
            pa.scalar(None, pa.string()),
        )
    else:
        codec = pc.cast(cb.col["codec"], pa.string())
    is_silent = pa.array(rms_dbfs < SILENCE_DBFS, mask=unmeasured)
    is_clipped = pa.array(clip_ratio >= CLIPPED_RATIO, mask=unmeasured)
    return pa.RecordBatch.from_arrays(
        [
            pc.cast(cb.col["clip_id"], pa.string()),
            codec,
            pa.array(n_samp, type=pa.int64()),
            _f64(rms_dbfs),
            _f64(peak),
            _f64(dc),
            _f64(clip_ratio),
            _f64(zcr),
            is_silent,
            is_clipped,
        ],
        names=[
            "clip_id",
            "codec",
            "n_samples",
            "rms_dbfs",
            "peak",
            "dc_offset",
            "clipping_ratio",
            "zero_crossing_rate",
            "is_silent",
            "is_clipped",
        ],
    )


def _quality_rules(
    min_rms_dbfs: float | None,
    max_clipping_ratio: float | None,
    max_abs_dc_offset: float | None,
):
    """(condition, message) Column pairs over a frame carrying
    rms_dbfs / clipping_ratio / dc_offset — the ONE place the gate's
    comparisons and ValidationError-style texts live, shared by the
    standalone gate and the fused kernel's JVM-side renderer so the
    two paths emit byte-identical messages."""
    from pyspark.sql import functions as F

    rules = []
    if min_rms_dbfs is not None:
        rules.append(
            (
                F.col("rms_dbfs") < F.lit(float(min_rms_dbfs)),
                F.format_string(
                    "Audio is silent: RMS %.1f dBFS < %.1f dBFS.",
                    F.col("rms_dbfs"),
                    F.lit(float(min_rms_dbfs)),
                ),
            )
        )
    if max_clipping_ratio is not None:
        rules.append(
            (
                F.col("clipping_ratio") > F.lit(float(max_clipping_ratio)),
                F.format_string(
                    "Audio is clipped: clipping ratio %.6f > %.6f.",
                    F.col("clipping_ratio"),
                    F.lit(float(max_clipping_ratio)),
                ),
            )
        )
    if max_abs_dc_offset is not None:
        rules.append(
            (
                F.abs(F.col("dc_offset")) > F.lit(float(max_abs_dc_offset)),
                F.format_string(
                    "Audio has DC offset %.4f (max %.4f).",
                    F.col("dc_offset"),
                    F.lit(float(max_abs_dc_offset)),
                ),
            )
        )
    if not rules:
        raise ValueError("no quality thresholds given")
    return rules


def _rule_pairs_array(rules):
    """array<struct<field,message>> of the breached rules for one row —
    explode-ready, nulls (unbreached rules) filtered out."""
    from pyspark.sql import functions as F

    entries = [
        F.when(
            cond,
            F.struct(
                F.lit("bytes").alias("field"), msg.alias("message")
            ),
        )
        for cond, msg in rules
    ]
    return F.filter(F.array(*entries), lambda x: x.isNotNull())


def quality_violations(
    df,
    *,
    min_rms_dbfs: float | None = None,
    max_clipping_ratio: float | None = None,
    max_abs_dc_offset: float | None = None,
):
    """Threshold gate over the metrics: violation rows (clip_id, field,
    message) for silent / clipped / DC-offset clips, messages rendered
    JVM-side (format_string) in the engine's ValidationError style.

    ONE metrics pass feeds every threshold: the rules evaluate as an
    array-of-structs projection that explodes into violation rows, so
    the decode kernel appears exactly once in the plan (the previous
    one-filter-branch-per-threshold union recomputed the whole decode
    per threshold — 3 MapInArrow nodes for 3 thresholds).

    Runs its own decode pass over ``df``; when the SNR invariant check
    also runs, use plans.pipeline's fused path (or
    fused_audio_violations directly), which emits both checks' rows
    from a single decode."""
    from pyspark.sql import functions as F

    rules = _quality_rules(min_rms_dbfs, max_clipping_ratio, max_abs_dc_offset)
    m = audio_quality_metrics(df)
    return (
        m.select("clip_id", F.explode(_rule_pairs_array(rules)).alias("_v"))
        .select("clip_id", F.col("_v.field").alias("field"), F.col("_v.message").alias("message"))
    )


def fused_audio_violations(
    df,
    *,
    min_rms_dbfs: float | None = None,
    max_clipping_ratio: float | None = None,
    max_abs_dc_offset: float | None = None,
    invariant_filter=None,
):
    """SNR invariant + quality gate from ONE decode of ``bytes``:
    violation rows (clip_id, field, message, check) with check in
    {'audio', 'audio_quality'}.

    The kernel (audio.check_invariant_arrow_batch with quality=)
    accumulates the gate's sums from the samples it already decoded
    for the SNR comparison and ships raw metrics for flagged clips;
    messages render here JVM-side through the same _quality_rules
    expressions as the standalone gate — identical flagged sets
    (identical float64 comparisons) and byte-identical text. A single
    downstream projection handles both checks (no per-check filter
    branches over the UDF output — that would re-run the decode per
    branch), so the executed plan carries exactly one MapInArrow node.

    ``invariant_filter`` (optional Column) gates the invariant-side
    checks to rows matching the suite's structural pre-filter while the
    quality gate still measures every decodable clip — pushed into the
    kernel as the ``_inv_eligible`` column rather than a .where() so
    one scan serves both row sets.

    Rows with an unknown codec or NULL payload are excluded up front —
    neither check can decode them; their violations belong to the
    structural/referential stages (or the standalone invariant kernel,
    which does emit codec violations).

    At 10^12 rows this halves (vs the unfused suite: quarters) the
    dominant cost of the quality-gated pipeline — the scan+decode of
    the audio payload column."""
    from pyspark.sql import functions as F

    from .audio import FUSED_OUT_SCHEMA, KNOWN_CODECS, check_invariant_arrow_batch

    rules = _quality_rules(min_rms_dbfs, max_clipping_ratio, max_abs_dc_offset)
    qspec = {
        "min_rms_dbfs": min_rms_dbfs,
        "max_clipping_ratio": max_clipping_ratio,
        "max_abs_dc_offset": max_abs_dc_offset,
        "clip_threshold": CLIP_THRESHOLD,
    }
    base = df.where(
        F.col("codec").isin(*KNOWN_CODECS) & F.col("bytes").isNotNull()
    )
    elig = invariant_filter if invariant_filter is not None else F.lit(True)
    pruned = base.select(
        "clip_id",
        "bytes",
        "sr_hz",
        "dur_ms",
        "codec",
        "transcript",
        elig.alias("_inv_eligible"),
    )

    def run(batches):
        for batch in batches:
            out = check_invariant_arrow_batch(batch, quality=qspec)
            if out is not None:
                yield out

    raw = pruned.mapInArrow(run, FUSED_OUT_SCHEMA)
    pairs = F.when(
        F.col("check") == F.lit("audio"),
        F.array(F.struct(F.col("field").alias("field"), F.col("message").alias("message"))),
    ).otherwise(_rule_pairs_array(rules))
    return (
        raw.select("clip_id", "check", F.explode(pairs).alias("_v"))
        .select(
            "clip_id",
            F.col("_v.field").alias("field"),
            F.col("_v.message").alias("message"),
            "check",
        )
    )


def audio_quality_metrics(df):
    """DataFrame entry point: (clip_id, codec, n_samples, rms_dbfs,
    peak, dc_offset, clipping_ratio, zero_crossing_rate, is_silent,
    is_clipped) — one output row per input clip, zero shuffles (a pure
    mapInArrow over the pruned 4-column scan)."""
    pruned = df.select("clip_id", "bytes", "sr_hz", "codec")

    def run(batches):
        for batch in batches:
            yield quality_metrics_arrow_batch(batch)

    return pruned.mapInArrow(run, schema=QUALITY_OUT_SCHEMA)


NOISE_OUT_SCHEMA = (
    "clip_id string, codec string, n_windows long, rms_dbfs double, "
    "noise_floor_dbfs double, est_snr_db double"
)

#: noise-floor window: long enough that a window of speech pause is a
#: realistic capture of the noise bed, short enough that most clips
#: have several
NOISE_WINDOW_MS = 100


def _window_powers(x, lens, w):
    """(nwin per clip, mean power per window, window->clip index,
    window length in samples) over the concatenated sample array — the
    shared wall-clock windowing of audio_fingerprint, kept here
    power-only.  The tail window of a clip may be shorter than ``w``;
    ``wlen`` carries the true sample count so callers can weight by
    time instead of window count."""
    nwin = np.where(lens > 0, -(-lens // np.maximum(w, 1)), 0).astype(np.int64)
    total = int(nwin.sum())
    if total == 0:
        return nwin, np.empty(0), np.empty(0, dtype=np.int64), np.empty(0)
    woff = np.zeros(len(nwin), dtype=np.int64)
    np.cumsum(nwin[:-1], out=woff[1:])
    ci = np.repeat(np.arange(len(nwin)), nwin)
    k = np.arange(total, dtype=np.int64) - woff[ci]
    cstart = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=cstart[1:])
    wstart = cstart[ci] + k * w[ci]
    wlen = np.minimum(w[ci], lens[ci] - k * w[ci]).astype(np.float64)
    xx = np.multiply(x, x, dtype=np.float64, out=_WS.f64("nf_xx", x.shape[0]))
    ss = np.add.reduceat(xx, wstart)
    return nwin, ss / np.maximum(wlen, 1.0), ci, wlen


def noise_floor_batch(batch, *, window_ms: int = NOISE_WINDOW_MS):
    """One Arrow RecordBatch -> reference-FREE signal/noise estimates:
    noise floor = the quietest ``window_ms`` window's RMS (speech
    pauses carry the noise bed), est SNR = overall RMS over that
    floor. The reference-based invariant only exists because this
    corpus is synthetic — production audio QC gates noisy captures on
    exactly this estimator. Same decode/window discipline as the
    quality and fingerprint kernels (zero per-row Python; undecodable
    or sub-2-window clips emit NULLs — with nothing quiet to sample,
    the floor is undefined)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cb = ClipBatch(batch)
    n, col, sr = cb.n, cb.col, cb.sr
    codec_arr = col["codec"]
    nwin_all = np.zeros(n, dtype=np.int64)
    sum_pow = np.zeros(n)
    sum_len = np.zeros(n)
    min_pow = np.zeros(n)
    measured = np.zeros(n, dtype=bool)
    w_all = np.maximum(sr * window_ms // 1000, 1)

    usable = cb.usable()
    for _, sel, lens, dec in iter_decoded_chunks(
        cb, (usable > 0) & (sr > 0), usable, QUALITY_CHUNK_ROWS
    ):
        nwin, wpow, _, _ = _window_powers(dec, lens, w_all[sel])
        nz = nwin > 0
        woff = np.zeros(len(nwin), dtype=np.int64)
        np.cumsum(nwin[:-1], out=woff[1:])
        starts = woff[nz]
        tot = np.zeros(len(nwin))
        mn = np.zeros(len(nwin))
        if starts.size:
            tot[nz] = np.add.reduceat(wpow, starts)
            mn[nz] = np.minimum.reduceat(wpow, starts)
        nwin_all[sel] = nwin
        sum_pow[sel] = tot
        sum_len[sel] = nwin  # windows per clip (powers are per-window means)
        min_pow[sel] = mn
        measured[sel] = nwin >= 2

    with np.errstate(divide="ignore", invalid="ignore"):
        # mean of per-window mean powers (windows tile the clip; the
        # short tail window is weighted like a full one — documented,
        # deterministic)
        mean_pow = sum_pow / np.maximum(sum_len, 1.0)
        rms_dbfs = 10.0 * np.log10(np.maximum(mean_pow, 1e-12))
        noise_dbfs = 10.0 * np.log10(np.maximum(min_pow, 1e-12))
        est_snr = rms_dbfs - noise_dbfs

    unmeasured = ~measured

    def _f64(vals):
        return pa.array(
            np.ascontiguousarray(vals, dtype=np.float64), mask=unmeasured
        )

    return pa.RecordBatch.from_arrays(
        [
            pc.cast(col["clip_id"], pa.string()),
            pc.cast(codec_arr, pa.string()),
            pa.array(nwin_all, type=pa.int64()),
            _f64(rms_dbfs),
            _f64(noise_dbfs),
            _f64(est_snr),
        ],
        names=[
            "clip_id",
            "codec",
            "n_windows",
            "rms_dbfs",
            "noise_floor_dbfs",
            "est_snr_db",
        ],
    )


def noise_floor_metrics(df, *, window_ms: int = NOISE_WINDOW_MS):
    """DataFrame entry point for the reference-free estimator:
    (clip_id, codec, n_windows, rms_dbfs, noise_floor_dbfs,
    est_snr_db) — one row per clip, zero shuffles."""
    pruned = df.select("clip_id", "bytes", "sr_hz", "codec")

    def run(batches):
        for batch in batches:
            yield noise_floor_batch(batch, window_ms=window_ms)

    return pruned.mapInArrow(run, schema=NOISE_OUT_SCHEMA)


#: default (lo, hi) fixed-bin bounds for snapshot-drift monitoring of
#: the quality metrics: rms spans the silence gate to full scale;
#: clipping_ratio's hi sits well above the CLIPPED_RATIO gate so a
#: clipped-population shift lands mid-range, not in the clamp bin;
#: dc_offset brackets the |dc| > 0.02 microphone-fault gate; zcr is a
#: rate-normalized fraction in [0, 1] by construction.
DRIFT_FEATURES_DEFAULT: dict[str, tuple[float, float]] = {
    "rms_dbfs": (-80.0, 0.0),
    "clipping_ratio": (0.0, 0.05),
    "dc_offset": (-0.05, 0.05),
    "zero_crossing_rate": (0.0, 1.0),
}


def audio_feature_drift(
    df_ref,
    df_cur,
    *,
    features: dict[str, tuple[float, float]] | None = None,
    nbins: int = 20,
    round_digits: int = 6,
):
    """Distribution drift of DECODED-signal quality metrics between two
    corpus snapshots — the audio-axis member of the drift family
    (operators/drift.py): the structural drift checks (PSI over dur_ms
    etc.) see only metadata; this one catches what only the samples
    reveal — a pipeline change that re-levels loudness, introduces
    clipping, or shifts the DC bias between ingest batches.

    Plan shape at 10^12 clips: ONE decode pass per snapshot (the same
    pruned 4-column mapInArrow as audio_quality_metrics — payload bytes
    never shuffle), a zero-shuffle melt, and ONE hash exchange on
    (feature, bin) for ALL monitored features via
    :func:`~..operators.drift.divergence_report_multi`.  Undecodable
    rows emit NULL metrics and drop out of every histogram (measurement
    vs classification split documented at module top).

    Result: one row per feature (feature, psi, chi2, dof, jsd),
    ordered by feature; identical snapshots give exact zeros."""
    from pyspark.sql import functions as F

    from ..operators.drift import divergence_report_multi

    feats = dict(features or DRIFT_FEATURES_DEFAULT)
    m0 = audio_quality_metrics(df_ref).withColumn("_snap", F.lit(0))
    # Composition fusion (guide §4): when the current snapshot is a
    # normalize_gain transform, its metrics come from ONE decode of the
    # SOURCE payload — gain + pcm16 quantization applied in memory —
    # instead of decode -> re-encode -> full payload column across the
    # Python/JVM boundary twice -> decode again. Bit-identical metrics
    # (the fused kernel applies the transform's exact quantization
    # chain; test-pinned), one MapInArrow node instead of two chained
    # ones, and the multi-GB re-encoded bytes never materialize.
    fusion = getattr(df_cur, "_mms_gain_fusion", None)
    if fusion is not None:
        from .audio_transform import gain_normalized_quality_metrics

        src, target_dbfs = fusion
        m1 = gain_normalized_quality_metrics(src, target_dbfs=target_dbfs)
    else:
        m1 = audio_quality_metrics(df_cur)
    m1 = m1.withColumn("_snap", F.lit(1))
    return divergence_report_multi(
        m0.unionByName(m1),
        feats,
        "_snap",
        nbins,
        round_digits=round_digits,
    )
