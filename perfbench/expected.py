"""Expected answers derived without the engine, and the output check.

Clip workloads: the violation rows follow from the documented
violation schedule of ``sources/synth.py`` plus the benchmark's dirty
overlay (``corpus.dirty_rule``), replayed here in numpy. Only the
reference-PCM generator, the codec encoders and the decode tables are
shared with the library, because they are the reference definition.
SNR values are recomputed with the textbook formula.

A violation multiset is summarised as per-``(check, field)`` counts,
an order-independent digest over ``(clip_id, field, message, check)``
(a sum of per-row hashes, so a dropped or duplicated row changes it)
and the sorted SNR readings, compared within 0.1 dB because the SNR
message carries a rounded float.

Dedup workload: MinHash signatures, banded candidates, exact Jaccard
verification and a union-find over the verified pairs, in plain Python.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter

import numpy as np

import corpus

MSG_SR = "Must be one of: 8000, 16000, 22050, 44100."
MSG_DUR = "Must be greater than or equal to 1 and less than or equal to 600000."
MSG_NULL = "Field may not be null."
MSG_TX = "Transcript does not match reference."
SNR_RE = re.compile(r"^Audio does not match reference: SNR (-?\d+\.\d) dB < 30 dB\.$")
SNR_TOLERANCE_DB = 0.1
_MASK = (1 << 64) - 1


# -- clips -----------------------------------------------------------------

def clip_schedule(start: int, n: int, dirty_seed: int | None) -> dict:
    """Per-row attributes of the generated corpus, replayed in numpy."""
    from marshmallow_spark.sources.synth import CODEC_CHOICES, HOT_INDEX, SR_CHOICES

    idx = np.arange(start, start + n, dtype=np.int64)
    content = idx.copy()
    dup = (idx % 997 == 1) & (idx > 0)
    content[dup] = idx[dup] - 1
    content[idx % 100 == 7] = HOT_INDEX

    sr = SR_CHOICES[content % 4]
    dur = (corpus.DUR_LO + (content * 37) % (corpus.DUR_HI - corpus.DUR_LO)).astype(np.int64)
    codec = CODEC_CHOICES[content % 3].astype(object)
    clip_id = np.array([f"clip-{c:012d}" for c in content], dtype=object)

    sr_out, dur_out, codec_out = sr.copy(), dur.copy(), codec.copy()
    sr_out[idx % 1009 == 11] = corpus.BAD_SR
    dur_out[idx % 1013 == 13] = corpus.BAD_DUR
    codec_out[idx % 1019 == 17] = "opus"
    if dirty_seed is not None:
        bad_sr, bad_dur, hot = corpus.dirty_rule(idx, dirty_seed)
        sr_out[bad_sr] = corpus.BAD_SR
        dur_out[bad_dur] = corpus.BAD_DUR
        clip_id[hot] = corpus.DIRTY_HOT_ID
    return {
        "content": content, "clip_id": clip_id, "sr": sr, "dur": dur,
        "codec": codec, "sr_out": sr_out, "dur_out": dur_out,
        "codec_out": codec_out,
        "null_tx": idx % 983 == 19, "bad_tx": idx % 977 == 23,
        "corrupt": idx % 499 == 3, "trunc": idx % 991 == 5,
    }


def _payload(i: int, s: dict) -> bytes:
    from marshmallow_spark.functions import audio

    pcm16, _ = audio.reference_pcm16_flat(
        np.array([s["content"][i]]), np.array([s["sr"][i]]), np.array([s["dur"][i]])
    )
    pcm16 = pcm16.copy()
    codec = s["codec"][i]
    if codec == "pcm16":
        raw = pcm16.astype("<i2").tobytes()
    elif codec == "ulaw":
        raw = audio.ulaw_encode(pcm16).tobytes()
    else:
        raw = audio.alaw_encode(pcm16).tobytes()
    if s["corrupt"][i]:
        b = bytearray(raw)
        stride = max(1, len(b) // 64)
        b[::stride] = bytes((x ^ 0xE0) & 0xFF for x in b[::stride])
        raw = bytes(b)
    return raw


def _snr(i: int, s: dict) -> float:
    from marshmallow_spark.functions import audio

    raw = _payload(i, s)
    if s["codec"][i] == "pcm16":
        dec = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    else:
        lut = audio.ULAW_DECODE_LUT if s["codec"][i] == "ulaw" else audio.ALAW_DECODE_LUT
        dec = lut[np.frombuffer(raw, dtype=np.uint8)].astype(np.float64) / 32768.0
    ref, _ = audio.reference_pcm_flat(
        np.array([s["content"][i]]), np.array([s["sr"][i]]), np.array([s["dur"][i]])
    )
    ref = ref.astype(np.float64)
    err = ref - dec
    return float(10.0 * np.log10(np.sum(ref * ref) / np.sum(err * err)))


def expected_clip_rows(s: dict) -> tuple[list[tuple], list[tuple]]:
    """(exact rows, SNR rows): every expected (clip_id, field, message,
    check); SNR rows carry the recomputed float in place of a message."""
    from marshmallow_spark.functions import audio

    cid = s["clip_id"]
    rows = []
    rows += [(cid[i], "sr_hz", MSG_SR, "structural")
             for i in np.flatnonzero(s["sr_out"] == corpus.BAD_SR)]
    rows += [(cid[i], "dur_ms", MSG_DUR, "structural")
             for i in np.flatnonzero(s["dur_out"] == corpus.BAD_DUR)]
    rows += [(cid[i], "transcript", MSG_NULL, "structural")
             for i in np.flatnonzero(s["null_tx"])]
    for key, c in Counter(cid.tolist()).items():
        if c > 1:
            rows.append((key, "clip_id", f"Duplicate key: appears {c} times.", "uniqueness"))
    opus = np.array([c == "opus" for c in s["codec_out"]])
    rows += [(cid[i], "codec", "Value not present in reference table: opus.", "referential")
             for i in np.flatnonzero(opus)]

    decodable = (
        np.isin(s["sr_out"], [8000, 16000, 22050, 44100])
        & (s["dur_out"] > 0)
        & np.array([c in audio.KNOWN_CODECS for c in s["codec_out"]])
    )
    for i in np.flatnonzero(decodable & s["trunc"]):
        expected = int((s["sr_out"][i] * s["dur_out"][i]) // 1000) * audio.SAMPLE_WIDTH[s["codec_out"][i]]
        rows.append((cid[i], "bytes",
                     f"Truncated audio payload: expected {expected} bytes, got {int(expected * 0.9)}.",
                     "audio"))
    snr = [(cid[i], v) for i in np.flatnonzero(decodable & s["corrupt"] & ~s["trunc"])
           if (v := _snr(i, s)) < audio.SNR_THRESHOLD_DB]
    rows += [(cid[i], "transcript", MSG_TX, "audio")
             for i in np.flatnonzero(decodable & s["bad_tx"] & ~s["null_tx"])]
    return rows, snr


def verdict_totals(s: dict, rows: list[tuple], snr: list[tuple]) -> tuple[int, int, int]:
    """(rows, failed_rows, violation_count) summed over the verdict
    buckets: each input row counts every violation of its clip_id."""
    per_clip = Counter(r[0] for r in rows) + Counter(c for c, _ in snr)
    hits = [per_clip.get(c, 0) for c in s["clip_id"]]
    return len(hits), sum(1 for h in hits if h), sum(hits)


def _row_hash(row: tuple) -> int:
    h = hashlib.blake2b("\x1f".join(row).encode(), digest_size=8).digest()
    return int.from_bytes(h, "little")


def summarize(rows, snr=()) -> dict:
    """Multiset summary of violation rows ``(clip_id, field, message,
    check)``; SNR rows given as messages are split out and parsed."""
    counts: Counter = Counter()
    digest = 0
    readings = list(snr)
    for row in rows:
        row = tuple(row)
        m = SNR_RE.match(row[2]) if row[1] == "bytes" else None
        if m:
            readings.append((row[0], float(m.group(1))))
            continue
        counts[f"{row[3]}/{row[1]}"] += 1
        digest = (digest + _row_hash(row)) & _MASK
    counts["audio/bytes"] += len(readings)
    return {"counts": dict(counts), "digest": digest, "snr": sorted(readings)}


def compare(actual: dict, expected: dict) -> list[str]:
    """Differences between two summaries; empty when they agree."""
    problems = []
    keys = set(actual["counts"]) | set(expected["counts"])
    for k in sorted(keys):
        a, e = actual["counts"].get(k, 0), expected["counts"].get(k, 0)
        if a != e:
            problems.append(f"{k}: {a} rows, expected {e}")
    if actual["digest"] != expected["digest"]:
        problems.append("row digest differs")
    a_snr, e_snr = actual["snr"], expected["snr"]
    if [c for c, _ in a_snr] != [c for c, _ in e_snr] or any(
        abs(x - y) > SNR_TOLERANCE_DB for (_, x), (_, y) in zip(a_snr, e_snr)
    ):
        problems.append("SNR rows differ")
    return problems


# -- documents -------------------------------------------------------------

def _shingles(text: str, k: int) -> set[str]:
    return {text[i:i + k] for i in range(max(len(text) - k + 1, 1))}


def dedup_components(
    ids, texts, *, num_hashes: int, num_bands: int, k: int, min_jaccard: float
) -> tuple[dict[int, int], int, int]:
    """({doc_id: component min id}, candidates, verified pairs) for the
    banded MinHash pipeline. Hash j is the (j % 4)-th 8-hex slice of
    md5(s) for j < 4 and of md5(str(j // 4) + s) above."""
    shingles = [_shingles(t, k) for t in texts]
    groups = (num_hashes + 3) // 4
    digests: dict[str, list[int]] = {}

    def digest(s: str) -> list[int]:
        if s not in digests:
            hexes = "".join(hashlib.md5(((str(g) if g else "") + s).encode()).hexdigest()
                            for g in range(groups))
            digests[s] = [int(hexes[j * 8:j * 8 + 8], 16) for j in range(num_hashes)]
        return digests[s]

    rows = num_hashes // num_bands
    buckets: dict[tuple, list[int]] = {}
    for di, sh in enumerate(shingles):
        sig = [min(col) for col in zip(*(digest(s) for s in sh))]
        for b in range(num_bands):
            buckets.setdefault((b, tuple(sig[b * rows:(b + 1) * rows])), []).append(di)
    candidates = set()
    for members in buckets.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                a, b = members[x], members[y]
                candidates.add((a, b) if ids[a] < ids[b] else (b, a))

    parent = list(range(len(ids)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    verified = 0
    linked = set()
    for a, b in candidates:
        inter = len(shingles[a] & shingles[b])
        if inter >= min_jaccard * (len(shingles[a]) + len(shingles[b]) - inter):
            verified += 1
            linked.update((a, b))
            # the root with the smaller id wins, so a root is its component's min
            ra, rb = sorted((find(a), find(b)), key=lambda r: ids[r])
            parent[rb] = ra
    comp = {ids[x]: ids[find(x)] for x in linked}
    return comp, len(candidates), verified

