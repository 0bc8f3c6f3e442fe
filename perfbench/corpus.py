"""Seeded benchmark inputs.

Every input is a pure function of the benchmark seed. Clip corpora are
built by the library's ``sources.synth.generate_batch`` over an index
range derived from the seed; the dirty overlay is defined here, so the
expected answers in ``expected.py`` can be derived from the same rules
without running the engine. Documents are a seeded sample of the sf0.1
``documents`` table, kept under ``data/``, plus a planted family.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

DUR_LO, DUR_HI = 40, 120

#: Clip id of the dirty corpus's hot key. Generated indices stay far
#: below it, so it never collides with a stock clip id.
DIRTY_HOT_ID = "clip-999999999999"
DIRTY_INVALID_SHARE = 0.9
DIRTY_HOT_SHARE = 0.1
BAD_SR = 12345
BAD_DUR = -5

#: The doc_id and text columns of the sf0.1 ``documents`` table.
DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")


def clip_start(seed: int) -> int:
    """First clip index of the corpus for ``seed``."""
    return int(np.random.default_rng([seed, 1]).integers(1_000, 10**9))


def _unit(idx: np.ndarray, seed: int, stream: int) -> np.ndarray:
    """Per-index uniform [0, 1) values: a splitmix64 finalizer over
    (index, seed, stream), so any row can be recomputed in isolation."""
    with np.errstate(over="ignore"):
        x = (
            idx.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
            + np.uint64(seed % (1 << 63)) * np.uint64(0xBF58476D1CE4E5B9)
            + np.uint64(stream) * np.uint64(0x94D049BB133111EB)
        )
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
    return (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def dirty_rule(idx: np.ndarray, seed: int):
    """(bad_sr, bad_dur, hot) masks of the broken-upstream overlay.

    About 9 rows in 10 fail a structural check that also excludes them
    from audio decode (sr_hz or dur_ms out of range); about a tenth of
    those carry one hot clip_id."""
    invalid = _unit(idx, seed, 1) < DIRTY_INVALID_SHARE
    use_sr = _unit(idx, seed, 2) < 0.5
    hot = invalid & (_unit(idx, seed, 3) < DIRTY_HOT_SHARE)
    return invalid & use_sr, invalid & ~use_sr, hot


def clip_batch(idx: np.ndarray, dirty_seed: int | None) -> pd.DataFrame:
    """One batch of clips; ``dirty_seed`` applies the dirty overlay."""
    from marshmallow_spark.sources.synth import generate_batch

    pdf = generate_batch(idx, with_violations=True, dur_lo=DUR_LO, dur_hi=DUR_HI)
    if dirty_seed is not None:
        bad_sr, bad_dur, hot = dirty_rule(idx, dirty_seed)
        pdf.loc[bad_sr, "sr_hz"] = BAD_SR
        pdf.loc[bad_dur, "dur_ms"] = BAD_DUR
        pdf.loc[hot, "clip_id"] = DIRTY_HOT_ID
    return pdf


def clips_frame(spark, start: int, n: int, dirty_seed: int | None, partitions: int):
    """Distributed clip corpus over indices [start, start + n)."""
    from marshmallow_spark.sources.synth import CLIP_SCHEMA

    def gen(batches):
        for pdf in batches:
            yield clip_batch(pdf["id"].to_numpy(dtype=np.int64), dirty_seed)

    return spark.range(start, start + n, numPartitions=partitions).mapInPandas(
        gen, schema=CLIP_SCHEMA
    )


def documents(seed: int, n_docs: int, family: int) -> pd.DataFrame:
    """(doc_id, text): ``n_docs`` documents of the ``documents`` table
    (``data/documents.parquet``: its doc_id and text columns) chosen by
    the seed, plus a planted near-duplicate family: ``family - 1`` copies
    of one chosen mid-length document with one or two words replaced by
    words of the table's vocabulary.

    A uniform sample keeps the table's pair statistics: candidates per
    document grow with the sample size as in the table, and most
    documents fall into one giant component (see ``layers.json``). The
    family adds a hot LSH bucket above the salting threshold."""
    table = pq.read_table(DOCUMENTS, columns=["doc_id", "text"]).to_pandas()
    rng = np.random.default_rng([seed, 2])
    docs = table.iloc[np.sort(rng.choice(len(table), n_docs, replace=False))]
    vocab = sorted({w for t in docs["text"] for w in t.split()})
    lengths = docs["text"].str.len()
    mid = docs[(lengths - lengths.median()).abs() <= 50]
    base = mid["text"].iloc[int(rng.integers(len(mid)))].split()
    texts = list(docs["text"])
    for _ in range(family - 1):
        words = list(base)
        for _ in range(int(rng.integers(1, 3))):
            words[int(rng.integers(len(words)))] = vocab[int(rng.integers(len(vocab)))]
        texts.append(" ".join(words))
    first_id = int(table["doc_id"].max()) + 1
    ids = np.concatenate([docs["doc_id"].to_numpy(np.int64),
                          np.arange(first_id, first_id + family - 1, dtype=np.int64)])
    order = rng.permutation(len(texts))
    return pd.DataFrame({"doc_id": ids[order], "text": [texts[i] for i in order]})
