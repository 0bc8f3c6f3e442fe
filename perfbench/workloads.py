"""The benchmark's workloads: inputs, the timed pass, the output check
and the traced layer calls.

Sizes are fixed here so that every workload's pass stays at a few
seconds on local[4], which keeps a run (Spark start, input generation,
warm-up and the timed passes) at about a minute.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

import corpus
import expected
from marshmallow_spark.functions import audio
from marshmallow_spark.operators import dedup
from marshmallow_spark.operators.referential import referential_check
from marshmallow_spark.operators.uniqueness import uniqueness_violations
from marshmallow_spark.plans.checkpoint import CheckpointedRun
from marshmallow_spark.plans.pipeline import ClipValidationSuite
from marshmallow_spark.sources.synth import codecs_dim

CLIPS = 30_000
DOCS, DOC_FAMILY = 400, 120
#: 4 bucket groups in the traced checkpoint spans (the CLI job's shape).
CKPT_BUCKETS, CKPT_PER_GROUP = 16, 4
#: q31's dedup parameters.
Q31 = dict(num_hashes=16, num_bands=4, k=3, min_jaccard=0.5,
           salt_threshold=64, num_salts=8, use_star=True)
#: Rows per in-process kernel sample (one invariant-kernel chunk).
SAMPLE_ROWS = audio.UDF_CHUNK_ROWS


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def _noop_count(tracer, name: str, df) -> int:
    """Rows of ``df``, consumed by a noop write under span ``name``."""
    obs = Observation(name)
    observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    with tracer.span(name):
        observed.write.mode("overwrite").format("noop").save()
    return int(obs.get["rows"])


class Workload:
    """A workload writes its seeded inputs and opens them (``prepare``;
    ``open`` again in a new session), runs one timed pass (``run_pass``)
    and checks that pass's output against answers derived without the
    engine."""

    rows: int
    corpus_bytes = 0
    #: passes before timing starts: on a quiet host clip pass walls fall
    #: by about a quarter over the first ten passes while the driver
    #: JVM's JIT compiles, and stay flat after six
    warmup_passes = 6
    self_test_problems: list[str] = []

    def __init__(self, work: str):
        self.work = work
        self._checked = False

    def check(self, out) -> list[str]:
        """Problems with one pass's output; empty when it is correct. The
        first check also plants a dropped and a duplicated row in the
        output, each of which must fail the comparison."""
        rows, problems = self._output(out)
        problems = self._compare(rows) + problems
        if not self._checked:
            self.self_test_problems = [
                f"self-test: a {label} row passed the check"
                for label, planted in (("dropped", rows[1:]), ("duplicated", rows + rows[:1]))
                if not self._compare(planted)
            ]
            problems += self.self_test_problems
            self._checked = True
        return problems


class Clips(Workload):
    """The default suite over a seeded synth corpus (clean or dirty)."""

    def __init__(self, seed: int, work: str, *, dirty: bool):
        super().__init__(work)
        self.start = corpus.clip_start(seed)
        self.rows = CLIPS
        self.dirty_seed = seed if dirty else None
        sched = expected.clip_schedule(self.start, CLIPS, self.dirty_seed)
        exact, snr = expected.expected_clip_rows(sched)
        self.expected = expected.summarize(exact, snr)
        self.verdict_totals = expected.verdict_totals(sched, exact, snr)
        self.path = os.path.join(work, "clips.parquet")

    def describe(self) -> dict:
        return {"clips": self.rows, "first_index": self.start,
                "dirty": self.dirty_seed is not None, "corpus_bytes": self.corpus_bytes,
                "expected_violations": sum(self.expected["counts"].values())}

    def prepare(self, spark):
        corpus.clips_frame(
            spark, self.start, self.rows, self.dirty_seed,
            partitions=2 * spark.sparkContext.defaultParallelism,
        ).write.parquet(self.path)
        self.corpus_bytes = _dir_bytes(self.path)[0]
        self.open(spark)

    def open(self, spark):
        self.df = spark.read.parquet(self.path)
        self.codecs = codecs_dim(spark)
        self.suite = ClipValidationSuite(self.codecs)

    def run_pass(self):
        # both outputs consumed in full; the verdicts are a few rows
        v, verdicts = self.suite.run(self.df)
        v.write.mode("overwrite").format("noop").save()
        return v, verdicts.collect()

    def _output(self, out) -> tuple[list, list[str]]:
        v, verdicts = out
        rows = list(v.toPandas().itertuples(index=False, name=None))
        v.unpersist()
        totals = tuple(sum(r[k] for r in verdicts) for k in ("rows", "failed_rows", "violation_count"))
        if totals != self.verdict_totals:
            return rows, [f"verdict (rows, failed_rows, violation_count) sum to {totals}, "
                          f"expected {self.verdict_totals}"]
        return rows, []

    def _compare(self, rows) -> list[str]:
        return expected.compare(expected.summarize(rows), self.expected)

    def spans(self, spark, tracer) -> tuple[dict, list[str]]:
        """Each layer's public entry point on this corpus under its own
        span. The Spark-side audio figures are not spans: they come
        from the end-to-end pass's plan (``layers.layer_metrics``)."""
        df, suite = self.df, self.suite
        vals: dict[str, float] = {}
        with tracer.span("scan"):
            df.write.mode("overwrite").format("noop").save()

        vals["schema.violations_out"] = _noop_count(
            tracer, "schema.validate_df", suite.schema.validate_df(df.drop("bytes")).violations)
        vals["uniqueness.violations_out"] = _noop_count(
            tracer, "uniqueness", uniqueness_violations(df, "clip_id"))
        vals["referential.violations_out"] = _noop_count(
            tracer, "referential",
            referential_check(df.select("clip_id", "codec"), "codec", self.codecs, "codec",
                              row_key="clip_id", broadcast=True))

        vals["audio.decode.s"], vals["audio.ref_pcm.s"] = self._kernel_sample()

        _noop_count(tracer, "pipeline.violations", suite.violations(df))
        v = suite.violations(df).persist()
        v.write.mode("overwrite").format("noop").save()
        with tracer.span("pipeline.verdicts"):
            suite.verdicts(df, v).collect()
        v.unpersist()

        problems = self._checkpoint_spans(spark, tracer, vals) if self.dirty_seed is None else []
        counts = self.expected["counts"]
        want = {
            "schema.violations_out": sum(n for k, n in counts.items() if k.startswith("structural/")),
            "uniqueness.violations_out": counts.get("uniqueness/clip_id", 0),
            "referential.violations_out": counts.get("referential/codec", 0),
        }
        problems += [f"{k}: {vals[k]} rows, expected {n}" for k, n in want.items() if vals[k] != n]
        return vals, problems

    def _checkpoint_spans(self, spark, tracer, vals) -> list[str]:
        """``CheckpointedRun`` over this corpus, the CLI job's shape: the
        first half of the bucket groups one ``run(max_batches=1)`` call
        each, then a fresh run that resumes to completion."""
        out = os.path.join(self.work, "checkpointed")
        groups = CKPT_BUCKETS // CKPT_PER_GROUP
        first = CheckpointedRun(self.suite, out, num_buckets=CKPT_BUCKETS)
        for _ in range(groups // 2):
            with tracer.span("checkpoint.group"):
                first.run(self.df, buckets_per_batch=CKPT_PER_GROUP, max_batches=1)
        with tracer.span("checkpoint.resume"):
            CheckpointedRun(self.suite, out, num_buckets=CKPT_BUCKETS).run(
                self.df, buckets_per_batch=CKPT_PER_GROUP)
        vals["checkpoint.groups"] = groups
        written, files = _dir_bytes(out)
        vals["checkpoint.written_mb"] = written / 2**20
        vals["checkpoint.files_written"] = files

        # what landed must equal the single-shot multiset
        run = CheckpointedRun(self.suite, out, num_buckets=CKPT_BUCKETS)
        landed = run.all_violations(spark).select("clip_id", "field", "message", "check")
        rows = list(landed.toPandas().itertuples(index=False, name=None))
        manifests = run.manifests()
        problems = self._compare(rows)
        if len(manifests) != CKPT_BUCKETS:
            problems.append(f"{len(manifests)} manifests, expected {CKPT_BUCKETS}")
        if sum(m["rows"] for m in manifests) != self.rows:
            problems.append("manifest rows do not sum to the input rows")
        if sum(m["violations"] for m in manifests) != len(rows):
            problems.append("manifest violations do not sum to the landed rows")
        return problems

    def _kernel_sample(self, repeats: int = 7) -> tuple[float, float]:
        """Median seconds of ``decode_payload_batch`` (per codec group)
        and ``reference_pcm_flat`` over the first decodable rows of the
        corpus's first file, called in this process."""
        first = os.path.join(self.path, min(n for n in os.listdir(self.path) if n.endswith(".parquet")))
        pdf = pq.read_table(first, columns=["clip_id", "bytes", "sr_hz", "dur_ms", "codec"]).to_pandas()
        ok = pdf["sr_hz"].isin([8000, 16000, 22050, 44100]) & (pdf["dur_ms"] > 0) & pdf["codec"].isin(audio.KNOWN_CODECS)
        sample = pdf[ok].sort_values("clip_id", kind="stable").head(SAMPLE_ROWS)
        groups = []
        for codec, g in sample.groupby("codec"):
            lens = g["bytes"].map(len).to_numpy()
            offsets = np.concatenate([[0], np.cumsum(lens)])
            groups.append((b"".join(g["bytes"]), offsets, codec))
        idx = audio.clip_index_from_id(sample["clip_id"])
        sr = sample["sr_hz"].to_numpy(np.int64)
        dur = sample["dur_ms"].to_numpy(np.int64)
        decode, ref = [], []
        for _ in range(repeats):
            t0 = time.perf_counter()
            for buf, offsets, codec in groups:
                audio.decode_payload_batch(buf, offsets, codec)
            t1 = time.perf_counter()
            audio.reference_pcm_flat(idx, sr, dur)
            decode.append(t1 - t0)
            ref.append(time.perf_counter() - t1)
        return statistics.median(decode), statistics.median(ref)


class Docs(Workload):
    """q31's MinHash dedup pipeline over a seeded sample of the
    documents table plus a planted near-duplicate family."""

    # fewer warm-up passes than the clips: a pass is twice as long, and
    # more would push a run past a minute
    warmup_passes = 3

    def __init__(self, seed: int, work: str):
        super().__init__(work)
        self.docs = corpus.documents(seed, DOCS, DOC_FAMILY)
        self.rows = len(self.docs)
        comp, self.candidates, self.verified = expected.dedup_components(
            self.docs["doc_id"].tolist(), self.docs["text"].tolist(),
            num_hashes=Q31["num_hashes"], num_bands=Q31["num_bands"], k=Q31["k"],
            min_jaccard=Q31["min_jaccard"])
        self.expected = sorted(comp.items())
        self.path = os.path.join(work, "documents.parquet")

    def describe(self) -> dict:
        return {"documents": self.rows, "family": DOC_FAMILY, "corpus_bytes": self.corpus_bytes,
                "expected_candidates": self.candidates, "expected_verified_pairs": self.verified,
                "expected_clustered_docs": len(self.expected)}

    def prepare(self, spark):
        # one file, like the documents table
        os.makedirs(self.path)
        part = os.path.join(self.path, "part-000.parquet")
        pq.write_table(pa.Table.from_pandas(self.docs, preserve_index=False), part)
        self.corpus_bytes = os.path.getsize(part)
        self.open(spark)

    def open(self, spark):
        self.df = spark.read.parquet(self.path)

    def run_pass(self):
        return dedup.minhash_dedup_pipeline(self.df, "doc_id", "text", **Q31).collect()

    def _output(self, out) -> tuple[list, list[str]]:
        return [(r["id"], r["comp"]) for r in out], []

    def _compare(self, rows) -> list[str]:
        if sorted(rows) == self.expected:
            return []
        return [f"{len(rows)} (id, comp) rows differ from the {len(self.expected)} expected"]

    def spans(self, spark, tracer):
        p = Q31
        sigs = dedup.minhash_signatures(
            self.df, "doc_id", "text", num_hashes=p["num_hashes"], k=p["k"]).persist()
        # signatures are persisted so each later span times its own stage
        with tracer.span("dedup.signatures"):
            sigs.count()
        cand = dedup.lsh_banded_pairs(
            sigs, "doc_id", num_bands=p["num_bands"],
            rows_per_band=p["num_hashes"] // p["num_bands"],
            salt_threshold=p["salt_threshold"], num_salts=p["num_salts"]).persist()
        with tracer.span("dedup.candidates"):
            n_cand = cand.count()
        verified = dedup.ngram_jaccard_pairs(
            self.df, "doc_id", "text", k=p["k"], candidates=cand,
            min_jaccard=p["min_jaccard"], assume_distinct_candidates=True).persist()
        with tracer.span("dedup.verify"):
            n_ver = verified.count()
        with tracer.span("dedup.cc"):
            comps = dedup.connected_components_star(
                verified, "a", "b", assume_normalized=True).collect()
        for frame in (verified, cand, sigs):
            frame.unpersist()
        vals = {"dedup.candidates": n_cand, "dedup.verified_pairs": n_ver,
                "dedup.verify_yield": n_ver / n_cand if n_cand else 0.0}
        problems = self._compare([(r["id"], r["comp"]) for r in comps])
        if (n_cand, n_ver) != (self.candidates, self.verified):
            problems.append(f"{n_cand} candidates / {n_ver} verified, expected "
                            f"{self.candidates} / {self.verified}")
        with tracer.span("scan"):
            self.df.write.mode("overwrite").format("noop").save()
        return vals, problems


def make(name: str, seed: int, work: str) -> Workload:
    if name == "clips_clean":
        return Clips(seed, work, dirty=False)
    if name == "clips_dirty":
        return Clips(seed, work, dirty=True)
    if name == "docs_dedup":
        return Docs(seed, work)
    raise ValueError(f"unknown workload {name!r}")
