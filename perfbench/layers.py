"""Spans around layer calls, and the per-layer metric table.

A span runs its Spark jobs under a job group named after the span, so
``eventlog.read`` can attribute tasks, bytes and spill to it. Span
names are ``<layer>.<part>``; the part before the first dot is the
layer's metric prefix (see ``layers.json`` for the module behind each).
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

MB = 2**20

#: BENCHMARK.json: the metric names, units and directions.
SPEC = json.load(open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                   "BENCHMARK.json")))
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


class Tracer:
    """Spans kept in memory: name, start, end and the enclosing span."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self.sc.setJobGroup(name, name)
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append({"name": name, "start": start, "end": end, "parent": parent})
            self.sc.setJobGroup(parent or "untraced", "untraced")

    def seconds(self, name: str) -> float:
        """Median duration of the spans called ``name``; 0 if none ran."""
        walls = [s["end"] - s["start"] for s in self.spans if s["name"] == name]
        return statistics.median(walls) if walls else 0.0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def layer_metrics(tracer, counts, values, *, wall, cores, corpus_bytes, overhead) -> dict:
    """The full per-layer table. A layer the workload does not run
    reports 0 for each of its metrics. The audio figures come from the
    traced end-to-end pass's own plan: its Python-UDF node with the
    invariant kernel's output columns."""
    from marshmallow_spark.functions.audio import INVARIANT_OUT_SCHEMA

    e2e = counts.get("e2e", {})
    columns = ",".join(c.split()[0] for c in INVARIANT_OUT_SCHEMA.split(","))
    kernel = e2e.get("python", {}).get(columns, {})
    m = {
        "scan.s": tracer.seconds("scan"),
        "scan.input_mb": e2e.get("scanned_bytes", 0) / MB,
        "scan.read_amplification": e2e.get("scanned_bytes", 0) / corpus_bytes,
        "schema.validate_df.s": tracer.seconds("schema.validate_df"),
        "uniqueness.s": tracer.seconds("uniqueness"),
        "referential.s": tracer.seconds("referential"),
        "audio.invariant.s": kernel.get("run_ms", 0) / 1000,
        "audio.rows_decoded": kernel.get("rows_in", 0),
        "audio.to_python_mb": kernel.get("to_python_bytes", 0) / MB,
        "audio.from_python_mb": kernel.get("from_python_bytes", 0) / MB,
        "audio.task_skew": kernel.get("task_skew", 0.0),
        "pipeline.violations.s": tracer.seconds("pipeline.violations"),
        "pipeline.verdicts.s": tracer.seconds("pipeline.verdicts"),
        "pipeline.verdicts.broadcast_rows":
            counts.get("pipeline", {}).get("broadcast_rows", {}).get("pipeline.verdicts", 0),
        "checkpoint.group.s": tracer.seconds("checkpoint.group"),
        "checkpoint.resume.s": tracer.seconds("checkpoint.resume"),
        "dedup.signatures.s": tracer.seconds("dedup.signatures"),
        "dedup.candidates.s": tracer.seconds("dedup.candidates"),
        "dedup.verify.s": tracer.seconds("dedup.verify"),
        "dedup.cc.s": tracer.seconds("dedup.cc"),
        "spark.busy_share": e2e.get("run_ms", 0) / 1000 / (wall * cores),
        "spark.spill_mb": e2e.get("spill_bytes", 0) / MB,
        "tracing.overhead": overhead,
    }
    for name in PER_LAYER:
        layer, _, tail = name.partition(".")
        if name in m:
            continue
        if tail == "task_skew":
            m[name] = counts.get(layer, {}).get("task_skew", 0.0)
        elif tail == "shuffle_write_mb":
            m[name] = counts.get(layer, {}).get("shuffle_write_bytes", 0) / MB
    m.update(values)
    return {name: {"value": float(m.get(name, 0.0)), "unit": unit}
            for name, unit in PER_LAYER.items()}
