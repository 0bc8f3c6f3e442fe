"""Seeded end-to-end benchmark of the validation engine at local[nproc].

    python3 perfbench/run.py --workload clips_clean --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads: ``clips_clean`` and
``docs_dedup`` (the set BENCHMARK.json lists) and ``clips_dirty``;
``all`` runs each in its own process and prints every metric by name
and unit. The last line of standard output is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it records provenance (versions, core count, load average, CPU
steal share, seed, input sizes and the timed pass walls).

``--trace 0`` reports the end-to-end metrics of the workload's timed
passes. ``--trace 1`` reports per-layer metrics: after the untraced
passes it restarts Spark with the event log on, runs one traced pass
and then calls each layer's public entry point in a span tagged with a
Spark job group. Byte, spill and task counts come from the event log;
``layers.json`` maps each layer to the end-to-end metric and workload
it should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
CORES = os.cpu_count() or 4

# Python workers inherit these through the JVM: one thread per worker,
# so local[nproc] is the only parallelism.
THREAD_PINS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")

WORKLOADS = ("clips_clean", "clips_dirty", "docs_dedup")


def _environment() -> None:
    for var in THREAD_PINS:
        os.environ[var] = "1"
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [ROOT, HERE]
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(WORK, sub))
    # the Spark launcher's handshake file and any other temp files
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tempfile.tempdir = None


def stop_jvm() -> None:
    """End the Spark JVM this process launched and wait for it: it exits
    when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def start_spark(event_log: bool):
    from marshmallow_spark.session import get_spark

    # A fixed-size heap (-Xms = driver memory): a heap that grows and
    # shrinks with GC pressure made peak RSS differ by a quarter between
    # runs of the same input.
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.driver.extraJavaOptions": "-Xms2g -XX:-UsePerfData -Djava.io.tmpdir="
        + os.path.join(WORK, "tmp"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES,
                     extra_conf=conf)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def one_pass(workload):
    """One pass's output, or None when the pass raised: a failing pass
    is counted, not fatal."""
    try:
        return workload.run_pass()
    except Exception:
        traceback.print_exc()
        return None


def failed_check(workload, out, label: str) -> bool:
    """Whether a pass's output fails its check."""
    problems = ["pass raised"] if out is None else workload.check(out)
    if problems:
        print(f"{label} failed its check: {problems}", file=sys.stderr)
    return bool(problems)


def measure(workload, seconds: float):
    """Timed passes while the next one, at the median pass time so far,
    still fits in ``seconds`` (at least one); each pass's output is
    checked outside the timed region."""
    import procstat

    walls, cpus, failed = [], [], 0
    with procstat.PeakRss() as rss:
        while not walls or sum(walls) + _median(walls) <= seconds:
            rss.active = True
            cpu0, t0 = procstat.cpu_seconds(), time.perf_counter()
            out = one_pass(workload)
            walls.append(time.perf_counter() - t0)
            cpus.append(procstat.cpu_seconds() - cpu0)
            rss.active = False
            failed += failed_check(workload, out, f"pass {len(walls)}")
        peak = rss.peak_mb
    return walls, cpus, peak, failed


def set_up(workload) -> tuple[object, float, int]:
    """Start Spark, materialize the inputs and run the warm-up passes;
    returns the session, the seconds spent (output checks excluded) and
    the number of warm-up passes that failed their check."""
    t0 = time.perf_counter()
    spark = start_spark(event_log=False)
    workload.prepare(spark)
    checks, failed = 0.0, 0
    for i in range(workload.warmup_passes):
        out = one_pass(workload)
        c0 = time.perf_counter()
        failed += failed_check(workload, out, f"warm-up pass {i + 1}")
        checks += time.perf_counter() - c0
    return spark, time.perf_counter() - t0 - checks, failed


def untraced(workload, seconds: float) -> dict:
    from layers import END_TO_END

    spark, setup_s, warmup_failed = set_up(workload)
    walls, cpus, peak, failed = measure(workload, seconds)
    spark.stop()
    failed += warmup_failed
    metrics = {
        "rows_per_s": workload.rows / _median(walls),
        "setup_s": setup_s,
        "cpu_s": _median(cpus),
        "peak_rss_mb": peak,
    }
    return {
        "correct": failed == 0 and not workload.self_test_problems,
        "attempted": workload.warmup_passes + len(walls),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()},
        "pass_walls_s": walls,
    }


def traced(workload, seconds: float) -> dict:
    import eventlog
    from layers import Tracer, layer_metrics

    spark, _, failed = set_up(workload)
    walls, _, _, timed_failed = measure(workload, seconds)
    spark.stop()
    failed += timed_failed

    spark = start_spark(event_log=True)
    workload.open(spark)
    tracer = Tracer(spark.sparkContext)
    with tracer.span("warmup"):
        out = workload.run_pass()
    problems = workload.check(out)  # also releases what the pass cached
    with tracer.span("e2e"):
        t0 = time.perf_counter()
        out = workload.run_pass()
        traced_wall = time.perf_counter() - t0
    problems += workload.check(out)
    values, span_problems = workload.spans(spark, tracer)
    spark.stop()
    if problems or span_problems:
        print(f"traced run failed its checks: {problems + span_problems}", file=sys.stderr)
    # the warm-up and timed passes, the traced passes, then the layer spans
    attempted = workload.warmup_passes + len(walls) + 2
    failed += bool(problems) + bool(span_problems)
    tracer.write(os.path.join(WORK, "spans.json"))

    counts = eventlog.read(os.path.join(WORK, "eventlog"))
    metrics = layer_metrics(
        tracer, counts, values, wall=traced_wall, cores=CORES,
        # against the last untraced pass: the JIT is still settling over
        # the first passes, and the traced pass comes after all of them
        corpus_bytes=workload.corpus_bytes, overhead=traced_wall / walls[-1],
    )
    return {
        "correct": failed == 0 and not workload.self_test_problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def provenance(args, workload, ticks0) -> dict:
    import numpy
    import procstat
    import pyarrow
    import pyspark

    steal, total = (b - a for a, b in zip(ticks0, procstat.host_ticks()))
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": CORES, "master": f"local[{CORES}]",
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__, "loadavg": list(os.getloadavg()),
        "cpu_steal_share": steal / total if total else 0.0,
        "input": workload.describe(),
    }


def run_all(args) -> int:
    """Every workload in its own process; prints each metric by name
    and unit, then one combined result line."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=True,
        ).stdout.strip().splitlines()
        result = json.loads(out[-1])
        combined["correct"] &= result["correct"]
        combined["attempted"] += result["attempted"]
        combined["failed"] += result["failed"]
        for metric, m in result["metrics"].items():
            print(f"{name:<12} {metric:<34} {m['value']:>14.4f} {m['unit']}")
            combined["metrics"][f"{name}.{metric}"] = m
    print(json.dumps(combined))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.workload == "all":
        return run_all(args)

    _environment()
    import procstat
    import workloads  # imports the library; fails where it is absent

    ticks0 = procstat.host_ticks()
    workload = workloads.make(args.workload, args.seed, WORK)
    try:
        result = (traced if args.trace else untraced)(workload, args.seconds)
    finally:
        stop_jvm()
    walls = {"pass_walls_s": result.pop("pass_walls_s")} if "pass_walls_s" in result else {}
    print(json.dumps({"provenance": provenance(args, workload, ticks0), **walls}))
    print(json.dumps(result))
    for name in os.listdir(WORK):
        if name != "spans.json":
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
