"""Benchmark for the transcript pipeline: ingest, query and curate.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 30 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` and
written as parquet under ``.perfbench_work/`` before any timing; the
program only reads those files. The run starts one local Spark session
with a task slot per two cores, warms it with one pass on a small
input, then:

* ``--trace 0``: runs about ``--seconds`` seconds of timed passes (a
  pass count fixed per workload), checks every pass against an
  independent reference, and reports the end-to-end metrics of
  BENCHMARK.json (medians over the passes);
* ``--trace 1``: runs a traced pass between two untraced ones and reports the
  per-layer metrics of BENCHMARK.json, read from Spark's own SQL and
  task metrics. Spans go to ``.perfbench_work/<run>/spans.jsonl``.

Human-readable lines go first; the last line of stdout is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
Everything the run writes stays under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _isolate(work: str) -> None:
    """Keep Spark's, Python's and the JVM's scratch files in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every child."""
    from pyspark import SparkContext

    from meters import tree_pids

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that ignores stdin EOF is killed
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while True:
        left = [p for p in tree_pids() if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def high_percentile(values: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least ten samples above it."""
    n = len(values)
    if n < 11:
        return None
    p = math.floor(100 * (n - 10) / n)
    return p, statistics.quantiles(values, n=100)[p - 1]


def _harvest_layers(h, wall: float, slots: int) -> dict:
    """Layer metrics every workload shares: the Python-UDF boundary
    and the Spark scheduler, folded from one Harvest."""
    from sparkstats import python_udf_layers

    return {
        "parse.eval_nodes": h.eval_nodes_max,
        **python_udf_layers(h),
        "spark.jobs": h.jobs,
        "spark.stages": h.stages,
        "spark.tasks": h.tasks,
        "spark.gc_s": h.gc_s,
        "spark.executor_run_s": h.executor_run_s,
        "spark.executor_cpu_s": h.executor_cpu_s,
        "spark.core_busy_frac": h.executor_run_s / (slots * wall),
    }


def _settle(spark) -> None:
    """Collect garbage in the driver and the JVM before a step, so that
    every step starts from a compacted heap: none inherits the garbage,
    or the heap size, that the steps before it left. Not timed."""
    gc.collect()
    spark._jvm.System.gc()


def _metered_pass(wl, spark, k, sampler, cores) -> dict:
    """One pass, metered step by step (``Workload.run`` marks the
    steps). The pass's wall time and CPU are the sums over its steps;
    it keeps each step's peak RSS."""
    from meters import StepMeter

    path = wl.prepare(k)
    steps = []

    @contextmanager
    def step():
        _settle(spark)
        with StepMeter(sampler, cores) as m:
            yield
        steps.append(m.record)

    out = wl.run(spark, path, k, step)
    fails = wl.verify(out, k)
    wall = sum(r["run_s"] for r in steps)
    return {
        "run_s": wall,
        "cpu_s": sum(r["cpu_s"] for r in steps),
        "step_peak_rss_mb": [r["peak_rss_mb"] for r in steps],
        "peak_rss_by_process_mb": max(steps, key=lambda r: r["peak_rss_mb"])["peak_rss_by_process_mb"],
        **{n: sum(r[n] * r["run_s"] for r in steps) / wall for n in ("steal_frac", "other_cpu_frac")},
        "ops": wl.ops_per_pass, "failed": len(fails), "failures": fails,
    }


def timed_run(wl, spark, seconds: float, sampler, cores: int) -> tuple[dict, list]:
    """``ceil(seconds / wl.pass_s)`` passes, a count fixed per workload
    so the medians cover the same passes whatever the host's speed:
    later passes run faster while the JVM keeps compiling. Peak RSS is
    the median over every step of every pass."""
    samples = [
        _metered_pass(wl, spark, k, sampler, cores)
        for k in range(max(1, math.ceil(seconds / wl.pass_s)))
    ]
    values = {name: statistics.median(s[name] for s in samples) for name in ("run_s", "cpu_s")}
    values["peak_rss_mb"] = statistics.median(p for s in samples for p in s["step_peak_rss_mb"])
    return values, samples


def traced_run(wl, spark, sampler, cores: int, slots: int, work: str, run_id: str) -> tuple[dict, list]:
    """One traced pass between two untraced ones. The overhead is the
    traced wall time minus the mean of the two untraced ones, so the
    speed-up of later passes while the JVM compiles does not count
    as tracing cost."""
    from sparkstats import StatusReader
    from spans import Tracer

    tracer = Tracer(run_id)
    reader = StatusReader(spark)
    prefix_layers = wl.trace_prefixes(spark, tracer, reader)
    samples = [_metered_pass(wl, spark, 0, sampler, cores)]
    path = wl.prepare(1)
    _settle(spark)
    t0 = time.perf_counter()
    with tracer.span("pass") as root:
        out, harvest, own = wl.traced_pass(spark, path, tracer, reader, root)
    wall = time.perf_counter() - t0
    fails = wl.verify(out, 1)
    samples.append({"run_s": wall, "ops": wl.ops_per_pass, "failed": len(fails),
                    "failures": fails, "traced": True})
    samples.append(_metered_pass(wl, spark, 2, sampler, cores))
    tracer.write(os.path.join(work, "spans.jsonl"))
    layers = {**_harvest_layers(harvest, wall, slots), **own, **prefix_layers}
    layers["trace.run_s"] = wall
    layers["trace.overhead_s"] = wall - (samples[0]["run_s"] + samples[2]["run_s"]) / 2
    return layers, samples


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")

    run_id = f"{args.workload}-seed{args.seed}-{'trace' if args.trace else 'time'}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    sys.path[:0] = [ROOT, HERE]

    from opentelemetry_collector_spark.session import get_spark

    from meters import TreeSampler
    from workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    # one task slot per two cores: each task of the Arrow parse UDF
    # keeps a Python worker busy next to its JVM thread
    slots = max(1, cores // 2)
    wl = WORKLOADS[args.workload](work, args.seed)
    wl.make_inputs()
    wl.expect()

    sampler = TreeSampler()
    sampler.start()
    spark, error = None, None
    try:
        t0 = time.perf_counter()
        spark = get_spark(cpus=slots)
        start_s = time.perf_counter() - t0
        wl.warm(spark)
        warm_s = time.perf_counter() - t0 - start_s
        if args.trace:
            values, samples = traced_run(wl, spark, sampler, cores, slots, work, run_id)
            values["session.start_s"] = start_s
            values["session.warmup_s"] = warm_s
            values["session.peak_rss_mb"] = max(samples[0]["step_peak_rss_mb"])
        else:
            values, samples = timed_run(wl, spark, args.seconds, sampler, cores)
        values["setup_s"] = start_s + warm_s
    except Exception:  # noqa: BLE001 - report the failure, then exit non-zero
        error = traceback.format_exc()
    finally:
        if spark is not None:
            _stop_spark(spark)
        sampler.stop()
    if error:
        print(error, file=sys.stderr)
        return 1
    if args.trace:
        values["session.python_workers_spawned"] = len(sampler.workers_seen)

    attempted = sum(s["ops"] for s in samples)
    failed = sum(s["failed"] for s in samples)
    values["ops_failed_frac"] = failed / attempted
    missing = [m["name"] for m in wanted if m["name"] not in values]
    unexpected = [n for n in missing if not n.startswith(wl.not_reached)]
    if unexpected:
        print(f"metrics not produced: {', '.join(unexpected)}", file=sys.stderr)
        return 1
    values.update({name: 0 for name in missing})

    print(f"workload={args.workload} seed={args.seed} cores={cores} slots={slots} passes={len(samples)}")
    for rec in wl.inputs:
        print(f"input {os.path.relpath(rec['path'], work)}: {rec['generator']} "
              f"seed={rec['seed']} rows={rec['rows']} sha256={rec['sha256'][:16]}")
    for i, s in enumerate(samples):
        noise = "".join(f" {k}={s[k]:.3f}" for k in ("steal_frac", "other_cpu_frac") if k in s)
        print(f"pass {i}: run_s={s['run_s']:.3f}{noise} failed={s['failed']}/{s['ops']}"
              + "".join(f"\n  FAIL {why}" for why in s["failures"]))
    for m in wanted:
        line = f"{m['name']:<32} {values[m['name']]:>14.6g} {m['unit']}"
        per_pass = [s[m["name"]] for s in samples if m["name"] in s] or [
            p for s in samples for p in s.get("step_" + m["name"], [])
        ]
        if per_pass:
            line += f"  (median of n={len(per_pass)}"
            hi = high_percentile(per_pass)
            line += f", p{hi[0]}={hi[1]:.6g})" if hi else ", no percentile has 10 samples above it)"
        print(line)
    if "ops_failed_frac" not in {m["name"] for m in wanted}:
        print(f"{'ops_failed_frac':<32} {values['ops_failed_frac']:>14.6g} ratio  ({failed}/{attempted})")
    if missing:
        print(f"layers this workload does not reach (reported as 0): {', '.join(missing)}")

    report = {
        "run_id": run_id, "seed": args.seed, "cores": cores, "slots": slots, "inputs": wl.inputs,
        "samples": samples, "values": values,
    }
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump(report, f, indent=1, default=float)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
