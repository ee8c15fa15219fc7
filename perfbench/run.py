#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload dq_suite --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Generates the workload's inputs from
``--seed`` under ``.perfbench_work/`` in the checkout and sets up once:
input generation, JVM launch and session start, a JVM warm-up query and
the input load; ``setup_s`` is that time.  Closed-loop passes then run
for ``--seconds`` (at least one), and ``run_s`` is their median.  A pass
is longer than the budgeted ``--seconds`` at the shipped sizes, so a run
times one pass and that pass includes the JIT and code-generation
warm-up of the queries it runs; an untimed warm-up pass would double the
cost of a run (see ``workloads.json``).

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
with ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the
per-layer metrics of a traced run (Spark event log on, one span per call
into a layer), per pass.  A traced run reports its own median pass
time as ``trace.run_s``; minus ``run_s`` of an untraced run of the same
seed it is the tracing overhead.  The line before the result is a JSON
report with per-operation medians, sample counts, input sizes and host
stamps.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("dq_suite", "llm_corpus", "cdc_ingest")
END_TO_END = ("setup_s", "run_s", "op_gmean_s", "peak_rss_mb")  # as in BENCHMARK.json
# op_gmean_s counts a faster op as this long: below it a Python call's
# clock jitter, not the library, sets the time, and one such op would
# swing a geometric mean
OP_FLOOR_S = 0.01


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write the full report JSON to this file")
    return ap.parse_args(argv)


def setup(wl, conf, seed, inputs, tracer):
    """Input generation, JVM launch, session start, JVM warm-up and input
    load.  Returns ``(spark, state, exp, sizes, setup_s)``; the
    benchmark's own references (DuckDB, numpy) are not timed."""
    from perfbench.harness import fresh_dir, start_session

    t0 = time.perf_counter()
    fresh_dir(inputs)
    sizes = wl.generate(inputs, seed)
    gen_s = time.perf_counter() - t0
    exp = wl.oracle(inputs)
    t0 = time.perf_counter()
    spark = start_session(conf)
    tracer.sc = spark.sparkContext
    if tracer.enabled:
        tracer.spans.append({"id": 0, "layer": "session", "name": "start_session", "pass": -1,
                             "parent": None, "start": t0, "end": time.perf_counter()})
    with tracer.span("session", "warmup", -1):
        spark.range(0, 200_000, numPartitions=4).selectExpr("sum(id * 2)").collect()
    state = wl.load(spark, inputs, tracer)
    setup_s = gen_s + time.perf_counter() - t0
    wl.references(spark, state, exp)
    return spark, state, exp, sizes, setup_s


def timed_passes(wl, spark, state, exp, run, seconds, rss):
    """Closed loop: passes back to back while the next one, at the median
    pass time so far, still ends within ``seconds``; at least one pass."""
    from perfbench.harness import Pass, tree_cpu_s

    pass_s, cpu_s = [], []
    start = time.perf_counter()
    rss.active = True
    while True:
        t, c = time.perf_counter(), tree_cpu_s()
        wl.run_pass(Pass(run, len(pass_s)), spark, state, exp)
        pass_s.append(time.perf_counter() - t)
        cpu_s.append(tree_cpu_s() - c)
        if time.perf_counter() - start + statistics.median(pass_s) > seconds:
            break
    rss.active = False
    return pass_s, cpu_s


def shutdown_jvm() -> None:
    """Stop the JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import bdq_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import bdq_spark from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench import harness, tracing

    wl = importlib.import_module(f"perfbench.{args.workload}")
    work = harness.fresh_dir(os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}"))
    for sub in ("tmp", "spark-local", "warehouse", "checkpoints", "derby"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    inputs = os.path.join(work, "inputs")
    event_dir = os.path.join(work, "eventlog")
    try:
        report = bench(args, wl, work, inputs, event_dir, harness, tracing)
    finally:
        try:
            shutdown_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            parent = os.path.dirname(work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)
    if report is None:
        return 1
    return 0


def bench(args, wl, work, inputs, event_dir, harness, tracing):
    stamps = {"before": harness.host_stamp()}
    traced = bool(args.trace)
    if traced:
        os.makedirs(event_dir)
    conf = harness.spark_conf(work, event_dir if traced else None)
    tracer = tracing.Tracer(enabled=traced)
    run = harness.Run(tracer)
    spark, state, exp, sizes, setup_s = setup(wl, conf, args.seed, inputs, tracer)
    with harness.RssSampler() as rss:
        pass_s, cpu_s = timed_passes(wl, spark, state, exp, run, args.seconds, rss)
    extra = wl.finish(run, spark, state, tracer)
    spark.stop()
    stamps["after"] = harness.host_stamp()
    stamps["steal_share"] = ((stamps["after"]["steal_ticks"] - stamps["before"]["steal_ticks"])
                             / max(stamps["after"]["cpu_ticks"] - stamps["before"]["cpu_ticks"], 1))
    lat = [x for xs in run.latencies.values() for x in xs]
    if not lat:
        print("perfbench: no operation succeeded", file=sys.stderr)
        for f in run.failures[:10]:
            print("  " + f, file=sys.stderr)
        return None
    tail_q, tail_v = harness.tail(lat)
    per_op = {k: statistics.median(v) for k, v in run.latencies.items()}
    # every end-to-end figure of this workload, by name with its unit;
    # the result line carries the END_TO_END subset
    named = {
        "setup_s": (setup_s, "s"),
        "run_s": (statistics.median(pass_s), "s"),
        "op_gmean_s": (statistics.geometric_mean(max(v, OP_FLOOR_S) for v in per_op.values()), "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (tail_v, "s"),
        "op_tail_pct": (tail_q * 100, "pct"),
        "ops_failed_ratio": (run.failed / run.attempted, "ratio"),
        "peak_rss_mb": (rss.peak_kb / 1024, "MB"),
        "cpu_s": (statistics.median(cpu_s), "s"),
    }
    for k, v in extra.get("workload", {}).items():
        named[k] = (v, "s" if k.endswith("_s") else "ratio")
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": harness.NPROC, "pass_s": pass_s, "pass_cpu_s": cpu_s,
        "op_samples": len(lat), "per_op_p50_s": per_op,
        "per_op_samples": {k: len(v) for k, v in run.latencies.items()},
        "inputs": sizes, "failures": run.failures[:10], "stamps": stamps,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
    }
    if traced:
        jobs = tracing.parse_event_log(tracing.find_event_log(event_dir))
        layers = tracing.layer_metrics(tracer.spans, jobs, len(pass_s))
        steps = [sp for sp in tracer.spans if "step" in sp]
        pipes = [sp for sp in tracer.spans if sp["layer"] == "plans.pipeline" and "step" not in sp]
        layers.update({k: v / len(pass_s) for k, v in tracing.dag_metrics(steps, pipes).items()})
        layers.update(extra.get("layer", {}))
        layers.update({f"workload.{k}": v for k, (v, _) in named.items()})
        layers["trace.run_s"] = named["run_s"][0]
        metrics = {name: (float(layers.get(name, 0.0)), unit) for name, unit in tracing.per_layer_catalog()}
        report["per_layer"] = {k: v for k, (v, _) in metrics.items()}
    else:
        metrics = {k: named[k] for k in END_TO_END}
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)
    print(json.dumps(report, sort_keys=True), flush=True)
    harness.emit(run.failed == 0, run.attempted, run.failed, metrics)
    return report


if __name__ == "__main__":
    sys.exit(main())
