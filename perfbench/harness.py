"""Timing loop, session config, host stamps and the result line.

A workload is a closed loop with one client: ``run_pass`` issues one
operation after another through :meth:`Pass.op`, which times the public
call and the materialization of its result, then checks the output.
A wrong output counts as a failed operation, the same as an exception.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import threading
import time
import traceback
from typing import Any, Callable, Dict, List, Optional

NPROC = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "2g"
TAIL_GRID = (0.5, 0.75, 0.9, 0.95, 0.99, 0.999)


def spark_conf(work: str, event_log_dir: Optional[str] = None) -> Dict[str, str]:
    """The one session config every workload uses, sized to this host."""
    conf = {
        "spark.master": f"local[{NPROC}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.shuffle.partitions": str(NPROC),
        "spark.default.parallelism": str(NPROC),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.scheduler.mode": "FAIR",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        # a fixed-size heap: RSS then follows allocation volume, not G1's resizing
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        f"-Dderby.system.home={os.path.join(work, 'derby')}",
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "checkpoints"),
    }
    if event_log_dir:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.dir"] = event_log_dir
    return conf


def start_session(conf: Dict[str, str]):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def host_stamp() -> dict:
    """Load and fixed-work speed of the host, and its cumulative CPU and
    steal ticks (time a hypervisor gave this machine's CPUs to others);
    stored, never used to adjust."""
    import numpy as np

    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]  # user .. steal
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i
    py_loop_ms = (time.perf_counter() - t) * 1000
    a = np.ones((512, 512), dtype=np.float32)
    t = time.perf_counter()
    for _ in range(8):
        a = a @ a * 1e-6
    np_gemm_ms = (time.perf_counter() - t) * 1000
    return {"loadavg": load, "py_loop_ms": round(py_loop_ms, 1), "np_gemm_ms": round(np_gemm_ms, 1),
            "cpu_ticks": sum(ticks), "steal_ticks": ticks[7]}


def _tree(root_pid: int) -> Dict[int, int]:
    """``{pid: cpu ticks}`` of ``root_pid`` and every descendant (the JVM
    and its Python workers); ticks are user+system time, including that
    of descendants already reaped."""
    children: Dict[int, List[int]] = {}
    cpu: Dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(name))
        cpu[int(name)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    out, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in cpu:
            out[pid] = cpu[pid]
        todo.extend(children.get(pid, ()))
    return out


def tree_pss_kb(root_pid: int) -> int:
    """Proportional set size of the process tree: pages shared between
    processes (a forked Python worker and its daemon) count once in total,
    where summed RSS would count them in every sharer."""
    total = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                total += next(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
    return total


def tree_cpu_s() -> float:
    return sum(_tree(os.getpid()).values()) / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the process tree's resident memory (as PSS) on a thread
    while ``active``."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self.active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.wait(self.interval):
            if self.active:
                self.peak_kb = max(self.peak_kb, tree_pss_kb(os.getpid()))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


class OutputMismatch(Exception):
    """An operation returned a result that differs from the oracle."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise OutputMismatch(what)


class Pass:
    """One pass of a workload; ``op`` times, traces and checks a call."""

    def __init__(self, run: "Run", pass_id: int):
        self.run = run
        self.pass_id = pass_id

    def op(self, name: str, layer: str, call: Callable[[], Any],
           materialize: Callable[[Any], Any] = lambda r: r,
           check: Optional[Callable[[Any], None]] = None) -> Any:
        run = self.run
        out = None
        t0 = time.perf_counter()
        try:
            with run.tracer.span(layer, name, self.pass_id) as sp:
                result = call()
                t1 = time.perf_counter()
                out = materialize(result)
                if sp is not None:
                    sp["construct_s"] = t1 - t0
            elapsed = time.perf_counter() - t0
            if check is not None:
                check(out)
            run.record(name, elapsed)
        except Exception as exc:  # noqa: BLE001 - the loop must keep running
            run.fail(name, exc)
        return out


class Run:
    """Collects per-op latencies and failures across the timed passes."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.latencies: Dict[str, List[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: List[str] = []
        self.extra: Dict[str, List[float]] = {}

    def record(self, name: str, seconds: float) -> None:
        self.attempted += 1
        self.latencies.setdefault(name, []).append(seconds)

    def fail(self, name: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        detail = "".join(traceback.format_exception_only(type(exc), exc)).strip()
        self.failures.append(f"{name}: {detail[:300]}")

    def note(self, key: str, value: float) -> None:
        self.extra.setdefault(key, []).append(value)


def tail(samples: List[float]) -> tuple:
    """``(q, value)``: the highest grid percentile with at least ten
    samples beyond it (the median when there are too few samples)."""
    xs = sorted(samples)
    n = len(xs)
    best = (0.5, statistics.median(xs))
    for q in TAIL_GRID:
        k = math.ceil(round(q * n, 9))  # samples at or below the percentile
        if k >= 1 and n - k >= 10:
            best = (q, xs[k - 1])
    return best


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def dir_bytes(path: str) -> tuple:
    """(bytes, files) of the data under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def emit(correct: bool, attempted: int, failed: int, metrics: Dict[str, tuple]) -> None:
    line = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(line), flush=True)
