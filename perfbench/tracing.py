"""Spans around every call into a layer, and Spark event-log attribution.

A span records layer, name, start, end, parent span and pass id; spans
stay in memory until the run ends.  Each span tags the Spark jobs its
thread submits with ``SparkContext.addJobTag("pb<id>")``; job tags are
thread-local, so spans opened inside pipeline steps or ``foreachBatch``
functions tag the jobs of those threads.  After the session stops, the
uncompressed event log is read with the standard library and every
job's tasks (CPU, GC, shuffle, spill) are charged to the innermost span
that tagged it.  A job no span tagged (submitted from a thread the
library started, such as the DAG workers of
``validate_primary_key_candidate_combinations``) is charged to the newest
span open when it was submitted.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import threading
import time
from typing import Dict, Iterable, List, Optional

TAG_PREFIX = "pb"

LAYERS = (
    "session", "sources.testdata", "schema", "functions.surrogate_keys",
    "operators.diff", "operators.latest", "operators.integrity", "operators.pk",
    "operators.rules", "operators.profile",
    "operators.corpus", "operators.dedup", "operators.components",
    "operators.tokenizer", "operators.packing", "operators.ivf",
    "plans.pipeline", "plans.statestore", "streaming.cdc_sink",
    "streaming.stateful", "sources.sinks",
)
CONSTRUCT_LAYERS = (
    "operators.diff", "operators.pk", "operators.corpus", "operators.dedup",
    "operators.components", "operators.tokenizer", "operators.ivf", "streaming.cdc_sink",
)
GC_SHUFFLE_LAYERS = (
    "operators.diff", "operators.latest", "operators.integrity",
    "operators.profile", "operators.components", "operators.tokenizer",
)
SPILL_LAYERS = ("operators.diff", "operators.latest")
SINGLE_METRICS = (
    ("plans.dag.wait_s", "s"),
    ("plans.pipeline.overhead_s", "s"),
    ("sources.sinks.bytes_written", "bytes"),
    ("sources.sinks.files_written", "count"),
    ("sources.sinks.lookup_yield", "ratio"),
    ("streaming.cdc_sink.files_rewritten", "count"),
    ("operators.dedup.candidate_yield", "ratio"),
)
# workload-level figures of the traced run: the cdc_ingest-only ones
# (a gated end-to-end metric must exist on every workload) and those too
# unsteady at a handful of operations per run to gate
WORKLOAD_METRICS = (
    ("workload.batch_p50_s", "s"),
    ("workload.batch_tail_s", "s"),
    ("workload.lookup_p50_s", "s"),
    ("workload.space_amp", "ratio"),
    ("workload.op_p50_s", "s"),
    ("workload.op_tail_s", "s"),
    ("workload.op_tail_pct", "pct"),
    ("workload.ops_failed_ratio", "ratio"),
    ("trace.run_s", "s"),
)


def per_layer_catalog() -> List[tuple]:
    """``(name, unit)`` of every per-layer metric, in report order."""
    out = []
    for layer in LAYERS:
        out += [(f"{layer}.busy_s", "s"), (f"{layer}.jobs", "count"),
                (f"{layer}.tasks", "count"), (f"{layer}.cpu_s", "s")]
        if layer in CONSTRUCT_LAYERS:
            out.append((f"{layer}.construct_s", "s"))
        if layer in GC_SHUFFLE_LAYERS:
            out += [(f"{layer}.gc_s", "s"), (f"{layer}.shuffle_mb", "MB")]
        if layer in SPILL_LAYERS:
            out.append((f"{layer}.spill_mb", "MB"))
    return out + list(SINGLE_METRICS) + list(WORKLOAD_METRICS)


class Tracer:
    """Span recorder; a disabled tracer records nothing and tags nothing."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: List[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, layer: str, name: Optional[str] = None, pass_id: int = 0,
             parent: Optional[int] = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = next(self._ids)
        sp = {
            "id": sid, "layer": layer, "name": name or layer, "pass": pass_id,
            "parent": parent if parent is not None else (stack[-1]["id"] if stack else None),
            "start": time.perf_counter(), "end": None, "wall_start": time.time(), **attrs,
        }
        tag = f"{TAG_PREFIX}{sid}"
        self.sc.addJobTag(tag)
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            self.sc.removeJobTag(tag)
            sp["end"] = time.perf_counter()
            sp["wall_end"] = time.time()
            with self._lock:
                self.spans.append(sp)


def union_length(intervals: Iterable[tuple]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: List[dict]) -> Dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    kids: Dict[int, List[tuple]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out = {}
    for sp in spans:
        clipped = [(max(s, sp["start"]), min(e, sp["end"])) for s, e in kids.get(sp["id"], ())]
        out[sp["id"]] = (sp["end"] - sp["start"]) - union_length([c for c in clipped if c[1] > c[0]])
    return out


def _events(path: str):
    """Events of an event log: one file, or a rolling-log directory."""
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "events_*")),
                       key=lambda f: int(os.path.basename(f).split("_")[1]))
    else:
        parts = [path]
    for part in parts:
        with open(part) as fh:
            for line in fh:
                yield json.loads(line)


def parse_event_log(path: str) -> List[dict]:
    """Per-job totals from one uncompressed Spark event log (a file, or
    a rolling-log directory of ``events_<n>_*`` files).

    Returns ``[{"job": id, "tags": [...], "submitted": epoch_s, "tasks": n,
    "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes"}]``.
    """
    jobs: Dict[int, dict] = {}
    stage_job: Dict[int, int] = {}
    for ev in _events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            tags = [t for t in (props.get("spark.job.tags") or "").split(",") if t]
            jobs[jid] = {
                "job": jid, "tags": tags, "submitted": ev.get("Submission Time", 0) / 1e3,
                "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
            }
            for sid in ev.get("Stage IDs", ()):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID")))
            m = ev.get("Task Metrics")
            if job is None or not m:
                continue
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            job["tasks"] += 1
            job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            job["shuffle_bytes"] += (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                                     + wr.get("Shuffle Bytes Written", 0))
            job["spill_bytes"] += m.get("Memory Bytes Spilled", 0)
    return list(jobs.values())


def find_event_log(log_dir: str) -> str:
    logs = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    if not logs:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    return logs[-1]


def layer_metrics(spans: List[dict], jobs: List[dict], n_passes: int = 1) -> Dict[str, float]:
    """Aggregate spans and attributed jobs into ``<layer>.<counter>``.

    Set-up spans (pass -1) count once, the spans of the timed passes per
    pass: their sum over ``n_passes``."""
    by_id = {sp["id"]: sp for sp in spans}
    selfs = self_times(spans)
    acc = {layer: {"busy_s": 0.0, "jobs": 0, "tasks": 0, "cpu_s": 0.0, "construct_s": 0.0,
                   "gc_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0} for layer in LAYERS}
    weight = {sp["id"]: 1.0 if sp["pass"] < 0 else 1.0 / n_passes for sp in spans}
    for sp in spans:
        a = acc.get(sp["layer"])
        if a is not None:
            a["busy_s"] += selfs[sp["id"]] * weight[sp["id"]]
            a["construct_s"] += sp.get("construct_s", 0.0) * weight[sp["id"]]
    for job in jobs:
        ids = [int(t[len(TAG_PREFIX):]) for t in job["tags"]
               if t.startswith(TAG_PREFIX) and t[len(TAG_PREFIX):].isdigit()]
        ids = [i for i in ids if i in by_id]
        if ids:
            owner = by_id[max(ids)]  # innermost: children open after parents
        else:
            # threads a span did not open (DAG workers inside an operator)
            # do not carry its tags: charge the newest span open at submit
            t = job.get("submitted", 0)
            open_spans = [sp for sp in spans if "wall_start" in sp
                          and sp["wall_start"] <= t <= sp.get("wall_end", t)]
            if not open_spans:
                continue
            owner = max(open_spans, key=lambda sp: sp["wall_start"])
        a, w = acc.get(owner["layer"]), weight[owner["id"]]
        if a is None:
            continue
        a["jobs"] += w
        a["tasks"] += job["tasks"] * w
        a["cpu_s"] += job["cpu_s"] * w
        a["gc_s"] += job["gc_s"] * w
        a["shuffle_mb"] += job["shuffle_bytes"] / 2**20 * w
        a["spill_mb"] += job["spill_bytes"] / 2**20 * w
    out = {}
    for layer, a in acc.items():
        for key, value in a.items():
            out[f"{layer}.{key}"] = value
    return out


def dag_metrics(steps: List[dict], pipeline_spans: List[dict]) -> Dict[str, float]:
    """``plans.dag.wait_s`` and ``plans.pipeline.overhead_s`` from step spans.

    Each step span carries ``step`` (its name), ``deps`` (names of the
    steps it waits for) and ``run`` (the id of the pipeline span).  A
    step is ready when the pipeline started and its deps ended; its wait
    is its start minus that.  Overhead is the pipeline's wall time minus
    the critical path through the step durations.
    """
    wait = overhead = 0.0
    for pipe in pipeline_spans:
        mine = {sp["step"]: sp for sp in steps if sp.get("run") == pipe["id"]}
        if not mine:
            continue
        crit: Dict[str, float] = {}

        def path(name: str) -> float:
            if name not in crit:
                sp = mine[name]
                crit[name] = (sp["end"] - sp["start"]) + max(
                    (path(d) for d in sp["deps"] if d in mine), default=0.0)
            return crit[name]

        for name, sp in mine.items():
            ready = max([pipe["start"]] + [mine[d]["end"] for d in sp["deps"] if d in mine])
            wait += max(0.0, sp["start"] - ready)
        overhead += (pipe["end"] - pipe["start"]) - max(path(n) for n in mine)
    return {"plans.dag.wait_s": wait, "plans.pipeline.overhead_s": overhead}
