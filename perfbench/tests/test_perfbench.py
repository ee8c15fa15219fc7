"""Tests of the benchmark's own machinery (no Spark session needed).

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import gen, harness, tracing  # noqa: E402
from perfbench import llm_corpus  # noqa: E402


def _run():
    return harness.Run(tracing.Tracer())


def test_wrong_output_counts_as_failed_operation():
    run = _run()
    p = harness.Pass(run, 0)
    p.op("good", "schema", lambda: [1, 2, 3], check=lambda out: harness.expect(out == [1, 2, 3], "x"))
    p.op("corrupted", "schema", lambda: [1, 2, 4], check=lambda out: harness.expect(out == [1, 2, 3], "x"))
    p.op("raises", "schema", lambda: 1 / 0)
    assert (run.attempted, run.failed) == (3, 2)
    assert list(run.latencies) == ["good"]
    assert run.failures[0].startswith("corrupted: perfbench.harness.OutputMismatch")


def test_corrupted_components_result_is_rejected():
    pairs = [(1, 2), (2, 3), (7, 8)]
    check = llm_corpus._check_components(pairs)
    good = [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]
    check(good)
    corrupted = [(1, 1), (2, 1), (3, 3), (7, 7), (8, 7)]
    with pytest.raises(harness.OutputMismatch):
        check(corrupted)
    run = _run()
    harness.Pass(run, 0).op("connected_components", "operators.components", lambda: corrupted, check=check)
    assert run.failed == 1


def test_corrupted_surrogate_key_is_rejected():
    from perfbench import dq_suite

    s = ["[1, 1]", "[1, 2]"]
    h = [bytes.fromhex(hashlib.sha224(x.encode()).hexdigest()[:40]) for x in s]
    check = dq_suite._sk_check({"sk_strings": s})
    check({"s": s, "h": h})
    with pytest.raises(harness.OutputMismatch):
        check({"s": s, "h": [h[0], h[0]]})


def test_jaccard_reference_matches_brute_force():
    words = gen.WORDS
    docs = {i: [words[(i * 7 + j * 3) % len(words)] for j in range(12)] for i in range(30)}
    docs[100] = list(docs[3])
    docs[101] = docs[4][:-1] + ["zzz"]

    def sh(w):
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    brute = set()
    for a in docs:
        for b in docs:
            if a < b:
                x, y = sh(docs[a]), sh(docs[b])
                if len(x & y) / len(x | y) >= 0.8:
                    brute.add((a, b))
    assert llm_corpus.jaccard_pairs(docs, 0.8) == brute
    assert (3, 100) in brute


def test_union_find_partition():
    assign = llm_corpus.union_find([(5, 6), (6, 7), (1, 2)])
    assert llm_corpus.partition_of(assign) == {frozenset({5, 6, 7}), frozenset({1, 2})}


def test_corpus_reference_dedups_and_chunks():
    words = gen.WORDS
    a, dup, near, long_doc = [i for i in range(1, 200) if llm_corpus._train_side(i)][:4]
    base = [words[(i * 5) % len(words)] for i in range(30)]
    long_words = [words[(i * 7 + 3) % len(words)] for i in range(600)]
    texts = {a: " ".join(base), dup: " ".join(base),
             near: " ".join(base[:-1] + ["zzz"]), long_doc: " ".join(long_words)}
    doc_words = {d: t.split() for d, t in texts.items()}
    got = llm_corpus.corpus_chunks(texts, doc_words, llm_corpus.jaccard_pairs(doc_words, 0.8))
    assert got == [(a, 0, 30, texts[a]),
                   (long_doc, 0, 512, " ".join(long_words[:512])),
                   (long_doc, 1, 88, " ".join(long_words[512:]))]


def test_tail_picks_highest_percentile_with_ten_beyond():
    assert harness.tail(list(range(1, 10)))[0] == 0.5
    q, v = harness.tail([float(i) for i in range(1, 41)])
    assert (q, v) == (0.75, 30.0)
    q, v = harness.tail([float(i) for i in range(1, 101)])
    assert (q, v) == (0.9, 90.0)


def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0, "layer": "plans.pipeline"},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0, "layer": "streaming.cdc_sink"},
        {"id": 3, "parent": 1, "start": 3.0, "end": 6.0, "layer": "streaming.stateful"},
    ]
    st = tracing.self_times(spans)
    assert st == {1: 5.0, 2: 3.0, 3: 3.0}


def test_dag_wait_and_pipeline_overhead():
    pipe = {"id": 1, "start": 0.0, "end": 10.0}
    steps = [
        {"run": 1, "step": "a", "deps": [], "start": 0.5, "end": 3.0},
        {"run": 1, "step": "b", "deps": [], "start": 1.0, "end": 2.0},
        {"run": 1, "step": "c", "deps": ["a", "b"], "start": 4.0, "end": 9.0},
    ]
    m = tracing.dag_metrics(steps, [pipe])
    assert m["plans.dag.wait_s"] == pytest.approx(0.5 + 1.0 + 1.0)
    assert m["plans.pipeline.overhead_s"] == pytest.approx(10.0 - (2.5 + 5.0))


def _write_log(path, events):
    with open(path, "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")


def test_event_log_attribution(tmp_path):
    log = tmp_path / "app-1"
    _write_log(log, [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1], "Submission Time": 1000,
         "Properties": {"spark.job.tags": "pb1,pb2"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "JVM GC Time": 500, "Memory Bytes Spilled": 2**20,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 2**20},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {"Executor CPU Time": 10**9}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Submission Time": 5500,
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor CPU Time": 10**9}},
    ])
    jobs = tracing.parse_event_log(str(log))
    assert [j["tasks"] for j in jobs] == [2, 1]
    spans = [
        {"id": 1, "parent": None, "layer": "operators.pk", "start": 0.0, "end": 10.0,
         "wall_start": 0.0, "wall_end": 10.0, "construct_s": 4.0, "pass": 0},
        {"id": 2, "parent": 1, "layer": "operators.diff", "start": 1.0, "end": 2.0,
         "wall_start": 1.0, "wall_end": 2.0, "pass": 0},
    ]
    m = tracing.layer_metrics(spans, jobs)
    # job 0 carries both tags: the innermost span (diff) gets it
    assert (m["operators.diff.jobs"], m["operators.diff.tasks"]) == (1, 2)
    assert m["operators.diff.cpu_s"] == pytest.approx(3.0)
    assert m["operators.diff.gc_s"] == pytest.approx(0.5)
    assert m["operators.diff.shuffle_mb"] == pytest.approx(2.0)
    assert m["operators.diff.spill_mb"] == pytest.approx(1.0)
    # job 1 is untagged (a library thread) and submitted at t=5.5: pk is open
    assert (m["operators.pk.jobs"], m["operators.pk.construct_s"]) == (1, 4.0)
    assert m["operators.pk.busy_s"] == pytest.approx(9.0)


def test_setup_counts_once_and_passes_are_averaged(tmp_path):
    log = tmp_path / "app-1"
    _write_log(log, [
        {"Event": "SparkListenerJobStart", "Job ID": j, "Stage IDs": [j], "Submission Time": 0,
         "Properties": {"spark.job.tags": f"pb{j + 1}"}} for j in range(3)
    ] + [{"Event": "SparkListenerTaskEnd", "Stage ID": j, "Task Metrics": {"Executor CPU Time": 10**9}}
         for j in range(3)])
    spans = [
        {"id": 1, "parent": None, "layer": "sources.testdata", "start": 0.0, "end": 1.0, "pass": -1},
        {"id": 2, "parent": None, "layer": "operators.rules", "start": 1.0, "end": 3.0, "pass": 0},
        {"id": 3, "parent": None, "layer": "operators.rules", "start": 3.0, "end": 7.0, "pass": 1},
    ]
    m = tracing.layer_metrics(spans, tracing.parse_event_log(str(log)), n_passes=2)
    assert (m["sources.testdata.jobs"], m["sources.testdata.busy_s"]) == (1, 1.0)
    assert (m["operators.rules.jobs"], m["operators.rules.cpu_s"]) == (1, 1.0)
    assert m["operators.rules.busy_s"] == pytest.approx(3.0)


def test_metric_names_match_benchmark_json():
    from perfbench import run

    names = [n for n, _ in tracing.per_layer_catalog()]
    assert len(names) == len(set(names)) <= 128
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["per_layer"]] == names
    assert tuple(m["name"] for m in bench["end_to_end"]) == run.END_TO_END
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


def test_generators_are_seeded(tmp_path):
    shape = gen.DqShape(n_orders=500, n_users=50, n_events=500)
    a, b, c = (tmp_path / x for x in "abc")
    for d, seed in ((a, 1), (b, 1), (c, 2)):
        d.mkdir()
        gen.gen_dq(str(d), seed, shape)
    read = lambda d: (d / "lineitem.parquet").read_bytes()  # noqa: E731
    assert read(a) == read(b) != read(c)


def test_refuses_to_run_without_the_library(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dq_suite", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
