"""cdc_ingest: seeded CDC batches land one at a time; writes beside reads.

Per pass the snapshot starts again from the base table.  Per batch the
client lands one change file and runs one ``SparkPipeline``:

- ``feed`` exposes the landing directory as a stream;
- ``apply`` (``step_spark_for_each_batch``, trigger availableNow) merges
  the batch with ``cdc_merge_sink_partitioned`` into the bucketed
  snapshot, appends the batch to a change log and extends the log's
  zonemap and Bloom sidecars with ``append_zonemap``/``append_bloom``;
- ``sessions`` runs ``sessionize`` over the batch's events, concurrently;
- ``state`` records the batch's counts with ``CatalogPersistedStateStore``
  ``save`` then ``load``.

A batch's latency runs from landing the file to the batch being visible
through ``read_snapshot``.  Between batches the client runs point
lookups (``read_snapshot`` of one bucket, ``read_indexed`` of the log)
and a range lookup (``read_indexed``).  Every snapshot, lookup and
session set is checked against DuckDB over the landed files.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.harness import NPROC, dir_bytes, expect, fresh_dir

SHAPE = gen.CdcShape()
N_BUCKETS = 8
KEYS = ["c_custkey"]
COLUMNS = ["c_custkey", "c_name", "acctbal"]
LOG_DDL = "c_custkey bigint, c_name string, acctbal decimal(12,2), op string, ver int"
GAP = "30 minutes"
LOOKUPS_PER_BATCH = 1


def generate(root: str, seed: int) -> dict:
    return gen.gen_cdc(root, seed, SHAPE)


def load(spark, root: str, tracer) -> dict:
    from bdq_spark.sources.testdata import load_table

    with tracer.span("sources.testdata", "load_table", -1):
        base = load_table(spark, root, "customer_base")
    return {"root": root, "base": base, "tracer": tracer}


def _batches(root):
    return sorted(glob.glob(os.path.join(root, "pending", "changes_*.parquet")))


def oracle(root: str) -> dict:
    """Expected snapshot, sessions and lookups after every batch."""
    con = duckdb.connect()
    base = os.path.join(root, "customer_base.parquet")
    changes = _batches(root)
    rng = np.random.default_rng(len(changes))
    exp = {"snapshots": [], "sessions": [], "points": [], "ranges": [], "live_bytes": 0}
    for b in range(len(changes)):
        files = ", ".join(f"'{f}'" for f in changes[: b + 1])
        snap = con.execute(f"""
            WITH ch AS (SELECT * FROM read_parquet([{files}])),
                 l AS (SELECT * FROM ch QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY ver DESC) = 1)
            SELECT c_custkey, c_name, acctbal FROM read_parquet('{base}')
              WHERE c_custkey NOT IN (SELECT c_custkey FROM l)
            UNION ALL SELECT c_custkey, c_name, acctbal FROM l WHERE op <> 'D'
            ORDER BY c_custkey""").fetchall()
        exp["snapshots"].append(snap)
        ev = os.path.join(root, "pending", f"events_{b:04d}.parquet")
        exp["sessions"].append(sorted(con.execute(f"""
            WITH o AS (SELECT user_id, ts,
                         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL {GAP}
                                OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                              THEN 1 ELSE 0 END AS new_session FROM read_parquet('{ev}')),
                 s AS (SELECT user_id, ts, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid FROM o)
            SELECT user_id, epoch_ms(min(ts)), count(*) FROM s GROUP BY user_id, sid""").fetchall()))
        # lookups: keys touched by this batch (hot keys dominate, as the skew does)
        touched = [r[0] for r in con.execute(
            f"SELECT DISTINCT c_custkey FROM read_parquet('{changes[b]}') ORDER BY 1").fetchall()]
        keys = [int(k) for k in rng.choice(touched, LOOKUPS_PER_BATCH, replace=False)]
        live = {r[0]: r for r in snap}
        points = []
        for k in keys:
            hist = con.execute(f"""
                SELECT ver FROM read_parquet([{files}]) WHERE c_custkey = {k} ORDER BY ver""").fetchall()
            points.append((k, live.get(k), [h[0] for h in hist]))
        exp["points"].append(points)
        lo = con.execute(f"SELECT min(ver) FROM read_parquet('{changes[b]}')").fetchone()[0]
        exp["ranges"].append(((lo, lo + 99), con.execute(
            f"SELECT count(*) FROM read_parquet([{files}]) WHERE ver BETWEEN {lo} AND {lo + 99}").fetchone()[0]))
    last = pa.table({"c_custkey": [r[0] for r in exp["snapshots"][-1]],
                     "c_name": [r[1] for r in exp["snapshots"][-1]],
                     "acctbal": pa.array([r[2] for r in exp["snapshots"][-1]], type=pa.decimal128(12, 2))})
    live_path = os.path.join(root, "live_rows.parquet")
    pq.write_table(last, live_path)
    exp["live_bytes"] = os.path.getsize(live_path)
    con.close()
    return exp


def references(spark, state: dict, exp: dict) -> None:
    """Bucket of every lookup key, as the sink routes rows (untimed)."""
    from pyspark.sql import functions as F

    keys = sorted({k for pts in exp["points"] for k, _, _ in pts})
    state["lookup_keys"] = keys
    rows = spark.createDataFrame([(k,) for k in keys], "c_custkey bigint").select(
        "c_custkey", F.pmod(F.xxhash64("c_custkey"), F.lit(N_BUCKETS)).alias("b")).collect()
    exp["bucket"] = {r[0]: r[1] for r in rows}


def _files(path):
    return {os.path.join(d, n) for d, _, ns in os.walk(path) for n in ns if n.endswith(".parquet")}


def run_pass(p, spark, state: dict, exp: dict) -> None:
    from pyspark.sql import functions as F

    from bdq_spark.plans import CatalogPersistedStateStore, SparkPipeline
    from bdq_spark.plans.pipeline import step_python, step_spark_for_each_batch, step_spark_temp_view
    from bdq_spark.sources.sinks import append_bloom, append_zonemap, read_indexed, write_bloom_index, write_zonemap
    from bdq_spark.streaming import cdc_merge_sink_partitioned, init_snapshot, read_snapshot, sessionize

    tracer = state["tracer"]
    root = state["root"]
    run_dir = fresh_dir(os.path.join(root, "pass"))
    snap, log, feed = (os.path.join(run_dir, d) for d in ("snapshot", "log", "feed"))
    os.makedirs(feed)
    base = state["base"]

    def init():
        init_snapshot(spark, snap, base, KEYS, num_buckets=N_BUCKETS)
        write_zonemap(spark, base.select(*COLUMNS, F.lit("I").alias("op"), F.lit(0).alias("ver")),
                      log, ["ver", "c_custkey"], num_files=NPROC)
        write_bloom_index(spark, log, ["c_custkey"], bits=1 << 15)

    p.op("init_snapshot", "streaming.cdc_sink", init)
    merge = cdc_merge_sink_partitioned(spark, snap, KEYS, ["ver"], columns=COLUMNS, num_buckets=N_BUCKETS)
    db = f"perfbench_p{max(p.pass_id, 0)}"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    store = CatalogPersistedStateStore(
        catalog_name=None, database_name=db, table_name=f"batches_{int(time.time() * 1e6)}",
        schema="pipeline_name string, start_ts timestamp, metrics string",
        event_ts_column="start_ts", json_encoded_columns=["metrics"], spark=spark)

    ppn = SparkPipeline(f"cdc_pass{p.pass_id}", spark=spark)
    ppn.spark_streaming_checkpoint_location = os.path.join(run_dir, "checkpoints")
    cur = {}  # the batch being applied, read by the step functions
    written = {"bytes": 0, "files": 0, "rewritten": 0}

    def step_span(step, deps):
        return tracer.span("plans.pipeline", f"step:{step}", p.pass_id, parent=cur.get("span"),
                           step=step, deps=deps, run=cur.get("span"))

    @step_spark_temp_view(ppn, outputs=["cdc_feed"])
    def feed_view(step):
        with step_span("feed_view", []):
            return spark.readStream.schema(LOG_DDL).parquet(feed)

    @step_spark_for_each_batch(ppn, input_table="cdc_feed", depends_on=[feed_view], outputs=[],
                               trigger_availableNow=True)
    def apply(df, batch_id, relative_batch_id, step):
        with step_span("apply", ["feed_view"]):
            df = df.persist()
            before = _files(snap)
            with tracer.span("streaming.cdc_sink", "cdc_merge_sink_partitioned", p.pass_id):
                merge(df, batch_id)
            written["rewritten"] += len(_files(snap) - before)
            with tracer.span("sources.sinks", "append_log", p.pass_id):
                old = _files(log)
                bytes_before = dir_bytes(log)
                df.write.mode("append").parquet(log)
                new = sorted(_files(log) - old)
                append_zonemap(spark, log, new, schema_ddl=LOG_DDL)
                append_bloom(spark, log, new, schema_ddl=LOG_DDL)
                after = dir_bytes(log)
                written["bytes"] += after[0] - bytes_before[0]
                written["files"] += after[1] - bytes_before[1]
            cur["changes"] = df.count()
            df.unpersist()

    @step_python(ppn, outputs=[])
    def sessions(step):
        with step_span("sessions", []):
            with tracer.span("streaming.stateful", "sessionize", p.pass_id):
                events = spark.read.parquet(cur["events"])
                cur["sessions"] = sorted(
                    (r[0], r[1], r[2]) for r in sessionize(events, "user_id", "ts", gap=GAP)
                    .select("user_id", "session_start_ms", "n_events").collect())

    @step_python(ppn, outputs=[], depends_on=[apply, sessions])
    def state_step(step):
        from datetime import datetime, timedelta

        with step_span("state_step", ["apply", "sessions"]):
            with tracer.span("plans.statestore", "save_load", p.pass_id):
                store.save({"pipeline_name": ppn.name,
                            "start_ts": datetime(2024, 1, 1) + timedelta(seconds=cur["batch"]),
                            "metrics": {"batch": cur["batch"], "changes": cur["changes"],
                                        "sessions": len(cur["sessions"])}})
                cur["loaded"] = store.load()

    changes = _batches(root)
    for b, change_file in enumerate(changes):
        cur.clear()
        cur.update(batch=b, events=os.path.join(root, "pending", f"events_{b:04d}.parquet"))

        def run_batch():
            t0 = time.perf_counter()
            shutil.copy(change_file, os.path.join(feed, os.path.basename(change_file)))
            with tracer.span("plans.pipeline", f"batch{b}", p.pass_id) as sp:
                cur["span"] = sp["id"] if sp else None
                ppn(max_concurrent_steps=NPROC)
            snapshot = sorted(tuple(r) for r in read_snapshot(spark, snap).collect())
            return time.perf_counter() - t0, snapshot

        def check_batch(out):
            expect(ppn.is_success, f"pipeline failed: {[str(s.exception) for s in ppn.error_steps.values()]}")
            expect(out[1] == exp["snapshots"][b], f"snapshot after batch {b} differs")
            expect(cur["sessions"] == exp["sessions"][b], f"sessions of batch {b} differ")
            m = cur["loaded"]["metrics"]
            expect(m["batch"] == b and m["changes"] > 0, f"state store returned {m}")
            p.run.note("batch_s", out[0])

        p.op("batch", "plans.pipeline", run_batch, check=check_batch)

        for k, live, hist in exp["points"][b]:
            p.op("point_snapshot", "streaming.cdc_sink",
                 lambda: read_snapshot(spark, snap, buckets=[exp["bucket"][k]]).filter(F.col("c_custkey") == k),
                 lambda df: [tuple(r) for r in df.collect()],
                 check=lambda rows, live=live: expect(rows == ([live] if live else []), "point lookup differs"))
            p.op("point_log", "sources.sinks",
                 lambda: read_indexed(spark, log, equals={"c_custkey": k}, schema_ddl=LOG_DDL),
                 lambda df: sorted(r["ver"] for r in df.collect() if r["ver"] > 0),
                 check=lambda vers, hist=hist: expect(vers == hist, "log history lookup differs"))
        (lo, hi), n = exp["ranges"][b]
        p.op("range_log", "sources.sinks",
             lambda: read_indexed(spark, log, ranges={"ver": (lo, hi)}, schema_ddl=LOG_DDL),
             lambda df: df.filter(F.col("ver").between(lo, hi)).count(),
             check=lambda got, n=n: expect(got == n, f"range lookup {got} != {n}"))

    state["log"] = log  # kept for finish(); the next pass starts a fresh directory
    p.run.note("space_amp", (dir_bytes(snap)[0] + dir_bytes(log)[0]) / exp["live_bytes"])
    p.run.note("bytes_written", written["bytes"])
    p.run.note("files_written", written["files"])
    p.run.note("files_rewritten", written["rewritten"] / len(changes))


def _note_lookup_yield(run, spark, log, keys) -> None:
    """Files the point lookups scanned that held a match, per file scanned."""
    from pyspark.sql import functions as F

    from bdq_spark.sources.sinks import indexed_candidate_files

    scanned = matched = 0
    for k in keys:
        files = indexed_candidate_files(spark, log, equals={"c_custkey": k})["files"]
        scanned += len(files)
        if files:
            matched += spark.read.schema(LOG_DDL).parquet(*files).filter(F.col("c_custkey") == k) \
                .select(F.input_file_name()).distinct().count()
    run.note("lookup_yield", matched / max(scanned, 1))


def finish(run, spark, state, tracer) -> dict:
    if tracer.enabled and "log" in state:
        _note_lookup_yield(run, spark, state["log"], state["lookup_keys"])
    batch = run.extra.get("batch_s", [])
    lookups = [x for k in ("point_snapshot", "point_log", "range_log") for x in run.latencies.get(k, [])]
    out = {"workload": {}, "layer": {}}
    if batch:
        from perfbench.harness import tail

        out["workload"]["batch_p50_s"] = statistics.median(batch)
        out["workload"]["batch_tail_s"] = tail(batch)[1]
    if lookups:
        out["workload"]["lookup_p50_s"] = statistics.median(lookups)
    if run.extra.get("space_amp"):
        out["workload"]["space_amp"] = statistics.median(run.extra["space_amp"])
        out["layer"] = {
            "sources.sinks.bytes_written": statistics.median(run.extra["bytes_written"]),
            "sources.sinks.files_written": statistics.median(run.extra["files_written"]),
            "streaming.cdc_sink.files_rewritten": statistics.median(run.extra["files_rewritten"]),
        }
    if run.extra.get("lookup_yield"):
        out["layer"]["sources.sinks.lookup_yield"] = statistics.median(run.extra["lookup_yield"])
    return out
