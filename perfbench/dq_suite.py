"""dq_suite: the reference's data-quality surface on generated TPC-H tables.

What a bdq user runs nightly: schema and data diffs, latest-record
extraction with conflict flags, referential integrity, primary-key
discovery, surrogate keys, rules and profiling.  Executor CPU and
shuffle dominate; no iterative loop, tokenizer or write path runs.
Every exact result is recomputed by DuckDB from the same parquet files.
"""

from __future__ import annotations

import hashlib
import itertools
import os

import duckdb

from perfbench import gen
from perfbench.harness import NPROC, expect

TABLES = ("customer", "orders", "orders_v2", "lineitem", "part", "events")
PK_COLUMNS = ("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_shipdate")
PK_COMBOS = [list(c) for c in itertools.combinations(PK_COLUMNS, 4)]
SK_COLUMNS = ["l_orderkey", "l_linenumber"]
RULES = (
    ("qty_positive", "l_quantity > 0"),
    ("discount_range", "l_discount BETWEEN 0 AND 0.1"),
    ("flag_known", "l_returnflag IN ('A', 'N', 'R')"),
    ("price_positive", "l_extendedprice > 0"),
)
PROFILE_COLUMNS = ["c_custkey", "c_nationkey", "c_mktsegment"]


def generate(root: str, seed: int) -> dict:
    return gen.gen_dq(root, seed)


def load(spark, root: str, tracer) -> dict:
    from bdq_spark.sources.testdata import load_table

    with tracer.span("sources.testdata", "load_table", -1):
        return {t: load_table(spark, root, t) for t in TABLES}


def oracle(root: str) -> dict:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(root, t)}.parquet')")
    q = lambda sql: con.execute(sql).fetchall()  # noqa: E731
    value_cols = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]
    differs = " OR ".join(f"a.{c} IS DISTINCT FROM b.{c}" for c in value_cols)
    exp = {}
    exp["diff_counts"] = {
        "added": q("SELECT count(*) FROM orders_v2 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM orders)")[0][0],
        "removed": q("SELECT count(*) FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM orders_v2)")[0][0],
        "changed": q(f"SELECT count(*) FROM orders a JOIN orders_v2 b USING (o_orderkey) WHERE {differs}")[0][0],
        "not_changed": q(f"SELECT count(*) FROM orders a JOIN orders_v2 b USING (o_orderkey) WHERE NOT ({differs})")[0][0],
    }
    exp["changed_keys"] = sorted(r[0] for r in q(
        f"SELECT o_orderkey FROM orders a JOIN orders_v2 b USING (o_orderkey) WHERE {differs}"))
    exp["latest"] = sorted(q("""
        WITH d AS (SELECT DISTINCT * FROM events),
             m AS (SELECT user_id, max(ts) AS mts FROM d GROUP BY user_id),
             k AS (SELECT d.* FROM d JOIN m ON d.user_id = m.user_id AND d.ts = m.mts)
        SELECT event_id, user_id, count(*) OVER (PARTITION BY user_id) > 1 FROM k"""))
    exp["broken"] = sorted(r[0] for r in q(
        "SELECT DISTINCT l_orderkey FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)"))
    n_lines = q("SELECT count(*) FROM lineitem")[0][0]
    exp["pk"] = sorted(
        tuple(c) for c in PK_COMBOS
        if q(f"SELECT count(DISTINCT ({', '.join(c)})) FROM lineitem "
             f"WHERE {' AND '.join(x + ' IS NOT NULL' for x in c)}")[0][0] == n_lines
    )
    exp["sk_strings"] = sorted(r[0] for r in q(
        "SELECT '[' || l_orderkey || ', ' || l_linenumber || ']' FROM lineitem"))
    viol = {name: f"sum(CASE WHEN coalesce({pred}, false) THEN 0 ELSE 1 END)" for name, pred in RULES}
    any_bad = " OR ".join(f"NOT coalesce({pred}, false)" for _, pred in RULES)
    row = q(f"SELECT count(*), sum(CASE WHEN {any_bad} THEN 1 ELSE 0 END), "
            f"{', '.join(viol.values())} FROM lineitem")[0]
    exp["rules"] = {"record_count": row[0], "failed_records": row[1],
                    "violations": dict(zip(viol, row[2:]))}
    exp["profile"] = {
        c: q(f"SELECT count(*), count(*) - count({c}), CAST(min({c}) AS VARCHAR), "
             f"CAST(max({c}) AS VARCHAR) FROM customer")[0]
        for c in PROFILE_COLUMNS
    }
    con.close()
    return exp


def references(spark, state: dict, exp: dict) -> None:
    """No Spark-side references: DuckDB recomputes everything."""


def finish(run, spark, state, tracer) -> dict:
    return {}


def _sk_check(exp):
    def check(pdf):
        strings = sorted(pdf["s"])
        expect(strings == exp["sk_strings"], "surrogate_key_string values differ")
        for s, h in zip(pdf["s"][:1000], pdf["h"][:1000]):
            want = bytes.fromhex(hashlib.sha224(s.encode()).hexdigest()[:40])
            expect(bytes(h) == want, f"surrogate_key_hash differs for {s}")
    return check


def _profile_check(exp):
    def check(rows):
        by_col = {r["column"]: r for r in rows}
        expect(set(by_col) == set(PROFILE_COLUMNS), "profile columns differ")
        for c, (n, nulls, lo, hi) in exp["profile"].items():
            r = by_col[c].asDict()
            got = (r["n_rows"], r["n_nulls"], r["min_value"], r["max_value"])
            expect(got == (n, nulls, lo, hi), f"profile of {c}: {got} != {(n, nulls, lo, hi)}")
    return check


def run_pass(p, spark, dfs: dict, exp: dict) -> None:
    from pyspark.sql import types as T

    from bdq_spark import compare_schemas, surrogate_key_hash, surrogate_key_string
    from bdq_spark.operators.diff import compare_dataframes
    from bdq_spark.operators.integrity import fact_dim_broken_relationship
    from bdq_spark.operators.latest import get_latest_records_with_pk_conflict_detection_flag
    from bdq_spark.operators.pk import validate_primary_key_candidate_combinations
    from bdq_spark.operators.profile import profile_table
    from bdq_spark.operators.rules import Rule, check_rules, quarantine_rules

    customer, orders, orders_v2, lineitem = (dfs[t] for t in ("customer", "orders", "orders_v2", "lineitem"))

    evolved = T.StructType(
        [f for f in customer.schema.fields if f.name != "c_mktsegment"]
        + [T.StructField("c_phone", T.StringType())]
    )
    evolved.fields[3] = T.StructField("c_acctbal", T.DecimalType(12, 2))
    p.op("compare_schemas", "schema", lambda: compare_schemas(customer.schema, evolved),
         check=lambda d: expect(
             set(d["added"]) == {"c_mktsegment"} and set(d["removed"]) == {"c_phone"}
             and set(d["changed"]) == {"c_acctbal"}, f"compare_schemas: {d}"))

    def diff_out(res):
        counts = {k: res[f"{k}_count"] for k in ("added", "removed", "changed", "not_changed")}
        return counts, sorted(r[0] for r in res["changed"].select("o_orderkey").collect())

    p.op("compare_dataframes", "operators.diff",
         lambda: compare_dataframes(orders, orders_v2, ["o_orderkey"]), diff_out,
         check=lambda out: expect(out == (exp["diff_counts"], exp["changed_keys"]),
                                  f"compare_dataframes counts {out[0]} != {exp['diff_counts']}"))

    p.op("latest_with_conflict_flag", "operators.latest",
         lambda: get_latest_records_with_pk_conflict_detection_flag(dfs["events"], ["user_id"], ["ts"]),
         lambda df: sorted(tuple(r) for r in df.select("event_id", "user_id", "__has_pk_conflict").collect()),
         check=lambda rows: expect(rows == exp["latest"], "latest records / conflict flags differ"))

    def broken_check(rows):
        expect(sorted(r["l_orderkey"] for r in rows) == exp["broken"], "broken FK set differs")
        expect(all(1 <= len(r["sample_records"]) <= 3 for r in rows), "sample_records size out of range")

    p.op("fact_dim_broken_relationship", "operators.integrity",
         lambda: fact_dim_broken_relationship(lineitem, ["l_orderkey"], orders, ["o_orderkey"], 3),
         lambda df: df.collect(), check=broken_check)

    p.op("validate_pk_combinations", "operators.pk",
         lambda: validate_primary_key_candidate_combinations(lineitem, PK_COMBOS, max_workers=NPROC),
         check=lambda got: expect(sorted(tuple(c) for c in got) == exp["pk"], f"pk combos {got}"))

    p.op("surrogate_keys", "functions.surrogate_keys",
         lambda: lineitem.select(surrogate_key_hash(SK_COLUMNS).alias("h"),
                                 surrogate_key_string(SK_COLUMNS).alias("s")),
         lambda df: df.toPandas(), check=_sk_check(exp))

    rules = [Rule(n, pred) for n, pred in RULES]
    p.op("check_rules", "operators.rules", lambda: check_rules(lineitem, rules),
         check=lambda got: expect(got == exp["rules"], f"check_rules {got} != {exp['rules']}"))

    p.op("quarantine_rules", "operators.rules", lambda: quarantine_rules(lineitem, rules),
         lambda res: (res[0].count(), res[1].count()),
         check=lambda got: expect(
             got == (exp["rules"]["record_count"] - exp["rules"]["failed_records"],
                     exp["rules"]["failed_records"]), f"quarantine split {got}"))

    p.op("profile_table", "operators.profile",
         lambda: profile_table(customer, PROFILE_COLUMNS), lambda df: df.collect(),
         check=_profile_check(exp))
