"""Seeded input generators for the three workloads.

Every generator takes a ``numpy.random.Generator`` built from the
``--seed`` argument and writes parquet with pyarrow, so the same seed
gives byte-identical inputs and the library only ever sees the files.
Row counts are fixed per workload; only values depend on the seed, so
run-to-run work stays the same across seeds.
"""

from __future__ import annotations

import decimal
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_1992_US = 694224000 * 1_000_000  # 1992-01-01T00:00:00Z in microseconds
WORDS = (
    "spark batch part line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "vector customer the a index file shard token model text train eval loss "
    "graph edge node"
).split()


def write_parquet(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


def zipf_keys(rng: np.random.Generator, n_keys: int, size: int, a: float) -> np.ndarray:
    """Keys in [0, n_keys) with Zipf(a) skew over a seeded key permutation."""
    ranks = np.arange(1, n_keys + 1, dtype=np.float64)
    p = ranks ** -a
    p /= p.sum()
    return rng.permutation(n_keys)[rng.choice(n_keys, size=size, p=p)]


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


# ---------------------------------------------------------------- dq_suite


@dataclass(frozen=True)
class DqShape:
    n_orders: int = 6_000
    n_users: int = 1_000
    n_events: int = 8_000
    update_rate: float = 0.05
    insert_rate: float = 0.02
    delete_rate: float = 0.02
    orphan_rate: float = 0.005
    duplicate_rate: float = 0.02
    tie_rate: float = 0.03
    event_key_skew: float = 1.1
    rule_violation_rate: float = 0.01


def gen_dq(root: str, seed: int, shape: DqShape = DqShape()) -> dict:
    """TPC-H-like customer/orders/lineitem/part, a changed orders copy
    and an events table; returns ``{table: (rows, bytes)}``."""
    rng = np.random.default_rng([seed, 1])
    s = shape
    n_c, n_o, n_p = s.n_orders // 10, s.n_orders, max(s.n_orders // 8, 100)
    sizes = {}

    def put(name, table):
        sizes[name] = (table.num_rows, write_parquet(table, os.path.join(root, f"{name}.parquet")))

    custkey = np.arange(1, n_c + 1)
    put("customer", pa.table({
        "c_custkey": custkey,
        "c_name": [f"Customer#{k:09d}" for k in custkey],
        "c_nationkey": rng.integers(0, 25, n_c).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_c),
    }))

    partkey = np.arange(1, n_p + 1)
    put("part", pa.table({
        "p_partkey": partkey,
        "p_name": [f"part {k}" for k in partkey],
        "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_p)],
        "p_size": rng.integers(1, 51, n_p).astype("int32"),
        "p_retailprice": np.round(rng.uniform(900, 2100, n_p), 2),
    }))

    orderkey = np.arange(1, n_o + 1)
    orders = {
        "o_orderkey": orderkey,
        "o_custkey": rng.integers(1, n_c + 1, n_o),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_o), 2),
        "o_orderdate": EPOCH_1992_US + rng.integers(0, 2400, n_o) * 86_400_000_000,
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o),
    }
    put("orders", pa.table({k: (_ts(v) if k == "o_orderdate" else v) for k, v in orders.items()}))

    # the diff copy: seeded update / insert / delete rates
    keep = rng.random(n_o) >= s.delete_rate
    v2 = {k: np.asarray(v)[keep].copy() for k, v in orders.items()}
    upd = rng.random(len(v2["o_orderkey"])) < s.update_rate
    v2["o_totalprice"][upd] = np.round(v2["o_totalprice"][upd] + 1.0, 2)
    n_ins = int(n_o * s.insert_rate)
    ins = {
        "o_orderkey": np.arange(n_o + 1, n_o + n_ins + 1),
        "o_custkey": rng.integers(1, n_c + 1, n_ins),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ins),
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_ins), 2),
        "o_orderdate": EPOCH_1992_US + rng.integers(0, 2400, n_ins) * 86_400_000_000,
        "o_orderpriority": rng.choice(["1-URGENT", "5-LOW"], n_ins),
    }
    v2 = {k: np.concatenate([v2[k], ins[k]]) for k in v2}
    put("orders_v2", pa.table({k: (_ts(v) if k == "o_orderdate" else v) for k, v in v2.items()}))

    lines_per = rng.integers(1, 8, n_o)
    l_orderkey = np.repeat(orderkey, lines_per)
    n_l = len(l_orderkey)
    l_linenumber = (np.arange(n_l) - np.repeat(np.cumsum(lines_per) - lines_per, lines_per) + 1).astype("int32")
    orphan = rng.random(n_l) < s.orphan_rate
    l_orderkey = np.where(orphan, l_orderkey + 100_000_000, l_orderkey)  # keeps (key, line) unique
    qty = rng.integers(1, 51, n_l).astype("float64")
    price = np.round(qty * rng.uniform(900, 2100, n_l), 2)
    disc = np.round(rng.integers(0, 11, n_l) / 100.0, 2)
    bad = rng.random(n_l)
    qty = np.where(bad < s.rule_violation_rate, -qty, qty)
    disc_arr = pa.array(disc, mask=(bad >= s.rule_violation_rate) & (bad < 1.5 * s.rule_violation_rate))
    flag = rng.choice(["A", "N", "R"], n_l)
    flag = np.where((bad >= 1.5 * s.rule_violation_rate) & (bad < 2 * s.rule_violation_rate), "X", flag)
    put("lineitem", pa.table({
        "l_orderkey": l_orderkey,
        "l_partkey": rng.integers(1, n_p + 1, n_l),
        "l_suppkey": rng.integers(1, max(n_p // 20, 10) + 1, n_l),
        "l_linenumber": l_linenumber,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc_arr,
        "l_returnflag": flag,
        "l_shipdate": _ts(EPOCH_1992_US + rng.integers(0, 2500, n_l) * 86_400_000_000),
    }))

    # events: Zipf user skew, exact duplicate rows, and tied newest timestamps
    n_e = s.n_events
    ev = {
        "event_id": np.arange(1, n_e + 1),
        "user_id": zipf_keys(rng, s.n_users, n_e, s.event_key_skew).astype("int64") + 1,
        "ts": EPOCH_1992_US + rng.integers(0, 30 * 86_400, n_e) * 1_000_000,
        "event_type": rng.choice(["view", "click", "buy"], n_e),
        "value": np.round(rng.uniform(0, 100, n_e), 2),
    }
    dup = np.flatnonzero(rng.random(n_e) < s.duplicate_rate)
    order = np.lexsort((ev["ts"], ev["user_id"]))
    last = order[np.r_[ev["user_id"][order][1:] != ev["user_id"][order][:-1], True]]
    tied = last[rng.random(len(last)) < s.tie_rate]
    tie_rows = {k: v[tied].copy() for k, v in ev.items()}
    tie_rows["event_id"] = np.arange(n_e + 1, n_e + len(tied) + 1)
    tie_rows["value"] = tie_rows["value"] + 1.0
    ev = {k: np.concatenate([v, v[dup], tie_rows[k]]) for k, v in ev.items()}
    ev["ts"] = _ts(ev["ts"])
    put("events", pa.table(ev))
    return sizes


# ------------------------------------------------------------- llm_corpus


@dataclass(frozen=True)
class CorpusShape:
    n_docs: int = 600
    copies: int = 1
    near_dup_rate: float = 0.05
    n_vectors: int = 800
    dim: int = 64
    n_queries: int = 50
    vector_dup_rate: float = 0.03


def _caesar(text: str, shift: int) -> str:
    return "".join(
        chr((ord(ch) - 97 + shift) % 26 + 97) if "a" <= ch <= "z" else ch for ch in text
    )


def gen_corpus(root: str, seed: int, shape: CorpusShape = CorpusShape()) -> dict:
    """Documents (base docs plus Caesar-shifted copies and seeded
    near-duplicates) and clustered embeddings with planted near-dups."""
    rng = np.random.default_rng([seed, 2])
    s = shape
    texts = []
    for _ in range(s.n_docs):
        texts.append(" ".join(rng.choice(WORDS, int(rng.integers(30, 70)))))
    # near-dup injection: one word of a base doc replaced
    near = np.flatnonzero(rng.random(s.n_docs) < s.near_dup_rate)
    for i in near:
        words = texts[i].split()
        words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
        texts.append(" ".join(words))
    base_n = len(texts)
    doc_id, text = [], []
    for c in range(s.copies):
        doc_id.extend(range(c * 1_000_000, c * 1_000_000 + base_n))
        text.extend(_caesar(t, c) for t in texts)
    sizes = {}
    docs = pa.table({
        "doc_id": np.asarray(doc_id, dtype="int64"),
        "text": text,
        "lang": rng.choice(["en", "de", "fr"], len(text)),
        "n_chars": np.asarray([len(t) for t in text], dtype="int64"),
    })
    sizes["documents"] = (docs.num_rows, write_parquet(docs, os.path.join(root, "documents.parquet")))

    centers = rng.normal(size=(10, s.dim))
    label = rng.integers(0, 10, s.n_vectors)
    vec = centers[label] + 0.6 * rng.normal(size=(s.n_vectors, s.dim))
    dup = np.flatnonzero(rng.random(s.n_vectors) < s.vector_dup_rate)
    src = rng.integers(0, s.n_vectors, len(dup))
    vec[dup] = vec[src] + 0.01 * rng.normal(size=(len(dup), s.dim))
    vec = vec.astype("float32")
    emb = pa.table({
        "vec_id": np.arange(s.n_vectors, dtype="int64"),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": label.astype("int32"),
    })
    sizes["embeddings"] = (emb.num_rows, write_parquet(emb, os.path.join(root, "embeddings.parquet")))
    qi = rng.choice(s.n_vectors, s.n_queries, replace=False)
    queries = pa.table({
        "query_id": np.arange(s.n_queries, dtype="int64"),
        "embedding": pa.array(list((vec[qi] + 0.05 * rng.normal(size=(s.n_queries, s.dim))).astype("float32")),
                              type=pa.list_(pa.float32())),
    })
    sizes["queries"] = (queries.num_rows, write_parquet(queries, os.path.join(root, "queries.parquet")))
    return sizes


# ------------------------------------------------------------- cdc_ingest


@dataclass(frozen=True)
class CdcShape:
    n_customers: int = 8_000
    n_batches: int = 2
    changes_per_batch: int = 800
    insert_share: float = 0.2
    delete_share: float = 0.1
    key_skew: float = 1.2
    events_per_batch: int = 1_500
    n_users: int = 500


CDC_SCHEMA = pa.schema([
    ("c_custkey", pa.int64()),
    ("c_name", pa.string()),
    ("acctbal", pa.decimal128(12, 2)),
    ("op", pa.string()),
    ("ver", pa.int32()),
])


def _acct(rng, n):
    cents = rng.integers(-99_999, 999_999, n)
    return [decimal.Decimal(int(c)).scaleb(-2) for c in cents]


def gen_cdc(root: str, seed: int, shape: CdcShape = CdcShape()) -> dict:
    """A base customer snapshot and ``n_batches`` change batches (held
    back in ``pending/`` until the workload lands them), plus one events
    file per batch.  Updates and deletes pick live keys with Zipf skew;
    inserts take fresh keys."""
    rng = np.random.default_rng([seed, 3])
    s = shape
    os.makedirs(os.path.join(root, "pending"), exist_ok=True)
    keys = np.arange(1, s.n_customers + 1)
    base = pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "acctbal": pa.array(_acct(rng, s.n_customers), type=pa.decimal128(12, 2)),
    })
    sizes = {"customer_base": (base.num_rows, write_parquet(base, os.path.join(root, "customer_base.parquet")))}
    live = list(keys)
    next_key = s.n_customers + 1
    ver = 1
    change_rows = event_rows = change_bytes = event_bytes = 0
    for b in range(s.n_batches):
        n = s.changes_per_batch
        kind = rng.random(n)
        hot = np.asarray(live)[zipf_keys(rng, len(live), n, s.key_skew)]
        rows = {"c_custkey": [], "c_name": [], "op": []}
        deleted = set()
        for i in range(n):
            if kind[i] < s.insert_share:
                k, op = next_key, "I"
                next_key += 1
            else:
                k = int(hot[i])
                if k in deleted:
                    continue  # a deleted key stays deleted within its batch
                op = "D" if kind[i] < s.insert_share + s.delete_share else "U"
                if op == "D":
                    deleted.add(k)
            rows["c_custkey"].append(k)
            rows["c_name"].append(f"Customer#{k:09d}/v{ver}")
            rows["op"].append(op)
        m = len(rows["op"])
        batch = pa.table({
            "c_custkey": pa.array(rows["c_custkey"], type=pa.int64()),
            "c_name": rows["c_name"],
            "acctbal": pa.array(_acct(rng, m), type=pa.decimal128(12, 2)),
            "op": rows["op"],
            "ver": pa.array(np.arange(ver, ver + m), type=pa.int32()),
        }, schema=CDC_SCHEMA)
        ver += m
        change_rows += m
        change_bytes += write_parquet(batch, os.path.join(root, "pending", f"changes_{b:04d}.parquet"))
        inserted = [k for k, o in zip(rows["c_custkey"], rows["op"]) if o == "I"]
        live = [k for k in live if k not in deleted] + [k for k in inserted if k not in deleted]
        ne = s.events_per_batch
        events = pa.table({
            "user_id": zipf_keys(rng, s.n_users, ne, 1.0).astype("int64"),
            "ts": _ts(EPOCH_1992_US + (b * 86_400 + np.sort(rng.integers(0, 86_400, ne))) * 1_000_000),
            "value": np.round(rng.uniform(0, 10, ne), 2),
        })
        event_rows += ne
        event_bytes += write_parquet(events, os.path.join(root, "pending", f"events_{b:04d}.parquet"))
    sizes["changes"] = (change_rows, change_bytes)
    sizes["events"] = (event_rows, event_bytes)
    return sizes
