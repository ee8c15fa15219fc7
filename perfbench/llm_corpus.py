"""llm_corpus: LLM-data preparation on a seeded corpus.

Drives the serial-job-bound iterative operators (connected-components
rounds, BPE merge batches) plus corpus preparation, MinHash LSH,
packing and IVF search.  Per-row work is small; the job floor dominates.

Checks: MinHash LSH is held to a pair-recall floor against exact word
3-gram Jaccard pairs (``ngram_jaccard_pairs``'s definition) and IVF to a
recall@k floor against exact cosine top-k (``knn_bruteforce``'s
definition, cosine desc then id asc), both recomputed in Python/numpy.
Connected components is checked against a union-find over the same
pairs, cosine pairs against numpy, BPE encoding against the trained
segmentation, packing against its budget and coverage contract, and
``prepare_corpus`` against its chunks recomputed in Python (quality
gate, exact and near-dup dedup, md5 train/eval split, decontamination,
chunking).
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.harness import expect

NEAR_DUP = 0.8
LSH_RECALL_FLOOR = 0.8   # the planted-neighbour LSH floor of test_text_dedup.py
IVF_RECALL_FLOOR = 0.4   # the IVF recall floor of test_ivf.py
COSINE = 0.95
K = 10
BPE_MERGES = 16
PACK_BUDGET = 256
# prepare_corpus defaults the reference below recomputes
QUALITY = 0.5
EVAL_FRACTION = 0.2
CONTAMINATION = 0.8
MAX_TOKENS = 512
SPLIT_BUCKETS = 1_000_000


def generate(root: str, seed: int) -> dict:
    return gen.gen_corpus(root, seed)


def load(spark, root: str, tracer) -> dict:
    from bdq_spark.sources.testdata import load_table

    with tracer.span("sources.testdata", "load_table", -1):
        return {t: load_table(spark, root, t) for t in ("documents", "embeddings", "queries")}


def union_find(pairs) -> dict:
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def partition_of(assign: dict) -> set:
    groups: dict = {}
    for node, comp in assign.items():
        groups.setdefault(comp, set()).add(node)
    return {frozenset(g) for g in groups.values()}


def oracle(root: str) -> dict:
    emb = pq.read_table(os.path.join(root, "embeddings.parquet")).to_pydict()
    ids = np.asarray(emb["vec_id"])
    v = np.asarray(emb["embedding"], dtype=np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    sim = v @ v.T
    ii, jj = np.triu_indices(len(ids), 1)
    s = sim[ii, jj]
    q = pq.read_table(os.path.join(root, "queries.parquet")).to_pydict()
    qv = np.asarray(q["embedding"], dtype=np.float64)
    qv /= np.linalg.norm(qv, axis=1, keepdims=True)
    knn = set()
    for qid, row in zip(q["query_id"], qv @ v.T):
        top = np.lexsort((ids, -np.round(row, 6)))[:K]  # cosine desc, id asc
        knn.update((int(qid), int(ids[t])) for t in top)
    docs = pq.read_table(os.path.join(root, "documents.parquet"), columns=["doc_id", "text"]).to_pydict()
    doc_words = {d: t.split() for d, t in zip(docs["doc_id"], docs["text"])}
    jaccard = jaccard_pairs(doc_words, NEAR_DUP)
    return {
        "cos_sure": {(int(ids[i]), int(ids[j])) for i, j in zip(ii[s >= COSINE + 1e-4], jj[s >= COSINE + 1e-4])},
        "cos_maybe": {(int(ids[i]), int(ids[j])) for i, j in zip(ii[s >= COSINE - 1e-4], jj[s >= COSINE - 1e-4])},
        "doc_words": doc_words,
        "jaccard": jaccard,
        "chunks": corpus_chunks(dict(zip(docs["doc_id"], docs["text"])), doc_words, jaccard),
        "knn": knn,
    }


def jaccard_pairs(doc_words: dict, threshold: float, n: int = 3) -> set:
    """Exact word-``n``-gram Jaccard pairs, as ``ngram_jaccard_pairs``
    defines them: a pair at or above the threshold shares a shingle, so
    the inverted index yields every candidate."""
    sets = {}
    for d, w in doc_words.items():
        sets[d] = {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)} if len(w) >= n else {" ".join(w)}
    index: dict = {}
    for d, sh in sets.items():
        for x in sh:
            index.setdefault(x, []).append(d)
    cands = {(a, b) for docs in index.values() for a in docs for b in docs if a < b}
    out = set()
    for a, b in cands:
        inter = len(sets[a] & sets[b])
        if inter / (len(sets[a]) + len(sets[b]) - inter) >= threshold:
            out.add((a, b))
    return out


def _shingles(words, n: int = 3) -> set:
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)} if len(words) >= n else {" ".join(words)}


def _train_side(doc_id: int) -> bool:
    """``hash_split``'s train side: md5 bucket of the rendered id."""
    bucket = int(hashlib.md5(f"\x1f{doc_id}".encode()).hexdigest()[:8], 16) % SPLIT_BUCKETS
    return bucket < round((1 - EVAL_FRACTION) * SPLIT_BUCKETS)


def corpus_chunks(texts: dict, doc_words: dict, jaccard: set) -> list:
    """``prepare_corpus(near_dup_threshold=NEAR_DUP)`` with default
    settings, recomputed: sorted ``(doc_id, chunk_idx, n_chunk_tokens,
    chunk_text)`` of the surviving train documents.  The generated text
    is lowercase words and single spaces, so it is its own normalized
    form and scores at least 0.45 + 0.3 * min(chars / 500, 1) for
    quality without counting stopwords."""
    for d, t in texts.items():
        mean_len = len(t) / max(len(doc_words[d]), 1)
        if not (t.replace(" ", "").isalpha() and 2 <= mean_len <= 12
                and 0.45 + 0.3 * min(len(t) / 500, 1) >= QUALITY):
            raise ValueError(f"document {d} is outside what the prepare_corpus reference scores")
    keepers: dict = {}
    for d in sorted(texts):
        keepers.setdefault(texts[d], d)
    kept = set(keepers.values())
    clusters = union_find((a, b) for a, b in jaccard if a in kept and b in kept)
    kept = {d for d in kept if clusters.get(d, d) == d}  # union_find roots are cluster minima
    train = {d for d in kept if _train_side(d)}
    eval_shingles = set().union(*(_shingles(doc_words[d]) for d in kept - train))
    out = []
    for d in sorted(train):
        sh = _shingles(doc_words[d])
        if round(len(sh & eval_shingles) / len(sh), 6) >= CONTAMINATION:
            continue
        w = doc_words[d]
        for c in range(max(math.ceil(len(w) / MAX_TOKENS), 1)):
            part = w[c * MAX_TOKENS:(c + 1) * MAX_TOKENS]
            out.append((d, c, len(part), " ".join(part)))
    return out


def references(spark, state: dict, exp: dict) -> None:
    """No Spark-side references: the oracle recomputes everything."""


def _pairs(df):
    return sorted((r.id_a, r.id_b) for r in df.select("id_a", "id_b").collect())


def _check_components(pairs):
    want = partition_of(union_find(pairs))

    def check(rows):
        expect(partition_of({r[0]: r[1] for r in rows}) == want, "connected components differ from union-find")
    return check


def run_pass(p, spark, state: dict, exp: dict) -> None:
    from pyspark.sql import functions as F

    from bdq_spark.operators.components import connected_components
    from bdq_spark.operators.corpus import prepare_corpus
    from bdq_spark.operators.dedup import embedding_cosine_pairs, minhash_lsh_candidates, minhash_signatures
    from bdq_spark.operators.ivf import knn_ivf_quantized
    from bdq_spark.operators.packing import pack_documents
    from bdq_spark.operators.tokenizer import bpe_encode_corpus, train_bpe

    docs, emb = state["documents"], state["embeddings"]

    p.op("prepare_corpus", "operators.corpus",
         lambda: prepare_corpus(docs, near_dup_threshold=NEAR_DUP),
         lambda df: sorted(tuple(r) for r in df.select("doc_id", "chunk_idx", "n_chunk_tokens", "chunk_text").collect()),
         check=lambda rows: expect(rows == exp["chunks"], f"prepare_corpus: {len(rows)} chunks, "
                                   f"{len(set(rows) ^ set(exp['chunks']))} differ from the reference"))

    n_docs = len(exp["doc_words"])
    p.op("minhash_signatures", "operators.dedup", lambda: minhash_signatures(docs),
         lambda df: df.count(), check=lambda n: expect(n == n_docs, f"{n} signatures for {n_docs} docs"))

    def lsh_check(pairs):
        got = set(pairs)
        expect(got <= exp["jaccard"], f"{len(got - exp['jaccard'])} verified pairs below the threshold")
        recall = len(got) / max(len(exp["jaccard"]), 1)
        expect(recall >= LSH_RECALL_FLOOR, f"LSH pair recall {recall:.3f} < {LSH_RECALL_FLOOR}")

    lsh = p.op("minhash_lsh_candidates", "operators.dedup",
               lambda: minhash_lsh_candidates(docs, verify_threshold=NEAR_DUP), _pairs, check=lsh_check)
    lsh = lsh or sorted(exp["jaccard"])
    p.op("connected_components_text", "operators.components",
         lambda: connected_components(spark.createDataFrame(lsh, "id_a long, id_b long")),
         lambda df: df.collect(), check=_check_components(lsh))

    merges_vocab = p.op("train_bpe", "operators.tokenizer",
                        lambda: train_bpe(docs, n_merges=BPE_MERGES),
                        lambda res: (res[0], res[1].cache(), res[1].collect()),
                        check=lambda r: expect(
                            0 < len(r[0]) <= BPE_MERGES
                            and all("".join(row["syms"]).startswith(row["word"]) for row in r[2]),
                            "BPE vocabulary does not segment its words"))
    if merges_vocab is None:
        return
    vocab = merges_vocab[1]
    syms = {row["word"]: len(row["syms"]) for row in merges_vocab[2]}

    def encode_check(rows):
        for r in rows:
            want = sum(syms[w] for w in exp["doc_words"][r["id"]])
            expect(r["n_tokens"] == len(r["token_ids"]) == want, f"doc {r['id']}: {r['n_tokens']} != {want}")

    encoded = p.op("bpe_encode_corpus", "operators.tokenizer", lambda: bpe_encode_corpus(docs, vocab),
                   lambda df: df.localCheckpoint(), check=lambda df: encode_check(df.collect()))

    def pack_check(rows):
        expect(sorted(r["doc_id"] for r in rows) == sorted(exp["doc_words"]), "packing lost or duplicated docs")
        fill: dict = {}
        for r in rows:
            if not r["oversize"]:
                fill[r["pack_id"]] = fill.get(r["pack_id"], 0) + r["n_tokens"]
        expect(max(fill.values()) <= PACK_BUDGET, "a pack exceeds its token budget")

    if encoded is not None:
        p.op("pack_documents", "operators.packing",
             lambda: pack_documents(encoded.select(F.col("id").alias("doc_id"), "n_tokens"), "n_tokens", PACK_BUDGET, "doc_id"),
             lambda df: df.collect(), check=pack_check)
    vocab.unpersist()

    def cos_check(pairs):
        got = set(pairs)
        expect(exp["cos_sure"] <= got <= exp["cos_maybe"], "cosine pairs differ from numpy")

    cos = p.op("embedding_cosine_pairs", "operators.dedup",
               lambda: embedding_cosine_pairs(emb, threshold=COSINE), _pairs, check=cos_check)
    cos = cos or sorted(exp["cos_sure"])
    p.op("connected_components_vectors", "operators.components",
         lambda: connected_components(spark.createDataFrame(cos, "id_a long, id_b long")),
         lambda df: df.collect(), check=_check_components(cos))

    def ivf_check(rows):
        got = {(r.query_id, r.neighbor_id) for r in rows}
        recall = len(got & exp["knn"]) / max(len(exp["knn"]), 1)
        expect(recall >= IVF_RECALL_FLOOR, f"IVF recall@{K} {recall:.3f} < {IVF_RECALL_FLOOR}")

    p.op("knn_ivf_quantized", "operators.ivf",
         lambda: knn_ivf_quantized(emb, state["queries"], k=K),
         lambda df: df.select("query_id", "neighbor_id").collect(), check=ivf_check)


def finish(run, spark, state, tracer) -> dict:
    """Traced runs only: verified near-dup pairs per LSH candidate pair."""
    if not tracer.enabled:
        return {}
    from bdq_spark.operators.dedup import minhash_lsh_candidates

    docs = state["documents"]
    candidates = minhash_lsh_candidates(docs).count()
    verified = minhash_lsh_candidates(docs, verify_threshold=NEAR_DUP).count()
    return {"layer": {"operators.dedup.candidate_yield": verified / max(candidates, 1)}}
