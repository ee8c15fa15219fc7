"""Connected-components tests: golden graphs and a union-find
property check on random edge lists."""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from bdq_spark.operators import connected_components


def _collect(df):
    return {r.id: (r.cluster_id, r.is_keeper) for r in df.collect()}


def _cc_rows(df, **kw):
    return sorted(
        map(tuple, connected_components(df, **kw).collect()), key=repr
    )


def test_chain_triangle_and_disjoint(spark):
    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),      # chain -> component 1
            (10, 11), (11, 12), (10, 12),  # triangle -> component 10
            (20, 21),                     # pair -> component 20
        ],
        "id_a long, id_b long",
    )
    out = _collect(connected_components(pairs))
    assert {k: v[0] for k, v in out.items()} == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }
    keepers = {k for k, v in out.items() if v[1]}
    assert keepers == {1, 10, 20}


def _in_band(edges, monkeypatch):
    """``broadcast_max_nodes`` kwargs that run ``edges`` in the broadcast
    band: the node table fits the bound, and more than bound / 2 pairs
    put the graph past the driver regime — which is made to fail, so a
    band test cannot pass on the driver's rounds."""
    from bdq_spark.operators import components

    n_nodes = len({v for e in edges for v in e})
    assert 2 * len(edges) > n_nodes

    def unreachable(*args):
        raise AssertionError("the driver regime ran in the broadcast band")

    monkeypatch.setattr(components, "_components_on_driver", unreachable)
    return {"broadcast_max_nodes": n_nodes}


def _check_convergence_bound(spark, kw_for):
    # a 6-node path needs more than 1 round
    edges = [(i, i + 1) for i in range(6)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    kw = kw_for(edges)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iterations=1, **kw)
    # and converges with a sane bound
    out = _collect(connected_components(pairs, **kw))
    assert {v[0] for v in out.values()} == {0}


def test_convergence_bound_raises(spark):
    _check_convergence_bound(spark, lambda edges: {})


def test_convergence_bound_raises_in_broadcast_band(spark, monkeypatch):
    _check_convergence_bound(spark, lambda e: _in_band(e, monkeypatch))


def _check_geometric_boundaries(spark, kw_for):
    # 5-node path: fixpoint after round 4, first changed==0 at round 5
    # -> geometric checks (1, 2, 4, 8) detect at round 8; labels must
    # still be the every-round answer
    edges = [(i, i + 1) for i in range(4)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    out = _collect(connected_components(pairs, **kw_for(edges)))
    assert {k: v[0] for k, v in out.items()} == {i: 0 for i in range(5)}
    # raise boundary unchanged: an 8-node path needs 7 propagation
    # rounds + 1 no-change round; max_iterations=7 must still raise,
    # 8 must converge (the final geometric check is pinned to the bound)
    edges8 = [(i, i + 1) for i in range(7)]
    path8 = spark.createDataFrame(edges8, "id_a long, id_b long")
    kw8 = kw_for(edges8)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(path8, max_iterations=7, **kw8)
    out8 = _collect(connected_components(path8, max_iterations=8, **kw8))
    assert {v[0] for v in out8.values()} == {0}


def test_geometric_check_boundaries(spark):
    """The broadcast-regime loops count their convergence flag only at
    geometrically spaced rounds (OPTIMIZATION_r14).  Pin the boundary
    semantics: a diameter that lands BETWEEN two check rounds is
    detected late but returns identical labels (overshoot rounds are
    no-ops), and the max_iterations raise fires at exactly the same
    bound as the every-round loop did.  At the default bound these
    graphs take CC's driver regime, which must keep the same bound;
    the broadcast band runs the same checks below."""
    from bdq_spark.operators.components import kcore

    _check_geometric_boundaries(spark, lambda edges: {})
    # kcore boundary (every-round checks + shared-broadcast anti-joins):
    # a 3-level pendant path peels in exactly 3 rounds — max_rounds=4
    # converges, max_rounds=2 raises
    edges = [(i, i % 6 + 1) for i in range(1, 7)] + [
        (1, 10), (10, 11), (11, 12)
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.id, r.degree) for r in kcore(df, k=2, max_rounds=4).collect()}
    assert got == {(i, 2) for i in range(1, 7)}
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore(df, k=2, max_rounds=2).collect()


def test_geometric_check_boundaries_in_broadcast_band(spark, monkeypatch):
    _check_geometric_boundaries(spark, lambda e: _in_band(e, monkeypatch))


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for x in list(parent):
        root = find(x)
        comp[x] = root
    # normalize root to the min id of each component
    mins = {}
    for x, r in comp.items():
        mins[r] = min(mins.get(r, x), x)
    return {x: mins[r] for x, r in comp.items()}


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_matches_union_find(spark, edges):
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = _cc_rows(pairs)
    assert {r[0]: r[1] for r in got} == _union_find(edges)
    # the driver regime (default bound) equals the co-partitioned one
    assert got == _cc_rows(pairs, broadcast_max_nodes=0)
    # and the broadcast band: a bound of the node count fits the node
    # table, and any graph with a shared endpoint has more than half
    # that many pairs (all-disjoint pairs cannot reach the band and run
    # the driver regime again)
    n_nodes = len({v for e in edges for v in e})
    assert got == _cc_rows(pairs, broadcast_max_nodes=n_nodes)


# regime parity: the driver regime (default bound on a small graph), the
# broadcast band and the co-partitioned regime (``broadcast_max_nodes=0``)


@pytest.mark.parametrize(
    "id_type,edges",
    [
        (
            "int",
            # self-loop, duplicate pair, reversed pair, isolated self-loop
            [(3, 1), (1, 3), (1, 3), (2, 2), (7, 5), (5, 6), (9, 9)],
        ),
        (
            "string",
            # 'é' sorts after 'z' (UTF-8 byte order = code point order)
            [("z", "é"), ("é", "z"), ("é", "é"), ("b", "z"), ("q", "p"),
             ("p", "q"), ("ü", "ü")],
        ),
        ("int", []),
        ("string", []),
    ],
)
def test_regime_parity_and_id_types(spark, id_type, edges):
    pairs = spark.createDataFrame(edges, f"id_a {id_type}, id_b {id_type}")
    driver = connected_components(pairs)
    copart = connected_components(pairs, broadcast_max_nodes=0)
    want = pairs.schema["id_a"].dataType
    assert [f.dataType for f in driver.schema.fields[:2]] == [want, want]
    assert [f.dataType for f in copart.schema.fields[:2]] == [want, want]
    got = sorted(map(tuple, driver.collect()))
    assert got == sorted(map(tuple, copart.collect()))
    ref = _union_find(edges)
    assert got == sorted((i, c, i == c) for i, c in ref.items())


@pytest.mark.parametrize("bound", [None, 7, 0])
def test_null_ids_same_in_every_regime(spark, bound):
    """A pair with a null endpoint adds no edge, its other endpoint is
    still a node, and the null id is one ``(None, None, None)`` row.
    ``bound=7`` puts the 4 pairs past the driver regime (2 * 4 > 7) with
    the 6-node table inside the broadcast band; ``0`` forces the
    co-partitioned regime."""
    kw = {} if bound is None else {"broadcast_max_nodes": bound}
    pairs = spark.createDataFrame(
        [(1, 2), (None, 3), (3, 4), (5, None)], "id_a long, id_b long"
    )
    assert _cc_rows(pairs, **kw) == sorted(
        [(1, 1, True), (2, 1, False), (3, 3, True), (4, 3, False),
         (5, 5, True), (None, None, None)],
        key=repr,
    )


def test_small_graph_job_count(spark):
    """Guard the driver regime's job budget: the input checkpoint, the
    count of its pairs and the one collect.  The result is built through
    Arrow whatever the session's Arrow conf, so it is a
    ``LocalRelation`` and the caller's collect runs no job either way."""
    sc = spark.sparkContext
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)], "id_a long, id_b long"
    )
    arrow = "spark.sql.execution.arrow.pyspark.enabled"
    was = spark.conf.get(arrow)
    try:
        for on in ("false", "true"):
            spark.conf.set(arrow, on)
            group = f"cc-job-guard-{on}"
            sc.setJobGroup(group, group)
            try:
                assert len(connected_components(pairs).collect()) == 40
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            assert n_jobs <= 3, (on, n_jobs)
    finally:
        spark.conf.set(arrow, was)


def test_apply_dedup_clusters_end_to_end(spark):
    from pyspark.sql import functions as F

    from bdq_spark.operators import apply_dedup_clusters
    from bdq_spark.operators.dedup import ngram_jaccard_pairs
    from bdq_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    clusters = connected_components(pairs)
    kept = apply_dedup_clusters(docs, clusters)

    n_docs = docs.count()
    n_non_keepers = clusters.filter(~F.col("is_keeper")).count()
    assert clusters.count() > 0  # planted near-dups exist even at sf0.001
    assert kept.count() == n_docs - n_non_keepers
    # every cluster still has exactly its keeper present
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    for r in clusters.collect():
        assert (r.id in kept_ids) == r.is_keeper


def _ref_pagerank(edges, iterations=3, d=0.85):
    """Independent dict-based power iteration (Page et al.), dangling
    mass redistributed uniformly."""
    edges = sorted(set(edges))
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    out = {}
    for u, _ in edges:
        out[u] = out.get(u, 0) + 1
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        dangling = sum(r[v] for v in nodes if v not in out)
        contrib = {v: 0.0 for v in nodes}
        for u, v in edges:
            contrib[v] += r[u] / out[u]
        r = {
            v: (1 - d) / n + d * (contrib[v] + dangling / n)
            for v in nodes
        }
    return r


def test_pagerank_matches_reference(spark):
    from bdq_spark.operators.components import pagerank

    # directed graph WITH a dangling node (4 has no out-edges) and an
    # authority hub (everything points at 3)
    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (5, 3), (5, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.rank for r in pagerank(df, iterations=4).collect()}
    ref = _ref_pagerank(edges, iterations=4)
    assert set(got) == set(ref)
    for v in ref:
        assert abs(got[v] - ref[v]) < 1e-12, v
    # rank mass is conserved (teleport + dangling redistribution)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # ordering agrees with the reference (3 feeds everything to 4, so
    # the dangling sink 4 actually tops the in-degree hub 3)
    assert max(got, key=got.get) == max(ref, key=ref.get)


def test_pagerank_symmetric_graph_uniform(spark):
    from bdq_spark.operators.components import pagerank

    # a symmetric cycle is regular: PageRank must be exactly uniform
    cyc = [(i, (i + 1) % 5) for i in range(5)]
    cyc += [(v, u) for u, v in cyc]
    df = spark.createDataFrame(cyc, "src long, dst long")
    got = [r.rank for r in pagerank(df, iterations=6).collect()]
    assert all(abs(v - 0.2) < 1e-12 for v in got)


def test_pagerank_quantized_tracks_float(spark):
    from bdq_spark.operators.components import pagerank, pagerank_quantized

    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (5, 3), (5, 1), (4, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    S = 10**12
    q = {r.id: r.rank_q for r in
         pagerank_quantized(df, iterations=4, scale=S).collect()}
    f = {r.id: r.rank for r in pagerank(df, iterations=4).collect()}
    assert set(q) == set(f)
    for v in f:
        # quantization error is bounded by ~iterations+1 units of 1/S
        assert abs(q[v] / S - f[v]) < 6 / S, v
    # integer determinism: a second run is bit-identical
    q2 = {r.id: r.rank_q for r in
          pagerank_quantized(df, iterations=4, scale=S).collect()}
    assert q == q2


def _ref_triangles(edges):
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({v for e in und for v in e})
    adj = {v: set() for v in nodes}
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    count = {v: 0 for v in nodes}
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            if b not in adj[a]:
                continue
            for c in nodes:
                if c > b and c in adj[a] and c in adj[b]:
                    count[a] += 1
                    count[b] += 1
                    count[c] += 1
    return count


def test_triangle_counts_goldens(spark):
    from bdq_spark.operators.components import triangle_counts

    # K4: 4 triangles, every vertex in 3; plus a dangling chain (0)
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
          (4, 5), (5, 6)]
    df = spark.createDataFrame(k4, "src long, dst long")
    got = {r.id: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0, 6: 0}
    # duplicate + reversed + self-loop edges are normalized away
    noisy = k4 + [(2, 1), (1, 1), (3, 2)]
    got2 = {r.id: r.n_triangles
            for r in triangle_counts(
                spark.createDataFrame(noisy, "src long, dst long")
            ).collect()}
    assert got2 == got


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=1,
        max_size=50,
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_triangle_counts_match_bruteforce(spark, edges):
    from bdq_spark.operators.components import triangle_counts

    und = [e for e in edges if e[0] != e[1]]
    if not und:
        return
    df = spark.createDataFrame(und, "src long, dst long")
    got = {r.id: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == _ref_triangles(und)


def test_triangle_counts_huge_ids(spark):
    """Orientation must stay a total order for ids beyond 2^32 — a
    packed deg*2^32+id key silently breaks there."""
    from bdq_spark.operators.components import triangle_counts

    big = 1 << 40
    k4 = [(big + 1, big + 2), (big + 1, 3), (big + 1, big + 4),
          (big + 2, 3), (big + 2, big + 4), (3, big + 4)]
    df = spark.createDataFrame(k4, "src long, dst long")
    got = {r.id: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == {big + 1: 3, big + 2: 3, 3: 3, big + 4: 3}


# ---------------------------------------------------------------------------
# kcore — iterative peeling
# ---------------------------------------------------------------------------


def test_kcore_cycle_plus_tree_cascade(spark):
    """A 6-cycle with a 3-level path hanging off node 1: the path peels
    one level per round (a real cascade), the cycle is the 2-core."""
    from bdq_spark.operators.components import kcore

    edges = [(i, i % 6 + 1) for i in range(1, 7)]  # cycle 1..6
    edges += [(1, 10), (10, 11), (11, 12)]  # path needing 3 peel rounds
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.id, r.degree) for r in kcore(df, k=2).collect()}
    assert got == {(i, 2) for i in range(1, 7)}


def test_kcore_python_reference(spark):
    """Random sparse graph vs a plain-Python peel."""
    import random

    from bdq_spark.operators.components import kcore

    rng = random.Random(11)
    edges = {(rng.randrange(40), rng.randrange(40)) for _ in range(90)}
    edges = [(a, b) for a, b in edges if a != b]
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    k = 3
    cur = {n: set(v) for n, v in adj.items()}
    while True:
        bad = [n for n, v in cur.items() if len(v) < k]
        if not bad:
            break
        for n in bad:
            for m in cur[n]:
                if m in cur:
                    cur[m].discard(n)
            del cur[n]
    want = {(n, len(v)) for n, v in cur.items()}
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.id, r.degree) for r in kcore(df, k=3).collect()}
    assert got == want


def test_kcore_raises_on_nonconvergence_and_bad_k(spark):
    import pytest as _p

    from bdq_spark.operators.components import kcore

    # a 50-node path peels from both ends: 25 rounds > max_rounds=3
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "src long, dst long"
    )
    with _p.raises(RuntimeError, match="did not converge"):
        kcore(path, k=2, max_rounds=3).collect()
    with _p.raises(ValueError):
        kcore(path, k=0)


# ---------------------------------------------------------------------------
# co-partitioned shuffle path (graphs past the broadcast cutover)
# ---------------------------------------------------------------------------


def _rand_graph(seed, n_nodes=60, n_edges=140):
    import random

    rng = random.Random(seed)
    return list(
        {
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        }
    )


def test_shuffle_path_parity_all_ops(spark):
    """``broadcast_max_nodes=0`` forces the co-partitioned shuffle path;
    results must match the broadcast path exactly (exact-integer ops)
    or to float round-off (pagerank), and the AQE conf must be restored
    afterward."""
    from bdq_spark.operators.components import (
        connected_components,
        kcore,
        pagerank,
        pagerank_quantized,
    )

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    edges = [(a, b) for a, b in _rand_graph(7) if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    pairs = df.toDF("id_a", "id_b")

    cc_b = {
        (r.id, r.cluster_id, r.is_keeper)
        for r in connected_components(pairs).collect()
    }
    cc_s = {
        (r.id, r.cluster_id, r.is_keeper)
        for r in connected_components(pairs, broadcast_max_nodes=0).collect()
    }
    assert cc_s == cc_b

    prq_b = {
        (r.id, r.rank_q) for r in pagerank_quantized(df).collect()
    }
    prq_s = {
        (r.id, r.rank_q)
        for r in pagerank_quantized(df, broadcast_max_nodes=0).collect()
    }
    assert prq_s == prq_b

    pr_b = {r.id: r.rank for r in pagerank(df).collect()}
    pr_s = {
        r.id: r.rank
        for r in pagerank(df, broadcast_max_nodes=0).collect()
    }
    assert set(pr_s) == set(pr_b)
    assert all(abs(pr_s[i] - pr_b[i]) < 1e-9 for i in pr_b)

    # kcore's broadcast-mirror round vs the shuffled-fallback round
    kc_b = {(r.id, r.degree) for r in kcore(df, k=3).collect()}
    kc_s = {
        (r.id, r.degree)
        for r in kcore(df, k=3, broadcast_max_nodes=0).collect()
    }
    assert kc_s == kc_b

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_moved_uses_the_runtime_dataset_class(spark):
    """``moved`` calls ``Dataset.ofRows``, which lives in
    ``org.apache.spark.sql.classic`` from Spark 4.0 and in
    ``org.apache.spark.sql`` on 3.5.  The import-time choice must name
    a real class on the running JVM (py4j resolves a missing one to a
    JavaPackage, which fails at call time)."""
    from py4j.java_gateway import JavaClass

    from bdq_spark import session

    sql = spark._jvm.org.apache.spark.sql
    chosen = sql.classic.Dataset if session._CLASSIC_DATASET else sql.Dataset
    assert isinstance(chosen, JavaClass)
    assert session._CLASSIC_DATASET == (int(spark.version.split(".")[0]) >= 4)
    df = spark.range(3)
    assert session.moved(df, spark).collect() == df.collect()


def test_keyed_checkpoint_elides_round_exchanges(spark):
    """The mechanism the shuffle path rests on: on a private AQE-off
    clone a ``_keyed_checkpoint``-ed relation keeps its
    HashPartitioning through the LogicalRDD, so the pagerank round
    shape (edge join on src -> per-dst sum -> rank-update join on id)
    plans with exactly ONE exchange — the aggregate.  If a Spark
    upgrade stops preserving partitioning through localCheckpoint, this
    fails loudly."""
    from pyspark.sql import functions as F

    from bdq_spark.operators.components import _keyed_checkpoint
    from bdq_spark.session import cloned, moved

    e = cloned(
        spark.range(2000).select(
            (F.col("id") % 97).alias("src"), (F.col("id") % 89).alias("dst")
        ),
        {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    iso = e.sparkSession
    assert iso is not spark
    assert iso.conf.get("spark.sql.adaptive.enabled") == "false"
    r = moved(
        spark.range(97).select(F.col("id"), F.lit(1.0).alias("rank")), iso
    )
    ep = _keyed_checkpoint(e, "src")
    rp = _keyed_checkpoint(r, "id")
    contrib = (
        ep.join(rp, ep.src == rp.id)
        .groupBy("dst")
        .agg(F.sum("rank").alias("c"))
    )
    nodes = rp.select("id")
    ranks = nodes.join(
        contrib, nodes.id == contrib.dst, "left"
    ).select("id", F.coalesce("c", F.lit(0.0)).alias("rank"))
    plan = ranks._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"


def _ref_pagerank_quantized(edges, iterations, scale=10**12):
    """Integer twin of ``_ref_pagerank`` (the update rule documented on
    ``pagerank_quantized``)."""
    nodes = sorted({v for e in edges for v in e})
    n = len(nodes)
    deg = {}
    for u, _ in edges:
        deg[u] = deg.get(u, 0) + 1
    r = {v: scale // n for v in nodes}
    base = (15 * (scale // n)) // 100
    for _ in range(iterations):
        dangling = sum(r[v] for v in nodes if v not in deg)
        c = {v: 0 for v in nodes}
        for u, v in edges:
            c[v] += r[u] // deg[u]
        r = {v: base + (85 * (c[v] + dangling // n)) // 100 for v in nodes}
    return r


_PAIRS = [(1, 2), (2, 3), (5, 6), (7, 8), (8, 9)]
_DIGRAPH = [(1, 2), (2, 3), (3, 1), (4, 1), (3, 5)]
_KCORE_EDGES = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)]


def _run_isolated_loop(spark, op, bound, fail):
    """Run ``op`` on a small input; returns ``(out, got, want)``.
    ``fail`` makes the operator raise: a real non-convergence where the
    operator has a round bound, else the caller-supplied injection."""
    kw = {} if bound is None else {"broadcast_max_nodes": bound}
    if op == "connected_components":
        from bdq_spark.operators import connected_components

        pairs = spark.createDataFrame(_PAIRS, "id_a long, id_b long")
        out = connected_components(
            pairs, max_iterations=1 if fail else 20, **kw
        )
        want = {(1, 1, True), (2, 1, False), (3, 1, False), (5, 5, True),
                (6, 5, False), (7, 7, True), (8, 7, False), (9, 7, False)}
        return out, set(map(tuple, out.collect())), want
    if op == "kcore":
        from bdq_spark.operators.components import kcore

        df = spark.createDataFrame(_KCORE_EDGES, "src long, dst long")
        out = kcore(df, k=2, max_rounds=1 if fail else 20, **kw)
        return out, set(map(tuple, out.collect())), {(1, 2), (2, 2), (3, 2)}
    if op == "pagerank":
        from bdq_spark.operators.components import pagerank

        df = spark.createDataFrame(_DIGRAPH, "src long, dst long")
        out = pagerank(df, iterations=4, **kw)
        got = {r.id: round(r.rank, 9) for r in out.collect()}
        want = {
            v: round(x, 9)
            for v, x in _ref_pagerank(_DIGRAPH, iterations=4).items()
        }
        return out, got, want
    if op == "pagerank_quantized":
        from bdq_spark.operators.components import pagerank_quantized

        df = spark.createDataFrame(_DIGRAPH, "src long, dst long")
        out = pagerank_quantized(df, iterations=4, **kw)
        got = {r.id: r.rank_q for r in out.collect()}
        return out, got, _ref_pagerank_quantized(_DIGRAPH, iterations=4)
    assert op == "train_bpe"
    from test_tokenizer import CORPUS, _docs_df, _ref_train_bpe

    from bdq_spark.operators.tokenizer import train_bpe

    merges, out = train_bpe(_docs_df(spark), n_merges=25)
    got = (merges, {r["word"]: tuple(r["syms"]) for r in out.collect()})
    return out, got, _ref_train_bpe(CORPUS, n_merges=25)


@pytest.mark.parametrize(
    "op,bound",
    [
        (op, bound)
        for op in (
            "connected_components", "pagerank", "pagerank_quantized", "kcore"
        )
        for bound in (None, 0)
    ]
    # 5 pairs over 8 nodes: past the driver regime (2 * 5 > 8), node
    # table inside the bound — CC's broadcast band
    + [pytest.param("connected_components", 8, id="connected_components-band")]
    + [("train_bpe", None)],
)
def test_iterative_loops_never_write_caller_session_conf(
    spark, monkeypatch, op, bound
):
    """Concurrent SparkPipeline steps share one session, so an
    iterative loop must never write that session's conf — its hand
    pins (AQE off, a data-sized shuffle width) live on a private clone.
    Checked from INSIDE the loop (every checkpoint a loop takes reads
    the caller's conf), after the operator raises, and on the result:
    equal to the reference, and a frame of the caller's session that
    joins with the caller's own frames.  ``bound=0`` forces the
    co-partitioned regime of the graph operators; there the keyed
    checkpoints cross between the clone and the caller's session, and
    every round must still plan exactly ONE exchange (its aggregate) —
    the partitioning reuse that regime exists for.  CC at the default
    bound runs its rounds on the driver; ``connected_components-band``
    reaches its broadcast rounds on a pinned clone."""
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    before = {k: spark.conf.get(k) for k in keys}
    seen = []
    round_plans = []
    inject = {"on": False}
    frame_cls = type(spark.range(1))
    real_checkpoint = frame_cls.localCheckpoint

    def spy(self, *args, **kwargs):
        session = self.sparkSession
        seen.append(
            (
                {k: spark.conf.get(k) for k in keys},
                session is spark,
                session.conf.get("spark.sql.adaptive.enabled"),
            )
        )
        if inject["on"] and session is not spark:
            raise RuntimeError("injected mid-loop failure")
        if not kwargs.get("eager", args[0] if args else True):
            # the lazy checkpoints are the per-round frames
            round_plans.append(
                self._jdf.queryExecution().executedPlan().toString()
            )
        return real_checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", spy)
    from bdq_spark.operators import components

    clones = []
    real_cloned = components.cloned

    def cloned_spy(df, conf):
        clones.append(conf)
        return real_cloned(df, conf)

    monkeypatch.setattr(components, "cloned", cloned_spy)

    out, got, want = _run_isolated_loop(spark, op, bound, fail=False)
    assert got == want
    assert seen, "the loop took no checkpoint"
    assert all(conf == before for conf, _, _ in seen), seen
    if op == "connected_components" and bound is None:
        # the driver regime runs its rounds in numpy: no per-round
        # checkpoint and no clone session
        assert not round_plans and not clones, (round_plans, clones)
        assert all(on_caller for _, on_caller, _ in seen), seen
    else:
        # the hand pin still applies — on a session that is not the
        # caller's
        assert any(
            not on_caller and aqe == "false" for _, on_caller, aqe in seen
        ), seen
    assert out.sparkSession is spark
    if op == "train_bpe":
        mine = spark.createDataFrame([("the", "a")], "word string, nm string")
    else:
        mine = spark.createDataFrame([(1, "a")], "id long, nm string")
    assert out.join(mine, mine.columns[0]).count() == 1
    if bound == 0 and op != "kcore":
        assert round_plans, "no per-round checkpoint seen"
        for plan in round_plans:
            assert plan.count("Exchange") == 1, plan

    seen.clear()
    inject["on"] = op in ("pagerank", "pagerank_quantized", "train_bpe")
    with pytest.raises(RuntimeError, match="did not converge|injected"):
        _run_isolated_loop(spark, op, bound, fail=True)
    assert all(conf == before for conf, _, _ in seen), seen
    assert {k: spark.conf.get(k) for k in keys} == before


def test_data_checkpoint_stores_serialized_blocks(spark):
    """Pin the second-decade fix's mechanism: data_checkpoint persists
    with a SERIALIZED level (deserialized=False), unlike the default
    localCheckpoint (MEMORY_AND_DISK_DESER)."""
    from pyspark.sql import functions as F

    from bdq_spark.operators._checkpoint import data_checkpoint

    df = data_checkpoint(
        spark.range(10_000).select(
            F.col("id").alias("src"), (F.col("id") % 97).alias("dst")
        )
    )
    assert df.count() == 10_000
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    levels = {
        (i.storageLevel().useMemory(), i.storageLevel().deserialized())
        for i in infos
        if i.numCachedPartitions() > 0
    }
    # at least one live cached RDD is memory+serialized (ours); the
    # default-deserialized level may coexist from other fixtures
    assert (True, False) in levels, levels


def test_shuffle_partitions_auto_fallback(spark):
    """ADVICE r10: platforms with AQE auto-optimized shuffle report
    spark.sql.shuffle.partitions as the string 'auto' — the graph
    operators must fall back to defaultParallelism, not ValueError."""
    from bdq_spark.operators.components import _shuffle_partitions

    assert _shuffle_partitions(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )

    # OSS Spark validates the conf as an int at set-time, so the
    # non-numeric value can't be injected through a real session —
    # stub the read the way the managed platform would report it
    class _Conf:
        def get(self, key):
            return "auto"

    class _Stub:
        conf = _Conf()
        sparkContext = spark.sparkContext

    assert (
        _shuffle_partitions(_Stub())
        == spark.sparkContext.defaultParallelism
    )


def test_small_graph_checkpoints_not_pinned_wide(spark):
    """VERDICT r10 item 1: a graph that cannot cross the broadcast
    cutover must NOT have its checkpoints pinned at the session shuffle
    partition count — the r10 fused setup did, scheduling 32 near-empty
    tasks in every per-round job (embedding_dedup_clusters 5.6 s ->
    12.1 s at sf0.1).  Pin the fix through the same lens the audit now
    records: max LogicalRDD partition count of the result plan."""
    from bdq_spark.operators import connected_components, pagerank
    from bdq_spark.operators.components import pagerank_quantized
    from bdq_spark.plans.plan_lint import checkpoint_partitions

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert n_part >= 2, "test needs >1 shuffle partition to detect a pin"
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)], "id_a long, id_b long"
    )
    cc = connected_components(pairs)
    assert cc.count() == 40
    assert checkpoint_partitions(cc) < n_part

    edges = pairs.selectExpr("id_a as src", "id_b as dst")
    pr = pagerank(edges, iterations=2)
    assert pr.count() == 40
    assert checkpoint_partitions(pr) < n_part
    prq = pagerank_quantized(edges, iterations=2)
    assert prq.count() == 40
    assert checkpoint_partitions(prq) < n_part


def test_depin_small_edges_keeps_cutover_capable_graphs(spark):
    """_depin_small_edges must only coalesce when the graph PROVABLY
    cannot cross the node cutover; a cutover-capable edge relation keeps
    its keyed pin (partitioning reuse is the whole point there)."""
    from pyspark.sql import functions as F

    from bdq_spark.operators.components import _depin_small_edges, _keyed_checkpoint
    from bdq_spark.session import cloned

    e = _keyed_checkpoint(
        cloned(
            spark.range(2_000).select(
                F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
            ),
            {"spark.sql.adaptive.enabled": "false"},
        ),
        "src",
    )
    n_before = e.rdd.getNumPartitions()
    # tiny vs its cutover: coalesced below the pin
    assert (
        _depin_small_edges(e, broadcast_max_nodes=2_000_000)
        .rdd.getNumPartitions()
        < n_before
    )
    # cutover-capable (2 * 2000 > 1000): pin kept, same object
    assert _depin_small_edges(e, broadcast_max_nodes=1_000) is e
