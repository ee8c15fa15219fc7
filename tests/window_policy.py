"""Round-scoped window policy declaration (VERDICT r9 item 3; bench
A/B rule added per VERDICT r10 item 2).

The r9 verdict's hard rule: any entry whose operator code changed
in-round must take a driver-window slot THAT round, before staleness
rotation.  This file is the declaration side of the invariant;
``tests/test_plan_regressions.py::test_changed_modules_gated_in_current_window``
is the enforcement side.  Ground truth of WHAT changed comes from
``git diff --name-only <last round-boundary commit>`` (so a module
edit can never silently skip the policy); the builder declares here
WHICH entries gate each changed module, and the test asserts every
one of those entries holds a ``_DRIVER_PRIORITY`` slot.

The r10 verdict added a second rule after the CC fuse's 2x bench-scale
cost shipped behind an x100-only A/B: any TOUCHED module whose gating
entries include a top-20-by-wall bench entry must also record a
same-box focused ``SPARK_GRAFT_BENCH_ONLY`` A/B (old round-boundary
rev in an exported copy vs HEAD, machine-stamped) in ``BENCH_AB_r{N}.json``
before the round closes.
``tests/test_plan_regressions.py::test_hot_module_changes_carry_bench_ab``
enforces it.

Update this file every round, alongside the ``_DRIVER_PRIORITY``
rotation in ``bdq_spark/entry_queries.py``.
"""

# module path (repo-relative) -> the queries() entries that gate the
# change end-to-end through the driver's value-hash compare.  Every
# bdq_spark/ module that changed since the last round boundary MUST
# appear here (or in EXEMPT below with a reason) and every listed
# entry must be in the current _DRIVER_PRIORITY window.
#
# Since the round-14 boundary: one isolation mechanism for iterative
# loops (a private cloned session, ``session.cloned``) replaces the
# session-wide AQE/conf scopes and the opt-in isolated-graph option;
# then connected components' small graphs moved to driver-side rounds.
# Every change is behaviour-preserving — declared entries must compute
# byte-identical results.
TOUCHED = {
    # new package helpers ``cloned`` / ``moved``: every iterative loop
    # and the overwrite_partitions writer pin their conf on a private
    # clone and move frames between sessions by logical plan
    "bdq_spark/session.py": [
        "near_dup_clusters",
        "embedding_dedup_clusters",
        "documents_deduped",
        "corpus_prepare_neardup",
        "pagerank_part_supplier",
        "docs_kcore_graph",
        "near_dup_kcore",
        "bpe_train_merges",
        "bpe_token_counts",
        "doc_bpe_packing",
        "corpus_training_pipeline",
        "pipeline_odd_even",
    ],
    # connected components runs graphs of at most
    # broadcast_max_nodes // 2 pairs on the driver (a pair count, one
    # pair collect, numpy min-label rounds) instead of the broadcast Spark
    # loop; every CC-backed entry is such a graph.  (The earlier
    # private-clone isolation of CC, PageRank and kcore is gated by the
    # session.py entries above.)
    "bdq_spark/operators/components.py": [
        "near_dup_clusters",
        "embedding_dedup_clusters",
        "documents_deduped",
        "corpus_prepare_neardup",
    ],
    # train_bpe's merge loop runs AQE-off on a private clone.
    "bdq_spark/operators/tokenizer.py": [
        "bpe_train_merges",
        "bpe_token_counts",
        "doc_bpe_packing",
        "corpus_training_pipeline",
    ],
    # overwrite_partitions writes through a clone carrying the dynamic
    # partition-overwrite mode instead of a save/set/restore of the
    # shared session's conf; the import of the helper touches every
    # pipeline-backed entry.
    "bdq_spark/plans/pipeline.py": [
        "pipeline_odd_even",
        "corpus_prepare_neardup",
        "corpus_training_pipeline",
    ],
    # knn_ivf_quantized computes the probe-side norm once per query row,
    # before the probed-cell explode; values bit-identical.
    "bdq_spark/operators/ivf.py": [
        "knn_ivf_quantized",
    ],
}

# modules whose in-round change has no relational queries() surface —
# each needs a reason a reviewer can check
EXEMPT = {
    "bdq_spark/entry_queries.py": (
        "driver-window rotation only (_DRIVER_PRIORITY order); no query "
        "function changed"
    ),
}

# TOUCHED modules whose gating entries intersect the top-20-by-wall
# bench set this round -> the BENCH_AB_r{N}.json artifact that records
# their same-box focused A/B.  The enforcement test recomputes the
# top-20 from BENCH_DETAIL.json and fails if an intersecting module is
# missing here or the artifact doesn't cover the intersecting entries.
BENCH_AB = {
    # focused same-box A/Bs vs the parent commit (tools/bench_ab.py)
    "bdq_spark/session.py": "BENCH_AB_r15.json",
    "bdq_spark/operators/components.py": "BENCH_AB_r16.json",
    "bdq_spark/operators/tokenizer.py": "BENCH_AB_r15.json",
    "bdq_spark/plans/pipeline.py": "BENCH_AB_r15.json",
    "bdq_spark/operators/ivf.py": "BENCH_AB_r15.json",
}
