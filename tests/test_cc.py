"""Contracts for operators/cc.py (distributed connected components),
alone and over the near-dup pair graphs of the two banded-LSH gates.

Correctness argument being pinned: both update steps preserve the two
invariants (c(n) <= n; c(n) is a node of n's component), so at the
fixpoint c is constant per component and equals the component minimum —
the tests exercise the fixpoint on chains, merged stars, isolated nodes
and a long path (the pointer-jump O(log diameter) case).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from orthority_spark.operators.cc import connected_components


def _cc(spark, node_ids, edge_pairs, **kw):
    nodes = spark.createDataFrame([(n,) for n in node_ids], "node long")
    edges = spark.createDataFrame(
        [(a, b) for a, b in edge_pairs], "src long, dst long"
    )
    out = connected_components(nodes, edges, **kw)
    return {r.node: r.comp for r in out.collect()}


def test_chain_collapses_to_min(spark):
    got = _cc(spark, [1, 2, 3, 4, 5, 6], [(1, 2), (2, 3), (3, 4)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 6}


def test_direction_and_duplicates_ignored(spark):
    got = _cc(spark, [1, 2, 3], [(3, 1), (1, 3), (3, 2), (3, 2)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_transitive_closure_beats_pair_rule(spark):
    # detected pairs (1,3) and (2,3): the pair-based keep-rule (drop the
    # higher id of each pair) keeps BOTH 1 and 2; the cluster rule
    # canonicalizes 2 -> 1 through 3. This asymmetry is the reason the
    # operator exists — pin it.
    got = _cc(spark, [1, 2, 3], [(1, 3), (2, 3)])
    assert got == {1: 1, 2: 1, 3: 1}
    pair_rule_survivors = {1, 2}          # 3 is the higher id of both pairs
    cc_survivors = {n for n, c in got.items() if n == c}
    assert cc_survivors == {1}
    assert cc_survivors < pair_rule_survivors


def test_two_components_and_isolated(spark):
    got = _cc(
        spark,
        [10, 11, 12, 20, 21, 30],
        [(11, 10), (11, 12), (21, 20)],
    )
    assert got == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30}


def test_long_path_converges_within_pointer_jump_budget(spark):
    # a 200-node path has diameter 199; min-propagation alone would need
    # ~199 rounds — pointer jumping must get there in O(log d), so a
    # tight max_iter proves the acceleration is real, not just the guard
    n = 200
    got = _cc(spark, range(n), [(i, i + 1) for i in range(n - 1)], max_iter=12)
    assert got == {i: 0 for i in range(n)}


def test_empty_edges_labels_self(spark):
    got = _cc(spark, [7, 8, 9], [])
    assert got == {7: 7, 8: 8, 9: 9}


def test_max_iter_guard_raises(spark):
    with pytest.raises(RuntimeError, match="did not converge"):
        _cc(spark, range(50), [(i, i + 1) for i in range(49)], max_iter=1)


def test_deterministic_across_runs(spark):
    edges = [(1, 5), (5, 9), (2, 6), (6, 2), (9, 3)]
    a = _cc(spark, range(10), edges)
    b = _cc(spark, range(10), edges)
    assert a == b


def _clusters(spark, corpus, id_col, pairs, a, b):
    # every corpus row labelled with the minimum id of its component in
    # the detected pair graph (the canonical id of its dup cluster)
    nodes = spark.read.parquet(corpus).select(F.col(id_col).alias("node"))
    lab = connected_components(nodes, pairs.select(a, b), src=a, dst=b)
    return {r.node: r.comp for r in lab.collect()}


def _assert_consistent(lab, pairs, a, b):
    assert len(lab) > 0
    for p in pairs:
        assert lab[p[a]] == lab[p[b]]
        assert lab[p[a]] <= min(p[a], p[b])
    for n, c in lab.items():
        assert lab[c] == c
        assert c <= n


def test_gate_consistent_with_pairs(spark):
    # every detected near-dup pair must share a canonical id, and every
    # canonical id must be a member of its own cluster
    from orthority_spark.queries_vec import q_embedding_neardups_bucketed

    sf_dir = "/root/testdata/sf0.001"
    pairs = q_embedding_neardups_bucketed(spark, sf_dir)
    lab = _clusters(
        spark, f"{sf_dir}/embeddings.parquet", "vec_id", pairs,
        "vec_a", "vec_b",
    )
    _assert_consistent(lab, pairs.collect(), "vec_a", "vec_b")


def test_text_gate_consistent_with_pairs(spark):
    # the text twin: every jaccard-verified near-dup pair shares a
    # canonical id; canonical ids are self-canonical cluster minima
    from orthority_spark.queries_text import q_jaccard_neardups_lsh

    sf_dir = "/root/testdata/sf0.001"
    pairs = q_jaccard_neardups_lsh(spark, sf_dir)
    lab = _clusters(
        spark, f"{sf_dir}/documents.parquet", "doc_id", pairs,
        "doc_a", "doc_b",
    )
    _assert_consistent(lab, pairs.collect(), "doc_a", "doc_b")


def test_persisted_rdd_count_bounded_across_iterations(spark):
    """r6 (VERDICT r5 #4): superseded per-iteration localCheckpoints must
    be unpersisted — a long path forcing many pointer-jump iterations
    must leave at most the final labels checkpoint behind (the r5 loop
    pinned every iteration's label RDD)."""
    from orthority_spark.operators.cc import _persistent_rdd_ids

    spark.catalog.clearCache()
    n = 2000  # path of 2000 nodes -> well past 10 propagation rounds
    before = _persistent_rdd_ids(spark)
    got = _cc(spark, list(range(n)), [(i, i + 1) for i in range(n - 1)])
    assert got == {i: 0 for i in range(n)}
    leaked = _persistent_rdd_ids(spark) - before
    # only the returned labels' checkpoint may remain
    assert len(leaked) <= 1, leaked


def test_reliable_checkpoint_dir_mode(spark, tmp_path):
    """checkpoint_dir switches to reliable checkpoints with identical
    results (the long-cluster-job mode; localCheckpoint dies with an
    executor)."""
    got = _cc(
        spark, [1, 2, 3, 4], [(1, 2), (2, 3)],
        checkpoint_dir=str(tmp_path / "cc_ckpt"),
    )
    assert got == {1: 1, 2: 1, 3: 1, 4: 4}
