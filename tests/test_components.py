"""connected_components: duplicate-cluster assignment over near-dup pairs.

The keep-one-per-cluster step after pairwise dedup (SURVEY §2 training-data
ladder): pairs (a,b),(b,c) must collapse to ONE cluster — no per-pair filter
can do that. Min-label propagation, O(diameter) rounds of one equi-join +
min-groupBy each; see operators/dedup.py:connected_components.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bravewebcrawler_spark.operators import dedup as DD


def _cc(spark, edges, nodes, max_iters=50):
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    n = spark.createDataFrame([(x,) for x in nodes], "doc_id long")
    caches: list = []
    out = DD.connected_components(e, n, id_col="doc_id", cache_registry=caches, max_iters=max_iters)
    got = {r["node"]: r["comp"] for r in out.collect()}
    for df in caches:
        df.unpersist()
    return got


def test_chain_collapses_to_one_cluster(spark):
    # (1,2),(2,3),(3,4): diameter-3 chain — needs >1 propagation round
    got = _cc(spark, [(1, 2), (2, 3), (3, 4)], [1, 2, 3, 4, 9])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 9: 9}


def test_singletons_and_disjoint_clusters(spark):
    got = _cc(spark, [(10, 11), (20, 21), (21, 22)], [10, 11, 20, 21, 22, 30, 31])
    assert got == {10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 30: 30, 31: 31}


def test_edge_direction_irrelevant(spark):
    # higher id listed first: undirected union must still propagate the min
    got = _cc(spark, [(7, 3), (3, 1)], [1, 3, 7])
    assert got == {1: 1, 3: 1, 7: 1}


def test_clique_and_chains_labels(spark):
    # clique {1..5}, chain 10-…-16, reversed-order chain, singleton
    edges = (
        [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
        + [(i, i + 1) for i in range(10, 16)]
        + [(25, 24), (24, 23), (23, 22)]
    )
    nodes = list(range(1, 6)) + list(range(10, 17)) + list(range(22, 26)) + [99]
    got = _cc(spark, edges, nodes)
    expect = {**{i: 1 for i in range(1, 6)}, **{i: 10 for i in range(10, 17)},
              **{i: 22 for i in range(22, 26)}, 99: 99}
    assert got == expect


def test_long_chain_warns_when_not_converged(spark):
    # A 256-node path: min-label propagation needs O(diameter) rounds, so a
    # small max_iters stops it early — that must warn, not pass silently.
    # Node ids are bit-reversed so the path is NOT monotone in id order
    # (monotone chains collapse artificially fast under min-propagation).
    n = 256
    perm = [int(format(i, "08b")[::-1], 2) for i in range(n)]  # bit-reverse
    edges = [(perm[i], perm[i + 1]) for i in range(n - 1)]
    with pytest.warns(RuntimeWarning, match="did not converge"):
        got = _cc(spark, edges, list(range(n)), max_iters=8)
    # one label per node, but still under-merged
    assert set(got) == set(range(n))
    assert len(set(got.values())) > 1


def test_no_residual_caches(spark):
    jsc = spark.sparkContext._jsc.sc()
    before = {info.id() for info in jsc.getRDDStorageInfo()}
    _cc(spark, [(1, 2)], [1, 2, 3])
    leaked = {info.id() for info in jsc.getRDDStorageInfo()} - before
    assert not leaked, f"residual cached RDDs: {leaked}"
