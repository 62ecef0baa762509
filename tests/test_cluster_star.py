"""cluster_star: agreement with a direct union-find on random and
shallow (dup-group) graphs, and the long-chain case (diameter >> 12)
that a pass-capped min-label propagation would split but star
contraction must resolve whole."""

from __future__ import annotations

import numpy as np

from osmgraft.operators.dedup import cluster_star


def _union_find(pairs):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical min labels
    return {x: find(x) for x in parent}


def _pairs_df(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "a long, b long"
    )


def test_star_matches_union_find(spark):
    rng = np.random.default_rng(3)
    pairs = [
        tuple(p) for p in rng.integers(0, 120, (200, 2)) if p[0] != p[1]
    ]
    got = {
        r.doc_id: r.cluster
        for r in cluster_star(_pairs_df(spark, pairs)).collect()
    }
    assert got == _union_find(pairs)


def test_star_matches_propagation_on_shallow(spark):
    rng = np.random.default_rng(7)
    # dup-group shape: many tiny stars
    pairs = [(int(g) * 100, int(g) * 100 + int(i) + 1)
             for g in range(20) for i in rng.integers(0, 9, 4)]
    star = {
        r.doc_id: r.cluster
        for r in cluster_star(_pairs_df(spark, pairs)).collect()
    }
    assert star == _union_find(pairs)


def test_star_resolves_long_chain(spark):
    # a 60-node path: diameter 59 >> the propagation cap (12).
    # star contraction must still produce ONE cluster labeled 0.
    chain = [(i, i + 1) for i in range(59)]
    got = {
        r.doc_id: r.cluster
        for r in cluster_star(_pairs_df(spark, chain)).collect()
    }
    assert got == {i: 0 for i in range(60)}
