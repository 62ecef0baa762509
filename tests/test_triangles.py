"""triangle_count: known graphs + random brute-force differential."""

from __future__ import annotations

import itertools
import random

from osmgraft.operators.linkgraph import triangle_count


def _run(spark, edge_list):
    df = spark.createDataFrame(edge_list, "src string, dst string")
    return {
        r.host: r.n_triangles for r in triangle_count(df).collect()
    }


def _brute(edge_list):
    und = {
        tuple(sorted(e)) for e in edge_list if e[0] != e[1]
    }
    verts = sorted({v for e in und for v in e})
    adj = {v: set() for v in verts}
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    counts = {v: 0 for v in verts}
    for a, b, c in itertools.combinations(verts, 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for v in (a, b, c):
                counts[v] += 1
    return {v: c for v, c in counts.items() if c > 0}


def test_k4_and_asymmetric(spark):
    k4 = [
        (a, b)
        for a, b in itertools.combinations("abcd", 2)
    ]
    got = _run(spark, k4)
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}
    # triangle + pendant + duplicate/reversed edges + self-loop
    g = [
        ("x", "y"), ("y", "z"), ("z", "x"),
        ("y", "x"), ("x", "x"), ("z", "p"),
    ]
    assert _run(spark, g) == {"x": 1, "y": 1, "z": 1}


def test_random_brute_force(spark):
    rng = random.Random(17)
    verts = [f"v{i}" for i in range(14)]
    edges = [
        (rng.choice(verts), rng.choice(verts)) for _ in range(60)
    ]
    assert _run(spark, edges) == _brute(edges)


def test_k_core_peels_pendant_trees(spark):
    """Known graph: a 4-cycle with pendant chains — the 2-core is
    exactly the cycle; k=3 empties it."""
    from osmgraft.operators.linkgraph import k_core

    edges = [
        ("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),  # cycle
        ("a", "p"), ("p", "q"),                            # chain
        ("c", "r"),                                        # leaf
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    assert {r.host for r in k_core(df, k=2).collect()} == {
        "a", "b", "c", "d",
    }
    assert k_core(df, k=3).count() == 0


def test_k_core_matches_python_peel(spark):
    import random

    from osmgraft.operators.linkgraph import k_core

    rng = random.Random(23)
    verts = [f"v{i}" for i in range(30)]
    edges = [
        (rng.choice(verts), rng.choice(verts)) for _ in range(45)
    ]
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    cur = set(und)
    while True:
        deg = {}
        for a, b in cur:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {v for v, c in deg.items() if c >= 2}
        nxt = {
            (a, b) for a, b in cur if a in keep and b in keep
        }
        if nxt == cur:
            break
        cur = nxt
    want = {v for e in cur for v in e}
    df = spark.createDataFrame(edges, "src string, dst string")
    assert {r.host for r in k_core(df, k=2).collect()} == want


def test_k_core_cap_logs_warning(spark, caplog):
    """A binding pass cap is reported on the `osmgraft` logger, the
    same channel as the relation closures and cluster_star: a chain
    peels one leaf from each end per pass, so one pass cannot
    finish it; the default cap reaches the fixpoint silently."""
    import logging

    from osmgraft.operators.linkgraph import k_core

    chain = [(f"v{i}", f"v{i + 1}") for i in range(6)]
    df = spark.createDataFrame(chain, "src string, dst string")
    with caplog.at_level(logging.WARNING, logger="osmgraft"):
        capped = k_core(df, k=2, max_passes=1).count()
    assert capped > 0  # the pass-capped superset, not the empty core
    assert any(
        "k_core stopped at 1 passes" in r.message
        for r in caplog.records
    )

    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="osmgraft"):
        assert k_core(df, k=2).count() == 0
    assert not any("k_core" in r.message for r in caplog.records)
