"""Unit tests for the OSM object-graph operators (graph.py):
exact C center semantics, clipping decisions, closure depth."""

from __future__ import annotations

import logging

import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from osmgraft.operators.graph import (
    complete_ways_nodes,
    drop_broken_refs,
    rel_closure_up,
    way_geometry,
    ways_touching,
)


@pytest.fixture(scope="module")
def nodes(spark):
    # node i at (lon, lat) = (100 + 10*i, 1000 + 100*i)
    return spark.createDataFrame(
        [(i, 1000 + 100 * i, 100 + 10 * i) for i in range(10)],
        "doc_id long, lat_i long, lon_i long",
    )


def _ways(spark, rows):
    return spark.createDataFrame(
        rows, "way_id long, refs array<long>, is_closed boolean"
    )


def test_closed_way_center_is_bbox_middle(spark, nodes):
    # refs 0,2,4,0 closed; x: 100..140 -> x_mid = 70+50=120,
    # y: 1000..1400 -> y_mid = 1200
    ways = _ways(spark, [(1, [0, 2, 4, 0], True)])
    row = way_geometry(ways, nodes).collect()[0]
    assert row.is_closed
    assert row.n_refs == 4
    assert (row.center_lon, row.center_lat) == (120, 1200)
    assert (row.x_min, row.x_max, row.y_min, row.y_max) == (
        100, 140, 1000, 1400,
    )


def test_open_way_center_nearest_node_first_wins(spark, nodes):
    # refs 0,1,3: x 100,110,130 -> mid = 65+50=115, y mid = 1150.
    # dists: node0 |100-115|+|1000-1150|=165, node1 15+150->wait
    # node1: |110-115|+|1100-1150| = 55; node3: 15+150=165.
    # nearest is node1.
    ways = _ways(spark, [(2, [0, 1, 3], False)])
    row = way_geometry(ways, nodes).collect()[0]
    assert not row.is_closed
    assert (row.center_lon, row.center_lat) == (110, 1100)


def test_open_way_tie_breaks_on_ref_order(spark, nodes):
    # refs 0,2: mid x = 110, mid y = 1100; both nodes distance 110.
    # The reference keeps the FIRST minimizer (strictly-less scan).
    ways = _ways(spark, [(3, [0, 2], False)])
    row = way_geometry(ways, nodes).collect()[0]
    assert (row.center_lon, row.center_lat) == (100, 1000)


def test_c_trunc_division_center(spark):
    # odd extremes: x 101..104 -> C: 104/2 + 101/2 = 52+50 = 102
    # (floor((101+104)/2) would give 102 too; distinguish via
    # x_max/2+x_min/2 != (x_min+x_max)/2: 101,104 -> 102 vs 102 ...
    # pick 101, 103: C gives 51+50=101, plain avg gives 102)
    nodes = spark.createDataFrame(
        [(0, 11, 101), (1, 13, 103)],
        "doc_id long, lat_i long, lon_i long",
    )
    ways = spark.createDataFrame(
        [(1, [0, 1, 0], True)],
        "way_id long, refs array<long>, is_closed boolean",
    )
    row = way_geometry(ways, nodes).collect()[0]
    assert row.center_lon == 101  # 103/2 + 101/2, trunc
    assert row.center_lat == 12  # (11+13)/2


def test_ways_touching_and_complete(spark, nodes):
    ways = _ways(
        spark,
        [
            (1, [0, 1], False),  # touches (node 0 inside)
            (2, [5, 6], False),  # outside
        ],
    )
    inside = nodes.filter(F.col("doc_id") <= 0).select("doc_id")
    kept = ways_touching(ways, inside)
    assert [r.way_id for r in kept.collect()] == [1]
    # complete-ways pulls node 1 back in even though it's outside
    full = complete_ways_nodes(ways, inside, nodes)
    assert sorted(r.doc_id for r in full.collect()) == [0, 1]


def test_drop_broken_refs_preserves_order(spark, nodes):
    ways = _ways(spark, [(1, [4, 0, 9, 2], False)])
    kept_nodes = nodes.filter(F.col("doc_id") % 2 == 0)
    out = drop_broken_refs(ways, kept_nodes).collect()[0]
    assert out.refs == [4, 0, 2]
    assert out.n_kept_refs == 3


def test_rel_geometry_iterative_chain(spark):
    """G6/R3: rel 2's only member is rel 1 (area), rel 1's members
    are two nodes; rel 1 resolves pass 1, rel 2 pass 2. Rel 3
    (non-area) takes its LAST member's position (the reference's
    de-facto rule — its nearest scan is dead code)."""
    from osmgraft.operators.graph import rel_geometry

    positions = spark.createDataFrame(
        [(10, 100, 1000), (11, 110, 1100), (12, 130, 1300)],
        "ref_id long, x long, y long",
    )
    members = spark.createDataFrame(
        [
            (1, 1, 10, False, True),
            (1, 2, 11, False, True),
            (2, 1, 1, True, True),
            (3, 1, 10, False, False),
            (3, 2, 12, False, False),
        ],
        "rel_id long, j int, ref_id long, is_rel boolean, "
        "is_area boolean",
    )
    out = {r.rel_id: (r.x, r.y) for r in
           rel_geometry(members, positions).collect()}
    assert out[1] == (105, 1050)  # bbox middle of two nodes
    # single member at x=105: C's x_max/2 + x_min/2 = 52+52 = 104
    # (loses 1 on odd extremes — the reference quirk, reproduced)
    assert out[2] == (104, 1050)
    assert out[3] == (130, 1300)  # LAST member position, not middle


def _rel_chain(spark, depth: int):
    """rel 1 holds node 10, rel i+1 holds rel i, up to rel `depth`."""
    positions = spark.createDataFrame(
        [(10, 100, 1000)], "ref_id long, x long, y long"
    )
    members = spark.createDataFrame(
        [(1, 1, 10, False, True)]
        + [(i + 1, 1, i, True, True) for i in range(1, depth)],
        "rel_id long, j int, ref_id long, is_rel boolean, "
        "is_area boolean",
    )
    return members, positions


def test_rel_geometry_warns_at_cap(spark, caplog):
    """A 14-relation chain resolves relations 1-12 in the 12 passes
    and says that the cap bound; a 3-level chain stays silent."""
    import logging

    from osmgraft.operators.graph import rel_geometry

    with caplog.at_level(logging.WARNING, logger="osmgraft"):
        out = rel_geometry(*_rel_chain(spark, 14)).collect()
    assert sorted(r.rel_id for r in out) == list(range(1, 13))
    msgs = [r.getMessage() for r in caplog.records]
    assert any(
        "relation geometry stopped at 12 passes with 2 relations"
        in m for m in msgs
    ), msgs

    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="osmgraft"):
        out = rel_geometry(*_rel_chain(spark, 3)).collect()
    assert sorted(r.rel_id for r in out) == [1, 2, 3]
    assert not caplog.records


def test_rel_closure_chain_and_cap(spark):
    # chain 0 <- 1 <- 2 <- ... <- 15 (parent i references child i-1)
    rels = spark.createDataFrame(
        [(i, i - 1 if i > 0 else None) for i in range(16)],
        "rel_id long, child_rel long",
    )
    seeds = spark.createDataFrame([(0,)], "rel_id long")
    out = rel_closure_up(rels, seeds, max_passes=12)
    # 12 passes reach depth 12 (rel 12), matching the reference cap
    assert sorted(r.rel_id for r in out.collect()) == list(range(13))


def test_rel_closure_warns_at_cap(spark, caplog):
    """hitting the pass cap with a non-empty frontier logs the
    reference's recursion-depth warning (osmconvert.c:10637-10643);
    a converged closure stays silent."""
    import logging

    rels = spark.createDataFrame(
        [(i, i - 1 if i > 0 else None) for i in range(16)],
        "rel_id long, child_rel long",
    )
    seeds = spark.createDataFrame([(0,)], "rel_id long")
    with caplog.at_level(logging.WARNING, logger="osmgraft"):
        rel_closure_up(rels, seeds, max_passes=12).count()
    assert any(
        "relation closure stopped" in r.message
        for r in caplog.records
    )

    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="osmgraft"):
        out = rel_closure_up(rels, seeds, max_passes=16)
        n = out.count()
    assert n == 16
    assert not caplog.records


# ---------------------------------------------------------------
# the one-task closure against a plain-Python pass loop
# ---------------------------------------------------------------


def _py_closure(edges, seeds, max_passes, up=True):
    """The reference's pass loop: each pass flags the parents (up) or
    children (down) of the last pass's newly flagged relations.
    Returns (flagged ids, size of the frontier at the cap or None
    when the loop converged first)."""
    step = (lambda p, c: (c, p)) if up else (lambda p, c: (p, c))
    pairs = [step(p, c) for p, c in edges]
    flagged = set(seeds)
    frontier = set(seeds)
    for _ in range(max_passes):
        frontier = {b for a, b in pairs if a in frontier} - flagged
        if not frontier:
            return flagged, None
        flagged |= frontier
    return flagged, len(frontier)


class _Records(logging.Handler):
    def __init__(self):
        super().__init__(logging.WARNING)
        self.messages: list[str] = []

    def emit(self, record):
        self.messages.append(record.getMessage())


def _cap_warnings(fn):
    """Run fn, return (its result, the closure-cap warnings logged)."""
    h = _Records()
    log = logging.getLogger("osmgraft")
    log.addHandler(h)
    try:
        out = fn()
    finally:
        log.removeHandler(h)
    return out, [m for m in h.messages if "relation closure" in m]


# ids include negatives and values beyond 2^53 (exact int64 handling)
_IDS = st.sampled_from([-7, 0, 1, 2, 3, 4, 5, 6, 2**60 + 1, 2**60 + 2])
_GRAPHS = st.tuples(
    # random edges: cycles, self-loops and duplicates come for free
    st.lists(st.tuples(_IDS, _IDS), max_size=14),
    # a chain 100 <- 101 <- ... that may be longer than the cap
    st.integers(0, 7),
    # seeds, some outside the graph
    st.lists(st.one_of(_IDS, st.sampled_from([100, 999])), max_size=5),
    st.integers(1, 5),
)


def _edges(rand, chain):
    return rand + [(100 + i + 1, 100 + i) for i in range(chain)]


@settings(max_examples=300, deadline=None)
@given(_GRAPHS, st.booleans())
def test_passes_kernel_matches_python(graph, up):
    """_passes (the task's numpy kernel) flags the same ids as the
    pass loop, the seeds at depth 0, and the ids at depth == cap are
    the cap frontier."""
    import pandas as pd

    from osmgraft.operators.graph import _passes

    rand, chain, seeds, cap = graph
    edges = _edges(rand, chain)
    edges_in = edges if up else [(c, p) for p, c in edges]
    rows = pd.DataFrame(
        [(p, c, False) for p, c in edges_in] + [(s, s, True) for s in seeds],
        columns=["rel_id", "child_rel", "seed"],
    ).astype({"rel_id": "int64", "child_rel": "int64", "seed": bool})
    out = _passes(rows, cap)
    want, at_cap = _py_closure(edges, seeds, cap, up)
    assert sorted(out.rel_id) == sorted(want)
    assert sorted(out.rel_id[out.depth == 0]) == sorted(set(seeds))
    assert int((out.depth == cap).sum()) == (at_cap or 0)


@settings(max_examples=12, deadline=None)
@example(([], 3, [100], 2), True)  # parent-only reach at the cap
@example(([(5, 5), (5, 6), (6, 5)], 0, [5, 6], 1), True)  # no growth
@example(([(1, 2), (1, 2)], 0, [2, 1], 1), True)  # parent-only seed
@example(([], 7, [107], 5), False)  # chain longer than the cap, down
@given(_GRAPHS, st.booleans())
def test_closure_matches_python(spark, graph, up):
    """rel_closure_up/down == the pass loop: same ids, and the cap
    warning in the same cases with the same frontier count."""
    from osmgraft.operators.graph import rel_closure_down

    rand, chain, seeds, cap = graph
    edges = _edges(rand, chain)
    # relations without a relation member have child_rel NULL
    lone = [(s, None) for s in seeds]
    rels = spark.createDataFrame(edges + lone,
                                 "rel_id long, child_rel long")
    seed_df = spark.createDataFrame([(s,) for s in seeds],
                                    "rel_id long")
    closure = rel_closure_up if up else rel_closure_down
    got, warned = _cap_warnings(
        lambda: sorted(
            r.rel_id for r in closure(rels, seed_df, cap).collect()
        )
    )
    want, at_cap = _py_closure(edges, seeds, cap, up)
    assert got == sorted(want)
    if at_cap is None:
        assert warned == []
    else:
        assert len(warned) == 1
        assert f"with {at_cap} relations still" in warned[0]
