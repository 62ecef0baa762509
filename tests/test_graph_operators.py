"""Unit tests for the OSM object-graph operators (graph.py):
exact C center semantics, clipping decisions, closure depth."""

from __future__ import annotations

import pytest
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
