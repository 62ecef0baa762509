"""Driver-contract queries for the OSM object-graph operators
(operators/graph.py) with paired DuckDB oracles.

The ways/relations world is a pure integer function of doc_id
(constants documented in operators/graph.py) so both dialects
materialize the identical graph.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators.graph import (
    HASH_MOD,
    HASH_MULT,
    complete_ways_nodes,
    drop_broken_refs,
    rel_closure_up,
    synth_rels,
    synth_ways,
    way_geometry,
    ways_touching,
)

# the q01 bbox doubles as the clipping border for the graph queries
BX = (110_000_000, 480_000_000, 125_000_000, 495_000_000)

# ---------------------------------------------------------------
# shared SQL CTEs (DuckDB dialect)
# ---------------------------------------------------------------

_N_DOCS = "(SELECT COUNT(*) FROM documents)"

_GRAPH_CTES = f"""
ways AS (
  SELECT doc_id AS way_id, 3 + doc_id % 4 AS k
  FROM documents WHERE doc_id % 4 = 0
),
wrefs0 AS (
  SELECT w.way_id, CAST(i.i AS BIGINT) AS j,
    ((w.way_id * 37 + i.i * 1009) * {HASH_MULT} % {HASH_MOD})
      % {_N_DOCS} AS ref
  FROM ways w CROSS JOIN LATERAL
    (SELECT unnest(range(1, w.k + 1)) AS i) i
),
wrefs AS (
  SELECT way_id, j, ref FROM wrefs0
  UNION ALL
  SELECT w.way_id, CAST(w.k + 1 AS BIGINT), r.ref
  FROM ways w JOIN wrefs0 r ON r.way_id = w.way_id AND r.j = 1
  WHERE w.way_id % 3 = 0
),
inside AS (
  SELECT doc_id FROM pts
  WHERE lon_i >= {BX[0]} AND lon_i <= {BX[2]}
    AND lat_i >= {BX[1]} AND lat_i <= {BX[3]}
)
"""


def _nodes(spark, sf_dir):
    from .suite import doc_points

    return doc_points(spark, sf_dir)


def _inside(nodes):
    return nodes.filter(
        (F.col("lon_i") >= BX[0])
        & (F.col("lon_i") <= BX[2])
        & (F.col("lat_i") >= BX[1])
        & (F.col("lat_i") <= BX[3])
    ).select("doc_id")


def _docs_and_n(spark, sf_dir):
    from .suite import load

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return docs, docs.count()


# ---------------------------------------------------------------
# queries
# ---------------------------------------------------------------


def q23_way_geometry(spark, sf_dir):
    """J1/A3/G5/G7: ref-resolution join + bbox agg + exact centers."""
    docs, n = _docs_and_n(spark, sf_dir)
    ways = synth_ways(docs, n)
    return way_geometry(ways, _nodes(spark, sf_dir))


def q24_way_clip(spark, sf_dir):
    """G3: ways kept iff >=1 ref node inside the border."""
    docs, n = _docs_and_n(spark, sf_dir)
    ways = synth_ways(docs, n)
    return ways_touching(ways, _inside(_nodes(spark, sf_dir)))


def q25_complete_ways(spark, sf_dir):
    """G4 --complete-ways: full node pull-back of touching ways."""
    docs, n = _docs_and_n(spark, sf_dir)
    ways = synth_ways(docs, n)
    nodes = _nodes(spark, sf_dir)
    return complete_ways_nodes(ways, _inside(nodes), nodes)


def q26_broken_refs(spark, sf_dir):
    """P8 --drop-broken-refs: refs filtered to inside nodes, order
    preserved; 0-ref ways vanish."""
    docs, n = _docs_and_n(spark, sf_dir)
    ways = synth_ways(docs, n)
    out = drop_broken_refs(ways, _inside(_nodes(spark, sf_dir)))
    return out.select(
        "way_id",
        "n_kept_refs",
        F.array_join(
            F.transform("refs", lambda r: r.cast("string")), ","
        ).alias("refs_str"),
    )


def q27_rel_closure(spark, sf_dir):
    """R1: upward relation closure from border-seeded relations,
    <=12 fixed-point passes (chains of rel->rel edges)."""
    docs, n = _docs_and_n(spark, sf_dir)
    rels = synth_rels(docs, n)
    seeds = rels.join(
        _inside(_nodes(spark, sf_dir)).select(
            F.col("doc_id").alias("node_member")
        ),
        "node_member",
        "left_semi",
    ).select("rel_id")
    return rel_closure_up(rels, seeds)


def q38_rel_closure_down(spark, sf_dir):
    """R2: osmfilter downward dependency closure — kept relations
    pull referenced relations (<=12 passes), then their node/way
    members, then the member ways' nodes. Output: the final kept
    node set."""
    from .operators.graph import rel_closure_down

    docs, n = _docs_and_n(spark, sf_dir)
    rels = synth_rels(docs, n)
    seeds = rels.filter(
        F.expr("(rel_id div 16) % 5") == 0
    ).select("rel_id")
    flagged = rel_closure_down(rels, seeds)
    kept_rels = rels.join(flagged, "rel_id", "left_semi")
    node_members = kept_rels.select(
        F.col("node_member").alias("doc_id")
    )
    ways = synth_ways(docs, n)
    member_ways = kept_rels.select(
        F.col("way_member").alias("way_id")
    ).distinct()
    way_nodes = (
        ways.join(member_ways, "way_id", "left_semi")
        .select(F.explode("refs").alias("doc_id"))
    )
    return (
        node_members.unionByName(way_nodes)
        .distinct()
        .join(_nodes(spark, sf_dir), "doc_id")
        .select("doc_id", "lat_i", "lon_i")
    )


def q39_rel_geometry(spark, sf_dir):
    """G6: relation position from member positions — bbox middle for
    area relations (C trunc division), LAST valid member position
    for non-areas (the reference's de-facto behavior; its
    nearest-member scan is dead code, osmconvert.c:6977-6989).
    Members here are node + way (way positions = q23 centers), so
    the general <=12-pass loop converges in one pass and the oracle
    is single-pass SQL; multi-level rel->rel chains are covered by
    unit tests."""
    from .operators.graph import rel_geometry, synth_ways, way_geometry

    docs, n = _docs_and_n(spark, sf_dir)
    rels = synth_rels(docs, n)
    nodes = _nodes(spark, sf_dir)
    centers = way_geometry(synth_ways(docs, n), nodes)
    positions = nodes.select(
        F.col("doc_id").alias("ref_id"),
        F.col("lon_i").alias("x"),
        F.col("lat_i").alias("y"),
    ).unionByName(
        centers.select(
            (F.col("way_id") + F.lit(1_000_000_000)).alias("ref_id"),
            F.col("center_lon").alias("x"),
            F.col("center_lat").alias("y"),
        )
    )
    members = rels.select(
        "rel_id",
        F.lit(1).alias("j"),
        F.col("node_member").alias("ref_id"),
        F.lit(False).alias("is_rel"),
        (F.col("rel_id") % 2 == 0).alias("is_area"),
    ).unionByName(
        rels.select(
            "rel_id",
            F.lit(2).alias("j"),
            (F.col("way_member") + F.lit(1_000_000_000)).alias(
                "ref_id"
            ),
            F.lit(False).alias("is_rel"),
            (F.col("rel_id") % 2 == 0).alias("is_area"),
        )
    )
    return rel_geometry(members, positions).select(
        F.col("rel_id"), F.col("x"), F.col("y")
    )


def q51_rel_centers_fixpoint(spark, sf_dir):
    """G5/R3 composed (round 3): the CLI --all-to-nodes relation
    center FIXED POINT (cli._rel_members into operators/graph.
    rel_geometry, center mode) over multi-level rel->rel
    member chains — a relation resolves only after its child
    relation has (posr_processing, osmconvert.c:6917-7070), so the
    synth child chains (length <= 7 between breaks) take several
    passes. Members per relation, in order: node, way, child
    relation (when present). Non-area relations take the LAST
    valid member's position (child center when present), area
    relations the C-trunc bbox middle of all member positions.
    Oracle: recursive CTE walking the child chains upward."""
    from .cli import OFF10, _rel_members
    from .operators.graph import (
        rel_geometry, synth_rels, synth_ways, way_geometry,
    )

    docs, n = _docs_and_n(spark, sf_dir)
    nodes = _nodes(spark, sf_dir)
    centers = way_geometry(synth_ways(docs, n), nodes)
    raw = synth_rels(docs, n)

    def member(ref, t):
        return F.struct(
            ref.cast("long").alias("ref"),
            F.lit(t).alias("mtype"),
            F.lit("").alias("role"),
        )

    base = F.array(
        member(F.col("node_member"), "node"),
        member(F.col("way_member"), "way"),
    )
    rels = raw.select(
        F.col("rel_id").alias("id"),
        F.when(
            F.col("child_rel").isNotNull(),
            F.concat(
                base,
                F.array(member(F.col("child_rel"), "relation")),
            ),
        )
        .otherwise(base)
        .alias("members"),
        F.when(
            F.col("rel_id") % 2 == 0,
            F.create_map().cast("map<string,string>"),
        )
        .otherwise(F.create_map(F.lit("route"), F.lit("x")))
        .alias("tags"),
    )
    positions = nodes.select(
        F.col("doc_id").alias("ref_id"),
        F.col("lon_i").alias("x"),
        F.col("lat_i").alias("y"),
    ).unionByName(
        centers.select(
            (F.col("way_id") + F.lit(OFF10)).alias("ref_id"),
            F.col("center_lon").alias("x"),
            F.col("center_lat").alias("y"),
        )
    )
    return rel_geometry(_rel_members(rels), positions).select(
        "rel_id", "x", "y"
    )


def q106_way_cell_cover(spark, sf_dir):
    """G11-extension: exact integer supercover tile assignment —
    a way lands in EVERY ~0.1-degree grid cell (shift=20) its
    polyline passes through, so ways straddling tile borders split
    correctly.  Column-sweep formula mirrored exactly in the
    DuckDB oracle (operators/linecover.py)."""
    from .operators.linecover import way_cell_cover

    docs, n = _docs_and_n(spark, sf_dir)
    ways = synth_ways(docs, n)
    return way_cell_cover(ways, _nodes(spark, sf_dir), shift=20)


def q107_route_corridor(spark, sf_dir):
    """Corridor search composed on q106: documents whose cell lies
    within 1 cell of a sampled route's exact supercover — the
    broadcast-dilated-cover equi-join plan (never a geometry
    cross-join), operators/linecover.py cell_corridor_join."""
    from .operators.linecover import cell_corridor_join, way_cell_cover

    docs, n = _docs_and_n(spark, sf_dir)
    routes = synth_ways(docs, n).where(F.col("way_id") % 100 == 0)
    nodes = _nodes(spark, sf_dir)
    cover = way_cell_cover(routes, nodes, shift=20)
    return cell_corridor_join(cover, nodes, shift=20, radius=1)


def q109_way_length(spark, sf_dir):
    """Route length in fixed-point units with the reference's cosr
    longitude scaling at the segment-midpoint latitude band
    (operators/linecover.way_length); the overflow-safe 2^32
    division and the IEEE-pinned floor(sqrt(..)) replay exactly in
    the DuckDB oracle."""
    from .operators.linecover import way_length

    docs, n = _docs_and_n(spark, sf_dir)
    ways = synth_ways(docs, n)
    return way_length(ways, _nodes(spark, sf_dir))


def q112_way_area(spark, sf_dir):
    """Exact signed shoelace area of closed ways
    (operators/linecover.way_signed_area): centered int cross
    products carried as decimal(38,0)/HUGEINT, positive = CCW
    winding — the exact complement to the reference's bBoxArea
    approximation."""
    from .operators.linecover import way_signed_area

    docs, n = _docs_and_n(spark, sf_dir)
    ways = synth_ways(docs, n)
    return way_signed_area(ways, _nodes(spark, sf_dir))


def q128_snap_to_ways(spark, sf_dir):
    """Map matching: every document coordinate snapped to the
    nearest synthetic-way SEGMENT within one shift-20 cell side
    (operators/linecover.snap_to_ways) — supercover + dilated-cell
    candidate join, IEEE-pinned point-to-segment distance, argmin
    with (way_id, seg_idx) tie-break; bit-matches the literal
    cross-join oracle."""
    from .operators.linecover import snap_to_ways

    docs, n = _docs_and_n(spark, sf_dir)
    ways = synth_ways(docs, n)
    # index_join="auto": this input scales the WAYS side with the
    # corpus, so the broadcast-or-shuffle choice is left to AQE
    # size stats (same rationale and hash-invariance proof as q131)
    return snap_to_ways(
        _nodes(spark, sf_dir),
        ways,
        _nodes(spark, sf_dir),
        shift=20,
        index_join="auto",
    )


def q130_addr_interp(spark, sf_dir):
    """OSM addr:interpolation: housenumbers h0..h1 step 2 placed
    proportionally by polyline distance along every synthetic way
    (operators/linecover.interpolate_housenumbers); window prefix
    sums + pinned double arithmetic hash-match the oracle
    bit-for-bit."""
    from .operators.linecover import interpolate_housenumbers

    docs, n = _docs_and_n(spark, sf_dir)
    ways_hn = synth_ways(docs, n).select(
        "way_id",
        "refs",
        F.lit(2).cast("long").alias("h_first"),
        (2 + 2 * (3 + F.col("way_id") % 7))
        .cast("long")
        .alias("h_last"),
    )
    return interpolate_housenumbers(ways_hn, _nodes(spark, sf_dir))


def _synth_traces(nodes):
    """Deterministic 5-step traces walking from every %50 document
    point: step t at anchor + t*delta, deltas hashed from the id,
    clamped to the world interior (so cell arithmetic never leaves
    the grid).  Mirrored literally in the q131 oracle SQL."""
    dlat = ((F.col("doc_id") * 7919) % 262145) - 131072
    dlon = ((F.col("doc_id") * 104729) % 262145) - 131072
    return (
        nodes.where(F.col("doc_id") % 20 == 0)
        .select(
            F.col("doc_id").alias("trace_id"),
            "lat_i",
            "lon_i",
            dlat.alias("_dlat"),
            dlon.alias("_dlon"),
            F.explode(F.sequence(F.lit(0), F.lit(4))).alias("step"),
        )
        .select(
            "trace_id",
            F.col("step").cast("long").alias("step"),
            F.greatest(
                F.least(
                    F.col("lat_i") + F.col("step") * F.col("_dlat"),
                    F.lit(899000000),
                ),
                F.lit(-899000000),
            ).alias("lat_i"),
            F.greatest(
                F.least(
                    F.col("lon_i") + F.col("step") * F.col("_dlon"),
                    F.lit(1799000000),
                ),
                F.lit(-1799000000),
            ).alias("lon_i"),
        )
    )


def q131_viterbi_match(spark, sf_dir):
    """HMM map matching of synthetic 5-step traces against the
    synthetic way network (operators/linecover.viterbi_map_match):
    relationally-unrolled Viterbi, top-3 exact candidates per step,
    way-switch penalty 2^38; costs and argmin paths hash-match the
    chained-CTE DuckDB oracle bit-for-bit."""
    from .operators.linecover import viterbi_map_match

    docs, n = _docs_and_n(spark, sf_dir)
    ways = synth_ways(docs, n)
    nodes = _nodes(spark, sf_dir)
    # index_join="auto": the suite input scales the WAYS side with
    # the corpus, so the broadcast-or-shuffle choice is left to
    # Catalyst/AQE size stats (measured 2v8-at-10x efficiency 0.67
    # vs 0.48 with the pinned broadcast hint); results are
    # strategy-invariant (tests/test_smj_fallback.py)
    return viterbi_map_match(
        _synth_traces(nodes),
        ways,
        nodes,
        n_steps=5,
        k=3,
        shift=20,
        index_join="auto",
    )


def q132_hop_distance(spark, sf_dir):
    """Hop-bounded multi-source network distance from the border
    bbox's nodes over the synthetic way network (4 relaxation
    passes, integer weights — operators/linecover.hop_distance)."""
    from .operators.linecover import hop_distance

    docs, n = _docs_and_n(spark, sf_dir)
    ways = synth_ways(docs, n)
    nodes = _nodes(spark, sf_dir)
    return hop_distance(ways, nodes, _inside(nodes), n_hops=4)


def q133_snap_geodesic(spark, sf_dir):
    """Geodesic map matching: every document point snapped to the
    nearest synthetic-way segment under the reference's cosr
    metric (x-deltas scaled at the segment-midpoint latitude band
    — operators/linecover.snap_to_ways_geodesic, radius=2 per the
    cosr completeness rule)."""
    from .operators.linecover import snap_to_ways_geodesic

    docs, n = _docs_and_n(spark, sf_dir)
    ways = synth_ways(docs, n)
    nodes = _nodes(spark, sf_dir)
    return snap_to_ways_geodesic(
        nodes, ways, nodes, shift=20, index_join="auto"
    )


def q140_coverage_gaps(spark, sf_dir):
    """Unmapped-hotspot detection: shift-20 grid cells that hold
    documents but are crossed by NO way geometry — the per-cell
    doc rollup anti-joined against the exact supercover of the
    synthetic way network. Both sides are cell-keyed aggregates,
    so the anti-join shuffles only per-cell rows (AQE handles the
    megacity cell on the doc side)."""
    from .operators.linecover import way_cell_cover

    docs, n = _docs_and_n(spark, sf_dir)
    ways = synth_ways(docs, n)
    nodes = _nodes(spark, sf_dir)
    cover = (
        way_cell_cover(ways, nodes, shift=20)
        .select("cell")
        .distinct()
    )
    dcells = nodes.select(
        (
            F.shiftright(F.col("lat_i") + 900000000, 20) * 4096
            + F.shiftright(F.col("lon_i") + 1800000000, 20)
        ).alias("cell"),
        "doc_id",
    )
    hot = dcells.groupBy("cell").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
    )
    return hot.join(cover, "cell", "left_anti")


def q141_trace_hausdorff(spark, sf_dir):
    """Trajectory similarity: exact discrete Hausdorff distance
    between nearby synthetic traces
    (operators/linecover.trace_hausdorff_pairs). Candidates come
    from a radius-1 dilated cell self-join (side 2^22), never
    all-pairs; `within` is provably the complete set of pairs at
    H <= 2^22 — the same cell-geometry completeness argument as
    the snap operators.
    Density-guarded (max_cell_traces=64): hotspot cells past
    the cap contribute no candidate pairs, bounding worst-case
    work at cap^2 per cell; 64 is inert at every oracle SF
    (max observed dilated-cell occupancy is 29 at sf0.1), so
    the unguarded oracle SQL is an exact twin here while the
    guard bites only at hotspot densities (261+ traces/cell on
    the 10x bench input). trace_pair_overflow reports the
    dropped cells."""
    from .operators.linecover import trace_hausdorff_pairs

    return trace_hausdorff_pairs(
        _synth_traces(_nodes(spark, sf_dir)),
        shift=22,
        max_cell_traces=64,
    )


def q154_trace_frechet(spark, sf_dir):
    """Trajectory similarity, order-aware: exact discrete Frechet
    distance between nearby synthetic traces
    (operators/linecover.trace_frechet_pairs) — the minimax
    monotone-path DP over the same cell-complete candidate pairs
    as q141, unrolled into 8 relational relaxation passes. The
    oracle enumerates every monotone grid path with a recursive
    CTE and takes the min of the path maxima — a genuinely
    different evaluation strategy agreeing hash-exactly.
    Density-guarded (max_cell_traces=64): hotspot cells past
    the cap contribute no candidate pairs, bounding worst-case
    work at cap^2 per cell; 64 is inert at every oracle SF
    (max observed dilated-cell occupancy is 29 at sf0.1), so
    the unguarded oracle SQL is an exact twin here while the
    guard bites only at hotspot densities (261+ traces/cell on
    the 10x bench input). trace_pair_overflow reports the
    dropped cells."""
    from .operators.linecover import trace_frechet_pairs

    return trace_frechet_pairs(
        _synth_traces(_nodes(spark, sf_dir)),
        shift=22,
        n_steps=5,
        max_cell_traces=64,
    )


def q161_trace_dtw(spark, sf_dir):
    """Trajectory similarity, cost-summed: exact dynamic-time-
    warping distance between nearby synthetic traces
    (operators/linecover.trace_dtw_pairs) — the min-TOTAL-cost
    monotone-path DP over the same cell-complete candidate pairs
    as q141/q154. Completes the similarity triad: Hausdorff
    (order-free), Frechet (worst matched step), DTW (summed
    matched cost). The oracle enumerates every monotone grid path
    with a recursive CTE carrying a running SUM and takes the
    terminal min — a genuinely different evaluation strategy
    agreeing hash-exactly on int64 values.
    Density-guarded (max_cell_traces=64): hotspot cells past
    the cap contribute no candidate pairs, bounding worst-case
    work at cap^2 per cell; 64 is inert at every oracle SF
    (max observed dilated-cell occupancy is 29 at sf0.1), so
    the unguarded oracle SQL is an exact twin here while the
    guard bites only at hotspot densities (261+ traces/cell on
    the 10x bench input). trace_pair_overflow reports the
    dropped cells."""
    from .operators.linecover import trace_dtw_pairs

    return trace_dtw_pairs(
        _synth_traces(_nodes(spark, sf_dir)),
        shift=22,
        n_steps=5,
        max_cell_traces=64,
    )


def q213_trace_edr(spark, sf_dir):
    """Trajectory similarity, edit-based: exact Edit Distance on
    Real sequence between nearby synthetic traces
    (operators/linecover.trace_edr_pairs) — diagonal moves cost 0
    within the eps2 tolerance band and 1 outside it, gap moves
    cost 1, over the same cell-complete candidate lattice as
    q141/q154/q161. Completes the similarity family with the
    noise-robust member: one GPS glitch costs DTW its full squared
    excursion but costs EDR exactly 1. The oracle is the shared
    all-monotone-paths recursive CTE with the identical
    thresholded move cost — integer compares only, so values
    hash-match exactly.
    Density-guarded (max_cell_traces=64): hotspot cells past
    the cap contribute no candidate pairs, bounding worst-case
    work at cap^2 per cell; 64 is inert at every oracle SF
    (max observed dilated-cell occupancy is 29 at sf0.1), so
    the unguarded oracle SQL is an exact twin here while the
    guard bites only at hotspot densities (261+ traces/cell on
    the 10x bench input). trace_pair_overflow reports the
    dropped cells."""
    from .operators.linecover import trace_edr_pairs

    return trace_edr_pairs(
        _synth_traces(_nodes(spark, sf_dir)),
        shift=22,
        eps2=4_000_000_000_000,
        n_steps=5,
        max_cell_traces=64,
    )


def _jittered_traces(nodes):
    """q217/q219 input: the shared synthetic traces with a
    deterministic per-step jitter so the polylines genuinely bend
    (the raw traces are straight lines — Douglas-Peucker would
    keep only endpoints and a Markov predictor would see one
    transition per cell). Mirrored literally in the oracles."""
    t = _synth_traces(nodes)
    sq = F.col("step") * F.col("step")
    jlat = ((F.col("trace_id") * 31 + sq * 6007)
            % 400001) - 200000
    jlon = ((F.col("trace_id") * 47 + sq * 9001)
            % 400001) - 200000
    return t.select(
        "trace_id",
        "step",
        (F.col("lat_i") + jlat).alias("lat_i"),
        (F.col("lon_i") + jlon).alias("lon_i"),
    )


def q217_markov_next(spark, sf_dir):
    """First-order Markov next-cell predictor over the jittered
    synthetic traces (operators/linecover.trace_markov_predictor):
    shift-22 cell transition counts, per-source argmax successor
    (ties to the smallest cell) and the exact n_best/n_total
    accuracy pair — the mobility-prediction baseline as a
    three-aggregation relational plan."""
    from .operators.linecover import trace_markov_predictor

    return trace_markov_predictor(
        _jittered_traces(_nodes(spark, sf_dir)), shift=22
    )


def q219_simplify_dp(spark, sf_dir):
    """Douglas-Peucker generalization of the jittered traces
    (operators/linecover.simplify_traces_dp): 3 synchronized split
    rounds, cross-product deviation test against eps=1500 m-ish
    (15000 fix7, eps2 = 2.25e8) with decimal(38,0) squares —
    output is
    the kept (trace_id, step) vertex set, exact against an
    unrolled split-round oracle."""
    from .operators.linecover import simplify_traces_dp

    return simplify_traces_dp(
        _jittered_traces(_nodes(spark, sf_dir)),
        eps2=225_000_000,
        passes=3,
    )


def q234_trace_surprisal(spark, sf_dir):
    """Behavioral trajectory anomaly: per-trace total transition
    surprisal under the corpus's own cell Markov model
    (operators/linecover.trace_surprisal) — integer floor-log2
    code lengths (the lm.py discipline), so a trace riding the
    crowd's flows scores near zero and one cutting against them
    ranks to the top, bit-exact vs the SQL twin."""
    from .operators.linecover import trace_surprisal

    return trace_surprisal(
        _jittered_traces(_nodes(spark, sf_dir)), shift=22
    )


def q162_convex_hull(spark, sf_dir):
    """Exact per-tile convex hull of the document points: the
    coverage footprint a tiling product draws per shift-22 cell
    (operators/hull.convex_hull — Catalyst Akl-Toussaint
    throw-away in DECIMAL(38,0), then an arbitrary-precision
    monotone chain per group). The oracle computes the same hulls
    by gift wrapping (Jarvis march) in a recursive CTE with
    HUGEINT cross products — an independent algorithm that must
    agree on the exact vertex set."""
    from .operators.hull import convex_hull

    nodes = _nodes(spark, sf_dir).select(
        (
            F.shiftright(F.col("lat_i") + 900000000, 22) * 1024
            + F.shiftright(F.col("lon_i") + 1800000000, 22)
        ).alias("cell"),
        "lat_i",
        "lon_i",
    )
    return convex_hull(nodes, "cell")


def q157_isochrone_bands(spark, sf_dir):
    """Isochrone raster: q132's hop-bounded network distances
    joined back to node coordinates and rolled up per shift-22
    cell into integer distance BANDS (band = min network distance
    div 2^22) — the reachability heatmap a routing product draws.
    Composition of the Bellman-Ford relaxation with the tile
    rollup: one extra equi-join + one cell-keyed groupBy on top of
    q132's plan."""
    from .operators.linecover import hop_distance

    docs, n = _docs_and_n(spark, sf_dir)
    ways = synth_ways(docs, n)
    nodes = _nodes(spark, sf_dir)
    dist = hop_distance(ways, nodes, _inside(nodes), n_hops=4)
    located = dist.join(nodes, "doc_id").select(
        "dist",
        (
            F.shiftright(F.col("lat_i") + 900000000, 22) * 1024
            + F.shiftright(F.col("lon_i") + 1800000000, 22)
        ).alias("cell"),
    )
    return (
        located.groupBy("cell")
        .agg(
            F.min("dist").alias("min_dist"),
            F.count("*").cast("long").alias("n_nodes"),
        )
        .select(
            "cell",
            F.expr("min_dist div 4194304").cast("long").alias("band"),
            "n_nodes",
        )
    )


def q156_trace_clusters(spark, sf_dir):
    """Trajectory clustering: traces whose discrete Frechet
    distance is within one cell side (q154's `within`) form an
    undirected similarity graph; connected components resolve by
    star contraction (operators/dedup.cluster_star — the same
    resolver the text dedup pipeline uses, composed over a
    geospatial pair generator). Output
    (trace_id, cluster) with cluster = min trace id. shift=24
    (vs q154's 22) so the within threshold admits real multi-
    member clusters on the synthetic spread.
    Density-guarded (max_cell_traces=512; inert below the
    sf0.1 shift-24 occupancy of 246, bites at the 10x input's
    2461)."""
    from .operators.dedup import cluster_star
    from .operators.linecover import trace_frechet_pairs

    pairs = trace_frechet_pairs(
        _synth_traces(_nodes(spark, sf_dir)),
        shift=24,
        n_steps=5,
        max_cell_traces=512,
    ).where(F.col("within"))
    return cluster_star(
        pairs, a_col="trace_a", b_col="trace_b"
    ).select(F.col("doc_id").alias("trace_id"), "cluster")


def q139_bearing_octants(spark, sf_dir):
    """Exact integer compass octants for every synthetic-trace
    step (operators/linecover.bearing_octants): displacement,
    squared length, and the [k*45,(k+1)*45)-degree sector from
    pure int64 sign/diagonal comparisons — no atan2, no floats.
    One trace-keyed window shuffle."""
    from .operators.linecover import bearing_octants

    return bearing_octants(_synth_traces(_nodes(spark, sf_dir)))


def q160_way_crossings(spark, sf_dir):
    """Exact segment-segment intersection QA
    (operators/crossings.way_crossings): way-segment pairs that
    geometrically cross WITHOUT sharing a junction node — the
    missing-bridge/digitizing-error detector the reference's
    ref-based object model cannot express.  proper/touch classified
    by decimal(38,0) orientation signs (HUGEINT in the oracle);
    candidates come from the exact q106 supercover cell self-join,
    complete because a crossing point's cell is in both covers —
    proven here against the oracle's brute-force pair scan."""
    from .operators.crossings import way_crossings

    docs, n = _docs_and_n(spark, sf_dir)
    ways = synth_ways(docs, n).where(F.col("way_id") % 20 == 0)
    return way_crossings(ways, _nodes(spark, sf_dir), shift=24)


def q183_way_centroids(spark, sf_dir):
    """Exact polygon label points (operators/linecover.
    way_centroids): area-weighted centroid of every closed way,
    floor-rounded to fix7 integers via sign-normalized positive-mod
    floor-division over decimal(38,0) sums — same scan/window plan
    as q112's shoelace area with two extra aggregate columns."""
    from .operators.linecover import way_centroids

    docs, n = _docs_and_n(spark, sf_dir)
    return way_centroids(synth_ways(docs, n), _nodes(spark, sf_dir))


def q184_way_chains(spark, sf_dir):
    """Way stitching: ways sharing an ENDPOINT node form one
    polyline chain — the rendering/routing preprocessing step the
    reference leaves to consumers of its ring assembly. Chain ids
    by star-contraction connected components (operators/dedup.
    cluster_star — chains are exactly the unbounded-diameter case
    propagation's pass cap cannot resolve); singleton ways chain
    to themselves. Oracle: recursive transitive closure, min-id
    per component."""
    from .operators.dedup import cluster_star

    docs, n = _docs_and_n(spark, sf_dir)
    ways = synth_ways(docs, n)
    ends = ways.select(
        "way_id",
        F.explode(
            F.array(
                F.element_at("refs", 1), F.element_at("refs", -1)
            )
        ).alias("ep"),
    ).distinct()
    pairs = (
        ends.alias("x")
        .join(
            ends.alias("y"),
            (F.col("x.ep") == F.col("y.ep"))
            & (F.col("x.way_id") < F.col("y.way_id")),
        )
        .select(
            F.col("x.way_id").alias("a"),
            F.col("y.way_id").alias("b"),
        )
    )
    comp = cluster_star(pairs).withColumnRenamed(
        "doc_id", "way_id"
    )
    return ways.select("way_id").join(comp, "way_id", "left").select(
        "way_id",
        F.coalesce("cluster", F.col("way_id"))
        .cast("long")
        .alias("chain"),
    )


GRAPH_QUERIES = {
    "q23_way_geometry": q23_way_geometry,
    "q24_way_clip": q24_way_clip,
    "q25_complete_ways": q25_complete_ways,
    "q26_broken_refs": q26_broken_refs,
    "q27_rel_closure": q27_rel_closure,
    "q38_rel_closure_down": q38_rel_closure_down,
    "q39_rel_geometry": q39_rel_geometry,
    "q51_rel_centers_fixpoint": q51_rel_centers_fixpoint,
    "q106_way_cell_cover": q106_way_cell_cover,
    "q107_route_corridor": q107_route_corridor,
    "q109_way_length": q109_way_length,
    "q112_way_area": q112_way_area,
    "q128_snap_to_ways": q128_snap_to_ways,
    "q130_addr_interp": q130_addr_interp,
    "q131_viterbi_match": q131_viterbi_match,
    "q132_hop_distance": q132_hop_distance,
    "q133_snap_geodesic": q133_snap_geodesic,
    "q139_bearing_octants": q139_bearing_octants,
    "q140_coverage_gaps": q140_coverage_gaps,
    "q141_trace_hausdorff": q141_trace_hausdorff,
    "q154_trace_frechet": q154_trace_frechet,
    "q156_trace_clusters": q156_trace_clusters,
    "q157_isochrone_bands": q157_isochrone_bands,
    "q160_way_crossings": q160_way_crossings,
    "q161_trace_dtw": q161_trace_dtw,
    "q213_trace_edr": q213_trace_edr,
    "q217_markov_next": q217_markov_next,
    "q219_simplify_dp": q219_simplify_dp,
    "q234_trace_surprisal": q234_trace_surprisal,
    "q162_convex_hull": q162_convex_hull,
    "q183_way_centroids": q183_way_centroids,
    "q184_way_chains": q184_way_chains,
}

_RELS_CTE = f"""
rels2 AS (
  SELECT doc_id AS rel_id,
    ((doc_id * 53 + 7) * {HASH_MULT} % {HASH_MOD})
      % {_N_DOCS} AS node_member,
    (doc_id % (({_N_DOCS}) // 4)) * 4 AS way_member,
    CASE WHEN doc_id >= 16 AND (doc_id // 16) % 7 <> 0
         THEN doc_id - 16 END AS child_rel
  FROM documents WHERE doc_id % 16 = 0
)
"""

_WAY_CENTERS_CTE = """
res AS (
  SELECT r.way_id, r.j, p.lat_i, p.lon_i
  FROM wrefs r JOIN pts p ON p.doc_id = r.ref
),
wagg AS (
  SELECT way_id,
         MIN(lon_i) AS x_min, MAX(lon_i) AS x_max,
         MIN(lat_i) AS y_min, MAX(lat_i) AS y_max
  FROM res GROUP BY 1
),
wmid AS (
  SELECT *, x_max // 2 + x_min // 2 AS x_mid,
         (y_max + y_min) // 2 AS y_mid,
         (way_id % 3 = 0) AS is_closed
  FROM wagg
),
wnear AS (
  SELECT r.way_id, r.lon_i, r.lat_i,
    ROW_NUMBER() OVER (PARTITION BY r.way_id
      ORDER BY abs(r.lon_i - m.x_mid) + abs(r.lat_i - m.y_mid),
               r.j) AS rn
  FROM res r JOIN wmid m USING (way_id)
),
centers AS (
  SELECT m.way_id,
    CASE WHEN m.is_closed THEN m.x_mid ELSE n.lon_i END AS cx,
    CASE WHEN m.is_closed THEN m.y_mid ELSE n.lat_i END AS cy
  FROM wmid m JOIN wnear n ON n.way_id = m.way_id AND n.rn = 1
)
"""




def _cosr_values() -> str:
    from .geo.bboxtags import cosr_table

    return ", ".join(
        f"({i}, {v})" for i, v in enumerate(cosr_table())
    )


_D2_CASE = """CASE WHEN apx*abx + apy*aby <= 0
              OR abx*abx + aby*aby = 0
         THEN apx*apx + apy*apy
         WHEN apx*abx + apy*aby >= abx*abx + aby*aby
         THEN bpx*bpx + bpy*bpy
         ELSE (apx*apx + apy*apy)
              - ((apx*abx + apy*aby) / (abx*abx + aby*aby))
                * (apx*abx + apy*aby)
    END"""


def _viterbi_oracle_sql(g: str, n_steps: int = 5, k: int = 3) -> str:
    """Chained-CTE Viterbi mirror of linecover.viterbi_map_match:
    same candidate ranking, same (cost, ppath) struct argmin (the
    zero-padded fixed-width tie-break key that makes the engine's
    2-step fusion associative — this oracle stays ONE-step-staged,
    the genuinely different evaluation order the key provably
    reconciles), same left-to-right double accumulation and switch
    penalty 2^38."""
    from .operators.linecover import VIT_PAD_SEG, VIT_PAD_WAY

    pen = float(1 << 38)
    pl = (
        f"lpad(CAST(way_id AS VARCHAR), {VIT_PAD_WAY}, '0') || '-'"
        f" || lpad(CAST(seg_idx AS VARCHAR), {VIT_PAD_SEG}, '0')"
    )
    plc = (
        f"lpad(CAST(c.way_id AS VARCHAR), {VIT_PAD_WAY}, '0')"
        f" || '-' ||"
        f" lpad(CAST(c.seg_idx AS VARCHAR), {VIT_PAD_SEG}, '0')"
    )
    head = f"""
{g},
vpts AS (
  SELECT p.doc_id AS trace_id, CAST(t.s AS BIGINT) AS step,
    GREATEST(LEAST(p.lon_i + t.s * (((p.doc_id * 104729) % 262145)
        - 131072), 1799000000), -1799000000) AS px,
    GREATEST(LEAST(p.lat_i + t.s * (((p.doc_id * 7919) % 262145)
        - 131072), 899000000), -899000000) AS py
  FROM pts p CROSS JOIN LATERAL
    (SELECT unnest(range(0, {n_steps})) AS s) t
  WHERE p.doc_id % 20 = 0
),
vpos AS (
  SELECT r.way_id, r.j, p.lon_i AS ax, p.lat_i AS ay
  FROM wrefs r JOIN pts p ON p.doc_id = r.ref
),
vseg AS (
  SELECT way_id, j AS seg_idx, ax, ay,
         LEAD(ax) OVER (PARTITION BY way_id ORDER BY j) AS bx,
         LEAD(ay) OVER (PARTITION BY way_id ORDER BY j) AS by
  FROM vpos
),
vsc AS (
  SELECT q.trace_id, q.step, s.way_id, s.seg_idx,
    CAST(q.px - s.ax AS DOUBLE) AS apx,
    CAST(q.py - s.ay AS DOUBLE) AS apy,
    CAST(s.bx - s.ax AS DOUBLE) AS abx,
    CAST(s.by - s.ay AS DOUBLE) AS aby,
    CAST(q.px - s.bx AS DOUBLE) AS bpx,
    CAST(q.py - s.by AS DOUBLE) AS bpy
  FROM vpts q CROSS JOIN vseg s WHERE s.bx IS NOT NULL
),
vd AS (
  SELECT trace_id, step, way_id, seg_idx, {_D2_CASE} AS d2
  FROM vsc
),
vk AS (
  SELECT trace_id, step, way_id, seg_idx, d2 FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY trace_id, step
              ORDER BY d2, way_id, seg_idx) AS rn
    FROM vd WHERE d2 <= 1099511627776.0
  ) WHERE rn <= {k}
),
v0 AS (
  SELECT trace_id, way_id, seg_idx, d2 AS cost,
         CAST(way_id AS VARCHAR) || '-' || CAST(seg_idx AS VARCHAR)
           AS path,
         {pl} AS ppath
  FROM vk WHERE step = 0
)"""
    steps = []
    for t in range(1, n_steps):
        steps.append(f""",
v{t}m AS (
  SELECT trace_id, way_id, seg_idx,
         MIN({{'cost': c2, 'ppath': pp2, 'path': p2}}) AS m
  FROM (
    SELECT s.trace_id, c.way_id, c.seg_idx,
      (s.cost + CASE WHEN c.way_id = s.way_id THEN 0.0
                     ELSE {pen!r} END) + c.d2 AS c2,
      s.path || '>' || CAST(c.way_id AS VARCHAR) || '-'
             || CAST(c.seg_idx AS VARCHAR) AS p2,
      s.ppath || '>' || {plc} AS pp2
    FROM v{t - 1} s JOIN vk c
      ON c.trace_id = s.trace_id AND c.step = {t}
  ) GROUP BY 1, 2, 3
),
v{t} AS (
  SELECT trace_id, way_id, seg_idx,
         m.cost AS cost, m.ppath AS ppath, m.path AS path
  FROM v{t}m
)""")
    tail = f"""
SELECT trace_id, m.cost AS total_cost, m.path AS path FROM (
  SELECT trace_id, MIN({{'cost': cost, 'ppath': ppath,
                         'path': path}}) AS m
  FROM v{n_steps - 1} GROUP BY 1
)"""
    return head + "".join(steps) + tail


def _hop_oracle_sql(g: str, n_hops: int = 4) -> str:
    """Chained-relaxation mirror of linecover.hop_distance —
    integer weights, so no fp caveats at all."""
    head = f"""
{g},
hpos AS (
  SELECT r.way_id, r.j, r.ref, p.lon_i AS ax, p.lat_i AS ay
  FROM wrefs r JOIN pts p ON p.doc_id = r.ref
),
hseg AS (
  SELECT way_id, j, ref AS u, ax, ay,
         LEAD(ref) OVER (PARTITION BY way_id ORDER BY j) AS v,
         LEAD(ax) OVER (PARTITION BY way_id ORDER BY j) AS bx,
         LEAD(ay) OVER (PARTITION BY way_id ORDER BY j) AS by
  FROM hpos
),
hw AS (
  SELECT u, v,
    CAST(floor(sqrt(
      CAST(bx - ax AS DOUBLE) * CAST(bx - ax AS DOUBLE)
      + CAST(by - ay AS DOUBLE) * CAST(by - ay AS DOUBLE)))
      AS BIGINT) AS w
  FROM hseg WHERE v IS NOT NULL
),
hedges AS (
  SELECT u, v, w FROM hw
  UNION ALL
  SELECT v AS u, u AS v, w FROM hw
),
hd0 AS (
  SELECT DISTINCT doc_id AS node, CAST(0 AS BIGINT) AS dist
  FROM inside
)"""
    steps = []
    for t in range(1, n_hops + 1):
        steps.append(f""",
hd{t} AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM hd{t - 1}
    UNION ALL
    SELECT e.v AS node, d.dist + e.w AS dist
    FROM hd{t - 1} d JOIN hedges e ON e.u = d.node
  ) GROUP BY 1
)""")
    tail = f"""
SELECT node AS doc_id, dist FROM hd{n_hops}"""
    return head + "".join(steps) + tail


def _isochrone_oracle_sql(g: str, n_hops: int = 4) -> str:
    """q157: the hop oracle's relaxation chain with a cell/band
    rollup tail instead of the per-node projection."""
    base = _hop_oracle_sql(g, n_hops)
    tail = f"\nSELECT node AS doc_id, dist FROM hd{n_hops}"
    assert base.endswith(tail)
    return base[: -len(tail)] + f""",
iso AS (
  SELECT h.dist,
    ((p.lat_i + 900000000) >> 22) * 1024
    + ((p.lon_i + 1800000000) >> 22) AS cell
  FROM hd{n_hops} h JOIN pts p ON p.doc_id = h.node
)
SELECT cell, CAST(MIN(dist) // 4194304 AS BIGINT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM iso GROUP BY 1
"""


def _frechet_ctes(
    shift: int,
    combine: str = "GREATEST(w.f, g.d2)",
    seed: str = "d2",
) -> str:
    """Shared CTE chain for the monotone-path-DP oracles
    (q154/q156 Frechet, q161 DTW, q213 EDR): synthetic traces ->
    dilated-cell candidate pairs (cell side 2**shift) ->
    step-distance grid -> recursive all-monotone-paths walk with a
    running combine (max for Frechet, sum for DTW, thresholded
    move cost for EDR) from a parametrized (0,0) seed cost."""
    pack = 1 << max(int(3_600_000_000 >> shift).bit_length(), 1)
    return f"""
tr AS (
  SELECT p.doc_id AS trace_id, CAST(t.s AS BIGINT) AS step,
    GREATEST(LEAST(p.lon_i + t.s * (((p.doc_id * 104729) % 262145)
        - 131072), 1799000000), -1799000000) AS lon_i,
    GREATEST(LEAST(p.lat_i + t.s * (((p.doc_id * 7919) % 262145)
        - 131072), 899000000), -899000000) AS lat_i
  FROM pts p CROSS JOIN LATERAL
    (SELECT unnest(range(0, 5)) AS s) t
  WHERE p.doc_id % 20 = 0
),
cl AS (
  SELECT trace_id, (lat_i + 900000000) >> {shift} AS latb,
         (lon_i + 1800000000) >> {shift} AS lonb
  FROM tr
),
own AS (
  SELECT DISTINCT trace_id, latb * {pack} + lonb AS cell FROM cl
),
dil AS (
  SELECT DISTINCT trace_id AS trace_b,
         (latb + dv.v) * {pack} + (lonb + du.u) AS cell
  FROM cl
  CROSS JOIN LATERAL (SELECT unnest(range(-1, 2)) AS v) dv
  CROSS JOIN LATERAL (SELECT unnest(range(-1, 2)) AS u) du
),
prs AS (
  SELECT DISTINCT o.trace_id AS trace_a, d.trace_b
  FROM own o JOIN dil d ON o.cell = d.cell
  WHERE o.trace_id < d.trace_b
),
m AS (
  SELECT p.trace_a, p.trace_b, a.step AS ai, b.step AS bj,
    (a.lat_i - b.lat_i) * (a.lat_i - b.lat_i)
    + (a.lon_i - b.lon_i) * (a.lon_i - b.lon_i) AS d2
  FROM prs p
  JOIN tr a ON a.trace_id = p.trace_a
  JOIN tr b ON b.trace_id = p.trace_b
),
walk AS (
  SELECT trace_a, trace_b, ai AS i, bj AS j, {seed} AS f
  FROM m WHERE ai = 0 AND bj = 0
  UNION
  SELECT g.trace_a, g.trace_b, g.ai, g.bj, {combine}
  FROM walk w JOIN m g
    ON g.trace_a = w.trace_a AND g.trace_b = w.trace_b
   AND ((g.ai = w.i + 1 AND g.bj = w.j)
     OR (g.ai = w.i AND g.bj = w.j + 1)
     OR (g.ai = w.i + 1 AND g.bj = w.j + 1))
)
""".strip()


_JTR_CTE = """
tr0 AS (
  SELECT p.doc_id AS trace_id, CAST(t.s AS BIGINT) AS step,
    GREATEST(LEAST(p.lon_i + t.s * (((p.doc_id * 104729) % 262145)
        - 131072), 1799000000), -1799000000) AS lon_i,
    GREATEST(LEAST(p.lat_i + t.s * (((p.doc_id * 7919) % 262145)
        - 131072), 899000000), -899000000) AS lat_i
  FROM pts p CROSS JOIN LATERAL
    (SELECT unnest(range(0, 5)) AS s) t
  WHERE p.doc_id % 20 = 0
),
jtr AS (
  SELECT trace_id, step,
    lon_i + ((trace_id * 47 + step * step * 9001) % 400001)
      - 200000 AS lon_i,
    lat_i + ((trace_id * 31 + step * step * 6007) % 400001)
      - 200000 AS lat_i
  FROM tr0
)
""".strip()


def _dp_round_ctes(n_rounds: int, eps2: int) -> str:
    """Unrolled Douglas-Peucker split rounds over the jtr CTE —
    the q219 oracle. Each round: candidate interior points per
    open segment (three jtr self-joins), max-deviation witness via
    (cross^2 DESC, step) ranking with the cross squared as HUGEINT
    (the engine squares in decimal(38,0) — both exact), split
    where c2 > eps2 * len2, accumulate kept, open the two child
    segments that still have interiors."""
    out = ["""
dpe AS (SELECT trace_id, MIN(step) AS i0, MAX(step) AS j0
        FROM jtr GROUP BY 1),
kept0 AS (SELECT trace_id, i0 AS step FROM dpe
          UNION SELECT trace_id, j0 FROM dpe),
seg0 AS (SELECT trace_id, i0 AS i, j0 AS j FROM dpe
         WHERE j0 > i0 + 1)""".strip()]
    for r in range(1, n_rounds + 1):
        out.append(f"""
cand{r} AS (
  SELECT s.trace_id, s.i, s.j, k.step,
    CAST((aj.lon_i - ai.lon_i) * (k.lat_i - ai.lat_i)
       - (aj.lat_i - ai.lat_i) * (k.lon_i - ai.lon_i)
       AS HUGEINT) AS cr,
    (aj.lon_i - ai.lon_i) * (aj.lon_i - ai.lon_i)
      + (aj.lat_i - ai.lat_i) * (aj.lat_i - ai.lat_i) AS len2
  FROM seg{r - 1} s
  JOIN jtr k ON k.trace_id = s.trace_id
    AND k.step > s.i AND k.step < s.j
  JOIN jtr ai ON ai.trace_id = s.trace_id AND ai.step = s.i
  JOIN jtr aj ON aj.trace_id = s.trace_id AND aj.step = s.j
),
rank{r} AS (
  SELECT trace_id, i, j, step, cr * cr AS c2, len2,
    ROW_NUMBER() OVER (PARTITION BY trace_id, i, j
                       ORDER BY cr * cr DESC, step) AS rn
  FROM cand{r}
),
split{r} AS (
  SELECT trace_id, i, j, step AS bk FROM rank{r}
  WHERE rn = 1 AND c2 > CAST({int(eps2)} AS HUGEINT) * len2
),
kept{r} AS (SELECT trace_id, step FROM kept{r - 1}
            UNION SELECT trace_id, bk FROM split{r}),
seg{r} AS (
  SELECT trace_id, i, bk AS j FROM split{r} WHERE bk > i + 1
  UNION ALL
  SELECT trace_id, bk AS i, j FROM split{r} WHERE j > bk + 1
)""".strip())
    return ",\n".join(out)


def graph_oracle_sqls(pts_cte: str) -> dict[str, str]:
    g = f"WITH {pts_cte},\n{_GRAPH_CTES}"
    return {
        "q23_way_geometry": f"""
{g},
res AS (
  SELECT r.way_id, r.j, p.lat_i, p.lon_i
  FROM wrefs r JOIN pts p ON p.doc_id = r.ref
),
agg AS (
  SELECT way_id, COUNT(*) AS n_refs,
         MIN(lon_i) AS x_min, MAX(lon_i) AS x_max,
         MIN(lat_i) AS y_min, MAX(lat_i) AS y_max
  FROM res GROUP BY 1
),
mid AS (
  SELECT *, x_max // 2 + x_min // 2 AS x_mid,
         (y_max + y_min) // 2 AS y_mid,
         (way_id % 3 = 0) AS is_closed
  FROM agg
),
near AS (
  SELECT r.way_id, r.lon_i, r.lat_i,
    ROW_NUMBER() OVER (PARTITION BY r.way_id
      ORDER BY abs(r.lon_i - m.x_mid) + abs(r.lat_i - m.y_mid),
               r.j) AS rn
  FROM res r JOIN mid m USING (way_id)
)
SELECT m.way_id, m.n_refs, m.is_closed,
       m.x_min, m.x_max, m.y_min, m.y_max,
  CASE WHEN m.is_closed THEN m.x_mid ELSE n.lon_i END AS center_lon,
  CASE WHEN m.is_closed THEN m.y_mid ELSE n.lat_i END AS center_lat
FROM mid m JOIN near n ON n.way_id = m.way_id AND n.rn = 1
""",
        "q24_way_clip": f"""
{g}
SELECT DISTINCT r.way_id
FROM wrefs r JOIN inside i ON i.doc_id = r.ref
""",
        "q25_complete_ways": f"""
{g},
kept AS (
  SELECT DISTINCT r.way_id
  FROM wrefs r JOIN inside i ON i.doc_id = r.ref
),
pulled AS (
  SELECT DISTINCT ref AS doc_id FROM wrefs
  WHERE way_id IN (SELECT way_id FROM kept)
  UNION
  SELECT doc_id FROM inside
)
SELECT p.doc_id, p.lat_i, p.lon_i
FROM pts p JOIN pulled u USING (doc_id)
""",
        "q26_broken_refs": f"""
{g}
SELECT r.way_id, COUNT(*) AS n_kept_refs,
  string_agg(CAST(r.ref AS VARCHAR), ',' ORDER BY r.j) AS refs_str
FROM wrefs r JOIN inside i ON i.doc_id = r.ref
GROUP BY r.way_id
""",
        "q27_rel_closure": f"""
WITH RECURSIVE {pts_cte},
{_GRAPH_CTES},
rels AS (
  SELECT doc_id AS rel_id,
    ((doc_id * 53 + 7) * {HASH_MULT} % {HASH_MOD})
      % {_N_DOCS} AS node_member,
    CASE WHEN doc_id >= 16 AND (doc_id // 16) % 7 <> 0
         THEN doc_id - 16 END AS child_rel
  FROM documents WHERE doc_id % 16 = 0
),
seeds AS (
  SELECT r.rel_id FROM rels r
  JOIN inside i ON i.doc_id = r.node_member
),
flagged(rel_id, depth) AS (
  SELECT rel_id, 0 FROM seeds
  UNION
  SELECT r.rel_id, f.depth + 1
  FROM rels r JOIN flagged f ON r.child_rel = f.rel_id
  WHERE f.depth < 12
)
SELECT DISTINCT rel_id FROM flagged
""",
        "q38_rel_closure_down": f"""
WITH RECURSIVE {pts_cte},
{_GRAPH_CTES},
{_RELS_CTE.strip().lstrip()},
seeds AS (
  SELECT rel_id FROM rels2 WHERE (rel_id // 16) % 5 = 0
),
flagged(rel_id, depth) AS (
  SELECT rel_id, 0 FROM seeds
  UNION
  SELECT r.child_rel, f.depth + 1
  FROM rels2 r JOIN flagged f ON r.rel_id = f.rel_id
  WHERE r.child_rel IS NOT NULL AND f.depth < 12
),
kept AS (SELECT DISTINCT rel_id FROM flagged),
picked AS (
  SELECT DISTINCT doc_id FROM (
    SELECT node_member AS doc_id FROM rels2
    WHERE rel_id IN (SELECT rel_id FROM kept)
    UNION ALL
    SELECT w.ref FROM wrefs w
    WHERE w.way_id IN (
      SELECT DISTINCT way_member FROM rels2
      WHERE rel_id IN (SELECT rel_id FROM kept)
    )
  )
)
SELECT p.doc_id, p.lat_i, p.lon_i
FROM pts p JOIN picked k USING (doc_id)
""",
        "q39_rel_geometry": f"""
WITH {pts_cte},
{_GRAPH_CTES},
{_RELS_CTE.strip().lstrip()},
{_WAY_CENTERS_CTE.strip().lstrip()},
relpos AS (
  SELECT r.rel_id,
    p.lon_i AS nx, p.lat_i AS ny,
    c.cx AS wx, c.cy AS wy,
    (r.rel_id % 2 = 0) AS is_area
  FROM rels2 r
  JOIN pts p ON p.doc_id = r.node_member
  JOIN centers c ON c.way_id = r.way_member
)
SELECT rel_id,
  CASE WHEN is_area
       THEN greatest(nx, wx) // 2 + least(nx, wx) // 2
       ELSE wx END AS x,
  CASE WHEN is_area
       THEN (greatest(ny, wy) + least(ny, wy)) // 2
       ELSE wy END AS y
FROM relpos
""",
        "q51_rel_centers_fixpoint": f"""
WITH RECURSIVE {pts_cte},
{_GRAPH_CTES},
{_RELS_CTE.strip().lstrip()},
{_WAY_CENTERS_CTE.strip().lstrip()},
relbase AS (
  SELECT r.rel_id, r.child_rel,
    p.lon_i AS nx, p.lat_i AS ny,
    c.cx AS wx, c.cy AS wy,
    (r.rel_id % 2 = 0) AS is_area
  FROM rels2 r
  JOIN pts p ON p.doc_id = r.node_member
  JOIN centers c ON c.way_id = r.way_member
),
fix AS (
  SELECT rel_id,
    CASE WHEN is_area
         THEN greatest(nx, wx) // 2 + least(nx, wx) // 2
         ELSE wx END AS x,
    CASE WHEN is_area
         THEN (greatest(ny, wy) + least(ny, wy)) // 2
         ELSE wy END AS y
  FROM relbase WHERE child_rel IS NULL
  UNION ALL
  SELECT r.rel_id,
    CASE WHEN r.is_area
         THEN greatest(r.nx, r.wx, f.x) // 2
              + least(r.nx, r.wx, f.x) // 2
         ELSE f.x END,
    CASE WHEN r.is_area
         THEN (greatest(r.ny, r.wy, f.y)
               + least(r.ny, r.wy, f.y)) // 2
         ELSE f.y END
  FROM relbase r JOIN fix f ON f.rel_id = r.child_rel
)
SELECT rel_id, x, y FROM fix
""",
        # closed-way shoelace: centered cross products in HUGEINT
        "q112_way_area": f"""
{g},
wn AS (
  SELECT way_id, MAX(j) AS jmax, COUNT(*) AS n
  FROM wrefs GROUP BY 1
),
cl AS (
  SELECT w.way_id FROM wn w
  JOIN wrefs a ON a.way_id = w.way_id AND a.j = 1
  JOIN wrefs b ON b.way_id = w.way_id AND b.j = w.jmax
  WHERE a.ref = b.ref AND w.n >= 4
),
pos AS (
  SELECT r.way_id, r.j, p.lat_i, p.lon_i
  FROM wrefs r JOIN pts p ON p.doc_id = r.ref
  WHERE r.way_id IN (SELECT way_id FROM cl)
),
seg AS (
  SELECT way_id,
    lon_i - FIRST_VALUE(lon_i) OVER w AS x,
    lat_i - FIRST_VALUE(lat_i) OVER w AS y,
    LEAD(lon_i) OVER w - FIRST_VALUE(lon_i) OVER w AS x2,
    LEAD(lat_i) OVER w - FIRST_VALUE(lat_i) OVER w AS y2
  FROM pos WINDOW w AS (PARTITION BY way_id ORDER BY j)
)
SELECT way_id, CAST(COUNT(*) AS BIGINT) AS n_edges,
  CAST(SUM(CAST(x AS HUGEINT) * y2
           - CAST(x2 AS HUGEINT) * y) AS BIGINT) AS two_a
FROM seg WHERE x2 IS NOT NULL GROUP BY 1
""",
        # endpoint-shared transitive closure, min-id per component;
        # singletons chain to themselves
        "q184_way_chains": f"""
WITH RECURSIVE {pts_cte},
{_GRAPH_CTES},
ends AS (
  SELECT DISTINCT r.way_id, r.ref AS ep
  FROM wrefs r
  JOIN (SELECT way_id, MAX(j) AS jmax FROM wrefs GROUP BY 1) m
    ON m.way_id = r.way_id AND (r.j = 1 OR r.j = m.jmax)
),
wedges AS (
  SELECT DISTINCT x.way_id AS u, y.way_id AS v
  FROM ends x JOIN ends y
    ON x.ep = y.ep AND x.way_id <> y.way_id
),
reach(u, v) AS (
  SELECT DISTINCT u, u FROM wedges
  UNION
  SELECT r.u, e.v FROM reach r JOIN wedges e ON e.u = r.v
),
comp AS (SELECT u AS way_id, MIN(v) AS chain FROM reach GROUP BY u)
SELECT w.way_id,
  CAST(COALESCE(c.chain, w.way_id) AS BIGINT) AS chain
FROM ways w LEFT JOIN comp c USING (way_id)
""",
        # the q112 seg CTE plus centroid numerators; floor division
        # by sign-normalized 3|2A| via the positive-mod subtraction
        # (DuckDB // truncates; after the subtraction it floors)
        "q183_way_centroids": f"""
{g},
wn AS (
  SELECT way_id, MAX(j) AS jmax, COUNT(*) AS n
  FROM wrefs GROUP BY 1
),
cl AS (
  SELECT w.way_id FROM wn w
  JOIN wrefs a ON a.way_id = w.way_id AND a.j = 1
  JOIN wrefs b ON b.way_id = w.way_id AND b.j = w.jmax
  WHERE a.ref = b.ref AND w.n >= 4
),
pos AS (
  SELECT r.way_id, r.j, p.lat_i, p.lon_i
  FROM wrefs r JOIN pts p ON p.doc_id = r.ref
  WHERE r.way_id IN (SELECT way_id FROM cl)
),
seg AS (
  SELECT way_id,
    FIRST_VALUE(lon_i) OVER w AS x0,
    FIRST_VALUE(lat_i) OVER w AS y0,
    lon_i - FIRST_VALUE(lon_i) OVER w AS x,
    lat_i - FIRST_VALUE(lat_i) OVER w AS y,
    LEAD(lon_i) OVER w - FIRST_VALUE(lon_i) OVER w AS x2,
    LEAD(lat_i) OVER w - FIRST_VALUE(lat_i) OVER w AS y2
  FROM pos WINDOW w AS (PARTITION BY way_id ORDER BY j)
),
sums AS (
  SELECT way_id, MIN(x0) AS x0, MIN(y0) AS y0,
    SUM(CAST(x AS HUGEINT) * y2 - CAST(x2 AS HUGEINT) * y)
      AS two_a,
    SUM(CAST(x + x2 AS HUGEINT)
        * (CAST(x AS HUGEINT) * y2 - CAST(x2 AS HUGEINT) * y))
      AS nx,
    SUM(CAST(y + y2 AS HUGEINT)
        * (CAST(x AS HUGEINT) * y2 - CAST(x2 AS HUGEINT) * y))
      AS ny
  FROM seg WHERE x2 IS NOT NULL GROUP BY 1
),
norm AS (
  SELECT way_id, x0, y0, two_a,
    nx * (CASE WHEN two_a < 0 THEN -1 ELSE 1 END) AS nxs,
    ny * (CASE WHEN two_a < 0 THEN -1 ELSE 1 END) AS nys,
    ABS(two_a) * 3 AS den
  FROM sums WHERE two_a <> 0
)
SELECT way_id, CAST(two_a AS BIGINT) AS two_a,
  CAST(x0 + (nxs - ((nxs % den + den) % den)) // den AS BIGINT)
    AS cx_fix,
  CAST(y0 + (nys - ((nys % den + den) % den)) // den AS BIGINT)
    AS cy_fix
FROM norm
""",
        # cosr-scaled route length; same 16-bit-halves exact
        # 2^32 division as the operator, sqrt IEEE-pinned
        "q109_way_length": f"""
{g},
cosr(i, v) AS (VALUES {_cosr_values()}),
pos AS (
  SELECT r.way_id, r.j, p.lat_i, p.lon_i
  FROM wrefs r JOIN pts p ON p.doc_id = r.ref
),
seg AS (
  SELECT way_id, lat_i, lon_i,
         LEAD(lat_i) OVER (PARTITION BY way_id ORDER BY j) AS lat2,
         LEAD(lon_i) OVER (PARTITION BY way_id ORDER BY j) AS lon2
  FROM pos
),
sc AS (
  SELECT way_id,
         abs(lon2 - lon_i) AS dx, abs(lat2 - lat_i) AS dy,
         least(abs(lat_i + lat2) // 2 // 1000000, 900) AS i
  FROM seg WHERE lat2 IS NOT NULL
),
sl AS (
  SELECT way_id, dy,
         (c.v * (sc.dx // 65536)) // 65536
         + (((c.v * (sc.dx // 65536)) % 65536) * 65536
            + c.v * (sc.dx % 65536)) // 4294967296 AS dxs
  FROM sc JOIN cosr c ON c.i = sc.i
)
SELECT way_id, CAST(COUNT(*) AS BIGINT) AS n_segs,
       CAST(SUM(CAST(floor(sqrt(
         CAST(dxs AS DOUBLE) * CAST(dxs AS DOUBLE)
         + CAST(dy AS DOUBLE) * CAST(dy AS DOUBLE)))
         AS BIGINT)) AS BIGINT) AS len_units
FROM sl GROUP BY 1
""",
        # exact integer supercover, shift=20: S=1048576, the packed
        # cell = cv * 4096 + cu (geo/cells._lon_bits(20) = 12).
        # Same column-sweep as operators/linecover.py: all values
        # non-negative so DuckDB // (floor) == Spark div (trunc).
        "q106_way_cell_cover": f"""
{g},
{_COVER_CTES}
SELECT way_id, cell FROM pcells
UNION
SELECT way_id, cell FROM scells
""",
        # brute-force segment-pair scan with HUGEINT orientation
        # signs — deliberately INDEPENDENT of the operator's
        # supercover candidate generator, so a hash match also
        # proves candidate completeness
        "q160_way_crossings": f"""
{g},
xpos AS (
  SELECT r.way_id, r.j, r.ref, p.lon_i AS ax, p.lat_i AS ay
  FROM wrefs r JOIN pts p ON p.doc_id = r.ref
  WHERE r.way_id % 20 = 0
),
xseg0 AS (
  SELECT way_id, j AS seg_idx, ref AS ra, ax, ay,
         LEAD(ref) OVER (PARTITION BY way_id ORDER BY j) AS rb,
         LEAD(ax) OVER (PARTITION BY way_id ORDER BY j) AS bx,
         LEAD(ay) OVER (PARTITION BY way_id ORDER BY j) AS by
  FROM xpos
),
xseg AS (SELECT * FROM xseg0 WHERE bx IS NOT NULL),
xd AS (
  SELECT a.way_id AS way_a, a.seg_idx AS seg_a,
         b.way_id AS way_b, b.seg_idx AS seg_b,
         a.ax AS ax1, a.ay AS ay1, a.bx AS bx1, a.by AS by1,
         b.ax AS ax2, b.ay AS ay2, b.bx AS bx2, b.by AS by2,
         CAST(a.bx - a.ax AS HUGEINT) * (b.ay - a.ay)
           - CAST(a.by - a.ay AS HUGEINT) * (b.ax - a.ax) AS d1,
         CAST(a.bx - a.ax AS HUGEINT) * (b.by - a.ay)
           - CAST(a.by - a.ay AS HUGEINT) * (b.bx - a.ax) AS d2,
         CAST(b.bx - b.ax AS HUGEINT) * (a.ay - b.ay)
           - CAST(b.by - b.ay AS HUGEINT) * (a.ax - b.ax) AS d3,
         CAST(b.bx - b.ax AS HUGEINT) * (a.by - b.ay)
           - CAST(b.by - b.ay AS HUGEINT) * (a.bx - b.ax) AS d4
  FROM xseg a JOIN xseg b
    ON (a.way_id < b.way_id
        OR (a.way_id = b.way_id AND a.seg_idx < b.seg_idx))
   AND a.ra <> b.ra AND a.ra <> b.rb
   AND a.rb <> b.ra AND a.rb <> b.rb
),
xsg AS (
  SELECT *,
    CASE WHEN d1 > 0 THEN 1 WHEN d1 < 0 THEN -1 ELSE 0 END AS s1,
    CASE WHEN d2 > 0 THEN 1 WHEN d2 < 0 THEN -1 ELSE 0 END AS s2,
    CASE WHEN d3 > 0 THEN 1 WHEN d3 < 0 THEN -1 ELSE 0 END AS s3,
    CASE WHEN d4 > 0 THEN 1 WHEN d4 < 0 THEN -1 ELSE 0 END AS s4
  FROM xd
)
SELECT way_a, seg_a, way_b, seg_b,
  CASE WHEN s1 * s2 = -1 AND s3 * s4 = -1
       THEN 'proper' ELSE 'touch' END AS kind
FROM xsg
WHERE (s1 * s2 = -1 AND s3 * s4 = -1)
   OR (s1 = 0 AND ax2 BETWEEN LEAST(ax1, bx1) AND GREATEST(ax1, bx1)
              AND ay2 BETWEEN LEAST(ay1, by1) AND GREATEST(ay1, by1))
   OR (s2 = 0 AND bx2 BETWEEN LEAST(ax1, bx1) AND GREATEST(ax1, bx1)
              AND by2 BETWEEN LEAST(ay1, by1) AND GREATEST(ay1, by1))
   OR (s3 = 0 AND ax1 BETWEEN LEAST(ax2, bx2) AND GREATEST(ax2, bx2)
              AND ay1 BETWEEN LEAST(ay2, by2) AND GREATEST(ay2, by2))
   OR (s4 = 0 AND bx1 BETWEEN LEAST(ax2, bx2) AND GREATEST(ax2, bx2)
              AND by1 BETWEEN LEAST(ay2, by2) AND GREATEST(ay2, by2))
""",
        # relationally-unrolled Viterbi, chained-CTE mirror
        "q131_viterbi_match": _viterbi_oracle_sql(g),
        # hop-bounded Bellman-Ford, integer weights
        "q132_hop_distance": _hop_oracle_sql(g),
        "q157_isochrone_bands": _isochrone_oracle_sql(g),
        # geodesic snap: cosr-scaled x-deltas at the segment
        # midpoint band, same double op order as the operator
        "q133_snap_geodesic": f"""
{g},
cosr(i, v) AS (VALUES {_cosr_values()}),
gpos AS (
  SELECT r.way_id, r.j, p.lon_i AS ax, p.lat_i AS ay
  FROM wrefs r JOIN pts p ON p.doc_id = r.ref
),
gseg AS (
  SELECT way_id, j AS seg_idx, ax, ay,
         LEAD(ax) OVER (PARTITION BY way_id ORDER BY j) AS bx,
         LEAD(ay) OVER (PARTITION BY way_id ORDER BY j) AS by
  FROM gpos
),
gsegc AS (
  SELECT s.*, c.v AS cv
  FROM gseg s JOIN cosr c
    ON c.i = LEAST(abs(s.ay + s.by) // 2 // 1000000, 900)
  WHERE s.bx IS NOT NULL
),
gsc AS (
  SELECT p.doc_id, s.way_id, s.seg_idx,
    CAST(s.cv AS DOUBLE) * CAST(p.lon_i - s.ax AS DOUBLE)
      / 4294967296.0 AS apx,
    CAST(p.lat_i - s.ay AS DOUBLE) AS apy,
    CAST(s.cv AS DOUBLE) * CAST(s.bx - s.ax AS DOUBLE)
      / 4294967296.0 AS abx,
    CAST(s.by - s.ay AS DOUBLE) AS aby,
    CAST(s.cv AS DOUBLE) * CAST(p.lon_i - s.bx AS DOUBLE)
      / 4294967296.0 AS bpx,
    CAST(p.lat_i - s.by AS DOUBLE) AS bpy
  FROM pts p CROSS JOIN gsegc s
),
gdd AS (
  SELECT doc_id, way_id, seg_idx, {_D2_CASE} AS dist2
  FROM gsc
)
SELECT doc_id, way_id, CAST(seg_idx AS BIGINT) AS seg_idx, dist2
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY dist2, way_id, seg_idx) AS rn
  FROM gdd WHERE dist2 <= 1099511627776.0
) WHERE rn = 1
""",
        # addr:interpolation: same window prefix sums (ROWS frame ==
        # Spark's rowsBetween; j unique so RANGE would equal too),
        # LAG default 0.0, half-open segment pick closed at the top,
        # identical double op order throughout
        "q130_addr_interp": f"""
{g},
ipos AS (
  SELECT r.way_id, r.j, p.lon_i AS ax, p.lat_i AS ay
  FROM wrefs r JOIN pts p ON p.doc_id = r.ref
),
iseg0 AS (
  SELECT way_id, j, ax, ay,
         LEAD(ax) OVER (PARTITION BY way_id ORDER BY j) AS bx,
         LEAD(ay) OVER (PARTITION BY way_id ORDER BY j) AS by
  FROM ipos
),
iseg1 AS (
  SELECT *,
    sqrt(CAST(bx - ax AS DOUBLE) * CAST(bx - ax AS DOUBLE)
       + CAST(by - ay AS DOUBLE) * CAST(by - ay AS DOUBLE))
      AS seg_len
  FROM iseg0 WHERE bx IS NOT NULL
),
iseg2 AS (
  SELECT *,
    SUM(seg_len) OVER (PARTITION BY way_id ORDER BY j
                       ROWS UNBOUNDED PRECEDING) AS cum
  FROM iseg1
),
iseg AS (
  SELECT *,
    LAG(cum, 1, 0.0) OVER (PARTITION BY way_id ORDER BY j)
      AS cum_prev,
    j = MAX(j) OVER (PARTITION BY way_id) AS is_last
  FROM iseg2
),
itot AS (SELECT way_id, MAX(cum) AS total FROM iseg2 GROUP BY 1),
ihn0 AS (
  SELECT way_id, CAST(2 AS BIGINT) AS h0,
         CAST(2 + 2 * (3 + way_id % 7) AS BIGINT) AS h1
  FROM ways
),
ihn AS (
  SELECT way_id, h0, h1,
         unnest(generate_series(h0, h1, 2)) AS housenumber
  FROM ihn0
),
itgt AS (
  SELECT n.way_id, n.housenumber,
    t.total * (CAST(n.housenumber - n.h0 AS DOUBLE)
               / CAST(n.h1 - n.h0 AS DOUBLE)) AS t
  FROM ihn n JOIN itot t ON t.way_id = n.way_id
),
ij AS (
  SELECT g.way_id, g.housenumber, g.t, s.ax, s.ay, s.bx, s.by,
         s.seg_len, s.cum_prev
  FROM itgt g JOIN iseg s ON s.way_id = g.way_id
  WHERE s.cum_prev <= g.t AND (g.t < s.cum OR s.is_last)
)
SELECT way_id, housenumber,
  CASE WHEN seg_len = 0.0 THEN CAST(ax AS DOUBLE)
       ELSE CAST(ax AS DOUBLE)
            + ((t - cum_prev) / seg_len) * CAST(bx - ax AS DOUBLE)
  END AS lon_d,
  CASE WHEN seg_len = 0.0 THEN CAST(ay AS DOUBLE)
       ELSE CAST(ay AS DOUBLE)
            + ((t - cum_prev) / seg_len) * CAST(by - ay AS DOUBLE)
  END AS lat_d
FROM ij
""",
        # nearest-segment snap: literal all-pairs point-to-segment
        # argmin with the SAME double op order as the operator
        # (int64 deltas cast exactly; products/divisions IEEE-
        # pinned); threshold = (2^20)^2, ties (way_id, seg_idx)
        "q128_snap_to_ways": f"""
{g},
spos AS (
  SELECT r.way_id, r.j, p.lon_i AS ax, p.lat_i AS ay
  FROM wrefs r JOIN pts p ON p.doc_id = r.ref
),
sseg AS (
  SELECT way_id, j AS seg_idx, ax, ay,
         LEAD(ax) OVER (PARTITION BY way_id ORDER BY j) AS bx,
         LEAD(ay) OVER (PARTITION BY way_id ORDER BY j) AS by
  FROM spos
),
sc AS (
  SELECT p.doc_id, s.way_id, s.seg_idx,
    CAST(p.lon_i - s.ax AS DOUBLE) AS apx,
    CAST(p.lat_i - s.ay AS DOUBLE) AS apy,
    CAST(s.bx - s.ax AS DOUBLE) AS abx,
    CAST(s.by - s.ay AS DOUBLE) AS aby,
    CAST(p.lon_i - s.bx AS DOUBLE) AS bpx,
    CAST(p.lat_i - s.by AS DOUBLE) AS bpy
  FROM pts p CROSS JOIN sseg s WHERE s.bx IS NOT NULL
),
dd AS (
  SELECT doc_id, way_id, seg_idx,
    CASE WHEN apx*abx + apy*aby <= 0
              OR abx*abx + aby*aby = 0
         THEN apx*apx + apy*apy
         WHEN apx*abx + apy*aby >= abx*abx + aby*aby
         THEN bpx*bpx + bpy*bpy
         ELSE (apx*apx + apy*apy)
              - ((apx*abx + apy*aby) / (abx*abx + aby*aby))
                * (apx*abx + apy*aby)
    END AS dist2
  FROM sc
)
SELECT doc_id, way_id, CAST(seg_idx AS BIGINT) AS seg_idx, dist2
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY dist2, way_id, seg_idx) AS rn
  FROM dd WHERE dist2 <= 1099511627776.0
) WHERE rn = 1
""",
        # corridor: dilate the %100-sampled ways' cover by 1 cell,
        # equi-join document cells (operators/linecover.py
        # cell_corridor_join; cu_max=3433, cv_max=1716 at shift=20)
        "q107_route_corridor": f"""
{g},
{_COVER_CTES},
rc AS (
  SELECT way_id, cell FROM pcells WHERE way_id % 100 = 0
  UNION
  SELECT way_id, cell FROM scells WHERE way_id % 100 = 0
),
dil AS (
  SELECT DISTINCT way_id,
         (cell // 4096 + b.dv) * 4096 + (cell % 4096 + a.du) AS cell
  FROM rc
  CROSS JOIN LATERAL (SELECT unnest(range(-1, 2)) AS du) a
  CROSS JOIN LATERAL (SELECT unnest(range(-1, 2)) AS dv) b
  WHERE cell % 4096 + a.du BETWEEN 0 AND 3433
    AND cell // 4096 + b.dv BETWEEN 0 AND 1716
),
dcells AS (
  SELECT doc_id,
         ((lat_i + 900000000) >> 20) * 4096
         + ((lon_i + 1800000000) >> 20) AS cell
  FROM pts
)
SELECT d.way_id, p.doc_id FROM dil d JOIN dcells p USING (cell)
""",
        "q140_coverage_gaps": f"""
{g},
{_COVER_CTES},
cov AS (
  SELECT cell FROM pcells UNION SELECT cell FROM scells
),
dcells AS (
  SELECT ((lat_i + 900000000) >> 20) * 4096
         + ((lon_i + 1800000000) >> 20) AS cell, doc_id
  FROM pts
),
hot AS (
  SELECT cell, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc
  FROM dcells GROUP BY 1
)
SELECT h.cell, h.n_docs, h.min_doc
FROM hot h LEFT JOIN cov c ON h.cell = c.cell
WHERE c.cell IS NULL
""",
        "q141_trace_hausdorff": f"""
WITH {pts_cte},
tr AS (
  SELECT p.doc_id AS trace_id, CAST(t.s AS BIGINT) AS step,
    GREATEST(LEAST(p.lon_i + t.s * (((p.doc_id * 104729) % 262145)
        - 131072), 1799000000), -1799000000) AS lon_i,
    GREATEST(LEAST(p.lat_i + t.s * (((p.doc_id * 7919) % 262145)
        - 131072), 899000000), -899000000) AS lat_i
  FROM pts p CROSS JOIN LATERAL
    (SELECT unnest(range(0, 5)) AS s) t
  WHERE p.doc_id % 20 = 0
),
cl AS (
  SELECT trace_id, (lat_i + 900000000) >> 22 AS latb,
         (lon_i + 1800000000) >> 22 AS lonb
  FROM tr
),
own AS (
  SELECT DISTINCT trace_id, latb * 1024 + lonb AS cell FROM cl
),
dil AS (
  SELECT DISTINCT trace_id AS trace_b,
         (latb + dv.v) * 1024 + (lonb + du.u) AS cell
  FROM cl
  CROSS JOIN LATERAL (SELECT unnest(range(-1, 2)) AS v) dv
  CROSS JOIN LATERAL (SELECT unnest(range(-1, 2)) AS u) du
),
prs AS (
  SELECT DISTINCT o.trace_id AS trace_a, d.trace_b
  FROM own o JOIN dil d ON o.cell = d.cell
  WHERE o.trace_id < d.trace_b
),
m AS (
  SELECT p.trace_a, p.trace_b, a.step AS ai, b.step AS bj,
    (a.lat_i - b.lat_i) * (a.lat_i - b.lat_i)
    + (a.lon_i - b.lon_i) * (a.lon_i - b.lon_i) AS d2
  FROM prs p
  JOIN tr a ON a.trace_id = p.trace_a
  JOIN tr b ON b.trace_id = p.trace_b
),
hab AS (
  SELECT trace_a, trace_b, MAX(md) AS h_ab FROM (
    SELECT trace_a, trace_b, ai, MIN(d2) AS md
    FROM m GROUP BY 1, 2, 3
  ) GROUP BY 1, 2
),
hba AS (
  SELECT trace_a, trace_b, MAX(md) AS h_ba FROM (
    SELECT trace_a, trace_b, bj, MIN(d2) AS md
    FROM m GROUP BY 1, 2, 3
  ) GROUP BY 1, 2
)
SELECT hab.trace_a, hab.trace_b,
       GREATEST(h_ab, h_ba) AS h2,
       GREATEST(h_ab, h_ba) <= {1 << 44} AS within
FROM hab JOIN hba
  ON hab.trace_a = hba.trace_a AND hab.trace_b = hba.trace_b
""",
        # discrete Frechet: enumerate ALL monotone grid paths with
        # a recursive CTE (states dedupe on (pair, i, j, running
        # max)); the engine's unrolled minimax relaxation must
        # agree exactly
        "q154_trace_frechet": f"""
WITH RECURSIVE {pts_cte},
{_frechet_ctes(22)}
SELECT trace_a, trace_b, MIN(f) AS frechet2,
       MIN(f) <= {1 << 44} AS within
FROM walk WHERE i = 4 AND j = 4 GROUP BY 1, 2
""",
        # Frechet-threshold clustering: q154's within pairs as an
        # undirected graph, components by transitive closure,
        # min-label canonical member
        "q156_trace_clusters": f"""
WITH RECURSIVE {pts_cte},
{_frechet_ctes(24)},
fr AS (
  SELECT trace_a, trace_b
  FROM walk WHERE i = 4 AND j = 4
  GROUP BY 1, 2 HAVING MIN(f) <= {1 << 48}
),
edges AS (
  SELECT trace_a AS u, trace_b AS v FROM fr
  UNION
  SELECT trace_b, trace_a FROM fr
),
reach(u, v) AS (
  SELECT DISTINCT u, u FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
)
SELECT u AS trace_id, MIN(v) AS cluster FROM reach GROUP BY u
""",
        # convex hull by gift wrapping (Jarvis march): `nxt` maps
        # every point to its hull successor (the direction no other
        # point is strictly left of, farthest on collinear ties);
        # the recursive walk follows successors from the
        # lexicographic-min vertex until it returns to the start.
        # HUGEINT cross products are exact at 1.8e9-scale coords.
        "q162_convex_hull": f"""
WITH RECURSIVE {pts_cte},
g AS (
  SELECT DISTINCT
    ((lat_i + 900000000) >> 22) * 1024
      + ((lon_i + 1800000000) >> 22) AS grp,
    CAST(lon_i AS HUGEINT) AS x, CAST(lat_i AS HUGEINT) AS y
  FROM pts
),
strt AS (
  SELECT grp, x, y FROM (
    SELECT grp, x, y,
      ROW_NUMBER() OVER (PARTITION BY grp ORDER BY x, y) AS rn
    FROM g
  ) WHERE rn = 1
),
nxt AS (
  SELECT c.grp, c.x AS cx, c.y AS cy, q.x AS nx, q.y AS ny
  FROM g c JOIN g q
    ON q.grp = c.grp AND (q.x <> c.x OR q.y <> c.y)
  WHERE NOT EXISTS (
    SELECT 1 FROM g r
    WHERE r.grp = c.grp
      AND (r.x <> c.x OR r.y <> c.y)
      AND (r.x <> q.x OR r.y <> q.y)
      AND ((q.x - c.x) * (r.y - c.y)
             - (q.y - c.y) * (r.x - c.x) > 0
        OR ((q.x - c.x) * (r.y - c.y)
              - (q.y - c.y) * (r.x - c.x) = 0
          AND (r.x - c.x) * (r.x - c.x) + (r.y - c.y) * (r.y - c.y)
            > (q.x - c.x) * (q.x - c.x)
              + (q.y - c.y) * (q.y - c.y))))
),
walk(grp, cx, cy, sx, sy) AS (
  SELECT grp, x, y, x, y FROM strt
  UNION
  SELECT w.grp, n.nx, n.ny, w.sx, w.sy
  FROM walk w
  JOIN nxt n ON n.grp = w.grp AND n.cx = w.cx AND n.cy = w.cy
  WHERE NOT (n.nx = w.sx AND n.ny = w.sy)
)
SELECT grp AS cell, CAST(cx AS BIGINT) AS lon_i,
       CAST(cy AS BIGINT) AS lat_i,
       COUNT(*) OVER (PARTITION BY grp) AS n_vertices
FROM walk
""",
        # DTW: the same all-monotone-paths recursive CTE as q154
        # but carrying a running SUM; terminal min = warp cost
        "q161_trace_dtw": f"""
WITH RECURSIVE {pts_cte},
{_frechet_ctes(22, combine="w.f + g.d2")}
SELECT trace_a, trace_b, MIN(f) AS dtw2
FROM walk WHERE i = 4 AND j = 4 GROUP BY 1, 2
""",
        # EDR: the same lattice with the thresholded move cost —
        # diagonal pays 0 inside the tolerance band, 1 outside,
        # gaps pay 1; terminal min = edit distance
        "q213_trace_edr": f"""
WITH RECURSIVE {pts_cte},
{_frechet_ctes(
    22,
    combine=(
        "w.f + CASE WHEN g.ai = w.i + 1 AND g.bj = w.j + 1 THEN"
        " CASE WHEN g.d2 <= 4000000000000 THEN 0 ELSE 1 END"
        " ELSE 1 END"
    ),
    seed="CASE WHEN d2 <= 4000000000000 THEN 0 ELSE 1 END",
)}
SELECT trace_a, trace_b, MIN(f) AS edr
FROM walk WHERE i = 4 AND j = 4 GROUP BY 1, 2
""",
        # Markov next-cell: transition counts over the jittered
        # traces, argmax successor via (c DESC, dst) ranking
        "q217_markov_next": f"""
WITH {pts_cte},
{_JTR_CTE},
mcl AS (
  SELECT trace_id, step,
    ((lat_i + 900000000) >> 22) * 1024
      + ((lon_i + 1800000000) >> 22) AS cell
  FROM jtr
),
mtr AS (
  SELECT trace_id, step, cell,
    LEAD(cell) OVER (PARTITION BY trace_id ORDER BY step) AS nxt
  FROM mcl
),
mcount AS (
  SELECT cell AS src, nxt AS dst, CAST(COUNT(*) AS BIGINT) AS c
  FROM mtr WHERE nxt IS NOT NULL GROUP BY 1, 2
),
mrank AS (
  SELECT src, dst, c,
    ROW_NUMBER() OVER (PARTITION BY src
                       ORDER BY c DESC, dst) AS rn,
    SUM(c) OVER (PARTITION BY src) AS tot
  FROM mcount
)
SELECT src, dst AS best_next, c AS n_best,
       CAST(tot AS BIGINT) AS n_total
FROM mrank WHERE rn = 1
""",
        # surprisal: floor-log2 code lengths from the same
        # transition model, summed per trace
        "q234_trace_surprisal": f"""
WITH {pts_cte},
{_JTR_CTE},
scl AS (
  SELECT trace_id, step,
    ((lat_i + 900000000) >> 22) * 1024
      + ((lon_i + 1800000000) >> 22) AS cell
  FROM jtr
),
str_ AS (
  SELECT trace_id, cell AS src,
    LEAD(cell) OVER (PARTITION BY trace_id ORDER BY step) AS dst
  FROM scl
),
stp AS (SELECT trace_id, src, dst FROM str_
        WHERE dst IS NOT NULL),
scn AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c
        FROM stp GROUP BY 1, 2),
stt AS (SELECT src, CAST(SUM(c) AS BIGINT) AS t
        FROM scn GROUP BY 1)
SELECT p.trace_id, CAST(COUNT(*) AS BIGINT) AS n_trans,
  CAST(SUM(length(printf('%b', tt.t))
           - length(printf('%b', cn.c))) AS BIGINT) AS cost_total
FROM stp p
JOIN scn cn ON cn.src = p.src AND cn.dst = p.dst
JOIN stt tt ON tt.src = p.src
GROUP BY 1
""",
        # Douglas-Peucker: three unrolled split rounds; the
        # deviation test squares the cross product as HUGEINT
        # (mirrors the engine's decimal(38,0))
        "q219_simplify_dp": f"""
WITH {pts_cte},
{_JTR_CTE},
{_dp_round_ctes(3, eps2=225_000_000)}
SELECT trace_id, step FROM kept3
""",
        "q139_bearing_octants": f"""
WITH {pts_cte},
tr AS (
  SELECT p.doc_id AS trace_id, CAST(t.s AS BIGINT) AS step,
    GREATEST(LEAST(p.lon_i + t.s * (((p.doc_id * 104729) % 262145)
        - 131072), 1799000000), -1799000000) AS lon_i,
    GREATEST(LEAST(p.lat_i + t.s * (((p.doc_id * 7919) % 262145)
        - 131072), 899000000), -899000000) AS lat_i
  FROM pts p CROSS JOIN LATERAL
    (SELECT unnest(range(0, 5)) AS s) t
  WHERE p.doc_id % 20 = 0
),
seq AS (
  SELECT trace_id, step,
    LEAD(lon_i) OVER w - lon_i AS dx,
    LEAD(lat_i) OVER w - lat_i AS dy
  FROM tr WINDOW w AS (PARTITION BY trace_id ORDER BY step)
)
SELECT trace_id, step, dx, dy,
  CAST(CASE WHEN dx = 0 AND dy = 0 THEN -1
       WHEN dx >= 0 AND dy > 0 AND dx < dy THEN 0
       WHEN dx > 0 AND dy > 0 AND dx >= dy THEN 1
       WHEN dx > 0 AND dy <= 0 AND -dy < dx THEN 2
       WHEN dx > 0 AND dy < 0 AND -dy >= dx THEN 3
       WHEN dx <= 0 AND dy < 0 AND -dx < -dy THEN 4
       WHEN dx < 0 AND dy < 0 AND -dx >= -dy THEN 5
       WHEN dx < 0 AND dy >= 0 AND dy < -dx THEN 6
       ELSE 7 END AS BIGINT) AS octant,
  dx * dx + dy * dy AS d2
FROM seq WHERE dx IS NOT NULL
""",
    }


_COVER_CTES = """
pos AS (
  SELECT r.way_id, r.j,
         p.lon_i + 1800000000 AS u, p.lat_i + 900000000 AS v
  FROM wrefs r JOIN pts p ON p.doc_id = r.ref
),
pcells AS (
  SELECT DISTINCT way_id, (v >> 20) * 4096 + (u >> 20) AS cell
  FROM pos
),
seg0 AS (
  SELECT way_id, u, v,
         LEAD(u) OVER (PARTITION BY way_id ORDER BY j) AS u2,
         LEAD(v) OVER (PARTITION BY way_id ORDER BY j) AS v2
  FROM pos
),
seg AS (
  SELECT way_id,
         CASE WHEN u2 < u THEN u2 ELSE u END AS x0,
         CASE WHEN u2 < u THEN v2 ELSE v END AS y0,
         CASE WHEN u2 < u THEN u ELSE u2 END AS x1,
         CASE WHEN u2 < u THEN v ELSE v2 END AS y1
  FROM seg0 WHERE u2 IS NOT NULL
),
cols AS (
  SELECT s.way_id, s.x0, s.y0, s.y1,
         s.x1 - s.x0 AS dx, s.y1 - s.y0 AS dy, s.x1, t.cu
  FROM seg s CROSS JOIN LATERAL
    (SELECT unnest(range(s.x0 >> 20, (s.x1 >> 20) + 1)) AS cu) t
),
nums AS (
  SELECT way_id, cu, dx, dy, y0, y1,
         LEAST(x1, (cu + 1) * 1048576) AS xb,
         (cu + 1) * 1048576 AS xn,
         y0 * dx + dy * (GREATEST(x0, cu * 1048576) - x0) AS na,
         y0 * dx + dy * (LEAST(x1, (cu + 1) * 1048576) - x0) AS nb,
         dx * 1048576 AS d
  FROM cols
),
vr AS (
  SELECT way_id, cu,
    CASE WHEN dx = 0 THEN LEAST(y0, y1) >> 20
         ELSE LEAST(na, nb) // d END AS cv_lo,
    CASE WHEN dx = 0 THEN GREATEST(y0, y1) >> 20
         ELSE GREATEST(na, nb) // d
              - CASE WHEN dy > 0 AND xb = xn
                          AND GREATEST(na, nb) % d = 0
                     THEN 1 ELSE 0 END
    END AS cv_hi
  FROM nums
),
scells AS (
  SELECT DISTINCT way_id, t.cv * 4096 + cu AS cell
  FROM vr CROSS JOIN LATERAL
    (SELECT unnest(range(cv_lo, cv_hi + 1)) AS cv) t
)"""
