"""Way -> tile-cell cover: exact integer line supercover.

The reference assigns a WAY to a clip region by its member nodes
(osmconvert.c:9541-9694 way-node pass with --complete-ways /
border hash), so a way whose nodes all sit outside a tile but whose
*geometry* crosses it is invisible to that tile.  The engine-native
tile grid (geo/cells.py, G11) makes the stronger assignment
practical at scale: a way lands in EVERY grid cell its polyline
passes through — the north-star "ways straddling tile borders" case
— computed as an exact integer supercover, no sampling, no floats.

Semantics (deterministic, half-open): a cell (cu, cv) at grid shift
`s` covers the half-open square

    [cu*S, (cu+1)*S) x [cv*S, (cv+1)*S),  S = 2**s

in offset space u = lon_i + LON_OFFSET, v = lat_i + LAT_OFFSET
(both non-negative, so truncating and flooring division agree in
every engine).  The cover of a way = the set of cells containing at
least one point of any segment between consecutive *resolved* refs,
plus the cells of the resolved nodes themselves (covers 1-node
ways; free after the distinct).

Algorithm — column sweep, exact in int64:
  * normalize each segment so x0 <= x1; the columns it meets are
    exactly cu in [x0 >> s, x1 >> s] (the segment is closed at both
    endpoints).
  * within column cu the segment occupies x in [xa, xb) where
    xa = max(x0, cu*S), xb = min(x1, (cu+1)*S), and the upper end
    is EXCLUDED iff xb == (cu+1)*S (that point belongs to the next
    column, which also processes it).
  * y is linear in x, so its extrema sit at xa/xb.  Keep y scaled
    by dx to stay integral: N(x) = y0*dx + dy*(x - x0) = y(x)*dx,
    and floor(y(x)/S) = N(x) div (dx*S).  Magnitudes: N <= 1.8e9 *
    3.6e9 < 2^63, dx*S < 2^(32+s) — exact in int64 for s <= 30.
  * cell rows are cv in [min(Na,Nb) div D, max(Na,Nb) div D] with
    one correction: when the maximum is attained at an excluded
    upper end (dy > 0, xb on the column boundary) AND it is an
    exact multiple of D, the top cell is touched only at that
    excluded point -> subtract 1.  (Minima need no correction:
    floor is right-continuous.)
  * vertical segments (dx == 0) are the trivial single-column case.

Plan shape: posexplode(refs) ⋈ nodes (one key shuffle), one window
per way for consecutive pairs, then two in-row sequence-explodes
(bounded by cells-touched, i.e. O(length/S) per segment — choose
the shift so world-spanning segments emit hundreds, not millions,
of cells), and a single distinct shuffle on (way_id, cell).  No
driver loops, no UDFs, no cartesian joins.  NOT translated C code —
the reference has no line-rasterizer; cited lines are the node-based
behavior this extends.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..geo.cells import LAT_OFFSET, LON_OFFSET, _lon_bits


def _sweep_cells(
    seg: DataFrame, keys: list, shift: int
) -> DataFrame:
    """The column-sweep supercover kernel, keyed generically: seg
    carries `keys` + endpoint columns (u, v, u2, v2) in offset
    space (non-negative); returns keys + `cell` for every grid
    cell the closed segment [P0, P1] passes through (duplicates
    possible — callers distinct())."""
    s = 1 << shift
    bits = _lon_bits(shift)

    swap = F.col("u2") < F.col("u")
    seg = seg.select(
        *keys,
        F.when(swap, F.col("u2")).otherwise(F.col("u")).alias("x0"),
        F.when(swap, F.col("v2")).otherwise(F.col("v")).alias("y0"),
        F.when(swap, F.col("u")).otherwise(F.col("u2")).alias("x1"),
        F.when(swap, F.col("v")).otherwise(F.col("v2")).alias("y1"),
    )

    cols = seg.select(
        *keys,
        "x0",
        "y0",
        "y1",
        (F.col("x1") - F.col("x0")).alias("dx"),
        (F.col("y1") - F.col("y0")).alias("dy"),
        F.col("x1").alias("x1"),
        F.explode(
            F.sequence(
                F.shiftright("x0", shift), F.shiftright("x1", shift)
            )
        ).alias("cu"),
    )

    strip = cols.select(
        *keys,
        "cu",
        "dx",
        "dy",
        "y0",
        "y1",
        F.greatest(F.col("x0"), F.col("cu") * s).alias("xa"),
        F.least(F.col("x1"), (F.col("cu") + 1) * s).alias("xb"),
        ((F.col("cu") + 1) * s).alias("xn"),
        "x0",
    )
    nums = strip.select(
        *keys,
        "cu",
        "dx",
        "dy",
        "y0",
        "y1",
        "xb",
        "xn",
        (
            F.col("y0") * F.col("dx")
            + F.col("dy") * (F.col("xa") - F.col("x0"))
        ).alias("na"),
        (
            F.col("y0") * F.col("dx")
            + F.col("dy") * (F.col("xb") - F.col("x0"))
        ).alias("nb"),
        (F.col("dx") * F.lit(s)).alias("d"),
    )

    # excluded-endpoint maximum correction (see module docstring)
    adj = (
        (F.col("dy") > 0)
        & (F.col("xb") == F.col("xn"))
        & (F.expr("greatest(na, nb) % d") == 0)
    )
    cv_lo = F.when(
        F.col("dx") == 0, F.shiftright(F.least("y0", "y1"), shift)
    ).otherwise(F.expr("least(na, nb) div d"))
    cv_hi = F.when(
        F.col("dx") == 0, F.shiftright(F.greatest("y0", "y1"), shift)
    ).otherwise(
        F.expr("greatest(na, nb) div d") - adj.cast("long")
    )

    return nums.select(
        *keys,
        F.explode(F.sequence(cv_lo, cv_hi)).alias("cv"),
        "cu",
    ).select(
        *keys,
        (F.shiftleft("cv", bits) + F.col("cu")).alias("cell"),
    )


def way_cell_cover(
    ways: DataFrame,
    nodes: DataFrame,
    shift: int = 24,
) -> DataFrame:
    """(way_id, refs array<long>) x (doc_id, lat_i, lon_i) ->
    distinct (way_id, cell): every grid cell the way's polyline
    passes through, cell packed as cv * 2**lon_bits + cu."""
    if not 0 < shift <= 30:
        raise ValueError("shift must be in (0, 30] for exact int64")
    bits = _lon_bits(shift)

    pos = ways.select(
        "way_id", F.posexplode("refs").alias("j", "ref")
    ).join(
        nodes.select(
            F.col("doc_id").alias("ref"),
            (F.col("lon_i") + F.lit(LON_OFFSET)).alias("u"),
            (F.col("lat_i") + F.lit(LAT_OFFSET)).alias("v"),
        ),
        "ref",
    )

    pcells = pos.select(
        "way_id",
        (
            F.shiftleft(F.shiftright("v", shift), bits)
            + F.shiftright("u", shift)
        ).alias("cell"),
    )

    w = Window.partitionBy("way_id").orderBy("j")
    seg = pos.select(
        "way_id",
        "u",
        "v",
        F.lead("u").over(w).alias("u2"),
        F.lead("v").over(w).alias("v2"),
    ).where(F.col("u2").isNotNull())

    scells = _sweep_cells(seg, ["way_id"], shift)
    return pcells.unionByName(scells).distinct()


def way_length(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """Route length per way: (way_id, n_segs, len_units) with
    len_units = sum over consecutive-resolved-ref segments of
    floor(sqrt(dxs^2 + dy^2)) in 1e-7-degree fixed-point units,
    where dxs is |dlon| scaled to equator-equivalent length by the
    reference's cosr table at the segment-midpoint latitude band —
    the same integer scaling wo_addbboxtags applies to bbox widths
    (osmconvert.c:9035-9045; table regenerated, geo/bboxtags.py).

    Exactness: cosr[idx]*dx would overflow int64 for world-spanning
    segments, so the div-2^32 is decomposed over 16-bit halves
    (full = c*dxh*2^16 + c*dxl, each term < 2^48) — bit-identical
    to the single 128-bit division, proven in tests.  The final
    sqrt runs in IEEE double (correctly rounded by spec), so Spark
    and DuckDB produce the same floor(sqrt(...)) bit-for-bit even
    where dxs^2 + dy^2 exceeds 2^53.

    Plan: one refs⋈nodes shuffle + per-way window + one groupBy —
    the q23 way-geometry shape; the 901-entry cosr table is an
    array literal inside codegen."""
    from ..geo.bboxtags import _div, cosr_table

    pos = ways.select(
        "way_id", F.posexplode("refs").alias("j", "ref")
    ).join(
        nodes.select(
            F.col("doc_id").alias("ref"), "lat_i", "lon_i"
        ),
        "ref",
    )
    w = Window.partitionBy("way_id").orderBy("j")
    seg = pos.select(
        "way_id",
        "lat_i",
        "lon_i",
        F.lead("lat_i").over(w).alias("lat2"),
        F.lead("lon_i").over(w).alias("lon2"),
    ).where(F.col("lat2").isNotNull())

    cosr = F.lit(cosr_table())
    idx = F.least(
        _div(_div(F.abs(F.col("lat_i") + F.col("lat2")), 2), 1_000_000),
        F.lit(900),
    )
    c = F.element_at(cosr, (idx + 1).cast("int")).cast("long")
    dx = F.abs(F.col("lon2") - F.col("lon_i")).cast("long")
    dy = F.abs(F.col("lat2") - F.col("lat_i")).cast("long")
    # exact (c*dx) div 2^32 without int64 overflow: 16-bit halves
    a = c * _div(dx, 65536)
    dxs = _div(a, 65536) + _div(
        (a % 65536) * 65536 + c * (dx % 65536), F.lit(4294967296)
    )
    seg_len = F.floor(
        F.sqrt(
            dxs.cast("double") * dxs.cast("double")
            + dy.cast("double") * dy.cast("double")
        )
    ).cast("long")
    return seg.select("way_id", seg_len.alias("_l")).groupBy(
        "way_id"
    ).agg(
        F.count("*").cast("long").alias("n_segs"),
        F.sum("_l").alias("len_units"),
    )


def way_signed_area(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """Signed shoelace area of CLOSED ways (first ref == last ref):
    (way_id, n_edges, two_a) with two_a = twice the signed area in
    squared 1e-7-degree units, positive for counter-clockwise
    winding in the (lon, lat) plane — the engine-native exact
    complement to the reference's bBoxArea approximation (G8) and
    the ring-winding input the .poly assembly cares about (G9/G10,
    osmconvert border module winding conventions).

    Exactness: terms are centered on the way's first vertex, so
    each cross product fits int64 for hemisphere-scale extents, but
    the products are still carried as decimal(38,0) (HUGEINT in the
    DuckDB oracle) so even antimeridian-spanning synthetic rings
    sum exactly; the final value is cast to long, which throws
    loudly rather than wrapping in the (physically impossible for
    real ways) case |2A| >= 2^63.

    Plan: the q23 shape — one refs⋈nodes shuffle, one per-way
    window (lead + first_value), one groupBy sum."""
    closed = ways.where(
        (F.element_at("refs", 1) == F.element_at("refs", -1))
        & (F.size("refs") >= 4)
    )
    pos = closed.select(
        "way_id", F.posexplode("refs").alias("j", "ref")
    ).join(
        nodes.select(
            F.col("doc_id").alias("ref"), "lat_i", "lon_i"
        ),
        "ref",
    )
    w = Window.partitionBy("way_id").orderBy("j")
    wa = w.rowsBetween(Window.unboundedPreceding, 0)
    seg = pos.select(
        "way_id",
        (F.col("lon_i") - F.first("lon_i").over(wa)).alias("x"),
        (F.col("lat_i") - F.first("lat_i").over(wa)).alias("y"),
        (
            F.lead("lon_i").over(w) - F.first("lon_i").over(wa)
        ).alias("x2"),
        (
            F.lead("lat_i").over(w) - F.first("lat_i").over(wa)
        ).alias("y2"),
    ).where(F.col("x2").isNotNull())
    dec = "decimal(20,0)"
    term = F.col("x").cast(dec) * F.col("y2").cast(dec) - F.col(
        "x2"
    ).cast(dec) * F.col("y").cast(dec)
    return seg.select("way_id", term.alias("_t")).groupBy(
        "way_id"
    ).agg(
        F.count("*").cast("long").alias("n_edges"),
        F.sum("_t").cast("long").alias("two_a"),
    )


def cell_corridor_join(
    cover: DataFrame,
    points: DataFrame,
    shift: int = 24,
    radius: int = 1,
    index_join: str = "broadcast",
) -> DataFrame:
    """Corridor search: points within `radius` cells of a covered
    polyline — (way_id, cell) cover x (doc_id, lat_i, lon_i) ->
    distinct (way_id, doc_id).

    The cover side is dilated in-row ((2r+1)^2 neighbor explode,
    bounded) and the corpus side is touched exactly once through a
    cell equi-join — never a geometry cross-join, so the plan holds
    when `points` is the 100-TB side: a small route set broadcasts
    its dilated cover, Catalyst picks BroadcastHashJoin, and the
    corpus scan stays pruned to (doc_id, lat_i, lon_i).  Cell ids
    use the geo/cells.py packing; no antimeridian wrap (the
    reference's -b borders do not wrap either, osmconvert.c bbox
    module).

    index_join picks the physical strategy for the cell equi-join
    — identical results either way (tests/test_smj_fallback.py
    hash-proves it):
      "broadcast" (default): pin the hint — right when the way
        index is contractually small (the production contract).
      "shuffle": sort-merge/shuffled-hash — right when the index
        side outgrows the broadcast threshold; also removes the
        driver-side broadcast build, the family's measured serial
        fraction (Amdahl f ~ 0.13).
      "auto": no hint, let Catalyst/AQE decide from size stats."""
    dil = dilate_cover(cover, shift, radius)
    pts = points.select(
        "doc_id",
        point_cell_col("lat_i", "lon_i", shift).alias("cell"),
    )
    if index_join == "broadcast":
        dil = F.broadcast(dil)
    elif index_join == "shuffle":
        dil = dil.hint("shuffle_merge")
    elif index_join != "auto":
        raise ValueError(
            "index_join must be broadcast | shuffle | auto"
        )
    return pts.join(dil, "cell").select("way_id", "doc_id")


def point_cell_col(lat_col: str, lon_col: str, shift: int) -> F.Column:
    """Packed grid-cell id of a point, the geo/cells.py encoding as
    a Catalyst column."""
    bits = _lon_bits(shift)
    return F.shiftleft(
        F.shiftright(F.col(lat_col) + F.lit(LAT_OFFSET), shift), bits
    ) + F.shiftright(F.col(lon_col) + F.lit(LON_OFFSET), shift)


def dilate_cover(
    cover: DataFrame, shift: int, radius: int
) -> DataFrame:
    """(way_id, cell) -> distinct (way_id, cell) grown by `radius`
    cells in Chebyshev distance, clamped to the grid (no
    antimeridian/pole wraparound). In-row (2r+1)^2 explode —
    bounded, broadcastable."""
    bits = _lon_bits(shift)
    cu_max = (2 * LON_OFFSET) >> shift
    cv_max = (2 * LAT_OFFSET) >> shift
    return (
        cover.select(
            "way_id",
            (F.col("cell") % F.lit(1 << bits)).alias("cu"),
            F.expr(f"cell div {1 << bits}").alias("cv"),
        )
        .select(
            "way_id",
            "cu",
            "cv",
            F.explode(
                F.sequence(F.lit(-radius), F.lit(radius))
            ).alias("du"),
        )
        .select(
            "way_id",
            "cv",
            (F.col("cu") + F.col("du")).alias("nu"),
            F.explode(
                F.sequence(F.lit(-radius), F.lit(radius))
            ).alias("dv"),
        )
        .select(
            "way_id",
            "nu",
            (F.col("cv") + F.col("dv")).alias("nv"),
        )
        # clamp to the grid: no antimeridian/pole wraparound
        .where(
            F.col("nu").between(0, cu_max)
            & F.col("nv").between(0, cv_max)
        )
        .select(
            "way_id",
            (F.col("nv") * (1 << bits) + F.col("nu")).alias("cell"),
        )
        .distinct()
    )


def segment_candidates(
    points: DataFrame,
    ways: DataFrame,
    nodes: DataFrame,
    shift: int = 20,
    cosr: bool = False,
    radius: int = 1,
    index_join: str = "broadcast",
) -> DataFrame:
    """All (doc_id, way_id, seg_idx, dist2) candidate pairs with
    dist2 <= S*S (S = 2**shift) — the shared candidate stage of
    snap_to_ways (argmin) and viterbi_map_match (top-k per step).
    COMPLETE within the threshold: see snap_to_ways' cell-geometry
    argument; scoring is the pinned IEEE double op order the
    DuckDB oracles replay bit-for-bit.

    cosr=True evaluates the GEODESIC metric the reference uses for
    lengths (way_length): per segment, x-deltas are scaled by the
    cosr table value at the segment's midpoint latitude band
    ((c * dx) / 2^32 in doubles), so east-west distances shrink
    toward the poles exactly like osmconvert's bbox-width scaling
    (osmconvert.c:9035-9045).  Scaled distance <= planar distance,
    so completeness needs a wider candidate ring: pass radius >=
    ceil(1/cos(max |lat| in the data)) (radius=2 covers |lat| <=
    60 degrees; the scaled x-reach S/c then fits inside radius
    cells, the y-reach is unchanged)."""
    if not 0 < shift <= 30:
        raise ValueError("shift must be in (0, 30] for exact int64")
    s = 1 << shift

    cover = way_cell_cover(ways, nodes, shift=shift)
    cand = cell_corridor_join(
        cover, points, shift=shift, radius=radius,
        index_join=index_join,
    )

    pos = ways.select(
        "way_id", F.posexplode("refs").alias("j", "ref")
    ).join(
        nodes.select(
            F.col("doc_id").alias("ref"),
            F.col("lon_i").alias("ax"),
            F.col("lat_i").alias("ay"),
        ),
        "ref",
    )
    w = Window.partitionBy("way_id").orderBy("j")
    seg = pos.select(
        "way_id",
        (F.col("j") + 1).cast("long").alias("seg_idx"),
        "ax",
        "ay",
        F.lead("ax").over(w).alias("bx"),
        F.lead("ay").over(w).alias("by"),
    ).where(F.col("bx").isNotNull())

    d = lambda c: c.cast("double")  # noqa: E731
    if cosr:
        from ..geo.bboxtags import _div, cosr_table

        # stage the table lookup as its OWN projection on the
        # (small) segment side: referencing it from three scaled
        # deltas would otherwise inline the 901-entry array
        # literal three times into one codegen unit — the
        # giant-expression Janino-compile tax (~7s/round at
        # sf0.1, measured); as a segment column the literal
        # appears once and the join carries one double
        idx = F.least(
            _div(
                _div(F.abs(F.col("ay") + F.col("by")), 2), 1_000_000
            ),
            F.lit(900),
        )
        seg = seg.withColumn(
            "_cv",
            d(
                F.element_at(
                    F.lit(cosr_table()), (idx + 1).cast("int")
                )
            ),
        )
        two32 = F.lit(4294967296.0)
        sx = lambda c: F.col("_cv") * d(c) / two32  # noqa: E731
    else:
        sx = d

    scored = cand.join(
        points.select(
            "doc_id",
            F.col("lon_i").alias("px"),
            F.col("lat_i").alias("py"),
        ),
        "doc_id",
    ).join(seg, "way_id")
    apx = sx(F.col("px") - F.col("ax"))
    apy = d(F.col("py") - F.col("ay"))
    abx = sx(F.col("bx") - F.col("ax"))
    aby = d(F.col("by") - F.col("ay"))
    bpx = sx(F.col("px") - F.col("bx"))
    bpy = d(F.col("py") - F.col("by"))
    dot = apx * abx + apy * aby
    len2 = abx * abx + aby * aby
    ap2 = apx * apx + apy * apy
    bp2 = bpx * bpx + bpy * bpy
    dist2 = (
        F.when((dot <= 0) | (len2 == 0), ap2)
        .when(dot >= len2, bp2)
        .otherwise(ap2 - (dot / len2) * dot)
    )
    return scored.select(
        "doc_id", "way_id", "seg_idx", dist2.alias("dist2")
    ).where(F.col("dist2") <= F.lit(float(s) * float(s)))


def snap_to_ways(
    points: DataFrame,
    ways: DataFrame,
    nodes: DataFrame,
    shift: int = 20,
    index_join: str = "broadcast",
) -> DataFrame:
    """Map matching: snap each point to the nearest WAY SEGMENT
    within one grid cell side S = 2**shift — (doc_id, way_id,
    seg_idx, dist2), one row per matched point.  The reference
    geocodes text to a node and assigns nodes to polygons
    (osmposition pages / osmassignpoly); snapping a coordinate to
    the nearest road segment is the complementary primitive a
    geocoding pipeline needs for address interpolation and GPS/
    IP-derived coordinates, and the reference's node-based passes
    cannot express it (a segment's interior is invisible to them,
    same gap way_cell_cover fills).

    Semantics (planar fixed-point, like q05's dist2): dist2 is the
    squared Euclidean point-to-segment distance in 1e-7-degree
    units, computed in IEEE doubles with a pinned op order; a point
    matches iff dist2 <= S*S, and the reported segment is the
    argmin with ties broken by (way_id, seg_idx).  EXACTNESS: the
    candidate cell join cannot change the result — if the nearest
    point Q of a segment is within S of P then |Qx-Px| <= S and
    |Qy-Py| <= S, so Q's cell is within +-1 of P's cell in each
    axis; Q lies on the segment, so the way's supercover
    (way_cell_cover) contains Q's cell and the pair survives the
    radius-1 corridor join.  Segments farther than S are dropped by
    the dist2 filter on BOTH paths, so the output equals the
    all-pairs oracle row for row (tested against a literal
    cross-join at small scale).

    Plan: way_cell_cover's supercover (one refs⋈nodes shuffle +
    bounded explodes) -> broadcast dilated cover equi-join
    (cell_corridor_join: the corpus side is touched once, no
    geometry cross-join) -> candidate ways rejoin their segments
    (ways are short; bounded fan-out) -> pure-Catalyst scoring ->
    per-doc min via one window.  At 100 TB the points side streams
    through two equi-joins; the way side is the broadcast-small
    side by contract (roads, not pages).  All products are
    double*double (int64 deltas convert exactly; products round
    identically in every IEEE engine), divisions happen in the
    same order as the DuckDB oracle, so dist2 hash-matches
    bit-for-bit."""
    scored = segment_candidates(
        points, ways, nodes, shift=shift, index_join=index_join
    )
    wd = Window.partitionBy("doc_id").orderBy(
        F.asc("dist2"), F.asc("way_id"), F.asc("seg_idx")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(wd))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def interpolate_housenumbers(
    ways_hn: DataFrame,
    nodes: DataFrame,
    step: int = 2,
) -> DataFrame:
    """OSM addr:interpolation semantics (the address-way scheme the
    reference's osmposition geocoder consumes node-by-node,
    osmposition.c address harvesting): a way carrying housenumbers
    h_first / h_last at its ends implies addresses h_first,
    h_first+step, ..., h_last placed proportionally BY POLYLINE
    DISTANCE along the way.  Input (way_id, refs, h_first, h_last)
    x nodes; output (way_id, housenumber, lon_d, lat_d) as doubles.

    Exact cross-engine: segment lengths are IEEE
    sqrt(dx*dx + dy*dy) of exactly-converted int64 deltas; the
    running distance is a WINDOW prefix sum (ordered -> the same
    left-to-right fp accumulation in every engine, unlike a groupBy
    sum); the target distance is total * ((h - h0) / (h1 - h0));
    the owning segment is the half-open [cum_prev, cum) match with
    the final segment closed at the top, so every target matches
    exactly one segment even on exact-boundary doubles; the
    position is a + u * delta with u = (t - cum_prev) / seg_len.
    Every op is mul/div/add/sub/sqrt in a pinned order, so the
    doubles hash-match DuckDB bit-for-bit.

    Plan: one refs⋈nodes shuffle + two per-way windows + a bounded
    in-row sequence explode (one row per housenumber) + one
    bounded equi-join housenumbers⋈segments on way_id; no
    cartesian, no UDF, no driver loop."""
    pos = ways_hn.select(
        "way_id", F.posexplode("refs").alias("j", "ref")
    ).join(
        nodes.select(
            F.col("doc_id").alias("ref"),
            F.col("lon_i").alias("ax"),
            F.col("lat_i").alias("ay"),
        ),
        "ref",
    )
    w = Window.partitionBy("way_id").orderBy("j")
    seg = pos.select(
        "way_id",
        "j",
        "ax",
        "ay",
        F.lead("ax").over(w).alias("bx"),
        F.lead("ay").over(w).alias("by"),
    ).where(F.col("bx").isNotNull())

    dxd = (F.col("bx") - F.col("ax")).cast("double")
    dyd = (F.col("by") - F.col("ay")).cast("double")
    seg = seg.withColumn(
        "seg_len", F.sqrt(dxd * dxd + dyd * dyd)
    )
    wc = (
        Window.partitionBy("way_id")
        .orderBy("j")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = seg.withColumn("cum", F.sum("seg_len").over(wc))
    seg = seg.withColumn(
        "cum_prev",
        F.lag("cum", 1, 0.0).over(Window.partitionBy("way_id").orderBy("j")),
    ).withColumn(
        "is_last",
        F.col("j")
        == F.max("j").over(Window.partitionBy("way_id")),
    )
    totals = seg.groupBy("way_id").agg(F.max("cum").alias("total"))

    hs = ways_hn.select(
        "way_id",
        F.col("h_first").cast("long").alias("h0"),
        F.col("h_last").cast("long").alias("h1"),
    ).select(
        "way_id",
        "h0",
        "h1",
        F.explode(
            F.sequence("h0", "h1", F.lit(step).cast("long"))
        ).alias("housenumber"),
    )
    hs = hs.join(totals, "way_id").select(
        "way_id",
        "housenumber",
        (
            F.col("total")
            * (
                (F.col("housenumber") - F.col("h0")).cast("double")
                / (F.col("h1") - F.col("h0")).cast("double")
            )
        ).alias("t"),
    )

    j = hs.join(seg, "way_id").where(
        (F.col("cum_prev") <= F.col("t"))
        & ((F.col("t") < F.col("cum")) | F.col("is_last"))
    )
    u = (F.col("t") - F.col("cum_prev")) / F.col("seg_len")
    lon_d = F.col("ax").cast("double") + u * (
        F.col("bx") - F.col("ax")
    ).cast("double")
    lat_d = F.col("ay").cast("double") + u * (
        F.col("by") - F.col("ay")
    ).cast("double")
    # zero-length owning segment (t == cum_prev == cum): position
    # is the segment start, not 0/0
    zl = F.col("seg_len") == 0.0
    return j.select(
        "way_id",
        "housenumber",
        F.when(zl, F.col("ax").cast("double"))
        .otherwise(lon_d)
        .alias("lon_d"),
        F.when(zl, F.col("ay").cast("double"))
        .otherwise(lat_d)
        .alias("lat_d"),
    )


# zero-pad widths for the Viterbi fusion-safe tie-break key:
# int64 way ids need <= 19 digits, seg indices <= 9 here
VIT_PAD_WAY = 19
VIT_PAD_SEG = 9


def viterbi_map_match(
    trace_pts: DataFrame,
    ways: DataFrame,
    nodes: DataFrame,
    n_steps: int,
    k: int = 3,
    shift: int = 20,
    switch_penalty: float = float(1 << 38),
    index_join: str = "broadcast",
) -> DataFrame:
    """HMM (Viterbi) map matching of point SEQUENCES — the standard
    GPS-trace workload: per trace, the minimum-cost assignment of
    every step to a way segment, cost = sum of squared
    point-to-segment distances (emissions) + switch_penalty per
    way change (transitions).  Input (trace_id, step, lat_i,
    lon_i) with steps exactly 0..n_steps-1; output (trace_id,
    total_cost, path) where path = "way-seg>way-seg>..." — only
    traces with >= 1 candidate at EVERY step produce a row (a
    dead step kills the trace, the oracle does the same).

    The DP is UNROLLED RELATIONALLY: candidates per (trace, step)
    come from segment_candidates (exact within S = 2**shift)
    ranked to the top-k by (dist2, way_id, seg_idx); TWO DP steps
    are FUSED per shuffle round (the frechet/hop-distance fusion
    applied to Viterbi): both equi-joins on trace_id ride the
    un-deduplicated k^3-rows-per-trace intermediate, then ONE
    groupBy-min collapses the round — halving both the
    shuffle-agg count and the driver job count vs one-step
    rounds (4-step fusion was measured SLOWER at 10x: the k^5
    un-deduplicated intermediate costs more than the two saved
    driver jobs).  Costs accumulate left-to-right ((cost + trans) +
    dist2) through the identical expression chain either way, so
    the doubles replay bit-for-bit in the (still one-step-staged)
    DuckDB oracle.

    Fusion-safe tie-break: the argmin key is (cost, ppath) where
    ppath is the path with every label zero-padded to fixed width
    — fixed-width labels mean no key is a strict prefix of
    another, so appending a common suffix never reorders keys and
    the min becomes ASSOCIATIVE across fused steps (raw "1-2" <
    "1-23" would flip after appending ">x"; padded keys cannot).
    The staged oracle uses the same (cost, ppath) key, so staged
    and fused provably select the same argmin rows. Output paths
    stay in the raw human format.

    Bounded n_steps is the distributed-fleet shape (traces shard
    freely; state fan-out is k per trace); for very long traces
    the alternative is one applyInPandas DP per trace keyed by
    trace_id.

    trace_id, way_id and seg_idx must be non-negative (zero-pad
    tie-break); steps must fit the packing (step < 2**12)."""
    packed = trace_pts.select(
        (F.col("trace_id") * F.lit(4096) + F.col("step")).alias(
            "doc_id"
        ),
        "lat_i",
        "lon_i",
    )
    cand = segment_candidates(
        packed, ways, nodes, shift=shift, index_join=index_join
    )
    cand = cand.select(
        F.expr("doc_id div 4096").alias("trace_id"),
        (F.col("doc_id") % 4096).alias("step"),
        "way_id",
        "seg_idx",
        "dist2",
    )
    wk = Window.partitionBy("trace_id", "step").orderBy(
        F.asc("dist2"), F.asc("way_id"), F.asc("seg_idx")
    )
    cand = (
        cand.withColumn("_rn", F.row_number().over(wk))
        .where(F.col("_rn") <= k)
        .drop("_rn")
        # pinned: five per-step filters consume this — without the
        # checkpoint each one re-expands the whole candidate
        # pipeline (segment join + window rank) into the plan
        .localCheckpoint(eager=False)
    )

    lbl = F.concat(
        F.col("way_id").cast("string"),
        F.lit("-"),
        F.col("seg_idx").cast("string"),
    )
    plbl = F.concat(
        F.lpad(F.col("way_id").cast("string"), VIT_PAD_WAY, "0"),
        F.lit("-"),
        F.lpad(F.col("seg_idx").cast("string"), VIT_PAD_SEG, "0"),
    )
    states = cand.where(F.col("step") == 0).select(
        "trace_id",
        "way_id",
        "seg_idx",
        F.col("dist2").alias("cost"),
        lbl.alias("path"),
        plbl.alias("ppath"),
    )

    def extend(state: DataFrame, t: int) -> DataFrame:
        """One un-deduplicated DP extension through step t (no
        aggregate — rows stay k x current per trace)."""
        ct = cand.where(F.col("step") == t).select(
            "trace_id",
            F.col("way_id").alias("way2"),
            F.col("seg_idx").alias("seg2"),
            F.col("dist2").alias("d2"),
        )
        trans = F.when(
            F.col("way2") == F.col("way_id"), F.lit(0.0)
        ).otherwise(F.lit(float(switch_penalty)))
        return state.join(ct, "trace_id").select(
            "trace_id",
            F.col("way2").alias("way_id"),
            F.col("seg2").alias("seg_idx"),
            ((F.col("cost") + trans) + F.col("d2")).alias("cost"),
            F.concat(
                F.col("path"),
                F.lit(">"),
                F.col("way2").cast("string"),
                F.lit("-"),
                F.col("seg2").cast("string"),
            ).alias("path"),
            F.concat(
                F.col("ppath"),
                F.lit(">"),
                F.lpad(
                    F.col("way2").cast("string"), VIT_PAD_WAY, "0"
                ),
                F.lit("-"),
                F.lpad(
                    F.col("seg2").cast("string"), VIT_PAD_SEG, "0"
                ),
            ).alias("ppath"),
        )

    t = 1
    while t < n_steps:
        fuse = min(2, n_steps - t)
        cur = states
        for u in range(t, t + fuse):
            cur = extend(cur, u)
        states = (
            cur.groupBy("trace_id", "way_id", "seg_idx")
            .agg(F.min(F.struct("cost", "ppath", "path")).alias("_m"))
            .select(
                "trace_id",
                "way_id",
                "seg_idx",
                F.col("_m.cost").alias("cost"),
                F.col("_m.path").alias("path"),
                F.col("_m.ppath").alias("ppath"),
            )
        )
        t += fuse
    return (
        states.groupBy("trace_id")
        .agg(F.min(F.struct("cost", "ppath", "path")).alias("_m"))
        .select(
            "trace_id",
            F.col("_m.cost").alias("total_cost"),
            F.col("_m.path").alias("path"),
        )
    )


def hop_distance(
    ways: DataFrame,
    nodes: DataFrame,
    seeds: DataFrame,
    n_hops: int,
) -> DataFrame:
    """Multi-source shortest NETWORK distance, hop-bounded: for
    every node reachable from the seed set in <= n_hops way-segment
    hops, the minimum accumulated segment length (the
    isochrone/distance-to-facility primitive routing engines build
    on; the reference measures geometry but has no router).  Input
    seeds (doc_id); output (doc_id, dist) with dist in fixed-point
    units, 0 for the seeds themselves.

    Edges are consecutive resolved refs in BOTH directions, weight
    = floor(sqrt(dx^2 + dy^2)) — int64 after an IEEE-pinned
    double sqrt, so accumulation is INTEGER addition and min: no
    fp-order caveats anywhere.  The relaxation is relational
    Bellman-Ford, unrolled, with TWO hops fused per shuffle round
    (round 4): s1 = relax(dist), s2 = relax(s1), then one
    groupBy-min over dist ∪ s1 ∪ s2 — s2 rides on s1's
    un-deduplicated rows (≤ avg-degree² inflation before the min,
    bounded on road networks where degree ≈ 2–3), halving both the
    shuffle-agg count and the driver job count vs one-hop rounds
    (the same fusion as trace_frechet_pairs).  The textbook
    distributed SSSP for bounded radius (unbounded would use the
    <=12-pass fixed-point pattern of graph.py with convergence
    detection).  The oracle replays the same n_hops chained
    relaxations."""
    pos = ways.select(
        "way_id", F.posexplode("refs").alias("j", "ref")
    ).join(
        nodes.select(
            F.col("doc_id").alias("ref"),
            F.col("lon_i").alias("ax"),
            F.col("lat_i").alias("ay"),
        ),
        "ref",
    )
    w = Window.partitionBy("way_id").orderBy("j")
    seg = pos.select(
        F.col("ref").alias("u"),
        F.lead("ref").over(w).alias("v"),
        "ax",
        "ay",
        F.lead("ax").over(w).alias("bx"),
        F.lead("ay").over(w).alias("by"),
    ).where(F.col("v").isNotNull())
    dxd = (F.col("bx") - F.col("ax")).cast("double")
    dyd = (F.col("by") - F.col("ay")).cast("double")
    seg = seg.select(
        "u", "v", F.floor(F.sqrt(dxd * dxd + dyd * dyd)).alias("w")
    )
    edges = seg.unionByName(
        seg.select(
            F.col("v").alias("u"), F.col("u").alias("v"), "w"
        )
    )

    edges = edges.localCheckpoint(eager=False)

    def relax(state: DataFrame) -> DataFrame:
        return state.join(
            edges, state["node"] == edges["u"]
        ).select(
            F.col("v").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )

    dist = seeds.select(
        F.col("doc_id").alias("node"),
        F.lit(0).cast("long").alias("dist"),
    ).distinct()
    hops_left = n_hops
    while hops_left > 0:
        s1 = relax(dist)
        u = dist.unionByName(s1)
        if hops_left >= 2:
            u = u.unionByName(relax(s1))
        dist = u.groupBy("node").agg(F.min("dist").alias("dist"))
        hops_left -= 2
    return dist.select(F.col("node").alias("doc_id"), "dist")


def snap_to_ways_geodesic(
    points: DataFrame,
    ways: DataFrame,
    nodes: DataFrame,
    shift: int = 20,
    radius: int = 2,
    index_join: str = "broadcast",
) -> DataFrame:
    """snap_to_ways under the reference's geodesic metric
    (segment_candidates cosr=True): east-west deltas scaled by the
    cosr table at the segment's midpoint latitude band, matching
    osmconvert's length/width scaling.  radius must satisfy the
    cosr completeness rule (2 covers |lat| <= 60 degrees)."""
    scored = segment_candidates(
        points, ways, nodes, shift=shift, cosr=True, radius=radius,
        index_join=index_join,
    )
    wd = Window.partitionBy("doc_id").orderBy(
        F.asc("dist2"), F.asc("way_id"), F.asc("seg_idx")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(wd))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def bearing_octants(traces: DataFrame) -> DataFrame:
    """Exact integer compass classification of every trace step:
    each consecutive (step, step+1) pair yields its displacement
    (dx east, dy north), the squared step length, and the compass
    OCTANT — sector k covering bearings [k*45, (k+1)*45) degrees
    clockwise from north, k in 0..7, -1 for a stationary step.

    Octant boundaries are the axes and the exact diagonals, so
    membership is pure int64 sign/magnitude comparison — no atan2,
    no floats, engine-identical by construction (the float-free
    sibling of the cosr-scaled length op). One trace-keyed window
    shuffle; the classification is in-row."""
    from pyspark.sql import Window

    w = Window.partitionBy("trace_id").orderBy("step")
    seq = traces.select(
        "trace_id",
        "step",
        (F.lead("lon_i").over(w) - F.col("lon_i")).alias("dx"),
        (F.lead("lat_i").over(w) - F.col("lat_i")).alias("dy"),
    ).where(F.col("dx").isNotNull())
    dx, dy = F.col("dx"), F.col("dy")
    octant = (
        F.when((dx == 0) & (dy == 0), -1)
        .when((dx >= 0) & (dy > 0) & (dx < dy), 0)
        .when((dx > 0) & (dy > 0) & (dx >= dy), 1)
        .when((dx > 0) & (dy <= 0) & (-dy < dx), 2)
        .when((dx > 0) & (dy < 0) & (-dy >= dx), 3)
        .when((dx <= 0) & (dy < 0) & (-dx < -dy), 4)
        .when((dx < 0) & (dy < 0) & (-dx >= -dy), 5)
        .when((dx < 0) & (dy >= 0) & (dy < -dx), 6)
        .otherwise(7)
    )
    return seq.select(
        "trace_id",
        "step",
        "dx",
        "dy",
        octant.cast("long").alias("octant"),
        (dx * dx + dy * dy).cast("long").alias("d2"),
    )


def _trace_cell_members(
    traces: DataFrame, shift: int
) -> tuple[DataFrame, DataFrame]:
    """(own, dil) cell-membership tables behind the trace
    candidate join: `own` is one row per (trace_id, occupied
    cell); `dil` is one row per (trace_b, cell of the radius-1
    dilated footprint). Shared by _trace_pair_matrix and
    trace_pair_overflow so the guard and its report see the
    identical cell geometry."""
    lon_bits = max(int((3_600_000_000 >> shift)).bit_length(), 1)
    pack = 1 << lon_bits
    latb = F.shiftright(F.col("lat_i") + 900000000, shift)
    lonb = F.shiftright(F.col("lon_i") + 1800000000, shift)

    tp = traces.select("trace_id", "lat_i", "lon_i")
    own = tp.select(
        "trace_id", (latb * pack + lonb).alias("cell")
    ).distinct()
    neigh = F.array(
        *[
            (latb + dv) * pack + (lonb + du)
            for dv in (-1, 0, 1)
            for du in (-1, 0, 1)
        ]
    )
    dil = (
        tp.select("trace_id", F.explode(neigh).alias("cell"))
        .distinct()
        .withColumnRenamed("trace_id", "trace_b")
    )
    return own, dil


def trace_pair_overflow(
    traces: DataFrame, shift: int = 22, max_cell_traces: int = 64
) -> DataFrame:
    """Explicit overflow report for the density guard of
    _trace_pair_matrix: the dilated grid cells whose trace count
    exceeds `max_cell_traces` — exactly the cells the guarded
    operators drop candidate pairs from — as (cell, n_traces).
    Run alongside any guarded trace-similarity query to know
    WHERE recall was traded for boundedness (megacity hotspots),
    instead of the loss being silent. Bounded output: one row per
    hot cell, never per pair."""
    _own, dil = _trace_cell_members(traces, shift)
    return (
        dil.groupBy("cell")
        .agg(F.countDistinct("trace_b").cast("long").alias("n_traces"))
        .where(F.col("n_traces") > int(max_cell_traces))
    )


def _trace_pair_matrix(
    traces: DataFrame,
    shift: int = 22,
    max_cell_traces: int | None = None,
) -> DataFrame:
    """Shared candidate-pair step-distance matrix for the trace
    similarity operators: traces sharing a radius-1 dilated grid
    cell of side S = 2**shift become candidate pairs; output is
    one row per (trace_a, trace_b, ai, bj) with exact int64
    squared distance d2 between step ai of A and step bj of B.

    Candidate completeness: if Hausdorff(A,B) <= S then every
    point of A lies within S of B, so the pair shares a dilated
    cell. Frechet >= Hausdorff, so the same candidate set is also
    complete for Frechet <= S.

    Density guard (`max_cell_traces`): a fixed-radius similarity
    join is inherently density²-in-the-hotspot — one Tokyo-dense
    cell with k traces emits k(k-1)/2 candidate pairs no matter
    how the rest of the planet looks. With the guard set, cells
    whose DILATED footprint holds more than `max_cell_traces`
    traces contribute no candidates, which caps per-cell join
    output at max_cell_traces² and total work at
    (#cells) * cap² — linear in occupied area, not quadratic in
    hotspot density. The trade is explicit, not silent: a pair is
    lost ONLY if every cell it shares is hot, and
    trace_pair_overflow(traces, shift, cap) names exactly those
    cells with their counts. Guard OFF (None) preserves the exact
    candidate-complete semantics for oracle twins and small data.

    Scale: the self-join is cell-keyed (never all-pairs); the
    d2 matrix is bounded by (#steps)^2 rows per candidate pair;
    deltas within a candidate pair are bounded by ~3 cells + two
    trace extents, so squares stay far inside int64. The matrix is
    pinned with a lazy localCheckpoint because multiple aggregates
    consume it."""
    own, dil = _trace_cell_members(traces, shift)
    if max_cell_traces is not None:
        # hot-cell exclusion on the DILATED counts: own-cell
        # membership implies dilated membership, so capping dil
        # bounds both join sides; the anti-joins broadcast (hot
        # cells are by definition few)
        hot = (
            dil.groupBy("cell")
            .agg(F.countDistinct("trace_b").alias("_n"))
            .where(F.col("_n") > int(max_cell_traces))
            .select("cell")
        )
        own = own.join(F.broadcast(hot), "cell", "left_anti")
        dil = dil.join(F.broadcast(hot), "cell", "left_anti")
    tp = traces.select("trace_id", "step", "lat_i", "lon_i")
    pairs = (
        own.join(dil, "cell")
        .where(F.col("trace_id") < F.col("trace_b"))
        .select(F.col("trace_id").alias("trace_a"), "trace_b")
        .distinct()
    )

    a = tp.select(
        F.col("trace_id").alias("trace_a"),
        F.col("step").alias("ai"),
        F.col("lat_i").alias("alat"),
        F.col("lon_i").alias("alon"),
    )
    b = tp.select(
        F.col("trace_id").alias("trace_b"),
        F.col("step").alias("bj"),
        F.col("lat_i").alias("blat"),
        F.col("lon_i").alias("blon"),
    )
    m = (
        pairs.join(a, "trace_a")
        .join(b, "trace_b")
        .select(
            "trace_a",
            "trace_b",
            "ai",
            "bj",
            (
                (F.col("alat") - F.col("blat"))
                * (F.col("alat") - F.col("blat"))
                + (F.col("alon") - F.col("blon"))
                * (F.col("alon") - F.col("blon"))
            ).alias("d2"),
        )
        .localCheckpoint(eager=False)
    )
    return m


def trace_hausdorff_pairs(
    traces: DataFrame,
    shift: int = 22,
    max_cell_traces: int | None = None,
) -> DataFrame:
    """Discrete Hausdorff distance between nearby trace pairs,
    exact int64: candidate pairs from _trace_pair_matrix, then
    H2 = max(max_i min_j d2, max_j min_i d2) over the step-point
    matrix. `within` (H2 <= S^2) is EXACTLY the set of all pairs
    at Hausdorff distance <= S (see _trace_pair_matrix), while
    farther candidate pairs still report their true H2.  `max_cell_traces` passes through to the
    density guard (see _trace_pair_matrix;
    trace_pair_overflow reports the excluded hot cells)."""
    m = _trace_pair_matrix(traces, shift, max_cell_traces)
    h_ab = (
        m.groupBy("trace_a", "trace_b", "ai")
        .agg(F.min("d2").alias("md"))
        .groupBy("trace_a", "trace_b")
        .agg(F.max("md").alias("h_ab"))
    )
    h_ba = (
        m.groupBy("trace_a", "trace_b", "bj")
        .agg(F.min("d2").alias("md"))
        .groupBy("trace_a", "trace_b")
        .agg(F.max("md").alias("h_ba"))
    )
    s2 = 1 << (2 * shift)
    return (
        h_ab.join(h_ba, ["trace_a", "trace_b"])
        .select(
            "trace_a",
            "trace_b",
            F.greatest("h_ab", "h_ba").cast("long").alias("h2"),
        )
        .withColumn("within", F.col("h2") <= F.lit(s2))
    )


def trace_frechet_pairs(
    traces: DataFrame,
    shift: int = 22,
    n_steps: int | None = None,
    max_cell_traces: int | None = None,
) -> DataFrame:
    """Discrete Frechet distance (coupling distance, Eiter &
    Mannila 1994) between nearby trace pairs, exact int64: the
    minimax monotone-path cost over the step-distance grid —
    f(i,j) = max(d2(i,j), min(f(i-1,j), f(i,j-1), f(i-1,j-1))),
    answer f(n-1, n-1). The "dog leash" companion to
    trace_hausdorff_pairs: Hausdorff ignores step ORDER, Frechet
    respects it, so out-and-back vs one-way traces separate.

    Relational plan: the DP is a minimax shortest path on the
    (n x n) grid DAG (moves right/down/diagonal), solved by
    UNROLLED relaxation exactly like hop_distance's Bellman-Ford —
    max(li+lj) passes guarantee convergence (the longest monotone
    path has 2n-2 edges). Up to FOUR relaxation steps are FUSED
    per shuffle round: s1 = relax(f), s2 = relax(s1), ..., then one
    groupBy-min over f ∪ s1 ∪ s2 ∪ ... — each later step rides on
    the previous one's un-deduplicated rows (≤3× inflation per
    step, still grid-bounded after the equi-join), cutting both
    the shuffle-agg count and the driver job count up to 4x vs
    one-step rounds. Lazy localCheckpoint per
    round keeps lineage flat. All arithmetic is int64 min/max on
    exact squared distances — no floats anywhere, so the oracle
    (an enumerate-all-monotone-paths recursive CTE) matches
    hash-exactly.

    Scale: state is one row per live (pair, i, j) — bounded by
    (#candidate pairs) * n^2, the same bound as the Hausdorff
    matrix; every pass shuffles only that state. Candidates are
    cell-complete for Frechet <= S (Frechet >= Hausdorff; see
    _trace_pair_matrix).

    Variable-length traces: the terminal DP state is derived PER
    PAIR as (max step of A, max step of B), and the pass count
    from the global longest path max(li+lj) (one bounded 1-row
    scalar collect) — a short trace paired with a long one gets
    its true coupling distance instead of silently vanishing.
    Pass n_steps only to pin the pass count without the scalar
    job (all traces must then have <= n_steps steps). Contract:
    `step` is 0-based and contiguous within each trace.  `max_cell_traces` passes through to the
    density guard (see _trace_pair_matrix;
    trace_pair_overflow reports the excluded hot cells)."""
    m = _trace_pair_matrix(traces, shift, max_cell_traces)

    spark = m.sparkSession
    moves = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 1)], "di long, dj long"
    )

    grid = m.select(
        "trace_a", "trace_b",
        F.col("ai").cast("long").alias("i"),
        F.col("bj").cast("long").alias("j"),
        F.col("d2").cast("long").alias("d2"),
    ).localCheckpoint(eager=False)

    ends = grid.groupBy("trace_a", "trace_b").agg(
        F.max("i").alias("li"), F.max("j").alias("lj")
    ).select(
        F.col("trace_a").alias("ea"),
        F.col("trace_b").alias("eb"),
        "li",
        "lj",
    )
    f = grid.where((F.col("i") == 0) & (F.col("j") == 0)).select(
        "trace_a", "trace_b", "i", "j", F.col("d2").alias("f")
    )
    if n_steps is not None:
        n_passes = 2 * (n_steps - 1)
    else:
        row = ends.agg(
            F.max(F.col("li") + F.col("lj")).alias("mp")
        ).collect()  # 1 row: longest monotone path over all pairs
        n_passes = int(row[0]["mp"] if row[0]["mp"] is not None else 0)

    def relax(state: DataFrame) -> DataFrame:
        return (
            state.join(F.broadcast(moves))
            .select(
                "trace_a",
                "trace_b",
                (F.col("i") + F.col("di")).alias("i"),
                (F.col("j") + F.col("dj")).alias("j"),
                "f",
            )
            .join(grid, ["trace_a", "trace_b", "i", "j"])
            .select(
                "trace_a",
                "trace_b",
                "i",
                "j",
                F.greatest("f", "d2").alias("f"),
            )
        )

    # fuse up to FOUR relaxation steps per shuffle round: each
    # un-deduplicated extension is grid-bounded after its equi-join
    # (<= 3x rows per step before the min), so a round costs one
    # groupBy-min + checkpoint for four edges of progress — the
    # driver-job count falls 4x vs one-step rounds
    done = 0
    while done < n_passes:
        k = min(4, n_passes - done)
        u = f
        s = f
        for _ in range(k):
            s = relax(s)
            u = u.unionByName(s)
        f = (
            u.groupBy("trace_a", "trace_b", "i", "j")
            .agg(F.min("f").alias("f"))
            .localCheckpoint(eager=False)
        )
        done += k
    s2 = 1 << (2 * shift)
    return (
        f.join(
            ends,
            (F.col("trace_a") == F.col("ea"))
            & (F.col("trace_b") == F.col("eb"))
            & (F.col("i") == F.col("li"))
            & (F.col("j") == F.col("lj")),
        )
        .select(
            "trace_a",
            "trace_b",
            F.col("f").cast("long").alias("frechet2"),
        )
        .withColumn("within", F.col("frechet2") <= F.lit(s2))
    )


def trace_dtw_pairs(
    traces: DataFrame,
    shift: int = 22,
    n_steps: int | None = None,
    max_cell_traces: int | None = None,
) -> DataFrame:
    """Dynamic-time-warping distance between nearby trace pairs,
    exact int64: dtw(i,j) = d2(i,j) + min(dtw(i-1,j), dtw(i,j-1),
    dtw(i-1,j-1)), answer dtw(n-1,n-1) — the min-TOTAL-cost warp
    of A onto B. Completes the trajectory-similarity triad:
    Hausdorff ignores order, Frechet is the worst matched step
    (minimax), DTW is the summed matched cost (minsum), so a trace
    that matches well everywhere except one excursion separates
    from one that is uniformly offset.

    Relational plan: identical to trace_frechet_pairs — the same
    cell-complete candidate matrix (_trace_pair_matrix), the same
    unrolled right/down/diagonal relaxation with up to four fused
    steps per shuffle round — with the minimax `greatest(f, d2)`
    swapped for the running sum `f + d2`. Path sums stay far
    inside int64: per-step d2 is bounded by (3 cells + two trace
    extents)^2 and a monotone path has <= 2n-1 steps. The oracle
    is the same enumerate-all-monotone-paths recursive CTE with a
    running sum, so values hash-match bit-for-bit.

    NOT a translation of reference code — the reference
    (ramunasd/osmctools) has no trajectory similarity at all; this
    extends its geodata model the way its osmposition extends
    geocoding."""
    m = _trace_pair_matrix(traces, shift, max_cell_traces)

    spark = m.sparkSession
    moves = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 1)], "di long, dj long"
    )

    grid = m.select(
        "trace_a", "trace_b",
        F.col("ai").cast("long").alias("i"),
        F.col("bj").cast("long").alias("j"),
        F.col("d2").cast("long").alias("d2"),
    ).localCheckpoint(eager=False)

    ends = grid.groupBy("trace_a", "trace_b").agg(
        F.max("i").alias("li"), F.max("j").alias("lj")
    ).select(
        F.col("trace_a").alias("ea"),
        F.col("trace_b").alias("eb"),
        "li",
        "lj",
    )
    f = grid.where((F.col("i") == 0) & (F.col("j") == 0)).select(
        "trace_a", "trace_b", "i", "j", F.col("d2").alias("f")
    )
    if n_steps is not None:
        n_passes = 2 * (n_steps - 1)
    else:
        row = ends.agg(
            F.max(F.col("li") + F.col("lj")).alias("mp")
        ).collect()  # 1 row: longest monotone path over all pairs
        n_passes = int(row[0]["mp"] if row[0]["mp"] is not None else 0)

    def relax(state: DataFrame) -> DataFrame:
        return (
            state.join(F.broadcast(moves))
            .select(
                "trace_a",
                "trace_b",
                (F.col("i") + F.col("di")).alias("i"),
                (F.col("j") + F.col("dj")).alias("j"),
                "f",
            )
            .join(grid, ["trace_a", "trace_b", "i", "j"])
            .select(
                "trace_a",
                "trace_b",
                "i",
                "j",
                (F.col("f") + F.col("d2")).alias("f"),
            )
        )

    done = 0
    while done < n_passes:
        k = min(4, n_passes - done)
        u = f
        s = f
        for _ in range(k):
            s = relax(s)
            u = u.unionByName(s)
        f = (
            u.groupBy("trace_a", "trace_b", "i", "j")
            .agg(F.min("f").alias("f"))
            .localCheckpoint(eager=False)
        )
        done += k
    return f.join(
        ends,
        (F.col("trace_a") == F.col("ea"))
        & (F.col("trace_b") == F.col("eb"))
        & (F.col("i") == F.col("li"))
        & (F.col("j") == F.col("lj")),
    ).select(
        "trace_a",
        "trace_b",
        F.col("f").cast("long").alias("dtw2"),
    )


def way_centroids(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """Exact integer centroid (label point) of closed ways — the
    area-weighted polygon centroid, floor-rounded to fix7 units:

        C = v0 + floor( sum (p_i + p_{i+1}) x cross_i / (3 * 2A) )

    computed entirely in first-vertex-centered coordinates like
    way_signed_area above (same scan/window plan, one extra column
    pair). The numerator terms exceed int64 (extent * cross), so
    they ride as decimal(38,0)/HUGEINT; the final floor-division
    normalizes the sign so the denominator 3|2A| is positive, then
    subtracts the positive pmod — after that the quotient is exact
    and Spark's truncating `div` equals true floor equals DuckDB's
    `//`, the engine-portable discipline of operators/linalg.py.

    Output (way_id, two_a, cx_fix, cy_fix): winding-signed area
    plus the centroid in plain fix7 coordinates — the point a
    renderer would label, exact in any engine. Degenerate
    zero-area rings are dropped (their centroid is undefined)."""
    closed = ways.where(
        (F.element_at("refs", 1) == F.element_at("refs", -1))
        & (F.size("refs") >= 4)
    )
    pos = closed.select(
        "way_id", F.posexplode("refs").alias("j", "ref")
    ).join(
        nodes.select(
            F.col("doc_id").alias("ref"), "lat_i", "lon_i"
        ),
        "ref",
    )
    w = Window.partitionBy("way_id").orderBy("j")
    wa = w.rowsBetween(Window.unboundedPreceding, 0)
    seg = pos.select(
        "way_id",
        F.first("lon_i").over(wa).alias("x0"),
        F.first("lat_i").over(wa).alias("y0"),
        (F.col("lon_i") - F.first("lon_i").over(wa)).alias("x"),
        (F.col("lat_i") - F.first("lat_i").over(wa)).alias("y"),
        (
            F.lead("lon_i").over(w) - F.first("lon_i").over(wa)
        ).alias("x2"),
        (
            F.lead("lat_i").over(w) - F.first("lat_i").over(wa)
        ).alias("y2"),
    ).where(F.col("x2").isNotNull())
    dec = "decimal(38,0)"
    cross = F.col("x").cast(dec) * F.col("y2").cast(dec) - F.col(
        "x2"
    ).cast(dec) * F.col("y").cast(dec)
    sums = (
        seg.select(
            "way_id",
            "x0",
            "y0",
            cross.alias("_c"),
            ((F.col("x") + F.col("x2")).cast(dec) * cross).alias(
                "_nx"
            ),
            ((F.col("y") + F.col("y2")).cast(dec) * cross).alias(
                "_ny"
            ),
        )
        .groupBy("way_id")
        .agg(
            F.min("x0").alias("x0"),
            F.min("y0").alias("y0"),
            F.sum("_c").alias("two_a"),
            F.sum("_nx").alias("nx"),
            F.sum("_ny").alias("ny"),
        )
        .where(F.col("two_a") != 0)
    )
    sgn = F.when(F.col("two_a") < 0, F.lit(-1)).otherwise(
        F.lit(1)
    ).cast(dec)
    den = (F.abs(F.col("two_a")) * F.lit(3).cast(dec)).alias("den")
    normalized = sums.select(
        "way_id",
        "x0",
        "y0",
        F.col("two_a").cast("long").alias("two_a"),
        (F.col("nx") * sgn).alias("nxs"),
        (F.col("ny") * sgn).alias("nys"),
        den,
    )
    out = normalized.selectExpr(
        "way_id",
        "two_a",
        "cast(x0 + (nxs - pmod(nxs, den)) div den as long) as cx_fix",
        "cast(y0 + (nys - pmod(nys, den)) div den as long) as cy_fix",
    )
    return out


def trace_edr_pairs(
    traces: DataFrame,
    shift: int = 22,
    eps2: int = 4_000_000_000_000,
    n_steps: int | None = None,
    max_cell_traces: int | None = None,
) -> DataFrame:
    """Edit Distance on Real sequence (EDR, Chen-Ozsu-Oria
    SIGMOD'05, the noise-robust member of the trajectory-
    similarity family) between nearby trace pairs, exact int64.

    Path-DP formulation on the same monotone lattice as
    Frechet/DTW above: a diagonal move costs 0 when the step pair
    matches (squared distance <= eps2) and 1 otherwise; a gap move
    (skip one step of either trace) costs 1; the distance is the
    min-total-cost path to (n-1, n-1) seeded with the (0,0) match
    cost. Where DTW must pay every meter of a GPS glitch, EDR pays
    at most 1 per glitched step — the tolerance band turns metric
    noise into edit noise.

    Relational plan: identical to trace_dtw_pairs — the cell-
    complete candidate matrix, the unrolled right/down/diagonal
    relaxation with up to four fused steps per shuffle round —
    with the running sum `f + d2` swapped for the thresholded move
    cost. Costs are bounded by path length (<= 2n-1), trivially
    int64. The oracle is the same enumerate-all-monotone-paths
    recursive CTE with the same per-move cost, so values
    hash-match exactly (integer compares only — eps2 never meets
    a float).

    NOT a translation of reference code — ramunasd/osmctools has
    no trajectory similarity; see trace_dtw_pairs."""
    m = _trace_pair_matrix(traces, shift, max_cell_traces)

    spark = m.sparkSession
    moves = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 1)], "di long, dj long"
    )

    grid = m.select(
        "trace_a", "trace_b",
        F.col("ai").cast("long").alias("i"),
        F.col("bj").cast("long").alias("j"),
        F.when(F.col("d2") <= F.lit(int(eps2)), F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("c"),
    ).localCheckpoint(eager=False)

    ends = grid.groupBy("trace_a", "trace_b").agg(
        F.max("i").alias("li"), F.max("j").alias("lj")
    ).select(
        F.col("trace_a").alias("ea"),
        F.col("trace_b").alias("eb"),
        "li",
        "lj",
    )
    f = grid.where((F.col("i") == 0) & (F.col("j") == 0)).select(
        "trace_a", "trace_b", "i", "j", F.col("c").alias("f")
    )
    if n_steps is not None:
        n_passes = 2 * (n_steps - 1)
    else:
        row = ends.agg(
            F.max(F.col("li") + F.col("lj")).alias("mp")
        ).collect()  # 1 row: longest monotone path over all pairs
        n_passes = int(row[0]["mp"] if row[0]["mp"] is not None else 0)

    def relax(state: DataFrame) -> DataFrame:
        return (
            state.join(F.broadcast(moves))
            .select(
                "trace_a",
                "trace_b",
                (F.col("i") + F.col("di")).alias("i"),
                (F.col("j") + F.col("dj")).alias("j"),
                "f",
                (F.col("di") * F.col("dj")).alias("diag"),
            )
            .join(grid, ["trace_a", "trace_b", "i", "j"])
            .select(
                "trace_a",
                "trace_b",
                "i",
                "j",
                (
                    F.col("f")
                    + F.when(F.col("diag") == 1, F.col("c"))
                    .otherwise(F.lit(1).cast("long"))
                ).alias("f"),
            )
        )

    done = 0
    while done < n_passes:
        k = min(4, n_passes - done)
        u = f
        s = f
        for _ in range(k):
            s = relax(s)
            u = u.unionByName(s)
        f = (
            u.groupBy("trace_a", "trace_b", "i", "j")
            .agg(F.min("f").alias("f"))
            .localCheckpoint(eager=False)
        )
        done += k
    return f.join(
        ends,
        (F.col("trace_a") == F.col("ea"))
        & (F.col("trace_b") == F.col("eb"))
        & (F.col("i") == F.col("li"))
        & (F.col("j") == F.col("lj")),
    ).select(
        "trace_a",
        "trace_b",
        F.col("f").cast("long").alias("edr"),
    )


def trace_markov_predictor(
    traces: DataFrame, shift: int = 22
) -> DataFrame:
    """First-order Markov next-cell predictor over trajectories —
    the mobility-prediction baseline (order-1 Markov location
    predictors, standard in the public human-mobility literature):
    count cell->cell transitions between consecutive trace steps,
    then for every source cell pick the most frequent successor
    (ties toward the SMALLEST cell id, deterministic) and report
    its hit count against the cell's total outgoing transitions —
    n_best/n_total is the in-sample prediction accuracy, kept as
    the exact integer pair instead of a drifting float.

    Shape: one per-trace window (lead over step order — partitions
    by trace, state bounded by trace length), one partial-
    aggregable (src, dst) count, and the argmax as a map-side-
    combinable max(struct(count, -dst)) per src. No windows over
    the transition table, no skew beyond the src groupBy (a hub
    cell's transitions partial-aggregate before the shuffle).

    NOT from the reference — extends the q125 transition-matrix
    family with the predictor/accuracy layer."""
    w = Window.partitionBy("trace_id").orderBy("step")
    steps = traces.select(
        "trace_id",
        "step",
        point_cell_col("lat_i", "lon_i", shift).alias("cell"),
    )
    trans = (
        steps.withColumn("nxt", F.lead("cell").over(w))
        .where(F.col("nxt").isNotNull())
        .groupBy(
            F.col("cell").alias("src"), F.col("nxt").alias("dst")
        )
        .agg(F.count("*").cast("long").alias("c"))
    )
    return trans.groupBy("src").agg(
        F.max(
            F.struct(
                F.col("c").alias("c"), (-F.col("dst")).alias("nd")
            )
        ).alias("b"),
        F.sum("c").cast("long").alias("n_total"),
    ).select(
        "src",
        (-F.col("b.nd")).cast("long").alias("best_next"),
        F.col("b.c").cast("long").alias("n_best"),
        "n_total",
    )


def simplify_traces_dp(
    traces: DataFrame, eps2: int, passes: int = 3
) -> DataFrame:
    """Douglas-Peucker polyline simplification over trajectories,
    exact: keep a step iff it is the max-deviation witness of some
    split — the standard vector-tile generalization algorithm
    (Douglas & Peucker 1973), run as `passes` synchronized split
    rounds instead of recursion.

    The perpendicular-distance test never divides: with cross =
    (P_j - P_i) x (P_k - P_i), dist^2 > eps^2 iff
    cross^2 > eps2 * len2(i,j) — cross^2 rides as decimal(38,0)
    (it exceeds int64 at continental extents; the linalg.py
    HUGEINT-mirroring discipline), every comparison integer-exact,
    and the OUTPUT is plain (trace_id, step) kept rows, so no
    decimal ever reaches the driver hash. Argmax ties break toward
    the smallest step via max(struct(c2, -step)), mirrored in the
    oracle's ORDER BY c2 DESC, step.

    Shape per round: the open-segment table joins the step table
    three times, ALL keyed on trace_id (the range predicate i<k<j
    rides the equi-join as a filter — never a cartesian), one
    partial-aggregable argmax per segment, and the segment table
    at most doubles while covered spans shrink — rounds needed =
    log2(max trace length), each a fixed number of shuffles.
    Traces partition independently; a million traces split in
    parallel.

    NOT the reference's grade-based ring thinning (geo/rings.py
    implements that one); this is the deviation-bounded
    generalization a tile renderer applies to traces/ways."""
    steps = traces.select(
        "trace_id",
        F.col("step").cast("long").alias("step"),
        F.col("lon_i").cast("long").alias("x"),
        F.col("lat_i").cast("long").alias("y"),
    ).localCheckpoint(eager=False)
    ends = steps.groupBy("trace_id").agg(
        F.min("step").alias("i"), F.max("step").alias("j")
    )
    kept = ends.select(
        "trace_id", F.col("i").alias("step")
    ).unionByName(
        ends.select("trace_id", F.col("j").alias("step"))
    )
    segs = ends.where(F.col("j") > F.col("i") + 1)

    def anchored(s: DataFrame) -> DataFrame:
        ai = steps.select(
            "trace_id", F.col("step").alias("i"),
            F.col("x").alias("xi"), F.col("y").alias("yi"),
        )
        aj = steps.select(
            "trace_id", F.col("step").alias("j"),
            F.col("x").alias("xj"), F.col("y").alias("yj"),
        )
        k = s.join(ai, ["trace_id", "i"]).join(
            aj, ["trace_id", "j"]
        ).join(steps, "trace_id").where(
            (F.col("step") > F.col("i"))
            & (F.col("step") < F.col("j"))
        )
        # deltas cast BEFORE multiplying: at full-extent spans the
        # products overflow int64 (len2 up to ~1.2e19), and Spark
        # would wrap silently where DuckDB's BIGINT raises — the
        # decimal discipline must start at the first multiply
        dx = (F.col("xj") - F.col("xi")).cast("decimal(38,0)")
        dy = (F.col("yj") - F.col("yi")).cast("decimal(38,0)")
        px = (F.col("x") - F.col("xi")).cast("decimal(38,0)")
        py = (F.col("y") - F.col("yi")).cast("decimal(38,0)")
        cross = dx * py - dy * px
        len2 = dx * dx + dy * dy
        return k.select(
            "trace_id", "i", "j", "step",
            (cross * cross).alias("c2"),
            (F.lit(int(eps2)).cast("decimal(38,0)") * len2).alias(
                "thr"
            ),
        )

    for _ in range(int(passes)):
        cand = anchored(segs)
        split = (
            cand.groupBy("trace_id", "i", "j")
            .agg(
                F.max(
                    F.struct(
                        F.col("c2").alias("c2"),
                        (-F.col("step")).alias("ns"),
                    )
                ).alias("b"),
                F.max("thr").alias("thr"),
            )
            .where(F.col("b.c2") > F.col("thr"))
            .select(
                "trace_id", "i", "j",
                (-F.col("b.ns")).cast("long").alias("bk"),
            )
            .localCheckpoint(eager=False)
        )
        kept = kept.unionByName(
            split.select("trace_id", F.col("bk").alias("step"))
        )
        segs = split.select(
            "trace_id", "i", F.col("bk").alias("j")
        ).where(F.col("j") > F.col("i") + 1).unionByName(
            split.select(
                "trace_id", F.col("bk").alias("i"), "j"
            ).where(F.col("j") > F.col("i") + 1)
        )
    return kept.distinct()


def trace_surprisal(
    traces: DataFrame, shift: int = 22
) -> DataFrame:
    """Route predictability scoring: each trace's total transition
    surprisal under the corpus's own first-order cell Markov model
    — per step, the integer code length floor_log2(total_from_src)
    - floor_log2(count_src_to_dst) (the lm.py floor-log2
    discipline: an exact-integer stand-in for -log2 P that every
    engine reproduces bit-for-bit). A commuter on the crowd's
    rails scores near 0; a trace cutting against every observed
    flow scores high — the trajectory-anomaly ranking that
    complements gps_jumps' physics checks with BEHAVIORAL
    surprise.

    Shape: the q217 transition build (one per-trace window, one
    (src, dst) partial-aggregable count), a src-total rollup, two
    equi-joins back onto the per-step transitions, one per-trace
    sum. Model tables are cell-pair sized — broadcast-friendly
    against billions of steps."""
    w = Window.partitionBy("trace_id").orderBy("step")
    steps = traces.select(
        "trace_id",
        "step",
        point_cell_col("lat_i", "lon_i", shift).alias("cell"),
    )
    trans = (
        steps.withColumn("nxt", F.lead("cell").over(w))
        .where(F.col("nxt").isNotNull())
        .select(
            "trace_id",
            F.col("cell").alias("src"),
            F.col("nxt").alias("dst"),
        )
    )
    counts = trans.groupBy("src", "dst").agg(
        F.count("*").cast("long").alias("c")
    )
    totals = counts.groupBy("src").agg(
        F.sum("c").cast("long").alias("t")
    )
    bits = F.length(F.bin(F.col("t"))) - F.length(
        F.bin(F.col("c"))
    )
    return (
        trans.join(counts, ["src", "dst"])
        .join(totals, "src")
        .groupBy("trace_id")
        .agg(
            F.count("*").cast("long").alias("n_trans"),
            F.sum(bits).cast("long").alias("cost_total"),
        )
    )
