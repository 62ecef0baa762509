"""Spatial operators: bbox filter, cell keys, N-polygon assignment.

The flagship operator is `assign_regions` — the Spark realization of
osmassignpoly's N-polygon spatial join (osmassignpoly.c:1614-1783 /
SURVEY.md G1/J5):

  reference                      | this engine
  -------------------------------+---------------------------------
  2*sqrt(N) grid matrix of       | global-bbox Catalyst prefilter
  per-cell candidate lists       | (pushed to the parquet scan) +
                                 | per-polygon bbox reject inside
                                 | the kernel
  per-node exact ray-cast PIP    | vectorized numpy kernel over
                                 | Arrow batches (Arrow UDF)
  polygon table in RAM           | sc.broadcast(PolygonSet) — one
                                 | copy per executor, not per task

Plan shape at scale: scan -> Filter(bbox, pushed down) -> Project
(+cell, pure integer Catalyst exprs, whole-stage codegen) ->
ArrowEvalPython(assign) -> optional Filter(region IS NOT NULL).
No shuffle at all: the polygon side is broadcast, the point side
stays partition-local. Skew is irrelevant here (no join keys); it
matters downstream when grouping by cell — see tiles.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, functions as F

from ..geo.cells import DEFAULT_SHIFT, LAT_OFFSET, LON_OFFSET, _lon_bits
from ..geo.fixedpoint import NIL
from ..geo.pip import PolygonSet, assign_polygons, query_inside


def bbox_contains(
    lon: Column, lat: Column, x1: int, y1: int, x2: int, y2: int
) -> Column:
    """Fixed-point bbox predicate (`-b=`, osmconvert.c:2053-2058).
    Pure Catalyst — pushes down to the scan."""
    return (
        (lon >= F.lit(x1))
        & (lon <= F.lit(x2))
        & (lat >= F.lit(y1))
        & (lat <= F.lit(y2))
    )


def with_cell(
    df: DataFrame,
    lat_col: str = "lat_i",
    lon_col: str = "lon_i",
    out: str = "cell",
    shift: int = DEFAULT_SHIFT,
) -> DataFrame:
    """Engine tile-cell id as a pure integer Catalyst expression —
    stays inside whole-stage codegen, no UDF (SURVEY.md G11)."""
    lon_bits = _lon_bits(shift)
    lat_band = F.shiftright(F.col(lat_col) + F.lit(LAT_OFFSET), shift)
    lon_band = F.shiftright(F.col(lon_col) + F.lit(LON_OFFSET), shift)
    return df.withColumn(
        out,
        F.shiftleft(lat_band.cast("long"), lon_bits).bitwiseOR(
            lon_band.cast("long")
        ),
    )


_ASSIGN_TYPE = "region string, subregion string, region_admin int"


def region_columns(
    px: np.ndarray, py: np.ndarray, ps: PolygonSet
) -> dict[str, pa.Array]:
    """The per-batch body of every PIP UDF: int64 points (NIL where
    there is no point, which lies outside every polygon bbox) ->
    region, subregion and region_admin arrays, null where none.

    The NIL sentinel lets callers skip a Catalyst-side null filter
    that would re-evaluate expensive upstream expressions (CSE does
    not span Filter/Project boundaries)."""
    r, s = assign_polygons(px, py, ps)
    names = pa.array(list(ps.names), pa.string())
    region = pa.array(r, mask=r < 0)
    return {
        "region": names.take(region),
        "subregion": names.take(pa.array(s, mask=s < 0)),
        "region_admin": pa.array(
            ps.admin_levels.astype(np.int32), pa.int32()
        ).take(region),
    }


def assign_regions(
    df: DataFrame,
    polyset: PolygonSet,
    lat_col: str = "lat_i",
    lon_col: str = "lon_i",
    keep_noregion: bool = False,
    prefilter_bbox: bool = True,
) -> DataFrame:
    """N-polygon spatial join: adds region/subregion columns.

    Exactly reproduces osmassignpoly --use-admin-levels semantics
    (differentially tested). The polygon index is broadcast; the
    point side never shuffles.
    """
    if prefilter_bbox and len(polyset) and not keep_noregion:
        gx1, gy1, gx2, gy2 = polyset.global_bbox
        df = df.filter(
            bbox_contains(F.col(lon_col), F.col(lat_col),
                          gx1, gy1, gx2, gy2)
        )

    bc = df.sparkSession.sparkContext.broadcast(polyset)

    @F.arrow_udf(_ASSIGN_TYPE)
    def _assign(lat: pa.Array, lon: pa.Array) -> pa.Array:
        cols = region_columns(
            pc.fill_null(lon, NIL).to_numpy().astype(np.int64),
            pc.fill_null(lat, NIL).to_numpy().astype(np.int64),
            bc.value,
        )
        return pa.StructArray.from_arrays(
            list(cols.values()), names=list(cols)
        )

    # deterministic in fact, but marked nondeterministic so Catalyst
    # cannot inline/duplicate the ArrowEvalPython node when its
    # result feeds both a filter and the output projection (observed
    # double evaluation: 2x Arrow transfer + 2x PIP kernel)
    _assign = _assign.asNondeterministic()

    out = df.withColumn("_a", _assign(F.col(lat_col), F.col(lon_col)))
    out = (
        out.withColumn("region", F.col("_a.region"))
        .withColumn("subregion", F.col("_a.subregion"))
        .withColumn("region_admin", F.col("_a.region_admin"))
        .drop("_a")
    )
    if not keep_noregion:
        out = out.filter(F.col("region").isNotNull())
    return out


def filter_border(
    df: DataFrame,
    edgeset,
    lat_col: str = "lat_i",
    lon_col: str = "lon_i",
) -> DataFrame:
    """osmconvert -B= point clipping: keep rows inside the (single,
    possibly multi-ring even-odd) border polygon. Enclosing-bbox
    reject runs as a pushed-down Catalyst filter; exact PIP as a
    vectorized boolean pandas UDF (SURVEY.md P2)."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(edgeset)
    bx1, by1, bx2, by2 = edgeset.bbox
    df = df.filter(
        bbox_contains(F.col(lon_col), F.col(lat_col), bx1, by1, bx2, by2)
    )

    @F.pandas_udf("boolean")
    def _inside(lat: pd.Series, lon: pd.Series) -> pd.Series:
        es = bc.value
        ins = query_inside(
            lon.to_numpy("int64"), lat.to_numpy("int64"), es,
            use_bbox=False,  # already applied as a Catalyst filter
        )
        return pd.Series(ins)

    return df.filter(_inside(F.col(lat_col), F.col(lon_col)))


def with_zorder(
    df: DataFrame,
    lat_col: str = "lat_i",
    lon_col: str = "lon_i",
    out: str = "zkey",
    shift: int = DEFAULT_SHIFT,
) -> DataFrame:
    """Morton z key as a pure integer Catalyst expression (no UDF).

    The bands are staged as their own projection first so the
    5-step bit spread (which references its input 2^5 times)
    duplicates a bare column, not the coord arithmetic — keeps the
    codegen unit small (see geo/zorder.morton_sql)."""
    from ..geo.zorder import morton_sql

    return (
        df.withColumn(
            "_latb",
            F.shiftright(
                F.col(lat_col).cast("long") + F.lit(LAT_OFFSET), shift
            ),
        )
        .withColumn(
            "_lonb",
            F.shiftright(
                F.col(lon_col).cast("long") + F.lit(LON_OFFSET), shift
            ),
        )
        .withColumn(out, F.expr(morton_sql("_latb", "_lonb", "spark")))
        .drop("_latb", "_lonb")
    )


def zranges_predicate(
    zcol: Column, ranges: list[tuple[int, int]]
) -> Column:
    """OR-of-BETWEEN literal predicate over merged z ranges.

    A literal disjunction (not a join against a ranges table) on
    purpose: when the z key is a STORED column of a z-sorted table,
    this exact shape reaches the parquet scan as PushedFilters →
    row-group min/max pruning, which is the entire point of the
    curve at 100 TB."""
    if not ranges:
        return F.lit(False)
    pred = None
    for lo, hi in ranges:
        p = (zcol >= F.lit(lo)) & (zcol <= F.lit(hi))
        pred = p if pred is None else (pred | p)
    return pred


def zorder_bbox_filter(
    df: DataFrame,
    bbox: tuple[int, int, int, int],
    lat_col: str = "lat_i",
    lon_col: str = "lon_i",
    zcol: str | None = None,
    shift: int = DEFAULT_SHIFT,
    max_ranges: int = 64,
) -> DataFrame:
    """bbox filter routed through the Morton index: coarse z-range
    cover (driver-side, O(max_ranges)) + exact coord refine.

    Result is EXACTLY filter_bbox(bbox) — the cover is a superset,
    the refine closes it (tests assert equality on random boxes).

    Two predicate shapes, chosen by where the z key lives:
    - zcol given (STORED z-sorted layout): OR-of-BETWEEN on the
      bare attribute → reaches the parquet scan as PushedFilters,
      row-group pruning. Attribute comparisons are codegen-free.
    - z computed on the fly: `z >> 2k IN (coarse cells)` — the z
      expression (a 5-step bit spread whose tree holds 2^5 leaf
      copies) is evaluated ONCE and probed against an InSet hash;
      an OR-of-range disjunction here would clone that tree per
      comparison and overflow the whole-stage-codegen method
      (observed: Janino InternalCompilerException → interpreted
      fallback)."""
    from ..geo.zorder import bbox_zcells, bbox_zranges

    x1, y1, x2, y2 = bbox
    if zcol is None:
        k, cells = bbox_zcells(bbox, shift=shift, max_cells=max_ranges)
        df = with_zorder(
            df, lat_col=lat_col, lon_col=lon_col, out="_z", shift=shift
        )
        zpred = F.shiftright(F.col("_z"), 2 * k).isin(cells)
        out = df.filter(zpred).filter(
            bbox_contains(
                F.col(lon_col), F.col(lat_col), x1, y1, x2, y2
            )
        )
        return out.drop("_z")
    ranges = bbox_zranges(bbox, shift=shift, max_ranges=max_ranges)
    return df.filter(zranges_predicate(F.col(zcol), ranges)).filter(
        bbox_contains(F.col(lon_col), F.col(lat_col), x1, y1, x2, y2)
    )


def hilbert_bbox_filter(
    df: DataFrame,
    bbox: tuple[int, int, int, int],
    lat_col: str = "lat_i",
    lon_col: str = "lon_i",
    order: int = 12,
    shift: int = 20,
    max_ranges: int = 64,
    hd_col: str | None = None,
) -> DataFrame:
    """bbox filter over the STORED-Hilbert layout — the
    locality-improved twin of zorder_bbox_filter's stored-column
    path: the driver plans <= max_ranges merged hd ranges covering
    the box (geo/hilbert.bbox_hranges, O(max_ranges); fewer merged
    ranges than the Morton cover, the curve's adjacency at work),
    applies plain BETWEENs on the hd ATTRIBUTE, and an exact coord
    refine closes the superset — output EQUALS the plain bbox
    filter.

    The hd column is computed once and pinned with a lazy
    localCheckpoint, standing in for the persisted hd-sorted table
    a production layout would carry (where the BETWEENs reach the
    parquet scan as PushedFilters -> row-group pruning, the q100
    evidence). The pin is REQUIRED, not cosmetic: filtering
    directly on the 12-stage computed hd makes PushDownPredicate
    substitute the predicate through every staged projection —
    each level references its predecessor 3x, so the rewritten
    condition grows ~3^order nodes and the optimizer hangs
    (observed; the same class as the HOF-CSE and codegen-unit
    pitfalls PLANS.md documents)."""
    from ..geo.cells import LAT_OFFSET, LON_OFFSET
    from ..geo.hilbert import bbox_hranges, with_hilbert

    x1, y1, x2, y2 = bbox
    ranges = bbox_hranges(
        bbox, order=order, shift=shift, max_ranges=max_ranges
    )
    if not ranges:
        return df.filter(F.lit(False))
    if hd_col is not None:
        # persisted hd-sorted table: BETWEENs on the bare attribute
        # reach the parquet scan as PushedFilters (tested)
        stored, hd, drop = df, hd_col, []
    else:
        cu = F.shiftright(F.col(lon_col) + F.lit(LON_OFFSET), shift)
        cv = F.shiftright(F.col(lat_col) + F.lit(LAT_OFFSET), shift)
        stored = with_hilbert(
            df.withColumn("_cu", cu).withColumn("_cv", cv),
            "_cu",
            "_cv",
            order=order,
            out_col="_hd",
        ).localCheckpoint(eager=False)
        hd, drop = "_hd", ["_cu", "_cv", "_hd"]
    pred = None
    for lo, hi in ranges:
        c = F.col(hd).between(lo, hi)
        pred = c if pred is None else (pred | c)
    out = stored.filter(pred).filter(
        (F.col(lon_col) >= x1)
        & (F.col(lon_col) <= x2)
        & (F.col(lat_col) >= y1)
        & (F.col(lat_col) <= y2)
    )
    return out.drop(*drop)


def polyset_frames(spark, polyset: PolygonSet):
    """PolygonSet -> (edges, polys) DataFrames — the polygon side
    as DATA for rasterize_polygons. Edges come out in
    geo/pip.build_edges normal form (x1 < x2, exactly-vertical
    edges already dropped from the crossing set). Built as JVM
    literal explodes (LocalRelation), not createDataFrame — no
    Python-RDD roundtrip in a registered query."""
    erows = []
    prows = []
    for i, es in enumerate(polyset.polys):
        for x1, y1, x2, y2 in zip(es.x1, es.y1, es.x2, es.y2):
            erows.append(
                F.struct(
                    F.lit(i).alias("poly_idx"),
                    F.lit(int(x1)).cast("long").alias("x1"),
                    F.lit(int(y1)).cast("long").alias("y1"),
                    F.lit(int(x2)).cast("long").alias("x2"),
                    F.lit(int(y2)).cast("long").alias("y2"),
                )
            )
        bx1, by1, bx2, by2 = es.bbox
        prows.append(
            F.struct(
                F.lit(i).alias("poly_idx"),
                F.lit(polyset.names[i]).alias("name"),
                F.lit(int(polyset.admin_levels[i])).alias("admin"),
                F.lit(int(bx1)).cast("long").alias("bx1"),
                F.lit(int(by1)).cast("long").alias("by1"),
                F.lit(int(bx2)).cast("long").alias("bx2"),
                F.lit(int(by2)).cast("long").alias("by2"),
            )
        )
    edges = (
        spark.range(1)
        .select(F.explode(F.array(*erows)).alias("e"))
        .select("e.*")
    )
    polys = (
        spark.range(1)
        .select(F.explode(F.array(*prows)).alias("p"))
        .select("p.*")
    )
    return edges, polys


def hex_center_cols(
    lat_col: str = "lat_i",
    lon_col: str = "lon_i",
    a: int = 1 << 19,
    b: int | None = None,
) -> tuple[Column, Column]:
    """Exact hexagonal binning: (hex_v, hex_u) center columns of
    the hexagon containing a point — the engine-native take on the
    H3-style hex heatmap (square cells: geo/cells.py; hexes tile
    with lower quantization anisotropy, the reason heatmap pipelines
    prefer them).

    The hex grid is the Voronoi diagram of a two-sublattice center
    set in offset space (u, v) = (lon_i + LON_OFFSET,
    lat_i + LAT_OFFSET): even centers (2a*i, 2b*j), odd centers
    (2a*i + a, 2b*j + b).  With b = round(a*sqrt(3)) the cells are
    regular hexagons up to integer rounding (center pitch 2a
    horizontal vs sqrt(a^2+b^2) diagonal).  EXACT and fully in-row:
    the nearest center of a rectangular sublattice is coordinate-
    wise rounding (axes independent), so the global nearest is the
    better of TWO integer candidates — ties resolved by smaller
    (d2, v, u) struct compare, identical in every engine since all
    values are non-negative int64 (deltas <= a, b; d2 <= a^2 + b^2).
    Rounding ties (point exactly halfway) round UP via
    (x + half) div period, again engine-identical on non-negative
    ints.

    Plan: pure Catalyst expressions, no join, no explode — a hex
    heatmap is scan + one groupBy at any scale."""
    if b is None:
        b = round(a * 3 ** 0.5)
    u = F.col(lon_col) + F.lit(LON_OFFSET)
    v = F.col(lat_col) + F.lit(LAT_OFFSET)

    from ..geo.bboxtags import _div

    def cand(off_u: int, off_v: int):
        cu = _div(u - off_u + F.lit(a), 2 * a) * F.lit(2 * a) + F.lit(
            off_u
        )
        cv = _div(v - off_v + F.lit(b), 2 * b) * F.lit(2 * b) + F.lit(
            off_v
        )
        d2 = (u - cu) * (u - cu) + (v - cv) * (v - cv)
        return F.struct(
            d2.alias("d2"), cv.alias("cv"), cu.alias("cu")
        )

    best = F.least(cand(0, 0), cand(a, b))
    return best["cv"].alias("hex_v"), best["cu"].alias("hex_u")


_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_col(
    lat_col: str = "lat_i",
    lon_col: str = "lon_i",
    chars: int = 9,
) -> Column:
    """Standard geohash (base32, lon bit first) of a fixed-point
    point, EXACT: the successive-halving definition of geohash is
    floor(frac * 2^bits) of the normalized coordinate, and with
    1e-7-degree integer inputs that is the exact integer division
    ((lon_i + 1800000000) << lon_bits) div 3600000000 — no float
    midpoints anywhere, so every engine produces the identical
    string (spot-checked against the published geohash test
    vector).  chars <= 10 keeps the shift in int64
    (3.6e9 << 25 < 2^57).

    In-row Catalyst only: two staged quantized columns (referenced
    by every output bit — staging keeps the codegen unit small),
    then one literal-alphabet lookup per character."""
    if not 0 < chars <= 10:
        raise ValueError("chars must be in (0, 10]")
    bits = 5 * chars
    lon_bits = (bits + 1) // 2
    lat_bits = bits // 2
    ub = F.expr(
        f"(({lon_col} + 1800000000) * {1 << lon_bits}) div 3600000000"
    )
    vb = F.expr(
        f"(({lat_col} + 900000000) * {1 << lat_bits}) div 1800000000"
    )

    def bit(b: int) -> Column:
        # stream bit b: even -> lon, odd -> lat, MSB first
        if b % 2 == 0:
            return F.shiftright(
                F.col("_ghu"), lon_bits - 1 - b // 2
            ).bitwiseAND(F.lit(1))
        return F.shiftright(
            F.col("_ghv"), lat_bits - 1 - (b - 1) // 2
        ).bitwiseAND(F.lit(1))

    parts = []
    for c in range(chars):
        val = F.lit(0)
        for i in range(5):
            val = val + F.shiftleft(bit(5 * c + i), 4 - i)
        parts.append(
            F.substring(F.lit(_GEOHASH32), val.cast("int") + 1, 1)
        )
    # callers add the staged columns via with_geohash; the raw
    # expression references _ghu/_ghv
    return F.concat(*parts)


def with_geohash(
    df: DataFrame,
    lat_col: str = "lat_i",
    lon_col: str = "lon_i",
    chars: int = 9,
    out: str = "geohash",
) -> DataFrame:
    """df + geohash column; stages the two quantized ints as their
    own projections (each is referenced by `5*chars` bit
    extractions — inlining them would bloat one codegen unit)."""
    bits = 5 * chars
    lon_bits = (bits + 1) // 2
    lat_bits = bits // 2
    staged = df.withColumn(
        "_ghu",
        F.expr(
            f"(({lon_col} + 1800000000) * {1 << lon_bits})"
            " div 3600000000"
        ),
    ).withColumn(
        "_ghv",
        F.expr(
            f"(({lat_col} + 900000000) * {1 << lat_bits})"
            " div 1800000000"
        ),
    )
    return staged.withColumn(
        out, geohash_col(lat_col, lon_col, chars)
    ).drop("_ghu", "_ghv")


def geohash_oracle_expr(
    lat_col: str = "lat_i",
    lon_col: str = "lon_i",
    chars: int = 9,
) -> str:
    """The identical computation as DuckDB SQL (same integer ops,
    same alphabet) — used by the q134 oracle."""
    bits = 5 * chars
    lon_bits = (bits + 1) // 2
    lat_bits = bits // 2
    ub = f"((({lon_col} + 1800000000) * {1 << lon_bits}) // 3600000000)"
    vb = f"((({lat_col} + 900000000) * {1 << lat_bits}) // 1800000000)"

    def bit(b: int) -> str:
        if b % 2 == 0:
            return f"(({ub} >> {lon_bits - 1 - b // 2}) & 1)"
        return f"(({vb} >> {lat_bits - 1 - (b - 1) // 2}) & 1)"

    parts = []
    for c in range(chars):
        val = " + ".join(
            f"({bit(5 * c + i)} << {4 - i})" for i in range(5)
        )
        parts.append(
            f"substr('{_GEOHASH32}', CAST({val} AS INT) + 1, 1)"
        )
    return " || ".join(parts)


def geohash_bounds_cols(
    code_col: str, chars: int
) -> tuple[Column, Column, Column, Column]:
    """Exact inverse of geohash_col: the half-open fixed-point
    bounds [lat_lo, lat_hi) x [lon_lo, lon_hi) of a geohash cell.
    A code's cell covers exactly the integers u with
    floor(u * 2^b / L) == ub, i.e. u in
    [ceil(ub*L / 2^b), ceil((ub+1)*L / 2^b)) — pure int64
    (ub*L < 2^55 for chars <= 10), so encode/decode round-trip
    exactly (property-tested), engine-identically."""
    if not 0 < chars <= 10:
        raise ValueError("chars must be in (0, 10]")
    bits = 5 * chars
    lon_bits = (bits + 1) // 2
    lat_bits = bits // 2

    def chval(c: int) -> Column:
        return (
            F.expr(f"instr('{_GEOHASH32}', substring({code_col},"
                   f" {c + 1}, 1))") - 1
        ).cast("long")

    ub = F.lit(0).cast("long")
    vb = F.lit(0).cast("long")
    ui, vi = lon_bits, lat_bits
    for c in range(chars):
        v = chval(c)
        for i in range(5):
            b = 5 * c + i
            bit = F.shiftright(v, 4 - i).bitwiseAND(F.lit(1))
            if b % 2 == 0:
                ui -= 1
                ub = ub + F.shiftleft(bit, ui)
            else:
                vi -= 1
                vb = vb + F.shiftleft(bit, vi)

    L_LON, L_LAT = 3600000000, 1800000000

    # integer ceil-div via (a + d - 1) div d, over the staged
    # _ghdu/_ghdv columns (added by with_geohash_bounds — each is
    # referenced twice, staging keeps the literal chain single)
    u_lo = F.expr(
        f"(_ghdu * {L_LON} + {(1 << lon_bits) - 1})"
        f" div {1 << lon_bits}"
    )
    u_hi = F.expr(
        f"((_ghdu + 1) * {L_LON} + {(1 << lon_bits) - 1})"
        f" div {1 << lon_bits}"
    )
    v_lo = F.expr(
        f"(_ghdv * {L_LAT} + {(1 << lat_bits) - 1})"
        f" div {1 << lat_bits}"
    )
    v_hi = F.expr(
        f"((_ghdv + 1) * {L_LAT} + {(1 << lat_bits) - 1})"
        f" div {1 << lat_bits}"
    )
    # the staged _ghdu/_ghdv columns are added by
    # with_geohash_bounds from the ub/vb expressions built above
    return ub, vb, (u_lo, u_hi, v_lo, v_hi)


def with_geohash_bounds(
    df: DataFrame, code_col: str, chars: int
) -> DataFrame:
    """df + (lon_lo, lon_hi, lat_lo, lat_hi) half-open fixed-point
    bounds of the geohash in `code_col` (exact integer inverse of
    with_geohash; bounds are in raw 1e-7-degree coords, offsets
    removed)."""
    ub, vb, (u_lo, u_hi, v_lo, v_hi) = geohash_bounds_cols(
        code_col, chars
    )
    staged = df.withColumn("_ghdu", ub).withColumn("_ghdv", vb)
    return (
        staged.withColumn(
            "lon_lo", u_lo - F.lit(1800000000)
        )
        .withColumn("lon_hi", u_hi - F.lit(1800000000))
        .withColumn("lat_lo", v_lo - F.lit(900000000))
        .withColumn("lat_hi", v_hi - F.lit(900000000))
        .drop("_ghdu", "_ghdv")
    )


def geohash_bounds_oracle_exprs(
    code: str, chars: int
) -> tuple[str, str, str, str]:
    """DuckDB twins of with_geohash_bounds: SQL expressions for
    (lon_lo, lon_hi, lat_lo, lat_hi) — identical integer ops."""
    bits = 5 * chars
    lon_bits = (bits + 1) // 2
    lat_bits = bits // 2
    uterms, vterms = [], []
    ui, vi = lon_bits, lat_bits
    for c in range(chars):
        v = f"(instr('{_GEOHASH32}', substr({code}, {c + 1}, 1)) - 1)"
        for i in range(5):
            b = 5 * c + i
            bit = f"(({v} >> {4 - i}) & 1)"
            if b % 2 == 0:
                ui -= 1
                uterms.append(f"({bit} << {ui})")
            else:
                vi -= 1
                vterms.append(f"({bit} << {vi})")
    ub = "(" + " + ".join(uterms) + ")"
    vb = "(" + " + ".join(vterms) + ")"
    L_LON, L_LAT = 3600000000, 1800000000

    def ceil_div(x, L, bcount):
        return f"(({x} * {L} + {(1 << bcount) - 1}) // {1 << bcount})"

    lon_lo = f"({ceil_div(ub, L_LON, lon_bits)} - 1800000000)"
    lon_hi = (
        f"({ceil_div(f'({ub} + 1)', L_LON, lon_bits)} - 1800000000)"
    )
    lat_lo = f"({ceil_div(vb, L_LAT, lat_bits)} - 900000000)"
    lat_hi = (
        f"({ceil_div(f'({vb} + 1)', L_LAT, lat_bits)} - 900000000)"
    )
    return lon_lo, lon_hi, lat_lo, lat_hi


def border_edge_list(polyset) -> list[tuple]:
    """All border segments of a PolygonSet as
    (poly_idx, edge_id, name, ax, ay, bx, by) — the ray-cast edges
    first, then the exactly-vertical segments build_edges keeps
    aside (vertical edges are invisible to crossing counts but are
    real boundary for DISTANCE), file order, global edge_id. This
    enumeration is the deterministic contract shared with the SQL
    oracle."""
    rows = []
    eid = 0
    for i, es in enumerate(polyset.polys):
        name = polyset.names[i]
        for x1, y1, x2, y2 in zip(es.x1, es.y1, es.x2, es.y2):
            rows.append(
                (i, eid, name, int(x1), int(y1), int(x2), int(y2))
            )
            eid += 1
        for vx, vy1, vy2 in zip(es.vx, es.vy1, es.vy2):
            rows.append(
                (i, eid, name, int(vx), int(vy1), int(vx), int(vy2))
            )
            eid += 1
    return rows


def border_distance(
    df: DataFrame,
    polyset,
    lat_col: str = "lat_i",
    lon_col: str = "lon_i",
) -> DataFrame:
    """Signed distance-to-border: for every point, the squared
    planar distance (fixed-point units, exact-double — see below)
    to the NEAREST border segment of any polygon in `polyset`,
    which polygon owns that segment, the point's assigned region
    (osmassignpoly semantics, null = outside everything), and the
    signed variant (negative inside). The "distance to the
    coastline/admin border" primitive.

    Plan: map-only at any scale. The polygon side is a constant
    (~30 segments for the fixture set) folded in-row via
    F.least over per-edge (dist2, poly_idx, edge_id, name)
    structs — no join, no shuffle, whole-stage codegen; the
    region flag rides the same Catalyst assign path as q03.

    Exactness: deltas are int64 differences cast to double
    (exact: < 2^53); all products stay below 2^53 so dot/len2/
    cross terms are exactly representable; the one division
    (dot/len2) and the final multiply are IEEE-pinned, so DuckDB
    replays bit-for-bit with the same pinned op order
    (dist2 = ap2 - (dot/len2)*dot on the interior branch)."""
    edges = border_edge_list(polyset)
    if not edges:
        raise ValueError("empty polyset")

    structs = []
    for pi, eid, name, ax, ay, bx, by in edges:
        abx = float(bx - ax)
        aby = float(by - ay)
        len2 = float((bx - ax) ** 2 + (by - ay) ** 2)
        apx = (F.col(lon_col) - F.lit(ax)).cast("double")
        apy = (F.col(lat_col) - F.lit(ay)).cast("double")
        bpx = (F.col(lon_col) - F.lit(bx)).cast("double")
        bpy = (F.col(lat_col) - F.lit(by)).cast("double")
        dot = apx * F.lit(abx) + apy * F.lit(aby)
        ap2 = apx * apx + apy * apy
        bp2 = bpx * bpx + bpy * bpy
        d2 = (
            F.when(dot <= 0, ap2)
            .when(dot >= F.lit(len2), bp2)
            .otherwise(ap2 - (dot / F.lit(len2)) * dot)
        )
        structs.append(
            F.struct(
                d2.alias("d2"),
                F.lit(pi).alias("pi"),
                F.lit(eid).alias("eid"),
                F.lit(name).alias("nm"),
            )
        )

    out = assign_regions(
        df, polyset, lat_col=lat_col, lon_col=lon_col,
        keep_noregion=True,
    )
    out = out.withColumn("_w", F.least(*structs))
    return out.select(
        "doc_id",
        "region",
        F.col("_w.nm").alias("nearest"),
        F.col("_w.d2").alias("dist2"),
        F.when(F.col("region").isNotNull(), -F.col("_w.d2"))
        .otherwise(F.col("_w.d2"))
        .alias("signed_d2"),
    )


def rasterize_polygons(
    spark, polyset, shift: int = 20
) -> DataFrame:
    """Polygon -> raster tile mask: every shift-sized grid cell
    whose CENTER lies inside the polygon (even-odd ray cast), one
    row per (poly_idx, name, cell). The filled-area counterpart of
    the way supercover (which rasterizes LINES): region masks,
    per-region tile inventories, geofence rasters.

    Plan: candidate cells enumerate from each polygon's bbox with
    two JVM-side sequence explodes (bounded by raster resolution,
    independent of any corpus); each candidate joins ONLY its own
    polygon's edges (poly_idx equi-join of the literal edge frame)
    and the exact northward-ray parity runs as a relational
    SUM(pred) % 2 aggregate over the same per-edge predicate as the
    numpy kernel (geo/pip.crossings) — pure Catalyst, no Python
    stage. Exactly-vertical edges are absent
    from the crossing set by construction (they cannot satisfy the
    half-open x-window), so parity is unaffected."""
    edges, polys = polyset_frames(spark, polyset)
    lb = _lon_bits(shift)
    half = 1 << (shift - 1)
    cand = (
        polys.select(
            "poly_idx",
            "name",
            "bx1",
            "bx2",
            F.explode(
                F.sequence(
                    F.shiftright(
                        F.col("by1") + F.lit(LAT_OFFSET), shift
                    ),
                    F.shiftright(
                        F.col("by2") + F.lit(LAT_OFFSET), shift
                    ),
                )
            ).alias("v"),
        )
        .select(
            "poly_idx",
            "name",
            "v",
            F.explode(
                F.sequence(
                    F.shiftright(
                        F.col("bx1") + F.lit(LON_OFFSET), shift
                    ),
                    F.shiftright(
                        F.col("bx2") + F.lit(LON_OFFSET), shift
                    ),
                )
            ).alias("u"),
        )
        .withColumn(
            "_px",
            F.shiftleft(F.col("u"), shift)
            + F.lit(half - LON_OFFSET),
        )
        .withColumn(
            "_py",
            F.shiftleft(F.col("v"), shift)
            + F.lit(half - LAT_OFFSET),
        )
    )
    pairs = cand.join(edges, "poly_idx")
    n1 = F.col("y1") > F.col("_py")
    n2 = F.col("y2") > F.col("_py")
    south = (F.col("_py") - F.col("y1")) * (
        F.col("x2") - F.col("x1")
    ) < (F.col("_px") - F.col("x1")) * (F.col("y2") - F.col("y1"))
    cross = (
        (F.col("x1") <= F.col("_px"))
        & (F.col("_px") < F.col("x2"))
        & ((n1 & n2) | ((n1 != n2) & south))
    )
    return (
        pairs.groupBy("poly_idx", "name", "v", "u")
        .agg(F.sum(F.when(cross, 1).otherwise(0)).alias("_c"))
        .where(F.col("_c") % 2 == 1)
        .select(
            "poly_idx",
            "name",
            (F.col("v") * (1 << lb) + F.col("u")).alias("cell"),
        )
    )
