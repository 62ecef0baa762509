"""Z-order (Morton) spatial index over the engine tile-cell bands.

The reference's coarse geo key (osmgeobase.c:2547-2560) is
latitude-band-major: points sort near each other only within one
~182 m latitude band, so a bbox query over a stored, key-sorted
table touches every band the box crosses across the WHOLE globe's
longitudes. Morton interleaving keeps both axes local: a bbox
decomposes into a bounded list of contiguous key ranges, which is
what turns a 100-TB bbox scan into O(output) parquet row-group
reads when the table is stored sorted (or range-partitioned) by
the z key.

Everything here is pure integer bit arithmetic:

- the same spread/interleave formula is emitted as a SQL string
  (``morton_sql``) for Spark (whole-stage codegen, no UDF) and for
  DuckDB (the oracle), and as numpy (``morton_np``) for the
  driver-side range planner and the tests;
- ``bbox_zranges`` covers a band-space bbox with at most
  ``max_ranges`` merged contiguous z ranges by coarsening the cell
  level until the cover fits — each coarse cell of level k is one
  contiguous range of 4^k fine cells, the defining property of the
  curve.

NOT translated C code: the reference has no space-filling-curve
index; this is the standard Morton construction (bit-spread by
magic masks) applied to the engine's existing fixed-point bands
(geo/cells.py).
"""

from __future__ import annotations

import numpy as np

from .cells import DEFAULT_SHIFT, LAT_OFFSET, LON_OFFSET

# classic Part1By1 bit spread: 18-bit band -> even bits of a
# 36-bit word (masks are the 64-bit magic constants; inputs here
# are < 2^18 so every intermediate stays well inside int64)
_SPREAD_STEPS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _spread_np(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64)
    for s, m in _SPREAD_STEPS:
        x = (x | (x << np.uint64(s))) & np.uint64(m)
    return x


def morton_np(lat_i, lon_i, shift: int = DEFAULT_SHIFT) -> np.ndarray:
    """Morton key of fixed-point coords; lat in odd bits."""
    latb = (np.asarray(lat_i, dtype=np.int64) + LAT_OFFSET) >> shift
    lonb = (np.asarray(lon_i, dtype=np.int64) + LON_OFFSET) >> shift
    return morton_bands_np(latb, lonb)


def morton_bands_np(latb, lonb) -> np.ndarray:
    latb = np.asarray(latb, dtype=np.int64).astype(np.uint64)
    lonb = np.asarray(lonb, dtype=np.int64).astype(np.uint64)
    z = _spread_np(lonb) | (_spread_np(latb) << np.uint64(1))
    return z.astype(np.int64)


def _shl(dialect: str):
    if dialect == "spark":
        return lambda e, n: f"shiftleft({e}, {n})"
    if dialect == "duckdb":
        return lambda e, n: f"(({e}) << {n})"
    raise ValueError(f"unknown dialect {dialect!r}")


def _spread_sql(expr: str, dialect: str) -> str:
    shl = _shl(dialect)
    x = expr
    for s, m in _SPREAD_STEPS:
        x = f"((({x}) | {shl(f'({x})', s)}) & {m})"
    return x


def morton_sql(
    latb_expr: str, lonb_expr: str, dialect: str = "spark"
) -> str:
    """Morton key from BAND expressions, as a SQL string.

    Feed it simple column references (stage the bands as their own
    projections first): each spread step references its input
    twice, so the tree holds 2^5 copies of the leaf — free for a
    column, a codegen-size tax for a compound expression.
    """
    shl = _shl(dialect)
    lo = _spread_sql(lonb_expr, dialect)
    hi = shl(_spread_sql(latb_expr, dialect), 1)
    return f"({lo} | {hi})"


def bbox_zcells(
    bbox: tuple[int, int, int, int],
    shift: int = DEFAULT_SHIFT,
    max_cells: int = 64,
) -> tuple[int, list[int]]:
    """Cover a bbox with <= max_cells level-k Morton cells.

    bbox = (lon_min, lat_min, lon_max, lat_max) in 1e-7 fixed
    point (osmconvert -b order), bounds inclusive. Coarsens the
    cell level k until the coarse-cell count fits; a fine z key
    belongs to coarse cell c iff z >> 2k == c (dropping 2k
    interleaved bits drops k bits of each axis), so membership is
    ONE shift + one IN-set probe — the fine z is evaluated once,
    which matters when it is computed on the fly (an OR-of-range
    disjunction would clone the whole bit-spread tree per
    comparison and blow the codegen unit). The cover is a
    SUPERSET of the bbox (coarse cells overhang), so callers must
    refine on the exact coords.

    Driver-side cost: O(max_cells) ints — never proportional to
    data. Returns (k, sorted cell ids).
    """
    lon_min, lat_min, lon_max, lat_max = bbox
    if lon_min > lon_max or lat_min > lat_max:
        return 0, []
    latb0 = (lat_min + LAT_OFFSET) >> shift
    latb1 = (lat_max + LAT_OFFSET) >> shift
    lonb0 = (lon_min + LON_OFFSET) >> shift
    lonb1 = (lon_max + LON_OFFSET) >> shift

    k = 0
    while ((latb1 >> k) - (latb0 >> k) + 1) * (
        (lonb1 >> k) - (lonb0 >> k) + 1
    ) > max_cells:
        k += 1

    ly = np.arange(latb0 >> k, (latb1 >> k) + 1, dtype=np.int64)
    lx = np.arange(lonb0 >> k, (lonb1 >> k) + 1, dtype=np.int64)
    gy, gx = np.meshgrid(ly, lx, indexing="ij")
    cells = morton_bands_np(gy.ravel(), gx.ravel())
    return k, [int(c) for c in np.sort(cells)]


def bbox_zranges(
    bbox: tuple[int, int, int, int],
    shift: int = DEFAULT_SHIFT,
    max_ranges: int = 64,
) -> list[tuple[int, int]]:
    """Cover a bbox with <= max_ranges contiguous, merged Morton
    ranges over the FINE z key (each level-k cell of bbox_zcells
    is exactly one range of 4^k fine cells; adjacent ranges merge).
    This is the shape for a STORED z column: plain attribute
    BETWEENs reach the parquet scan as PushedFilters → row-group
    min/max pruning on a z-sorted table. For an on-the-fly z, use
    bbox_zcells instead (single-evaluation membership)."""
    k, cells = bbox_zcells(bbox, shift=shift, max_cells=max_ranges)
    span = 1 << (2 * k)
    ranges: list[tuple[int, int]] = []
    for cell in cells:
        lo = cell * span
        hi = lo + span - 1
        if ranges and lo <= ranges[-1][1] + 1:
            ranges[-1] = (ranges[-1][0], max(ranges[-1][1], hi))
        else:
            ranges.append((lo, hi))
    return ranges
