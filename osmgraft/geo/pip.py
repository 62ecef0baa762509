"""Northward ray-cast point-in-polygon, bit-exact to the reference.

Semantics replicated (NOT translated code — reimplemented from the
documented behavior of border_queryinside, osmconvert.c:2039-2133 and
poly_querypolygon, osmassignpoly.c:1609-1783):

  * polygon = flat edge set; vertical (north-south) candidate edges
    are dropped at build time (osmconvert.c:1907-1910)
  * unclosed rings are auto-closed (osmconvert.c:1877-1892)
  * edges normalized so x1 < x2 (osmconvert.c:1911-1914)
  * a point crosses an edge iff x1 <= x < x2 (half-open,
    osmconvert.c:2086) AND the edge passes north of the point:
      - both endpoints north (y1 > y and y2 > y)  -> +1
      - exactly one endpoint north AND the int64 cross product
        (y - y1)*(x2 - x1) < (x - x1)*(y2 - y1)   -> +1
        (osmconvert.c:2096-2115)
  * inside <=> odd number of crossings (even-odd rule; holes are
    just more rings in the same edge set)

The reference's x1-sorted edge array + overlap chains and the
2*sqrt(N) grid matrix (osmassignpoly.c:1032-1160) are pure
accelerations: the set of edges examined for a point always includes
every edge whose half-open x-range contains x, and extra edges fail
the x-range test. So a full vectorized scan over the edge arrays is
functionally identical; our acceleration is the Spark-side cell-key
candidate pruning instead.

All arithmetic is int64 on fixed-point int32 inputs, matching C
exactly (no float anywhere).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .fixedpoint import NIL

# cap on the (points x edges) intermediate to bound UDF memory
_BLOCK_CELLS = 1 << 24


@dataclass
class EdgeSet:
    """One even-odd polygon (possibly many rings incl. holes)."""

    x1: np.ndarray  # int64, always x1 < x2 per edge
    y1: np.ndarray
    x2: np.ndarray
    y2: np.ndarray
    # enclosing bbox over VERTICES as parsed (reference tracks the
    # bbox while reading, before vertical-edge dropping — for
    # osmassignpoly it includes every plausible vertex,
    # osmassignpoly.c:1322-1328)
    bbox: tuple[int, int, int, int] = field(default=None)
    # exactly-vertical segments (dropped from the crossing-count
    # arrays per osmconvert.c:1907-1910, but still part of the
    # geometric BOUNDARY — operators/spatial.border_edge_list needs
    # them for point-to-border distances; crossings() never looks
    # at these)
    vx: np.ndarray = field(default=None)   # int64
    vy1: np.ndarray = field(default=None)  # int64, vy1 <= vy2
    vy2: np.ndarray = field(default=None)

    def __post_init__(self):
        if self.vx is None:
            self.vx = np.empty(0, dtype=np.int64)
            self.vy1 = np.empty(0, dtype=np.int64)
            self.vy2 = np.empty(0, dtype=np.int64)
        if self.bbox is None:
            if len(self.x1) == 0:
                self.bbox = (NIL, NIL, -NIL, -NIL)
            else:
                self.bbox = (
                    int(self.x1.min()),
                    int(min(self.y1.min(), self.y2.min())),
                    int(self.x2.max()),
                    int(max(self.y1.max(), self.y2.max())),
                )

    @property
    def n_edges(self) -> int:
        return len(self.x1)


def build_edges(rings, bbox_from_vertices: bool = True) -> EdgeSet:
    """Build an EdgeSet from rings of fixed-point vertices.

    rings: iterable of (xs, ys) int arrays. Each ring is auto-closed
    if its last vertex differs from its first; exactly-vertical
    segments are skipped (osmconvert.c:1907-1910).
    """
    ex1, ey1, ex2, ey2 = [], [], [], []
    vvx, vvy1, vvy2 = [], [], []
    vx_min, vy_min, vx_max, vy_max = NIL, NIL, -NIL, -NIL
    for xs, ys in rings:
        xs = np.asarray(xs, dtype=np.int64)
        ys = np.asarray(ys, dtype=np.int64)
        if len(xs) == 0:
            continue
        if bbox_from_vertices:
            vx_min = min(vx_min, int(xs.min()))
            vy_min = min(vy_min, int(ys.min()))
            vx_max = max(vx_max, int(xs.max()))
            vy_max = max(vy_max, int(ys.max()))
        # close the ring unless already closed (only the missing
        # closing edge is added, and only if not vertical)
        if xs[0] != xs[-1] or ys[0] != ys[-1]:
            xs = np.append(xs, xs[0])
            ys = np.append(ys, ys[0])
        ax, ay, bx, by = xs[:-1], ys[:-1], xs[1:], ys[1:]
        keep = ax != bx  # drop exact north-south edges
        # ... from the crossing arrays only; retain them as boundary
        # segments for the border distance (spatial.border_edge_list)
        vert = ~keep & (ay != by)
        if vert.any():
            vvx.append(ax[vert])
            vvy1.append(np.minimum(ay[vert], by[vert]))
            vvy2.append(np.maximum(ay[vert], by[vert]))
        ax, ay, bx, by = ax[keep], ay[keep], bx[keep], by[keep]
        swap = ax > bx  # normalize x1 < x2
        nx1 = np.where(swap, bx, ax)
        ny1 = np.where(swap, by, ay)
        nx2 = np.where(swap, ax, bx)
        ny2 = np.where(swap, ay, by)
        ex1.append(nx1)
        ey1.append(ny1)
        ex2.append(nx2)
        ey2.append(ny2)

    if ex1:
        x1 = np.concatenate(ex1)
        y1 = np.concatenate(ey1)
        x2 = np.concatenate(ex2)
        y2 = np.concatenate(ey2)
    else:
        x1 = y1 = x2 = y2 = np.empty(0, dtype=np.int64)
    if vvx:
        vx = np.concatenate(vvx)
        vy1 = np.concatenate(vvy1)
        vy2 = np.concatenate(vvy2)
    else:
        vx = vy1 = vy2 = np.empty(0, dtype=np.int64)
    bbox = (vx_min, vy_min, vx_max, vy_max) if bbox_from_vertices else None
    return EdgeSet(x1, y1, x2, y2, bbox=bbox, vx=vx, vy1=vy1, vy2=vy2)


def crossings(px: np.ndarray, py: np.ndarray, es: EdgeSet) -> np.ndarray:
    """Count northward ray crossings for each point. int64 in/out."""
    px = np.asarray(px, dtype=np.int64)
    py = np.asarray(py, dtype=np.int64)
    n = len(px)
    out = np.zeros(n, dtype=np.int64)
    m = es.n_edges
    if m == 0 or n == 0:
        return out
    step = max(1, _BLOCK_CELLS // max(n, 1))
    pxc = px[:, None]
    pyc = py[:, None]
    for s in range(0, m, step):
        e = slice(s, s + step)
        x1, y1, x2, y2 = es.x1[e], es.y1[e], es.x2[e], es.y2[e]
        in_x = (x1 <= pxc) & (pxc < x2)
        n1 = y1 > pyc
        n2 = y2 > pyc
        both_north = n1 & n2
        one_north = n1 ^ n2
        south_of_line = (pyc - y1) * (x2 - x1) < (pxc - x1) * (y2 - y1)
        out += (in_x & (both_north | (one_north & south_of_line))).sum(
            axis=1, dtype=np.int64
        )
    return out


def query_inside(
    px: np.ndarray, py: np.ndarray, es: EdgeSet, use_bbox: bool = True
) -> np.ndarray:
    """border_queryinside semantics over one edge set -> bool array."""
    px = np.asarray(px, dtype=np.int64)
    py = np.asarray(py, dtype=np.int64)
    inside = (crossings(px, py, es) & 1) != 0
    if use_bbox and es.n_edges:
        bx1, by1, bx2, by2 = es.bbox
        inside &= (px >= bx1) & (px <= bx2) & (py >= by1) & (py <= by2)
    return inside


@dataclass
class PolygonSet:
    """Ordered list of named even-odd polygons (osmassignpoly model).

    Order matters: the region/subregion tie-break is an order-
    dependent state machine (osmassignpoly.c:1761-1783), and the
    matrix-cell candidate lists preserve file order.
    """

    names: list
    admin_levels: np.ndarray  # int32
    polys: list  # list[EdgeSet]

    def __post_init__(self):
        self.admin_levels = np.asarray(self.admin_levels, dtype=np.int64)
        if self.polys:
            bb = np.array([p.bbox for p in self.polys], dtype=np.int64)
            self.bbx1, self.bby1 = bb[:, 0], bb[:, 1]
            self.bbx2, self.bby2 = bb[:, 2], bb[:, 3]
            self.global_bbox = (
                int(self.bbx1.min()),
                int(self.bby1.min()),
                int(self.bbx2.max()),
                int(self.bby2.max()),
            )
        else:
            self.global_bbox = (NIL, NIL, -NIL, -NIL)

    def __len__(self):
        return len(self.polys)


_INT_MAX = np.int64(2**31 - 1)


def assign_polygons(
    px: np.ndarray, py: np.ndarray, ps: PolygonSet
) -> tuple[np.ndarray, np.ndarray]:
    """poly_querypolygon over a point batch.

    Returns (region_idx, subregion_idx) int32 arrays; -1 = none.
    Exact replica of the order-dependent selection state machine
    (osmassignpoly.c:1758-1783): walking polygons in file order,
      - a strictly lower admin_level polygon becomes the region,
        demoting the previous region to subregion only when no
        subregion was set yet;
      - a polygon with admin_level strictly above both the current
        level and sublevel becomes the subregion.
    """
    px = np.asarray(px, dtype=np.int64)
    py = np.asarray(py, dtype=np.int64)
    n = len(px)
    region = np.full(n, -1, dtype=np.int64)
    subregion = np.full(n, -1, dtype=np.int64)
    if len(ps) == 0 or n == 0:
        return region.astype(np.int32), subregion.astype(np.int32)

    gx1, gy1, gx2, gy2 = ps.global_bbox
    live = (px >= gx1) & (px <= gx2) & (py >= gy1) & (py <= gy2)

    level = np.full(n, _INT_MAX, dtype=np.int64)
    sublevel = np.full(n, -1, dtype=np.int64)

    for i, es in enumerate(ps.polys):
        cand = (
            live
            & (px >= ps.bbx1[i])
            & (px <= ps.bbx2[i])
            & (py >= ps.bby1[i])
            & (py <= ps.bby2[i])
        )
        if not cand.any():
            continue
        idx = np.nonzero(cand)[0]
        ins = (crossings(px[idx], py[idx], es) & 1) != 0
        hit = idx[ins]
        if len(hit) == 0:
            continue
        admin = ps.admin_levels[i]
        lower = admin < level[hit]
        # demote current region to subregion where one exists and
        # no subregion is set yet
        demote = hit[lower & (region[hit] >= 0) & (subregion[hit] < 0)]
        sublevel[demote] = level[demote]
        subregion[demote] = region[demote]
        take = hit[lower]
        level[take] = admin
        region[take] = i
        # higher than both level and sublevel -> new subregion
        upper = (~lower) & (admin > level[hit]) & (admin > sublevel[hit])
        up = hit[upper]
        sublevel[up] = admin
        subregion[up] = i

    return region.astype(np.int32), subregion.astype(np.int32)
