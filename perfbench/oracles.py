"""Independent expected outputs, computed on DuckDB.

flagship_pages: the region/subregion histogram of the seed's pages,
from `suite.assign_oracle_sql()` evaluated over the gazetteer points
and weighted by how many pages `fixtures.place_for_doc` plants on
each city.

osm_clip: the kept object ids of `-B=clip.poly --complete-ways`,
written as plain SQL over the generated tables: the ray-cast border
test, ways touching an inside node, the nodes of those ways, and
relations with a kept member plus the relations above them.

iterative tail (q51, q44, q57, run as probes of the traced run): the
suite's own `oracle_sqls()` on DuckDB over the generated tail tables,
compared in `tools/check_oracles.canon` form (sorted columns, rounded
floats, sorted rows, dtype classes).
"""

from __future__ import annotations

from collections import Counter

import numpy as np

from .inputs import BORDER_RINGS, OsmExtract


def flagship_histogram(doc_start: int, n: int) -> Counter:
    """(region, subregion) -> number of pages flagship_assign keeps."""
    import duckdb
    import pandas as pd

    from osmgraft import suite
    from osmgraft.fixtures import N_CITIES, gazetteer_arrays, place_for_doc

    _terms, lat_i, lon_i, _w = gazetteer_arrays()
    sql = suite.assign_oracle_sql()
    if suite._PTS_CTE not in sql:
        raise RuntimeError("assign_oracle_sql() no longer reads _PTS_CTE")
    sql = sql.replace(
        suite._PTS_CTE,
        "pts AS (SELECT doc_id, lat_i, lon_i FROM gazetteer)",
    )
    con = duckdb.connect()
    try:
        con.register("gazetteer", pd.DataFrame({
            "doc_id": np.arange(N_CITIES, dtype=np.int64),
            "lat_i": lat_i, "lon_i": lon_i,
        }))
        regions = con.execute(sql).fetchall()
    finally:
        con.close()
    city = place_for_doc(np.arange(doc_start, doc_start + n))
    pages_per_city = np.bincount(city[city >= 0], minlength=N_CITIES)
    hist: Counter = Counter()
    for c, region, subregion in regions:
        if pages_per_city[c]:
            hist[(region, subregion)] += int(pages_per_city[c])
    return hist


# one table per step; the recursive closure is its own statement
_CLIP_STEPS = (
    # -B: odd number of polygon edges north of the point
    """CREATE TABLE inside AS
    SELECT n.id FROM node n JOIN edge e
      ON e.x1 <= n.lon_i AND n.lon_i < e.x2
     AND (n.lat_i - e.y1) * (e.x2 - e.x1) < (n.lon_i - e.x1) * (e.y2 - e.y1)
    GROUP BY n.id HAVING COUNT(*) % 2 = 1""",
    """CREATE TABLE way2 AS
    SELECT DISTINCT id FROM way_ref WHERE ref IN (SELECT id FROM inside)""",
    # --complete-ways: every node of a kept way
    """CREATE TABLE node2 AS
    SELECT id FROM node WHERE id IN (
      SELECT id FROM inside
      UNION SELECT ref FROM way_ref WHERE id IN (SELECT id FROM way2)
    )""",
    # relations with a kept member, then the relations above them
    """CREATE TABLE kept_rel AS
    WITH RECURSIVE up(id) AS (
      SELECT id FROM member
      WHERE (mtype = 'node' AND ref IN (SELECT id FROM node2))
         OR (mtype = 'way' AND ref IN (SELECT id FROM way2))
      UNION
      SELECT m.id FROM member m JOIN up u ON m.ref = u.id
      WHERE m.mtype = 'relation'
    ) SELECT id FROM up""",
)
_CLIP_RESULT = """
SELECT 'node', id FROM node2
UNION ALL SELECT 'way', id FROM way2
UNION ALL SELECT 'relation', id FROM kept_rel
"""


def _border_edges():
    """Ray-cast edges (x1 < x2; vertical edges have an empty
    half-open x range and drop out)."""
    rows = []
    for ring in BORDER_RINGS:
        for (ax, ay), (bx, by) in zip(ring, ring[1:] + ring[:1]):
            if ax == bx:
                continue
            if ax > bx:
                ax, ay, bx, by = bx, by, ax, ay
            rows.append((ax, ay, bx, by))
    return rows


def clip_ids(x: OsmExtract) -> dict[str, set[int]]:
    """kind -> ids the clip keeps."""
    import duckdb
    import pandas as pd

    tables = {
        "node": pd.DataFrame({
            "id": [o["id"] for o in x.nodes],
            "lat_i": [o["lat_i"] for o in x.nodes],
            "lon_i": [o["lon_i"] for o in x.nodes],
        }),
        "way_ref": pd.DataFrame(
            [(o["id"], r) for o in x.ways for r in o["refs"]],
            columns=["id", "ref"],
        ),
        "member": pd.DataFrame(
            [(o["id"], m["ref"], m["mtype"]) for o in x.rels
             for m in o["members"]],
            columns=["id", "ref", "mtype"],
        ),
        "edge": pd.DataFrame(_border_edges(),
                             columns=["x1", "y1", "x2", "y2"]),
    }
    con = duckdb.connect()
    try:
        for name, df in tables.items():
            con.register(name, df)
        for step in _CLIP_STEPS:
            con.execute(step)
        rows = con.execute(_CLIP_RESULT).fetchall()
    finally:
        con.close()
    out: dict[str, set[int]] = {"node": set(), "way": set(),
                                "relation": set()}
    for kind, i in rows:
        out[kind].add(int(i))
    return out


def canonical(nodes, ways, rels) -> tuple[frozenset, frozenset, frozenset]:
    """Order-free comparable form of object lists (wire-reader rows
    or generator rows); tag order is not part of the comparison."""
    def tags(o):
        return tuple(sorted((o["tags"] or {}).items()))

    return (
        frozenset((o["id"], o["lat_i"], o["lon_i"], tags(o))
                  for o in nodes),
        frozenset((o["id"], tuple(o["refs"]), tags(o)) for o in ways),
        frozenset(
            (o["id"],
             tuple((m["ref"], m["mtype"], m["role"]) for m in o["members"]),
             tags(o))
            for o in rels
        ),
    )


def clip_expected(x: OsmExtract):
    ids = clip_ids(x)
    return canonical(
        [o for o in x.nodes if o["id"] in ids["node"]],
        [o for o in x.ways if o["id"] in ids["way"]],
        [o for o in x.rels if o["id"] in ids["relation"]],
    )


def clip_actual(path: str):
    """Read an .o5m file back (the program's own o5m parser)."""
    from osmgraft.sources.o5m import parse_o5m

    with open(path, "rb") as fh:
        return canonical(*parse_o5m(fh.read()))


def tail_expected(sf_dir: str, queries) -> dict:
    """query -> pandas frame of `suite.oracle_sqls()[query]`, evaluated
    on DuckDB over the tables in sf_dir."""
    import duckdb

    from osmgraft.suite import oracle_sqls

    sqls = oracle_sqls()
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        return {q: con.execute(sqls[q]).df() for q in queries}
    finally:
        con.close()


def tail_matches(got, want) -> bool:
    """Whether two pandas frames hold the same rows, in
    `tools/check_oracles.canon` form."""
    from tools.check_oracles import canon

    if sorted(got.columns) != sorted(want.columns):
        return False
    return canon(got) == canon(want)
