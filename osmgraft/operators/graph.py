"""OSM object-graph operators: way->node ref resolution, clipping
decisions, complete-ways pull-back, broken-ref cleanup, all-to-nodes
geometry aggregation, and the relation transitive closure.

Reference semantics (SURVEY.md §2.3/§2.5):

  J1  way->nodes ref resolution       osmconvert.c:6759-6788
  G3  way clip decision (>=1 inside)  osmconvert.c:11537-11560
  G4  complete-ways pull-back         osmconvert.c:11305-11365
  P8  --drop-broken-refs              osmconvert.c:11683-11687
  G5  all-to-nodes way center         osmconvert.c:11561-11702
  G7  is_area (first ref == last)     osmconvert.c:11607
  A3  bbox aggregation                osmconvert.c:11573-11604
  G6  relation geometry, <=12 passes  osmconvert.c:6917-7070
  R1  relation closure, <=12 passes   osmconvert.c:9083-9132

Scale notes: the ways/relations side is exploded on refs and joined
to the node table on the ref id — an equi join Catalyst plans as
sort-merge (or broadcast when one side is small). Both the
bbox-aggregate and the argmin re-join group on way_id, so with AQE
the exchange introduced by the first groupBy is reused by the second
join (same key). The relation closure runs all its <=12 passes in
one Python task over the rel->rel edges, as the reference rewinds
its small rel->rel spool in memory; relation geometry is still a
driver loop of lazy localCheckpoints, several jobs per pass.

The synthetic ways/relations world is a pure integer function of
doc_id (like suite.py's points), reproducible in DuckDB SQL —
see suite_graph.py for the paired oracles.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, functions as F

from ..session import job_description

_LOG = logging.getLogger("osmgraft")

HASH_MULT = 2_654_435_761
HASH_MOD = 1 << 32

# ---------------------------------------------------------------
# deterministic ways/relations synthesis (both dialects)
#
#   way exists for doc_id % 4 == 0, way_id = doc_id
#   k = 3 + way_id % 4 refs; ref_j (j = 1..k):
#       ((way_id*37 + j*1009) * 2654435761 % 2^32) % n_docs
#   way closed (area) iff way_id % 3 == 0: first ref appended again
#
#   relation exists for doc_id % 16 == 0, rel_id = doc_id
#   node member:  ((rel_id*53 + 7) * 2654435761 % 2^32) % n_docs
#   way member:   (rel_id % (n_docs // 4)) * 4
#   rel->rel edge: parent rel_id references child rel_id - 16
#       iff rel_id >= 16 and (rel_id // 16) % 7 != 0  (chains <= 6)
# ---------------------------------------------------------------


def _ref_expr(way_id: Column, j: Column, n_docs: int) -> Column:
    h = (way_id * F.lit(37) + j * F.lit(1009)) * F.lit(HASH_MULT)
    return (h % F.lit(HASH_MOD)) % F.lit(n_docs)


def synth_ways(docs: DataFrame, n_docs: int) -> DataFrame:
    """documents -> ways(way_id, refs array<long>, is_closed)."""
    w = docs.select(F.col("doc_id").alias("way_id")).filter(
        F.col("way_id") % 4 == 0
    )
    k = (F.lit(3) + F.col("way_id") % 4).cast("int")
    refs = F.transform(
        F.sequence(F.lit(1), k),
        lambda j: _ref_expr(F.col("way_id"), j.cast("long"), n_docs),
    )
    refs = F.when(
        F.col("way_id") % 3 == 0,
        F.concat(refs, F.array(F.element_at(refs, 1))),
    ).otherwise(refs)
    return w.select(
        "way_id",
        refs.alias("refs"),
        (F.col("way_id") % 3 == 0).alias("is_closed"),
    )


def synth_rels(docs: DataFrame, n_docs: int) -> DataFrame:
    """documents -> rels(rel_id, node_member, way_member, child_rel).

    child_rel is NULL when there is no rel->rel edge."""
    r = docs.select(F.col("doc_id").alias("rel_id")).filter(
        F.col("rel_id") % 16 == 0
    )
    nd = (
        (F.col("rel_id") * F.lit(53) + F.lit(7)) * F.lit(HASH_MULT)
        % F.lit(HASH_MOD)
    ) % F.lit(n_docs)
    wy = (F.col("rel_id") % F.lit(max(n_docs // 4, 1))) * F.lit(4)
    child = F.when(
        (F.col("rel_id") >= 16)
        & (F.expr("(rel_id div 16) % 7") != 0),
        F.col("rel_id") - 16,
    )
    return r.select(
        "rel_id",
        nd.alias("node_member"),
        wy.alias("way_member"),
        child.alias("child_rel"),
    )


# ---------------------------------------------------------------
# J1 + A3 + G5/G7: ref resolution, bbox agg, exact way centers
# ---------------------------------------------------------------


def way_geometry(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """Resolve refs to coordinates and compute per-way bbox + the
    all-to-nodes center with exact C integer semantics
    (osmconvert.c:11561-11702):

      x_middle = x_max/2 + x_min/2   (C trunc division)
      y_middle = (y_max + y_min)/2
      closed way (first ref == last): center = middle
      open way: first ref (in order) minimizing the Manhattan
                distance |x - x_middle| + |y - y_middle|

    nodes must have (doc_id, lat_i, lon_i). One shuffle for the
    ref-resolution join, one for the way_id aggregate; the argmin
    re-join reuses the way_id partitioning (AQE exchange reuse).
    """
    ex = ways.select(
        "way_id", "is_closed", F.posexplode("refs").alias("j", "ref")
    )
    res = ex.join(
        nodes.select(
            F.col("doc_id").alias("ref"), "lat_i", "lon_i"
        ),
        "ref",
    )
    # SINGLE shuffle on way_id: collect the (small, <= --max-refs)
    # resolved coordinate list per way, then derive bbox, middle,
    # and the argmin entirely in-row with higher-order functions.
    # (The alternative — agg for the bbox, re-join the exploded
    # side, agg again for the argmin — costs three way_id shuffles.)
    agg = res.groupBy("way_id").agg(
        F.first("is_closed").alias("is_closed"),
        F.count("*").cast("long").alias("n_refs"),
        F.min("lon_i").alias("x_min"),
        F.max("lon_i").alias("x_max"),
        F.min("lat_i").alias("y_min"),
        F.max("lat_i").alias("y_max"),
        F.collect_list(F.struct("j", "lon_i", "lat_i")).alias("pts"),
    )
    # C integer division truncates toward zero; Spark `div` on longs
    # is Java long division (also trunc) — exact replica
    agg = agg.withColumn(
        "x_mid",
        F.expr("x_max div 2 + x_min div 2"),
    ).withColumn("y_mid", F.expr("(y_max + y_min) div 2"))

    # open ways: argmin (manhattan distance, ref order j) — min of
    # a struct orders lexicographically, reproducing the
    # reference's strictly-less scan keeping the FIRST minimizer
    nearest = F.array_min(
        F.transform(
            F.col("pts"),
            lambda p: F.struct(
                (
                    F.abs(p.lon_i - F.col("x_mid"))
                    + F.abs(p.lat_i - F.col("y_mid"))
                ).alias("dist"),
                p.j.alias("j"),
                p.lon_i.alias("lon_i"),
                p.lat_i.alias("lat_i"),
            ),
        )
    )
    out = agg.withColumn("m", nearest).select(
        "way_id",
        "n_refs",
        "is_closed",
        "x_min",
        "x_max",
        "y_min",
        "y_max",
        F.when(F.col("is_closed"), F.col("x_mid"))
        .otherwise(F.col("m.lon_i"))
        .alias("center_lon"),
        F.when(F.col("is_closed"), F.col("y_mid"))
        .otherwise(F.col("m.lat_i"))
        .alias("center_lat"),
    )
    return out


# ---------------------------------------------------------------
# G3 / G4 / P8: clipping decisions over the ref graph
# ---------------------------------------------------------------


def ways_touching(ways: DataFrame, inside_nodes: DataFrame) -> DataFrame:
    """G3: ways kept iff >=1 ref node is inside the border
    (osmconvert.c:11546-11556). inside_nodes: (doc_id). Exact
    semi-join — strictly more accurate than the reference's lossy
    hash bitset (osmconvert.c:412-416)."""
    ex = ways.select("way_id", F.explode("refs").alias("ref"))
    hit = ex.join(
        inside_nodes.select(F.col("doc_id").alias("ref")),
        "ref",
        "left_semi",
    )
    return hit.select("way_id").distinct()


def complete_ways_nodes(
    ways: DataFrame, inside_nodes: DataFrame, nodes: DataFrame
) -> DataFrame:
    """G4 --complete-ways: pull back ALL member nodes of any
    partially-inside way (osmconvert.c:11305-11365). Returns the
    full node set (doc_id, lat_i, lon_i): inside nodes plus every
    ref of a touching way. Two chained semi-joins, no rescans
    (the reference needs tempfile spools + input rewinds)."""
    kept = ways_touching(ways, inside_nodes)
    refs = (
        ways.join(kept, "way_id", "left_semi")
        .select(F.explode("refs").alias("doc_id"))
        .distinct()
    )
    wanted = refs.unionByName(
        inside_nodes.select("doc_id")
    ).distinct()
    return nodes.join(wanted, "doc_id", "left_semi")


def drop_broken_refs(
    ways: DataFrame, kept_nodes: DataFrame
) -> DataFrame:
    """P8 --drop-broken-refs: remove refs pointing at excluded
    nodes; ways left with 0 refs vanish (osmconvert.c:11683-11687).

    Implemented as explode -> semi-join -> re-collect (order
    preserved via posexplode + sort in collect)."""
    ex = ways.select(
        "way_id", F.posexplode("refs").alias("j", "ref")
    )
    kept = ex.join(
        kept_nodes.select(F.col("doc_id").alias("ref")),
        "ref",
        "left_semi",
    )
    return (
        kept.groupBy("way_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "ref"))),
                lambda s: s.ref,
            ).alias("refs")
        )
        .withColumn("n_kept_refs", F.size("refs").cast("long"))
    )


# ---------------------------------------------------------------
# G6/R3: relation geometry, <=12 fixed-point passes
# ---------------------------------------------------------------

_BOX = ("x_min", "y_min", "x_max", "y_max")


def _point_box() -> list[Column]:
    # the box of a point (x, y)
    return [
        F.col("x").alias("x_min"),
        F.col("y").alias("y_min"),
        F.col("x").alias("x_max"),
        F.col("y").alias("y_max"),
    ]


def rel_geometry(
    members: DataFrame,
    positions: DataFrame,
    hand_up_box: bool = False,
    max_passes: int = 12,
) -> DataFrame:
    """G6 (posr_processing osmconvert.c:6917-7070): resolve each
    relation's position and box from its members', iterating
    because rel->rel members resolve in later passes (<=12, R3).

    members: (rel_id long, j int, ref_id long, is_rel boolean,
              is_area boolean) — ref_id indexes `positions` for
    node/way members and other rel_ids for rel members.
    positions: (ref_id long, x long, y long) for non-rel members,
    plus their boxes (x_min, y_min, x_max, y_max) when hand_up_box.

    hand_up_box picks what a resolved relation hands its parents.
    False: its center point, and every member's box is its
    position (plain --all-to-nodes). True: its union box, with
    node/way members bringing their own boxes (--add-bbox*, the
    reference's global_calccoords=-1 mode).

    Exact reference semantics:
      - a relation resolves in a pass only when every REL member is
        already resolved (unresolved rel member -> retry next pass,
        osmconvert.c:7019-7024), so members referencing missing
        relations or cycles never resolve; non-rel members with no
        position are simply skipped; >= 1 valid member is needed;
      - its box is the union of member boxes; x_middle =
        x_max/2 + x_min/2 (C trunc), y_middle = (y_max+y_min)/2;
      - is_area -> center = middle. NOT area -> the LAST member
        position in member order: the reference's nearest-to-middle
        scan never refreshes its probe pointer (posi_xy stays on the
        last member, osmconvert.c:6977-6989), so `new_distance`
        always equals the current distance and no update fires —
        we reproduce the de-facto behavior, not the dead code.
    Plain min/max box: the reference's 9e8 anti-wraparound guard
    (osmconvert.c:7036-7060) only diverges on member spreads wider
    than 90 degrees of longitude.

    Returns (rel_id, x, y, x_min, y_min, x_max, y_max). When the
    last allowed pass still resolved relations, a warning on the
    `osmgraft` logger gives the number left unresolved.

    Plan: node/way member values never change across passes, so
    their box partials and last-valid candidate collapse to one row
    per relation before the loop — the corpus-sized joins stay out
    of the fixpoint, which iterates on the rel->rel layer only. The
    pass's batch is a lazy localCheckpoint that the count ending the
    loop materializes; `done` stays a lazy union of the <= max_passes
    checkpointed batches. Under AQE a pass is still several jobs:
    building the checkpoint's RDD materializes the pass's query
    stages as jobs of their own before the count runs its 2.
    """
    if not hand_up_box:
        positions = positions.select("ref_id", "x", "y", *_point_box())

    def partials(prefix: str) -> list[Column]:
        # box union and last valid member (by order j) of a group
        return [
            F.min("x_min").alias(prefix + "x_min"),
            F.min("y_min").alias(prefix + "y_min"),
            F.max("x_max").alias(prefix + "x_max"),
            F.max("y_max").alias(prefix + "y_max"),
            F.max_by(F.struct("j", "x", "y"), F.col("j")).alias(
                prefix + "last"
            ),
            F.count("*").alias(prefix + "n"),
        ]

    stat = (
        members.filter(~F.col("is_rel"))
        .join(positions, "ref_id")
        .groupBy("rel_id")
        .agg(*partials("s"))
    )
    spine = (
        members.groupBy("rel_id")
        .agg(
            F.first("is_area").alias("is_area"),
            F.count_if("is_rel").alias("n_rel"),
        )
        .join(stat, "rel_id", "left")
        .localCheckpoint(eager=False)
    )
    mem_rel = (
        members.filter(F.col("is_rel"))
        .select("rel_id", "j", F.col("ref_id").alias("child"))
        .localCheckpoint(eager=False)
    )
    done = spine.select(
        "rel_id",
        *[F.lit(0).cast("long").alias(c) for c in ("x", "y", *_BOX)],
    ).limit(0)
    for _ in range(max_passes):
        handed = done.select(
            F.col("rel_id").alias("child"),
            "x",
            "y",
            *(_BOX if hand_up_box else _point_box()),
        )
        ragg = (
            mem_rel.join(handed, "child")
            .groupBy("rel_id")
            .agg(*partials("r"))
        )
        rn = F.coalesce("rn", F.lit(0))
        cand = (
            spine.join(done.select("rel_id"), "rel_id", "left_anti")
            .join(ragg, "rel_id", "left")
            .filter(
                (rn == F.col("n_rel"))
                & (F.coalesce("sn", F.lit(0)) + rn > 0)
            )
        )
        # least/greatest skip nulls: a side without members drops out
        batch = cand.select(
            "rel_id",
            "is_area",
            F.least("sx_min", "rx_min").alias("x_min"),
            F.least("sy_min", "ry_min").alias("y_min"),
            F.greatest("sx_max", "rx_max").alias("x_max"),
            F.greatest("sy_max", "ry_max").alias("y_max"),
            F.greatest("slast", "rlast").alias("last"),
        ).select(
            "rel_id",
            F.when(F.col("is_area"), F.expr("x_max div 2 + x_min div 2"))
            .otherwise(F.col("last.x"))
            .alias("x"),
            F.when(F.col("is_area"), F.expr("(y_max + y_min) div 2"))
            .otherwise(F.col("last.y"))
            .alias("y"),
            *_BOX,
        ).localCheckpoint(eager=False)
        if batch.count() == 0:
            break
        done = done.unionByName(batch)
    else:
        # the cap bound with relations still resolving: say so, as
        # the keep closure does, with what is left without a position
        unresolved = spine.join(done, "rel_id", "left_anti").count()
        if unresolved:
            _LOG.warning(
                "relation geometry stopped at %d passes with %d "
                "relations unresolved; relations nested deeper get "
                "no position",
                max_passes,
                unresolved,
            )
    return done


# ---------------------------------------------------------------
# R1/R2: relation transitive closure, <=12 passes in one task
# ---------------------------------------------------------------


def rel_closure_up(
    rels: DataFrame,
    seed_rels: DataFrame,
    max_passes: int = 12,
    observation: Observation | None = None,
) -> DataFrame:
    """R1 (oo__rrprocessing osmconvert.c:9083-9132): a relation is
    flagged if any member relation is flagged; iterate until the
    fixed point or 12 passes, whichever first (the reference warns
    and stops at 12, osmconvert.c:10637-10643).

    rels must have (rel_id, child_rel). Returns the seeds plus every
    relation reached within max_passes (see _closure); `observation`,
    when given, receives the result's row count as `rows`."""
    return _closure(rels.select("rel_id", "child_rel"), seed_rels,
                    max_passes, observation)


def rel_closure_down(
    rels: DataFrame, seed_rels: DataFrame, max_passes: int = 12
) -> DataFrame:
    """R2 (oo__inverserrprocessing osmfilter.c:5130-5179): kept
    relations pull the relations they REFERENCE (downward), then
    members and way-nodes are marked in later stages. The closure of
    R1 with the edge direction flipped."""
    return _closure(
        rels.select(
            F.col("child_rel").alias("rel_id"),
            F.col("rel_id").alias("child_rel"),
        ),
        seed_rels,
        max_passes,
    )


def _closure(
    edges: DataFrame,
    seed_rels: DataFrame,
    max_passes: int,
    observation: Observation | None = None,
) -> DataFrame:
    """The seeds plus every rel_id reached from them through
    (rel_id <- child_rel) edges in at most max_passes passes.

    All passes run in one Python task: the rel->rel edges (what the
    reference's rr_ spool holds) and the distinct seeds go through
    repartition(1) into _passes, whose (rel_id, depth) output is
    checkpointed once, so the Spark jobs do not grow with the depth.
    Relations at depth == max_passes mean the cap bound with the
    frontier still growing; their count, observed while the
    checkpoint is written (no job of its own), is logged like the
    reference's recursion warning. `observation` (a fresh one when
    None) receives that count as `at_cap` and the result's row count
    as `rows`. Null ids are dropped."""
    rows = edges.filter(
        F.col("rel_id").isNotNull() & F.col("child_rel").isNotNull()
    ).withColumn("seed", F.lit(False)).unionByName(
        seed_rels.select("rel_id")
        .filter(F.col("rel_id").isNotNull())
        .distinct()
        .select("rel_id", F.col("rel_id").alias("child_rel"),
                F.lit(True).alias("seed"))
    )

    def run(batches):
        frames = list(batches)
        if frames:
            yield _passes(pd.concat(frames), max_passes)

    spark = edges.sparkSession
    obs = observation or Observation()
    with job_description(spark, "relation closure: one-task passes"):
        flagged = (
            rows.repartition(1)
            .mapInPandas(run, "rel_id long, depth int")
            .observe(
                obs,
                F.count_if(F.col("depth") == max_passes).alias("at_cap"),
                F.count(F.lit(1)).alias("rows"),
            )
            .localCheckpoint()
        )
    at_cap = obs.get["at_cap"]
    if at_cap:
        # the reference warns and stops at its recursion cap
        # (osmconvert.c:10637-10643); mirror that with the size of
        # the still-growing frontier so truncation is visible.
        _LOG.warning(
            "relation closure stopped at %d passes with %d "
            "relations still on the frontier; result is truncated "
            "at that depth",
            max_passes,
            at_cap,
        )
    return flagged.select("rel_id")


def _passes(rows: pd.DataFrame, max_passes: int) -> pd.DataFrame:
    """The reference's rewinds of the rr_ spool over `rows` (edges,
    and seeds marked `seed`): each pass flags the parents of the last
    pass's newly flagged ids. Returns (rel_id, depth) of the seeds
    (depth 0) and of every id flagged by pass 1..max_passes."""
    seed = rows["seed"].to_numpy(bool)
    parent, child = rows["rel_id"].to_numpy(), rows["child_rel"].to_numpy()
    flagged = frontier = np.unique(parent[seed])
    parent, child = parent[~seed], child[~seed]
    ids, depth = [frontier], [np.zeros(len(frontier), np.int32)]
    for d in range(1, max_passes + 1):
        frontier = np.setdiff1d(parent[np.isin(child, frontier)], flagged)
        if not len(frontier):
            break
        flagged = np.union1d(flagged, frontier)
        ids.append(frontier)
        depth.append(np.full(len(frontier), d, np.int32))
    return pd.DataFrame(
        {"rel_id": np.concatenate(ids), "depth": np.concatenate(depth)}
    )
