"""Grid density clustering (DBSCAN-style) over point sets.

The standard grid formulation of density clustering at corpus
scale: quantize points to cells of side eps = 2**shift, call a
cell CORE when its 3x3 neighborhood holds at least 1/density_denom
of the corpus (a scale-invariant minPts — the same fraction at
every SF), connect core cells by 8-adjacency into clusters, and
attach occupied non-core cells bordering a core cell to that
cluster (noise cells keep cluster = null). This is the
megacity-hotspot detector the north_rule's skew story calls for:
the output is one row per occupied cell, so every downstream step
is corpus-size independent.

Cluster labels are true connected components of the core
adjacency graph, resolved by star contraction
(operators/dedup.cluster_star): each cluster is labeled with its
min core-cell id however wide it is. The DuckDB oracle is the
recursive transitive closure over the same adjacency.

Scale plan: ONE corpus-sized shuffle (the per-cell count); the
neighborhood sum, core test, adjacency join, and label passes all
run on the per-cell table (<= one row per occupied cell). The
corpus-total scalar rides a broadcast 1-row crossJoin, never a
driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..geo.cells import LAT_OFFSET, LON_OFFSET, _lon_bits


def grid_density_clusters(
    pts: DataFrame,
    shift: int = 22,
    density_denom: int = 10,
    lat_col: str = "lat_i",
    lon_col: str = "lon_i",
) -> DataFrame:
    """-> (cell, n_docs, nb9, is_core, cluster) per occupied cell;
    cluster is the min core-cell id of the component (null =
    noise). See module docstring for the exact semantics."""
    from .dedup import cluster_star

    lon_bits = _lon_bits(shift)
    pack = 1 << lon_bits

    v = F.shiftright(F.col(lat_col) + F.lit(LAT_OFFSET), shift)
    u = F.shiftright(F.col(lon_col) + F.lit(LON_OFFSET), shift)
    ccnt = (
        pts.select(v.alias("v"), u.alias("u"))
        .groupBy("v", "u")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .withColumn("cell", F.col("v") * pack + F.col("u"))
        .localCheckpoint(eager=False)
    )
    total = ccnt.agg(
        F.sum("n_docs").cast("long").alias("_total")
    )

    # each occupied cell contributes its count to all 9 neighbor
    # positions; summing per target = the 3x3 neighborhood sum,
    # restricted (by the join back) to occupied cells
    contrib = ccnt.select(
        "n_docs",
        F.explode(
            F.array(
                *[
                    (F.col("v") + dv) * pack + (F.col("u") + du)
                    for dv in (-1, 0, 1)
                    for du in (-1, 0, 1)
                ]
            )
        ).alias("cell"),
    )
    nb = contrib.groupBy("cell").agg(
        F.sum("n_docs").cast("long").alias("nb9")
    )
    cells = (
        ccnt.join(nb, "cell")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "is_core",
            F.col("nb9") * density_denom >= F.col("_total"),
        )
        .drop("_total")
        .localCheckpoint(eager=False)
    )

    core = cells.filter("is_core").select("v", "u", "cell")
    probe = core.select(
        F.col("cell").alias("a"),
        F.explode(
            F.array(
                *[
                    (F.col("v") + dv) * pack + (F.col("u") + du)
                    for dv in (-1, 0, 1)
                    for du in (-1, 0, 1)
                ]
            )
        ).alias("b"),
    ).where(F.col("a") < F.col("b"))
    edges = probe.join(
        core.select(F.col("cell").alias("b")), "b", "left_semi"
    )
    labels = cluster_star(edges, a_col="a", b_col="b").select(
        F.col("doc_id").alias("cell"),
        F.col("cluster").alias("_lbl"),
    )
    # isolated core cells (no core neighbor) are their own cluster
    core_lbl = (
        core.select("cell")
        .join(labels, "cell", "left")
        .select(
            "cell",
            F.coalesce("_lbl", F.col("cell")).alias("cluster"),
        )
        .localCheckpoint(eager=False)
    )

    # border attach: occupied non-core cells adjacent to >= 1 core
    # cell take the min cluster among their core neighbors
    bprobe = cells.filter(~F.col("is_core")).select(
        F.col("cell").alias("bcell"),
        F.explode(
            F.array(
                *[
                    (F.col("v") + dv) * pack + (F.col("u") + du)
                    for dv in (-1, 0, 1)
                    for du in (-1, 0, 1)
                ]
            )
        ).alias("cell"),
    ).where(F.col("bcell") != F.col("cell"))
    border_lbl = (
        bprobe.join(core_lbl, "cell")
        .groupBy("bcell")
        .agg(F.min("cluster").alias("cluster"))
        .withColumnRenamed("bcell", "cell")
    )

    lbl = core_lbl.unionByName(border_lbl)
    return (
        cells.select("cell", "n_docs", "nb9", "is_core")
        .join(lbl, "cell", "left")
        .select("cell", "n_docs", "nb9", "is_core", "cluster")
    )
