"""raster<->vector tile materializer properties: the vector boxes
are the exact inverse of the raster quantization."""

from __future__ import annotations

from pyspark.sql import functions as F

from osmgraft.operators.spatial import with_cell
from osmgraft.operators.tiles import rasterize_tiles, vectorize_tiles


def _pts(spark):
    return with_cell(
        spark.range(0, 3000).select(
            F.col("id").alias("doc_id"),
            (470000000 + (F.col("id") * 2246822519) % 40000000)
            .cast("long").alias("lat_i"),
            (100000000 + (F.col("id") * 2654435761) % 40000000)
            .cast("long").alias("lon_i"),
        )
    )


def test_every_point_inside_its_vector_box(spark):
    pts = _pts(spark)
    boxes = vectorize_tiles(pts)
    outside = (
        pts.join(boxes, "cell")
        .filter(
            (F.col("lon_i") >= F.col("x1"))
            & (F.col("lon_i") <= F.col("x2"))
            & (F.col("lat_i") >= F.col("y1"))
            & (F.col("lat_i") <= F.col("y2"))
        )
        .groupBy("doc_id")
        .count()
    )
    # every point matched by at least one (exactly its) pixel box
    assert outside.count() == pts.count()


def test_raster_grid_sums_match_vector_counts(spark):
    pts = _pts(spark)
    r = rasterize_tiles(pts)
    v = vectorize_tiles(pts)
    want = {
        x.cell: x.total
        for x in v.groupBy("cell").agg(F.sum("n").alias("total"))
        .collect()
    }
    got = {x.cell: x.n_docs for x in r.collect()}
    assert got == want
    # grid strings are dense 256-length vectors summing to n_docs
    row = r.first()
    vals = [int(t) for t in row.grid_str.split(",")]
    assert len(vals) == 256
    assert sum(vals) == row.n_docs


def test_tile_blur_kernel_exact(spark):
    """Single-cell impulse spreads the exact binomial kernel;
    total mass is conserved away from borders."""
    from pyspark.sql import functions as F

    from osmgraft.geo.cells import _lon_bits
    from osmgraft.operators.tiles import tile_blur

    bits = _lon_bits(20)
    mid = 800 * (1 << bits) + 1200  # interior cell
    rollup = spark.createDataFrame(
        [(mid, 16)], "cell long, n long"
    )
    got = {
        r.cell: (r.smoothed_num, r.smoothed)
        for r in tile_blur(rollup, shift=20).collect()
    }
    assert len(got) == 9
    assert got[mid] == (64, 4)  # 4*16, div 16
    assert got[mid + 1] == (32, 2)
    assert got[mid + (1 << bits) + 1] == (16, 1)
    assert sum(v[0] for v in got.values()) == 16 * 16  # mass * 16
