"""The flagship query (BASELINE.json metric): geocode and broadcast
polygon PIP join in one Arrow UDF -> cell encode -> tile assignment.

Equivalent reference invocation (SURVEY.md §3.3):
    osmassignpoly adr.o5m -B=all.poly --use-admin-levels

Plan: parquet/iceberg scan with the geocode prefilter pushed down ->
ArrowEvalPython(text: per-batch pyarrow geocode, then PIP assign vs
broadcast PolygonSet, which also rejects ungeocoded and out-of-bbox
points) -> Filter(region) -> Project(cell, codegen int math).
Zero shuffles; output partitioning == input partitioning. Writers
downstream repartition by cell range for spatial locality
(tiles.py).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..fixtures import fixture_polyset
from ..pages import gazetteer_lookup, geocode_prefilter
from .spatial import region_columns, with_cell

_FLAGSHIP_TYPE = "lat_i long, lon_i long, region string, subregion string"


def flagship_points(pages: DataFrame, polyset=None,
                    keep_noregion: bool = False) -> DataFrame:
    """pages -> pages + (lat_i, lon_i, region, subregion, cell): the
    flagship stages, keeping every input column. Pages with no
    geocodable place are dropped; with keep_noregion, geocoded pages
    in no region are kept with a null region (the reference drops
    no-region nodes by default, --keep-noregion keeps them)."""
    ps = polyset if polyset is not None else fixture_polyset()
    bc = pages.sparkSession.sparkContext.broadcast(ps)

    @F.arrow_udf(_FLAGSHIP_TYPE)
    def _flagship(text: pa.Array) -> pa.Array:
        lat, lon, found = gazetteer_lookup(text)
        cols = region_columns(lon, lat, bc.value)
        return pa.StructArray.from_arrays(
            [pa.array(lat, mask=~found), pa.array(lon, mask=~found),
             cols["region"], cols["subregion"]],
            names=["lat_i", "lon_i", "region", "subregion"],
        )

    # deterministic in fact; marked nondeterministic, as in
    # assign_regions, so the filter below cannot duplicate the UDF
    f = _flagship.asNondeterministic()(F.col("text"))
    out = geocode_prefilter(pages).withColumn("_f", f).withColumns(
        {c: F.col("_f." + c)
         for c in ("lat_i", "lon_i", "region", "subregion")}
    ).drop("_f")
    keep = F.col("lat_i" if keep_noregion else "region").isNotNull()
    return with_cell(out.filter(keep))


def flagship_assign(pages: DataFrame, polyset=None,
                    keep_noregion: bool = False) -> DataFrame:
    """pages(url, text, ...) -> (url, lat_i, lon_i, cell, region,
    subregion); see flagship_points."""
    return flagship_points(pages, polyset, keep_noregion).select(
        "url", "lat_i", "lon_i", "cell", "region", "subregion"
    )


def flagship_resumable(
    pages: DataFrame,
    out_dir: str,
    n_buckets: int = 64,
    buckets_per_commit: int = 16,
    input_lineage: str = "",
    max_commits: int | None = None,
) -> int:
    """Production shape of the flagship pipeline: bucket the
    assignment output by tile cell and write it through the
    checkpoint manifest (manifest.py) so a killed job resumes from
    the last committed bucket group (north_rule). Returns commit
    groups executed."""
    from ..manifest import run_resumable, with_bucket

    out = flagship_assign(pages)
    bucketed = with_bucket(out, "cell", n_buckets)
    return run_resumable(
        bucketed,
        out_dir,
        n_buckets=n_buckets,
        buckets_per_commit=buckets_per_commit,
        input_lineage=input_lineage,
        max_commits=max_commits,
    )
