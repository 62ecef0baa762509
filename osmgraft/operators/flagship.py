"""The flagship query (BASELINE.json metric): geocode -> cell encode
-> broadcast polygon PIP join -> tile assignment.

Equivalent reference invocation (SURVEY.md §3.3):
    osmassignpoly adr.o5m -B=all.poly --use-admin-levels

Plan: parquet/iceberg scan with the geocode prefilter pushed down ->
Project(geocode term probe, codegen'd Catalyst) -> ArrowEval(PIP
assign vs broadcast PolygonSet, which also rejects ungeocoded and
out-of-bbox points) -> Filter(region) -> Project(cell, codegen int
math).
Zero shuffles; output partitioning == input partitioning. Writers
downstream repartition by cell range for spatial locality
(tiles.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..fixtures import fixture_polyset
from ..pages import geocode
from .spatial import assign_regions, with_cell


def flagship_assign(pages: DataFrame, polyset=None,
                    keep_noregion: bool = False) -> DataFrame:
    """pages(url, text, ...) -> (url, lat_i, lon_i, cell, region,
    subregion). Pages with no geocodable place are dropped (the
    reference drops no-region nodes by default too)."""
    ps = polyset if polyset is not None else fixture_polyset()
    # NO filter on lat_i/lon_i here: those columns derive from the
    # geocode term extraction, and a Catalyst Filter referencing
    # them forces a second extraction (CSE does not cross
    # Filter/Project boundaries — measured 2x wall time). Nulls ride
    # through as sentinels; the PIP kernel rejects them and the
    # final region filter (on the nondeterministic-marked UDF
    # output) drops the rows exactly once.
    pts = with_cell(geocode(pages))
    if keep_noregion:
        # rare diagnostic path: must distinguish "geocoded but in no
        # region" from "not geocoded" -> accept the extra filter
        pts = pts.filter(F.col("lat_i").isNotNull())
    assigned = assign_regions(
        pts, ps, keep_noregion=keep_noregion, prefilter_bbox=False
    )
    return assigned.select(
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
