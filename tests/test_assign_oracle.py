"""assign_regions (the broadcast Arrow PIP kernel) against the q03
DuckDB oracle, plus the null-coordinate contract the oracle's
points cannot reach."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osmgraft import suite
from osmgraft.fixtures import fixture_polyset
from osmgraft.operators import spatial
from tools.check_oracles import canon

SF = "/root/testdata/sf0.001"


def test_q03_matches_duckdb_oracle(spark):
    """q03 on the documents table equals suite.assign_oracle_sql()
    run by DuckDB on the same parquet: the closed-form admin
    tie-break over the SQL crossing-parity predicate."""
    import duckdb

    got = suite.q03_assign_regions(spark, SF).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF}/documents.parquet')"
    )
    want = con.execute(suite.assign_oracle_sql()).df()
    (rows, kinds), (orows, okinds) = canon(got), canon(want)
    assert kinds == okinds
    assert rows == orows
    # both tie-break halves are exercised, not only the region
    assert len(rows) > 50
    assert any(r[2] is not None for r in rows)  # (doc_id, region, sub)


@pytest.fixture(scope="module")
def pts(spark):
    base = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        (F.lit(470000000) + (F.col("id") * 2246822519) % 40000000)
        .cast("long")
        .alias("lat_i"),
        (F.lit(100000000) + (F.col("id") * 2654435761) % 40000000)
        .cast("long")
        .alias("lon_i"),
    )
    nulls = spark.createDataFrame(
        [(100001, None, None), (100002, 485000000, None)],
        "doc_id long, lat_i long, lon_i long",
    )
    return base.unionByName(nulls)


@pytest.mark.parametrize("keep_noregion", [False, True])
def test_null_coordinates(pts, keep_noregion):
    """Null coordinates land in no polygon: kept with null columns
    under keep_noregion, dropped otherwise; region_admin is the
    admin level of the region polygon."""
    ps = fixture_polyset()
    admin = dict(zip(ps.names, ps.admin_levels.tolist()))
    got = {
        r.doc_id: (r.region, r.subregion, r.region_admin)
        for r in spatial.assign_regions(
            pts, ps, keep_noregion=keep_noregion
        ).collect()
    }
    if keep_noregion:
        assert len(got) == 3002
        assert got[100001] == (None, None, None)
        assert got[100002] == (None, None, None)
    else:
        assert 100001 not in got and 100002 not in got
    assert all(
        a == admin[r] for r, _, a in got.values() if r is not None
    )
    assert sum(r is not None for r, _, _ in got.values()) > 100
