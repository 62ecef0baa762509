"""Checkpoint manifest + resume (north_rule): every committed unit
of output records lineage + row-count metrics in a manifest table;
a killed job resumes from the last committed state, skipping
finished work.

Commit protocol (filesystem parquet stand-in for Iceberg snapshots):

    out_dir/
      data/bucket=<b>/...parquet     (dynamic partition overwrite)
      manifest/...parquet            (append-only commit log)

- The UNIT of commitment is a bucket (e.g. `cell % n_buckets`, or
  any bounded integer partition key). Buckets are processed in
  groups of `buckets_per_commit`; each group is (1) written with
  dynamic partition overwrite — idempotent on retry, an interrupted
  write leaves orphan files that the rewrite replaces — then
  (2) committed by appending one manifest row per bucket. The
  manifest append IS the commit point, mirroring an Iceberg
  snapshot commit.
- Manifest row: bucket, n_rows, value_hash (xxhash64 aggregate of
  the bucket's rows — cheap content lineage), input_lineage (caller
  supplied, e.g. source paths + snapshot id), commit_group.
- Resume: `committed_buckets` reads the manifest; pending = all
  buckets minus committed; re-running is a no-op once everything is
  committed.

Scale: the manifest is tiny (one row per bucket). Each commit group
re-scans only the source predicate `bucket IN (group)` — with the
source partitioned/bucketed by the same key this prunes to the
group's files; on Iceberg the same loop is MERGE-per-snapshot.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F


def with_bucket(
    df: DataFrame, key_col: str, n_buckets: int, out: str = "bucket"
) -> DataFrame:
    """Stable bounded bucket id from any integer key column.

    HASHED, not modulo: structured keys alias badly under `% n` —
    the tile-cell grid's longitude stride is divisible by 8, so
    `cell % 64` collapsed every real cell into two buckets
    (discovered by the spark-submit ship test). xxhash64 spreads
    any key structure uniformly and stays deterministic."""
    return df.withColumn(
        out,
        F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast(
            "int"
        ),
    )


def committed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    mpath = os.path.join(out_dir, "manifest")
    try:
        rows = spark.read.parquet(mpath).select("bucket").collect()
    except Exception:
        return set()
    return {r.bucket for r in rows}


def manifest_df(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "manifest"))


def _bucket_stats(part: DataFrame, data_cols: list[str]) -> DataFrame:
    # bit_xor aggregation: order-insensitive and overflow-free under
    # ANSI mode (sum(xxhash64) overflows long)
    return (
        part.withColumn("_h", F.xxhash64(F.struct(*data_cols)))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.expr("bit_xor(_h)").alias("value_hash"),
        )
    )


def run_resumable(
    df: DataFrame,
    out_dir: str,
    n_buckets: int = 64,
    buckets_per_commit: int = 16,
    input_lineage: str = "",
    max_commits: int | None = None,
) -> int:
    """Write `df` (must carry an int `bucket` column in
    [0, n_buckets)) to out_dir with per-bucket manifest commits.
    Returns the number of commit groups executed this run.

    `max_commits` exists to simulate a mid-job kill in tests."""
    spark = df.sparkSession
    done = committed_buckets(spark, out_dir)
    pending = sorted(set(range(n_buckets)) - done)
    data_cols = [c for c in df.columns if c != "bucket"]
    data_dir = os.path.join(out_dir, "data")
    mdir = os.path.join(out_dir, "manifest")

    commits = 0
    for g in range(0, len(pending), buckets_per_commit):
        if max_commits is not None and commits >= max_commits:
            break
        group = pending[g : g + buckets_per_commit]
        part = df.filter(F.col("bucket").isin(group))
        # 1) data write — idempotent dynamic partition overwrite
        (
            part.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(data_dir)
        )
        # 2) commit — append manifest rows (the commit point).
        # EVERY bucket of the group gets a row, including empty
        # ones (n_rows=0): a bucket with no data must still be
        # marked done or resume would rescan it forever.
        members = spark.createDataFrame(
            [(int(b),) for b in group], "bucket int"
        )
        stats = (
            members.join(_bucket_stats(part, data_cols), "bucket",
                         "left")
            .select(
                "bucket",
                F.coalesce("n_rows", F.lit(0)).alias("n_rows"),
                F.coalesce("value_hash", F.lit(0)).alias("value_hash"),
                F.lit(input_lineage).alias("input_lineage"),
                F.lit(commits).alias("commit_group"),
                F.lit(float(time.time())).alias("committed_at"),
            )
        )
        stats.write.mode("append").parquet(mdir)
        commits += 1
    return commits


def read_committed(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read back only COMMITTED data: data partitions semi-joined
    with the manifest (orphan partitions from a killed write are
    invisible, like uncommitted Iceberg files)."""
    data = spark.read.parquet(os.path.join(out_dir, "data"))
    m = manifest_df(spark, out_dir).select("bucket").distinct()
    return data.join(m, "bucket", "left_semi")


def verify_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    """Audit: recompute per-bucket stats from the data files and
    anti-join against the manifest — empty result = consistent."""
    data = spark.read.parquet(os.path.join(out_dir, "data"))
    data_cols = [c for c in data.columns if c != "bucket"]
    actual = _bucket_stats(data, data_cols)
    expected = manifest_df(spark, out_dir).select(
        "bucket", "n_rows", "value_hash"
    )
    return actual.exceptAll(expected)
