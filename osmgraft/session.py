"""SparkSession factory with engine defaults.

Tuned for the target profile (BASELINE.json): huge scans, broadcast
spatial joins, Arrow-batched pandas UDF kernels, AQE for skew.
Defaults assume local[N] in the sandbox; on a real cluster the same
conf ships via spark-submit --py-files and only master/memory change.
Python workers fork from `osmgraft._worker` when they can import it,
so a task does not re-read pyspark.zip.
"""

from __future__ import annotations

import os
import site
from contextlib import contextmanager
from importlib.machinery import PathFinder

from pyspark.sql import SparkSession

from . import _worker


def _worker_daemon() -> dict:
    """`spark.python.daemon.module` for `osmgraft._worker` when the
    Python workers of a new local session can import it, else nothing
    (pyspark's stock daemon). Spark starts the daemon with `python -m`
    in the JVM's cwd (this process's) and the JVM's PYTHONPATH (this
    process's), before any --py-files zip is on the path."""
    if not _worker.supported():
        return {}
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
             *site.getsitepackages()]
    spec = PathFinder.find_spec("osmgraft", [p for p in paths if p])
    dirs = (spec.submodule_search_locations or []) if spec else []
    if not any(os.path.isfile(os.path.join(d, "_worker.py")) for d in dirs):
        return {}
    return {"spark.python.daemon.module": "osmgraft._worker"}


def get_spark(
    app_name: str = "osmgraft",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # ~1 shuffle partition per core locally; a real cluster sets
        # this to 2-3x total cores (or relies on AQE coalescing)
        shuffle_partitions = max(cores, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # the default 100-entry codegen cache (segmented, so it evicts
        # sooner) cannot hold the ~100 classes of one border convert,
        # and the next convert recompiled 51-78 of them
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # InferFiltersFromGenerate clones the generator's CHILD
        # EXPRESSION into a Filter below the Generate. For a scan
        # column that enables pushdown, but for computed arrays
        # (split->transform n-grams, minhash signatures, chunk
        # shingles) it duplicates the whole expression tree into an
        # interpreted (non-codegen) Filter that re-evaluates the
        # HOF lambda per element — measured 6x on the DSIR bigram
        # query (11.4s -> 1.9s at sf0.1) and 2-5x on every other
        # explode-of-computed-array query. Generate already skips
        # empty arrays; the only loss is row-group pruning for
        # explode of a *stored* array column, which no registered
        # query relies on.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        )
    )
    for k, v in {**_worker_daemon(), **(extra or {})}.items():
        b = b.config(k, v)
    return b.getOrCreate()


@contextmanager
def job_description(spark: SparkSession, text: str):
    """Label the Spark jobs this thread starts inside the block, AQE's
    query-stage jobs included; the previous label is restored."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)
