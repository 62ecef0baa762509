"""The wire sinks' bytes depend only on the rows written: not on the
session's history (how many RDDs it made before), the input's
partitioning, the cores, or whether the caller passed row bounds.
Checked below one chunk per kind and above it (CHUNK_ROWS lowered
inside the test), for o5m, PBF and XML."""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from osmgraft.sources.o5m import parse_o5m
from osmgraft.wire import spark as sink

from .golden import assert_golden
from .test_o5m_source import _world_xml

REPO = Path(__file__).resolve().parent.parent
FORMATS = ("o5m", "pbf", "osm")
# rows per chunk that cut the clip extract's 3000 nodes into 30
# chunks and its 300 ways into 3, leaving its 14 relations one chunk
SMALL_CHUNK = 100


@pytest.fixture(scope="module")
def clip_dir(tmp_path_factory):
    """The benchmark's seed-101 clip extract: in.pbf and clip.poly."""
    from perfbench.inputs import osm_input

    return osm_input(str(tmp_path_factory.mktemp("clip")), 101, 3000)


def _sha(path) -> str:
    return hashlib.sha256(Path(path).read_bytes()).hexdigest()


def _write_all(spark, pbf: str, out: str, tag: str) -> dict[str, str]:
    """Write the extract in every format; {fmt: sha256}."""
    from osmgraft.sources.auto import read_osm_auto

    frames = read_osm_auto(spark, pbf, with_meta=True)
    got = {}
    for fmt in FORMATS:
        path = os.path.join(out, f"{tag}.{fmt}")
        sink.write_wire_single(*frames, path, fmt=fmt)
        got[fmt] = _sha(path)
    return got


# the same writes in a second session under local[2], in a process of
# its own (one SparkContext per process)
_LOCAL2 = """
import json, sys
sys.path.insert(0, sys.argv[1])
from osmgraft.session import get_spark
from osmgraft.wire import spark as sink
from tests.test_sink_determinism import SMALL_CHUNK, _write_all
spark = get_spark(cores=2, shuffle_partitions=2,
                  extra={"spark.driver.memory": "1g"})
spark.sparkContext.setLogLevel("ERROR")
one = _write_all(spark, sys.argv[2], sys.argv[3], "one")
sink.CHUNK_ROWS = SMALL_CHUNK
many = _write_all(spark, sys.argv[2], sys.argv[3], "many")
spark.stop()
print(json.dumps({"one": one, "many": many}))
"""


def test_bytes_depend_only_on_rows(spark, clip_dir, tmp_path,
                                   monkeypatch):
    """Three writes per format in one session, after different
    numbers of earlier RDDs and once from a reshuffled input, give
    one sha256 per format; so does a local[2] session. Below and
    above one chunk."""
    from osmgraft.sources.auto import read_osm_auto

    pbf = os.path.join(clip_dir, "in.pbf")
    proc = subprocess.run(
        [sys.executable, "-c", _LOCAL2, str(REPO), pbf, str(tmp_path)],
        capture_output=True, text=True, timeout=600, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    local2 = json.loads(proc.stdout.strip().splitlines()[-1])

    for case, rows in (("one", sink.CHUNK_ROWS), ("many", SMALL_CHUNK)):
        monkeypatch.setattr(sink, "CHUNK_ROWS", rows)
        runs = []
        for k in range(3):
            for _ in range(7 * k):  # RDD ids move on, no job runs
                spark.sparkContext.parallelize([k])
            runs.append(_write_all(spark, pbf, str(tmp_path), f"{case}{k}"))
        frames = [f.repartition(5) for f in read_osm_auto(
            spark, pbf, with_meta=True)]
        for fmt in FORMATS:
            path = tmp_path / f"{case}-shuffled.{fmt}"
            sink.write_wire_single(*frames, str(path), fmt=fmt)
            assert _sha(path) == runs[0][fmt], (case, fmt)
        assert runs[0] == runs[1] == runs[2] == local2[case], case

    # above one chunk the o5m file holds one reset per chunk
    one = (tmp_path / "one0.o5m").read_bytes()
    many = (tmp_path / "many0.o5m").read_bytes()
    assert parse_o5m(one, with_meta=True) == parse_o5m(many, with_meta=True)
    assert len(many) > len(one)
    # XML chunks concatenate byte-identically at any chunking
    assert runs[0]["osm"] == _sha(tmp_path / "one0.osm")


@pytest.mark.parametrize("chunk", [None, SMALL_CHUNK])
def test_convert_equals_direct_write(spark, clip_dir, tmp_path,
                                     monkeypatch, chunk):
    """convert (row bounds observed on its keep sets) and a direct
    write_wire_single of the rows it wrote (no bounds, or bounds that
    are too small) give identical bytes."""
    from osmgraft.cli import convert
    from osmgraft.sources.auto import read_osm_auto

    if chunk:
        monkeypatch.setattr(sink, "CHUNK_ROWS", chunk)
    out = tmp_path / "clip.o5m"
    convert(spark, [os.path.join(clip_dir, "in.pbf"),
                    f"-B={clip_dir}/clip.poly", "--complete-ways",
                    f"-o={out}"])
    frames = read_osm_auto(spark, str(out), with_meta=True)
    for rows in (None, (1, 1, 1)):
        again = tmp_path / f"again-{rows}.o5m"
        sink.write_wire_single(*frames, str(again), fmt="o5m", rows=rows)
        assert again.read_bytes() == out.read_bytes(), rows


def test_multi_chunk_convert_golden(spark, tmp_path, monkeypatch):
    """A border convert whose nodes span several chunks: the same
    objects as the one-chunk file, one more o5m reset per extra
    chunk, and frozen bytes."""
    from osmgraft.cli import convert

    osm = tmp_path / "w.osm"
    osm.write_text(_world_xml())
    args = [str(osm), "-b=-0.2,0,0.1,0.6", "--complete-ways"]
    one = tmp_path / "one.o5m"
    convert(spark, args + [f"-o={one}"])
    monkeypatch.setattr(sink, "CHUNK_ROWS", 16)
    many = tmp_path / "many.o5m"
    convert(spark, args + [f"-o={many}"])
    a, b = one.read_bytes(), many.read_bytes()
    assert parse_o5m(a, with_meta=True) == parse_o5m(b, with_meta=True)
    # 75 nodes in 16-row chunks: 5 chunks, 4 more resets (0xff before
    # a node dataset, 0x10)
    assert b.count(b"\xff\x10") - a.count(b"\xff\x10") == 4
    assert_golden("complete_ways_multi_chunk", many)


def test_empty_extract_is_well_formed(spark, tmp_path):
    """A border that keeps nothing writes header and footer with no
    chunk in every format, reads back empty, and runs no sink job:
    the observed bounds are 0 and no statistic is needed."""
    from osmgraft.cli import convert
    from osmgraft.sources.auto import read_osm_auto

    from .test_plan_quality import _jobs_of

    osm = tmp_path / "w.osm"
    osm.write_text(_world_xml())
    for fmt in FORMATS:
        out = tmp_path / f"empty.{fmt}"
        jobs, _ = _jobs_of(spark, lambda: convert(
            spark, [str(osm), "-b=10,10,10.1,10.1", "--complete-ways",
                    f"-o={out}"]))
        writes = [j for j in jobs if j[1].startswith("convert: write")]
        assert writes == [], jobs
        for df in read_osm_auto(spark, str(out)):
            assert df.count() == 0, fmt
    assert (tmp_path / "empty.o5m").read_bytes() == \
        sink._HEADERS["o5m"] + sink._FOOTERS["o5m"]
    assert (tmp_path / "empty.osm").read_bytes() == \
        sink._HEADERS["osm"] + sink._FOOTERS["osm"]
    assert (tmp_path / "empty.pbf").read_bytes() == sink._pbf_header()


def test_bucket_preserves_id_order(spark):
    """Buckets never decrease as ids grow, negative ids included, and
    ids of fewer than 13 significant bits are their own bucket."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(7)
    ids = {0, 1, -1, 4095, 4096, 4097, 8191, 8192, -4096, -4097,
           2**33, 2**33 + 2**22, 2**63 - 1, -2**63}
    ids |= {rng.randrange(-2**63, 2**63) for _ in range(300)}
    ids |= {rng.randrange(-2**14, 2**14) for _ in range(300)}
    got = spark.createDataFrame([(i,) for i in ids], "id long").select(
        "id", sink._bucket(F.col("id")).alias("b")
    ).collect()
    pairs = sorted((r.id, r.b) for r in got)
    buckets = [b for _, b in pairs]
    assert buckets == sorted(buckets)
    assert all(b == i for i, b in pairs if -4096 <= i < 4096)
    assert len({b for i, b in pairs if 2**33 <= i < 2**33 + 2**22}) == 1
