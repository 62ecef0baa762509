"""Tests of the benchmark itself (not part of the tier-1 suite):

    python3 -m pytest perfbench -q -p no:cacheprovider

Smoke runs use tiny inputs in one shared local Spark session; the
wrong-output cases alter what the program produces and check that
the harness counts the passes as failed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import run, workloads  # noqa: E402
from perfbench.trace import Span, Tracer, busy_seconds, self_times  # noqa: E402


def _span(i, start, end, parent=None):
    return Span(id=i, name=f"s{i}", start=start, end=end, parent=parent,
                workload="w", pass_id=None)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 5.0, parent=0),   # overlaps span 1
        _span(3, 7.0, 8.0, parent=0),
        _span(4, 1.5, 2.0, parent=1),   # grandchild: only span 1's
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 1.0))
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(2.0)
    assert st[4] == pytest.approx(0.5)


def test_self_time_clips_children_to_parent():
    spans = [_span(0, 0.0, 2.0), _span(1, 1.0, 3.0, parent=0)]
    assert self_times(spans)[0] == pytest.approx(1.0)


def test_busy_seconds_merges_and_clips():
    iv = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 12.0)]
    assert busy_seconds(iv, 0.5, 10.0) == pytest.approx(2.5 + 1.0 + 1.0)
    assert busy_seconds([], 0.0, 1.0) == 0.0


def test_tally_counts_every_pass_when_verification_fails():
    passes = [{"ok": True}, {"ok": False}, {"ok": True}]
    assert run.tally(passes, True) == (3, 1)
    assert run.tally(passes, False) == (3, 3)


def test_untraced_tracer_records_nothing():
    t = Tracer("w")
    with t.span("x") as s:
        assert s is None
    assert t.spans == []


def test_exits_nonzero_without_the_program(tmp_path):
    """In a directory holding only the benchmark the command fails
    fast and prints no result line."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    cmd = json.load(open(tmp_path / "BENCHMARK.json"))["command"]
    p = subprocess.run(
        cmd + ["--workload", "osm_clip", "--seed", "1", "--seconds", "1",
               "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""


# ------------------------------------------------------------------
# tiny smoke runs against Spark
# ------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    from osmgraft.session import get_spark

    host = run.host_info()
    s = get_spark(app_name="perfbench-tests", cores=host["cpus"],
                  extra=run._environment(host))
    s.sparkContext.setLogLevel("ERROR")
    yield s
    run._stop_spark(s)
    shutil.rmtree(run._run_dir(), ignore_errors=True)


def _smoke(w, spark):
    w.prepare()
    w.start(spark)
    m = run.measure(w, spark, 0.0, Tracer(w.name), False)
    return run.tally(m["passes"], m["verified"])


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(workloads, "FLAGSHIP_PAGES", 3000)
    monkeypatch.setattr(workloads, "OSM_NODES", 400)
    monkeypatch.setattr(workloads.FlagshipPages, "warmup_max", 1)


def test_flagship_smoke(spark, tmp_path, tiny):
    attempted, failed = _smoke(
        workloads.FlagshipPages(str(tmp_path), 7), spark
    )
    assert attempted >= workloads.FlagshipPages.min_passes
    assert failed == 0


def test_flagship_wrong_output_fails(spark, tmp_path, tiny, monkeypatch):
    import osmgraft.operators.flagship as flagship

    real = flagship.flagship_assign
    monkeypatch.setattr(
        flagship, "flagship_assign",
        lambda pages: real(pages).where("lat_i % 5 != 0"),
    )
    attempted, failed = _smoke(
        workloads.FlagshipPages(str(tmp_path), 7), spark
    )
    assert failed == attempted > 0


def test_osm_clip_smoke(spark, tmp_path, tiny):
    w = workloads.OsmClip(str(tmp_path), 7)
    attempted, failed = _smoke(w, spark)
    assert (attempted, failed) == (workloads.OsmClip.min_passes, 0)
    assert 0 < w.out_objects < w.rows


def test_osm_clip_wrong_output_fails(spark, tmp_path, tiny, monkeypatch):
    from osmgraft import cli

    real = cli.convert
    monkeypatch.setattr(
        cli, "convert",
        lambda s, argv: real(s, [a for a in argv if a != "--complete-ways"]),
    )
    attempted, failed = _smoke(workloads.OsmClip(str(tmp_path), 7), spark)
    assert failed == attempted > 0


def test_status_store_counts_each_span_once(spark):
    """Back-to-back spans each see exactly their own job: late
    listener-bus events are neither lost nor carried into the next
    span."""
    from perfbench.trace import StatusStore

    store = StatusStore(spark)
    t = Tracer("w", store)
    start = store.cursor()
    spans = []
    for i in range(5):
        with t.span("count", pass_id=i, counters=True) as s:
            spark.range(1000, numPartitions=3).count()
        spans.append(s.counters)
    assert spans[0]["jobs"] >= 1 and spans[0]["tasks"] >= 3
    for c in spans[1:]:
        for k in ("jobs", "stages", "tasks"):
            assert c[k] == spans[0][k]
    total = store.since(start, 0.0, 1.0)
    for k in ("jobs", "stages", "tasks"):
        assert sum(c[k] for c in spans) == total[k]


@pytest.fixture
def tiny_tail(monkeypatch):
    monkeypatch.setattr(workloads, "TAIL_DOCS", 96)


def _tail(spark, tmp_path):
    from perfbench import inputs, oracles
    from perfbench.trace import StatusStore

    d = inputs.tail_input(str(tmp_path), 7, workloads.TAIL_DOCS)
    want = oracles.tail_expected(d, workloads.TAIL_QUERIES)
    return workloads.tail_probes(Tracer("w", StatusStore(spark)), spark,
                                 d, want)


def test_tail_probes_smoke(spark, tmp_path, tiny_tail):
    out, checks = _tail(spark, tmp_path)
    assert checks == [True] * len(workloads.TAIL_QUERIES)
    for key in workloads.TAIL_QUERIES.values():
        assert out[key + ".jobs"] >= 1


def test_tail_wrong_output_fails(spark, tmp_path, tiny_tail, monkeypatch):
    from osmgraft import suite

    real = suite.QUERIES["q44_dedup_clusters"]
    monkeypatch.setitem(
        suite.QUERIES, "q44_dedup_clusters",
        lambda s, d: real(s, d).where("doc_id % 3 != 0"),
    )
    _out, checks = _tail(spark, tmp_path)
    keys = list(workloads.TAIL_QUERIES)
    assert checks[keys.index("q44_dedup_clusters")] is False
    assert checks.count(False) == 1
