"""Decode once, encode once: every reader parses each split or file
once into one decoded frame, and (nodes, ways, rels) are filters of
it; the wire sinks encode all three kinds in one Python stage.

The reader frames must equal the format's in-process parse row for
row, the sinks must keep each kind's range chunks in order, and a
convert must leave nothing persisted behind. No reference binary is
needed: the o5m and PBF fixtures come from this package's own
encoders."""

from __future__ import annotations

import pytest

from osmgraft.sources.o5m import parse_o5m, read_o5m
from osmgraft.sources.osmxml import _parse, read_osm_xml
from osmgraft.sources.pbf import parse_pbf, read_pbf
from osmgraft.wire import encode_o5m, encode_pbf

from .test_o5m_source import _world_xml

_SCHEMAS = (
    "struct<id:bigint,lat_i:bigint,lon_i:bigint,"
    "tags:map<string,string>>",
    "struct<id:bigint,refs:array<bigint>,tags:map<string,string>>",
    "struct<id:bigint,members:array<struct<ref:bigint,mtype:string,"
    "role:string>>,tags:map<string,string>>",
)
_META = (
    ",version:int,timestamp:bigint,changeset:bigint,uid:bigint,"
    "user:string>"
)


@pytest.fixture(scope="module")
def world(tmp_path_factory):
    """The same logical world as .osm, .o5m (with one node delete
    request, whose coordinates are null) and .pbf."""
    d = tmp_path_factory.mktemp("world")
    xml = _world_xml()
    (d / "w.osm").write_text(xml)
    nodes, ways, rels = _parse(xml, with_meta=True)
    tomb = {"id": 100_000, "lat_i": None, "lon_i": None, "tags": None,
            "version": 2, "timestamp": 1_600_000_000, "changeset": 7,
            "uid": 3, "user": "user3"}
    (d / "w.o5m").write_bytes(encode_o5m(nodes + [tomb], ways, rels))
    (d / "w.pbf").write_bytes(encode_pbf(nodes, ways, rels))
    return d


def _rows(df) -> list[dict]:
    # the Arrow path keeps map entries in stored (tag) order
    return df.toArrow().to_pylist()


def _expected(rows: list[dict], columns: list[str]) -> list[dict]:
    out = []
    for r in rows:
        e = {c: r.get(c) for c in columns}
        if e["tags"] is not None:
            e["tags"] = list(e["tags"].items())
        out.append(e)
    return out


def _read(spark, fmt: str, path: str, with_meta: bool, gran):
    if fmt == "pbf":
        return read_pbf(spark, path, with_meta=with_meta,
                        force_granularity=gran)
    if fmt == "o5m":
        return read_o5m(spark, path, with_meta=with_meta)
    return read_osm_xml(spark, path, with_meta=with_meta)


def _parse_file(fmt: str, path, with_meta: bool, gran):
    if fmt == "pbf":
        return parse_pbf(path.read_bytes(), with_meta,
                         force_granularity=gran)
    if fmt == "o5m":
        return parse_o5m(path.read_bytes(), with_meta)
    return _parse(path.read_text(), with_meta)


@pytest.mark.parametrize(
    "fmt,with_meta,gran",
    [
        ("osm", False, None),
        ("osm", True, None),
        ("o5m", False, None),
        ("o5m", True, None),
        ("pbf", False, None),
        ("pbf", True, None),
        ("pbf", False, 1000),
    ],
)
def test_reader_matches_in_process_parse(spark, world, fmt, with_meta,
                                         gran):
    path = world / f"w.{fmt}"
    frames = _read(spark, fmt, str(path), with_meta, gran)
    parsed = _parse_file(fmt, path, with_meta, gran)
    for df, rows, schema in zip(frames, parsed, _SCHEMAS):
        want = schema[:-1] + _META if with_meta else schema
        assert df.schema.simpleString() == want
        assert rows, "fixture has every kind"
        assert _rows(df) == _expected(rows, df.columns)


def test_pbf_splits_decode_once_each_in_file_order(spark, tmp_path):
    """Blob-range splits: one task per split, and the frames equal
    the parse of the whole file in file order."""
    from osmgraft.sources.pbf import plan_splits

    nodes, ways, rels = _parse(_world_xml(), with_meta=False)
    p = tmp_path / "multi.pbf"
    p.write_bytes(encode_pbf(nodes, ways, rels, block_objects=40))
    assert len(plan_splits([str(p)], 1)) > 3
    frames = read_pbf(spark, str(p), target_split_bytes=1)
    assert frames[0].rdd.getNumPartitions() == len(
        plan_splits([str(p)], 1)
    )
    for df, rows in zip(frames, parse_pbf(p.read_bytes())):
        assert _rows(df) == _expected(rows, df.columns)


def test_nodes_only_input_keeps_empty_schemas(spark, tmp_path):
    """A file with nodes only: ways and rels are empty frames that
    still carry their own schemas."""
    p = tmp_path / "n.osm"
    p.write_text(
        '<?xml version="1.0"?><osm version="0.6">'
        '<node id="1" lat="0.5" lon="1.5" version="1">'
        '<tag k="a" v="b"/></node>'
        '<node id="2" lat="-0.5" lon="2.5" version="1"/></osm>'
    )
    for with_meta in (False, True):
        nodes, ways, rels = read_osm_xml(spark, str(p), with_meta)
        for df, schema in zip((nodes, ways, rels), _SCHEMAS):
            want = schema[:-1] + _META if with_meta else schema
            assert df.schema.simpleString() == want
        assert ways.count() == 0 and rels.count() == 0
        assert _rows(nodes) == _expected(
            _parse(p.read_text(), with_meta)[0], nodes.columns
        )


def test_wire_single_chunks_keep_range_order(spark, world):
    """XML chunks concatenate byte-identically to the serial render
    only when every kind's range chunks arrive in id order."""
    from osmgraft.wire import encode_osm_xml
    from osmgraft.wire.spark import _iter_rows, write_wire_single

    nodes, ways, rels = read_osm_xml(spark, str(world / "w.osm"))
    out = world / "par.osm"
    write_wire_single(nodes, ways, rels, str(out), fmt="osm", parts=4)
    serial = encode_osm_xml(
        _iter_rows(nodes), _iter_rows(ways), _iter_rows(rels)
    ).encode("utf-8")
    assert out.read_bytes() == serial


def test_wire_dir_names_parts_per_kind(spark, world, tmp_path):
    """Each kind's part files are numbered by its own range
    partitions and hold disjoint, ascending id ranges."""
    from osmgraft.wire import write_wire_dir

    nodes, ways, rels = read_osm_xml(spark, str(world / "w.osm"))
    manifest = write_wire_dir(
        nodes, ways, rels, str(tmp_path), fmt="o5m", parts=3
    )
    names = [(m["kind"], m["path"].rsplit("/", 1)[1]) for m in manifest]
    assert names == [
        (kind, f"part-{kind}-{i:05d}.o5m")
        for kind in ("nodes", "ways", "rels")
        for i in range(3)
    ]
    want = _parse(world.joinpath("w.osm").read_text())
    for k, kind in enumerate(("nodes", "ways", "rels")):
        ids = []
        for m in manifest:
            if m["kind"] == kind:
                rows = parse_o5m(open(m["path"], "rb").read())[k]
                assert len(rows) == m["n_rows"]
                ids += [r["id"] for r in rows]
        assert ids == sorted(r["id"] for r in want[k])


def _persisted(spark) -> set:
    """Ids of the persisted RDDs. Compared as sets: RDDs that earlier
    tests left for the ContextCleaner may be released meanwhile."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_convert_leaves_nothing_persisted(spark, tmp_path):
    """A border convert persists the decoded input and the inside
    nodes, and its relation closure checkpoints; all are released
    whether convert returns or raises."""
    from osmgraft.cli import convert

    osm = tmp_path / "w.osm"
    osm.write_text(_world_xml())
    poly = tmp_path / "b.poly"
    poly.write_text(
        "b\n1\n -0.2 0\n 0.1 0\n 0.1 0.6\n -0.2 0.6\nEND\nEND\n"
    )
    args = [str(osm), f"-B={poly}", "--complete-ways"]
    before = _persisted(spark)
    convert(spark, args + [f"-o={tmp_path / 'out.o5m'}"])
    assert _persisted(spark) <= before
    with pytest.raises(SystemExit, match="unknown output extension"):
        convert(spark, args + [f"-o={tmp_path / 'out.xyz'}"])
    assert _persisted(spark) <= before
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
