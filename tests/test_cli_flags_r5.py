"""Round-5 CLI flag differentials vs the compiled reference
binaries: the --add-bbox*-tags family (plain and combined with
--all-to-nodes, including the reference's bbox-mode relation-center
switch), --all-to-nodes-bbox, per-type --modify-TYPE-tags,
--timestamp= (absolute and NOW-n), --parameter-file, and
--pbf-granularity on a hand-crafted non-standard-granularity file."""

from __future__ import annotations

import subprocess
import time

import pytest

from osmgraft.cli import convert, parse_osm_timestamp

from .golden import assert_golden, have_refbin
from .test_o5m_source import _world_xml

REFBIN = "/root/repo/.refbin"

# tests without a golden need the binaries themselves
needs_refbin = pytest.mark.skipif(
    not have_refbin(), reason="reference binaries not built"
)


def _ref(tool: str, *args) -> str:
    return subprocess.run(
        [f"{REFBIN}/{tool}", *args],
        check=True, capture_output=True, text=True,
    ).stdout


def _norm(x: str) -> str:
    return x.replace(
        'generator="osmconvert 0.8.11"', 'generator="osmgraft"'
    )


def _world(tmp_path, name="w.osm") -> str:
    p = tmp_path / name
    p.write_text(_world_xml())
    return str(p)


def _both_osm(spark, tmp_path, args: list[str]) -> tuple[str, str]:
    """Run reference and engine with the same args to .osm files,
    return normalized texts."""
    theirs = tmp_path / "theirs.osm"
    ours = tmp_path / "ours.osm"
    subprocess.run(
        [f"{REFBIN}/osmconvert", *args, f"-o={theirs}"], check=True
    )
    convert(spark, [*args, f"-o={ours}"])
    return _norm(theirs.read_text()), ours.read_text()


def _matches_reference(spark, tmp_path, args: list[str], key: str):
    """The engine's .osm output for `args` equals the binary's, or,
    without the binaries, golden `key`."""
    if have_refbin():
        ref, got = _both_osm(spark, tmp_path, args)
        assert ref == got, args[1:]
        return
    ours = tmp_path / "ours.osm"
    convert(spark, [*args, f"-o={ours}"])
    assert_golden(key, ours)


BBOX_FLAGS = [
    "--add-bbox-tags",
    "--add-bboxarea-tags",
    "--add-bboxweight-tags",
    "--add-bboxwidth-tags",
    "--add-bboxwidthweight-tags",
]


def test_add_bbox_tags_plain_byte_exact(spark, tmp_path):
    """Plain mode: ways and relations (through the rel->rel member
    chains of the fixture world) get bBox prepended; nodes stay
    untouched."""
    osm = _world(tmp_path)
    _matches_reference(spark, tmp_path, [osm, "--add-bbox-tags"],
                       "add_bbox_tags_plain")


def test_add_bbox_all_five_flags_byte_exact(spark, tmp_path):
    osm = _world(tmp_path)
    _matches_reference(spark, tmp_path, [osm, *BBOX_FLAGS],
                       "add_bbox_all_five_flags")


def test_all_to_nodes_with_bbox_byte_exact(spark, tmp_path):
    """Combined mode switches the reference's relation centers to
    the member-bbox-union middle (calccoords=-1) — the subtle
    behavior change --add-bbox* causes in --all-to-nodes."""
    osm = _world(tmp_path)
    _matches_reference(
        spark, tmp_path, [osm, "--all-to-nodes", "--add-bbox-tags"],
        "all_to_nodes_with_bbox",
    )


def test_all_to_nodes_bbox_alias(spark, tmp_path):
    """--all-to-nodes-bbox is the deprecated alias the reference
    rewrites to --all-to-nodes --add-bbox-tags."""
    osm = _world(tmp_path)
    # the alias must produce the spelled-out pair's bytes
    _matches_reference(spark, tmp_path, [osm, "--all-to-nodes-bbox"],
                       "all_to_nodes_with_bbox")


def test_bbox_unresolved_members_stay_untagged(spark, tmp_path):
    """Missing node member, missing rel member, a self-cycle, and
    a way with PARTIALLY missing refs: the reference resolves none
    of the relations (no tag) and boxes the way over its resolvable
    refs only. Ways with ZERO resolvable refs are excluded here —
    the reference leaks its running bbox accumulator into those
    (order-dependent carry-over; tagged with the PREVIOUS way's box,
    binary-probed), a quirk we document in cli._way_boxes instead of
    reproducing."""
    osm = tmp_path / "u.osm"
    osm.write_text(
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<osm version="0.6">\n'
        '  <node id="1" lat="10.0000000" lon="20.0000000" version="1"/>\n'
        '  <node id="4" lat="12.0000000" lon="22.0000000" version="1"/>\n'
        '  <way id="8" version="1"><nd ref="1"/><nd ref="777"/>'
        '<nd ref="4"/></way>\n'
        '  <relation id="300" version="1">'
        '<member type="relation" ref="999" role=""/>'
        '<member type="node" ref="4" role=""/>'
        '<tag k="type" v="multipolygon"/></relation>\n'
        '  <relation id="301" version="1">'
        '<member type="node" ref="77" role=""/>'
        '<tag k="type" v="multipolygon"/></relation>\n'
        '  <relation id="302" version="1">'
        '<member type="relation" ref="302" role=""/>'
        '<member type="node" ref="1" role=""/>'
        '<tag k="type" v="multipolygon"/></relation>\n'
        "</osm>\n"
    )
    _matches_reference(spark, tmp_path, [str(osm), "--add-bbox-tags"],
                       "bbox_unresolved_members")


@needs_refbin
def test_modify_type_tags_scoped(spark, tmp_path):
    """--modify-way-tags rewrites ways only; a node carrying the
    same tag is untouched (differential vs osmfilter)."""
    osm = tmp_path / "m.osm"
    osm.write_text(
        '<?xml version="1.0"?><osm version="0.6">\n'
        '<node id="1" lat="1.0000000" lon="1.0000000" version="1">'
        '<tag k="highway" v="track"/></node>\n'
        '<node id="2" lat="1.1000000" lon="1.1000000" version="1"/>\n'
        '<way id="10" version="1"><nd ref="1"/><nd ref="2"/>'
        '<tag k="highway" v="track"/></way>\n'
        '<relation id="20" version="1">'
        '<member type="way" ref="10" role=""/>'
        '<tag k="highway" v="track"/></relation>\n'
        "</osm>\n"
    )
    o5m = tmp_path / "m.o5m"
    subprocess.run(
        [f"{REFBIN}/osmconvert", str(osm), f"-o={o5m}"], check=True
    )
    for flag in (
        "--modify-way-tags=highway=track to highway=path",
        "--modify-node-tags=highway=track to highway=path",
        "--modify-relation-tags=highway=track to highway=path",
    ):
        theirs = tmp_path / "theirs.o5m"
        subprocess.run(
            [f"{REFBIN}/osmfilter", str(o5m), flag,
             "--ignore-dependencies", f"-o={theirs}"],
            check=True,
        )
        ours = tmp_path / "ours.osm"
        convert(spark, [str(osm), flag, f"-o={ours}"])
        ref_xml = _norm(
            _ref("osmconvert", str(theirs), "--out-osm")
        )
        assert ref_xml == ours.read_text(), flag


@needs_refbin
def test_timestamp_absolute_round_trip(spark, tmp_path):
    """--timestamp= on o5m output: the reference binary itself must
    read the exact timestamp back, and the header bytes match the
    reference's own layout."""
    osm = _world(tmp_path)
    ours = tmp_path / "ours.o5m"
    convert(
        spark,
        [osm, "--timestamp=2011-01-31T23:59:30Z", f"-o={ours}"],
    )
    assert (
        _ref("osmconvert", str(ours), "--out-timestamp").strip()
        == "2011-01-31T23:59:30Z"
    )
    theirs = tmp_path / "theirs.o5m"
    subprocess.run(
        [f"{REFBIN}/osmconvert", osm,
         "--timestamp=2011-01-31T23:59:30Z", f"-o={theirs}"],
        check=True,
    )
    # the 0xdc record sits between header record and reset in both
    ref_head = theirs.read_bytes()[:14]
    got_head = ours.read_bytes()[:14]
    assert ref_head == got_head


@needs_refbin
def test_timestamp_xml_header_attr(spark, tmp_path):
    osm = _world(tmp_path)
    ref, got = _both_osm(
        spark, tmp_path, [osm, "--timestamp=2020-06-01T00:00:00Z"]
    )
    assert 'timestamp="2020-06-01T00:00:00Z"' in got
    assert ref == got


@needs_refbin
def test_timestamp_now_relative(spark, tmp_path):
    """NOW-n parses relative to the wall clock (oo__strtimetosint64);
    compare against the reference binary's own NOW-86400 output
    with a small clock-skew tolerance."""
    t0 = int(time.time())
    assert abs(parse_osm_timestamp("NOW-86400") - (t0 - 86400)) <= 3
    assert abs(parse_osm_timestamp("NOW+3600") - (t0 + 3600)) <= 3
    assert parse_osm_timestamp("NOW*5") == 0
    assert parse_osm_timestamp("2020-13-01T00:00:00") == 0

    osm = _world(tmp_path)
    ours = tmp_path / "now.o5m"
    theirs = tmp_path / "now_ref.o5m"
    convert(spark, [osm, "--timestamp=NOW-86400", f"-o={ours}"])
    subprocess.run(
        [f"{REFBIN}/osmconvert", osm, "--timestamp=NOW-86400",
         f"-o={theirs}"],
        check=True,
    )

    def ts_of(p):
        out = _ref("osmconvert", str(p), "--out-timestamp").strip()
        return int(
            time.mktime(time.strptime(out, "%Y-%m-%dT%H:%M:%SZ"))
        )

    assert abs(ts_of(ours) - ts_of(theirs)) <= 5


@needs_refbin
def test_parameter_file(spark, tmp_path):
    """--parameter-file: empty-line-separated params, '// '
    comments, multi-line params joined with spaces — both engines
    read the SAME file and must agree; the expansion must also
    equal the inline invocation."""
    osm = _world(tmp_path)
    pf = tmp_path / "params.txt"
    pf.write_text(
        "// clip then collapse to nodes\n"
        "--all-to-nodes\n"
        "\n"
        "-b=-5.0,\n"
        "-5.0,5.0,5.0\n"
        "\n"
        f"{osm}\n"
    )
    theirs = tmp_path / "theirs.o5m"
    ours = tmp_path / "ours.o5m"
    inline = tmp_path / "inline.o5m"
    subprocess.run(
        [f"{REFBIN}/osmconvert", f"--parameter-file={pf}",
         f"-o={theirs}"],
        check=True,
    )
    convert(spark, [f"--parameter-file={pf}", f"-o={ours}"])
    convert(
        spark,
        [osm, "--all-to-nodes", "-b=-5.0, -5.0,5.0,5.0",
         f"-o={inline}"],
    )
    view = [
        "--out-csv", "--csv=@otype @id @lat @lon amenity highway",
        "--csv-separator=|",
    ]
    assert (
        _ref("osmconvert", str(theirs), *view)
        == _ref("osmconvert", str(ours), *view)
    )
    assert (
        _ref("osmconvert", str(ours), *view)
        == _ref("osmconvert", str(inline), *view)
    )


def _craft_granular_pbf(path: str, coords_fix7: list[tuple[int, int, int]]):
    """Minimal .pbf with granularity=1000 (raw units of 1000
    nanodeg): every fix7 coordinate must be divisible by 10."""
    from osmgraft.wire.pbf import (
        _blob,
        _field_bytes,
        _field_varint,
        _packed,
        _packed_delta_zig,
        _StrTab,
    )

    tab = _StrTab()
    n = len(coords_fix7)
    dense = bytearray()
    _field_bytes(
        dense, 1, _packed_delta_zig([i for i, _la, _lo in coords_fix7])
    )
    # DenseInfo with version=1 / zero ts+cset: the reference
    # defaults absent versions to 1 on XML output, so carry an
    # explicit 1 to keep both writers aligned
    di = bytearray()
    _field_bytes(di, 1, _packed([1] * n))
    _field_bytes(di, 2, _packed_delta_zig([0] * n))
    _field_bytes(di, 3, _packed_delta_zig([0] * n))
    _field_bytes(di, 4, _packed_delta_zig([0] * n))
    _field_bytes(di, 5, _packed_delta_zig([0] * n))
    _field_bytes(dense, 5, bytes(di))
    # raw = fix7 * 100 / 1000 = fix7 // 10
    _field_bytes(
        dense, 8,
        _packed_delta_zig([la // 10 for _i, la, _lo in coords_fix7]),
    )
    _field_bytes(
        dense, 9,
        _packed_delta_zig([lo // 10 for _i, _la, lo in coords_fix7]),
    )
    _field_bytes(dense, 10, _packed([0] * len(coords_fix7)))
    group = bytearray()
    _field_bytes(group, 2, bytes(dense))
    blk = bytearray()
    _field_bytes(blk, 1, tab.encode())
    _field_bytes(blk, 2, bytes(group))
    _field_varint(blk, 17, 1000)

    out = bytearray()
    hdr = bytearray()
    _field_bytes(hdr, 4, b"OsmSchema-V0.6")
    _field_bytes(hdr, 4, b"DenseNodes")
    _blob(out, "OSMHeader", bytes(hdr))
    _blob(out, "OSMData", bytes(blk))
    with open(path, "wb") as f:
        f.write(bytes(out))


@needs_refbin
def test_pbf_granularity_byte_exact(spark, tmp_path):
    """A granularity=1000 file read under --pbf-granularity=1000:
    both engines scale raw deltas by 10 and agree byte-for-byte on
    the XML output."""
    pbf = tmp_path / "g.pbf"
    _craft_granular_pbf(
        str(pbf),
        [
            (1, 105_000_000, 205_000_000),
            (2, -330_000_750 // 10 * 10, 1_000_020),
            (3, 899_000_000, -1_799_000_500 // 10 * 10),
        ],
    )
    ref, got = _both_osm(
        spark, tmp_path, [str(pbf), "--pbf-granularity=1000"]
    )
    assert ref == got
    # sanity: without the flag the reference refuses/misreads the
    # file (it never consults the granularity field — the error is
    # the 'suggest to specify' path the flag exists for)
    raw = subprocess.run(
        [f"{REFBIN}/osmconvert", str(pbf), "--out-osm"],
        capture_output=True, text=True,
    )
    assert raw.returncode != 0 or _norm(raw.stdout) != got


@needs_refbin
def test_emulate_osmium_byte_exact(spark, tmp_path):
    """--emulate-osmium (wformat 14): double-quoted declaration,
    Osmium generator URL, lon-before-lat coordinates rounded
    half-away to 1e-6 — byte-diff vs the binary on a
    version-dropped world (the metadata-less scope the other two
    dialect differentials use)."""
    osm = _world(tmp_path)
    nv = tmp_path / "nv.o5m"
    subprocess.run(
        [f"{REFBIN}/osmconvert", osm, "--drop-version",
         f"-o={nv}"],
        check=True,
    )
    ref = _ref("osmconvert", str(nv), "--emulate-osmium",
               "--out-osm")
    ours = tmp_path / "ours.osm"
    convert(
        spark,
        [str(nv), "--emulate-osmium", f"-o={ours}"],
    )
    assert ref == ours.read_text()


@needs_refbin
def test_deprecated_aliases_and_injosm(spark, tmp_path):
    """--drop-history / --fake-history / --in-josm: deprecated
    spellings accepted exactly like the binary (prefix compare)."""
    osm = _world(tmp_path)
    for alias, canonical in (
        ("--drop-history", "--drop-author"),
        ("--fake-history", "--fake-author"),
    ):
        a = tmp_path / "a.osm"
        b = tmp_path / "b.osm"
        convert(spark, [osm, alias, f"-o={a}"])
        convert(spark, [osm, canonical, f"-o={b}"])
        assert a.read_text() == b.read_text(), alias
        ref = tmp_path / "r.osm"
        subprocess.run(
            [f"{REFBIN}/osmconvert", osm, alias, f"-o={ref}"],
            check=True,
        )
        assert _norm(ref.read_text()) == a.read_text(), alias
    ref, got = _both_osm(spark, tmp_path, [osm, "--in-josm"])
    assert ref == got


def test_object_type_offset_modes(spark, tmp_path):
    """--object-type-offset: plain offset shifts way/relation
    pseudo-ids by off / 2*off; the '+1' suffix assigns SEQUENTIAL
    ids in write order (ways ascending, then relations) — both
    byte-exact vs the binary, including combined with bbox tags."""
    osm = _world(tmp_path)
    for args in (
        [osm, "--all-to-nodes", "--object-type-offset=4000"],
        [osm, "--all-to-nodes", "--object-type-offset=4000+1"],
        [osm, "--all-to-nodes-bbox", "--object-type-offset=9000+1"],
    ):
        _matches_reference(spark, tmp_path, args,
                           "object_type_offset " + " ".join(args[1:]))


@needs_refbin
def test_global_index_stable_under_union(spark):
    """Regression: the distributed dense index must survive being
    CONSUMED UNDER A UNION. TaskContext.partitionId() is the
    consuming stage's partition number, which a union renumbers
    (branch partitions concatenate) — the old implementation's
    offset lookups silently missed and every branch restarted at
    0. The pid now travels in the data, pinned at checkpoint
    time. Caught by --object-type-offset step mode, whose
    pseudo-nodes are unioned with the original nodes before the
    write."""
    from pyspark.sql import functions as F

    from osmgraft.operators.indexing import (
        with_global_index,
        with_running_total,
    )

    base = spark.range(0, 50, 1, 4).select(
        F.col("id"), (F.col("id") * 3).alias("v")
    )
    idx = with_global_index(
        base, order_cols=["id"], index_col="seq", start=1000
    )
    other = spark.range(100, 140).select(
        F.col("id"), F.lit(-1).cast("long").alias("seq")
    )
    unioned = other.select("id", "seq").unionByName(
        idx.select("id", "seq")
    )
    got = {
        r["id"]: r["seq"]
        for r in unioned.where(F.col("seq") >= 0).collect()
    }
    assert got == {i: 1000 + i for i in range(50)}

    rt = with_running_total(
        base, order_cols=["id"], value_col="v", out_col="cum"
    )
    u2 = other.select(
        "id", F.lit(-1).cast("long").alias("cum")
    ).unionByName(rt.select("id", "cum"))
    got2 = {
        r["id"]: r["cum"]
        for r in u2.where(F.col("cum") >= 0).collect()
    }
    assert got2 == {
        i: 3 * (i * (i + 1) // 2) for i in range(50)
    }


@needs_refbin
def test_out_osc_flag_stdout(spark, tmp_path, capsys):
    """Explicit --out-osc streams osmChange XML to stdout (the
    .osc-extension path already existed; the flag is the
    reference's spelling)."""
    osm = _world(tmp_path)
    convert(spark, [osm, "--out-osc"])
    out = capsys.readouterr().out
    assert out.startswith("<?xml")
    assert "<osmChange" in out and "</osmChange>" in out


def _filt(*args) -> str:
    out = subprocess.run(
        [f"{REFBIN}/osmfilter", *args],
        check=True, capture_output=True, text=True,
    ).stdout
    return out.replace(
        'generator="osmfilter 1.4.6"', 'generator="osmgraft"'
    )


@needs_refbin
def test_keep_dependency_completion(spark, tmp_path, capsys):
    """osmfilter's DEFAULT keep semantics: kept relations pull
    referenced relations transitively, marked relations pull their
    way/node members, marked ways pull their nodes — and the drop
    filter kills pulled objects without letting the closure pass
    through them (all binary-probed). --ignore-dependencies
    restores the plain filter. Byte-diff vs osmfilter on the
    fixture world (rel->rel chains, shared members)."""
    osm = _world(tmp_path)
    o5m = tmp_path / "w.o5m"
    subprocess.run(
        [f"{REFBIN}/osmconvert", osm, f"-o={o5m}"], check=True
    )
    for args in (
        ["--keep=type=multipolygon"],
        ["--keep=highway=h1"],
        ["--keep=type=multipolygon", "--drop=highway=h0"],
        ["--keep=type=multipolygon", "--ignore-dependencies"],
        ["--keep-relations=type=multipolygon"],
        ["--keep=amenity=kind2", "--drop=name=shared name"],
    ):
        ref = _filt(str(o5m), *args, "--out-osm")
        convert(spark, [str(o5m), *args, "--out-osm"])
        got = capsys.readouterr().out
        assert ref == got, args
