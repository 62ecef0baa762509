"""Round-3 CLI flag differentials: every newly-wired flag is run
against the compiled reference binaries on fixture worlds
(--all-to-nodes, --complete-ways, --out-statistics, --out-key/
--out-count, --keep-tags/--drop-tags, --modify-tags, the
--emulate-* XML dialects, CSV way/relation rows, and the
inter-relation border keep closure)."""

from __future__ import annotations

import subprocess

import pytest

from osmgraft.cli import convert
from osmgraft.sources.o5m import parse_o5m

from .golden import assert_golden, have_refbin
from .test_o5m_source import _world_xml

REFBIN = "/root/repo/.refbin"

# tests without a golden need the binaries themselves
needs_refbin = pytest.mark.skipif(
    not have_refbin(), reason="reference binaries not built"
)

_CSV = ["--out-csv", "--csv=@otype @id @lat @lon amenity highway type",
        "--csv-separator=|"]


def _run(tool: str, *args) -> str:
    return subprocess.run(
        [f"{REFBIN}/{tool}", *args],
        check=True, capture_output=True, text=True,
    ).stdout


def _view(path: str) -> str:
    """Order-insensitive-to-tag-order object view via the reference
    binary itself."""
    return _run("osmconvert", path, *_CSV)


def _world(tmp_path, name="w.osm") -> str:
    p = tmp_path / name
    p.write_text(_world_xml())
    return str(p)


def test_all_to_nodes_matches_osmconvert(spark, tmp_path):
    """--all-to-nodes: way centers (first-minimizer), relation
    centers through the member-position fixed point (including the
    rel->rel chains in the fixture), pseudo-id offsets."""
    osm = _world(tmp_path)
    ours = tmp_path / "ours.o5m"
    convert(spark, [osm, "--all-to-nodes", f"-o={ours}"])
    if not have_refbin():
        assert_golden("all_to_nodes", ours)
        return
    theirs = tmp_path / "theirs.o5m"
    subprocess.run(
        [f"{REFBIN}/osmconvert", osm, "--all-to-nodes",
         f"-o={theirs}"],
        check=True,
    )
    assert _view(str(ours)) == _view(str(theirs))


def test_all_to_nodes_non_area_last_member(spark, tmp_path):
    """A 'route' relation is NOT an area: the reference's candidate
    scan keeps the LAST valid member position (osmconvert.c:
    6977-6994). Verify we reproduce that quirk."""
    osm = tmp_path / "na.osm"
    osm.write_text(
        '<?xml version="1.0"?><osm version="0.6">'
        '<node id="1" lat="0.0000000" lon="0.0000000" version="1"/>'
        '<node id="2" lat="0.0400000" lon="0.0100000" version="1"/>'
        '<node id="3" lat="0.0100000" lon="0.0900000" version="1"/>'
        '<relation id="10" version="1">'
        '<member type="node" ref="1" role=""/>'
        '<member type="node" ref="2" role=""/>'
        '<member type="node" ref="3" role=""/>'
        '<tag k="route" v="bus"/></relation>'
        "</osm>"
    )
    ours = tmp_path / "ours.o5m"
    convert(spark, [str(osm), "--all-to-nodes", f"-o={ours}"])
    # last member (node 3), not the bbox-middle-nearest (node 2)
    nodes, _, _ = parse_o5m(ours.read_bytes())
    rel = [n for n in nodes if n["id"] == 2000000000000010]
    assert [(n["lat_i"], n["lon_i"]) for n in rel] == [(100000, 900000)]
    if not have_refbin():
        assert_golden("all_to_nodes_non_area_last_member", ours)
        return
    theirs = tmp_path / "theirs.o5m"
    subprocess.run(
        [f"{REFBIN}/osmconvert", str(osm), "--all-to-nodes",
         f"-o={theirs}"],
        check=True,
    )
    got = _run("osmconvert", str(ours), "--out-csv",
               "--csv=@id @lat @lon", "--csv-separator=|")
    want = _run("osmconvert", str(theirs), "--out-csv",
                "--csv=@id @lat @lon", "--csv-separator=|")
    assert got == want
    assert "2000000000000010|0.0100000|0.0900000" in got


def test_complete_ways_matches_osmconvert(spark, tmp_path):
    osm = _world(tmp_path)
    bbox = "-0.2,0,0.1,0.6"
    ours = tmp_path / "ours.o5m"
    convert(
        spark, [osm, f"-b={bbox}", "--complete-ways", f"-o={ours}"]
    )
    if not have_refbin():
        assert_golden("complete_ways", ours)
        return
    theirs = tmp_path / "theirs.o5m"
    subprocess.run(
        [f"{REFBIN}/osmconvert", osm, f"-b={bbox}",
         "--complete-ways", f"-o={theirs}"],
        check=True, capture_output=True,
    )
    assert _view(str(ours)) == _view(str(theirs))


def test_rel_of_rel_border_keep(spark, tmp_path):
    """A relation whose only members are other relations is kept
    when the closure reaches an inside member (oo__rrprocessing) —
    the round-2 ADVICE finding."""
    osm = tmp_path / "rr.osm"
    osm.write_text(
        '<?xml version="1.0"?><osm version="0.6">'
        '<node id="1" lat="0.0010000" lon="0.0010000" version="1"/>'
        '<node id="2" lat="0.5000000" lon="0.5000000" version="1"/>'
        '<way id="100" version="1"><nd ref="1"/><nd ref="2"/>'
        '<tag k="highway" v="a"/></way>'
        '<relation id="200" version="1">'
        '<member type="node" ref="1" role=""/>'
        '<tag k="type" v="x"/></relation>'
        '<relation id="201" version="1">'
        '<member type="relation" ref="200" role="sub"/>'
        '<tag k="type" v="parent"/></relation>'
        '<relation id="202" version="1">'
        '<member type="relation" ref="201" role="sub"/>'
        '<tag k="type" v="grand"/></relation>'
        '<relation id="203" version="1">'
        '<member type="node" ref="2" role=""/>'
        '<tag k="type" v="outside"/></relation>'
        '<relation id="204" version="1">'
        '<member type="relation" ref="203" role="sub"/>'
        '<tag k="type" v="outparent"/></relation>'
        "</osm>"
    )
    bbox = "0,0,0.01,0.01"
    ours = tmp_path / "ours.o5m"
    convert(spark, [str(osm), f"-b={bbox}", f"-o={ours}"])
    _, _, rels = parse_o5m(ours.read_bytes())
    assert sorted(r["id"] for r in rels) == [200, 201, 202]
    if not have_refbin():
        assert_golden("rel_of_rel_border_keep", ours)
        return
    theirs = tmp_path / "theirs.o5m"
    subprocess.run(
        [f"{REFBIN}/osmconvert", str(osm), f"-b={bbox}",
         f"-o={theirs}"],
        check=True, capture_output=True,
    )
    cols = ["--out-csv", "--csv=@otype @id type", "--csv-separator=|"]
    got = _run("osmconvert", str(ours), *cols)
    assert got == _run("osmconvert", str(theirs), *cols)
    assert "2|202|grand" in got and "outparent" not in got


def test_rel_keep_closure_cap(spark, tmp_path, caplog):
    """A 13-level relation->relation chain above a relation with a
    node inside -b: the keep closure stops at the reference's 12
    passes (maxrewind), keeps the seed and the 12 levels above it,
    and says so in a warning."""
    import logging

    chain = "".join(
        f'<relation id="{300 + i}" version="1">'
        f'<member type="relation" ref="{299 + i}" role=""/></relation>'
        for i in range(1, 14)
    )
    osm = tmp_path / "cap.osm"
    osm.write_text(
        '<?xml version="1.0"?><osm version="0.6">'
        '<node id="1" lat="0.0010000" lon="0.0010000" version="1"/>'
        '<relation id="300" version="1">'
        '<member type="node" ref="1" role=""/></relation>'
        + chain + "</osm>"
    )
    ours = tmp_path / "ours.o5m"
    with caplog.at_level(logging.WARNING, logger="osmgraft"):
        convert(spark, [str(osm), "-b=0,0,0.01,0.01", f"-o={ours}"])
    _, _, rels = parse_o5m(ours.read_bytes())
    assert sorted(r["id"] for r in rels) == list(range(300, 313))
    assert any(
        "relation closure stopped" in r.message
        for r in caplog.records
    )


@needs_refbin
def test_drop_broken_refs_standalone(spark, tmp_path):
    """--drop-broken-refs WITHOUT -b/-B (the round-2 ADVICE
    finding): refs pointing at absent nodes are pruned against the
    post-filter node set, and fully-broken ways vanish.

    Deliberate divergence from the binary: osmconvert in this
    flag combination never fills its node hash (hash_seti only
    runs under border_active, osmconvert.c:11504-11510) and so
    drops EVERY way and relation — a degenerate artifact, not a
    usable semantic. We implement the intent: prune against the
    objects actually present."""
    osm = tmp_path / "br.osm"
    osm.write_text(
        '<?xml version="1.0"?><osm version="0.6">'
        '<node id="1" lat="0.0000001" lon="0.0000001" version="1"/>'
        '<node id="2" lat="0.0000002" lon="0.0000002" version="1"/>'
        '<way id="10" version="1"><nd ref="1"/><nd ref="99"/>'
        '<nd ref="2"/><tag k="highway" v="a"/></way>'
        '<way id="11" version="1"><nd ref="98"/><nd ref="99"/>'
        '<tag k="highway" v="b"/></way>'
        '<relation id="20" version="1">'
        '<member type="way" ref="10" role=""/>'
        '<member type="way" ref="11" role="gone"/>'
        '<tag k="type" v="r"/></relation>'
        "</osm>"
    )
    out = tmp_path / "out.o5m"
    convert(spark, [str(osm), "--drop-broken-refs", f"-o={out}"])
    got = _run(
        "osmconvert", str(out), "--out-csv",
        "--csv=@otype @id", "--csv-separator=|",
    )
    lines = got.strip().splitlines()
    assert lines == ["0|1", "0|2", "1|10", "2|20"]
    # way 10 kept its two resolvable refs only
    xml = _run("osmconvert", str(out), "--out-osm")
    assert '<nd ref="99"/>' not in xml
    assert xml.count("<nd ref=") == 2
    assert 'ref="11"' not in xml


@needs_refbin
def test_keep_with_drop_broken_refs(spark, tmp_path):
    """--keep + --drop-broken-refs: dangling way refs to
    filtered-out nodes are pruned (the ADVICE scenario)."""
    osm = tmp_path / "kb.osm"
    parts = ['<?xml version="1.0"?>', '<osm version="0.6">']
    for i in range(1, 11):
        keep = "yes" if i % 2 else "no"
        parts.append(
            f'<node id="{i}" lat="0.000000{i % 10}" lon="0.0000001"'
            f' version="1"><tag k="keep" v="{keep}"/>'
            f'<tag k="highway" v="x"/></node>'
        )
    parts.append(
        '<way id="50" version="1"><nd ref="1"/><nd ref="2"/>'
        '<nd ref="3"/><tag k="keep" v="yes"/>'
        '<tag k="highway" v="x"/></way>'
    )
    parts.append("</osm>")
    osm.write_text("".join(parts))
    out = tmp_path / "out.o5m"
    # round 5: --keep now dependency-completes by default (the
    # osmfilter contract), so the kept way PULLS node 2 and no ref
    # is broken; --ignore-dependencies restores the plain filter
    # and the prune scenario
    convert(
        spark,
        [str(osm), "--keep=keep=yes", "--ignore-dependencies",
         "--drop-broken-refs", f"-o={out}"],
    )
    xml = _run("osmconvert", str(out), "--out-osm")
    # node 2 was filtered out, so the way must not reference it
    assert '<nd ref="2"/>' not in xml
    assert '<nd ref="1"/>' in xml and '<nd ref="3"/>' in xml

    out2 = tmp_path / "out2.o5m"
    convert(
        spark,
        [str(osm), "--keep=keep=yes", "--drop-broken-refs",
         f"-o={out2}"],
    )
    xml2 = _run("osmconvert", str(out2), "--out-osm")
    # default mode: the dependency pull keeps node 2 alive
    assert '<nd ref="2"/>' in xml2
    assert '<node id="2"' in xml2


@needs_refbin
def test_out_statistics_matches_osmconvert(spark, tmp_path, capsys):
    """--out-statistics byte-equal to the binary, timestamp min/max
    lines included (round-3 metadata support)."""
    osm = _world(tmp_path)
    convert(spark, [osm, "--out-statistics"])
    ours = capsys.readouterr().out
    assert ours == _run("osmconvert", osm, "--out-statistics")


@needs_refbin
def test_out_statistics_no_metadata_byte_exact(spark, tmp_path,
                                               capsys):
    """On a timestamp-free world the full statistics output is
    byte-identical."""
    osm = tmp_path / "nm.osm"
    lines = ['<?xml version="1.0"?>', '<osm version="0.6">']
    for i in range(1, 41):
        lines.append(
            f'<node id="{i}" lat="{(i * 37) / 1e7:.7f}"'
            f' lon="{(-i * 11) / 1e7:.7f}" version="1">'
            f'<tag k="n" v="v{i}"/></node>'
        )
    lines.append(
        '<way id="7" version="1"><nd ref="1"/><nd ref="2"/>'
        '<nd ref="3"/><tag k="highway" v="x"/>'
        '<tag k="name" v="w"/></way>'
    )
    lines.append("</osm>")
    osm.write_text("".join(lines))
    convert(spark, [str(osm), "--out-statistics"])
    ours = capsys.readouterr().out
    assert ours == _run("osmconvert", str(osm), "--out-statistics")


@needs_refbin
def test_out_key_and_count_match_osmfilter(spark, tmp_path, capsys):
    osm = _world(tmp_path)
    o5m = tmp_path / "w.o5m"
    subprocess.run(
        [f"{REFBIN}/osmconvert", osm, f"-o={o5m}"], check=True
    )
    for args, ref_args in (
        (["--out-key"], ["--out-key"]),
        (["--out-count"], ["--out-count"]),
        (["--out-count=amenity"], ["--out-count=amenity"]),
        (["--out-key=amenity"], ["--out-key=amenity"]),
    ):
        convert(spark, [osm, *args])
        ours = capsys.readouterr().out
        assert ours == _run("osmfilter", str(o5m), *ref_args), args


@needs_refbin
def test_out_key_after_keep_matches_osmfilter(spark, tmp_path,
                                              capsys):
    """Counts reflect the written (post---keep) objects."""
    osm = _world(tmp_path)
    o5m = tmp_path / "w.o5m"
    subprocess.run(
        [f"{REFBIN}/osmconvert", osm, f"-o={o5m}"], check=True
    )
    convert(spark, [osm, "--keep=amenity=kind1", "--out-count"])
    ours = capsys.readouterr().out
    want = _run(
        "osmfilter", str(o5m), "--keep=amenity=kind1",
        "--ignore-dependencies", "--out-count",
    )
    assert ours == want


def test_out_key_and_count_sort_by_utf8_bytes(spark, tmp_path, capsys):
    """--out-key/--out-count lines, sorted by Spark, equal a Python
    table sorted by (count descending,) then the name's UTF-8 bytes,
    with names cut to 59 characters. The names include characters
    whose UTF-16 order differs from their UTF-8 order."""
    from collections import Counter
    from xml.sax.saxutils import quoteattr

    long = "n" * 58
    names = ["b", "B", "a", "\u00e9", "\u00df", "\uff01", "\U0001f600",
             long + "x1", long + "x2", long + "y"]
    tags = [(k, v) for i, k in enumerate(names)
            for v in names[: 1 + i % 4]]
    lines = ['<?xml version="1.0" encoding="UTF-8"?>', '<osm version="0.6">']
    for i, (k, v) in enumerate(tags):
        lines.append(
            f'<node id="{i + 1}" lat="1.0" lon="2.0" version="1">'
            f"<tag k={quoteattr(k)} v={quoteattr(v)}/></node>"
        )
    lines.append("</osm>")
    osm = tmp_path / "u.osm"
    osm.write_text("\n".join(lines), encoding="utf-8")

    def table(names, by_count):
        rows = [(c, n) for n, c in Counter(x[:59] for x in names).items()]
        if by_count:
            rows.sort(key=lambda t: (-t[0], t[1].encode("utf-8")))
        else:
            rows.sort(key=lambda t: t[1].encode("utf-8"))
        return "".join(f"{c:11d}\t{n}\n" for c, n in rows)

    keys = [k for k, _ in tags]
    for args, want in (
        (["--out-key"], table(keys, False)),
        (["--out-count"], table(keys, True)),
        ([f"--out-count={long}*"],
         table([v for k, v in tags if k.startswith(long)], True)),
    ):
        convert(spark, [str(osm), *args])
        assert capsys.readouterr().out == want, args


@needs_refbin
def test_keep_tags_matches_osmfilter(spark, tmp_path):
    osm = _world(tmp_path)
    o5m = tmp_path / "w.o5m"
    subprocess.run(
        [f"{REFBIN}/osmconvert", osm, f"-o={o5m}"], check=True
    )
    arg = "--keep-tags=all type= highway=h1 =h2"
    ours = tmp_path / "ours.o5m"
    convert(spark, [osm, arg, f"-o={ours}"])
    theirs = tmp_path / "theirs.o5m"
    subprocess.run(
        [f"{REFBIN}/osmfilter", str(o5m), arg,
         "--ignore-dependencies", f"-o={theirs}"],
        check=True,
    )
    assert _view(str(ours)) == _view(str(theirs))


@needs_refbin
def test_drop_tags_matches_osmfilter(spark, tmp_path):
    osm = _world(tmp_path)
    o5m = tmp_path / "w.o5m"
    subprocess.run(
        [f"{REFBIN}/osmconvert", osm, f"-o={o5m}"], check=True
    )
    arg = "--drop-tags=amenity=kind0 =kind2"
    ours = tmp_path / "ours.o5m"
    convert(spark, [osm, arg, f"-o={ours}"])
    theirs = tmp_path / "theirs.o5m"
    subprocess.run(
        [f"{REFBIN}/osmfilter", str(o5m), arg,
         "--ignore-dependencies", f"-o={theirs}"],
        check=True,
    )
    assert _view(str(ours)) == _view(str(theirs))


@needs_refbin
def test_modify_tags_matches_osmfilter(spark, tmp_path):
    osm = _world(tmp_path)
    o5m = tmp_path / "w.o5m"
    subprocess.run(
        [f"{REFBIN}/osmconvert", osm, f"-o={o5m}"], check=True
    )
    arg = "--modify-tags=amenity=kind0 to amenity=kindX"
    ours = tmp_path / "ours.o5m"
    convert(spark, [osm, arg, f"-o={ours}"])
    theirs = tmp_path / "theirs.o5m"
    subprocess.run(
        [f"{REFBIN}/osmfilter", str(o5m), arg,
         "--ignore-dependencies", f"-o={theirs}"],
        check=True,
    )
    assert _view(str(ours)) == _view(str(theirs))


@needs_refbin
def test_emulate_dialects_byte_exact(spark, tmp_path):
    """--emulate-pbf2osm / --emulate-osmosis byte-diff vs the
    binary (reading a version-dropped o5m so the reference also
    writes metadata-less objects)."""
    osm = _world(tmp_path)
    nv = tmp_path / "nv.o5m"
    subprocess.run(
        [f"{REFBIN}/osmconvert", osm, "--drop-version", f"-o={nv}"],
        check=True,
    )
    for flag, dialect in (
        ("--emulate-pbf2osm", "pbf2osm"),
        ("--emulate-osmosis", "osmosis"),
    ):
        ours = tmp_path / f"ours_{dialect}.osm"
        convert(spark, [osm, flag, f"-o={ours}"])
        theirs = tmp_path / f"theirs_{dialect}.osm"
        subprocess.run(
            [f"{REFBIN}/osmconvert", str(nv), flag, f"-o={theirs}"],
            check=True,
        )
        assert ours.read_bytes() == theirs.read_bytes(), dialect


@needs_refbin
def test_csv_way_rel_rows_byte_exact(spark, tmp_path, capsys):
    """--out-csv emits way and relation rows with @otype/@oname
    spreads, in stream order, byte-equal to the binary."""
    osm = _world(tmp_path)
    cols = ["--out-csv",
            "--csv=@oname @otype @id @lat @lon amenity highway type",
            "--csv-separator=|"]
    convert(spark, [osm, *cols])
    ours = capsys.readouterr().out
    assert ours == _run("osmconvert", osm, *cols)


@needs_refbin
def test_per_type_keep_drop_match_osmfilter(spark, tmp_path):
    """--keep-ways= / --drop-nodes= / --drop= per-type predicates
    (fil_parse ftype 0-5) vs osmfilter."""
    osm = _world(tmp_path)
    o5m = tmp_path / "w.o5m"
    subprocess.run(
        [f"{REFBIN}/osmconvert", osm, f"-o={o5m}"], check=True
    )
    cases = [
        ["--keep-ways=highway=h1"],
        ["--drop-nodes=amenity=kind2"],
        ["--drop=amenity=kind0"],
        ["--keep-nodes=amenity=kind1", "--drop-ways=highway=h0"],
    ]
    for args in cases:
        # both sides plain-filter mode (round 5: keep now
        # dependency-completes by default on BOTH engines); the
        # default-mode differential lives in
        # test_cli_flags_r5.test_keep_dependency_completion
        ours = tmp_path / "ours.o5m"
        convert(
            spark,
            [osm, *args, "--ignore-dependencies", f"-o={ours}"],
        )
        theirs = tmp_path / "theirs.o5m"
        subprocess.run(
            [f"{REFBIN}/osmfilter", str(o5m), *args,
             "--ignore-dependencies", f"-o={theirs}"],
            check=True,
        )
        assert _view(str(ours)) == _view(str(theirs)), args
        ours_d = tmp_path / "ours_d.o5m"
        convert(spark, [osm, *args, f"-o={ours_d}"])
        theirs_d = tmp_path / "theirs_d.o5m"
        subprocess.run(
            [f"{REFBIN}/osmfilter", str(o5m), *args,
             f"-o={theirs_d}"],
            check=True,
        )
        assert _view(str(ours_d)) == _view(str(theirs_d)), (
            args, "default dependency mode")


@needs_refbin
def test_drop_all_sections(spark, tmp_path):
    """bare --drop-ways / --drop-relations empty the section
    (osmfilter.c help: 'delete all ways')."""
    osm = _world(tmp_path)
    ours = tmp_path / "ours.o5m"
    convert(
        spark, [osm, "--drop-ways", "--drop-relations", f"-o={ours}"]
    )
    got = _run("osmconvert", str(ours), "--out-csv",
               "--csv=@otype @id", "--csv-separator=|")
    assert all(line.startswith("0|") for line in got.splitlines())
    assert len(got.splitlines()) == 300


@needs_refbin
def test_out_osm_stdout(spark, tmp_path, capsys):
    """--out-osm without -o= streams XML to stdout; byte-equal to
    the file sink's serial render."""
    osm = _world(tmp_path)
    convert(spark, [osm, "--out-osm"])
    streamed = capsys.readouterr().out
    f = tmp_path / "f.osm"
    convert(spark, [osm, f"-o={f}"])
    assert streamed == f.read_text()


@needs_refbin
def test_default_csv_columns_byte_exact(spark, tmp_path, capsys):
    """--out-csv without --csv uses the reference's default
    "@oname @id name" (csv_ini(NULL), osmconvert.c:3235-3243),
    trailing separators included."""
    osm = _world(tmp_path)
    convert(spark, [osm, "--out-csv"])
    ours = capsys.readouterr().out
    assert ours == _run("osmconvert", osm, "--out-csv")


@needs_refbin
def test_csv_headline(spark, tmp_path, capsys):
    osm = _world(tmp_path)
    args = ["--out-csv", "--csv-headline", "--csv=@oname @id amenity",
            "--csv-separator=|"]
    convert(spark, [osm, *args])
    ours = capsys.readouterr().out
    assert ours == _run("osmconvert", osm, *args)


@needs_refbin
def test_per_type_tag_filters_match_osmfilter(spark, tmp_path):
    """--keep-node-tags= / --drop-way-tags= (fil_parse ftype 6-11)
    vs osmfilter."""
    osm = _world(tmp_path)
    o5m = tmp_path / "w.o5m"
    subprocess.run(
        [f"{REFBIN}/osmconvert", osm, f"-o={o5m}"], check=True
    )
    cases = [
        ["--keep-node-tags=all amenity="],
        ["--drop-way-tags=highway=h1"],
        ["--keep-way-tags=all highway=", "--drop-node-tags=name="],
    ]
    for args in cases:
        ours = tmp_path / "ours.o5m"
        convert(spark, [osm, *args, f"-o={ours}"])
        theirs = tmp_path / "theirs.o5m"
        subprocess.run(
            [f"{REFBIN}/osmfilter", str(o5m), *args,
             "--ignore-dependencies", f"-o={theirs}"],
            check=True,
        )
        assert _view(str(ours)) == _view(str(theirs)), args


@needs_refbin
def test_out_timestamp(spark, tmp_path, capsys):
    """--out-timestamp prints the 0xdc file timestamp exactly like
    the binary, and "(invalid timestamp)" when absent."""
    from osmgraft.sources.osmxml import _parse as parse_xml
    from osmgraft.wire import encode_o5m

    nodes, ways, rels = parse_xml(_world_xml())
    stamped = tmp_path / "s.o5m"
    stamped.write_bytes(
        encode_o5m(nodes, ways, rels, file_timestamp=1735689600)
    )
    plain = tmp_path / "p.o5m"
    plain.write_bytes(encode_o5m(nodes, ways, rels))
    for path in (stamped, plain):
        convert(spark, [str(path), "--out-timestamp"])
        ours = capsys.readouterr().out
        want = _run("osmconvert", str(path), "--out-timestamp")
        assert ours == want, path


def test_complete_multipolygons_matches_osmconvert(spark, tmp_path):
    """--complete-multipolygons: a border-touching multipolygon
    pulls its outside outer/inner member ways (and their nodes)
    back in; non-multipolygon relations don't
    (osmconvert.c:11240-11302 stages 11-13)."""
    lines = ['<?xml version="1.0"?>', '<osm version="0.6">']
    # nodes 1-10 inside the box, 11-30 outside
    for i in range(1, 31):
        lat = (i * 40000) / 1e7
        lon = (i * 30000) / 1e7
        lines.append(
            f'<node id="{i}" lat="{lat:.7f}" lon="{lon:.7f}"'
            ' version="1"/>'
        )
    # way 100 touches (nodes 2,3,12); way 101 fully outside
    # (13,14,15); way 102 fully outside (16,17)
    for wid, refs in ((100, (2, 3, 12)), (101, (13, 14, 15)),
                      (102, (16, 17)), (103, (18, 19))):
        lines.append(f'<way id="{wid}" version="1">')
        for r in refs:
            lines.append(f'<nd ref="{r}"/>')
        lines.append('<tag k="highway" v="x"/></way>')
    # multipolygon with inside way 100 + outside way 101 -> 101
    # pulled; plain relation with 100 + 102 -> 102 NOT pulled;
    # multipolygon fully outside (103) -> nothing pulled
    lines.append(
        '<relation id="200" version="1">'
        '<member type="way" ref="100" role="outer"/>'
        '<member type="way" ref="101" role="inner"/>'
        '<tag k="type" v="multipolygon"/></relation>'
    )
    lines.append(
        '<relation id="201" version="1">'
        '<member type="way" ref="100" role="outer"/>'
        '<member type="way" ref="102" role="outer"/>'
        '<tag k="type" v="route"/></relation>'
    )
    lines.append(
        '<relation id="202" version="1">'
        '<member type="way" ref="103" role="outer"/>'
        '<tag k="type" v="multipolygon"/></relation>'
    )
    lines.append("</osm>")
    osm = tmp_path / "mp.osm"
    osm.write_text("".join(lines))

    bbox = "0,0,0.04,0.045"
    ours = tmp_path / "ours.o5m"
    convert(
        spark,
        [str(osm), f"-b={bbox}", "--complete-multipolygons",
         f"-o={ours}"],
    )
    nodes, ways, _ = parse_o5m(ours.read_bytes())
    way_ids = {w["id"] for w in ways}
    assert 101 in way_ids        # pulled member way
    assert 102 not in way_ids    # non-mp relation member stays out
    assert 13 in {n["id"] for n in nodes}  # pulled way's nodes complete
    if not have_refbin():
        assert_golden("complete_multipolygons", ours)
        return
    theirs = tmp_path / "theirs.o5m"
    subprocess.run(
        [f"{REFBIN}/osmconvert", str(osm), f"-b={bbox}",
         "--complete-multipolygons", f"-o={theirs}"],
        check=True, capture_output=True,
    )
    cols = ["--out-csv", "--csv=@otype @id", "--csv-separator=|"]
    got = _run("osmconvert", str(ours), *cols)
    want = _run("osmconvert", str(theirs), *cols)
    assert got == want


@needs_refbin
def test_subtract_matches_osmconvert(spark, tmp_path):
    """--subtract: first input minus the objects of all following
    files (osmconvert.c:554-556)."""
    osm = _world(tmp_path)
    # second file: a subset world (every 3rd node, ways 1000-1009)
    lines = ['<?xml version="1.0"?>', '<osm version="0.6">']
    for i in range(1, 301, 3):
        lines.append(
            f'<node id="{i}" lat="0.0000001" lon="0.0000001"'
            ' version="1"/>'
        )
    for w in range(10):
        lines.append(
            f'<way id="{w + 1000}" version="1"><nd ref="1"/></way>'
        )
    lines.append("</osm>")
    minus = tmp_path / "minus.osm"
    minus.write_text("".join(lines))

    ours = tmp_path / "ours.o5m"
    convert(
        spark, [osm, "--subtract", str(minus), f"-o={ours}"]
    )
    theirs = tmp_path / "theirs.o5m"
    subprocess.run(
        [f"{REFBIN}/osmconvert", osm, "--subtract", str(minus),
         f"-o={theirs}"],
        check=True, capture_output=True,
    )
    assert _view(str(ours)) == _view(str(theirs))
    # node 1 (present in the minus file) really is gone
    assert "0|1|" not in _view(str(ours))


@needs_refbin
def test_diff_changefile_applies_through_reference(spark, tmp_path):
    """--diff: our .o5c changefile, applied by osmconvert to the
    old snapshot, reproduces the new snapshot exactly."""
    import re

    old = tmp_path / "old.osm"
    old.write_text(_world_xml())
    # new world: delete node 7 and way 1003 (whole XML blocks),
    # retag kind1 -> kindX (modifies)
    xml = _world_xml()
    xml = re.sub(
        r'  <node id="7" .*?</node>\n', "", xml, flags=re.S
    )
    xml = re.sub(
        r'  <way id="1003" .*?</way>\n', "", xml, flags=re.S
    )
    new = tmp_path / "new.osm"
    new.write_text(xml.replace('v="kind1"', 'v="kindX"'))

    chg = tmp_path / "chg.o5c"
    convert(spark, [str(old), str(new), "--diff", f"-o={chg}"])

    old_o5m = tmp_path / "old.o5m"
    subprocess.run(
        [f"{REFBIN}/osmconvert", str(old), f"-o={old_o5m}"],
        check=True,
    )
    applied = tmp_path / "applied.o5m"
    subprocess.run(
        [f"{REFBIN}/osmconvert", str(old_o5m), str(chg),
         f"-o={applied}"],
        check=True, capture_output=True,
    )
    assert _view(str(applied)) == _view(str(new))


@needs_refbin
def test_statistics_to_stderr_and_noop_flags(spark, tmp_path,
                                             capsys):
    """--statistics --out-none matches --out-statistics content on
    stderr; capacity/metadata no-op flags are accepted."""
    osm = tmp_path / "nm.osm"
    osm.write_text(
        '<?xml version="1.0"?><osm version="0.6">'
        '<node id="1" lat="0.0000100" lon="0.0000200" version="1">'
        '<tag k="n" v="v"/></node></osm>'
    )
    convert(
        spark,
        [str(osm), "--statistics", "--out-none",
         "--hash-memory=1500", "--max-objects=5", "--drop-version"],
    )
    err = capsys.readouterr().err
    want = _run("osmconvert", str(osm), "--out-statistics")
    assert err == want


_META_CSV = ["--out-csv",
             "--csv=@otype @id @version @timestamp @changeset @uid"
             " @user amenity",
             "--csv-separator=|"]


@needs_refbin
def test_conversion_preserves_author_metadata(spark, tmp_path):
    """Round-3: plain conversion carries version/timestamp/
    changeset/uid/user through — osmconvert's author-column CSV
    view of our .o5m equals its view of its own conversion."""
    osm = _world(tmp_path)
    ours = tmp_path / "ours.o5m"
    convert(spark, [osm, f"-o={ours}"])
    theirs = tmp_path / "theirs.o5m"
    subprocess.run(
        [f"{REFBIN}/osmconvert", osm, f"-o={theirs}"], check=True
    )
    got = _run("osmconvert", str(ours), *_META_CSV)
    assert got == _run("osmconvert", str(theirs), *_META_CSV)
    assert "user" in got  # authors really present


@needs_refbin
def test_clip_preserves_author_metadata(spark, tmp_path):
    osm = _world(tmp_path)
    bbox = "-0.2,0,0.1,0.6"
    ours = tmp_path / "ours.o5m"
    convert(spark, [osm, f"-b={bbox}", f"-o={ours}"])
    theirs = tmp_path / "theirs.o5m"
    subprocess.run(
        [f"{REFBIN}/osmconvert", osm, f"-b={bbox}", f"-o={theirs}"],
        check=True, capture_output=True,
    )
    assert _run("osmconvert", str(ours), *_META_CSV) == _run(
        "osmconvert", str(theirs), *_META_CSV
    )


@needs_refbin
def test_fake_and_drop_author_flags(spark, tmp_path):
    """--fake-author and --drop-author match the binary's
    wo__author globals."""
    osm = _world(tmp_path)
    for flag in ("--fake-author", "--drop-author"):
        ours = tmp_path / "ours.o5m"
        convert(spark, [osm, flag, f"-o={ours}"])
        theirs = tmp_path / "theirs.o5m"
        subprocess.run(
            [f"{REFBIN}/osmconvert", osm, flag, f"-o={theirs}"],
            check=True,
        )
        got = _run("osmconvert", str(ours), *_META_CSV)
        assert got == _run(
            "osmconvert", str(theirs), *_META_CSV
        ), flag


def test_all_to_nodes_preserves_author(spark, tmp_path):
    """Replacement center nodes keep the way/relation author
    (wo_node(id_new, hisver, ...), osmconvert.c:11661-11663)."""
    osm = _world(tmp_path)
    ours = tmp_path / "ours.o5m"
    convert(spark, [osm, "--all-to-nodes", f"-o={ours}"])
    if not have_refbin():
        # the same run as test_all_to_nodes_matches_osmconvert; the
        # o5m bytes carry the author fields
        assert_golden("all_to_nodes", ours)
        return
    theirs = tmp_path / "theirs.o5m"
    subprocess.run(
        [f"{REFBIN}/osmconvert", osm, "--all-to-nodes",
         f"-o={theirs}"],
        check=True,
    )
    assert _run("osmconvert", str(ours), *_META_CSV) == _run(
        "osmconvert", str(theirs), *_META_CSV
    )


# ---------------------------------------------------------------
# round-4 long-tail flags: --merge-versions, --out-osh,
# --fake-lonlat (osmconvert.c:58,61,64)
# ---------------------------------------------------------------

_BASE_META = """<?xml version='1.0' encoding='UTF-8'?>
<osm version="0.6" generator="test">
\t<node id="1" lat="10.0000000" lon="20.0000000" version="2" timestamp="2020-01-02T03:04:05Z" changeset="7" uid="3" user="alice"/>
\t<node id="2" lat="11.0000000" lon="21.0000000" version="1" timestamp="2020-01-02T03:04:06Z" changeset="8" uid="4" user="bob">
\t\t<tag k="amenity" v="cafe"/>
\t</node>
\t<way id="5" version="1" timestamp="2020-01-02T03:04:07Z" changeset="9" uid="3" user="alice">
\t\t<nd ref="1"/>
\t\t<nd ref="2"/>
\t\t<tag k="highway" v="residential"/>
\t</way>
</osm>
"""

_NEW_META = """<?xml version='1.0' encoding='UTF-8'?>
<osm version="0.6" generator="test">
\t<node id="1" lat="10.5000000" lon="20.0000000" version="3" timestamp="2020-02-02T03:04:05Z" changeset="17" uid="3" user="alice"/>
\t<node id="3" lat="12.0000000" lon="22.0000000" version="1" timestamp="2020-02-02T03:04:08Z" changeset="18" uid="4" user="bob"/>
\t<way id="5" version="2" timestamp="2020-02-02T03:04:09Z" changeset="19" uid="3" user="alice">
\t\t<nd ref="1"/>
\t\t<nd ref="3"/>
\t\t<tag k="highway" v="primary"/>
\t</way>
</osm>
"""


def _norm_gen(s: str) -> str:
    return s.replace(
        'generator="osmconvert 0.8.11"', 'generator="osmgraft"'
    )


def _meta_world(tmp_path):
    """base.osm + chg.o5c (made by the reference's own --diff, so it
    carries a real node delete with full author metadata)."""
    base = tmp_path / "base.osm"
    base.write_text(_BASE_META)
    new = tmp_path / "new.osm"
    new.write_text(_NEW_META)
    chg = tmp_path / "chg.o5c"
    subprocess.run(
        [f"{REFBIN}/osmconvert", str(base), str(new), "--diff",
         f"-o={chg}"],
        check=True,
    )
    return str(base), str(chg)


@needs_refbin
def test_out_osh_byte_exact(spark, tmp_path):
    """--out-osh: visible="true" on every live object; deleted
    objects KEPT as coordinate-less visible="false" records carrying
    their author metadata (wo_delete + wo__author,
    osmconvert.c:8311-8317) — byte-equal to the binary, modulo the
    generator attribute."""
    base, chg = _meta_world(tmp_path)
    ref = _run("osmconvert", base, chg, "--out-osh")
    ours = tmp_path / "ours.osh"
    convert(spark, [base, chg, "--out-osh", f"-o={ours}"])
    assert ours.read_text() == _norm_gen(ref)
    assert 'visible="false"' in ref  # the delete really exercised


@needs_refbin
def test_osh_extension_implies_osh(spark, tmp_path):
    """-o=file.osh alone selects osh output, like the reference's
    extension dispatch (osmconvert.c:13134)."""
    base, chg = _meta_world(tmp_path)
    ref = _run("osmconvert", base, chg, "--out-osh")
    ours = tmp_path / "ours2.osh"
    convert(spark, [base, chg, f"-o={ours}"])
    assert ours.read_text() == _norm_gen(ref)


@needs_refbin
def test_fake_lonlat_byte_exact(spark, tmp_path):
    """--fake-lonlat writes lat="0" lon="0" on delete records — on
    EVERY object type, matching the reference quirk
    (wo_delete, osmconvert.c:8826)."""
    base, chg = _meta_world(tmp_path)
    ref = _run("osmconvert", base, chg, "--fake-lonlat", "--out-osh")
    ours = tmp_path / "ours3.osh"
    convert(
        spark, [base, chg, "--fake-lonlat", "--out-osh", f"-o={ours}"]
    )
    assert ours.read_text() == _norm_gen(ref)
    assert ' lat="0" lon="0"' in ref


@needs_refbin
def test_fake_lonlat_osc_sink(spark, tmp_path):
    """Our .osc writer honours fake_lonlat on tombstones and the
    result still applies identically through the binary."""
    from osmgraft.wire.osmxml import encode_osc

    rows = [
        {"id": 3, "lat_i": None, "lon_i": None, "tags": None,
         "version": 2, "timestamp": 1577934246, "changeset": 8,
         "uid": 4, "user": "bob"},
        {"id": 7, "lat_i": 777, "lon_i": 77, "tags": {"a": "b"}},
    ]
    plain = encode_osc(rows, [], [])
    faked = encode_osc(rows, [], [], fake_lonlat=True)
    assert '<node id="3" version="2"' in plain
    assert '<node id="3" lat="0" lon="0" version="2"' in faked
    # both apply identically through the reference binary
    base = tmp_path / "b.osm"
    base.write_text(_BASE_META.replace('id="2"', 'id="3"'))
    out = []
    for name, text in (("p.osc", plain), ("f.osc", faked)):
        p = tmp_path / name
        p.write_text(text)
        out.append(_run("osmconvert", str(base), str(p), *_CSV))
    assert out[0] == out[1]


@needs_refbin
def test_merge_versions_byte_exact(spark, tmp_path):
    """--merge-versions: duplicate ids within ONE input collapse to
    the newest version (osmconvert.c:11124-11137), byte-equal
    through the native XML writer."""
    dup = tmp_path / "dup.osm"
    dup.write_text(
        _BASE_META.replace(
            '\t<node id="1" lat="10.0000000" lon="20.0000000"'
            ' version="2"',
            '\t<node id="1" lat="9.0000000" lon="19.0000000"'
            ' version="1" timestamp="2019-01-02T03:04:05Z"'
            ' changeset="6" uid="3" user="alice"/>\n'
            '\t<node id="1" lat="10.0000000" lon="20.0000000"'
            ' version="2"',
        )
    )
    ref = _run("osmconvert", str(dup), "--merge-versions",
               "--out-osm")
    ours = tmp_path / "mv.osm"
    convert(spark, [str(dup), "--merge-versions", f"-o={ours}"])
    assert ours.read_text() == _norm_gen(ref)
    assert 'lat="9' not in ref  # v1 really dropped


@needs_refbin
def test_native_xml_byte_exact(spark, tmp_path):
    """Round-4: the NATIVE XML writer (not just the --emulate-*
    dialects) is byte-equal to the binary — write_sfix7 coordinate
    formatting with trailing zeros stripped."""
    base = tmp_path / "base.osm"
    base.write_text(_BASE_META)
    ref = _run("osmconvert", str(base), "--out-osm")
    ours = tmp_path / "n.osm"
    convert(spark, [str(base), f"-o={ours}"])
    assert ours.read_text() == _norm_gen(ref)
