"""K1: .osm XML writer (inverse of sources/osmxml.py).

Mirrors the reference's XML emitter (osmconvert.c wo_xmltag /
wo_node 8183-8640): 7-decimal fixed-point coordinates, attribute
escaping of & < > " ' (F4, osmconvert.c:2355-2407), nodes then
ways then relations inside <osm>. Objects carry version="1" so
strict readers (and osmconvert's own parser) see a well-formed
planet dialect; our data model keeps no history.
"""

from __future__ import annotations

from ..geo.fixedpoint import format_fix7

_ESC = {
    "&": "&amp;",
    "<": "&lt;",
    ">": "&gt;",
    '"': "&quot;",
    "'": "&apos;",
}


def _esc(s: str) -> str:
    if not any(c in s for c in _ESC):
        return s
    return "".join(_ESC.get(c, c) for c in s)


def _tags(parts: list[str], tags: dict, indent: str) -> None:
    for k, v in tags.items():
        parts.append(
            f'{indent}<tag k="{_esc(k)}" v="{_esc(v)}"/>'
        )


def _iso(ts: int) -> str:
    from datetime import datetime, timezone

    return datetime.fromtimestamp(int(ts), timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )


def _author_attrs(row: dict) -> str:
    """wo__author's native-XML branch (osmconvert.c:8280-8292):
    version, then (when a timestamp exists) timestamp + changeset,
    then uid + user when both are present. Metadata-less rows keep
    the version="1" placeholder so strict readers (and osmconvert's
    parser) accept the document."""
    ver = row.get("version")
    if not ver:
        return ' version="1"'
    s = f' version="{int(ver)}"'
    ts = row.get("timestamp")
    if ts:
        s += (
            f' timestamp="{_iso(ts)}"'
            f' changeset="{int(row.get("changeset") or 0)}"'
        )
        uid = row.get("uid")
        user = row.get("user")
        if uid and user:
            s += f' uid="{int(uid)}" user="{_esc(user)}"'
    return s


def encode_osc(nodes, ways, rels, fake_lonlat: bool = False) -> str:
    """osmChange XML (.osc) writer: live rows under <modify> (apply
    semantics treat modify as upsert, osmchange.c:1485-1659),
    tags=None tombstones under <delete> carrying their author attrs
    (like wo_delete) but no coordinates — unless fake_lonlat
    (--fake-lonlat, osmconvert.c:58, 12769-12774), which writes
    lat="0" lon="0" on every tombstone exactly like the reference.
    The twin of sources/osmxml.read_osc_nodes.

    The reference requires object ids to ASCEND across the whole
    file (osmconvert.c:440-450), so <modify>/<delete> blocks are
    interleaved in id order (osmChange allows repeated blocks)
    rather than emitted as two monolithic sections."""
    parts = [
        "<?xml version='1.0' encoding='UTF-8'?>",
        '<osmChange version="0.6" generator="osmgraft">',
    ]
    fake = ' lat="0" lon="0"' if fake_lonlat else ""

    def block(action: str, body: list[str]) -> None:
        parts.append(f"\t<{action}>")
        parts.extend(body)
        parts.append(f"\t</{action}>")

    def tombstone(kind: str, row: dict) -> None:
        block(
            "delete",
            [
                f'\t\t<{kind} id="{row["id"]}"{fake}'
                f"{_author_attrs(row)}/>"
            ],
        )

    for nd in nodes:
        if nd.get("tags") is None:
            tombstone("node", nd)
            continue
        head = (
            f'\t\t<node id="{nd["id"]}"'
            f' lat="{_sfix7(nd["lat_i"])}"'
            f' lon="{_sfix7(nd["lon_i"])}"'
            ' version="1"'
        )
        if nd["tags"]:
            body = [head + ">"]
            _tags(body, nd["tags"], "\t\t\t")
            body.append("\t\t</node>")
        else:
            body = [head + "/>"]
        block("modify", body)
    for wy in ways:
        if wy.get("tags") is None:
            tombstone("way", wy)
            continue
        body = [f'\t\t<way id="{wy["id"]}" version="1">']
        for r in wy["refs"]:
            body.append(f'\t\t\t<nd ref="{r}"/>')
        _tags(body, wy["tags"], "\t\t\t")
        body.append("\t\t</way>")
        block("modify", body)
    for rl in rels:
        if rl.get("tags") is None:
            tombstone("relation", rl)
            continue
        body = [f'\t\t<relation id="{rl["id"]}" version="1">']
        for m in rl["members"]:
            body.append(
                f'\t\t\t<member type="{m["mtype"]}"'
                f' ref="{m["ref"]}" role="{_esc(m["role"])}"/>'
            )
        _tags(body, rl["tags"], "\t\t\t")
        body.append("\t\t</relation>")
        block("modify", body)
    parts.append("</osmChange>")
    parts.append("")
    return "\n".join(parts)


def _sfix7(v: int) -> str:
    """write_sfix7 (osmconvert.c:3023-3050): 7-decimal fixed point
    with trailing zeros STRIPPED, at least one decimal kept."""
    s = "-" if v < 0 else ""
    a = abs(int(v))
    frac = f"{a % 10_000_000:07d}".rstrip("0") or "0"
    return f"{s}{a // 10_000_000}.{frac}"


def _sfix7o(v: int) -> str:
    """write_sfix7o: 7-decimal fixed point, trailing zeros KEPT."""
    s = "-" if v < 0 else ""
    a = abs(int(v))
    return f"{s}{a // 10_000_000}.{a % 10_000_000:07d}"


def _sfix6o_r(v: int) -> str:
    """Osmium coordinate: 100-nanodeg value rounded half-away to
    1e-6 with C-truncating division ((v+5)/10, osmconvert.c
    wo_node case 14), then 6 decimals with trailing zeros KEPT."""
    a = abs(int(v))
    a = (a + 5) // 10
    s = "-" if (v < 0 and a != 0) else ""
    return f"{s}{a // 1_000_000}.{a % 1_000_000:06d}"


def _encode_emulated(nodes, ways, rels, dialect: str) -> str:
    """The reference's --emulate-pbf2osm / --emulate-osmosis XML
    dialects, byte-exact for metadata-less objects (hisver=0 =>
    wo__author emits nothing):

    - pbf2osm (wo__format 12, osmconvert.c:8545-8551, 8946-8950):
      tab indentation, lat/lon BEFORE author with trailing zeros
      kept (write_sfix7o), tags closed with " />", no <bounds>;
    - Osmosis (wo__format 13, osmconvert.c:8553-8559, 8895-8905):
      two-space indentation, author before lat/lon, trailing
      zeros stripped (write_sfix7), tags/nd/member indented four
      spaces;
    - Osmium (wo__format 14, osmconvert.c:8598-8607, 8299-8308):
      DOUBLE-quoted XML declaration, the Osmium generator URL,
      coordinates AFTER the author block with lon BEFORE lat,
      rounded half-away to 1e-6 by C-truncating (v+5)/10 and
      printed with 6 decimals trailing zeros kept (write_sfix6o);
      tags/nd/member identical to the Osmosis branch (the case 13
      and 14 arms share code);
    - all three end with "<!--End of emulated output.-->"
      (wo_end, osmconvert.c:8516-8518).
    """
    p2 = dialect == "pbf2osm"
    osmium = dialect == "osmium"
    gen = (
        "pbf2osm"
        if p2
        else (
            "Osmium (http://wiki.openstreetmap.org/wiki/Osmium)"
            if osmium
            else "Osmosis 0.40"
        )
    )
    ind1 = "\t" if p2 else "  "
    ind2 = "\t\t" if p2 else "    "
    tag_close = '" />' if p2 else '"/>'
    fmt = _sfix7o if p2 else _sfix7
    decl = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        if osmium
        else "<?xml version='1.0' encoding='UTF-8'?>"
    )
    parts = [
        decl,
        f'<osm version="0.6" generator="{gen}">',
    ]

    def obj(head: str, children: list[str], close: str) -> None:
        if children:
            parts.append(head + '">')
            parts.extend(children)
            parts.append(close)
        else:
            parts.append(head + '"/>')

    def tag_lines(tags: dict) -> list[str]:
        return [
            f'{ind2}<tag k="{_esc(k)}" v="{_esc(v)}{tag_close}'
            for k, v in tags.items()
        ]

    for nd in nodes:
        if nd.get("tags") is None:
            continue
        if osmium:
            head = (
                f'{ind1}<node id="{nd["id"]}"'
                f' lon="{_sfix6o_r(nd["lon_i"])}"'
                f' lat="{_sfix6o_r(nd["lat_i"])}'
            )
        else:
            head = (
                f'{ind1}<node id="{nd["id"]}"'
                f' lat="{fmt(nd["lat_i"])}" lon="{fmt(nd["lon_i"])}'
            )
        obj(head, tag_lines(nd["tags"]), f"{ind1}</node>")
    for wy in ways:
        if wy.get("tags") is None:
            continue
        children = [
            f'{ind2}<nd ref="{r}"/>' for r in wy["refs"]
        ] + tag_lines(wy["tags"])
        obj(f'{ind1}<way id="{wy["id"]}', children, f"{ind1}</way>")
    for rl in rels:
        if rl.get("tags") is None:
            continue
        children = [
            f'{ind2}<member type="{m["mtype"]}" ref="{m["ref"]}"'
            f' role="{_esc(m["role"])}"/>'
            for m in rl["members"]
        ] + tag_lines(rl["tags"])
        obj(
            f'{ind1}<relation id="{rl["id"]}',
            children,
            f"{ind1}</relation>",
        )
    parts.append("</osm>")
    parts.append("<!--End of emulated output.-->")
    parts.append("")
    return "\n".join(parts)


def encode_osm_xml(
    nodes,
    ways,
    rels,
    dialect: str | None = None,
    osh: bool = False,
    fake_lonlat: bool = False,
    header_timestamp: str | None = None,
) -> str:
    """Row-dict lists (the readers' shape) -> one .osm document.
    tags=None tombstones are skipped: plain .osm carries no delete
    semantics (that is .osc's job — encode_osc).
    dialect: None for the native writer, or "pbf2osm"/"osmosis" for
    the reference's --emulate-* output formats.
    osh: .osh visible-tags output (--out-osh, osmconvert.c:64,
    8311-8317): every object carries visible="true"; tombstones are
    KEPT as coordinate-less visible="false" records via wo_delete.
    fake_lonlat: --fake-lonlat (osmconvert.c:58, 8826) writes
    lat="0" lon="0" on deleted nodes."""
    if dialect is not None:
        return _encode_emulated(nodes, ways, rels, dialect)
    # --timestamp= lands as an <osm> header attribute in XML
    # output (osmconvert wo_start, probe-verified)
    ts_attr = (
        f' timestamp="{header_timestamp}"' if header_timestamp else ""
    )
    parts = [
        "<?xml version='1.0' encoding='UTF-8'?>",
        f'<osm version="0.6" generator="osmgraft"{ts_attr}>',
    ]
    body = encode_osm_xml_body(
        nodes, ways, rels, osh=osh, fake_lonlat=fake_lonlat
    )
    if body:
        parts.append(body)
    parts.append("</osm>")
    parts.append("")
    return "\n".join(parts)


def encode_osm_xml_body(
    nodes, ways, rels, osh: bool = False, fake_lonlat: bool = False
) -> str:
    """Object lines only (no XML declaration, no <osm> envelope) —
    the executor-side unit of the parallel single-file sink: XML
    objects are self-contained, so independently-rendered chunks
    concatenate byte-identically to a serial render."""
    vis_live = ' visible="true"' if osh else ""
    fake = ' lat="0" lon="0"' if fake_lonlat else ""

    def tombstone(parts: list[str], kind: str, row: dict) -> None:
        # wo_delete (osmconvert.c:8810-8833): id, optional faked
        # lonlat (on EVERY type — the reference writes lat/lon on
        # way/relation tombstones too), author attrs, visible=false
        parts.append(
            f'\t<{kind} id="{row["id"]}"{fake}'
            f'{_author_attrs(row)} visible="false"/>'
        )

    parts: list[str] = []
    for nd in nodes:
        if nd.get("tags") is None:
            if osh:
                tombstone(parts, "node", nd)
            continue
        head = (
            f'\t<node id="{nd["id"]}"'
            f' lat="{_sfix7(nd["lat_i"])}"'
            f' lon="{_sfix7(nd["lon_i"])}"'
            f"{_author_attrs(nd)}{vis_live}"
        )
        if nd["tags"]:
            parts.append(head + ">")
            _tags(parts, nd["tags"], "\t\t")
            parts.append("\t</node>")
        else:
            parts.append(head + "/>")
    for wy in ways:
        if wy.get("tags") is None:
            if osh:
                tombstone(parts, "way", wy)
            continue
        parts.append(
            f'\t<way id="{wy["id"]}"{_author_attrs(wy)}{vis_live}>'
        )
        for r in wy["refs"]:
            parts.append(f'\t\t<nd ref="{r}"/>')
        _tags(parts, wy["tags"], "\t\t")
        parts.append("\t</way>")
    for rl in rels:
        if rl.get("tags") is None:
            if osh:
                tombstone(parts, "relation", rl)
            continue
        parts.append(
            f'\t<relation id="{rl["id"]}"'
            f"{_author_attrs(rl)}{vis_live}>"
        )
        for m in rl["members"]:
            parts.append(
                f'\t\t<member type="{m["mtype"]}" ref="{m["ref"]}"'
                f' role="{_esc(m["role"])}"/>'
            )
        _tags(parts, rl["tags"], "\t\t")
        parts.append("\t</relation>")
    return "\n".join(parts)
