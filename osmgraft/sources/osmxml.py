"""S1: OSM XML (.osm/.osc) ingestion into nodes/ways/relations
DataFrames.

The reference streams XML byte-wise (oo__xmltag osmconvert.c:9428+).
Our ingest path parallelizes PER FILE: `spark.read.text(wholetext)`
distributes whole files to executors, and an Arrow-batched
mapInPandas parses each with ElementTree into typed rows. This is
the fixture/extract ingest path — planet-scale OSM arrives as PBF
and is converted to parquet offline once; per-file parallelism is
exactly how multi-extract ingestion (one file per region) scales.

Output schemas (SURVEY.md §1.1):
  nodes(id long, lat_i long, lon_i long, tags map<string,string>)
  ways(id long, refs array<long>, tags map<string,string>)
  rels(id long, members array<struct<ref long, mtype string,
       role string>>, tags map<string,string>)
All three are filters of one decoded frame (DECODED_SCHEMA: a
`kind` column over the union of their columns), so each file is
parsed once for all three kinds.
Coordinates become 1e-7 fixed-point exactly as the reference's XML
parser does (oo__strtodeg osmconvert.c:9264+: exact digit
accumulation, digits beyond the 7th ignored — i.e. truncation
toward zero, NOT rounding).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

# optional author metadata columns (SURVEY §1.1: version,
# timestamp epoch-seconds, changeset, uid, user; 0/None = absent,
# matching the reference's hisver==0 convention)
META_COLS = (
    "version int, timestamp long, changeset long, uid long, "
    "user string"
)

# The decoded frame: every reader parses each split or file ONCE into
# rows of all three kinds, tagged by `kind` over the union of the
# per-kind columns; `split_decoded` turns it into (nodes, ways, rels).
DECODED_SCHEMA = (
    "kind string, id long, lat_i long, lon_i long, refs array<long>, "
    "members array<struct<ref:long,mtype:string,role:string>>, "
    "tags map<string,string>"
)
DECODED_META_SCHEMA = DECODED_SCHEMA + ", " + META_COLS

_KINDS = ("node", "way", "relation")
_KIND_COLS = (
    ("id", "lat_i", "lon_i", "tags"),
    ("id", "refs", "tags"),
    ("id", "members", "tags"),
)
_META_NAMES = ("version", "timestamp", "changeset", "uid", "user")
_DECODED_COLS = (
    "kind", "id", "lat_i", "lon_i", "refs", "members", "tags"
)


def decoded_frames(parsed, with_meta: bool) -> Iterator[pd.DataFrame]:
    """One parse's (nodes, ways, rels) row lists -> pandas frames
    in the decoded schema, one per non-empty kind. Columns a kind
    lacks are None (object dtype, which Arrow takes for any type)."""
    cols = _DECODED_COLS + (_META_NAMES if with_meta else ())
    for kind, rows in zip(_KINDS, parsed):
        if not rows:
            continue
        pdf = pd.DataFrame(rows)
        pdf["kind"] = kind
        for c in cols:
            if c not in pdf:
                pdf[c] = None
        yield pdf[list(cols)]


def split_decoded(
    decoded: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(nodes, ways, rels) as column-pruned filters of one decoded
    frame; the author columns come along when it carries them."""
    meta = _META_NAMES if "version" in decoded.columns else ()
    return tuple(
        decoded.filter(F.col("kind") == kind).select(*cols, *meta)
        for kind, cols in zip(_KINDS, _KIND_COLS)
    )


def _fix(s: str) -> int:
    """oo__strtodeg semantics: exact decimal scaling, extra digits
    truncated toward zero (no float in the path)."""
    from decimal import ROUND_DOWN, Decimal

    return int(
        (Decimal(s) * 10_000_000).to_integral_value(rounding=ROUND_DOWN)
    )


def parse_timestamp(s: str | None) -> int | None:
    """pb__strtimetosint64 (osmconvert.c:3411-3443): ISO
    YYYY-MM-DDThh:mm:ssZ -> unix seconds."""
    if not s:
        return None
    from datetime import datetime, timezone

    try:
        return int(
            datetime.strptime(s, "%Y-%m-%dT%H:%M:%SZ")
            .replace(tzinfo=timezone.utc)
            .timestamp()
        )
    except ValueError:
        return None


def _meta(el) -> dict:
    """Author attributes (version timestamp changeset uid user);
    None where absent, matching hisver==0 semantics."""
    v = el.get("version")
    return {
        "version": int(v) if v else None,
        "timestamp": parse_timestamp(el.get("timestamp")),
        "changeset": (
            int(el.get("changeset")) if el.get("changeset") else None
        ),
        "uid": int(el.get("uid")) if el.get("uid") else None,
        "user": el.get("user"),
    }


def _parse(xml_text: str, with_meta: bool = False):
    import xml.etree.ElementTree as ET

    root = ET.fromstring(xml_text)
    nodes, ways, rels = [], [], []
    for el in root:
        tags = {
            t.get("k"): t.get("v") for t in el if t.tag == "tag"
        }
        meta = _meta(el) if with_meta else {}
        if el.tag == "node":
            nodes.append(
                {
                    "id": int(el.get("id")),
                    "lat_i": _fix(el.get("lat")),
                    "lon_i": _fix(el.get("lon")),
                    "tags": tags,
                    **meta,
                }
            )
        elif el.tag == "way":
            refs = [
                int(nd.get("ref")) for nd in el if nd.tag == "nd"
            ]
            ways.append(
                {"id": int(el.get("id")), "refs": refs,
                 "tags": tags, **meta}
            )
        elif el.tag == "relation":
            members = [
                {
                    "ref": int(m.get("ref")),
                    "mtype": m.get("type"),
                    "role": m.get("role") or "",
                }
                for m in el
                if m.tag == "member"
            ]
            rels.append(
                {
                    "id": int(el.get("id")),
                    "members": members,
                    "tags": tags,
                    **meta,
                }
            )
    return nodes, ways, rels


def _reader(with_meta: bool = False):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for text in b["value"]:
                parsed = _parse(text, with_meta)
                yield from decoded_frames(parsed, with_meta)

    return gen


def decode_osm_xml(
    spark: SparkSession, path: str, with_meta: bool = False
) -> DataFrame:
    """path: file, directory, or glob of .osm files -> the decoded
    frame (DECODED_SCHEMA, plus the author columns with with_meta).
    One task per file, and each file is parsed once for all three
    kinds."""
    raw = spark.read.text(path, wholetext=True)
    schema = DECODED_META_SCHEMA if with_meta else DECODED_SCHEMA
    return raw.mapInPandas(_reader(with_meta), schema)


def read_osm_xml(
    spark: SparkSession, path: str, with_meta: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """path: file, directory, or glob of .osm files. Returns
    (nodes, ways, rels) DataFrames, filters of one decoded frame:
    one task per file parses it once, shared by all three kinds.
    with_meta=True adds the author columns (version, timestamp,
    changeset, uid, user)."""
    return split_decoded(decode_osm_xml(spark, path, with_meta))


# ----------------------------------------------------------------
# .osc change files (osmChange XML): create/modify/delete sections
# ----------------------------------------------------------------

OSC_NODES_SCHEMA = (
    "id long, lat_i long, lon_i long, tags map<string,string>, "
    "deleted boolean"
)


def _parse_osc_nodes(xml_text: str):
    import xml.etree.ElementTree as ET

    root = ET.fromstring(xml_text)
    rows = []
    for section in root:
        if section.tag not in ("create", "modify", "delete"):
            continue
        deleted = section.tag == "delete"
        for el in section:
            if el.tag != "node":
                continue
            tags = {
                t.get("k"): t.get("v") for t in el if t.tag == "tag"
            }
            rows.append(
                {
                    "id": int(el.get("id")),
                    "lat_i": _fix(el.get("lat")) if el.get("lat") else None,
                    "lon_i": _fix(el.get("lon")) if el.get("lon") else None,
                    "tags": tags,
                    "deleted": deleted,
                }
            )
    return rows


def read_osc_nodes(spark: SparkSession, path: str) -> DataFrame:
    """C1 ingest: .osc change files -> node change rows with a
    tombstone flag (osmchange.c:1485-1659 semantics: create/modify
    are upserts, delete removes by id). Feed the result straight to
    operators/merge.change_apply."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for text in b["value"]:
                rows = _parse_osc_nodes(text)
                if rows:
                    yield pd.DataFrame(rows)

    raw = spark.read.text(path, wholetext=True)
    return raw.mapInPandas(gen, OSC_NODES_SCHEMA)
