"""S5: format sniffing — one entry point over all three readers.

Reimplements oo__getformat's magic-byte dispatch
(osmconvert.c:9882-9950) against the documented rules:

  - UTF-8 BOM before '<' is skipped;
  - 00 00 00 <len 9..19>      -> .pbf (BlobHeader length prefix);
  - "<?xml" / "<osm"          -> .osm XML;
  - ff e0 04 "o5m2"/"o5c2"    -> .o5m / .o5c;
  - ff <0x10..0x12> (and the shortened-header variants)
                              -> headerless .o5m;
  - 1f 8b (gzip)              -> decompressed .osm.gz handled by
                                 the XML reader (S4), sniffed here
                                 by suffix semantics the reference
                                 delegates to zcat.

Unlike the reference (which rejects >1 pbf input — its pb_ module
is single-client), every format fans out across files AND, for
pbf, across blob ranges within a file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .o5m import decode_o5m
from .osmxml import decode_osm_xml, split_decoded
from .pbf import _expand, decode_pbf


def sniff_format(path: str) -> str:
    """'pbf' | 'xml' | 'o5m' | 'xml-gz' for one concrete file."""
    with open(path, "rb") as f:
        head = f.read(8)
    if len(head) < 2:
        raise ValueError(f"file empty: {path}")
    if head[:3] == b"\xef\xbb\xbf":  # UTF-8 BOM
        head = head[3:]
    if head[:2] == b"\x1f\x8b":
        return "xml-gz"
    if (
        len(head) >= 4
        and head[0] == 0 and head[1] == 0 and head[2] == 0
        and 8 < head[3] < 20
    ):
        return "pbf"
    if head.startswith(b"<?xml") or head.startswith(b"<osm"):
        return "xml"
    if head[0] == 0xFF and (
        head[1:7] in (b"\xe0\x04o5m2", b"\xe0\x04o5c2")
        or 0x10 <= head[1] <= 0x12
        or (head[1] == 0xFF and 0x10 <= head[2] <= 0x12)
        or len(head) == 1
    ):
        return "o5m"
    raise ValueError(f"unknown file format: {path}")


def decode_osm_auto(
    spark: SparkSession,
    path: str,
    with_meta: bool = False,
    pbf_granularity: int | None = None,
) -> DataFrame:
    """path: file/dir/glob of OSM files in any supported format
    (all expanded files must share one format, like the reference's
    per-file dispatch) -> that format's decoded frame
    (sources.osmxml.DECODED_SCHEMA); with_meta=True adds the author
    columns (version, timestamp, changeset, uid, user)."""
    files = _expand(path)
    if not files:
        raise FileNotFoundError(path)
    fmt = sniff_format(files[0])
    for f in files[1:]:
        other = sniff_format(f)
        if other != fmt:
            raise ValueError(
                f"mixed formats under {path}: {fmt} vs {other} ({f})"
            )
    if fmt == "pbf":
        return decode_pbf(
            spark, path, with_meta=with_meta,
            force_granularity=pbf_granularity,
        )
    if fmt == "o5m":
        return decode_o5m(spark, path, with_meta=with_meta)
    return decode_osm_xml(spark, path, with_meta=with_meta)


def read_osm_auto(
    spark: SparkSession,
    path: str,
    with_meta: bool = False,
    pbf_granularity: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(nodes, ways, rels) of decode_osm_auto's frame, each a
    column-pruned filter of it."""
    return split_decoded(
        decode_osm_auto(spark, path, with_meta, pbf_granularity)
    )
