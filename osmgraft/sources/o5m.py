"""S2: .o5m binary scan — varint + delta + sliding-string-table
decoder producing nodes/ways/relations DataFrames.

Format decoded exactly as the reference reads it
(osmconvert.c:10712-11040 framing/body, pbf_sint64 8016 region,
str_read 8103-8177):

  framing:  0xff reset (deltas + string table), 0xfe EOF,
            0xe0/0xdb/0xdc skip-by-length (header/bbox/timestamp),
            0x10/0x11/0x12 node/way/relation datasets with a uint32
            byte length
  varints:  uint = LEB128; signed = sign in bit 0 of the FIRST byte,
            magnitude from the remaining bits, negative -> -1-value
  body:     delta-coded id; uint32 version, then (if != 0) delta
            timestamp, (if != 0) delta changeset + (user,uid)
            string-pair; empty remainder = delete request (tombstone)
  node:     delta lon (sint32), delta lat, then tag string pairs
  way:      uint32 ref-section length, delta sint64 node refs
  relation: uint32 length; per member: delta ref (per-TYPE running
            value), single string '<type-digit><role>'
  strings:  inline pairs (0x00 k 0x00 v 0x00) enter a 15000+4000-row
            sliding table when <= 250 chars total; references count
            back from the insertion cursor

Distribution model mirrors sources/osmxml.py: one task per file
(spark.read.format('binaryFile') + mapInPandas), which is how
multi-extract ingestion parallelizes; planet-scale conversion is a
one-off offline step. Each file is parsed once into one decoded
frame that nodes, ways and relations all filter.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .osmxml import (
    DECODED_META_SCHEMA,
    DECODED_SCHEMA,
    decoded_frames,
    split_decoded,
)

_TAB_M = 15000 + 4000
_TAB_STR_M = 250


class _Buf:
    __slots__ = ("b", "i")

    def __init__(self, b: bytes):
        self.b = b
        self.i = 0

    def u8(self) -> int:
        v = self.b[self.i]
        self.i += 1
        return v

    def uint(self) -> int:
        i = self.i
        b = self.b
        v = 0
        shift = 0
        while True:
            c = b[i]
            i += 1
            v |= (c & 0x7F) << shift
            if not (c & 0x80):
                break
            shift += 7
        self.i = i
        return v

    def sint(self) -> int:
        """Reference signed varint: sign bit is bit 0 of the FIRST
        byte only (pbf_sint64)."""
        i = self.i
        b = self.b
        first = b[i]
        i += 1
        sig = first & 1
        v = (first & 0x7E) >> 1
        if first & 0x80:
            fac = 0x40
            while True:
                c = b[i]
                i += 1
                v += (c & 0x7F) * fac
                if not (c & 0x80):
                    break
                fac <<= 7
        self.i = i
        return -1 - v if sig else v


class _StrTab:
    def __init__(self):
        self.tab = [None] * _TAB_M
        self.tabi = 0
        self.tabn = 0

    def reset(self):
        self.tabi = 0
        self.tabn = 0

    def store(self, pair):
        self.tab[self.tabi] = pair
        self.tabi = (self.tabi + 1) % _TAB_M
        if self.tabn < _TAB_M:
            self.tabn += 1

    def ref(self, r: int):
        if r > self.tabn:
            return ("(invalid)", "(invalid)", b"")
        i = self.tabi - r
        if i < 0:
            i += _TAB_M
        return self.tab[i]


def _read_str_pair(buf: _Buf, tab: _StrTab, single: bool):
    """Entries are (s1, s2, raw1): raw1 keeps the first string's
    bytes so author pairs (LEB128 uid + user, osmconvert.c
    wo__author) can be decoded losslessly even through
    back-references."""
    b = buf.b
    if b[buf.i] == 0:
        buf.i += 1
        e1 = b.index(0, buf.i)
        raw1 = b[buf.i : e1]
        buf.i = e1 + 1
        s1 = raw1.decode("utf-8", "replace")
        if single:
            if len(raw1) <= _TAB_STR_M:
                tab.store((s1, "", raw1))
            return s1, None, raw1
        e2 = b.index(0, buf.i)
        raw2 = b[buf.i : e2]
        buf.i = e2 + 1
        s2 = raw2.decode("utf-8", "replace")
        if len(raw1) + len(raw2) <= _TAB_STR_M:
            tab.store((s1, s2, raw1))
        return s1, s2, raw1
    r = buf.uint()
    s1, s2, raw1 = tab.ref(r)
    return (s1, None, raw1) if single else (s1, s2, raw1)


def _leb128(raw: bytes) -> int:
    v = 0
    shift = 0
    for c in raw:
        v |= (c & 0x7F) << shift
        if not (c & 0x80):
            break
        shift += 7
    return v


def parse_o5m(data: bytes, with_meta: bool = False):
    """-> (nodes, ways, rels) row-dict lists. Tombstone delete
    requests carry tags=None. with_meta=True adds version /
    timestamp / changeset / uid / user keys (None where the file
    carries none — hisver==0)."""
    nodes, ways, rels = [], [], []
    buf = _Buf(data)
    tab = _StrTab()
    o5id = o5lat = o5lon = o5histime = o5hiscset = 0
    o5rid = [0, 0, 0]
    n = len(data)
    while buf.i < n:
        b = data[buf.i]
        if 0x10 <= b <= 0x12:
            otype = b & 3
            buf.i += 1
            ln = buf.uint()
            end = buf.i + ln
            o5id += buf.sint()
            ver = buf.uint()
            uid = user = None
            histime = hiscset = None
            if ver != 0:
                o5histime += buf.sint()
                if o5histime != 0:
                    histime = o5histime
                    o5hiscset += buf.sint()
                    hiscset = o5hiscset
                    _s1, user, rawuid = _read_str_pair(
                        buf, tab, False
                    )
                    uid = _leb128(rawuid) if rawuid else 0
                    if uid == 0:
                        uid = None
                    if user == "":
                        user = None
            meta = (
                {
                    "version": ver if ver != 0 else None,
                    "timestamp": histime,
                    "changeset": hiscset,
                    "uid": uid,
                    "user": user,
                }
                if with_meta
                else {}
            )
            if buf.i >= end:
                # delete request — surfaced as tags=None tombstone
                if otype == 0:
                    nodes.append(
                        {"id": o5id, "lat_i": None, "lon_i": None,
                         "tags": None, **meta}
                    )
                elif otype == 1:
                    ways.append(
                        {"id": o5id, "refs": [], "tags": None,
                         **meta}
                    )
                else:
                    rels.append(
                        {"id": o5id, "members": [], "tags": None,
                         **meta}
                    )
                continue
            if otype == 0:
                o5lon += buf.sint()
                o5lat += buf.sint()
            refs = []
            members = []
            if otype == 1:
                rl = buf.uint()
                rend = min(buf.i + rl, end)
                while buf.i < rend:
                    o5rid[0] += buf.sint()
                    refs.append(o5rid[0])
            elif otype == 2:
                rl = buf.uint()
                rend = min(buf.i + rl, end)
                while buf.i < rend:
                    ri = buf.sint()
                    rr, _s2, _raw = _read_str_pair(buf, tab, True)
                    rt = (ord(rr[0]) - ord("0")) % 3 if rr else 0
                    o5rid[rt] += ri
                    members.append(
                        {
                            "ref": o5rid[rt],
                            "mtype": ("node", "way", "relation")[rt],
                            "role": rr[1:],
                        }
                    )
            tags = {}
            while buf.i < end:
                k, v, _raw = _read_str_pair(buf, tab, False)
                tags[k] = v
            if otype == 0:
                nodes.append(
                    {"id": o5id, "lat_i": o5lat, "lon_i": o5lon,
                     "tags": tags, **meta}
                )
            elif otype == 1:
                ways.append(
                    {"id": o5id, "refs": refs, "tags": tags, **meta}
                )
            else:
                rels.append(
                    {"id": o5id, "members": members, "tags": tags,
                     **meta}
                )
        elif b == 0xFF:
            buf.i += 1
            o5id = o5lat = o5lon = o5histime = o5hiscset = 0
            o5rid = [0, 0, 0]
            tab.reset()
        elif b == 0xFE:
            break
        else:
            buf.i += 1
            ln = buf.uint()
            buf.i += ln
    return nodes, ways, rels


def _reader(with_meta: bool = False):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for data in b["content"]:
                parsed = parse_o5m(bytes(data), with_meta)
                yield from decoded_frames(parsed, with_meta)

    return gen


def decode_o5m(
    spark: SparkSession, path: str, with_meta: bool = False
) -> DataFrame:
    """path: file/dir/glob of .o5m files -> the decoded frame
    (sources.osmxml.DECODED_SCHEMA, plus the author columns with
    with_meta). One task per file, each file parsed once."""
    raw = spark.read.format("binaryFile").load(path).select("content")
    schema = DECODED_META_SCHEMA if with_meta else DECODED_SCHEMA
    return raw.mapInPandas(_reader(with_meta), schema)


def read_o5m(
    spark: SparkSession, path: str, with_meta: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """path: file/dir/glob of .o5m files; one task per file parses
    it once, and (nodes, ways, rels) are filters of that one decoded
    frame. with_meta=True adds the author columns."""
    return split_decoded(decode_o5m(spark, path, with_meta))


def _find_dataset(data: bytes, code: int) -> _Buf | None:
    """Scan the framing for the first dataset with byte `code`
    (0xdc timestamp / 0xdb border box) and return a _Buf positioned
    at its body; None if absent before the first object."""
    buf = _Buf(data)
    n = len(data)
    while buf.i < n:
        b = data[buf.i]
        if b == 0xFF:
            buf.i += 1
            continue
        if b == 0xFE or 0x10 <= b <= 0x12:
            return None  # objects begin; header datasets are over
        buf.i += 1
        ln = buf.uint()
        if b == code:
            return buf
        buf.i += ln
    return None


def o5m_file_timestamp(data: bytes) -> int | None:
    """K8 timestamp probe: the 0xdc dataset's sint64 unix seconds
    (what `osmconvert --out-timestamp` prints;
    osmconvert.c:8357-8362 writer, 9603-9612 reader)."""
    buf = _find_dataset(data, 0xDC)
    return None if buf is None else buf.sint()


def o5m_bbox(data: bytes) -> tuple[int, int, int, int] | None:
    """The 0xdb border-box dataset: (x1, y1, x2, y2) fixed-point."""
    buf = _find_dataset(data, 0xDB)
    if buf is None:
        return None
    return (buf.sint(), buf.sint(), buf.sint(), buf.sint())
