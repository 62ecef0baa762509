"""S3: OSM PBF scan — blob framing, zlib inflate, dense-node delta
decoding, per-block string table (pb_ module osmconvert.c:3356-4594)
— implemented against the PUBLIC OSM PBF wire format with a minimal
hand-rolled protobuf reader (no protobuf dependency).

Wire structure:
  file   := { uint32_be len, BlobHeader[len], Blob[datasize] }*
  BlobHeader := 1:type(string) 3:datasize(varint)
  Blob       := 1:raw(bytes) | 3:zlib_data(bytes) (2:raw_size)
  OSMData blob -> PrimitiveBlock:
    1: stringtable (repeated bytes s=1)
    2: primitivegroup*
    17: granularity (default 100 nanodeg)
    19/20: lat/lon offset (nanodeg)
  PrimitiveGroup := 1:node* 2:dense 3:way* 4:relation*
  DenseNodes := 1:ids(packed sint64 delta) 8:lats 9:lons
                10:keys_vals(packed int32, 0 terminates a node)
  Way  := 1:id 2:keys(packed) 3:vals(packed)
          8:refs(packed sint64 delta)
  Relation := 1:id 2:keys 3:vals 8:roles_sid(packed)
          9:memids(packed sint64 delta) 10:types(packed 0/1/2)

Coordinates: nanodeg = offset + granularity*raw; fixed-point 1e-7
deg = nanodeg / 100 (exact for the standard granularity=100).
PBF sints use standard zigzag (unlike o5m's first-byte-sign form).

Distribution model (round-2): INTRA-file parallel. Blobs are
independent by design (each PrimitiveBlock carries its own string
table and offsets; the framing is osmconvert.c:3356-3409), so a
single planet-scale .pbf decodes across the cluster:

  1. index pass — per file, walk the framing reading ONLY the
     4-byte length + BlobHeader of each blob (seek past payloads);
     O(#blobs) tiny reads, negligible vs decode;
  2. pack consecutive blobs into byte-range splits of
     ~target_split_bytes;
  3. a range with one row per split and one partition per row
     (one split per task, no shuffle); mapInPandas looks its split
     up, opens the file, reads its range, and decodes — the same
     parse_pbf kernel, now N-way.

Each split is parsed ONCE, into one decoded frame whose `kind`
column tells nodes, ways and relations apart; the three per-kind
frames are column-pruned filters of it (sources.osmxml.
split_decoded). A caller that persists the decoded frame, as
cli.convert does, pays the Python parse once per convert.

The reference streams a planet file single-threaded; this is the
Spark-native replacement, not a translation.
"""

from __future__ import annotations

import glob as _glob
import os
import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .osmxml import (
    DECODED_META_SCHEMA,
    DECODED_SCHEMA,
    decoded_frames,
    split_decoded,
)


def _varint(b: bytes, i: int) -> tuple[int, int]:
    v = 0
    shift = 0
    while True:
        c = b[i]
        i += 1
        v |= (c & 0x7F) << shift
        if not (c & 0x80):
            return v, i
        shift += 7


def _zigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _fields(b: bytes):
    """Iterate (field_no, wire_type, value) over a protobuf
    message. value: int for varint, bytes for length-delimited."""
    i = 0
    n = len(b)
    while i < n:
        tag, i = _varint(b, i)
        fno, wt = tag >> 3, tag & 7
        if wt == 0:
            v, i = _varint(b, i)
            yield fno, wt, v
        elif wt == 2:
            ln, i = _varint(b, i)
            yield fno, wt, b[i : i + ln]
            i += ln
        elif wt == 5:
            yield fno, wt, b[i : i + 4]
            i += 4
        elif wt == 1:
            yield fno, wt, b[i : i + 8]
            i += 8
        else:
            raise ValueError(f"unsupported wire type {wt}")


def _packed_varints(b: bytes) -> list[int]:
    out = []
    i = 0
    n = len(b)
    while i < n:
        v, i = _varint(b, i)
        out.append(v)
    return out


def _delta_zig(raw: list[int]) -> list[int]:
    out = []
    acc = 0
    for v in raw:
        acc += _zigzag(v)
        out.append(acc)
    return out


def parse_pbf(
    data: bytes,
    with_meta: bool = False,
    force_granularity: int | None = None,
):
    """-> (nodes, ways, rels) row-dict lists (fixed-point coords,
    tag dicts). with_meta=True decodes DenseInfo / Info author
    fields (version, timestamp seconds, changeset, uid, user).

    force_granularity mirrors osmconvert's --pbf-granularity
    (osmconvert.c:579-582, 3567-3569): the value OVERRIDES the
    file's granularity field and lat/lon offsets are ignored —
    the reference never reads fields 17/19/20 and scales raw
    deltas by val/100 only when flagged. Default None keeps this
    reader's standards behavior (honor field 17 and offsets)."""
    nodes, ways, rels = [], [], []
    i = 0
    n = len(data)
    while i + 4 <= n:
        (hlen,) = struct.unpack(">I", data[i : i + 4])
        i += 4
        header = data[i : i + hlen]
        i += hlen
        btype = None
        dsize = 0
        for fno, _wt, v in _fields(header):
            if fno == 1:
                btype = v.decode()
            elif fno == 3:
                dsize = v
        blob = data[i : i + dsize]
        i += dsize
        raw = None
        for fno, _wt, v in _fields(blob):
            if fno == 1:
                raw = v
            elif fno == 3:
                raw = zlib.decompress(v)
        if btype != "OSMData" or raw is None:
            continue
        _parse_block(
            raw, nodes, ways, rels, with_meta,
            force_granularity=force_granularity,
        )
    return nodes, ways, rels


def _info_meta(p: bytes, strings: list[str], date_gran: int) -> dict:
    """Info submessage (OSMPBF proto: version=1, timestamp=2,
    changeset=3, uid=4, user_sid=5); 0 means absent."""
    ver = ts = cs = uid = sid = 0
    for f2, _w2, q in _fields(p):
        if f2 == 1:
            ver = q
        elif f2 == 2:
            ts = q
        elif f2 == 3:
            cs = q
        elif f2 == 4:
            uid = q
        elif f2 == 5:
            sid = q
    return {
        "version": ver or None,
        "timestamp": ts * date_gran // 1000 if ts else None,
        "changeset": cs or None,
        "uid": uid or None,
        "user": strings[sid] if sid else None,
    }


_NO_META = {
    "version": None, "timestamp": None, "changeset": None,
    "uid": None, "user": None,
}


def _parse_block(
    block: bytes,
    nodes,
    ways,
    rels,
    with_meta: bool = False,
    force_granularity: int | None = None,
) -> None:
    strings: list[str] = []
    groups = []
    gran = 100
    date_gran = 1000
    lat_off = 0
    lon_off = 0
    for fno, _wt, v in _fields(block):
        if fno == 1:
            for f2, _w2, s in _fields(v):
                if f2 == 1:
                    strings.append(s.decode("utf-8", "replace"))
        elif fno == 2:
            groups.append(v)
        elif fno == 17:
            gran = v
        elif fno == 18:
            date_gran = v
        elif fno == 19:
            lat_off = v
        elif fno == 20:
            lon_off = v
    if force_granularity is not None:
        # reference parity under --pbf-granularity: the flag value
        # wins and offsets are ignored (osmconvert reads neither)
        gran = int(force_granularity)
        lat_off = 0
        lon_off = 0

    def coord(off: int, raw: int) -> int:
        # nanodeg -> 100-nanodeg fixed point (C int division)
        nano = off + gran * raw
        q = abs(nano) // 100
        return q if nano >= 0 else -q

    for g in groups:
        for fno, _wt, v in _fields(g):
            if fno == 2:  # dense nodes
                ids = lats = lons = kv = None
                di_ver = di_ts = di_cs = di_uid = di_sid = None
                for f2, _w2, p in _fields(v):
                    if f2 == 1:
                        ids = _delta_zig(_packed_varints(p))
                    elif f2 == 5 and with_meta:  # DenseInfo
                        for f3, _w3, q in _fields(p):
                            if f3 == 1:
                                di_ver = _packed_varints(q)
                            elif f3 == 2:
                                di_ts = _delta_zig(
                                    _packed_varints(q)
                                )
                            elif f3 == 3:
                                di_cs = _delta_zig(
                                    _packed_varints(q)
                                )
                            elif f3 == 4:
                                di_uid = _delta_zig(
                                    _packed_varints(q)
                                )
                            elif f3 == 5:
                                di_sid = _delta_zig(
                                    _packed_varints(q)
                                )
                    elif f2 == 8:
                        lats = _delta_zig(_packed_varints(p))
                    elif f2 == 9:
                        lons = _delta_zig(_packed_varints(p))
                    elif f2 == 10:
                        kv = _packed_varints(p)
                kvi = 0
                for k in range(len(ids or [])):
                    tags = {}
                    while kv and kvi < len(kv) and kv[kvi] != 0:
                        tags[strings[kv[kvi]]] = strings[kv[kvi + 1]]
                        kvi += 2
                    kvi += 1  # skip the 0 terminator
                    meta = {}
                    if with_meta:
                        meta = dict(_NO_META)
                        if di_ver and di_ver[k]:
                            meta["version"] = di_ver[k]
                            if di_ts and di_ts[k]:
                                meta["timestamp"] = (
                                    di_ts[k] * date_gran // 1000
                                )
                            if di_cs and di_cs[k]:
                                meta["changeset"] = di_cs[k]
                            if di_uid and di_uid[k]:
                                meta["uid"] = di_uid[k]
                            if di_sid and di_sid[k]:
                                meta["user"] = strings[di_sid[k]]
                    nodes.append(
                        {
                            "id": ids[k],
                            "lat_i": coord(lat_off, lats[k]),
                            "lon_i": coord(lon_off, lons[k]),
                            "tags": tags,
                            **meta,
                        }
                    )
            elif fno == 1:  # plain (non-dense) node
                nid = 0
                lat = lon = 0
                keys = vals = []
                for f2, _w2, p in _fields(v):
                    if f2 == 1:
                        nid = p
                    elif f2 == 2:
                        keys = _packed_varints(p)
                    elif f2 == 3:
                        vals = _packed_varints(p)
                    elif f2 == 8:
                        lat = _zigzag(p)
                    elif f2 == 9:
                        lon = _zigzag(p)
                nodes.append(
                    {
                        "id": nid,
                        "lat_i": coord(lat_off, lat),
                        "lon_i": coord(lon_off, lon),
                        "tags": {
                            strings[k]: strings[w]
                            for k, w in zip(keys, vals)
                        },
                    }
                )
            elif fno == 3:  # way
                wid = 0
                keys = vals = refs = []
                meta = dict(_NO_META) if with_meta else {}
                for f2, _w2, p in _fields(v):
                    if f2 == 1:
                        wid = p
                    elif f2 == 2:
                        keys = _packed_varints(p)
                    elif f2 == 3:
                        vals = _packed_varints(p)
                    elif f2 == 4 and with_meta:
                        meta = _info_meta(p, strings, date_gran)
                    elif f2 == 8:
                        refs = _delta_zig(_packed_varints(p))
                ways.append(
                    {
                        "id": wid,
                        "refs": refs,
                        "tags": {
                            strings[k]: strings[w]
                            for k, w in zip(keys, vals)
                        },
                        **meta,
                    }
                )
            elif fno == 4:  # relation
                rid = 0
                keys = vals = roles = memids = types = []
                meta = dict(_NO_META) if with_meta else {}
                for f2, _w2, p in _fields(v):
                    if f2 == 1:
                        rid = p
                    elif f2 == 2:
                        keys = _packed_varints(p)
                    elif f2 == 3:
                        vals = _packed_varints(p)
                    elif f2 == 4 and with_meta:
                        meta = _info_meta(p, strings, date_gran)
                    elif f2 == 8:
                        roles = _packed_varints(p)
                    elif f2 == 9:
                        memids = _delta_zig(_packed_varints(p))
                    elif f2 == 10:
                        types = _packed_varints(p)
                rels.append(
                    {
                        "id": rid,
                        "members": [
                            {
                                "ref": memids[k],
                                "mtype": ("node", "way", "relation")[
                                    types[k]
                                ],
                                "role": strings[roles[k]],
                            }
                            for k in range(len(memids))
                        ],
                        "tags": {
                            strings[k]: strings[w]
                            for k, w in zip(keys, vals)
                        },
                        **meta,
                    }
                )


def index_blobs(path: str) -> list[tuple[int, int, str]]:
    """Framing index of one .pbf: [(offset, end, blob_type)].

    Reads only the 4-byte length prefix and the (tiny) BlobHeader of
    each blob, then seeks past the payload — O(#blobs) small reads,
    no decompression. This is what makes intra-file parallelism
    cheap: a planet file's index is a few thousand entries."""
    out = []
    with open(path, "rb") as f:
        size = os.fstat(f.fileno()).st_size
        pos = 0
        while pos + 4 <= size:
            hlen = struct.unpack(">I", f.read(4))[0]
            header = f.read(hlen)
            btype = ""
            dsize = 0
            for fno, _wt, v in _fields(header):
                if fno == 1:
                    btype = v.decode()
                elif fno == 3:
                    dsize = v
            end = pos + 4 + hlen + dsize
            out.append((pos, end, btype))
            f.seek(end)
            pos = end
    return out


def plan_splits(
    paths: list[str], target_split_bytes: int
) -> list[tuple[str, int, int]]:
    """Pack each file's consecutive OSMData blobs into byte-range
    splits of ~target_split_bytes: [(path, start, end)]. Ranges
    always fall on blob boundaries; non-data blobs (OSMHeader) are
    skipped by the parser, so ranges may include them."""
    splits = []
    for p in paths:
        start = None
        acc = 0
        for off, end, btype in index_blobs(p):
            if btype != "OSMData":
                continue
            if start is None:
                start = off
            acc = end - start
            if acc >= target_split_bytes:
                splits.append((p, start, end))
                start = None
        if start is not None:
            splits.append((p, start, acc + start))
    return splits


def _expand(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if not f.startswith(".")
        )
    if any(c in path for c in "*?["):
        return sorted(_glob.glob(path))
    return [path]


def _range_reader(
    splits: list[tuple[str, int, int]],
    with_meta: bool = False,
    force_granularity: int | None = None,
):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for i in b["id"]:
                path, start, end = splits[i]
                with open(path, "rb") as f:
                    f.seek(start)
                    data = f.read(end - start)
                parsed = parse_pbf(
                    data, with_meta,
                    force_granularity=force_granularity,
                )
                yield from decoded_frames(parsed, with_meta)

    return gen


def decode_pbf(
    spark: SparkSession,
    path: str,
    target_split_bytes: int = 32 * 1024 * 1024,
    with_meta: bool = False,
    force_granularity: int | None = None,
) -> DataFrame:
    """path: file/dir/glob of .pbf files -> the decoded frame
    (sources.osmxml.DECODED_SCHEMA, plus the author columns with
    with_meta). Parallelism is per blob-range split (intra-file),
    not per file: one planet.pbf fans out to
    ceil(size/target_split_bytes) tasks, each parsing its range
    once.

    Executors open the file path directly (local/NFS semantics, the
    same contract local[n] gives every source here); a cluster
    deployment points `path` at a shared filesystem."""
    paths = _expand(path)
    splits = plan_splits(paths, target_split_bytes)
    if not splits:
        splits = [(p, 0, 0) for p in paths]
    # split i is row i of a range with one row per partition: one
    # split per task without a shuffle
    schema = DECODED_META_SCHEMA if with_meta else DECODED_SCHEMA
    return spark.range(
        len(splits), numPartitions=len(splits)
    ).mapInPandas(
        _range_reader(splits, with_meta, force_granularity), schema
    )


def read_pbf(
    spark: SparkSession,
    path: str,
    target_split_bytes: int = 32 * 1024 * 1024,
    with_meta: bool = False,
    force_granularity: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(nodes, ways, rels) of .pbf files: filters of decode_pbf's
    one decoded frame, so each split is parsed once per action for
    all three kinds."""
    return split_decoded(
        decode_pbf(
            spark, path, target_split_bytes, with_meta,
            force_granularity,
        )
    )
