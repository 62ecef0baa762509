"""Distributed wire-format sink.

Two paths, mirroring how Parquet sinks behave:

- write_wire_dir: the scale path. Each type's DataFrame is
  range-partitioned on id and sorted within partitions, then every
  partition encodes ONE standalone wire file (executor-side, no
  driver traffic) — the distributed analogue of Parquet part files.
  All three readers (and osmconvert itself) accept a directory of
  such parts. Returns the collected manifest (path, rows per part);
  the manifest collect is one tiny row per part, not data.

- write_wire_single: one complete, globally id-ordered file. Also
  parallel: body chunks are encoded on the EXECUTORS and the driver
  only streams header + chunks + footer, so its memory is O(1
  chunk) and its CPU is I/O-bound. Concatenation is format-legal
  for every format (o5m resets state at 0xff, PBF blobs are
  independent, XML objects are self-contained), but only XML
  chunks concatenate byte-identically to a serial render. o5m and
  PBF decode to the same objects, while their bytes depend on
  where the chunks break: each chunk opens with an o5m reset or a
  new PBF blob. repartitionByRange's sampler picks those
  boundaries, and once a partition holds more rows than its
  reservoir they vary with the session's history (the sample is
  seeded with the RDD id).

Both paths range-partition each kind on its own and then encode all
three kinds in ONE action: the union of the kinds' sorted range
partitions, coalesced to at most one task per core, feeds one
Python encode stage, instead of three serial per-kind jobs of
`parts` tasks each.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from functools import partial, reduce

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .o5m import encode_o5m
from .osmxml import encode_osm_xml
from .pbf import encode_pbf

_EXT = {"o5m": "o5m", "osm": "osm", "pbf": "pbf"}


def _encode(fmt: str, nodes, ways, rels) -> bytes:
    if fmt == "o5m":
        return encode_o5m(nodes, ways, rels)
    if fmt == "osm":
        return encode_osm_xml(nodes, ways, rels).encode("utf-8")
    if fmt == "pbf":
        return encode_pbf(nodes, ways, rels)
    raise ValueError(f"unknown wire format {fmt!r}")


_NULLABLE_INT = (
    "lat_i", "lon_i", "version", "timestamp", "changeset", "uid"
)


def _rows(pdf: pd.DataFrame) -> list[dict]:
    recs = pdf.to_dict("records")
    for r in recs:
        t = r.get("tags")
        if t is not None and not isinstance(t, dict):
            r["tags"] = dict(t)
        if "members" in r and r["members"] is not None:
            r["members"] = [dict(m) for m in r["members"]]
        if "refs" in r and r["refs"] is not None:
            r["refs"] = list(r["refs"])
        # pandas turns int columns holding nulls (author fields, and
        # coordinates in a batch shared with ways or relations) into
        # float NaN, which is truthy — normalize back to None / int
        for c in _NULLABLE_INT:
            if c in r:
                v = r[c]
                r[c] = None if pd.isna(v) else int(v)
        if "user" in r and pd.isna(r.get("user")):
            r["user"] = None
    return recs


def _writer(encode, name: str, columns: dict[str, list[str]]):
    """mapInPandas body over the kinds' range partitions: each run
    of rows with one (`_kind`, `_part`) is one chunk, encoded with
    encode(nodes, ways, rels) -> bytes from the kind's own `columns`,
    written to name.format(kind=, part=), and reported as one
    manifest row. `_part` is the kind's own range-partition index,
    carried in the data because TaskContext's partition id numbers
    the partitions of all kinds together."""

    def write(kind: str, part: int, rows: list[dict]) -> pd.DataFrame:
        args = {"nodes": [], "ways": [], "rels": []}
        args[kind] = rows
        path = name.format(kind=kind, part=int(part))
        with open(path, "wb") as f:
            f.write(encode(args["nodes"], args["ways"], args["rels"]))
        return pd.DataFrame(
            [{"path": path, "kind": kind, "n_rows": len(rows)}]
        )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        key, rows = None, []
        for b in batches:
            for k, g in b.groupby(["_kind", "_part"], sort=False):
                if k != key:
                    if rows:
                        yield write(*key, rows)
                    key, rows = k, []
                rows.extend(_rows(g[columns[k[0]]]))
        if rows:
            yield write(*key, rows)

    return gen


def _write_kinds(frames, parts: int, encode, name: str) -> list[dict]:
    """Encode each kind's frame in `parts` id ranges and collect the
    manifest rows of all kinds in ONE action. Each kind keeps its own
    repartitionByRange, so its chunk boundaries do not depend on the
    other kinds' rows; they still come from the range sampler, so
    for o5m and PBF the bytes are not reproducible across sessions
    (see the module docstring). The union of the kinds' sorted range
    partitions is coalesced to at most one task per core (a Python
    task has a fixed cost, ~0.25 CPU-s on a 4-core host even when it
    is empty); a coalesced task reads whole partitions one after
    another, so each chunk still reaches one task as one contiguous
    run. Returns the manifest rows kind by kind, each kind in range
    order."""
    kinds = [
        (kind, df)
        for kind, df in zip(("nodes", "ways", "rels"), frames)
        if df is not None
    ]
    if not kinds:
        return []
    ranged = [
        df.repartitionByRange(parts, "id")
        .sortWithinPartitions("id")
        .select(
            "*",
            F.lit(kind).alias("_kind"),
            F.spark_partition_id().alias("_part"),
        )
        for kind, df in kinds
    ]
    union = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), ranged
    )
    cores = union.sparkSession.sparkContext.defaultParallelism
    out = union.coalesce(min(parts * len(kinds), cores)).mapInPandas(
        _writer(encode, name, {kind: df.columns for kind, df in kinds}),
        "path string, kind string, n_rows long",
    )
    # coalescing mixes the kinds' partitions: restore kind order, then
    # range order (the zero-padded range index in the file name)
    order = {kind: k for k, (kind, _df) in enumerate(kinds)}
    return sorted(
        (r.asDict() for r in out.collect()),
        key=lambda r: (order[r["kind"]], r["path"]),
    )


def write_wire_dir(
    nodes: DataFrame,
    ways: DataFrame,
    rels: DataFrame,
    out_dir: str,
    fmt: str = "o5m",
    parts: int = 8,
) -> list[dict]:
    """Write (nodes, ways, rels) as a directory of standalone wire
    part files; returns the manifest rows. Range partitioning keeps
    each part id-sorted AND the id ranges disjoint, so any part is
    a valid extract on its own."""
    os.makedirs(out_dir, exist_ok=True)
    return _write_kinds(
        (nodes, ways, rels),
        parts,
        partial(_encode, fmt),
        os.path.join(out_dir, "part-{kind}-{part:05d}." + _EXT[fmt]),
    )


def _iter_rows(df: DataFrame) -> list[dict]:
    """Ordered row dicts via Arrow. The Row/collect path must NOT
    be used here: JVM-side Map -> Row conversion does not preserve
    tag insertion order (scala Map iteration), while the Arrow path
    carries map entries in stored order — which the wire formats
    expose (tag order is part of the reference's byte output)."""
    rows = df.orderBy("id").toArrow().to_pylist()
    for r in rows:
        t = r.get("tags")
        if t is not None and not isinstance(t, dict):
            r["tags"] = dict(t)
    return rows


def _encode_body(fmt: str, nodes, ways, rels) -> bytes:
    from .o5m import encode_o5m_body
    from .osmxml import encode_osm_xml_body
    from .pbf import encode_pbf_body

    if fmt == "o5m":
        # 0xff reset makes each chunk's fresh delta/string-table
        # state legal at any concatenation point
        return b"\xff" + encode_o5m_body(nodes, ways, rels)
    if fmt in ("osm", "osh", "osh-fakell"):
        body = encode_osm_xml_body(
            nodes,
            ways,
            rels,
            osh=fmt.startswith("osh"),
            fake_lonlat=fmt.endswith("-fakell"),
        )
        return (body + "\n").encode("utf-8") if body else b""
    if fmt == "pbf":
        return encode_pbf_body(nodes, ways, rels)
    raise ValueError(f"unknown wire format {fmt!r}")


_XML_HEADER = (
    "<?xml version='1.0' encoding='UTF-8'?>\n"
    '<osm version="0.6" generator="osmgraft">\n'
).encode("utf-8")
_HEADERS = {
    # trailing 0xff keeps zero-chunk (empty) files well-formed;
    # chunk-leading 0xff resets are idempotent after it
    "o5m": b"\xff\xe0\x04o5m2\xff",
    "osm": _XML_HEADER,
    "osh": _XML_HEADER,
    "osh-fakell": _XML_HEADER,
}
_FOOTERS = {
    "o5m": b"\xfe",
    "osm": b"</osm>\n",
    "osh": b"</osm>\n",
    "osh-fakell": b"</osm>\n",
    "pbf": b"",
}


def _pbf_header() -> bytes:
    from .pbf import _blob, _field_bytes

    out = bytearray()
    hdr = bytearray()
    _field_bytes(hdr, 4, b"OsmSchema-V0.6")
    _field_bytes(hdr, 4, b"DenseNodes")
    _blob(out, "OSMHeader", bytes(hdr))
    return bytes(out)


def write_wire_single(
    nodes: DataFrame,
    ways: DataFrame,
    rels: DataFrame,
    path: str,
    fmt: str = "o5m",
    dialect: str | None = None,
    parts: int = 8,
    file_timestamp: int | None = None,
) -> None:
    """One complete wire file, globally id-ordered.

    Parallel by default: each type's DataFrame is range-partitioned
    on id and encoded to standalone body chunks ON THE EXECUTORS
    (>1 encode task per file — the round-2 serial-driver-encode
    bottleneck is gone); the driver only streams header + chunks +
    footer into the output file. Chunk concatenation is format-
    legal: o5m resets state at 0xff (each chunk leads with one),
    PBF blobs are independent, XML objects are self-contained. Only
    XML is byte-identical to the serial render; o5m and PBF decode
    to the same objects, but their bytes follow the sampled chunk
    boundaries (see the module docstring).

    dialect (XML emulation variants) still uses the serial driver
    encoder — dialect files exist for byte-diff differentials on
    small extracts, not scale."""
    if dialect is not None:
        from .osmxml import encode_osm_xml

        data = encode_osm_xml(
            _iter_rows(nodes) if nodes is not None else [],
            _iter_rows(ways) if ways is not None else [],
            _iter_rows(rels) if rels is not None else [],
            dialect=dialect,
        ).encode("utf-8")
        with open(path, "wb") as f:
            f.write(data)
        return

    import shutil
    import tempfile

    tmp_dir = tempfile.mkdtemp(
        prefix=os.path.basename(path) + ".parts-",
        dir=os.path.dirname(os.path.abspath(path)) or ".",
    )
    try:
        chunks = _write_kinds(
            (nodes, ways, rels),
            parts,
            partial(_encode_body, fmt),
            os.path.join(tmp_dir, "chunk-{kind}-{part:05d}.bin"),
        )
        header = _pbf_header() if fmt == "pbf" else _HEADERS[fmt]
        if file_timestamp is not None and fmt == "o5m":
            # --timestamp=: the 0xdc timestamp dataset sits BETWEEN
            # the header record and the 0xff reset (reference
            # layout, byte-checked) — splice it in
            from .o5m import _sv, _uv

            body = bytearray()
            _sv(body, int(file_timestamp))
            rec = bytearray(b"\xdc")
            _uv(rec, len(body))
            rec.extend(body)
            assert header.endswith(b"\xff")
            header = header[:-1] + bytes(rec) + b"\xff"
        elif file_timestamp is not None and fmt in (
            "osm", "osh", "osh-fakell"
        ):
            import datetime as _dt

            iso = _dt.datetime.fromtimestamp(
                file_timestamp, _dt.timezone.utc
            ).strftime("%Y-%m-%dT%H:%M:%SZ")
            header = header.replace(
                b'generator="osmgraft">',
                b'generator="osmgraft" timestamp="%s">'
                % iso.encode(),
            )
        with open(path, "wb") as f:
            f.write(header)
            for chunk in chunks:
                with open(chunk["path"], "rb") as c:
                    shutil.copyfileobj(c, f)
            f.write(_FOOTERS[fmt])
    finally:
        shutil.rmtree(tmp_dir, ignore_errors=True)
