"""Distributed wire-format sink.

Two paths, mirroring how Parquet sinks behave:

- write_wire_dir: the scale path. Each type's rows are cut into id
  chunks, sorted by id, and every chunk encodes ONE standalone wire
  file (executor-side, no driver traffic) — the distributed analogue
  of Parquet part files. All three readers (and osmconvert itself)
  accept a directory of such parts. Returns the collected manifest
  (path, rows per part); the manifest collect is one tiny row per
  part, not data.

- write_wire_single: one complete, globally id-ordered file. Also
  parallel: body chunks are encoded on the EXECUTORS and the driver
  only streams header + chunks + footer, so its memory is O(1
  chunk) and its CPU is I/O-bound. Concatenation is format-legal
  for every format (o5m resets state at 0xff, PBF blobs are
  independent, XML objects are self-contained). XML chunks
  concatenate byte-identically to a serial render; o5m and PBF
  bytes depend on where the chunks break, since each chunk opens
  with an o5m reset or a new PBF blob.

Chunk boundaries are a pure function of the rows written, so the
same rows give the same bytes whatever the session ran before, the
input's partitioning or the number of cores. (Rows of one kind that
share an id, such as versions in a history file, are sorted on id
alone and keep no defined order among themselves.) A kind of n rows gets
ceil(n / CHUNK_ROWS) chunks (or `parts`, when the caller asks for a
number). A kind of one chunk is sorted and encoded in one task, with
no shuffle and no statistic. Otherwise the boundaries come from an
exact, order-independent statistic, the row count per id bucket
(_bucket), and the rows shuffle on their computed chunk. The
statistic costs one aggregate action, unless the caller's row
bounds already show that every kind fits one chunk.

Both paths encode all three kinds in ONE action: the union of the
kinds' sorted chunks feeds one Python encode stage, instead of three
serial per-kind jobs.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from functools import partial, reduce

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

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


# rows per chunk of one kind: a chunk is one Python encode task and
# one o5m reset or run of PBF blobs (4 blocks of encode_pbf_body's
# 8000 objects), so the chunks of a kind depend on its rows alone
CHUNK_ROWS = 32_000
# significant bits of an id that name its bucket in the statistic:
# ids below 2^12 are their own bucket, a larger id shares its bucket
# with the 2^(bit length - 12) ids of the same leading bits
_BUCKET_BITS = 12


def _bucket(id_col: Column) -> Column:
    """The id's statistic bucket, order-preserving and needing no
    min/max: the id with all but its leading _BUCKET_BITS significant
    bits cleared. A negative id is bucketed as its complement ~id
    (>= 0) and complemented back, so negative buckets sort below the
    others in id order. A null id falls in the lowest bucket."""
    neg = id_col < 0
    x = F.when(neg, F.bitwise_not(id_col)).otherwise(id_col)
    shift = F.greatest(F.length(F.bin(x)) - _BUCKET_BITS, F.lit(0))
    # the Python shift helpers take a constant shift; SQL's take a column
    top = F.call_function(
        "shiftleft", F.call_function("shiftright", x, shift), shift
    )
    return F.coalesce(
        F.when(neg, F.bitwise_not(top)).otherwise(top),
        F.lit(-(1 << 63)),
    )


def _union(frames: list[DataFrame]) -> DataFrame:
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
    )


def _histograms(kinds) -> dict[str, list[tuple[int, int]]]:
    """{kind: [(bucket, rows)] in bucket order} of the (kind, frame)
    pairs, in one aggregate action. Row counts per bucket do not
    depend on partitioning or row order."""
    counts = _union([
        df.select(F.lit(kind).alias("_kind"),
                  _bucket(F.col("id")).alias("_b"))
        for kind, df in kinds
    ]).groupBy("_kind", "_b").count()
    out: dict[str, list[tuple[int, int]]] = {}
    for r in counts.collect():
        out.setdefault(r["_kind"], []).append((r["_b"], r["count"]))
    return {kind: sorted(h) for kind, h in out.items()}


def _bounds(hist: list[tuple[int, int]], chunks: int) -> list[int]:
    """The first bucket of each chunk after the first: bucket b goes
    to chunk (rows in the buckets below b) * chunks // rows, so every
    chunk holds about rows / chunks rows, plus what a bucket that
    straddles a cut brings."""
    n = sum(c for _, c in hist)
    bounds, last, below = [], 0, 0
    for b, c in hist:
        part = below * chunks // n
        if part > last:
            bounds.append(b)
            last = part
        below += c
    return bounds


def _chunk_of(bucket: Column, bounds: list[int]) -> Column:
    """Chunk ordinal of a row: the number of (ascending, non-empty)
    bounds <= its bucket."""
    out = F.when(bucket >= bounds[-1], len(bounds))
    for i in range(len(bounds) - 1, 0, -1):
        out = out.when(bucket >= bounds[i - 1], i)
    return out.otherwise(0)


def _writer(encode, name: str, columns: dict[str, list[str]]):
    """mapInPandas body over the kinds' sorted chunks: each run of
    rows with one (`_kind`, `_part`) is one chunk, encoded with
    encode(nodes, ways, rels) -> bytes from the kind's own `columns`,
    written to name.format(kind=, part=), and reported as one
    manifest row. `_part` is the chunk's ordinal within its kind."""

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


def _write_kinds(
    frames, parts: int | None, encode, name: str, rows=None
) -> list[dict]:
    """Encode each kind's frame in id chunks and collect the manifest
    rows of all kinds in ONE action; returns them kind by kind, each
    kind in id order.

    A kind of n rows gets `parts` chunks, or ceil(n / CHUNK_ROWS)
    when parts is None; the chunk boundaries depend only on the rows
    (see the module docstring), never on the session's history or
    the cores. `rows` may bound each kind's rows from above (None
    where unknown), for example from counts observed on the keep sets
    that the frames semi-join. With parts None, a kind bounded by 0
    is empty and one bounded by CHUNK_ROWS is one chunk, so neither
    needs the statistic. If a bounded one-chunk kind turns out to
    hold more rows, the bound was wrong and all kinds are written
    again from the statistic, so the bytes still depend only on the
    rows."""
    bound = dict(zip(("nodes", "ways", "rels"), rows or (None,) * 3))
    kinds = [
        (kind, df)
        for kind, df in zip(("nodes", "ways", "rels"), frames)
        if df is not None and (parts is not None or bound[kind] != 0)
    ]
    trusted = {
        kind for kind, _df in kinds
        if parts is None and bound[kind] is not None
        and bound[kind] <= CHUNK_ROWS
    }
    measured = [(kind, df) for kind, df in kinds if kind not in trusted]
    hist = _histograms(measured) if measured else {}
    one, many, n_chunks = [], [], 0
    for kind, df in kinds:
        tagged = df.select("*", F.lit(kind).alias("_kind"))
        bounds = []
        if kind not in trusted:
            n = sum(c for _, c in hist.get(kind, ()))
            if not n:
                continue
            bounds = _bounds(hist[kind], parts or -(-n // CHUNK_ROWS))
        if bounds:
            many.append(tagged.withColumn(
                "_part", _chunk_of(_bucket(F.col("id")), bounds)
            ))
            n_chunks += len(bounds) + 1
        else:
            one.append(
                tagged.withColumn("_part", F.lit(0))
                .coalesce(1)
                .sortWithinPartitions("id")
            )
    if many:
        one.append(
            _union(many)
            .repartition(n_chunks, "_kind", "_part")
            .sortWithinPartitions("_kind", "_part", "id")
        )
    if not one:
        return []
    # with spark.sql.unionOutputPartitioning (on by default) the union
    # of the one-chunk kinds' single partitions is ONE partition: they
    # encode one after another in one Python task, at most
    # 3 * CHUNK_ROWS rows, which saves the fixed cost of two tasks
    out = _union(one).mapInPandas(
        _writer(encode, name, {kind: df.columns for kind, df in kinds}),
        "path string, kind string, n_rows long",
    )
    # the union's tasks finish in any order: restore kind order, then
    # chunk order (the zero-padded chunk ordinal in the file name)
    order = {kind: k for k, (kind, _df) in enumerate(kinds)}
    manifest = sorted(
        (r.asDict() for r in out.collect()),
        key=lambda r: (order[r["kind"]], r["path"]),
    )
    if any(m["kind"] in trusted and m["n_rows"] > CHUNK_ROWS
           for m in manifest):
        return _write_kinds(frames, parts, encode, name)
    return manifest


def write_wire_dir(
    nodes: DataFrame,
    ways: DataFrame,
    rels: DataFrame,
    out_dir: str,
    fmt: str = "o5m",
    parts: int | None = None,
) -> list[dict]:
    """Write (nodes, ways, rels) as a directory of standalone wire
    part files, `parts` per non-empty kind or ceil(rows / CHUNK_ROWS)
    when None; returns the manifest rows. Each part is id-sorted and
    the kind's parts hold disjoint id ranges, so any part is a valid
    extract on its own."""
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
    parts: int | None = None,
    file_timestamp: int | None = None,
    rows: tuple[int | None, int | None, int | None] | None = None,
) -> None:
    """One complete wire file, globally id-ordered.

    Parallel: each type's rows are cut into id chunks that are
    encoded to standalone bodies ON THE EXECUTORS, all kinds in one
    action; the driver only streams header + chunks + footer into
    the output file. A kind gets `parts` chunks, or ceil(rows /
    CHUNK_ROWS) when None, and the boundaries depend only on the
    rows, so the same rows always give the same bytes. Chunk
    concatenation is format-legal: o5m resets state at 0xff (each
    chunk leads with one), PBF blobs are independent, XML objects
    are self-contained. XML is byte-identical to the serial render
    at any chunking; o5m and PBF decode to the same objects.

    rows: upper bounds on the (nodes, ways, rels) row counts where
    the caller knows them (None where not). They spare the
    statistic's aggregate action when every kind fits one chunk;
    they do not change the bytes (see _write_kinds).

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
            rows,
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
