"""Seeded input generators, cached on disk.

Each input lives in `<work>/inputs/<kind>-v<GEN_VERSION>-s<seed>-n<size>/`
and counts as present only once its `_DONE` marker exists, so a run
killed mid-write regenerates instead of reading a partial input. Every
run applies the same policy (reuse if complete, else generate before
the Spark session starts), and generation is never part of `setup_s`.

The generators run in the benchmark process without Spark: pages are
built with the program's public `pages.make_html`,
`pages.extract_text` and `fixtures.place_for_doc`; the OSM extract is
encoded with `wire.pbf.encode_pbf`, the encoder that
`wire.spark.write_wire_single(fmt="pbf")` runs per chunk; the tail
tables are `documents` and `embeddings` parquet files shaped like the
suite's scale-factor tables, so the suite's queries read them as an
`sf_dir`.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np

# bump when a generator's output changes, so stale caches are ignored
GEN_VERSION = 5

PAGE_FILES = 16  # scan parallelism independent of the host's cores
PAGE_LANGS = ("en", "de", "fr", "ja", "pt")


def _cached(work: str, kind: str, seed: int, size: int, build) -> str:
    d = os.path.join(work, "inputs", f"{kind}-v{GEN_VERSION}-s{seed}-n{size}")
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_DONE"), "w") as fh:
        fh.write("ok\n")
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d


# ------------------------------------------------------------------
# pages
# ------------------------------------------------------------------


def page_id_start(seed: int, n: int) -> int:
    """First doc id of the seed's contiguous range (ids stay < 2^31)."""
    rng = np.random.default_rng([seed, 1])
    return int(rng.integers(0, (1 << 31) - n))


def pages_table(start: int, n: int):
    """pyarrow Table shaped like `pages.PAGES_SCHEMA`."""
    import pyarrow as pa

    from osmgraft.fixtures import gazetteer_arrays, place_for_doc
    from osmgraft.pages import extract_text, make_html

    terms = gazetteer_arrays()[0]
    ids = np.arange(start, start + n, dtype=np.int64)
    city = place_for_doc(ids)
    htmls, texts, langs = [], [], []
    for i, c in zip(ids.tolist(), city.tolist()):
        lang = PAGE_LANGS[i % len(PAGE_LANGS)]
        h = make_html(i, terms[c] if c >= 0 else None, lang)
        htmls.append(h)
        texts.append(extract_text(h).decode("utf-8"))
        langs.append(lang)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (
        (ids - start) * 17
    ).astype("timedelta64[s]")
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "url": pa.array([f"https://host{i % 23}.example/{i}"
                             for i in ids.tolist()]),
            "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "html": pa.array(htmls, pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
        }
    )


def pages_input(work: str, seed: int, n: int) -> str:
    """Directory of PAGE_FILES parquet files holding n pages."""
    import pyarrow.parquet as pq

    def build(d):
        t = pages_table(page_id_start(seed, n), n)
        step = -(-n // PAGE_FILES)
        for k in range(PAGE_FILES):
            pq.write_table(
                t.slice(k * step, step),
                os.path.join(d, f"part-{k:05d}.parquet"),
            )

    return _cached(work, "pages", seed, n, build)


# ------------------------------------------------------------------
# OSM extract
# ------------------------------------------------------------------

# the -B border: a concave ring plus a hole, vertices on odd 1e-7
# degree units; generated nodes sit on even units, so no node shares
# an x or y with a vertex and inside/outside is never a tie
BORDER_RINGS = (
    [
        (100_500_001, 470_500_001), (108_000_001, 470_300_001),
        (109_500_001, 478_000_001), (105_000_001, 474_000_001),
        (101_000_001, 479_500_001),
    ],
    [
        (102_000_001, 473_000_001), (104_000_001, 472_000_001),
        (103_500_001, 475_000_001),
    ],
)
NODE_BOX = (100_000_000, 470_000_000, 110_000_000, 480_000_000)
# a box well inside the outer ring and clear of the hole
INSIDE_BOX = (107_000_000, 471_000_000, 107_800_000, 472_000_000)


def border_poly_text() -> str:
    lines = ["clip"]
    for k, ring in enumerate(BORDER_RINGS):
        lines.append(str(k + 1) if k == 0 else f"!{k + 1}")
        for x, y in ring:
            lines.append(f"   {x / 1e7:.7f}   {y / 1e7:.7f}")
        lines.append("END")
    lines.append("END")
    return "\n".join(lines) + "\n"


def _hashed_ids(rng, n: int) -> np.ndarray:
    """n distinct ids: an odd multiplier is a bijection mod 2^40."""
    a = int(rng.integers(1 << 20, 1 << 39)) | 1
    b = int(rng.integers(0, 1 << 40))
    i = np.arange(n, dtype=np.uint64)
    return (((i * np.uint64(a)) + np.uint64(b)) % np.uint64(1 << 40)
            ).astype(np.int64) + 1


@dataclass
class OsmExtract:
    nodes: list[dict]
    ways: list[dict]
    rels: list[dict]

    @property
    def n_objects(self) -> int:
        return len(self.nodes) + len(self.ways) + len(self.rels)


def osm_extract(seed: int, n_nodes: int) -> OsmExtract:
    """Nodes in NODE_BOX (10% amenity=cafe, 5% bench), n/10 ways of
    2-7 lon-neighbouring nodes and n/200 relations in child/parent
    pairs."""
    rng = np.random.default_rng([seed, 2])
    n_ways = n_nodes // 10
    n_rels = max(n_nodes // 400, 1) * 2
    nid = _hashed_ids(rng, n_nodes)
    x0, y0, x1, y1 = NODE_BOX
    lon = x0 + 2 * rng.integers(0, (x1 - x0) // 2, n_nodes)
    lat = y0 + 2 * rng.integers(0, (y1 - y0) // 2, n_nodes)
    # the first node of each relation pair sits inside the border
    ax0, ay0, ax1, ay1 = INSIDE_BOX
    lon[:n_rels // 2] = ax0 + 2 * rng.integers(0, (ax1 - ax0) // 2, n_rels // 2)
    lat[:n_rels // 2] = ay0 + 2 * rng.integers(0, (ay1 - ay0) // 2, n_rels // 2)
    kind = rng.random(n_nodes)
    nodes = []
    for i in range(n_nodes):
        if kind[i] < 0.10:
            tags = {"amenity": "cafe", "name": f"cafe {i}"}
        elif kind[i] < 0.15:
            tags = {"amenity": "bench"}
        else:
            tags = {}
        nodes.append({"id": int(nid[i]), "lat_i": int(lat[i]),
                      "lon_i": int(lon[i]), "tags": tags})

    by_lon = nid[np.argsort(lon, kind="stable")]
    wid = _hashed_ids(rng, n_ways)
    start = rng.integers(0, n_nodes - 7, n_ways)
    length = rng.integers(2, 8, n_ways)
    hw = ("primary", "secondary", "residential", "track")
    wkind = rng.integers(0, 5, n_ways)
    ways = []
    for i in range(n_ways):
        tags = ({"building": "yes"} if wkind[i] == 4
                else {"highway": hw[wkind[i]]})
        ways.append({
            "id": int(wid[i]),
            "refs": by_lon[start[i]:start[i] + length[i]].tolist(),
            "tags": tags,
        })

    # relations come in pairs: a child with a node inside the border
    # (so the clip keeps it directly) and two ways, and a parent whose
    # only member is the child (kept by the closure's first pass). The
    # fixed shape gives every seed the same closure passes, and so the
    # same number of Spark jobs
    rid = _hashed_ids(rng, n_rels)
    rels = []
    for i in range(0, n_rels, 2):
        child = [
            {"ref": int(nid[i // 2]), "mtype": "node", "role": "stop"}
        ] + [
            {"ref": int(wid[j]), "mtype": "way", "role": "outer"}
            for j in rng.choice(n_ways, 2, replace=False)
        ]
        rels.append({"id": int(rid[i]), "members": child,
                     "tags": {"type": ("multipolygon", "site")[i // 2 % 2]}})
        rels.append({"id": int(rid[i + 1]), "tags": {"type": "route"},
                     "members": [{"ref": int(rid[i]), "mtype": "relation",
                                  "role": "sub"}]})
    return OsmExtract(nodes, ways, rels)


def osm_input(work: str, seed: int, n_nodes: int) -> str:
    """Directory holding in.pbf (ids ascending per kind) and clip.poly."""
    from osmgraft.wire.pbf import encode_pbf

    def build(d):
        x = osm_extract(seed, n_nodes)
        data = encode_pbf(
            *(sorted(k, key=lambda o: o["id"])
              for k in (x.nodes, x.ways, x.rels))
        )
        with open(os.path.join(d, "in.pbf"), "wb") as fh:
            fh.write(data)
        with open(os.path.join(d, "clip.poly"), "w") as fh:
            fh.write(border_poly_text())

    return _cached(work, "osm", seed, n_nodes, build)


# ------------------------------------------------------------------
# iterative-tail tables
# ------------------------------------------------------------------

TAIL_WORDS = (
    "a the key agg row scan slow fast table value part hash merge "
    "batch window spark order data column join small line customer "
    "query stream sort filter group big"
).split()
TAIL_DIM = 64  # suite_ml.DIM


def tail_input(work: str, seed: int, n_docs: int) -> str:
    """An sf_dir holding documents.parquet and embeddings.parquet.

    doc_id and vec_id run 0..n-1, as the suite's synthetic relations
    and ways derive their members from them; the seed picks the texts
    and the embedding vectors."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(d):
        rng = np.random.default_rng([seed, 3])
        ids = np.arange(n_docs, dtype=np.int64)
        lengths = rng.integers(20, 80, n_docs)
        texts = [
            " ".join(TAIL_WORDS[j] for j in
                     rng.integers(0, len(TAIL_WORDS), k))
            for k in lengths.tolist()
        ]
        pq.write_table(pa.table({
            "doc_id": pa.array(ids),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n_docs, pa.string()),
            "source": pa.array([f"src{i % 5}" for i in ids.tolist()]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }), os.path.join(d, "documents.parquet"))
        vecs = (0.15 * rng.standard_normal((n_docs, TAIL_DIM))
                ).astype(np.float32)
        pq.write_table(pa.table({
            "vec_id": pa.array(ids),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 5, n_docs), pa.int32()),
        }), os.path.join(d, "embeddings.parquet"))

    return _cached(work, "tail", seed, n_docs, build)
