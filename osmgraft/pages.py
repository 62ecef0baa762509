"""Common-Crawl-style pages table: synthesis, text extraction,
geocoding (BASELINE.json input_hint shape).

    pages(url string, warc_ts timestamp, html binary,
          text string, lang string)

`extract_text` is the FROZEN pure function whose per-url
byte-identity is a hard invariant (input_hint). It plays the role of
the reference's deterministic text handling; tests re-extract from
`html` and compare byte-for-byte with the stored `text` column.

Geocoding plays the osmgeobase/osmposition role (SURVEY.md G12):
recognize a gazetteer term in the text and resolve it to fixed-point
coordinates. Implemented as one pyarrow kernel per Arrow batch
(`geocode_arrow`), which the flagship runs inside its single Arrow
UDF together with the PIP join; no shuffle.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .fixtures import (
    gazetteer_arrays,
    place_for_doc,
)
from .geo.fixedpoint import NIL

_LANGS = ["en", "de", "fr", "ja", "pt"]

_TAG_RE = re.compile(rb"<[^>]*>")
_WS_RE = re.compile(rb"\s+")


def extract_text(html: bytes) -> bytes:
    """FROZEN deterministic extractor: strip tags, collapse
    whitespace. Do not change — byte-identity per url is the
    correctness invariant (BASELINE.json input_hint)."""
    no_tags = _TAG_RE.sub(b" ", html)
    return _WS_RE.sub(b" ", no_tags).strip()


def make_html(doc_id: int, place: str | None, lang: str) -> bytes:
    """Deterministic page template embedding the place string."""
    body = f"Document {doc_id} corpus page."
    if place is not None:
        body += f" The office is located near {place} downtown."
    body += f" Contact {doc_id % 97} Alpha Street."
    return (
        f"<html><head><title>Page {doc_id}</title>"
        f'<meta lang="{lang}"/></head>'
        f"<body><h1>Page {doc_id}</h1><p>{body}</p></body></html>"
    ).encode("utf-8")


PAGES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), False),
        StructField("lang", StringType(), False),
    ]
)

_BASE_TS = np.datetime64("2024-01-01T00:00:00")


def _pages_pdf(ids: np.ndarray) -> pd.DataFrame:
    terms, _, _, _ = gazetteer_arrays()
    city = place_for_doc(ids)
    rows = {
        "doc_id": ids,
        "url": [f"https://host{i % 23}.example/{i}" for i in ids],
        "warc_ts": _BASE_TS + (ids * 17).astype("timedelta64[s]"),
    }
    htmls = []
    texts = []
    langs = []
    for i, c in zip(ids.tolist(), city.tolist()):
        lang = _LANGS[i % len(_LANGS)]
        h = make_html(i, terms[c] if c >= 0 else None, lang)
        htmls.append(h)
        texts.append(extract_text(h).decode("utf-8"))
        langs.append(lang)
    rows["html"] = htmls
    rows["text"] = texts
    rows["lang"] = langs
    return pd.DataFrame(rows)


def synth_pages(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic pages synthesis via mapInPandas over
    spark.range — scales to any n without driver materialization."""
    rng_df = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)

    def gen(batches):
        for b in batches:
            yield _pages_pdf(b["id"].to_numpy("int64"))

    return rng_df.mapInPandas(gen, PAGES_SCHEMA)


def _common_prefix(terms: list[str]) -> str:
    p = terms[0]
    for t in terms[1:]:
        while not t.startswith(p):
            p = p[:-1]
            if not p:
                return ""
    return p


def geocode_arrow(text: pa.Array, terms: pa.Array) -> np.ndarray:
    """-> int64 index into `terms` of each row's first matching token,
    or -1 (the per-batch kernel of `geocode` and the flagship UDF).

    The first token (split on single spaces) that equals a term wins
    (the reference geocoder also tokenizes its input and takes the
    top candidate, osmposition.c:966-1101, 1229-1247). A token
    matches only as a whole: "City05," is not "City05", and neither
    is "City05\tCity06". Empty tokens and null text match nothing.
    `index_in` hashes the term set once per batch, in C++.
    """
    toks = pc.split_pattern(text, " ")
    hit = pc.fill_null(
        pc.index_in(pc.list_flatten(toks), value_set=terms), -1
    ).to_numpy()
    row = pc.list_parent_indices(toks).to_numpy()
    found = hit >= 0
    row, hit = row[found], hit[found]
    # tokens are in row order, so a row's first hit is where the
    # parent index changes
    first = np.ones(len(row), dtype=bool)
    first[1:] = row[1:] != row[:-1]
    out = np.full(len(text), -1, dtype=np.int64)
    out[row[first]] = hit[first]
    return out


def gazetteer_lookup(text: pa.Array):
    """text -> (lat_i, lon_i, found): int64 gazetteer coordinates, NIL
    (outside every polygon bbox) where no term is found."""
    terms, lat_i, lon_i, _w = gazetteer_arrays()
    idx = geocode_arrow(text, pa.array(terms, pa.string()))
    found = idx >= 0
    return (
        np.where(found, lat_i[idx], NIL),
        np.where(found, lon_i[idx], NIL),
        found,
    )


def geocode_prefilter(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep the rows whose raw text contains the gazetteer's longest
    common prefix (when it has >= 3 chars): a substring test that
    pushes down into the scan and that every term match implies."""
    lcp = _common_prefix(list(gazetteer_arrays()[0]))
    if len(lcp) < 3:
        return pages
    return pages.filter(F.col(text_col).contains(lcp))


_GEOCODE_TYPE = "lat_i long, lon_i long"


def geocode(
    pages: DataFrame, text_col: str = "text", prefilter: bool = True
) -> DataFrame:
    """Resolve each page to fixed-point coords via the gazetteer
    (SURVEY.md G12). Adds lat_i/lon_i (null when no term found).

    One Arrow UDF over `text` runs `geocode_arrow` once per batch
    (`gazetteer_lookup`). It is marked nondeterministic, as
    assign_regions' UDF is, so Catalyst evaluates it once even
    though both coordinates and any later filter read it.

    `prefilter` drops obviously-ungeocodable rows before the UDF
    runs (`geocode_prefilter`); no geocodable row is lost.
    """
    if prefilter:
        pages = geocode_prefilter(pages, text_col)

    @F.arrow_udf(_GEOCODE_TYPE)
    def _geocode(text: pa.Array) -> pa.Array:
        lat, lon, found = gazetteer_lookup(text)
        return pa.StructArray.from_arrays(
            [pa.array(lat, mask=~found), pa.array(lon, mask=~found)],
            names=["lat_i", "lon_i"],
        )

    g = _geocode.asNondeterministic()(F.col(text_col))
    return pages.withColumn("_g", g).withColumns(
        {"lat_i": F.col("_g.lat_i"), "lon_i": F.col("_g.lon_i")}
    ).drop("_g")
