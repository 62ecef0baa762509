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
coordinates. Implemented as codegen'd Catalyst expressions against a
term array and a packed coordinate map literal — no Python, no
shuffle.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
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
    N_CITIES,
    gazetteer_arrays,
    place_for_doc,
)

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


def geocode(
    pages: DataFrame, text_col: str = "text", prefilter: bool = True
) -> DataFrame:
    """Resolve each page to fixed-point coords via the gazetteer
    (SURVEY.md G12). Adds lat_i/lon_i (null when no term found).

    The first token (split on single spaces) that is a gazetteer term
    wins (the reference geocoder also tokenizes its input and takes
    the top candidate, osmposition.c:966-1101, 1229-1247). A token
    matches only as a whole: "City05," is not "City05".

    Entirely JVM-side, and no expression on the hot path falls back
    to interpreted evaluation (no lambda, no higher-order function):
    `array_intersect(split(text, " "), array(<terms>))` keeps the
    left array's order, so its first element is the first matching
    token, and one lookup in a packed (lat<<32|lon) map literal turns
    that token into coordinates. Per row this costs O(tokens + terms):
    `array_intersect` hashes the term array once per row, then probes
    each token. A corpus-scale gazetteer would want a set built once
    per task instead; that is out of scope for the 80-term gazetteer.

    Two deliberate plan-shape choices (both measured on 1M pages):

    - The term extraction is evaluated EXACTLY ONCE per row: every
      downstream column derives from the one packed lookup inside
      one Project. Catalyst's subexpression elimination dedupes
      within a Project but NOT across Filter/Project boundaries — a
      plan that filters on an extraction-derived column re-runs the
      extraction (observed 2x wall time). Callers must therefore not
      filter on lat_i/lon_i before the next pipeline barrier;
      flagship pushes the bbox/null handling into the PIP kernel
      instead.
    - `prefilter` drops obviously-ungeocodable rows with a cheap
      substring `contains` on the RAW text (longest common prefix
      of the gazetteer, if >= 3 chars) before the extraction runs.
      It is conservative: contains(prefix) is implied by any term
      match, so no geocodable row is lost.

    Gazetteers with multi-word terms fall back to one alternation
    regex with substring semantics (leftmost match wins).
    """
    terms, lat_i, lon_i, _w = gazetteer_arrays()

    if prefilter:
        lcp = _common_prefix(list(terms))
        if len(lcp) >= 3:
            pages = pages.filter(F.col(text_col).contains(lcp))

    pairs = []
    for t, la, lo in zip(terms, lat_i.tolist(), lon_i.tolist()):
        pairs += [F.lit(t), F.lit((int(la) << 32) | int(lo))]
    packed_map = F.create_map(*pairs)

    if any(" " in t for t in terms):
        # multi-word gazetteer terms: fall back to the alternation
        # regex (substring semantics). ~2.3x slower than the token
        # path on 4M pages — single-token gazetteers get the fast
        # path below.
        pattern = "(" + "|".join(re.escape(t) for t in terms) + ")"
        term = F.regexp_extract(F.col(text_col), pattern, 1)
        packed = F.try_element_at(packed_map, term)
    else:
        # token path: the first split token that is a term, then one
        # map probe. try_element_at everywhere: an empty intersection
        # or a missing key yields NULL under ANSI.
        first = F.try_element_at(
            F.array_intersect(
                F.split(F.col(text_col), " "),
                F.array(*[F.lit(t) for t in terms]),
            ),
            F.lit(1),
        )
        packed = F.try_element_at(packed_map, first)
    return pages.withColumns(
        {
            "lat_i": F.shiftright(packed, 32).cast("long"),
            "lon_i": packed.bitwiseAND(F.lit((1 << 32) - 1)).cast("long"),
        }
    )
