"""Spark-level tests: pages synthesis invariants, geocode, and the
flagship spatial join — differentially checked against the compiled
osmassignpoly on the same points and polygons."""

import numpy as np
import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from osmgraft.fixtures import (
    POLY_TEXT,
    fixture_polyset,
    gazetteer_arrays,
    place_for_doc,
)
from osmgraft.geo.pip import assign_polygons
from osmgraft.operators.flagship import flagship_assign
from osmgraft.pages import extract_text, synth_pages

from .refdiff import build_refbin, have_refbin, ref_assignpoly

N = 600


@pytest.fixture(scope="module")
def pages(spark):
    return synth_pages(spark, N).cache()


def test_extract_text_byte_identity(pages):
    """input_hint invariant: stored text == extract_text(html),
    byte-identical per url."""
    rows = pages.select("url", "html", "text").collect()
    assert len(rows) == N
    for r in rows:
        assert extract_text(bytes(r.html)).decode("utf-8") == r.text, r.url


def test_pages_deterministic(spark):
    a = synth_pages(spark, 50).orderBy("doc_id").collect()
    b = synth_pages(spark, 50).orderBy("doc_id").collect()
    assert a == b


def test_geocode_hits_gazetteer(spark, pages):
    from osmgraft.pages import geocode

    g = geocode(pages).select("doc_id", "lat_i", "lon_i").collect()
    got = {r.doc_id: (r.lat_i, r.lon_i) for r in g}
    _, lat_i, lon_i, _ = gazetteer_arrays()
    ids = np.array([r.doc_id for r in pages.select("doc_id").collect()])
    # each page resolves to exactly the city planted in it; the
    # prefilter drops the pages that carry no place
    want = {
        int(d): (int(lat_i[c]), int(lon_i[c]))
        for d, c in zip(ids, place_for_doc(ids))
        if c >= 0
    }
    assert got == want
    # ~90% of pages carry a place string
    assert 0.8 * N <= len(got) <= 0.97 * N


_TERMS = gazetteer_arrays()[0]
_TOKENS = st.sampled_from(
    [*_TERMS[:3], _TERMS[-1], "City", "City5", "city01", "xCity02",
     _TERMS[1] + ",", "(" + _TERMS[2] + ")", "page", "",
     # non-ASCII tokens; a tab does not split; a trailing space
     "Zürich", _TERMS[1] + "é", _TERMS[4] + "\t" + _TERMS[5],
     _TERMS[6] + " "]
)
_TEXTS = st.one_of(
    st.none(),
    st.builds(
        lambda toks, sep: sep.join(toks),
        st.lists(_TOKENS, max_size=6),
        st.sampled_from([" ", "  "]),
    ),
)


def _first_term(text):
    """Reference: the first space-separated token that is a term."""
    _, lat_i, lon_i, _ = gazetteer_arrays()
    at = {t: (int(la), int(lo)) for t, la, lo in zip(_TERMS, lat_i, lon_i)}
    for tok in (text or "").split(" "):
        if tok in at:
            return at[tok]
    return (None, None)


_EXAMPLE = [f"at {_TERMS[1]} and {_TERMS[0]}", f"near {_TERMS[2]}, downtown",
            f"{_TERMS[3]},  then  {_TERMS[4]}", "", None,
            f"Zürich {_TERMS[7]}é\t{_TERMS[8]} {_TERMS[9]} "]


@settings(max_examples=25, deadline=None)
@example(_EXAMPLE)
@given(st.lists(_TEXTS, min_size=1, max_size=8))
def test_geocode_first_term_wins(spark, texts):
    """geocode == a Python first-token-wins reference, with and without
    the prefilter (which only drops rows lacking the terms' prefix)."""
    from osmgraft.pages import geocode

    df = spark.createDataFrame(list(enumerate(texts)), "i long, text string")
    for prefilter in (False, True):
        got = {
            r.i: (r.lat_i, r.lon_i)
            for r in geocode(df, prefilter=prefilter).collect()
        }
        want = {
            i: _first_term(t)
            for i, t in enumerate(texts)
            if not prefilter or (t is not None and "City" in t)
        }
        assert got == want, prefilter


@settings(max_examples=15, deadline=None)
@example(_EXAMPLE)
@given(st.lists(_TEXTS, min_size=1, max_size=8))
def test_flagship_fused_equals_staged(spark, texts):
    """The one-UDF flagship == its stages run one after another:
    assign_regions(with_cell(geocode(df))), with and without
    keep_noregion (which keeps geocoded rows in no region only)."""
    from osmgraft.operators.spatial import assign_regions, with_cell
    from osmgraft.pages import geocode

    df = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)], "url string, text string"
    )
    cols = ["url", "lat_i", "lon_i", "cell", "region", "subregion"]
    for keep in (False, True):
        staged = assign_regions(
            with_cell(geocode(df)), fixture_polyset(), keep_noregion=keep
        ).filter(F.col("lat_i").isNotNull())
        want = sorted(tuple(r) for r in staged.select(cols).collect())
        got = sorted(
            tuple(r)
            for r in flagship_assign(df, keep_noregion=keep).collect()
        )
        assert got == want, keep


def _numpy_flagship(pages):
    """url -> (lat_i, lon_i, cell, region, subregion), computed without
    Spark's geocode or PIP: each page's planted city, assigned by
    geo.pip.assign_polygons in numpy."""
    from osmgraft.geo.cells import cell_encode

    rows = pages.select("doc_id", "url").collect()
    ids = np.array([r.doc_id for r in rows], dtype=np.int64)
    city = place_for_doc(ids)
    _, lat_i, lon_i, _ = gazetteer_arrays()
    ps = fixture_polyset()
    keep = city >= 0
    la, lo = lat_i[city[keep]], lon_i[city[keep]]
    reg, sub = assign_polygons(lo, la, ps)
    cell = cell_encode(la, lo)
    name = lambda k: ps.names[k] if k >= 0 else None  # noqa: E731
    urls = [r.url for r, k in zip(rows, keep) if k]
    return {
        u: (int(a), int(o), int(c), name(r), name(s))
        for u, a, o, c, r, s in zip(urls, la, lo, cell, reg, sub)
    }


@pytest.mark.parametrize("keep_noregion", [False, True])
def test_flagship_keep_noregion_vs_numpy(spark, pages, keep_noregion):
    """flagship_assign == numpy assign_polygons on the geocoded points:
    ungeocoded pages are dropped; geocoded pages in no region are kept
    (null region) only under keep_noregion."""
    want = {
        u: v for u, v in _numpy_flagship(pages).items()
        if keep_noregion or v[3] is not None
    }
    got = {
        r.url: (r.lat_i, r.lon_i, r.cell, r.region, r.subregion)
        for r in flagship_assign(pages, keep_noregion=keep_noregion)
        .collect()
    }
    assert got == want
    if keep_noregion:
        # the fixture must exercise the no-region branch
        assert any(v[3] is None for v in want.values())


def test_flagship_differential_vs_reference(spark, pages, tmp_path):
    """End-to-end: engine flagship output == osmassignpoly output on
    the same geocoded points and the same .poly file."""
    if not (have_refbin() or build_refbin()):
        pytest.skip("reference binaries unavailable")
    res = flagship_assign(pages, keep_noregion=True).collect()
    assert len(res) > 0

    nodes = []
    by_id = {}
    for i, r in enumerate(sorted(res, key=lambda r: r.url)):
        nid = i + 1
        nodes.append((nid, int(r.lon_i), int(r.lat_i), {}))
        by_id[nid] = (r.region, r.subregion)
    ref = ref_assignpoly(tmp_path, nodes, POLY_TEXT)
    assert set(ref) == set(by_id)
    for nid, want in ref.items():
        assert by_id[nid] == want, (nid, by_id[nid], want)


def test_flagship_drops_nonassigned(spark, pages):
    kept = flagship_assign(pages).select("region").collect()
    assert all(r.region is not None for r in kept)


def test_cell_expression_matches_kernel(spark, pages):
    """with_cell (Catalyst int math) == geo.cells.cell_encode."""
    from osmgraft.geo.cells import cell_encode
    from osmgraft.operators.flagship import flagship_assign

    rows = flagship_assign(pages).select(
        "lat_i", "lon_i", "cell"
    ).collect()
    la = np.array([r.lat_i for r in rows], dtype=np.int64)
    lo = np.array([r.lon_i for r in rows], dtype=np.int64)
    want = cell_encode(la, lo)
    got = np.array([r.cell for r in rows], dtype=np.int64)
    np.testing.assert_array_equal(got, want)
