"""trace_frechet_pairs: agreement with a direct numpy DP on the
same candidate pairs, the Frechet >= Hausdorff dominance
invariant, and an order-sensitivity witness Hausdorff cannot see."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmgraft.operators.linecover import (
    trace_frechet_pairs,
    trace_hausdorff_pairs,
)


def _frechet_dp(a: np.ndarray, b: np.ndarray) -> int:
    """Textbook O(n*m) coupling DP, int64."""
    n, m = len(a), len(b)
    d2 = (
        (a[:, None, 0] - b[None, :, 0]) ** 2
        + (a[:, None, 1] - b[None, :, 1]) ** 2
    )
    f = np.full((n, m), -1, dtype=np.int64)
    f[0, 0] = d2[0, 0]
    for i in range(n):
        for j in range(m):
            if i == 0 and j == 0:
                continue
            preds = []
            if i > 0 and f[i - 1, j] >= 0:
                preds.append(f[i - 1, j])
            if j > 0 and f[i, j - 1] >= 0:
                preds.append(f[i, j - 1])
            if i > 0 and j > 0 and f[i - 1, j - 1] >= 0:
                preds.append(f[i - 1, j - 1])
            f[i, j] = max(d2[i, j], min(preds))
    return int(f[n - 1, m - 1])


def _traces_df(spark, traces):
    rows = [
        (tid, s, int(lat), int(lon))
        for tid, pts in traces.items()
        for s, (lat, lon) in enumerate(pts)
    ]
    return spark.createDataFrame(
        rows, "trace_id long, step long, lat_i long, lon_i long"
    )


def test_frechet_matches_dp(spark):
    rng = np.random.default_rng(5)
    base = np.array([0, 0], dtype=np.int64)
    traces = {}
    for t in range(8):
        steps = base + rng.integers(-200_000, 200_000, (5, 2))
        traces[t] = [(int(y), int(x)) for y, x in steps]
    df = _traces_df(spark, traces)
    out = trace_frechet_pairs(df, shift=22).collect()
    assert out, "co-located traces must produce candidate pairs"
    for r in out:
        a = np.array(traces[r.trace_a], dtype=np.int64)
        b = np.array(traces[r.trace_b], dtype=np.int64)
        assert r.frechet2 == _frechet_dp(a, b), (
            r.trace_a,
            r.trace_b,
        )


def test_frechet_dominates_hausdorff(spark):
    rng = np.random.default_rng(9)
    traces = {
        t: [
            (int(y), int(x))
            for y, x in rng.integers(-300_000, 300_000, (5, 2))
        ]
        for t in range(10)
    }
    df = _traces_df(spark, traces)
    h = {
        (r.trace_a, r.trace_b): r.h2
        for r in trace_hausdorff_pairs(df, shift=22).collect()
    }
    f = {
        (r.trace_a, r.trace_b): r.frechet2
        for r in trace_frechet_pairs(df, shift=22).collect()
    }
    assert set(h) == set(f)  # same candidate generator
    for k in f:
        assert f[k] >= h[k]


def test_frechet_sees_order(spark):
    # A walks 0..4 east; B walks the same five points WEST (reversed).
    # Hausdorff (order-blind) is 0; Frechet must pay the full span.
    pts = [(0, i * 100_000) for i in range(5)]
    traces = {1: pts, 2: pts[::-1]}
    df = _traces_df(spark, traces)
    h = trace_hausdorff_pairs(df, shift=22).collect()[0]
    f = trace_frechet_pairs(df, shift=22).collect()[0]
    assert h.h2 == 0
    assert f.frechet2 == 400_000**2


def test_frechet_variable_length(spark):
    # Traces of DIFFERENT lengths (3, 5, 7 steps): the terminal DP
    # state is per-pair (max ai, max bj), so short-vs-long pairs
    # must surface with their true coupling distance instead of
    # silently vanishing (round-3 bug: fixed n_steps assumption).
    rng = np.random.default_rng(13)
    traces = {
        t: [
            (int(y), int(x))
            for y, x in rng.integers(-200_000, 200_000, (n, 2))
        ]
        for t, n in ((0, 3), (1, 5), (2, 7), (3, 4))
    }
    df = _traces_df(spark, traces)
    out = trace_frechet_pairs(df, shift=22).collect()
    got = {(r.trace_a, r.trace_b): r.frechet2 for r in out}
    # all 6 co-located pairs must appear, each matching the numpy DP
    assert len(got) == 6
    for (ta, tb), v in got.items():
        a = np.array(traces[ta], dtype=np.int64)
        b = np.array(traces[tb], dtype=np.int64)
        assert v == _frechet_dp(a, b), (ta, tb)


def test_frechet_clusters(spark):
    from osmgraft.operators.dedup import cluster_star

    # 1 and 2 identical, 3 a twin of 2, 4 far away: {1,2,3} cluster
    pts = [(0, i * 100_000) for i in range(5)]
    near = [(10, i * 100_000) for i in range(5)]
    far = [(50_000_000, 50_000_000 + i * 100_000) for i in range(5)]
    df = _traces_df(spark, {1: pts, 2: pts, 3: near, 4: far})
    pairs = trace_frechet_pairs(df, shift=22).where("within")
    out = cluster_star(
        pairs, a_col="trace_a", b_col="trace_b"
    ).collect()
    got = {(r.doc_id, r.cluster) for r in out}
    assert got == {(1, 1), (2, 1), (3, 1)}
