"""Host link-graph analytics — crawl prioritization over the web
corpus. The per-tile keep-rate map (q64) tells the crawler WHERE
good documents cluster spatially; host PageRank tells it WHICH
hosts to fetch next. Together they are the feedback half of a
crawl loop.

Determinism by construction: ranks are BIGINTs in fixed-point
(`scale` = 1.0 of initial mass) and every update uses only long
add / multiply / integer-divide. Long sums commute exactly, so the
result is bit-identical regardless of partitioning, aggregation
order, or engine — the same trick as the 1e-7 fixed-point
coordinates (geo/fixedpoint.py, reference osmconvert.c lat/lon
model). A float PageRank could differ in the last ulps between
runs and could never be hash-compared against an oracle.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, functions as F

_LOG = logging.getLogger("osmgraft")


def host_pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
) -> DataFrame:
    """PageRank over a distinct (src, dst) host edge list, `iters`
    synchronous iterations, damping = damping_num/damping_den
    (exact rational, applied in integer arithmetic).

    Update per host h:
        rank'(h) = (1-d)*scale  +  d * sum_{e: src->h} rank(src) div out_deg(src)

    computed as  base + (damping_num * s) div damping_den  with
    base = scale*(den-num) div den — longs end to end. Mass lost to
    integer truncation and dangling hosts is NOT redistributed
    (the simplified public formulation); ranking order is
    unaffected for crawl-prioritization use.

    Scale plan: per iteration, one shuffle of the edge list keyed
    on dst with map-side partial SUM, plus a join of edges against
    the ranks table. Ranks carry ONE row per host (millions at web
    scale vs billions of edges) — the small side; AQE broadcasts it
    when it fits. The out-degree join is fused into the same edge
    shuffle. The loop is a driver-side for over `iters` lazy
    DataFrames: nothing materializes until the caller acts, and
    iters is small (3-10) so plan depth stays modest.
    """
    src_h = edges.select(F.col("src").alias("host"))
    dst_h = edges.select(F.col("dst").alias("host"))
    hosts = src_h.union(dst_h).distinct()
    deg = edges.groupBy("src").agg(
        F.count("*").cast("long").alias("out_deg")
    )
    edges_deg = edges.join(deg, "src")
    base = scale * (damping_den - damping_num) // damping_den
    ranks = hosts.select(
        "host", F.lit(scale).cast("long").alias("rank")
    )
    for _ in range(iters):
        contribs = edges_deg.join(
            ranks, edges_deg["src"] == ranks["host"]
        ).select(
            F.col("dst").alias("host"),
            F.expr("rank div out_deg").alias("c"),
        )
        sums = contribs.groupBy("host").agg(
            F.sum("c").alias("s")
        )
        ranks = hosts.join(sums, "host", "left").select(
            "host",
            (
                F.lit(base)
                + F.expr(
                    f"({damping_num} * coalesce(s, 0L))"
                    f" div {damping_den}"
                )
            )
            .cast("long")
            .alias("rank"),
        )
    return ranks


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact per-vertex triangle counts over the undirected simple
    graph of a (src, dst) edge list — the canonical degree-ordered
    distributed plan (Suri-Vassilvitskii / Cohen's MapReduce
    formulation, public literature):

    1. canonicalize: (a, b) = (min, max), drop self-loops, distinct;
    2. orient every edge from the lower (degree, id) endpoint to
       the higher — each triangle then has exactly ONE wedge apex,
       and the post-orientation out-degree is bounded by
       O(sqrt(m)) instead of the raw hub degree (the hub-killer:
       a celebrity host with 10^7 neighbors contributes wedges
       only from its low-degree side);
    3. wedge self-join on the apex + one closing-edge semi-ish join.

    Plan: two keyed shuffles (degree, orientation join), one
    self-join on apex, one closing join, one explode+groupBy for
    per-vertex counts. All integers; the oracle replays the same
    joins. Output: (host, n_triangles); the global count is
    sum/3."""
    und = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    da = deg.select(
        F.col("v").alias("a"), F.col("deg").alias("dega")
    )
    db = deg.select(
        F.col("v").alias("b"), F.col("deg").alias("degb")
    )
    wd = und.join(da, "a").join(db, "b")
    lower_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    oriented = wd.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("w"),
        F.when(lower_first, F.col("dega"))
        .otherwise(F.col("degb"))
        .alias("du"),
        F.when(lower_first, F.col("degb"))
        .otherwise(F.col("dega"))
        .alias("dw"),
    ).localCheckpoint(eager=False)  # feeds wedges twice + closer
    e1 = oriented.select(
        "u",
        F.col("w").alias("v1"),
        F.col("dw").alias("d1"),
    )
    e2 = oriented.select(
        F.col("u").alias("u2"),
        F.col("w").alias("v2"),
        F.col("dw").alias("d2"),
    )
    wedges = e1.join(e2, F.col("u") == F.col("u2")).where(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2")))
    )
    closer = oriented.select(
        F.col("u").alias("v1"), F.col("w").alias("v2")
    )
    tris = wedges.join(closer, ["v1", "v2"]).select(
        "u", "v1", "v2"
    )
    verts = tris.select(
        F.explode(F.array("u", "v1", "v2")).alias("host")
    )
    return verts.groupBy("host").agg(
        F.count("*").cast("long").alias("n_triangles")
    )


def k_core(
    edges: DataFrame, k: int = 2, max_passes: int = 12
) -> DataFrame:
    """Vertices of the k-core (every vertex has >= k neighbors
    INSIDE the subgraph) by iterative peeling — the degeneracy
    member of the graph family (PageRank: q68, components: q44,
    triangles: q119).

    Per pass: one degree groupBy over the surviving undirected
    edges + two semi-joins dropping edges with a sub-k endpoint;
    the pass result is lazily checkpointed and ONE count drives
    the convergence check (the one-driver-job-per-pass discipline
    the relation closures use). Peeling is monotone, so stopping
    early at a stable pass equals running all `max_passes` — which
    is what lets the SQL oracle simply unroll the full pass count.
    Logs a warning on the `osmgraft` logger if still shrinking at
    the cap (the q44/q27 convention).

    Returns distinct (host,) vertices of the k-core."""
    und = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    cur = und
    n_cur = cur.count()
    for _ in range(max_passes):
        deg = (
            cur.select(F.col("a").alias("v"))
            .unionByName(cur.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count("*").alias("d"))
        )
        keep = deg.where(F.col("d") >= k).select("v")
        nxt = (
            cur.join(
                keep.select(F.col("v").alias("a")), "a", "left_semi"
            )
            .join(
                keep.select(F.col("v").alias("b")), "b", "left_semi"
            )
            .localCheckpoint(eager=False)
        )
        n_nxt = nxt.count()
        if n_nxt == n_cur:
            break
        cur, n_cur = nxt, n_nxt
    else:
        _LOG.warning(
            "k_core stopped at %d passes with %d edges left and "
            "still peeling; result is the pass-capped superset",
            max_passes,
            n_cur,
        )
    return (
        cur.select(F.col("a").alias("host"))
        .unionByName(cur.select(F.col("b").alias("host")))
        .distinct()
    )


def lpa_communities(edges: DataFrame, iters: int = 4) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan
    et al. 2007, the near-linear-time baseline) over an undirected
    (src, dst) edge list, made fully deterministic: every node
    starts labeled with its own id, each round adopts the label
    most frequent among its neighbors with ties broken toward the
    SMALLEST label, and all nodes update simultaneously. Fixed
    `iters` rounds (the async convergence heuristic is
    nondeterministic by design, useless for an oracle-checked
    engine).

    Complements the connected-component resolver (dedup.py
    cluster_star star-contraction): that finds maximal reachable
    sets; LPA splits a connected graph into DENSE blocks — the
    community structure a crawl scheduler or near-dup family
    viewer actually wants.

    Scale: per round, one shuffle of the edge list keyed on dst to
    look up neighbor labels (ranks-style small side — one row per
    node — AQE-broadcastable), then a (node, label) count whose
    argmax is a partial-aggregable max(struct(cnt, -label)). No
    window over the full edge list, no driver state; plan depth
    grows linearly with the small fixed round count.
    """
    und = (
        edges.select("src", "dst")
        .union(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    nodes = und.select(F.col("src").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(iters):
        nbr = und.join(
            labels, und["dst"] == labels["node"]
        ).select(F.col("src").alias("node"), "label")
        best = (
            nbr.groupBy("node", "label")
            .agg(F.count("*").alias("c"))
            .groupBy("node")
            .agg(
                F.max(
                    F.struct(
                        "c", (-F.col("label")).alias("neg"), "label"
                    )
                ).alias("m")
            )
            .select("node", F.col("m.label").alias("new_label"))
        )
        labels = (
            labels.join(best, "node", "left")
            .select(
                "node",
                F.coalesce("new_label", "label")
                .cast("long")
                .alias("label"),
            )
        )
    return labels.select(
        "node", F.col("label").alias("community")
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
) -> DataFrame:
    """Personalized PageRank: host_pagerank's integer fixed point
    with the teleport mass restricted to a SEED set — the
    crawl-expansion / trusted-neighborhood ranker ("score every
    host by its link proximity to these known-good hubs"), and the
    standard seed-propagation primitive for spam/quality label
    smoothing over the link graph.

    Update per host h (all longs, same rational damping as
    host_pagerank):
        rank'(h) = is_seed(h) * base
                 + d * sum_{e: src->h} rank(src) div out_deg(src)
    with base = scale*(den-num) div den.  Non-seeds get teleport 0,
    so after k iterations a host's rank is exactly the damped
    integer mass reaching it over <= k-step paths from the seeds —
    rank 0 MEANS unreachable within the horizon, which the caller
    can filter on.

    Scale plan: identical to host_pagerank (one dst-keyed edge
    shuffle + one ranks join per iteration, ranks one row/host);
    the seed flag rides the ranks table as a long, the seeds side
    is a broadcast-size dimension joined once before the loop.
    """
    src_h = edges.select(F.col("src").alias("host"))
    dst_h = edges.select(F.col("dst").alias("host"))
    hosts = src_h.union(dst_h).distinct()
    seed_flag = (
        hosts.join(
            F.broadcast(
                seeds.select(F.col("host")).distinct().withColumn(
                    "_seed", F.lit(1).cast("long")
                )
            ),
            "host",
            "left",
        )
        .select(
            "host",
            F.coalesce("_seed", F.lit(0)).cast("long").alias("seed"),
        )
        .localCheckpoint(eager=False)
    )
    deg = edges.groupBy("src").agg(
        F.count("*").cast("long").alias("out_deg")
    )
    edges_deg = edges.join(deg, "src")
    base = scale * (damping_den - damping_num) // damping_den
    ranks = seed_flag.select(
        "host", (F.col("seed") * scale).cast("long").alias("rank")
    )
    for _ in range(iters):
        contribs = edges_deg.join(
            ranks, edges_deg["src"] == ranks["host"]
        ).select(
            F.col("dst").alias("host"),
            F.expr("rank div out_deg").alias("c"),
        )
        sums = contribs.groupBy("host").agg(F.sum("c").alias("s"))
        ranks = seed_flag.join(sums, "host", "left").select(
            "host",
            (
                F.col("seed") * base
                + F.expr(
                    f"({damping_num} * coalesce(s, 0L))"
                    f" div {damping_den}"
                )
            )
            .cast("long")
            .alias("rank"),
        )
    return ranks


def hits_scores(
    edges: DataFrame, iters: int = 2, shift: int = 0
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999, the public
    formulation) over a distinct (src, dst) host edge list —
    `iters` synchronous rounds of the un-normalized power pair:

        auth'(h) = sum_{e: src->h} hub(src)
        hub'(h)  = sum_{e: h->dst} auth'(dst)

    kept in exact int64 instead of the textbook L2 normalization
    (a float sqrt that would drift between engines). Rankings are
    normalization-invariant, which is all a crawl prioritizer or
    mirror-detector consumes. Complements host_pagerank above:
    PageRank scores global endorsement flow; HITS separates
    directories (hubs) from destinations (authorities), and the
    two argmaxes genuinely differ on asymmetric link graphs.

    Magnitude: every round multiplies scores by at most
    max_in_deg * max_out_deg, so unshifted int64 is safe for
    iters<=2 on any graph with degree products < 2^31. For deeper
    runs or hub-heavy web graphs pass `shift`: both scores are
    right-shifted (floor, deterministic, mirrored verbatim in the
    SQL oracle) once per round, the integer analogue of the
    textbook rescale. Scale plan: per round, two shuffles of the
    edge list (keyed on dst then src) with map-side partial sums;
    the score table rides at one row per host (AQE-broadcastable
    against billions of edges). No windows, no driver state.

    NOT from the reference — ramunasd/osmctools has no link
    analysis; this extends the crawl-frontier family (q68/q192)
    the way osmposition extends geocoding.
    """
    if iters > 2 and shift == 0:
        # the documented precondition, enforced loudly: unshifted
        # scores grow by up to max_in_deg * max_out_deg per round
        # and Spark's non-ANSI sum would wrap SILENTLY past round
        # 2 on hub-heavy graphs (degree products >= 2^31)
        raise ValueError(
            "hits_scores: iters > 2 with shift == 0 risks silent "
            "int64 wrap (scores multiply by up to max_in_deg * "
            "max_out_deg per round); pass shift >= 1 to rescale "
            "each round"
        )
    hosts = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
    )
    scores = hosts.select(
        "host",
        F.lit(1).cast("long").alias("auth"),
        F.lit(1).cast("long").alias("hub"),
    )
    for _ in range(iters):
        a = (
            edges.join(
                scores.select(
                    F.col("host").alias("src"), "hub"
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("host"))
            .agg(F.sum("hub").alias("s"))
        )
        auth = hosts.join(a, "host", "left").select(
            "host",
            F.shiftright(F.coalesce("s", F.lit(0)), shift)
            .cast("long")
            .alias("auth"),
        )
        h = (
            edges.join(
                auth.select(F.col("host").alias("dst"), "auth"),
                "dst",
            )
            .groupBy(F.col("src").alias("host"))
            .agg(F.sum("auth").alias("s"))
        )
        hub = hosts.join(h, "host", "left").select(
            "host",
            F.shiftright(F.coalesce("s", F.lit(0)), shift)
            .cast("long")
            .alias("hub"),
        )
        scores = auth.join(hub, "host")
    return scores.select("host", "auth", "hub")


def link_prediction_scores(
    edges: DataFrame, max_degree: int | None = None
) -> DataFrame:
    """Classical link-prediction scores over the undirected simple
    host graph (Liben-Nowell & Kleinberg 2003, the public
    baseline battery): for every distance-2 candidate pair, the
    common-neighbor count (wedge count through shared neighbors)
    and the preferential-attachment product deg(a)*deg(b), plus
    whether the pair is ALREADY an edge — all exact int64 (the
    log-weighted Adamic-Adar variant is deliberately omitted:
    logs drift between engines; CN and PA carry the same ranking
    signal classes exactly).

    Shape: wedge self-join keyed on the shared APEX neighbor, one
    partial-aggregable pair count, one degree join, one edge-flag
    left join. Unlike triangle_count there is NO degree
    orientation trick — CN needs every wedge — so a celebrity hub
    with degree d contributes d^2/2 wedges; `max_degree` is the
    standard mitigation (drop apexes above the cap, documented
    truncation: scores become lower bounds and the operator tags
    nothing silently — pass None for exact on bounded-degree
    graphs like the 23-host suite fixture)."""
    und = (
        edges.select("src", "dst")
        .union(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("deg")
    )
    apex = und.select(
        F.col("src").alias("apex"), F.col("dst").alias("leaf")
    )
    if max_degree is not None:
        apex = apex.join(
            deg.where(F.col("deg") <= int(max_degree)).select(
                F.col("node").alias("apex")
            ),
            "apex",
        )
    l = apex.alias("l")
    r = apex.alias("r")
    cn = (
        l.join(
            r,
            (F.col("l.apex") == F.col("r.apex"))
            & (F.col("l.leaf") < F.col("r.leaf")),
        )
        .groupBy(
            F.col("l.leaf").alias("a"), F.col("r.leaf").alias("b")
        )
        .agg(F.count("*").cast("long").alias("cn"))
    )
    is_edge = und.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"),
        F.col("dst").alias("b"),
        F.lit(True).alias("is_edge"),
    )
    return (
        cn.join(
            deg.select(F.col("node").alias("a"),
                       F.col("deg").alias("deg_a")),
            "a",
        )
        .join(
            deg.select(F.col("node").alias("b"),
                       F.col("deg").alias("deg_b")),
            "b",
        )
        .join(is_edge, ["a", "b"], "left")
        .select(
            "a", "b", "cn", "deg_a", "deg_b",
            (F.col("deg_a") * F.col("deg_b"))
            .cast("long")
            .alias("pa"),
            F.coalesce("is_edge", F.lit(False)).alias("is_edge"),
        )
    )
