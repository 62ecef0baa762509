"""HyperLogLog-style distinct sketches as JOINABLE register rows —
the mergeable twin of bloom.py's (word_idx, bits) filter.

The 100-TB shape: counting distinct URLs per domain (frontier
sizing, politeness budgets, per-source dedup ratios) with exact
count_distinct shuffles every key; an HLL register table shrinks
each group to m = 2^p longs via ONE map-side-combined groupBy
(max per register — longs max-commute, so the result is
bit-identical under any partitioning). Keeping the sketch AS A
DATAFRAME (group, reg, rho) instead of Spark's opaque
approx_count_distinct internal buffer makes it persistable next
to the snapshot manifest, mergeable across snapshots with a
union + max (hll_merge — sketch(A ∪ B) == merge exactly, tested),
and oracle-checkable.

Determinism: h = 48-bit md5-prefix integer (the bloom.py hash),
register = h mod m, and rho = leading-zero count of the remaining
(48-p)-bit word + 1 computed via the binary digit count
(`length(bin(w))` in Spark, `length(printf('%b', w))` in DuckDB —
the lm.py integer floor-log2 trick), so every register value is
integer-exact in any engine. The estimator keeps the register
fold integral too: sum(2^-rho) over registers is carried as the
exact bigint numerator Z = sum(2^(R - rho)) with R = 48 - p + 1,
absent registers contributing 2^R; the raw estimate
alpha_m * m^2 * 2^R / Z then uses only IEEE-pinned double ops
(multiply/divide — no ln), so the double agrees bit-for-bit with
the SQL replay. The small-range linear-counting branch needs
ln(), which is NOT IEEE-pinned — so instead of baking it in, the
summary exposes the exact `zeros` count and callers apply their
own correction."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _hash48(key) -> F.Column:
    """48-bit md5-prefix integer of `key` (bloom.py arithmetic)."""
    return F.conv(
        F.substring(F.md5(key), 1, 12), 16, 10
    ).cast("long")


def hll_registers(
    df: DataFrame,
    group_col: str,
    key_col: str,
    p: int = 6,
) -> DataFrame:
    """(group, reg, rho) — the HLL sketch of distinct key_col per
    group_col with m = 2^p registers. rho = leading-zero count of
    the (48-p)-bit hash remainder + 1; one groupBy(group, reg)
    with map-side-combined max. Registers no key hashed into are
    simply absent (rho 0 by convention, supplied by the
    estimator)."""
    m = 1 << p
    width = 48 - p
    h = _hash48(F.col(key_col))
    w = F.shiftright(h, p)
    rho = F.when(w == 0, F.lit(width + 1).cast("long")).otherwise(
        F.lit(width + 1) - F.length(F.bin(w)).cast("long")
    )
    return (
        df.select(
            F.col(group_col).alias("grp"),
            (h % m).alias("reg"),
            rho.alias("rho"),
        )
        .groupBy("grp", "reg")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two register tables (e.g. two snapshots' sketches):
    union + per-register max. Exactly equals sketching the unioned
    inputs (max is associative/commutative/idempotent)."""
    return (
        a.unionByName(b)
        .groupBy("grp", "reg")
        .agg(F.max("rho").alias("rho"))
    )


def hll_summary(regs: DataFrame, p: int = 6) -> DataFrame:
    """Per-group summary of a register table:
    (grp, zeros, z_num, raw_est) where zeros = empty registers,
    z_num = the exact bigint numerator sum(2^(R - rho)) with
    absent registers at rho 0, and raw_est = the HLL raw estimate
    alpha_m * m^2 * 2^R / z_num (double multiply/divide only —
    engine-exact). Callers apply linear counting below 2.5*m
    using `zeros` if they need the corrected small-range value."""
    m = 1 << p
    big_r = 48 - p + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    got = regs.groupBy("grp").agg(
        F.count("*").alias("_n"),
        F.sum(
            F.expr(
                "shiftleft(cast(1 as bigint),"
                f" cast({big_r} - rho as int))"
            )
        ).alias("_z_present"),
    )
    zeros = (F.lit(m) - F.col("_n")).cast("long")
    z_num = (
        F.col("_z_present") + zeros * F.lit(1 << big_r)
    ).cast("long")
    return got.select(
        "grp",
        zeros.alias("zeros"),
        z_num.alias("z_num"),
        (
            F.lit(alpha * m * m)
            * F.lit(float(1 << big_r))
            / z_num.cast("double")
        ).alias("raw_est"),
    )


def countmin_sketch(
    df: DataFrame,
    key_col: str,
    d: int = 4,
    w: int = 512,
) -> DataFrame:
    """Count-min sketch as joinable (row, col, cnt) rows — the
    counting member of the mergeable-sketch family (bloom.py:
    membership, hll_registers: distinct). Approximate frequencies
    for an unbounded key universe (term counts, URL hits) in
    d*w longs; merging two snapshots' sketches is elementwise
    addition (union + sum groupBy), and the estimate is an
    OVERESTIMATE, never an undercount — the safe direction for
    heavy-hitter cutoffs.

    One in-row explode (d (row, col) pairs per occurrence via the
    engine-portable md5-prefix hashes) + ONE map-side-combined
    groupBy bounded by d*w — counts sum-commute, so the sketch is
    identical under any partitioning."""
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).cast("long").alias("row"),
                    (
                        _hash48(
                            F.concat(
                                F.lit(f"{i}:"), F.col(key_col)
                            )
                        )
                        % w
                    ).alias("col"),
                )
                for i in range(d)
            ]
        )
    ).alias("p")
    return (
        df.select(pairs)
        .select("p.row", "p.col")
        .groupBy("row", "col")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def countmin_lookup(
    sketch: DataFrame,
    probes: DataFrame,
    key_col: str,
    d: int = 4,
    w: int = 512,
) -> DataFrame:
    """(key, est) — the count-min point query: est = min over the
    d rows of sketch[row, hash_row(key)]. The sketch (<= d*w
    rows) is BROADCAST to the probe side; one groupBy(key) min.
    est >= true count always (cells only ever aggregate
    collisions on top of the key's own occurrences)."""
    hashed = probes.select(
        F.col(key_col).alias("key"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("long").alias("row"),
                        (
                            _hash48(
                                F.concat(
                                    F.lit(f"{i}:"),
                                    F.col(key_col),
                                )
                            )
                            % w
                        ).alias("col"),
                    )
                    for i in range(d)
                ]
            )
        ).alias("p"),
    ).select("key", "p.row", "p.col")
    joined = hashed.join(F.broadcast(sketch), ["row", "col"])
    return joined.groupBy("key").agg(
        F.min("cnt").alias("est")
    )


def countmin_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two count-min sketches (same d, w, hashes):
    elementwise addition — union + sum groupBy. Exactly equals
    sketching the concatenated inputs (counts sum-commute)."""
    return (
        a.unionByName(b)
        .groupBy("row", "col")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def heavy_hitters(
    df: DataFrame,
    key_col: str,
    threshold: int,
    d: int = 4,
    w: int = 512,
) -> DataFrame:
    """Exact keys with count >= threshold, via the two-phase
    sketch-then-verify plan — the pattern that finds heavy terms /
    hot URLs / megacity cells in one bounded-state pass plus one
    candidate-only exact pass:

    1. count-min sketch (shuffle bounded by d*w, never |vocab|);
    2. the HOT CELLS (cnt >= threshold, at most d*w of them — a
       bounded driver collect, like the gazetteer broadcasts) turn
       into d literal IN-sets; a key can only be heavy if ALL d of
       its cells are hot, so the gate runs map-side in whole-stage
       codegen: d hash + InSet probes per occurrence, no explode,
       no join;
    3. exact groupBy over the surviving occurrences only, then the
       true HAVING cnt >= threshold.

    Exact because count-min never undercounts: every truly-heavy
    key passes the gate (its d cells each hold >= its true count),
    and phase 3 removes the false positives. The oracle is the
    plain GROUP BY ... HAVING — the sketch is pure pruning."""
    sketch = countmin_sketch(df, key_col, d=d, w=w)
    hot = sketch.filter(F.col("cnt") >= threshold).collect()
    cols_by_row: dict[int, list[int]] = {i: [] for i in range(d)}
    for r in hot:
        cols_by_row[int(r["row"])].append(int(r["col"]))
    pred = None
    for i in range(d):
        ci = _hash48(F.concat(F.lit(f"{i}:"), F.col(key_col))) % w
        p = (
            ci.isin(cols_by_row[i])
            if cols_by_row[i]
            else F.lit(False)
        )
        pred = p if pred is None else pred & p
    return (
        df.filter(pred)
        .groupBy(F.col(key_col).alias("key"))
        .agg(F.count("*").cast("long").alias("cnt"))
        .filter(F.col("cnt") >= threshold)
    )


def binned_quantiles(
    df: DataFrame,
    value_col: str,
    ps: tuple[int, ...] = (50, 90, 99),
    bin_shift: int = 4,
) -> DataFrame:
    """Mergeable binned-histogram quantile sketch — the bounded-
    state twin of indexing.exact_percentiles.

    exact_percentiles' histogram is bounded by the number of
    DISTINCT values; for long-tailed columns that bound is the
    corpus. Binning (value >> bin_shift) caps the histogram at
    range/2^bin_shift rows no matter what, the bins are mergeable
    across snapshots by plain summation (countmin_merge-style), and
    the answer carries a DETERMINISTIC error certificate: the true
    ceil-rank percentile provably lies in [lo, hi] of the reported
    bin, because binning preserves order (v1 <= v2 implies
    bin(v1) <= bin(v2)), so the first bin whose cumulative count
    reaches the target rank contains the rank-th order statistic.

    Unlike approx_percentile, the result is independent of
    partition order — same integer bins, same sums, any plan —
    which is what makes it oracle-checkable.

    One row per requested percentile:
      (p, bin, lo, hi, cum_le, n_rows)
    with cum_le = exact count of values < (bin+1) << bin_shift.

    Plan: ONE corpus pass (map-side-combined groupBy(bin)); the
    cumulative window, the total (= max cumulative — no second
    corpus count), and the per-p argmins all run over the tiny
    pinned bin table (the Exchange carries bins, not the corpus).
    Negative values are fine: arithmetic shiftright floors toward
    -inf, keeping bins ordered.
    """
    return quantiles_from_bins(
        bin_hist(df, value_col, bin_shift), ps, bin_shift
    )


def bin_hist(
    df: DataFrame, value_col: str, bin_shift: int = 4
) -> DataFrame:
    """The sketch state itself: (bin, _c) counts, one map-side-
    combined corpus pass.  Mergeable by summation."""
    v = F.col(value_col).cast("long")
    return df.groupBy(
        F.shiftright(v, bin_shift).alias("bin")
    ).agg(F.count("*").cast("long").alias("_c"))


def quantiles_from_bins(
    hist: DataFrame,
    ps: tuple[int, ...] = (50, 90, 99),
    bin_shift: int = 4,
) -> DataFrame:
    """Finish a (bin, _c) histogram — batch-built or merged —
    into the certified percentile rows binned_quantiles
    documents."""
    from pyspark.sql import Window

    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # tiny (one row per occupied bin); pinned so the corpus groupBy
    # runs once, not once per consumer
    cum = hist.withColumn(
        "cum_le", F.sum("_c").over(w)
    ).localCheckpoint(eager=False)
    tot = cum.agg(F.max("cum_le").cast("long").alias("n_rows"))
    joined = cum.crossJoin(F.broadcast(tot))
    agg_row = joined.groupBy("n_rows").agg(
        *[
            F.min(
                F.when(
                    F.col("cum_le")
                    >= F.expr(f"({p} * n_rows + 99) div 100"),
                    F.col("bin"),
                )
            ).alias(f"_b{p}")
            for p in ps
        ]
    )
    rows = agg_row.select(
        "n_rows",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).cast("long").alias("p"),
                        F.col(f"_b{p}").alias("bin"),
                    )
                    for p in ps
                ]
            )
        ).alias("s"),
    ).select("s.p", "s.bin", "n_rows")
    return rows.join(
        cum.select("bin", "cum_le"), "bin", "left"
    ).select(
        "p",
        "bin",
        F.shiftleft(F.col("bin"), bin_shift).alias("lo"),
        (F.shiftleft(F.col("bin") + 1, bin_shift) - 1).alias("hi"),
        "cum_le",
        "n_rows",
    )


# ----------------------------------------------------------------
# KMV (k-minimum-values / theta) sketches: the set-operations
# member of the mergeable family — HLL answers "how many distinct",
# count-min answers "how often", KMV also answers "how much do two
# sets OVERLAP" (intersection/Jaccard), which register sketches
# cannot. State = the k smallest distinct 48-bit key hashes per
# group: exact integers, so sketches, merges, and estimates replay
# bit-for-bit in any engine (raw estimates keep to IEEE-pinned
# multiply/divide over exact integer pieces, the HLL discipline).
# ----------------------------------------------------------------


def kmv_sketch(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int = 64,
    n_salts: int = 16,
) -> DataFrame:
    """(grp, rank, h): the k smallest DISTINCT md5-48 hashes of
    `key_col` per group, rank 1..k by h ascending (no ties — the
    hashes are distinct).

    Plan: one distinct shuffle on (grp, h), then a salted two-stage
    top-k (the tile_doc_lists skew pattern): stage 1 ranks within
    (grp, h % n_salts) so a hot group's candidate pass runs on
    n_salts tasks and keeps <= k rows per salt; stage 2 ranks the
    <= k*n_salts survivors per group. No SinglePartition window,
    state bounded by k everywhere."""
    from pyspark.sql import Window

    h = _hash48(F.col(key_col))
    dh = df.select(
        F.col(group_col).alias("grp"), h.alias("h")
    ).distinct()
    w1 = Window.partitionBy("grp", F.col("h") % n_salts).orderBy("h")
    stage1 = dh.withColumn("r1", F.row_number().over(w1)).where(
        F.col("r1") <= k
    )
    w2 = Window.partitionBy("grp").orderBy("h")
    return (
        stage1.select("grp", "h")
        .withColumn("rank", F.row_number().over(w2).cast("long"))
        .where(F.col("rank") <= k)
    )


def kmv_merge(a: DataFrame, b: DataFrame, k: int = 64) -> DataFrame:
    """Merge two KMV sketches: k smallest of the hash union —
    identical to sketching the union of the underlying sets
    (tested), so snapshot sketches compose."""
    from pyspark.sql import Window

    u = (
        a.select("grp", "h")
        .unionByName(b.select("grp", "h"))
        .distinct()
    )
    w = Window.partitionBy("grp").orderBy("h")
    return u.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).where(F.col("rank") <= k)


def kmv_summary(sketch: DataFrame, k: int = 64) -> DataFrame:
    """(grp, k_eff, h_k, raw_est): distinct-count estimate
    (k_eff-1) * 2^48 / h_k from the exact integer pieces; when the
    group has fewer than k distinct keys (k_eff < k) the sketch IS
    the exact distinct set and raw_est is overridden by k_eff."""
    agg = sketch.groupBy("grp").agg(
        F.count("*").cast("long").alias("k_eff"),
        F.max("h").alias("h_k"),
    )
    est = (
        (F.col("k_eff") - 1).cast("double")
        * F.lit(float(1 << 48))
        / F.col("h_k").cast("double")
    )
    return agg.select(
        "grp",
        "k_eff",
        "h_k",
        F.when(F.col("k_eff") < k, F.col("k_eff").cast("double"))
        .otherwise(est)
        .alias("raw_est"),
    )


def kmv_intersect(
    a: DataFrame, b: DataFrame, k: int = 64
) -> DataFrame:
    """Theta-sketch set operations from two KMV sketches:
    (grp, u_eff, h_k, c, jacc, inter_est) where the k smallest
    hashes of the union form the combined sample, c counts sample
    hashes present in BOTH sketches, jacc = c/u_eff, and
    inter_est = jacc * union raw estimate. All inputs to the two
    divisions are exact integers."""
    # pinned: each sketch feeds BOTH the merge and the both-sides
    # probe — without the pin each consumer re-runs the sketch's
    # corpus lineage (the q76 fan-out lesson)
    a = a.localCheckpoint(eager=False)
    b = b.localCheckpoint(eager=False)
    m = kmv_merge(a, b, k)
    both = (
        a.select("grp", "h")
        .join(b.select("grp", "h"), ["grp", "h"], "left_semi")
    )
    flags = m.join(
        both.withColumn("_b", F.lit(1)), ["grp", "h"], "left"
    )
    agg = flags.groupBy("grp").agg(
        F.count("*").cast("long").alias("u_eff"),
        F.max("h").alias("h_k"),
        F.sum(F.coalesce("_b", F.lit(0))).cast("long").alias("c"),
    )
    u_est = F.when(
        F.col("u_eff") < k, F.col("u_eff").cast("double")
    ).otherwise(
        (F.col("u_eff") - 1).cast("double")
        * F.lit(float(1 << 48))
        / F.col("h_k").cast("double")
    )
    jacc = F.col("c").cast("double") / F.col("u_eff").cast("double")
    return agg.select(
        "grp",
        "u_eff",
        "h_k",
        "c",
        jacc.alias("jacc"),
        (jacc * u_est).alias("inter_est"),
    )


def grouped_binned_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ps: tuple[int, ...] = (50, 90, 99),
    bin_shift: int = 4,
) -> DataFrame:
    """Per-GROUP binned-quantile sketch — binned_quantiles with the
    cumulative window and the per-percentile argmins partitioned by
    the group (per-language length percentiles, per-domain quality
    brackets): no SinglePartition funnel anywhere, state bounded by
    groups x range/2^bin_shift bins, same deterministic [lo, hi]
    certificate per row.  One corpus pass; everything after the
    first groupBy runs over the bin table."""
    from pyspark.sql import Window

    v = F.col(value_col).cast("long")
    hist = df.groupBy(
        F.col(group_col).alias("grp"),
        F.shiftright(v, bin_shift).alias("bin"),
    ).agg(F.count("*").cast("long").alias("_c"))
    w = (
        Window.partitionBy("grp")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn(
        "cum_le", F.sum("_c").over(w)
    ).localCheckpoint(eager=False)
    tot = cum.groupBy("grp").agg(
        F.max("cum_le").cast("long").alias("n_rows")
    )
    joined = cum.join(tot, "grp")
    agg_row = joined.groupBy("grp", "n_rows").agg(
        *[
            F.min(
                F.when(
                    F.col("cum_le")
                    >= F.expr(f"({p} * n_rows + 99) div 100"),
                    F.col("bin"),
                )
            ).alias(f"_b{p}")
            for p in ps
        ]
    )
    rows = agg_row.select(
        "grp",
        "n_rows",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).cast("long").alias("p"),
                        F.col(f"_b{p}").alias("bin"),
                    )
                    for p in ps
                ]
            )
        ).alias("s"),
    ).select("grp", "s.p", "s.bin", "n_rows")
    return rows.join(
        cum.select("grp", "bin", "cum_le"), ["grp", "bin"], "left"
    ).select(
        "grp",
        "p",
        "bin",
        F.shiftleft(F.col("bin"), bin_shift).alias("lo"),
        (F.shiftleft(F.col("bin") + 1, bin_shift) - 1).alias("hi"),
        "cum_le",
        "n_rows",
    )
