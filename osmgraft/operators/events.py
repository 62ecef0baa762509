"""Event-stream sessionization (osmupdate's minutely diffs are an
event stream over object ids; a web-analytics pipeline's
clickstream is the same shape over user ids).

Gaps-and-islands at scale: ONE shuffle keyed by `user_id` (the
window partition), then everything — lag, session flags, running
sum, the per-session aggregate — happens inside that partition.
No global sort, no driver state; per-key state is bounded by one
user's history exactly like Flink/Structured-Streaming keyed
session windows. The same-key groupBy after the window reuses the
partitioning, so the executed plan carries a single Exchange.

Determinism: ordering ties broken by `event_id`; gap arithmetic on
floor-epoch seconds (Spark's `unix_timestamp` floors; the oracle
must use `floor(epoch(ts))`, NOT a bare `CAST(... AS BIGINT)`
which rounds in DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def sessionize(
    events: DataFrame, gap_s: int = 1800
) -> DataFrame:
    """Split each user's event stream into sessions separated by
    more than `gap_s` seconds of inactivity.

    Returns one row per session: (user_id, session_idx 1-based in
    time order, start_epoch, end_epoch, n_events, n_types).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    te = F.unix_timestamp("ts")
    # The first event of a user (lag NULL) starts session 1.
    is_new = F.coalesce(
        F.when(te - F.lag(te).over(w) > F.lit(gap_s), F.lit(1)),
        F.when(F.lag(te).over(w).isNull(), F.lit(1)),
        F.lit(0),
    )
    marked = events.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        te.alias("te"),
        is_new.alias("is_new"),
    ).withColumn("session_idx", F.sum("is_new").over(wrun))
    return (
        marked.groupBy("user_id", "session_idx")
        .agg(
            F.min("te").alias("start_epoch"),
            F.max("te").alias("end_epoch"),
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
        )
        .select(
            "user_id",
            F.col("session_idx").cast("long").alias("session_idx"),
            "start_epoch",
            "end_epoch",
            "n_events",
            "n_types",
        )
    )


def session_stats(events: DataFrame, gap_s: int = 1800) -> DataFrame:
    """Per-user session summary over :func:`sessionize`: how many
    sessions, the longest session (events), and total active span
    (sum of per-session durations in seconds)."""
    s = sessionize(events, gap_s=gap_s)
    return s.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
        F.sum(F.col("end_epoch") - F.col("start_epoch"))
        .cast("long")
        .alias("active_span_s"),
    )


def retention_cohorts(
    events: DataFrame, period_days: int = 7
) -> DataFrame:
    """Cohort retention matrix: (cohort, offset, n_users) where
    cohort = the user's first-activity period (days-since-epoch
    div period_days — pure DATE arithmetic, no timezone- or
    epoch-fraction-dependent functions, so any engine agrees),
    and n_users counts the cohort's users active `offset` periods
    later (offset 0 row = cohort size).

    Plan: distinct (user, period) — one shuffle bounded by
    user-periods, not events; per-user min via one groupBy; the
    cohort join is user-keyed (AQE); final groupBy is tiny.
    Nothing holds per-event state."""
    per = F.expr(
        f"datediff(to_date(ts), DATE'1970-01-01') div {period_days}"
    ).cast("long")
    ua = events.select(
        F.col("user_id"), per.alias("p")
    ).distinct()
    first = ua.groupBy("user_id").agg(
        F.min("p").alias("cohort")
    )
    return (
        ua.join(first, "user_id")
        .select("cohort", (F.col("p") - F.col("cohort")).alias("offset"))
        .groupBy("cohort", "offset")
        .agg(F.count("*").cast("long").alias("n_users"))
    )


def event_spikes(
    events: DataFrame, factor: int = 2
) -> DataFrame:
    """Rate-anomaly report: hours whose per-type event count is at
    least `factor`x the type's mean hourly rate, decided by exact
    integer cross-multiplication (cnt * n_hours >= factor * total
    — no division, no floats, so any engine flags the same hours).
    Hour buckets come from pure DATE/HOUR arithmetic
    (days-since-epoch * 24 + hour), timezone-free.

    Plan: one groupBy(type, hour) count (map-side combined), one
    tiny groupBy(type) rollup, one type-keyed join — nothing holds
    per-event state; output (event_type, hr, cnt, total, n_hours)."""
    return spikes_from_counts(hour_counts(events), factor)


def hour_counts(events: DataFrame) -> DataFrame:
    """(event_type, hr, cnt) — the bounded state event_spikes
    keeps (hr = days-since-epoch * 24 + hour, timezone-free)."""
    hr = (
        F.expr("datediff(to_date(ts), DATE'1970-01-01')") * 24
        + F.hour("ts")
    ).cast("long")
    return events.select(
        "event_type", hr.alias("hr")
    ).groupBy("event_type", "hr").agg(
        F.count("*").cast("long").alias("cnt")
    )


def spikes_from_counts(
    counts: DataFrame, factor: int = 2
) -> DataFrame:
    """Finish an (event_type, hr, cnt) table into the flagged-hours
    report event_spikes documents."""
    stats = counts.groupBy("event_type").agg(
        F.sum("cnt").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_hours"),
    )
    return (
        counts.join(stats, "event_type")
        .where(
            F.col("cnt") * F.col("n_hours")
            >= F.lit(factor) * F.col("total")
        )
        .select("event_type", "hr", "cnt", "total", "n_hours")
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """Markov transition counts over each user's time-ordered
    event sequence: (prev_type, event_type, n) — the behavioral
    matrix funnels and sessionizers start from. One user-keyed
    window (ordered by ts, event_id for a total order) + one
    bounded groupBy; nothing holds per-event state past the
    window."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = events.select(
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).where(F.col("prev_type").isNotNull())
    return steps.groupBy("prev_type", "event_type").agg(
        F.count("*").cast("long").alias("n")
    )


def od_matrix(
    located_events: DataFrame,
    region_col: str = "region",
    outside: str = "OUT",
) -> DataFrame:
    """Origin->destination flow matrix over per-user event
    sequences: each user's time-ordered events yield one trip per
    consecutive pair of located events, counted per
    (from_region, to_region). Events outside every region are a
    real state (`outside`), mapped BEFORE the lag so a leading
    null can't masquerade as "no previous event". One user-keyed
    shuffle (the window) + one bounded groupBy (#regions^2 rows) —
    the region assignment itself is in-row, so the whole OD
    pipeline costs a single shuffle at any corpus size."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = F.coalesce(F.col(region_col), F.lit(outside))
    steps = located_events.select(
        r.alias("to_region"),
        F.lag(r).over(w).alias("from_region"),
    ).where(F.col("from_region").isNotNull())
    return steps.groupBy("from_region", "to_region").agg(
        F.count("*").cast("long").alias("n_trips")
    )


def interval_pairs(
    left: DataFrame,
    right: DataFrame,
    tolerance_s: int = 300,
) -> DataFrame:
    """Batch interval join: every (left event, right event) pair of
    the same user with |right.ts - left.ts| <= tolerance_s, gap in
    exact microseconds.

    Scale shape: ONE equi-join keyed on user_id (sort-merge or
    shuffled-hash as AQE picks; the range predicate rides along as
    the join's secondary condition), so cost is one user-keyed
    shuffle per side — never a cross product. Per-user pair count
    is bounded by activity x tolerance; a pathological single-user
    feed is the documented skew case (AQE skew-join splits it).

    Inputs carry (user_id, event_id, ts); timestamps compare as
    unix_micros longs so the gap is integer-exact. REQUIRES a
    fixed-offset session timezone (osmgraft.session pins
    spark.sql.session.timeZone=UTC): the parquet ts is NTZ and the
    cast to instant applies the session offset, which cancels in
    the gap only when that offset is constant — under a
    DST-observing zone the two sides of a transition get different
    offsets and the gap is off by the DST shift."""
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    lf = left.select(
        "user_id",
        F.col("event_id").alias("left_id"),
        us("ts").alias("lus"),
    )
    rt = right.select(
        F.col("user_id").alias("r_user"),
        F.col("event_id").alias("right_id"),
        us("ts").alias("rus"),
    )
    tol_us = int(tolerance_s) * 1_000_000
    return (
        lf.join(
            rt,
            (F.col("user_id") == F.col("r_user"))
            & (F.col("rus") >= F.col("lus") - F.lit(tol_us))
            & (F.col("rus") <= F.col("lus") + F.lit(tol_us)),
            "inner",
        )
        .select(
            "user_id",
            "left_id",
            "right_id",
            F.abs(F.col("rus") - F.col("lus")).alias("gap_us"),
        )
    )


def stay_points(
    located: DataFrame,
    min_dwell_s: int = 3600,
    min_points: int = 2,
) -> DataFrame:
    """Trajectory stay-point / dwell detection (the tile-run
    variant of Li et al.'s stay-point construction, "Mining user
    similarity based on location history", ACM GIS 2008): a stay
    is a MAXIMAL run of a user's consecutive fixes that land in
    the same tile cell, kept when it spans >= min_points fixes and
    >= min_dwell_s seconds. Input: (user_id, event_id, ts, cell);
    output one row per stay: (user_id, cell, enter_event_id,
    exit_event_id, n_points, dwell_us).

    Same gaps-and-islands shape as sessionize — the island key is
    the CELL changing rather than a time gap: ONE user-keyed
    shuffle, then lag/run-sum/aggregate all inside the partition;
    the run groupBy reuses the window's partitioning so the plan
    carries a single Exchange. Per-user state is one user's
    history; dwell is integer microseconds (unix_micros on both
    engines' side). REQUIRES a fixed-offset session timezone
    (osmgraft.session pins spark.sql.session.timeZone=UTC): the
    NTZ session offset cancels in the difference only when it is
    constant — a DST transition inside a stay would skew dwell_us
    by the shift under a DST-observing zone."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    is_new = F.when(
        F.lag("cell").over(w).isNull()
        | (F.lag("cell").over(w) != F.col("cell")),
        F.lit(1),
    ).otherwise(F.lit(0))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    runs = located.select(
        "user_id",
        "event_id",
        "cell",
        us.alias("tus"),
        F.sum(is_new).over(wrun).alias("run_id"),
    )
    out = (
        runs.groupBy("user_id", "run_id", "cell")
        .agg(
            F.min_by("event_id", F.struct("tus", "event_id")).alias(
                "enter_event_id"
            ),
            F.max_by("event_id", F.struct("tus", "event_id")).alias(
                "exit_event_id"
            ),
            F.count("*").cast("long").alias("n_points"),
            (F.max("tus") - F.min("tus")).alias("dwell_us"),
        )
        .where(
            (F.col("n_points") >= F.lit(int(min_points)))
            & (F.col("dwell_us") >= F.lit(int(min_dwell_s) * 1_000_000))
        )
    )
    return out.select(
        "user_id",
        "cell",
        "enter_event_id",
        "exit_event_id",
        "n_points",
        "dwell_us",
    )


def _colocation_presence(
    located: DataFrame, bucket_s: int
) -> DataFrame:
    """Deduped (user_id, cell, bucket) presence table shared by
    colocation_pairs and colocation_overflow, so the guard and
    its report bucket time identically."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    bucket_us = int(bucket_s) * 1_000_000
    return (
        located.select("user_id", "cell", us.alias("tus"))
        .select(
            "user_id",
            "cell",
            # integer division: exact on both engines (epoch micros
            # are non-negative, so div == floor-div)
            F.expr(f"tus div {bucket_us}").cast("long").alias("bucket"),
        )
        .distinct()
    )


def colocation_overflow(
    located: DataFrame,
    bucket_s: int = 3600,
    max_group_users: int = 64,
) -> DataFrame:
    """Explicit overflow report for colocation_pairs' density
    guard: the (cell, bucket) groups whose user count exceeds
    `max_group_users` — exactly the groups the guarded join drops
    — as (cell, bucket, n_users). One row per hot group, never
    per pair, so the report stays bounded even when the hotspot
    itself would not."""
    pres = _colocation_presence(located, bucket_s)
    return (
        pres.groupBy("cell", "bucket")
        .agg(F.count("*").cast("long").alias("n_users"))
        .where(F.col("n_users") > int(max_group_users))
    )


def colocation_pairs(
    located: DataFrame,
    bucket_s: int = 3600,
    max_group_users: int | None = None,
) -> DataFrame:
    """Spatio-temporal co-location join (the contact-graph
    primitive): every unordered pair of DISTINCT users observed in
    the SAME tile cell during the SAME time bucket, with encounter
    counts. Input (user_id, ts, cell); output (user_a, user_b,
    n_encounters, n_cells) with user_a < user_b.

    Scale shape: presence is first deduped to one row per (user,
    cell, bucket) — a single composite-key aggregate that bounds
    the join input by #users x #occupied buckets — then ONE
    self-equi-join on (cell, bucket) builds the pairs. Never a
    cross product; the join key carries both dimensions. Dense
    (cell, bucket) groups are the operator's inherent output (k
    users -> k(k-1)/2 pairs); AQE skew-join splits the megacity
    hotspot groups, and a coarser bucket_s / finer cell shift are
    the two knobs that shrink group size at planet scale.

    Density guard (`max_group_users`): those knobs shrink typical
    groups but cannot BOUND the worst one — a stadium cell at
    kickoff yields k(k-1)/2 pairs for any fixed geometry. With
    the guard set, (cell, bucket) groups holding more than
    `max_group_users` users contribute no pairs, capping work at
    (#groups) * cap² — linear in occupied space-time, not
    quadratic in hotspot density. The trade is explicit:
    colocation_overflow(located, bucket_s, cap) names the dropped
    groups and their sizes. Guard OFF (None) keeps the exact
    all-pairs-within-group semantics for oracle twins."""
    pres = _colocation_presence(located, bucket_s)
    if max_group_users is not None:
        hot = (
            pres.groupBy("cell", "bucket")
            .agg(F.count("*").alias("_n"))
            .where(F.col("_n") > int(max_group_users))
            .select("cell", "bucket")
        )
        # hot groups are by definition few -> broadcast anti-join
        pres = pres.join(
            F.broadcast(hot), ["cell", "bucket"], "left_anti"
        )
    a = pres.select(
        F.col("user_id").alias("user_a"), "cell", "bucket"
    )
    b = pres.select(
        F.col("user_id").alias("user_b"),
        F.col("cell").alias("b_cell"),
        F.col("bucket").alias("b_bucket"),
    )
    return (
        a.join(
            b,
            (F.col("cell") == F.col("b_cell"))
            & (F.col("bucket") == F.col("b_bucket"))
            & (F.col("user_a") < F.col("user_b")),
        )
        .groupBy("user_a", "user_b")
        .agg(
            F.count("*").cast("long").alias("n_encounters"),
            F.countDistinct("cell").cast("long").alias("n_cells"),
        )
    )


def cusum_mean_shift(
    dense_counts: DataFrame,
    key_col: str = "event_type",
    t_col: str = "day",
    n_col: str = "n_events",
    allowance: int = 1,
    threshold: int = 5,
) -> DataFrame:
    """One-sided CUSUM mean-shift statistic per key over a DENSE
    (gap-filled) integer time series, exactly and without any
    sequential recurrence.

    Textbook CUSUM is S_t = max(0, S_{t-1} + x_t - mu - k) — a
    reset recurrence no window function expresses directly. The
    prefix identity makes it windowable:

        S_t = P_t - min(0, min_{j<=t} P_j),   P_t = sum_{j<=t} z_t

    (the running minimum replays every reset). To stay integer-
    exact, everything is scaled by D = the key's series length:
    z_t = x_t*D - T - k*D where T = the key's total (so mu = T/D
    never materializes as a float). Alarms fire where
    S_t > threshold*D, i.e. the cumulated excess over
    (mean + allowance) exceeds `threshold` counts.

    One shuffle on key_col; both windows (running sum, running min)
    and the per-key aggregates share that single partitioning —
    the same Exchange-reuse shape as sessionize above. Assumes the
    dense frame (e.g. suite.q158's calendar) so silent days count
    against the statistic, as CUSUM semantics require.
    """
    w_key = Window.partitionBy(key_col)
    w_run = (
        Window.partitionBy(key_col)
        .orderBy(t_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    scaled = dense_counts.select(
        key_col,
        t_col,
        F.col(n_col).cast("long").alias("x"),
        F.count("*").over(w_key).cast("long").alias("d_scale"),
        F.sum(n_col).over(w_key).cast("long").alias("total"),
    ).withColumn(
        "z",
        F.col("x") * F.col("d_scale")
        - F.col("total")
        - F.lit(int(allowance)) * F.col("d_scale"),
    )
    run = scaled.select(
        key_col,
        t_col,
        "x",
        "d_scale",
        F.sum("z").over(w_run).alias("p"),
    ).withColumn("pmin", F.min("p").over(w_run))
    return run.select(
        key_col,
        t_col,
        F.col("x").alias(n_col),
        (F.col("p") - F.least(F.lit(0), F.col("pmin")))
        .cast("long")
        .alias("cusum_scaled"),
        F.col("d_scale").alias("scale"),
        (
            F.col("p") - F.least(F.lit(0), F.col("pmin"))
            > F.lit(int(threshold)) * F.col("d_scale")
        ).alias("is_alarm"),
    )


def sequence_funnel(
    events: DataFrame,
    steps: list[str],
    step_window_s: int = 86400,
) -> DataFrame:
    """Ordered-sequence funnel: per user, how many step-1 events
    complete the whole chain, where each next step is the EARLIEST
    same-user event of that type strictly after the previous step
    and within step_window_s of it (the deterministic
    "next-step" matching product analytics uses — counting ALL
    completions would be combinatorial and useless).

    Scale shape per step: candidate pairing is the bucketed
    interval-join pattern (interval_pairs above) — anchors explode
    to their time bucket and the next one (fan-out exactly 2), the
    join is an equi-join on (user_id, bucket) so no range
    cross-join ever forms, and the earliest match is a groupBy-min
    on the anchor id. len(steps)-1 such rounds; timestamps are
    integer micros end to end.

    Output: (user_id, n_anchors, n_converted).
    """
    win_us = step_window_s * 1_000_000
    typed = events.select(
        "user_id",
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        F.col("event_id").alias("anchor_id"),
    )
    frontier = typed.where(
        F.col("event_type") == steps[0]
    ).select("user_id", "anchor_id", F.col("us").alias("fr_us"))
    anchors = frontier.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_anchors")
    )
    for step in steps[1:]:
        nxt = typed.where(F.col("event_type") == step).select(
            "user_id",
            F.col("us").alias("nx_us"),
            F.expr(f"us div {win_us}").alias("bucket"),
        )
        cand = (
            frontier.select(
                "user_id",
                "anchor_id",
                "fr_us",
                F.explode(
                    F.array(
                        F.expr(f"fr_us div {win_us}"),
                        F.expr(f"fr_us div {win_us} + 1"),
                    )
                ).alias("bucket"),
            )
            .join(nxt, ["user_id", "bucket"])
            .where(
                (F.col("nx_us") > F.col("fr_us"))
                & (F.col("nx_us") <= F.col("fr_us") + F.lit(win_us))
            )
        )
        frontier = cand.groupBy("user_id", "anchor_id").agg(
            F.min("nx_us").alias("fr_us")
        )
    converted = frontier.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_converted")
    )
    return anchors.join(converted, "user_id", "left").select(
        "user_id",
        "n_anchors",
        F.coalesce("n_converted", F.lit(0))
        .cast("long")
        .alias("n_converted"),
    )


def robust_spikes(
    counts: DataFrame,
    key_col: str = "event_type",
    t_col: str = "hr",
    n_col: str = "cnt",
    k_mad: int = 3,
) -> DataFrame:
    """Median/MAD spike detection — the robust sibling of
    event_spikes (mean-based flags drown when the spike itself
    inflates the mean; the median and the median absolute deviation
    ignore any minority of wild hours by construction).

    All integer, no percentile_approx: the LOWER MEDIAN is the
    value at row_number (n+1) div 2 under the deterministic
    (value, t) order, computed per key with one window + a
    self-join of the 1-row-per-key median back onto the series; MAD
    repeats the identical trick over |x - median|. A point is a
    spike when x - med > k_mad * mad (one-sided, strict).

    Shape: everything partitions by key_col — two window sorts over
    each key's own series and two key-equi-joins, no global funnel;
    per-key state bounded by that key's series length.
    """
    from pyspark.sql import Window

    def lower_median(df: DataFrame, val: str, out: str) -> DataFrame:
        w = Window.partitionBy("k").orderBy(val, t_col)
        wc = Window.partitionBy("k")
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .withColumn("_n", F.count("*").over(wc))
            .where(F.expr("_rn = (_n + 1) div 2"))
            .select("k", F.col(val).alias(out))
        )

    base = counts.select(
        F.col(key_col).alias("k"),
        F.col(t_col).alias(t_col),
        F.col(n_col).cast("long").alias("x"),
    )
    med = lower_median(base, "x", "med")
    with_med = base.join(med, "k").withColumn(
        "dev", F.abs(F.col("x") - F.col("med"))
    )
    mad = lower_median(with_med, "dev", "mad")
    return (
        with_med.join(mad, "k")
        .select(
            F.col("k").alias(key_col),
            t_col,
            F.col("x").alias(n_col),
            "med",
            "mad",
            (
                F.col("x") - F.col("med")
                > F.lit(int(k_mad)) * F.col("mad")
            ).alias("is_spike"),
        )
    )


def gps_jump_profile(
    fixes: DataFrame,
    max_cheb_per_s: int = 1000,
) -> DataFrame:
    """Trajectory hygiene: per-user GPS fix profiling with
    teleport-jump detection — the standard cleaning pass before any
    trajectory analytics (stay points, co-location, map matching
    all assume physically plausible tracks).

    Input (user_id, us, x, y): epoch micros + fixed-point coords.
    A MOVE is a consecutive fix pair (user order by us, ties by x
    then y for total determinism); its Chebyshev speed is
    max(|dx|, |dy|) per second, long-safe at any coordinate
    magnitude (a squared-euclidean speed on fix7 coords would
    overflow int64 at antipodal jumps — and for a plausibility
    GATE the metric choice is free, so the operator DEFINES speed
    as Chebyshev and documents it). A move is a JUMP when speed
    exceeds max_cheb_per_s, where zero-elapsed moves (dt = 0) that
    displace at all are jumps by definition.

    speed = (cheb * 1000000) div dt_us — integer floor, exact in
    every engine for the non-negative operands here.

    One shuffle (the user window), one groupBy on the same key —
    the sessionize Exchange-reuse shape. Output per user:
    (user_id, n_fixes, n_moves, n_jumps, max_speed) with max_speed
    the largest finite move speed (NULL if no finite moves).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("us", "x", "y")
    moves = fixes.select(
        "user_id",
        "us",
        "x",
        "y",
        (F.col("us") - F.lag("us").over(w)).alias("dt"),
        F.abs(F.col("x") - F.lag("x").over(w)).alias("adx"),
        F.abs(F.col("y") - F.lag("y").over(w)).alias("ady"),
    )
    cheb = F.greatest("adx", "ady")
    speed = F.expr(
        "(greatest(adx, ady) * 1000000) div dt"
    )
    classified = moves.select(
        "user_id",
        F.lit(1).cast("long").alias("one"),
        F.col("dt").isNotNull().alias("is_move"),
        F.when(
            F.col("dt").isNull(), F.lit(False)
        )
        .when(F.col("dt") == 0, cheb > 0)
        .otherwise(speed > F.lit(int(max_cheb_per_s)))
        .alias("is_jump"),
        F.when(
            F.col("dt").isNotNull() & (F.col("dt") > 0), speed
        ).alias("speed"),
    )
    return classified.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_fixes"),
        F.sum(F.col("is_move").cast("long"))
        .cast("long")
        .alias("n_moves"),
        F.sum(F.col("is_jump").cast("long"))
        .cast("long")
        .alias("n_jumps"),
        F.max("speed").cast("long").alias("max_speed"),
    )


def collapse_bursts(
    events: DataFrame, window_s: int = 60
) -> DataFrame:
    """Retry/burst deduplication: collapse runs of same-user
    same-type events separated by <= window_s seconds into one
    logical event (the earliest), counting what was absorbed — the
    cleaning pass for at-least-once event producers whose retries
    would otherwise inflate every downstream count.

    Gaps-and-islands per (user_id, event_type): a run starts where
    the previous same-key event is more than window_s away (floor
    epoch seconds, the sessionize discipline). One shuffle on the
    composite key; the groupBy reuses the window partitioning.

    Output one row per burst: (user_id, event_type, first_us,
    last_us, n_raw) — n_raw = 1 means the event was never retried.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy(
        "us", "event_id"
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    typed = events.select(
        "user_id",
        "event_type",
        "event_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
    )
    marked = typed.withColumn(
        "is_new",
        F.coalesce(
            F.when(
                F.col("us") - F.lag("us").over(w)
                > F.lit(window_s * 1_000_000),
                F.lit(1),
            ),
            F.when(F.lag("us").over(w).isNull(), F.lit(1)),
            F.lit(0),
        ),
    ).withColumn("burst", F.sum("is_new").over(wrun))
    return (
        marked.groupBy("user_id", "event_type", "burst")
        .agg(
            F.min("us").alias("first_us"),
            F.max("us").alias("last_us"),
            F.count("*").cast("long").alias("n_raw"),
        )
        .select(
            "user_id",
            "event_type",
            F.col("burst").cast("long").alias("burst"),
            "first_us",
            "last_us",
            "n_raw",
        )
    )


def seasonal_anomaly(
    events: DataFrame, k_mad: int = 3
) -> DataFrame:
    """Seasonality-aligned anomaly detection: a Monday-9am count is
    judged against OTHER Monday-9ams, not against the global hourly
    median — the step robust_spikes (q181) skips, which makes it
    blind to "weekend traffic always looks low" and loud about
    ordinary Friday peaks.

    Grid: how = hour-of-week (0..167, Sunday 0h = 0 under the
    civil-epoch identity dow = (days + 4) % 7; 1970-01-01 was a
    Thursday), week = (days + 4) div 7.  Counts per (event_type,
    week, how); baseline per (event_type, how) = lower median of
    the weekly series and MAD of deviations, both via the exact
    row_number rank trick (never percentile_approx) — all integer.
    Weeks with zero events for a cell are absent from the series
    (presence-median, documented; a dense grid would need a
    calendar spine).  Anomaly: cnt - med > k_mad * mad, one-sided
    strict, the robust_spikes rule on the aligned axis.

    Shape: one (type, week, how) groupBy, then two window sorts and
    two equi-joins all partitioned by the bounded (type, how) key —
    at most 168 x |types| baseline rows, nothing global.
    """
    days = F.expr("datediff(to_date(ts), DATE'1970-01-01')")
    cells = events.select(
        "event_type",
        # integer div: exact, and days + 4 >= 0 under the post-1970
        # data contract (see colocation_pairs), so div == floor
        F.expr(
            "(datediff(to_date(ts), DATE'1970-01-01') + 4) div 7"
        ).cast("long").alias("week"),
        (
            F.pmod(days + 4, F.lit(7)) * 24 + F.hour("ts")
        ).cast("long").alias("how"),
    ).groupBy("event_type", "week", "how").agg(
        F.count("*").cast("long").alias("cnt")
    )

    def lower_median(df: DataFrame, val: str, out: str) -> DataFrame:
        w = Window.partitionBy("event_type", "how").orderBy(
            val, "week"
        )
        wc = Window.partitionBy("event_type", "how")
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .withColumn("_n", F.count("*").over(wc))
            .where(F.expr("_rn = (_n + 1) div 2"))
            .select("event_type", "how", F.col(val).alias(out))
        )

    med = lower_median(cells, "cnt", "med")
    with_med = cells.join(med, ["event_type", "how"]).withColumn(
        "dev", F.abs(F.col("cnt") - F.col("med"))
    )
    mad = lower_median(with_med, "dev", "mad")
    return (
        with_med.join(mad, ["event_type", "how"])
        .where(
            F.col("cnt") - F.col("med")
            > F.lit(k_mad) * F.col("mad")
        )
        .select("event_type", "how", "week", "cnt", "med", "mad")
    )


def decayed_counts(
    events: DataFrame,
    key_col: str = "event_type",
    half_life_days: int = 7,
    horizon_days: int = 56,
) -> DataFrame:
    """Exponentially time-decayed activity score per key, EXACT:
    an event s half-lives old contributes (1/2)^s, carried as the
    integer pair num = sum(2^(S - s)), den = 2^S with S =
    horizon_days div half_life_days decay steps — so the freshness
    score every ranking pipeline wants (recent activity dominates,
    stale activity fades) is an exact rational, reproducible
    bit-for-bit in any engine, instead of a float pow() whose
    aggregation order drifts.  Events older than the horizon
    contribute nothing (their weight would round to 0 anyway; the
    cutoff makes it exact).

    The reference day is the corpus' own max event day (1-row
    scalar aggregate, broadcast back — the whitelisted funnel
    class), so the operator is deterministic on a snapshot without
    a wall-clock parameter.

    Shape: one 1-row max, one map-side-combined groupBy on the
    key; weights are powers of two <= 2^S, S bounded by the
    horizon/half-life contract (56/7 -> 2^8), far inside int64.
    """
    steps_total = horizon_days // half_life_days
    days = F.expr(
        "datediff(to_date(ts), DATE'1970-01-01')"
    ).cast("long")
    base = events.select(F.col(key_col).alias("key"), days.alias("day"))
    ref = base.agg(F.max("day").alias("ref_day"))
    aged = base.crossJoin(F.broadcast(ref)).withColumn(
        "age", F.col("ref_day") - F.col("day")
    ).where(F.col("age") < horizon_days)
    w = F.expr(
        f"shiftleft(1L, cast({steps_total}"
        f" - (age div {int(half_life_days)}) as int))"
    )
    return (
        aged.groupBy("key")
        .agg(
            F.sum(w).cast("long").alias("num"),
            F.count("*").cast("long").alias("n_events"),
        )
        .select(
            F.col("key").alias(key_col),
            "num",
            F.lit(1 << steps_total).cast("long").alias("den"),
            "n_events",
        )
    )


def trend_slopes(
    events: DataFrame, key_col: str = "event_type"
) -> DataFrame:
    """Per-key linear activity trend, EXACT: the least-squares
    slope over the key's (day, daily count) series carried as the
    integer pair slope_num = n*S(ty) - S(t)*S(y), slope_den =
    n*S(tt) - S(t)^2 — the normal-equation cross products, all
    int64, so "is this event type growing or dying" is a sign test
    on an exact integer and the magnitude an exact rational (den
    > 0 whenever the key spans >= 2 distinct days; single-day keys
    report 0/0 and n_days = 1, caller treats as no-trend).  The
    trend monitor every ops dashboard wants, reproducible across
    engines — a float OLS differs in the 12th digit per
    aggregation order.

    Days are re-centered per key (t = day - min day) to keep the
    cross products small: with D observed days and max daily count
    C, |num| <= D^2 * D * C — at D = 3650 (a decade of days) and
    C = 10^9 that is ~5e19... so the contract is documented as
    D * C < 2^63 / D^2; daily rollups over years of web events fit
    comfortably (D=365: headroom ~1.9e11 events/day).

    Shape: one (key, day) groupBy (map-side combined), one tiny
    per-key groupBy of the five sums — the series never leaves its
    key's partition, output one row per key.
    """
    days = F.expr(
        "datediff(to_date(ts), DATE'1970-01-01')"
    ).cast("long")
    daily = (
        events.select(F.col(key_col).alias("key"), days.alias("day"))
        .groupBy("key", "day")
        .agg(F.count("*").cast("long").alias("y"))
    )
    centered = daily.withColumn(
        "t",
        F.col("day")
        - F.min("day").over(Window.partitionBy("key")),
    )
    sums = centered.groupBy("key").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("t").cast("long").alias("st"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("sty"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
    )
    return sums.select(
        F.col("key").alias(key_col),
        "n_days",
        "sy",
        (
            F.col("n_days") * F.col("sty")
            - F.col("st") * F.col("sy")
        )
        .cast("long")
        .alias("slope_num"),
        (
            F.col("n_days") * F.col("stt")
            - F.col("st") * F.col("st")
        )
        .cast("long")
        .alias("slope_den"),
    )


def winsorized_stats(
    values: DataFrame,
    key_col: str = "key",
    v_col: str = "v",
    id_col: str = "id",
    pct: int = 10,
) -> DataFrame:
    """Winsorized summary per key — the outlier-resistant mean's
    integer-exact sibling (winsorization: clamp everything below
    the p-th percentile value to it, everything above the
    (100-p)-th to it; standard robust statistics, public
    formulation). Crawl/telemetry use: a per-host token-count
    budget that one 100 MB page should not be able to bend.

    Rank bounds are integer: with n values per key,
    lo_rank = n*pct div 100 + 1 and hi_rank = n - n*pct div 100
    (1-based under the deterministic (value, id) order); the
    clamp bounds are the VALUES at those ranks — deterministic
    regardless of tie order — so the winsorized sum is exact
    int64 and oracle-checkable. pct must lie in [0, 50): at 50
    the bounds cross, and at 100 the lo-bound row vanishes —
    both rejected loudly instead of clamping nonsense.

    Shape: one window sort per key for ranks, two 1-row-per-key
    bound extractions equi-joined back, one partial-aggregable
    groupBy. Everything partitions by key; no global funnel, no
    floats. Same per-key-window discipline as robust_spikes
    above."""
    from pyspark.sql import Window

    if not 0 <= int(pct) < 50:
        raise ValueError("pct must be in [0, 50)")
    base = values.select(
        F.col(key_col).alias("k"),
        F.col(v_col).cast("long").alias("x"),
        F.col(id_col).alias("i"),
    )
    w = Window.partitionBy("k").orderBy("x", "i")
    wc = Window.partitionBy("k")
    ranked = base.withColumn(
        "_rn", F.row_number().over(w)
    ).withColumn("_n", F.count("*").over(wc))
    cut = F.expr(f"(_n * {int(pct)}) div 100")
    lo = ranked.where(F.col("_rn") == cut + 1).select(
        "k", F.col("x").alias("lo_val")
    )
    hi = ranked.where(F.col("_rn") == F.col("_n") - cut).select(
        "k", F.col("x").alias("hi_val")
    )
    return (
        base.join(lo, "k")
        .join(hi, "k")
        .groupBy(F.col("k").alias(key_col))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("lo_val").alias("lo_val"),
            F.min("hi_val").alias("hi_val"),
            F.sum(
                F.greatest(
                    F.col("lo_val"),
                    F.least(F.col("hi_val"), F.col("x")),
                )
            )
            .cast("long")
            .alias("wsum"),
            F.sum("x").cast("long").alias("rawsum"),
        )
    )


def weighted_median(
    values: DataFrame,
    key_col: str = "key",
    v_col: str = "v",
    w_col: str = "wgt",
    id_col: str = "id",
) -> DataFrame:
    """Per-key weighted LOWER median, exact: the smallest value
    whose running weight doubles to at least the total weight
    (2 * cumw >= W under the deterministic (value, id) order) —
    the weighted generalization of robust_spikes' lower median,
    integer end to end (no interpolation, the percentile
    convention every engine can reproduce bit-for-bit).

    Shape: one window cumsum per key over that key's own rows,
    one 1-row-per-key extraction via row_number on the qualifying
    prefix. Partitions by key throughout; no global funnel."""
    from pyspark.sql import Window

    base = values.select(
        F.col(key_col).alias("k"),
        F.col(v_col).cast("long").alias("x"),
        F.col(w_col).cast("long").alias("g"),
        F.col(id_col).alias("i"),
    )
    w = (
        Window.partitionBy("k")
        .orderBy("x", "i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wc = Window.partitionBy("k")
    qual = (
        base.withColumn("cumw", F.sum("g").over(w))
        .withColumn("W", F.sum("g").over(wc))
        .where(F.lit(2) * F.col("cumw") >= F.col("W"))
    )
    wq = Window.partitionBy("k").orderBy("x", "i")
    return (
        qual.withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") == 1)
        .select(
            F.col("k").alias(key_col),
            F.col("x").alias("wmedian"),
            F.col("W").cast("long").alias("total_w"),
        )
    )


def sequence_ngrams(
    events: DataFrame,
    n: int = 3,
    key_col: str = "user_id",
    t_col: str = "ts",
    v_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Sequential pattern counts: every length-n run of
    consecutive events per key, counted corpus-wide — the
    frequent-subsequence miner's contiguous core (n-gram counting
    over event streams; the standard market-basket/clickstream
    primitive). Ties in the event order are pinned by (t, id), so
    the gram table is deterministic.

    Shape: n-1 lead columns from ONE window sort per key (state
    bounded by that key's stream), then a partial-aggregable
    count on the bounded gram vocabulary (|event types|^n)."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(t_col, id_col)
    # materialize every lead ONCE before filtering: a gram built
    # from leads re-evaluated after the null filter would shift
    # across the dropped tail rows
    lagged = events.select(
        F.col(v_col).alias("_e0"),
        *[
            F.lead(v_col, j).over(w).alias(f"_e{j}")
            for j in range(1, int(n))
        ],
    )
    parts = [F.col(f"_e{j}") for j in range(int(n))]
    # every part must be non-null: concat_ws silently SKIPS
    # interior NULLs, which would mint malformed short grams
    nn = parts[0].isNotNull()
    for p in parts[1:]:
        nn = nn & p.isNotNull()
    return (
        lagged.where(nn)
        .select(F.concat_ws(">", *parts).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").cast("long").alias("n_runs"))
    )


def survival_table(
    spans: DataFrame,
    key_col: str = "user_id",
    first_col: str = "first_day",
    last_col: str = "last_day",
) -> DataFrame:
    """Kaplan-Meier-style life table over (first_day, last_day)
    activity spans, exact counts: for every day in the observed
    calendar, how many subjects were AT RISK (first <= d <= last)
    and how many DIED that day (last = d) — one row per day where
    the curve can change (a span endpoint); between change-points
    at_risk is constant and deaths zero, so the sparse table IS
    the full curve. The survival product
    itself is a falling rational — downstream report territory —
    but at_risk/deaths are the exact sufficient statistics every
    estimator consumes (public Kaplan-Meier 1958 formulation).

    At-risk is NOT computed by exploding user x day: each span
    contributes +1 at first and -1 at last+1 (delta encoding),
    and one running sum over the CALENDAR-sized delta table
    (bounded by the day span, never the subject count) rebuilds
    the at-risk curve — the interval-stabbing trick that keeps a
    billion users at one row per endpoint."""
    from pyspark.sql import Window

    deltas = (
        spans.select(
            F.col(first_col).cast("long").alias("day"),
            F.lit(1).cast("long").alias("d"),
        )
        .unionByName(
            spans.select(
                (F.col(last_col) + 1).cast("long").alias("day"),
                F.lit(-1).cast("long").alias("d"),
            )
        )
        .groupBy("day")
        .agg(F.sum("d").alias("d"))
    )
    deaths = spans.groupBy(
        F.col(last_col).cast("long").alias("day")
    ).agg(F.count("*").cast("long").alias("deaths"))
    w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        deltas.join(deaths, "day", "full")
        .select(
            "day",
            F.coalesce("d", F.lit(0)).alias("d"),
            F.coalesce("deaths", F.lit(0)).cast("long").alias(
                "deaths"
            ),
        )
        .withColumn(
            "at_risk", F.sum("d").over(w).cast("long")
        )
        .where(F.col("at_risk") > 0)
        .select("day", "at_risk", "deaths")
    )
