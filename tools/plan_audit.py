"""Automated physical-plan audit across every registered query.

For each entry in osmgraft.suite.QUERIES, capture the executed
plan (AQE initial plan — the shapes the guards in
tests/test_plan_quality.py assert on) and count the features that
decide 100-TB behavior:

  exch    Exchange operators (shuffles; hashpartitioning +
          rangepartitioning + SinglePartition)
  1part   Exchange SinglePartition occurrences (global funnels —
          should be 0 outside tiny final sorts)
  bcast   BroadcastHashJoin / BroadcastNestedLoopJoin
  smj     SortMergeJoin / ShuffledHashJoin
  py      ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas
          stages (the Arrow boundary — deliberate, counted)
  cart    CartesianProduct (must be 0)
  push    scans reporting PushedFilters: [<non-empty>]

Writes PLANS.md (table + flag notes). Run:
    python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys
import time
from collections import defaultdict

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def plan_metrics(plan: str) -> dict:
    return {
        "exch": len(re.findall(r"\bExchange ", plan)),
        "onepart": plan.count("Exchange SinglePartition"),
        "bcast": plan.count("BroadcastHashJoin")
        + plan.count("BroadcastNestedLoopJoin"),
        "smj": plan.count("SortMergeJoin")
        + plan.count("ShuffledHashJoin"),
        "py": plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas"),
        "cart": plan.count("CartesianProduct"),
        "push": len(
            [
                m
                for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
                if m.strip()
            ]
        ),
    }


# Expected Exchange SinglePartition counts: 1-row scalar aggregates
# (final step of a partial-agg; input to the funnel is one row per
# upstream partition, not data). Anything beyond these is a flag.
EXPECTED_ONEPART = {
    "q06_stats": (1, "single global statistics row (final agg of partials)"),
    "q42_stats_argmax": (1, "single statistics+argmax row"),
    "q46_address_geocode": (
        3,
        "scalar max(city)/max(street) over the ~100-row broadcast gazetteer",
    ),
    "q67_boilerplate": (1, "scalar corpus doc count for the frequency threshold"),
    "q70_funnel_report": (
        10,
        "the observability report IS twelve 1-row scalar aggregates"
        " cross-joined (one final agg per stage branch)",
    ),
    "q75_mix_plan": (
        1,
        "the 1-row integer normalizer (sum of strata weights)"
        " broadcast back onto the tiny strata table",
    ),
    "q76_dsir_lean": (
        1,
        "the 1-row corpus totals (sum over the <=256-row bucket"
        " table) broadcast back for the leaning verdict",
    ),
    "q84_token_percentiles": (
        2,
        "the running cumulative over the distinct-token-count"
        " HISTOGRAM (bounded by max doc length, not corpus size)"
        " plus the 1-row corpus total",
    ),
    "q105_quantile_sketch": (
        3,
        "the running cumulative over the BINNED histogram"
        " (<= range/2^shift rows by construction; the corpus never"
        " enters the funnel) — the pre-checkpoint audit now also"
        " sees the histogram build's own 1-row total and final"
        " cumulative merge, all bounded-histogram funnels",
    ),
    "q158_dense_daily": (
        1,
        "the 1-row (min_day, max_day) corpus span that seeds the"
        " calendar explode (final agg of per-partition partials)",
    ),
    "q184_way_chains": (
        2,
        "Catalyst-INJECTED bloom-filter join pruning: the optimizer"
        " merges fixed-size partial bloom sketches (one per"
        " partition) into the runtime filter it pushes into the"
        " probe scan — a bounded-sketch merge the engine adds for"
        " us, not a corpus funnel",
    ),
    "q186_length_drift": (
        1,
        "the 1-row (t1, t2) snapshot totals over the bounded"
        " length-bucket table, broadcast back for the exact TVD"
        " cross-multiplication",
    ),
    "q189_pmi_pairs": (
        1,
        "the 1-row corpus doc count broadcast onto the <= vocab^2"
        " pair table for the exact lift numerator",
    ),
    "q200_decayed_scores": (
        1,
        "the 1-row max-event-day reference aggregate (final agg of"
        " per-partition partials) broadcast back for the age"
        " arithmetic — the snapshot's own clock, no wall-time"
        " parameter",
    ),
    "q163_user_skyline": (
        2,
        "the strict running max over the FRONTIER BAND — the"
        " shrunken survivor set after the bucket suffix-max"
        " map-side kill (<= 2 rows per x-bucket by construction;"
        " the corpus never enters the window)",
    ),
    "q171_cusum_alarms": (
        1,
        "inherits q158's 1-row corpus-span seed; the CUSUM windows"
        " themselves partition by event_type",
    ),
    "q209_morans_i": (
        6,
        "the result IS one row: the (sum, n) centering scalar, the"
        " 1-row adjacency cross/self aggregates and the residual"
        " meta, cross-joined — every funnel input is the bounded"
        " CELL table (grid cells, not points), and the point-sized"
        " work all happens in the partial cell groupBy",
    ),
    "q211_region_lift": (
        1,
        "the 1-row corpus total broadcast onto the contingency"
        " cells for the exact lift products (marginals themselves"
        " stay partitioned)",
    ),
    "q69_corpus_build": (
        2,
        "the composed pipeline inherits its components' scalar"
        " gates: q67's 1-row corpus doc count for the boilerplate"
        " frequency threshold and the 1-row mix normalizer —"
        " visible now that the audit sees through the pack-plan"
        " checkpoint",
    ),
    "q230_apportion_budget": (
        4,
        "everything after the host groupBy operates on the"
        " 23-ROW strata table: the 1-row total, the 1-row"
        " leftover, and the remainder-rank window over the"
        " bounded strata — groups, never rows",
    ),
    "q232_cell_gini": (
        1,
        "the sorted-rank window runs over the CELL rollup"
        " (grid cells, bounded) and the result is one row —"
        " the q105 histogram-funnel pattern",
    ),
    "q224_survival_counts": (
        1,
        "the running at-risk sum over the CHANGE-POINT table"
        " (<= 2 distinct days per observed span endpoint, bounded"
        " by the calendar, never the subject count — the delta-"
        "encoding keeps a billion users at one row per endpoint)",
    ),
    "q218_histogram_emd": (
        2,
        "the 1-row (t1, t2) snapshot totals plus the running"
        " cumulative over the BOUNDED length-bucket histogram"
        " (max doc length / bucket_chars rows — the q105/q186"
        " pattern; the corpus never enters the funnel)",
    ),
    "q27_rel_closure": (
        1,
        "the relation closure's one task: the rel->rel edges (the"
        " reference's rr_ spool) and the distinct seeds, a subset of"
        " the relations, meet in one partition for all its passes",
    ),
    "q38_rel_closure_down": (
        2,
        "q27's one-task closure, downward; the kept relations feed"
        " both the node and the way members, so the un-checkpointed"
        " printout shows the closure twice (it runs once)",
    ),
    "q173_power_iteration": (
        7,
        "per-iteration scalar max|y| and renormalizer over the"
        " d-ROW eigenvector table (64 rows, bounded by embedding"
        " dimension, never corpus size) — the corpus-sized matvec"
        " stages all partition by vec_id/dim",
    ),
}


# Queries whose round structure re-references prior state, so the
# un-checkpointed plan tree grows multiplicatively with the round
# count — for these the audit keeps the checkpointed (truncated)
# plan and marks the row; their per-ROUND shuffle shape is what
# matters and is guarded by tests/test_plan_quality.py.
ITERATIVE_TRUNCATED = {
    "q44_dedup_clusters",
    "q55_dedup_keep_list",
    "q57_semantic_dedup",
    "q88_incremental_dedup",
    "q156_trace_clusters",
    "q190_conflate_places",
    "q39_rel_geometry",
    "q51_rel_centers_fixpoint",
    "q154_trace_frechet",
    "q161_trace_dtw",
    "q213_trace_edr",
    "q141_trace_hausdorff",
    "q173_power_iteration",
    "q74_bpe_learn",
    "q77_bpe_segment",
    "q148_bpe_pairs",
    "q179_bpe_optimal",
    # q142's grid-density components run star-contraction rounds
    # over cells built with a 1-row total broadcast: the expanded
    # printout re-prints that scalar funnel per round per subtree
    # reference (1020 SinglePartition STRINGS for ~1 executed)
    "q142_density_clusters",
    # q184's way chains also resolve through cluster_star: with
    # localCheckpoint patched to identity each round's count runs
    # on the whole un-checkpointed lineage of the rounds before it,
    # and Catalyst's tree walks over it took 782 s of a 1021 s
    # audit on a 4-core host, printing 13824 exchanges for the
    # handful executed
    "q184_way_chains",
    # q116's driver-planned Hilbert cover InSet: the expanded
    # printout duplicates the probe subtree per prefix and OOMs
    # the string builder — capture the checkpointed plan
    "q116_hilbert_bbox",
    # q131's pinned candidate table is referenced by all five
    # per-step filters: the un-checkpointed PRINTOUT duplicates
    # the whole candidate pipeline 5x (35 printed exchanges),
    # while the EXECUTED shape is candidates-once + 5 DP
    # exchanges — the truncated capture is the honest one here
    "q131_viterbi_match",
}


def _capture_plan(spark, fn, sf_dir, full: bool) -> str:
    """Build (never run) the physical plan. full=True audits the
    PRE-checkpoint lineage: DataFrame.localCheckpoint is patched to
    identity while the query object is constructed, so lazy
    checkpoints stop truncating the printed plan (the round-4
    PLANS.md q63/q69 caveat). Bounded driver-side collect()s inside
    builders still run either way — they are plan-time scalars."""
    from pyspark.sql import DataFrame, Observation

    if not full:
        df = fn(spark, sf_dir)
        return df._jdf.queryExecution().executedPlan().toString()
    # patch every class that DEFINES localCheckpoint: in pyspark 4
    # the classic session returns pyspark.sql.classic.dataframe.
    # DataFrame, whose own method shadows the base class attr
    classes = [DataFrame]
    try:
        from pyspark.sql.classic.dataframe import (
            DataFrame as _ClassicDF,
        )

        classes.append(_ClassicDF)
    except ImportError:  # pragma: no cover
        pass
    origs = [
        (c, c.__dict__["localCheckpoint"])
        for c in classes
        if "localCheckpoint" in c.__dict__
    ]
    for c, _ in origs:
        c.localCheckpoint = (
            lambda self, eager=True: self  # type: ignore
        )
    # with no checkpoint run, an Observation attached before one
    # never fills and its `get` blocks forever (graph._closure's cap
    # count, q27/q38); read its metrics as 0 instead. The builders
    # use them only for the cap warning, never for the plan
    obs_get = Observation.get
    Observation.get = property(lambda self: defaultdict(int))
    try:
        df = fn(spark, sf_dir)
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        for c, o in origs:
            c.localCheckpoint = o
        Observation.get = obs_get


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from osmgraft.session import get_spark
    from osmgraft.suite import QUERIES

    spark = get_spark()
    rows = []
    for i, (name, fn) in enumerate(QUERIES.items(), 1):
        full = name not in ITERATIVE_TRUNCATED
        # progress on stderr: a capture that hangs is the last name
        # printed without its elapsed seconds
        print(f"[{i}/{len(QUERIES)}] {name} ...", end="", file=sys.stderr,
              flush=True)
        t0 = time.monotonic()
        try:
            plan = _capture_plan(spark, fn, sf_dir, full)
            m = plan_metrics(plan)
            m["truncated"] = not full
        except Exception as exc:  # pragma: no cover
            rows.append((name, None, str(exc)[:80]))
        else:
            rows.append((name, m, None))
        print(f" {time.monotonic() - t0:.1f} s", file=sys.stderr, flush=True)

    lines = [
        "# Physical-plan audit (auto-generated by tools/plan_audit.py)",
        "",
        f"Input: `{sf_dir}`. Counts from the pre-AQE executed plan —",
        "the same strings tests/test_plan_quality.py guards. `py` is",
        "the count of deliberate Arrow boundaries (pandas-UDF",
        "operators); `1part` counts Exchange SinglePartition global",
        "funnels; `cart` must be zero everywhere.",
        "",
        "Rows are audited PRE-checkpoint: lazy localCheckpoints are",
        "patched to identity while the plan is captured, so composed",
        "pipelines (q63/q69, the fused DPs' pinned candidate tables)",
        "show their REAL upstream shuffle counts instead of a",
        "truncated tail. The only exceptions are the iterative",
        "queries marked †, whose un-checkpointed plan tree grows",
        "multiplicatively with the round count — those keep the",
        "checkpointed capture and their per-round shape is guarded",
        "by tests/test_plan_quality.py.",
        "",
        "| query | exch | 1part | bcast | smj | py | cart | pushed-filter scans |",
        "|---|---|---|---|---|---|---|---|",
    ]
    flags = []
    for name, m, err in rows:
        if m is None:
            lines.append(f"| {name} | ERR | | | | | | {err} |")
            flags.append(f"- **{name}**: audit error: {err}")
            continue
        mark = " †" if m.get("truncated") else ""
        lines.append(
            f"| {name}{mark} | {m['exch']} | {m['onepart']} | {m['bcast']}"
            f" | {m['smj']} | {m['py']} | {m['cart']} | {m['push']} |"
        )
        if m["cart"]:
            flags.append(
                f"- **{name}**: CartesianProduct in plan — investigate"
            )
        allowed, why = EXPECTED_ONEPART.get(name, (0, ""))
        if m["onepart"] > allowed:
            flags.append(
                f"- **{name}**: {m['onepart']}x Exchange"
                f" SinglePartition (expected {allowed}"
                f"{': ' + why if why else ''}) — global funnel"
            )
    lines.append("")
    lines.append("## Expected global funnels (scalar aggregates)")
    for name, (cnt, why) in EXPECTED_ONEPART.items():
        lines.append(f"- {name}: {cnt}x — {why}")
    lines.append("")
    if flags:
        lines.append("## Flags")
        lines.extend(flags)
    else:
        lines.append(
            "No flags: zero CartesianProduct everywhere; every"
            " Exchange SinglePartition is an expected 1-row scalar"
            " aggregate listed above."
        )
    lines.append("")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(lines))
    print(f"PLANS.md written: {len(rows)} queries,"
          f" {len(flags)} flags")


if __name__ == "__main__":
    main()
