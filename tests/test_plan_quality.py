"""Plan-shape regression guards: the physical plans that make the
engine scale must not silently regress.

These assert the properties argued in README 'Plan-shape
principles': column pruning to the scan, filter pushdown, exactly
one Python stage in the flagship, no shuffles where none are
needed, and broadcast (not shuffled) joins for small sides."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.fixture(scope="module")
def pages(spark, tmp_path_factory):
    from osmgraft.pages import synth_pages

    p = str(tmp_path_factory.mktemp("pages") / "pages")
    synth_pages(spark, 2000, partitions=4).write.parquet(p)
    return spark.read.parquet(p)


def _flagship_plans(pages):
    from osmgraft.operators.flagship import flagship_assign

    return [
        _formatted(flagship_assign(pages, keep_noregion=keep))
        for keep in (False, True)
    ]


def test_flagship_plan_shape(pages):
    for plan in _flagship_plans(pages):
        # column pruning: the binary html column must never be read
        assert "html" not in plan
        assert "ReadSchema: struct<url:string,text:string>" in plan
        # the cheap prefilter reaches the parquet scan
        assert "StringContains(text,City)" in plan
        # exactly ONE Python stage — geocode and the vectorized PIP
        # kernel together (PIP inlined as Catalyst expressions
        # measured >10x slower on 4M pages: codegen blowup +
        # deterministic filter pushdown duplicating the chain;
        # BASELINE.md)
        assert plan.count("ArrowEvalPython (") == 1
        # zero shuffles: broadcast polygons, partition-local points
        assert "Exchange" not in plan
        # no higher-order functions: they fall back to interpreted
        # evaluation, which cost more than the PIP join
        assert "lambdafunction" not in plan


def test_flagship_single_extraction(pages):
    """The geocode runs once per row, inside the one Arrow UDF: its
    only input is text, and the JVM plan holds no geocode expression
    (the per-row array_intersect hash set over split tokens)."""
    for plan in _flagship_plans(pages):
        assert "array_intersect" not in plan
        assert "split(" not in plan
        args = re.findall(r"^Arguments: \[(.*?)\], \[", plan, re.M)
        assert len(args) == 1, args
        assert re.fullmatch(r"\w+\(text#\d+\)#\d+", args[0]), args


def test_bbox_filter_pushdown(spark):
    from osmgraft.suite import q01_bbox_filter

    plan = _formatted(q01_bbox_filter(spark, "/root/testdata/sf0.001"))
    # derived-column filter can't push to parquet, but the scan must
    # prune to the one needed column
    assert "ReadSchema: struct<doc_id:bigint>" in plan


def test_knn_zero_shuffle(spark):
    """The broadcast kNN never shuffles: the gazetteer lives inside
    the Arrow kernel (per-point top-k is row-local), so the plan is
    scan -> project -> MapInPandas with no Exchange at all."""
    from osmgraft.suite import q05_knn_city

    plan = _plan(q05_knn_city(spark, "/root/testdata/sf0.001"))
    assert "MapInPandas" in plan
    assert "Exchange" not in plan


def test_assign_regions_no_shuffle(spark):
    from osmgraft.fixtures import fixture_polyset
    from osmgraft.operators import spatial
    from osmgraft.suite import doc_points

    pts = doc_points(spark, "/root/testdata/sf0.001")
    # one python stage (the Arrow PIP kernel), no shuffle
    plan = _plan(spatial.assign_regions(pts, fixture_polyset()))
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1


def test_union_dedup_single_shuffle(spark):
    from osmgraft.suite import q08_union_dedup

    plan = _plan(q08_union_dedup(spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange hashpartitioning") == 1


def test_jaccard_composed_plan_has_no_gram_selfjoin(spark):
    """round-2 scale fix guard: q17's exact Jaccard must run on LSH
    candidate pairs only — no join keyed on a gram column anywhere
    in the physical plan (the all-pairs gram self-join is quadratic
    per hot gram at corpus scale)."""
    import re

    from osmgraft.operators.dedup import (
        jaccard_on_candidates,
        minhash_lsh_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"one two three four five w{i}") for i in range(50)],
        "doc_id long, text string",
    )
    out = jaccard_on_candidates(docs, minhash_lsh_pairs(docs))
    plan = _plan(out)
    for m in re.finditer(r"(?i)join[^\n]*", plan):
        assert "gram" not in m.group(0).lower(), m.group(0)


def test_minhash_plan_uses_partial_aggregation(spark):
    """the signature agg must have a map-side partial phase (the
    shuffle carries per-doc mins, not exploded grams)."""
    from osmgraft.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, f"a b c d e f w{i}") for i in range(50)],
        "doc_id long, text string",
    )
    plan = _plan(minhash_lsh_pairs(docs))
    # HashAggregate appears in partial+final pairs around the
    # exchange; at minimum a partial_min must exist upstream
    assert "partial_min" in plan or "HashAggregate" in plan
    first_agg = plan.rindex("HashAggregate")
    assert "Exchange" in plan[:first_agg] or "Exchange" in plan


def test_ann_small_sides_are_broadcast(spark):
    """banded-ANN signatures stay in-row (no shuffle before the
    band self-join) and IVF's centroid side is broadcast, never
    shuffled."""
    from osmgraft.operators.dedup import embed_ann_ivf

    emb = spark.createDataFrame(
        [(i, [float((i * 31 + d) % 7) for d in range(8)])
         for i in range(100)],
        "vec_id long, embedding array<double>",
    )
    plan = _plan(
        embed_ann_ivf(
            emb,
            centroid_filter=F.col("vec_id") % 10 == 0,
            query_filter=F.col("vec_id") % 25 == 0,
        )
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_decontaminate_broadcasts_eval_shingles(spark):
    """q53: the eval-set shingles must reach the corpus via a
    BroadcastHashJoin — the corpus side is never shuffled before
    the per-doc aggregate's own exchange."""
    from osmgraft.operators.text import decontaminate_flags

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 7 + j) % 40}" for j in range(30)))
         for i in range(300)],
        "doc_id long, text string",
    )
    plan = _plan(
        decontaminate_flags(docs, F.col("doc_id") % 97 == 0)
    )
    assert "BroadcastHashJoin" in plan
    # exactly one exchange bringing per-doc partial counts together
    # (plus the broadcast exchange); no SortMergeJoin anywhere
    assert "SortMergeJoin" not in plan


def test_stratified_sample_is_map_only(spark):
    """q62: deterministic sampling must stay a pushdown-friendly
    filter — no Exchange, no Python stage."""
    from osmgraft.operators.text import stratified_sample

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 else "de") for i in range(100)],
        "doc_id long, lang string",
    )
    plan = _plan(stratified_sample(docs, {"en": 0.5}, seed=1))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_corpus_filter_single_exchange(spark):
    """q61: all heuristics ride the scan; the fingerprint window is
    the only exchange and there is no Python stage."""
    from osmgraft.operators.text import corpus_filter_verdict

    docs = spark.createDataFrame(
        [(i, f"the w{i} x{i} " * 30) for i in range(200)],
        "doc_id long, text string",
    )
    plan = _plan(corpus_filter_verdict(docs))
    assert plan.count("Exchange") == 1
    assert "Python" not in plan


def test_running_total_no_global_window(spark):
    """q63: the prefix sum must stay a range shuffle + mapInPandas;
    a SUM() OVER (ORDER BY) would funnel every row through one
    task (Window + Exchange SinglePartition)."""
    from osmgraft.operators.indexing import with_running_total

    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), F.lit(1).alias("v")
    )
    plan = _plan(
        with_running_total(df, ["k"], "v", num_partitions=8)
    )
    # the lazy localCheckpoint truncates the plan at the range
    # shuffle (test_running_total covers the distribution); what
    # must never appear downstream is a global Window
    assert "Window" not in plan
    assert "SinglePartition" not in plan
    assert "MapInPandas" in plan


def test_tile_quality_one_equi_join_partial_agg(spark):
    """q64: one co-keyed equi-join on doc_id feeding an algebraic
    cell rollup — no nested-loop/cartesian join, and the count/sum
    aggregate map-side (partial) before the cell shuffle."""
    from osmgraft.suite import q64_tile_quality

    plan = _plan(q64_tile_quality(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    joins = sum(
        plan.count(j)
        for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    )
    assert joins == 1, plan
    assert "partial_count" in plan or "partial" in plan


def test_incremental_dedup_plan_no_gram_selfjoin(spark):
    """q88 guard: the batch-vs-index probe must join band rows and
    candidate lists only — no join keyed on a gram column (the
    quadratic-per-hot-gram shape), and no cartesian product."""
    import re

    from osmgraft.operators.dedup import incremental_near_dups

    corpus = spark.createDataFrame(
        [(i, f"one two three four five w{i}") for i in range(40)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100 + i, f"one two three four five w{i} x")
         for i in range(10)],
        "doc_id long, text string",
    )
    plan = _plan(incremental_near_dups(corpus, batch))
    assert "CartesianProduct" not in plan
    for m in re.finditer(r"(?i)join[^\n]*", plan):
        assert "gram" not in m.group(0).lower(), m.group(0)


def test_pq_encode_corpus_side_map_only(spark):
    """q89 guard: encoding joins the corpus rows against a
    BROADCAST grouped codebook; the only exchange in the plan is
    the tiny codebook-side aggregation (bounded by m*k rows) —
    the corpus itself is never shuffled."""
    from osmgraft.operators.pq import pq_encode

    emb = spark.createDataFrame(
        [(i, [float(i + j) for j in range(16)])
         for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    plan = _plan(pq_encode(emb, m=4, k=4, dim=16))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # every Exchange sits on the codebook branch (below the
    # broadcast), none on the corpus probe side: the plan's last
    # join input (the streamed corpus side) has no Exchange after
    # the broadcast marker
    assert plan.count("Exchange hashpartitioning") <= 2


def test_adc_lut_is_broadcast(spark):
    """q90/q93 guard: the per-query LUT reaches candidates via a
    broadcast (nested-loop or hash) join — the corpus code rows
    must not shuffle to meet the queries."""
    from osmgraft.operators.pq import ivf_pq_topk, pq_adc_topk

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11) for j in range(16)])
         for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    plan = _plan(
        pq_adc_topk(emb, F.col("vec_id") % 8 == 0, m=4, k=4,
                    dim=16)
    )
    assert "BroadcastNestedLoopJoin" in plan or (
        "BroadcastHashJoin" in plan
    )
    assert "CartesianProduct" not in plan
    plan2 = _plan(
        ivf_pq_topk(emb, F.col("vec_id") % 8 == 0, kc=4, m=4,
                    k=4, dim=16)
    )
    assert "CartesianProduct" not in plan2
    assert "BroadcastHashJoin" in plan2


def test_hll_registers_single_partial_agg_shuffle(spark):
    """q91 guard: the sketch is ONE map-side-combined groupBy —
    exactly one exchange, with a partial aggregate upstream of
    it."""
    from osmgraft.operators.sketches import hll_registers

    df = spark.createDataFrame(
        [("g", f"key-{i}") for i in range(100)],
        "grp string, k string",
    )
    plan = _plan(hll_registers(df, "grp", "k"))
    assert plan.count("Exchange") == 1
    assert "partial_max" in plan or "HashAggregate" in plan


def test_star_rollup_broadcasts_dims(spark):
    """q118: both dimension joins must be broadcast — the fact
    side never shuffles for the join."""
    from osmgraft.suite import QUERIES

    df = QUERIES["q118_star_rollup"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_sq8_plan_broadcasts_query_side(spark):
    """q149: the query-code and query-vector sides ride broadcast
    joins; no CartesianProduct anywhere; encode stays map-only up
    to the candidate window (the only Exchanges are the per-query
    windows and the tiny bounds agg)."""
    from osmgraft.operators.sq import sq8_topk

    emb = spark.createDataFrame(
        [(i, [float((i * 17 + d) % 11) for d in range(8)])
         for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    plan = _plan(sq8_topk(emb, F.col("vec_id") % 20 == 0, k=2, n_cand=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_interval_join_is_keyed_never_cartesian(spark):
    """q150: the range predicate must ride a user-keyed equi-join
    (SortMergeJoin/ShuffledHashJoin/BroadcastHashJoin), never a
    cartesian/broadcast-nested-loop over the full event table."""
    from osmgraft.operators.events import interval_pairs

    ev = spark.createDataFrame(
        [(i, f"2024-01-01 0{i % 10}:00:0{i % 6}", i % 7,
          "error" if i % 3 == 0 else "click")
         for i in range(200)],
        "event_id long, ts string, user_id long, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df = interval_pairs(
        ev.filter(F.col("event_type") == "error"),
        ev.filter(F.col("event_type") == "click"),
        tolerance_s=600,
    )
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_stencil_operators_single_aggregation(spark):
    """q215/q216 guard: the contour/morphology stencils are the
    explode-vote trick — ONE hash-partitioned aggregation
    exchange, no sort-merge join, no cartesian (the offsets table
    rides as a broadcast of literal rows)."""
    from osmgraft.operators.tiles import (
        contour_cases,
        raster_morphology,
    )

    cells = spark.createDataFrame(
        [(y, x, 10) for y in range(4) for x in range(4)],
        "latb long, lonb long, n long",
    )
    for df in (
        contour_cases(cells, threshold=3),
        raster_morphology(cells, threshold=3),
    ):
        plan = _plan(df)
        assert plan.count("Exchange hashpartitioning") == 1
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan


def test_bitmap_index_single_shuffle(spark):
    """q227 guard: the bitmap build is one map-side-combined
    bit_or groupBy — per-group state one long, one exchange."""
    from osmgraft.operators.bitmapix import category_bitmaps

    df = spark.createDataFrame(
        [("t", i % 7) for i in range(100)],
        "tile string, host long",
    )
    plan = _plan(category_bitmaps(df, "tile", "host", 23))
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_sequence_ngrams_no_join(spark):
    """q223 guard: grams come from leads in ONE per-key window —
    no self-join of the event stream."""
    from osmgraft.operators.events import sequence_ngrams

    df = spark.createDataFrame(
        [(i, i, i % 5, f"e{i % 3}") for i in range(50)],
        "event_id long, ts long, user_id long, event_type string",
    )
    plan = _plan(sequence_ngrams(df, n=3, t_col="ts"))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_snapshot_read_no_join(spark):
    """q226 guard: the MVCC read is filter + one per-id window —
    no join against anything."""
    from osmgraft.operators.merge import snapshot_read

    df = spark.createDataFrame(
        [(1, 0, "a", False), (1, 1, "b", False)],
        "doc_id long, ver long, text string, deleted boolean",
    )
    plan = _plan(snapshot_read(df, as_of=1))
    assert "Join" not in plan


def test_survival_no_subject_explosion(spark):
    """q224 guard: at-risk comes from the delta trick — the plan
    never joins subjects against a calendar (no range join, no
    explode of user x day)."""
    from osmgraft.operators.events import survival_table

    df = spark.createDataFrame(
        [(i, 0, 5) for i in range(50)],
        "user_id long, first_day long, last_day long",
    )
    plan = _plan(survival_table(df))
    assert "Generate explode" not in plan
    assert "CartesianProduct" not in plan


def _node_names(plan) -> list[str]:
    """Physical operator names of an executed plan, walking into the
    final adaptive plan and its query stages but NOT into a cached
    relation's own plan (an InMemoryTableScan reads the cache)."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        return _node_names(plan.executedPlan())
    if name.endswith("QueryStage"):
        return [name] + _node_names(plan.plan())
    kids = plan.children()
    out = [name]
    for i in range(kids.size()):
        out += _node_names(kids.apply(i))
    return out


@pytest.fixture(scope="module")
def world_pbf(tmp_path_factory):
    from osmgraft.sources.osmxml import _parse
    from osmgraft.wire import encode_pbf

    from .test_o5m_source import _world_xml

    p = tmp_path_factory.mktemp("pbf") / "w.pbf"
    p.write_bytes(encode_pbf(*_parse(_world_xml(), with_meta=True)))
    return str(p)


def test_persisted_decode_feeds_every_kind(spark, world_pbf):
    """Once the decoded frame is persisted, nodes, ways and rels are
    scans of the cache: the Python decode does not run again."""
    from osmgraft.sources.auto import decode_osm_auto
    from osmgraft.sources.osmxml import split_decoded

    decoded = decode_osm_auto(spark, world_pbf, with_meta=True).persist()
    try:
        for df in split_decoded(decoded):
            assert df.count() > 0
            names = _node_names(df._jdf.queryExecution().executedPlan())
            assert "InMemoryTableScan" in names, names
            assert "MapInPandas" not in names, names
    finally:
        decoded.unpersist()


def test_wire_single_encodes_all_kinds_in_one_collect(
    spark, world_pbf, tmp_path, monkeypatch
):
    """write_wire_single encodes all three kinds in one Python stage
    and one collect, not one action per kind. Without row bounds the
    chunking statistic is one more collect, an aggregate with no
    Python stage; bounds that fit one chunk spare it, and the bytes
    are the same either way."""
    from osmgraft.sources.auto import decode_osm_auto
    from osmgraft.sources.osmxml import split_decoded
    from osmgraft.wire.spark import write_wire_single

    decoded = decode_osm_auto(spark, world_pbf).persist()
    frames = split_decoded(decoded)
    cls = type(decoded)
    collected = []
    orig = cls.collect

    def collect(self):
        collected.append(self)
        return orig(self)

    monkeypatch.setattr(cls, "collect", collect)
    try:
        write_wire_single(*frames, str(tmp_path / "o.o5m"), fmt="o5m")
        write_wire_single(*frames, str(tmp_path / "b.o5m"), fmt="o5m",
                          rows=(300, 20, 8))
    finally:
        decoded.unpersist()
    assert (tmp_path / "o.o5m").read_bytes() == \
        (tmp_path / "b.o5m").read_bytes()
    assert len(collected) == 3
    names = [_node_names(df._jdf.queryExecution().executedPlan())
             for df in collected]
    # the statistic reads the cache and runs no Python
    assert names[0].count("MapInPandas") == 0, names[0]
    assert names[0].count("InMemoryTableScan") == 3, names[0]
    for encode in names[1:]:
        # the decode reads the cache: the only Python stage is the
        # encode
        assert encode.count("MapInPandas") == 1, encode
        assert encode.count("InMemoryTableScan") == 3, encode


# ---------------------------------------------------------------
# job and compile budgets of a border convert
# ---------------------------------------------------------------


def _jobs_of(spark, fn) -> tuple[list, int]:
    """Run fn; return the (job id, description or None) of every job
    the status store recorded meanwhile, and the number of classes
    whole-stage codegen compiled."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    bus = sc._jsc.sc().listenerBus()
    metric = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()

    def newest() -> int:
        bus.waitUntilEmpty()
        jobs = store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    first, compiled = newest(), metric.getCount()
    fn()
    last = newest()
    compiled = metric.getCount() - compiled
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if first < j.jobId() <= last:
            d = j.description()
            out.append((j.jobId(), d.get() if d.isDefined() else None))
    return out, compiled


@pytest.fixture(scope="module")
def border_converts(spark, tmp_path_factory):
    """Two identical `-B --complete-ways` converts of the test world
    in one session: [(jobs, compiled classes)] per convert."""
    from osmgraft.cli import convert

    from .test_o5m_source import _world_xml

    d = tmp_path_factory.mktemp("convert")
    (d / "w.osm").write_text(_world_xml())
    (d / "b.poly").write_text(
        "b\n1\n -0.2 0\n 0.1 0\n 0.1 0.6\n -0.2 0.6\nEND\nEND\n"
    )
    args = [str(d / "w.osm"), f"-B={d / 'b.poly'}", "--complete-ways",
            f"-o={d / 'out.o5m'}"]
    return [_jobs_of(spark, lambda: convert(spark, args))
            for _ in range(2)]


def test_border_convert_job_budget(border_converts):
    """Each keep set is decided once, the relation closure runs in
    one task and the sink writes each kind as one sorted chunk: a
    seeded border convert stays within 17 Spark jobs (25 with the
    range-sampled sink and a job for the closure's cap count, 49 when
    the keep sets were re-derived per stage and the closure ran a
    driver loop)."""
    for jobs, _ in border_converts:
        assert len(jobs) <= 17, jobs


@pytest.fixture(scope="module")
def clip_converts(spark, tmp_path_factory):
    """Two `-B --complete-ways` converts of the benchmark's seed-101
    clip extract (3000 nodes, hashed ids) in one session; returns the
    jobs of each."""
    from osmgraft.cli import convert
    from perfbench.inputs import osm_input

    work = tmp_path_factory.mktemp("clip")
    d = osm_input(str(work), 101, 3000)
    args = [f"{d}/in.pbf", f"-B={d}/clip.poly", "--complete-ways",
            f"-o={work}/out.o5m"]
    return [_jobs_of(spark, lambda: convert(spark, args))[0]
            for _ in range(2)]


def test_clip_convert_job_budget(clip_converts):
    """A warm clip convert runs at most 15 Spark jobs (23 with the
    range-sampled sink). The closure's cap count is observed on its
    checkpoint, not counted by a job, and the sink writes one-chunk
    kinds with no statistic and no shuffle: at most the three
    semi-joins' broadcasts and the encode."""
    warm = clip_converts[1]
    assert len(warm) <= 15, warm
    labels = [d for _, d in warm]
    assert "relation closure: cap count" not in labels, warm
    assert labels.count("convert: write .o5m") <= 4, warm


def test_convert_jobs_are_described(border_converts):
    """Every job a convert runs carries a job description."""
    for jobs, _ in border_converts:
        assert jobs
        assert [j for j in jobs if not j[1]] == [], jobs


def test_second_convert_reuses_compiled_code(border_converts):
    """With the codegen cache sized by get_spark, a repeated convert
    finds its generated classes compiled (51-78 recompiles with
    Spark's default 100-entry cache)."""
    _, compiled = border_converts[1]
    assert compiled <= 10


def test_closure_jobs_do_not_grow_with_depth(spark):
    """The closure runs the same Spark jobs on a 1-deep and a 12-deep
    chain: the passes run inside one task."""
    from osmgraft.operators.graph import rel_closure_up

    def chain_jobs(depth: int) -> int:
        rels = spark.createDataFrame(
            [(i, i - 1 if i > 0 else None) for i in range(depth + 1)],
            "rel_id long, child_rel long",
        )
        seeds = spark.createDataFrame([(0,)], "rel_id long")
        jobs, _ = _jobs_of(
            spark, lambda: rel_closure_up(rels, seeds).collect()
        )
        return len(jobs)

    assert chain_jobs(1) == chain_jobs(12)
