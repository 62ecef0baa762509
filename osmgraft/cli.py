"""osmgraft-convert: the reference tools' command line over the
engine, so an osmconvert/osmfilter user can run their existing
invocations against the Spark implementation unchanged:

    python tools/osmgraft_convert.py in.pbf -o=out.o5m
    python tools/osmgraft_convert.py a.osm b.osm -o=merged.o5m
    python tools/osmgraft_convert.py in.o5m -b=10,47,14,51 \\
        --drop-broken-refs -o=clip.o5m
    python tools/osmgraft_convert.py in.osm -B=region.poly -o=r.osm
    python tools/osmgraft_convert.py in.o5m --out-csv \\
        "--csv=@otype @id @lat @lon name" "--csv-separator=|"
    python tools/osmgraft_convert.py in.osm \\
        "--keep=place=city or population>=10000" -o=cities.o5m
    python tools/osmgraft_convert.py in.osm --all-to-nodes -o=n.o5m
    python tools/osmgraft_convert.py in.osm -b=... --complete-ways \\
        -o=c.o5m
    python tools/osmgraft_convert.py in.osm --out-statistics
    python tools/osmgraft_convert.py in.osm --out-key
    python tools/osmgraft_convert.py in.osm "--out-count=highway"
    python tools/osmgraft_convert.py in.osm \\
        "--modify-tags=highway=track to highway=path" -o=m.o5m

Semantics composed from the differentially-tested operators:
  - inputs sniffed by magic bytes (S5), multiple inputs merged with
    last-wins override (J3, osmconvert.c:11158-11164);
  - --keep compiles the osmfilter predicate language to Catalyst
    (P3) over the tag map (osmfilter semantics: applied to every
    object kind independently, --ignore-dependencies style);
    per-type variants --keep-nodes/-ways/-relations(+combos),
    --drop[-TYPE]= predicates, and bare --drop-nodes/-ways/
    -relations section drops (fil_parse ftype 0-5);
  - --keep-tags/--drop-tags prune the tag list (P5,
    osmfilter.c:2980-3021) with per-type variants
    --keep-node-tags= ... --drop-way-relation-tags= (ftype 6-11);
    --modify-tags rewrites it (P6);
  - --complete-multipolygons / --complete-boundaries (deprecated
    alias --complex-ways) pull a qualifying border-touching
    relation's outside outer/inner member ways and their nodes
    back in (dependency stages 11-13);
  - --out-osm/--out-o5m/--out-o5c/--out-pbf stream to stdout when
    no -o= is given; --out-timestamp prints the 0xdc probe (K8);
    --csv-headline and the reference's default CSV columns
    (@oname @id name) are honored;
  - -b / -B keep nodes inside (P1/P2), ways with >= 1 kept node
    (G3 clip decision), relations with >= 1 kept node/way member
    PLUS the inter-relation closure (relations referencing kept
    relations, oo__rrprocessing osmconvert.c:9083-9131);
  - --complete-ways pulls back every node of a partially-inside
    way (G4, osmconvert.c:11305-11365);
  - --drop-broken-refs activates the keep-hash even without a
    border (hashactive osmconvert.c:10427): ways keep >= 1
    resolvable ref, refs/members pointing at dropped objects are
    pruned and emptied objects vanish (P8);
  - --all-to-nodes (G5) replaces ways by center nodes (id +
    1e15) and relations by center nodes (id + 2e15), reproducing
    the reference's exact center selection (osmconvert.c:
    11561-11702 for ways; posr_processing 6917-7070 for
    relations, including its last-member-wins scan for non-area
    relations) via iterative member-position resolution;
  - --out-statistics prints the file summary in the reference's
    exact text format (osmconvert.c:11919-11984); timestamp
    lines are omitted because the engine's scan schema carries no
    author metadata (the reference omits them too when the input
    has none);
  - --out-key / --out-count print tag-key (or tag-value)
    frequency tables in osmfilter's "%11i\\tname" format with its
    sort orders (count_ module, osmfilter.c:1791-1906);
  - output format chosen by -o extension (.osm/.o5m/.o5c/.osc/
    .pbf) through the wire writers, or --out-csv through the K4
    sink; CSV rows cover all three object kinds in stream order
    with @otype/@oname spreads (csv_ osmconvert.c:3253-3262,
    wo_way osmconvert.c:8646-8664).

Statistics are computed over the post---keep, pre-border stream
(the reference's statistics block runs before the border check,
osmconvert.c:11420-11490); combining --out-statistics with -b/-B
is therefore supported but reflects the unclipped stream, exactly
like a single-pass reference run.

Differentially tested against the compiled binaries in
tests/test_cli_convert.py and tests/test_cli_flags.py."""

from __future__ import annotations

import sys
from collections.abc import Iterator

from pyspark.sql import (
    DataFrame, Observation, SparkSession, functions as F,
)

from .session import job_description

# --all-to-nodes pseudo-id offsets (global_otypeoffset10/20,
# osmconvert.c:632-693): ways -> id + 1e15, relations -> id + 2e15
OFF10 = 1_000_000_000_000_000
OFF20 = 2 * OFF10


def _parse_args(argv: list[str]) -> dict:
    opts = {
        "inputs": [],
        "bbox": None,
        "poly": None,
        "keep": None,
        # per-type keep/drop predicates (osmfilter fil_parse ftype
        # 0-5, osmfilter.c:6897-6916); values are filter strings,
        # drop_all_* mark the bare --drop-nodes/-ways/-relations
        "keep_t": {"node": None, "way": None, "relation": None},
        "drop_t": {"node": None, "way": None, "relation": None},
        "drop_all": {"node": False, "way": False, "relation": False},
        # per-type tag projections (fil_parse ftype 6-11)
        "keep_tags_t": {"node": None, "way": None, "relation": None},
        "drop_tags_t": {"node": None, "way": None, "relation": None},
        "modify_tags": None,
        # per-type tag modification lists (osmconvert.c:206-208);
        # the generic --modify-tags feeds all three
        "modify_tags_t": {"node": None, "way": None, "relation": None},
        # --add-bbox*-tags selection, canonical emit order
        # (osmconvert.c:35-39, 9003-9061)
        "add_bbox": [],
        # --timestamp= file timestamp, unix seconds
        # (osmconvert.c:12888-12891)
        "timestamp": None,
        # --pbf-granularity= input override (osmconvert.c:579-582)
        "pbf_granularity": None,
        # --object-type-offset= (osmconvert.c:632-640)
        "otype_offset": None,
        "otype_step": False,
        "out_timestamp": False,
        "csv_headline": False,
        "drop_broken_refs": False,
        # --ignore-dependencies (osmfilter.c:58, 487-488): keep
        # filters normally PULL referenced objects; this disables it
        "ignore_dependencies": False,
        "complete_ways": False,
        "complete_mp": False,
        "complete_boundaries": False,
        "subtract": False,
        "sub_inputs": [],
        "diff": False,
        "statistics": False,
        "out_none": False,
        "drop_version": False,
        "drop_author": False,
        "fake_author": False,
        "fake_version": False,
        "fake_lonlat": False,
        "merge_versions": False,
        "out_osh": False,
        "all_to_nodes": False,
        "out": None,
        "out_fmt": None,   # --out-osm/--out-o5m/... to stdout
        "out_csv": False,
        "out_statistics": False,
        "out_key": None,       # "" => list keys; else key pattern
        "out_sort": False,     # --out-count
        "emulate": None,       # pbf2osm | osmosis
        # reference default columns (csv_ini(NULL),
        # osmconvert.c:3235-3243)
        "csv_cols": "@oname @id name",
        "csv_sep": "\t",
    }
    def _set_types(slot: dict, kinds: list[str], expr: str) -> None:
        for k in kinds:
            slot[k] = (
                expr if slot[k] is None else f"( {slot[k]} ) or ( {expr} )"
            )

    _TYPED = {
        "nodes": ["node"],
        "ways": ["way"],
        "relations": ["relation"],
        "nodes-ways": ["node", "way"],
        "nodes-relations": ["node", "relation"],
        "ways-relations": ["way", "relation"],
    }
    _TYPED_TAGS = {
        "tags": ["node", "way", "relation"],
        "node-tags": ["node"],
        "way-tags": ["way"],
        "relation-tags": ["relation"],
        "node-way-tags": ["node", "way"],
        "node-relation-tags": ["node", "relation"],
        "way-relation-tags": ["way", "relation"],
    }

    def _tags_flag(a: str, prefix: str, slot: dict) -> bool:
        if not a.startswith(prefix):
            return False
        rest = a[len(prefix):]
        name, eq, expr = rest.partition("=")
        if name in _TYPED_TAGS and eq:
            for k in _TYPED_TAGS[name]:
                # tag filters are PAIR LISTS: appending extends the
                # list (fil_parse appends into one pair array)
                slot[k] = expr if slot[k] is None else (
                    f"{slot[k]} {expr}"
                )
            return True
        return False

    def _typed_flag(a: str, prefix: str, slot: dict) -> bool:
        # e.g. prefix "--keep-": --keep-ways=EXPR
        if not a.startswith(prefix):
            return False
        rest = a[len(prefix):]
        name, eq, expr = rest.partition("=")
        if name in _TYPED and eq:
            _set_types(slot, _TYPED[name], expr)
            return True
        return False

    # --parameter-file pre-expansion (osmconvert.c:12644-12698):
    # the file's parameters are processed in place of the flag
    expanded: list[str] = []
    for a in argv:
        if a.startswith("--parameter-file=") and a[17:]:
            expanded.extend(_read_parameter_file(a[17:]))
        else:
            expanded.append(a)
    argv = expanded

    _BBOX_FLAG = {
        "--add-bbox-tags": "bBox",
        "--add-bboxarea-tags": "bBoxArea",
        "--add-bboxweight-tags": "bBoxWeight",
        "--add-bboxwidth-tags": "bBoxWidth",
        "--add-bboxwidthweight-tags": "bBoxWidthWeight",
    }

    for a in argv:
        if a.startswith("-b="):
            opts["bbox"] = [float(v) for v in a[3:].split(",")]
        elif a.startswith("-B="):
            opts["poly"] = a[3:]
        elif a.startswith("--keep="):
            opts["keep"] = a[7:]
        elif a.startswith("--drop="):
            _set_types(
                opts["drop_t"], ["node", "way", "relation"], a[7:]
            )
        elif a in ("--drop-nodes", "--drop-ways", "--drop-relations"):
            opts["drop_all"][a[7:-1]] = True
        elif _typed_flag(a, "--keep-", opts["keep_t"]):
            pass
        elif _typed_flag(a, "--drop-", opts["drop_t"]):
            pass
        elif _tags_flag(a, "--keep-", opts["keep_tags_t"]):
            pass
        elif _tags_flag(a, "--drop-", opts["drop_tags_t"]):
            pass
        elif a.startswith("--modify-tags="):
            opts["modify_tags"] = a[14:]
        elif a.startswith(
            ("--modify-node-tags=", "--modify-way-tags=",
             "--modify-relation-tags=",
             "--modify-node-way-tags=",
             "--modify-node-relation-tags=",
             "--modify-way-relation-tags=")
        ):
            spec = a[len("--modify-"):a.index("-tags=")]
            expr = a.partition("=")[2]
            slot = opts["modify_tags_t"]
            # combo spellings feed two type lists (osmfilter.c
            # D(--modify-node-way-tags=, F(0)F(1)) etc.); rules
            # are space-separated (modi_parse) and repeating a
            # flag appends to the type's rule list
            kinds = {
                "node": ["node"],
                "way": ["way"],
                "relation": ["relation"],
                "node-way": ["node", "way"],
                "node-relation": ["node", "relation"],
                "way-relation": ["way", "relation"],
            }[spec]
            for kind in kinds:
                slot[kind] = (
                    expr if slot[kind] is None
                    else f"{slot[kind]} {expr}"
                )
        elif a in _BBOX_FLAG:
            if _BBOX_FLAG[a] not in opts["add_bbox"]:
                opts["add_bbox"].append(_BBOX_FLAG[a])
        elif a == "--all-to-nodes-bbox":
            # deprecated alias: --all-to-nodes + --add-bbox-tags
            # (osmconvert.c:12934-12944)
            opts["all_to_nodes"] = True
            if "bBox" not in opts["add_bbox"]:
                opts["add_bbox"].append("bBox")
        elif a.startswith("--timestamp=") and a[12:]:
            opts["timestamp"] = parse_osm_timestamp(a[12:])
        elif a.startswith("--pbf-granularity=") and a[18:]:
            opts["pbf_granularity"] = int(a[18:])
        elif a.startswith("--object-type-offset=") and a[21:]:
            # id offset for --all-to-nodes pseudo-nodes; a "+1"
            # suffix switches to SEQUENTIAL ids in write order
            # (osmconvert.c:12992-12999, 11657, 11826)
            val = a[21:]
            opts["otype_step"] = "+1" in val
            num = int(val.split("+", 1)[0])
            opts["otype_offset"] = max(num, 10)
        elif a == "--subtract":
            opts["subtract"] = True
        elif a in ("--diff", "--diff-contents"):
            # we carry no version metadata, so --diff always
            # compares full contents (the reference's
            # --diff-contents behavior)
            opts["diff"] = True
        elif a == "--statistics":
            opts["statistics"] = True
        elif a == "--out-none":
            opts["out_none"] = True
        elif a == "--drop-broken-refs":
            opts["drop_broken_refs"] = True
        elif a == "--ignore-dependencies":
            opts["ignore_dependencies"] = True
        elif a == "--complete-ways":
            opts["complete_ways"] = True
        elif a in ("--complete-multipolygons", "--complex-ways"):
            opts["complete_mp"] = True
        elif a == "--complete-boundaries":
            opts["complete_boundaries"] = True
        elif a == "--all-to-nodes":
            opts["all_to_nodes"] = True
        elif a == "--out-statistics":
            opts["out_statistics"] = True
        elif a == "--out-key" or a.startswith("--out-key="):
            opts["out_key"] = a[10:] if a.startswith("--out-key=") else ""
        elif a == "--out-count" or a.startswith("--out-count="):
            opts["out_key"] = (
                a[12:] if a.startswith("--out-count=") else ""
            )
            opts["out_sort"] = True
        elif a.startswith("--emulate-pbf2osm"):
            opts["emulate"] = "pbf2osm"
        elif a.startswith("--emulate-osmo"):
            # prefix compare like the reference (strzcmp)
            opts["emulate"] = "osmosis"
        elif a.startswith("--emulate-osmi"):
            # Osmium XML dialect (wformat 14, osmconvert.c:12883)
            opts["emulate"] = "osmium"
        elif a == "--in-josm":
            # deprecated, accepted for compatibility
            # (osmconvert.c:12818-12822)
            pass
        elif a in ("--out-osm", "--out-o5m", "--out-o5c",
                   "--out-pbf", "--out-osc"):
            opts["out_fmt"] = a[6:]
        elif a.startswith("-o="):
            opts["out"] = a[3:]
        elif a == "--out-csv":
            opts["out_csv"] = True
        elif a == "--out-timestamp":
            opts["out_timestamp"] = True
        elif a == "--csv-headline":
            opts["csv_headline"] = True
        elif a.startswith("--csv="):
            opts["csv_cols"] = a[6:]
        elif a.startswith("--csv-separator="):
            opts["csv_sep"] = a[16:]
        elif a.startswith("--drop-ver"):
            # prefix compares + deprecated --drop-his* alias for
            # --drop-author (osmconvert.c:12736-12760)
            opts["drop_version"] = True
        elif a.startswith(("--drop-aut", "--drop-his")):
            opts["drop_author"] = True
        elif a.startswith(("--fake-aut", "--fake-his")):
            opts["fake_author"] = True
        elif a.startswith("--fake-ver"):
            opts["fake_version"] = True
        elif a == "--fake-lonlat":
            # faked lat="0" lon="0" on delete records
            # (osmconvert.c:58, 12769-12774)
            opts["fake_lonlat"] = True
        elif a == "--merge-versions":
            # accept duplicate versions of one object in the input:
            # last occurrence wins (osmconvert.c:61, 11124-11137)
            opts["merge_versions"] = True
        elif a == "--out-osh":
            # .osh visible-tags XML output (osmconvert.c:64, 12845)
            opts["out_osh"] = True
        elif a.startswith(
            ("--hash-memory=", "-h=", "--max-objects=",
             "--max-refs=", "-t=")
        ) or a in ("--verbose", "-v"):
            # capacity knobs are meaningless on Spark (no fixed
            # hash tables, tempfiles are managed) — accepted so
            # real-world osmconvert invocations run unchanged
            pass
        elif a.startswith("-"):
            raise SystemExit(f"unknown option: {a}")
        elif opts["subtract"]:
            # positional like the reference: --subtract marks every
            # file that FOLLOWS it (osmconvert.c:12731-12735)
            opts["sub_inputs"].append(a)
        else:
            opts["inputs"].append(a)
    if not opts["inputs"]:
        raise SystemExit("no input files")
    return opts


# ----------------------------------------------------------------
# spatial keep + ref-graph pruning
# ----------------------------------------------------------------


def _inside_nodes(nodes: DataFrame, opts: dict) -> DataFrame:
    from .geo.fixedpoint import deg_to_fix_trunc
    from .operators.spatial import bbox_contains, filter_border

    if opts["bbox"] is not None:
        x1, y1, x2, y2 = (
            int(deg_to_fix_trunc(v)) for v in opts["bbox"]
        )
        nodes = nodes.filter(
            bbox_contains(F.col("lon_i"), F.col("lat_i"), x1, y1, x2, y2)
        )
    if opts["poly"] is not None:
        from .geo.polyfile import parse_border

        with open(opts["poly"]) as f:
            es = parse_border(f.read())
        nodes = filter_border(nodes, es)
    return nodes


def _apply_spatial(nodes, ways, rels, opts, cached: list[DataFrame]):
    """Border / ref-graph stage. Returns the kept (nodes, ways, rels)
    and upper bounds on their row counts for the sink (None where
    unknown, or for all three without a keep set).
    --drop-broken-refs alone activates the keep-hash exactly like
    the reference (hashactive = border_active ||
    global_dropbrokenrefs, osmconvert.c:10427). The inside nodes are
    persisted (and put on `cached` for the caller to release), so
    the border test runs once per node although every keep stage
    reads them. Like the reference's keep-hash per kind, the kept
    way, node and relation ids are each decided once, as checkpointed
    id frames that every later stage and the sink semi-join against.
    Their row counts are observed while they are checkpointed, with
    no job of their own; a kind's output rows are its kept ids
    semi-joined, so with unique input ids the counts bound them."""
    spatial = opts["bbox"] is not None or opts["poly"] is not None
    hash_active = spatial or opts["drop_broken_refs"]
    if not hash_active:
        return nodes, ways, rels, None
    from .operators.graph import rel_closure_up

    spark = nodes.sparkSession
    counted: dict[str, int] = {}

    def checkpoint(ids: DataFrame, what: str) -> DataFrame:
        obs = Observation()
        with job_description(spark, f"convert: kept {what} ids"):
            ids = ids.observe(obs, F.count(F.lit(1)).alias("rows")) \
                .localCheckpoint()
        # keyed by kind: the completed way ids replace the way ids
        counted[what.split()[-1]] = obs.get["rows"]
        return ids

    mref = rels.select("id", F.explode("members").alias("m")).select(
        "id",
        F.col("m.ref").alias("ref"),
        F.col("m.mtype").alias("t"),
        F.col("m.role").alias("role"),
    )
    # inter-relation keep propagation (oo__rrprocessing,
    # osmconvert.c:9083-9131): a relation whose RELATION member is
    # kept becomes kept, to a fixpoint capped like maxrewind
    rel_edges = mref.filter(F.col("t") == "relation").select(
        F.col("id").alias("rel_id"), F.col("ref").alias("child_rel")
    )

    def keep_closure(node_ids: DataFrame, way_ids: DataFrame):
        # relations with a kept node or way member, then closed
        # upward over relation members
        direct = (
            mref.filter(F.col("t") == "node")
            .join(node_ids.select(F.col("id").alias("ref")),
                  "ref", "left_semi")
            .select("id")
            .unionByName(
                mref.filter(F.col("t") == "way")
                .join(way_ids.select(F.col("id").alias("ref")),
                      "ref", "left_semi")
                .select("id")
            )
        )
        obs = Observation()
        kept = rel_closure_up(
            rel_edges, direct.select(F.col("id").alias("rel_id")),
            observation=obs,
        )
        counted["rel"] = obs.get["rows"]
        return kept.select(F.col("rel_id").alias("id"))

    inside = nodes
    if spatial:
        inside = _inside_nodes(nodes, opts).persist()
        cached.append(inside)

    kept_way_ids = checkpoint(
        ways.select("id", F.explode("refs").alias("ref"))
        .join(inside.select(F.col("id").alias("ref")), "ref",
              "left_semi")
        .select("id")
        .distinct(),
        "way",
    )

    complex_mode = (
        opts["complete_mp"] or opts["complete_boundaries"]
    ) and spatial
    if complex_mode:
        # --complete-multipolygons / --complete-boundaries
        # (dependency stages 11-13, osmconvert.c:11240-11302):
        # relations touched by the border whose type qualifies and
        # which have >= 1 flagged outer/inner member way pull their
        # UNFLAGGED outer/inner member ways back in; all kept ways
        # then complete their node sets (stage 12 = stage 21).
        rel1 = keep_closure(inside, kept_way_ids)
        type_val = F.try_element_at(F.col("tags"), F.lit("type"))
        qual_type = F.lit(False)
        if opts["complete_mp"]:
            qual_type = qual_type | (type_val == "multipolygon")
        if opts["complete_boundaries"]:
            qual_type = qual_type | (type_val == "boundary")
        qual_rels = rels.join(rel1, "id", "left_semi").filter(
            qual_type
        )
        oi = mref.filter(
            (F.col("t") == "way")
            & F.col("role").isin("outer", "inner")
        )
        # wayinside: >= 1 flagged outer/inner member way
        with_inside_way = oi.join(
            kept_way_ids.select(F.col("id").alias("ref")),
            "ref",
            "left_semi",
        ).select("id")
        pulled_ways = oi.join(
            qual_rels.select("id").join(
                with_inside_way, "id", "left_semi"
            ),
            "id",
            "left_semi",
        ).select(F.col("ref").alias("id"))
        kept_way_ids = checkpoint(
            kept_way_ids.unionByName(pulled_ways).distinct(),
            "completed way",
        )
    if complex_mode or (opts["complete_ways"] and spatial):
        # G4: pull back every ref of a kept way that exists
        pulled = ways.join(kept_way_ids, "id", "left_semi").select(
            F.explode("refs").alias("id")
        )
        kept_node_ids = checkpoint(
            nodes.join(
                pulled.unionByName(inside.select("id")),
                "id",
                "left_semi",
            ).select("id"),
            "node",
        )
        nodes = nodes.join(kept_node_ids, "id", "left_semi")
    else:
        nodes = inside
        kept_node_ids = inside.select("id")
        counted["node"] = None

    ways = ways.join(kept_way_ids, "id", "left_semi")
    kept_rel_ids = keep_closure(kept_node_ids, kept_way_ids)
    rels = rels.join(kept_rel_ids, "id", "left_semi")

    if opts["drop_broken_refs"]:
        nodes, ways, rels = _drop_broken(
            nodes, ways, rels, kept_way_ids, kept_rel_ids
        )
    return nodes, ways, rels, (
        counted["node"], counted["way"], counted["rel"]
    )


def _drop_broken(nodes, ways, rels, kept_way_ids, kept_rel_ids):
    """P8: prune refs/members pointing at dropped objects; objects
    left empty vanish (osmconvert.c:11683-11687, stage-33 member
    pruning 11872-11886)."""
    kept_node_ids = nodes.select(F.col("id").alias("ref"))
    ex = ways.select("id", F.posexplode("refs").alias("j", "ref"))
    kept = ex.join(kept_node_ids, "ref", "left_semi")
    ways = (
        kept.groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "ref"))),
                lambda s: s.ref,
            ).alias("refs")
        )
        .filter(F.size("refs") > 0)
        # join back EVERYTHING except the rebuilt refs, so tags and
        # (when present) author metadata survive the prune
        .join(ways.drop("refs"), "id")
    )
    mex = rels.select("id", F.posexplode("members").alias("j", "m"))
    mkept = (
        mex.filter(F.col("m.mtype") == "node")
        .join(
            kept_node_ids.select(F.col("ref").alias("_r")),
            F.col("m.ref") == F.col("_r"),
            "left_semi",
        )
        .unionByName(
            mex.filter(F.col("m.mtype") == "way").join(
                kept_way_ids.select(F.col("id").alias("_r")),
                F.col("m.ref") == F.col("_r"),
                "left_semi",
            )
        )
        .unionByName(
            mex.filter(F.col("m.mtype") == "relation").join(
                kept_rel_ids.select(F.col("id").alias("_r")),
                F.col("m.ref") == F.col("_r"),
                "left_semi",
            )
        )
    )
    rels = (
        mkept.groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "m"))),
                lambda s: s.m,
            ).alias("members")
        )
        .filter(F.size("members") > 0)
        .join(rels.drop("members"), "id")
    )
    return nodes, ways, rels


# ----------------------------------------------------------------
# --all-to-nodes (G5): ways/relations -> center pseudo-nodes
# ----------------------------------------------------------------


def _way_centers(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """Way center nodes (id + OFF10): exact reference selection
    (osmconvert.c:11561-11640) — closed way: trunc-division bbox
    middle; open way: FIRST ref (in ref order) minimizing the
    Manhattan distance to the middle. Reuses the oracle-tested
    way_geometry kernel (operators/graph.py:114)."""
    from .operators.graph import way_geometry

    w = ways.select(
        F.col("id").alias("way_id"),
        F.coalesce(
            F.try_element_at("refs", F.lit(1))
            == F.try_element_at("refs", F.lit(-1)),
            F.lit(False),
        ).alias("is_closed"),
        "refs",
    )
    n = nodes.select(F.col("id").alias("doc_id"), "lat_i", "lon_i")
    geo = way_geometry(w, n)  # ways with zero resolvable refs vanish
    # the replacement node keeps the way's tags AND author metadata
    # (wo_node(id_new, hisver, ...), osmconvert.c:11661-11663)
    extra = [c for c in ways.columns if c not in ("id", "refs")]
    return geo.join(
        ways.select(F.col("id").alias("way_id"), *extra), "way_id"
    ).select(
        (F.col("way_id") + F.lit(OFF10)).alias("id"),
        F.col("center_lat").alias("lat_i"),
        F.col("center_lon").alias("lon_i"),
        *extra,
    )


_AREA_KEYS = ("highway", "waterway", "railway", "aerialway", "power",
              "route")


def _rel_members(rels: DataFrame) -> DataFrame:
    """The relations as operators/graph.rel_geometry members: node
    members keyed by node id, way members by their center
    pseudo-node id (way id + OFF10), relation members by relation
    id. is_area = no highway/waterway/railway/aerialway/power/route
    key, or area=yes (osmconvert.c:11752-11766)."""
    has_hw = F.arrays_overlap(
        F.map_keys("tags"),
        F.array(*[F.lit(k) for k in _AREA_KEYS]),
    )
    has_area = F.coalesce(
        F.try_element_at("tags", F.lit("area")) == F.lit("yes"),
        F.lit(False),
    )
    return rels.select(
        F.col("id").alias("rel_id"),
        ((~has_hw) | has_area).alias("is_area"),
        F.posexplode("members").alias("j", "m"),
    ).select(
        "rel_id",
        "j",
        F.when(F.col("m.mtype") == "way", F.col("m.ref") + OFF10)
        .otherwise(F.col("m.ref"))
        .alias("ref_id"),
        (F.col("m.mtype") == "relation").alias("is_rel"),
        "is_area",
    )


def _member_positions(nodes, way_nodes, way_boxes=None):
    """rel_geometry positions of node and way members, ways at
    their center pseudo-nodes. With way_boxes each also carries its
    box: a node's point, a way's bbox over its resolvable refs."""
    pos = nodes.select(
        F.col("id").alias("ref_id"),
        F.col("lon_i").alias("x"),
        F.col("lat_i").alias("y"),
    )
    wpos = way_nodes.select(
        F.col("id").alias("ref_id"),
        F.col("lon_i").alias("x"),
        F.col("lat_i").alias("y"),
    )
    if way_boxes is None:
        return pos.unionByName(wpos)
    return pos.select(
        "*",
        F.col("x").alias("x_min"),
        F.col("y").alias("y_min"),
        F.col("x").alias("x_max"),
        F.col("y").alias("y_max"),
    ).unionByName(
        wpos.join(
            way_boxes.select(
                (F.col("id") + OFF10).alias("ref_id"),
                "x_min", "y_min", "x_max", "y_max",
            ),
            "ref_id",
        )
    )


def _rel_nodes(rels: DataFrame, geo: DataFrame) -> DataFrame:
    """Relation center nodes (id + OFF20) from rel_geometry output;
    they keep the relation's tags and author metadata, and the box
    columns ride along. Relations that never resolve (a missing or
    cyclic relation member, no valid member) have no node — the
    reference's posi_nil behavior."""
    extra = [c for c in rels.columns if c not in ("id", "members")]
    return geo.join(
        rels.select(F.col("id").alias("rel_id"), *extra), "rel_id"
    ).select(
        (F.col("rel_id") + OFF20).alias("id"),
        F.col("y").alias("lat_i"),
        F.col("x").alias("lon_i"),
        "x_min", "y_min", "x_max", "y_max",
        *extra,
    )


def _read_parameter_file(path: str) -> list[str]:
    """--parameter-file reader (osmconvert.c:12644-12698):
    parameters separated by empty lines; line feeds inside one
    parameter become single spaces; lines starting with '// ' are
    comments; whitespace-only parameters are skipped."""
    params: list[str] = []
    cur: list[str] = []
    with open(path) as f:
        for line in f:
            if line.startswith("// "):
                continue
            body = line.rstrip("\r\n")
            if body == "":
                if cur:
                    params.append(" ".join(cur))
                    cur = []
                continue
            cur.append(body)
    if cur:
        params.append(" ".join(cur))
    return [p for p in (q.strip() for q in params) if p]


def parse_osm_timestamp(s: str) -> int:
    """oo__strtimetosint64 (osmconvert.c:9296-9346): strict
    'YYYY-MM-DDThh:mm:ssZ' via timegm, or NOW±seconds relative to
    the wall clock; 0 on syntax error (the reference's 'unset')."""
    import calendar
    import re as _re
    import time as _time

    if s.startswith("NOW"):
        m = _re.fullmatch(r"NOW([+-])(\d+)", s)
        if not m:
            return 0
        off = int(m.group(2))
        return int(_time.time()) + (off if m.group(1) == "+" else -off)
    m = _re.fullmatch(
        r"([12]\d{3})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})Z", s
    )
    if not m:
        return 0
    y, mo, d, h, mi, sec = (int(g) for g in m.groups())
    return int(calendar.timegm((y, mo, d, h, mi, sec, 0, 0, 0)))


def format_osm_timestamp(ts: int) -> str:
    import datetime as _dt

    return _dt.datetime.fromtimestamp(
        ts, _dt.timezone.utc
    ).strftime("%Y-%m-%dT%H:%M:%SZ")


# canonical emit order of the bbox tag family (the reference adds
# them in this fixed order regardless of flag order)
_BBOX_ORDER = (
    "bBox", "bBoxArea", "bBoxWeight", "bBoxWidth", "bBoxWidthWeight"
)


def _way_boxes(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """(id, x_min, y_min, x_max, y_max) per way over its
    RESOLVABLE refs; ways with zero resolvable refs vanish and
    get no bbox tag. DOCUMENTED DIVERGENCE: the reference leaks
    its RUNNING bbox accumulator into such ways — a way whose refs
    all fail to resolve is tagged with the bbox of whatever valid
    way happened to precede it in the stream ((0,0,0,0) when
    first) — order-dependent carry-over state a distributed engine
    deliberately does not reproduce, same policy as the ring-
    assembly state leak and the 9e8 antimeridian guard."""
    pos = ways.select("id", F.explode("refs").alias("ref")).join(
        nodes.select(
            F.col("id").alias("ref"),
            F.col("lon_i").alias("x"),
            F.col("lat_i").alias("y"),
        ),
        "ref",
    )
    return pos.groupBy("id").agg(
        F.min("x").alias("x_min"),
        F.min("y").alias("y_min"),
        F.max("x").alias("x_max"),
        F.max("y").alias("y_max"),
    )


def _bbox_tags_map(which: list[str]) -> F.Column:
    """Selected bbox tags (canonical order) as a map column from
    x_min/y_min/x_max/y_max fixed-point columns — the q28-tested
    bit-exact kernels (geo/bboxtags.bbox_tag_columns)."""
    from .geo.bboxtags import bbox_tag_columns

    cols = bbox_tag_columns(
        F.col("x_min"), F.col("y_min"),
        F.col("x_max"), F.col("y_max"),
    )
    sel = [k for k in _BBOX_ORDER if k in which]
    return F.map_from_entries(
        F.array(
            *[
                F.struct(
                    F.lit(k).alias("key"),
                    cols[k].cast("string").alias("value"),
                )
                for k in sel
            ]
        )
    )


def _prepend_bbox_tags(df: DataFrame, which: list[str]) -> DataFrame:
    """Prepend the selected bbox tags to `tags` where the box
    columns resolved (the reference writes computed tags first,
    then the object's own); rows without a box keep their tags.
    Existing tags under the same keys are dropped first (a map
    cannot carry the reference's duplicate-key output)."""
    sel = [k for k in _BBOX_ORDER if k in which]
    keyarr = F.array(*[F.lit(k) for k in sel])
    cleaned = F.map_filter(
        F.col("tags"), lambda k, _v: ~F.array_contains(keyarr, k)
    )
    tagged = F.map_concat(_bbox_tags_map(which), cleaned)
    return df.withColumn(
        "tags",
        F.when(F.col("x_min").isNotNull(), tagged).otherwise(
            F.col("tags")
        ),
    ).drop("x_min", "y_min", "x_max", "y_max")


def _apply_bbox_tags(nodes, ways, rels, which):
    """Plain --add-bbox* mode: ways and relations get the selected
    tags prepended in place; nodes untouched (verified against the
    binary)."""
    from .operators.graph import rel_geometry

    wb = _way_boxes(ways, nodes)
    geo = rel_geometry(
        _rel_members(rels),
        _member_positions(
            nodes, _way_centers(ways.select("id", "refs"), nodes), wb
        ),
        hand_up_box=True,
    )
    ways = _prepend_bbox_tags(
        ways.join(wb, "id", "left"), which
    )
    rels = _prepend_bbox_tags(
        rels.join(
            geo.select(
                F.col("rel_id").alias("id"),
                "x_min", "y_min", "x_max", "y_max",
            ),
            "id",
            "left",
        ),
        which,
    )
    return nodes, ways, rels


def _all_to_nodes_bbox(
    nodes, ways, rels, which, off=None, step=False
):
    """--all-to-nodes combined with --add-bbox*: replacement
    nodes carry the bbox tags; relation centers switch to the
    middle of the union of member boxes — NOT the middle of member
    positions, which is what plain --all-to-nodes uses (verified
    against the binary: rel of way(20..21,10..11)+node(22,12)
    centers at (21,11) with bbox tags on, (21.3,11.25) without);
    original nodes stay untagged."""
    from .operators.graph import rel_geometry

    way_nodes = _way_centers(ways, nodes)
    wb = _way_boxes(ways, nodes)
    way_nodes = _prepend_bbox_tags(
        way_nodes.join(
            wb.select(
                (F.col("id") + OFF10).alias("id"),
                "x_min", "y_min", "x_max", "y_max",
            ),
            "id",
            "left",
        ),
        which,
    )
    geo = rel_geometry(
        _rel_members(rels),
        _member_positions(nodes, way_nodes, wb),
        hand_up_box=True,
    )
    rel_nodes = _prepend_bbox_tags(_rel_nodes(rels, geo), which)
    way_nodes, rel_nodes = _remap_pseudo_ids(
        way_nodes, rel_nodes, off, step
    )
    all_nodes = nodes.unionByName(way_nodes).unionByName(rel_nodes)
    return all_nodes, None, None


def _remap_pseudo_ids(way_nodes, rel_nodes, off, step):
    """--object-type-offset: emitted pseudo-node ids leave the
    default 10^15/2*10^15 spaces. Offset mode: way -> way_id + off,
    rel -> rel_id + 2*off (posi_ini scaling). Step mode ("+1"):
    SEQUENTIAL ids in write order — ways ascending, then relations
    ascending, starting at off (osmconvert.c:11657, 11826) —
    assigned with the distributed dense index, plus one bounded
    count for the relations' starting point. Internal member
    resolution keeps the 10^15 spaces either way (the reference's
    posr does too; only the written ids change)."""
    if off is None:
        return way_nodes, rel_nodes
    if not step:
        way_nodes = way_nodes.withColumn(
            "id", F.col("id") - F.lit(OFF10) + F.lit(off)
        )
        rel_nodes = rel_nodes.withColumn(
            "id", F.col("id") - F.lit(OFF20) + F.lit(2 * off)
        )
        return way_nodes, rel_nodes
    from .operators.indexing import with_global_index

    way_nodes = (
        with_global_index(
            way_nodes, order_cols=["id"], index_col="_seq",
            start=off,
        )
        .withColumn("id", F.col("_seq"))
        .drop("_seq")
    )
    n_ways = way_nodes.count()  # bounded: one scalar job
    rel_nodes = (
        with_global_index(
            rel_nodes, order_cols=["id"], index_col="_seq",
            start=off + n_ways,
        )
        .withColumn("id", F.col("_seq"))
        .drop("_seq")
    )
    return way_nodes, rel_nodes


def _all_to_nodes(nodes, ways, rels, off=None, step=False):
    """--all-to-nodes: way centers, then relation centers by the
    member-position fixpoint (posr_processing,
    osmconvert.c:6917-7070)."""
    from .operators.graph import rel_geometry

    way_nodes = _way_centers(ways, nodes)
    rel_nodes = _rel_nodes(
        rels,
        rel_geometry(
            _rel_members(rels), _member_positions(nodes, way_nodes)
        ),
    ).drop("x_min", "y_min", "x_max", "y_max")
    way_nodes, rel_nodes = _remap_pseudo_ids(
        way_nodes, rel_nodes, off, step
    )
    all_nodes = nodes.unionByName(way_nodes).unionByName(rel_nodes)
    return all_nodes, None, None


# ----------------------------------------------------------------
# --out-statistics (K7 text format, osmconvert.c:11919-11984)
# ----------------------------------------------------------------


def _fix7(v: int) -> str:
    """write_createsfix7o (osmconvert.c:2996-3021): sign + integer
    part + '.' + exactly 7 decimals, trailing zeros kept."""
    s = "-" if v < 0 else ""
    a = abs(int(v))
    return f"{s}{a // 10_000_000}.{a % 10_000_000:07d}"


def _stats_text(nodes, ways, rels) -> str:
    n = nodes.agg(
        F.count("*").alias("n"),
        F.min("id").alias("id_min"),
        F.max("id").alias("id_max"),
        F.min("lon_i").alias("lon_min"),
        F.max("lon_i").alias("lon_max"),
        F.min("lat_i").alias("lat_min"),
        F.max("lat_i").alias("lat_max"),
        F.max(F.size("tags")).alias("kv_max"),
        F.min_by("id", F.struct(
            (-F.size("tags")).alias("neg"), F.col("id")
        )).alias("kv_id"),
    ).first()
    w = ways.agg(
        F.count("*").alias("n"),
        F.min("id").alias("id_min"),
        F.max("id").alias("id_max"),
        F.max(F.size("refs")).alias("refs_max"),
        F.min_by("id", F.struct(
            (-F.size("refs")).alias("neg"), F.col("id")
        )).alias("refs_id"),
        F.max(F.size("tags")).alias("kv_max"),
        F.min_by("id", F.struct(
            (-F.size("tags")).alias("neg"), F.col("id")
        )).alias("kv_id"),
    ).first()
    r = rels.agg(
        F.count("*").alias("n"),
        F.min("id").alias("id_min"),
        F.max("id").alias("id_max"),
        F.max(F.size("members")).alias("refs_max"),
        F.min_by("id", F.struct(
            (-F.size("members")).alias("neg"), F.col("id")
        )).alias("refs_id"),
        F.max(F.size("tags")).alias("kv_max"),
        F.min_by("id", F.struct(
            (-F.size("tags")).alias("neg"), F.col("id")
        )).alias("kv_id"),
    ).first()

    lines: list[str] = []
    # timestamp min/max across all kinds (printed first and only
    # when any object carries one, osmconvert.c:11924-11935)
    if "timestamp" in nodes.columns:
        ts = (
            nodes.select("timestamp")
            .unionByName(ways.select("timestamp"))
            .unionByName(rels.select("timestamp"))
            .agg(
                F.min("timestamp").alias("lo"),
                F.max("timestamp").alias("hi"),
            )
            .first()
        )
        if ts["lo"] is not None:
            from datetime import datetime, timezone

            def iso(v):
                return datetime.fromtimestamp(
                    int(v), timezone.utc
                ).strftime("%Y-%m-%dT%H:%M:%SZ")

            lines.append(f"timestamp min: {iso(ts['lo'])}")
            lines.append(f"timestamp max: {iso(ts['hi'])}")
    if n["n"] > 0:
        lines += [
            f"lon min: {_fix7(n['lon_min'])}",
            f"lon max: {_fix7(n['lon_max'])}",
            f"lat min: {_fix7(n['lat_min'])}",
            f"lat max: {_fix7(n['lat_max'])}",
        ]
    lines += [
        f"nodes: {n['n']}",
        f"ways: {w['n']}",
        f"relations: {r['n']}",
    ]
    for label, row in (("node", n), ("way", w), ("relation", r)):
        if row["id_min"] is not None and row["id_min"] != 0:
            lines.append(f"{label} id min: {row['id_min']}")
        if row["id_max"] is not None and row["id_max"] != 0:
            lines.append(f"{label} id max: {row['id_max']}")
    # keyval pairs max: stream-first object (nodes then ways then
    # relations, ids ascending; strictly-greater replacement keeps
    # the earliest, osmconvert.c:11486-11489)
    kv_max, kv_name, kv_id = 0, None, None
    for name, row in (("node", n), ("way", w), ("relation", r)):
        m = row["kv_max"] or 0
        if m > kv_max:
            kv_max, kv_name, kv_id = m, name, row["kv_id"]
    if kv_max:
        lines.append(f"keyval pairs max: {kv_max}")
        lines.append(f"keyval pairs max object: {kv_name} {kv_id}")
    if (w["refs_max"] or 0) > 0:
        lines.append(f"noderefs max: {w['refs_max']}")
        lines.append(f"noderefs max object: way {w['refs_id']}")
    if (r["refs_max"] or 0) > 0:
        lines.append(f"relrefs max: {r['refs_max']}")
        lines.append(
            f"relrefs max object: relation {r['refs_id']}"
        )
    return "".join(line + "\n" for line in lines)


# ----------------------------------------------------------------
# --out-key / --out-count (osmfilter count_ module, 1791-1906)
# ----------------------------------------------------------------


def _key_count_lines(
    frames: list[DataFrame], pattern: str, by_count: bool
) -> Iterator[str]:
    """Tag-key (pattern == '') or tag-value (values of keys
    matching pattern, * wildcards at either end) frequency table.
    Names are grouped by their first 59 chars (count__nameL=60,
    osmfilter.c:1775); sort orders per count__qsortcount and the
    name-ordered index, names comparing by their UTF-8 bytes (the
    order of Spark's string sort). Spark sorts the table and the
    lines stream to the driver one partition at a time."""
    ent_frames = [
        df.select(F.explode(F.map_entries("tags")).alias("e"))
        for df in frames
    ]
    ents = ent_frames[0]
    for other in ent_frames[1:]:
        ents = ents.unionByName(other)
    if pattern == "":
        named = ents.select(F.col("e.key").alias("name"))
    else:
        k = F.col("e.key")
        pre = pattern.startswith("*")
        suf = pattern.endswith("*") and len(pattern) > 1
        core = pattern.strip("*")
        if pre and suf:
            cond = k.contains(core)
        elif pre:
            cond = k.endswith(core)
        elif suf:
            cond = k.startswith(core)
        else:
            cond = k == core
        named = ents.filter(cond).select(
            F.col("e.value").alias("name")
        )
    counts = (
        named.select(F.substring("name", 1, 59).alias("name"))
        .groupBy("name")
        .agg(F.count("*").alias("cnt"))
    )
    order = [F.col("cnt").desc(), "name"] if by_count else ["name"]
    for r in counts.orderBy(*order).toLocalIterator():
        yield f"{r['cnt']:11d}\t{r['name']}"


# ----------------------------------------------------------------
# CSV (K4): all three kinds in stream order
# ----------------------------------------------------------------


def _csv_projection(df, cols: list[str], otype: int, with_coords: bool):
    from .geo.bboxtags import fix7_col

    oname = ("node", "way", "relation")[otype]
    sel = []
    for i, c in enumerate(cols):
        a = f"c{i}"
        if c == "@id":
            sel.append(F.col("id").cast("string").alias(a))
        elif c == "@otype":
            sel.append(F.lit(str(otype)).alias(a))
        elif c == "@oname":
            sel.append(F.lit(oname).alias(a))
        elif c == "@lat" and with_coords:
            sel.append(fix7_col(F.col("lat_i")).alias(a))
        elif c == "@lon" and with_coords:
            sel.append(fix7_col(F.col("lon_i")).alias(a))
        elif c == "@version" and "version" in df.columns:
            sel.append(
                F.coalesce(F.col("version"), F.lit(0))
                .cast("string")
                .alias(a)
            )
        elif c == "@timestamp" and "timestamp" in df.columns:
            # write_createtimestamp: absent -> epoch 0 rendered
            sel.append(
                F.concat(
                    F.date_format(
                        F.timestamp_seconds(
                            F.coalesce(
                                F.col("timestamp"), F.lit(0)
                            )
                        ),
                        "yyyy-MM-dd'T'HH:mm:ss",
                    ),
                    F.lit("Z"),
                ).alias(a)
            )
        elif c == "@changeset" and "changeset" in df.columns:
            sel.append(
                F.coalesce(F.col("changeset"), F.lit(0))
                .cast("string")
                .alias(a)
            )
        elif c == "@uid" and "uid" in df.columns:
            sel.append(
                F.coalesce(F.col("uid"), F.lit(0))
                .cast("string")
                .alias(a)
            )
        elif c == "@user" and "user" in df.columns:
            sel.append(
                F.coalesce(F.col("user"), F.lit("")).alias(a)
            )
        elif c.startswith("@"):
            sel.append(F.lit("").alias(a))
        else:
            sel.append(
                F.try_element_at(F.col("tags"), F.lit(c)).alias(a)
            )
    return df.select(
        F.lit(otype).alias("_k"), F.col("id").alias("_id"), *sel
    )


def _emit_csv(nodes, ways, rels, opts) -> None:
    from .operators.sinks import csv_lines

    cols = opts["csv_cols"].split(" ")
    names = [f"c{i}" for i in range(len(cols))]
    parts = [_csv_projection(nodes, cols, 0, True)]
    if ways is not None:
        parts.append(_csv_projection(ways, cols, 1, False))
    if rels is not None:
        parts.append(_csv_projection(rels, cols, 2, False))
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    lines = csv_lines(
        union.orderBy("_k", "_id"), names, sep=opts["csv_sep"]
    )
    if opts.get("csv_headline"):
        # csv_headline (osmconvert.c:3332-3347): one leading row of
        # the column names themselves
        print(opts["csv_sep"].join(cols))
    for row in lines.toLocalIterator():
        print(row.value)


# ----------------------------------------------------------------
# driver
# ----------------------------------------------------------------


def convert(spark: SparkSession, argv: list[str]) -> str | None:
    """Run one conversion; returns the output path (None for the
    stdout sinks: csv / statistics / key lists).

    Each Python stage runs once per object: every input's decoded
    frame and the border's inside nodes are persisted while the
    conversion runs. Whether it returns or raises, convert then
    releases them and every other RDD persisted while it ran (the
    keep sets' and the closure's localCheckpoints), so it leaves no
    persisted data behind; it assumes no other thread persists RDDs
    on the same SparkContext meanwhile. Each of its Spark jobs is
    labelled `convert` or with the stage that ran it."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    cached: list[DataFrame] = []
    try:
        with job_description(spark, "convert"):
            return _convert(spark, _parse_args(argv), cached)
    finally:
        for df in cached:
            df.unpersist()
        for rdd_id, rdd in jsc.getPersistentRDDs().items():
            if rdd_id not in before:
                rdd.unpersist(False)


def _convert(
    spark: SparkSession, opts: dict, cached: list[DataFrame]
) -> str | None:
    """convert's body; every frame it persists goes on `cached`."""
    from .filterlang.ast import parse as parse_keep
    from .filterlang.spark import keep_column, tags_filter_column
    from .operators.merge import union_dedup
    from .sources.auto import decode_osm_auto
    from .sources.osmxml import split_decoded

    def decoded(path: str, **kw) -> tuple[DataFrame, ...]:
        # decode once: the filter stages below read the cache
        df = decode_osm_auto(spark, path, with_meta=True, **kw).persist()
        cached.append(df)
        return split_decoded(df)

    if opts["out_timestamp"]:
        # K8 probe (osmconvert.c:10501-10508): print the first
        # input's 0xdc file timestamp, or "(invalid timestamp)"
        import datetime as _dt

        from .sources.auto import sniff_format
        from .sources.o5m import o5m_file_timestamp

        p = opts["inputs"][0]
        ts = None
        if sniff_format(p) in ("o5m", "o5c"):
            with open(p, "rb") as f:
                ts = o5m_file_timestamp(f.read())
        if ts:
            print(
                _dt.datetime.fromtimestamp(
                    ts, _dt.timezone.utc
                ).strftime("%Y-%m-%dT%H:%M:%SZ")
            )
        else:
            print("(invalid timestamp)")
        return None

    parts = [
        decoded(p, pbf_granularity=opts["pbf_granularity"])
        for p in opts["inputs"]
    ]

    if opts["diff"]:
        # J6: two snapshots -> changefile (--diff,
        # osmconvert.c:10865-10976); output must be .osc/.o5c
        if len(parts) != 2:
            raise SystemExit("--diff requires exactly two inputs")
        from .operators.merge import diff_changefile

        canon = F.array_sort(F.map_entries("tags")).cast("string")

        def chg(old, new, payload, compare):
            d = diff_changefile(
                old.withColumn("_t", canon),
                new.withColumn("_t", canon),
                ["id"],
                payload + ["tags"],
                compare_cols=compare + ["_t"],
            )
            return d.select(
                "id",
                *payload,
                F.when(F.col("deleted"), F.lit(None))
                .otherwise(F.col("tags"))
                .alias("tags"),
            )

        (on_, ow_, or_), (nn_, nw_, nr_) = parts
        nodes = chg(on_, nn_, ["lat_i", "lon_i"], ["lat_i", "lon_i"])
        ways = chg(ow_, nw_, ["refs"], ["refs"])
        rels = chg(or_, nr_, ["members"], ["members"])
        ext = (opts["out"] or "").rsplit(".", 1)[-1]
        if ext not in ("osc", "o5c"):
            raise SystemExit("--diff output must be .osc or .o5c")
    elif len(parts) == 1 and not opts["merge_versions"]:
        nodes, ways, rels = parts[0]
    else:
        # --merge-versions additionally collapses duplicate ids
        # WITHIN one input, newest version winning
        # (osmconvert.c:11124-11137); without it, later FILES still
        # override earlier ones (oo__switch merge order)
        oc = ["version"] if opts["merge_versions"] else None
        nodes = union_dedup([p[0] for p in parts], ["id"], oc)
        ways = union_dedup([p[1] for p in parts], ["id"], oc)
        rels = union_dedup([p[2] for p in parts], ["id"], oc)

    if opts["sub_inputs"]:
        # J4: subtract the objects of every file listed after
        # --subtract (osmconvert.c:554-556, 12731-12735)
        from .operators.merge import subtract as _subtract

        sub = [decoded(p) for p in opts["sub_inputs"]]
        nodes = _subtract(
            nodes, union_dedup([p[0] for p in sub], ["id"]), ["id"]
        )
        ways = _subtract(
            ways, union_dedup([p[1] for p in sub], ["id"]), ["id"]
        )
        rels = _subtract(
            rels, union_dedup([p[2] for p in sub], ["id"]), ["id"]
        )

    # author-column transforms (P7; wo__author globals,
    # osmconvert.c:8219-8234): --drop-version clears everything,
    # --drop-author keeps the version but clears the rest,
    # --fake-author/--fake-version set the minimal (1,1,1) author
    if any(
        opts[k]
        for k in ("drop_version", "drop_author", "fake_author",
                  "fake_version")
    ):
        null_l = F.lit(None).cast("long")

        def author_mod(df):
            if opts["fake_author"] or opts["fake_version"]:
                return (
                    df.withColumn("version", F.lit(1).cast("int"))
                    .withColumn("timestamp", F.lit(1).cast("long"))
                    .withColumn("changeset", F.lit(1).cast("long"))
                    .withColumn("uid", null_l)
                    .withColumn(
                        "user", F.lit(None).cast("string")
                    )
                )
            out = df
            if opts["drop_version"]:
                out = out.withColumn(
                    "version", F.lit(None).cast("int")
                )
            out = (
                out.withColumn("timestamp", null_l)
                .withColumn("changeset", null_l)
                .withColumn("uid", null_l)
                .withColumn("user", F.lit(None).cast("string"))
            )
            return out

        nodes = author_mod(nodes)
        ways = author_mod(ways)
        rels = author_mod(rels)

    # Deleted objects (tags=None tombstones from change-file
    # inputs) bypass every filter, exactly like the reference's
    # early `continue` (osmconvert.c:11409-11420): they are KEPT
    # for change/osh outputs (wo_delete) and silently dropped for
    # every other sink.
    out_ext = (
        (opts["out"] or "").rsplit(".", 1)[-1].lower()
        if opts["out"]
        else ""
    )
    osh_mode = opts["out_osh"] or out_ext == "osh"
    change_out = (
        opts["diff"]
        or out_ext in ("osc", "o5c")
        or opts["out_fmt"] in ("o5c", "osc")
    )
    tombs = None
    if not opts["diff"]:
        if osh_mode or change_out:
            tombs = (
                nodes.where(F.col("tags").isNull()),
                ways.where(F.col("tags").isNull()),
                rels.where(F.col("tags").isNull()),
            )
        nodes = nodes.where(F.col("tags").isNotNull())
        ways = ways.where(F.col("tags").isNotNull())
        rels = rels.where(F.col("tags").isNotNull())

    nodes0, ways0, rels0 = nodes, ways, rels  # pre-filter frames

    if opts["keep"]:
        pred = parse_keep(opts["keep"])
        nodes = nodes.filter(keep_column(F.col("tags"), pred))
        ways = ways.filter(keep_column(F.col("tags"), pred))
        rels = rels.filter(keep_column(F.col("tags"), pred))

    def _drop_only(df, kind):
        """Apply ONLY the drop side (fil_check1 + bare section
        drops) — the survivors dependency marking may pull."""
        if opts["drop_t"][kind] is not None:
            df = df.filter(
                ~keep_column(
                    F.col("tags"),
                    parse_keep(opts["drop_t"][kind]),
                    mode="drop",
                )
            )
        if opts["drop_all"][kind]:
            df = df.limit(0)
        return df

    # per-type keep, then per-type drop (fil_check0/fil_check1
    # order, osmfilter.c:6450-6467); bare --drop-nodes/-ways/
    # -relations empty the whole section
    kinds = {"node": nodes, "way": ways, "relation": rels}
    for kind, df in kinds.items():
        if opts["keep_t"][kind] is not None:
            df = df.filter(
                keep_column(
                    F.col("tags"), parse_keep(opts["keep_t"][kind])
                )
            )
        kinds[kind] = _drop_only(df, kind)
    nodes, ways, rels = kinds["node"], kinds["way"], kinds["relation"]

    has_keep = opts["keep"] is not None or any(
        opts["keep_t"].values()
    )
    if has_keep and not opts["ignore_dependencies"]:
        # osmfilter's DEFAULT dependency completion (the behavior
        # --ignore-dependencies turns OFF): kept relations pull
        # the relations they reference (downward closure,
        # oo__inverserrprocessing), every marked relation pulls
        # its way/node members, and every marked way pulls its
        # nodes. Binary-probed corner semantics honored: the DROP
        # filter kills pulled objects too, and the closure never
        # propagates THROUGH a dropped object (a dropped relation
        # pulls nothing; a dropped way pulls no nodes).
        from .operators.graph import rel_closure_down

        n_nd = _drop_only(nodes0, "node")
        w_nd = _drop_only(ways0, "way")
        r_nd = _drop_only(rels0, "relation")

        redges = (
            rels0.select(
                F.col("id").alias("rel_id"),
                F.explode("members").alias("m"),
            )
            .where(F.col("m.mtype") == "relation")
            .select("rel_id", F.col("m.ref").alias("child_rel"))
            # propagation passes only through not-dropped rels
            .join(
                r_nd.select(F.col("id").alias("child_rel")),
                "child_rel",
                "left_semi",
            )
        )
        marked_rels = rel_closure_down(
            redges, rels.select(F.col("id").alias("rel_id"))
        )
        rels = r_nd.join(
            marked_rels.select(F.col("rel_id").alias("id")),
            "id",
            "left_semi",
        )
        marked_members = (
            rels.select(F.explode("members").alias("m"))
            .select(
                F.col("m.mtype").alias("mtype"),
                F.col("m.ref").alias("id"),
            )
            .distinct()
        )
        way_ids = ways.select("id").unionByName(
            marked_members.where(F.col("mtype") == "way").select(
                "id"
            )
        ).distinct()
        ways = w_nd.join(way_ids, "id", "left_semi")
        node_ids = (
            nodes.select("id")
            .unionByName(
                marked_members.where(
                    F.col("mtype") == "node"
                ).select("id")
            )
            .unionByName(
                ways.select(F.explode("refs").alias("id"))
            )
            .distinct()
        )
        nodes = n_nd.join(node_ids, "id", "left_semi")

    kt, dt = opts["keep_tags_t"], opts["drop_tags_t"]
    if any(kt.values()) or any(dt.values()):
        kinds = {"node": nodes, "way": ways, "relation": rels}
        for kind, df in kinds.items():
            if kt[kind] is None and dt[kind] is None:
                continue
            kinds[kind] = df.withColumn(
                "tags",
                tags_filter_column(
                    F.col("tags"), keep=kt[kind], drop=dt[kind]
                ),
            )
        nodes, ways, rels = (
            kinds["node"], kinds["way"], kinds["relation"]
        )

    if opts["modify_tags"] is not None or any(
        opts["modify_tags_t"].values()
    ):
        from .filterlang.modify import modify_entries, parse_modify

        # the generic list feeds every type; per-type lists append
        # (each type owns one rule array in the reference)
        per_type = {}
        for kind in ("node", "way", "relation"):
            src = [
                s
                for s in (
                    opts["modify_tags"], opts["modify_tags_t"][kind]
                )
                if s is not None
            ]
            per_type[kind] = (
                parse_modify(" ".join(src)) if src else None
            )

        def remap(df, rules):
            ents = modify_entries(F.col("tags"), rules)
            # first occurrence wins on rename collisions (the map
            # type cannot carry the reference's duplicate tags)
            dedup = F.aggregate(
                ents,
                F.array().cast(
                    "array<struct<key:string,val:string>>"
                ),
                lambda acc, e: F.when(
                    F.exists(acc, lambda a: a.key == e.key), acc
                ).otherwise(F.concat(acc, F.array(e))),
            )
            return df.withColumn(
                "tags",
                F.map_from_entries(
                    F.transform(
                        dedup,
                        lambda e: F.struct(
                            e.key.alias("key"), e.val.alias("value")
                        ),
                    )
                ),
            )

        if per_type["node"]:
            nodes = remap(nodes, per_type["node"])
        if per_type["way"]:
            ways = remap(ways, per_type["way"])
        if per_type["relation"]:
            rels = remap(rels, per_type["relation"])

    if opts["out_statistics"]:
        # pre-border stream, like the reference's statistics block
        sys.stdout.write(_stats_text(nodes, ways, rels))
        return None
    if opts["statistics"]:
        # --statistics prints to stderr while converting normally
        # (osmconvert.c:11920-11922)
        sys.stderr.write(_stats_text(nodes, ways, rels))
        if opts["out_none"] and opts["out"] is None:
            return None

    nodes, ways, rels, bounds = _apply_spatial(
        nodes, ways, rels, opts, cached
    )

    if opts["all_to_nodes"]:
        bounds = None  # ways and relations become nodes
        if opts["add_bbox"]:
            nodes, ways, rels = _all_to_nodes_bbox(
                nodes, ways, rels, opts["add_bbox"],
                off=opts["otype_offset"], step=opts["otype_step"],
            )
        else:
            nodes, ways, rels = _all_to_nodes(
                nodes, ways, rels,
                off=opts["otype_offset"], step=opts["otype_step"],
            )
    elif opts["add_bbox"]:
        nodes, ways, rels = _apply_bbox_tags(
            nodes, ways, rels, opts["add_bbox"]
        )

    if opts["out_key"] is not None:
        frames = [nodes]
        if ways is not None:
            frames.append(ways)
        if rels is not None:
            frames.append(rels)
        for line in _key_count_lines(
            frames, opts["out_key"], opts["out_sort"]
        ):
            print(line)
        return None

    if opts["out_csv"]:
        _emit_csv(nodes, ways, rels, opts)
        return None

    if tombs is not None:
        # rejoin the delete records for the change/osh sinks
        bounds = None
        nodes = nodes.unionByName(tombs[0])
        ways = ways.unionByName(tombs[1]) if ways is not None else tombs[1]
        rels = rels.unionByName(tombs[2]) if rels is not None else tombs[2]

    if osh_mode and opts["out"] is None:
        # --out-osh without -o= streams to stdout like --out-osm
        from .wire import encode_osm_xml
        from .wire.spark import _iter_rows

        sys.stdout.write(
            encode_osm_xml(
                _iter_rows(nodes),
                _iter_rows(ways) if ways is not None else [],
                _iter_rows(rels) if rels is not None else [],
                osh=True,
                fake_lonlat=opts["fake_lonlat"],
            )
        )
        return None

    if opts["out_fmt"] is not None and opts["out"] is None:
        # --out-FORMAT without -o=: stream to stdout, like the
        # reference tools (osmconvert.c:12823-12860). XML goes to
        # the text stream, binary formats to the byte stream.
        from .wire import encode_o5m, encode_osm_xml, encode_pbf
        from .wire.spark import _iter_rows

        rows = (
            _iter_rows(nodes),
            _iter_rows(ways) if ways is not None else [],
            _iter_rows(rels) if rels is not None else [],
        )
        fmt = opts["out_fmt"]
        ts = opts["timestamp"]
        if fmt == "osm":
            sys.stdout.write(
                encode_osm_xml(
                    *rows,
                    dialect=opts["emulate"],
                    header_timestamp=(
                        format_osm_timestamp(ts) if ts else None
                    ),
                )
            )
        elif fmt == "osc":
            # --out-osc (osmconvert.c:63, 12840-12844) to stdout
            from .wire import encode_osc as _enc_osc

            sys.stdout.write(
                _enc_osc(*rows, fake_lonlat=opts["fake_lonlat"])
            )
        elif fmt in ("o5m", "o5c"):
            sys.stdout.buffer.write(
                encode_o5m(
                    *rows,
                    change=(fmt == "o5c"),
                    file_timestamp=ts,
                )
            )
        else:  # pbf
            sys.stdout.buffer.write(encode_pbf(*rows))
        return None

    out = opts["out"]
    if not out:
        raise SystemExit("missing -o= output (or --out-csv)")
    from .wire import encode_o5m, encode_osc, write_wire_single
    from .wire.spark import _iter_rows

    ext = out.rsplit(".", 1)[-1]
    with job_description(spark, f"convert: write .{ext}"):
        if ext == "o5m":
            write_wire_single(
                nodes, ways, rels, out, fmt="o5m",
                file_timestamp=opts["timestamp"], rows=bounds,
            )
        elif ext == "o5c":
            data = encode_o5m(
                _iter_rows(nodes),
                _iter_rows(ways) if ways is not None else [],
                _iter_rows(rels) if rels is not None else [],
                change=True,
                file_timestamp=opts["timestamp"],
            )
            with open(out, "wb") as f:
                f.write(data)
        elif ext in ("osm", "osh"):
            fmt = "osm"
            if osh_mode:
                fmt = "osh-fakell" if opts["fake_lonlat"] else "osh"
            write_wire_single(
                nodes, ways, rels, out, fmt=fmt,
                dialect=opts["emulate"],
                file_timestamp=opts["timestamp"], rows=bounds,
            )
        elif ext == "osc":
            with open(out, "w") as f:
                f.write(
                    encode_osc(
                        _iter_rows(nodes),
                        _iter_rows(ways) if ways is not None else [],
                        _iter_rows(rels) if rels is not None else [],
                        fake_lonlat=opts["fake_lonlat"],
                    )
                )
        elif ext == "pbf":
            write_wire_single(
                nodes, ways, rels, out, fmt="pbf", rows=bounds
            )
        else:
            raise SystemExit(f"unknown output extension .{ext}")
    return out
