"""Driver-contract queries for the training-data pipeline operators
(operators/dedup.py): MinHash+LSH, SimHash, embedding ANN — each
paired with a DuckDB oracle that replays the identical hash/float
arithmetic.

Corpus for the text queries: documents (mod-7 sample) plus planted
near-duplicates ('dup ' prefix, offset ids) so collisions exist.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators.dedup import (
    MAX_BAND_BITS,
    embed_ann_lsh,
    embed_knn_exact,
    hyperplanes,
    minhash_lsh_pairs,
)

N_HASHES = 12
BAND_ROWS = 2
N_PLANES = 8
DIM = 64

# ---------------------------------------------------------------
# shared corpus (Spark + SQL)
# ---------------------------------------------------------------


def _corpus(spark, sf_dir):
    from .suite import load

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 0)
        .select("doc_id", "text")
    )
    dups = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("dup "), F.col("text")).alias("text"),
    )
    return docs.unionByName(dups)

_CORPUS_CTE = """
corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 1000000, 'dup ' || text
  FROM documents WHERE doc_id % 7 = 0
)
"""

_GRAMS_CTE = """
toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM corpus
),
grams AS (
  SELECT DISTINCT doc_id,
    array_to_string(t[CAST(i.i AS BIGINT):CAST(i.i + 2 AS BIGINT)],
                    ' ') AS gram
  FROM toks
  CROSS JOIN LATERAL (
    SELECT unnest(range(1, greatest(len(t) - 2, 1) + 1)) AS i
  ) i
)
"""


# ---------------------------------------------------------------
# q29: MinHash + LSH candidate pairs
# ---------------------------------------------------------------


def q29_minhash_lsh(spark, sf_dir):
    return minhash_lsh_pairs(
        _corpus(spark, sf_dir), n_hashes=N_HASHES, band_rows=BAND_ROWS
    )


def _minhash_oracle() -> str:
    sig_aggs = ",\n    ".join(
        f"MIN(md5('{i}:' || gram)) AS s{i}" for i in range(N_HASHES)
    )
    n_bands = N_HASHES // BAND_ROWS
    band_rows = ",\n    ".join(
        "({b}, s{h0} || '|' || s{h1})".format(
            b=b, h0=2 * b, h1=2 * b + 1
        )
        for b in range(n_bands)
    )
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_idx, "
        f"s{2 * b} || '|' || s{2 * b + 1} AS band_val FROM sigs"
        for b in range(n_bands)
    )
    return f"""
WITH {_CORPUS_CTE},
{_GRAMS_CTE},
sigs AS (
  SELECT doc_id,
    {sig_aggs}
  FROM grams GROUP BY doc_id
),
bands AS (
{band_selects}
)
SELECT x.doc_id AS a, y.doc_id AS b,
       COUNT(*) AS shared_bands
FROM bands x JOIN bands y
  ON x.band_idx = y.band_idx AND x.band_val = y.band_val
 AND x.doc_id < y.doc_id
GROUP BY 1, 2
"""


# ---------------------------------------------------------------
# q30: SimHash
# ---------------------------------------------------------------


def q30_simhash(spark, sf_dir):
    from .operators.dedup import simhash16

    return simhash16(_corpus(spark, sf_dir))


_HEXVAL = (
    "(strpos('0123456789abcdef', substr({h}, {p}, 1)) - 1)"
)


def _hex4_sql(expr: str) -> str:
    """First 4 hex chars of md5 -> 0..65535 (portable SQL)."""
    h = f"md5({expr})"
    return (
        f"({_HEXVAL.format(h=h, p=1)} * 4096 + "
        f"{_HEXVAL.format(h=h, p=2)} * 256 + "
        f"{_HEXVAL.format(h=h, p=3)} * 16 + "
        f"{_HEXVAL.format(h=h, p=4)})"
    )


def _simhash_oracle() -> str:
    bitsums = ",\n    ".join(
        f"SUM(((h >> {j}) & 1) * 2 - 1) AS b{j}" for j in range(16)
    )
    assemble = " + ".join(
        f"CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END"
        for j in range(16)
    )
    return f"""
WITH {_CORPUS_CTE},
{_GRAMS_CTE},
hs AS (
  SELECT doc_id, {_hex4_sql("gram")} AS h FROM grams
),
bits AS (
  SELECT doc_id,
    {bitsums}
  FROM hs GROUP BY doc_id
)
SELECT doc_id, CAST({assemble} AS BIGINT) AS simhash FROM bits
"""


# ---------------------------------------------------------------
# q31: exact embedding kNN (brute-force cosine top-k)
# ---------------------------------------------------------------


def q31_embed_knn(spark, sf_dir):
    from .suite import load

    emb = load(spark, sf_dir, "embeddings")
    return embed_knn_exact(
        emb, F.col("vec_id") % 50 == 0, k=3
    )


_EMB_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
n AS (
  SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e
),
q AS (SELECT * FROM n WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
    list_dot_product(q.v, n.v) / sqrt(q.n2) / sqrt(n.n2) AS c
  FROM q JOIN n ON n.vec_id <> q.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, c,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY c DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
       round(c, 6) AS cos_r
FROM ranked WHERE rank <= 3
"""


def q120_reciprocal_nn(spark, sf_dir):
    """Mutual-kNN near-dup confirmation (dedup.reciprocal_nn)
    over a 1-in-5 vector sample: pairs where each vector is in the
    other's exact top-4 — asymmetric hub edges drop out; one
    pair-keyed self-join over the pinned kNN table. (The exact
    all-pairs kNN input is the ORACLE-scale path; at 100 TB feed
    reciprocal_nn the q45/q47 ANN candidates instead.)"""
    from .suite import load
    from .operators.dedup import reciprocal_nn

    emb = load(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % 5 == 0
    )
    knn = embed_knn_exact(emb, F.lit(True), k=4)
    return reciprocal_nn(knn)


_RNN_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE vec_id % 5 = 0
),
n AS (
  SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e
),
scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
    list_dot_product(q.v, n.v) / sqrt(q.n2) / sqrt(n.n2) AS c
  FROM n q JOIN n ON n.vec_id <> q.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY c DESC, neighbor_id ASC) AS rank
  FROM scored
),
knn AS (
  SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
  FROM ranked WHERE rank <= 4
)
SELECT l.query_id AS a, l.neighbor_id AS b,
       l.rank AS rank_ab, r.rank AS rank_ba
FROM knn l
JOIN knn r ON r.query_id = l.neighbor_id
          AND r.neighbor_id = l.query_id
WHERE l.query_id < l.neighbor_id
"""


# ---------------------------------------------------------------
# q32: LSH-bucketed ANN candidate pairs
# ---------------------------------------------------------------


def q32_embed_ann_lsh(spark, sf_dir):
    from .suite import load

    emb = load(spark, sf_dir, "embeddings")
    return embed_ann_lsh(emb, n_planes=N_PLANES, dim=DIM)


def _ann_lsh_oracle() -> str:
    planes = hyperplanes(N_PLANES, DIM)
    vals = ",".join(
        f"({p},{d + 1},{c})"
        for p, row in enumerate(planes)
        for d, c in enumerate(row)
    )
    assemble = " + ".join(
        f"CASE WHEN s{p} > 0 THEN {1 << p} ELSE 0 END"
        for p in range(N_PLANES)
    )
    projs = ",\n    ".join(
        f"SUM(CASE WHEN pl.p = {p} THEN el.val * pl.coef ELSE 0 END)"
        f" AS s{p}"
        for p in range(N_PLANES)
    )
    return f"""
WITH planes(p, d, coef) AS (VALUES {vals}),
e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
el AS (
  SELECT vec_id, unnest(v) AS val,
         generate_subscripts(v, 1) AS d
  FROM e
),
proj AS (
  SELECT el.vec_id,
    {projs}
  FROM el JOIN planes pl ON pl.d = el.d
  GROUP BY el.vec_id
),
buckets AS (
  SELECT vec_id, CAST({assemble} AS BIGINT) AS bucket FROM proj
),
n AS (
  SELECT e.vec_id, e.v, list_dot_product(e.v, e.v) AS n2, b.bucket
  FROM e JOIN buckets b USING (vec_id)
)
SELECT a.bucket, a.vec_id AS a, c.vec_id AS b,
  round(list_dot_product(a.v, c.v) / sqrt(a.n2) / sqrt(c.n2), 6)
    AS cos_r
FROM n a JOIN n c
  ON a.bucket = c.bucket AND a.vec_id < c.vec_id
"""


def q47_embed_ann_ivf(spark, sf_dir):
    """IVF ANN: nearest-centroid inverted lists, n_probe=2, k=3.
    Centroids are the vec_id % 64 == 3 vectors; queries are the
    q31 query set so recall is comparable against exact kNN."""
    from .suite import load

    from .operators.dedup import embed_ann_ivf

    emb = load(spark, sf_dir, "embeddings")
    return embed_ann_ivf(
        emb,
        centroid_filter=F.col("vec_id") % 64 == 3,
        query_filter=F.col("vec_id") % 50 == 0,
        n_probe=2,
        k=3,
    )


_IVF_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
n AS (
  SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e
),
cents AS (
  SELECT vec_id AS cid, v AS cv, n2 AS cn2 FROM n
  WHERE vec_id % 64 = 3
),
scored AS (
  SELECT n.vec_id, c.cid,
    list_dot_product(n.v, c.cv) / sqrt(n.n2) / sqrt(c.cn2) AS cc
  FROM n CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
      ROW_NUMBER() OVER (PARTITION BY vec_id
                         ORDER BY cc DESC, cid ASC) AS r
    FROM scored
  ) WHERE r = 1
),
q AS (
  SELECT vec_id AS query_id, v AS qv, n2 AS qn2 FROM n
  WHERE vec_id % 50 = 0
),
qs AS (
  SELECT q.query_id, q.qv, q.qn2, c.cid,
    list_dot_product(q.qv, c.cv) / sqrt(q.qn2) / sqrt(c.cn2) AS cc
  FROM q CROSS JOIN cents c
),
probes AS (
  SELECT query_id, qv, qn2, cid AS cluster FROM (
    SELECT *,
      ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY cc DESC, cid ASC) AS r
    FROM qs
  ) WHERE r <= 2
),
cand AS (
  SELECT p.query_id, p.qv, p.qn2, n.vec_id, n.v, n.n2
  FROM probes p
  JOIN assign a ON a.cluster = p.cluster
  JOIN n ON n.vec_id = a.vec_id
  WHERE n.vec_id <> p.query_id
),
sc AS (
  SELECT query_id, vec_id AS neighbor_id,
    list_dot_product(qv, v) / sqrt(qn2) / sqrt(n2) AS c
  FROM cand
),
rk AS (
  SELECT query_id, neighbor_id, c,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY c DESC, neighbor_id ASC) AS rank
  FROM sc
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
       round(c, 6) AS cos_r
FROM rk WHERE rank <= 3
"""


N_ANN_BANDS = 3
ANN_TARGET_BUCKET = 32


def q45_embed_ann_banded(spark, sf_dir):
    from .suite import load

    from .operators.dedup import embed_ann_banded

    emb = load(spark, sf_dir, "embeddings")
    return embed_ann_banded(
        emb,
        band_bits=None,
        n_bands=N_ANN_BANDS,
        dim=DIM,
        target_bucket=ANN_TARGET_BUCKET,
    )


def q202_embed_ann_multiprobe(spark, sf_dir):
    """Multi-probe hyperplane ANN (operators/dedup.
    embed_ann_multiprobe): each vector also probes the band_bits
    buckets one hyperplane-flip away — ~band_bits extra tables of
    recall from the signatures already built (Lv et al. 2007).
    2 bands of AUTO-derived bits (derive_band_bits: smallest b
    with 2^b * 32 >= N, from one cheap count — no manual retuning
    as the corpus grows), probe fan-out bits+1 per band; exact
    cosine verify; candidate set provably superset of the
    same-band exact-bucket join. The oracle derives bits from
    COUNT(*) with the identical integer rule."""
    from .suite import load

    from .operators.dedup import embed_ann_multiprobe

    emb = load(spark, sf_dir, "embeddings")
    return embed_ann_multiprobe(
        emb,
        band_bits=None,
        n_bands=2,
        dim=DIM,
        target_bucket=ANN_TARGET_BUCKET,
    )


def _ann_bits_ctes(
    source: str, target: int = ANN_TARGET_BUCKET
) -> str:
    """Shared dynamic-bits CTE pair: `bvals` enumerates candidate
    bit counts 1..MAX_BAND_BITS, `abits` picks the smallest b with
    2^b buckets * target >= COUNT(source) — integer-exact, the
    verbatim mirror of operators/dedup.derive_band_bits, so both
    engines derive the SAME bits from the SAME data at ANY SF."""
    vals = ",".join(f"({b})" for b in range(1, MAX_BAND_BITS + 1))
    return f"""bvals(b) AS (VALUES {vals}),
abits AS (
  SELECT COALESCE(MIN(b), {MAX_BAND_BITS}) AS bits FROM bvals
  WHERE (CAST(1 AS BIGINT) << b) * {target}
        >= (SELECT COUNT(*) FROM {source})
)"""


def _ann_proj_sql(n_bands: int) -> tuple[str, str]:
    """(planes VALUES rows, projection select list) for the fixed
    MAX_BAND_BITS-stride plane pool — plane p = band*MAX + j is
    the same plane whatever bits get derived (the layout invariant
    of dedup._band_plane_slices in auto mode)."""
    planes = hyperplanes(n_bands * MAX_BAND_BITS, DIM)
    vals = ",".join(
        f"({p},{d + 1},{c})"
        for p, row in enumerate(planes)
        for d, c in enumerate(row)
    )
    projs = ",\n    ".join(
        f"SUM(CASE WHEN pl.p = {p} THEN el.val * pl.coef ELSE 0 END)"
        f" AS s{p}"
        for p in range(n_bands * MAX_BAND_BITS)
    )
    return vals, projs


def _ann_bucket_selects(n_bands: int) -> str:
    """Per-band dynamic bucket assembly: bit j participates only
    while j < the derived bits."""
    outs = []
    for band in range(n_bands):
        assemble = " + ".join(
            f"CASE WHEN {j} < ab.bits AND"
            f" s{band * MAX_BAND_BITS + j} > 0"
            f" THEN {1 << j} ELSE 0 END"
            for j in range(MAX_BAND_BITS)
        )
        outs.append(
            f"  SELECT vec_id, {band} AS band, "
            f"CAST({assemble} AS BIGINT) AS bucket"
            f" FROM proj, abits ab"
        )
    return "\n  UNION ALL\n".join(outs)


def _ann_multiprobe_oracle() -> str:
    n_bands = 2
    vals, projs = _ann_proj_sql(n_bands)
    bands_sql = _ann_bucket_selects(n_bands)
    return f"""
WITH planes(p, d, coef) AS (VALUES {vals}),
e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
{_ann_bits_ctes("e")},
el AS (
  SELECT vec_id, unnest(v) AS val,
         generate_subscripts(v, 1) AS d
  FROM e
),
proj AS (
  SELECT el.vec_id,
    {projs}
  FROM el JOIN planes pl ON pl.d = el.d
  GROUP BY el.vec_id
),
buckets AS (
{bands_sql}
),
flips AS (
  SELECT CAST(0 AS BIGINT) AS f
  UNION ALL
  SELECT CAST(1 AS BIGINT) << (b - 1)
  FROM bvals, abits WHERE b <= bits
),
probes AS (
  SELECT vec_id, band, bucket AS obucket,
         xor(bucket, f) AS pbucket
  FROM buckets, flips
),
n AS (
  SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e
),
cand AS (
  SELECT x.vec_id AS a, y.vec_id AS b,
    CAST(COUNT(*) AS BIGINT) AS shared_probes,
    CAST(MIN(bit_count(xor(x.obucket, y.bucket))) AS BIGINT)
      AS min_hamming
  FROM probes x JOIN buckets y
    ON x.band = y.band AND x.pbucket = y.bucket
   AND x.vec_id < y.vec_id
  GROUP BY 1, 2
)
SELECT c.a, c.b, c.shared_probes, c.min_hamming,
  round(list_dot_product(na.v, nb.v) / sqrt(na.n2) / sqrt(nb.n2), 6)
    AS cos_r
FROM cand c
JOIN n na ON na.vec_id = c.a
JOIN n nb ON nb.vec_id = c.b
"""


def _ann_banded_oracle(source: str = "embeddings") -> str:
    vals, projs = _ann_proj_sql(N_ANN_BANDS)
    bands_sql = _ann_bucket_selects(N_ANN_BANDS)
    return f"""
WITH planes(p, d, coef) AS (VALUES {vals}),
e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {source}
),
{_ann_bits_ctes("e")},
el AS (
  SELECT vec_id, unnest(v) AS val,
         generate_subscripts(v, 1) AS d
  FROM e
),
proj AS (
  SELECT el.vec_id,
    {projs}
  FROM el JOIN planes pl ON pl.d = el.d
  GROUP BY el.vec_id
),
buckets AS (
{bands_sql}
),
n AS (
  SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e
),
cand AS (
  SELECT x.vec_id AS a, y.vec_id AS b,
         CAST(COUNT(*) AS BIGINT) AS shared_bands
  FROM buckets x JOIN buckets y
    ON x.band = y.band AND x.bucket = y.bucket
   AND x.vec_id < y.vec_id
  GROUP BY 1, 2
)
SELECT c.a, c.b, c.shared_bands,
  round(list_dot_product(na.v, nb.v) / sqrt(na.n2) / sqrt(nb.n2), 6)
    AS cos_r
FROM cand c
JOIN n na ON na.vec_id = c.a
JOIN n nb ON nb.vec_id = c.b
"""


def q44_dedup_clusters(spark, sf_dir):
    """Dedup resolution: LSH candidate pairs -> connected components
    -> keeper (min doc id) per cluster. Corpus plants TWO dup
    generations ('dup ' and 'dup dup ' prefixes) so clusters chain
    across pairs that LSH alone only connects transitively.
    Components by star contraction (operators/dedup.cluster_star);
    the oracle is the recursive transitive closure."""
    from .operators.dedup import cluster_star

    base = _corpus(spark, sf_dir)  # originals + gen-1 dups
    gen2 = base.filter(F.col("doc_id") >= 1000000).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("dup "), F.col("text")).alias("text"),
    )
    corpus = base.unionByName(gen2)
    pairs = minhash_lsh_pairs(
        corpus, n_hashes=N_HASHES, band_rows=BAND_ROWS
    )
    return cluster_star(pairs)


def q55_dedup_keep_list(spark, sf_dir):
    """The per-document keep/drop verdict a pipeline feeds to the
    writer: q44's planted dup clusters resolved to a canonical
    member (longest text, ties -> lowest doc_id); singletons keep
    themselves (operators/dedup.dedup_keep_list)."""
    from .operators.dedup import dedup_keep_list

    base = _corpus(spark, sf_dir)
    gen2 = base.filter(F.col("doc_id") >= 1000000).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("dup "), F.col("text")).alias("text"),
    )
    corpus = base.unionByName(gen2)
    pairs = minhash_lsh_pairs(
        corpus, n_hashes=N_HASHES, band_rows=BAND_ROWS
    )
    return dedup_keep_list(corpus, pairs)


def q57_semantic_dedup(spark, sf_dir):
    """End-to-end SEMANTIC dedup: banded-ANN candidates -> exact
    cosine >= 0.95 -> connected components -> keep/drop verdict
    (the embedding twin of q55's text keep-list). Corpus plants
    scaled copies (x2 for vec_id%9==0, additionally x3 for %18==0)
    — same direction, different magnitude, the classic
    un-normalized re-embedding artifact; the x2/x3 chain exercises
    transitive cluster resolution. Scaled copies land in the SAME
    hyperplane bucket in every band (signs are scale-invariant),
    so ANN recall on the planted dups is exact by construction."""
    from .suite import load

    from .operators.dedup import cluster_star, embed_ann_banded

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )

    def _scaled(mod, offset, k):
        return emb.filter(F.col("vec_id") % mod == 0).select(
            (F.col("vec_id") + offset).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x * F.lit(float(k))
            ).alias("embedding"),
        )

    corpus = emb.unionByName(_scaled(9, 100000, 2)).unionByName(
        _scaled(18, 200000, 3)
    )
    pairs = embed_ann_banded(
        corpus,
        band_bits=None,
        n_bands=N_ANN_BANDS,
        dim=DIM,
        target_bucket=ANN_TARGET_BUCKET,
    ).filter(F.col("cos_r") >= 0.95)
    clusters = cluster_star(pairs, a_col="a", b_col="b")
    return (
        corpus.select(F.col("vec_id").alias("doc_id"))
        .join(clusters, "doc_id", "left")
        .select(
            F.col("doc_id").alias("vec_id"),
            F.coalesce("cluster", F.col("doc_id")).alias("cluster"),
            (
                F.coalesce("cluster", F.col("doc_id"))
                == F.col("doc_id")
            ).alias("keep"),
        )
    )


_EMB_CORPUS_CTE = """
emb_corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
  FROM embeddings
  UNION ALL
  SELECT vec_id + 100000,
         list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2)
  FROM embeddings WHERE vec_id % 9 = 0
  UNION ALL
  SELECT vec_id + 200000,
         list_transform(CAST(embedding AS DOUBLE[]), x -> x * 3)
  FROM embeddings WHERE vec_id % 18 = 0
)
"""


def _semantic_keep_oracle() -> str:
    return f"""
WITH RECURSIVE {_EMB_CORPUS_CTE.strip()},
ann AS ({_ann_banded_oracle(source="emb_corpus")}),
edges0 AS (SELECT a AS u, b AS v FROM ann WHERE cos_r >= 0.95),
edges AS (
  SELECT u, v FROM edges0 UNION SELECT v, u FROM edges0
),
reach(u, v) AS (
  SELECT DISTINCT u, u FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
),
clus AS (SELECT u AS id, MIN(v) AS cluster FROM reach GROUP BY u)
SELECT c.vec_id, COALESCE(cl.cluster, c.vec_id) AS cluster,
       (COALESCE(cl.cluster, c.vec_id) = c.vec_id) AS keep
FROM emb_corpus c LEFT JOIN clus cl ON cl.id = c.vec_id
"""


_CORPUS3_SQL = """
corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 1000000, 'dup ' || text
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 2000000, 'dup dup ' || text
  FROM documents WHERE doc_id % 7 = 0
)
"""


def _cluster_oracle() -> str:
    sig_aggs = ",\n    ".join(
        f"MIN(md5('{i}:' || gram)) AS s{i}" for i in range(N_HASHES)
    )
    n_bands = N_HASHES // BAND_ROWS
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_idx, "
        f"s{2 * b} || '|' || s{2 * b + 1} AS band_val FROM sigs"
        for b in range(n_bands)
    )
    return f"""
WITH RECURSIVE {_CORPUS3_SQL},
{_GRAMS_CTE},
sigs AS (
  SELECT doc_id, {sig_aggs} FROM grams GROUP BY doc_id
),
bands AS (
{band_selects}
),
edges AS (
  SELECT DISTINCT x.doc_id AS u, y.doc_id AS v
  FROM bands x JOIN bands y
    ON x.band_idx = y.band_idx AND x.band_val = y.band_val
   AND x.doc_id <> y.doc_id
),
reach(u, v) AS (
  SELECT DISTINCT u, u FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
)
SELECT u AS doc_id, MIN(v) AS cluster FROM reach GROUP BY u
"""


def _keep_oracle() -> str:
    """q55: q44's cluster oracle nested as a CTE, then the keeper
    argmax (longest text, lowest id) over the full corpus with
    singletons as their own clusters."""
    return f"""
WITH {_CORPUS3_SQL.strip().rstrip()},
clus AS ({_cluster_oracle()}),
lab AS (
  SELECT c.doc_id, COALESCE(cl.cluster, c.doc_id) AS cluster,
         length(c.text) AS len
  FROM corpus c LEFT JOIN clus cl USING (doc_id)
)
SELECT doc_id, cluster,
  (ROW_NUMBER() OVER (PARTITION BY cluster
                      ORDER BY len DESC, doc_id ASC) = 1) AS keep
FROM lab
"""


def q149_sq8_rescore(spark, sf_dir):
    """SQ8 scalar-quantized ANN (operators/sq.sq8_topk): per-dim
    min/max byte codes, integer-dot candidate generation (top 12,
    ties -> lowest id), exact fixed-point cosine rescore, final
    top-3 per query — the 4x-compression storage-bound sibling of
    q31 (exact), q45/q47 (LSH/IVF routing) and q89/q90 (PQ)."""
    from .suite import load
    from .operators.sq import sq8_topk

    emb = load(spark, sf_dir, "embeddings")
    return sq8_topk(emb, F.col("vec_id") % 50 == 0, k=3, n_cand=12)


# Oracle twin of sq8_topk: same fixed-point quantization, exploded
# (vec_id, dim) rows joined on dim for bounds/codes/dots — integer
# arithmetic end-to-end, so floor(num/span) and every score are
# exact in both engines (see operators/sq.py docstring).
_SQ8_ORACLE = """
WITH e AS (
  SELECT vec_id, unnest(qv) AS q, generate_subscripts(qv, 1) AS dim
  FROM (
    SELECT vec_id,
      list_transform(embedding,
        x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
    FROM embeddings
  )
),
bounds AS (
  SELECT dim, MIN(q) AS mn, MAX(q) AS mx FROM e GROUP BY dim
),
codes AS (
  SELECT e.vec_id, e.dim,
    CASE WHEN b.mx > b.mn
      THEN CAST(floor(((e.q - b.mn) * 255) / (b.mx - b.mn)) AS BIGINT)
      ELSE 0 END AS code
  FROM e JOIN bounds b USING (dim)
),
qids AS (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id % 50 = 0),
cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    SUM(qc.code * c.code) AS sq8_score
  FROM qids q
  JOIN codes qc ON qc.vec_id = q.vec_id
  JOIN codes c ON c.dim = qc.dim AND c.vec_id <> q.vec_id
  GROUP BY 1, 2
),
top_cand AS (
  SELECT query_id, neighbor_id, sq8_score,
    ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY sq8_score DESC, neighbor_id ASC) AS cr
  FROM cand
),
n2 AS (SELECT vec_id, SUM(q * q) AS n2 FROM e GROUP BY vec_id),
rescored AS (
  SELECT t.query_id, t.neighbor_id, t.sq8_score,
    (SELECT SUM(a.q * b.q) FROM e a JOIN e b
       ON a.dim = b.dim AND a.vec_id = t.neighbor_id
      AND b.vec_id = t.query_id)
      / sqrt(qn.n2) / sqrt(nn.n2) AS c
  FROM top_cand t
  JOIN n2 qn ON qn.vec_id = t.query_id
  JOIN n2 nn ON nn.vec_id = t.neighbor_id
  WHERE t.cr <= 12
),
ranked AS (
  SELECT query_id, neighbor_id, sq8_score, c,
    ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY c DESC, neighbor_id ASC) AS rank
  FROM rescored
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
  CAST(sq8_score AS BIGINT) AS sq8_score, round(c, 6) AS cos_r
FROM ranked WHERE rank <= 3
"""


def q222_ann_recall(spark, sf_dir):
    """ANN quality evaluation: recall of the banded hyperplane
    candidate set (q45) against the exact cosine top-3 (q31),
    per query — n_hit of n_exact as exact integer counts. The
    measurement harness every ANN deployment needs before turning
    a recall knob (band_bits/n_bands, see embed_ann_banded):
    composes the two existing operators with one pair join, and
    the oracle composes the two existing ORACLES the same way —
    engine and oracle each evaluate their own ANN against their
    own exact ranking."""
    from .suite import load
    from .operators.dedup import embed_ann_banded, embed_knn_exact

    emb = load(spark, sf_dir, "embeddings")
    exact = embed_knn_exact(
        emb, F.col("vec_id") % 50 == 0, k=3
    ).select("query_id", "neighbor_id")
    ann = embed_ann_banded(
        emb,
        band_bits=None,
        n_bands=N_ANN_BANDS,
        dim=DIM,
        target_bucket=ANN_TARGET_BUCKET,
    ).select("a", "b")
    j = exact.join(
        ann,
        (F.least("query_id", "neighbor_id") == F.col("a"))
        & (F.greatest("query_id", "neighbor_id") == F.col("b")),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_exact"),
        F.sum(F.col("a").isNotNull().cast("long"))
        .cast("long")
        .alias("n_hit"),
    )


ML_QUERIES = {
    "q29_minhash_lsh": q29_minhash_lsh,
    "q30_simhash": q30_simhash,
    "q31_embed_knn": q31_embed_knn,
    "q222_ann_recall": q222_ann_recall,
    "q120_reciprocal_nn": q120_reciprocal_nn,
    "q32_embed_ann_lsh": q32_embed_ann_lsh,
    "q44_dedup_clusters": q44_dedup_clusters,
    "q55_dedup_keep_list": q55_dedup_keep_list,
    "q57_semantic_dedup": q57_semantic_dedup,
    "q45_embed_ann_banded": q45_embed_ann_banded,
    "q202_embed_ann_multiprobe": q202_embed_ann_multiprobe,
    "q47_embed_ann_ivf": q47_embed_ann_ivf,
    "q149_sq8_rescore": q149_sq8_rescore,
}


def ml_oracle_sqls() -> dict[str, str]:
    return {
        "q29_minhash_lsh": _minhash_oracle(),
        "q30_simhash": _simhash_oracle(),
        "q31_embed_knn": _EMB_ORACLE,
        "q222_ann_recall": f"""
WITH ex AS ({_EMB_ORACLE}),
ann AS ({_ann_banded_oracle()})
SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
  CAST(SUM(CASE WHEN a.a IS NOT NULL THEN 1 ELSE 0 END)
       AS BIGINT) AS n_hit
FROM ex e LEFT JOIN ann a
  ON a.a = LEAST(e.query_id, e.neighbor_id)
 AND a.b = GREATEST(e.query_id, e.neighbor_id)
GROUP BY 1
""",
        "q120_reciprocal_nn": _RNN_ORACLE,
        "q32_embed_ann_lsh": _ann_lsh_oracle(),
        "q44_dedup_clusters": _cluster_oracle(),
        "q55_dedup_keep_list": _keep_oracle(),
        "q57_semantic_dedup": _semantic_keep_oracle(),
        "q45_embed_ann_banded": _ann_banded_oracle(),
        "q202_embed_ann_multiprobe": _ann_multiprobe_oracle(),
        "q47_embed_ann_ivf": _IVF_ORACLE,
        "q149_sq8_rescore": _SQ8_ORACLE,
    }
