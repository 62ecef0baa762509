"""Unit tests for MinHash+LSH, SimHash, and embedding ANN."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osmgraft.operators.dedup import (
    embed_ann_lsh,
    embed_knn_exact,
    gram_array,
    minhash_lsh_pairs,
    simhash16_col,
)


@pytest.fixture(scope="module")
def corpus(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs far "
        "away into the green forest tonight"
    )
    rows = [
        (1, base),
        (2, "prefix " + base),  # near-dup of 1
        (3, "completely different words describing unrelated topics "
            "like databases query engines and caching layers"),
        (4, base.replace("green", "blue")),  # near-dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_lsh_finds_planted_dups(corpus):
    pairs = {
        (r.a, r.b): r.shared_bands
        for r in minhash_lsh_pairs(corpus).collect()
    }
    assert (1, 2) in pairs
    assert (1, 4) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_near_dups_collide(corpus):
    out = {
        r.doc_id: r.simhash
        for r in corpus.select(
            "doc_id",
            simhash16_col(gram_array(F.col("text"))).alias("simhash"),
        ).collect()
    }
    # 16-bit simhash of near-identical docs should be very close
    # (usually equal); unrelated doc should differ
    assert bin(out[1] ^ out[2]).count("1") <= 3
    assert bin(out[1] ^ out[3]).count("1") >= 4
    assert all(0 <= v < (1 << 16) for v in out.values())


def test_embed_knn_exact_self_similarity(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    out = embed_knn_exact(emb, F.col("vec_id") == 0, k=2).collect()
    assert [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)] == [1, 2]
    assert out[0].cos_r <= 1.0


def test_embed_ann_lsh_pairs_in_same_bucket(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 16)).astype("float32")
    vecs[1] = vecs[0] + rng.normal(scale=0.01, size=16).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    pairs = embed_ann_lsh(emb, n_planes=6, dim=16).collect()
    # the planted near-identical pair lands in the same bucket
    assert any(r.a == 0 and r.b == 1 for r in pairs)
    top = max(
        (r for r in pairs if r.a == 0 and r.b == 1),
        key=lambda r: r.cos_r,
    )
    assert top.cos_r > 0.99


def test_jaccard_on_candidates_composes_with_lsh(corpus):
    """round-2 scale fix: exact Jaccard restricted to LSH candidate
    pairs must (a) be a subset of the all-pairs result and (b) still
    recall the planted near-dups. No gram self-join over the corpus
    may appear in the composed plan."""
    from osmgraft.operators.dedup import jaccard_on_candidates
    from osmgraft.operators.text import ngram_jaccard_pairs

    cand = minhash_lsh_pairs(corpus)
    composed = jaccard_on_candidates(corpus, cand, threshold=0.3)
    allpairs = ngram_jaccard_pairs(corpus, threshold=0.3)

    got = {
        (r.a, r.b): (r.inter, round(r.jaccard, 9))
        for r in composed.collect()
    }
    want = {
        (r.a, r.b): (r.inter, round(r.jaccard, 9))
        for r in allpairs.collect()
    }
    assert set(got) <= set(want)
    for k in got:
        assert got[k] == want[k]
    # planted near-dups recalled through the LSH gate
    assert (1, 2) in got and (1, 4) in got


def test_dedup_clusters_warns_when_unconverged(spark, caplog):
    """cluster_star stopped by max_rounds before its star fixed
    point logs the truncation warning (mirrors osmconvert's
    recursion-cap warning) instead of silently splitting the
    component; a converged run stays silent."""
    import logging

    from osmgraft.operators.dedup import cluster_star

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "a long, b long"
    )
    with caplog.at_level(logging.WARNING, logger="osmgraft"):
        out = cluster_star(chain, max_rounds=1)
        n = out.count()
    assert n == 21
    assert any(
        "cluster_star stopped" in r.message for r in caplog.records
    )

    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="osmgraft"):
        out2 = cluster_star(chain)
        labels = {r.doc_id: r.cluster for r in out2.collect()}
    assert labels == {i: 0 for i in range(21)}
    assert not any(
        "cluster_star stopped" in r.message for r in caplog.records
    )


def test_banded_ann_recall_at_least_single_signature(spark):
    """round-2: the banded ANN (3 bands x 6 bits) must recall at
    least as many true similar pairs as the fixed single 2^8-bucket
    signature it supersedes, on fixture embeddings plus planted
    exact duplicates (which any sane ANN must recall at 100%)."""
    import os

    from osmgraft.operators.dedup import (
        cosine,
        embed_ann_banded,
        embed_ann_lsh,
        with_norm2,
    )

    path = "/root/testdata/sf0.001/embeddings.parquet"
    if not os.path.exists(path):
        import pytest

        pytest.skip("testdata not present")
    base_emb = spark.read.parquet(path).select("vec_id", "embedding")
    dups = base_emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    emb = base_emb.unionByName(dups)

    # ground truth: planted duplicate pairs (cos 1.0) + the
    # strongest natural pairs (brute force on ~550 vectors)
    base = with_norm2(emb).select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("v"),
        F.col("_n2").alias("n2"),
    )
    a, c = base.alias("a"), base.alias("c")
    truth = {
        (r.a, r.b)
        for r in a.join(c, F.col("a.vid") < F.col("c.vid"))
        .select(
            F.col("a.vid").alias("a"), F.col("c.vid").alias("b"),
            cosine(
                F.col("a.v"), F.col("c.v"),
                F.col("a.n2"), F.col("c.n2"),
            ).alias("cos"),
        )
        .filter(F.col("cos") >= 0.35)
        .collect()
    }
    planted = {(i, i + 1000) for i in range(0, 500, 10)}
    assert planted <= truth

    banded = {
        (r.a, r.b) for r in embed_ann_banded(emb).collect()
    }
    single = {
        (r.a, r.b) for r in embed_ann_lsh(emb).collect()
    }
    # identical vectors share every band signature: recall 1.0
    assert planted <= banded
    recall_banded = len(truth & banded) / len(truth)
    recall_single = len(truth & single) / len(truth)
    assert recall_banded >= recall_single


def test_simhash_df_matches_column_form(corpus):
    """the agg-based simhash16 must produce exactly the in-row
    column form's values (same hash family, same tie rule)."""
    from osmgraft.operators.dedup import simhash16

    want = {
        r.doc_id: r.simhash
        for r in corpus.select(
            "doc_id",
            simhash16_col(gram_array(F.col("text"))).alias("simhash"),
        ).collect()
    }
    got = {r.doc_id: r.simhash for r in simhash16(corpus).collect()}
    assert got == want


def test_ivf_ann_recall_against_exact_knn(spark):
    """IVF with n_probe=2 over ~8 centroids must recover a solid
    share of the exact top-3 neighbors, and every returned neighbor
    must be a true vector with correct exact cosine (IVF only
    restricts the candidate set, never the scoring)."""
    import os

    from osmgraft.operators.dedup import (
        embed_ann_ivf,
        embed_knn_exact,
    )

    path = "/root/testdata/sf0.001/embeddings.parquet"
    if not os.path.exists(path):
        import pytest

        pytest.skip("testdata not present")
    emb = spark.read.parquet(path)

    exact = {
        (r.query_id, r.neighbor_id): r.cos_r
        for r in embed_knn_exact(
            emb, F.col("vec_id") % 50 == 0, k=3
        ).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id): r.cos_r
        for r in embed_ann_ivf(
            emb,
            centroid_filter=F.col("vec_id") % 64 == 3,
            query_filter=F.col("vec_id") % 50 == 0,
            n_probe=2,
            k=3,
        ).collect()
    }
    # scores agree exactly on the overlap
    for k_, v in ivf.items():
        if k_ in exact:
            assert v == exact[k_]
    recall = len(set(ivf) & set(exact)) / len(exact)
    assert recall >= 0.3, recall


def test_reciprocal_nn_drops_asymmetric_edges(spark):
    """Crafted kNN table: only mutual pairs survive, ordered a<b,
    ranks preserved from each direction."""
    from osmgraft.operators.dedup import reciprocal_nn

    knn = spark.createDataFrame(
        [
            # 1 and 2 mutual; 3 points at 1 but 1 not at 3 (hub)
            (1, 2, 1), (2, 1, 2),
            (3, 1, 1),
            # 4 and 5 mutual
            (4, 5, 1), (5, 4, 1),
        ],
        "query_id long, neighbor_id long, rank long",
    )
    got = {
        (r.a, r.b, r.rank_ab, r.rank_ba)
        for r in reciprocal_nn(knn).collect()
    }
    assert got == {(1, 2, 1, 2), (4, 5, 1, 1)}
