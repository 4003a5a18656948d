"""Dedup-family tests: hand-computed Jaccard and the LSH invariants an
oracle diff does not state — verified pairs are a subset of the exact
result, exact dups always collide, and results do not depend on
partitioning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tf_prisma_api_data_ingestion_spark.operators import dedup


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
    (3, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
    (4, "completely different words about spark engines"),
    (5, "spark engines process completely different words"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id LONG, text STRING")


def test_exact_dedup(spark, docs):
    got = {r.doc_id: r.dup_count for r in dedup.exact_dedup(docs).collect()}
    assert got[1] == 2          # docs 1 and 3 collapse, min id kept
    assert 3 not in got
    assert got[2] == got[4] == got[5] == 1
    assert sum(got.values()) == 5


def test_word_shingles_short_doc(spark):
    df = spark.createDataFrame([(1, "only two")], "doc_id LONG, text STRING")
    got = df.select(dedup.word_shingles(F.col("text"), 3).alias("s")).first()
    assert got.s == ["only two"]


def test_word_shingles_hand_computed(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id LONG, text STRING")
    got = df.select(dedup.word_shingles(F.col("text"), 3).alias("s")).first()
    assert sorted(got.s) == ["a b c", "b c d"]


def _exact_jaccard(a: str, b: str, n: int = 3) -> float:
    def sh(s):
        t = s.split()
        if len(t) < n:
            return {" ".join(t)}
        return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}
    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


def test_ngram_jaccard_exact_values(spark, docs):
    got = {(r.doc_a, r.doc_b): r.jaccard_r
           for r in dedup.ngram_jaccard_pairs(docs, threshold=0.1,
                                              max_df=10**9).collect()}
    want_12 = _exact_jaccard(DOCS[0][1], DOCS[1][1])
    assert got[(1, 2)] == pytest.approx(round(want_12, 4))
    assert got[(1, 3)] == 1.0 and got[(2, 3)] == got[(1, 2)]


def test_minhash_lsh_subset_of_exact_with_full_recall_on_dups(spark, docs):
    exact = {(r.doc_a, r.doc_b)
             for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5,
                                                max_df=10**9).collect()}
    lsh = {(r.doc_a, r.doc_b)
           for r in dedup.minhash_lsh_pairs_md5(docs, threshold=0.5).collect()}
    assert lsh <= exact                      # verified candidates only
    assert (1, 3) in lsh                     # exact dup always collides
    assert (1, 2) in lsh                     # 8/10 shingles shared


def test_minhash_jaccard_is_exact_on_candidates(spark, docs):
    got = {(r.doc_a, r.doc_b): r.jaccard_r
           for r in dedup.minhash_lsh_pairs_md5(docs, threshold=0.1).collect()}
    for (a, b), j in got.items():
        want = _exact_jaccard(DOCS[a - 1][1], DOCS[b - 1][1])
        assert j == pytest.approx(round(want, 4)), (a, b)


def test_simhash_stability_and_dup_collision(spark, docs):
    sig = {r.doc_id: (r.sim_hi, r.sim_lo)
           for r in dedup.simhash_md5(docs).collect()}
    assert sig[1] == sig[3]                  # identical text -> identical sig
    assert len(sig) == 5


def test_simhash_pairs_hamming_bound(spark, docs):
    got = dedup.simhash_md5_pairs(docs, max_hamming=3).collect()
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in got}
    assert pairs[(1, 3)] == 0                # exact dups at distance 0
    assert all(h <= 3 for h in pairs.values())


def test_bands_must_divide_num_hashes(spark, docs):
    # bands > num_hashes would leave every band key "" (every pair a
    # candidate), and a non-divisor would drop the trailing hashes
    builders = (
        lambda b: dedup.lsh_inventory(docs, source_col=None, num_hashes=8,
                                      bands=b),
        lambda b: dedup.minhash_lsh_pairs_md5(docs, num_hashes=8, bands=b),
        lambda b: dedup.incremental_minhash_pairs_from_inventory(
            docs, docs, num_hashes=8, bands=b),
    )
    for build in builders:
        for bad in (16, 0, 3):
            with pytest.raises(ValueError, match="num_hashes=8"):
                build(bad)


def test_embedding_near_dup_blocked(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0), (3, [0.0, 1.0], 0),
         (4, [1.0, 0.0], 1)],                # same vec as 1 but other block
        "vec_id LONG, embedding ARRAY<FLOAT>, label INT")
    got = {(r.vec_a, r.vec_b): r.cos_r
           for r in dedup.embedding_near_dup_pairs(df, threshold=0.9).collect()}
    assert (1, 2) in got and got[(1, 2)] > 0.99
    assert (1, 4) not in got                 # blocking prevents cross-label
    assert (1, 3) not in got                 # orthogonal


def test_dedup_clusters_chain_and_singleton(spark):
    # chain 1-2-3 collapses to one cluster even though (1,3) is not an
    # edge; 4 is isolated and keeps itself
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)],
                                  "doc_a LONG, doc_b LONG")
    ids = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id LONG")
    got = {r.doc_id: r.cluster_id
           for r in dedup.dedup_clusters(pairs, ids).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}


def test_dedup_keep_list(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a LONG, doc_b LONG")
    ids = spark.createDataFrame([(i,) for i in range(1, 5)], "doc_id LONG")
    got = {r.doc_id: r.cluster_size
           for r in dedup.dedup_keep_list(pairs, ids).collect()}
    assert got == {1: 3, 4: 1}


def test_hot_shingle_cap_keeps_pairs_lower_bound(spark):
    # a shingle shared by every doc is dropped at max_df=2; jaccard then
    # undercounts (documented lower bound), never overcounts
    docs = spark.createDataFrame(
        [(1, "x y z a b c"), (2, "x y z a b d"), (3, "x y z q r s")],
        "doc_id LONG, text STRING")
    exact = {(r.doc_a, r.doc_b): r.jaccard_r
             for r in dedup.ngram_jaccard_pairs(docs, threshold=0.01,
                                                max_df=10**9).collect()}
    capped = {(r.doc_a, r.doc_b): r.jaccard_r
              for r in dedup.ngram_jaccard_pairs(docs, threshold=0.01,
                                                 max_df=2).collect()}
    for pair, j in capped.items():
        assert j <= exact[pair] + 1e-9


def test_md5_twins_find_planted_duplicates(spark):
    """The md5-hashed MinHash and SimHash pipelines find a planted
    near-dup and nothing else on unrelated text."""
    from tf_prisma_api_data_ingestion_spark.operators import dedup as D
    rows = [(1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "completely different content about spark catalyst planning here"),
            (4, "totally unrelated sentence mentioning neither fox nor dog at all")]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    mh = {(r.doc_a, r.doc_b) for r in D.minhash_lsh_pairs_md5(df, threshold=0.9).collect()}
    assert (1, 2) in mh and all(p == (1, 2) for p in mh)
    sp = {(r.doc_a, r.doc_b) for r in D.simhash_md5_pairs(df).collect()}
    assert (1, 2) in sp
    # identical docs -> identical signatures, zero hamming
    sig = {r.doc_id: (r.sim_hi, r.sim_lo) for r in D.simhash_md5(df).collect()}
    assert sig[1] == sig[2] and sig[1] != sig[3]
    assert all(0 <= h < 2**32 and 0 <= l < 2**32 for h, l in sig.values())


def test_star_clusters_match_propagation_on_real_pairs(spark):
    from tf_prisma_api_data_ingestion_spark.operators.dedup import (
        dedup_clusters, dedup_clusters_star, ngram_jaccard_pairs)
    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    pairs = ngram_jaccard_pairs(d, n=3, threshold=0.2, max_df=10**9)
    ids = d.select("doc_id")
    a = sorted(map(tuple, dedup_clusters(pairs, ids).collect()))
    b = sorted(map(tuple, dedup_clusters_star(pairs, ids).collect()))
    assert a == b


def test_star_clusters_chain_graph_logarithmic(spark):
    # a 400-node path: diameter 400 — min-label propagation would need
    # 400 rounds; the star algorithm must finish in max_iter=25
    from pyspark.sql import functions as F

    from tf_prisma_api_data_ingestion_spark.operators.dedup import (
        dedup_clusters_star)
    n = 400
    pairs = (spark.range(n - 1)
             .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")))
    ids = spark.range(n).select(F.col("id").alias("doc_id"))
    out = dedup_clusters_star(pairs, ids, max_iter=25).collect()
    assert len(out) == n
    assert all(r.cluster_id == 0 for r in out), [r for r in out if r.cluster_id][:3]


def test_star_clusters_singletons_and_two_components(spark):
    from pyspark.sql import functions as F

    from tf_prisma_api_data_ingestion_spark.operators.dedup import (
        dedup_clusters_star)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a LONG, doc_b LONG")
    ids = spark.range(13).select(F.col("id").alias("doc_id"))
    got = {r.doc_id: r.cluster_id
           for r in dedup_clusters_star(pairs, ids).collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == 10
    assert got[0] == 0 and got[12] == 12


def test_embedding_block_size_guard(spark):
    from tf_prisma_api_data_ingestion_spark.operators.dedup import (
        embedding_near_dup_pairs)
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # the guard is LAZY: construction is free, the assertion fires at the
    # first action naming the offending block
    over_budget = embedding_near_dup_pairs(e, block_col="label",
                                           max_block_size=2)
    with pytest.raises(Exception, match="quadratic"):
        over_budget.count()
    # generous budget: behaves exactly like the unguarded call
    n = embedding_near_dup_pairs(e, block_col="label", threshold=0.35,
                                 max_block_size=10**6).count()
    m = embedding_near_dup_pairs(e, block_col="label", threshold=0.35).count()
    assert n == m


def test_results_are_partition_invariant(spark):
    """fan_out (and any future repartitioning) must never change operator
    output: every dedup family result is a pure function of the data, not
    of its partitioning."""
    from pyspark.sql import functions as F

    from tf_prisma_api_data_ingestion_spark import tables
    from tf_prisma_api_data_ingestion_spark.operators import dedup

    d = tables.load(spark, "/root/testdata/sf0.001", "documents")
    for op in (lambda x: dedup.ngram_jaccard_pairs(x, max_df=None),
               dedup.minhash_lsh_pairs_md5,
               dedup.simhash_md5_pairs):
        wide = {tuple(r) for r in op(d.repartition(16)).collect()}
        narrow = {tuple(r) for r in op(d.coalesce(1)).collect()}
        assert wide == narrow and wide


def test_keep_best_elects_highest_quality_member(spark):
    from tf_prisma_api_data_ingestion_spark.operators.dedup import (
        dedup_keep_best,
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)],
                                  "doc_a LONG, doc_b LONG")
    scored = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.5), (10, 0.4), (11, 0.4), (50, 0.1)],
        "doc_id LONG, quality_score DOUBLE")
    got = {r.cluster_id: (r.doc_id, r.cluster_size, r.quality_score)
           for r in dedup_keep_best(pairs, scored).collect()}
    assert got == {
        1: (2, 3, 0.9),     # chain 1-2-3: doc 2 has the best quality
        10: (10, 2, 0.4),   # tie at 0.4 -> min doc_id wins
        50: (50, 1, 0.1),   # singleton keeps itself
    }
