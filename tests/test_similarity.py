"""Similarity-search tests: brute force against a numpy oracle; LSH
recall/subset invariants, which sim-lsh-topk's SQL oracle (a replay of
the same buckets) does not state."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tf_prisma_api_data_ingestion_spark.operators import similarity


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.RandomState(7)
    rows = [(int(i), rng.randn(16).astype(float).tolist()) for i in range(60)]
    return rows, spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")


def _numpy_topk(rows, qid, k):
    mat = {i: np.array(v, dtype=np.float32).astype(np.float64) for i, v in rows}
    q = mat[qid]
    scores = sorted(((float(np.dot(q, v) / (np.linalg.norm(q) * np.linalg.norm(v))), i)
                     for i, v in mat.items() if i != qid),
                    key=lambda t: (-t[0], t[1]))
    return [i for _, i in scores[:k]]


def test_brute_force_matches_numpy(spark, vecs):
    rows, df = vecs
    got = similarity.brute_force_topk(df.filter(F.col("vec_id") < 3), df, k=5)
    by_q = {}
    for r in got.orderBy("query_id", F.desc("cos_r"), "vec_id").collect():
        by_q.setdefault(r.query_id, []).append(r.vec_id)
    for qid in range(3):
        assert by_q[qid] == _numpy_topk(rows, qid, 5), f"query {qid}"


def test_lsh_topk_subset_and_recall(spark, vecs):
    rows, df = vecs
    q = df.filter(F.col("vec_id") < 3)
    brute = similarity.brute_force_topk(q, df, k=5)
    lsh = similarity.lsh_bucket_topk(q, df, k=5, dim=16,
                                     planes_per_table=4, tables=8)
    bset = {(r.query_id, r.vec_id) for r in brute.collect()}
    lset = {(r.query_id, r.vec_id) for r in lsh.collect()}
    # scores of LSH results are exact (re-ranked), so any overlap agrees;
    # recall over 3 queries x top-5 should be decent with 8 tables
    recall = len(bset & lset) / len(bset)
    assert recall >= 0.5, f"recall {recall}"
    assert all(len([1 for p in lset if p[0] == qid]) <= 5 for qid in range(3))


def test_lsh_near_dup_pairs_finds_planted_dups(spark):
    from tf_prisma_api_data_ingestion_spark.operators.similarity import (
        lsh_near_dup_pairs,
    )
    rng = np.random.RandomState(3)
    base = rng.randn(20, 16)
    rows = [(int(i), base[i].tolist()) for i in range(20)]
    # plant near-dups: 100-102 are tiny perturbations of vectors 0-2
    for j in range(3):
        rows.append((100 + j, (base[j] + rng.randn(16) * 0.01).tolist()))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    got = {(r.vec_a, r.vec_b): r.cos_r
           for r in lsh_near_dup_pairs(df, threshold=0.98, dim=16).collect()}
    for j in range(3):
        assert (j, 100 + j) in got and got[(j, 100 + j)] > 0.99
    # precision 1: every emitted pair is exactly verified >= threshold
    assert all(c >= 0.98 for c in got.values())


def test_embedding_near_dup_unblocked_delegates_to_lsh(spark):
    from tf_prisma_api_data_ingestion_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )
    df = spark.createDataFrame(
        [(1, [1.0] * 16), (2, [1.0] * 15 + [1.01]), (3, [-1.0] * 16)],
        "vec_id LONG, embedding ARRAY<FLOAT>")
    got = embedding_near_dup_pairs(df, block_col=None, threshold=0.99)
    pairs = {(r.vec_a, r.vec_b) for r in got.collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs
    # no corpus x corpus cartesian: the candidate-pair self-join must be
    # an EQUI join on the (_tbl, _bkt) bucket keys. (A BroadcastNestedLoopJoin
    # does appear — it is the broadcast against the CONSTANT-SIZE hyperplane
    # table built from spark.range, reprinted at every cache site — so its
    # presence alone is not the signal; the equi pair-join is.)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    equi = [l for l in plan.splitlines()
            if ("SortMergeJoin" in l or "ShuffledHashJoin" in l
                or "BroadcastHashJoin" in l)
            and "_tbl" in l and "_bkt" in l]
    assert equi, "bucket self-join must be an equi join on (_tbl, _bkt)"


def test_lsh_deterministic_across_runs(spark, vecs):
    _, df = vecs
    q = df.filter(F.col("vec_id") < 2)
    a = sorted(map(tuple, similarity.lsh_bucket_topk(q, df, k=3, dim=16).collect()))
    b = sorted(map(tuple, similarity.lsh_bucket_topk(q, df, k=3, dim=16).collect()))
    assert a == b


def test_ivf_exact_mode_equals_brute_force(spark, vecs):
    """nprobe == nc probes every inverted list -> provably brute-force."""
    rows, df = vecs
    q = df.filter(F.col("vec_id") < 3)
    brute = similarity.brute_force_topk(q, df, k=5)
    ivf = similarity.ivf_topk(q, df, k=5, nc=4, nprobe=4, iters=1)
    assert sorted(map(tuple, brute.collect())) == sorted(map(tuple, ivf.collect()))


def test_ivf_pruned_recall_and_shape(spark, vecs):
    """nprobe < nc prunes lists; results are a high-recall subset with
    exact (re-ranked) scores."""
    rows, df = vecs
    q = df.filter(F.col("vec_id") < 3)
    brute = {(r.query_id, r.vec_id) for r in
             similarity.brute_force_topk(q, df, k=5).collect()}
    got = similarity.ivf_topk(q, df, k=5, nc=4, nprobe=2, iters=1).collect()
    iset = {(r.query_id, r.vec_id) for r in got}
    recall = len(brute & iset) / len(brute)
    assert recall >= 0.4, f"recall {recall}"
    per_q = {}
    for r in got:
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
    assert all(n <= 5 for n in per_q.values())


def test_ivf_centroids_deterministic_count(spark, vecs):
    _, df = vecs
    c1 = similarity.ivf_centroids(df, nc=4, iters=0).collect()
    c2 = similarity.ivf_centroids(df, nc=4, iters=0).collect()
    assert len(c1) == 4
    assert sorted((r.cid, tuple(r._cv)) for r in c1) == \
           sorted((r.cid, tuple(r._cv)) for r in c2)


# ------------------------------------------------------------------- PQ ---

def test_pq_recall_and_shape(spark, vecs):
    """PQ shortlist + exact re-rank: high-recall subset of brute force,
    exact cosine scores on the survivors, <= k rows per query."""
    _, df = vecs
    q = df.filter(F.col("vec_id") < 3)
    bf = similarity.brute_force_topk(q, df, k=5).collect()
    bset = {(r.query_id, r.vec_id) for r in bf}
    bscore = {(r.query_id, r.vec_id): r.cos_r for r in bf}
    got = similarity.pq_topk(q, df, k=5, m=8, ksub=8, dim=16,
                             shortlist=30).collect()
    pset = {(r.query_id, r.vec_id) for r in got}
    recall = len(bset & pset) / len(bset)
    assert recall >= 0.6, f"recall {recall}"
    # survivors carry EXACT scores (re-rank), not quantized ones
    for r in got:
        key = (r.query_id, r.vec_id)
        if key in bscore:
            assert r.cos_r == bscore[key]
    per_q = {}
    for r in got:
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
    assert all(n <= 5 for n in per_q.values())


def test_pq_full_shortlist_is_exact(spark, vecs):
    """shortlist >= corpus makes the re-rank exhaustive: PQ == brute
    force exactly, regardless of quantization quality."""
    _, df = vecs
    q = df.filter(F.col("vec_id") < 3)
    brute = similarity.brute_force_topk(q, df, k=5)
    pq = similarity.pq_topk(q, df, k=5, m=4, ksub=4, dim=16, shortlist=60)
    assert sorted(map(tuple, brute.collect())) == sorted(map(tuple, pq.collect()))


def test_pq_encode_deterministic_and_bounded(spark, vecs):
    _, df = vecs
    books = similarity.pq_codebooks(df, m=4, ksub=8, dim=16, iters=1)
    assert books.count() <= 4 * 8
    c1 = similarity.pq_encode(df, books, m=4, dim=16).collect()
    c2 = similarity.pq_encode(df, books, m=4, dim=16).collect()
    assert sorted(map(tuple, c1)) == sorted(map(tuple, c2))
    # every vector gets exactly m codes, all within [0, ksub)
    per_id = {}
    for r in c1:
        per_id[r.vec_id] = per_id.get(r.vec_id, 0) + 1
        assert 0 <= r.code < 8
    assert set(per_id.values()) == {4}
