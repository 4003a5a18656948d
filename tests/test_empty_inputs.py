"""Empty-input robustness: every dedup/similarity/text operator must
return an empty, correctly-schemed result on zero rows — not throw
(empty partitions and all-filtered inputs are routine at scale)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tf_prisma_api_data_ingestion_spark.operators import dedup, similarity, text


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id LONG, text STRING")


@pytest.fixture(scope="module")
def empty_vecs(spark):
    return spark.createDataFrame([], "vec_id LONG, embedding ARRAY<FLOAT>")


def test_exact_dedup_empty(spark, empty_docs):
    assert dedup.exact_dedup(empty_docs).count() == 0


def test_ngram_jaccard_empty(spark, empty_docs):
    assert dedup.ngram_jaccard_pairs(empty_docs).count() == 0


def test_minhash_empty(spark, empty_docs):
    assert dedup.minhash_lsh_pairs_md5(empty_docs).count() == 0


def test_simhash_empty(spark, empty_docs):
    assert dedup.simhash_md5(empty_docs).count() == 0
    assert dedup.simhash_md5_pairs(empty_docs).count() == 0


def test_clusters_empty(spark, empty_docs):
    pairs = spark.createDataFrame([], "doc_a LONG, doc_b LONG")
    ids = empty_docs.select("doc_id")
    assert dedup.dedup_clusters(pairs, ids).count() == 0


def test_embedding_pairs_empty(spark, empty_vecs):
    v = empty_vecs.withColumn("label", F.lit(0))
    assert dedup.embedding_near_dup_pairs(v, threshold=0.5).count() == 0


def test_embedding_pairs_empty_unblocked(spark, empty_vecs):
    # the LSH delegation infers dim from the first row; empty input must
    # short-circuit to a schema-stable empty frame, not crash
    out = dedup.embedding_near_dup_pairs(empty_vecs, block_col=None,
                                         threshold=0.5)
    assert out.count() == 0
    assert out.columns == ["vec_a", "vec_b", "cos_r"]


def test_brute_force_topk_empty_candidates(spark, empty_vecs):
    q = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id LONG, embedding ARRAY<FLOAT>")
    assert similarity.brute_force_topk(q, empty_vecs, k=3).count() == 0


def test_lang_id_and_quality_empty(spark, empty_docs):
    assert text.lang_id(empty_docs).count() == 0
    assert text.quality_features(empty_docs).count() == 0


def test_sessionize_empty(spark):
    from tf_prisma_api_data_ingestion_spark.operators.relational import sessionize
    df = spark.createDataFrame([], "k STRING, ts LONG")
    assert sessionize(df, "k", "ts", gap=10).count() == 0


def test_timeseries_ops_empty(spark):
    from tf_prisma_api_data_ingestion_spark.operators.timeseries import (
        event_deltas,
        fixed_histogram,
        gap_fill,
        merge_intervals,
        scd2_intervals,
    )
    daily = spark.createDataFrame([], "k INT, d DATE, v DOUBLE")
    assert gap_fill(daily, "k", "d", "v").count() == 0
    log = spark.createDataFrame([], "k INT, ts LONG, cid INT, v DOUBLE")
    assert scd2_intervals(log, ["k"], "ts", "cid").count() == 0
    assert event_deltas(log, "k", "ts", "cid", "v").count() == 0
    assert fixed_histogram(log.select(F.col("v").alias("x")),
                           "x", 0.0, 1.0, 4).count() == 0
    iv = spark.createDataFrame([], "k INT, s LONG, e LONG, iid INT")
    assert merge_intervals(iv, "k", "s", "e", "iid").count() == 0


def test_merge_upsert_and_sampling_empty(spark):
    from tf_prisma_api_data_ingestion_spark.operators.relational import (
        asof_join_nearest,
        merge_upsert,
        stratified_sample_hash,
    )
    t = spark.createDataFrame([], "k INT, seq INT, v STRING")
    assert merge_upsert(t, t, ["k"], ["seq"]).count() == 0
    d = spark.createDataFrame([], "id LONG, src STRING")
    assert stratified_sample_hash(d, "src", "id", {"a": 0.5}).count() == 0
    left = spark.createDataFrame([], "lid INT, k STRING, ts LONG")
    right = spark.createDataFrame([], "k STRING, ts LONG, val DOUBLE")
    assert asof_join_nearest(left, right, on=["k"], left_ts="ts",
                             right_ts="ts",
                             right_cols={"val": "v"}).count() == 0


def test_keep_best_empty_pairs_keeps_every_doc(spark):
    from tf_prisma_api_data_ingestion_spark.operators.dedup import (
        dedup_keep_best,
    )
    pairs = spark.createDataFrame([], "doc_a LONG, doc_b LONG")
    scored = spark.createDataFrame([(1, 0.5), (2, 0.9)],
                                   "doc_id LONG, quality_score DOUBLE")
    got = {r.doc_id: r.cluster_size
           for r in dedup_keep_best(pairs, scored).collect()}
    # no edges -> every doc is its own cluster's representative
    assert got == {1: 1, 2: 1}


# ---------------- round-5 late additions: stats / ER / analytics ops

def test_grouped_linreg_empty(spark):
    from tf_prisma_api_data_ingestion_spark.operators.stats import (
        grouped_linreg,
    )
    e = spark.createDataFrame([], "g STRING, x LONG, y DOUBLE")
    assert grouped_linreg(e, "g", F.col("x"), F.col("y")).count() == 0


def test_mad_and_winsorized_empty(spark):
    from tf_prisma_api_data_ingestion_spark.operators.stats import (
        mad_outliers,
        winsorized_mean,
    )
    e = spark.createDataFrame([], "g STRING, v DOUBLE")
    assert mad_outliers(e, "g", F.col("v")).count() == 0
    assert winsorized_mean(e, "g", F.col("v")).count() == 0


def test_table_checksum_empty_is_zero_triple(spark):
    from tf_prisma_api_data_ingestion_spark.operators.stats import (
        table_checksum,
    )
    e = spark.createDataFrame([], "a STRING, b STRING")
    r = table_checksum(e, ["a", "b"]).collect()[0]
    # empty fingerprint defined as (0,0,0): two empty copies compare
    # equal instead of null-propagating
    assert (r.n_rows, r.xor_digest, r.sum_digest) == (0, 0, 0)


def test_expect_empty_passes_all_rules(spark):
    from tf_prisma_api_data_ingestion_spark.operators.stats import expect
    e = spark.createDataFrame([], "k LONG")
    got = expect(e, {"k_not_null": F.col("k").isNotNull()}).collect()[0]
    assert (got.n_rows, got.n_violations, got.passed) == (0, 0, 1)


def test_fuzzy_join_empty(spark):
    from tf_prisma_api_data_ingestion_spark.operators.relational import (
        fuzzy_join,
    )
    e = spark.createDataFrame([], "name1 STRING")
    f = spark.createDataFrame([], "name2 STRING")
    got = fuzzy_join(e, f, "name1", "name2",
                     F.col("name1"), F.col("name2"), max_dist=2)
    assert got.count() == 0


def test_table_diff_both_empty(spark):
    from tf_prisma_api_data_ingestion_spark.operators.relational import (
        table_diff,
    )
    e = spark.createDataFrame([], "k LONG, v STRING")
    assert table_diff(e, e, ["k"], ["v"]).count() == 0


def test_table_diff_one_side_empty_is_all_added(spark):
    from tf_prisma_api_data_ingestion_spark.operators.relational import (
        table_diff,
    )
    e = spark.createDataFrame([], "k LONG, v STRING")
    n = spark.createDataFrame([(1, "a"), (2, "b")], "k LONG, v STRING")
    got = table_diff(e, n, ["k"], ["v"]).collect()
    assert {r.change_type for r in got} == {"added"} and len(got) == 2


def test_passage_provenance_empty(spark):
    d = spark.createDataFrame([], "doc_id LONG, source STRING, text STRING")
    out = dedup.passage_provenance(d)
    assert out.count() == 0
    assert out.columns == ["source_a", "source_b",
                           "n_shared_passages", "dup_doc_pairs"]
