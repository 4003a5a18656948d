"""Sketch-op verification: the oracle-gated estimators (KMV distinct,
hash-sample quantile) are checked for error bounds AND determinism; the
non-SQL-expressible throughput twins (HLL, GK) keep their error-bound
checks via THROUGHPUT_QUERIES."""

from __future__ import annotations

from pyspark.sql import functions as F

from tf_prisma_api_data_ingestion_spark import tables
from tf_prisma_api_data_ingestion_spark.catalog import (
    QUERIES,
    THROUGHPUT_QUERIES,
)

SF = "/root/testdata/sf0.01"


def _exact_distinct(spark):
    return {r.event_type: r.n for r in
            tables.load(spark, SF, "events")
            .groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n")).collect()}


def test_hll_within_relative_error(spark):
    got = {r.event_type: r.approx_users
           for r in THROUGHPUT_QUERIES["sketch-hll-distinct"](spark, SF).collect()}
    for k, n in _exact_distinct(spark).items():
        assert abs(got[k] - n) <= max(2, 0.05 * n), (k, got[k], n)


def test_kmv_within_relative_error(spark):
    # KMV with k=64 has relative stderr ~1/sqrt(k-2) ≈ 12.7%; allow 3σ
    got = {r.event_type: r.distinct_est
           for r in QUERIES["sketch-kmv-distinct"](spark, SF).collect()}
    for k, n in _exact_distinct(spark).items():
        assert abs(got[k] - n) <= max(2, 0.4 * n), (k, got[k], n)


def test_kmv_exact_below_k(spark):
    # groups with fewer than k distinct keys return the EXACT count
    import tf_prisma_api_data_ingestion_spark.catalog as cat
    got = {r.event_type: r.distinct_est
           for r in cat.q_sketch_kmv_distinct(spark, SF).collect()}
    exact = _exact_distinct(spark)
    for k, est in got.items():
        if exact[k] < cat.KMV_K:
            assert est == exact[k]


def test_sample_quantile_within_rank_error(spark):
    rows = QUERIES["sketch-quantile"](spark, SF).collect()
    got = {r.event_type: (r.p50_sample, r.sample_n) for r in rows}
    ev = tables.load(spark, SF, "events")
    for k, (approx, m) in got.items():
        vals = sorted(r.value for r in
                      ev.filter(F.col("event_type") == k).select("value").collect())
        # sample-median rank error has stderr ≈ 0.5/sqrt(m) of n; allow 3σ
        n = len(vals)
        tol = max(2, int(1.5 / (m ** 0.5) * n))
        lo, hi = vals[max(0, n // 2 - tol)], vals[min(n - 1, n // 2 + tol)]
        assert lo <= approx <= hi, (k, approx, m, lo, hi)


def test_gk_quantile_within_rank_error(spark):
    got = {r.event_type: r.p50_approx
           for r in THROUGHPUT_QUERIES["sketch-gk-quantile"](spark, SF).collect()}
    ev = tables.load(spark, SF, "events")
    for k, approx in got.items():
        vals = sorted(r.value for r in
                      ev.filter(F.col("event_type") == k).select("value").collect())
        n = len(vals)
        tol = max(2, n // 100)
        lo, hi = vals[max(0, n // 2 - tol)], vals[min(n - 1, n // 2 + tol)]
        assert lo <= approx <= hi, (k, approx, lo, hi)


def test_kmv_deterministic(spark):
    a = sorted(map(tuple, QUERIES["sketch-kmv-distinct"](spark, SF).collect()))
    b = sorted(map(tuple, QUERIES["sketch-kmv-distinct"](spark, SF).collect()))
    assert a == b


def test_sample_quantile_deterministic(spark):
    a = sorted(map(tuple, QUERIES["sketch-quantile"](spark, SF).collect()))
    b = sorted(map(tuple, QUERIES["sketch-quantile"](spark, SF).collect()))
    assert a == b


def test_every_throughput_query_runs(spark):
    # the PQ/HLL/GK/unigram-EM queries live outside the oracle gate; pin
    # that each runs and emits rows at the smoke sf
    for name, fn in THROUGHPUT_QUERIES.items():
        n = fn(spark, "/root/testdata/sf0.001").count()
        assert n > 0, name


def test_kmv_union_estimate_accuracy(spark):
    """The merged sketch's estimate must be close to the TRUE distinct
    union count (KMV standard error ~ 1/sqrt(k-2), k=64 -> ~13%; assert
    a generous 3-sigma band), and subset sketches stay bounded by k."""
    from pyspark.sql import functions as F

    from tf_prisma_api_data_ingestion_spark import tables
    from tf_prisma_api_data_ingestion_spark.catalog import KMV_K, q_sketch_kmv_union

    sf = "/root/testdata/sf0.01"
    row = q_sketch_kmv_union(spark, sf).first()
    assert row.sketch_a_size <= KMV_K and row.sketch_b_size <= KMV_K
    truth = (tables.load(spark, sf, "events")
             .filter(F.col("event_type").isin("click", "view",
                                              "purchase", "error"))
             .agg(F.countDistinct("user_id")).first()[0])
    rel = abs(row.union_distinct_est - truth) / truth
    assert rel < 0.40, (row.union_distinct_est, truth)
