"""Round-14 optimization-round invariants: the perf changes must be
value-identical to the forms they replaced.

- exact_global_rank's boundary count became scale-adaptive (derived
  from the input's Catalyst size estimate, floored at the session
  shuffle setting). Ranks are exact for ANY bucket count, so the
  tests pin (a) the floor/growth behavior of the derivation and
  (b) rank-output invariance across bucket counts including the
  adaptive default.
- ivf_assign/ivf_centroids accept a pre-derived slim vector frame
  (the ivf_topk persist barrier); with and without it must agree.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def nums(spark):
    rows = [(i, float((i * 37) % 101)) for i in range(500)]
    return spark.createDataFrame(rows, "id long, v double")


@pytest.fixture()
def nums_parquet(spark, nums, tmp_path):
    # parquet-backed: the adaptive derivation needs real leaf statistics
    # (RDD-backed frames report the Long.MaxValue sentinel and fall to
    # the floor by design)
    p = str(tmp_path / "nums.parquet")
    nums.write.parquet(p)
    return spark.read.parquet(p)


class TestAdaptiveBuckets:
    def test_floor_is_session_shuffle_partitions(self, spark, nums_parquet):
        from tf_prisma_api_data_ingestion_spark.operators.rank import (
            _adaptive_buckets)
        floor = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # a 500-row frame is far under floor x 64 MB -> stays at floor
        assert _adaptive_buckets(nums_parquet) == floor

    def test_unknown_stats_fall_to_floor(self, spark, nums, monkeypatch):
        from tf_prisma_api_data_ingestion_spark.operators import rank
        floor = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # createDataFrame has no leaf stats -> sentinel estimate -> floor,
        # even under a byte target that would otherwise explode the count
        monkeypatch.setattr(rank, "RANK_BUCKET_BYTES", 64)
        assert rank._adaptive_buckets(nums) == floor

    def test_grows_with_size_and_caps(self, spark, nums_parquet, monkeypatch):
        from tf_prisma_api_data_ingestion_spark.operators import rank
        floor = int(spark.conf.get("spark.sql.shuffle.partitions"))
        monkeypatch.setattr(rank, "RANK_BUCKET_BYTES", 64)
        grown = rank._adaptive_buckets(nums_parquet)
        assert grown > floor
        monkeypatch.setattr(rank, "RANK_BUCKET_BYTES", 1)
        assert rank._adaptive_buckets(nums_parquet) <= 4096

    def test_rank_invariant_to_bucket_count(self, spark, nums):
        from tf_prisma_api_data_ingestion_spark.operators.rank import (
            exact_global_rank)
        ref = sorted(
            exact_global_rank(nums, "v", tiebreak=["id"], out="r",
                              buckets=3).select("id", "r").collect())
        for b in (None, 7, 64):
            got = sorted(
                exact_global_rank(nums, "v", tiebreak=["id"], out="r",
                                  buckets=b).select("id", "r").collect())
            assert got == ref, f"buckets={b} diverged"


class TestIvfSharedVecs:
    @pytest.fixture()
    def vecs_df(self, spark):
        import math
        rows = [(i, [math.sin(i * 7 + d) for d in range(8)])
                for i in range(40)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_ivf_assign_with_prederived_frame_identical(self, spark, vecs_df):
        from tf_prisma_api_data_ingestion_spark.operators.similarity import (
            _slim_vecs, ivf_assign, ivf_centroids)
        cents = ivf_centroids(vecs_df, nc=4, iters=0)
        plain = sorted(ivf_assign(vecs_df, cents, nprobe=2)
                       .select("vec_id", "cid").collect())
        shared = sorted(ivf_assign(vecs_df, cents, nprobe=2,
                                   vecs=_slim_vecs(vecs_df, "vec_id",
                                                   "embedding"))
                        .select("vec_id", "cid").collect())
        assert plain == shared

    def test_ivf_centroids_with_prederived_frame_identical(self, spark,
                                                           vecs_df):
        from tf_prisma_api_data_ingestion_spark.operators.similarity import (
            _slim_vecs, ivf_centroids)
        plain = {r["cid"]: r["_cv"] for r in
                 ivf_centroids(vecs_df, nc=4, iters=1).collect()}
        shared = {r["cid"]: r["_cv"] for r in
                  ivf_centroids(vecs_df, nc=4, iters=1,
                                vecs=_slim_vecs(vecs_df, "vec_id",
                                                "embedding")).collect()}
        assert plain.keys() == shared.keys()
        for cid in plain:
            assert plain[cid] == pytest.approx(shared[cid])

    def test_ivf_topk_exact_mode_still_bruteforce(self, spark, vecs_df):
        from tf_prisma_api_data_ingestion_spark import cache
        from tf_prisma_api_data_ingestion_spark.operators.similarity import (
            brute_force_topk, ivf_topk)
        q = vecs_df.filter(F.col("vec_id") < 3)
        bf = sorted(brute_force_topk(q, vecs_df, k=4).collect())
        ivf = sorted(ivf_topk(q, vecs_df, k=4, nc=4, nprobe=4,
                              iters=1).collect())
        cache.release_all(blocking=True)
        assert ivf == bf
