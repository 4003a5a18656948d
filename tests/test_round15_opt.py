"""Round-15 optimization-round invariants: hardening of the adaptive
bucket derivation (the cap is a hard bound) and the shared-frame guard
on the IVF/PQ internal ``vecs``/``sv`` parameters.
"""

from __future__ import annotations

import math

import pytest


@pytest.fixture()
def nums_parquet(spark, tmp_path):
    rows = [(i, float((i * 37) % 101)) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v double")
    p = str(tmp_path / "nums.parquet")
    df.write.parquet(p)
    return spark.read.parquet(p)


class TestAdaptiveBucketsHardening:
    def test_cap_bounds_the_floor(self, spark, nums_parquet, monkeypatch):
        from tf_prisma_api_data_ingestion_spark.operators import rank
        floor = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert floor > 1  # precondition for the cap<floor scenario
        # a cap below the session floor must win: the when-tree size is
        # the hard safety bound (r15 ADVICE)
        monkeypatch.setattr(rank, "RANK_BUCKET_CAP", 1)
        assert rank._adaptive_buckets(nums_parquet) == 1

    def test_rank_exact_at_cap_one(self, spark, nums_parquet, monkeypatch):
        # bucket count never affects values: rank output at the extreme
        # cap matches an uncapped run
        from tf_prisma_api_data_ingestion_spark.operators import rank
        ref = sorted(
            rank.exact_global_rank(nums_parquet, "v", tiebreak=["id"],
                                   out="r").select("id", "r").collect())
        monkeypatch.setattr(rank, "RANK_BUCKET_CAP", 1)
        got = sorted(
            rank.exact_global_rank(nums_parquet, "v", tiebreak=["id"],
                                   out="r").select("id", "r").collect())
        assert got == ref


class TestShareFrameGuard:
    @pytest.fixture()
    def vecs_df(self, spark):
        rows = [(i, [math.sin(i * 7 + d) for d in range(8)])
                for i in range(20)]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")

    def test_ivf_rejects_foreign_frame(self, spark, vecs_df):
        from tf_prisma_api_data_ingestion_spark.operators.similarity import (
            ivf_assign, ivf_centroids)
        cents = ivf_centroids(vecs_df, nc=2, iters=0)
        with pytest.raises(ValueError, match="share frame"):
            ivf_assign(vecs_df, cents, vecs=vecs_df)  # raw frame, no _v/_n
        with pytest.raises(ValueError, match="share frame"):
            ivf_centroids(vecs_df, nc=2, vecs=vecs_df)

    def test_pq_rejects_foreign_frame(self, spark, vecs_df):
        from tf_prisma_api_data_ingestion_spark.operators.similarity import (
            pq_codebooks, pq_encode)
        with pytest.raises(ValueError, match="share frame"):
            pq_codebooks(vecs_df, m=2, ksub=2, dim=8, sv=vecs_df)
        books = pq_codebooks(vecs_df, m=2, ksub=2, dim=8, iters=0)
        with pytest.raises(ValueError, match="share frame"):
            pq_encode(vecs_df, books, m=2, dim=8, sv=vecs_df)

    def test_valid_share_frame_still_accepted(self, spark, vecs_df):
        from tf_prisma_api_data_ingestion_spark.operators.similarity import (
            _slim_vecs, _subvectors, ivf_assign, ivf_centroids,
            pq_codebooks, pq_encode)
        cents = ivf_centroids(vecs_df, nc=2, iters=0)
        v = _slim_vecs(vecs_df, "vec_id", "embedding")
        assert ivf_assign(vecs_df, cents, vecs=v).count() == 20
        sv = _subvectors(vecs_df, 2, 4, "vec_id", "embedding")
        books = pq_codebooks(vecs_df, m=2, ksub=2, dim=8, iters=0, sv=sv)
        assert pq_encode(vecs_df, books, m=2, dim=8, sv=sv).count() == 40
