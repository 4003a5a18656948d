"""Round-7 regression tests: the five round-6 advisor items (see
ADVICE.md). Each fix is also mirrored in the paired DuckDB oracle, so
these pin the Python-side semantics the differential gate can't see
(both engines changing together would keep hashes matching)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- linreg

def test_linreg_constant_x_gives_null_fit(spark):
    """A group whose x never varies has no least-squares fit: slope,
    intercept and r2 must be NULL, not an Inf/garbage division."""
    from tf_prisma_api_data_ingestion_spark.operators.stats import (
        grouped_linreg,
    )
    df = spark.createDataFrame(
        [("a", 5, 1.00), ("a", 5, 2.00), ("a", 5, 3.00),
         ("b", 1, 1.00), ("b", 2, 2.00), ("b", 3, 3.00)],
        "g string, x int, y double")
    out = {r["g"]: r for r in
           grouped_linreg(df, "g", F.col("x"), F.col("y")).collect()}
    assert out["a"]["slope"] is None
    assert out["a"]["intercept"] is None
    assert out["a"]["r2"] is None
    # the non-degenerate group is untouched: y = x exactly
    assert abs(out["b"]["slope"] - 1.0) < 1e-9
    assert abs(out["b"]["r2"] - 1.0) < 1e-9


def test_linreg_constant_y_gives_null_r2(spark):
    """Constant y -> vary term is exactly 0 -> r2 NULL (0/0 is not a
    goodness-of-fit); slope stays a well-defined 0."""
    from tf_prisma_api_data_ingestion_spark.operators.stats import (
        grouped_linreg,
    )
    df = spark.createDataFrame(
        [("a", 1, 7.00), ("a", 2, 7.00), ("a", 3, 7.00)],
        "g string, x int, y double")
    row = grouped_linreg(df, "g", F.col("x"), F.col("y")).collect()[0]
    assert row["slope"] == 0.0
    assert row["r2"] is None


def test_linreg_r2_capped_at_one(spark):
    """r2 can never exceed 1.0 (last-ulp overshoot on perfect fits is
    clamped)."""
    from tf_prisma_api_data_ingestion_spark.operators.stats import (
        grouped_linreg,
    )
    rows = [("g", i, round(1234.56 + 0.01 * i, 2)) for i in range(1000)]
    df = spark.createDataFrame(rows, "g string, x int, y double")
    row = grouped_linreg(df, "g", F.col("x"), F.col("y")).collect()[0]
    assert row["r2"] is not None and row["r2"] <= 1.0


# ------------------------------------------------------------------ knn

def test_knn_n_candidates_reflects_small_corpus(spark):
    """With only 3 labeled neighbors and k=5, n_candidates must report
    3 (the real vote pool), not k."""
    from tf_prisma_api_data_ingestion_spark.operators.ml import (
        knn_classify,
    )
    mk = lambda vid, lbl, v: (vid, lbl, v)  # noqa: E731
    corpus = spark.createDataFrame(
        [mk(1, 0, [1.0, 0.0]), mk(2, 0, [0.9, 0.1]), mk(3, 1, [0.0, 1.0])],
        "vec_id long, label long, embedding array<double>")
    queries = spark.createDataFrame(
        [mk(100, -1, [1.0, 0.05])],
        "vec_id long, label long, embedding array<double>")
    row = knn_classify(queries, corpus, k=5).collect()[0]
    assert row["n_candidates"] == 3
    assert row["pred_label"] == 0
    assert row["votes"] == 2


# ------------------------------------------------------- weighted sample

def test_weighted_sample_ignores_nonpositive_weights(spark):
    """Zero/negative weights neither crash (all-zero shard division)
    nor distort the cumulative walk — they are excluded up front."""
    from tf_prisma_api_data_ingestion_spark.operators.ml import (
        weighted_systematic_sample,
    )
    rows = ([(i, 100) for i in range(50)]
            + [(1000 + i, 0) for i in range(20)]
            + [(2000 + i, -5) for i in range(20)])
    df = spark.createDataFrame(rows, "k long, w long")
    out = weighted_systematic_sample(df, "k", F.col("w"),
                                     per_shard=2, shards=4).collect()
    keys = {r["key"] for r in out}
    assert keys, "positive-weight rows must still be sampled"
    assert all(k < 1000 for k in keys), "w<=0 rows must never be picked"
    assert all(r["weight_cents"] > 0 for r in out)


def test_weighted_sample_all_zero_weights_is_empty_not_error(spark):
    from tf_prisma_api_data_ingestion_spark.operators.ml import (
        weighted_systematic_sample,
    )
    df = spark.createDataFrame([(i, 0) for i in range(10)], "k long, w long")
    assert weighted_systematic_sample(df, "k", F.col("w")).count() == 0


# -------------------------------------------------------------- item-cf

def test_item_cf_max_basket_size_drops_pathological_basket(spark):
    """One null-ish basket holding every item would contribute a full
    quadratic pair set; the cap drops it whole and keeps honest baskets."""
    from tf_prisma_api_data_ingestion_spark.operators.ml import (
        item_item_cf,
    )
    honest = [(b, i) for b in range(10) for i in (1, 2)]       # {1,2} x10
    # two identical 100-item baskets, so their quadratic pair set
    # survives min_support and only the cap can remove it
    patho = [(bb, i) for bb in (998, 999) for i in range(100)]
    df = spark.createDataFrame(honest + patho, "b long, i long")
    capped = item_item_cf(df, "b", "i", min_support=2, k=3,
                          max_basket_size=10)
    pairs = {(r["item_a"], r["item_b"]) for r in capped.collect()}
    assert pairs == {(1, 2), (2, 1)}
    # default (None) keeps classic semantics: the big basket contributes
    uncapped = item_item_cf(df, "b", "i", min_support=2, k=3)
    assert uncapped.count() > capped.count()


# -------------------------------------------------------------- skyline

def test_skyline_drops_null_cost_benefit_rows(spark):
    """Rows with NULL cost/benefit are excluded by documented contract
    (a raw NOT EXISTS would keep them vacuously undominated)."""
    from tf_prisma_api_data_ingestion_spark.operators.relational import (
        skyline_2d,
    )
    df = spark.createDataFrame(
        [(1, 10.0, 5), (2, 10.0, 9), (3, 5.0, 9),
         (4, None, 99), (5, 1.0, None)],
        "id long, cost double, benefit int")
    ids = {r["id"] for r in skyline_2d(df, "cost", "benefit").collect()}
    assert ids == {3}


# ----------------------------------------------------------- auto bands

def test_auto_bands_dial():
    """S-curve banding: largest crossover t* = (1/b)^(1/r) still <= the
    threshold, num_hashes fixed; r=1 fallback below every crossover."""
    from tf_prisma_api_data_ingestion_spark.operators.dedup import (
        auto_bands,
    )
    assert auto_bands(64, 0.5) == 16      # (1/16)^(1/4) = 0.5 exactly
    assert auto_bands(64, 0.2) == 32      # (1/32)^(1/2) ~ 0.177
    assert auto_bands(64, 0.9) == 8       # (1/8)^(1/8) ~ 0.771
    assert auto_bands(64, 0.01) == 64     # below every crossover -> r=1
    assert auto_bands(128, 0.2) == 64     # (1/64)^(1/2) = 0.125
    # recall-safety invariant: crossover never exceeds the threshold
    for nh in (32, 64, 128):
        for t in (0.05, 0.2, 0.5, 0.8, 0.95):
            b = auto_bands(nh, t)
            r = nh // b
            assert (1.0 / b) ** (1.0 / r) <= t or b == nh


def test_minhash_auto_matches_explicit_banding(spark):
    """bands="auto" at threshold 0.2 must equal the explicit 32x2 run
    (and remain a verified subset of the exact truth)."""
    from tf_prisma_api_data_ingestion_spark import tables
    from tf_prisma_api_data_ingestion_spark.operators import dedup

    d = tables.load(spark, "/root/testdata/sf0.001", "documents")
    auto = {(r.doc_a, r.doc_b) for r in
            dedup.minhash_lsh_pairs_md5(d, threshold=0.2).collect()}
    explicit = {(r.doc_a, r.doc_b) for r in
                dedup.minhash_lsh_pairs_md5(d, bands=32,
                                            threshold=0.2).collect()}
    assert auto == explicit and auto
    exact = {(r.doc_a, r.doc_b) for r in
             dedup.ngram_jaccard_pairs(d, threshold=0.2,
                                       max_df=None).collect()}
    assert auto <= exact


# ------------------------------------------------------- executed plans
# VERDICT r6 #6: pin the optimizer story in tests so a Spark-version
# bump or conf drift that silently de-optimizes a headline plan fails CI
# instead of a bench. (q4/q19 plan tests live in test_round4/5.)

SF = "/root/testdata/sf0.001"


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_pd_filter_eq_pushes_predicate_to_scan(spark):
    from tf_prisma_api_data_ingestion_spark.catalog import q_pd_filter_eq
    plan = _plan(q_pd_filter_eq(spark, SF))
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]" in plan
    # column pruning: the scan must read only the 5 referenced columns
    assert "o_comment" not in plan


def test_pd_filter_range_pushes_both_bounds(spark):
    from tf_prisma_api_data_ingestion_spark.catalog import (
        q_pd_filter_range,
    )
    plan = _plan(q_pd_filter_range(spark, SF))
    assert "GreaterThanOrEqual(ts" in plan and "LessThanOrEqual(ts" in plan
    assert "PushedFilters" in plan


def test_tpch_dim_chains_broadcast(spark):
    """q3/q5/q10's dimension chains must resolve to BroadcastHashJoins
    over the fact scan — never a shuffle of lineitem onto a dim key,
    never a nested-loop fallback."""
    from tf_prisma_api_data_ingestion_spark.catalog import (
        q_tpch_q3,
        q_tpch_q5,
        q_tpch_q10,
    )
    for q in (q_tpch_q3, q_tpch_q5, q_tpch_q10):
        plan = _plan(q(spark, SF))
        assert "BroadcastHashJoin" in plan, q.__name__
        assert "CartesianProduct" not in plan, q.__name__
        assert "BroadcastNestedLoop" not in plan, q.__name__


# ------------------------------------------------- r7 new operators

def test_grouped_linreg2_exact_plane(spark):
    """Points on y = 2 + 3*x1 + 5*x2 recover the plane exactly."""
    from tf_prisma_api_data_ingestion_spark.operators.stats import (
        grouped_linreg2,
    )
    pts = [(1, 1), (2, 1), (1, 2), (3, 2), (2, 4)]
    rows = [("g", x1, x2, float(2 + 3 * x1 + 5 * x2)) for x1, x2 in pts]
    df = spark.createDataFrame(rows, "g STRING, x1 LONG, x2 LONG, y DOUBLE")
    got = grouped_linreg2(df, "g", F.col("x1"), F.col("x2"),
                          F.col("y")).collect()[0]
    assert got["n"] == 5
    assert got["b1"] == pytest.approx(3.0, abs=1e-6)
    assert got["b2"] == pytest.approx(5.0, abs=1e-6)
    assert got["intercept"] == pytest.approx(2.0, abs=1e-6)
    assert got["r2"] == pytest.approx(1.0, abs=1e-6)


def test_grouped_linreg2_matches_numpy(spark):
    import numpy as np
    from tf_prisma_api_data_ingestion_spark.operators.stats import (
        grouped_linreg2,
    )
    rng = np.random.default_rng(11)
    x1 = rng.integers(0, 50, size=300)
    x2 = rng.integers(1, 13, size=300)
    y = np.round(4.0 + 1.5 * x1 - 2.25 * x2
                 + rng.normal(0, 3, size=300), 2)
    rows = [("g", int(a), int(b), float(v))
            for a, b, v in zip(x1, x2, y)]
    df = spark.createDataFrame(rows, "g STRING, x1 LONG, x2 LONG, y DOUBLE")
    got = grouped_linreg2(df, "g", F.col("x1"), F.col("x2"),
                          F.col("y")).collect()[0]
    X = np.column_stack([np.ones_like(x1), x1, x2])
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    assert got["intercept"] == pytest.approx(beta[0], abs=1e-4)
    assert got["b1"] == pytest.approx(beta[1], abs=1e-4)
    assert got["b2"] == pytest.approx(beta[2], abs=1e-4)
    assert 0.0 <= got["r2"] <= 1.0


def test_grouped_linreg2_collinear_is_null(spark):
    """x2 = 2*x1 makes the Gram matrix singular -> NULL fit."""
    from tf_prisma_api_data_ingestion_spark.operators.stats import (
        grouped_linreg2,
    )
    rows = [("g", i, 2 * i, float(i)) for i in range(1, 8)]
    df = spark.createDataFrame(rows, "g STRING, x1 LONG, x2 LONG, y DOUBLE")
    got = grouped_linreg2(df, "g", F.col("x1"), F.col("x2"),
                          F.col("y")).collect()[0]
    assert got["b1"] is None and got["b2"] is None
    assert got["intercept"] is None and got["r2"] is None


def test_ndcg_at_k_known_values(spark):
    from tf_prisma_api_data_ingestion_spark.operators.ml import ndcg_at_k
    rows = [
        # query a: system puts rel=1 above rel=3 -> imperfect
        ("a", 10.0, 1, 1), ("a", 9.0, 3, 2), ("a", 8.0, 0, 3),
        # query b: perfect ranking
        ("b", 5.0, 2, 1), ("b", 1.0, 0, 2),
        # query c: nothing relevant -> NULL ndcg
        ("c", 4.0, 0, 1), ("c", 3.0, 0, 2),
    ]
    df = spark.createDataFrame(
        rows, "q STRING, score DOUBLE, rel LONG, id LONG")
    got = {r["query"]: r for r in ndcg_at_k(
        df, "q", F.col("score"), F.col("rel"), F.col("id"),
        k=10).collect()}
    # a: DCG = 1*1000000 + 7*630930, IDCG = 7*1000000 + 1*630930
    assert got["a"]["dcg_micro"] == 1 * 1000000 + 7 * 630930
    assert got["a"]["idcg_micro"] == 7 * 1000000 + 1 * 630930
    assert got["a"]["ndcg_r"] == pytest.approx(
        5416510 / 7630930, abs=1e-6)
    assert got["b"]["ndcg_r"] == pytest.approx(1.0)
    assert got["c"]["ndcg_r"] is None and got["c"]["idcg_micro"] == 0
    assert got["a"]["n_ranked"] == 3


def test_ndcg_at_k_ties_break_deterministically(spark):
    """Equal scores order by the tiebreak column, so the result is a
    function of the data, not of partitioning."""
    from tf_prisma_api_data_ingestion_spark.operators.ml import ndcg_at_k
    rows = [("q", 1.0, 3, 2), ("q", 1.0, 0, 1)]
    df = spark.createDataFrame(
        rows, "q STRING, score DOUBLE, rel LONG, id LONG")
    got = ndcg_at_k(df, "q", F.col("score"), F.col("rel"),
                    F.col("id"), k=10).collect()[0]
    # id=1 (gain 0) ranks first on the tiebreak; rel=3 second
    assert got["dcg_micro"] == 7 * 630930
    assert got["idcg_micro"] == 7 * 1000000


def test_cohens_kappa_known_value(spark):
    from tf_prisma_api_data_ingestion_spark.operators.ml import cohens_kappa
    pairs = [("A", "A")] * 3 + [("B", "B")] * 2 + \
            [("A", "B")] * 1 + [("B", "A")] * 2
    df = spark.createDataFrame(pairs, "a STRING, b STRING")
    got = cohens_kappa(df, F.col("a"), F.col("b")).collect()[0]
    # n=8 diag=5 po=0.625; margins a:{A:4,B:4} b:{A:5,B:3}
    # pe = (4*5 + 4*3)/64 = 0.5; kappa = 0.125/0.5 = 0.25
    assert got["n"] == 8
    assert got["po_r"] == pytest.approx(0.625)
    assert got["pe_r"] == pytest.approx(0.5)
    assert got["kappa_r"] == pytest.approx(0.25)


def test_cohens_kappa_degenerate_is_null(spark):
    """Both raters constant: pe = 1, agreement is vacuous -> NULL."""
    from tf_prisma_api_data_ingestion_spark.operators.ml import cohens_kappa
    df = spark.createDataFrame([("X", "X")] * 5, "a STRING, b STRING")
    got = cohens_kappa(df, F.col("a"), F.col("b")).collect()[0]
    assert got["kappa_r"] is None and got["po_r"] == pytest.approx(1.0)


def test_cohens_kappa_drops_nulls(spark):
    from tf_prisma_api_data_ingestion_spark.operators.ml import cohens_kappa
    df = spark.createDataFrame(
        [("A", "A"), ("A", None), (None, "B"), ("B", "B")],
        "a STRING, b STRING")
    got = cohens_kappa(df, F.col("a"), F.col("b")).collect()[0]
    assert got["n"] == 2 and got["po_r"] == pytest.approx(1.0)


def test_mixture_rebalance_budget_and_targets(spark):
    """Targets {a:50%, b:50%} on counts {a:10, b:30}: the binding
    stratum is a (B=20), so want=10 each; a keeps everything (threshold
    at 100% keep rate), b keeps a deterministic hash-selected subset."""
    from tf_prisma_api_data_ingestion_spark.plans.corpus import (
        mixture_rebalance,
    )
    rows = [(i, "a") for i in range(10)] + \
           [(100 + i, "b") for i in range(30)] + \
           [(900 + i, "zz") for i in range(5)]  # no target -> dropped
    df = spark.createDataFrame(rows, "doc_id LONG, lang STRING")
    out = {r["stratum"]: r for r in mixture_rebalance(
        df, "lang", {"a": 500000, "b": 500000}).collect()}
    assert set(out) == {"a", "b"}
    assert out["a"]["n_total"] == 10 and out["b"]["n_total"] == 30
    assert out["a"]["n_target"] == 10 and out["b"]["n_target"] == 10
    assert out["a"]["n_kept"] == 10          # keep rate 100% is exact
    assert 0 < out["b"]["n_kept"] <= 30      # hash-binomial, nonzero
    assert out["a"]["target_micro"] == 500000
    total = out["a"]["n_kept"] + out["b"]["n_kept"]
    for s in ("a", "b"):
        assert out[s]["realized_micro"] == \
            out[s]["n_kept"] * 1000000 // total
    # determinism: same inputs, same selection
    out2 = {r["stratum"]: r["n_kept"] for r in mixture_rebalance(
        df, "lang", {"a": 500000, "b": 500000}).collect()}
    assert out2 == {s: out[s]["n_kept"] for s in out}


def test_vocab_coverage_hand_counts(spark):
    from tf_prisma_api_data_ingestion_spark.operators.text import (
        vocab_coverage,
    )
    # tf: x appears 4 times, y 3, z 2, q 1 -> vocab(2) = {x, y}
    df = spark.createDataFrame(
        [(1, "s1", "x x y z"), (2, "s1", "x y q"), (3, "s2", "x y z")],
        "doc_id LONG, source STRING, text STRING")
    out = {r["source"]: r for r in vocab_coverage(
        df, "text", "source", vocab_size=2).collect()}
    assert out["s1"]["n_tokens"] == 7 and out["s1"]["n_oov"] == 2
    assert out["s1"]["oov_micro"] == 2 * 1000000 // 7
    assert out["s2"]["n_tokens"] == 3 and out["s2"]["n_oov"] == 1


def test_embed_centroids_hand_values(spark):
    from tf_prisma_api_data_ingestion_spark.operators.similarity import (
        embed_centroids,
    )
    df = spark.createDataFrame(
        [(1, "x", [1.0, -0.5]), (2, "x", [3.0, -0.5]),
         (3, "y", [0.0, 2.0])],
        "vec_id LONG, label STRING, embedding ARRAY<DOUBLE>")
    out = {(r["label"], r["dim"]): r
           for r in embed_centroids(df, "label").collect()}
    assert out[("x", 0)]["mean_micro"] == 2_000_000
    # var num = 2*(1e12 + 9e12) - (4e6)^2 = 4e12; DIV n^2=4 -> 1e12
    assert out[("x", 0)]["var_micro2"] == 1_000_000_000_000
    assert out[("x", 1)]["mean_micro"] == -500_000
    assert out[("x", 1)]["var_micro2"] == 0
    assert out[("y", 0)]["n"] == 1 and out[("y", 1)]["mean_micro"] == 2_000_000


def test_mrr_at_k_known_and_nohit(spark):
    """Includes the element_at(literal array, NULL) regression: Spark
    4.1 folds a NULL index into the LAST element, so a user with no
    relevant result in the top-k must still get rr_micro = 0."""
    from tf_prisma_api_data_ingestion_spark.operators.ml import mrr_at_k
    rows = [
        ("a", 9.0, 0, 1), ("a", 8.0, 1, 2), ("a", 7.0, 1, 3),  # first@2
        ("b", 5.0, 0, 1), ("b", 4.0, 0, 2),                    # no hit
    ]
    df = spark.createDataFrame(
        rows, "q STRING, score DOUBLE, rel INT, id LONG")
    out = {r["query"]: r for r in mrr_at_k(
        df, "q", F.col("score"), F.col("rel"), F.col("id"),
        k=10).collect()}
    assert out["a"]["first_rel_rank"] == 2
    assert out["a"]["rr_micro"] == 500000 and out["a"]["hit"] == 1
    assert out["b"]["first_rel_rank"] is None
    assert out["b"]["rr_micro"] == 0 and out["b"]["hit"] == 0


def test_rrf_fusion_known_values_and_ties(spark):
    from tf_prisma_api_data_ingestion_spark.operators.ml import rrf_fusion
    # ranker A order: 1,2,3; ranker B order: 3,2,1
    rows = [("q", 1, 3.0, 1.0), ("q", 2, 2.0, 2.0), ("q", 3, 1.0, 3.0)]
    df = spark.createDataFrame(rows, "q STRING, item LONG, sa DOUBLE, sb DOUBLE")
    out = {r["item"]: r for r in rrf_fusion(
        df, "q", "item", F.col("sa"), F.col("sb"), F.col("item"),
        k=10, top_n=3).collect()}
    assert out[1]["rrf_micro"] == 16393 + 15873
    assert out[2]["rrf_micro"] == 16129 + 16129
    assert out[3]["rrf_micro"] == 15873 + 16393
    # 1 and 3 tie at 32266; item id breaks the tie
    assert out[1]["fused_rank"] == 1
    assert out[3]["fused_rank"] == 2
    assert out[2]["fused_rank"] == 3


def test_rrf_fusion_outside_topk_contributes_zero(spark):
    from tf_prisma_api_data_ingestion_spark.operators.ml import rrf_fusion
    rows = [("q", 1, 3.0, 1.0), ("q", 2, 2.0, 2.0), ("q", 3, 1.0, 3.0)]
    df = spark.createDataFrame(rows, "q STRING, item LONG, sa DOUBLE, sb DOUBLE")
    out = {r["item"]: r for r in rrf_fusion(
        df, "q", "item", F.col("sa"), F.col("sb"), F.col("item"),
        k=2, top_n=3).collect()}
    # item 3 is outside A's top-2: rank_a NULL, only B's rank-1 counts
    assert out[3]["rank_a"] is None and out[3]["rank_b"] == 1
    assert out[3]["rrf_micro"] == 16393
    assert out[1]["rank_b"] is None and out[1]["rrf_micro"] == 16393


def test_hybrid_retrieval_invariants(spark):
    """Fused results come only from the two top-k lists, scores are the
    exact sum of the literal contributions, and ranks are total."""
    from tf_prisma_api_data_ingestion_spark import tables
    from tf_prisma_api_data_ingestion_spark.operators.ml import (
        RRF_SCORE_MICRO,
    )
    from tf_prisma_api_data_ingestion_spark.plans.rag import (
        hybrid_retrieval,
    )
    sf = "/root/testdata/sf0.001"
    out = hybrid_retrieval(
        tables.load(spark, sf, "documents"),
        tables.load(spark, sf, "embeddings"),
        ["hash", "join", "vector", "stream"], k=10, top_n=5).collect()
    assert [r["fused_rank"] for r in out] == [1, 2, 3, 4, 5] or \
           len(out) < 5  # tiny sf can have < 5 fused candidates
    for r in out:
        assert r["rank_lex"] is not None or r["rank_sem"] is not None
        want = 0
        if r["rank_lex"] is not None:
            want += RRF_SCORE_MICRO[r["rank_lex"] - 1]
        if r["rank_sem"] is not None:
            want += RRF_SCORE_MICRO[r["rank_sem"] - 1]
        assert r["rrf_micro"] == want
    scores = [r["rrf_micro"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_r7_retrieval_ops_single_data_exchange(spark):
    """ndcg/mrr/rrf must reuse ONE hash exchange on the query key for
    every window sort and the final aggregation — a second Exchange
    over the data would mean the window/groupBy partitioning stopped
    lining up (conf drift or a Spark upgrade de-optimizing the plan)."""
    from tf_prisma_api_data_ingestion_spark.catalog import (
        q_op_mrr_retrieval,
        q_op_ndcg_retrieval,
        q_op_rrf_fusion,
    )
    for q in (q_op_ndcg_retrieval, q_op_mrr_retrieval, q_op_rrf_fusion):
        plan = _plan(q(spark, SF))
        n_ex = plan.count("Exchange") - plan.count("ReusedExchange")
        assert n_ex == 1, f"{q.__name__}: {n_ex} exchanges"
        assert "CartesianProduct" not in plan


def test_r7_linreg2_single_aggregation_exchange(spark):
    from tf_prisma_api_data_ingestion_spark.catalog import (
        q_op_linreg2_group,
    )
    plan = _plan(q_op_linreg2_group(spark, SF))
    assert plan.count("Exchange") - plan.count("ReusedExchange") == 1
    assert "Sort" not in plan  # closed form: no window, no sort


def test_r7_corpus_mix_no_data_window(spark):
    """The mix plan must never window-rank or sort the corpus: its only
    data-sized operators are two combinable aggregations; the keep rule
    is row-local arithmetic against a broadcast threshold frame."""
    from tf_prisma_api_data_ingestion_spark.catalog import (
        q_plan_corpus_mix,
    )
    plan = _plan(q_plan_corpus_mix(spark, SF))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
