"""Plan-shape assertions: the properties that make these operators hold
at 100x the data — filters reaching the parquet scan, column pruning,
broadcast on the small side, rank-limit pushdown, and NO corpus-sized
broadcasts in the dedup family."""

from __future__ import annotations

import re

import pytest

from tf_prisma_api_data_ingestion_spark.catalog import (
    QUERIES,
    THROUGHPUT_QUERIES,
)

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    return (QUERIES.get(name) or THROUGHPUT_QUERIES[name])(spark, SF)._jdf.queryExecution().executedPlan().toString()


def scans(plan: str) -> list[str]:
    return [l for l in plan.splitlines() if "FileScan" in l]


def test_filter_eq_pushed_to_scan(spark):
    plan = plan_of(spark, "pd-filter-eq")
    assert any("EqualTo(o_orderstatus,F)" in s for s in scans(plan))


def test_filter_range_pushed_to_scan(spark):
    plan = plan_of(spark, "pd-filter-range")
    assert any("GreaterThanOrEqual(ts," in s for s in scans(plan))


def test_q1_column_pruning(spark):
    plan = plan_of(spark, "tpch-q1")
    scan = scans(plan)[0]
    read = re.search(r"FileScan parquet \[([^\]]*)\]", scan).group(1)
    # 7 of 11 lineitem columns read; keys that the query never touches
    # must not reach the scan
    assert "l_orderkey" not in read and "l_partkey" not in read
    assert "l_shipdate" in read and "l_extendedprice" in read


def test_q3_broadcasts_the_small_dims(spark):
    plan = plan_of(spark, "tpch-q3")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_top_k_rank_limit_pushed_below_shuffle(spark):
    plan = plan_of(spark, "top-k-per-group")
    assert "WindowGroupLimit" in plan


def test_asof_join_single_shuffle_no_join_explosion(spark):
    plan = plan_of(spark, "asof-join")
    # union + window formulation: no join node at all, one exchange for
    # the window partitioning (plus AQE read nodes)
    assert "Join" not in plan
    assert "Window" in plan


def test_jaccard_exact_mode_skips_the_cap_pass(spark):
    """max_df=None (the catalog's exact mode) must not pay the df-count
    aggregation or the anti-join for a cap that cannot bind."""
    df = QUERIES["dedup-ngram-jaccard"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in plan
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed


def test_jaccard_broadcasts_only_the_hot_set(spark):
    from tf_prisma_api_data_ingestion_spark import tables
    from tf_prisma_api_data_ingestion_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    docs = tables.load(spark, SF, "documents")
    df = ngram_jaccard_pairs(docs, max_df=1000)  # cap active
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the broadcast HINT feeds the LEFT ANTI join (tiny hot-shingle set),
    # never the surviving corpus-sized index (round-1 verdict scale-killer,
    # fixed by inverting the guard)
    anti = [l for l in plan.splitlines() if "BroadcastHashJoin" in l and "LeftAnti" in l]
    assert anti, "hot-shingle guard must be a broadcast anti-join"
    # the only broadcast HINT is the hot set — it appears once per
    # self-join side of the shared index subtree (2 occurrences). Any other
    # broadcast Spark picks is size-stat-driven and disappears at scale,
    # which is the behavior we want.
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint (strategy=broadcast)") == 2


def test_bruteforce_topk_broadcasts_queries_not_candidates(spark):
    plan = plan_of(spark, "sim-bruteforce-topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the big candidate side must never be HASH-exchanged to meet the
    # queries — scoring is shuffle-free modulo (a) the final tiny top-k
    # window shuffle and (b) parallel.fan_out's round-robin spread of a
    # narrow scan (which moves raw rows once, before scoring)
    hash_exchanges = [l for l in plan.splitlines()
                      if "Exchange hashpartitioning" in l]
    assert len(hash_exchanges) <= 1  # the per-query top-k only
    assert plan.count("Exchange") <= 3


def test_groupby_has_mapside_partial_agg(spark):
    plan = plan_of(spark, "pd-groupby")
    # partial aggregation before the exchange, final after
    assert plan.count("HashAggregate") >= 2
    i_partial = plan.find("partial_count")
    i_exch = plan.find("Exchange hashpartitioning")
    assert -1 < i_exch < i_partial  # partial agg is BELOW the exchange


@pytest.mark.parametrize("name", ["dedup-minhash-md5", "dedup-simhash-md5-pairs"])
def test_lsh_families_single_band_join(spark, name):
    plan = plan_of(spark, name)
    # posexplode banding: exactly one candidate self-join keyed on the
    # (band_idx, band_hash) pair, not an N-way union of joins
    assert plan.count("Generate posexplode") == 2  # one per join side


def formatted_plan_of(spark, name: str) -> str:
    # toString() truncates long FileScan lines; formatted mode keeps the
    # full PushedFilters list
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        (QUERIES.get(name) or THROUGHPUT_QUERIES[name])(spark, SF).explain("formatted")
    return buf.getvalue()


def test_q6_all_predicates_pushed(spark):
    plan = formatted_plan_of(spark, "tpch-q6")
    for pushed in ("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
                   "GreaterThanOrEqual(l_discount,0.05)",
                   "LessThanOrEqual(l_discount,0.07)",
                   "LessThan(l_quantity,24.0)"):
        assert pushed in plan, pushed
    read = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    assert "l_orderkey" not in read  # pruned to the 4 needed columns


def test_range_join_is_equi_join_not_nested_loop(spark):
    plan = plan_of(spark, "op-range-join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)


def test_time_rollup_scans_raw_input_once(spark):
    plan = plan_of(spark, "op-time-rollup")
    # cascaded rollup: the persisted levels are the barrier — each of the
    # three union branches reads a cache (InMemoryTableScan), so the raw
    # events table is scanned once at runtime regardless of grain count.
    # (FileScan lines still appear in the STRING inside each
    # InMemoryRelation printout — that's the cached subtree's plan, not a
    # separate execution.)
    branches = [l for l in plan.splitlines()
                if l.strip().startswith((":- Project", "+- Project"))
                and "AS grain" in l]
    assert len(branches) == 3
    assert plan.count("InMemoryTableScan") >= 3


def test_q5_at_scale_dims_broadcast_facts_shuffle(spark):
    # At sf0.001 the stats-driven planner broadcasts EVERYTHING (even
    # lineitem — correct at 6k rows). To pin the 100x behavior, disable
    # auto-broadcast so only the EXPLICIT broadcast() hints survive: the
    # dim chain must still broadcast, and both fact joins (orders⋈customer,
    # lineitem⋈co) must become shuffle joins with lineitem never built.
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, "tpch-q5")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    # hinted: region->nation, nation->customer, nation->supplier, s->li
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    # lineitem is never inside a BroadcastExchange subtree (= every line
    # at strictly deeper tree indent than the exchange node)
    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        d = depth(line)
        for nxt in lines[i + 1:]:
            if depth(nxt) <= d:
                break
            assert "lineitem.parquet" not in nxt


def test_semi_anti_are_single_pass_joins(spark):
    plan = plan_of(spark, "op-semi-anti-join")
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_profile_is_single_scan(spark):
    plan = plan_of(spark, "op-profile")
    assert len(scans(plan)) == 1


def test_window_rank_single_sort_window(spark):
    # all six window functions share one window spec -> exactly one Window
    # node (one sort per partition serves rank/lag/lead/ntile/first)
    plan = plan_of(spark, "op-window-rank")
    assert len([l for l in plan.splitlines()
                if re.search(r"\bWindow\b", l) and "windowspecdefinition" in l]) == 1


def test_contamination_bank_is_broadcast(spark):
    plan = plan_of(spark, "text-contamination")
    # the benchmark n-gram bank must broadcast; the corpus side must not
    assert "BroadcastHashJoin" in plan
    assert "BroadcastExchange" in plan


def test_pack_sequences_partitions_by_shard_only(spark):
    plan = plan_of(spark, "text-pack-sequences")
    # per-shard window: exactly one hash exchange on source, and never a
    # global single-partition sort
    assert plan.count("Exchange hashpartitioning(source") == 1
    assert "Exchange SinglePartition" not in plan


def test_temperature_sample_rates_broadcast(spark):
    plan = plan_of(spark, "text-temperature-sample")
    # the per-source rate table is tiny -> broadcast back onto the corpus
    assert "BroadcastHashJoin" in plan


def test_corpus_to_training_bin_invariants(spark):
    """Every bin offset is inside the budget; per-source bins are dense
    from 0; output only contains cleaned survivors."""
    from tf_prisma_api_data_ingestion_spark.plans.corpus import (
        corpus_clean_v2,
        corpus_to_training,
    )
    out = corpus_to_training(spark, SF, budget=512).cache()
    import pyspark.sql.functions as F
    assert out.filter((F.col("bin_offset") < 0)
                      | (F.col("bin_offset") >= 512)).count() == 0
    # bins per source are contiguous 0..max
    per_src = (out.groupBy("source")
               .agg(F.countDistinct("bin_id").alias("nb"),
                    (F.max("bin_id") + 1).alias("want")).collect())
    assert all(r.nb == r.want for r in per_src)
    kept = {r.doc_id for r in corpus_clean_v2(spark, SF).select("doc_id").collect()}
    assert {r.doc_id for r in out.collect()} <= kept
    out.unpersist()


# --- r11 plan shapes ---

@pytest.mark.parametrize("name", ["op-bpe-encode-arrow",
                                  "text-unigram-segment-arrow",
                                  "text-wordpiece-encode-arrow"])
def test_arrow_tokenizer_plan_is_one_mapinpandas(spark, name):
    # the production-vocabulary property: the model lives in the
    # closure, so the plan carries exactly ONE MapInPandas node over
    # the distinct-word frame — it would not grow with a 30k-entry
    # table, where the fold twin stacks one projection per rank
    plan = plan_of(spark, name)
    assert plan.count("MapInPandas") == 1
    assert "ArrowEvalPython" not in plan  # no extra python stages


def test_datasheet_single_feature_pass_scan_count(spark):
    # r11 fold: gopher+c4 ride ONE base scan and the encoders'
    # checkpointed word-count frame replaces bpe's two extra scans
    # (7 parquet scans -> 3: flags, dup keeper x2)
    plan = plan_of(spark, "plan-corpus-datasheet")
    assert len(scans(plan)) == 3


def test_bucket_tree_keeps_rank_plan_shape(spark):
    # the balanced boundary tree must not reintroduce the unbindable
    # HOF-filter plan (rank.py's documented pitfall): no higher-order
    # 'filter(' in the bucket projection and no unpartitioned window
    plan = plan_of(spark, "op-equidepth-histogram")
    assert "!Filter" not in plan
    # the corpus-sized row_number window stays keyed by the range
    # bucket; the only unpartitioned windows are the B-row offsets
    # frame's (sum over _rk_c counts — tiny by construction)
    for line in plan.splitlines():
        if "row_number() windowspecdefinition" in line:
            assert "_rk_b" in line


def test_plans_audit_names_only_registered_keys(monkeypatch):
    """PLANS.md is regenerated, not committed, so a key renamed or
    deleted from the catalog must fail here rather than in the
    regenerator's first run."""
    import importlib.util
    import sys
    from pathlib import Path

    path = Path(__file__).resolve().parents[1] / "scripts" / "plans_audit.py"
    spec = importlib.util.spec_from_file_location("plans_audit", path)
    mod = importlib.util.module_from_spec(spec)
    monkeypatch.setattr(sys, "path", list(sys.path))  # script prepends "."
    spec.loader.exec_module(mod)
    audited = {name for name, _ in mod.AUDIT}
    assert audited - set(QUERIES) - set(THROUGHPUT_QUERIES) == set()
