"""Spark-side query catalog, first half: one q_* wrapper per SURVEY.md
section-2 operator / extension family (the rest are in
catalog_registry.py). No key is registered here: each key's
(query, oracle) entry is in catalog.CATALOG, which also sets the
order the correctness gate samples. Import through tf_prisma_api_data_ingestion_spark.catalog.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import cache, tables
from .functions.columns import derive_ts_columns, url_encode_path
from .operators import dedup, similarity, text
from .operators.json_ops import flatten_array_of_structs, json_rows, parse_json_col
from .operators.relational import (
    asof_join,
    fill_nulls,
    filter_eq,
    filter_in,
    filter_range,
    foreach_group,
    group_agg_count,
    limit_page,
    project_rename,
    sort_desc,
    top_k_per_group,
    upper_cols,
)
from .plans.report import alert_report_events

# timestamp bounds for the events window queries (events data is Jan 2024)
_JAN10_TS = "2024-01-10 00:00:00"
_JAN20_TS = "2024-01-20 00:00:00"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return tables.load(spark, sf_dir, name)


def _dec_sum(col: str | F.Column, scale: int = 2) -> F.Column:
    """Exact decimal sum of a 2-decimal double column, surfaced as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double")


# =====================================================================
# §2.3 pushdown-class operators (P:229-248, 272-273)
# =====================================================================

def q_pd_filter_eq(spark, sf_dir):
    """pd-filter-eq (P:229-237): equality predicate reaching the scan."""
    o = _t(spark, sf_dir, "orders")
    return filter_eq(o, "o_orderstatus", "F").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")


def q_pd_filter_in(spark, sf_dir):
    """pd-filter-in (P:232-236): disjunctive membership."""
    o = _t(spark, sf_dir, "orders")
    return filter_in(o, "o_orderpriority", ["1-URGENT", "2-HIGH"]).select(
        "o_orderkey", "o_orderpriority", "o_totalprice")


def q_pd_filter_range(spark, sf_dir):
    """pd-filter-range (P:238-244): absolute time-range predicate over
    events.ts (TIMESTAMP post-load); [lo, hi) expressed as inclusive
    bounds at µs precision so it pushes into the scan as two range
    filters."""
    ev = _t(spark, sf_dir, "events")
    lo = F.to_timestamp(F.lit(_JAN10_TS))
    hi = F.to_timestamp(F.lit(_JAN20_TS)) - F.expr("INTERVAL 1 MICROSECOND")
    return filter_range(ev, "ts", lo, hi).select(
        "event_id", "user_id", "event_type", "value")


def q_pd_sort(spark, sf_dir):
    """pd-sort (P:245-248): multi-key desc sort; limit makes order
    observable under the driver's order-insensitive hash; tiebreak keys
    totalize the order so the row *set* is deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    s = sort_desc(li, ["l_extendedprice"], tiebreak=["l_orderkey", "l_linenumber"])
    return s.select("l_orderkey", "l_linenumber", "l_extendedprice").limit(100)


def q_pd_limit_page(spark, sf_dir):
    """pd-limit-page (P:272-273): deterministic first page (keyset order)."""
    o = _t(spark, sf_dir, "orders")
    return limit_page(o.orderBy(F.col("o_orderkey").asc()), 100).select(
        "o_orderkey", "o_orderstatus", "o_totalprice")


def q_pd_groupby(spark, sf_dir):
    """pd-groupby (P:13, P:398): server-side group-by as a real shuffle agg
    with map-side partial aggregation."""
    o = _t(spark, sf_dir, "orders")
    g = o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        _dec_sum("o_totalprice").alias("sum_total"))
    return g.withColumn("avg_total", F.round(F.col("sum_total") / F.col("n_orders"), 6))


# =====================================================================
# §2.2 local operators
# =====================================================================

def q_op_groupagg_count(spark, sf_dir):
    """op-groupagg-count (P:320-334): the alert grouping — count per
    (policy~event_type, account~user_id) with deterministic min() instead
    of the reference's order-dependent first-seen (SURVEY §2.5.5)."""
    ev = _t(spark, sf_dir, "events")
    return group_agg_count(ev, ["event_type", "user_id"], {
        "failed_resource_count": F.count("*"),
        "first_event_id": F.min("event_id"),
    })


def q_op_project_rename(spark, sf_dir):
    """op-project-rename (P:335-348): projection + rename + literal."""
    c = _t(spark, sf_dir, "customer")
    return project_rename(c, {
        "Customer Id": "c_custkey",
        "Customer Name": "c_name",
        "Segment": "c_mktsegment",
        "Status": F.lit("fail"),
    })


def q_op_upper(spark, sf_dir):
    """op-upper (P:340-341)."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    return upper_cols(c, ["c_name", "c_mktsegment"])


def q_op_fillna(spark, sf_dir):
    """op-fillna (P:178,354,405): nulls are synthesized (the tables have
    none), then filled — double with 0, string with 'missing'; Spark's
    type-matched na.fill is the documented deviation from pandas."""
    c = _t(spark, sf_dir, "customer")
    nulled = c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") >= 0, F.col("c_acctbal")).alias("acctbal"),
        F.when(F.col("c_mktsegment") != "BUILDING", F.col("c_mktsegment")).alias("segment"))
    return fill_nulls(fill_nulls(nulled, 0.0, ["acctbal"]), "missing", ["segment"])


def q_op_union_all(spark, sf_dir):
    """op-union-all (P:403): split orders by status, re-union by NAME with
    a column present on only one branch (pd.concat aligns by name —
    unionByName(allowMissingColumns=True) is the Spark analog)."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    branches = [
        o.filter(F.col("o_orderstatus") == "O"),
        o.filter(F.col("o_orderstatus") == "F").withColumn("note", F.lit("f-branch")),
        o.filter(F.col("o_orderstatus") == "P"),
    ]
    from .operators.relational import union_all
    return union_all(branches)


def q_op_lit_cols(spark, sf_dir):
    """op-lit-cols (P:175-177,199-203): constant run-metadata columns."""
    from .functions.columns import with_literal_columns
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return with_literal_columns(s, {
        "transaction_date": "2024-02-01",
        "resourceIdentity": "Resource Type",
    })


def q_op_derive_ts(spark, sf_dir):
    """op-derive-ts (P:151-162): epoch-ms -> 'yyyy-MM-dd HH:mm:ss' string.
    The ms column is unix_millis over the canonical TIMESTAMP ts column
    that tables.load normalizes to (whatever the physical parquet type)."""
    ev = _t(spark, sf_dir, "events")
    ms = ev.select("event_id", F.unix_millis(F.col("ts")).alias("event_ms"))
    return derive_ts_columns(ms, {"event_ms": "event_time"}).select("event_id", "event_time")


def q_op_json_flatten(spark, sf_dir):
    """op-json-flatten (P:171,194-195): array-of-structs -> one row per
    element with struct fields as columns."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    arr = F.array(
        F.struct(F.col("event_type").alias("name"), F.col("value").alias("metric")),
        F.struct(F.upper("event_type").alias("name"), (F.col("value") * 2).alias("metric")))
    return flatten_array_of_structs(ev.select("event_id", arr.alias("entries")), "entries")


def q_op_struct_access(spark, sf_dir):
    """op-struct-access (P:321-323): typed JSON parse + nested field."""
    ev = _t(spark, sf_dir, "events")
    parsed = parse_json_col(ev, "props", "k INT", out="p")
    return parsed.select("event_id", F.col("p.k").alias("prop_k"))


def q_op_variant_json(spark, sf_dir):
    """Spark 4 VariantType over the props JSON column: schemaless parse
    (try_parse_json) + typed path extraction (variant_get) + aggregate on
    the extracted value. The Variant binary encoding makes repeated path
    access columnar instead of re-parsing JSON text per row — the scale
    posture for heterogeneous payloads where from_json's fixed schema
    would drop drifting fields (SURVEY §1.3 inversion, schemaless twin
    of op-struct-access). The integer-literal guard keeps the engines
    aligned under type drift: Spark's variant int cast would turn a JSON
    boolean true into 1 (and truncate 12.5 to 12) where the oracle's
    string-based TRY_CAST yields NULL, so both sides null out any $.k
    whose string form isn't a pure integer literal."""
    from .operators.json_ops import variant_field, variant_json_col
    ev = _t(spark, sf_dir, "events")
    v = variant_json_col(ev, "props", out="_v")
    ks = variant_field("_v", "$.k", "string")
    k = F.when(ks.rlike("^-?[0-9]+$"), variant_field("_v", "$.k", "int"))
    return (v.select(k.alias("prop_k"))
             .withColumn("k_bucket", F.col("prop_k") % 10)
             .groupBy("k_bucket")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum("prop_k").alias("sum_k")))


def q_op_array_index(spark, sf_dir):
    """op-array-index (P:324): null-safe element access (the reference
    IndexErrors on empty arrays — SURVEY §2.5.6)."""
    from .operators.json_ops import array_first
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        array_first(toks).alias("first_word"),
        F.when(F.size(toks) >= 3, F.element_at(toks, 3)).alias("third_word"))


def q_op_urlencode(spark, sf_dir):
    """op-urlencode (P:142): urllib.parse.quote-parity percent encoding."""
    p = _t(spark, sf_dir, "part")
    return p.select("p_partkey", url_encode_path(F.col("p_name")).alias("p_name_enc"))


def q_op_empty_guard(spark, sf_dir):
    """op-empty-guard (P:350-351): empty result keeps a stable schema."""
    from .operators.relational import empty_guard
    o = _t(spark, sf_dir, "orders")
    return empty_guard(filter_eq(o, "o_orderstatus", "NO_SUCH_STATUS")).select(
        "o_orderkey", "o_orderstatus", "o_totalprice")


def q_op_foreach_group(spark, sf_dir):
    """op-foreach-group (P:394-401): driver-side dependent fan-out — one
    scan per distinct key, unioned. On local data this is semantically a
    group-by (the oracle); the loop formulation exists because the
    reference's source only answers parameterized scans."""
    o = _t(spark, sf_dir, "orders")

    def scan_for_key(k):
        return (o.filter(F.col("o_orderpriority") == k)
                 .groupBy("o_orderpriority")
                 .agg(F.count("*").alias("n_orders"),
                      _dec_sum("o_totalprice").alias("sum_total")))

    return foreach_group(o, "o_orderpriority", scan_for_key)


def q_src_url_gen(spark, sf_dir):
    """src-url-gen (P:139-148): parameterized scan-URL builder as a column
    expression (connector option precomputation)."""
    p = _t(spark, sf_dir, "part")
    url = F.concat(
        F.lit("https://api.example.com/v2/inventory?cloud.type="),
        F.lower(F.col("p_brand")),
        F.lit("&cloud.service="), url_encode_path(F.col("p_name")),
        F.lit("&groupBy=resource.type"))
    return p.select("p_partkey", url.alias("scan_url"))


# =====================================================================
# Engine-level relational capability (headline/bench shapes)
# =====================================================================

def q_op_pivot(spark, sf_dir):
    """Pivot (wide report shape): order counts per priority x status.
    Pivot values are pinned explicitly — at scale an unpinned pivot takes
    an extra distinct-collect pass over the data to discover columns."""
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy("o_orderpriority")
            .pivot("o_orderstatus", ["F", "O", "P"])
            .agg(F.count(F.lit(1)))
            .na.fill(0)
            .select("o_orderpriority",
                    F.col("F").alias("n_f"), F.col("O").alias("n_o"),
                    F.col("P").alias("n_p")))


def q_op_window_running_sum(spark, sf_dir):
    """Running per-customer order total (window cumulative sum in exact
    decimals, surfaced as double)."""
    from pyspark.sql.window import Window
    o = _t(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return o.select(
        "o_orderkey", "o_custkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w)
         .cast("double").alias("running_total"))


def q_op_percentiles(spark, sf_dir):
    """Exact quartiles of order totals per status. Linear interpolation of
    2-decimal order stats has at most 4 decimals, so round(4) recovers the
    exact value in both engines."""
    o = _t(spark, sf_dir, "orders")
    pct = F.percentile("o_totalprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    g = o.groupBy("o_orderstatus").agg(pct.alias("_p"))
    return g.select(
        "o_orderstatus",
        F.round(F.element_at("_p", 1), 4).alias("p25"),
        F.round(F.element_at("_p", 2), 4).alias("p50"),
        F.round(F.element_at("_p", 3), 4).alias("p75"))


def q_sketch_hll_distinct(spark, sf_dir):
    """HyperLogLog++ distinct-count sketch per event_type (the constant-
    memory path for distinct counting at 100 TB; exact distinct needs a
    full shuffle of the key space). HLL register layouts are algorithm-
    specific with no DuckDB analog, so this lives in THROUGHPUT_QUERIES
    (error bound vs exact unit-tested); the driver-gated twin is
    ``sketch-kmv-distinct`` — same constant-memory story, fully
    oracle-checked."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.approx_count_distinct("user_id", rsd=0.02)
                  .alias("approx_users")))


KMV_K = 64


def q_sketch_kmv_distinct(spark, sf_dir):
    """KMV (k-minimum-values) distinct-count sketch per event_type:
    est = (k-1) / R_k where R_k is the k-th smallest normalized 60-bit
    md5 hash of the key — order-independent, deterministic, constant
    memory per group, and every intermediate replays bit-exact in DuckDB
    (unlike HLL's register layout).

    Scale shape: shard-local bottom-k first via a row_number window over
    (type, h%64) — the window sort streams through Spark's spillable
    per-partition buffer, so no aggregation buffer ever materializes a
    whole shard's hash array (a collect_list-then-slice formulation
    would hold O(distinct/64) longs per shard in unspillable agg state —
    at 100 TB that's hundreds of MB per group). The final per-type
    collect_list sees at most 64·k surviving candidates — the classic
    exact two-phase min-k merge, never a whole-group sort."""
    from pyspark.sql.window import Window
    ev = _t(spark, sf_dir, "events")
    h = dedup.md5_hash60(F.col("user_id").cast("string"))
    d = ev.select("event_type", h.alias("_h")).distinct()
    sh = d.withColumn("_shard", F.pmod("_h", F.lit(64)))
    wk = Window.partitionBy("event_type", "_shard").orderBy("_h")
    r = sh.withColumn("_rn", F.row_number().over(wk))
    # count(*) streams over every row; collect_list's when() keeps only
    # rows _rn<=k, so its buffer is bounded at 64·k entries per type
    g = (r.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("_n"),
                F.slice(F.array_sort(F.collect_list(
                    F.when(F.col("_rn") <= KMV_K, F.col("_h")))),
                    1, KMV_K).alias("_all")))
    kth = F.get("_all", KMV_K - 1)  # 0-based, null-safe under ANSI
    est = F.when(F.col("_n") >= KMV_K,
                 F.floor(F.lit(float(KMV_K - 1)) * F.lit(float(2 ** 60))
                         / kth.cast("double")).cast("long")
                 ).otherwise(F.col("_n"))
    return g.select("event_type", est.alias("distinct_est"))


def q_sketch_kmv_union(spark, sf_dir):
    """KMV sketch MERGE — the property that makes sketches work in a
    map-reduce world: per-subset bottom-k sketches (engaged = click/view
    users, converting = purchase/error users) are built independently
    and UNIONED by taking the bottom-k of the combined min-sets; the
    merged sketch estimates |A ∪ B| distinct users without ever seeing
    the union's raw rows. If the merged distinct min-set is still
    smaller than k, both inputs retained every hash and the union count
    is exact. Bit-exact replayable in SQL (md5-based KMV, no HLL
    registers). Bottom-k per shard comes from a row_number window
    (spillable sort) rather than collect_list of the whole shard, so
    sketch-build memory stays O(64·k) regardless of corpus distincts —
    same bounded-memory shape as q_sketch_kmv_distinct."""
    from pyspark.sql.window import Window
    ev = _t(spark, sf_dir, "events")
    h = dedup.md5_hash60(F.col("user_id").cast("string"))

    def minset(types):
        d = (ev.filter(F.col("event_type").isin(*types))
               .select(h.alias("_h")).distinct())
        sh = d.withColumn("_shard", F.pmod("_h", F.lit(64)))
        wk = Window.partitionBy("_shard").orderBy("_h")
        r = (sh.withColumn("_rn", F.row_number().over(wk))
               .filter(F.col("_rn") <= KMV_K))
        return r.agg(F.slice(F.array_sort(F.collect_list("_h")),
                             1, KMV_K).alias("_mins"))

    a = minset(["click", "view"]).select(F.col("_mins").alias("_ma"))
    b = minset(["purchase", "error"]).select(F.col("_mins").alias("_mb"))
    merged = F.array_sort(F.array_distinct(F.concat("_ma", "_mb")))
    kth = F.get(merged, KMV_K - 1)
    est = F.when(F.size(merged) >= KMV_K,
                 F.floor(F.lit(float(KMV_K - 1)) * F.lit(float(2 ** 60))
                         / kth.cast("double")).cast("long")
                 ).otherwise(F.size(merged).cast("long"))
    return (a.crossJoin(b)
            .select(est.alias("union_distinct_est"),
                    F.size("_ma").cast("long").alias("sketch_a_size"),
                    F.size("_mb").cast("long").alias("sketch_b_size")))


def q_sketch_quantile_gk(spark, sf_dir):
    """Greenwald-Khanna approximate quantiles of event values (bounded-
    memory mergeable sketch — the streaming/throughput path). GK compress
    decisions have no DuckDB analog, so this lives in THROUGHPUT_QUERIES
    (error bound unit-tested); the driver-gated twin is
    ``sketch-quantile``'s deterministic hash-sample estimator."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.percentile_approx("value", 0.5, 1000).alias("p50_approx")))


def q_sketch_quantile(spark, sf_dir):
    """Deterministic hash-sample median per event_type: rows whose 60-bit
    md5(event_id) ≡ 0 (mod 20) form a fixed 5% sample; the estimate is
    the sample's exact lower median under an explicit (value, event_id)
    total order — no RNG, no sketch internals, bit-reproducible in DuckDB.
    Rank error vs the true median concentrates as O(1/sqrt(0.05·n)).

    Scale shape: the mod-filter prunes 95% before any shuffle; the
    per-group sort runs over the sample only. (GK sketch twin:
    THROUGHPUT_QUERIES['sketch-gk-quantile'].)"""
    from pyspark.sql.window import Window
    ev = _t(spark, sf_dir, "events")
    s = (ev.select("event_type", "value", "event_id")
           .filter(dedup.md5_hash60(F.col("event_id").cast("string"))
                   % 20 == 0))
    wo = Window.partitionBy("event_type").orderBy("value", "event_id")
    wa = Window.partitionBy("event_type")
    r = (s.withColumn("_rn", F.row_number().over(wo))
          .withColumn("_sn", F.count(F.lit(1)).over(wa)))
    return (r.filter(F.col("_rn") == F.floor((F.col("_sn") + 1) / 2))
             .select("event_type", F.col("value").alias("p50_sample"),
                     F.col("_sn").alias("sample_n")))


def q_op_salted_join(spark, sf_dir):
    """Hand-salted skew-safe join (lineitem ⋈ orders on l_orderkey):
    deterministic salt splits each hot key across ``salt`` shuffle
    partitions, the small side replicates per salt value. The result is
    identical to the plain join — that identity IS the oracle."""
    from .operators.relational import salted_join
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber",
                                              "l_extendedprice")
    o = _t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("l_orderkey"),
                                           "o_orderstatus")
    j = salted_join(li, o, on=["l_orderkey"], salt=8, left_unique="l_linenumber")
    return j.select("l_orderkey", "l_linenumber", "l_extendedprice", "o_orderstatus")


def q_stream_stateful(spark, sf_dir):
    """Custom stateful streaming op (applyInPandasWithState): per-type
    running totals carried in GroupState, exact micro-unit accumulation so
    the batch oracle hash-matches."""
    from .streaming.windows import stateful_running_totals
    return stateful_running_totals(spark, sf_dir, query_name="cat_stateful")


def q_tpch_q1(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary: the canonical scan->agg plan
    (partial agg map-side; all money math in exact decimals)."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    charge = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              * (1 + F.col("l_tax"))).cast("decimal(18,6)")
    g = (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
           .groupBy("l_returnflag", "l_linestatus")
           .agg(_dec_sum("l_quantity").alias("sum_qty"),
                _dec_sum("l_extendedprice").alias("sum_base_price"),
                F.sum(disc_price).cast("double").alias("sum_disc_price"),
                F.sum(charge).cast("double").alias("sum_charge"),
                F.count("*").alias("count_order")))
    return (g.withColumn("avg_qty", F.round(F.col("sum_qty") / F.col("count_order"), 6))
             .withColumn("avg_price", F.round(F.col("sum_base_price") / F.col("count_order"), 6)))


def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3-shaped shipping-priority join: customer ⋈ orders ⋈ lineitem,
    top-10 by exact-decimal revenue so the sort order is identical in both
    engines. Join strategy is deliberately stats-driven (NO broadcast
    hints): filtered orders/customer are fact-sized fractions that stats +
    AQE broadcast at small sf and shuffle at 100 TB — a hint would force
    the broadcast at every scale."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-01-01").cast("timestamp"))
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    j = (li.join(o, li.l_orderkey == o.o_orderkey)
           .join(c, o.o_custkey == c.c_custkey))
    g = (j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
          .agg(F.sum(revenue).cast("double").alias("revenue")))
    return (g.orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
             .limit(10)
             .select("l_orderkey", "revenue",
                     F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
                     "o_orderpriority"))


def q_top_k_per_group(spark, sf_dir):
    """Per-group top-k via window row_number (WindowGroupLimit pushes the
    rank limit below the shuffle)."""
    li = _t(spark, sf_dir, "lineitem")
    t = top_k_per_group(li, ["l_returnflag"], "l_extendedprice", 3,
                        descending=True, tiebreak=["l_orderkey", "l_linenumber"])
    return t.select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")


def q_asof_join(spark, sf_dir):
    """As-of join: each purchase event picks up the most recent prior (or
    simultaneous) click by the same user — one shuffle union+forward-fill,
    no O(n*m). Timestamps compared at µs so the DuckDB ASOF oracle agrees
    with the Spark side (both engines see the same µs instants). The right
    side is pre-aggregated to one row per (user_id, ts) — max(value) — so
    neither engine faces an arbitrary tied-timestamp pick (asof_join's
    ``tiebreak`` covers callers who need raw tied rows); the pre-agg also
    shrinks the window input and co-partitions with the asof shuffle."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts")).alias("ts_us")
    p = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", us)
    c = (ev.filter(F.col("event_type") == "click").select("user_id", us, "value")
           .groupBy("user_id", "ts_us").agg(F.max("value").alias("value")))
    joined = asof_join(p, c, on=["user_id"], left_ts="ts_us", right_ts="ts_us",
                       right_cols={"value": "last_click_value"})
    return joined.select("event_id", "user_id", "last_click_value")


def q_asof_join_forward(spark, sf_dir):
    """Forward as-of join (next-event attribution): each click picks up
    the NEXT purchase by the same user at-or-after the click — same
    single-shuffle union+fill formulation as the backward variant, with
    the window frame reversed. Right side pre-aggregated to one row per
    (user_id, ts) — max(value) — so tied-timestamp picks are
    deterministic in both engines (see q_asof_join)."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts")).alias("ts_us")
    c = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", us)
    p = (ev.filter(F.col("event_type") == "purchase").select("user_id", us, "value")
           .groupBy("user_id", "ts_us").agg(F.max("value").alias("value")))
    joined = asof_join(c, p, on=["user_id"], left_ts="ts_us", right_ts="ts_us",
                       right_cols={"value": "next_purchase_value"},
                       direction="forward")
    return joined.select("event_id", "user_id", "next_purchase_value")


def q_op_distinct(spark, sf_dir):
    """Distinct projection (engine capability absent from the reference,
    SURVEY §2.4): shuffle dedup with partial aggregation map-side."""
    return _t(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


def q_op_intersect(spark, sf_dir):
    """INTERSECT (SURVEY §2.4): nations that have both customers and
    suppliers."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


def q_op_except(spark, sf_dir):
    """EXCEPT (SURVEY §2.4): nations with customers but no high-balance
    supplier. ``subtract`` is SET difference like SQL EXCEPT (exceptAll
    would be bag difference and leave per-key leftovers)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = (_t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 8000)
         .select(F.col("s_nationkey").alias("nationkey")))
    return c.subtract(s)


def q_op_rollup(spark, sf_dir):
    """ROLLUP hierarchy totals (SURVEY §2.4): (status, priority) ->
    (status) -> grand total, with exact-decimal sums."""
    o = _t(spark, sf_dir, "orders")
    return (o.rollup("o_orderstatus", "o_orderpriority")
            .agg(F.count("*").alias("n_orders"),
                 _dec_sum("o_totalprice").alias("sum_total"))
            .select(F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
                    F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
                    "n_orders", "sum_total"))


def q_op_sessionize(spark, sf_dir):
    """Gap-based sessionization over events (30-minute gap at µs
    precision) — gap-and-islands window formulation, one shuffle."""
    from .operators.relational import sessionize
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts")).alias("ts_us"))
    gap_us = 30 * 60 * 1_000_000
    s = sessionize(ev.withColumn("user_id", F.col("user_id").cast("string")),
                   "user_id", "ts_us", gap_us)
    return s.select("user_id", "session_id",
                    F.col("session_start"), F.col("session_end"), "n_events")


def q_op_apply_in_pandas(spark, sf_dir):
    """Grouped applyInPandas (Arrow batches, SURVEY §2.4 UDF surface):
    per-event-type centering against the group min (order-independent, so
    the SQL oracle reproduces it exactly)."""
    from .operators.relational import grouped_demean
    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type"), F.col("value"))
    return grouped_demean(ev, "event_type", "value")


# =====================================================================
# LLM-data-pipeline: dedup family (operators/dedup.py)
# =====================================================================

def q_dedup_exact(spark, sf_dir):
    """Exact dedup by content hash: one shuffle on md5(text)."""
    return dedup.exact_dedup(_t(spark, sf_dir, "documents"))


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Inverted-index exact n-gram Jaccard pairs (>= 0.2). max_df=None is
    the uncapped exact mode — no df-count pass, no anti-join (the capped
    path with its hot-shingle broadcast guard is the scale default and
    keeps its own plan test)."""
    return dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"),
                                     n=3, threshold=0.2, max_df=None)


def q_dedup_incremental(spark, sf_dir):
    """Incremental ingest dedup (operators/dedup.py
    incremental_jaccard_pairs): documents with doc_id % 10 == 0 play the
    incoming batch, the rest the accepted corpus; each new doc is checked
    against the index only — no index self-join, the always-growing-corpus
    production shape. max_df is far above any shingle's df at sf<=0.01,
    so the jaccard values are exact."""
    d = _t(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") % 10 == 0)
    idx = d.filter(F.col("doc_id") % 10 != 0)
    return dedup.incremental_jaccard_pairs(new, idx, n=3, threshold=0.2)


def q_dedup_embedding(spark, sf_dir):
    """Embedding near-dup pairs, blocked on the label column (the coarse-
    quantizer stand-in): exact cosine within blocks, threshold 0.35.
    max_block_size makes the quadratic-within-block budget EXPLICIT: the
    query refuses to run (naming the offending block and the LSH
    alternative) rather than silently launching an n^2 join if a block
    outgrows it — dedup-embedding-lsh is the unbounded-scale path."""
    return dedup.embedding_near_dup_pairs(_t(spark, sf_dir, "embeddings"),
                                          block_col="label", threshold=0.35,
                                          max_block_size=100_000)


def q_dedup_clusters(spark, sf_dir):
    """Connected components over jaccard>=0.2 near-dup edges: (doc_id,
    cluster_id=min reachable id) for every document — the step that turns
    pairwise near-dup output into keep-one-per-cluster decisions. The
    oracle replays the same edges with a recursive CTE."""
    from .operators.dedup import dedup_clusters
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, n=3, threshold=0.2, max_df=None)
    return dedup_clusters(pairs, d.select("doc_id"))


def q_dedup_clusters_star(spark, sf_dir):
    """Same connected-components contract as dedup-clusters, computed by
    the alternating large-star/small-star algorithm (O(log n) rounds —
    the adversarial-topology scale path; see dedup.dedup_clusters_star).
    Oracle: identical recursive-CTE reachability — the two algorithms
    must agree exactly, and DuckDB pins both."""
    from .operators.dedup import dedup_clusters_star
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, n=3, threshold=0.2, max_df=None)
    return dedup_clusters_star(pairs, d.select("doc_id"))


# =====================================================================
# LLM-data-pipeline: similarity search (operators/similarity.py)
# =====================================================================

def q_sim_bruteforce_topk(spark, sf_dir):
    """Exact cosine top-5 for 5 query vectors: broadcast queries, no
    shuffle of the candidate side until the tiny per-query top-k."""
    e = _t(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(e.filter(F.col("vec_id") < 5), e, k=5)


def q_dedup_embedding_lsh(spark, sf_dir):
    """Unblocked embedding near-dup via random-hyperplane LSH blocking +
    exact cosine verification — the quadratic-free scale path. Integer
    hyperplanes from the cross-engine md5 primitive make bucketing AND
    verification replay bit-exact in DuckDB (one posexplode-free bucket
    self-join)."""
    from .operators.similarity import lsh_near_dup_pairs
    return lsh_near_dup_pairs(_t(spark, sf_dir, "embeddings"),
                              threshold=0.35, dim=64)


def q_sim_lsh_topk(spark, sf_dir):
    """Sign-bucket LSH approximate top-k: candidates must share a
    hyperplane sign-bucket with the query in ≥1 of 4 tables, then exact
    cosine re-rank. Integer md5 hyperplanes make the bucket sets — and
    therefore the approximate result — fully DuckDB-reproducible; recall
    vs brute force is additionally unit-tested."""
    e = _t(spark, sf_dir, "embeddings")
    return similarity.lsh_bucket_topk(e.filter(F.col("vec_id") < 5), e, k=5,
                                      dim=64)


def q_sim_multiprobe_topk(spark, sf_dir):
    """Multi-probe LSH top-5 (operators/similarity.py
    lsh_multiprobe_topk — Lv et al. VLDB'07): every query probes its own
    bucket plus each Hamming-distance-1 bucket in every table, buying
    the recall of more hash tables for (planes+1)x cheap bucket lookups
    instead of another corpus pass. Same dial as sim-lsh-topk
    (4 tables x 8 planes) so the candidate-set uplift is directly
    comparable; the oracle generates the identical probe set with an
    xor over range(planes+1)."""
    from .operators.similarity import lsh_multiprobe_topk
    e = _t(spark, sf_dir, "embeddings")
    return lsh_multiprobe_topk(e.filter(F.col("vec_id") < 5), e, k=5)


# =====================================================================
# LLM-data-pipeline: text analysis (operators/text.py)
# =====================================================================

def q_text_token_count(spark, sf_dir):
    """Whitespace token count + BPE-ish piece count, all JVM-side."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.token_count(F.col("text")).alias("n_tokens"),
        text.bpe_ish_piece_count(F.col("text")).alias("n_pieces"))


def q_text_lang_id(spark, sf_dir):
    """Heuristic language ID (CJK codepoints, stopword-marker argmax)."""
    d = _t(spark, sf_dir, "documents")
    return text.lang_id(d, "text").select("doc_id", "pred_lang")


def q_text_quality(spark, sf_dir):
    """Quality-scoring features + composite score."""
    d = _t(spark, sf_dir, "documents")
    return text.quality_features(d, "text").select(
        "doc_id", "n_tokens", "mean_token_len", "punct_ratio",
        "stopword_ratio", "quality_score")


def q_text_top_tokens(spark, sf_dir):
    """Corpus-wide token frequencies, top 20 (vocabulary building):
    explode -> count with map-side partial agg; deterministic tie-break on
    the token itself."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(F.explode(text.tokens(F.col("text"))).alias("token"))
    counts = tok.groupBy("token").agg(F.count("*").alias("n"))
    return counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(20)


def q_text_repetition(spark, sf_dir):
    """Within-doc repeated-3-gram fraction (Gopher/MassiveText repetition
    rule) — pure per-row map, no shuffle; the boilerplate/spam signal for
    the corpus filtering stage."""
    return text.repetition_features(_t(spark, sf_dir, "documents"), n=3)


def q_text_contamination(spark, sf_dir):
    """Benchmark n-gram collision decontamination: corpus docs flagged on
    any 5-gram shared with the benchmark slice (doc_id % 100 == 0); bank
    broadcast so the corpus never shuffles on gram strings."""
    return text.contamination_hits(_t(spark, sf_dir, "documents"), n=5,
                                   bench_mod=100)


def q_text_pack_sequences(spark, sf_dir):
    """Deterministic contiguous sequence packing (training-batch layout):
    docs laid end-to-end per source shard in id order, cut into
    512-token bins; each doc gets (bin_id, bin_offset). Running sums are
    per-shard windows — never a global single-partition sort."""
    return text.pack_sequences(_t(spark, sf_dir, "documents"), budget=512)


def q_text_pii_redact(spark, sf_dir):
    """PII scrubbing for training corpora: regex redaction of emails and
    phone-shaped tokens, all JVM-side regexp_replace (no UDF). The corpus
    has no organic PII, so every 5th doc gets a deterministic synthetic
    email+phone appended in-flight (same pattern as op-corrupt-capture);
    the redactor must strip exactly those."""
    d = _t(spark, sf_dir, "documents")
    pii = F.concat(F.col("text"),
                   F.lit(" contact user"), F.col("doc_id").cast("string"),
                   F.lit("@example.com or call 555-"),
                   F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"))
    raw = F.when(F.col("doc_id") % 5 == 0, pii).otherwise(F.col("text"))
    email_re = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
    phone_re = r"[0-9]{3}-[0-9]{4}"
    red = F.regexp_replace(F.regexp_replace(raw, email_re, "<EMAIL>"),
                           phone_re, "<PHONE>")
    return d.select("doc_id", red.alias("redacted"),
                    (red != raw).alias("had_pii"))


def q_text_tfidf(spark, sf_dir):
    """Per-document top-3 salient terms by log-free TF-IDF
    (tf * inverse-df: (cnt/doclen) * (N/df)) — the scoring pipeline behind
    corpus term weighting, expressed with exact-integer inputs so the
    double math is bit-identical in both engines (no ln(), whose last-ulp
    behavior is libm-dependent). The tiny per-term df table is broadcast;
    the doc-side join shuffles once on doc_id."""
    from .parallel import fan_out
    d = fan_out(_t(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(text.tokens(F.col("text"))).alias("term"))
    # tf has 4 consumers (dlen, df, n_docs, scored): persist so the corpus
    # is tokenized/exploded exactly once; dlen/df/N are then aggregates of
    # the much smaller (doc, term) relation, not re-scans of the raw text
    tf = (tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("cnt"))
             .transform(cache.tracked_persist))
    dl = tf.groupBy("doc_id").agg(F.sum("cnt").alias("dlen"))
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # N = docs with >=1 token, derived from tf via a broadcast 1-row cross
    # join — no second documents scan and no driver-side action (an empty
    # doc contributes nothing to df, so this is the consistent TF-IDF N)
    nd = tf.agg(F.countDistinct("doc_id").alias("_n"))
    score = ((F.col("cnt") / F.col("dlen"))
             * (F.col("_n") / F.col("df"))).alias("tfidf")
    from pyspark.sql.window import Window
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(),
                                             F.col("term").asc())
    # dfq (per-term df) is vocabulary-sized — small here, but a 100 TB
    # corpus's long-tail vocabulary is not broadcastable; leave the join
    # strategy to stats rather than hint it
    scored = (tf.join(dl, "doc_id").join(dfq, "term")
                .crossJoin(F.broadcast(nd))
                .select("doc_id", "term", score))
    return (scored.withColumn("rn", F.row_number().over(w).cast("long"))
                  .filter(F.col("rn") <= 3)
                  .select("doc_id", "term", "tfidf", "rn"))


def q_op_profile(spark, sf_dir):
    """Data-profiling operator (ingest QA): per-column row/null/distinct
    counts in ONE scan — all metrics are aggregates of the same pass,
    pivoted to long form with stack (Expand; no second scan, no
    per-column job like naive profilers)."""
    o = _t(spark, sf_dir, "orders")
    cols = ["o_orderstatus", "o_orderpriority", "o_custkey"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                     .cast("long").alias(f"null_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"dist_{c}"))
    g = o.agg(*aggs)
    triples = ", ".join(f"'{c}', null_{c}, dist_{c}" for c in cols)
    return (g.select(F.col("n_rows"),
                     F.expr(f"stack({len(cols)}, {triples}) "
                            "AS (col_name, n_null, n_distinct)"))
             .select("col_name", "n_rows", "n_null", "n_distinct"))


def q_op_corrupt_capture(spark, sf_dir):
    """Corrupt-record capture (§1.3 posture): a third of the props
    payloads are corrupted in-flight; from_json yields null for those
    instead of failing the job, and the query surfaces the split."""
    ev = _t(spark, sf_dir, "events")
    # corruption must be a PREFIX: Spark's from_json is lenient about
    # trailing garbage after a valid leading object
    mangled = ev.withColumn(
        "raw", F.when(F.col("event_id") % 3 == 0,
                      F.concat(F.lit("oops{"), F.col("props")))
               .otherwise(F.col("props")))
    parsed = mangled.withColumn("p", F.from_json("raw", "k INT"))
    return (parsed.groupBy((F.col("event_id") % 3 == 0).alias("was_corrupted"))
            .agg(F.count("*").alias("n"),
                 F.count("p.k").alias("n_parsed")))


def q_text_fingerprint(spark, sf_dir):
    """Deterministic document fingerprint: md5 of the normalized text."""
    d = _t(spark, sf_dir, "documents")
    return text.fingerprint(d, "text").select("doc_id", "fingerprint")


# =====================================================================
# REST sources (against the in-process mock API; fixtures are fixed
# constants, so the oracles are VALUES / range() SQL — full hash checks)
# =====================================================================

def _mock_login():
    """A client logged in to the in-process mock API."""
    from .sources.mock_api import MOCK_PASSWORD, MOCK_USER, mock_server_url
    from .sources.rest import RestClient
    return RestClient(mock_server_url(), username=MOCK_USER,
                      password=MOCK_PASSWORD, backoff_factor=0.01).login()


def q_src_login(spark, sf_dir):
    """src-login (P:36-73): explicit auth handshake (never at import time,
    §2.5.2); the token stays client-state, never a column."""
    client = _mock_login()
    return json_rows(spark, [{"login_ok": client.token is not None,
                              "token_len": len(client.token or "")}],
                     "login_ok BOOLEAN, token_len INT")


def q_src_get_json(spark, sf_dir):
    """src-get-json (P:75-103): authed GET -> typed DataFrame via explicit
    StructType contract (§1.3), flatten + na.fill like the reference's
    inventory path (P:165-178)."""
    from .plans.e2e import inventory_frame
    return inventory_frame(spark, _mock_login().get_json("/v1/inventory").body)


def q_src_paginated_post(spark, sf_dir):
    """src-paginated-post (P:266-318): the report run's alert scan (one
    probe learns the total, a driver thread pool fetches the pages in
    parallel — vs the reference's serial 1 page/s driver loop — and the
    rows enter the JVM as one literal), fetched while the frame is built,
    then an alert-shaped aggregation. The empty cloudAccountGroups rows
    (§2.5.6) are counted null-safely."""
    from .plans.e2e import alerts_scan
    alerts = alerts_scan(spark, _mock_login())
    return (alerts.groupBy("account")
            .agg(F.count("*").alias("n_alerts"),
                 F.min("accountId").alias("min_account_id"),
                 F.sum(F.when(F.size("cloudAccountGroups") == 0, 1)
                        .otherwise(0)).alias("n_missing_groups")))


def q_src_stream_alerts(spark, sf_dir):
    """Streaming twin of src-paginated-post: the Spark 4 Python STREAMING
    DataSource (SimpleDataSourceStreamReader) drains every alert available
    at trigger time with availableNow and checkpoints the count of alerts
    consumed — a restart resumes after the last ingested alert instead of
    re-reading the whole export (the reference Lambda's model). Result
    aggregated per cloud for a compact deterministic snapshot; oracle
    replays the mock's alert formula over range(237)."""
    from .sources.rest import register_alerts_source
    client = _mock_login()
    register_alerts_source(spark)
    stream = (spark.readStream.format("prisma_alerts_stream")
              .option("base_url", client.base_url).option("token", client.token)
              .option("backoff_factor", "0.01").load())
    q = (stream.writeStream.format("memory").queryName("src_stream_alerts")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    t = spark.table("src_stream_alerts")
    return (t.groupBy("cloudType")
            .agg(F.count(F.lit(1)).alias("n_alerts"),
                 F.min("accountId").alias("min_account_id"),
                 F.sum(F.when(F.size("cloudAccountGroups") == 0, 1)
                        .otherwise(0)).cast("long").alias("n_missing_groups")))


def q_src_backoff(spark, sf_dir):
    """src-backoff (P:105-136 — dead code in the reference, live here):
    the mock serves two 429s then a 200; exponential backoff retries
    through them."""
    from .sources.mock_api import mock_server_url
    from .sources.rest import RestClient
    client = RestClient(mock_server_url(), backoff_factor=0.01)
    resp = client.get_json("/flaky")
    return json_rows(
        spark, [{"attempts": resp.attempts, "ok": bool(resp.body.get("ok"))}],
        "attempts INT, ok BOOLEAN")


# =====================================================================
# Sinks (round-trip queries: write -> read back -> compare to source)
# =====================================================================

_TMPOUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       ".tmpout")


def _fresh_dir(name: str) -> str:
    # pid-suffixed: two gate processes running concurrently (selfcheck +
    # drivercheck) must not rmtree each other's in-flight sink targets —
    # observed as a spurious single-key failure when both gates ran at
    # once; the real driver runs gates serially, but cheap isolation
    # beats a flaky artifact
    import glob as _glob
    for old in _glob.glob(os.path.join(_TMPOUT, f"{name}-*")):
        try:  # prune ONLY dead owners' leftovers — a live concurrent
            # process keeps its dir (that liveness check IS the race fix)
            os.kill(int(old.rsplit("-", 1)[1]), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(old, ignore_errors=True)
        except PermissionError:
            pass  # live but other-user: leave it
    d = os.path.join(_TMPOUT, f"{name}-{os.getpid()}")
    if os.path.exists(d):
        shutil.rmtree(d)
    os.makedirs(d, exist_ok=True)
    return d


def q_sink_csv(spark, sf_dir):
    """sink-csv (P:374-383): header CSV write + schema-stable read-back.
    String/int columns only — CSV doubles round-trip through text."""
    from .sinks import write_csv_report
    out = os.path.join(_fresh_dir("sink-csv"), "report")
    report = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.upper("c_name").alias("name"), F.col("c_mktsegment").alias("segment"))
    write_csv_report(report, out)
    return spark.read.option("header", True).schema(
        "c_custkey LONG, name STRING, segment STRING").csv(out)


def q_sink_partition(spark, sf_dir):
    """sink-partition (P:26-30): numeric year=/month= Hive layout so date
    predicates prune partitions; values round-trip through parquet."""
    from .sinks import write_partitioned
    out = os.path.join(_fresh_dir("sink-partition"), "orders")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice", "o_orderdate")
    write_partitioned(o, out, ts_col="o_orderdate")
    back = spark.read.parquet(out)
    return back.select("o_orderkey", "o_totalprice",
                       F.col("year").cast("long").alias("o_year"),
                       F.col("month").cast("long").alias("o_month"))


def q_stream_sink_parquet(spark, sf_dir):
    """Streaming ingest -> date-partitioned parquet with exactly-once
    checkpoint semantics (streaming twin of sink-partition). Runs the
    availableNow drain TWICE against one checkpoint — the second run must
    ingest 0 rows — then round-trips the table; the oracle checks the
    published rows, so a duplicate-on-replay would fail the row count."""
    from .streaming.windows import stream_to_partitioned_parquet
    base = _fresh_dir("stream-sink-parquet")
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    stream_to_partitioned_parquet(spark, sf_dir, out, ckpt,
                                  query_name="cat_stream_sink1")
    replay = stream_to_partitioned_parquet(spark, sf_dir, out, ckpt,
                                           query_name="cat_stream_sink2")
    back = spark.read.parquet(out)
    return back.select("event_id", "user_id", "event_type", "value", "day",
                       F.lit(replay).cast("long").alias("replay_rows"))


def q_op_incremental_agg(spark, sf_dir):
    """Incremental aggregate maintenance via DYNAMIC partition overwrite
    (the batch analog of a continuously-maintained rollup): a daily
    (day, event_type) aggregate table is built from history, then a
    restatement arrives for the tail days and ONLY those partitions are
    recomputed and swapped — partitionOverwriteMode=dynamic replaces
    exactly the partitions present in the incoming write, untouched days
    keep their original files.

    100 TB shape: the nightly delta touches O(delta days), not O(table):
    recompute affected days from source, overwrite those partitions.
    The oracle is the full recompute — incremental maintenance must be
    indistinguishable from it, which is precisely what the hash check
    asserts."""
    out = os.path.join(_fresh_dir("op-incremental-agg"), "daily")
    ev = _t(spark, sf_dir, "events")
    day = F.date_format(F.col("ts"), "yyyy-MM-dd")
    daily = (ev.withColumn("day", day)
               .groupBy("day", "event_type")
               .agg(F.count(F.lit(1)).alias("n_events"),
                    F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                     .alias("sum_value")))
    cut = "2024-01-24"
    # initial build: history only (tail days deliberately stale/absent)
    daily.filter(F.col("day") < cut).write.mode("overwrite") \
         .partitionBy("day").parquet(out)
    # restatement: recompute ONLY the affected tail days, swap their
    # partitions in place; scan prunes to the tail before aggregating
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        daily.filter(F.col("day") >= cut).write.mode("overwrite") \
             .partitionBy("day").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
    back = spark.read.parquet(out)
    return back.select(F.col("day").cast("string"), "event_type",
                       "n_events", "sum_value")


def q_op_schema_evolution(spark, sf_dir):
    """Schema evolution on a long-lived table: batch 1 is written with
    the original schema, batch 2 adds a column; ``mergeSchema`` unions
    the schemas at read time and null-fills the missing column for old
    files — the capability a 100 TB table needs to add fields without a
    petabyte rewrite. (The reference's inferred-schema pandas frames
    drift silently under the same event, SURVEY §1.3 — here the widened
    schema is explicit and the nulls are visible.)"""
    out = os.path.join(_fresh_dir("op-schema-evolution"), "t")
    ev = _t(spark, sf_dir, "events")
    v1 = ev.filter(F.col("event_id") % 2 == 0).select("event_id", "event_type")
    v2 = (ev.filter(F.col("event_id") % 2 == 1)
            .select("event_id", "event_type",
                    F.col("value").alias("value_v2")))
    v1.write.parquet(os.path.join(out, "b=1"))
    v2.write.parquet(os.path.join(out, "b=2"))
    back = (spark.read.option("mergeSchema", "true")
            .option("basePath", out).parquet(out))
    return back.select("event_id", "event_type", "value_v2")


def q_op_compact_files(spark, sf_dir):
    """Small-file compaction (sinks.py compact_parquet): a fragmented
    32-file table is rewritten to <=4 files with an atomic swap; the
    oracle checks the table contents are byte-identical through the
    rewrite and the file count actually dropped."""
    from .sinks import compact_parquet
    out = os.path.join(_fresh_dir("op-compact-files"), "t")
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id",
                                            "event_type", "value")
    ev.repartition(32).write.parquet(out)
    n_after = compact_parquet(spark, out, target_files=4)
    back = spark.read.parquet(out)
    return back.select("event_id", "user_id", "event_type", "value",
                       F.lit(n_after).cast("long").alias("files_after"))


def q_stream_static_join(spark, sf_dir):
    """Stream-static enrichment join (streaming/windows.py
    enriched_segment_counts): events stream ⋈ static customer dim ->
    daily exact-decimal totals per market segment. The static side is
    stateless (re-planned per micro-batch); only the windowed agg holds
    watermark-bounded state. availableNow drain == the batch join the
    oracle runs."""
    from .streaming.windows import enriched_segment_counts
    return enriched_segment_counts(spark, sf_dir,
                                   query_name="cat_stream_static")


def q_stream_upsert(spark, sf_dir):
    """foreachBatch keyed upsert (streaming/windows.py
    upsert_latest_state): latest event per user merged into a parquet
    state table, last-writer-wins on (ts, event_id), published by atomic
    swap. Runs the drain TWICE against one checkpoint — the replay must
    be a no-op — then returns the keyed table; the oracle computes the
    same latest-row-per-user in SQL."""
    from .streaming.windows import upsert_latest_state
    base = _fresh_dir("stream-upsert")
    tgt, ckpt = os.path.join(base, "state"), os.path.join(base, "ckpt")
    upsert_latest_state(spark, sf_dir, tgt, ckpt, query_name="cat_upsert1")
    final = upsert_latest_state(spark, sf_dir, tgt, ckpt,
                                query_name="cat_upsert2")
    return final.select("user_id", F.unix_micros(F.col("ts")).alias("last_ts_us"),
                        F.col("event_id").alias("last_event_id"),
                        F.col("event_type").alias("last_event_type"),
                        F.col("value").alias("last_value"))


def q_sink_rollback(spark, sf_dir):
    """sink-rollback (P:444-451, §2.5.3): staged-commit transaction.
    Run 1 fails mid-run -> staging cleaned, nothing published, no manifest.
    Run 2 succeeds -> outputs + manifest visible, rows preserved."""
    from .sinks import StagedRun
    base = _fresh_dir("sink-rollback")
    part = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P") \
                                      .select("o_orderkey", "o_totalprice")
    try:
        with StagedRun(base, "run-fail") as run:
            run.stage(part, "orders_p")
            raise RuntimeError("injected failure after first stage")
    except RuntimeError:
        pass
    clean_after_fail = (not os.path.exists(os.path.join(base, "_staging", "run-fail"))
                        and not os.path.exists(os.path.join(base, "orders_p"))
                        and not os.path.exists(os.path.join(base, "_manifests", "run-fail.json")))
    with StagedRun(base, "run-ok") as run:
        run.stage(part, "orders_p")
    published_ok = (os.path.exists(os.path.join(base, "orders_p"))
                    and os.path.exists(os.path.join(base, "_manifests", "run-ok.json")))
    published_rows = spark.read.parquet(os.path.join(base, "orders_p")).count()
    return json_rows(
        spark, [{"rollback_clean": clean_after_fail, "published_ok": published_ok,
                 "published_rows": published_rows}],
        "rollback_clean BOOLEAN, published_ok BOOLEAN, published_rows LONG")


# =====================================================================
# End-to-end plans (EP3 alert report; EP1 lives in plans/inventory.py)
# =====================================================================

def q_plan_alert_report(spark, sf_dir):
    """EP3 alert report (P:210-369) over events — the flagship plan."""
    return alert_report_events(spark, sf_dir)


def q_plan_e2e_alert(spark, sf_dir):
    """EP3 through the REAL ingestion path: the report run's alert scan
    (pages planned and fetched on the driver, no Python worker) ->
    broadcast join to the policy frame -> the alert-report stages
    (P:210-369). The mock's alert formula makes the whole pipeline
    range()-reproducible for the oracle."""
    from .plans.e2e import alert_report_frame
    return alert_report_frame(spark, _mock_login())


def q_plan_inventory_report(spark, sf_dir):
    """EP1 inventory + resource-type run (P:386-441): the serial
    per-service fan-out collapsed into one finer-grained aggregation."""
    from .plans.inventory import inventory_run
    return inventory_run(spark, sf_dir)


# =====================================================================
# Streaming (Structured Streaming drained with availableNow)
# =====================================================================

def q_stream_window_agg(spark, sf_dir):
    """Tumbling event-time window + watermark over a file stream of
    events; exact-decimal sums so the batch oracle hash-matches."""
    from .streaming.windows import windowed_event_counts
    return windowed_event_counts(spark, sf_dir, query_name="cat_stream_tumbling")


def q_stream_trending_topk(spark, sf_dir):
    """Per-window trending top-3 event types (streaming/windows.py
    streaming_trending_topk): the stateful windowed counts stream under
    a watermark; the rank is a tiny batch window over the DRAINED count
    table (streaming cannot rank inside an aggregation) — the same
    drain-then-finalize split as stream-funnel. Deterministic
    (count desc, type) order replays exactly in the batch oracle."""
    from .streaming.windows import streaming_trending_topk
    return streaming_trending_topk(spark, sf_dir,
                                   query_name="cat_stream_trending")


def q_stream_sliding_window(spark, sf_dir):
    """Sliding-window variant (1h window / 30m slide): each event lands in
    two buckets; oracle replays via two shifted time_buckets."""
    from .streaming.windows import sliding_event_counts
    return sliding_event_counts(spark, sf_dir, query_name="cat_stream_sliding")


def q_stream_session_window(spark, sf_dir):
    """Session-window streaming aggregation (streaming/windows.py
    session_event_counts): dynamic data-defined windows per user with a
    30-minute gap, drained availableNow. The oracle replays the same
    semantics as batch gap-and-islands SQL — a new session starts when the
    inter-event gap reaches the 30-minute threshold (Spark's per-event
    window is [ts, ts+gap), so an event exactly at session end opens a new
    one)."""
    from .streaming.windows import session_event_counts
    return session_event_counts(spark, sf_dir, query_name="cat_stream_session")


def q_stream_stream_join(spark, sf_dir):
    """Stream-stream event-time range join (streaming/windows.py
    clicks_joined_to_purchases): clicks matched to same-user purchases
    within 30 minutes, watermarks on both sides bounding join state.
    availableNow drain == the batch interval join the oracle runs."""
    from .streaming.windows import clicks_joined_to_purchases
    return clicks_joined_to_purchases(spark, sf_dir,
                                      query_name="cat_stream_join")


def q_stream_dedup(spark, sf_dir):
    """Streaming dedup with watermark-bounded state (streaming/windows.py
    deduped_daily_actions): first (user, event_type, day) wins; the day
    bucket is the event-time key so old days age out of the state store.
    Single-drain output == batch DISTINCT."""
    from .streaming.windows import deduped_daily_actions
    return deduped_daily_actions(spark, sf_dir, query_name="cat_stream_dedup")


# =====================================================================
# Multimodal (binary payload + mapInPandas decode plumbing)
# =====================================================================

def q_multimodal_decode(spark, sf_dir):
    """Binary payload + Arrow-batched mapInPandas feature extraction
    (decode stub is a deterministic fake; plumbing is real)."""
    from .multimodal import fake_decode_features, with_binary_payload
    d = _t(spark, sf_dir, "documents")
    return fake_decode_features(with_binary_payload(d))


def q_multimodal_frame_sample(spark, sf_dir):
    """Frame-sampling shape: mapInPandas emitting N rows per input payload
    (cardinality-changing decode-and-explode stage)."""
    from .multimodal import fake_frame_sample, with_binary_payload
    d = _t(spark, sf_dir, "documents")
    return fake_frame_sample(with_binary_payload(d))


def q_op_map_functions(spark, sf_dir):
    """Map-type scalar functions (§2.4 gap category): JSON -> map<string,
    long> via from_json, entry explode, per-key aggregation. Everything
    JVM-side; the oracle walks the same entries with json_keys/
    json_extract."""
    ev = _t(spark, sf_dir, "events")
    m = ev.select(F.explode(
        F.from_json(F.col("props"), "map<string,bigint>")).alias("mkey", "mval"))
    return (m.groupBy("mkey")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum("mval").alias("sum_val"),
                  F.min("mval").alias("min_val"),
                  F.max("mval").alias("max_val")))


def q_op_udtf_chunk(spark, sf_dir):
    """Python UDTF surface (operators/udx.py chunk_documents): document ->
    context-window chunk rows via a registered table function + LATERAL.
    The built-in slice+posexplode formulation is the 100 TB path; this
    exercises the UDTF registration machinery with identical output."""
    from .operators.udx import chunk_documents
    return chunk_documents(_t(spark, sf_dir, "documents"), chunk_size=50)


def q_op_pandas_udaf(spark, sf_dir):
    """Pandas GROUPED_AGG UDAF surface (operators/udx.py micro_sum_udaf):
    Arrow-batched per-group aggregation with an exact integer-micro-unit
    accumulator, so the Python path reproduces the decimal oracle."""
    from .operators.udx import micro_sum_udaf
    return micro_sum_udaf(_t(spark, sf_dir, "events"))


def q_plan_corpus_clean(spark, sf_dir):
    """Flagship LLM training-data cleaning pipeline (plans/corpus.py):
    quality filter -> exact dedup -> near-dup clusters -> keep-list, all
    composed from this repo's operators; the oracle replays every stage
    including recursive-CTE cluster reachability."""
    from .plans.corpus import corpus_clean
    return corpus_clean(spark, sf_dir)


def q_plan_corpus_clean_v2(spark, sf_dir):
    """Modern pre-training filter chain end-to-end: quality -> repetition
    -> benchmark decontamination -> exact dedup -> near-dup keep-list
    (plans/corpus.py corpus_clean_v2). Row-local filters and the
    broadcast contamination bank prune BEFORE the shingle join; one
    recursive-CTE oracle replays the whole composition."""
    from .plans.corpus import corpus_clean_v2
    return corpus_clean_v2(spark, sf_dir)


def q_plan_corpus_train(spark, sf_dir):
    """The complete training-data pipeline end-to-end: corpus_clean_v2
    (quality -> repetition -> decontamination -> exact dedup -> near-dup
    keep-list) -> temperature sampling (alpha=0.5 source rebalancing,
    md5 keep-threshold) -> 512-token sequence packing. One oracle replays
    all five stages; output is the (doc_id, source, n_tokens, bin_id,
    bin_offset) layout a trainer's loader consumes."""
    from .plans.corpus import corpus_to_training
    return corpus_to_training(spark, sf_dir, budget=512, sample_budget=150.0)


# =====================================================================
# round-2 additions: range join, hypertable rollup, cube, IVF ANN, TPC-H Q6
# =====================================================================

def q_op_range_join(spark, sf_dir):
    """Point-in-interval range join (operators/relational.py range_join):
    clicks falling inside 5-minute incident windows opened by each error
    event. Bin-blocked equi-join — NOT a BroadcastNestedLoopJoin: both
    sides hash-shuffle on the bin key, so the plan survives 100 TB of
    events. Compared at epoch-µs so the DuckDB oracle agrees exactly."""
    from .operators.relational import range_join
    ev = _t(spark, sf_dir, "events")
    base = ev.select(F.unix_micros(F.col("ts")).alias("us"), "event_type", "event_id")
    wins = (base.filter(F.col("event_type") == "error")
                .select(F.col("event_id").alias("win_id"),
                        F.col("us").alias("w_start"),
                        (F.col("us") + F.lit(300_000_000)).alias("w_end")))
    clicks = base.filter(F.col("event_type") == "click").select("us")
    j = range_join(clicks, wins, "us", "w_start", "w_end",
                   bin_width=300_000_000)
    return j.groupBy("win_id").agg(F.count(F.lit(1)).alias("clicks"))


def q_op_time_rollup(spark, sf_dir):
    """Hypertable-style cascaded rollup (operators/relational.py
    time_rollup): minute buckets from the raw events scan, hour from
    minute, day from hour — one full-scan shuffle total, exact decimal
    sums through every level. The single oracle verifies all three grains
    at once (decimal addition is associative, so cascaded == direct)."""
    from .operators.relational import time_rollup
    ev = _t(spark, sf_dir, "events")
    base = ev.select(F.unix_seconds(F.col("ts")).alias("sec"), "value")
    return time_rollup(base, "sec", "value")


def q_op_cube(spark, sf_dir):
    """CUBE over (status, priority) — all four grouping sets in one
    shuffle (SURVEY §2.4 gap category; completes rollup with the full
    lattice). Exact-decimal sums; null grouping keys coalesced identically
    on both engines."""
    o = _t(spark, sf_dir, "orders")
    return (o.cube("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 _dec_sum("o_totalprice").alias("sum_total"))
            .select(F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
                    F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
                    "n_orders", "sum_total"))


def q_op_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS — the general lattice primitive under
    rollup/cube: exactly the requested sets ((status), (priority), ()),
    one shuffle via Expand. Spark DF API exposes only rollup/cube, so the
    declarative SQL form is the idiomatic path."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_gs_orders")
    return spark.sql("""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               count(1) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


def q_op_window_rank(spark, sf_dir):
    """Ranking/offset window battery per customer: rank, dense_rank,
    ntile, lag, lead, first_value in ONE window spec — a single sort
    per partition serves all six (ties impossible: o_orderkey is unique,
    so every function is deterministic). Ints cast to long for DuckDB
    BIGINT parity."""
    from pyspark.sql.window import Window
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    return o.select(
        "o_orderkey", "o_custkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
        F.first("o_totalprice").over(w).alias("first_price"))


def q_op_semi_anti_join(spark, sf_dir):
    """Left-semi + left-anti joins (EXISTS / NOT EXISTS): partition
    customers by whether they have an urgent order. Semi/anti keep only
    the left side's columns — no row multiplication. The orders side is a
    key-only projection but still fact-sized, so the build strategy is
    left to stats/AQE (broadcast at small sf, shuffle at 100 TB)."""
    c = _t(spark, sf_dir, "customer")
    o = (_t(spark, sf_dir, "orders")
         .filter(F.col("o_orderpriority") == "1-URGENT")
         .select("o_custkey"))
    semi = (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
             .select("c_custkey", "c_name", F.lit("semi").alias("side")))
    anti = (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
             .select("c_custkey", "c_name", F.lit("anti").alias("side")))
    return semi.unionByName(anti)


def q_op_unpivot(spark, sf_dir):
    """Wide-to-long unpivot (melt) of per-flag aggregate columns — Spark's
    native ``unpivot`` lowers to Expand (no shuffle, no UDF), the inverse
    of op-pivot."""
    li = _t(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        _dec_sum("l_quantity").alias("sum_qty"),
        _dec_sum("l_extendedprice").alias("sum_price"))
    return g.unpivot("l_returnflag", ["sum_qty", "sum_price"],
                     "metric", "value")


def q_op_math_functions(spark, sf_dir):
    """Math + bit scalar-function battery over lineitem, restricted to
    operations that are bit-exact IEEE/integer in BOTH engines (+ - * /
    sqrt abs floor ceil sign greatest least pmod, bitwise and/or/xor,
    shifts, hex conv). exp/ln/trig are deliberately excluded: their
    last-ulp behavior is libm- vs StrictMath-dependent, and an oracle
    that 'usually matches' is worse than none."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 1000)
    x, q = F.col("l_extendedprice"), F.col("l_quantity")
    k = F.col("l_orderkey")
    return li.select(
        "l_orderkey", "l_linenumber",
        (x + q).alias("add_v"), (x - q).alias("sub_v"),
        (x * q).alias("mul_v"), (x / q).alias("div_v"),
        F.sqrt(x).alias("sqrt_v"), F.abs(-x).alias("abs_v"),
        F.floor(x).cast("long").alias("floor_v"),
        F.ceil(x).cast("long").alias("ceil_v"),
        F.signum(x - F.lit(30000.0)).alias("sign_v"),
        F.greatest(x, q * 1000).alias("greatest_v"),
        F.least(x, q * 1000).alias("least_v"),
        F.pmod(k, F.lit(97)).cast("long").alias("pmod_v"),
        k.bitwiseAND(F.lit(255)).cast("long").alias("band_v"),
        k.bitwiseOR(F.lit(4096)).cast("long").alias("bor_v"),
        k.bitwiseXOR(F.col("l_linenumber")).cast("long").alias("bxor_v"),
        F.shiftleft(k, 3).cast("long").alias("shl_v"),
        F.shiftright(k, 2).cast("long").alias("shr_v"),
        F.lower(F.hex(k)).alias("hex_v"))


def q_op_date_functions(spark, sf_dir):
    """Date/time scalar battery over orders: trunc, add/sub, diff,
    last_day, extract fields, epoch days — all exact integer/date
    semantics in both engines (formatted as strings/longs per the
    timestamp-parity rule)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_format(d, "yyyy-MM-dd").alias("d"),
        F.date_format(F.trunc(d, "month"), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("plus30"),
        F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("plus3mo"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.datediff(F.lit("1998-12-31").cast("date"), d).cast("long").alias("days_to_eoy"),
        F.year(d).cast("long").alias("yy"),
        F.quarter(d).cast("long").alias("qq"),
        F.month(d).cast("long").alias("mm"),
        F.dayofmonth(d).cast("long").alias("dd"),
        F.dayofweek(d).cast("long").alias("dow"),
        F.weekofyear(d).cast("long").alias("iso_week"),
        F.unix_date(d).cast("long").alias("epoch_days"))


def q_sql_subqueries(spark, sf_dir):
    """The pure-SQL surface end to end: temp views + spark.sql with a
    scalar subquery, an IN-subquery, a correlated EXISTS, and a window —
    the subquery classes Catalyst rewrites into joins (scalar agg ->
    broadcast, IN -> left-semi, EXISTS -> correlated semi). Everything
    else in this catalog exercises the DataFrame API; this key proves a
    SQL-first user gets the same engine."""
    for t in ("customer", "orders", "nation"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"v_{t}")
    return spark.sql("""
        SELECT c.c_custkey, c.c_acctbal,
               CAST(rank() OVER (ORDER BY c.c_acctbal DESC, c.c_custkey)
                    AS BIGINT) AS bal_rank
        FROM v_customer c
        WHERE c.c_acctbal > (SELECT avg(CAST(c_acctbal AS DECIMAL(18,2)))
                             FROM v_customer)
          AND c.c_nationkey IN (SELECT n_nationkey FROM v_nation
                                WHERE n_regionkey <= 2)
          AND EXISTS (SELECT 1 FROM v_orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 100000)
    """)


def q_op_max_concurrency(spark, sf_dir):
    """Sweep-line interval-overlap aggregation: each event occupies
    [ts, ts + value seconds); per event_type, the maximum number of
    concurrently-open intervals and when that peak starts. The classic
    occupancy/concurrency query (sessions online, rooms booked, GPU
    leases held) as +1/-1 endpoint deltas -> per-key ordered running sum
    -> argmax. One explode + one window shuffle on the group key — no
    self-join, no interval cross product, linear at any scale.

    Tie discipline: endpoints sort by (time, delta, event_id) with ends
    (-1) before starts (+1) at the same instant, so back-to-back
    intervals never double-count; the deterministic order also makes the
    peak-start timestamp unique for the oracle hash."""
    from pyspark.sql.window import Window
    ev = _t(spark, sf_dir, "events")
    # unix_seconds gives exact integer seconds (no float math anywhere on
    # the time axis). Durations use an explicit floor: Spark's
    # double->long cast truncates, DuckDB's rounds — floor() agrees
    # everywhere.
    dur = F.greatest(F.floor("value").cast("long"), F.lit(1))
    base = ev.select(
        "event_type", "event_id",
        F.unix_seconds(F.col("ts")).alias("_s"),
        (F.unix_seconds(F.col("ts")) + dur).alias("_e"))
    pts = base.select(
        "event_type", "event_id",
        F.explode(F.array(
            F.struct(F.col("_s").alias("t"), F.lit(1).alias("d")),
            F.struct(F.col("_e").alias("t"), F.lit(-1).alias("d")))).alias("p"))
    w = (Window.partitionBy("event_type")
         .orderBy(F.col("p.t"), F.col("p.d"), F.col("event_id"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    run = pts.select("event_type", F.col("p.t").alias("t"),
                     F.sum("p.d").over(w).alias("open"))
    wk = Window.partitionBy("event_type")
    run = run.withColumn("_mx", F.max("open").over(wk))
    return (run.groupBy("event_type")
            .agg(F.max("open").alias("peak_concurrency"),
                 F.min(F.when(F.col("open") == F.col("_mx"), F.col("t")))
                  .alias("peak_start_sec")))


def q_op_null_functions(spark, sf_dir):
    """Null-handling scalar battery over customer: coalesce chains,
    nullif, null-safe equality, nvl2-style branching, null-aware
    aggregates (count ignores nulls, count(*) doesn't)."""
    c = _t(spark, sf_dir, "customer")
    nk = F.nullif(F.col("c_nationkey"), F.lit(0))
    seg = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    return c.select(
        "c_custkey",
        F.coalesce(seg, F.lit("(redacted)")).alias("seg_or_default"),
        seg.isNull().alias("was_building"),
        F.when(nk.isNotNull(), F.lit("nonzero-nation"))
         .otherwise(F.lit("nation-zero")).alias("nvl2_nation"),
        (F.col("c_mktsegment").eqNullSafe(seg)).alias("nullsafe_eq"),
        F.coalesce(F.nullif(F.col("c_acctbal"), F.lit(0.0)),
                   F.lit(-1.0)).alias("bal_or_sentinel"))


def q_text_temperature_sample(spark, sf_dir):
    """Mixture reweighting by temperature sampling (the training-data
    source-balancing op): per-source keep rates proportional to
    sqrt(n_source) (alpha=0.5 temperature flattens the source
    distribution), applied via the deterministic md5 keep-threshold —
    no RNG, exactly reproducible, and every arithmetic step (sqrt,
    divide, floor) is bit-exact cross-engine. Returns kept docs with
    their source rate."""
    d = _t(spark, sf_dir, "documents")
    return (text.temperature_sample(d, budget=200.0)
            .select("doc_id", "source", "keep_rate"))


def q_op_string_functions(spark, sf_dir):
    """Scalar string-function battery (substr/concat_ws/lpad/translate/
    instr/levenshtein/regexp_extract/reverse) — all JVM codegen
    expressions in one projection; no UDFs."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.substring("p_name", 1, 8).alias("name8"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("key_pad"),
        F.translate("p_type", "AEIOU", "").alias("type_novowel"),
        F.instr("p_type", "BRASS").cast("long").alias("brass_pos"),
        F.levenshtein("p_brand", F.lit("Brand#13")).cast("long").alias("lev_brand"),
        F.regexp_extract("p_name", r"^([a-z]+)", 1).alias("first_word"),
        F.reverse(F.col("p_brand")).alias("brand_rev"))


def q_op_array_functions(spark, sf_dir):
    """Array-function battery over a per-row generated sequence: size,
    higher-order aggregate (fold), membership, tail element, join-to-
    string — all codegen'd array expressions, scalar outputs only (array
    outputs would hash engine-differently)."""
    li = _t(spark, sf_dir, "lineitem")
    arr = F.sequence(F.lit(1), (F.col("l_linenumber") % 5) + 2)
    return li.select(
        "l_orderkey", "l_linenumber",
        F.size(arr).cast("long").alias("arr_len"),
        F.aggregate(arr, F.lit(0), lambda a, x: a + x).cast("long").alias("arr_sum"),
        F.array_contains(arr, 3).alias("has_three"),
        F.element_at(F.reverse(arr), 1).cast("long").alias("last_elem"),
        F.array_join(F.transform(arr, lambda x: x.cast("string")), "-").alias("arr_str"))


def q_op_sample_hash(spark, sf_dir):
    """Deterministic hash sampling: keep rows whose md5-derived bucket is
    0 mod 20 (a reproducible ~5% sample — unlike ``df.sample``, stable
    across partitioning, retries, and engines; the cross-engine md5
    primitive from the minhash oracle twins)."""
    o = _t(spark, sf_dir, "orders")
    h = (F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15),
                16, 10).cast("long"))
    return (o.filter(h % 20 == 0)
             .select("o_orderkey", "o_custkey", "o_totalprice"))


def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5-shaped local-supplier-volume query: the 6-table join
    (region→nation→{customer,supplier} + orders→lineitem) with revenue
    per nation. Only the provably-constant dims (region=5, nation=25 rows
    at EVERY scale factor) carry broadcast hints; supplier grows with SF,
    so its join strategy is stats-driven (broadcast at small sf, shuffle
    at 100 TB). The two fact joins (orders⋈customer, lineitem⋈orders)
    shuffle on their keys and AQE handles skew; c_nationkey ==
    s_nationkey closes the cycle inside the supplier join, not via an
    extra shuffle."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = (_t(spark, sf_dir, "nation")
         .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
         .select("n_nationkey", "n_name"))
    c = (_t(spark, sf_dir, "customer")
         .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
         .select("c_custkey", "c_nationkey"))
    o = (_t(spark, sf_dir, "orders")
         .filter((F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                 & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
         .select("o_orderkey", "o_custkey"))
    co = (o.join(c, F.col("o_custkey") == F.col("c_custkey"))
           .select("o_orderkey", "c_nationkey"))
    s = (_t(spark, sf_dir, "supplier")
         .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
         .select("s_suppkey", "s_nationkey", "n_name"))
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    j = (li.join(co, li.l_orderkey == F.col("o_orderkey"))
           .join(s, (li.l_suppkey == F.col("s_suppkey"))
                 & (F.col("c_nationkey") == F.col("s_nationkey"))))
    return (j.groupBy("n_name")
             .agg(F.sum(rev).cast("double").alias("revenue"))
             .orderBy(F.col("revenue").desc()))


def q_tpch_q6(spark, sf_dir):
    """TPC-H Q6-shaped forecasting-revenue query: the canonical
    full-pushdown plan — every predicate reaches the parquet scan
    (PushedFilters on shipdate/discount/quantity), then a single partial+
    final agg with exact decimal money math. No shuffle beyond the 1-row
    final agg."""
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * F.col("l_discount").cast("decimal(18,2)"))
    return (li.filter((F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
                      & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
                      & (F.col("l_discount").between(0.05, 0.07))
                      & (F.col("l_quantity") < 24))
              .agg(F.sum(rev).cast("double").alias("revenue"),
                   F.count(F.lit(1)).alias("n_items")))


# =====================================================================
# round-4 TPC-H widening: the remaining query shapes expressible on the
# driver's schema (no partsupp table, so Q2/Q11/Q16/Q20 are out of
# reach; Q12/Q19/Q21 need l_shipmode/l_commitdate, absent here).
# =====================================================================


def q_tpch_q4(spark, sf_dir):
    """TPC-H Q4-shaped order-priority check: EXISTS correlated subquery
    compiled to a LEFT SEMI join with a non-equi conjunct (l_shipdate >
    o_orderdate). Catalyst keeps the equi key (orderkey) as the shuffle
    key and evaluates the date conjunct as a join residual, so the plan
    scales like a plain fact-fact join; the date window prunes orders at
    the scan (PushedFilters)."""
    o = (_t(spark, sf_dir, "orders")
         .filter((F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
                 & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))))
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    sj = o.join(li, (o.o_orderkey == li.l_orderkey)
                & (li.l_shipdate > o.o_orderdate), "left_semi")
    return (sj.groupBy("o_orderpriority")
              .agg(F.count("*").alias("order_count"))
              .orderBy("o_orderpriority"))


def q_tpch_q7(spark, sf_dir):
    """TPC-H Q7-shaped two-nation shipping volume: supplier nation x
    customer nation x ship year. The nation dim is constant-cardinality
    (25 rows at every sf) so BOTH nation joins broadcast by hint; the
    supplier/customer/orders joins are stats-driven. The symmetric
    two-nation predicate is applied after both nation names are attached
    — one residual filter, no union of two plans."""
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = (_t(spark, sf_dir, "supplier")
         .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
         .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    c = (_t(spark, sf_dir, "customer")
         .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
         .select("c_custkey", F.col("n_name").alias("cust_nation")))
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (_t(spark, sf_dir, "lineitem")
          .filter(F.col("l_shipdate").between(F.lit("1996-01-01").cast("timestamp"),
                                              F.lit("1997-12-31").cast("timestamp"))))
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    j = (li.join(o, li.l_orderkey == o.o_orderkey)
           .join(c, o.o_custkey == c.c_custkey)
           .join(s, li.l_suppkey == s.s_suppkey)
           .filter(((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
                   | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))))
    return (j.groupBy("supp_nation", "cust_nation",
                      F.year("l_shipdate").cast("long").alias("l_year"))
             .agg(F.sum(vol).cast("double").alias("revenue"))
             .orderBy("supp_nation", "cust_nation", "l_year"))


def q_tpch_q10(spark, sf_dir):
    """TPC-H Q10-shaped returned-item report: top 20 customers by revenue
    lost to returns in a quarter. Returnflag + date predicates reach both
    fact scans; nation broadcasts by hint; customer join is stats-driven.
    Deterministic top-20 via (revenue DESC, c_custkey ASC) tiebreak —
    TopK (orderBy+limit) never global-sorts, it merges per-partition
    heaps."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = (_t(spark, sf_dir, "orders")
         .filter((F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
                 & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    j = (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
           .join(c, F.col("o_custkey") == F.col("c_custkey"))
           .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")))
    g = (j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
          .agg(F.sum(rev).cast("double").alias("revenue")))
    return (g.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
             .limit(20)
             .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name"))


def q_tpch_q14(spark, sf_dir):
    """TPC-H Q14-shaped promo-revenue share: conditional aggregation over
    a fact x dim join (p_type is an exact category here, not a LIKE
    prefix — the synthetic part table has 6 flat types). One month of
    lineitem reaches the scan as a pushed filter; the single output row
    is one double division of two exact decimal sums."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
                  & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))))
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    j = li.join(p, F.col("l_partkey") == F.col("p_partkey"))
    agg = j.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0).cast("decimal(18,6)")))
         .cast("double").alias("_promo"),
        F.sum(vol).cast("double").alias("_total"))
    return agg.select(
        F.round(F.lit(100.0) * F.col("_promo") / F.col("_total"), 6).alias("promo_revenue_pct"))


def q_tpch_q15(spark, sf_dir):
    """TPC-H Q15-shaped top supplier: revenue per supplier over a
    quarter, then the supplier(s) hitting the global max. The scalar
    max-subquery becomes a 1-row broadcast cross-join against the
    per-supplier aggregate. The aggregate feeds BOTH the max and the
    equality probe, so it is persisted (a supplier-cardinality frame —
    tiny relative to the fact scan it saves) rather than recomputed;
    without the barrier the lineitem scan+agg runs twice. Exact decimal
    revenue makes the double equality engine-stable."""
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
                  & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    r = cache.tracked_persist(
        li.groupBy("l_suppkey")
          .agg(F.sum(rev).cast("double").alias("total_revenue")))
    mx = r.agg(F.max("total_revenue").alias("_mx"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (r.join(F.broadcast(mx), r.total_revenue == mx._mx)
             .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
             .select("s_suppkey", "s_name", "total_revenue")
             .orderBy("s_suppkey"))


def q_tpch_q17(spark, sf_dir):
    """TPC-H Q17-shaped small-quantity revenue: the correlated scalar
    subquery (0.2 x per-part avg quantity) decorrelates into a per-part
    aggregate joined back to the filtered fact — the textbook rewrite
    Catalyst applies to correlated scalars. The threshold avg is an
    exact-decimal sum / count double, so the boundary comparison is
    bit-identical in both engines."""
    p = (_t(spark, sf_dir, "part")
         .filter((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 5))
         .select("p_partkey"))
    li = _t(spark, sf_dir, "lineitem")
    # per-part avg over ALL lineitem rows of that part (not just the
    # brand-filtered ones) — matches the subquery's scope
    avg_q = (li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
               .groupBy("l_partkey")
               .agg((_dec_sum("l_quantity") / F.count(F.lit(1))).alias("_avg_q")))
    flt = (li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
             .join(avg_q.withColumnRenamed("l_partkey", "_pk"),
                   F.col("l_partkey") == F.col("_pk"))
             .filter(F.col("l_quantity") < 0.2 * F.col("_avg_q")))
    return flt.agg(F.round(_dec_sum("l_extendedprice") / 7.0, 6).alias("avg_yearly"))


def q_tpch_q18(spark, sf_dir):
    """TPC-H Q18-shaped large-volume customers: the IN-subquery over a
    HAVING aggregate becomes aggregate -> filter -> semi-join back to
    orders. The qty aggregate runs ONCE; Spark's semi-join needs only
    the (orderkey, sum_qty) pairs, which at any sf are a tiny filtered
    fraction — broadcast by stats."""
    li = _t(spark, sf_dir, "lineitem")
    big = (li.groupBy("l_orderkey")
             .agg(_dec_sum("l_quantity").alias("sum_qty"))
             .filter(F.col("sum_qty") > 300))
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    j = (o.join(big, o.o_orderkey == big.l_orderkey)
          .join(c, o.o_custkey == c.c_custkey))
    return (j.select("c_name", "c_custkey", "o_orderkey",
                     F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
                     "o_totalprice", "sum_qty")
             .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc()))


def q_tpch_q8(spark, sf_dir):
    """TPC-H Q8-shaped national market share: one nation's fraction of a
    product type's revenue into a region, by order year. Constant dims
    (nation, region) broadcast by hint; the type-filtered part broadcasts
    by stats; orders/customer/lineitem joins are stats-driven. Both the
    case-sum numerator and the total are exact-decimal sums cast to
    double BEFORE the division, so the share is bit-identical in both
    engines."""
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = (_t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
         .select("r_regionkey"))
    c = (_t(spark, sf_dir, "customer")
         .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
         .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
         .select("c_custkey"))
    s = (_t(spark, sf_dir, "supplier")
         .join(F.broadcast(n.select("n_nationkey", "n_name")),
               F.col("s_nationkey") == F.col("n_nationkey"))
         .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    p = (_t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
         .select("p_partkey"))
    o = (_t(spark, sf_dir, "orders")
         .filter(F.col("o_orderdate").between(
             F.lit("1996-01-01").cast("timestamp"),
             F.lit("1997-12-31").cast("timestamp")))
         .select("o_orderkey", "o_custkey", "o_orderdate"))
    li = _t(spark, sf_dir, "lineitem")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    j = (li.join(p, li.l_partkey == p.p_partkey)
           .join(o, li.l_orderkey == o.o_orderkey)
           .join(c, o.o_custkey == c.c_custkey)
           .join(s, li.l_suppkey == s.s_suppkey))
    g = (j.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
          .agg(F.sum(F.when(F.col("supp_nation") == "NATION_1", vol)
                      .otherwise(F.lit(0).cast("decimal(18,6)")))
                .cast("double").alias("_nat"),
               F.sum(vol).cast("double").alias("total_volume")))
    return (g.select("o_year",
                     (F.col("_nat") / F.col("total_volume")).alias("mkt_share"),
                     "total_volume")
             .orderBy("o_year"))


def q_tpch_q12(spark, sf_dir):
    """TPC-H Q12-shaped late-shipment priority split (the testdata has no
    l_shipmode/commitdate/receiptdate, so "late" is shipped >30 days
    after the order and the grouping key is l_linestatus — same plan
    shape: one fact-fact equi join with a non-equi date residual, then a
    conditional two-way count aggregation)."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate",
                                           "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linestatus",
                                              "l_shipdate")
    late = li.join(o, (li.l_orderkey == o.o_orderkey)
                   & (li.l_shipdate > o.o_orderdate
                      + F.expr("INTERVAL 30 DAYS")))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (late.groupBy("l_linestatus")
                .agg(F.sum(high.cast("long")).alias("high_line_count"),
                     F.sum((~high).cast("long")).alias("low_line_count"))
                .orderBy("l_linestatus"))


def q_tpch_q13(spark, sf_dir):
    """TPC-H Q13-shaped customer order-count distribution: customer LEFT
    OUTER JOIN a filtered orders (priority exclusion stands in for the
    classic comment anti-pattern — the testdata has no o_comment), then
    the two-level aggregation: orders per customer, customers per order
    count. Customers with no qualifying orders land in the c_count=0
    bucket via the outer join — the part an inner-join formulation
    silently drops."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = (_t(spark, sf_dir, "orders")
         .filter(F.col("o_orderpriority") != "4-NOT SPECIFIED")
         .select("o_orderkey", "o_custkey"))
    per_cust = (c.join(o, c.c_custkey == o.o_custkey, "left")
                 .groupBy("c_custkey")
                 .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist"))
            .orderBy(F.col("custdist").desc(), F.col("c_count").desc()))


def q_tpch_q19(spark, sf_dir):
    """TPC-H Q19-shaped disjunctive-predicate revenue: three brand x
    size-range x quantity-range disjuncts (no p_container in the
    testdata, so p_size ranges carry the second dimension). The partkey
    equi key stays the join key; the OR-of-ANDs evaluates as ONE join
    residual — never a union of three joins, never a nested loop."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity",
                                              "l_extendedprice", "l_discount")
    disj = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30)))
    j = li.join(p, li.l_partkey == p.p_partkey).filter(disj)
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    return j.agg(F.sum(vol).cast("double").alias("revenue"))


def q_tpch_q21(spark, sf_dir):
    """TPC-H Q21-shaped waiting-supplier report: suppliers from one
    nation who were the ONLY late supplier on a finished multi-supplier
    order ("late" = shipped >=90 days after the order date; the testdata
    has no commit/receipt dates). The EXISTS compiles to a LEFT SEMI
    self-join on the order key and the NOT EXISTS to a LEFT ANTI with
    the lateness conjunct as a join residual — two shuffles on
    l_orderkey, no nested loop, exactly the classic q21 plan with the
    date columns this schema has."""
    n = (_t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
         .select("n_nationkey"))
    s = (_t(spark, sf_dir, "supplier")
         .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
         .select("s_suppkey", "s_name"))
    o = (_t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
         .select("o_orderkey", "o_orderdate"))
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey",
                                              "l_shipdate")
    late_cut = F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    l1 = (li.join(o, li.l_orderkey == o.o_orderkey)
            .filter(F.col("l_shipdate") >= late_cut)
            .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
            .select(F.col("l_orderkey").alias("_ok"),
                    F.col("l_suppkey").alias("_sk"),
                    F.col("o_orderdate").alias("_od"), "s_name"))
    l2 = li.select(F.col("l_orderkey").alias("_ok2"),
                   F.col("l_suppkey").alias("_sk2"))
    l3 = li.select(F.col("l_orderkey").alias("_ok3"),
                   F.col("l_suppkey").alias("_sk3"), "l_shipdate")
    cand = l1.join(l2, (F.col("_ok") == F.col("_ok2"))
                   & (F.col("_sk") != F.col("_sk2")), "left_semi")
    only = cand.join(
        l3, (F.col("_ok") == F.col("_ok3")) & (F.col("_sk") != F.col("_sk3"))
        & (F.col("l_shipdate") >= F.col("_od") + F.expr("INTERVAL 90 DAYS")),
        "left_anti")
    return (only.groupBy("s_name").agg(F.count(F.lit(1)).alias("numwait"))
                .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
                .limit(20))


def q_tpch_q22(spark, sf_dir):
    """TPC-H Q22-shaped global sales opportunity: rich-but-inactive
    customers by country code (the testdata has no c_phone, so the code
    is c_nationkey % 10 over a fixed code set; and since this generator
    gives ~every customer at least one order, "inactive" means no order
    since 2000 — the classic no-orders-at-all anti-join would be
    vacuously empty). The scalar average is an exact-decimal sum / count
    cast to double (bit-identical boundary in both engines) broadcast
    onto the selection; inactivity is a LEFT ANTI join against the
    date-filtered orders — no correlated re-execution anywhere, and the
    date predicate is pushed into the orders scan."""
    codes = (1, 3, 5, 7, 9)
    c = (_t(spark, sf_dir, "customer")
         .withColumn("cntrycode", (F.col("c_nationkey") % 10).cast("int"))
         .filter(F.col("cntrycode").isin(*codes)))
    avg_bal = (c.filter(F.col("c_acctbal") > 0.0)
                .agg((_dec_sum("c_acctbal") / F.count(F.lit(1)))
                     .alias("_avg_bal")))
    o = (_t(spark, sf_dir, "orders")
         .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
         .select("o_custkey"))
    rich = (c.crossJoin(F.broadcast(avg_bal))
             .filter(F.col("c_acctbal") > F.col("_avg_bal"))
             .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti"))
    return (rich.groupBy("cntrycode")
                .agg(F.count(F.lit(1)).alias("numcust"),
                     _dec_sum("c_acctbal").alias("totacctbal"))
                .orderBy("cntrycode"))


# =====================================================================
# round-4 sketches / windows / layout
# =====================================================================

CMS_DEPTH = 4     # independent hash rows
CMS_WIDTH = 1024  # buckets per row


def q_sketch_cms_topk(spark, sf_dir):
    """Count-min-sketch heavy hitters over the document token stream:
    d=4 seeded 60-bit md5 hash rows x w=1024 buckets; est(token) =
    min_i count(bucket_i(token)) — the classic CMS upper bound, fully
    deterministic, every intermediate replayable in SQL.

    Scale shape: the sketch itself is the groupBy((row, bucket)) count —
    at most d*w = 4096 rows REGARDLESS of corpus size (that's the point
    of a sketch), so the estimate join is a broadcast of the sketch, and
    the only corpus-sized shuffle is the distinct-token candidate set.
    On a 100 TB corpus the same plan holds: sketch still 4096 rows,
    candidates pruned by any cheap pre-filter before the join."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(F.explode(text.tokens(F.col("text"))).alias("token"))
    rows = F.array(*[F.lit(i) for i in range(CMS_DEPTH)])
    hashed = (tok.select("token", F.explode(rows).alias("_i"))
                 .withColumn("_b", F.pmod(
                     dedup.md5_hash60(F.concat_ws(":", F.col("_i"), F.col("token"))),
                     F.lit(CMS_WIDTH))))
    sketch = hashed.groupBy("_i", "_b").agg(F.count("*").alias("_c"))
    cand = (tok.select("token").distinct()
               .select("token", F.explode(rows).alias("_i"))
               .withColumn("_b", F.pmod(
                   dedup.md5_hash60(F.concat_ws(":", F.col("_i"), F.col("token"))),
                   F.lit(CMS_WIDTH))))
    est = (cand.join(F.broadcast(sketch), ["_i", "_b"])
               .groupBy("token").agg(F.min("_c").alias("est_count")))
    return (est.orderBy(F.col("est_count").desc(), F.col("token").asc())
               .limit(20))


def q_op_window_range_frame(spark, sf_dir):
    """RANGE-framed window: per-user rolling 1-hour event-value sum at
    event granularity (RANGE BETWEEN 3600s PRECEDING AND CURRENT ROW
    over the µs timeline — simultaneous events share a frame, which is
    what distinguishes RANGE from ROWS). Exact decimal accumulation so
    every rolling sum hash-matches; partitioned by user, so the window
    sort is per-user-shard, never global."""
    from pyspark.sql.window import Window
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts")).alias("ts_us")
    w = (Window.partitionBy("user_id").orderBy("ts_us")
         .rangeBetween(-3_600_000_000, 0))
    return (ev.select("event_id", "user_id", us, "value")
              .withColumn("rolling_1h_sum",
                          F.sum(F.col("value").cast("decimal(18,6)")).over(w)
                           .cast("double"))
              .select("event_id", "user_id", "ts_us", "rolling_1h_sum"))


def q_op_zorder_layout(spark, sf_dir):
    """Z-order (Morton) layout stats for multi-dimensional data skipping:
    interleave the low 16 bits of (l_partkey, l_suppkey) into a 32-bit
    z-value with pure JVM bit ops, then report per-z-range file stats
    (row count + min/max of BOTH keys) for 64 contiguous z-ranges —
    exactly the min/max index a writer produces via
    ``repartitionByRange(zval).sortWithinPartitions(zval)``.

    Why it matters at 100 TB: range-partitioning on z interleaves both
    dimensions, so a predicate on EITHER key prunes most files (each
    z-range holds a bounded sub-rectangle of the key space); single-key
    layouts prune only their own key. The narrow min/max spans in this
    output ARE the pruning evidence the optimizer would use."""
    from .operators.layout import morton_interleave
    li = _t(spark, sf_dir, "lineitem")
    z = morton_interleave(F.col("l_partkey").bitwiseAND(F.lit(0xFFFF)),
                          F.col("l_suppkey").bitwiseAND(F.lit(0xFFFF)))
    # 64 contiguous z-ranges == 64 output files of a range-partitioned
    # z-ordered write (2^32 / 64 = 2^26 z-values per range)
    return (li.select(z.alias("_z"), "l_partkey", "l_suppkey")
              .groupBy((F.col("_z") / F.lit(1 << 26)).cast("long").alias("z_range"))
              .agg(F.count("*").alias("n_rows"),
                   F.min("l_partkey").alias("min_partkey"),
                   F.max("l_partkey").alias("max_partkey"),
                   F.min("l_suppkey").alias("min_suppkey"),
                   F.max("l_suppkey").alias("max_suppkey"))
              .orderBy("z_range"))


def q_dedup_minhash_md5(spark, sf_dir):
    """Fully-oracle-verified MinHash+LSH (operators/dedup.py
    minhash_lsh_pairs_md5). DuckDB replays the ENTIRE pipeline —
    shingles, 64 universal-hash minima over 60-bit md5 shingle hashes,
    the auto_bands band keys, candidate self-join, exact-jaccard
    verification — and hash-compares the result. Banding is the r7
    S-curve dial (bands="auto" -> 32x2 at threshold 0.2); the
    oracle derives its band width from the SAME function below, so the
    dial can never silently diverge between engines."""
    return dedup.minhash_lsh_pairs_md5(_t(spark, sf_dir, "documents"),
                                       n=3, threshold=0.2)


# Single source of truth for every md5-minhash oracle below: the band
# grouping width (rows per band) follows dedup.auto_bands exactly as the
# Spark side's bands="auto" default does (64 hashes, threshold 0.2).
_MINHASH_RPB = 64 // dedup.auto_bands(64, 0.2)


def q_dedup_simhash_md5(spark, sf_dir):
    """Oracle-verified 64-bit SimHash signatures (md5 token bits, packed
    as two int32 halves so both engines stay in signed-int64 arithmetic
    — operators/dedup.py simhash_md5)."""
    return dedup.simhash_md5(_t(spark, sf_dir, "documents"))


def q_dedup_simhash_md5_pairs(spark, sf_dir):
    """Oracle-verified SimHash Hamming<=3 pairs: pigeonhole banding over
    four 16-bit chunks of the md5 simhash halves, exact bit_count verify
    (operators/dedup.py simhash_md5_pairs)."""
    return dedup.simhash_md5_pairs(_t(spark, sf_dir, "documents"))


def q_sim_ivf_topk(spark, sf_dir):
    """IVF (inverted-file) ANN in exact mode: nprobe == nc probes every
    inverted list, so the result is provably identical to brute-force
    top-k — which is exactly what the oracle checks (same SQL as
    sim-bruteforce-topk). The recall/cost trade of nprobe < nc is pinned
    by tests/test_similarity.py instead (approximate results aren't
    SQL-expressible). Centroids: deterministic xxhash64-seeded k-means."""
    e = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(e.filter(F.col("vec_id") < 5), e, k=5,
                               nc=8, nprobe=8, iters=1)


# =====================================================================
# §7.5 time-series / CDC / corpus-sampling extensions (round 5)
# =====================================================================


def q_op_gap_fill(spark, sf_dir):
    """Daily gap-fill with forward fill (LOCF) over per-user event value
    sums — the time-series densification every reporting layer needs on
    top of the reference's daily report frames (P:218-226 date-window
    math). Per-key ``sequence`` grid + one co-partitioned left join +
    running last(ignorenulls) window; sums stay exact DECIMAL until the
    output edge so both engines emit identical doubles."""
    from .operators.timeseries import gap_fill
    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy("user_id", F.to_date("ts").alias("d"))
               .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("_v")))
    filled = gap_fill(daily, "user_id", "d", "_v", out="filled_value")
    return filled.select(
        "user_id", F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("filled_value").cast("double").alias("filled_value"))


def q_op_scd2(spark, sf_dir):
    """SCD type-2 interval construction from the events change log: one
    validity interval per observed (user_id, event_type) version, closed
    by the next version's timestamp (lead window), open + flagged current
    for the latest. event_id totalizes same-µs order so the chain is
    deterministic in both engines."""
    from .operators.timeseries import scd2_intervals
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", "value")
    s = scd2_intervals(ev, ["user_id", "event_type"], "ts", "event_id")
    return s.select(
        "user_id", "event_type", "event_id", "value",
        F.unix_micros(F.col("valid_from")).alias("valid_from_us"),
        F.unix_micros(F.col("valid_to")).alias("valid_to_us"),
        "is_current")


def q_op_window_lag_lead(spark, sf_dir):
    """Consecutive-event deltas per user (lag window): inter-arrival gap
    in µs and value change vs the previous event. Single shuffle, O(1)
    window state; the value delta is one IEEE double subtraction so both
    engines emit identical bits."""
    from .operators.timeseries import event_deltas
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"), "value")
    d = event_deltas(ev, "user_id", "ts_us", "event_id", "value",
                     gap_out="gap_us", delta_out="value_delta")
    return d.select("event_id", "user_id", "gap_us", "value_delta")
