"""Second half of the Spark-side q_* query wrappers (the first is
catalog_queries.py), including the throughput queries that have no
oracle. No key is registered here: each key's (query, oracle) entry is
in catalog.CATALOG, and the throughput keys are in
catalog.THROUGHPUT_QUERIES. Import through
tf_prisma_api_data_ingestion_spark.catalog.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from . import cache
from .operators import dedup, similarity, text
from .catalog_queries import _dec_sum, _fresh_dir, _t


def q_op_histogram(spark, sf_dir):
    """Fixed-width histogram of lineitem extended price (22 x 5000-wide
    buckets, outliers clamped to the edges). Map-side-combinable groupBy
    on a computed bucket — the shuffle carries <=22 rows per map
    partition at any scale. floor-of-one-division bucketing is a single
    IEEE op, identical across engines."""
    from .operators.timeseries import fixed_histogram
    li = _t(spark, sf_dir, "lineitem")
    return fixed_histogram(li, "l_extendedprice", 0.0, 5000.0, 22)


def q_op_merge_upsert(spark, sf_dir):
    """Latest-wins MERGE (batch CDC compaction): events before Jan 15 are
    the current snapshot, events from Jan 15 on are the update batch;
    merge keeps the newest row per (user_id, event_type) — new keys
    insert, existing keys update. Because snapshot+batch = all events,
    the oracle is a whole-table latest-per-key rank, which checks the
    merge recombines exactly. Partial WindowGroupLimit keeps the shuffle
    ~|keys|-sized (same pushdown as top-k-per-group)."""
    from .operators.relational import merge_upsert
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", "value")
    cut = F.to_timestamp(F.lit("2024-01-15 00:00:00"))
    target = ev.filter(F.col("ts") < cut)
    updates = ev.filter(F.col("ts") >= cut)
    m = merge_upsert(target, updates, ["user_id", "event_type"],
                     ["ts", "event_id"])
    return m.select("user_id", "event_type", "event_id", "value",
                    F.unix_micros(F.col("ts")).alias("ts_us"))


def q_op_stratified_sample(spark, sf_dir):
    """Per-stratum deterministic sampling over documents by source — the
    LLM-corpus source-mixing shape (down-weight over-represented sources
    to a target mixture). Reuses op-sample-hash's cross-engine md5 bucket
    so reruns/backfills select the identical rows; pure map-side filter,
    no shuffle. src0-src2 kept at 50%, everything else at 10%."""
    from .operators.relational import stratified_sample_hash
    d = _t(spark, sf_dir, "documents")
    s = stratified_sample_hash(
        d, "source", "doc_id",
        {"src0": 0.5, "src1": 0.5, "src2": 0.5}, default_rate=0.1)
    return s.select("doc_id", "source", "lang")


def q_text_bigram_counts(spark, sf_dir):
    """Corpus bigram counts, top 50 (count desc, bigram asc — total
    order): the n-gram LM statistics pass every corpus analysis runs.
    Explode of the shifted-slices bigram list (text.word_ngrams), then a
    map-side-combinable count; docs under 2 tokens are excluded on both
    sides (word_ngrams degenerates them to a 1-token gram)."""
    from .operators import text as text_ops
    d = _t(spark, sf_dir, "documents")
    toks = text_ops.tokens(F.col("text"))
    grams = (d.filter(F.size(toks) >= 2)
              .select(F.explode(text_ops.word_ngrams(F.col("text"), 2))
                       .alias("bigram")))
    agg = grams.groupBy("bigram").agg(F.count(F.lit(1)).alias("cnt"))
    return agg.orderBy(F.col("cnt").desc(), F.col("bigram").asc()).limit(50)


def q_plan_stream_report(spark, sf_dir):
    """Composite streaming ETL (the streaming twin of plan-alert-report):
    events stream -> static customer-dim enrichment -> watermarked daily
    aggregate per market segment -> APPEND-mode date-partitioned parquet
    with exactly-once replay. Drained TWICE against one checkpoint — the
    replay must ingest 0 rows (surfaced as replay_rows). Append-mode file
    sinks emit a window exactly once, when the watermark passes its end,
    so the published table holds exactly the COMPLETE windows: the oracle
    replays the join+agg in SQL and keeps windows with
    end <= max(ts) - watermark."""
    from .streaming.windows import enriched_daily_report_to_parquet
    base = _fresh_dir("plan-stream-report")
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    enriched_daily_report_to_parquet(spark, sf_dir, out, ckpt,
                                     query_name="cat_stream_report1")
    replay = enriched_daily_report_to_parquet(spark, sf_dir, out, ckpt,
                                              query_name="cat_stream_report2")
    back = spark.read.parquet(out)
    # the day partition directory reads back as DATE (partition-column
    # type inference); pin the contract to the ISO string both engines
    # format identically instead of relying on str() coercion downstream
    return back.select(F.col("day").cast("string").alias("day"),
                       "c_mktsegment", "n_events", "sum_value",
                       F.lit(replay).cast("long").alias("replay_rows"))


def q_dedup_keep_best(spark, sf_dir):
    """Quality-elected near-dup representatives: connected components
    over jaccard>=0.2 edges (same edge set as dedup-clusters), then keep
    the HIGHEST-quality member per cluster (tie -> min doc_id) — the
    production corpus-dedup rule (keep the best-written copy, not the
    first-crawled one). Representative election is a rank<=1 window per
    cluster (partial WindowGroupLimit pushdown)."""
    from .operators.dedup import dedup_keep_best
    from .operators.text import quality_features
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, n=3, threshold=0.2, max_df=None)
    scored = quality_features(d, "text").select("doc_id", "quality_score")
    return dedup_keep_best(pairs, scored)


def q_asof_join_nearest(spark, sf_dir):
    """Nearest-event as-of join: each click pairs with its CLOSEST
    purchase in time, either direction (tie -> the earlier one), plus the
    winning |delta-t| in µs. Both directional fills run over ONE merged
    frame sharing the user_id exchange; the oracle composes DuckDB's
    backward and forward ASOF joins with the same distance compare.
    Right side pre-aggregated to one row per (user_id, ts) so neither
    engine faces a tied-timestamp pick (see q_asof_join)."""
    from .operators.relational import asof_join_nearest
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts")).alias("ts_us")
    c = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", us)
    p = (ev.filter(F.col("event_type") == "purchase").select("user_id", us, "value")
           .groupBy("user_id", "ts_us").agg(F.max("value").alias("value")))
    joined = asof_join_nearest(c, p, on=["user_id"], left_ts="ts_us",
                               right_ts="ts_us",
                               right_cols={"value": "nearest_purchase_value"},
                               dist_out="asof_dist_us")
    return joined.select("event_id", "user_id", "nearest_purchase_value",
                         "asof_dist_us")


def q_op_interval_merge(spark, sf_dir):
    """Overlapping-interval merge (islands over VARIABLE-length
    intervals): each event opens an interval of value-proportional length
    (floor(value x 1h in µs) — floor on BOTH engines, because a bare
    double->bigint cast truncates in Spark but rounds in DuckDB); merging
    uses the running-max-of-ends rule, which unlike gap-sessionization is
    correct under nested and back-dated intervals. One shuffle on
    user_id; both windows share the sort."""
    from .operators.timeseries import merge_intervals
    ev = _t(spark, sf_dir, "events")
    iv = ev.select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts")).alias("s"),
        (F.unix_micros(F.col("ts"))
         + F.floor(F.col("value") * F.lit(3600000000.0)).cast("long")
         ).alias("e"))
    m = merge_intervals(iv, "user_id", "s", "e", tiebreak="event_id",
                        out_start="island_start_us",
                        out_end="island_end_us",
                        count_out="n_intervals")
    return m.select("user_id", "island_start_us", "island_end_us",
                    "n_intervals")


def q_op_fuzzy_join(spark, sf_dir):
    """Blocked fuzzy (Levenshtein) self-join over the DISTINCT part-name
    dictionary: the entity-resolution primitive (match near-identical
    names without an n² compare). Blocking key = last name token, so the
    candidate set is Σ_b |block|² over the *vocabulary*, not the fact
    table — resolve the dictionary, then broadcast the mapping back to
    the 100 TB fact rows as an ordinary equi-join. name1 < name2 halves
    the symmetric pairs and drops self-matches; dist bound 3 catches the
    adjective edits ('red widget' ~ 'big widget') without collapsing
    unrelated nouns. No reference analog (exact keys only, `P:243-252`).
    """
    from .operators.relational import fuzzy_join
    names = _t(spark, sf_dir, "part").select("p_name").distinct()
    out = fuzzy_join(
        names.select(F.col("p_name").alias("name1")),
        names.select(F.col("p_name").alias("name2")),
        "name1", "name2",
        F.element_at(F.split(F.col("name1"), " "), -1),
        F.element_at(F.split(F.col("name2"), " "), -1),
        max_dist=3)
    return (out.filter(F.col("name1") < F.col("name2"))
               .select("name1", "name2",
                       F.col("edit_dist").cast("long").alias("edit_dist")))


def q_op_linreg_group(spark, sf_dir):
    """Per-event-type least-squares trend of value vs hour-of-day, via
    the closed form over EXACT integer sufficient statistics (cents ×
    integer hour — operators/stats.grouped_linreg). One map-side-
    combinable aggregation; floats appear only as single IEEE ops over
    the exact sums, so the slope/intercept/r² hash-match DuckDB
    bit-for-bit — the determinism a float-accumulating regr_slope can't
    give across engines or partitionings."""
    from .operators.stats import grouped_linreg
    ev = _t(spark, sf_dir, "events")
    return grouped_linreg(ev, "event_type",
                          F.hour("ts"), F.col("value"))


def q_op_outlier_mad(spark, sf_dir):
    """Robust per-event-type outlier summary (median / MAD / count of
    |value − median| > 3·MAD) on exact integer cents — every comparison
    is exact dyadic-rational double arithmetic, so the outlier count is
    bit-stable across engines (operators/stats.mad_outliers). The
    anomaly-flagging pass every metrics pipeline runs; median/MAD rather
    than mean/stddev so one hot row can't drag the threshold."""
    from .operators.stats import mad_outliers
    ev = _t(spark, sf_dir, "events")
    return mad_outliers(ev, "event_type", F.col("value"), k=3.0)


def q_op_table_checksum(spark, sf_dir):
    """Order-independent lineitem fingerprint (count + XOR + modular sum
    of a 60-bit md5 prefix per canonical row string): the cross-system
    migration-validation primitive — two copies of a 100 TB table match
    iff three numbers match, with no sort and a one-row-per-partition
    shuffle (operators/stats.table_checksum). Floats are pre-rendered to
    exact integer cents/units so the canonical string is engine-neutral.
    """
    from .operators.stats import table_checksum
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("string").alias("c1"),
        F.col("l_linenumber").cast("string").alias("c2"),
        F.round(F.col("l_quantity")).cast("long").cast("string").alias("c3"),
        F.round(F.col("l_extendedprice") * 100).cast("long").cast("string")
         .alias("c4"),
        F.col("l_returnflag").alias("c5"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("c6"))
    return table_checksum(li, ["c1", "c2", "c3", "c4", "c5", "c6"])


def q_text_bigram_lift(spark, sf_dir):
    """Top-20 bigram collocations by LIFT — p(ab) / (p(a)p(b)) — the
    association statistic behind collocation mining and tokenizer-merge
    candidates. Computed as a pure count ratio (c_ab·T² as DECIMAL over
    B·c_a·c_b as DECIMAL, one double divide at the edge) instead of the
    log-space PMI, because log() is not bit-identical across libm
    implementations while a single correctly-rounded divide is. Plan:
    one bigram count, one unigram count, two broadcast joins of the tiny
    count dictionaries, two scalar totals broadcast via cross-join — the
    fact-table scan happens twice (tokens, bigrams), never more."""
    from .operators import text as text_ops
    d = _t(spark, sf_dir, "documents")
    toks = (d.select(F.explode(text_ops.tokens(F.col("text"))).alias("tok")))
    tc = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tt = toks.agg(F.count(F.lit(1)).alias("t"))
    grams = (d.filter(F.size(text_ops.tokens(F.col("text"))) >= 2)
              .select(F.explode(text_ops.word_ngrams(F.col("text"), 2))
                       .alias("bigram")))
    pc = grams.groupBy("bigram").agg(F.count(F.lit(1)).alias("cnt"))
    bt = grams.agg(F.count(F.lit(1)).alias("b"))
    w = F.split(F.col("bigram"), " ")
    pc = pc.withColumn("_w1", F.element_at(w, 1)).withColumn(
        "_w2", F.element_at(w, 2))
    c1 = tc.select(F.col("tok").alias("_w1"), F.col("c").alias("_c1"))
    c2 = tc.select(F.col("tok").alias("_w2"), F.col("c").alias("_c2"))
    j = (pc.join(F.broadcast(c1), "_w1").join(F.broadcast(c2), "_w2")
           .crossJoin(F.broadcast(tt)).crossJoin(F.broadcast(bt)))
    num = (F.col("cnt").cast("decimal(38,0)") * F.col("t") * F.col("t"))
    den = (F.col("b").cast("decimal(38,0)") * F.col("_c1") * F.col("_c2"))
    lift = F.round(num.cast("double") / den.cast("double"), 6)
    return (j.filter(F.col("cnt") >= 5)
             .select("bigram", "cnt", lift.alias("lift"))
             .orderBy(F.col("lift").desc(), F.col("bigram").asc())
             .limit(20))


def q_op_funnel(spark, sf_dir):
    """Per-user ordered funnel (view -> first click AFTER the view ->
    first purchase AFTER that click): the conversion query every event
    pipeline runs. Formulated as three chained whole-partition window
    mins over ONE user_id hash exchange — no sort (unbounded frames),
    no self-joins (the agg-join-agg textbook version shuffles the fact
    table three times; this shuffles it once). Strictly-after semantics:
    a click at the exact view timestamp does NOT advance the funnel, so
    each stage min is conditional on tu strictly greater than the prior
    stage (NULL prior => NULL stage, never a spurious match).
    Timestamps surface as epoch-µs longs per the repo ts convention."""
    from pyspark.sql.window import Window
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    e = ev.select("user_id", "event_type",
                  F.unix_micros("ts").alias("tu"))
    e = e.withColumn(
        "t_view",
        F.min(F.when(F.col("event_type") == "view", F.col("tu"))).over(w))
    e = e.withColumn(
        "t_click",
        F.min(F.when((F.col("event_type") == "click")
                     & (F.col("tu") > F.col("t_view")),
                     F.col("tu"))).over(w))
    e = e.withColumn(
        "t_purchase",
        F.min(F.when((F.col("event_type") == "purchase")
                     & (F.col("tu") > F.col("t_click")),
                     F.col("tu"))).over(w))
    depth = (F.when(F.col("t_purchase").isNotNull(), 3)
              .when(F.col("t_click").isNotNull(), 2)
              .when(F.col("t_view").isNotNull(), 1)
              .otherwise(0))
    return (e.groupBy("user_id")
             .agg(F.min("t_view").alias("t_view"),
                  F.min("t_click").alias("t_click"),
                  F.min("t_purchase").alias("t_purchase"))
             .withColumn("funnel_depth", depth.cast("long")))


def q_op_retention(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-active day, then
    (cohort_day, day_offset) -> distinct active users. The
    product-analytics staple. Plan: the user-day distinct is the
    compaction step (everything downstream is user-sized, not
    event-sized); cohort min and the activity join share the user_id
    partitioning. Dates surface as formatted strings (repo convention —
    raw DATE columns skew pandas dtypes across engines)."""
    ev = _t(spark, sf_dir, "events")
    act = (ev.select("user_id", F.to_date("ts").alias("d")).distinct())
    coh = act.groupBy("user_id").agg(F.min("d").alias("cohort_d"))
    return (act.join(coh, "user_id")
            .groupBy(F.date_format("cohort_d", "yyyy-MM-dd")
                      .alias("cohort_day"),
                     F.datediff("d", "cohort_d").cast("long")
                      .alias("day_offset"))
            .agg(F.count(F.lit(1)).alias("n_users")))


def q_op_expectations(spark, sf_dir):
    """Data-quality expectation battery over orders (deequ/dbt-test
    shape): five named constraints evaluated in ONE scan — a 100-rule
    battery over 100 TB costs one map-side-combinable pass and a
    one-row-per-partition shuffle, not one job per rule
    (operators/stats.expect). The publish gate a production ingest runs
    before committing a partition."""
    from .operators.stats import expect
    o = _t(spark, sf_dir, "orders")
    return expect(o, {
        "orderkey_not_null": F.col("o_orderkey").isNotNull(),
        "custkey_not_null": F.col("o_custkey").isNotNull(),
        "totalprice_positive": F.col("o_totalprice") > 0,
        "status_in_domain": F.col("o_orderstatus").isin("F", "O", "P"),
        "orderdate_in_range": F.col("o_orderdate")
                               >= F.to_timestamp(F.lit("2020-01-01")),
    })


def q_op_winsorized_mean(spark, sf_dir):
    """Per-event-type winsorized mean (values clamped to the group's
    exact 5th/95th percentiles before averaging): the robust location
    estimate that keeps every row while capping tail influence
    (operators/stats.winsorized_mean). Clamped values are exact small
    dyadic rationals, so the group sum is order-independent and the
    result hash-matches DuckDB."""
    from .operators.stats import winsorized_mean
    ev = _t(spark, sf_dir, "events")
    return winsorized_mean(ev, "event_type", F.col("value"),
                           lo=0.05, hi=0.95)


def q_dedup_passage_exact(spark, sf_dir):
    """Passage-level exact-duplicate inventory: md5 over 16-token
    windows (stride 8) across the corpus, keeping hashes that occur in
    >= 2 distinct documents — the exact-substring dedup idea (cited in
    PAPERS.md: Lee et al., "Deduplicating Training Data Makes Language
    Models Better") at token-window granularity, where it decomposes
    into counts instead of suffix arrays. Whole extraction is JVM
    higher-order built-ins (operators/text.passage_hashes); the only
    shuffle keys on the passage hash, uniform by construction. Output
    is hash-level (n_docs, n_occurrences), NOT doc pairs — a passage
    shared by k docs stays ONE row instead of k² pair rows, so hot
    boilerplate passages can't blow up the result at scale."""
    from .operators import text as text_ops
    d = _t(spark, sf_dir, "documents")
    toks = text_ops.tokens(F.col("text"))
    d2 = d.filter(F.size(toks) >= 16)
    did, h = text_ops.passage_hashes(F.col("doc_id"), F.col("text"),
                                     window=16, stride=8)
    wins = d2.select(did.alias("doc_id"), h.alias("passage_md5"))
    return (wins.groupBy("passage_md5")
            .agg(F.countDistinct("doc_id").alias("n_docs"),
                 F.count(F.lit(1)).alias("n_occurrences"))
            .filter(F.col("n_docs") >= 2))


def q_op_table_diff(spark, sf_dir):
    """Snapshot regression diff (operators/relational.table_diff): two
    deterministic synthetic versions of orders — "old" drops keys
    divisible by 97 (so they surface as added), "new" drops keys
    divisible by 83 (removed) and bumps o_totalprice by 1.11 on keys
    divisible by 89 (changed) — then one full-outer key join labels
    every difference; unchanged rows drop out so output is
    difference-sized. The WHERE to table_checksum's WHETHER."""
    from .operators.relational import table_diff
    o = _t(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 97 != 0)
    new = (o.filter(F.col("o_orderkey") % 83 != 0)
            .withColumn("o_totalprice",
                        F.when(F.col("o_orderkey") % 89 == 0,
                               F.round(F.col("o_totalprice") + 1.11, 2))
                         .otherwise(F.col("o_totalprice"))))
    return table_diff(old, new, ["o_orderkey"],
                      ["o_totalprice", "o_orderstatus"])


def q_dedup_passage_pairs(spark, sf_dir):
    """Doc-level near-dup verdicts from shared passages: self-join the
    passage-hash inventory (dedup-passage-exact's window stream) on the
    hash, count distinct shared passages per (doc1 < doc2) pair, keep
    pairs sharing >= 2 passages. The passage evidence rolled up to the
    judgment a dedup pipeline acts on.

    Hot-passage cap: hashes appearing in > 32 distinct docs are dropped
    BEFORE the self-join (boilerplate headers/footers would contribute
    k^2 pairs while carrying no dedup signal — the same df-cap design as
    the n-gram Jaccard engine, dedup.py). The cap is part of the
    operator's contract and applied identically in the oracle, so the
    join's per-hash fanout is bounded at 32^2 regardless of corpus size.
    """
    from .operators import text as text_ops
    d = _t(spark, sf_dir, "documents")
    toks = text_ops.tokens(F.col("text"))
    d2 = d.filter(F.size(toks) >= 16)
    did, h = text_ops.passage_hashes(F.col("doc_id"), F.col("text"),
                                     window=16, stride=8)
    wins = d2.select(did.alias("doc_id"), h.alias("h")).distinct()
    docs_per_h = (wins.groupBy("h")
                  .agg(F.count(F.lit(1)).alias("_nd"))
                  .filter((F.col("_nd") >= 2) & (F.col("_nd") <= 32)))
    kept = wins.join(docs_per_h.select("h"), "h")
    pairs = (kept.alias("a")
             .join(kept.alias("b"),
                   (F.col("a.h") == F.col("b.h"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc1"),
                     F.col("b.doc_id").alias("doc2")))
    return (pairs.groupBy("doc1", "doc2")
            .agg(F.count(F.lit(1)).alias("n_shared_passages"))
            .filter(F.col("n_shared_passages") >= 2))


def q_stream_funnel(spark, sf_dir):
    """Streaming conversion funnel (applyInPandasWithState state
    machine, streaming/windows.streaming_funnel): candidate-set state
    makes the result arrival-order independent, so the batch funnel SQL
    is an exact oracle — the strongest check a custom stateful streaming
    operator can get."""
    from .streaming.windows import streaming_funnel
    return streaming_funnel(spark, sf_dir, query_name="cat_stream_funnel")


def q_multimodal_resize(spark, sf_dir):
    """Resize stage of the multimodal pipeline (mapInPandas; codec call
    stubbed, batching/schema/crop-rule real — multimodal.fake_resize)."""
    from .multimodal import fake_resize, with_binary_payload
    d = _t(spark, sf_dir, "documents")
    return fake_resize(with_binary_payload(d), target_w=64, target_h=48)


def q_multimodal_embed(spark, sf_dir):
    """Feature-extraction stage: 8-dim pseudo-embedding from the binary
    payload, computed Python-side per Arrow batch (multimodal.fake_embed
    — the encoder-inference shape) and bit-replayed here in SQL because
    each component is an exact dyadic md5-slice rational. The strongest
    possible differential check of the mapInPandas plumbing: Python
    hashlib vs DuckDB md5 must agree byte-for-byte on the payloads AND
    the arithmetic."""
    from .multimodal import fake_embed, with_binary_payload
    d = _t(spark, sf_dir, "documents")
    return fake_embed(with_binary_payload(d), dim=8)


def q_plan_multimodal_dedup(spark, sf_dir):
    """End-to-end multimodal dedup composition: binary payload ->
    Arrow-batched feature extraction (multimodal.fake_embed, the encoder
    shape) -> hyperplane-LSH near-dup pairs (similarity.
    lsh_near_dup_pairs) — image dedup by embedding, with the
    codec as the single stubbed step. md5-slice pseudo-embeddings carry
    no semantics (byte-identical payloads map to cos 1.0, everything
    else to the random-vector distribution), so the demo threshold
    (0.9 on mean-centered features) sits where the synthetic
    distribution produces candidates —
    the bucket join + exact verify then runs on real, non-empty data; a
    REAL encoder swaps in with the identical plan and a meaningful
    threshold. Whole pipeline (Python-side extraction included) is
    bit-replayed by the DuckDB oracle."""
    from .multimodal import fake_embed, with_binary_payload
    from .operators.similarity import lsh_near_dup_pairs
    d = _t(spark, sf_dir, "documents")
    emb = fake_embed(with_binary_payload(d), dim=8)
    # mean-center the raw [0,1) features before cosine LSH — the
    # standard preprocessing: uncentered all-positive vectors crowd one
    # quadrant (pairwise cos ~0.75), so sign buckets stop discriminating
    # and the candidate set grows quadratically (measured 23x for 10x
    # data before centering; ~linear after). Centering is exact
    # (dyadic - 0.5) so the oracle replay stays bit-identical.
    # persist the Arrow-embed output: lsh_near_dup_pairs consumes its
    # input THREE times before its own barrier (the auto_planes count,
    # the bucket build, the vector frame), and each expansion re-runs
    # the MapInPandas embed over the corpus — the r14 before-plan shows
    # six MapInPandas nodes for one embed (guide §4: pay the Python
    # boundary once)
    arr = cache.tracked_persist(
        emb.select(F.col("doc_id").alias("vec_id"),
                   F.array(*[F.col(f"e{k}") - F.lit(0.5)
                             for k in range(8)]).alias("embedding")))
    # planes_per_table=None -> the bucket space SELF-SIZES from the
    # corpus count (similarity.auto_planes: ceil(log2(ceil(n/2))),
    # clamped [8, 32]) so per-bucket population — and with it the
    # candidate count — stays ~constant as the corpus grows. The r5
    # hand dial (16 planes) went quadratic at 8 planes/sf1 and spilled
    # the external sorter at 16 planes/sf10 on one node; the auto dial
    # picks 8 at 500 docs, 18 at 500k. The oracle reproduces the
    # identical dial from COUNT(*) and masks a 32-plane bucket, which
    # is exact because hyperplanes seed by (table, plane, dim) — a
    # smaller dial is a strict prefix of a larger one. Recall at the
    # cos=0.9 demo boundary is ~0.5, rising above 0.99 for the
    # near-exact pairs (cos>=0.99) the dedup actually targets.
    return lsh_near_dup_pairs(arr, threshold=0.9, dim=8,
                              planes_per_table=None, tables=8)


def q_op_string_agg(spark, sf_dir):
    """Sorted group concatenation (the reporting staple): per order
    priority, the distinct statuses as one comma-joined string. Spark
    has no ordered string_agg, so the deterministic formulation is
    collect_set -> array_sort -> array_join — same total order as
    DuckDB's string_agg(DISTINCT ... ORDER BY), hash-identical. The
    collect_set is bounded by the value domain (3 statuses), not the
    row count — safe at any scale for low-cardinality domains; for
    unbounded domains cap with slice() first."""
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy("o_orderpriority")
            .agg(F.array_join(F.array_sort(F.collect_set("o_orderstatus")),
                              ",").alias("statuses"),
                 F.count(F.lit(1)).alias("n_orders")))


def q_op_window_percent(spark, sf_dir):
    """percent_rank + cume_dist battery per customer over order totals
    (completes the ranking-window family beyond rank/dense_rank/ntile):
    both are single rational divisions k/(n-1) and k/n over an
    unambiguous order (orderkey tiebreak), so round(6) is bit-stable
    across engines. One sort per customer partition serves both."""
    from pyspark.sql.window import Window
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
    return o.select(
        "o_orderkey", "o_custkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"))


def q_op_cumulative_distinct(spark, sf_dir):
    """Daily cumulative distinct users — the growth-curve query.
    Windowed COUNT(DISTINCT) doesn't exist in either engine, so both
    sides use the canonical two-step: mark each user's FIRST active day
    (min-date agg — user-sized), count first-appearances per day, then
    a running sum over days. The heavy input collapses to a user-sized
    aggregate before any window; the running sum runs over ~days rows.
    """
    from pyspark.sql.window import Window
    ev = _t(spark, sf_dir, "events")
    first = (ev.select("user_id", F.to_date("ts").alias("d"))
               .groupBy("user_id").agg(F.min("d").alias("first_d")))
    daily = first.groupBy("first_d").agg(
        F.count(F.lit(1)).alias("new_users"))
    w = (Window.orderBy(F.col("first_d").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (daily.select(
        F.date_format("first_d", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("cum_users")))


def q_op_fuzzy_canonicalize(spark, sf_dir):
    """End-to-end entity resolution: resolve the part-name dictionary
    with the blocked fuzzy join (op-fuzzy-join), elect a canonical name
    per connected group (min name over symmetric dist<=1 matches — one
    merge step; iterate dedup.py's connected components for deep
    chains), then BROADCAST the vocabulary-sized mapping back onto the
    fact table and re-aggregate. The production shape the fuzzy join's
    docstring promises: the n² work happens on the dictionary, the
    100 TB fact table sees one broadcast hash join."""
    from .operators.relational import fuzzy_join
    p = _t(spark, sf_dir, "part")
    names = p.select("p_name").distinct()
    blk1 = F.element_at(F.split(F.col("name1"), " "), -1)
    blk2 = F.element_at(F.split(F.col("name2"), " "), -1)
    pairs = fuzzy_join(
        names.select(F.col("p_name").alias("name1")),
        names.select(F.col("p_name").alias("name2")),
        "name1", "name2", blk1, blk2, max_dist=1)
    # self-pairs (dist 0) are in the join output, so min(name2) already
    # includes name1 itself — the canonical is simply the group min
    canon = (pairs.groupBy("name1")
             .agg(F.min("name2").alias("canonical")))
    mapped = (p.join(F.broadcast(canon),
                     p["p_name"] == canon["name1"], "left")
              .select(F.coalesce("canonical", "p_name").alias("canon_name"),
                      "p_retailprice"))
    return (mapped.groupBy("canon_name")
            .agg(F.count(F.lit(1)).alias("n_parts"),
                 F.round(F.sum(F.col("p_retailprice")
                                .cast("decimal(18,2)")).cast("double"), 2)
                  .alias("total_price")))


def _partsupp(spark, sf_dir):
    """Synthetic partsupp DataFrame (see module comment above); the
    DuckDB twin is _PARTSUPP_CTE — same formulas, same bits."""
    li = _t(spark, sf_dir, "lineitem")
    pk, sk = F.col("ps_partkey"), F.col("ps_suppkey")
    return (li.select(F.col("l_partkey").alias("ps_partkey"),
                      F.col("l_suppkey").alias("ps_suppkey"))
              .distinct()
              .withColumn("ps_availqty",
                          ((pk * 7 + sk * 13) % 9999 + 1).cast("long"))
              .withColumn("ps_supplycost",
                          ((pk * 31 + sk * 17) % 10000).cast("double")
                          / 100.0 + 1.0))


def q_tpch_q2(spark, sf_dir):
    """TPC-H Q2-shaped minimum-cost supplier: for each EUROPE-sourced
    part of one size, every supplier quoting the regional minimum
    cost. The correlated MIN subquery decorrelates into a per-part
    aggregate joined back — Catalyst's standard rewrite, done here
    explicitly so both the aggregate and the probe reuse ONE regional
    partsupp frame. Dimension joins (supplier→nation→region) broadcast;
    the only shuffles are the distinct-pair derivation and the per-part
    MIN."""
    ps = _partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eligible = (s.join(F.broadcast(n),
                       s.s_nationkey == n.n_nationkey)
                 .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
                 .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    regional = ps.join(F.broadcast(eligible),
                       ps.ps_suppkey == F.col("s_suppkey"))
    min_cost = (regional.groupBy("ps_partkey")
                        .agg(F.min("ps_supplycost").alias("_min_cost")))
    p = (_t(spark, sf_dir, "part")
         .filter(F.col("p_size") == 15)
         .select("p_partkey", "p_type"))
    return (regional
            .join(min_cost.withColumnRenamed("ps_partkey", "_mk"),
                  (F.col("ps_partkey") == F.col("_mk"))
                  & (F.col("ps_supplycost") == F.col("_min_cost")))
            .join(F.broadcast(p), F.col("ps_partkey") == F.col("p_partkey"))
            .select("s_acctbal", "s_name", "n_name", "p_partkey",
                    "p_type", "ps_supplycost"))


def q_tpch_q9(spark, sf_dir):
    """TPC-H Q9-shaped product-type profit: per (nation, order year)
    profit over parts whose name contains 'red'. The part filter
    broadcasts and prunes the fact scan early; lineitem⋈partsupp
    shuffles on the composite (partkey, suppkey); lineitem⋈orders on
    orderkey is the second big shuffle — the same two shuffles a 100 TB
    plan needs, with supplier/nation riding along broadcast. Profit
    amount is computed in DOUBLE with the identical op order as the
    oracle, then summed as exact DECIMAL(18,6)."""
    ps = _partsupp(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = (_t(spark, sf_dir, "part")
         .filter(F.col("p_name").contains("red"))
         .select("p_partkey"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    amount = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - F.col("ps_supplycost") * F.col("l_quantity")
              ).cast("decimal(18,6)")
    j = (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
           .join(ps, (li.l_partkey == ps.ps_partkey)
                 & (li.l_suppkey == ps.ps_suppkey))
           .join(o, li.l_orderkey == o.o_orderkey)
           .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
           .join(F.broadcast(n), s.s_nationkey == n.n_nationkey))
    return (j.groupBy(F.col("n_name").alias("nation"),
                      F.year("o_orderdate").alias("o_year"))
             .agg(F.round(F.sum(amount).cast("double"), 2)
                   .alias("sum_profit"))
             .orderBy("nation", F.col("o_year").desc()))


def q_tpch_q11(spark, sf_dir):
    """TPC-H Q11-shaped important-stock identification: per-part
    inventory value (supplycost × availqty) held by one nation's
    suppliers, keeping parts above a fraction of the national total.
    The scalar total is the SUM of the per-part sums — computed from
    the already-grouped frame and broadcast via a 1-row cross join, so
    the fact side is scanned and shuffled ONCE, not twice as a naive
    correlated rewrite would."""
    ps = _partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    nat_sup = (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
                .select("s_suppkey"))
    val = (F.col("ps_supplycost") * F.col("ps_availqty")
           ).cast("decimal(18,6)")
    per_part = (ps.join(F.broadcast(nat_sup),
                        ps.ps_suppkey == F.col("s_suppkey"))
                  .groupBy("ps_partkey")
                  .agg(F.sum(val).alias("_v")))
    total = per_part.agg(F.sum("_v").alias("_tot"))
    return (per_part.crossJoin(F.broadcast(total))
            .filter(F.col("_v").cast("double")
                    > F.col("_tot").cast("double") * 0.0001)
            .select("ps_partkey",
                    F.round(F.col("_v").cast("double"), 2).alias("value")))


def q_tpch_q16(spark, sf_dir):
    """TPC-H Q16-shaped parts/supplier relationship: how many distinct
    suppliers can furnish each surviving (brand, type, size) bucket,
    excluding one brand, one type family, and suppliers with negative
    account balance (the reduced schema's stand-in for Q16's
    customer-complaints exclusion). part is broadcast; the excluded
    suppliers broadcast as an anti-join; the only shuffle is the
    count-distinct on the grouped key."""
    ps = _partsupp(spark, sf_dir)
    p = (_t(spark, sf_dir, "part")
         .filter((F.col("p_brand") != "Brand#1")
                 & (F.col("p_type") != "MEDIUM")
                 & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
         .select("p_partkey", "p_brand", "p_type", "p_size"))
    bad = (_t(spark, sf_dir, "supplier")
           .filter(F.col("s_acctbal") < 0).select("s_suppkey"))
    return (ps.join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
              .join(F.broadcast(bad), ps.ps_suppkey == F.col("s_suppkey"),
                    "left_anti")
              .groupBy("p_brand", "p_type", "p_size")
              .agg(F.count_distinct("ps_suppkey").alias("supplier_cnt"))
              .orderBy(F.col("supplier_cnt").desc(),
                       "p_brand", "p_type", "p_size"))


def q_tpch_q20(spark, sf_dir):
    """TPC-H Q20-shaped potential part promotion: suppliers in one
    nation whose stock of some 'small…' part exceeds half of what they
    shipped of it during 1997. The correlated quantity subquery
    decorrelates into a per-(part, supplier) aggregate over the
    date-filtered fact (predicate pushed to the parquet scan), joined
    to partsupp on the composite key; the part-name and nation filters
    broadcast. Output is the distinct qualifying supplier list."""
    ps = _partsupp(spark, sf_dir)
    p = (_t(spark, sf_dir, "part")
         .filter(F.col("p_name").startswith("small"))
         .select("p_partkey"))
    li = _t(spark, sf_dir, "lineitem")
    shipped = (li.filter((F.col("l_shipdate") >= "1997-01-01")
                         & (F.col("l_shipdate") < "1998-01-01"))
                 .groupBy("l_partkey", "l_suppkey")
                 .agg(_dec_sum("l_quantity").alias("_qty")))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    nat_sup = (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
                .select("s_suppkey", "s_name"))
    qual = (ps.join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
              .join(shipped, (ps.ps_partkey == shipped.l_partkey)
                    & (ps.ps_suppkey == shipped.l_suppkey))
              .filter(F.col("ps_availqty").cast("double")
                      > 0.5 * F.col("_qty"))
              .select("ps_suppkey").distinct())
    return (nat_sup.join(qual, F.col("s_suppkey") == F.col("ps_suppkey"),
                         "left_semi")
                   .select("s_suppkey", "s_name")
                   .orderBy("s_name"))


# =====================================================================
# round-6 retrieval/similarity additions
# =====================================================================

def q_dedup_prefix_jaccard(spark, sf_dir):
    """Prefix-filtered exact Jaccard pairs at 3/5 (operators/dedup.py
    prefix_filter_jaccard_pairs — the Bayardo/SSJoin prefix index): each
    doc indexes only its |s|-ceil(t|s|)+1 RAREST shingles, candidates
    verified from full sets. Lossless by the pigeonhole theorem — which
    the oracle PROVES, because it is the exhaustive full-index join with
    no prefix logic at all: any prefix miss would hash-mismatch.
    Required-overlap arithmetic is pure integer, so no float boundary
    can shorten a prefix differently per engine."""
    from .operators.dedup import prefix_filter_jaccard_pairs
    return prefix_filter_jaccard_pairs(_t(spark, sf_dir, "documents"),
                                       n=3, t_num=3, t_den=5)


BM25_QUERY_TERMS = ("hash", "join", "vector", "stream")


def q_text_bm25_topk(spark, sf_dir):
    """BM25-family top-10 retrieval for a fixed query (operators/text.py
    bm25_topk): tf-saturation x odds-ratio idf (log-free — ln's last-ulp
    varies across libms, the rational form is a fixed chain of
    correctly-rounded IEEE ops; per-term it is a monotone transform of
    log-BM25). One corpus scan, tiny df/stats frames broadcast back,
    deterministic (score desc, doc_id) top-k."""
    from .operators.text import bm25_topk
    return bm25_topk(_t(spark, sf_dir, "documents"),
                     list(BM25_QUERY_TERMS), k=10)


def _copurchase_edges(spark, sf_dir, edges_per_supplier: int = 8):
    """Supplier co-purchase projection: the TOP 8x|supplier| undirected
    (u, v) pairs by shared-customer count (deterministic total order
    (shared desc, u, v) — no threshold dial, so the graph keeps a
    nontrivial density at every scale factor where a fixed cutoff goes
    empty or complete). The quadratic projection term is bounded per
    customer by their supplier-list size (the usual co-occurrence cap);
    the top-k is a TakeOrdered over the pair counts, no global sort."""
    k = edges_per_supplier * _t(spark, sf_dir, "supplier").count()
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    cs = (o.join(li, o.o_orderkey == li.l_orderkey)
          .select(F.col("o_custkey").alias("c"),
                  F.col("l_suppkey").alias("s"))
          .distinct())
    a = cs.select("c", F.col("s").alias("u"))
    b = cs.select("c", F.col("s").alias("v"))
    return (a.join(b, "c")
            .filter(F.col("u") < F.col("v"))
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("_shared"))
            .orderBy(F.col("_shared").desc(), "u", "v")
            .limit(int(k))
            .select(F.col("u").alias("doc_a"), F.col("v").alias("doc_b")))


def q_op_triangle_count(spark, sf_dir):
    """Per-node triangle counts over the supplier co-purchase graph
    (operators/graph.py triangle_counts — the degree-oriented wedge
    join, Suri & Vassilvitskii WWW'11: every edge oriented low-degree ->
    high-degree bounds each out-list at O(sqrt(E)), so a hub can never
    square its adjacency). The oracle is the EXHAUSTIVE canonical
    triple-join with no orientation logic — any orientation bug would
    hash-mismatch. Pure integer joins, bit-exact."""
    from .operators.graph import triangle_counts
    return triangle_counts(_copurchase_edges(spark, sf_dir))


def q_op_pagerank(spark, sf_dir):
    """Integer-scaled PageRank, 3 iterations, over the bidirectional
    customer<->supplier purchase graph (operators/graph.py
    pagerank_units): ranks flow in exact BIGINT units with floor
    division per edge, so the fixpoint path is partitioning- and
    order-independent and the oracle replays it as three unrolled CTE
    iterations — the canonical iterative-algorithm-on-Spark shape with
    a bit-exact differential check. Supplier nodes are offset by 10^7
    to disjoin the id spaces."""
    from .operators.graph import pagerank_units
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    cs = (o.join(li, o.o_orderkey == li.l_orderkey)
          .select(F.col("o_custkey").alias("c"),
                  (F.col("l_suppkey") + F.lit(10_000_000)).alias("s"))
          .distinct())
    edges = (cs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
             .unionByName(cs.select(F.col("s").alias("src"),
                                    F.col("c").alias("dst"))))
    return (pagerank_units(edges, iters=3)
            .select(F.col("node"), F.col("rank_units")))


def q_op_graph_bfs(spark, sf_dir):
    """Hop-bounded BFS distances from the minimum supplier node over the
    co-purchase graph (operators/graph.py bfs_distances): per-round work
    is frontier-sized (anti-join drops visited), distances are exact
    integers, and the oracle replays the identical bound as a
    depth-limited recursive CTE walk + MIN — the third iterative graph
    kernel beside connected components and PageRank."""
    from .operators.graph import bfs_distances
    # lazy checkpoint BEFORE the eager source-min probe: the probe
    # materializes the (expensive) co-purchase pipeline, and without
    # the checkpoint bfs_distances' sym build re-derives it (shuffle
    # reuse softens but does not eliminate the recompute)
    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    src = edges.agg(F.min(F.least("doc_a", "doc_b"))).first()[0]
    return bfs_distances(edges, src, max_hops=4)


def q_dedup_containment(spark, sf_dir):
    """Overlap-coefficient (containment) near-dup pairs at 4/5
    (operators/dedup.py ngram_containment_pairs): |A∩B|/min(|A|,|B|) —
    the doc-within-doc detector a Jaccard threshold structurally misses
    (a short doc quoted inside a long one has high containment, low
    Jaccard). Same inverted-index single-shuffle plan as the Jaccard
    family; integer boundary compare. max_df=None here: exact
    coefficients, the capped mode is the scale default."""
    from .operators.dedup import ngram_containment_pairs
    return ngram_containment_pairs(_t(spark, sf_dir, "documents"),
                                   n=3, t_num=4, t_den=5, max_df=None)


def q_op_group_cap(spark, sf_dir):
    """Deterministic per-group row cap — at most 15 documents per source,
    elected by md5(doc_id) order (the 'at most N docs per domain'
    training-data mixing rule; hash order makes the cap a stable uniform
    sample, not a scan-order artifact). One window per group; the
    WindowGroupLimit pushes rank<=K below the exchange so the shuffle
    carries ~K rows per group per map partition."""
    from pyspark.sql.window import Window

    from .operators.dedup import md5_hash60
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        md5_hash60(F.col("doc_id").cast("string")).asc(),
        F.col("doc_id").asc())
    return (d.withColumn("_rn", F.row_number().over(w))
             .filter(F.col("_rn") <= 15)
             .select("doc_id", "source",
                     F.col("_rn").cast("long").alias("rank_in_source")))


def q_op_equidepth_histogram(spark, sf_dir):
    """Equi-depth (equal-count) 10-bucket histogram of order totals —
    the quantile-bucket profile that drives range partitioning and skew
    diagnosis (the fixed-WIDTH twin is op-histogram; the sketch twin is
    sketch-quantile). Buckets come from ``rank.exact_ntile`` — the
    distributed two-pass exact rank — bit-identical to the ANSI
    ntile(10) the oracle still runs, but never a single-task global
    sort: the r6–r9 plan's unpartitioned window pushed the whole orders
    table through ONE task (judged `weak` r9; replaced r10). The total
    order (price, orderkey tiebreak) is deterministic in both engines;
    per-bucket min/max/count aggregate map-side."""
    from .operators.rank import exact_ntile
    o = _t(spark, sf_dir, "orders")
    b = exact_ntile(o.select("o_totalprice", "o_orderkey"), 10,
                    "o_totalprice", tiebreak=["o_orderkey"], out="bucket")
    return (b.groupBy("bucket")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.round(F.min("o_totalprice"), 2).alias("lo"),
                  F.round(F.max("o_totalprice"), 2).alias("hi"))
             .select(F.col("bucket").cast("long").alias("bucket"),
                     "n", "lo", "hi"))


def q_plan_leakproof_split(spark, sf_dir):
    """Leakage-proof train/val/test split: every document is assigned by
    the md5 hash of its NEAR-DUP CLUSTER id (jaccard >= 0.2 connected
    components), so a near-duplicate of a validation document can never
    land in train — the group-aware splitting rule every serious
    training-data pipeline needs and a naive per-doc hash split
    violates. Composition: pair graph -> auto-selected connected
    components -> deterministic md5 threshold on cluster_id (10% test,
    10% val, 80% train); the whole chain replays in one recursive-CTE
    oracle. An invariant test pins the no-straddling property
    (tests/test_round6.py)."""
    from .operators.dedup import (
        dedup_clusters_auto,
        md5_hash60,
        ngram_jaccard_pairs,
    )
    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, n=3, threshold=0.2, max_df=None)
    clusters = dedup_clusters_auto(pairs.select("doc_a", "doc_b"),
                                   d.select("doc_id"))
    h = md5_hash60(F.col("cluster_id").cast("string")) % 1000
    split = (F.when(h < 100, "test")
              .when(h < 200, "val")
              .otherwise("train"))
    return clusters.select("doc_id", "cluster_id", split.alias("split"))


def q_op_skyline(spark, sf_dir):
    """2-D part skyline — cheapest-for-its-size Pareto frontier over
    (p_retailprice minimize, p_size maximize) via the per-cost-group
    running-max rewrite (operators/relational.py skyline_2d: two
    shuffles, the only unpartitioned sort sees the collapsed per-cost
    frame). The oracle is the naive O(n²) NOT EXISTS domination
    self-join — any rewrite bug (tie handling, strictness) would
    hash-mismatch."""
    from .operators.relational import skyline_2d
    p = _t(spark, sf_dir, "part")
    return (skyline_2d(p, "p_retailprice", "p_size")
            .select("p_partkey", "p_name", "p_retailprice",
                    F.col("p_size").cast("long").alias("p_size")))



# =====================================================================
# round-6b ML-pipeline batch: label propagation, recommenders, feature
# engineering, significance testing, sampling, sequence models, data
# forensics, quantization, and Bloom-prefiltered joins
# =====================================================================

def q_op_knn_classify(spark, sf_dir):
    """kNN label propagation (operators/ml.py knn_classify): the held-out
    5% of embeddings (vec_id % 20 == 0) take the majority label of their
    5 nearest labeled neighbors by cosine. Broadcast query batch, one
    corpus scan, tiny top-k + vote shuffles; vote ties break to the
    smaller label, so the prediction is a total order both engines walk
    identically."""
    from .operators.ml import knn_classify
    e = _t(spark, sf_dir, "embeddings")
    return knn_classify(e.filter(F.col("vec_id") % 20 == 0),
                        e.filter(F.col("vec_id") % 20 != 0), k=5)


def q_op_item_cf(spark, sf_dir):
    """Item-item collaborative filtering over order baskets
    (operators/ml.py item_item_cf): cosine on the part-order incidence
    matrix, top-3 recommendations per part with support >= 2. The
    self-join is keyed on the basket id (quadratic only within a basket,
    bounded by basket size); counts are exact integers, the sqrt+divide
    is one fixed double chain per surviving pair."""
    from .operators.ml import item_item_cf
    li = _t(spark, sf_dir, "lineitem")
    return item_item_cf(li, "l_orderkey", "l_partkey",
                        min_support=2, k=3)


def q_op_target_encode(spark, sf_dir):
    """Smoothed mean target encoding (operators/ml.py target_encode) of
    part brand against the returned-flag label: empirical-Bayes shrinkage
    (m=20) toward the broadcast global mean. Two map-side-combinable
    integer aggregations; encoding is one fixed double chain."""
    from .operators.ml import target_encode
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return target_encode(joined, "p_brand",
                         (F.col("l_returnflag") == "R").cast("int"))


def q_op_chi2_terms(spark, sf_dir):
    """Chi-square feature selection (operators/ml.py chi2_terms): the 20
    tokens most associated with lang='en' by document frequency, df >= 5.
    One distinct (doc, term) explode, exact integer contingency cells,
    the chi2 polynomial in a fixed double association order — the oracle
    orders by the same rounded statistic so ties resolve identically."""
    from .operators.ml import chi2_terms
    d = _t(spark, sf_dir, "documents")
    return chi2_terms(d, "text", (F.col("lang") == "en").cast("int"),
                      top_k=20, min_df=5)


def q_op_welch_ttest(spark, sf_dir):
    """Welch two-sample t-test (operators/ml.py welch_ttest) between the
    click and view event values: exact DECIMAL-cents sums (one
    map-side-combinable aggregation), then mean/variance/t/df as fixed
    double chains — the A/B significance primitive, one row out."""
    from .operators.ml import welch_ttest
    ev = _t(spark, sf_dir, "events")
    return welch_ttest(ev, "event_type", F.col("value"), "click", "view")


def q_op_weighted_sample(spark, sf_dir):
    """Weight-proportional systematic (PPS) sample of orders by price
    (operators/ml.py weighted_systematic_sample): 64 hash shards x 8
    picks, md5-permuted order, exact BIGINT threshold crossings — no
    transcendental sampling keys, so both engines select the identical
    set. The windows are per-shard (parallel, no global sort)."""
    from .operators.ml import weighted_systematic_sample
    o = _t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100) \
        .cast("decimal(18,0)").cast("long")
    return weighted_systematic_sample(o, "o_orderkey", cents,
                                      per_shard=8, shards=64)


def q_op_markov_transitions(spark, sf_dir):
    """First-order Markov transition model over per-user event sequences
    (operators/ml.py markov_transitions): LAG over (ts, event_id) order,
    integer transition counts, per-source probabilities from a broadcast
    normalizer — the session-flow model behind funnel discovery and
    synthetic-sequence generation."""
    from .operators.ml import markov_transitions
    ev = _t(spark, sf_dir, "events")
    return markov_transitions(ev, "user_id", "event_type",
                              ["ts", "event_id"])


def q_op_benford(spark, sf_dir):
    """Benford first-digit forensics on order totals
    (operators/stats.py benford_profile): digit from the STRING of the
    exact BIGINT cents (integer rendering is engine-identical; double
    rendering is not), expected shares as hardcoded literals — no
    query-time log10. One 9-row aggregation."""
    from .operators.stats import benford_profile
    o = _t(spark, sf_dir, "orders")
    return benford_profile(o, F.col("o_totalprice"))


def q_op_key_profile(spark, sf_dir):
    """Join-key skew profile of lineitem.l_partkey
    (operators/stats.py key_profile): the one-row diagnostic read before
    choosing shuffle vs AQE-skew vs salted join. Exact integer counts;
    percentile interpolation recovered by round(4) (op-percentiles
    argument)."""
    from .operators.stats import key_profile
    li = _t(spark, sf_dir, "lineitem")
    return key_profile(li, "l_partkey")


def q_op_anomaly_seasonal(spark, sf_dir):
    """Seasonal-profile volume anomalies (operators/timeseries.py
    seasonal_anomaly): hourly event counts vs the same-hour-of-day
    mean/std across days, |z| >= 2 flagged. Integer epoch-second
    bucketing (timezone-free), exact integer sums, one sqrt at the edge;
    the 24-row seasonal profile is broadcast."""
    from .operators.timeseries import seasonal_anomaly
    ev = _t(spark, sf_dir, "events")
    return seasonal_anomaly(ev, "ts", z_threshold=2.0)


def q_sim_quantize_int8(spark, sf_dir):
    """Int8 scalar-quantization audit (operators/similarity.py
    quantize_int8_error): per-dimension corpus range, floor(+0.5)
    quantize, per-vector MAX reconstruction error (order-independent,
    unlike a mean — that is what makes the audit oracle-checkable) plus
    a saturation count. Every step is +-*/ floor abs — no libm."""
    from .operators.similarity import quantize_int8_error
    return quantize_int8_error(_t(spark, sf_dir, "embeddings"))


def q_op_bloom_prefilter(spark, sf_dir):
    """Bloom-prefiltered exact semi-join (operators/relational.py
    bloom_prefilter_semi_join): lineitem rows of top-2% orders, pruned
    map-side by a 2^17-bit / 3-hash bitmap (three BroadcastHashJoin LEFT
    SEMI probes, zero shuffle of the fact side) before the exact
    semi-join. The filter never affects the answer — false positives die
    in the exact join — so the oracle is the plain semi-join aggregate."""
    from .operators.relational import bloom_prefilter_semi_join
    li = _t(spark, sf_dir, "lineitem")
    hv = (_t(spark, sf_dir, "orders")
          .filter(F.col("o_totalprice") > 490000)
          .select("o_orderkey"))
    bl = bloom_prefilter_semi_join(li, hv, "l_orderkey", "o_orderkey")
    return bl.agg(
        F.count(F.lit(1)).alias("n_rows"),
        _dec_sum("l_quantity").alias("sum_qty"),
        F.countDistinct("l_orderkey").alias("n_orders"))



def q_op_drift_ks(spark, sf_dir):
    """Binned two-sample KS drift (operators/ml.py ks_drift) on the
    order-price distribution, pre-1996 reference vs 1996+ current:
    $1000 bins, exact-integer ECDF gap numerator in DECIMAL(38,0), one
    double division at the edge. The train/serve feature-drift test."""
    from .operators.ml import ks_drift
    o = _t(spark, sf_dir, "orders")
    bins = F.expr(
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        " DIV 100000")
    return ks_drift(o, bins, F.col("o_orderdate") >= F.lit("1996-01-01"))


def q_op_drift_bins(spark, sf_dir):
    """Per-bin drift audit (operators/ml.py drift_bins) on order price,
    $25k bins, pre-1996 vs 1996+: per-bin shares plus the log-free
    chi-square contribution (the PSI analog under this repo's no-ln
    contract). Each bin's term is a fixed double chain over exact
    DECIMAL(38,0) cross products — no cross-row double sums."""
    from .operators.ml import drift_bins
    o = _t(spark, sf_dir, "orders")
    bins = F.expr(
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        " DIV 2500000")
    return drift_bins(o, bins, F.col("o_orderdate") >= F.lit("1996-01-01"))


def q_op_gini_diversity(spark, sf_dir):
    """Per-source language-mix diversity over the document corpus
    (operators/ml.py gini_diversity): Gini impurity + inverse Simpson
    ("effective languages") on exact integer counts — the source-mix
    audit run before corpus sampling. Entropy's ln is deliberately
    replaced (cross-engine ulp contract)."""
    from .operators.ml import gini_diversity
    d = _t(spark, sf_dir, "documents")
    return gini_diversity(d, "source", "lang").orderBy("grp")


def q_op_cramers_v(spark, sf_dir):
    """Cramer's V association between order priority and order status
    (operators/ml.py cramers_v): the feature-redundancy / leakage screen.
    Exact integer cell counts; per-cell chi-square terms are fixed double
    chains scaled to exact BIGINT before the cross-cell sum."""
    from .operators.ml import cramers_v
    o = _t(spark, sf_dir, "orders")
    return cramers_v(o, "o_orderpriority", "o_orderstatus")


def q_text_lm_likelihood(spark, sf_dir):
    """Corpus-self-trained bigram LM quality score per document
    (operators/text.py lm_likelihood): add-one smoothed mean bigram
    probability in ppm, exact integer scaling end-to-end (Spark DECIMAL
    DIV == DuckDB HUGEINT //). The CCNet-style LM filter, log-free."""
    from .operators.text import lm_likelihood
    d = _t(spark, sf_dir, "documents")
    return lm_likelihood(d)



def q_plan_feature_store(spark, sf_dir):
    """Customer feature store (plans/features.py customer_feature_store):
    RFM + order-shape + modal priority + segment target encoding +
    activity label in one wide deterministic table — the composite a
    training pipeline materializes before model fitting. Left-join
    semantics keep orderless customers (dropping them is silent training
    skew); integer-space rounding everywhere a quotient is emitted."""
    from .plans.features import customer_feature_store
    return customer_feature_store(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"))



def q_plan_rag_context(spark, sf_dir):
    """RAG context assembly (plans/rag.py rag_contexts): the 5
    lowest-id docs retrieve their top-3 DIVERSE contexts from the rest
    of the corpus — log-free BM25 scoring with exact-integer-micro
    ranking, then the rank-greedy Jaccard>4/5 diversity drop expressed
    as a NOT-EXISTS (9*inter > 4*(|A|+|B|), no division). The
    serving-side retrieval composite."""
    from .plans.rag import rag_contexts
    return rag_contexts(_t(spark, sf_dir, "documents"),
                        n_queries=5, k=3)



def q_dedup_minhash_recall(spark, sf_dir):
    """Approximation-quality audit of the MinHash-LSH dedup path: its
    verified pairs vs the exact Jaccard truth at the same threshold
    (operators/dedup.py minhash_lsh_pairs_md5 vs
    prefix_filter_jaccard_pairs). Recall is the banding miss rate made
    visible (an S-curve tail miss is silent data skew in production);
    precision is 1.0 by construction (candidates are exact-verified) and
    is asserted here rather than assumed. Ratio rounding happens in exact
    integer space ((2a+b) DIV 2b) — no float tie can split the engines.

    The truth side is the LOSSLESS prefix-filter join at t = 1/5 (r7:
    replaces the exhaustive full-index join, whose quadratic hot-posting
    term made this audit the repo's one super-linear SCALING row at
    12.7x/decade). Equivalence is exact, not approximate: prefix
    filtering is a pigeonhole theorem (every J >= t pair collides on a
    rarest-first prefix entry) and the integer compare 5i >= u selects
    the same set as the oracle's double i/u >= 0.2 because the smallest
    ratio step 1/(5u) dwarfs the 1-ulp gap at 0.2 — so the DuckDB twin
    STAYS the exhaustive join, proving losslessness on every run.

    Both pair frames are persisted (tiny: |pairs| rows): each feeds its
    own count AND the intersection count, and without the barrier the
    two heaviest joins of the repo would execute twice inside the one
    crossJoin action — measured as the difference between completing
    and dying on spill disk at the 500k-doc decade.

    r8: the truth side's verify stage broadcasts the (id -> shingles)
    map under a 2M-doc corpus bound (stage timing at 500k docs put 447s
    of the 488s truth wall in the verify join's array freight — 76.6M
    candidates x two full shingle arrays ≈ 64 GB through one disk; the
    broadcast form ships the 250 MB map once and streams candidates
    through it). Past the bound the dial reverts to the shuffle-join
    verify, whose volume is linear and spreads across a cluster's
    disks — or to the sampled audit, the actual production path."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    truth = cache.tracked_persist(dedup.prefix_filter_jaccard_pairs(
        docs, n=3, t_num=1, t_den=5, hashed=True,
        verify_broadcast=n_docs <= 2_000_000
    ).select("doc_a", "doc_b"))
    lsh = cache.tracked_persist(dedup.minhash_lsh_pairs_md5(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.2
    ).select("doc_a", "doc_b"))
    both = truth.join(lsh, ["doc_a", "doc_b"]).select("doc_a")
    t = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    l = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    b = both.agg(F.count(F.lit(1)).alias("n_both"))
    r6 = ("CAST(CAST((2 * CAST(n_both AS DECIMAL(38,0)) * 1000000"
          " + n_truth) DIV CAST(2 * n_truth AS DECIMAL(38,0)) AS DOUBLE)"
          " / 1000000.0 AS DOUBLE)")
    p6 = ("CAST(CAST((2 * CAST(n_both AS DECIMAL(38,0)) * 1000000"
          " + n_lsh) DIV CAST(2 * n_lsh AS DECIMAL(38,0)) AS DOUBLE)"
          " / 1000000.0 AS DOUBLE)")
    return (t.crossJoin(l).crossJoin(b)
             .selectExpr("n_truth", "n_lsh", "n_both",
                         f"{r6} AS recall_r", f"{p6} AS precision_r"))



def q_stream_drift(spark, sf_dir):
    """Streaming drift monitor (streaming/windows.py streaming_drift):
    per-day event-value histograms computed by the STREAMING engine
    (watermarked tumbling window, complete-mode drain), then scored
    cell-by-cell against the full-corpus reference with the log-free
    goodness-of-fit chi-square — drift_bins' streaming face. No
    cross-row double sums; every cell term is a fixed double chain over
    exact integer cross products."""
    from .streaming.windows import streaming_drift
    return streaming_drift(spark, sf_dir, query_name="q_stream_drift")



def q_op_markov_eval(spark, sf_dir):
    """In-sample hit-rate@1 of the Markov next-event model
    (operators/ml.py markov_self_eval): the modal-next-state baseline
    every sequence model is compared against. Same transition window as
    op-markov-transitions; the argmax model scores the (src, dst)
    aggregate, not the raw stream; exact-integer accuracy rounding."""
    from .operators.ml import markov_self_eval
    ev = _t(spark, sf_dir, "events")
    return markov_self_eval(ev, "user_id", "event_type",
                            ["ts", "event_id"])



def q_op_te_calibration(spark, sf_dir):
    """Reliability audit of the brand target encoding (operators/ml.py
    te_calibration): rows binned by their category's encoded score,
    mean predicted vs observed return rate per decile bin. enc_micro is
    an exact integer (enc_r is pre-rounded), so the per-bin sums are
    integer arithmetic — no float accumulation anywhere."""
    from .operators.ml import te_calibration
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return te_calibration(joined, "p_brand",
                          (F.col("l_returnflag") == "R").cast("int"),
                          bins=10)


def q_op_negative_sample(spark, sf_dir):
    """Deterministic hash-based negative sampling (operators/ml.py
    negative_sample): 2 md5-drawn supplier negatives per distinct
    (customer, supplier) positive, corrected against true positives —
    the reproducible contrastive-pair generator for embedding/recsys
    training data."""
    from .operators.ml import negative_sample
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pos = (li.join(o, li.l_orderkey == o.o_orderkey)
             .select(F.col("o_custkey").alias("usr"),
                     F.col("l_suppkey").alias("item")))
    sup = _t(spark, sf_dir, "supplier")
    return negative_sample(pos,
                           sup.select(F.col("s_suppkey").alias("item")),
                           "usr", "item", m=2)



def q_plan_corpus_report(spark, sf_dir):
    """Dataset-card summary of the document corpus in one row: volume,
    vocabulary-bearing token mass, language/source mix, and the exact
    duplication rate — the numbers a training-data release publishes
    (and re-verifies on every refresh). Pure combinable aggregations +
    one exact-dup groupBy; ratios round in exact integer space."""
    d = _t(spark, sf_dir, "documents")
    toks = F.size(F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
        lambda t: t != ""))
    base = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(toks.cast("decimal(38,0)")).cast("long").alias("n_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("text").alias("_uniq"))
    dup = ("CAST(CAST((2 * CAST(n_docs - _uniq AS DECIMAL(38,0)) * 1000000"
           " + n_docs) DIV CAST(2 * n_docs AS DECIMAL(38,0)) AS DOUBLE)"
           " / 1000000.0 AS DOUBLE)")
    mean_t = ("CAST(CAST((2 * CAST(n_tokens AS DECIMAL(38,0)) * 1000000"
              " + n_docs) DIV CAST(2 * n_docs AS DECIMAL(38,0)) AS DOUBLE)"
              " / 1000000.0 AS DOUBLE)")
    return base.selectExpr(
        "n_docs", "n_tokens", "n_langs", "n_sources",
        f"{dup} AS dup_rate_r", f"{mean_t} AS mean_tokens_r")



def q_op_auc(spark, sf_dir):
    """Exact rank-sum ROC AUC (operators/ml.py auc_score) of the brand
    target-encoding against the returned-flag label — discrimination to
    pair with op-te-calibration's reliability. Mann-Whitney with
    tie-averaged ranks in PURE INTEGER arithmetic (2*avg_rank = lo+hi);
    zero float ops before the final division."""
    from .operators.ml import auc_score, target_encode
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    enc = target_encode(joined, "p_brand",
                        (F.col("l_returnflag") == "R").cast("int"))         .select("category",
                F.expr("CAST(round(enc_r * 1000000.0) AS BIGINT)")
                 .alias("_em"))
    rows = (joined.select(F.col("p_brand").alias("category"),
                          (F.col("l_returnflag") == "R").cast("int")
                           .alias("_y"))
                  .join(F.broadcast(enc), "category"))
    return auc_score(rows, F.col("_em"), F.col("_y"))



def q_dedup_minhash_recall_sampled(spark, sf_dir):
    """The production-scale form of dedup-minhash-recall: the audit runs
    on a DETERMINISTIC 1-in-5 md5 stratum of the corpus, so the uncapped
    exact-jaccard truth side costs a fixed fraction of the corpus no
    matter how large the corpus grows. Same md5 bucket as
    op-sample-hash: reruns audit the identical stratum. r7: the stratum
    truth side also moved to the lossless prefix-filter join (same
    theorem as the full audit; the oracle stays exhaustive), so BOTH
    audit forms are now sub-quadratic — the sampling here buys the
    constant factor, not the exponent."""
    d = _t(spark, sf_dir, "documents").filter(
        F.expr("CAST(CONV(SUBSTRING(MD5(CAST(doc_id AS STRING)), 1, 15),"
               " 16, 10) AS BIGINT) % 5 = 0"))
    # same r8 verify-broadcast dial as the full audit, gated on the
    # STRATUM size (the frame the verify map is built over)
    truth = cache.tracked_persist(dedup.prefix_filter_jaccard_pairs(
        d, n=3, t_num=1, t_den=5, hashed=True,
        verify_broadcast=d.count() <= 2_000_000
    ).select("doc_a", "doc_b"))
    lsh = cache.tracked_persist(
        dedup.minhash_lsh_pairs_md5(d, n=3, threshold=0.2)
        .select("doc_a", "doc_b"))
    both = truth.join(lsh, ["doc_a", "doc_b"]).select("doc_a")
    t = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    l = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    b = both.agg(F.count(F.lit(1)).alias("n_both"))
    r6 = ("CAST(CAST((2 * CAST(n_both AS DECIMAL(38,0)) * 1000000"
          " + n_truth) DIV CAST(2 * n_truth AS DECIMAL(38,0)) AS DOUBLE)"
          " / 1000000.0 AS DOUBLE)")
    return (t.crossJoin(l).crossJoin(b)
             .selectExpr("n_truth", "n_lsh", "n_both",
                         f"CASE WHEN n_truth > 0 THEN {r6} END"
                         " AS recall_r"))



def q_sim_lsh_recall(spark, sf_dir):
    """ANN recall@k audit — the vector-family twin of
    dedup-minhash-recall: the md5 sign-bucket LSH top-5 joined against
    the exact brute-force top-5 per query, per-query hit counts and
    exact-integer recall — PLUS the same audit for the Hamming-1
    multiprobe variant, quantifying the recall the probe expansion buys
    back. The number a serving pipeline watches when it trades the
    exact scan for the bucketed path."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    bf = similarity.brute_force_topk(q, e, k=5) \
        .select("query_id", "vec_id")
    lsh = similarity.lsh_bucket_topk(q, e, k=5, dim=64) \
        .select("query_id", "vec_id")
    mp = similarity.lsh_multiprobe_topk(q, e, k=5, dim=64) \
        .select("query_id", "vec_id")
    hits = bf.join(lsh, ["query_id", "vec_id"]) \
             .groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits"))
    mph = bf.join(mp, ["query_id", "vec_id"]) \
            .groupBy("query_id").agg(F.count(F.lit(1)).alias("n_mp_hits"))
    nbf = bf.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    nl = lsh.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_lsh"))

    def rec(hit_col, out):
        return (f"CAST(CAST((2 * CAST({hit_col} AS DECIMAL(38,0)) * 1000000"
                f" + n_exact) DIV CAST(2 * n_exact AS DECIMAL(38,0))"
                f" AS DOUBLE) / 1000000.0 AS DOUBLE) AS {out}")

    return (nbf.join(nl, "query_id", "left")
               .join(hits, "query_id", "left")
               .join(mph, "query_id", "left")
               .na.fill(0, ["n_lsh", "n_hits", "n_mp_hits"])
               .selectExpr("query_id", "n_exact", "n_lsh", "n_hits",
                           rec("n_hits", "recall_r"), "n_mp_hits",
                           rec("n_mp_hits", "mp_recall_r"))
               .orderBy("query_id"))



def q_plan_session_features(spark, sf_dir):
    """Per-session behavioral feature table (plans/features.py
    session_features): gap-based sessions (30-min, µs precision — the
    op-sessionize islands) aggregated into model-ready features with the
    conversion label. One user-window + one combinable aggregation."""
    from .plans.features import session_features
    return session_features(_t(spark, sf_dir, "events"))



def q_op_ab_srm(spark, sf_dir):
    """A/B sample-ratio-mismatch check: deterministic md5 unit
    assignment (the same cross-engine bucket as op-sample-hash — rerun
    = same arms) over distinct event users, then the 2-arm chi-square
    goodness-of-fit vs the intended 50/50, (nA-nB)^2/n exactly. The
    first guardrail every experimentation platform runs; srm_flag
    trips at the df=1 95% critical value 3.84."""
    ev = _t(spark, sf_dir, "events")
    units = ev.select("user_id").distinct().select(
        F.expr("CAST(CONV(SUBSTRING(MD5(CAST(user_id AS STRING)), 1, 15),"
               " 16, 10) AS BIGINT) % 2").alias("arm"))
    g = units.groupBy("arm").agg(F.count(F.lit(1)).alias("n"))
    a = g.filter(F.col("arm") == 0).select(F.col("n").alias("n_a"))
    b = g.filter(F.col("arm") == 1).select(F.col("n").alias("n_b"))
    j = a.crossJoin(b)
    chi2 = ("CAST(CAST(n_a AS DECIMAL(38,0)) - n_b AS DOUBLE)"
            " * CAST(CAST(n_a AS DECIMAL(38,0)) - n_b AS DOUBLE)"
            " / CAST(CAST(n_a AS DECIMAL(38,0)) + n_b AS DOUBLE)")
    return j.selectExpr("n_a + n_b AS n_units", "n_a", "n_b",
                        f"round({chi2}, 6) AS chi2_r",
                        f"CAST({chi2} > 3.84 AS INT) AS srm_flag")


def q_op_linreg2_group(spark, sf_dir):
    """Per-returnflag TWO-feature least squares of extended price on
    quantity and ship month, via the closed 2x2 normal equations over
    exact DECIMAL(38,0) sufficient statistics
    (operators/stats.grouped_linreg2) — the multivariate step after
    op-linreg-group, still ONE map-side-combinable aggregation with
    floats only as fixed-order IEEE ops over the exact sums, so the
    coefficients hash-match DuckDB bit-for-bit."""
    from .operators.stats import grouped_linreg2
    li = _t(spark, sf_dir, "lineitem")
    return grouped_linreg2(li, "l_returnflag", F.col("l_quantity"),
                           F.month("l_shipdate"),
                           F.col("l_extendedprice"))


def q_op_ndcg_retrieval(spark, sf_dir):
    """Per-user NDCG@10 of the value-ranked event feed against graded
    relevance (purchase=3, signup=2, click=1, view/error=0) —
    operators/ml.ndcg_at_k. The retrieval-eval twin of the BM25/ANN
    family: gains are exact 2^rel−1 BIGINTs, discounts come from a
    LITERAL integer-micro 1/log2(i+1) table shared verbatim with the
    oracle, so DCG/IDCG are exact integer sums and the only float op is
    the final divide. One hash exchange on user_id feeds both window
    sorts; no transcendental ever runs in either engine."""
    from .operators.ml import ndcg_at_k
    ev = _t(spark, sf_dir, "events")
    rel = (F.when(F.col("event_type") == "purchase", 3)
            .when(F.col("event_type") == "signup", 2)
            .when(F.col("event_type") == "click", 1).otherwise(0))
    return ndcg_at_k(ev, "user_id", F.col("value"), rel,
                     F.col("event_id"), k=10).withColumnRenamed(
        "query", "user_id")


def q_op_cohens_kappa(spark, sf_dir):
    """Cohen's kappa between two heuristic document raters — a
    char-length bucket (n_chars) and a whitespace-token bucket
    (text.token_count) — operators/ml.cohens_kappa. The
    inter-annotator-agreement gate a labeling pipeline runs before
    trusting one heuristic as ground truth for another: exact integer
    contingency counts, margins joined at |labels| cardinality, and
    po/pe/kappa as fixed-order IEEE ops over the exact values."""
    from .operators.ml import cohens_kappa
    from .operators import text as text_ops
    d = _t(spark, sf_dir, "documents")
    chars = (F.when(F.col("n_chars") < 200, "S")
              .when(F.col("n_chars") < 380, "M").otherwise("L"))
    tok = text_ops.token_count(F.col("text"))
    tokens = F.when(tok < 40, "S").when(tok < 76, "M").otherwise("L")
    return cohens_kappa(d, chars, tokens)


def q_plan_corpus_mix(spark, sf_dir):
    """Corpus mixture rebalance to a uniform 20%-per-language target
    (plans/corpus.mixture_rebalance) — the data-mixing step of a
    training run, as deterministic hash-threshold sampling: the keep
    rule hash60(doc_id)·count_s < 2^60·want_s is pure DECIMAL(38,0)
    row-local arithmetic (HUGEINT in the oracle), so the corpus is
    never shuffled or window-ranked; the only data-sized work is two
    combinable count aggregations. Reports target vs realized mix per
    stratum."""
    from .plans.corpus import mixture_rebalance
    d = _t(spark, sf_dir, "documents")
    targets = {"de": 200000, "en": 200000, "es": 200000,
               "fr": 200000, "zh": 200000}
    return mixture_rebalance(d, "lang", targets)


def q_text_vocab_coverage(spark, sf_dir):
    """Per-source out-of-vocabulary audit against the corpus top-64
    vocabulary (operators/text.vocab_coverage): one explode pass feeds a
    combinable term-frequency agg; the 64-row vocab is ranked on the
    distinct-terms frame (never on data) and broadcast back as a LEFT
    marker; OOV shares are exact integer micros."""
    from .operators.text import vocab_coverage
    d = _t(spark, sf_dir, "documents")
    return vocab_coverage(d, "text", "source", vocab_size=64)


def q_sim_embed_centroids(spark, sf_dir):
    """Per-label embedding centroid + per-dimension dispersion in exact
    integer micros (operators/similarity.embed_centroids) — one
    combinable aggregation over the exploded corpus, output cardinality
    |labels|·dim. The class-geometry audit behind embedding drift
    detection; a float mean() would be partition-order-dependent, the
    micro-quantized DECIMAL(38,0) sums are not."""
    from .operators.similarity import embed_centroids
    e = _t(spark, sf_dir, "embeddings")
    return embed_centroids(e, "label", "embedding")


def q_op_mrr_retrieval(spark, sf_dir):
    """Per-user MRR@10 of the value-ranked event feed with binary
    relevance (purchase) — operators/ml.mrr_at_k, the binary companion
    to op-ndcg-retrieval: reciprocals come from a literal integer-micro
    table shared verbatim with the oracle, one window sort + one
    combinable aggregation, no division anywhere."""
    from .operators.ml import mrr_at_k
    ev = _t(spark, sf_dir, "events")
    return mrr_at_k(ev, "user_id", F.col("value"),
                    (F.col("event_type") == "purchase").cast("int"),
                    F.col("event_id"), k=10).withColumnRenamed(
        "query", "user_id")


def q_op_rrf_fusion(spark, sf_dir):
    """Hybrid-ranking fusion per user: reciprocal-rank fusion of the
    value ranker and the recency ranker over each user's events
    (operators/ml.rrf_fusion, k0=60 literal micro table, k=10,
    top_n=3). One hash exchange on user_id feeds all three window
    sorts; both ranks live on the candidate's own row, so there is no
    union or self-join."""
    from .operators.ml import rrf_fusion
    ev = _t(spark, sf_dir, "events")
    return (rrf_fusion(ev, "user_id", "event_id",
                       F.col("value"), F.col("ts"),
                       F.col("event_id"), k=10, top_n=3)
            .withColumnRenamed("query", "user_id")
            .withColumnRenamed("item", "event_id"))


def q_plan_hybrid_retrieval(spark, sf_dir):
    """Hybrid lexical+semantic retrieval (plans/rag.hybrid_retrieval):
    BM25 top-10 over documents and exact-cosine top-10 against the
    vec_id=0 query embedding, fused by reciprocal-rank fusion. Each
    ranker keeps its own optimal plan; fusion joins two 10-row frames,
    so the expensive sides never meet in a shuffle."""
    from .plans.rag import hybrid_retrieval
    return hybrid_retrieval(_t(spark, sf_dir, "documents"),
                            _t(spark, sf_dir, "embeddings"),
                            list(BM25_QUERY_TERMS),
                            query_vec_id=0, k=10, top_n=5)


def q_text_dsir_score(spark, sf_dir):
    """DSIR-style hashed-bigram importance score of every document
    against the English subset as the target distribution
    (operators/selection.dsir_importance): ONE aggregation of the raw
    bigram stream into (doc, bucket) multiplicities, <=4096-row bucket
    stats broadcast back onto it, log-free exact ppm ratios end to end
    — the cheap-classifier data-selection pass a 100 TB curation
    pipeline runs instead of scoring with a model."""
    from .operators.selection import dsir_importance
    d = _t(spark, sf_dir, "documents")
    return dsir_importance(d, d.filter(F.col("lang") == "en"),
                           buckets=4096)


def q_text_novelty(spark, sf_dir):
    """5-gram novelty of every non-src0 document against the src0
    reference corpus (operators/selection.ngram_novelty): DISTINCT
    60-bit gram hashes on both sides before the compact-key hit join —
    the before-you-add-a-source overlap audit."""
    from .operators.selection import ngram_novelty
    d = _t(spark, sf_dir, "documents")
    return ngram_novelty(d.filter(F.col("source") != "src0"),
                         d.filter(F.col("source") == "src0"), n=5)


def q_sim_semdedup(spark, sf_dir):
    """SemDeDup over the embeddings table at cosine >= 17/20
    (operators/similarity.semdedup): nearest-centroid quantizer, the
    quadratic pairwise stage confined WITHIN clusters, keep-lowest-id
    survivors — every comparison exact integer micro arithmetic, so the
    oracle replays the entire pipeline including the threshold test."""
    from .operators.similarity import semdedup
    return semdedup(_t(spark, sf_dir, "embeddings"), 17, 20)


def q_plan_kmeans_train(spark, sf_dir):
    """Trained-quantizer SemDeDup end to end (plans/corpus.
    kmeans_semdedup): 2 Lloyd training rounds seeded from the label
    column (operators/similarity.kmeans_train_assign — the driver-looped
    composition of sim-kmeans-step), relabel, then SemDeDup against the
    TRAINED clustering — train -> assign -> dedup in one gate-checked
    frame; the oracle replays the training unrolled round by round."""
    from .plans.corpus import kmeans_semdedup
    return kmeans_semdedup(_t(spark, sf_dir, "embeddings"), iters=2)


def q_sim_silhouette(spark, sf_dir):
    """Per-cluster simplified silhouette of the nearest-centroid
    quantizer (operators/similarity.cluster_silhouette) — the
    clustering-quality audit for the coarse quantizer SemDeDup and IVF
    hang off; O(n x |labels|) centroid form, exact integer throughout."""
    from .operators.similarity import cluster_silhouette
    return cluster_silhouette(_t(spark, sf_dir, "embeddings"))


def q_text_gopher_rules(spark, sf_dir):
    """Gopher/MassiveText rule battery (operators/text.gopher_rules):
    six boolean quality gates per document, every ratio test
    cross-multiplied into exact integer form — a single map-side scan,
    the first (and cheapest) pass of every corpus-cleaning pipeline."""
    return text.gopher_rules(_t(spark, sf_dir, "documents"))


def q_plan_curation_report(spark, sf_dir):
    """Corpus-intake curation funnel (plans/corpus.curation_report):
    Gopher gates computed IN the base projection, DSIR importance vs
    the English subset, threshold selection, per-(source, lang) intake
    report — the one-page table a curation review reads. The only
    corpus-sized shuffle is DSIR's own bigram aggregation."""
    from .plans.corpus import curation_report
    return curation_report(_t(spark, sf_dir, "documents"))


def q_text_corpus_tv(spark, sf_dir):
    """Per-source total-variation distance from the whole-corpus hashed
    token distribution (operators/selection.corpus_tv_distance) — the
    mixture-drift audit; one stream aggregation, <=4096-row broadcast
    stats, missing-bucket mass folded in closed form, exact ppm."""
    from .operators.selection import corpus_tv_distance
    return corpus_tv_distance(_t(spark, sf_dir, "documents"), "source")


def q_plan_semdedup_clean(spark, sf_dir):
    """Sequential lexical + semantic cleaning funnel
    (plans/corpus.semdedup_clean): Gopher gates -> one-pass exact dedup
    -> SemDeDup fitted on the SURVIVORS' embeddings, reported per
    (source, lang) as n_docs -> n_gopher -> n_exact -> n_final."""
    from .plans.corpus import semdedup_clean
    return semdedup_clean(_t(spark, sf_dir, "documents"),
                          _t(spark, sf_dir, "embeddings"))


def q_text_c4_rules(spark, sf_dir):
    """C4 line-oriented cleaning battery (operators/text.c4_rules):
    terminal-punctuation / min-words / javascript line gates plus the
    sentence-count, lorem-ipsum, and code-brace document gates — the
    boilerplate-pruning complement to text-gopher-rules, pure map-side."""
    from .operators.text import c4_rules
    return c4_rules(_t(spark, sf_dir, "documents"))


def q_text_contamination_coverage(spark, sf_dir):
    """Token-coverage decontamination at the 80% bar
    (operators/text.contamination_coverage): matched benchmark 5-gram
    windows merged gap-and-islands per doc, exact integer ppm coverage
    — the Llama-2-style refinement of the binary collision test."""
    from .operators.text import contamination_coverage
    return contamination_coverage(_t(spark, sf_dir, "documents"))


def q_op_bootstrap_ci(spark, sf_dir):
    """95% bootstrap CI for mean order value via the deterministic
    Poisson bootstrap (operators/stats.poisson_bootstrap_ci): 64
    replicas dealt from md5 ppm buckets against the literal Poisson(1)
    CDF table, exact-integer replica means, order-statistic bounds —
    one scan, no RNG, replayed bit-for-bit by the oracle."""
    from .operators.stats import poisson_bootstrap_ci
    return poisson_bootstrap_ci(_t(spark, sf_dir, "orders"),
                                "o_totalprice", "o_orderkey")


def q_op_train_split(spark, sf_dir):
    """Deterministic train/val/test assignment over the documents table
    (operators/selection.train_val_test_split): 60-bit md5 identity
    buckets, 10% test / 10% val ppm thresholds — stable under corpus
    growth so eval docs can never leak into later training sets; pure
    map-side projection, exact in ANSI SQL."""
    from .operators.selection import train_val_test_split
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return train_val_test_split(d).select("doc_id", "source", "split")


def q_op_k_anonymity(spark, sf_dir):
    """k-anonymity + l-diversity audit of the customer table under the
    (nation, market segment) quasi-identifier pair with account balance
    as the sensitive attribute (operators/stats.k_anonymity_audit) —
    the privacy release gate; one map-side-combinable aggregation."""
    from .operators.stats import k_anonymity_audit
    return k_anonymity_audit(_t(spark, sf_dir, "customer"),
                             ["c_nationkey", "c_mktsegment"], k=5,
                             sensitive_col="c_acctbal")


def q_sim_semdedup_incr(spark, sf_dir):
    """Incremental SemDeDup (operators/similarity.semdedup_incremental):
    admit the vec_id%5==0 batch against the rest as the existing index
    — quantizer frozen on the index, existing wins all ties, exact
    integer thresholds; the per-increment twin of the sim-semdedup
    rebuild."""
    from .operators.similarity import semdedup_incremental
    e = _t(spark, sf_dir, "embeddings")
    return semdedup_incremental(e.filter(F.col("vec_id") % 5 != 0),
                                e.filter(F.col("vec_id") % 5 == 0),
                                17, 20)


def q_sim_kmeans_step(spark, sf_dir):
    """One exact-integer Lloyd iteration over the embeddings table
    (operators/similarity.kmeans_step): vectorized assignment to the
    per-label centroids, then per-ASSIGNED-cluster centroid recompute —
    the trainable-quantizer step behind SemDeDup/IVF, oracle-replayed
    assign + regroup end to end."""
    from .operators.similarity import kmeans_step
    return kmeans_step(_t(spark, sf_dir, "embeddings"))


def q_stream_quality_gate(spark, sf_dir):
    """Streaming corpus-intake gate (streaming/windows.py
    streaming_quality_gate): Gopher rule battery as a stateless
    in-stream projection, per-source admission tally in complete mode,
    availableNow drain — state bounded by |sources|, never by volume.
    The oracle is the batch twin of the same gates."""
    from .streaming.windows import streaming_quality_gate
    return streaming_quality_gate(spark, sf_dir)


def q_op_wma(spark, sf_dir):
    """4-tap exponentially-weighted moving average of event values per
    event type (operators/timeseries.weighted_moving_average): one
    window scan of lag() taps, exact cents arithmetic, half-up micro
    output — the finite-window EWMA smoother."""
    from .operators.timeseries import weighted_moving_average
    e = _t(spark, sf_dir, "events")
    return weighted_moving_average(e, "event_type", ["ts", "event_id"],
                                   "value", k=4)


def q_op_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlation matrix over lineitem's quantity /
    extended price / discount (operators/stats.corr_matrix): every
    sufficient statistic an exact DECIMAL(38,0) cent sum in ONE scan,
    a single IEEE sqrt at the edge, C(3,2) upper-triangle rows."""
    from .operators.stats import corr_matrix
    return corr_matrix(_t(spark, sf_dir, "lineitem"),
                       ["l_quantity", "l_extendedprice", "l_discount"])


def q_dedup_substring(spark, sf_dir):
    """Exact-substring duplicate coverage, Lee et al. 2022
    (operators/dedup.substring_dup_coverage): every 25-token window at
    stride 1 is md5'd, windows whose hash recurs anywhere in the corpus
    mark their tokens, and per-doc maximal duplicated spans merge
    gap-and-islands — EXACT for "token inside a duplicated substring of
    >= 25 tokens", the published pre-MinHash pass. Two shuffles: one
    uniform hash groupBy, one island merge over matched docs only."""
    from .operators.dedup import substring_dup_coverage
    return substring_dup_coverage(_t(spark, sf_dir, "documents"))


def q_op_bpe_merge_step(spark, sf_dir):
    """One BPE training round over the documents word vocab
    (operators/bpe.bpe_merge_step): adjacent-pair counts weighted by
    word frequency, argmax election under the pinned (count DESC, left
    ASC, right ASC) tie-break, greedy left-to-right merge applied as a
    higher-order fold — corpus touched once for the word count, the
    round itself is vocab-sized. Returns the post-merge symbol table
    with the elected pair attached."""
    from .operators.bpe import bpe_init_vocab, bpe_merge_step
    v = bpe_init_vocab(_t(spark, sf_dir, "documents"))
    return bpe_merge_step(v).select(
        "word", "freq",
        F.size("syms").cast("long").alias("n_syms"),
        F.concat_ws(" ", "syms").alias("syms"),
        "left_sym", "right_sym", "pair_count")


def q_plan_bpe_train(spark, sf_dir):
    """8-round BPE tokenizer training (operators/bpe.bpe_train): the
    driver-looped merge-election chain (same external-bounded-loop
    idiom as plan-kmeans-train), vocab state localCheckpointed per
    round, corpus scanned exactly once. Returns the learned merge table
    (merge_rank, left_sym, right_sym, pair_count); the oracle replays
    all 8 rounds unrolled."""
    from .operators.bpe import bpe_train
    return bpe_train(_t(spark, sf_dir, "documents"), n_merges=8)


def q_text_quality_classifier(spark, sf_dir):
    """Learned linear quality-classifier inference
    (operators/selection.hashed_linear_score): hashed-unigram features
    into 64 buckets, the shared QUALITY_WEIGHTS_DEMO literal weight
    map riding inside the plan, exact-integer micro scores with a
    half-away-from-zero mean — zero shuffles, the GPT-3/CCNet quality
    filter shape."""
    from .operators.selection import QUALITY_WEIGHTS_DEMO, hashed_linear_score
    return hashed_linear_score(_t(spark, sf_dir, "documents"),
                               QUALITY_WEIGHTS_DEMO)


# Policy blocklist for the text-c4-badwords key — shared verbatim with
# the DuckDB oracle. Tiny by construction (C4's real list is ~400
# entries): it rides into the plan as an array literal.
C4_BADWORDS: tuple[str, ...] = ("slow", "spam", "lorem")


def q_text_c4_badwords(spark, sf_dir):
    """C4 battery with the paper's bad-words blocklist enabled
    (operators/text.c4_rules badwords=...): token-level match against
    the C4_BADWORDS policy list adds the r_no_badwords gate bit —
    still a pure map-side pass, the list is an array literal."""
    from .operators.text import c4_rules
    return c4_rules(_t(spark, sf_dir, "documents"), badwords=C4_BADWORDS)


def _doc_sentences_8tok(d):
    """Fixture-policy sentence view for the span-dedup key: the
    synthetic corpus carries no punctuation or newlines (verified: zero
    [.!?] across sf0.01), so the key derives deterministic sentence
    units as consecutive 8-token groups — ``span_exact_dedup`` itself
    is unit-agnostic (regex sentences for prose corpora).

    Built with ONE regex pass: a sentinel replaces every 8th token gap
    and the string splits on it. A transform-over-sequence slicing the
    token array re-inlines the whole tokenize expression into the
    lambda (CollapseProject) and re-tokenizes per SENTENCE — measured
    16.5s vs 0.9s on 5k docs, the same Catalyst trap word_shingles'
    docstring records. The trailing sub-8-token fragment is dropped
    (sentence count = floor(n_tokens / 8), matching the oracle)."""
    from .operators.text import tokens
    from .parallel import fan_out

    d = fan_out(d)  # single-file fixtures must not serialize the scan
    joined = F.array_join(tokens(F.col("text")), " ")
    chunked = F.regexp_replace(joined,
                               r"((?:\S+ ){7}\S+) ", "$1\u0001")
    sents = F.filter(
        F.split(chunked, "\u0001"),
        lambda x: F.size(F.split(x, " ")) == 8)
    return d.select("doc_id", sents.alias("sentences"))


def q_text_span_dedup(spark, sf_dir):
    """C4 exact three-sentence-span dedup (operators/text.
    span_exact_dedup; Raffel et al. 2020 §2.2): corpus-global md5 span
    identity, keep-first (doc_id, position) rule, removed positions
    merged gap-and-islands — the last named C4 omission, now closed.
    One uniformly-hashed shuffle on span md5; only duplicated
    occurrences reach the island merge."""
    from .operators.text import span_exact_dedup
    return span_exact_dedup(
        _doc_sentences_8tok(_t(spark, sf_dir, "documents")))


# Training label for the probe keys: the corpus-policy "curated
# sources" positive set (the CCNet/GPT-3 shape: curated-positive vs
# crawl-negative), shared verbatim with the DuckDB oracles.
PROBE_POSITIVE_SOURCES: tuple[str, ...] = ("src0", "src1", "src2", "src3")
PROBE_BUCKETS = 32
PROBE_LR_PPM = 200_000


def _docs_labeled(spark, sf_dir):
    return (_t(spark, sf_dir, "documents")
            .withColumn("label",
                        F.col("source").isin(*PROBE_POSITIVE_SOURCES)
                        .cast("int")))


def q_op_probe_step(spark, sf_dir):
    """ONE full-batch GD round of the linear quality-probe trainer
    from zero weights (operators/selection.linear_probe_step): exact
    integer micros, half-away-from-zero divisions, model-sized driver
    traffic — the training step whose fixed point
    text-quality-classifier's inference consumes."""
    from .operators.selection import linear_probe_step, probe_features
    feat = probe_features(_docs_labeled(spark, sf_dir),
                          buckets=PROBE_BUCKETS)
    return linear_probe_step(feat, {b: 0 for b in range(PROBE_BUCKETS)},
                             buckets=PROBE_BUCKETS, lr_ppm=PROBE_LR_PPM)


def q_plan_quality_train(spark, sf_dir):
    """Train-then-score quality-filter composite (operators/selection.
    linear_probe_train + hashed_linear_score): 3 GD rounds over the
    persisted hashed-feature frame (external driver loop, the
    kmeans_train_assign idiom), then the trained weights score every
    document map-side; returns the per-source selection summary."""
    from .operators.selection import hashed_linear_score, linear_probe_train
    d = _docs_labeled(spark, sf_dir)
    w = linear_probe_train(d, rounds=3, buckets=PROBE_BUCKETS,
                           lr_ppm=PROBE_LR_PPM)
    sc = hashed_linear_score(d, w, buckets=PROBE_BUCKETS,
                             threshold_micros=300_000)
    return (sc.join(d.select("doc_id", "source"), "doc_id")
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum(F.col("pass_quality").cast("long")).cast("long")
                  .alias("n_pass"),
                 F.sum("score_mean_micros").cast("long")
                  .alias("sum_mean_micros")))


def q_text_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity terciles per source
    (operators/text.ccnet_buckets; Wenzek et al. 2020): corpus-trained
    bigram-LM fit, ANSI ntile(3) over (fit DESC, doc_id) — the
    published keep-head / judge-middle / drop-tail split, exactly
    replayed by the oracle."""
    from .operators.text import ccnet_buckets
    return ccnet_buckets(_t(spark, sf_dir, "documents"))


def q_text_winnow(spark, sf_dir):
    """Winnowing fingerprints (operators/text.winnow_fingerprints;
    Schleimer et al. 2003, the MOSS algorithm): 5-gram hashes, 4-wide
    window min with the rightmost tie-break packed into one int64 key,
    distinct selections digested order-free — density and checksum
    per document."""
    from .operators.text import winnow_fingerprints
    return winnow_fingerprints(_t(spark, sf_dir, "documents"))


def q_op_bcubed_eval(spark, sf_dir):
    """B-Cubed scorecard of the production dedup clustering
    (operators/ml.bcubed_eval; Bagga & Baldwin 1998): MinHash-LSH
    clusters evaluated element-wise against the exact-Jaccard truth
    clusters — element precision/recall/F1 in exact half-up ppm. The
    oracle replays BOTH clusterings (recursive-CTE reachability) and
    every rounding."""
    from .operators.dedup import (dedup_clusters, minhash_lsh_pairs_md5,
                                  ngram_jaccard_pairs)
    from .operators.ml import bcubed_eval
    d = _t(spark, sf_dir, "documents")
    ids = d.select("doc_id")
    truth = dedup_clusters(
        ngram_jaccard_pairs(d, n=3, threshold=0.2, max_df=None), ids)
    pred = dedup_clusters(
        minhash_lsh_pairs_md5(d, n=3, threshold=0.2), ids)
    return bcubed_eval(pred, truth)


def q_text_stupid_backoff(spark, sf_dir):
    """Stupid-backoff trigram LM scoring (operators/text.
    stupid_backoff_score; Brants et al. 2007 — the smoothing built FOR
    trillion-token corpora): counts from the doc_id %% 100 == 0
    reference stratum, every other document scored through the exact
    rational backoff chain (alpha = 2/5), per-position backoff levels
    surfaced. All five count tables from one gram pass; scoring is
    five LEFT equi-joins of the positional stream."""
    from .operators.text import stupid_backoff_score
    return stupid_backoff_score(_t(spark, sf_dir, "documents"))


def q_plan_filter_agreement(spark, sf_dir):
    """Quality-filter agreement audit — the filter-ablation cross-tab a
    curation pipeline runs before picking its gate (the FineWeb/Dolma
    practice: compare heuristic batteries against the learned filter
    BEFORE spending a pretraining run on either): every document is
    scored by the Gopher battery, the C4 battery, and the learned
    hashed-unigram classifier, and the output is the 2x2x2 agreement
    table with counts. Three one-pass map-side operators joined on
    doc_id + one 8-group aggregation; at 100 TB each leg is the same
    cheapest-full-scan profile its own key already documents."""
    from .operators.selection import QUALITY_WEIGHTS_DEMO, hashed_linear_score
    from .operators.text import c4_rules, gopher_rules
    d = _t(spark, sf_dir, "documents")
    g = gopher_rules(d).select("doc_id", "pass_gopher")
    c = c4_rules(d).select("doc_id", "pass_c4")
    q = (hashed_linear_score(d, QUALITY_WEIGHTS_DEMO)
         .select("doc_id", "pass_quality"))
    return (g.join(c, "doc_id").join(q, "doc_id")
            .groupBy("pass_gopher", "pass_c4", "pass_quality")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))


# Literal merge table for the op-bpe-encode key — shared verbatim with
# the DuckDB oracle (the C4_BADWORDS pattern). Chosen to exercise the
# encoder's moving parts on this corpus's vocabulary: a 5-step
# progressive fusion of a frequent word ('table' + end mark), an
# end-mark merge on a 1-char word ('a</w>'), and two independent
# 2-char fusions; real pipelines pass bpe_train's own table (the
# round-trip test in tests/test_round10.py does exactly that).
BPE_DEMO_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e"),
    ("table", "</w>"), ("a", "</w>"), ("s", "c"), ("h", "a"))

# Byte-level (GPT-2 basis) demo merge table: the top-8 merges
# bpe_train(basis="bytes") learns on the sf0.01 gate corpus, pinned
# as literals the same way BPE_DEMO_MERGES is. Symbols are lowercase
# UTF-8 hex pairs (65='e', 72='r', 6e='n', 6f='o', 77='w', 73='s',
# 74='t'): er, e</w>, n</w>, er</w>, ow, ow</w>, or, st.
BPE_BYTES_DEMO_MERGES: tuple[tuple[str, str], ...] = (
    ("65", "72"), ("65", "</w>"), ("6e", "</w>"), ("6572", "</w>"),
    ("6f", "77"), ("6f77", "</w>"), ("6f", "72"), ("73", "74"))

# GPT-2-pretokenized byte-basis demo merges: the top-8 merges
# bpe_train(basis="bytes", pretok="gpt2") learns on the sf0.01 gate
# corpus, pinned as literals. Rank 1 is ("20", "73") — hex for
# " s" — a merge that can ONLY exist under GPT-2 pre-tokenization,
# where pieces carry their leading space (the whitespace split never
# produces a space inside a word); the rest mirror the plain byte
# basis (er, e</w>, n</w>, er</w>, ow, ow</w>, or).
BPE_GPT2_DEMO_MERGES: tuple[tuple[str, str], ...] = (
    ("20", "73"), ("65", "72"), ("65", "</w>"), ("6e", "</w>"),
    ("6572", "</w>"), ("6f", "77"), ("6f77", "</w>"), ("6f", "72"))


def q_op_bpe_encode(spark, sf_dir):
    """BPE corpus ENCODER (operators/bpe.bpe_encode; Sennrich et al.
    2016 §3) — applies the BPE_DEMO_MERGES table in rank order and
    returns per-doc (n_words, n_pieces, ppw_ppm): the real
    token-counting basis that replaces the bpe_ish_piece_count proxy,
    and the consumer of plan-bpe-train's artifact. Corpus tokenized
    once into (doc, word) counts; the merge folds run over the
    distinct-word frame only (Zipf), then one hash join + aggregate."""
    from .operators.bpe import bpe_encode
    return bpe_encode(_t(spark, sf_dir, "documents"), BPE_DEMO_MERGES)


def q_op_shard_assign(spark, sf_dir):
    """Deterministic training-shard assignment (operators/rank.
    shard_assign over text.pack_sequences bins): packed 512-token
    sequences aggregated to one row per (source, bin), then md5-order
    round-robin into 8 shards via the distributed exact rank —
    perfectly balanced (sizes within 1) and byte-identical run to run;
    the final stage before sinks.write_training_shards' partitioned
    write. The oracle replays the same rank with a single-window
    row_number, which must agree bit-for-bit."""
    from .operators.rank import shard_assign
    from .operators.text import pack_sequences
    packed = pack_sequences(_t(spark, sf_dir, "documents"), budget=512)
    bins = (packed.groupBy("source", "bin_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("n_tokens")))
    return shard_assign(bins, 8, ["source", "bin_id"])


# Literal unigram-LM piece table for the subword keys — shared
# verbatim with the DuckDB oracle (the BPE_DEMO_MERGES pattern).
# Integer micro-log-prob scores; singles cover most corpus letters
# (q/j/x/z deliberately absent so 'query'/'join' exercise the unk
# fallback edge), multi-char pieces create real DP ambiguity on this
# corpus's vocabulary ('table' = ta+ble vs tab+le vs chars — tab+le
# wins; 'order'/'data' have whole-word pieces that beat their chars).
UNIGRAM_DEMO_PIECES: tuple[tuple[str, int], ...] = (
    ("a", -3_200_000), ("b", -4_000_000), ("c", -3_900_000),
    ("d", -3_800_000), ("e", -3_100_000), ("f", -4_100_000),
    ("g", -4_300_000), ("h", -4_200_000), ("i", -3_600_000),
    ("k", -4_400_000), ("l", -3_700_000), ("m", -4_050_000),
    ("n", -3_400_000), ("o", -3_300_000), ("p", -4_150_000),
    ("r", -3_500_000), ("s", -3_250_000), ("t", -3_150_000),
    ("u", -3_950_000), ("v", -4_500_000), ("w", -4_250_000),
    ("y", -4_350_000),
    ("ta", -5_000_000), ("tab", -5_500_000), ("ble", -6_000_000),
    ("le", -4_800_000), ("er", -4_600_000), ("st", -4_900_000),
    ("str", -5_400_000), ("eam", -6_200_000), ("row", -6_500_000),
    ("an", -4_700_000), ("sc", -5_100_000), ("win", -6_050_000),
    ("dow", -6_100_000), ("val", -6_300_000), ("ue", -5_200_000),
    ("order", -8_000_000), ("data", -7_600_000))

# Literal WordPiece vocabulary (## marks continuation pieces) —
# shared verbatim with the DuckDB oracle. Exercises whole-word wins
# over prefix+continuation ('table' vs tab+##le), multi-hop chains
# ('customer' = c+##u+##st+##om+##er, 'stream' = str+##eam, 'window'
# = win+##dow), and the UNK path ('query'/'join'/'hash' have no
# start piece and collapse to [UNK]).
WORDPIECE_DEMO_VOCAB: tuple[str, ...] = (
    "table", "tab", "t", "s", "c", "a", "b", "d", "f", "g", "k", "l",
    "m", "o", "p", "r", "v", "w", "str", "sc", "gr", "sp", "win",
    "row", "key", "data", "part", "line", "slow", "small", "sort",
    "batch", "merge", "order", "value", "agg", "filter", "column",
    "##le", "##s", "##an", "##ow", "##dow", "##eam", "##er", "##ue",
    "##st", "##om", "##u", "##a", "##e", "##i", "##r", "##t", "##g",
    "##p", "##l", "##o", "##m", "##c", "##n", "##d", "##y", "##ar",
    "##k", "##he")


def q_text_unigram_segment(spark, sf_dir):
    """Unigram-LM corpus encoding (operators/subword.unigram_encode;
    Kudo 2018, the SentencePiece model): exact int64 Viterbi max-sum
    decode of every distinct word under the literal
    UNIGRAM_DEMO_PIECES micro-log-prob table, pinned tie-break
    (score DESC, pieces ASC, longer-final-piece), per-doc
    (n_words, n_pieces, score_micro) from one join + agg. The third
    major subword family beside bpe_encode and wordpiece_encode."""
    from .operators.subword import unigram_encode
    return unigram_encode(_t(spark, sf_dir, "documents"),
                          UNIGRAM_DEMO_PIECES, max_word_len=12)


def q_op_unigram_estep(spark, sf_dir):
    """Hard-EM E-step of unigram-LM training (operators/subword.
    unigram_estep; the Viterbi-EM variant of Kudo 2018 §3.2):
    corpus piece counts under the current model's best
    segmentations, out-of-vocab fallback chars pooled under <unk>,
    zero-filled vocab frame — the model-sized input the driver-side
    M-step renormalizes (unigram_em_train's per-round cluster
    work)."""
    from .operators.subword import unigram_estep
    return unigram_estep(_t(spark, sf_dir, "documents"),
                         UNIGRAM_DEMO_PIECES, max_word_len=12)


def q_text_wordpiece_encode(spark, sf_dir):
    """WordPiece corpus encoding (operators/subword.wordpiece_encode;
    Schuster & Nakajima 2012 — BERT's greedy longest-match-first
    inference) under the literal WORDPIECE_DEMO_VOCAB: per-doc
    (n_words, n_pieces, n_unk_words), words with no matching piece at
    some position collapsing to one [UNK]."""
    from .operators.subword import wordpiece_encode
    return wordpiece_encode(_t(spark, sf_dir, "documents"),
                            WORDPIECE_DEMO_VOCAB, max_word_len=12)


# --- Arrow tokenizer engines (r11): the production-vocabulary path.
# Each *-arrow key forces engine='arrow' (operators/tokenizer_arrow's
# mapInPandas kernels, model in the closure instead of the plan) and
# runs the SAME DuckDB oracle as its fold twin — the driver gate IS
# the bit-identity proof between the two engines at corpus scale.
# At real model sizes the auto dial picks this path on its own
# (bpe.FOLD_MAX_MERGES / subword.FOLD_MAX_PIECES).

def q_op_bpe_encode_arrow(spark, sf_dir):
    """BPE corpus encoder on the Arrow engine (tokenizer_arrow.
    bpe_apply_merges_arrow via bpe_encode(engine='arrow')): the
    rank-ordered greedy merge passes as a per-word Python kernel over
    Arrow batches of the DISTINCT-WORD frame — one MapInPandas node
    regardless of merge-table size, where the fold twin
    (op-bpe-encode) stacks one projection per rank. Same oracle,
    same hashes."""
    from .operators.bpe import bpe_encode
    return bpe_encode(_t(spark, sf_dir, "documents"), BPE_DEMO_MERGES,
                      engine="arrow")


def q_text_unigram_segment_arrow(spark, sf_dir):
    """Unigram-LM corpus encoding on the Arrow engine
    (tokenizer_arrow.unigram_viterbi_arrow via
    unigram_encode(engine='arrow')): the exact int64 Viterbi max-sum
    DP with the pinned (score, pieces, final-piece) tie-break as a
    per-word Python kernel, piece table in the closure dict. Same
    oracle as text-unigram-segment."""
    from .operators.subword import unigram_encode
    return unigram_encode(_t(spark, sf_dir, "documents"),
                          UNIGRAM_DEMO_PIECES, max_word_len=12,
                          engine="arrow")


def q_text_wordpiece_encode_arrow(spark, sf_dir):
    """WordPiece corpus encoding on the Arrow engine
    (tokenizer_arrow.wordpiece_segment_arrow via
    wordpiece_encode(engine='arrow')): greedy longest-match-first
    with the pos-0 '##' guard as a per-word Python kernel, vocab in
    the closure set. Same oracle as text-wordpiece-encode."""
    from .operators.subword import wordpiece_encode
    return wordpiece_encode(_t(spark, sf_dir, "documents"),
                            WORDPIECE_DEMO_VOCAB, max_word_len=12,
                            engine="arrow")


def q_op_bpe_batch_elect(spark, sf_dir):
    """One BATCHED BPE election round (operators/bpe.bpe_elect_batch;
    the SentencePiece / YouTokenToMe trainer speedup): the top-4
    pairwise symbol-disjoint pairs from the documents vocab's
    adjacent-pair counts under the pinned (count DESC, left, right)
    order — the rule that lets bpe_train_batched apply M merges per
    round and collapse a 30k-merge training loop ~Mx. The corpus-
    sized work (word count, pair count) is distributed; the greedy
    disjoint filter runs on a driver-side top-k slice (model-sized,
    the trained-artifact idiom). The oracle replays the greedy
    selection unrolled: s_k = first ordered pair sharing no symbol
    with s_1..s_{k-1}."""
    from .operators.bpe import (bpe_elect_batch, bpe_init_vocab,
                                bpe_pair_counts)
    v = bpe_init_vocab(_t(spark, sf_dir, "documents"))
    picked = bpe_elect_batch(bpe_pair_counts(v), 4)
    return spark.createDataFrame(
        [(i + 1, a, b, c) for i, (a, b, c) in enumerate(picked)],
        "batch_rank long, left_sym string, right_sym string,"
        " pair_count long")


def q_dedup_provenance(spark, sf_dir):
    """Cross-source passage-duplication provenance
    (operators/dedup.passage_provenance): which sources share
    16-token passages with which, as a source x source matrix of
    (shared passage count, implied doc-pair count) — the
    cross-snapshot duplication table of a multi-crawl curation report
    (RefinedWeb/FineWeb style). Computed without doc-pair
    materialization: per-(hash, source) distinct-doc counts, pairwise
    count PRODUCTS summed per source pair; the dedup-passage-pairs
    hot-passage cap (2..32 docs per hash) applies identically here
    and in the oracle. The gate corpus has zero exact-text duplicates
    but 23 non-empty provenance cells at this granularity."""
    from .operators.dedup import passage_provenance
    return passage_provenance(_t(spark, sf_dir, "documents"))


def q_dedup_provenance_near(spark, sf_dir):
    """NEAR-duplicate provenance matrix
    (operators/dedup.near_dup_provenance): the dedup-provenance
    sibling at MinHash granularity — verified near-dup doc pairs
    (dedup-minhash-md5's full oracle-replayed pipeline) rolled up per
    unordered source pair, with the Jaccard evidence summed in
    exact-integer ppm so the differential stays float-free. Exact
    passages catch verbatim reuse; this catches paraphrase-level
    near-copies."""
    from .operators.dedup import near_dup_provenance
    return near_dup_provenance(_t(spark, sf_dir, "documents"))


def q_dedup_provenance_incremental(spark, sf_dir):
    """Incremental provenance (operators/dedup.
    passage_provenance_incremental): the daily-ingest shape —
    documents with doc_id % 10 == 0 play the landing batch, the rest
    the accepted corpus (the dedup-incremental split), rolled up to
    the ORDERED (batch_source, corpus_source) duplication matrix.
    Batch-sized work: the corpus's passage-hash stream is semi-joined
    to the broadcast batch-hash set BEFORE any aggregation, and the
    corpus never self-joins. Hot-passage cap over corpus distinct
    docs per hash, mirroring incremental_jaccard_pairs' index-side
    max_df."""
    from .operators.dedup import passage_provenance_incremental
    d = _t(spark, sf_dir, "documents")
    return passage_provenance_incremental(
        d.filter(F.col("doc_id") % 10 == 0),
        d.filter(F.col("doc_id") % 10 != 0))


def q_dedup_provenance_incr_near(spark, sf_dir):
    """Incremental NEAR-dup provenance (operators/dedup.
    near_dup_provenance_incremental): the MinHash-granularity sibling
    of dedup-provenance-incremental, completing the provenance
    family's full/incremental x exact/near matrix — which existing
    source the landing batch paraphrases. dedup-incremental's
    batch-vs-index exact-Jaccard pairs (same doc_id % 10 split)
    rolled up per ordered source pair with exact-integer-ppm Jaccard
    evidence (dedup-provenance-near's float-free accounting)."""
    from .operators.dedup import near_dup_provenance_incremental
    d = _t(spark, sf_dir, "documents")
    return near_dup_provenance_incremental(
        d.filter(F.col("doc_id") % 10 == 0),
        d.filter(F.col("doc_id") % 10 != 0))


def q_dedup_provenance_incr_near_inv(spark, sf_dir):
    """Inventory-fed incremental near-dup provenance (operators/
    dedup.shingle_inventory +
    near_dup_provenance_incremental_from_inventory): the daily-ingest
    PRODUCTION shape of dedup-provenance-incr-near — the corpus's
    inverted shingle postings are PERSISTED once (the append-only
    artifact a real pipeline maintains at accept time; here written
    to parquet and read back, so the real IO path is exercised) and
    the landing batch's paraphrase-provenance matrix is computed from
    the frozen index without re-shingling the corpus. Bit-identical
    to the direct form, so the oracle is the direct form's replay —
    the frozen-index twin. Closes SCALING r13 §5's per-call
    index-rebuild caveat (10.7x wall at 100x corpus, all rebuild)."""
    from .operators.dedup import (
        near_dup_provenance_incremental_from_inventory,
        shingle_inventory)
    d = _t(spark, sf_dir, "documents")
    base = _fresh_dir("incr-near-inv")
    shingle_inventory(d.filter(F.col("doc_id") % 10 != 0)) \
        .write.mode("overwrite").parquet(base)
    return near_dup_provenance_incremental_from_inventory(
        d.filter(F.col("doc_id") % 10 == 0), spark.read.parquet(base))


def q_plan_provenance_report(spark, sf_dir):
    """Cross-source duplication report (operators/dedup.
    provenance_report): the exact-passage and MinHash-near provenance
    matrices full-outer-joined per unordered source pair with
    zero-filled counts — the duplication section of a multi-crawl
    datasheet, answering verbatim-reuse and paraphrase-reuse in one
    table. Composes two independently oracle-verified matrices; the
    join is |sources|^2-bounded."""
    from .operators.dedup import provenance_report
    return provenance_report(_t(spark, sf_dir, "documents"))


def q_stream_provenance(spark, sf_dir):
    """Streaming incremental provenance (streaming/windows.
    streaming_provenance_meter): the landing batch streams in and
    each (batch_source, corpus_source) cell's duplication evidence
    updates per micro-batch — a stateless per-row passage projection
    (array_distinct before explode replaces a stateful
    dropDuplicates) into a stateless stream-static join against the
    corpus inventory and one complete-mode aggregate bounded by
    |sources|^2. dup_doc_pairs is algebraically
    passage_provenance_incremental's column, so the drained stream
    bit-matches the batch matrix there; the oracle replays both
    columns exactly (the stream-token-meter batch-equivalence
    pattern)."""
    from .streaming.windows import streaming_provenance_meter
    # key-named + pid-scoped tag: the memory-sink namespace is global
    # to the JVM, so an sf_dir-hash alone risks a (rare) prefix
    # collision across concurrent sessions silently reading another
    # query's table (r13 ADVICE)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return streaming_provenance_meter(
        spark, sf_dir, query_name=f"spv_{tag}_{os.getpid()}")


def q_dedup_incr_lsh_inv(spark, sf_dir):
    """Incremental MinHash+LSH near-dup from a persisted signature
    index (operators/dedup.lsh_inventory +
    incremental_minhash_pairs_from_inventory): the MinHash-SIGNATURE
    half of the r13-verdict artifact story — the corpus's per-doc
    banded signature keys and string shingle sets are PERSISTED once
    (written to parquet and read back here, the real IO path) and the
    landing batch's near-dup pairs come from band-collision
    candidates verified with exact Jaccard, never re-shingling or
    re-signing the corpus and never self-joining it. Uses the
    oracle-replayable universal-hash family (minhash_uh_seeds /
    md5_hash60), so the DuckDB twin replays signatures, banding,
    candidates, and verification bit-for-bit with the
    dedup-incremental doc_id % 10 split."""
    from .operators.dedup import (
        incremental_minhash_pairs_from_inventory, lsh_inventory)
    d = _t(spark, sf_dir, "documents")
    base = _fresh_dir("incr-lsh-inv")
    lsh_inventory(d.filter(F.col("doc_id") % 10 != 0)) \
        .write.mode("overwrite").parquet(base)
    return incremental_minhash_pairs_from_inventory(
        d.filter(F.col("doc_id") % 10 == 0), spark.read.parquet(base))


def q_stream_incr_near(spark, sf_dir):
    """Streaming incremental near-dup pairs (streaming/windows.
    streaming_near_dup_meter): the landing batch streams in and every
    verified (new_id, index_id, jaccard) pair against the accepted
    corpus materializes per micro-batch — the streaming face of
    dedup-incremental, completing the dedup family's batch/stream x
    exact/near x full/incremental cube. Static side = the corpus's
    df-capped inverted shingle postings (the persisted
    shingle_inventory shape, localCheckpointed so it computes once);
    stream side = stateless per-row shingle projection into a
    stream-static join and ONE complete-mode candidate-pair count;
    the jaccard/threshold arithmetic is post-agg. Drains to
    bit-equality with the batch pair set, so the oracle IS
    dedup-incremental's replay."""
    from .streaming.windows import streaming_near_dup_meter
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return streaming_near_dup_meter(
        spark, sf_dir, query_name=f"sin_{tag}_{os.getpid()}")


def q_op_bpe_encode_bytes(spark, sf_dir):
    """Byte-level BPE corpus encoding (operators/bpe.bpe_encode with
    basis='bytes' — a byte-level alphabet in the GPT-2/LLaMA spirit:
    words split into UTF-8 bytes as lowercase hex pairs, so the base
    alphabet is a closed 256 symbols, no character is ever
    out-of-alphabet, and multi-byte scripts merge back together from
    bytes; the symbol encoding is hex-pair internal with a ``</w>``
    terminator, NOT GPT-2 merge-file compatible). Every stage
    past v0 — pair counts, elections, merge folds, the Arrow apply —
    is alphabet-agnostic; the basis is a v0 construction dial
    (bpe.word_syms), and hex(encode(word)) is bit-identical between
    Spark and DuckDB, so the oracle replay carries over unchanged.
    Applies BPE_BYTES_DEMO_MERGES (trained on this corpus at
    basis='bytes', pinned as literals)."""
    from .operators.bpe import bpe_encode
    return bpe_encode(_t(spark, sf_dir, "documents"),
                      BPE_BYTES_DEMO_MERGES, basis="bytes")


def q_op_gpt2_pretok(spark, sf_dir):
    """GPT-2 pre-tokenizer (operators/bpe.gpt2_pieces; Radford et al.
    2019's contraction/category regex, the split every byte-level BPE
    family applies before merging): per-doc piece count plus an md5
    fingerprint of the chr(31)-joined piece stream, so the gate pins
    the EXACT segmentation (content and order), not just counts. The
    Spark side is one leftmost-first regexp_extract_all (Java regex,
    lookahead and all); the oracle replays the identical partition as
    a per-character boundary predicate over lag/lead windows (RE2 has
    no lookahead), derived from the alternation semantics and proven
    equal on contractions, category runs, and multi-space donation by
    the three-way tests (tests/test_round14.py)."""
    from .operators.bpe import gpt2_pieces
    p = gpt2_pieces(F.col("text"))
    # p appears twice; CollapseProject would inline a pre-computed
    # alias into both consumers anyway, so the double spelling is the
    # honest plan (two map-side regex evals over a 2-column scan)
    return (_t(spark, sf_dir, "documents")
            .select("doc_id",
                    F.size(p).cast("long").alias("n_pieces"),
                    F.md5(F.concat_ws("\x1f", p)).alias("pieces_md5")))


def q_op_bpe_encode_gpt2(spark, sf_dir):
    """Byte-level BPE encoding under GPT-2 pre-tokenization
    (operators/bpe.bpe_encode with basis='bytes', pretok='gpt2' —
    the canonical byte-level-BPE composition: contraction/category
    regex split, then UTF-8-byte v0, then learned merges). Pieces
    keep case and their leading space, so the pinned
    BPE_GPT2_DEMO_MERGES table's rank-1 merge is hex " s" — a merge
    the whitespace pre-tokenizer can never learn. Same vocab-sized
    scale shape as op-bpe-encode: the corpus tokenizes once into
    (doc, piece) counts and the merge chain runs over the
    distinct-piece frame only."""
    from .operators.bpe import bpe_encode
    return bpe_encode(_t(spark, sf_dir, "documents"),
                      BPE_GPT2_DEMO_MERGES, basis="bytes",
                      pretok="gpt2")


def q_plan_corpus_datasheet(spark, sf_dir):
    """Corpus datasheet (Gebru et al. 2021 "Datasheets for Datasets" /
    the per-source quality tables every pretraining-data release
    publishes): one row per (source, lang) with document and token
    volume, BPE tokenizer fertility (pieces-per-word ppm via
    bpe_encode under BPE_DEMO_MERGES), Gopher and C4 gate pass
    counts, and exact-duplicate counts (non-keeper docs under the
    corpus-GLOBAL md5 content hash, keeper = min doc_id — a dup group
    spanning sources charges each source its own members).

    Composes already-verified components — bpe_encode, the CHAINED
    gopher_rules → c4_rules single-scan flag battery, the exact_dedup
    hash-keeper rule — through doc_id equi-joins and one final
    groupBy: the aggregate report stage after plan-filter-agreement's
    cross-tab. r11 (verdict item 6): the two gate batteries are pure
    per-row projections, so they ride ONE base scan via keep=
    passthrough (the corpus_clean_v2 single-feature-pass idiom)
    instead of two scans re-joined on doc_id — bpe_encode and the dup
    keeper are the two remaining scans, and the base (source, lang)
    columns now come from the flag frame for free."""
    from .operators.bpe import bpe_encode
    from .operators.text import c4_rules, gopher_rules
    d = _t(spark, sf_dir, "documents")
    enc = bpe_encode(d, BPE_DEMO_MERGES).select(
        "doc_id", "n_words", "n_pieces")
    flags = c4_rules(
        gopher_rules(d, keep=("source", "lang", "text")),
        keep=("source", "lang", "pass_gopher"),
    ).select("doc_id", "source", "lang", "pass_gopher", "pass_c4")
    keep = (d.groupBy(F.md5("text").alias("_h"))
             .agg(F.min("doc_id").alias("_keeper")))
    dup = (d.select("doc_id", F.md5("text").alias("_h"))
            .join(keep, "_h")
            .select("doc_id",
                    (F.col("doc_id") != F.col("_keeper")).alias("_dup")))
    ppw = F.expr("CASE WHEN n_tokens > 0 THEN"
                 " (2 * n_pieces * 1000000 + n_tokens)"
                 " DIV (2 * n_tokens) ELSE 0 END")
    return (flags
             .join(enc, "doc_id", "left")
             .join(dup, "doc_id")
             .groupBy("source", "lang")
             .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                  F.sum(F.coalesce("n_words", F.lit(0))).cast("long")
                   .alias("n_tokens"),
                  F.sum(F.coalesce("n_pieces", F.lit(0))).cast("long")
                   .alias("n_pieces"),
                  F.sum(F.when(F.col("pass_gopher"), 1).otherwise(0))
                   .cast("long").alias("n_pass_gopher"),
                  F.sum(F.when(F.col("pass_c4"), 1).otherwise(0))
                   .cast("long").alias("n_pass_c4"),
                  F.sum(F.when(F.col("_dup"), 1).otherwise(0))
                   .cast("long").alias("n_dup_docs"))
             .withColumn("ppw_ppm", ppw.cast("long")))


def q_op_vocab_growth(spark, sf_dir):
    """Vocabulary growth curve (operators/text.vocab_growth; Heaps'
    law V = K*N^beta, the statistic that sizes a tokenizer vocab):
    10 md5-ordered document deciles via the distributed exact ntile
    (rank.exact_ntile — no whole-corpus single-task sort), per-decile
    token volume and first-occurrence new-word counts, cumulative
    sums over the 10-row aggregate frame. Raw exact integers; the
    log-log fit is a driver/notebook concern."""
    from .operators.text import vocab_growth
    return vocab_growth(_t(spark, sf_dir, "documents"), k=10)


def q_stream_token_meter(spark, sf_dir):
    """Streaming per-source BPE token metering (streaming/windows.
    streaming_token_meter under BPE_DEMO_MERGES): live token-budget
    accounting while a crawl lands — the tokenizer as a stateless
    per-row projection, state bounded by |sources|. Runs the
    PRODUCTION default engine: since r12 auto resolves to the Arrow
    kernel at every model size (the meter pays segmentation per
    occurrence, so the fold never wins — SCALING.md r11: 6.4x), and
    this driver row verifies that arrow plan against the batch-twin
    oracle. The oracle is the op-bpe-encode oracle's per-doc totals
    rolled up per source (per-occurrence in-stream segmentation and
    per-distinct-word batch segmentation are the same function of
    the data, so the totals agree bit-for-bit; the engines are
    bit-identical by tests/test_round10b.py + test_round12.py)."""
    from .streaming.windows import streaming_token_meter
    # stable digest, not Python's salted hash(): the memory-sink view
    # name must be deterministic across processes (PYTHONHASHSEED);
    # pid-scoped against cross-session prefix collisions (r13 ADVICE)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return streaming_token_meter(spark, sf_dir, BPE_DEMO_MERGES,
                                 query_name=f"stm_{tag}_{os.getpid()}")


def q_op_score_calibration(spark, sf_dir):
    """Quality-classifier calibration table (the reliability-diagram
    bins a filter ablation reads before trusting a learned gate):
    documents ranked into 10 score deciles by the learned classifier's
    mean-score micros (rank.exact_ntile — no single-task global sort),
    each decile reporting its size, score mass, and agreement rate
    with the Gopher rule battery as the behavioral reference, in
    half-up ppm. A flat rate across deciles means the classifier adds
    nothing over the rules; a rising curve is the calibration signal.
    Composes two verified components (hashed_linear_score,
    gopher_rules) plus the r10 exact-rank primitive."""
    from .operators.rank import exact_ntile
    from .operators.selection import (QUALITY_WEIGHTS_DEMO,
                                      hashed_linear_score)
    from .operators.text import gopher_rules
    d = _t(spark, sf_dir, "documents")
    s = hashed_linear_score(d, QUALITY_WEIGHTS_DEMO).select(
        "doc_id", "score_mean_micros")
    g = gopher_rules(d).select("doc_id", "pass_gopher")
    dec = exact_ntile(s.join(g, "doc_id"), 10, "score_mean_micros",
                      tiebreak=["doc_id"], out="decile")
    return (dec.groupBy("decile")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("score_mean_micros").cast("long")
                  .alias("sum_score_micro"),
                 F.sum(F.when(F.col("pass_gopher"), 1).otherwise(0))
                  .cast("long").alias("n_pass_gopher"))
            .withColumn("gopher_rate_ppm", F.expr(
                "(2 * n_pass_gopher * 1000000 + n_docs)"
                " DIV (2 * n_docs)").cast("long")))


def q_sim_embedding_outliers(spark, sf_dir):
    """Embedding-space outlier audit (operators/similarity.
    embedding_outliers): per-cluster median/MAD of the exact integer
    squared distance to the geometrically-assigned centroid, plus the
    |d2 - median| > 3*MAD member count — the hygiene pass run before
    SemDeDup/ANN trusts the embedding column."""
    from .operators.similarity import embedding_outliers
    return embedding_outliers(_t(spark, sf_dir, "embeddings"))


# Throughput queries with no ANSI-SQL-expressible oracle, registered in
# catalog.THROUGHPUT_QUERIES and pinned by invariant tests instead.
def q_sim_pq_topk(spark, sf_dir):
    """Product-quantization ANN (operators/similarity.py pq_topk): ADC
    over an m=16-codes-per-vector compressed corpus, exact re-rank of the
    per-query shortlist. Float k-means codebook means have no bit-stable
    SQL replay, so this lives outside the oracle gate: recall and
    determinism are pinned in tests/test_similarity.py."""
    e = _t(spark, sf_dir, "embeddings")
    return similarity.pq_topk(e.filter(F.col("vec_id") < 5), e, k=5)


def q_plan_unigram_train(spark, sf_dir):
    """2-round hard-EM unigram-LM training (operators/subword.
    unigram_em_train) seeded from UNIGRAM_DEMO_PIECES; returns the
    learned (piece, score_micro) table. Lives here rather than in the
    oracle gate BY DESIGN: the inter-round M-step quantizes
    ln(count/total) on the DRIVER (the repo's float-stays-on-the-
    driver rule), so a DuckDB replay would have to reproduce Python's
    libm — the pytest mirror (tests/test_subword.py
    test_em_matches_python_mirror) shares the literal tables instead,
    and the E-step itself IS oracle-gated (op-unigram-estep)."""
    from .operators.subword import unigram_em_train
    pairs = unigram_em_train(_t(spark, sf_dir, "documents"),
                             UNIGRAM_DEMO_PIECES, n_rounds=2,
                             max_word_len=12)
    return spark.createDataFrame(pairs, "piece string, score_micro long")
