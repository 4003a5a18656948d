"""Windowed streaming aggregation over the events table (SURVEY §7.5).

The reference has no streaming path (its ingestion is a scheduled Lambda,
§2.4); this is the Structured Streaming formulation of the same
"aggregate events per bucket" semantics: file micro-batch source ->
event-time window + watermark -> windowed aggregate.

Scale notes:
- The file source lists + reads incrementally; on a cluster the same code
  points at an object-store prefix or Kafka with no plan change.
- Watermark bounds the aggregation state store: late rows beyond the
  watermark are dropped instead of growing state forever — the property
  that keeps an always-on 100 TB/day stream's memory flat.
- ``availableNow`` drains everything currently available then stops —
  the batch-parity mode used by the oracle-differential check
  (catalog.py stream-window-agg) and incremental backfills.
"""

from __future__ import annotations

from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables

# Stateful streaming ops pay a FIXED per-shuffle-partition cost: every
# partition opens its own state store instance(s) — a stream-stream join
# opens four per partition (two per side). Inheriting the batch shuffle
# conf (32 here, often 200+ on clusters) multiplies that setup cost for
# no benefit when per-partition state is small: measured at sf0.1 on
# local[32], the stream-stream join drains in 11.6 s with 32 partitions
# vs 2.8 s with 8. Size state partitions to STATE VOLUME (keys ×
# bytes/key / target-partition-size), not to input cores — the file
# source's read parallelism is unaffected by this setting.
#
# State-store provider: the default HDFS-backed (in-heap) store wins at
# this state volume — RocksDB measured 3.3s vs 2.9s on the same sf0.1
# stream-stream join (per-partition RocksDB instance setup dominates).
# RocksDB's win is state that exceeds executor heap (multi-GB key spaces
# on an always-on stream); flip
# spark.sql.streaming.stateStore.providerClass to RocksDBStateStoreProvider
# there, keep the default here.
DEFAULT_STATE_PARTITIONS = 8


@contextmanager
def _state_partitions(spark: SparkSession, n: int):
    """Scope spark.sql.shuffle.partitions to a streaming drain (the
    micro-batch planner snapshots it at query start; checkpointed queries
    pin it from their first run)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)

def _event_stream(spark: SparkSession, sf_dir: str,
                  glob: str = "events.parquet",
                  max_files_per_trigger: int | None = None) -> DataFrame:
    # explicit contract (§1.3): ts read as TIMESTAMP — the file source
    # needs a user-supplied schema, and declaring TIMESTAMP makes the
    # parquet reader decode the physical µs int64 as an instant instead
    # of reinterpreting it as a raw long (the silent wrong-answer mode
    # VERDICT r3 flagged). Schema text and the legacy-nanos branch both
    # come from tables.py, so the contract lives in ONE place; the same
    # footer-only probe as tables.load (no Spark job) reads the first
    # file the glob matches to pick the generation. An empty/not-yet-
    # populated source dir streams with the current-generation schema —
    # the probe only exists to catch legacy files, and files appearing
    # later were always required to match the schema the stream started
    # with (file-source contract).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    first = next((p for p in sorted(Path(sf_dir).glob(glob))
                  if p.is_file() and not p.name.startswith(("_", "."))), None)
    legacy = first is not None and tables.is_legacy_nanos(str(first))
    reader = (spark.readStream
              .schema(tables.events_ddl(legacy_nanos=legacy))
              .option("pathGlobFilter", glob))
    if max_files_per_trigger is not None:
        # one file per micro-batch: lets tests feed deliberately
        # out-of-order batches through the stateful operators
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    stream = reader.parquet(sf_dir)
    if legacy:
        stream = tables.normalize_legacy_ts(stream)
    return stream.withColumn("ts_t", F.col("ts"))


def windowed_event_counts(spark: SparkSession, sf_dir: str,
                          window: str = "1 hour",
                          watermark: str = "10 minutes",
                          query_name: str = "windowed_event_counts",
                          state_partitions: int = DEFAULT_STATE_PARTITIONS) -> DataFrame:
    """Tumbling-window count + exact-decimal value sum per event_type,
    drained with availableNow into an in-memory sink and returned as a
    finished DataFrame.

    Complete output mode: every window is emitted on drain (append mode
    would hold back windows the final watermark hasn't passed — that
    variant is exercised in tests/test_streaming.py).
    """
    agg = (_event_stream(spark, sf_dir)
           .withWatermark("ts_t", watermark)
           .groupBy(F.window("ts_t", window).alias("w"), "event_type")
           .agg(F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                 .alias("sum_value")))
    with _state_partitions(spark, state_partitions):
        q = (agg.writeStream.format("memory").queryName(query_name)
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination()
    # window start as a formatted string: engine-neutral for the oracle
    # hash (raw timestamps surface as ns vs µs pandas dtypes)
    return (spark.table(query_name)
            .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                     .alias("window_start"), "event_type",
                    "n_events", "sum_value"))


def stateful_running_totals(spark: SparkSession, sf_dir: str,
                            query_name: str = "stateful_totals",
                            state_partitions: int = DEFAULT_STATE_PARTITIONS) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-event-type running (count, exact decimal sum) carried in explicit
    GroupState across micro-batches, emitted in update mode.

    This is the escape hatch for aggregation logic Spark's built-in
    windowed aggs can't express (per-key state machines, custom eviction);
    here the logic is deliberately oracle-reproducible so the driver's
    hash check covers the API path end to end.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, total_micro = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # exact accumulation: values are 6-decimal, so sum in integer
            # micro-units (pandas float sums would drift vs the oracle)
            total_micro += int(round(pdf["value"].map(
                lambda v: int(round(v * 1_000_000))).sum()))
        state.update((n, total_micro))
        yield pd.DataFrame({"event_type": [key[0]], "n_events": [n],
                            "sum_value": [total_micro / 1_000_000]})

    stream = _event_stream(spark, sf_dir)
    out = (stream.groupBy("event_type")
           .applyInPandasWithState(
               update,
               outputStructType="event_type STRING, n_events LONG, sum_value DOUBLE",
               stateStructType="n LONG, total_micro LONG",
               outputMode="update",
               timeoutConf=GroupStateTimeout.NoTimeout))
    with _state_partitions(spark, state_partitions):
        q = (out.writeStream.format("memory").queryName(query_name)
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination()
    # update mode emits one row per key per micro-batch; running totals
    # only grow, so the final state row per key is the max_by(n_events)
    return (spark.table(query_name).groupBy("event_type")
            .agg(F.max("n_events").alias("n_events"),
                 F.max_by("sum_value", "n_events").alias("sum_value")))


def sliding_event_counts(spark: SparkSession, sf_dir: str,
                         window: str = "1 hour", slide: str = "30 minutes",
                         watermark: str = "10 minutes",
                         query_name: str = "sliding_event_counts",
                         state_partitions: int = DEFAULT_STATE_PARTITIONS) -> DataFrame:
    """Sliding-window variant: each event lands in window/slide buckets."""
    agg = (_event_stream(spark, sf_dir)
           .withWatermark("ts_t", watermark)
           .groupBy(F.window("ts_t", window, slide).alias("w"), "event_type")
           .agg(F.count("*").alias("n_events")))
    with _state_partitions(spark, state_partitions):
        q = (agg.writeStream.format("memory").queryName(query_name)
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination()
    return (spark.table(query_name)
            .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                     .alias("window_start"), "event_type",
                    "n_events"))


def clicks_joined_to_purchases(spark: SparkSession, sf_dir: str,
                               max_gap: str = "30 minutes",
                               query_name: str = "clicks_purchases",
                               state_partitions: int = DEFAULT_STATE_PARTITIONS) -> DataFrame:
    """Stream-stream inner join: each click joined to same-user purchases
    within ``max_gap`` after the click (event-time range join).

    Both sides carry a watermark and the join condition bounds event time
    on both sides — that pair is what lets Spark evict join state: a click
    older than watermark+gap can never match a future purchase, so its
    buffered row is dropped. Without the time bound, stream-stream join
    state grows without limit at 100 TB/day.
    """
    ev = _event_stream(spark, sf_dir)
    clicks = (ev.filter(F.col("event_type") == "click")
                .select(F.col("event_id").alias("click_id"),
                        F.col("user_id").alias("c_user"),
                        F.col("ts_t").alias("click_ts"))
                .withWatermark("click_ts", "1 hour"))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                   .select(F.col("event_id").alias("purchase_id"),
                           F.col("user_id").alias("p_user"),
                           F.col("ts_t").alias("purchase_ts"))
                   .withWatermark("purchase_ts", "1 hour"))
    j = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {max_gap}")),
        "inner")
    with _state_partitions(spark, state_partitions):
        q = (j.writeStream.format("memory").queryName(query_name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    return (spark.table(query_name)
            .select("click_id", "purchase_id",
                    F.col("c_user").alias("user_id"),
                    (F.unix_micros("purchase_ts") - F.unix_micros("click_ts"))
                    .alias("gap_us")))


def deduped_daily_actions(spark: SparkSession, sf_dir: str,
                          query_name: str = "deduped_daily",
                          state_partitions: int = DEFAULT_STATE_PARTITIONS) -> DataFrame:
    """Streaming deduplication: first occurrence per (user, event_type,
    day) survives; replays/retries within the same day are dropped.

    The event-time column (day bucket) is part of the dedup key, so the
    watermark evicts state for days that can no longer receive rows —
    the difference between bounded and unbounded dedup state on an
    always-on ingest stream. Drained with availableNow, the output is
    exactly the batch DISTINCT the oracle computes.
    """
    ev = _event_stream(spark, sf_dir)
    d = (ev.withColumn("day_t", F.date_trunc("day", F.col("ts_t")))
           .select("user_id", "event_type", "day_t",
                   F.col("ts_t").alias("ts_evt"))
           .withWatermark("day_t", "1 day")
           .dropDuplicates(["user_id", "event_type", "day_t"]))
    with _state_partitions(spark, state_partitions):
        q = (d.writeStream.format("memory").queryName(query_name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    return (spark.table(query_name)
            .select("user_id", "event_type",
                    F.date_format("day_t", "yyyy-MM-dd").alias("day")))


def session_event_counts(spark: SparkSession, sf_dir: str,
                         gap: str = "30 minutes",
                         watermark: str = "10 minutes",
                         query_name: str = "session_event_counts",
                         state_partitions: int = DEFAULT_STATE_PARTITIONS) -> DataFrame:
    """Session-window streaming aggregation: per-user sessions that merge
    events separated by less than ``gap`` (dynamic, data-defined windows —
    the third window family after tumbling and sliding).

    Session state merges adjacent windows as events arrive; the watermark
    is what lets Spark finalize (and evict) sessions whose close time has
    passed — unbounded user counts stay bounded in the state store.
    Complete mode on an availableNow drain emits every session, which is
    what the batch gap-and-islands oracle reproduces.
    """
    agg = (_event_stream(spark, sf_dir)
           .withWatermark("ts_t", watermark)
           .groupBy(F.session_window("ts_t", gap).alias("w"), "user_id")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                 .alias("sum_value")))
    with _state_partitions(spark, state_partitions):
        q = (agg.writeStream.format("memory").queryName(query_name)
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination()
    return (spark.table(query_name)
            .select("user_id",
                    F.unix_timestamp("w.start").alias("session_start_sec"),
                    "n_events", "sum_value"))


def stream_to_partitioned_parquet(spark: SparkSession, sf_dir: str,
                                  out_dir: str, checkpoint_dir: str,
                                  query_name: str = "stream_sink") -> int:
    """Streaming ingest to a date-partitioned parquet table with
    exactly-once file-sink semantics.

    The checkpoint (source offsets + sink file manifest) is what makes a
    restart resume instead of re-ingest: a second availableNow run against
    the same checkpoint processes only NEW files — zero duplicate rows on
    replay (asserted in tests/test_streaming_multimodal.py). The
    partitionBy('day') layout is the streaming twin of sink-partition, so
    downstream batch queries partition-prune on day.

    Returns the number of rows ingested by THIS run (0 on a pure restart).
    """
    ev = _event_stream(spark, sf_dir)
    out = (ev.withColumn("day", F.date_format(
               F.date_trunc("day", F.col("ts_t")), "yyyy-MM-dd"))
             .select("event_id", "user_id", "event_type", "value", "day"))
    q = (out.writeStream.format("parquet")
         .queryName(query_name)
         .option("path", out_dir)
         .option("checkpointLocation", checkpoint_dir)
         .partitionBy("day")
         .trigger(availableNow=True)
         .outputMode("append")
         .start())
    q.awaitTermination()
    # an availableNow drain may split into several micro-batches
    # (maxFilesPerTrigger); lastProgress covers only the final one, so
    # sum numInputRows over the whole retained progress history
    return sum(int(p["numInputRows"]) for p in q.recentProgress)


def enriched_segment_counts(spark: SparkSession, sf_dir: str,
                            window: str = "1 day",
                            watermark: str = "10 minutes",
                            query_name: str = "enriched_segments",
                            state_partitions: int = DEFAULT_STATE_PARTITIONS) -> DataFrame:
    """Stream-static join + windowed aggregation: the streaming events
    feed joins the STATIC customer dimension (user_id -> c_custkey) and
    aggregates exact-decimal value per (window, market segment).

    Stream-static joins are stateless — the static side is re-planned per
    micro-batch (picking up dim updates between batches) and joins as an
    ordinary broadcast/shuffle join, with NO join state stored. Only the
    downstream windowed agg keeps state, bounded by its watermark. This
    is the standard enrichment shape for an always-on ingest: dims stay
    in a table, facts stream past them.
    """
    dim = (tables.load(spark, sf_dir, "customer")
           .select(F.col("c_custkey").alias("user_id"), "c_mktsegment"))
    agg = (_event_stream(spark, sf_dir)
           .join(dim, "user_id")                     # stream-static, stateless
           .withWatermark("ts_t", watermark)
           .groupBy(F.window("ts_t", window).alias("w"), "c_mktsegment")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                 .alias("sum_value")))
    with _state_partitions(spark, state_partitions):
        q = (agg.writeStream.format("memory").queryName(query_name)
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination()
    return (spark.table(query_name)
            .select(F.date_format("w.start", "yyyy-MM-dd").alias("day"),
                    "c_mktsegment", "n_events", "sum_value"))


def upsert_latest_state(spark: SparkSession, sf_dir: str, target_dir: str,
                        checkpoint_dir: str,
                        query_name: str = "upsert_latest",
                        glob: str = "events.parquet") -> DataFrame:
    """foreachBatch keyed upsert: maintain a parquet table of each user's
    LATEST event (last-writer-wins on (ts, event_id)) from the stream.

    This is the MERGE-into-keyed-table pattern (the file-sink analog of
    Delta/Iceberg MERGE): the file sink alone is append-only, so upserts
    go through foreachBatch, which (1) reduces the incoming batch to one
    row per key, (2) unions the existing table, (3) keeps the winner per
    key, (4) publishes by atomic directory swap. Re-running a batch
    produces the same table — max() is idempotent — which is what makes
    foreachBatch's at-least-once contract safe here.

    Scale shape: the rewrite cost is O(table), the right baseline for a
    compact keyed state table (one row per user). A 100 TB fact table is
    NOT upserted this way — that's what the watermarked aggregations are
    for; this pattern is for the bounded latest-state dimension derived
    from the stream. Returns the final keyed table.
    """
    import os
    import shutil

    def merge(batch: DataFrame, batch_id: int) -> None:
        sp = batch.sparkSession
        latest_b = (batch.groupBy("user_id")
                    .agg(F.max(F.struct("ts", "event_id", "event_type", "value"))
                          .alias("_m"))
                    .select("user_id", "_m.ts", "_m.event_id",
                            "_m.event_type", "_m.value"))
        if os.path.isdir(target_dir):
            cur = sp.read.parquet(target_dir)
            latest_b = (cur.unionByName(latest_b)
                        .groupBy("user_id")
                        .agg(F.max(F.struct("ts", "event_id", "event_type", "value"))
                              .alias("_m"))
                        .select("user_id", "_m.ts", "_m.event_id",
                                "_m.event_type", "_m.value"))
        tmp = target_dir.rstrip("/") + f"._staging_{batch_id}"
        latest_b.write.mode("overwrite").parquet(tmp)
        old = target_dir.rstrip("/") + "._old"
        if os.path.isdir(target_dir):
            os.rename(target_dir, old)
        os.rename(tmp, target_dir)
        shutil.rmtree(old, ignore_errors=True)

    ev = _event_stream(spark, sf_dir, glob=glob).select(
        "user_id", "ts", "event_id", "event_type", "value")
    q = (ev.writeStream.foreachBatch(merge)
         .queryName(query_name)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.read.parquet(target_dir)


def enriched_daily_report_to_parquet(spark: SparkSession, sf_dir: str,
                                     out_dir: str, checkpoint_dir: str,
                                     window: str = "1 day",
                                     watermark: str = "10 minutes",
                                     query_name: str = "stream_report",
                                     state_partitions: int = DEFAULT_STATE_PARTITIONS) -> int:
    """The composite streaming ETL: stream -> static-dim enrichment ->
    watermarked daily aggregation -> APPEND-mode partitioned parquet.
    Each stage exists standalone in this module; this is the
    always-on-report shape that chains them against a FILE sink, where
    complete mode is unavailable and emission follows the append rule:

    **a window's row is written exactly once, when the watermark passes
    its end** — so after an availableNow drain the final (still-open)
    window is NOT in the table; it sits in checkpointed state and emits
    when later data advances the watermark. That rule is what makes the
    output deterministic and oracle-checkable: emitted rows = complete
    windows with end <= max(ts) - watermark. A replay against the same
    checkpoint ingests nothing and appends nothing (exactly-once file
    sink), asserted by the catalog query's double drain.

    Returns the input rows processed by THIS run (0 on pure replay).
    """
    dim = (tables.load(spark, sf_dir, "customer")
           .select(F.col("c_custkey").alias("user_id"), "c_mktsegment"))
    agg = (_event_stream(spark, sf_dir)
           .join(dim, "user_id")                     # stream-static, stateless
           .withWatermark("ts_t", watermark)
           .groupBy(F.window("ts_t", window).alias("w"), "c_mktsegment")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                 .alias("sum_value"))
           .select(F.date_format("w.start", "yyyy-MM-dd").alias("day"),
                   "c_mktsegment", "n_events", "sum_value"))
    with _state_partitions(spark, state_partitions):
        q = (agg.writeStream.format("parquet")
             .queryName(query_name)
             .option("path", out_dir)
             .option("checkpointLocation", checkpoint_dir)
             .partitionBy("day")
             .trigger(availableNow=True)
             .outputMode("append")
             .start())
        q.awaitTermination()
    return sum(int(p["numInputRows"]) for p in q.recentProgress)


def streaming_funnel(spark: SparkSession, sf_dir: str,
                     query_name: str = "stream_funnel",
                     state_partitions: int = DEFAULT_STATE_PARTITIONS,
                     max_files_per_trigger: int | None = None,
                     glob: str = "events.parquet") -> DataFrame:
    """Per-user conversion funnel (view -> first click strictly after ->
    first purchase strictly after) as a stateful STREAM via
    applyInPandasWithState — the sequence-matching state machine batch
    window functions can't do incrementally.

    Out-of-order safety is the whole design: a late-arriving earlier
    'view' retroactively re-qualifies clicks that were useless before,
    so the state keeps the CANDIDATE SETS (min view time, click times,
    purchase times), not the resolved funnel — the funnel is recomputed
    from candidates on every update, which makes the final answer
    independent of arrival order and therefore bit-identical to the
    batch oracle (catalog SQL_OP_FUNNEL). Funnel depth is monotone under
    growing candidate sets, so update-mode re-emissions only improve;
    the drain keeps each user's last emission (max events seen).

    State is O(clicks + purchases) per user — bounded in production by
    session/retention eviction (GroupStateTimeout), kept unbounded here
    because the drain is finite; the trade-off is documented rather than
    hidden. At 100 TB the state store shards on user_id across
    executors; candidate lists this shape are the documented cost of
    exact out-of-order sequence matching (the alternative — resolved
    scalars — is cheaper but silently order-dependent).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        if state.exists:
            n_seen, min_view, clicks, purchases = state.get
            clicks, purchases = list(clicks), list(purchases)
        else:
            # None (nullable LONG state field), NOT a numeric sentinel:
            # -1 would be indistinguishable from a legitimate pre-1970
            # (negative epoch-µs) view timestamp and silently diverge
            # from the batch oracle on pre-epoch data
            n_seen, min_view, clicks, purchases = 0, None, [], []
        for pdf in pdfs:
            n_seen += len(pdf)
            # normalize to ns first: arrow may hand back datetime64[ns]
            # or [us] depending on pandas/arrow versions; int64-of-ns is
            # unambiguous, then // 1000 -> µs. Vectorized masks, not a
            # per-row loop — the batch is Arrow-columnar already.
            tu = (pdf["ts"].astype("datetime64[ns]").astype("int64")
                  // 1000)
            et = pdf["event_type"]
            views = tu[et == "view"]
            if len(views):
                v = int(views.min())
                min_view = v if min_view is None else min(min_view, v)
            clicks.extend(int(u) for u in tu[et == "click"])
            purchases.extend(int(u) for u in tu[et == "purchase"])
        state.update((n_seen, min_view, clicks, purchases))
        t_view = min_view
        t_click = (min((c for c in clicks if t_view is not None
                        and c > t_view), default=None))
        t_purchase = (min((p for p in purchases if t_click is not None
                           and p > t_click), default=None))
        depth = (3 if t_purchase is not None else
                 2 if t_click is not None else
                 1 if t_view is not None else 0)
        yield pd.DataFrame({
            "user_id": pd.array([key[0]], dtype="Int64"),
            "n_seen": pd.array([n_seen], dtype="Int64"),
            "t_view": pd.array([t_view], dtype="Int64"),
            "t_click": pd.array([t_click], dtype="Int64"),
            "t_purchase": pd.array([t_purchase], dtype="Int64"),
            "funnel_depth": pd.array([depth], dtype="Int64"),
        })

    stream = _event_stream(spark, sf_dir, glob=glob,
                           max_files_per_trigger=max_files_per_trigger)
    out = (stream.groupBy("user_id")
           .applyInPandasWithState(
               update,
               outputStructType=("user_id LONG, n_seen LONG, t_view LONG, "
                                 "t_click LONG, t_purchase LONG, "
                                 "funnel_depth LONG"),
               stateStructType=("n_seen LONG, min_view LONG, "
                                "clicks ARRAY<LONG>, purchases ARRAY<LONG>"),
               outputMode="update",
               timeoutConf=GroupStateTimeout.NoTimeout))
    with _state_partitions(spark, state_partitions):
        q = (out.writeStream.format("memory").queryName(query_name)
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination()
    # last (= most-informed) emission per user: candidates only grow, so
    # max n_seen identifies it
    final = (spark.table(query_name).groupBy("user_id")
             .agg(F.max_by(F.struct("t_view", "t_click", "t_purchase",
                                    "funnel_depth"), "n_seen").alias("_f")))
    return final.select("user_id", "_f.t_view", "_f.t_click",
                        "_f.t_purchase", "_f.funnel_depth")


def streaming_trending_topk(spark: SparkSession, sf_dir: str, k: int = 3,
                            window: str = "1 hour",
                            watermark: str = "10 minutes",
                            query_name: str = "stream_trending",
                            state_partitions: int = DEFAULT_STATE_PARTITIONS) -> DataFrame:
    """Trending top-k: the k most frequent event types PER tumbling
    window — the live leaderboard every monitoring/trending surface
    runs. Structured Streaming cannot rank inside an aggregation, so
    the streaming stage maintains the windowed counts (the incremental,
    stateful part) and the rank is a tiny batch window over the DRAINED
    count table — the same drain-then-finalize split as
    ``streaming_funnel``: state stays bounded by (windows x types), and
    the finalize step sees one row per (window, type), not per event.
    Deterministic order: (count desc, event_type) within each window.
    """
    from pyspark.sql.window import Window

    agg = (_event_stream(spark, sf_dir)
           .withWatermark("ts_t", watermark)
           .groupBy(F.window("ts_t", window).alias("w"), "event_type")
           .agg(F.count("*").alias("n_events")))
    with _state_partitions(spark, state_partitions):
        q = (agg.writeStream.format("memory").queryName(query_name)
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination()
    w = Window.partitionBy("w").orderBy(F.col("n_events").desc(),
                                        F.col("event_type").asc())
    return (spark.table(query_name)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                     .alias("window_start"), "event_type", "n_events",
                    F.col("rank").cast("long").alias("rank")))


def streaming_drift(spark: SparkSession, sf_dir: str,
                    window: str = "1 day",
                    watermark: str = "10 minutes",
                    bin_cents: int = 500,
                    query_name: str = "streaming_drift",
                    state_partitions: int = DEFAULT_STATE_PARTITIONS
                    ) -> DataFrame:
    """Per-window distribution-drift monitor: each tumbling window's
    event-value histogram is scored against the full-corpus reference
    distribution with the log-free goodness-of-fit chi-square — the
    streaming face of operators/ml.py drift_bins (a serving pipeline
    watches this to catch feature drift the day it starts, not at the
    next batch audit).

    The windowed histogram runs on the STREAMING engine (watermarked
    tumbling window over value bins, complete-mode drain); the reference
    join and the per-cell chi-square are batch post-processing of the
    drained frame — bins x windows rows, not event rows. Each cell's
    term (o*Nr - nw*rb)^2 / (nw*rb*Nr) is a fixed double chain over
    exact DECIMAL(38,0) integer cross products; there is no cross-row
    double sum anywhere (drift_bins discipline).

    Returns (window_start, bin, n_bin, chi2_term_r) ordered.
    """
    binx = F.expr(
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"
        f" DIV {int(bin_cents)}")
    agg = (_event_stream(spark, sf_dir)
           .withWatermark("ts_t", watermark)
           .select(F.col("ts_t"), binx.alias("bin"))
           .groupBy(F.window("ts_t", window).alias("w"), "bin")
           .agg(F.count(F.lit(1)).alias("n_bin")))
    with _state_partitions(spark, state_partitions):
        q = (agg.writeStream.format("memory").queryName(query_name)
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination()
    win = (spark.table(query_name)
           .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                    .alias("window_start"), "bin", "n_bin"))

    ev = tables.load(spark, sf_dir, "events")
    ref = (ev.select(binx.alias("bin"))
             .groupBy("bin").agg(F.count(F.lit(1)).alias("_rb")))
    tot = ref.agg(F.sum("_rb").alias("_nr"))
    nw = win.groupBy("window_start").agg(F.sum("n_bin").alias("_nw"))

    j = (win.join(F.broadcast(ref), "bin")
            .join(F.broadcast(nw), "window_start")
            .crossJoin(F.broadcast(tot)))
    dec = "CAST({} AS DECIMAL(38,0))"
    num = ("CAST(" + dec.format("n_bin") + " * " + dec.format("_nr")
           + " - " + dec.format("_nw") + " * " + dec.format("_rb")
           + " AS DOUBLE)")
    den = ("CAST(" + dec.format("_nw") + " * " + dec.format("_rb")
           + " * " + dec.format("_nr") + " AS DOUBLE)")
    term = f"round(({num}) * ({num}) / ({den}), 6)"
    return (j.selectExpr("window_start", "bin", "n_bin",
                         f"{term} AS chi2_term_r")
             .orderBy("window_start", "bin"))


def streaming_quality_gate(spark: SparkSession, sf_dir: str,
                           query_name: str = "stream_quality_gate",
                           state_partitions: int = DEFAULT_STATE_PARTITIONS) -> DataFrame:
    """Streaming corpus-intake gate: documents arrive as files, the
    Gopher rule battery evaluates as a STATELESS per-row projection
    inside the micro-batch (rule gates have no cross-row state — the
    same property that makes them the cheapest batch pass makes them
    free in a stream), and a running per-source admission tally
    aggregates in complete mode. This is the live version of the
    curation funnel's first stage: a crawler drops files into a
    landing prefix and the gate's pass-rate per source updates as they
    land — a source whose pass-rate collapses mid-crawl is detected
    while the crawl is still running, not at the next batch rebuild.

    State is bounded by |sources| (the aggregation key), not by
    document volume — the watermark-free complete-mode agg is safe
    here for exactly that reason. Drained with availableNow into a
    memory sink and returned as a finished frame, like every streaming
    twin in this module. Returns (source, n_docs, n_pass).
    """
    from ..operators.text import gopher_rules

    docs = (spark.readStream.schema(tables.read_schema("documents"))
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir))
    agg = (gopher_rules(docs, keep=("source",))
           .groupBy("source")
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(F.when(F.col("pass_gopher"), 1).otherwise(0))
                 .cast("long").alias("n_pass")))
    with _state_partitions(spark, state_partitions):
        q = (agg.writeStream.format("memory").queryName(query_name)
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination()
    return spark.table(query_name).select("source", "n_docs", "n_pass")


def token_meter_projection(text_col, merges, engine: str = "auto"):
    """Per-document (n_words, n_pieces) under a learned BPE merge
    table as ONE stateless projection — no distinct-word frame, no
    join: each word in the whitespace token array is segmented by the
    full merge-fold chain inline (bpe.merge_fold per rank, the lambda
    touching only its own variable). This pays segmentation per token
    OCCURRENCE where the batch encoder (bpe.bpe_encode) amortizes it
    per DISTINCT word via Zipf — the deliberate trade that makes the
    expression streaming-safe (zero cross-row state). Returns a
    struct column (n_words, n_pieces).

    engine='auto' resolves to ARROW at every model size (r12 — the
    opposite default from bpe.bpe_apply_merges, deliberately): the
    encoders amortize fold cost over the DISTINCT-word frame, but
    this projection pays it per token OCCURRENCE, so the fold's
    zero-Python advantage never wins here — SCALING.md's r11 row has
    the 10,240-rank Arrow drain 6.4x FASTER than even the 8-rank
    fold drain at sf0.1 (2.58s vs 16.51s). engine='fold' stays
    available for the zero-Python, oracle-bit-replayable plan.
    ``_token_meter_arrow`` is an Arrow-batched scalar pandas_udf
    whose closure carries the merge table and whose per-word kernel
    (tokenizer_arrow.bpe_merge_word) is the exact fold twin — still
    stateless and streaming-safe. Bit-identity pinned in
    tests/test_round10b.py and tests/test_round12.py."""
    from ..operators.bpe import END_MARK, merge_fold
    from ..operators.text import tokens

    pairs = [(str(a), str(b)) for a, b in merges]
    if engine == "auto":
        engine = "arrow"
    if engine == "arrow":
        return _token_meter_arrow(pairs)(text_col)
    if engine != "fold":
        raise ValueError(f"unknown engine {engine!r}")

    def pieces_of(word):
        syms = F.concat(F.regexp_extract_all(word, F.lit("."), 0),
                        F.array(F.lit(END_MARK)))
        for a, b in pairs:
            syms = merge_fold(syms, F.lit(a), F.lit(b))
        return F.size(syms).cast("long")

    # NULL text must meter as 0 tokens, not size(NULL) = -1 (non-ANSI
    # size semantics) — the batch-twin oracle COALESCEs missing docs
    # to 0, so a NULL row would silently skew the differential
    ws = F.coalesce(tokens(text_col), F.array().cast("array<string>"))
    n_pieces = F.aggregate(
        F.transform(ws, pieces_of),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    return F.struct(F.size(ws).cast("long").alias("n_words"),
                    n_pieces.alias("n_pieces"))


def _token_meter_arrow(pairs):
    """Arrow engine for ``token_meter_projection``: a stateless scalar
    pandas_udf whose closure carries the merge table — the plan stays
    one ArrowEvalPython node regardless of rank count (the
    production-vocabulary path). Tokenization stays SPARK-side (the
    same ``tokens()`` expression as the fold path, NULL coalesced to
    an empty array), so the Python kernel only replays the merge
    passes (tokenizer_arrow.bpe_merge_word — the exact fold-chain
    twin) and no lower/split semantics can drift between engines."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..operators.bpe import END_MARK
    from ..operators.text import tokens
    from ..operators.tokenizer_arrow import (bpe_merge_index,
                                             bpe_merge_word,
                                             java_dot_chars)

    rank_of, pair_at = bpe_merge_index(pairs)

    # no type hints: the module's deferred annotations (`from
    # __future__ import annotations`) turn them into strings, which
    # pandas_udf's hint inference rejects — the explicit returnType
    # alone pins the scalar Series -> DataFrame(struct) shape
    def _meter(tok):
        n_words, n_pieces = [], []
        for words in tok:
            total = 0
            for w in words:
                # java_dot_chars, not list(w): the fold splits with
                # regexp_extract_all(word, '.') whose Java '.' drops
                # the five line terminators — U+0085/U+2028/U+2029
                # survive tokens()'s ASCII \s split, so a plain
                # list(w) would count extra symbols and break the
                # fold/arrow bit-identity (r11 ADVICE, medium)
                total += len(bpe_merge_word(
                    java_dot_chars(w) + [END_MARK], rank_of, pair_at))
            n_words.append(len(words))
            n_pieces.append(total)
        return pd.DataFrame({"n_words": n_words, "n_pieces": n_pieces})

    meter = pandas_udf(_meter, "struct<n_words: bigint, n_pieces: bigint>")

    return lambda text_col: meter(
        F.coalesce(tokens(text_col), F.array().cast("array<string>")))


def streaming_token_meter(spark: SparkSession, sf_dir: str, merges,
                          query_name: str = "stream_token_meter",
                          state_partitions: int = DEFAULT_STATE_PARTITIONS,
                          engine: str = "auto") -> DataFrame:
    """Streaming per-source token metering: documents land as files
    and each source's running document/word/BPE-piece totals update
    per micro-batch — the live token-budget accounting an ingest
    pipeline runs while a crawl is still in flight (is source X about
    to blow the corpus token budget? is its pieces-per-word fertility
    drifting?). The tokenizer runs as token_meter_projection's
    stateless per-row expression; the only state is the per-source
    complete-mode aggregate, bounded by |sources| exactly like
    streaming_quality_gate. Drained with availableNow into a memory
    sink, like every streaming twin in this module. Returns
    (source, n_docs, n_words, n_pieces)."""
    docs = (spark.readStream.schema(tables.read_schema("documents"))
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir))
    m = token_meter_projection(F.col("text"), merges, engine=engine)
    agg = (docs.select("source", m.alias("_m"))
           .groupBy("source")
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("_m.n_words").cast("long").alias("n_words"),
                F.sum("_m.n_pieces").cast("long").alias("n_pieces")))
    with _state_partitions(spark, state_partitions):
        q = (agg.writeStream.format("memory").queryName(query_name)
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination()
    return spark.table(query_name).select("source", "n_docs",
                                          "n_words", "n_pieces")


def streaming_provenance_meter(spark: SparkSession, sf_dir: str,
                               window: int = 16, stride: int = 8,
                               max_docs_per_hash: int = 32,
                               query_name: str = "stream_provenance",
                               state_partitions: int =
                               DEFAULT_STATE_PARTITIONS) -> DataFrame:
    """Streaming incremental provenance: landing documents stream in
    (here: the doc_id % 10 == 0 batch of the documents file, the
    dedup-incremental split) and each (batch_source, corpus_source)
    cell's running duplication evidence updates per micro-batch — the
    live which-source-is-this-crawl-copying meter an ingest pipeline
    watches while a crawl is still in flight, the streaming face of
    ``passage_provenance_incremental``.

    Streaming shape: the corpus-side per-(passage, source)
    distinct-doc counts are the STATIC side (in production the
    persisted ``passage_inventory`` aggregate, maintained at accept
    time; localCheckpointed here so the static plan doesn't re-derive
    per micro-batch); the stream side is a stateless per-row
    projection — array_distinct over the passage-hash array BEFORE
    explode gives per-doc set semantics without a stateful
    dropDuplicates — into a stateless stream-static join and ONE
    complete-mode aggregate bounded by |sources|^2.

    Per-cell columns: hit_doc_passages = (batch doc, passage)
    incidences that hit the corpus source (= sum over shared hashes
    of nd_batch); dup_doc_pairs = sum over those incidences of the
    corpus source's distinct-doc count — algebraically identical to
    ``passage_provenance_incremental``'s dup_doc_pairs (sum of
    nd_b * nd_c), so the drained stream bit-matches the batch matrix
    on that column (pinned by test and by the oracle twin)."""
    from ..operators.text import passage_hash_array, passage_hashes

    docs_b = (spark.read.schema(tables.read_schema("documents"))
              .option("pathGlobFilter", "documents.parquet").parquet(sf_dir))
    did, h = passage_hashes(F.col("doc_id"), F.col("text"),
                            window=window, stride=stride)
    cwins = (docs_b.filter(F.col("doc_id") % 10 != 0)
             .select(did.alias("_id"),
                     F.col("source").alias("corpus_source"),
                     h.alias("_h")).distinct()
             .localCheckpoint(eager=False))
    keep = (cwins.groupBy("_h")
                 .agg(F.countDistinct("_id").alias("_ndall"))
                 .filter(F.col("_ndall") <= max_docs_per_hash)
                 .select("_h"))
    cg = (cwins.join(keep, "_h")
               .groupBy("_h", "corpus_source")
               .agg(F.countDistinct("_id").cast("long").alias("_nd"))
               .localCheckpoint(eager=False))

    schema = docs_b.schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "documents.parquet")
              .parquet(sf_dir)
              .filter(F.col("doc_id") % 10 == 0)
              .select(F.col("source").alias("batch_source"),
                      F.explode(F.array_distinct(passage_hash_array(
                          F.col("text"), window, stride))).alias("_h")))
    agg = (stream.join(cg, "_h")
           .groupBy("batch_source", "corpus_source")
           .agg(F.count(F.lit(1)).cast("long")
                 .alias("hit_doc_passages"),
                F.sum("_nd").cast("long").alias("dup_doc_pairs")))
    with _state_partitions(spark, state_partitions):
        q = (agg.writeStream.format("memory").queryName(query_name)
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination()
    return spark.table(query_name).select(
        "batch_source", "corpus_source", "hit_doc_passages",
        "dup_doc_pairs")


def streaming_near_dup_meter(spark: SparkSession, sf_dir: str,
                             n: int = 3, threshold: float = 0.2,
                             max_df: int | None = 1000,
                             query_name: str = "stream_incr_near",
                             state_partitions: int =
                             DEFAULT_STATE_PARTITIONS) -> DataFrame:
    """Streaming incremental NEAR-dup pairs: landing documents stream
    in (the doc_id % 10 == 0 batch, the dedup-incremental split) and
    every verified (new_id, index_id, jaccard) pair against the
    accepted corpus materializes as the batch arrives — the live
    is-this-crawl-a-paraphrase meter, the streaming face of
    ``dedup.incremental_jaccard_pairs`` the way
    ``streaming_provenance_meter`` is the exact matrix's. Completes
    the dedup family's batch/stream x exact/near x full/incremental
    cube.

    Streaming shape: the corpus's inverted shingle postings are the
    STATIC side (in production the persisted ``shingle_inventory``
    artifact maintained at accept time; localCheckpointed here so the
    static plan computes once, not per micro-batch), with the hot-
    shingle df cap pre-applied STATICALLY — the df statistic is a
    corpus-side property, so unlike the batch path it needn't be
    restricted to batch hits (same values either way, the proven
    invariance). The stream side is a stateless per-row projection:
    ``word_shingles`` is already distinct, so exploding it gives set
    semantics with no stateful dropDuplicates; the hot-key anti-join
    and the stream-static postings join are stateless, and ONE
    complete-mode count per candidate (new_id, index_id, sizes) pair
    is the only state — bounded by batch docs x df-capped postings
    hits, exactly the frame the batch path shuffles. The
    jaccard/threshold arithmetic runs AFTER the aggregate (stateless
    post-agg projection; a second streaming agg would be illegal, and
    none is needed). Drains to bit-equality with the batch pair set
    (pinned by test and by reusing its oracle verbatim).
    """
    from ..operators.dedup import word_shingles

    docs_b = (spark.read.schema(tables.read_schema("documents"))
              .option("pathGlobFilter", "documents.parquet").parquet(sf_dir))
    corpus = docs_b.filter(F.col("doc_id") % 10 != 0)
    sh = word_shingles(F.col("text"), n)
    inv = (corpus.select(F.col("doc_id").alias("index_id"),
                         sh.alias("sh"))
                 .select("index_id", F.size("sh").alias("_mi"),
                         F.explode("sh").alias("_s"))
                 .select("index_id", "_mi",
                         F.xxhash64("_s").alias("_sk")))
    hot = None
    if max_df is not None:
        hot = (inv.groupBy("_sk").agg(F.count("*").alias("_df"))
                  .filter(F.col("_df") > max_df).select("_sk")
                  .localCheckpoint(eager=False))
        inv = inv.join(F.broadcast(hot), "_sk", "left_anti")
    inv = inv.localCheckpoint(eager=False)

    schema = docs_b.schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "documents.parquet")
              .parquet(sf_dir)
              .filter(F.col("doc_id") % 10 == 0)
              .select(F.col("doc_id").alias("new_id"), sh.alias("sh"))
              .select("new_id", F.size("sh").alias("_mn"),
                      F.explode("sh").alias("_s"))
              .select("new_id", "_mn", F.xxhash64("_s").alias("_sk")))
    if hot is not None:
        stream = stream.join(F.broadcast(hot), "_sk", "left_anti")
    inter = (stream.join(inv, "_sk")
             .groupBy("new_id", "index_id", "_mn", "_mi")
             .agg(F.count(F.lit(1)).alias("_i")))
    with _state_partitions(spark, state_partitions):
        q = (inter.writeStream.format("memory").queryName(query_name)
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination()
    jac = F.col("_i") / (F.col("_mn") + F.col("_mi") - F.col("_i"))
    return (spark.table(query_name)
            .filter(jac >= threshold)
            .select("new_id", "index_id",
                    F.round(jac, 4).alias("jaccard_r")))
