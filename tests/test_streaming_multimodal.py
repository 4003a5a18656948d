"""Streaming + multimodal + plan tests: watermark/append semantics, Arrow
batch plumbing, EP3-from-fixtures golden output."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_windowed_counts_match_batch(spark):
    from tf_prisma_api_data_ingestion_spark import tables
    from tf_prisma_api_data_ingestion_spark.streaming.windows import (
        windowed_event_counts,
    )
    got = windowed_event_counts(spark, SF_DIR, query_name="t_tumbling")
    ev = tables.load(spark, SF_DIR, "events")
    want = (ev.withColumn("ts_t", F.col("ts"))
            .groupBy(F.window("ts_t", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events")))
    assert got.count() == want.count()
    assert got.agg(F.sum("n_events")).first()[0] == ev.count()


def test_append_mode_holds_back_open_windows(spark):
    # the canonical watermark semantics: in append mode, windows the final
    # watermark has not passed are NOT emitted on drain
    from tf_prisma_api_data_ingestion_spark.streaming.windows import _event_stream
    agg = (_event_stream(spark, SF_DIR)
           .withWatermark("ts_t", "10 minutes")
           .groupBy(F.window("ts_t", "1 hour").alias("w"))
           .agg(F.count("*").alias("n")))
    q = (agg.writeStream.format("memory").queryName("t_append")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    appended = spark.table("t_append").count()
    # at least the last open window is held back vs the complete count
    from tf_prisma_api_data_ingestion_spark import tables
    ev = tables.load(spark, SF_DIR, "events")
    total_windows = (ev.withColumn("ts_t", F.col("ts"))
                     .groupBy(F.window("ts_t", "1 hour")).count().count())
    assert appended < total_windows


def test_multimodal_decode_features(spark):
    from tf_prisma_api_data_ingestion_spark.multimodal import (
        fake_decode_features,
        with_binary_payload,
    )
    df = spark.createDataFrame([(1, "abc"), (2, "a" * 700)],
                               "doc_id LONG, text STRING")
    got = {r.doc_id: r for r in
           fake_decode_features(with_binary_payload(df)).collect()}
    assert got[1].n_bytes == 3 and got[1].width == 3 and got[1].height == 21
    assert got[2].n_bytes == 700 and got[2].width == 60 and got[2].height == 100


def test_multimodal_decode_stub_raises(spark):
    from tf_prisma_api_data_ingestion_spark.multimodal import decode_image
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_frame_sample_cardinality(spark):
    from tf_prisma_api_data_ingestion_spark.multimodal import (
        fake_frame_sample,
        with_binary_payload,
    )
    df = spark.createDataFrame([(1, "x" * 29)], "doc_id LONG, text STRING")
    # 29 bytes -> n_frames = 29 % 30 + 1 = 30 -> frames 0,7,14,21,28
    got = fake_frame_sample(with_binary_payload(df)).collect()
    assert sorted(r.frame_idx for r in got) == [0, 7, 14, 21, 28]
    assert all(r.n_frames == 30 for r in got)


def test_alert_report_from_fixtures_golden(spark):
    from tf_prisma_api_data_ingestion_spark.plans.report import (
        alert_report_from_fixtures,
    )
    policies = spark.createDataFrame(
        [("pol-1", "S3 public", "config", "high"),
         ("pol-2", "Root MFA", "iam", "critical")],
        "policyId STRING, policyName STRING, policyType STRING, severity STRING")
    alerts = spark.createDataFrame(
        [("pol-1", ("prod", "111", "aws", ["Default"])),
         ("pol-1", ("prod", "111", "aws", ["Default"])),
         ("pol-1", ("dev", "222", "gcp", [])),       # empty groups (§2.5.6)
         ("pol-2", ("prod", "111", "aws", ["G2"]))],
        "policyId STRING, resource STRUCT<account STRING, accountId STRING, "
        "cloudType STRING, cloudAccountGroups ARRAY<STRING>>")
    got = {(r["Policy Name"], r["Cloud Account Name"]): r
           for r in alert_report_from_fixtures(policies, alerts).collect()}
    prod = got[("S3 public", "prod")]
    assert prod["Failed Resource Count"] == 2
    assert prod["Policy Severity"] == "HIGH" and prod["Cloud Type"] == "AWS"
    dev = got[("S3 public", "dev")]
    assert dev["Cloud Account Group"] is None     # null-safe, no IndexError
    assert got[("Root MFA", "prod")]["Policy Severity"] == "CRITICAL"


def test_inventory_run_counts(spark):
    from tf_prisma_api_data_ingestion_spark import tables
    from tf_prisma_api_data_ingestion_spark.plans.inventory import inventory_run
    got = inventory_run(spark, SF_DIR)
    p = tables.load(spark, SF_DIR, "part")
    n_types = p.select("p_type").distinct().count()
    n_pairs = p.select("p_type", "p_brand").distinct().count()
    assert got.count() == n_types + n_pairs
    svc = got.filter(F.col("resourceIdentity").isNull())
    assert svc.agg(F.sum("totalResources")).first()[0] == p.count()


def test_session_window_gap_semantics(spark):
    """Sessions merge events closer than the gap and split at >= gap;
    every event lands in exactly one session."""
    from tf_prisma_api_data_ingestion_spark import tables
    from tf_prisma_api_data_ingestion_spark.streaming.windows import (
        session_event_counts,
    )
    got = session_event_counts(spark, SF_DIR, query_name="t_sessions")
    ev = tables.load(spark, SF_DIR, "events")
    # partition property: session event counts sum to the input size
    assert got.agg(F.sum("n_events")).first()[0] == ev.count()
    # per-user session starts are >= gap apart
    rows = got.orderBy("user_id", "session_start_sec").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r.session_start_sec)
    assert any(len(v) > 1 for v in by_user.values())
    for starts in by_user.values():
        assert all(b - a >= 1800 for a, b in zip(starts, starts[1:]))


def test_corpus_clean_invariants(spark):
    """Survivors pass the quality gate, are unique by content, and no two
    survivors are near-dups at the clustering threshold."""
    from pyspark.sql import functions as F
    from tf_prisma_api_data_ingestion_spark import tables
    from tf_prisma_api_data_ingestion_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from tf_prisma_api_data_ingestion_spark.plans.corpus import corpus_clean
    kept = corpus_clean(spark, SF_DIR)
    rows = kept.collect()
    assert 0 < len(rows) < tables.load(spark, SF_DIR, "documents").count()
    assert all(r.quality_score >= 0.5 and r.n_tokens >= 10 for r in rows)
    d = tables.load(spark, SF_DIR, "documents")
    survivors = d.join(kept.select("doc_id"), "doc_id")
    # content-unique
    assert survivors.select(F.md5("text")).distinct().count() == len(rows)
    # no surviving pair is a near-dup at the threshold
    assert ngram_jaccard_pairs(survivors, n=3, threshold=0.5,
                               max_df=10**9).count() == 0


def test_stream_stream_join_matches_batch_interval_join(spark):
    from tf_prisma_api_data_ingestion_spark import tables
    from tf_prisma_api_data_ingestion_spark.streaming.windows import (
        clicks_joined_to_purchases,
    )
    got = clicks_joined_to_purchases(spark, SF_DIR, query_name="t_ss_join")
    ev = (tables.load(spark, SF_DIR, "events")
          .withColumn("us", F.unix_micros(F.col("ts"))))
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("cu"),
        F.col("us").alias("c_us"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id").alias("pu"),
        F.col("us").alias("p_us"))
    want = c.join(p, (F.col("cu") == F.col("pu"))
                  & (F.col("p_us") >= F.col("c_us"))
                  & (F.col("p_us") <= F.col("c_us") + 30 * 60 * 1_000_000))
    assert got.count() == want.count()
    # gaps are non-negative and within the 30-minute bound
    bad = got.filter((F.col("gap_us") < 0)
                     | (F.col("gap_us") > 30 * 60 * 1_000_000)).count()
    assert bad == 0


def test_stream_dedup_matches_batch_distinct(spark):
    from tf_prisma_api_data_ingestion_spark import tables
    from tf_prisma_api_data_ingestion_spark.streaming.windows import (
        deduped_daily_actions,
    )
    got = deduped_daily_actions(spark, SF_DIR, query_name="t_ss_dedup")
    ev = tables.load(spark, SF_DIR, "events")
    want = (ev.withColumn("ts_t", F.col("ts"))
            .select("user_id", "event_type",
                    F.date_format(F.date_trunc("day", "ts_t"),
                                  "yyyy-MM-dd").alias("day"))
            .distinct())
    assert got.count() == want.count()
    assert got.distinct().count() == got.count()


def test_stream_parquet_sink_exactly_once_on_restart(spark, tmp_path):
    from tf_prisma_api_data_ingestion_spark import tables
    from tf_prisma_api_data_ingestion_spark.streaming.windows import (
        stream_to_partitioned_parquet,
    )
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    n_events = tables.load(spark, SF_DIR, "events").count()

    n1 = stream_to_partitioned_parquet(spark, SF_DIR, out, ckpt,
                                       query_name="t_sink_run1")
    written = spark.read.parquet(out)
    assert n1 == n_events
    assert written.count() == n_events
    # day partition layout exists and prunes
    assert "day" in written.columns
    days = [r.day for r in written.select("day").distinct().collect()]
    assert len(days) > 1

    # restart against the same checkpoint: source offsets say everything
    # is already committed -> zero new input, zero duplicate rows
    n2 = stream_to_partitioned_parquet(spark, SF_DIR, out, ckpt,
                                       query_name="t_sink_run2")
    assert n2 == 0
    assert spark.read.parquet(out).count() == n_events


def test_stream_report_append_emission_and_replay(spark, tmp_path):
    """The composite stream report publishes exactly the COMPLETE daily
    windows (append rule: emitted when watermark passes window end); the
    final open day stays in state, and a replay appends nothing."""
    from pyspark.sql import functions as F

    from tf_prisma_api_data_ingestion_spark import tables
    from tf_prisma_api_data_ingestion_spark.streaming.windows import (
        enriched_daily_report_to_parquet,
    )
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    n1 = enriched_daily_report_to_parquet(spark, SF_DIR, out, ckpt,
                                          query_name="t_report_run1")
    assert n1 > 0
    got = spark.read.parquet(out)
    days = sorted(r.day for r in got.select(
        F.col("day").cast("string").alias("day")).distinct().collect())

    ev = tables.load(spark, SF_DIR, "events")
    cust = tables.load(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("user_id"))
    joined = ev.join(cust, "user_id")
    # emission rule: window end <= max(ts) - 10min. The max-ts day is an
    # OPEN window -> must be absent; every earlier joined day is present.
    last_day = joined.agg(
        F.date_format(F.date_trunc("day", F.max("ts")), "yyyy-MM-dd")).first()[0]
    all_days = sorted(
        r.d for r in joined.select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("d"))
        .distinct().collect())
    assert last_day not in days
    assert days == [d for d in all_days if d != last_day]

    n2 = enriched_daily_report_to_parquet(spark, SF_DIR, out, ckpt,
                                          query_name="t_report_run2")
    assert n2 == 0
    assert spark.read.parquet(out).count() == got.count()


def test_fake_resize_caps_out_bytes(spark):
    from tf_prisma_api_data_ingestion_spark.multimodal import (
        fake_resize,
        with_binary_payload,
    )
    df = spark.createDataFrame(
        [(1, "x" * 10), (2, "y" * 100_000)],
        "doc_id LONG, text STRING")
    got = {r.doc_id: r
           for r in fake_resize(with_binary_payload(df),
                                target_w=64, target_h=48).collect()}
    assert got[1].out_bytes == 10                  # under the cap
    assert got[2].out_bytes == 64 * 48 * 3         # cropped to the cap
    assert (got[1].width, got[1].height) == (64, 48)


def test_fake_embed_matches_hashlib_and_is_bounded(spark):
    import hashlib
    from tf_prisma_api_data_ingestion_spark.multimodal import (
        fake_embed,
        with_binary_payload,
    )
    df = spark.createDataFrame([(7, "hello world")],
                               "doc_id LONG, text STRING")
    r = fake_embed(with_binary_payload(df), dim=8).collect()[0]
    d = hashlib.md5(b"hello world").hexdigest()
    for k in range(8):
        want = int(d[4 * k:4 * k + 4], 16) / 65536.0
        assert getattr(r, f"e{k}") == want
        assert 0.0 <= getattr(r, f"e{k}") < 1.0
