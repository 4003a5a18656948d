"""SparkSession factory.

Engine rule (SURVEY.md §2.5.1): no mutable global state — every run is a
pure function of (config, run_date). The session itself is the only shared
resource; everything else is passed explicitly.

Scale posture: these configs are what we'd ship to a 1000-executor cluster
(AQE on, skew-join handling, partition coalescing); only `master` and the
shuffle-partition count are local-test artifacts, overridable via env.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "tf-prisma-spark", cpus: int | str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On a real cluster ``master`` comes from spark-submit; locally we honor
    $SPARK_GRAFT_CPUS (driver contract) and default to local[32].
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    # local mode runs driver+executors in ONE JVM whose default heap is
    # 1g — 32 task threads sharing 1g OOMs the shingle index at ~50k docs
    # (measured) and GC-throttles everything below that. A real executor
    # gets tens of GB; give the local JVM the equivalent. Must be set
    # before JVM launch; no-op via getOrCreate on an existing session.
    mem = os.environ.get("SPARK_GRAFT_MEM", "24g")
    builder = SparkSession.builder.config("spark.driver.memory", mem)
    # On a real cluster, master comes from spark-submit / SPARK_MASTER; only
    # force local mode when nothing else configured it.
    if not os.environ.get("SPARK_MASTER") and not os.environ.get("MASTER"):
        builder = builder.master(f"local[{cpus}]")
    builder = (
        builder
        .appName(app_name)
        # legacy fallback: older testdata generations wrote TIMESTAMP(NANOS),
        # which Spark 4 refuses unless surfaced as long; tables.load then
        # normalizes either generation to a canonical ts TIMESTAMP
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # deterministic timestamp semantics vs the DuckDB oracle
        .config("spark.sql.session.timeZone", "UTC")
        # upper/lower on UTF8_BINARY strings through the JVM's case
        # mapping (Spark 3.x's behaviour) instead of ICU's: the first ICU
        # call builds its case tables, ~2 s of executor CPU, ~0.5 s of GC
        # and ~150 MB of JVM RSS in a cold report run (JFR, 4 cores).
        # ASCII takes the same fast path either way; for non-ASCII the
        # JVM mapping follows the JVM's default locale (tests/
        # test_contract.py pins it to Python's str.upper/str.lower).
        # initcap would differ from ICU; the engine never calls it.
        .config("spark.sql.icu.caseMappings.enabled", "false")
        # Adaptive execution: runtime re-plan, partition coalescing, skew-join
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # AQE sizes every shuffle DOWN from this ceiling by observed
        # bytes (64 MB advisory target): corpus-scale shuffles (the
        # sf10 shingle-postings join spilled at the fixed 32-partition
        # default, measured 20.7x/decade) keep enough partitions to
        # stay in memory, while small shuffles coalesce back to ~cores.
        # This IS the "size shuffle.partitions to the data" knob, made
        # automatic — on a 1000-executor cluster the same ceiling
        # simply spreads wider.
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                "1024")
        # without this, persisted frames freeze the UNcoalesced
        # initialPartitionNum-wide shuffle (cached plans are excluded
        # from AQE by default), so every consumer of a tracked_persist
        # barrier would scan 1024 near-empty partitions at small sf
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        # Shuffled-hash instead of sort-merge where a hash table fits
        # (guide §3.1): AQE converts SMJ->SHJ at runtime only when EVERY
        # post-shuffle partition is under 64 MB of MEASURED bytes, so a
        # 100 TB shuffle keeps sort-merge's spill path. The static gate
        # stays off (preferSortMergeJoin=true): it picks SHJ from
        # ESTIMATED sizes, and a post-UDF or cached input with a bad
        # estimate would get a hash build side that was never measured,
        # an unbounded-memory risk.
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                "67108864")
        .config("spark.sql.join.preferSortMergeJoin", "true")
        # Arrow for any pandas-UDF path (the slow path, used sparingly)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # keep broadcast threshold default (10MB) — dims here are tiny;
        # explicit broadcast() hints are still used at join sites
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
