"""Schema-drift canary (VERDICT r3 item 2): the round-3 testdata
regeneration silently changed events.ts from TIMESTAMP(NANOS) to
timestamp[us] and broke 18 queries. These tests fail loudly — with the
observed diff — if the testdata contract moves again, and pin the
loader's normalization for both physical generations."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

SF = "/root/testdata/sf0.001"


def test_testdata_schema_contract(spark):
    from tf_prisma_api_data_ingestion_spark import tables
    tables.assert_contract(spark, SF)


def test_events_ts_normalized_to_timestamp(spark):
    from tf_prisma_api_data_ingestion_spark import tables
    ev = tables.load(spark, SF, "events")
    assert isinstance(ev.schema["ts"].dataType, T.TimestampType)
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    # generator writes Jan 2024 events; a unit slip (ns read as µs, µs as
    # ns, s as ms...) lands decades away from this window
    assert lo.year == 2024 and hi.year == 2024


def test_loader_accepts_legacy_nanos_long(spark, tmp_path):
    """The legacy generation (TIMESTAMP(NANOS), surfaced as nanos-long
    under spark.sql.legacy.parquet.nanosAsLong) must normalize to the
    same canonical TIMESTAMP."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tf_prisma_api_data_ingestion_spark import tables

    us = 1704844800 * 10**6 + 123456  # 2024-01-10 00:00:00.123456
    t = pa.table({
        "event_id": pa.array([1], pa.int64()),
        "ts": pa.array([us * 1000], pa.timestamp("ns")),
        "user_id": pa.array([7], pa.int64()),
        "event_type": pa.array(["click"], pa.string()),
        "value": pa.array([1.5], pa.float64()),
        "props": pa.array(["{}"], pa.string()),
    })
    sf_dir = str(tmp_path)
    pq.write_table(t, f"{sf_dir}/events.parquet",
                   coerce_timestamps=None, use_deprecated_int96_timestamps=False)
    ev = tables.load(spark, sf_dir, "events")
    assert isinstance(ev.schema["ts"].dataType, T.TimestampType)
    assert ev.select(F.unix_micros("ts")).first()[0] == us


def test_streaming_accepts_legacy_nanos_long(spark, tmp_path):
    """The streaming reader must branch on the physical ts type like
    tables.load: a legacy TIMESTAMP(NANOS) file streams into the same
    canonical ts/ts_t TIMESTAMP contract."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tf_prisma_api_data_ingestion_spark.streaming.windows import (
        upsert_latest_state,
    )

    us = 1704844800 * 10**6
    t = pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array([us * 1000, (us + 5) * 1000], pa.timestamp("ns")),
        "user_id": pa.array([7, 7], pa.int64()),
        "event_type": pa.array(["click", "view"], pa.string()),
        "value": pa.array([1.5, 2.5], pa.float64()),
        "props": pa.array(["{}", "{}"], pa.string()),
    })
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(t, str(src / "events_nanos.parquet"))
    final = upsert_latest_state(
        spark, str(src), str(tmp_path / "tgt"), str(tmp_path / "ckpt"),
        query_name="t_legacy_nanos", glob="*.parquet")
    row = final.select("user_id", F.unix_micros("ts").alias("us"),
                       "event_type").first()
    assert (row.user_id, row.us, row.event_type) == (7, us + 5, "view")


def test_event_ts_us_helper(spark):
    """event_ts_us must produce the exact epoch-µs value, checked against
    an independently-known instant (not against unix_micros of the same
    column, which would be tautological)."""
    from tf_prisma_api_data_ingestion_spark import tables
    df = spark.sql(
        "SELECT TIMESTAMP '2024-01-10 00:00:00.123456' AS ts")
    got = df.select(tables.event_ts_us().alias("us")).first().us
    assert got == 1704844800 * 10**6 + 123456


def test_mutated_schema_fixture_aborts_with_diff(spark, tmp_path):
    """bench.py and scripts/selfcheck.py run assert_contract at startup:
    a regenerated-with-drift testdata dir must abort in seconds with the
    observed diff naming the drifted table, not crash mid-run."""
    import shutil

    import pandas as pd

    from tf_prisma_api_data_ingestion_spark import tables

    for t in ("region", "nation", "documents", "embeddings"):
        shutil.copy(f"/root/testdata/sf0.001/{t}.parquet",
                    tmp_path / f"{t}.parquet")
    # drifted generation: value became a string column
    pd.DataFrame({
        "event_id": [1], "ts": pd.to_datetime(["2024-01-10"]).astype("datetime64[us]"),
        "user_id": [1], "event_type": ["click"],
        "value": ["1.5"], "props": ["{}"],
    }).to_parquet(str(tmp_path / "events.parquet"), index=False)
    with pytest.raises(AssertionError, match="events"):
        tables.assert_contract(spark, str(tmp_path))



def _jobs_started(spark, build) -> int:
    """Spark jobs that ``build()`` starts, whichever thread or job group
    starts them. Job ids are sequential per SparkContext, so the ids of
    marker jobs run just before and just after ``build`` bracket them."""
    import time
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker_ids() -> list[int]:
        group = f"marker-{uuid.uuid4()}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            spark.range(1).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        deadline = time.monotonic() + 30
        while not (ids := tracker.getJobIdsForGroup(group)):
            assert time.monotonic() < deadline, "marker job never seen"
            time.sleep(0.05)
        return ids

    before = max(marker_ids())
    build()
    return min(marker_ids()) - before - 1


def test_loads_start_no_job(spark):
    """Every table is read with its pinned schema: building the
    DataFrame runs no schema-inference job."""
    from tf_prisma_api_data_ingestion_spark import tables

    started = {name: _jobs_started(spark, lambda n=name: tables.load(spark, SF, n))
               for name in tables.TABLE_NAMES}
    assert started == {name: 0 for name in tables.TABLE_NAMES}


def test_event_stream_starts_no_job(spark):
    """The streaming events source picks the ts generation from a
    parquet footer on the driver, not from a Spark read."""
    from tf_prisma_api_data_ingestion_spark.streaming.windows import (
        _event_stream,
    )

    assert _jobs_started(spark, lambda: _event_stream(spark, SF)) == 0


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_pinned_schemas_match_files(spark, sf):
    """The pins are exactly what Spark infers from the testdata, so a
    pinned read plans and answers like an inferred one. events is
    compared with its contract: ts is read as TIMESTAMP whatever the
    file's generation."""
    from tf_prisma_api_data_ingestion_spark import tables

    for name in tables.TABLE_NAMES:
        inferred = spark.read.parquet(f"/root/testdata/{sf}/{name}.parquet").schema
        if name == "events":
            assert [(f.name, f.nullable) for f in inferred] == [
                (n, True) for n, _ in tables.EVENTS_FIELDS]
            assert [f.dataType for f in inferred if f.name != "ts"] == [
                t for n, t in tables.EVENTS_FIELDS if n != "ts"]
        else:
            assert tables.read_schema(name) == inferred, name


def test_contract_canary_covers_every_table(spark, tmp_path):
    """A pinned read turns a renamed column into nulls, so the canary
    must check every table's footer, not only the five it once did; and
    it must leave the caller's nanosAsLong setting as it found it."""
    import shutil

    import pyarrow.parquet as pq

    from tf_prisma_api_data_ingestion_spark import tables

    for name in tables.TABLE_NAMES:
        shutil.copy(f"{SF}/{name}.parquet", tmp_path / f"{name}.parquet")
    lineitem = pq.read_table(f"{SF}/lineitem.parquet")
    pq.write_table(lineitem.rename_columns(
        ["l_discount_pct" if c == "l_discount" else c
         for c in lineitem.column_names]), tmp_path / "lineitem.parquet")
    key = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        with pytest.raises(AssertionError, match="lineitem") as err:
            tables.assert_contract(spark, str(tmp_path))
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.set(key, old)
    assert "l_discount_pct" in str(err.value)
    assert "orders" not in str(err.value)

def _env_names_read(pkg_dir) -> set[str]:
    """Every name the package reads through ``os.environ`` /
    ``os.getenv``; a non-literal name is reported as ``<dynamic>``."""
    import ast

    def is_os(node, attr: str) -> bool:
        return (isinstance(node, ast.Attribute) and node.attr == attr
                and isinstance(node.value, ast.Name) and node.value.id == "os")

    def name_of(node) -> str:
        return (node.value if isinstance(node, ast.Constant)
                and isinstance(node.value, str) else "<dynamic>")

    names = set()
    for path in pkg_dir.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call) and (
                    is_os(node.func, "getenv")
                    or (isinstance(node.func, ast.Attribute)
                        and node.func.attr == "get"
                        and is_os(node.func.value, "environ"))):
                names.add(name_of(node.args[0]))
            elif (isinstance(node, ast.Subscript)
                  and is_os(node.value, "environ")):
                names.add(name_of(node.slice))
            elif (isinstance(node, ast.Compare)
                  and any(is_os(c, "environ") for c in node.comparators)):
                names.add(name_of(node.left))
    return names


def test_engine_reads_only_deployment_settings_from_env(spark):
    """Tuning values are constants, not environment knobs: the engine
    reads only where it runs (master, cores, memory, shuffle width) and
    where the data lives."""
    from pathlib import Path

    import tf_prisma_api_data_ingestion_spark as pkg

    assert _env_names_read(Path(pkg.__file__).parent) == {
        "SPARK_GRAFT_CPUS", "SPARK_SHUFFLE_PARTITIONS", "SPARK_GRAFT_MEM",
        "SPARK_MASTER", "MASTER", "SPARK_GRAFT_SF_DIR"}
    conf = spark.conf
    assert conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "1024"
    assert conf.get(
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold") == "67108864"
    assert conf.get("spark.sql.join.preferSortMergeJoin") == "true"


def test_one_alert_datasource():
    """The driver scan (``plans.e2e.alerts_scan``) is the only batch
    alert reader: the package registers one Python DataSource, the alert
    stream, and only sources/rest.py uses the DataSource API."""
    import ast
    from pathlib import Path
    from types import SimpleNamespace

    import tf_prisma_api_data_ingestion_spark as pkg
    from tf_prisma_api_data_ingestion_spark.sources.rest import (
        register_alerts_source,
    )

    root = Path(pkg.__file__).parent
    registers, importers = [], set()
    for path in root.rglob("*.py"):
        name = path.relative_to(root).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Call)
                    and ast.unparse(node.func).endswith("dataSource.register")):
                registers.append(name)
            elif isinstance(node, ast.ImportFrom):
                if node.module == "pyspark.sql.datasource":
                    importers.add(name)
            elif isinstance(node, ast.Import):
                if any(a.name == "pyspark.sql.datasource" for a in node.names):
                    importers.add(name)
    assert registers == ["sources/rest.py"]
    assert importers == {"sources/rest.py"}
    registered = []
    register_alerts_source(SimpleNamespace(
        dataSource=SimpleNamespace(register=registered.append)))
    assert [cls.name() for cls in registered] == ["prisma_alerts_stream"]


# strings whose case mapping is special: German sharp s, Greek final
# sigma, titlecase digraph, ligature, apostrophe-n, dotted capital I,
# j with caron, a supplementary-plane (Deseret) letter
CASE_SAMPLE = ["straße", "ΟΔΟΣ", "ǆemal", "ﬁx", "ŉ", "İstanbul", "ǰ", "𐐨", "ß"]


def test_case_mapping_contract(spark):
    """The session maps case with the JVM, not ICU (session.py). For
    non-ASCII strings that mapping follows the JVM's default locale, so a
    host whose locale changes it fails here, loudly; initcap, where the
    two mappings differ, is not used anywhere in the engine."""
    import ast
    from pathlib import Path

    import tf_prisma_api_data_ingestion_spark as pkg

    assert spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false"
    df = spark.createDataFrame([(s,) for s in CASE_SAMPLE], "s STRING")
    got = df.select("s", F.upper("s").alias("u"), F.lower("s").alias("l"))
    assert {r.s: (r.u, r.l) for r in got.collect()} == {
        s: (s.upper(), s.lower()) for s in CASE_SAMPLE}

    def text(node):  # names, attributes, imports and SQL strings
        for field in ("id", "attr", "name", "value"):
            if isinstance(getattr(node, field, None), str):
                return getattr(node, field).lower()
        return ""

    uses = [f"{path}:{getattr(node, 'lineno', '?')}"
            for path in Path(pkg.__file__).parent.rglob("*.py")
            for node in ast.walk(ast.parse(path.read_text()))
            if "initcap" in text(node)]
    assert uses == []
