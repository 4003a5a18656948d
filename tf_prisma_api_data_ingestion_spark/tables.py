"""Loaders for the driver-provided synthetic parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under /root/testdata/sf*/.

We read with explicit paths (no catalog) and rely on Catalyst for column
pruning / predicate pushdown into the parquet scan. At 100 TB these would
be partitioned/bucketed external tables; the loader API stays the same.

Explicit read schemas (the §1.3 inversion, applied to OUR inputs): every
table is read with its pinned schema from ``TABLE_FIELDS``, never with an
inferred one. Inference costs one Spark job per read (the parquet footer
merge), and every catalog key paid it while building its DataFrame; a
pinned read builds with no job. The pins are exactly what Spark infers
from the generator's files (``o_orderdate`` / ``l_shipdate`` stay
``timestamp_ntz``, every field nullable), so no plan or result moves.

``events.ts`` has shipped as both parquet TIMESTAMP(NANOS) (read by
Spark 4 as nanos-long under ``spark.sql.legacy.parquet.nanosAsLong``) and
plain ``timestamp[us]``. A footer-only probe (``is_legacy_nanos``, no
Spark job) picks the generation, and ``load`` always emits a canonical
``ts: TIMESTAMP`` column (UTC session), so every consumer — batch,
streaming, and the DuckDB oracle (``epoch_us(ts)``) — sees one contract
regardless of which generation wrote the file.

A pinned read does not notice drift: a renamed column silently reads as
nulls. ``assert_contract`` is the drift guard: it compares every table's
raw footer with ``TABLE_FIELDS`` and fails with the observed diff, and
scripts that read the testdata run it at startup.
"""

from __future__ import annotations

import glob
import os
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Canonical post-load events schema: ts is TIMESTAMP no matter how the
# parquet stored it. Field order matches the generator's layout.
EVENTS_FIELDS = (
    ("event_id", T.LongType()),
    ("ts", T.TimestampType()),
    ("user_id", T.LongType()),
    ("event_type", T.StringType()),
    ("value", T.DoubleType()),
    ("props", T.StringType()),
)

_INT, _LONG, _DOUBLE, _STRING = (T.IntegerType(), T.LongType(),
                                 T.DoubleType(), T.StringType())
_TS_NTZ = T.TimestampNTZType()  # naive timestamp[us] in the files

# The read schema of every table, in the generator's column order.
TABLE_FIELDS = {
    "region": (("r_regionkey", _INT), ("r_name", _STRING)),
    "nation": (("n_nationkey", _INT), ("n_name", _STRING),
               ("n_regionkey", _INT)),
    "customer": (("c_custkey", _LONG), ("c_name", _STRING),
                 ("c_nationkey", _INT), ("c_acctbal", _DOUBLE),
                 ("c_mktsegment", _STRING)),
    "supplier": (("s_suppkey", _LONG), ("s_name", _STRING),
                 ("s_nationkey", _INT), ("s_acctbal", _DOUBLE)),
    "part": (("p_partkey", _LONG), ("p_name", _STRING), ("p_brand", _STRING),
             ("p_type", _STRING), ("p_size", _INT),
             ("p_retailprice", _DOUBLE)),
    "orders": (("o_orderkey", _LONG), ("o_custkey", _LONG),
               ("o_orderstatus", _STRING), ("o_totalprice", _DOUBLE),
               ("o_orderdate", _TS_NTZ), ("o_orderpriority", _STRING)),
    "lineitem": (("l_orderkey", _LONG), ("l_partkey", _LONG),
                 ("l_suppkey", _LONG), ("l_linenumber", _INT),
                 ("l_quantity", _DOUBLE), ("l_extendedprice", _DOUBLE),
                 ("l_discount", _DOUBLE), ("l_tax", _DOUBLE),
                 ("l_returnflag", _STRING), ("l_linestatus", _STRING),
                 ("l_shipdate", _TS_NTZ)),
    "events": EVENTS_FIELDS,
    "documents": (("doc_id", _LONG), ("text", _STRING), ("lang", _STRING),
                  ("source", _STRING), ("n_chars", _LONG)),
    "embeddings": (("vec_id", _LONG),
                   ("embedding", T.ArrayType(T.FloatType(), True)),
                   ("label", _INT)),
}


def read_schema(name: str) -> T.StructType:
    """The pinned read schema of table ``name`` (every field nullable,
    as Spark reads any file source)."""
    return T.StructType([T.StructField(n, t, True)
                         for n, t in TABLE_FIELDS[name]])


def events_ddl(legacy_nanos: bool = False) -> str:
    """The canonical events read schema as DDL, for readers that must
    supply one (the streaming file source). ``legacy_nanos=True`` swaps
    ts to LONG — the physical shape of the TIMESTAMP(NANOS) generation
    under nanosAsLong; convert with ``normalize_legacy_ts``. ONE source
    of truth (EVENTS_FIELDS) for every reader, so the next schema drift
    is a one-place fix."""
    def ddl(n, t):
        if n == "ts" and legacy_nanos:
            return "ts LONG"
        return f"{n} {t.simpleString().upper()}"
    return ", ".join(ddl(n, t) for n, t in EVENTS_FIELDS)


def is_legacy_nanos(path: str) -> bool:
    """True when the events parquet at ``path`` (a file, or a directory
    of part files, probed by its first) stores ts as epoch nanos: the
    TIMESTAMP(NANOS) generation, or a plain INT64. Spark reads both as
    LONG (under nanosAsLong). Reads one footer on the driver and starts
    no Spark job. INT96 is surfaced as µs here, as Spark reads it as a
    TIMESTAMP."""
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            return False
        path = parts[0]
    with pq.ParquetFile(path, coerce_int96_timestamp_unit="us") as f:
        schema = f.schema_arrow
    i = schema.get_field_index("ts")
    if i < 0:
        return False
    t = schema.field(i).type
    return pa.types.is_int64(t) or (pa.types.is_timestamp(t) and t.unit == "ns")


def normalize_legacy_ts(df: DataFrame) -> DataFrame:
    """nanos-long ts -> canonical TIMESTAMP. Integer DIV keeps full
    precision — a double division loses bits above 2^53 (epoch-nanos is
    ~1.7e18)."""
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; have {TABLE_NAMES}")
    # Defensive session confs (runtime-settable), because the DRIVER
    # supplies its own session without session.get_spark's settings:
    # - UTC: date_format/strftime parity with the (timezone-naive) DuckDB
    #   oracle; otherwise formatted timestamps shift by the host zone.
    # - nanosAsLong: lets the legacy TIMESTAMP(NANOS) generation load at
    #   all (Spark 4 rejects nanos otherwise); a no-op for µs files.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return spark.read.schema(read_schema(name)).parquet(path)

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if is_legacy_nanos(path):
        # legacy generation: epoch-nanos long (TIMESTAMP(NANOS) under
        # nanosAsLong, or a plain INT64)
        return normalize_legacy_ts(
            spark.read.schema(events_ddl(legacy_nanos=True)).parquet(path))
    # current generation: naive (or UTC) µs timestamps, read as TIMESTAMP
    # (LTZ) by the schema itself rather than cast after the scan: a cast
    # above the scan would fence ts filters out of parquet pushdown
    return spark.read.schema(read_schema("events")).parquet(path)


def event_ts_us(col: str = "ts"):
    """events.ts -> epoch-microseconds LONG, for operators that work on
    numeric time axes (sessionize / as-of / range-join / rollup)."""
    return F.unix_micros(F.col(col).cast("timestamp"))


@contextmanager
def _nanos_as_long(spark: SparkSession):
    """Scope nanosAsLong (the legacy footer needs it) and restore the
    caller's setting, set or unset, on the way out."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _show(fields) -> str:
    return ", ".join(f"{n} {t.simpleString()}" for n, t in fields)


def assert_contract(spark: SparkSession, sf_dir: str) -> None:
    """Fail loudly, with the observed diff, if any table's raw parquet
    footer drifts from ``TABLE_FIELDS`` — the drift guard for the pinned
    reads, which would turn a renamed column into nulls and a retyped one
    into a mid-scan failure. Costs one footer job per table and no data
    scan, so run it at startup. ``events.ts`` may be either generation
    ``load`` reads: nanos-long (legacy) or a µs timestamp, naive or UTC.
    Leaves the caller's session conf as it found it."""
    problems = []
    with _nanos_as_long(spark):
        for name in TABLE_NAMES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            try:
                raw = [(f.name, f.dataType)
                       for f in spark.read.parquet(path).schema.fields]
            except AnalysisException as ex:
                problems.append(f"{name}: unreadable ({str(ex).splitlines()[0]})")
                continue
            got = raw
            if name == "events":
                ok = ((T.LongType(),) if is_legacy_nanos(path)
                      else (T.TimestampType(), T.TimestampNTZType()))
                got = [(n, T.TimestampType() if n == "ts" and t in ok else t)
                       for n, t in raw]
            # by name: a pinned read matches columns by name, not position
            if dict(got) != dict(TABLE_FIELDS[name]):
                problems.append(f"{name}: expected {_show(TABLE_FIELDS[name])}; "
                                f"observed {_show(raw)}")
    if problems:
        raise AssertionError(
            "testdata schema contract violated (tables.TABLE_FIELDS "
            "needs updating):\n  " + "\n  ".join(problems))
