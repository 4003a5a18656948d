"""JSON / nested-data operators — SURVEY.md §2.2 op-json-flatten,
op-struct-access, op-array-index.

The reference flattens ``groupedAggregates`` arrays with
``pd.DataFrame(list_of_dicts)`` (P:171,194) and digs into nested alert
dicts with chained subscripts (P:321-324). Here the same semantics are
explicit-schema ``from_json`` + ``explode`` + struct field access, so
schema drift is a parse-time error (permissive corrupt-record capture)
instead of a silent KeyError.
"""

from __future__ import annotations

import json
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def parse_json_col(df: DataFrame, col: str, schema: StructType | str,
                   out: str = "parsed") -> DataFrame:
    """String JSON column -> typed struct (explicit contract, §1.3)."""
    return df.withColumn(out, F.from_json(F.col(col), schema))


def json_rows(spark: SparkSession, rows: list[dict], ddl: str) -> DataFrame:
    """Driver-held rows (API JSON bodies, one-row results) as a
    JVM-local relation with the columns of ``ddl``.

    ``spark.createDataFrame(list)`` pickles the rows into a Python RDD, so
    every job that reads the frame starts Python workers to unpickle
    them (``Scan ExistingRDD``). Here the rows travel as one JSON literal
    that Catalyst folds: the plan is ``Generate inline(...) <- Range``
    and no Python worker touches it. Missing keys and ``null`` read as
    null; ``FAILFAST`` rejects a mistyped value (``"12"`` or ``1.5`` for
    a LONG) when the frame is first planned.
    """
    return spark.range(1, numPartitions=1).select(F.inline(F.from_json(
        F.lit(json.dumps(rows)), f"ARRAY<STRUCT<{ddl}>>", {"mode": "FAILFAST"})))


def flatten_array_of_structs(df: DataFrame, array_col: str) -> DataFrame:
    """Array-of-records -> one row per element, struct fields as columns
    (op-json-flatten, P:171,194-195)."""
    exploded = df.withColumn("_elem", F.explode(F.col(array_col)))
    other = [c for c in df.columns if c != array_col]
    return exploded.select(*other, "_elem.*")


def struct_field(col: str, *path: str) -> Column:
    """Nested field extraction (op-struct-access, P:321-323)."""
    return F.col(".".join((col, *path)))


def array_first(col: str | Column) -> Column:
    """First array element, null-safe (op-array-index, P:324).

    ``element_at(..., 1)`` returns null for empty arrays instead of the
    reference's IndexError (defect SURVEY §2.5.6).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.size(c) >= 1, F.element_at(c, 1))


def select_json_fields(df: DataFrame, json_col: str, schema: StructType | str,
                       fields: Sequence[str], keep: Sequence[str] = ()) -> DataFrame:
    """Parse a JSON string column and project selected fields to top level."""
    parsed = parse_json_col(df, json_col, schema, out="_j")
    cols = [F.col(k) for k in keep] + [F.col(f"_j.{f}").alias(f) for f in fields]
    return parsed.select(*cols)


def variant_json_col(df: DataFrame, col: str, out: str = "v") -> DataFrame:
    """String JSON column -> Spark 4 VariantType (binary-encoded
    semi-structured value).

    Variant is the SCHEMALESS twin of ``parse_json_col``'s explicit
    contract: when payload shape varies per row (the reference's alert
    dicts drift across API versions, SURVEY §1.3), a fixed ``from_json``
    schema either drops unknown fields or nulls entire rows, while
    Variant keeps every field navigable and typed at extraction time.
    The binary encoding is columnar-shredded at the scan, so repeated
    ``variant_get`` paths cost far less than re-parsing JSON text per
    access — the 100 TB posture for heterogeneous event payloads.
    ``try_parse_json`` maps malformed rows to null (corrupt-capture
    compatible) instead of failing the task.
    """
    return df.withColumn(out, F.try_parse_json(F.col(col)))


def variant_field(col: str | Column, path: str, cast: str) -> Column:
    """Typed path extraction from a Variant column:
    ``variant_field("v", "$.k", "int")``.

    ``try_variant_get``, not ``variant_get``: a single type-drifted row
    (``{"k": [1]}`` where an int is expected) must become null, not fail
    the whole job — the same row-level tolerance as ``try_parse_json``
    above, and the only sane failure mode at 100 TB.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.try_variant_get(c, path, cast)
