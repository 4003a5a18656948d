"""Sinks: CSV/Parquet report writers, date-partitioned layout, and the
staged-commit run transaction (SURVEY §2.1 sink-csv / sink-partition /
sink-rollback; §7.4).

Reference parity (citations into /root/reference/modules/src/prisma_report/
lambda.py):
- ``write_csv_report``     <- upload_report_to_s3, lambda.py:374-383 (CSV,
  header, no index; QUOTE_NONNUMERIC ~ Spark quoteAll minus numeric quoting
  — documented deviation, FIXTURES.md).
- ``date_partition_cols``  <- folder layout, lambda.py:26-30. We use numeric
  year=/month=/day= Hive partitions instead of the reference's
  calendar.month_name path (which sorts alphabetically — SURVEY §2.1), so
  partition PRUNING works on date predicates.
- ``StagedRun``            <- rollback, lambda.py:444-451 + handler
  try/except :431-441, WITHOUT the NameError on early failure (§2.5.3):
  nothing is ever published until every output of the run is staged, so
  there is nothing to delete from the public prefix on failure.

Scale posture: each Spark write is already atomic per-directory via the
file commit protocol; the run-level transaction stages every output under
``<base>/_staging/<run_id>/`` and publishes by directory rename + a
manifest written LAST. Readers that honor the manifest see either the
whole run or none of it. On object stores, rename becomes copy — the
manifest-last ordering is what carries the atomicity there.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import date

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.json_ops import json_rows


def write_csv_report(df: DataFrame, path: str, single_file: bool = True,
                     quote_nonnumeric: bool = False,
                     order_by: tuple[str, ...] = ()) -> None:
    """CSV report with header (sink-csv, lambda.py:374-383).

    ``single_file`` coalesces to one part for report-sized outputs (the
    reference emits one CSV per report); leave False for large outputs so
    every core writes its own part.

    ``quote_nonnumeric=True`` byte-matches pandas ``to_csv(index=False,
    quoting=QUOTE_NONNUMERIC)`` — the reference's exact output format
    (lambda.py:377): every non-numeric cell quoted (embedded quotes
    doubled), numeric cells bare. Deviation: a NULL string cell writes
    ``""`` (quoted empty) where pandas writes bare empty — the quoted form
    round-trips as "empty string present" instead of ambiguating with
    missing. Spark's own ``quoteAll`` quotes numerics
    too, so this mode formats rows JVM-side with concat_ws and writes
    text. Byte-exact output needs a deterministic row order, so this mode
    requires ``order_by`` key columns; the header sorts above every data
    row with an explicit rank (union partition order is NOT stable through
    coalesce — found the hard way).
    """
    if not quote_nonnumeric:
        out = df.coalesce(1) if single_file else df
        out.write.mode("overwrite").option("header", True).csv(path)
        return
    if not order_by:
        raise ValueError("quote_nonnumeric mode needs order_by keys for "
                         "deterministic file bytes")
    numeric = {"int", "bigint", "smallint", "tinyint", "double", "float",
               "decimal"}
    cells = []
    for name, dtype in df.dtypes:
        base = dtype.split("(")[0]
        c = F.col(name)
        if base in numeric:
            cells.append(F.when(c.isNull(), F.lit("")).otherwise(c.cast("string")))
        else:
            quoted = F.concat(F.lit('"'),
                              F.replace(c.cast("string"), F.lit('"'), F.lit('""')),
                              F.lit('"'))
            cells.append(F.when(c.isNull(), F.lit('""')).otherwise(quoted))
    header = ",".join(f'"{n}"' for n, _ in df.dtypes)
    from pyspark.sql.window import Window
    w = Window.orderBy(*[F.col(k).asc() for k in order_by])
    lines = df.select(F.concat_ws(",", *cells).alias("line"),
                      F.row_number().over(w).alias("_seq"))
    body = json_rows(lines.sparkSession, [{"line": header, "_seq": 0}],
                     "line STRING, _seq INT").unionByName(lines)
    (body.repartition(1).sortWithinPartitions("_seq").select("line")
         .write.mode("overwrite").text(path))


def date_partition_cols(df: DataFrame, ts_col: str) -> DataFrame:
    """Add numeric year/month/day partition columns from a timestamp column
    (sink-partition, lambda.py:26-30, normalized to pruning-friendly form)."""
    return df.withColumns({
        "year": F.year(ts_col),
        "month": F.month(ts_col),
        "day": F.dayofmonth(ts_col),
    })


def write_partitioned(df: DataFrame, path: str, ts_col: str | None = None,
                      partition_cols: tuple[str, ...] = ("year", "month"),
                      fmt: str = "parquet") -> None:
    """Hive-style date-partitioned write; Catalyst prunes partitions on
    year/month/day predicates at read time."""
    if ts_col is not None:
        df = date_partition_cols(df, ts_col)
    df.write.mode("overwrite").partitionBy(*partition_cols).format(fmt).save(path)


def write_training_shards(df: DataFrame, path: str, n_shards: int,
                          key_cols: tuple[str, ...],
                          fmt: str = "parquet") -> None:
    """The corpus pipeline's LAST stage: write packed training
    sequences into ``n_shards`` Hive partitions ``shard_id=K`` with a
    deterministic, perfectly balanced membership
    (``rank.shard_assign``: md5-order round-robin — same corpus in,
    byte-identical shard membership out, sizes within one row of each
    other; the reproducibility test in tests/test_round10.py pins
    both). Partition count at write time is bounded by the shuffle
    already inside shard_assign; readers get one prunable directory
    per shard."""
    from .operators.rank import shard_assign

    out = shard_assign(df, n_shards, list(key_cols))
    out.write.mode("overwrite").partitionBy("shard_id").format(fmt).save(path)


def reference_date_folder(run_date: date) -> str:
    """Byte-parity shim for the reference's month-name output layout
    (lambda.py:26-30): ``{year}/{MonthName}/{day}-{MonthName}-{year}/``,
    with the day unpadded exactly as the reference formats it.

    Opt-in ONLY: month names sort alphabetically (April < January) and
    Hive partition pruning never applies, so the numeric
    ``year=/month=/day=`` layout (``date_partition_cols``) stays the
    default. Use this solely when downstream consumers require key-level
    compatibility with the reference's S3 prefixes.
    """
    import calendar

    m = calendar.month_name[run_date.month]
    return f"{run_date.year}/{m}/{run_date.day}-{m}-{run_date.year}/"


def write_reference_layout(df: DataFrame, base: str, run_date: date,
                           name: str, order_by: tuple[str, ...] = (),
                           quote_nonnumeric: bool = False) -> str:
    """Write a CSV report under the reference's month-name date folder
    (see ``reference_date_folder``); returns the report directory path."""
    path = os.path.join(base, reference_date_folder(run_date), name)
    write_csv_report(df, path, single_file=True,
                     quote_nonnumeric=quote_nonnumeric, order_by=order_by)
    return path


class StagedRun:
    """Run-scoped transaction: stage every output, publish all-or-nothing.

    Usage::

        with StagedRun(base, run_id) as run:
            run.stage(df1, "inventory", fmt="csv")
            run.stage(df2, "alerts", fmt="parquet")
        # __exit__ publishes; any exception inside rolls staging back

    Publish order: remove a previous ``_manifests/<run_id>.json`` (a
    rerun of the same run_id), move every staged directory into place,
    then write the manifest LAST — the manifest is the commit marker.
    If publish raises, the run's staging prefix is removed and the error
    re-raised; outputs already moved stay in place, unreferenced and with
    no manifest, until a rerun of the same run_id replaces them. There is
    no state where a reader sees a partial manifest, or a manifest over a
    mix of two runs' outputs.
    This replaces the reference's delete-published-keys rollback
    (lambda.py:444-451), which references a variable that is unbound on
    early failure (§2.5.3) and can delete a *previous* run's file on key
    collision.
    """

    def __init__(self, base: str, run_id: str):
        self.base = base
        self.run_id = run_id
        self.staging = os.path.join(base, "_staging", run_id)
        self.manifest_dir = os.path.join(base, "_manifests")
        self._staged: list[str] = []
        self._published = False

    # -- staging ---------------------------------------------------------
    def stage(self, df: DataFrame, name: str, fmt: str = "parquet",
              single_file: bool = False, partition_cols: tuple[str, ...] = ()) -> str:
        path = os.path.join(self.staging, name)
        out = df.coalesce(1) if single_file else df
        writer = out.write.mode("overwrite")
        if fmt == "csv":
            writer = writer.option("header", True)
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.format(fmt).save(path)
        self._staged.append(name)
        return path

    # -- commit protocol -------------------------------------------------
    def publish(self) -> list[str]:
        # a rerun of this run_id replaces outputs the previous manifest
        # lists: withdraw it first, so a crash mid-publish leaves no
        # manifest committing a mix of new, missing and old outputs
        if os.path.exists(self.manifest_path()):
            os.remove(self.manifest_path())
        published = []
        for name in self._staged:
            dst = os.path.join(self.base, name)
            if os.path.exists(dst):
                shutil.rmtree(dst)
            # nested output names (year=/month=/... from plans/e2e) need
            # the parent to exist or shutil.move degrades to a non-atomic
            # copytree; with it, same-filesystem publish stays a rename
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.move(os.path.join(self.staging, name), dst)
            published.append(dst)
        os.makedirs(self.manifest_dir, exist_ok=True)
        tmp = os.path.join(self.manifest_dir, f".{self.run_id}.tmp")
        with open(tmp, "w") as f:
            json.dump({"run_id": self.run_id, "outputs": self._staged}, f)
        os.rename(tmp, self.manifest_path())
        self._published = True
        self.rollback()  # clear the now-empty staging prefix
        return published

    def rollback(self) -> None:
        """Delete this run's staging prefix; published outputs are never
        touched (they either all exist with a manifest, or none do)."""
        if os.path.exists(self.staging):
            shutil.rmtree(self.staging)

    def manifest_path(self) -> str:
        return os.path.join(self.manifest_dir, f"{self.run_id}.json")

    # -- context manager -------------------------------------------------
    def __enter__(self) -> "StagedRun":
        os.makedirs(self.staging, exist_ok=True)
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        if exc_type is None:
            try:
                self.publish()
            except BaseException:
                self.rollback()
                raise
        else:
            self.rollback()
        return False  # re-raise


def compact_parquet(spark, path: str, target_files: int = 4) -> int:
    """Small-file compaction: rewrite a parquet directory into at most
    ``target_files`` files, publishing by atomic directory swap.

    Streaming sinks and per-task commits accumulate many small files
    (one per task per micro-batch); at 100 TB that means millions of
    sub-row-group files whose open/footer cost dominates scans. Nightly
    compaction is the standard maintenance op: read, coalesce (a NARROW
    repartition — no shuffle, partitions are concatenated), rewrite,
    swap. Returns the number of data files after compaction.

    Coalesce keeps existing ordering within partitions, so a z-ordered
    or time-ordered table stays clustered; use repartitionByRange on the
    cluster key instead when re-sorting is wanted.
    """
    import glob as _glob

    df = spark.read.parquet(path)
    staged = path.rstrip("/") + "._compact"
    df.coalesce(target_files).write.mode("overwrite").parquet(staged)
    old = path.rstrip("/") + "._precompact"
    os.rename(path, old)
    os.rename(staged, path)
    shutil.rmtree(old)
    return len([f for f in _glob.glob(os.path.join(path, "part-*"))])
