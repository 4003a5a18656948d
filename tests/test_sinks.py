"""Staged-commit / sink tests: fail injection, manifest-last publish,
partitioned layout structure, CSV golden bytes."""

from __future__ import annotations

import glob
import json
import os
import shutil

import pytest

from tf_prisma_api_data_ingestion_spark.sinks import (
    StagedRun,
    date_partition_cols,
    write_csv_report,
    write_partitioned,
)


@pytest.fixture()
def df(spark):
    return spark.createDataFrame(
        [(1, "a", "2024-01-05"), (2, "b", "2024-02-10")],
        "id INT, name STRING, d STRING").selectExpr(
        "id", "name", "CAST(d AS TIMESTAMP) AS d")


def test_staged_run_publish(tmp_path, df):
    base = str(tmp_path)
    with StagedRun(base, "r1") as run:
        run.stage(df, "out_a")
        run.stage(df, "out_b")
    assert os.path.isdir(os.path.join(base, "out_a"))
    assert os.path.isdir(os.path.join(base, "out_b"))
    manifest = json.load(open(os.path.join(base, "_manifests", "r1.json")))
    assert sorted(manifest["outputs"]) == ["out_a", "out_b"]
    assert not os.path.exists(os.path.join(base, "_staging", "r1"))


def test_staged_run_nested_publish_is_rename(tmp_path, df):
    """Nested output names (year=/month=/ from plans/e2e) must publish as
    true same-filesystem renames, not copytree fallbacks: the staged
    data files keep their inodes across publish."""
    base = str(tmp_path)
    run = StagedRun(base, "r_nested")
    staged_path = run.stage(df, "year=2024/month=02/report")
    inodes_before = {f: os.stat(os.path.join(staged_path, f)).st_ino
                     for f in os.listdir(staged_path)
                     if not f.startswith("_") and not f.startswith(".")}
    assert inodes_before  # staged data files exist
    run.publish()
    dst = os.path.join(base, "year=2024", "month=02", "report")
    assert os.path.isdir(dst)
    inodes_after = {f: os.stat(os.path.join(dst, f)).st_ino
                    for f in inodes_before}
    assert inodes_after == inodes_before  # rename, not copy


def test_staged_run_rollback_on_failure(tmp_path, df):
    base = str(tmp_path)
    with pytest.raises(RuntimeError):
        with StagedRun(base, "r2") as run:
            run.stage(df, "out_a")
            raise RuntimeError("boom")
    assert not os.path.exists(os.path.join(base, "out_a"))
    assert not os.path.exists(os.path.join(base, "_staging", "r2"))
    assert not os.path.exists(os.path.join(base, "_manifests", "r2.json"))


def test_staged_run_failure_before_any_stage(tmp_path, df):
    # the reference's rollback NameErrors in this case (SURVEY §2.5.3)
    base = str(tmp_path)
    with pytest.raises(RuntimeError):
        with StagedRun(base, "r3"):
            raise RuntimeError("early")
    assert not os.path.exists(os.path.join(base, "_manifests", "r3.json"))


def test_staged_run_does_not_clobber_previous_run_on_failure(tmp_path, df):
    base = str(tmp_path)
    with StagedRun(base, "day1") as run:
        run.stage(df, "report")
    with pytest.raises(RuntimeError):
        with StagedRun(base, "day2") as run:
            run.stage(df.limit(1), "report")
            raise RuntimeError("boom")
    # day1's published report survives day2's failure (the reference's
    # key-delete rollback would have removed a colliding key)
    assert os.path.isdir(os.path.join(base, "report"))
    assert os.path.exists(os.path.join(base, "_manifests", "day1.json"))


def test_staged_rerun_crash_mid_publish_withdraws_manifest(
        tmp_path, df, monkeypatch):
    """A same-run_id rerun that crashes between output moves must not
    leave the previous manifest committing new, missing and old outputs
    at once; a clean rerun then publishes the whole run."""
    base = str(tmp_path)
    names = ("a", "b", "c")

    def run_all():
        with StagedRun(base, "r") as run:
            for name in names:
                run.stage(df, name)

    def manifests_naming_run():
        return [path for path in glob.glob(os.path.join(base, "_manifests", "*"))
                if json.load(open(path))["run_id"] == "r"]

    run_all()
    assert manifests_naming_run()
    real_move = shutil.move
    moves = []

    def crash_on_second(src, dst):
        moves.append(dst)
        if len(moves) == 2:
            raise OSError("crash mid-publish")
        return real_move(src, dst)

    monkeypatch.setattr(shutil, "move", crash_on_second)
    with pytest.raises(OSError, match="crash mid-publish"):
        run_all()
    assert manifests_naming_run() == []
    monkeypatch.setattr(shutil, "move", real_move)
    run_all()
    manifest = json.load(open(os.path.join(base, "_manifests", "r.json")))
    assert sorted(manifest["outputs"]) == list(names)
    for name in names:
        assert glob.glob(os.path.join(base, name, "part-*")), name
    assert os.listdir(os.path.join(base, "_staging")) == []



def test_publish_crash_removes_staging(tmp_path, df, monkeypatch):
    """A publish that raises part-way must not leave the run's staged,
    unmoved outputs behind under ``_staging/<run_id>``."""
    base = str(tmp_path)
    real_move = shutil.move
    moves = []

    def crash_on_second(src, dst):
        moves.append(dst)
        if len(moves) == 2:
            raise OSError("crash mid-publish")
        return real_move(src, dst)

    monkeypatch.setattr(shutil, "move", crash_on_second)
    with pytest.raises(OSError, match="crash mid-publish"):
        with StagedRun(base, "r") as run:
            for name in ("a", "b", "c"):
                run.stage(df, name)
    assert not os.path.exists(os.path.join(base, "_staging", "r"))
    assert not os.path.exists(os.path.join(base, "_manifests", "r.json"))

def test_write_partitioned_layout_and_pruning(spark, tmp_path, df):
    out = str(tmp_path / "p")
    write_partitioned(df, out, ts_col="d")
    assert os.path.isdir(os.path.join(out, "year=2024", "month=1"))
    assert os.path.isdir(os.path.join(out, "year=2024", "month=2"))
    back = spark.read.parquet(out).filter("month = 2")
    assert [r.id for r in back.collect()] == [2]
    # partition filter must prune at the source, not post-scan
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "month" in plan


def test_csv_golden_bytes(spark, tmp_path):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id INT, name STRING")
    out = str(tmp_path / "csv")
    write_csv_report(df.orderBy("id"), out)
    part = glob.glob(os.path.join(out, "part-*.csv"))
    assert len(part) == 1  # single_file=True coalesces
    assert open(part[0]).read() == "id,name\n1,x\n2,y\n"


def test_csv_quote_nonnumeric_matches_pandas_bytes(spark, tmp_path):
    import pandas as pd
    import csv as csvmod
    rows = [(1, "plain", 1.5), (2, 'has "quotes"', 2.0), (3, "comma, inc", -0.25)]
    cols = ["id", "name", "score"]
    want = pd.DataFrame(rows, columns=cols).to_csv(
        index=False, quoting=csvmod.QUOTE_NONNUMERIC)
    df = spark.createDataFrame(rows, "id INT, name STRING, score DOUBLE")
    out = str(tmp_path / "qnn")
    write_csv_report(df, out, quote_nonnumeric=True, order_by=("id",))
    part = glob.glob(os.path.join(out, "part-*.txt"))
    assert len(part) == 1
    assert open(part[0]).read() == want


def test_date_partition_cols(spark, df):
    got = date_partition_cols(df, "d").orderBy("id").collect()
    assert [(r.year, r.month, r.day) for r in got] == [(2024, 1, 5), (2024, 2, 10)]


def test_reference_date_folder_golden_keys():
    from datetime import date

    from tf_prisma_api_data_ingestion_spark.sinks import reference_date_folder

    # byte-parity with the reference's f"{year}/{month_name}/{day}-..."
    # (lambda.py:26-30): unpadded day, English month names
    assert reference_date_folder(date(2026, 8, 13)) == "2026/August/13-August-2026/"
    assert reference_date_folder(date(2025, 1, 2)) == "2025/January/2-January-2025/"


def test_write_reference_layout(spark, tmp_path):
    import os
    from datetime import date

    from tf_prisma_api_data_ingestion_spark.sinks import write_reference_layout

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id INT, name STRING")
    out = write_reference_layout(df, str(tmp_path), date(2026, 8, 13),
                                 "Alert_Report.csv", order_by=("id",))
    assert "2026/August/13-August-2026/Alert_Report.csv" in out.replace(os.sep, "/")
    files = [f for f in os.listdir(out) if f.endswith(".csv") or f.startswith("part-")]
    assert files, os.listdir(out)
