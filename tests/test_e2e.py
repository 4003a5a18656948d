"""End-to-end handler-equivalent run against the mock API: three CSVs
published atomically under the date prefix, rollback on injected
failure."""

from __future__ import annotations

import os
from datetime import date

import pytest
from pyspark.sql import functions as F

from tf_prisma_api_data_ingestion_spark.plans.e2e import full_report_run
from tf_prisma_api_data_ingestion_spark.sources import mock_api


def test_full_report_run_publishes_three_csvs(spark, tmp_path):
    out = str(tmp_path)
    res = full_report_run(spark, mock_api.mock_server_url(),
                          mock_api.MOCK_USER, mock_api.MOCK_PASSWORD,
                          out, date(2024, 2, 1))
    assert res["rows"]["inventory"] == 3
    # 7 accounts x 3 clouds, but account i%7 with cloud i%3 -> 21 groups
    assert res["rows"]["alerts"] == 21
    prefix = os.path.join(out, "year=2024", "month=2", "day=1")
    for name in ("inventory_report", "inventory_resource_type_report",
                 "alert_report"):
        assert os.path.isdir(os.path.join(prefix, name)), name
    assert os.path.exists(os.path.join(out, "_manifests",
                                       "report-2024-02-01.json"))
    # re-run same date: idempotent overwrite, no doubling (§2.5.1)
    res2 = full_report_run(spark, mock_api.mock_server_url(),
                           mock_api.MOCK_USER, mock_api.MOCK_PASSWORD,
                           out, date(2024, 2, 1))
    assert res2["rows"] == res["rows"]


def test_full_report_run_scans_alerts_once(spark, tmp_path):
    """One report run touches the alert API once: the page-0 probe plus
    the ceil(237 / 100) = 3 page fetches, and nothing more for the
    returned row counts."""
    url = mock_api.mock_server_url()
    srv = mock_api.server_state()
    srv.alert_request_log = []
    res = full_report_run(spark, url, mock_api.MOCK_USER,
                          mock_api.MOCK_PASSWORD, str(tmp_path), date(2024, 2, 3))
    assert res["rows"] == {"inventory": 3, "alerts": 21}
    limits = sorted(lim for _, lim in srv.alert_request_log)
    assert limits == [1, 100, 100, 100], limits


def test_alert_report_golden_csv_bytes(spark, tmp_path):
    """SURVEY §5.4: golden CSV bytes for the alert report at a fixed run
    date, in the reference's exact QUOTE_NONNUMERIC format."""
    import glob
    from tf_prisma_api_data_ingestion_spark.plans.report import (
        alert_report_from_fixtures,
    )
    from tf_prisma_api_data_ingestion_spark.sinks import write_csv_report
    policies = spark.createDataFrame(
        [("pol-1", "S3 public", "config", "high")],
        "policyId STRING, policyName STRING, policyType STRING, severity STRING")
    alerts = spark.createDataFrame(
        [("pol-1", ("prod", "111", "aws", ["Default"])),
         ("pol-1", ("prod", "111", "aws", ["Default"])),
         ("pol-1", ("dev", "222", "gcp", []))],
        "policyId STRING, resource STRUCT<account STRING, accountId STRING, "
        "cloudType STRING, cloudAccountGroups ARRAY<STRING>>")
    report = alert_report_from_fixtures(policies, alerts) \
        .withColumn("transaction_date", F.lit("2024-02-01"))
    out = str(tmp_path / "golden")
    write_csv_report(report, out, quote_nonnumeric=True,
                     order_by=("Cloud Account Name",))
    part = glob.glob(out + "/part-*.txt")[0]
    got = open(part).read()
    assert got == (
        '"Policy Name","Policy Type","Policy Severity","Cloud Type",'
        '"Cloud Account Name","Cloud Account Id","Cloud Account Group",'
        '"Status","Failed Resource Count","transaction_date"\n'
        '"S3 public","config","HIGH","GCP","dev","222","","fail",1,"2024-02-01"\n'
        '"S3 public","config","HIGH","AWS","prod","111","Default","fail",2,"2024-02-01"\n'
    )


def test_full_report_run_bad_credentials_publishes_nothing(spark, tmp_path):
    import urllib.error
    out = str(tmp_path)
    with pytest.raises(urllib.error.HTTPError):
        full_report_run(spark, mock_api.mock_server_url(),
                        "wrong", "creds", out, date(2024, 2, 2))
    assert not os.path.exists(os.path.join(out, "_manifests"))
