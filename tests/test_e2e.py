"""End-to-end handler-equivalent run against the mock API: three CSVs
published atomically under the date prefix, rollback on injected
failure."""

from __future__ import annotations

import csv
import glob
import os
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import date

import pytest
from pyspark.sql import functions as F

from tf_prisma_api_data_ingestion_spark.plans.e2e import (
    DEFAULT_POLICIES,
    alert_report_frame,
    alerts_scan,
    full_report_run,
    inventory_frame,
)
from tf_prisma_api_data_ingestion_spark.sources import mock_api, rest
from tf_prisma_api_data_ingestion_spark.sources.rest import (
    RestClient,
    request_with_backoff,
)

# /v1/inventory bodies whose groupedAggregates break INVENTORY_SCHEMA
MISTYPED_AGGREGATES = [
    [{"serviceName": "Amazon EC2", "failedResources": "12"}],
    [{"serviceName": "Amazon EC2", "failedResources": 1.5}],
    {"serviceName": "Amazon EC2", "failedResources": 12},
]


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


def _alert_csv_rows(out: str, run_date: date) -> int:
    """Data rows of the published alert_report CSV of one run."""
    [part] = glob.glob(os.path.join(
        out, f"year={run_date.year}", f"month={run_date.month}",
        f"day={run_date.day}", "alert_report", "part-*.csv"))
    with open(part, newline="") as f:
        return sum(1 for _ in csv.DictReader(f))


def test_full_report_run_is_four_jobs(spark, tmp_path):
    """A report run is the policy broadcast plus the three CSV writes:
    the alert count is observed on the alert report's write, so no job
    holds or recounts the report. Broadcast jobs inherit the calling
    thread's job group, so the group holds every job of the run."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "report-run-shape"
    before = set(tracker.getJobIdsForGroup(group))
    run_date = date(2024, 2, 6)
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        res = full_report_run(spark, mock_api.mock_server_url(),
                              mock_api.MOCK_USER, mock_api.MOCK_PASSWORD,
                              str(tmp_path), run_date)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # listener events arrive asynchronously: wait for a settled view
    deadline, seen = time.monotonic() + 10, None
    while time.monotonic() < deadline:
        jobs = set(tracker.getJobIdsForGroup(group)) - before
        if jobs == seen and all(tracker.getJobInfo(j).status == "SUCCEEDED"
                                for j in jobs):
            break
        seen = jobs
        time.sleep(0.25)
    assert len(seen) == 4, sorted(seen)
    assert res["rows"]["alerts"] == _alert_csv_rows(str(tmp_path), run_date) == 21


def test_concurrent_report_runs_keep_their_own_counts(spark, tmp_path):
    """Two runs on one session, from two threads, each return the row
    count of their own alert report, not the other run's."""
    run_date = date(2024, 2, 7)
    runs = {"all": DEFAULT_POLICIES,
            "aws": [p for p in DEFAULT_POLICIES if p[0] == "pol-aws"]}

    def one(name):
        return full_report_run(spark, mock_api.mock_server_url(),
                               mock_api.MOCK_USER, mock_api.MOCK_PASSWORD,
                               str(tmp_path / name), run_date, runs[name])

    with ThreadPoolExecutor(2) as pool:
        results = dict(zip(runs, pool.map(one, runs)))
    counts = {name: _alert_csv_rows(str(tmp_path / name), run_date)
              for name in runs}
    assert counts == {"all": 21, "aws": 7}
    assert {name: r["rows"]["alerts"] for name, r in results.items()} == counts


def test_alert_report_golden_csv_bytes(spark, tmp_path):
    """SURVEY §5.4: golden CSV bytes for the alert report at a fixed run
    date, in the reference's exact QUOTE_NONNUMERIC format."""
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


def test_report_path_has_no_python_rdd_leaf(spark, capsys):
    """The inventory body, the alert rows and the policy rows are
    JVM-local relations: no plan on the report path reads a pickled
    Python RDD (``Scan ExistingRDD``) or runs a Python operator, so no
    Python worker starts."""
    client = RestClient(mock_api.mock_server_url(), username=mock_api.MOCK_USER,
                        password=mock_api.MOCK_PASSWORD).login()
    inventory_frame(spark, mock_api.INVENTORY_FIXTURE).explain()
    alert_report_frame(spark, client).explain()
    plans = capsys.readouterr().out
    assert plans.count("Physical Plan") == 2, plans
    assert "ExistingRDD" not in plans, plans
    assert "(Python)" not in plans, plans


def test_alerts_scan_relogs_in_after_token_expiry(spark):
    """The driver scan fetches as the caller's credentialed client, so a
    token that expires after login costs one re-login, not the scan."""
    url = mock_api.mock_server_url()
    client = RestClient(url, username=mock_api.MOCK_USER,
                        password=mock_api.MOCK_PASSWORD,
                        backoff_factor=0.01).login()
    logins = mock_api.server_state().login_count
    request_with_backoff(url + "/admin/expire", method="POST", payload={})
    assert alerts_scan(spark, client).count() == mock_api.N_ALERTS
    assert mock_api.server_state().login_count == logins + 1


def test_full_report_run_failed_page_publishes_nothing(
        spark, tmp_path, monkeypatch):
    """A page request that exhausts its retries fails the run before
    anything is staged or published."""
    real = rest.request_with_backoff

    def page_1_exhausts(url, method="GET", headers=None, payload=None, **kw):
        if (payload or {}).get("pageToken") == "page-1":
            raise RuntimeError(f"{method} {url}: exhausted 5 retries")
        return real(url, method, headers, payload, **kw)

    monkeypatch.setattr(rest, "request_with_backoff", page_1_exhausts)
    out = str(tmp_path)
    with pytest.raises(RuntimeError, match="exhausted"):
        full_report_run(spark, mock_api.mock_server_url(),
                        mock_api.MOCK_USER, mock_api.MOCK_PASSWORD,
                        out, date(2024, 2, 5))
    assert not os.path.exists(os.path.join(out, "_manifests"))
    assert not os.path.exists(os.path.join(out, "year=2024"))
    assert not os.path.exists(os.path.join(out, "_staging", "report-2024-02-05"))


@pytest.mark.parametrize("aggregates", MISTYPED_AGGREGATES)
def test_mistyped_inventory_body_is_rejected(spark, aggregates):
    body = {**mock_api.INVENTORY_FIXTURE, "groupedAggregates": aggregates}
    df = inventory_frame(spark, body)  # lazy: nothing parsed yet
    with pytest.raises(Exception, match="MALFORMED_RECORD"):
        df.collect()


def test_full_report_run_mistyped_inventory_publishes_nothing(
        spark, tmp_path, monkeypatch):
    monkeypatch.setattr(mock_api, "INVENTORY_FIXTURE",
                        {**mock_api.INVENTORY_FIXTURE,
                         "groupedAggregates": MISTYPED_AGGREGATES[0]})
    out = str(tmp_path)
    with pytest.raises(Exception, match="MALFORMED_RECORD") as err:
        full_report_run(spark, mock_api.mock_server_url(),
                        mock_api.MOCK_USER, mock_api.MOCK_PASSWORD,
                        out, date(2024, 2, 4))
    # the rejection surfaces at the run's first write, inside the
    # transaction, which rolls the staging back
    assert any(entry.name == "stage" for entry in err.traceback)
    assert not os.path.exists(os.path.join(out, "_manifests"))
    assert not os.path.exists(os.path.join(out, "year=2024"))
    assert not os.path.exists(os.path.join(out, "_staging", "report-2024-02-04"))
