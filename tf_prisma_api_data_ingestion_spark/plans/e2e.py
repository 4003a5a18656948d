"""The handler-equivalent end-to-end run (reference entry point:
``handler``, /root/reference/modules/src/prisma_report/lambda.py:386-441):
login -> inventory report -> per-service resource-type report -> alert
report -> three CSVs published atomically under a date-partitioned prefix.

Differences from the reference, by design:
- login is explicit per-run (P:73 logs in at import time — §2.5.2);
- the N+1 per-policy alert pagination (P:256-318) is ONE paginated scan
  through the partition-per-page DataSource + a broadcast join to the
  policy frame, and a run scans the API ONCE: the report-sized alert
  report is materialized, so the staged CSV and the returned count read
  the same result;
- the per-service inventory fan-out (P:394-401) is one finer-grained
  aggregation (plans/inventory.py);
- outputs publish via StagedRun: all three reports or none, manifest
  written last (P:431-451's rollback has a NameError on early failure —
  §2.5.3);
- the whole run is a pure function of (spark, api, out_base, run_date):
  no module globals, so warm re-invocations cannot double rows (§2.5.1).

The ingest frames are built only here (``inventory_frame``,
``alerts_scan``, ``alert_report_frame``); the src-get-json,
src-paginated-post and plan-e2e-alert catalog keys share them.
"""

from __future__ import annotations

from datetime import date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.json_ops import flatten_array_of_structs
from ..sinks import StagedRun
from ..sources.rest import RestClient, register_alerts_source
from .report import alert_report_from_fixtures

INVENTORY_SCHEMA = (
    "timestamp LONG, requestedTimestamp LONG, groupedAggregates "
    "ARRAY<STRUCT<serviceName STRING, cloudTypeName STRING, "
    "failedResources LONG, passedResources LONG, totalResources LONG>>")

DEFAULT_POLICIES = [("pol-aws", "AWS baseline", "config", "high"),
                    ("pol-azure", "Azure baseline", "config", "medium"),
                    ("pol-gcp", "GCP baseline", "config", "low")]


def inventory_frame(spark: SparkSession, body: dict) -> DataFrame:
    """Inventory rows from a ``/v1/inventory`` body (P:165-178)."""
    df = spark.createDataFrame([body], INVENTORY_SCHEMA).select("groupedAggregates")
    return flatten_array_of_structs(df, "groupedAggregates").na.fill(0)


def alerts_scan(spark: SparkSession, client: RestClient) -> DataFrame:
    """One ``prisma_alerts`` scan as the logged-in ``client``; executors
    fetch pages in parallel."""
    register_alerts_source(spark)
    return (spark.read.format("prisma_alerts")
            .option("base_url", client.base_url).option("token", client.token)
            .option("backoff_factor", str(client.backoff_factor)).load())


def alert_report_frame(spark: SparkSession, client: RestClient,
                       policies_rows: list[tuple] | None = None) -> DataFrame:
    """EP3: alerts scan -> broadcast policy join -> report (P:210-369)."""
    # alert items carry no policyId in the mock; derive a stable one the
    # way the reference's per-policy loop implies it
    alerts = (alerts_scan(spark, client)
              .withColumn("policyId", F.concat(F.lit("pol-"), F.col("cloudType"))))
    policies = spark.createDataFrame(
        policies_rows or DEFAULT_POLICIES,
        "policyId STRING, policyName STRING, policyType STRING, severity STRING")
    items = alerts.select(
        "policyId",
        F.struct("account", "accountId", "cloudType", "cloudAccountGroups")
         .alias("resource"))
    return alert_report_from_fixtures(policies, items)


def full_report_run(spark: SparkSession, base_url: str, username: str,
                    password: str, out_base: str, run_date: date,
                    policies_rows: list[tuple] | None = None) -> dict:
    """Run the three reports and publish them transactionally.

    Returns {"run_id", "outputs", "rows"} for observability. ``policies``
    normally comes from the policy-list endpoint (P:217-256); the mock
    serves alerts only, so the small policy frame is injected (it is the
    broadcast side either way).
    """
    client = RestClient(base_url, username=username, password=password,
                        backoff_factor=0.1).login()
    run_day = F.lit(run_date.isoformat())

    # EP1: inventory + resource-type (one body, two aggregation grains)
    body = client.get_json("/v1/inventory").body
    inventory = inventory_frame(spark, body).withColumn("transaction_date", run_day)
    resource_type = inventory.withColumn("resourceIdentity", F.lit("Resource Type"))

    # EP3: the one API scan of the run; the report (policies x accounts)
    # is materialized so staging and the row count share it
    alert_report = (alert_report_frame(spark, client, policies_rows)
                    .withColumn("transaction_date", run_day)
                    .localCheckpoint())

    run_id = f"report-{run_date.isoformat()}"
    prefix = f"year={run_date.year}/month={run_date.month}/day={run_date.day}"
    with StagedRun(out_base, run_id) as run:
        run.stage(inventory, f"{prefix}/inventory_report", fmt="csv", single_file=True)
        run.stage(resource_type, f"{prefix}/inventory_resource_type_report",
                  fmt="csv", single_file=True)
        run.stage(alert_report, f"{prefix}/alert_report", fmt="csv", single_file=True)
    return {"run_id": run_id,
            "outputs": [f"{prefix}/inventory_report",
                        f"{prefix}/inventory_resource_type_report",
                        f"{prefix}/alert_report"],
            "rows": {"inventory": len(body["groupedAggregates"]),
                     "alerts": alert_report.count()}}
