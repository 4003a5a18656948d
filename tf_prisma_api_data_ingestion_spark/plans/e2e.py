"""The handler-equivalent end-to-end run (reference entry point:
``handler``, /root/reference/modules/src/prisma_report/lambda.py:386-441):
login -> inventory report -> per-service resource-type report -> alert
report -> three CSVs published atomically under a date-partitioned prefix.

Differences from the reference, by design:
- login is explicit per-run (P:73 logs in at import time — §2.5.2);
- the N+1 per-policy alert pagination (P:256-318) is ONE paginated scan
  + a broadcast join to the policy frame. The driver plans the pages with
  ``sources.rest.plan_pages`` and a thread pool fetches them. A run
  scans the API ONCE and computes the alert report once: its CSV write is
  the report's only action, and an ``Observation`` on that write counts
  the returned rows;
- the per-service inventory fan-out (P:394-401) is one finer-grained
  aggregation (plans/inventory.py);
- outputs publish via StagedRun, all three or none, manifest last
  (P:431-451's rollback raises NameError on early failure — §2.5.3);
- the whole run is a pure function of (spark, api, out_base, run_date):
  no module globals, so warm re-invocations cannot double rows (§2.5.1);
- driver-held rows (inventory body, alerts, policies) are JVM-local
  relations (``json_rows``), so a report run starts no Python worker.

The ingest frames are built only here (``inventory_frame``,
``alerts_scan``, ``alert_report_frame``); the src-get-json,
src-paginated-post and plan-e2e-alert catalog keys share them.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from datetime import date

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.json_ops import flatten_array_of_structs, json_rows
from ..sinks import StagedRun
from ..sources.rest import (
    ALERT_SCHEMA,
    RestClient,
    _AlertsOptions,
    _alert_row,
    fetch_page,
    plan_pages,
)
from .report import alert_report_from_fixtures

INVENTORY_SCHEMA = (
    "timestamp LONG, requestedTimestamp LONG, groupedAggregates "
    "ARRAY<STRUCT<serviceName STRING, cloudTypeName STRING, "
    "failedResources LONG, passedResources LONG, totalResources LONG>>")

DEFAULT_POLICIES = [("pol-aws", "AWS baseline", "config", "high"),
                    ("pol-azure", "Azure baseline", "config", "medium"),
                    ("pol-gcp", "GCP baseline", "config", "low")]
POLICY_COLUMNS = ("policyId", "policyName", "policyType", "severity")


def inventory_frame(spark: SparkSession, body: dict) -> DataFrame:
    """Inventory rows from a ``/v1/inventory`` body (P:165-178)."""
    df = json_rows(spark, [body], INVENTORY_SCHEMA).select("groupedAggregates")
    return flatten_array_of_structs(df, "groupedAggregates").na.fill(0)


def alerts_scan(spark: SparkSession, client: RestClient,
                **options: str) -> DataFrame:
    """The alerts frame, fetched now as the logged-in ``client``.

    ``options`` are the alert reader options (``sources.rest._AlertsOptions``:
    ``path``, ``filters``, ``page_size``, ``paging``, ``probe_key``,
    ``max_pages``, ``rate_limit``; ``base_url`` and the auth come from
    ``client``). The driver plans the pages with ``plan_pages`` (its
    docstring holds the paging modes and the ``rate_limit`` budget), one
    thread per task slot fetches them with ``fetch_page`` in page order,
    and the rows reach the JVM as one folded ``json_rows`` literal (~112
    bytes per alert), so no Python worker runs. A scan needing more than
    ``max_pages`` pages raises ``RuntimeError``.
    """
    opts = _AlertsOptions({**options, "base_url": client.base_url})
    pages = plan_pages(opts, client)
    with ThreadPoolExecutor(spark.sparkContext.defaultParallelism) as pool:
        items = pool.map(lambda page: fetch_page(opts, client, page), pages)
        rows = [_alert_row(i).asDict() for page in items for i in page]
    return json_rows(spark, rows, ALERT_SCHEMA)


def alert_report_frame(spark: SparkSession, client: RestClient,
                       policies_rows: list[tuple] | None = None) -> DataFrame:
    """EP3: alerts scan -> broadcast policy join -> report (P:210-369)."""
    # mock alerts carry no policyId: derive it as the per-policy loop implies
    alerts = (alerts_scan(spark, client)
              .withColumn("policyId", F.concat(F.lit("pol-"), F.col("cloudType"))))
    policies = json_rows(spark, [dict(zip(POLICY_COLUMNS, r))
                                 for r in policies_rows or DEFAULT_POLICIES],
                         ", ".join(f"{c} STRING" for c in POLICY_COLUMNS))
    items = alerts.select(
        "policyId",
        F.struct("account", "accountId", "cloudType", "cloudAccountGroups")
         .alias("resource"))
    return alert_report_from_fixtures(policies, items)


def full_report_run(spark: SparkSession, base_url: str, username: str,
                    password: str, out_base: str, run_date: date,
                    policies_rows: list[tuple] | None = None) -> dict:
    """Run the three reports and publish them transactionally.

    Returns {"run_id", "outputs", "rows"}. ``policies_rows`` normally
    come from the policy-list endpoint (P:217-256); the mock serves alerts
    only, so the small policy frame (the broadcast side) is injected.

    A run is four Spark jobs: the policy broadcast and the three CSV
    writes. ``rows["alerts"]`` is observed on the alert report's write,
    not counted by a job of its own, so a failure anywhere in the report
    surfaces inside ``StagedRun`` and rolls the staging back.
    """
    client = RestClient(base_url, username=username, password=password,
                        backoff_factor=0.1).login()
    run_day = F.lit(run_date.isoformat())

    # EP1: inventory + resource-type (one body, two aggregation grains)
    body = client.get_json("/v1/inventory").body
    inventory = inventory_frame(spark, body).withColumn("transaction_date", run_day)
    resource_type = inventory.withColumn("resourceIdentity", F.lit("Resource Type"))

    # EP3: the one API scan of the run (fetched here, on the driver); the
    # report's row count is observed on its CSV write. Unnamed, so
    # concurrent runs on one session never read each other's count
    observed = Observation()
    alert_report = (alert_report_frame(spark, client, policies_rows)
                    .withColumn("transaction_date", run_day)
                    .observe(observed, F.count(F.lit(1)).alias("rows")))

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
                     "alerts": observed.get["rows"]}}
