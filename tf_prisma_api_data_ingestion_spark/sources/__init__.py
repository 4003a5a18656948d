"""Source connectors: REST client with auth/backoff/pagination, the
driver-side alert page planner and fetch, and the Spark 4 Python streaming
DataSource for incremental alert ingest."""

from .rest import RestClient, fetch_all_pages, register_alerts_source  # noqa: F401
