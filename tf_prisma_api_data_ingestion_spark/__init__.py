"""PySpark-native analytics engine with the query & data-processing
capabilities of the reference ETL pipeline (dipmndl/tf-prisma-api-data-ingestion),
re-expressed Spark-first, plus the large-scale training-data-pipeline
operators (dedup, similarity search, text analysis, multimodal plumbing).

Layout:
    session     - tuned SparkSession factory (local test / cluster posture)
    tables      - test-table loaders for the driver-provided parquet data
    catalog     - driver-facing (Spark query, DuckDB oracle) registry
    operators/  - composable DataFrame -> DataFrame operators (SURVEY.md §2 IDs)
    sources/    - REST connector (login/backoff/pagination, alert stream) + mock API
    functions/  - scalar/column helpers (timestamps, url-encode)
    plans/      - end-to-end report pipelines (EP1 inventory, EP3 alert)
    sinks       - CSV/partitioned writers + staged-commit run transaction
    streaming/  - Structured Streaming windowed aggregation over events
    multimodal  - binary payload + mapInPandas decode/frame-sample plumbing
"""

__version__ = "0.1.0"
