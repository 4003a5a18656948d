"""Adversarial variant of selfcheck: runs the driver contract against a
VANILLA SparkSession (none of session.get_spark's confs, non-UTC
timezone), exactly as an external driver would. Every query must
self-defend (tables.load sets UTC + nanosAsLong at runtime).

    python scripts/drivercheck.py [sf_dir]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")


def main() -> int:
    from pyspark.sql import SparkSession

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = (SparkSession.builder.master("local[8]")
             .appName("drivercheck")
             # deliberately hostile: a non-UTC zone a careless query would
             # leak into formatted timestamps
             .config("spark.sql.session.timeZone", "America/New_York")
             .config("spark.ui.enabled", "false")
             .getOrCreate())

    import duckdb
    from selfcheck import TABLES, compare  # reuse the comparison core

    import __spark_entry__ as e
    from tf_prisma_api_data_ingestion_spark import tables

    # every table is read with a pinned schema, so drift would otherwise
    # surface as silent nulls; the check restores the session's conf,
    # leaving each query to defend itself as below
    tables.assert_contract(spark, sf_dir)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    rows = e.entry(spark).collect()
    print(f"entry: {len(rows)} rows")

    qs, oracles = e.queries(), e.oracle_sql()
    n_pass = n_fail = n_weak = 0
    for name, fn in qs.items():
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: raised {type(ex).__name__}: {ex}")
            n_fail += 1
            continue
        if name not in oracles:
            n_weak += 1
            continue
        problems = compare(name, sdf, con.execute(oracles[name]).df())
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems[:3]))
            n_fail += 1
        else:
            n_pass += 1
    print(f"\n{n_pass} pass, {n_weak} weak, {n_fail} fail (vanilla session)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
