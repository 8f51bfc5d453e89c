"""B-A Scans / sources (SURVEY.md §2 Q01–Q06).

Grounding: the reference's sources are sensor/radio scans (A1–A6,
slave.ino:141, master.ino:234-257); here the engine-side equivalents are
columnar parquet scans with pushdown. Q03–Q05 (format round-trips,
partitioned writes) are unit-tested in tests/test_sources.py; the
oracle-checkable scans live here.

Scale notes: Q02's projection reaches the parquet reader as ReadSchema
(column pruning) — at 100 TB that is the difference between reading 3
columns and reading 11. Verified by a plan assertion in
tests/test_plan_shapes.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_hw_spark.catalog import load_table
from hive_hw_spark.queries import register


@register(
    "q01",
    oracle="SELECT COUNT(*) AS n FROM lineitem",
    doc="Full parquet scan count (metadata-only count via parquet footers).",
)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n"))


@register(
    "q02",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem ORDER BY l_orderkey, l_linenumber
    """,
    doc="Column-pruned scan: ReadSchema carries only 3 of 11 columns.",
)
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "q06",
    oracle="SELECT * FROM region ORDER BY r_regionkey",
    doc="Catalog-registered table: saveAsTable persists region into the "
    "session catalog's warehouse and spark.table() reads it back — the "
    "Hive-metastore-compatible registration path (same saveAsTable call "
    "against an enableHiveSupport() session writes a real metastore "
    "entry). Not a temp view.",
)
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_hw_spark.catalog import save_as_catalog_table

    name = save_as_catalog_table(spark, sf_dir, "region")
    return spark.table(name).orderBy("r_regionkey")


@register(
    "q146",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    WHERE CAST(ts AS DATE) = (SELECT MIN(CAST(ts AS DATE)) FROM events)
    GROUP BY event_type ORDER BY event_type
    """,
    doc="Partition pruning on a date-partitioned layout — THE single "
    "biggest scan-cost lever at 100 TB (a day filter over a "
    "date-partitioned fact reads 1/30th of the files; over a flat "
    "layout it reads everything and discards 97%): events is laid out "
    "hive-style partitioned by event_date (one write per session, "
    "reused across invocations; stale sessions' copies reaped), and "
    "the day filter is a LITERAL equality on the partition column, so "
    "it resolves at PLANNING time against directory names — "
    "PartitionFilters in the scan node, pruned file listing, zero "
    "data-file reads outside the day (plan-shape-asserted). The "
    "filter date (the corpus' first day) is gathered as one scalar — "
    "the same bounded driver gather as q141's bitset; an attribute "
    "(non-literal) comparison could not prune at plan time. Oracle "
    "states the same day filter over the flat table.",
)
def q146(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from hive_hw_spark.catalog import reap_stale_session_dirs
    from hive_hw_spark.tables import warehouse_path

    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    root = warehouse_path(spark) or "spark-warehouse"
    app_id = spark.sparkContext.applicationId
    reap_stale_session_dirs(root, "q146_events_", app_id)
    path = os.path.join(
        root, f"q146_events_{app_id}_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    if not os.path.isdir(path):
        ev.write.mode("overwrite").partitionBy("event_date").parquet(path)
    min_date = ev.agg(F.min("event_date")).collect()[0][0]
    part = spark.read.parquet(path)
    return (
        part.filter(F.col("event_date") == F.lit(min_date))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


@register(
    "q234",
    oracle="""
    SELECT c_custkey,
           concat(substr(c_name, 1, 9), '****') AS name_masked,
           CASE WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 5000 THEN 'low'
                ELSE 'high' END AS balance_band,
           c_mktsegment
    FROM customer
    WHERE c_nationkey % 5 = 2
    ORDER BY c_custkey
    """,
    doc="Data governance surface — ROW-LEVEL SECURITY + COLUMN MASKING "
    "as a view (B-A extension; the warehouse's compliance staple): "
    "an analyst-facing TEMP VIEW exposes only the tenant's rows (the "
    "RLS predicate — here a nation slice standing in for the "
    "session-principal filter) with PII masked at the COLUMN level "
    "(name truncated + padded, exact balances coarsened to bands) — "
    "consumers query the view like a table and can never select the "
    "raw column. Scale notes: both the RLS predicate and the masks "
    "inline into every consumer plan (the view is a named subquery, "
    "not a copy), so the row filter pushes down to the parquet scan "
    "like any WHERE — governance costs nothing at read time. A "
    "metastore deployment swaps TEMP VIEW for a permanent view + "
    "GRANTs; Unity/ Ranger-style policies compile to exactly this "
    "shape.",
)
def q234(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "q234_customer_raw"
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMP VIEW q234_customer_secured AS
        SELECT c_custkey,
               concat(substr(c_name, 1, 9), '****') AS name_masked,
               CASE WHEN c_acctbal < 0 THEN 'negative'
                    WHEN c_acctbal < 5000 THEN 'low'
                    ELSE 'high' END AS balance_band,
               c_mktsegment
        FROM q234_customer_raw
        WHERE c_nationkey % 5 = 2
        """
    )
    return spark.sql(
        "SELECT * FROM q234_customer_secured ORDER BY c_custkey"
    )
