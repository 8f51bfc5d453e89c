"""B-A extension: batch MERGE INTO / upsert (hive_hw_spark/tables.py).

Grounding: the reference's master keeps a per-node latest-reading table
updated in place as radio polls land (master.ino:153-169 — slot update
if the node answered, keep otherwise, flag new nodes); that is exactly
MERGE semantics over (node_code → reading). The engine's batch
counterpart merges a change-set DataFrame into a catalog table via the
full-outer-join rewrite (see tables.py for the lakehouse migration
path and the 100 TB partition-rewrite note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_hw_spark.catalog import load_table
from hive_hw_spark.queries import register


@register(
    "q110",
    oracle="""
    WITH target AS (
      SELECT c_custkey, c_nationkey, c_acctbal FROM customer
    ),
    source AS (
      SELECT c_custkey, c_nationkey,
             CASE WHEN c_custkey % 100 = 50 THEN -1000.0
                  ELSE c_acctbal + 500 END AS c_acctbal
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey + 1000000, c_nationkey, 0.0
      FROM customer WHERE c_custkey % 10 = 3
    ),
    merged AS (
      SELECT COALESCE(t.c_custkey, s.c_custkey) AS c_custkey,
             CASE WHEN s.c_custkey IS NOT NULL
                  THEN s.c_nationkey ELSE t.c_nationkey END AS c_nationkey,
             CASE WHEN s.c_custkey IS NOT NULL
                  THEN s.c_acctbal ELSE t.c_acctbal END AS c_acctbal,
             (t.c_custkey IS NOT NULL AND s.c_custkey IS NOT NULL
              AND s.c_acctbal < -900) AS del
      FROM target t FULL OUTER JOIN source s ON t.c_custkey = s.c_custkey
    )
    SELECT c_custkey, c_nationkey, c_acctbal
    FROM merged WHERE NOT del ORDER BY c_custkey
    """,
    doc="MERGE INTO a catalog table: a change-set (updates for custkey "
    "% 10 = 0, inserts above key 1e6 for % 10 = 3, deletes where the "
    "incoming balance < -900) merges into a customer snapshot through "
    "tables.merge_upsert — full-outer join on the key, per-row "
    "resolution, staging-table swap. The oracle mirrors the rewrite "
    "declaratively, so the driver attests the MERGE end state "
    "(update/insert/delete rows all non-vacuous at sf0.01). The target "
    "table name is keyed by the session's applicationId — concurrent "
    "sessions cannot collide in the shared warehouse, and repeated "
    "invocations in one session reuse (overwrite) one table instead of "
    "accumulating catalog entries.",
)
def q110(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_hw_spark.tables import merge_upsert, replace_table, warehouse_path

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    # sf_dir folds into the name so a held result from another scale
    # factor is never rewritten under its feet; same-sf re-runs
    # overwrite idempotently
    import hashlib

    sid = "".join(
        ch for ch in spark.sparkContext.applicationId if ch.isalnum()
    )
    sfh = hashlib.sha1(sf_dir.encode()).hexdigest()[:8]
    tname = f"q110_target_{sid}_{sfh}"
    # reap earlier sessions' target/staging locations before creating this
    # session's: the per-session naming isolates concurrent sessions but
    # would otherwise accumulate one orphan dir per process forever
    from hive_hw_spark.catalog import reap_stale_session_dirs

    warehouse = warehouse_path(spark)
    if warehouse is not None:
        reap_stale_session_dirs(
            warehouse, "q110_target_", spark.sparkContext.applicationId
        )
    replace_table(spark, tname, c.write)
    upd = c.filter(F.col("c_custkey") % 10 == 0).withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") % 100 == 50, F.lit(-1000.0)).otherwise(
            F.col("c_acctbal") + 500
        ),
    )
    ins = c.filter(F.col("c_custkey") % 10 == 3).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
    )
    merged = merge_upsert(
        spark,
        tname,
        upd.unionByName(ins),
        ["c_custkey"],
        delete_condition=F.col("s.c_acctbal") < -900,
    )
    return merged.orderBy("c_custkey")
