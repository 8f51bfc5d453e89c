"""Table catalog: registers the testdata parquet tables as views/tables.

The engine treats ``/root/testdata/sf*/`` parquet files as its warehouse
(TESTDATA.md). ``register_tables`` exposes them as temp views for SQL and
returns a dict of DataFrames for the DataFrame API; ``save_as_catalog_table``
persists one into the session catalog (Hive-metastore-compatible path,
SURVEY.md Q06).

Scale note: at 100 TB these would be external partitioned tables (partitioned
by date / bucketed by join key) registered once in a shared metastore; the
per-session temp-view registration here is the local-test equivalent and the
query code is identical either way (``spark.table(name)``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from hive_hw_spark.tables import replace_table

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, normalizing physical quirks.

    ``events.ts`` has shipped in two physical layouts across testdata
    generations: parquet TIMESTAMP(NANOS) (which Spark's vectorized
    reader rejects, [PARQUET_TYPE_ILLEGAL], so it is read as raw long
    nanos under ``nanosAsLong`` and truncated to microseconds — exactly
    what DuckDB's reader does) and plain TIMESTAMP(MICROS) (which reads
    as TIMESTAMP_NTZ directly). Branch on the dtype that actually comes
    off the file, and land BOTH on session-tz TimestampType so every
    downstream query sees one stable type; with the UTC session pin the
    wall-clock values match DuckDB's naive reads either way.
    """
    if name == "events":
        # The two physical layouts only agree under a UTC session tz:
        # the nanos branch is epoch-anchored (timestamp_micros) while
        # the micros branch preserves wall clock (NTZ→timestamp cast),
        # and DuckDB's oracle read is naive. Pin it HERE — the driver
        # builds its own vanilla session, so a pin that lives only in
        # get_spark() would not exist on the session actually queried.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(table_path(sf_dir, name))
        return decode_event_ts(df)
    return spark.read.parquet(table_path(sf_dir, name))


def decode_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``ts`` from either physical layout (raw long nanos under
    ``nanosAsLong``, or native TIMESTAMP_NTZ/TIMESTAMP micros) to
    session-tz TimestampType. Shared by batch loads and the streaming
    tests so both decode identically."""
    from pyspark.sql import functions as F

    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":  # TIMESTAMP(NANOS) read as raw nanos
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def register_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register each testdata table as a temp view; return name → DataFrame."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def reap_stale_session_dirs(root: str, prefix: str, app_id: str) -> int:
    """Remove sibling artifact dirs left by EARLIER sessions.

    Per-session artifact dirs (q110 merge targets, q78 rollups) embed the
    creating session's applicationId, which for local masters embeds the
    session's start epoch (``local<epoch_ms>``). A dir whose embedded
    epoch predates THIS session's start belongs to a finished session —
    nothing can still hold live results over it — so it is reaped; the
    current session's dirs (and any later/concurrent session's) are kept.
    Without this, every pytest/drive/bench process leaves one dir behind
    forever (15 had accumulated by round 6). Local filesystem only: on an
    object store, lifecycle rules own artifact retention."""
    import re
    import shutil

    m = re.search(r"(\d{10,})", app_id)
    if m is None or not os.path.isdir(root):
        return 0
    cur_epoch = int(m.group(1))
    reaped = 0
    for entry in os.listdir(root):
        if not entry.startswith(prefix):
            continue
        dm = re.search(r"(\d{10,})", entry)
        if dm and int(dm.group(1)) < cur_epoch:
            shutil.rmtree(os.path.join(root, entry), ignore_errors=True)
            reaped += 1
    return reaped


def save_as_catalog_table(
    spark: SparkSession, sf_dir: str, name: str, catalog_name: str | None = None
) -> str:
    """Persist a testdata table into the session catalog (managed table).

    This is the Hive-metastore-compatible registration path: the same
    ``saveAsTable`` call against a session with
    ``enableHiveSupport()`` writes to a real metastore.
    """
    catalog_name = catalog_name or f"cat_{name}"
    replace_table(spark, catalog_name, load_table(spark, sf_dir, name).write)
    return catalog_name
