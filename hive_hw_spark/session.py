"""SparkSession factory with scale-aware defaults.

Design notes (100 TB posture):
- AQE on everywhere: runtime shuffle-partition coalescing, skew-join
  splitting, and dynamic join-strategy switching are the primary levers
  that keep a plan healthy when data grows 100x.
- ``spark.sql.shuffle.partitions`` defaults to a local-friendly value but
  is a config, not code: on a 1000-executor cluster the same queries run
  with partitions sized so each post-shuffle partition is ~128-256 MB
  (AQE coalesces down from a high initial number).
- Session timezone pinned to UTC so event-time semantics are deterministic
  across drivers/executors (the reference pipeline has no absolute clock;
  see SURVEY.md §1.1 Timestamp row, master.ino:700-712).
- Arrow enabled for every Python exchange (pandas UDFs, toPandas).
- Driver heap (``spark.driver.memory``) is ``$SPARK_GRAFT_DRIVER_MEM``
  verbatim when set; otherwise ``driver_memory`` fits it to half the
  machine's memory or cgroup limit, capped at 48g. Half, because the JVM's resident size runs ~1.7 GB above ``-Xmx`` and
  the Python process, its workers and the OS share the rest. The JVM
  collects only as its heap fills, so a heap larger than the machine
  grows until the kernel OOM-kills it, and a long-lived session (the
  test suite runs in one) dies partway through.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DRIVER_MEM_CAP_MB = 48 * 1024
_DRIVER_MEM_FLOOR_MB = 1024  # Spark's own spark.driver.memory default
_CGROUP_MEMORY_MAX = "/sys/fs/cgroup/memory.max"
_CGROUP_V1_MEMORY_LIMIT = "/sys/fs/cgroup/memory/memory.limit_in_bytes"


def _physical_memory_bytes() -> int:
    return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")


def _cgroup_memory_max_bytes() -> int | None:
    """cgroup-v2 ``memory.max``, else cgroup-v1 ``memory.limit_in_bytes``;
    None for v2's "max" or no controller. v1's no-limit is a number near
    2**63, which physical memory wins over in ``driver_memory``."""
    for path in (_CGROUP_MEMORY_MAX, _CGROUP_V1_MEMORY_LIMIT):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        return int(raw) if raw.isdigit() else None
    return None


def driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM`` unchanged when set; else the heap fitted
    to the machine: min(48g, physical/2, cgroup limit/2), floored at
    1g, as a Spark size string."""
    explicit = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if explicit:
        return explicit
    limits = [_physical_memory_bytes(), _cgroup_memory_max_bytes()]
    half_mb = min(b for b in limits if b is not None) // 2 // 2**20
    mb = max(_DRIVER_MEM_FLOOR_MB, min(_DRIVER_MEM_CAP_MB, half_mb))
    return f"{mb // 1024}g" if mb % 1024 == 0 else f"{mb}m"


def get_spark(
    app_name: str = "hive_hw_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``) so tests and bench share one code path; on a real
    cluster the caller passes the cluster master / lets spark-submit set it.

    ``spark.driver.memory`` is ``driver_memory()``. It only takes effect
    when this call starts the JVM.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- planner / runtime adaptivity -------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.localShuffleReader.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- determinism -------------------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # TIMESTAMP(NANOS) parquet (events.ts) arrives as raw long nanos
        # everywhere, session-wide, instead of being flipped per-read
        # (race-prone). load_table() still sets it defensively for vanilla
        # driver-owned sessions.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- catalog: persistent warehouse so saveAsTable round-trips ----
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/hive_hw_warehouse"),
        )
        # --- Python exchange is always Arrow-batched ---------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- scan sizing: 128 MB splits, the parquet sweet spot ----------
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # --- broadcast threshold: dims up to 64 MB broadcast -------------
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def get_hive_spark(
    warehouse_dir: str,
    metastore_dir: str,
    app_name: str = "hive_hw_spark_hive",
    master: str = "local[4]",
) -> SparkSession:
    """A metastore-BACKED session: ``enableHiveSupport`` with an embedded
    Derby metastore at ``metastore_dir``.

    This is the real Hive-catalog path (``spark.sql.catalogImplementation
    = hive``): tables registered here survive session restarts because
    their metadata lives in the metastore, not in session memory —
    verified by tests/test_hive_catalog.py, which writes with one session
    and reads with a fresh one. In production the Derby URL is replaced
    by the shared metastore (thrift://...) and nothing else changes.

    Caveats: Derby allows ONE process at a time (fine for the embedded
    test double); a Hive-enabled session cannot share a JVM with an
    in-memory-catalog session, so callers stop any live session first —
    enforced below, because ``getOrCreate`` would otherwise silently
    return the live session with every Hive config dropped.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        raise RuntimeError(
            "get_hive_spark needs a fresh JVM-wide session: an active "
            "SparkSession exists and getOrCreate would silently reuse it, "
            "dropping enableHiveSupport and the metastore config. Call "
            "spark.stop() first (or run in a separate process, as "
            "tests/test_hive_catalog.py does)."
        )
    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        .enableHiveSupport()
        .config("spark.sql.warehouse.dir", warehouse_dir)
        .config(
            "javax.jdo.option.ConnectionURL",
            f"jdbc:derby:;databaseName={metastore_dir};create=true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
