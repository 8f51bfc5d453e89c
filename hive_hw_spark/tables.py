"""Batch MERGE INTO / upsert surface for parquet catalog tables.

OSS parquet tables have no row-level ACID — that needs a lakehouse
format (Delta/Iceberg), whose jars are not in this container (ROADMAP
#5). The engine therefore provides the standard join-rewrite a batch
lakehouse MERGE compiles to anyway:

    MERGE INTO target USING source ON key
      WHEN MATCHED [AND cond] THEN DELETE
      WHEN MATCHED            THEN UPDATE SET *
      WHEN NOT MATCHED        THEN INSERT *

== full-outer join on the key + per-row resolution + table rewrite
through :func:`replace_table`, whose crash window a lakehouse format's
metadata-only atomic commit removes. The logical plan is identical,
which is the point: callers migrate by swapping ``merge_upsert`` for
``MERGE INTO`` when the format arrives.

Scale notes: the join shuffles both sides on the merge key. Spark
cannot broadcast either side of a ``full_outer`` join (the broadcast
side's unmatched rows would have to be tracked across every partition),
so a small source does not spare the target its shuffle; everything
else is map-side. The full-table rewrite is the real cost of
MERGE-on-parquet at 100 TB.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F


def warehouse_path(spark) -> str | None:
    """The session warehouse as a local directory; None off the local disk."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    return warehouse.removeprefix("file:") if warehouse.startswith("file:") else None


def replace_table(spark, name: str, writer: DataFrameWriter) -> DataFrame:
    """Replace catalog table ``name`` with what ``writer`` saves; return it.

    The one staged-replace protocol, shared with :func:`replace_dir`:
    write the new state in full under a staging name, remove the old
    state, rename the stage into its place. A reader never sees a
    half-written table, and the writer may read the table it replaces
    (which an in-place overwrite refuses). Each name's catalog entry is
    dropped, and its lower-cased warehouse location (where Spark keeps a
    managed table) reaped, before it is written: a location an earlier
    session left fails the write with LOCATION_ALREADY_EXISTS. Crash
    window: between removal and rename the new state exists only under
    the staging name; :func:`replace_dir` renames a complete stage back
    in on its next call, a table's ``<name>__staging`` is renamed back
    by hand.
    """
    staging = f"{name}__staging"
    _drop_table(spark, staging)
    writer.saveAsTable(staging)
    _drop_table(spark, name)
    spark.sql(f"ALTER TABLE {staging} RENAME TO {name}")
    return spark.table(name)


def _drop_table(spark, name: str) -> None:
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    root = warehouse_path(spark)
    if root is not None:
        shutil.rmtree(os.path.join(root, name.lower()), ignore_errors=True)


def replace_dir(path: str, df: DataFrame) -> None:
    """Replace parquet directory ``path`` with ``df`` by
    :func:`replace_table`'s protocol. The old directory is renamed aside
    before it is deleted, so ``path`` is never left partial."""
    stage, old = _recover_dir(path), path.rstrip("/") + "__old"
    df.write.mode("overwrite").parquet(stage)
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(stage, path)
    shutil.rmtree(old, ignore_errors=True)


def _recover_dir(path: str) -> str:
    """Finish a swap a crash interrupted: with ``path`` missing, a complete
    stage (``_SUCCESS`` is written last) is the newest state. Returns the
    stage's path."""
    stage = path.rstrip("/") + "__stage"
    if not os.path.isdir(path) and os.path.exists(os.path.join(stage, "_SUCCESS")):
        os.rename(stage, path)
    return stage


def merge_upsert(
    spark: SparkSession,
    target_table: str,
    source: DataFrame,
    key_cols: list[str],
    delete_condition: Column | None = None,
) -> DataFrame:
    """MERGE ``source`` into catalog table ``target_table`` on ``key_cols``.

    Semantics (per target/source row pair joined on the key):
    - matched and ``delete_condition`` (evaluated on source columns) →
      row deleted;
    - matched otherwise → target row replaced by the source row
      (UPDATE SET *);
    - source-only → source row inserted;
    - target-only → target row kept.

    Source and target must share a schema, and the source must be
    UNIQUE on ``key_cols`` — the same precondition SQL MERGE imposes
    (a duplicate-key source makes "the matching source row" ambiguous;
    under the join rewrite it would emit one output row per duplicate).
    Deduplicate upstream (e.g. latest-change-wins via row_number) before
    merging a raw CDC feed. Returns the new table state (read back from
    the catalog after the swap).
    """
    tgt = spark.table(target_table)
    cols = tgt.columns
    if set(source.columns) != set(cols):
        raise ValueError(
            f"merge source schema {sorted(source.columns)} != "
            f"target schema {sorted(cols)}"
        )
    # row provenance via pre-join marker literals: after the outer join a
    # missing side leaves the marker NULL (a struct-of-null-fields probe
    # would NOT work — the struct itself stays non-null)
    tgt_m = tgt.withColumn("__t", F.lit(1))
    src_m = source.withColumn("__s", F.lit(1))
    joined = tgt_m.alias("t").join(src_m.alias("s"), key_cols, "full_outer")
    has_t = F.col("__t").isNotNull()
    has_s = F.col("__s").isNotNull()
    resolved = joined
    if delete_condition is not None:
        resolved = resolved.filter(~(has_t & has_s & delete_condition))
    out = resolved.select(
        *key_cols,
        *[
            F.when(has_s, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
            for c in _nonkey(cols, key_cols)
        ],
    ).select(*cols)

    return replace_table(spark, target_table, out.write)


def _nonkey(cols: list[str], key_cols: list[str]) -> list[str]:
    nk = [c for c in cols if c not in key_cols]
    if not nk:
        raise ValueError("merge needs at least one non-key column")
    return nk


def compact_parquet_dir(
    spark, src_dir: str, dst_dir: str, target_files: int
) -> int:
    """Small-file compaction — the table-maintenance pass every busy
    ingest path needs (streaming sinks and per-batch appends leave
    thousands of KB-sized files; at 100 TB the driver's file listing and
    per-file open overheads dominate scans long before data volume
    does). Rewrites ``src_dir`` into exactly ``target_files`` parquet
    files at ``dst_dir`` via ``repartition(n)`` — a round-robin shuffle
    that balances output sizes regardless of input skew (``coalesce(n)``
    would avoid the shuffle but inherits whatever size imbalance the
    input files carry, and can starve parallelism upstream of wide
    transforms). Row-identical by construction; returns the output file
    count. Production notes: target ≈ total_bytes / 128 MB; lakehouse
    formats run this as OPTIMIZE/rewrite-data-files with a transactional
    swap — here the destination is a fresh directory and the caller owns
    the swap."""
    df = spark.read.parquet(src_dir)
    df.repartition(target_files).write.mode("overwrite").parquet(dst_dir)
    import glob

    return len(glob.glob(os.path.join(dst_dir, "part-*.parquet")))


def sort_parquet_dir(
    spark, src_dir: str, dst_dir: str, sort_cols: list[str], target_files: int
) -> int:
    """Sorted data layout for zone-map skipping (Q159) — the clustering
    half of table maintenance next to :func:`compact_parquet_dir`'s
    sizing half. ``repartitionByRange(n, cols)`` range-partitions rows
    so each output file owns a DISJOINT slice of the sort-key space,
    and ``sortWithinPartitions`` orders rows inside each file so parquet
    row-group (zone-map) min/max stats are tight. A later point/range
    predicate on the sort key then prunes to ~1 of ``n`` files from
    FOOTER STATS ALONE — the same lever q146 pulls with hive partition
    directories, but driven by data stats instead of directory layout,
    so it works for high-cardinality keys where one-directory-per-value
    would melt the metastore (the Z-ORDER/CLUSTER BY analog; a
    multi-dimensional layout would interleave key bits first).
    Returns the output file count. Range boundaries come from sampling,
    so file sizes are approximately balanced even on skewed keys; the
    caller owns the staging swap, as with compaction."""
    df = spark.read.parquet(src_dir)
    (
        df.repartitionByRange(target_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(dst_dir)
    )
    import glob

    return len(glob.glob(os.path.join(dst_dir, "part-*.parquet")))


def write_bucketed_table(
    spark,
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
) -> str:
    """Bucketed (hash-clustered) managed table — the SHUFFLE-ELIMINATION
    layout for repeated big-big joins (Q168). ``bucketBy(n, keys)`` +
    ``sortBy(keys)`` hash-partitions rows into ``n`` files per write
    task and records the bucket spec in the catalog; a later join of
    two tables bucketed the SAME way on the SAME key count plans as a
    SortMergeJoin with ZERO Exchange on either side — the 100 TB
    fact⋈fact join that otherwise shuffles terabytes every run pays
    its shuffle ONCE at write time (the Hive-bucketing / Iceberg
    bucket-transform analog; tests/test_tables.py proves the
    exchange-free plan)."""
    writer = df.write.bucketBy(n_buckets, *bucket_cols).sortBy(*bucket_cols)
    replace_table(spark, table_name, writer)
    return table_name


def incremental_rollup_merge(
    spark,
    rollup: DataFrame,
    delta_events: DataFrame,
    target_table: str,
) -> DataFrame:
    """Incrementally maintained daily rollup (Q171) — the MERGE-based
    materialized-view pattern that turns q78's 'serve = materialized ∪
    tail' into 'materialized += delta': aggregate ONLY the new
    micro-batch/partition of events to per-day partials, then
    merge_upsert them into the stored rollup with ADD semantics
    (existing day rows get counts/sums added, new days insert). Because
    the rollup's measures (count, DECIMAL sum) are associative and
    commutative, rollup ⊕ agg(delta) ≡ agg(full data) — the invariant
    tests/test_tables.py asserts. At 100 TB this is the difference
    between rescanning the fact table per refresh and touching
    |days-in-delta| rows. ``rollup`` may read ``target_table`` itself."""
    delta = delta_events.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(30,10)")).alias("total"),
    )
    merged = (
        rollup.alias("t")
        .join(delta.alias("d"), "day", "full")
        .select(
            F.col("day"),
            (
                F.coalesce(F.col("t.n"), F.lit(0))
                + F.coalesce(F.col("d.n"), F.lit(0))
            ).alias("n"),
            (
                F.coalesce(F.col("t.total"), F.lit(0).cast("decimal(30,10)"))
                + F.coalesce(
                    F.col("d.total"), F.lit(0).cast("decimal(30,10)")
                )
            ).cast("decimal(30,10)").alias("total"),
        )
    )
    return replace_table(spark, target_table, merged.write)


def zorder_parquet_dir(
    spark,
    src_dir: str,
    dst_dir: str,
    zcols: list[str],
    target_files: int,
    bits: int = 12,
) -> int:
    """Z-order (Morton-curve) MULTI-dimensional clustering layout (Q210)
    — the two-column answer to :func:`sort_parquet_dir`'s one-column
    limit. A lexicographic sort gives tight file min/max stats on the
    FIRST key only; a predicate on the second key still touches every
    file. Interleaving the bits of both keys' rank positions makes
    file boundaries approximate axis-aligned squares in (k1, k2)
    space, so footer-stats pruning works on EITHER column — the
    Delta/Iceberg ``ZORDER BY`` analog, done as a pure column
    expression.

    Each column is affinely mapped to a ``bits``-bit integer using its
    own global min/max (one tiny agg — at 100 TB these stats come from
    table metadata instead), and the z-key interleaves those bits with
    shifts and ORs — whole-stage-codegen arithmetic, no UDF. Rows then
    ``repartitionByRange`` on the z-key (disjoint z-ranges per file)
    and sort within partitions so row-group stats stay tight. Returns
    the output file count; caller owns the staging swap."""
    df = spark.read.parquet(src_dir)
    stats = df.agg(
        *[F.min(c).alias(f"min_{c}") for c in zcols],
        *[F.max(c).alias(f"max_{c}") for c in zcols],
    ).collect()[0]
    scaled = []
    top = (1 << bits) - 1
    for c in zcols:
        lo, hi = float(stats[f"min_{c}"]), float(stats[f"max_{c}"])
        span = (hi - lo) or 1.0
        scaled.append(
            F.least(
                F.lit(top),
                F.floor(
                    (F.col(c).cast("double") - F.lit(lo))
                    / F.lit(span)
                    * F.lit(top + 1)
                ).cast("bigint"),
            )
        )
    zkey = F.lit(0).cast("bigint")
    nd = len(zcols)
    for b in range(bits):
        for d, s in enumerate(scaled):
            bit = F.shiftright(s, b).bitwiseAND(F.lit(1))
            zkey = zkey.bitwiseOR(
                F.shiftleft(bit.cast("bigint"), b * nd + d)
            )
    (
        df.withColumn("__z", zkey)
        .repartitionByRange(target_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(dst_dir)
    )
    import glob

    return len(glob.glob(os.path.join(dst_dir, "part-*.parquet")))


def write_parquet_with_bloom(
    df: DataFrame, path: str, bloom_cols: list[str], ndv: int
) -> None:
    """Parquet BLOOM FILTER write contract (Q212) — the point-lookup
    complement to zone maps: min/max stats (Q159/Q210) prune range
    predicates, but a high-cardinality equality probe (`key = X`) on an
    UNSORTED layout matches every file's [min,max]. A per-column bloom
    filter answers 'is X definitely absent from this row group' in one
    footer read — the row-group-skipping lever for needle-in-haystack
    lookups at 100 TB (the parquet-format BloomFilter header; Spark
    wires it through `parquet.bloom.filter.enabled#<col>`).

    `ndv` sizes the bitset (expected distinct values — undersizing
    inflates the false-positive rate, oversizing wastes footer bytes).
    Verification in this container is indirect: the filter's presence
    is proven by the deterministic file-size delta vs a filterless
    write (the serialized bitset), and read parity is asserted — the
    installed pyarrow (no `bloom_filter_offset` accessor) and DuckDB
    1.0 (no `parquet_bloom_probe`) cannot introspect the header
    directly; the skip-count observability swap-in is documented for
    when a newer reader lands."""
    w = df.write.mode("overwrite")
    for c in bloom_cols:
        w = w.option(f"parquet.bloom.filter.enabled#{c}", "true").option(
            f"parquet.bloom.filter.expected.ndv#{c}", str(ndv)
        )
    w.parquet(path)


def scd2_apply_batch(
    spark, dim_dir: str, batch_df: DataFrame, gap_ok: bool = True
) -> None:
    """Streaming SCD Type-2 dimension MAINTENANCE (Q226) — the
    incremental form of Q136's batch history build, meant to run inside
    ``foreachBatch``: each micro-batch of state-change candidate events
    (user_id, event_id, state, ts_s) updates the stored dimension so
    that after any prefix of batches the table equals the batch SCD2
    over all events seen so far (the stream ≡ batch contract
    tests/test_streaming.py proves).

    Discipline (q136's own docstring, now implemented): re-derive ONLY
    the users present in the batch — their stored change rows ARE the
    collapsed event sequence, so (prior changes ∪ new events) re-runs
    the lag-collapse on just that slice; untouched users' rows are
    carried over with an anti join. At 100 TB the affected slice is
    the micro-batch's key set, not the dimension. A swap an earlier
    crash interrupted is finished before the dimension is read."""
    from pyspark.sql import Window

    cols = ["user_id", "event_id", "state", "ts_s"]
    batch_df = batch_df.select(*cols)
    _recover_dir(dim_dir)
    if os.path.isdir(dim_dir):
        existing = spark.read.parquet(dim_dir)
        affected = batch_df.select("user_id").distinct()
        keep = existing.join(affected, "user_id", "left_anti")
        prior = (
            existing.join(affected, "user_id")
            .select(
                "user_id",
                "event_id",
                F.col("state").alias("state"),
                F.col("valid_from_s").alias("ts_s"),
            )
        )
        events = prior.unionByName(batch_df)
    else:
        keep = None
        events = batch_df
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    changes = (
        events.withColumn("prev", F.lag("state").over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("state")))
        .drop("prev")
    )
    rebuilt = (
        changes.withColumn("version", F.row_number().over(w).cast("bigint"))
        .withColumn("valid_to_s", F.lead("ts_s").over(w))
        .select(
            "user_id",
            "event_id",
            "version",
            "state",
            F.col("ts_s").alias("valid_from_s"),
            "valid_to_s",
            F.col("valid_to_s").isNull().alias("is_current"),
        )
    )
    out = rebuilt if keep is None else keep.unionByName(rebuilt)
    replace_dir(dim_dir, out)
