"""MERGE INTO / upsert contract (hive_hw_spark/tables.py): update,
insert, delete, and keep paths in one merge; staging-swap leaves the
catalog consistent; schema mismatches are rejected."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from hive_hw_spark.tables import merge_upsert


@pytest.fixture
def fresh_table(spark):
    """Save rows as a uniquely named table; drop it after the test."""
    names = []

    def make(rows, schema):
        name = f"t_{uuid.uuid4().hex[:12]}"
        names.append(name)
        spark.createDataFrame(rows, schema).write.saveAsTable(name)
        return name

    yield make
    for name in names:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_merge_update_insert_delete_keep(spark, fresh_table):
    name = fresh_table(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, v double",
    )
    source = spark.createDataFrame(
        [
            (2, "b2", 99.0),   # matched -> update
            (3, "c", -1.0),    # matched + delete condition -> delete
            (4, "d", 40.0),    # unmatched -> insert
        ],
        "k long, name string, v double",
    )
    out = merge_upsert(
        spark, name, source, ["k"], delete_condition=F.col("s.v") < 0
    )
    got = sorted((r.k, r.name, r.v) for r in out.collect())
    assert got == [(1, "a", 10.0), (2, "b2", 99.0), (4, "d", 40.0)]
    # the swap left the CATALOG table in the merged state too
    again = sorted((r.k, r.name, r.v) for r in spark.table(name).collect())
    assert again == got


def test_merge_is_idempotent_for_pure_upserts(spark, fresh_table):
    name = fresh_table([(1, 1.0), (2, 2.0)], "k long, v double")
    source = spark.createDataFrame([(2, 5.0), (9, 9.0)], "k long, v double")
    first = sorted(
        (r.k, r.v) for r in merge_upsert(spark, name, source, ["k"]).collect()
    )
    second = sorted(
        (r.k, r.v) for r in merge_upsert(spark, name, source, ["k"]).collect()
    )
    assert first == second == [(1, 1.0), (2, 5.0), (9, 9.0)]


def test_merge_rejects_schema_mismatch(spark, fresh_table):
    name = fresh_table([(1, 1.0)], "k long, v double")
    bad = spark.createDataFrame([(1, "x")], "k long, other string")
    with pytest.raises(ValueError, match="schema"):
        merge_upsert(spark, name, bad, ["k"])


def test_reap_stale_session_dirs(tmp_path):
    """Dirs whose embedded session epoch predates the current session's
    are removed; the current session's and later sessions' are kept, and
    non-matching names are never touched."""
    from hive_hw_spark.catalog import reap_stale_session_dirs

    cur = "local1786700000000"
    for name in (
        "q110_target_local1786600000000_aa",   # older -> reaped
        "q110_target_local1786600000001_bb",   # older -> reaped
        f"q110_target_{cur}_cc",               # current session -> kept
        "q110_target_local1786800000000_dd",   # later/concurrent -> kept
        "cat_region",                          # different prefix -> kept
    ):
        (tmp_path / name).mkdir()
    n = reap_stale_session_dirs(str(tmp_path), "q110_target_", cur)
    assert n == 2
    left = {p.name for p in tmp_path.iterdir()}
    assert left == {
        "cat_region",
        "q110_target_local1786800000000_dd",
        f"q110_target_{cur}_cc",
    }


def test_reap_handles_missing_root_and_odd_app_ids(tmp_path):
    from hive_hw_spark.catalog import reap_stale_session_dirs

    assert reap_stale_session_dirs(str(tmp_path / "nope"), "x_", "local123456789012") == 0
    # app ids without an embedded epoch (e.g. yarn app names) never reap
    (tmp_path / "x_local1786600000000_aa").mkdir()
    assert reap_stale_session_dirs(str(tmp_path), "x_", "app-no-epoch") == 0


def test_compact_parquet_dir_rewrites_to_target_file_count(spark, tmp_path):
    """64 tiny input files compact to exactly 4 balanced outputs with
    row-and-value parity (the small-file maintenance contract)."""
    from hive_hw_spark.tables import compact_parquet_dir

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    spark.range(0, 10_000).selectExpr(
        "id", "id * 2 AS v"
    ).repartition(64).write.parquet(src)
    import glob

    assert len(glob.glob(f"{src}/part-*.parquet")) == 64
    n_out = compact_parquet_dir(spark, src, dst, target_files=4)
    assert n_out == 4
    before = spark.read.parquet(src)
    after = spark.read.parquet(dst)
    assert after.count() == 10_000
    assert before.exceptAll(after).count() == 0
    assert after.exceptAll(before).count() == 0


def test_sort_parquet_dir_produces_disjoint_zone_maps(spark, tmp_path):
    """Q159 sorted-layout contract: after the clustered rewrite each
    output file owns a disjoint sort-key range (parquet footer min/max
    prove it — the stats a scan's zone-map skipping reads), and a
    point predicate prunes to ONE file's worth of row groups."""
    import glob

    import pyarrow.parquet as pq

    from hive_hw_spark.tables import sort_parquet_dir

    src = str(tmp_path / "unsorted")
    dst = str(tmp_path / "clustered")
    # write shuffled keys so the input layout has no accidental order
    spark.range(0, 10_000).selectExpr(
        "CAST(xxhash64(id) % 10000 AS BIGINT) AS k", "id AS v"
    ).repartition(8).write.parquet(src)
    n_out = sort_parquet_dir(spark, src, dst, ["k"], target_files=4)
    assert n_out == 4
    # row/value parity
    before = spark.read.parquet(src)
    after = spark.read.parquet(dst)
    assert after.count() == before.count()
    assert before.exceptAll(after).count() == 0
    # footer stats: per-file [min,max] of k must be pairwise disjoint
    ranges = []
    for f in sorted(glob.glob(f"{dst}/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        k_idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "k"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(k_idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges {(lo1, hi1)} {(lo2, hi2)}"


def test_bucketed_join_plans_without_exchange(spark, sf_dir):
    """Q168 contract: joining two tables bucketed the same way on the
    join key produces a SortMergeJoin with NO shuffle Exchange on
    either side — the write-once-shuffle-never-again layout. The same
    join over the flat parquet (broadcast disabled) must show an
    Exchange, proving the bucket spec (not data size) removed it."""
    from hive_hw_spark.catalog import load_table
    from hive_hw_spark.tables import write_bucketed_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    write_bucketed_table(spark, orders, "q168_orders_b", ["o_orderkey"], 8)
    write_bucketed_table(spark, li, "q168_lineitem_b", ["l_orderkey"], 8)
    ob = spark.table("q168_orders_b")
    lb = spark.table("q168_lineitem_b")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        # force SMJ so absence of Exchange is attributable to bucketing
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        joined = ob.join(
            lb, ob["o_orderkey"] == lb["l_orderkey"]
        ).groupBy("o_orderkey").count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        join_section = plan.split("HashAggregate")[-1]
        assert "Exchange hashpartitioning" not in join_section, plan
        flat = orders.join(
            li, orders["o_orderkey"] == li["l_orderkey"]
        ).groupBy("o_orderkey").count()
        flat_plan = flat._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" in flat_plan
        # row parity: bucketed join result equals flat join result
        assert joined.count() == flat.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.sql("DROP TABLE IF EXISTS q168_orders_b")
        spark.sql("DROP TABLE IF EXISTS q168_lineitem_b")


def test_incremental_rollup_merge_equals_full_recompute(spark):
    """Q171 invariant: rollup ⊕ agg(delta) ≡ agg(all data) — additive
    measures make the MERGE-maintained rollup exact, including a delta
    that both amends an existing day and introduces a new one."""
    from hive_hw_spark.tables import incremental_rollup_merge

    base = spark.createDataFrame(
        [("2024-01-01", 1.5), ("2024-01-01", 2.5), ("2024-01-02", 4.0)],
        "day string, value double",
    )
    delta = spark.createDataFrame(
        [("2024-01-02", 6.0), ("2024-01-03", 9.0)],
        "day string, value double",
    )
    rollup0 = base.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(30,10)")).alias("total"),
    )
    tbl = f"q171_rollup_{uuid.uuid4().hex[:8]}"
    try:
        got = incremental_rollup_merge(spark, rollup0, delta, tbl)
        full = (
            base.unionAll(delta)
            .groupBy("day")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(30,10)")).alias("total"),
            )
        )
        g = {(r.day, r.n, r.total) for r in got.collect()}
        f = {(r.day, r.n, r.total) for r in full.collect()}
        assert g == f
        # second identical merge must NOT be idempotent-by-accident:
        # adding the delta twice doubles its contribution (ADD semantics)
        got2 = incremental_rollup_merge(spark, got, delta, tbl)
        d2 = {r.day: r.n for r in got2.collect()}
        assert d2["2024-01-03"] == 2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_incremental_rollup_merge_into_its_own_table(spark):
    """The rollup a merge reads may be the table it writes: each round
    reads the stored rollup and merges the delta back into it, with no
    second table and no driver-side copy, and leaves no staging table."""
    from hive_hw_spark.tables import incremental_rollup_merge

    tbl = f"q171_self_{uuid.uuid4().hex[:8]}"
    spark.createDataFrame(
        [], "day string, n bigint, total decimal(30,10)"
    ).write.saveAsTable(tbl)
    delta = spark.createDataFrame(
        [("2024-01-01", 1.5), ("2024-01-02", 4.0)], "day string, value double"
    )
    try:
        for _ in range(3):
            incremental_rollup_merge(spark, spark.table(tbl), delta, tbl)
        got = sorted((r.day, r.n, str(r.total)) for r in spark.table(tbl).collect())
        assert got == [
            ("2024-01-01", 3, "4.5000000000"),
            ("2024-01-02", 3, "12.0000000000"),
        ]
        assert not spark.catalog.tableExists(f"{tbl}__staging")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


@pytest.mark.parametrize("writer", ["write_bucketed_table", "save_as_catalog_table"])
def test_mixed_case_name_over_stale_location(spark, sf_dir, writer):
    """A managed table lives under its lower-cased name. A location an
    earlier session left there, unknown to this session's catalog, is
    reaped for a mixed-case name too, instead of failing the write with
    LOCATION_ALREADY_EXISTS."""
    import os

    from hive_hw_spark.catalog import load_table, save_as_catalog_table
    from hive_hw_spark.tables import warehouse_path, write_bucketed_table

    name = f"Stale_Mixed_{uuid.uuid4().hex[:8]}"
    stale = os.path.join(warehouse_path(spark), name.lower())
    os.makedirs(stale)
    with open(os.path.join(stale, "part-00000.parquet"), "w") as f:
        f.write("left by an earlier session")
    try:
        if writer == "write_bucketed_table":
            df = load_table(spark, sf_dir, "region")
            write_bucketed_table(spark, df, name, ["r_regionkey"], 2)
        else:
            save_as_catalog_table(spark, sf_dir, "region", name)
        assert spark.table(name).count() == 5
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_scd2_finishes_a_swap_a_crash_interrupted(spark, tmp_path):
    """A crash after the dimension was moved aside and before the
    complete stage was renamed in leaves the history only in
    ``__stage``; the next batch renames it in before reading, so every
    user's rows survive, and the leftover ``__old`` copy is reaped."""
    import os
    import shutil

    from hive_hw_spark.tables import scd2_apply_batch

    schema = "user_id long, event_id long, state string, ts_s long"
    dim = str(tmp_path / "dim")
    scd2_apply_batch(
        spark,
        dim,
        spark.createDataFrame(
            [(1, 1, "active", 100), (1, 2, "idle", 200), (2, 3, "active", 150)],
            schema,
        ),
    )
    shutil.copytree(dim, dim + "__stage")
    os.rename(dim, dim + "__old")
    scd2_apply_batch(spark, dim, spark.createDataFrame([(2, 5, "error", 400)], schema))
    got = sorted(
        (r.user_id, r.version, r.state, r.valid_from_s, r.valid_to_s)
        for r in spark.read.parquet(dim).collect()
    )
    assert got == [
        (1, 1, "active", 100, 200),
        (1, 2, "idle", 200, None),
        (2, 1, "active", 150, 400),
        (2, 2, "error", 400, None),
    ], got
    assert not os.path.exists(dim + "__stage")
    assert not os.path.exists(dim + "__old")


def test_only_tables_py_spells_the_swap():
    """Staging, stale-location reaping and the swap are decided in
    tables.py alone; every other module calls replace_table,
    replace_dir or warehouse_path."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "hive_hw_spark"
    spelled = [
        f"{path.relative_to(pkg)}: {needle}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "tables.py"
        for needle in ("RENAME TO", "os.rename(", 'removeprefix("file:")')
        if needle in path.read_text()
    ]
    assert spelled == []


def test_q191_parquet_compression_codecs_roundtrip_and_size(spark, tmp_path):
    """Q191: storage-tuning contract — the same data written with zstd
    and snappy both round-trip exactly, and zstd compresses the highly
    compressible column tighter (at 100 TB the codec choice is a
    double-digit-percent storage/scan-cost lever; zstd is the modern
    default, snappy the legacy-compatible one)."""
    import glob
    import os

    df = spark.range(0, 200_000).selectExpr(
        "id",
        "repeat('compressible-', 8) AS filler",
        "CAST(id % 97 AS DOUBLE) AS v",
    )
    sizes = {}
    for codec in ("zstd", "snappy"):
        dst = str(tmp_path / codec)
        df.coalesce(1).write.option("compression", codec).parquet(dst)
        back = spark.read.parquet(dst)
        assert back.count() == 200_000
        assert back.exceptAll(df).count() == 0
        sizes[codec] = sum(
            os.path.getsize(f)
            for f in glob.glob(f"{dst}/part-*.parquet")
        )
    assert sizes["zstd"] < sizes["snappy"], sizes


def test_q210_zorder_layout_prunes_on_both_dimensions(spark, tmp_path, sf_dir):
    """Q210 Z-order contract: a lexicographic sort on k1 gives file-level
    pruning on k1 but NONE on k2; the Morton-interleaved layout prunes
    on BOTH columns from footer stats alone — strictly better than the
    1-D sort on the secondary dimension, while keeping real (if
    coarser) pruning on the first."""
    import glob

    import pyarrow.parquet as pq

    from hive_hw_spark.tables import sort_parquet_dir, zorder_parquet_dir

    src = str(tmp_path / "src")
    sorted_dst = str(tmp_path / "sorted1d")
    z_dst = str(tmp_path / "zorder")
    spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    ).repartition(8).write.parquet(src)

    n_files = 16
    assert sort_parquet_dir(spark, src, sorted_dst, ["o_custkey"], n_files) == n_files
    assert (
        zorder_parquet_dir(
            spark, src, z_dst, ["o_custkey", "o_totalprice"], n_files
        )
        == n_files
    )
    # value parity for the z-ordered rewrite
    before = spark.read.parquet(src)
    after = spark.read.parquet(z_dst)
    assert before.exceptAll(after).count() == 0
    assert after.exceptAll(before).count() == 0

    def files_touched(dst, col, lo, hi):
        touched = 0
        for f in glob.glob(f"{dst}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = next(
                i
                for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == col
            )
            fmin = min(
                md.row_group(g).column(idx).statistics.min
                for g in range(md.num_row_groups)
            )
            fmax = max(
                md.row_group(g).column(idx).statistics.max
                for g in range(md.num_row_groups)
            )
            if fmax >= lo and fmin <= hi:
                touched += 1
        return touched

    # narrow band on the SECONDARY dimension: the 1-D layout reads every
    # file; z-order skips most
    price_sorted = files_touched(sorted_dst, "o_totalprice", 50_000.0, 55_000.0)
    price_z = files_touched(z_dst, "o_totalprice", 50_000.0, 55_000.0)
    assert price_sorted == n_files
    assert price_z < n_files
    # narrow band on the PRIMARY dimension: the 1-D sort is optimal (~1
    # file); z-order stays a real pruner (strictly better than scan-all)
    cust_z = files_touched(z_dst, "o_custkey", 100, 110)
    assert cust_z < n_files


def test_q212_parquet_bloom_filter_write_contract(spark, tmp_path):
    """Q212: the bloom-enabled file carries the serialized bitset (a
    deterministic size delta vs the same data written without it) and
    round-trips exactly — including through a point-equality filter,
    the predicate class the filter exists to accelerate."""
    import glob
    import os

    from hive_hw_spark.tables import write_parquet_with_bloom

    df = spark.range(200_000).selectExpr(
        "CAST(xxhash64(id) AS BIGINT) AS k", "id AS v"
    ).coalesce(1)
    plain = str(tmp_path / "plain")
    bloomed = str(tmp_path / "bloom")
    df.write.mode("overwrite").parquet(plain)
    write_parquet_with_bloom(df, bloomed, ["k"], ndv=200_000)

    size = lambda d: sum(  # noqa: E731
        os.path.getsize(f) for f in glob.glob(f"{d}/part-*.parquet")
    )
    # the bitset for 200k NDV is ~100 KiB+; well above codec jitter
    assert size(bloomed) > size(plain) + 50_000

    a = spark.read.parquet(plain)
    b = spark.read.parquet(bloomed)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    probe = a.limit(1).collect()[0].k
    assert (
        b.where(F.col("k") == probe).count()
        == a.where(F.col("k") == probe).count()
    )
