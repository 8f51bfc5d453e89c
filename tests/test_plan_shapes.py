"""Physical-plan assertions (SURVEY.md §2 Q38 + §4.2 verification).

These make the scale claims in the query docstrings checkable facts:
pushdown reaches the parquet reader, small dims broadcast, aggregates
partial+final combine, top-k never global-sorts, and whole-stage codegen
covers the scan→project path.
"""

from __future__ import annotations

from hive_hw_spark.queries import all_queries


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q38_partial_final_agg(spark, sf_dir):
    """Q30's hash agg runs as partial (map-side combine) + final — the
    slave-side pre-average / master-side gather split (A13)."""
    plan = _plan(all_queries()["q30"].fn(spark, sf_dir))
    assert "HashAggregate" in plan
    assert "partial_" in plan.lower() or "Partial" in plan
    assert plan.count("HashAggregate") >= 2


def test_q02_column_pruning(spark, sf_dir):
    """Q02's ReadSchema carries only the 3 projected columns of 11."""
    plan = _plan(all_queries()["q02"].fn(spark, sf_dir))
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read, plan
    schema_line = read[0]
    assert "l_orderkey" in schema_line and "l_quantity" in schema_line
    assert "l_extendedprice" not in schema_line
    assert "l_shipdate" not in schema_line


def test_q11_filter_pushdown(spark, sf_dir):
    """Q11's IN-list predicate reaches the parquet scan as PushedFilters."""
    plan = _plan(all_queries()["q11"].fn(spark, sf_dir))
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "o_orderstatus" in pushed and "[]" not in pushed.split(":")[-1]


def test_q21_broadcast_join(spark, sf_dir):
    """Q21 joins nation to region via broadcast-hash, never a shuffle."""
    plan = _plan(all_queries()["q21"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q39_broadcasts_dim_not_fact(spark, sf_dir):
    """Q39: nation broadcasts; the lineitem⋈orders join is the only
    shuffle-heavy join (sort-merge or shuffled-hash — AQE's call)."""
    plan = _plan(all_queries()["q39"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_q51_take_ordered_not_global_sort(spark, sf_dir):
    """Q51's top-10 plans as TakeOrderedAndProject — per-partition local
    top-k, no all-data exchange."""
    plan = _plan(all_queries()["q51"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_q10_wholestage_codegen(spark, sf_dir):
    """The projection/arithmetic path runs inside whole-stage codegen.
    AQE only materializes the final plan after execution, so run first."""
    df = all_queries()["q10"].fn(spark, sf_dir)
    df.collect()
    plan = _plan(df)
    # the formatted explain marks whole-stage-codegen membership per node
    assert "codegen id" in plan
    assert "isFinalPlan=true" in plan


def test_q32_approx_within_5pct(spark, sf_dir):
    """Q32 approx_count_distinct stays within 5% of Q31's exact counts
    (the promised error bound; rsd=0.02)."""
    exact = {
        r.event_type: r.n_users
        for r in all_queries()["q31"].fn(spark, sf_dir).collect()
    }
    approx = {
        r.event_type: r.n_users_approx
        for r in all_queries()["q32"].fn(spark, sf_dir).collect()
    }
    assert exact.keys() == approx.keys()
    for k, n in exact.items():
        assert abs(approx[k] - n) <= 0.05 * n, (k, n, approx[k])


def test_q25_anti_join_nonvacuous(spark, sf_dir):
    """q25's customer/orders anti set is empty at test scale (every
    customer has orders), which proves nothing — this variant anti-joins
    against high-value orders so the anti side is non-empty, and
    cross-checks semantics via the NOT EXISTS rewrite."""
    from pyspark.sql import functions as F

    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_totalprice") > 300000
    )
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")
    n_anti = anti.count()
    assert 0 < n_anti < c.count(), "variant must produce a non-trivial anti set"
    # NOT EXISTS rewrite agrees
    semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey")
    assert n_anti == c.count() - semi.count()
    assert anti.intersect(semi).count() == 0


def test_q49_subquery_decorrelated_to_semi_join(spark, sf_dir):
    """The correlated EXISTS rewrites to a (broadcast/sort-merge) semi
    join — Catalyst's subquery decorrelation (SURVEY §4.2), so the inner
    query never runs per outer row."""
    plan = _plan(all_queries()["q49"].fn(spark, sf_dir))
    assert "LeftSemi" in plan or "SemiJoin" in plan, plan


def test_q47b_approx_percentile_close_to_exact(spark, sf_dir):
    """approx_percentile (accuracy 10000) tracks the exact per-group
    percentiles within 2% relative error on this data."""
    exact = {
        r.event_type: (r.p50, r.p90)
        for r in all_queries()["q47"].fn(spark, sf_dir).collect()
    }
    approx = {
        r.event_type: (r.p50_approx, r.p90_approx)
        for r in all_queries()["q47b"].fn(spark, sf_dir).collect()
    }
    assert exact.keys() == approx.keys()
    for k in exact:
        for e, a in zip(exact[k], approx[k]):
            assert abs(a - e) <= 0.02 * max(1.0, abs(e)), (k, e, a)


def _unpartitioned_windows(df) -> list[str]:
    """windowspecdefinition(...) instances whose FIRST argument is an
    ordering spec (i.e. no partition columns precede the ORDER BY)."""
    import re

    plan = df._jdf.queryExecution().optimizedPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^)]*?)specifiedwindowframe", plan)
    return [
        s for s in specs
        if re.match(r"\s*[^,]*\s(ASC|DESC)\sNULLS\s(FIRST|LAST),", s)
    ]


def test_q45_q97_q108_no_unpartitioned_fact_windows(spark, sf_dir):
    """The round-2 scale defects stay fixed: no window in q45 (ntile),
    q97 (hamming-next), or q108 (zipf rank) runs with an empty
    partition spec — every window either partitions by a real key or by
    the non-foldable constant over an input bounded elsewhere (boundary
    tables, LIMIT 100)."""
    for name in ("q45", "q53", "q97", "q108"):
        bad = _unpartitioned_windows(all_queries()[name].fn(spark, sf_dir))
        assert not bad, f"{name} has unpartitioned window specs: {bad}"


def test_q41_bucketed_rank_is_distributed_and_preaggregated(spark, sf_dir):
    """q41's LARGE-input plan (the one the adaptive cut-over selects
    above Q41_BUCKET_MIN_ROWS) is two-phase distributed: every window
    partitions (by bucket, or the non-foldable constant over the tiny
    bucket summary) — no global unpartitioned window — and the rank
    input stays the pre-aggregated per-customer totals (an aggregate
    below every window), never the raw fact table."""
    from hive_hw_spark.queries.windows import _q41_totals, _rank_spend

    df = _rank_spend(_q41_totals(spark, sf_dir), bucketed=True)
    bad = _unpartitioned_windows(df)
    assert not bad, f"q41 still has unpartitioned window specs: {bad}"
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    win_pos = plan.find("Window")
    agg_pos = plan.rfind("Aggregate")
    assert 0 <= win_pos < agg_pos, "aggregate must sit below the windows"


def test_q41_bucketed_equals_single_window(spark, sf_dir):
    """The adaptive cut-over is invisible to results: the bucketed
    two-phase rank reproduces the single-global-window plan's output
    row for row (ties cannot span percentile buckets because the bucket
    is a pure function of the ranked value)."""
    from hive_hw_spark.queries.windows import _q41_totals, _rank_spend

    totals = _q41_totals(spark, sf_dir)
    single = [tuple(r) for r in _rank_spend(totals, bucketed=False).collect()]
    bucketed = [tuple(r) for r in _rank_spend(totals, bucketed=True).collect()]
    assert len(single) > 0
    assert single == bucketed


def test_q117_both_joins_broadcast(spark, sf_dir):
    """q117's scale contract: the eval-shingle semi join AND the
    contaminated-id anti join both broadcast — the training corpus is
    scanned, never shuffled for a join."""
    plan = _plan(all_queries()["q117"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_q116_no_join_no_cartesian(spark, sf_dir):
    """q116's pair matrix comes from per-shingle source-set explosion,
    not a shingle self-join: the plan has NO join operator at all."""
    plan = _plan(all_queries()["q116"].fn(spark, sf_dir))
    for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
               "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert op not in plan, op


def test_q115_single_linear_agg_chain(spark, sf_dir):
    """q115 computes word and bigram stats in ONE aggregation chain —
    no join of per-tag branches (which would recompute the gram
    subtree), and no lambda higher-order functions in the gram build
    (transform/aggregate are interpreted per element)."""
    plan = _plan(all_queries()["q115"].fn(spark, sf_dir))
    for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert op not in plan, op
    opt = all_queries()["q115"].fn(spark, sf_dir)._jdf.queryExecution(
    ).optimizedPlan().toString()
    assert "lambdafunction" not in opt.lower(), opt


def test_q119_packing_window_is_bucket_partitioned(spark, sf_dir):
    """q119's running-token cumsum must stay partitioned by the packing
    bucket — a global packing window would serialize the whole corpus
    through one task."""
    df = all_queries()["q119"].fn(spark, sf_dir)
    assert not _unpartitioned_windows(df), "packing window lost its partition spec"
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" in plan
    # column pruning reaches the scan: token counting needs text, nothing else
    read = [ln for ln in _plan(df).splitlines() if "ReadSchema" in ln][0]
    assert "doc_id" in read and "text" in read and "lang" not in read


def test_q120_q121_corpus_joins_broadcast(spark, sf_dir):
    """q120/q121 join tiny per-lang rate/threshold tables back onto the
    corpus: those joins broadcast, the corpus is never shuffled for a
    join (q120's 1-row min may plan as a broadcast nested loop — that is
    fine; a SortMergeJoin/ShuffledHashJoin of the corpus is not)."""
    for name in ("q120", "q121"):
        plan = _plan(all_queries()[name].fn(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name
        assert "ShuffledHashJoin" not in plan, name


def test_q123_knn_join_block_tiled(spark, sf_dir):
    """q123's scale contract (round-7 tiled design): the n x n ROW-level
    pairing never appears as a shuffle join — the only join is the tiny
    nb x nb cross of packed BLOCK rows (nested-loop/cartesian over a
    handful of rows), the matmul is one Arrow map stage, and the
    candidate merge is a vec_id-partitioned window. Nothing is
    collected to the driver (the round-6 verdict's scale flaw)."""
    from hive_hw_spark.queries.llm_ops import knn_join
    from hive_hw_spark.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # force multi-block so the asserted plan is the real tiled shape,
    # not the degenerate single-block case
    df = knn_join(e, k=3, block_rows=64)
    plan = _plan(df)
    assert "MapInPandas" in plan, plan
    # block pairing may plan as BroadcastNestedLoopJoin or
    # CartesianProduct — both are fine over block rows; a row-level
    # shuffle join is not
    for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert op not in plan, op
    assert "Window" in plan  # the per-probe top-k merge
    assert not _unpartitioned_windows(df), "k-NN merge window lost vec_id spec"


def test_q126_split_is_shuffle_free_scan(spark, sf_dir):
    """q126's split assignment is pure per-row arithmetic: no join, no
    aggregate, no window — the only exchange is the final contract sort,
    and pruning reaches the scan (text is never read)."""
    df = all_queries()["q126"].fn(spark, sf_dir)
    plan = _plan(df)
    for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
               "HashAggregate", "Window"):
        assert op not in plan, op
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "doc_id" in read and "source" in read and "text" not in read


def test_q129_funnel_windows_partitioned_no_self_join(spark, sf_dir):
    """q129's funnel: both seen-flag windows stay partitioned by
    user_id (never a global pass over events), and the plan contains NO
    join — the naive funnel is a k-way self-join of the event table."""
    df = all_queries()["q129"].fn(spark, sf_dir)
    assert not _unpartitioned_windows(df), "funnel window lost its partition"
    plan = _plan(df)
    for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
               "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert op not in plan, op
    assert plan.count("Window") >= 1


def test_q133_single_scan_partial_final(spark, sf_dir):
    """q133's six decimal statistics reduce in one partial+final hash
    agg over one pruned scan — no window, no join, no second pass."""
    df = all_queries()["q133"].fn(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan.lower() or "Partial" in plan
    for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
               "Window"):
        assert op not in plan, op
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_quantity" in read and "l_extendedprice" in read
    assert "l_shipdate" not in read and "l_orderkey" not in read


def test_q134_broadcast_dim_no_cartesian(spark, sf_dir):
    """q134's aggregation rewrite: the supplier dim broadcasts, every
    fact-side join is keyed on l_orderkey (no cartesian / nested-loop
    — the naive correlated plan's failure mode), and the top-20 is a
    TakeOrderedAndProject, never a global sort."""
    plan = _plan(all_queries()["q134"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    for op in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert op not in plan, op
    assert "TakeOrderedAndProject" in plan


def _hash_exchanges(formatted_plan: str) -> list[str]:
    """Arguments lines of hash-partition exchanges in a formatted plan."""
    return [
        ln
        for ln in formatted_plan.splitlines()
        if ln.strip().startswith("Arguments: hashpartitioning")
    ]


def test_q135_q136_one_user_partition(spark, sf_dir):
    """Sessionization and SCD2 keep every window partitioned by user_id
    and never join: lag, cumulative sum / lead, version numbering and
    the session aggregate all ride ONE user_id exchange."""
    for name in ("q135", "q136"):
        df = all_queries()[name].fn(spark, sf_dir)
        assert not _unpartitioned_windows(df), name
        plan = _plan(df)
        for op in ("SortMergeJoin", "ShuffledHashJoin",
                   "BroadcastHashJoin", "CartesianProduct",
                   "BroadcastNestedLoopJoin"):
            assert op not in plan, (name, op)
        # exactly one hash-partition exchange (user_id); the only other
        # exchange is the contract ORDER BY's range partition. Formatted
        # explain prints the partitioning on the node's Arguments line
        # (grepping "Exchange hashpartitioning" matches NOTHING there —
        # the round-7 q143 test caught this as a vacuous assertion).
        hash_ex = _hash_exchanges(plan)
        assert len(hash_ex) == 1, (name, hash_ex)
        assert all("user_id" in ln for ln in hash_ex), (name, hash_ex)


def test_q132_prefix_join_is_keyed(spark, sf_dir):
    """q132's candidate generation joins on the prefix GRAM — an equi
    join, never cartesian (the brute-force oracle's shape is exactly
    what the prefix filter avoids); the per-doc rank windows stay
    partitioned by doc_id."""
    df = all_queries()["q132"].fn(spark, sf_dir)
    assert not _unpartitioned_windows(df)
    plan = _plan(df)
    for op in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert op not in plan, op


def test_q137_chunk_window_partitioned(spark, sf_dir):
    """q137's keep-first window is partitioned by chunk text (each
    chunk shuffles once); reassembly is a doc_id hash agg; no join
    anywhere."""
    df = all_queries()["q137"].fn(spark, sf_dir)
    assert not _unpartitioned_windows(df)
    plan = _plan(df)
    for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
               "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert op not in plan, op


def test_q141_bloom_filter_below_the_join(spark, sf_dir):
    """q141's whole point: the bloom membership predicate (the xxhash64
    probe against the literal bitset) must sit in the FACT branch BELOW
    the semi join — pruning before the shuffle — not above it. In the
    plan dump a parent prints before its subtree, so the join line must
    precede the bloom-filter line; and the bloom expression must be a
    Filter, not a join condition."""
    df = all_queries()["q141"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    join_ln = next(i for i, ln in enumerate(lines) if "Join LeftSemi" in ln)
    bloom_ln = next(i for i, ln in enumerate(lines) if "xxhash64" in ln)
    assert "Filter" in lines[bloom_ln]
    assert join_ln < bloom_ln, "bloom predicate was reordered above the join"


def test_q139_no_fact_self_join(spark, sf_dir):
    """q139 generates pairs from per-order basket arrays — the fact table
    shuffles ONCE (groupBy orderkey) and is never self-joined."""
    df = all_queries()["q139"].fn(spark, sf_dir)
    plan = _plan(df)
    for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
               "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert op not in plan, op


def test_q143_two_phase_salted_agg(spark, sf_dir):
    """q143 must actually have the two-level shape: a (event_type, salt)
    partial reduce and an event_type final reduce — two hash-partition
    exchanges, the first carrying the salt."""
    df = all_queries()["q143"].fn(spark, sf_dir)
    plan = _plan(df)
    hash_ex = _hash_exchanges(plan)
    assert len(hash_ex) == 2, hash_ex
    assert any("salt" in ln for ln in hash_ex), hash_ex


def test_q146_scan_is_partition_pruned(spark, sf_dir):
    """q146's day filter must resolve against the hive-layout directory
    names: the partitioned scan carries a non-empty PartitionFilters
    entry on event_date and reads a pruned file listing (1 of ~30
    days), not a post-scan filter over every file."""
    df = all_queries()["q146"].fn(spark, sf_dir)
    plan = _plan(df)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("event_date" in ln for ln in pf), plan[:2000]
    # the data filter section must NOT re-test event_date (pruning
    # happened at listing time; only partition filters mention it)
    data_f = [ln for ln in plan.splitlines()
              if ln.strip().startswith("PushedFilters")]
    assert all("event_date" not in ln for ln in data_f), data_f


def test_q148_band_lookup_compiles_away_the_join(spark, sf_dir):
    """q148's range-dim lookup must contain NO join of any kind — the
    band table is compiled into a per-row CASE chain (the oracle's
    BETWEEN join would plan as a BroadcastNestedLoopJoin)."""
    plan = _plan(all_queries()["q148"].fn(spark, sf_dir))
    for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
               "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert op not in plan, op
    assert "HashAggregate" in plan


def test_q151_q152_q153_dims_broadcast_facts_shuffle_once(spark, sf_dir):
    """The TPC-H shapes keep every dimension on the broadcast path: the
    only shuffle joins (SortMergeJoin/ShuffledHashJoin) allowed are
    fact-fact (orders⋈lineitem / orders⋈customer); customer/supplier/
    nation/region/part never appear behind a shuffle join build."""
    for name in ("q151", "q152", "q153"):
        plan = _plan(all_queries()[name].fn(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_q163_blocked_fuzzy_join_is_equi_not_cartesian(spark, sf_dir):
    """q163's edit-distance join must execute as an EQUI join on the
    length-band key — never a cartesian/nested-loop pairing. The
    levenshtein call appears only as a post-join filter/projection."""
    plan = _plan(all_queries()["q163"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )
    assert "levenshtein" in plan


def test_q167_prefix_sum_windows_are_bucket_partitioned(spark, sf_dir):
    """q167's cumulative revenue must come from the two-phase plan:
    every window partitions by the value-range bucket (no global
    unpartitioned window over the per-part revenue set)."""
    df = all_queries()["q167"].fn(spark, sf_dir)
    assert not _unpartitioned_windows(df), "q167 window lost its bucket spec"


def test_q236_join_strategy_hints_are_honored(spark, sf_dir):
    """Q236: the join-hint surface — the physical strategy is a USER
    lever, not just an optimizer outcome. The same logical join must
    plan as BroadcastHashJoin / SortMergeJoin / ShuffledHashJoin under
    the respective hints (at 100 TB, forcing SHUFFLE_HASH on a
    medium-sized build side skips the sort a default SMJ pays, and
    MERGE protects against an OOM-prone broadcast misestimate)."""
    import pyspark.sql.functions as F

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")

    def physical(hint):
        j = orders.join(
            cust.hint(hint), orders.o_custkey == cust.c_custkey
        ).groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n"))
        return j._jdf.queryExecution().executedPlan().toString()

    assert "BroadcastHashJoin" in physical("broadcast")
    assert "SortMergeJoin" in physical("merge")
    assert "ShuffledHashJoin" in physical("shuffle_hash")


def test_q237_multi_format_federated_union(spark, sf_dir, tmp_path):
    """Q237: one query over THREE formats of the same entity (the
    federation staple: history in parquet, a partner feed in CSV, an
    API dump in JSONL) — unionByName over per-format readers, one
    aggregate; totals must equal 3× the single-format source."""
    import pyspark.sql.functions as F

    src = spark.read.parquet(f"{sf_dir}/nation.parquet")
    pdir, cdir, jdir = (
        str(tmp_path / "p"), str(tmp_path / "c"), str(tmp_path / "j")
    )
    src.write.parquet(pdir)
    src.write.option("header", True).csv(cdir)
    src.write.json(jdir)
    p = spark.read.parquet(pdir)
    c = spark.read.option("header", True).schema(src.schema).csv(cdir)
    j = spark.read.schema(src.schema).json(jdir)
    fed = p.unionByName(c).unionByName(j)
    got = (
        fed.groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("n_regionkey")
        .collect()
    )
    want = (
        src.groupBy("n_regionkey")
        .agg((F.count(F.lit(1)) * 3).alias("n"))
        .orderBy("n_regionkey")
        .collect()
    )
    assert [(r.n_regionkey, r.n) for r in got] == [
        (r.n_regionkey, r.n) for r in want
    ]


def test_ann_frontiers_share_one_panel_pairs_persist(spark, sf_dir):
    """q384/q443/q444 must all search over ONE persisted ground-truth
    pair matrix (the |Q| x N matmul is the expensive part of every
    frontier audit): after running all three, the session cache holds
    exactly one panel_pairs entry (one slot, one plan), and each
    executed plan reads it as an InMemoryTableScan rather than
    recomputing the matmul."""
    from hive_hw_spark.queries import all_queries
    from hive_hw_spark import session_cache

    # full reset: release managed persists AND the analyzed-plan memo —
    # otherwise a same-session earlier invocation (the oracle-parity
    # sweep) leaves plan_cache returning memoized frames, so the fns
    # never re-register their persists and the entry assertion below
    # sees an empty cache (suite-order flake found by the r9 full run)
    session_cache.release_session_caches(spark)
    reg = all_queries()
    for name in ("q384", "q443", "q444"):
        df = reg[name].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, name
    slots = [slot for slot, _ in session_cache._FRAMES if "panel_pairs" in slot]
    assert slots == ["panel_pairs"], slots
