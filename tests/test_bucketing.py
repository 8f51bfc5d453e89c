"""Bucketed-join co-location (the 100 TB posture the join docstrings cite).

Writing both fact tables bucketed by the join key lets the sort-merge
join read co-located buckets directly — the physical plan contains NO
Exchange on the join path. At warehouse scale this removes the dominant
shuffle of lineitem⋈orders entirely.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hive_hw_spark.tables import write_bucketed_table


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))

    # At test scale the planner would broadcast the small side, hiding the
    # co-location this test asserts; at 100 TB both sides are far beyond
    # any broadcast threshold, so force the merge-join path.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    for name, df, key in (
        ("b_lineitem", li, "l_orderkey"),
        ("b_orders", o, "o_orderkey"),
    ):
        write_bucketed_table(spark, df, name, [key], 8)

    try:
        bl = spark.table("b_lineitem")
        bo = spark.table("b_orders")
        joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey).groupBy(
            "o_orderstatus"
        ).agg(F.count(F.lit(1)).alias("n"))
        joined.collect()
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        # the join reads co-located buckets: no shuffle before the join
        join_section = plan.split("HashAggregate")[0]
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange" not in join_section, join_section

        # result parity with the unbucketed join
        want = {
            r.o_orderstatus: r.n
            for r in li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        got = {r.o_orderstatus: r.n for r in joined.collect()}
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """A join against a filtered dim prunes fact partitions at runtime
    (DPP) — at 100 TB this is the difference between scanning one
    event_type partition and scanning all of them."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    fact_dir = str(tmp_path / "events_by_type")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    dim = spark.createDataFrame(
        [("error", "/error-report/"), ("signup", "/setup-notification/"),
         ("purchase", "/data/"), ("click", "/data/"), ("view", "/data/")],
        "event_type string, path string",
    )
    q = (
        fact.join(dim, "event_type")
        .filter(F.col("path") == "/error-report/")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    assert "dynamicpruning" in plan.lower(), plan
    got = {r.event_type: r.n for r in q.collect()}
    assert got == {
        "error": ev.filter(F.col("event_type") == "error").count()
    }


def test_join_strategy_hints_honored(spark, sf_dir):
    """The hint surface steers physical join selection: merge →
    SortMergeJoin, shuffle_hash → ShuffledHashJoin — the manual override
    when AQE's choice is wrong for a known workload."""
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))

    def plan_of(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    merged = c.join(o.hint("merge"), c.c_custkey == o.o_custkey)
    assert "SortMergeJoin" in plan_of(merged)

    shuffled = c.join(o.hint("shuffle_hash"), c.c_custkey == o.o_custkey)
    assert "ShuffledHashJoin" in plan_of(shuffled)
