"""The three workloads. Each one stages its seeded inputs, names its
distinct ops, hands out rounds of ops in a seeded order, runs one op
through the program's public calls, and checks the outputs of every
distinct op against a computation made apart from the program."""

from __future__ import annotations

import datetime
import glob
import os
import random
import shutil

import duckdb
import pyarrow as pa

import check
import gen
import trace
from hive_hw_spark.queries.llm_ops import PERSIST_EVENTS

# olap_warm: oracle-twinned queries over one dataset, one or two from each
# module the workload covers, and the moment-fold family of stats.
OLAP_QUERIES = (
    "q193",          # tpch
    "q20",           # joins
    "q30",           # aggregates
    "q41",           # windows
    "q53",           # sort_limit
    "q55",           # setops
    "q133", "q321",  # moment folds
)

# corpus_rotate: similarity join, retrieval and the Python runner, each
# visited on every corpus variant in turn.
CORPUS_QUERIES = ("q132", "q427", "q188")
CORPUS_VARIANTS = 2


class QueryWorkload:
    """Registry queries executed through the ``noop`` sink. An op is one
    (query, dataset) pair. A round visits the datasets in turn and runs
    every query on each, in a seeded order."""

    def __init__(self, name: str, queries: tuple[str, ...], n_variants: int):
        self.name = name
        self.queries = queries
        self.n_variants = n_variants
        self.dirs: list[str] = []

    def stage(self, seed: int, work: str) -> None:
        base = gen.build_tables(seed)
        if self.n_variants == 0:
            d = os.path.join(work, "data")
            gen.write(base, d)
            self.dirs = [d]
            return
        for k in range(self.n_variants):
            d = os.path.join(work, f"variant{k}")
            gen.write_corpus_variant(base, seed * 1000 + k, d)
            self.dirs.append(d)

    def ops(self) -> list[tuple[str, str]]:
        return [(q, d) for d in self.dirs for q in self.queries]

    def round(self, rng: random.Random) -> list[tuple[str, str]]:
        out = []
        for d in self.dirs:
            qs = list(self.queries)
            rng.shuffle(qs)
            out += [(q, d) for q in qs]
        return out

    def label(self, op) -> str:
        q, d = op
        return q if len(self.dirs) == 1 else f"{q}@{os.path.basename(d)}"

    def run(self, ctx, op) -> None:
        q, d = op
        tr = ctx.tracer
        seen = len(PERSIST_EVENTS)
        with tr.span("queries.build"):
            df = ctx.registry[q].fn(ctx.spark, d)
        if tr.enabled:
            self._trace_build(ctx, op, df, PERSIST_EVENTS[seen:])
        with tr.span("spark.exec"):
            df.write.format("noop").mode("overwrite").save()

    def _trace_build(self, ctx, op, df, events) -> None:
        """Plan-cache hits, and ops whose cached plan was built over a
        persisted frame that has since been released.

        A plan-cache hit hands back the very frame of the op's last build.
        ``PERSIST_EVENTS`` logs every persist slot a build touched; when
        another build has re-filled one of those slots since, the slot's
        old frame was unpersisted and the cached plan recomputes it."""
        tr = ctx.tracer
        for key, built in events:
            if built:
                ctx.slot_builds[key] = ctx.slot_builds.get(key, 0) + 1
        hit = df is ctx.last_df.get(op)
        tr.count("queries.plan_cache_hits", hit)
        if hit:
            slots = ctx.op_slots.get(op, {})
            if any(ctx.slot_builds.get(k) != n for k, n in slots.items()):
                ctx.op_released = True
        else:
            # the frame's own analysis ran inside the build
            trace.phase_times(df._jdf.queryExecution(), tr.counters)
            ctx.op_slots[op] = {k: ctx.slot_builds.get(k, 0) for k, _ in events}
        ctx.last_df[op] = df

    def check(self, ctx) -> dict:
        errors = {}
        cons = {d: check.duckdb_views(d) for d in self.dirs}
        for op in self.ops():
            q, d = op
            actual = check.spark_result(ctx.registry[q].fn(ctx.spark, d))
            expected = check.oracle_result(cons[d], ctx.registry[q].oracle)
            errors[op] = check.compare(actual, expected)
        for con in cons.values():
            con.close()
        return errors


class HiveIngest:
    """Hourly hive-weight rounds landed into maintained tables.

    One op applies the next round: ``merge_upsert`` of the latest valid
    weight per hive into the catalog table ``hive_latest``,
    ``incremental_rollup_merge`` of the round into a daily rollup (two
    catalog tables used in turn, as a table cannot be overwritten while it
    is read), ``scd2_apply_batch`` of every hive's state into a parquet
    dimension, and one read over the three. The last op of every round of
    ``COMPACT_EVERY`` ops also compacts the dimension with
    ``compact_parquet_dir`` and swaps it in.
    """

    COMPACT_EVERY = 4
    MAX_ROUNDS = 400

    name = "hive_ingest"

    def stage(self, seed: int, work: str) -> None:
        self.rounds = gen.hive_rounds(seed, self.MAX_ROUNDS)
        self.applied = 0
        self.dim_dir = os.path.join(work, "hive_state")
        self.rollup = ["hive_daily_a", "hive_daily_b"]
        self.input_bytes = 0

    def create_tables(self, ctx) -> None:
        from pyspark.sql import types as T

        spark = ctx.spark
        self.latest_schema = T.StructType(
            [
                T.StructField("hive_id", T.LongType()),
                T.StructField("master", T.IntegerType()),
                T.StructField("node", T.IntegerType()),
                T.StructField("grams", T.LongType()),
                T.StructField("ts_s", T.LongType()),
                T.StructField("round_id", T.LongType()),
            ]
        )
        self.day_schema = T.StructType(
            [T.StructField("day", T.DateType()), T.StructField("value", T.LongType())]
        )
        self.state_schema = T.StructType(
            [
                T.StructField("user_id", T.LongType()),
                T.StructField("event_id", T.LongType()),
                T.StructField("state", T.StringType()),
                T.StructField("ts_s", T.LongType()),
            ]
        )
        rollup_schema = T.StructType(
            [
                T.StructField("day", T.DateType()),
                T.StructField("n", T.LongType()),
                T.StructField("total", T.DecimalType(30, 10)),
            ]
        )
        spark.createDataFrame([], self.latest_schema).write.saveAsTable("hive_latest")
        spark.createDataFrame([], rollup_schema).write.saveAsTable(self.rollup[0])

    def ops(self) -> list[str]:
        return ["ingest", "ingest_compact"]

    def round(self, rng: random.Random) -> list[str]:
        return ["ingest"] * (self.COMPACT_EVERY - 1) + ["ingest_compact"]

    def label(self, op) -> str:
        return op

    def _frames(self, ctx, rnd: gen.HiveRound):
        spark = ctx.spark
        day = datetime.datetime.fromtimestamp(rnd.ts_s, datetime.timezone.utc).date()
        latest, days, states = [], [], []
        for m, s, kg, _kind in rnd.readings:
            hive = m * gen.NODES + s
            event = rnd.round_id * 1000 + hive
            if kg == 0.0:
                states.append((hive, event, "missing", rnd.ts_s))
                continue
            g = gen.grams(kg)
            latest.append((hive, m, s, g, rnd.ts_s, rnd.round_id))
            days.append((day, g))
            states.append((hive, event, _band(g), rnd.ts_s))
        return (
            _arrow_frame(spark, latest, self.latest_schema),
            _arrow_frame(spark, days, self.day_schema),
            _arrow_frame(spark, states, self.state_schema),
        )

    def read(self, ctx):
        spark = ctx.spark
        spark.read.parquet(self.dim_dir).createOrReplaceTempView("hive_state")
        return spark.sql(
            f"""
            SELECT l.master, count(*) AS hives, sum(l.grams) AS grams,
                   sum(CASE WHEN s.state = 'missing' THEN 1 ELSE 0 END) AS missing_now,
                   max(r.n) AS readings_latest_day
            FROM hive_latest l
            LEFT JOIN hive_state s ON s.user_id = l.hive_id AND s.is_current
            CROSS JOIN (SELECT n FROM {self.rollup[0]} ORDER BY day DESC LIMIT 1) r
            GROUP BY l.master
            """
        )

    def run(self, ctx, op) -> None:
        from hive_hw_spark import tables

        spark, tr = ctx.spark, ctx.tracer
        rnd = self.rounds[self.applied]
        self.applied += 1
        latest, days, states = self._frames(ctx, rnd)
        size = payload_bytes(rnd)
        self.input_bytes += size
        tr.count("tables.input_bytes", size)
        with tr.span("tables.merge"):
            tables.merge_upsert(spark, "hive_latest", latest, ["hive_id"])
        with tr.span("tables.rollup_merge"):
            tables.incremental_rollup_merge(
                spark, spark.table(self.rollup[0]), days, self.rollup[1]
            )
        self.rollup.reverse()
        with tr.span("tables.scd2"):
            tables.scd2_apply_batch(spark, self.dim_dir, states)
        if op == "ingest_compact":
            with tr.span("tables.compact"):
                tmp = self.dim_dir + "__compact"
                tables.compact_parquet_dir(spark, self.dim_dir, tmp, 1)
                shutil.rmtree(self.dim_dir)
                os.rename(tmp, self.dim_dir)
        with tr.span("tables.read"):
            self.read(ctx).write.format("noop").mode("overwrite").save()
        if tr.enabled:
            tr.count("tables.bytes_written", self._new_bytes(ctx))

    def _new_bytes(self, ctx) -> int:
        """Bytes of table files that were not there after the last op."""
        now = {f: (os.path.getmtime(f), os.path.getsize(f)) for f in self._files(ctx)}
        old = getattr(self, "_seen", {})
        self._seen = now
        return sum(size for f, (mt, size) in now.items() if old.get(f, (None,))[0] != mt)

    def _files(self, ctx) -> list[str]:
        paths = [self.dim_dir] + [
            os.path.join(ctx.warehouse, t) for t in ("hive_latest", *self.rollup)
        ]
        return [f for p in paths for f in glob.glob(os.path.join(p, "*.parquet"))]

    def stored(self, ctx) -> tuple[int, int]:
        """(files, bytes) of every maintained table."""
        files = self._files(ctx)
        return len(files), sum(os.path.getsize(f) for f in files)

    def check(self, ctx) -> dict:
        con = duckdb.connect()
        rows = [
            (r.round_id, r.ts_s, m * gen.NODES + s, m, s, kg,
             gen.grams(kg) if kg else 0)
            for r in self.rounds[: self.applied]
            for m, s, kg, _ in r.readings
        ]
        con.execute(
            "CREATE TABLE rd (round_id BIGINT, ts_s BIGINT, hive_id BIGINT, "
            "master INTEGER, node INTEGER, kg DOUBLE, grams BIGINT)"
        )
        con.executemany("INSERT INTO rd VALUES (?, ?, ?, ?, ?, ?, ?)", rows)
        con.execute(_EXPECTED_SQL)
        spark = ctx.spark
        pairs = {
            "latest": (spark.table("hive_latest"), "SELECT * FROM exp_latest"),
            "rollup": (spark.table(self.rollup[0]), "SELECT * FROM exp_rollup"),
            "scd2": (spark.read.parquet(self.dim_dir), "SELECT * FROM exp_scd2"),
            "read": (self.read(ctx), _EXPECTED_READ),
        }
        errors = {}
        for what, (df, sql) in pairs.items():
            err = check.compare(check.spark_result(df), check.oracle_result(con, sql))
            if err:
                errors[what] = err
        con.close()
        # every op writes all four, so one wrong table fails both kinds
        msg = "; ".join(f"{k}: {v}" for k, v in errors.items()) or None
        return {op: msg for op in self.ops()}


def payload_bytes(rnd: gen.HiveRound) -> int:
    """Size of the round's uplink payloads, one JSON object per master."""
    per_master: dict[int, list] = {}
    for r in rnd.readings:
        per_master.setdefault(r[0], []).append(r)
    return sum(len(gen.payload(rs)) for rs in per_master.values())


def _arrow_frame(spark, rows: list[tuple], schema):
    """A DataFrame of ``rows`` handed to the JVM as Arrow. A list of rows
    would be parallelized and decoded by Python workers on every action
    that reads it, which made worker start-up and pickling about half of
    an op's CPU."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.table([pa.array(c, f.type) for c, f in zip(cols, arrow_schema)], schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def _band(g: int) -> str:
    return f"b{g // 5000}"


_EXPECTED_SQL = """
CREATE TABLE exp_latest AS
SELECT hive_id, master, node, grams, ts_s, round_id FROM (
  SELECT *, row_number() OVER (PARTITION BY hive_id ORDER BY ts_s DESC) AS rn
  FROM rd WHERE kg <> 0.0) WHERE rn = 1;
CREATE TABLE exp_rollup AS
SELECT CAST(to_timestamp(ts_s) AT TIME ZONE 'UTC' AS DATE) AS day,
       count(*) AS n, CAST(sum(grams) AS DECIMAL(30, 10)) AS total
FROM rd WHERE kg <> 0.0 GROUP BY 1;
CREATE TABLE exp_state AS
SELECT hive_id AS user_id, round_id * 1000 + hive_id AS event_id,
       CASE WHEN kg = 0.0 THEN 'missing' ELSE 'b' || (grams // 5000) END AS state,
       ts_s
FROM rd;
CREATE TABLE exp_scd2 AS
SELECT user_id, event_id,
       CAST(row_number() OVER w AS BIGINT) AS version, state,
       ts_s AS valid_from_s, lead(ts_s) OVER w AS valid_to_s,
       lead(ts_s) OVER w IS NULL AS is_current
FROM (
  SELECT *, lag(state) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS prev
  FROM exp_state)
WHERE prev IS NULL OR prev <> state
WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id);
"""

_EXPECTED_READ = """
SELECT l.master, count(*) AS hives, sum(l.grams) AS grams,
       sum(CASE WHEN s.state = 'missing' THEN 1 ELSE 0 END) AS missing_now,
       max(r.n) AS readings_latest_day
FROM exp_latest l
LEFT JOIN exp_scd2 s ON s.user_id = l.hive_id AND s.is_current
CROSS JOIN (SELECT n FROM exp_rollup ORDER BY day DESC LIMIT 1) r
GROUP BY l.master
"""


def make(name: str):
    if name == "olap_warm":
        return QueryWorkload(name, OLAP_QUERIES, 0)
    if name == "corpus_rotate":
        return QueryWorkload(name, CORPUS_QUERIES, CORPUS_VARIANTS)
    if name == "hive_ingest":
        return HiveIngest()
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("olap_warm", "corpus_rotate", "hive_ingest")
