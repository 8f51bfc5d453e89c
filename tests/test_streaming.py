"""Real Structured Streaming tests (SURVEY.md §2 Q73, Q74, Q76, Q77/Q29).

Each test builds a file-source stream processed in deterministic
micro-batches (maxFilesPerTrigger=1, mtimes forced so batch order is
file order) with Trigger.AvailableNow, and asserts the streaming-only
semantics DuckDB cannot mirror: watermark late-drop, stream dedup,
foreachBatch routing, and the watermarked stream-stream interval join.
"""

from __future__ import annotations

import json
import os
import time
from datetime import datetime, timezone

from pyspark.sql import functions as F

SCHEMA = "event_id long, ts timestamp, user_id long, value double"


def _write_batch(dirpath: str, name: str, rows: list[dict], mtime: float) -> None:
    os.makedirs(dirpath, exist_ok=True)
    p = os.path.join(dirpath, name)
    with open(p, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.utime(p, (mtime, mtime))


def _run_available_now(stream_writer):
    q = stream_writer.trigger(availableNow=True).start()
    q.awaitTermination(120)
    return q


def test_q73_watermark_drops_late_rows(spark, tmp_path):
    """A row arriving below the watermark is excluded from its (closed)
    window — the reference's 60s round budget: data after the budget goes
    to the error path, never into the round's payload (A28,
    master.ino:130-145,552-599)."""
    src = str(tmp_path / "src")
    t0 = time.time() - 1000
    # batch 1: window 10:00 gets 3 rows; a row at 10:25 lifts the
    # watermark to 10:15 once the batch's stats are folded in.
    _write_batch(
        src,
        "b1.json",
        [
            {"event_id": 1, "ts": "2024-01-01 10:00:30", "user_id": 1, "value": 1.0},
            {"event_id": 2, "ts": "2024-01-01 10:04:00", "user_id": 1, "value": 1.0},
            {"event_id": 3, "ts": "2024-01-01 10:05:10", "user_id": 2, "value": 1.0},
            {"event_id": 4, "ts": "2024-01-01 10:25:00", "user_id": 2, "value": 1.0},
        ],
        t0,
    )
    # batch 2: buffer batch — watermark application lags one batch behind
    # the event-time stats (observed on this Spark: the wm computed from
    # batch N's data filters input from batch N+2).
    _write_batch(
        src,
        "b2.json",
        [
            {"event_id": 9, "ts": "2024-01-01 10:26:00", "user_id": 1, "value": 1.0},
        ],
        t0 + 10,
    )
    # batch 3: event_id=5 is LATE (10:02, below watermark 10:15) → dropped;
    # event_id=6 at 10:50 lifts the watermark to 10:40, closing [10:20,10:30).
    _write_batch(
        src,
        "b3.json",
        [
            {"event_id": 5, "ts": "2024-01-01 10:02:00", "user_id": 1, "value": 1.0},
            {"event_id": 6, "ts": "2024-01-01 10:50:00", "user_id": 1, "value": 1.0},
        ],
        t0 + 20,
    )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("win"), "n")
    )
    _run_available_now(
        stream.writeStream.format("memory").queryName("q73_sink").outputMode("append")
    )
    rows = spark.table("q73_sink").collect()
    out = {r.win.strftime("%H:%M"): r.n for r in rows}
    # closed windows only; the late row 5 must NOT be counted in 10:00,
    # and the closed window must not re-open (no duplicate emission).
    assert len(rows) == len(out)
    assert out["10:00"] == 3
    assert out["10:20"] == 2  # rows 4 and 9


def test_q74_stream_dedup(spark, tmp_path):
    """dropDuplicates within the watermark suppresses redelivered events —
    the reference's confirm-gate against double-counted readings (A27,
    master.ino:256)."""
    src = str(tmp_path / "src")
    t0 = time.time() - 1000
    _write_batch(
        src,
        "b1.json",
        [
            {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 1, "value": 1.0},
            {"event_id": 2, "ts": "2024-01-01 10:01:00", "user_id": 1, "value": 2.0},
            {"event_id": 3, "ts": "2024-01-01 10:02:00", "user_id": 2, "value": 3.0},
        ],
        t0,
    )
    _write_batch(
        src,
        "b2.json",
        [
            # duplicate delivery of event 2 (same id, same ts)
            {"event_id": 2, "ts": "2024-01-01 10:01:00", "user_id": 1, "value": 2.0},
            {"event_id": 4, "ts": "2024-01-01 10:03:00", "user_id": 2, "value": 4.0},
        ],
        t0 + 10,
    )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .withWatermark("ts", "30 minutes")
        .dropDuplicates(["event_id"])
    )
    _run_available_now(
        stream.writeStream.format("memory").queryName("q74_sink").outputMode("append")
    )
    rows = spark.table("q74_sink").collect()
    ids = sorted(r.event_id for r in rows)
    assert ids == [1, 2, 3, 4], f"dup not suppressed: {ids}"


def test_q76_foreachbatch_routed_sink(spark, tmp_path):
    """foreachBatch writes each micro-batch partitioned by message type —
    the gateway's D/S/E prefix→endpoint routing (A7/A20,
    gateway.ino:69-87) as a sink."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "endpoints")
    t0 = time.time() - 1000
    _write_batch(
        src,
        "b1.json",
        [
            {"msg_type": "D", "master_code": "M0001", "body": '{"H0001":{"w":12345}}'},
            {"msg_type": "D", "master_code": "M0002", "body": '{"H0003":{"w":9901}}'},
            {"msg_type": "S", "master_code": "M0001", "body": '{"H0001":true}'},
            {"msg_type": "E", "master_code": "M0002", "body": '{"H0003":{"w":0},"p":0}'},
        ],
        t0,
    )

    def route(batch_df, batch_id):
        batch_df.write.mode("append").partitionBy("msg_type").json(out)

    stream = spark.readStream.schema(
        "msg_type string, master_code string, body string"
    ).json(src)
    _run_available_now(stream.writeStream.foreachBatch(route))

    back = spark.read.schema(
        "master_code string, body string, msg_type string"
    ).json(out)
    counts = {r.msg_type: r.n for r in back.groupBy("msg_type").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"D": 2, "S": 1, "E": 1}
    # routing is physical: one directory per message type
    assert sorted(
        d for d in os.listdir(out) if d.startswith("msg_type=")
    ) == ["msg_type=D", "msg_type=E", "msg_type=S"]


def test_q77_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream join within a 60s interval — the
    reference's two-phase request/confirm correlation (A27,
    master.ino:231-267): a response joins its request only inside the
    round window. Result must equal the batch join of the same data."""
    req_dir = str(tmp_path / "req")
    resp_dir = str(tmp_path / "resp")
    t0 = time.time() - 1000
    reqs = [
        {"req_id": 1, "node": "H0001", "req_ts": "2024-01-01 10:00:00"},
        {"req_id": 2, "node": "H0002", "req_ts": "2024-01-01 10:00:05"},
        {"req_id": 3, "node": "H0001", "req_ts": "2024-01-01 10:10:00"},
    ]
    resps = [
        # joins req 1 (4s after)
        {"resp_id": 11, "node": "H0001", "resp_ts": "2024-01-01 10:00:04"},
        # 95s after req 2 → outside the 60s interval, must NOT join
        {"resp_id": 12, "node": "H0002", "resp_ts": "2024-01-01 10:01:40"},
        # joins req 3 (30s after)
        {"resp_id": 13, "node": "H0001", "resp_ts": "2024-01-01 10:10:30"},
    ]
    _write_batch(req_dir, "b1.json", reqs, t0)
    _write_batch(resp_dir, "b1.json", resps, t0)

    req_schema = "req_id long, node string, req_ts timestamp"
    resp_schema = "resp_id long, node string, resp_ts timestamp"
    req_s = (
        spark.readStream.schema(req_schema).json(req_dir)
        .withWatermark("req_ts", "5 minutes")
    )
    resp_s = (
        spark.readStream.schema(resp_schema).json(resp_dir)
        .withWatermark("resp_ts", "5 minutes")
        .withColumnRenamed("node", "r_node")
    )
    cond = (
        (F.col("node") == F.col("r_node"))
        & (F.col("resp_ts") >= F.col("req_ts"))
        & (F.col("resp_ts") <= F.col("req_ts") + F.expr("INTERVAL 60 SECONDS"))
    )
    joined = req_s.join(resp_s, cond).select("req_id", "resp_id")
    _run_available_now(
        joined.writeStream.format("memory").queryName("q77_sink").outputMode("append")
    )
    got = sorted((r.req_id, r.resp_id) for r in spark.table("q77_sink").collect())

    # batch reference over identical data
    req_b = spark.createDataFrame(
        [(r["req_id"], r["node"], r["req_ts"]) for r in reqs],
        "req_id long, node string, req_ts string",
    ).withColumn("req_ts", F.to_timestamp("req_ts"))
    resp_b = spark.createDataFrame(
        [(r["resp_id"], r["node"], r["resp_ts"]) for r in resps],
        "resp_id long, r_node string, resp_ts string",
    ).withColumn("resp_ts", F.to_timestamp("resp_ts"))
    want = sorted(
        (r.req_id, r.resp_id)
        for r in req_b.join(resp_b, cond).select("req_id", "resp_id").collect()
    )
    assert got == want == [(1, 11), (3, 13)]


def test_q70_stream_batch_parity(spark, sf_dir, tmp_path):
    """The tumbling-window aggregation produces identical results whether
    the events table arrives as a stream or a batch — the incremental
    plan computes the same windows (complete mode, no watermark)."""
    import os

    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    # the file stream source needs a directory, not a bare file
    src = tmp_path / "events_stream"
    src.mkdir()
    (src / "events.parquet").symlink_to(os.path.join(sf_dir, "events.parquet"))
    stream = spark.readStream.schema(raw.schema).parquet(str(src))

    def windowed(df):
        # decode ts exactly as catalog.load_table (handles both the
        # nanos-as-long and native-micros testdata layouts)
        from hive_hw_spark.catalog import decode_event_ts

        df = decode_event_ts(df)
        return (
            df.groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("window.start").alias("hour"), "n")
        )

    q = (
        windowed(stream)
        .writeStream.format("memory")
        .queryName("q70_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.hour: r.n for r in spark.table("q70_sink").collect()}
    want = {r.hour: r.n for r in windowed(raw).collect()}
    assert got == want and len(got) > 0


def test_incremental_dedup_stream_static(spark, tmp_path):
    """Ingest-time exact dedup: docs already in the corpus are dropped by
    the stream-static anti join; duplicates WITHIN the ingest stream
    collapse to one survivor; genuinely new docs pass through."""
    from hive_hw_spark.queries.llm_ops import incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "existing doc one"), (2, "existing doc two")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "incoming")
    t0 = time.time() - 1000
    _write_batch(
        src,
        "b1.json",
        [
            {"doc_id": 10, "text": "existing doc one"},      # corpus dup
            {"doc_id": 11, "text": "brand new doc alpha"},
            {"doc_id": 12, "text": "brand new doc beta"},
        ],
        t0,
    )
    _write_batch(
        src,
        "b2.json",
        [
            {"doc_id": 13, "text": "brand new doc alpha"},   # intra-stream dup
            {"doc_id": 14, "text": "brand new doc gamma"},
        ],
        t0 + 10,
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    deduped = incremental_dedup(stream, corpus)
    _run_available_now(
        deduped.writeStream.format("memory")
        .queryName("incr_dedup_sink")
        .outputMode("append")
    )
    got = sorted(r.doc_id for r in spark.table("incr_dedup_sink").collect())
    # 10 dropped (in corpus); exactly one of 11/13 survives (same text)
    assert 12 in got and 14 in got and 10 not in got
    assert len({11, 13} & set(got)) == 1
    assert len(got) == 3
    # batch frames take the same path
    batch_got = sorted(
        r.doc_id
        for r in incremental_dedup(
            spark.read.schema("doc_id long, text string").json(src), corpus
        ).collect()
    )
    assert len(batch_got) == 3 and 10 not in batch_got


def test_incremental_decontaminate_stream_static(spark, tmp_path):
    """Ingest-time benchmark decontamination: an incoming doc sharing any
    word-5-gram with the eval set is dropped by the stream-static
    nested-loop anti join; clean docs pass through; sub-5-word docs are
    never spuriously matched. The batch path produces identical output."""
    from hive_hw_spark.queries.llm_ops import incremental_decontaminate

    ev = spark.createDataFrame(
        [(100, "ev", "the quick brown fox jumps over the lazy dog")],
        "doc_id long, source string, text string",
    )
    t0 = time.time() - 1000
    src = str(tmp_path / "incoming_decon")
    _write_batch(
        src,
        "b1.json",
        [
            # contains eval 5-gram "quick brown fox jumps over"
            {"doc_id": 20, "text": "a quick brown fox jumps over again"},
            {"doc_id": 21, "text": "totally unrelated clean document text here"},
        ],
        t0,
    )
    _write_batch(
        src,
        "b2.json",
        [
            {"doc_id": 22, "text": "short doc"},  # < 5 words: no grams
            # suffix overlap "over the lazy dog" is only 4 words: clean
            {"doc_id": 23, "text": "hops over the lazy dog"},
        ],
        t0 + 10,
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    out = incremental_decontaminate(stream, ev)
    _run_available_now(
        out.writeStream.format("memory")
        .queryName("incr_decon_sink")
        .outputMode("append")
    )
    got = sorted(r.doc_id for r in spark.table("incr_decon_sink").collect())
    assert got == [21, 22, 23]
    batch_got = sorted(
        r.doc_id
        for r in incremental_decontaminate(
            spark.read.schema("doc_id long, text string").json(src), ev
        ).collect()
    )
    assert batch_got == got


def test_q76b_idempotent_foreachbatch_sink(spark, tmp_path):
    """Exactly-once delivery from an at-least-once engine: foreachBatch
    writes each micro-batch to a batch_id-keyed directory with overwrite
    mode, so REPLAYING a batch (what Structured Streaming does after a
    failure between sink write and offset commit) lands on the same path
    and replaces, never duplicates. This is the documented production
    pattern for non-transactional sinks (the alternative being a sink
    with native batchId-transactional commit)."""
    src = str(tmp_path / "incoming_idem")
    out = str(tmp_path / "idem_out")
    t0 = time.time() - 1000
    _write_batch(
        src, "b1.json",
        [{"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 1, "value": 1.0},
         {"event_id": 2, "ts": "2024-01-01 10:01:00", "user_id": 1, "value": 2.0}],
        t0,
    )
    _write_batch(
        src, "b2.json",
        [{"event_id": 3, "ts": "2024-01-01 10:02:00", "user_id": 2, "value": 3.0}],
        t0 + 10,
    )

    replayed = {}

    def sink(batch_df, batch_id):
        batch_df.persist()
        batch_df.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")
        # simulate the post-crash replay of the SAME micro-batch: a second
        # delivery must overwrite, not append
        batch_df.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")
        replayed[batch_id] = batch_df.count()
        batch_df.unpersist()

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    _run_available_now(stream.writeStream.foreachBatch(sink))

    back = spark.read.parquet(out)
    ids = sorted(r.event_id for r in back.collect())
    assert ids == [1, 2, 3], f"replay duplicated or lost rows: {ids}"
    assert sum(replayed.values()) == 3 and len(replayed) == 2


def test_q169_incremental_ohlc_stream_equals_batch(spark, tmp_path):
    """Q169: the SAME ohlc_bars definition applied to a file stream
    (availableNow, complete mode) and to a plain batch read of the
    identical data produces identical bars — min_by/max_by/count/
    DECIMAL-sum partials fold across micro-batches exactly like
    map-side combines, including an open/close flip arriving in a
    LATER micro-batch than the bar it amends."""
    from hive_hw_spark.queries.streaming_batch import ohlc_bars

    src = str(tmp_path / "ticks")
    t0 = time.time() - 1000
    _write_batch(
        src,
        "b1.json",
        [
            {"event_id": 5, "ts": "2024-03-01T10:00:00Z", "value": 10.5},
            {"event_id": 6, "ts": "2024-03-01T11:00:00Z", "value": 20.0},
            {"event_id": 9, "ts": "2024-03-02T09:00:00Z", "value": 7.25},
        ],
        t0,
    )
    _write_batch(
        src,
        "b2.json",
        [
            # earlier event_id than anything in b1 -> flips day-1 OPEN
            {"event_id": 1, "ts": "2024-03-01T09:00:00Z", "value": 99.0},
            # later event_id -> flips day-1 CLOSE
            {"event_id": 8, "ts": "2024-03-01T12:00:00Z", "value": 3.0},
        ],
        t0 + 10,
    )
    schema = "event_id long, ts timestamp, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    _run_available_now(
        ohlc_bars(stream)
        .writeStream.format("memory")
        .queryName("ohlc_sink")
        .outputMode("complete")
    )
    got = {
        r.day: (r.open, r.high, r.low, r.close, r.n_events, r.volume)
        for r in spark.table("ohlc_sink").collect()
    }
    batch = {
        r.day: (r.open, r.high, r.low, r.close, r.n_events, r.volume)
        for r in ohlc_bars(spark.read.schema(schema).json(src)).collect()
    }
    assert got == batch
    d1 = got["2024-03-01"]
    assert d1[0] == 99.0 and d1[3] == 3.0  # open/close from batch 2
    assert d1[1] == 99.0 and d1[2] == 3.0 and d1[4] == 4


def test_q185_dedup_within_watermark_bounds_state(spark, tmp_path):
    """Q185: dropDuplicatesWithinWatermark — q74's dedup with BOUNDED
    state (the 100 TB streaming-dedup form: q74's plain dropDuplicates
    keeps every key forever; the watermark variant expires keys once
    the watermark passes them). Contract shown: (a) duplicates arriving
    while the key is in state collapse to one row; (b) after the
    watermark advances past the key's expiry, the SAME key is accepted
    again — state was provably dropped, not just deduped."""
    src = str(tmp_path / "dupsrc")
    t0 = time.time() - 100000
    iso = lambda s: datetime.fromtimestamp(s, tz=timezone.utc).strftime(  # noqa: E731
        "%Y-%m-%dT%H:%M:%SZ"
    )
    base = 1700000000
    _write_batch(
        src,
        "b1.json",
        [
            {"k": "A", "ts": iso(base)},
            {"k": "A", "ts": iso(base + 5)},   # in-batch duplicate
            {"k": "B", "ts": iso(base + 10)},
        ],
        t0,
    )
    _write_batch(
        src,
        "b2.json",
        [{"k": "C", "ts": iso(base + 7200)}],  # advances the watermark
        t0 + 10,
    )
    _write_batch(
        src,
        "b3.json",
        # spacer: watermark APPLICATION lags one batch behind the
        # event-time stats in availableNow runs (CLAUDE.md / q73), so
        # b2's watermark-lifting max only takes effect from the batch
        # AFTER the next one
        [{"k": "D", "ts": iso(base + 7250)}],
        t0 + 20,
    )
    _write_batch(
        src,
        "b4.json",
        # same key A, but its old state expired (watermark = 7200-600s
        # past base by now): must be ACCEPTED as a fresh row
        [{"k": "A", "ts": iso(base + 7300)}],
        t0 + 30,
    )
    stream = (
        spark.readStream.schema("k string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["k"]
    )
    _run_available_now(
        deduped.writeStream.format("memory")
        .queryName("q185_sink")
        .outputMode("append")
    )
    rows = spark.table("q185_sink").collect()
    per_key = {}
    for r in rows:
        per_key.setdefault(r.k, 0)
        per_key[r.k] += 1
    assert per_key["B"] == 1 and per_key["C"] == 1 and per_key["D"] == 1
    # A: once from b1 (in-batch dup collapsed) + once from b4 (state
    # expired by the advanced watermark) = exactly 2
    assert per_key["A"] == 2, per_key


def test_q190_streaming_materialized_view_maintenance(spark, tmp_path):
    """Q190: the q171 rollup maintained FROM A STREAM — each micro-batch
    flows through foreachBatch into incremental_rollup_merge, and after
    the availableNow run the stored rollup equals the full batch
    recompute. This is the streaming-materialized-view loop: agg the
    delta, ADD-merge, never rescan history."""
    import uuid as _uuid

    from hive_hw_spark.tables import incremental_rollup_merge

    src = str(tmp_path / "mv_src")
    t0 = time.time() - 1000
    _write_batch(
        src,
        "b1.json",
        [
            {"day": "2024-01-01", "value": 1.5},
            {"day": "2024-01-01", "value": 2.5},
            {"day": "2024-01-02", "value": 4.0},
        ],
        t0,
    )
    _write_batch(
        src,
        "b2.json",
        [
            {"day": "2024-01-02", "value": 6.0},
            {"day": "2024-01-03", "value": 9.0},
        ],
        t0 + 10,
    )
    tbl = f"q190_mv_{_uuid.uuid4().hex[:8]}"
    schema = "day string, value double"
    empty_rollup = spark.createDataFrame(
        [], "day string, n bigint, total decimal(30,10)"
    )

    def refresh(batch_df, batch_id):
        sess = batch_df.sparkSession
        current = (
            sess.table(tbl)
            if sess.catalog.tableExists(tbl)
            else empty_rollup
        )
        incremental_rollup_merge(sess, current, batch_df, tbl)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    try:
        _run_available_now(stream.writeStream.foreachBatch(refresh))
        got = {(r.day, r.n, r.total) for r in spark.table(tbl).collect()}
        full = {
            (r.day, r.n, r.total)
            for r in spark.read.schema(schema)
            .json(src)
            .groupBy("day")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(30,10)")).alias("total"),
            )
            .collect()
        }
        assert got == full
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_q211_stream_stream_left_outer_join_emits_null_after_watermark(
    spark, tmp_path
):
    """Q211: stream-stream LEFT OUTER interval join — the reference's
    'request with NO confirm' report (A27/A28, master.ino:552-574) as
    streaming semantics. Inner results emit as matches arrive (q77);
    the UNMATCHED left rows can only emit once the watermark proves no
    future right row could still join — so the NULL row for a dead
    request appears exactly after the watermark passes its join window
    (plus the one-batch application lag, CLAUDE.md/q73). State for the
    closed window is dropped — this is the bounded-state form of the
    'which requests died' audit, not a forever-buffered outer join."""
    req_dir = str(tmp_path / "req")
    resp_dir = str(tmp_path / "resp")
    t0 = time.time() - 1000
    reqs = [
        {"req_id": 1, "node": "H0001", "req_ts": "2024-01-01 10:00:00"},
        # never answered — must surface as (2, NULL) after the watermark
        {"req_id": 2, "node": "H0002", "req_ts": "2024-01-01 10:00:05"},
    ]
    resps = [
        {"resp_id": 11, "node": "H0001", "resp_ts": "2024-01-01 10:00:04"},
    ]
    _write_batch(req_dir, "b1.json", reqs, t0)
    _write_batch(resp_dir, "b1.json", resps, t0)
    # watermark lift on BOTH streams (global watermark is the min), then
    # a spacer batch for the one-batch application lag
    _write_batch(
        req_dir, "b2.json",
        [{"req_id": 90, "node": "H0009", "req_ts": "2024-01-01 12:00:00"}],
        t0 + 10,
    )
    _write_batch(
        resp_dir, "b2.json",
        [{"resp_id": 91, "node": "H0009", "resp_ts": "2024-01-01 12:00:01"}],
        t0 + 10,
    )
    _write_batch(
        req_dir, "b3.json",
        [{"req_id": 92, "node": "H0009", "req_ts": "2024-01-01 12:05:00"}],
        t0 + 20,
    )
    _write_batch(
        resp_dir, "b3.json",
        [{"resp_id": 93, "node": "H0009", "resp_ts": "2024-01-01 12:05:01"}],
        t0 + 20,
    )

    req_s = (
        spark.readStream.schema("req_id long, node string, req_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(req_dir)
        .withWatermark("req_ts", "5 minutes")
    )
    resp_s = (
        spark.readStream.schema("resp_id long, node string, resp_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(resp_dir)
        .withWatermark("resp_ts", "5 minutes")
        .withColumnRenamed("node", "r_node")
    )
    cond = (
        (F.col("node") == F.col("r_node"))
        & (F.col("resp_ts") >= F.col("req_ts"))
        & (F.col("resp_ts") <= F.col("req_ts") + F.expr("INTERVAL 60 SECONDS"))
    )
    joined = req_s.join(resp_s, cond, "left_outer").select("req_id", "resp_id")
    _run_available_now(
        joined.writeStream.format("memory")
        .queryName("q211_sink")
        .outputMode("append")
    )
    got = {(r.req_id, r.resp_id) for r in spark.table("q211_sink").collect()}
    # matched pair emitted; dead request surfaced with NULL once its
    # window provably closed
    assert (1, 11) in got
    assert (2, None) in got
    # the watermark-lifting rows matched each other inner-style
    assert (90, 91) in got


def test_q225_streaming_session_window(spark, tmp_path):
    """Q225: session_window aggregation as a STREAM (q72's batch gap rule
    run incrementally): sessions merge WITHIN and ACROSS micro-batches,
    and a closed session emits exactly once after the watermark passes
    its end + gap. Two sessions for one user (110-minute gap >> the
    30-minute timeout) must surface as two rows with the right counts."""
    src = str(tmp_path / "sess")
    t0 = time.time() - 1000
    _write_batch(
        src, "b1.json",
        [
            {"user_id": 1, "ts": "2024-01-01 10:00:00"},
            {"user_id": 1, "ts": "2024-01-01 10:10:00"},
        ],
        t0,
    )
    # same session, arrives a batch later (cross-batch merge), then a
    # second session 110 min after
    _write_batch(
        src, "b2.json",
        [
            {"user_id": 1, "ts": "2024-01-01 10:20:00"},
            {"user_id": 1, "ts": "2024-01-01 12:10:00"},
        ],
        t0 + 10,
    )
    # watermark lift + the one-batch application lag spacer
    _write_batch(
        src, "b3.json", [{"user_id": 9, "ts": "2024-01-01 20:00:00"}], t0 + 20
    )
    _write_batch(
        src, "b4.json", [{"user_id": 9, "ts": "2024-01-01 20:05:00"}], t0 + 30
    )
    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(
            F.col("user_id"),
            F.session_window("ts", "30 minutes").alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("w.start").cast("string").alias("start"), "n")
    )
    _run_available_now(
        stream.writeStream.format("memory")
        .queryName("q225_sink")
        .outputMode("append")
    )
    got = {
        (r.user_id, r.start, r.n)
        for r in spark.table("q225_sink").collect()
    }
    assert (1, "2024-01-01 10:00:00", 3) in got, got  # cross-batch merge
    assert (1, "2024-01-01 12:10:00", 1) in got, got  # second session


def test_q226_streaming_scd2_maintenance(spark, tmp_path):
    """Q226: SCD2 dimension MAINTAINED BY A STREAM (foreachBatch →
    tables.scd2_apply_batch): after an availableNow run over three
    micro-batches of state events, the stored dimension must equal the
    batch SCD2 (q136's collapse) computed over ALL events at once —
    including consecutive-duplicate collapse ACROSS batch boundaries
    and version renumbering when a user's history grows."""
    from hive_hw_spark.tables import scd2_apply_batch

    src = str(tmp_path / "events")
    dim = str(tmp_path / "dim")
    t0 = time.time() - 1000
    rows = [
        # b1: user 1 active->idle; user 2 active
        [{"user_id": 1, "event_id": 1, "state": "active", "ts_s": 100},
         {"user_id": 1, "event_id": 2, "state": "idle", "ts_s": 200},
         {"user_id": 2, "event_id": 3, "state": "active", "ts_s": 150}],
        # b2: user 1 idle AGAIN (must collapse across the batch
        # boundary), user 2 flips to error
        [{"user_id": 1, "event_id": 4, "state": "idle", "ts_s": 300},
         {"user_id": 2, "event_id": 5, "state": "error", "ts_s": 400}],
        # b3: user 1 back to active (third version)
        [{"user_id": 1, "event_id": 6, "state": "active", "ts_s": 500}],
    ]
    for i, batch in enumerate(rows):
        _write_batch(src, f"b{i}.json", batch, t0 + 10 * i)

    stream = (
        spark.readStream.schema(
            "user_id long, event_id long, state string, ts_s long"
        )
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    _run_available_now(
        stream.writeStream.foreachBatch(
            lambda df, _bid: scd2_apply_batch(spark, dim, df)
        )
    )
    got = sorted(
        (r.user_id, r.version, r.state, r.valid_from_s, r.valid_to_s,
         r.is_current)
        for r in spark.read.parquet(dim).collect()
    )
    want = [
        (1, 1, "active", 100, 200, False),
        (1, 2, "idle", 200, 500, False),   # b2's duplicate idle collapsed
        (1, 3, "active", 500, None, True),
        (2, 1, "active", 150, 400, False),
        (2, 2, "error", 400, None, True),
    ]
    assert got == want, got


def test_q226_scd2_batch_retry_is_idempotent(spark, tmp_path):
    """foreachBatch re-delivers a batch after a sink failure; the SCD2
    maintenance must absorb the replay without duplicating versions —
    re-applied change rows collapse against the stored history exactly
    like consecutive duplicate states (the exactly-once half of the
    q226 contract)."""
    from hive_hw_spark.tables import scd2_apply_batch

    dim = str(tmp_path / "dim")
    b1 = spark.createDataFrame(
        [(1, 1, "active", 100), (1, 2, "idle", 200)],
        "user_id long, event_id long, state string, ts_s long",
    )
    b2 = spark.createDataFrame(
        [(1, 3, "active", 300)],
        "user_id long, event_id long, state string, ts_s long",
    )
    scd2_apply_batch(spark, dim, b1)
    scd2_apply_batch(spark, dim, b1)  # retry of the SAME batch
    scd2_apply_batch(spark, dim, b2)
    scd2_apply_batch(spark, dim, b2)  # and again
    got = sorted(
        (r.user_id, r.version, r.state, r.valid_from_s, r.valid_to_s)
        for r in spark.read.parquet(dim).collect()
    )
    assert got == [
        (1, 1, "active", 100, 200),
        (1, 2, "idle", 200, 300),
        (1, 3, "active", 300, None),
    ], got


def test_q273_stream_stream_full_outer_join_emits_nulls_both_sides(
    spark, tmp_path
):
    """Q273: stream-stream FULL OUTER interval join — completes the
    streaming join-mode matrix (q77 inner, q211 left outer): unmatched
    LEFT rows (request that died) AND unmatched RIGHT rows (orphan
    confirm with no visible request — the reference's duplicate/late
    ack, master.ino:580-599 analog) each surface with NULLs on the
    other side exactly once the watermark proves no future match, with
    the closed window's state dropped. Same one-batch application lag
    discipline as q73/q211."""
    req_dir = str(tmp_path / "req")
    resp_dir = str(tmp_path / "resp")
    t0 = time.time() - 1000
    reqs = [
        {"req_id": 1, "node": "H0001", "req_ts": "2024-01-01 10:00:00"},
        # never answered — must surface as (1=2, NULL)
        {"req_id": 2, "node": "H0002", "req_ts": "2024-01-01 10:00:05"},
    ]
    resps = [
        {"resp_id": 11, "node": "H0001", "resp_ts": "2024-01-01 10:00:04"},
        # orphan ack: no request for this node — must surface as (NULL, 12)
        {"resp_id": 12, "node": "H0003", "resp_ts": "2024-01-01 10:00:06"},
    ]
    _write_batch(req_dir, "b1.json", reqs, t0)
    _write_batch(resp_dir, "b1.json", resps, t0)
    # watermark lift on BOTH streams, then a spacer batch for the
    # one-batch application lag
    _write_batch(
        req_dir, "b2.json",
        [{"req_id": 90, "node": "H0009", "req_ts": "2024-01-01 12:00:00"}],
        t0 + 10,
    )
    _write_batch(
        resp_dir, "b2.json",
        [{"resp_id": 91, "node": "H0009", "resp_ts": "2024-01-01 12:00:01"}],
        t0 + 10,
    )
    _write_batch(
        req_dir, "b3.json",
        [{"req_id": 92, "node": "H0009", "req_ts": "2024-01-01 12:05:00"}],
        t0 + 20,
    )
    _write_batch(
        resp_dir, "b3.json",
        [{"resp_id": 93, "node": "H0009", "resp_ts": "2024-01-01 12:05:01"}],
        t0 + 20,
    )

    req_s = (
        spark.readStream.schema("req_id long, node string, req_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(req_dir)
        .withWatermark("req_ts", "5 minutes")
    )
    resp_s = (
        spark.readStream.schema("resp_id long, node string, resp_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(resp_dir)
        .withWatermark("resp_ts", "5 minutes")
        .withColumnRenamed("node", "r_node")
    )
    cond = (
        (F.col("node") == F.col("r_node"))
        & (F.col("resp_ts") >= F.col("req_ts"))
        & (F.col("resp_ts") <= F.col("req_ts") + F.expr("INTERVAL 60 SECONDS"))
    )
    joined = req_s.join(resp_s, cond, "full_outer").select("req_id", "resp_id")
    _run_available_now(
        joined.writeStream.format("memory")
        .queryName("q273_sink")
        .outputMode("append")
    )
    got = {(r.req_id, r.resp_id) for r in spark.table("q273_sink").collect()}
    # inner match emits as it arrives
    assert (1, 11) in got
    # dead request -> (2, NULL); orphan ack -> (NULL, 12), both only
    # after their windows provably closed
    assert (2, None) in got
    assert (None, 12) in got
    assert (90, 91) in got


def test_q287_streaming_observe_metrics_per_batch(spark, tmp_path):
    """Q287: observe() on a STREAMING query — ride-along aggregate
    metrics (count, conditional count, decimal sum) reported through
    each micro-batch's progress, with no second pass over the data
    (q112b's batch contract extended to streams: the per-batch DQ
    counters a 100 TB ingest alarms on). The summed per-batch metrics
    must equal the batch-mode totals."""
    src = str(tmp_path / "obs_src")
    t0 = time.time() - 100
    _write_batch(
        src, "b1.json",
        [{"k": 1, "v": 10.0}, {"k": 2, "v": -5.0}], t0,
    )
    _write_batch(
        src, "b2.json",
        [{"k": 3, "v": 7.5}, {"k": 4, "v": -1.0}, {"k": 5, "v": 2.0}],
        t0 + 5,
    )
    stream = (
        spark.readStream.schema("k long, v double")
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .observe(
            "dq",
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(F.col("v") < 0, 1)).alias("n_negative"),
            F.sum(F.col("v").cast("decimal(30,10)")).alias("v_total"),
        )
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("q287_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    progresses = [p for p in q.recentProgress if p["observedMetrics"]]
    got = [p["observedMetrics"]["dq"] for p in progresses]
    assert sum(m["n_rows"] for m in got) == 5
    assert sum(m["n_negative"] for m in got) == 2
    assert float(sum(m["v_total"] for m in got)) == 13.5
    # at least two micro-batches actually reported (per-batch, not once)
    assert len(got) >= 2
