"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload olap_warm --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run stages seeded inputs, starts a
pinned Spark session through ``hive_hw_spark.session.get_spark``, runs one
untimed warm-up pass over the workload's distinct ops, then a closed loop
(one client, each op sent after the previous one finished) of whole
rounds until ``--seconds`` have passed. After the window every distinct
op's output is checked against a computation made apart from the program.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run also
writes its spans and counters to ``.perfbench_traces/``.

Everything the run writes goes under ``.perfbench_work/`` in the checkout
and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
# the program under test comes from the checkout; without it the imports fail
sys.path.insert(1, ROOT)

import procstat  # noqa: E402
import trace  # noqa: E402
import workloads  # noqa: E402

CPUS = "3"
DRIVER_MEM = "1g"
# A run lives about 35 s, while C2 compilation and G1's concurrent threads
# are still busy: their CPU and the heap G1 grows into changed from run to
# run. The client compiler alone and the serial collector over a fixed
# heap finish their start-up work in the warm-up.
JVM_FLAGS = ("-XX:TieredStopAtLevel=1", "-XX:+UseSerialGC", f"-Xms{DRIVER_MEM}", "-XX:-UsePerfData")


class Ctx:
    def __init__(self, tracer, warehouse):
        self.tracer = tracer
        self.warehouse = warehouse
        self.spark = None
        self.registry = None
        # traced-run bookkeeping of the query workloads (workloads.py)
        self.last_df: dict = {}
        self.slot_builds: dict = {}
        self.op_slots: dict = {}
        self.op_released = False


def _pin_env(work: str) -> dict[str, str]:
    """Fixed session size and a private warehouse, scratch and temp dir."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=CPUS,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_LOCAL_DIRS=local,
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        TMPDIR=tmp,
    )
    return {
        "spark.driver.extraJavaOptions": " ".join((f"-Djava.io.tmpdir={tmp}", *JVM_FLAGS)),
        "spark.ui.showConsoleProgress": "false",
    }


def _warm_pages(root: str) -> None:
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                while fh.read(1 << 20):
                    pass


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait()


class Probe:
    """Per-op layer counters of a traced run."""

    def __init__(self, ctx):
        from hive_hw_spark.queries import llm_ops

        self.ctx = ctx
        self.sc = ctx.spark.sparkContext
        self.listener = trace.QueryListener(ctx.spark)
        self.events = llm_ops.PERSIST_EVENTS
        self.released_ops: set[str] = set()
        self.cached_peak = 0
        self.gc0 = trace.gc_seconds(ctx.spark._jvm)
        # the warm-up pass counted too: keep only what the window counts
        ctx.tracer.counters.clear()

    def before(self, n: int) -> None:
        self.listener.drain()
        self.ctx.op_released = False
        self.n_events = len(self.events)
        self.sc.setJobGroup(f"op{n}", "perfbench op")

    def after(self, n: int, label: str) -> None:
        # listeners and the status store are fed asynchronously: let the
        # bus deliver this op's events before reading them
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        c = self.ctx.tracer.counters
        released_before = c["storage.released_scans"]
        for qe in self.listener.drain():
            trace.plan_metrics(self.ctx.spark, qe, c)
        jobs, stages, tasks = trace.job_counts(self.sc, f"op{n}")
        c["spark.jobs"] += jobs
        c["spark.stages"] += stages
        c["spark.tasks"] += tasks
        new = self.events[self.n_events :]
        c["llm_ops.persist_builds"] += sum(1 for _, built in new if built)
        c["llm_ops.persist_reuses"] += sum(1 for _, built in new if not built)
        if self.ctx.op_released or c["storage.released_scans"] > released_before:
            c["storage.released_cache_reads"] += 1
            self.released_ops.add(label)
        self.cached_peak = max(self.cached_peak, trace.storage_bytes(self.sc))


def main(argv=None) -> int:
    t_anchor = time.perf_counter() - procstat.process_age_s()
    ticks_anchor = procstat.host_ticks()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    extra_conf = _pin_env(work)
    from hive_hw_spark.session import get_spark

    tracer = trace.Tracer(enabled=bool(args.trace))
    ctx = Ctx(tracer, os.environ["SPARK_GRAFT_WAREHOUSE"])
    wl = workloads.make(args.workload)
    try:
        result = _run(args, wl, ctx, get_spark, extra_conf, (t_anchor, ticks_anchor), work)
    finally:
        if ctx.spark is not None:
            _stop(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _run(args, wl, ctx, get_spark, extra_conf, anchor, work) -> dict:
    tr = ctx.tracer
    with tr.span("setup.stage"):
        wl.stage(args.seed, work)
        _warm_pages(work)
    t = time.perf_counter()
    with tr.span("session.start"):
        ctx.spark = get_spark(app_name=f"perfbench-{wl.name}", extra_conf=extra_conf)
    session_start_s = time.perf_counter() - t
    if isinstance(wl, workloads.QueryWorkload):
        from hive_hw_spark.queries import all_queries

        with tr.span("queries.registry"):
            ctx.registry = all_queries()
    spark = ctx.spark
    sc = spark.sparkContext
    jvm_pid = sc._gateway.proc.pid
    print(
        "env: master={} defaultParallelism={} spark.sql.shuffle.partitions={} "
        "heap_max_mb={:.0f} nproc={}".format(
            sc.master,
            sc.defaultParallelism,
            spark.conf.get("spark.sql.shuffle.partitions"),
            spark._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20,
            os.cpu_count(),
        ),
        flush=True,
    )
    if hasattr(wl, "create_tables"):
        wl.create_tables(ctx)
    t = time.perf_counter()
    with tr.span("setup.warmup"):
        for op in wl.ops():
            wl.run(ctx, op)
    warmup_s = time.perf_counter() - t

    probe = Probe(ctx) if tr.enabled else None
    rng = random.Random(args.seed)
    executed: list = []
    lat: list[float] = []
    raised: set[int] = set()
    shares: list[float] = []
    cpu0 = procstat.cpu(jvm_pid)
    ticks0 = procstat.host_ticks()
    start = time.perf_counter()
    setup_s = start - anchor[0]
    while True:
        for op in wl.round(rng):
            n = len(executed)
            if probe:
                probe.before(n)
            tr.op_id = n
            ticks = procstat.host_ticks()
            t = time.perf_counter()
            try:
                with tr.span("op"):
                    wl.run(ctx, op)
            except Exception as e:  # noqa: BLE001 — a failed op is counted, the loop goes on
                raised.add(n)
                print(f"op {wl.label(op)} failed: {str(e)[:300]}", file=sys.stderr)
            lat.append(time.perf_counter() - t)
            shares.append(procstat.delivered(ticks, procstat.host_ticks()))
            tr.op_id = None
            executed.append(op)
            if probe:
                probe.after(n, wl.label(op))
        if time.perf_counter() - start >= args.seconds:
            break
    window_s = time.perf_counter() - start
    window_share = procstat.delivered(ticks0, procstat.host_ticks())
    setup_share = procstat.delivered(anchor[1], ticks0)
    cpu = procstat.cpu(jvm_pid) - cpu0
    rss = procstat.peak_rss_mb(jvm_pid)

    # checks run after the window: nothing below is timed
    t = time.perf_counter()
    errors = wl.check(ctx)
    print(
        f"phases: session={session_start_s:.1f}s warmup={warmup_s:.1f}s "
        f"setup={setup_s:.1f}s window={window_s:.1f}s "
        f"check={time.perf_counter() - t:.1f}s ops={len(executed)} "
        f"cpu_delivered_setup={setup_share:.3f} cpu_delivered_window={window_share:.3f}",
        flush=True,
    )
    bad = {op for op, err in errors.items() if err}
    for op in bad:
        print(f"check {wl.label(op)}: {errors[op]}", file=sys.stderr)
    # an op fails when it raised or when its output is wrong
    failed_idx = {i for i, op in enumerate(executed) if i in raised or op in bad}
    n = len(executed)
    # times are taken on the CPU this machine was given: wall time times
    # the share of asked-for CPU the hypervisor delivered (see README)
    adj = [x * s for x, s in zip(lat, shares)]
    ok_lat = [x for i, x in enumerate(adj) if i not in failed_idx] or adj
    result = {
        "correct": not bad,
        "attempted": n,
        "failed": len(failed_idx),
        "metrics": {},
    }
    e2e = {
        "setup_s": (setup_s * setup_share, "s"),
        "ops_per_s": ((n - len(failed_idx)) / (window_s * window_share), "op/s"),
        "op_p50_s": (statistics.median(ok_lat), "s"),
        # this guest charges stolen time to the task that was running
        "cpu_s_per_op": (cpu.total_s * window_share / n, "s"),
        "peak_rss_mb": (rss, "MB"),
    }
    if not tr.enabled:
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        return result

    c = tr.counters
    self_s = tr.self_times(op_only=True)
    gc_s = trace.gc_seconds(spark._jvm) - probe.gc0
    files, stored = wl.stored(ctx) if hasattr(wl, "stored") else (0, 0)
    # bytes written in the window per byte landed in it; bytes stored at
    # the end per byte landed over the whole run
    window_in = max(c["tables.input_bytes"], 1)
    run_in = max(getattr(wl, "input_bytes", 0), 1)
    per = {
        "session.start_s": (session_start_s, "s"),
        "queries.build_s": (self_s.get("queries.build", 0.0) / n, "s/op"),
        "queries.plan_cache_hit_ratio": (c["queries.plan_cache_hits"] / n, "ratio"),
        "spark.analysis_s": (c["spark.analysis_s"] / n, "s/op"),
        "spark.optimization_s": (c["spark.optimization_s"] / n, "s/op"),
        "spark.planning_s": (c["spark.planning_s"] / n, "s/op"),
        "spark.exec_s": (self_s.get("spark.exec", 0.0) / n, "s/op"),
        "spark.jobs_per_op": (c["spark.jobs"] / n, "1/op"),
        "spark.stages_per_op": (c["spark.stages"] / n, "1/op"),
        "spark.tasks_per_op": (c["spark.tasks"] / n, "1/op"),
        "spark.gc_s": (gc_s / n, "s/op"),
        "exec.scan_bytes": (c["exec.scan_bytes"] / n, "B/op"),
        "exec.scan_files": (c["exec.scan_files"] / n, "1/op"),
        "exec.shuffle_bytes": (c["exec.shuffle_bytes"] / n, "B/op"),
        "exec.python_rows": (c["exec.python_rows"] / n, "1/op"),
        "exec.spill_bytes": (c["exec.spill_bytes"] / n, "B/op"),
        "exec.exchanges_per_op": (c["exec.exchanges"] / n, "1/op"),
        "exec.broadcasts_per_op": (c["exec.broadcasts"] / n, "1/op"),
        "llm_ops.persist_builds": (c["llm_ops.persist_builds"] / n, "1/op"),
        "llm_ops.persist_reuses": (c["llm_ops.persist_reuses"] / n, "1/op"),
        "llm_ops.persist_hit_ratio": (
            c["llm_ops.persist_reuses"]
            / max(c["llm_ops.persist_reuses"] + c["llm_ops.persist_builds"], 1),
            "ratio",
        ),
        "storage.cached_bytes_peak": (probe.cached_peak, "B"),
        "storage.released_cache_reads": (c["storage.released_cache_reads"] / n, "ratio"),
        "tables.merge_s": (self_s.get("tables.merge", 0.0) / n, "s/op"),
        "tables.rollup_merge_s": (self_s.get("tables.rollup_merge", 0.0) / n, "s/op"),
        "tables.scd2_s": (self_s.get("tables.scd2", 0.0) / n, "s/op"),
        "tables.compact_s": (self_s.get("tables.compact", 0.0) / n, "s/op"),
        "tables.read_s": (self_s.get("tables.read", 0.0) / n, "s/op"),
        "tables.files": (files, "count"),
        "tables.bytes_written_per_input_byte": (c["tables.bytes_written"] / window_in, "ratio"),
        "tables.stored_bytes_per_input_byte": (stored / run_in, "ratio"),
        "proc.jvm_cpu_s": (cpu.jvm_s / n, "s/op"),
        "proc.driver_cpu_s": (cpu.driver_s / n, "s/op"),
        "proc.worker_cpu_s": (cpu.worker_s / n, "s/op"),
    }
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in per.items()}
    out_dir = os.path.join(ROOT, ".perfbench_traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{wl.name}-seed{args.seed}.json")
    tr.dump(
        path,
        {
            "workload": wl.name,
            "seed": args.seed,
            "ops": n,
            "window_s": window_s,
            "released_cache_ops": sorted(probe.released_ops),
            "op_labels": [wl.label(op) for op in executed],
            "op_s": lat,
            "untraced_view": {k: v for k, (v, _) in e2e.items()},
        },
        result["metrics"],
        n,
    )
    print(f"trace: {os.path.relpath(path, ROOT)}", flush=True)
    probe.listener.close()
    return result


if __name__ == "__main__":
    sys.exit(main())
