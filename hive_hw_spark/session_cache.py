"""One session cache: persisted frames, memoized query plans and
driver-side results.

A long session runs many queries over several datasets. Three caches let
a re-run of the same query skip work, and this module owns all of them
under one policy:

- **Persisted frames** (``managed_persist``). A query persists a shared
  intermediate frame under a slot name (``"bm25_scores"``). The entry is
  keyed by (slot, ``plan_key`` of the frame), so the same slot over two
  datasets holds two entries, and a re-request of the same plan returns
  the frame already persisted.
- **Memoized plans** (``plan_cache``). A pure query fn re-invoked with the
  same (session, sf_dir) returns its earlier DataFrame instead of
  building and analyzing the expression tree again. Each memo records the
  persisted entries its fn touched. A hit whose entries are no longer the
  live ones runs the fn again, so a memoized plan never reads a released
  frame (it would recompute the frame from its sources on every run).
- **Driver-side results** (``memo``). A value an action collects to the
  driver (a centroid matrix, a codebook) or a checkpoint-backed frame
  the CacheManager cannot match by plan is kept under (name, ``plan_key``
  of each input frame, params). A hit counts only in the session that
  built it; an input without a plan key is never cached.
- **Budget.** Persisted entries are evicted least-recently-used first
  while their bytes exceed the budget. The budget is the part of the
  block managers' storage pool that execution memory cannot evict
  (pool x ``spark.memory.storageFraction``); sizes are the memory and
  disk bytes ``getRDDStorageInfo`` reports for each entry's cached RDD.
  The check runs when a new frame is persisted, over the frames already
  materialized.
  Persisted frames should stay vocab-sized or key-sized, never
  corpus-sized: the budget bounds storage, it does not make a
  corpus-sized persist cheap.
- **Release.** ``release_session_caches`` drops every entry, plan memo
  and driver-side memo and clears Spark's cache, for a caller that
  wants the session cold again.

``PERSIST_EVENTS`` logs one ``(entry name, built)`` pair per
``managed_persist`` call; the name is the slot plus a short plan digest
(``bm25_scores@1a2b3c4d``), so two datasets' copies of a slot are told
apart. Nothing in the query path reads it.
"""

from __future__ import annotations

import functools
import hashlib
from collections import OrderedDict
from collections.abc import Callable
from dataclasses import dataclass
from typing import TypeVar

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

PERSIST_EVENTS: list[tuple[str, bool]] = []
T = TypeVar("T")


@dataclass(eq=False)
class _Entry:
    key: tuple[str, str | None]
    name: str
    frame: DataFrame
    rdd_id: int | None = None


# (slot, plan key) -> entry, least recently used first
_FRAMES: OrderedDict[tuple[str, str | None], _Entry] = OrderedDict()
# (fn name, sf_dir) -> (session, frame, entries the fn touched)
_PLANS: dict[tuple[str, str], tuple[SparkSession, DataFrame, frozenset]] = {}
# one set per plan_cache fn being built: the entries it has touched so far
_BUILDING: list[set[_Entry]] = []
# (name, input plan keys, params) -> (session, value)
_MEMO: dict[tuple, tuple[SparkSession, object]] = {}


def plan_key(df: DataFrame) -> str | None:
    """Collision-proof plan identity for session-scope memos: sha256 of
    the CANONICALIZED analyzed plan string (expression ids normalized,
    so the key is stable across rebuilds of the same logical query —
    the same normalization ``semanticHash`` hashes, kept as the full
    string because a 32-bit hash colliding between two different plans
    in one session would silently serve wrong cached results) PLUS the
    plan's input files. The files matter: the canonicalized string
    RENDERS relations without their location (``Relation [none#0L,...]
    parquet``), so the same query shape over sf0.001 and sf0.01 would
    otherwise collide — exactly the drive.py sequence (entry smoke at
    sf0.001, sweep at sf0.01), caught when the sweep's q118 was served
    the smoke run's cluster labels. The files come from the ANALYZED
    plan (``_input_files``), so the key is the same before and after
    the frame is persisted. ``semanticHash`` rides along for the
    identity the string AND the file list both miss: checkpoint-backed
    plans (LogicalRDD) have no input files and render pathless, but
    their RDD id reaches the hash — reuse across two different
    checkpoints must never fire. A false cache hit now needs all three
    components to agree. ``None`` (never cache-hit) when the plan
    identity is unavailable."""
    try:
        analyzed = df._jdf.queryExecution().analyzed()
        s = analyzed.canonicalized().toString()
        files = "\n".join(_input_files(analyzed))
        sh = df.semanticHash()
        return hashlib.sha256(f"{s}\x00{files}\x00{sh}".encode()).hexdigest()
    except Exception:
        return None


def _input_files(analyzed) -> list[str]:
    """Files of the analyzed plan's file relations. ``df.inputFiles()``
    reads the optimized plan, where a persisted subtree is swapped for
    its ``InMemoryRelation`` and lists no files, so it changes once the
    frame is cached."""
    files: set[str] = set()
    leaves = analyzed.collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            continue
        rel = leaf.relation()
        if rel.getClass().getSimpleName() == "HadoopFsRelation":
            files.update(rel.inputFiles())
    return sorted(files)


def managed_persist(slot: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK) as the ``slot`` entry for its
    plan. A re-request of the same plan (bench reps, a query family
    sharing a frame, a dataset visited again) returns the frame already
    persisted, so its cache stays warm. A new plan adds an entry beside
    the slot's others, after evicting least-recently-used entries over
    the byte budget; a plan without a key replaces the slot's keyless
    entry. Unpersisting an entry is always safe: a frame still held by a
    caller recomputes."""
    pk = plan_key(df)
    key = (slot, pk)
    old = _FRAMES.get(key)
    if old is not None:
        if pk is not None:
            _FRAMES.move_to_end(key)
            _touch({old})
            PERSIST_EVENTS.append((old.name, False))
            return old.frame
        _release(old)
    _evict_over_budget(df.sparkSession)
    entry = _Entry(key, f"{slot}@{pk[:8] if pk else 'none'}", df)
    df.persist(StorageLevel.MEMORY_AND_DISK)
    _FRAMES[key] = entry
    _touch({entry})
    PERSIST_EVENTS.append((entry.name, True))
    return df


def plan_cache(fn: Callable[[SparkSession, str], DataFrame]):
    """Session-scope prepared-plan reuse for PURE query fns (no DML or
    catalog side effects): re-invoking with the same (session, sf_dir)
    returns the SAME analyzed DataFrame instead of rebuilding and
    re-analyzing a wide expression tree. This is the DataFrame analog of
    a prepared-statement cache — Catalyst analysis of e.g. q97's
    64-vote aggregate or q118's LSH pair plan costs 1.5-3 s of DRIVER
    time per build (invisible to executors and to .explain), which at
    cluster scale is pure latency before the first task launches.
    A memo is only returned while every persisted entry its build
    touched is still live; otherwise the fn runs again and re-persists.
    Never apply to fns with side effects (q06 saveAsTable, q110 MERGE):
    the memo would skip their re-execution."""

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        # evict memos pinned to dead sessions: a stale memo holds
        # py4j-backed DataFrames (and any localCheckpoint RDD state)
        # for process lifetime otherwise
        for k, (sess, _, _) in list(_PLANS.items()):
            if sess is not spark and _session_stopped(sess):
                del _PLANS[k]
        key = (fn.__name__, sf_dir)
        hit = _PLANS.get(key)
        if hit is not None and hit[0] is spark and all(_live(e) for e in hit[2]):
            for e in hit[2]:
                _FRAMES.move_to_end(e.key)
            _touch(hit[2])
            return hit[1]
        _BUILDING.append(set())
        try:
            df = fn(spark, sf_dir)
        finally:
            touched = _BUILDING.pop()
        _touch(touched)
        _PLANS[key] = (spark, df, frozenset(touched))
        return df

    return wrapped


def memo(
    name: str, frames: list[DataFrame], params: tuple, build: Callable[[], T]
) -> T:
    """``build()``, memoized for the session under (``name``, the
    ``plan_key`` of each of ``frames``, ``params``). Same plans and params
    mean the same result, so a deterministic build derived from ``frames``
    runs once per session. A hit needs the session that built the value;
    a miss drops every other session's values, which can never hit
    again. When any input has no plan key the build runs uncached."""
    keys = tuple(plan_key(f) for f in frames)
    if None in keys:
        return build()
    spark = frames[0].sparkSession
    key = (name, keys, params)
    hit = _MEMO.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    for k in [k for k, (sess, _) in _MEMO.items() if sess is not spark]:
        del _MEMO[k]
    value = build()
    _MEMO[key] = (spark, value)
    return value


def release_session_caches(spark: SparkSession) -> None:
    """Unpersist every managed frame, forget every plan memo and
    driver-side memo, and clear Spark's cache. Queries rebuild their
    shared frames cold on next use: correctness-neutral."""
    for entry in list(_FRAMES.values()):
        _release(entry)
    _PLANS.clear()
    _MEMO.clear()
    spark.catalog.clearCache()


def _live(entry: _Entry) -> bool:
    return _FRAMES.get(entry.key) is entry


def _touch(entries) -> None:
    for building in _BUILDING:
        building.update(entries)


def _release(entry: _Entry) -> None:
    if _FRAMES.get(entry.key) is entry:
        del _FRAMES[entry.key]
    try:
        entry.frame.unpersist(False)
    except Exception:  # noqa: BLE001 — dead sessions/frames skip fine
        pass


def _evict_over_budget(spark: SparkSession) -> None:
    """Release least-recently-used entries while the materialized
    entries' bytes exceed the budget."""
    sizes = _entry_sizes(spark)
    total = sum(sizes.values())
    budget = _budget(spark)
    for entry in list(_FRAMES.values()):
        if total <= budget:
            break
        if entry.key not in sizes:
            continue
        total -= sizes[entry.key]
        _release(entry)


def _entry_sizes(spark: SparkSession) -> dict[tuple[str, str | None], int]:
    """Bytes (memory + disk) of each materialized entry's cached RDD, as
    the block managers report them. Entries not materialized yet are
    left out."""
    jsc = spark.sparkContext._jsc.sc()
    held = {
        int(i.id()): int(i.memSize()) + int(i.diskSize())
        for i in jsc.getRDDStorageInfo()
    }
    sizes = {}
    for key, entry in _FRAMES.items():
        if entry.rdd_id is None:
            entry.rdd_id = _cached_rdd_id(spark, entry.frame)
        if entry.rdd_id in held:
            sizes[key] = held[entry.rdd_id]
    return sizes


def _cached_rdd_id(spark: SparkSession, df: DataFrame) -> int | None:
    """Id of the RDD holding ``df``'s cached batches, once they are
    built. Asking an unbuilt cache for its RDD would build it: an AQE
    plan runs its shuffle stages to do so."""
    try:
        session = spark._jsparkSession
        cached = session.sharedState().cacheManager().lookupCachedData(
            session, df._jdf.logicalPlan()
        )
        if not cached.isDefined():
            return None
        builder = cached.get().cachedRepresentation().cacheBuilder()
        if not builder.isCachedColumnBuffersLoaded():
            return None
        return int(builder.cachedColumnBuffers().id())
    except Exception:  # noqa: BLE001 — a dead session holds nothing
        return None


def _budget(spark: SparkSession) -> int:
    """Bytes of storage the session cache may hold: the block managers'
    storage pool times ``spark.memory.storageFraction``, the share of
    the pool that execution memory cannot evict."""
    sc = spark.sparkContext
    pool = 0
    status = sc._jsc.sc().getExecutorMemoryStatus().values().iterator()
    while status.hasNext():
        pool += int(status.next()._1())
    fraction = float(sc.getConf().get("spark.memory.storageFraction", "0.5"))
    return int(pool * fraction)


def _session_stopped(sess: SparkSession) -> bool:
    """True when the session's JVM context is gone (sc.stop() or process
    teardown). Used only for cache eviction, so errors read as 'stopped'."""
    try:
        return sess.sparkContext._jsc is None
    except Exception:
        return True
