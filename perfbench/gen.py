"""Seeded inputs for the benchmark.

Everything the program reads is made here from ``--seed``; the same seed
gives byte-identical tables. Three kinds of input, and the size of the
hive input:

- ``build_tables``: the ten warehouse tables (``region`` … ``embeddings``)
  with the column names, Arrow types and value domains of the repository's
  TPC-H-like test tables, at a fixed small size (``SIZES``). Every
  cross-table key resolves (``l_orderkey`` → ``orders``, ``o_custkey`` →
  ``customer``, ``n_regionkey`` → ``region`` …), 5 % of documents are
  near-duplicates of an earlier document (the text plus `` dup``), and
  embeddings are unit vectors of 64 float32.
- ``write_corpus_variant``: one variant of a table set for the
  corpus-rotation workload: every table row-shuffled, and a seeded subset
  of documents kept together with the embeddings of the same ids. Ids
  below ``KEEP_LOW_IDS`` are always kept, because queries probe
  ``vec_id = 0`` and take ``vec_id < k`` as centroids.
- ``hive_rounds``: hourly rounds of hive readings, built by the rules of
  the reference firmware's master node (``master.ino:22-26,151-169,
  462-480,552-574``): 2 masters × 2 load-cell nodes each
  (``numSlaves = 2``), weights in kg converted to grams with
  ``ceil(kg * 1000)``, ``0.0`` as the missing-reading sentinel, and an
  ``E`` (error) payload for a round in which a master's 60-s budget ran
  out before every node answered (about 2 % of master-rounds, the rate
  FIXTURES.md suggests).
- ``payload``: a master's uplink JSON for one round, in the reference
  shape ``{"H0001":{"w":12345},...}``; an ``E`` payload adds each node's
  ``p``/``s`` status flags and sends ``w = 0`` for a missing node.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SIZES = {
    "customer": 500,
    "supplier": 50,
    "part": 700,
    "orders": 5000,
    "lineitem": 20000,
    "events": 4000,
    "documents": 120,
    "embeddings": 120,
}
KEEP_LOW_IDS = 32
EMBED_DIM = 64

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _ts_us(rng, lo: str, hi: str, n: int, whole_days: bool) -> pa.Array:
    lo_us = int(np.datetime64(lo, "us").astype(np.int64))
    hi_us = int(np.datetime64(hi, "us").astype(np.int64))
    if whole_days:
        day = 86_400_000_000
        v = rng.integers(lo_us // day, hi_us // day + 1, n) * day
    else:
        v = rng.integers(lo_us, hi_us, n)
    return pa.array(v.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int) -> dict[str, pa.Table]:
    """The ten warehouse tables for ``seed`` as Arrow tables."""
    rng = np.random.default_rng(seed)
    n = SIZES
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    np_ = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(np_), pa.int64()),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(_PART_ADJ, np_), rng.choice(_PART_NOUN, np_))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
            "p_type": rng.choice(_PART_TYPES, np_),
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _ts_us(rng, "1995-01-01", "2001-08-01", no, True),
            "o_orderpriority": rng.choice(_PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _ts_us(rng, "1995-01-02", "2001-11-04", nl, True),
        }
    )
    ne = n["events"]
    ts = np.sort(
        rng.integers(
            int(np.datetime64("2024-01-01", "us").astype(np.int64)),
            int(np.datetime64("2024-01-31", "us").astype(np.int64)),
            ne,
        )
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(ne), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n["customer"], ne), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, ne),
            "value": _money(rng, 0.0, 560.0, ne),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 101)))))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(nd), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, nd, p=_LANG_P),
            "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    v = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(nv), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )
    return t


def write(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))


def corpus_variant(base: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """Row-shuffled copy of ``base`` keeping a seeded subset (about 85 %)
    of documents and the embeddings with the same ids."""
    rng = np.random.default_rng(seed)
    n_ids = min(base["documents"].num_rows, base["embeddings"].num_rows)
    ids = np.arange(n_ids)
    keep = (ids < KEEP_LOW_IDS) | (rng.random(n_ids) < 0.85)
    kept = pa.array(ids[keep], pa.int64())
    out = {}
    for name, tab in base.items():
        if name == "documents":
            tab = tab.filter(pc.is_in(tab["doc_id"], kept))
        elif name == "embeddings":
            tab = tab.filter(pc.is_in(tab["vec_id"], kept))
        out[name] = tab.take(pa.array(rng.permutation(tab.num_rows)))
    return out


def write_corpus_variant(base, seed: int, out_dir: str) -> None:
    write(corpus_variant(base, seed), out_dir)


# --- hive readings -----------------------------------------------------


@dataclass(frozen=True)
class HiveRound:
    """One hourly round: every master's payload for the hour."""

    round_id: int
    ts_s: int
    # (master, node, kg, payload kind 'D' or 'E'); kg == 0.0 is missing
    readings: list[tuple[int, int, float, str]]


def grams(kg: float) -> int:
    """The firmware's kg → grams conversion, ``ceil(w * 1000)``."""
    return int(math.ceil(kg * 1000))


HIVE_EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z
MASTERS = 2
NODES = 2  # numSlaves, master.ino:22-26
P_ERROR = 0.02


def node_code(master: int, node: int) -> str:
    return f"H{master * NODES + node + 1:04d}"


def hive_rounds(seed: int, n_rounds: int) -> list[HiveRound]:
    """``n_rounds`` consecutive hourly rounds. Weights follow a random walk
    per hive (colony weight drifts by hundreds of grams an hour, with rare
    harvest drops); a master's round is an ``E`` payload with probability
    ``P_ERROR``, and then one or both of its nodes read ``0.0``."""
    rng = np.random.default_rng(seed)
    kg = rng.uniform(20.0, 60.0, (MASTERS, NODES))
    rounds = []
    for r in range(n_rounds):
        kg = kg + rng.normal(0.0, 0.4, kg.shape)
        harvest = rng.random(kg.shape) < 0.01
        kg = np.where(harvest, kg - rng.uniform(5.0, 15.0, kg.shape), kg)
        kg = np.clip(kg, 5.0, 95.0)
        readings = []
        for m in range(MASTERS):
            lost: set[int] = set()
            if rng.random() < P_ERROR:
                lost = set(rng.choice(NODES, int(rng.integers(1, NODES + 1)), replace=False).tolist())
            kind = "E" if lost else "D"
            for s in range(NODES):
                w = 0.0 if s in lost else round(float(kg[m, s]), 3)
                readings.append((m, s, w, kind))
        rounds.append(HiveRound(r, HIVE_EPOCH_S + 3600 * r, readings))
    return rounds


def payload(readings: list[tuple[int, int, float, str]]) -> str:
    """One master's uplink JSON for a round (``master.ino:462-480``; the
    error shape of ``master.ino:552-574`` adds ``p``/``s`` flags)."""
    body = {}
    for m, s, kg, kind in readings:
        w = {"w": grams(kg) if kg else 0}
        if kind == "E":
            got = 1 if kg else 0
            w.update(p=got, s=got)
        body[node_code(m, s)] = w
    return json.dumps(body, sort_keys=True, separators=(",", ":"))
