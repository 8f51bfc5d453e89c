"""Regeneration-fuzz gate: perturb the testdata and re-verify parity.

The driver may REGENERATE /root/testdata between rounds (CLAUDE.md rule;
observed r6 and r11). Every float-parity defect class this repo has
fixed was LATENT until a regeneration pushed a value onto a rounding
boundary — so the strongest pre-emptive evidence is to run the full
oracle sweep on data the queries have never seen. This script builds a
perturbed copy of an sf dir in /tmp:

- row order SHUFFLED in every table (seeded): exercises partition-order
  independence of every accumulator — a bare float SUM would flake here;
- money columns jittered by a small factor and re-rounded to 2 dp
  (stays in the exact-cents domain the engine assumes);
- all date/timestamp columns shifted by a seeded day offset
  (consistently across tables, preserving join/latency semantics);
- events.value jittered and re-rounded to --value-dp decimals
  (default 2 — the real generator emits exact-2dp values, so 2 is the
  REALISTIC regeneration surface; pass -1 to keep the jitter
  continuous, the STRESS mode that found the r11 q44/q81/q160/q289
  round-semantics flakes);
- text/embedding payloads left byte-identical (domain-constrained
  inputs: q375's nano-unit bound, n_chars consistency).

Schema is preserved EXACTLY (pyarrow cast back to the source schema),
including the events.ts physical dtype branch.

Usage:
  python scripts/regen_fuzz.py --seed 1 [--src /root/testdata/sf0.01]
  python scripts/drive.py --sf /tmp/fuzz_sf0.01_s1
  python scripts/drive.py --sf /tmp/fuzz_sf0.01_s1 --check raw
"""
from __future__ import annotations

import argparse
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

MONEY = {
    "orders": ["o_totalprice"],
    "lineitem": ["l_extendedprice"],
    "customer": ["c_acctbal"] ,
    "supplier": ["s_acctbal"],
    "part": ["p_retailprice"],
}


def fuzz_table(
    src: str, dst: str, name: str, seed: int, value_dp: int = 2
) -> None:
    t = pq.read_table(f"{src}/{name}.parquet")
    schema = t.schema
    # zlib.crc32, not hash(): str hash is salted per process (PYTHONHASHSEED
    # unset), which would make the row permutation irreproducible for a
    # given --seed — and row order is one of the defect classes this gate
    # targets (r11 ADVICE item, fixed r12).
    rng = np.random.default_rng(seed * 1000003 + zlib.crc32(name.encode()) % 65537)
    n = t.num_rows
    cols = {c: t.column(c).to_numpy(zero_copy_only=False) for c in t.column_names}

    factor = 1.0 + ((seed * 7) % 5 - 2) / 1000.0  # ±0.2% money jitter
    day_shift = np.timedelta64((seed % 11) - 5, "D")

    for c in MONEY.get(name, []):
        if c in cols:
            cols[c] = np.round(cols[c] * factor, 2)
    for c, typ in zip(t.column_names, schema.types):
        if pa.types.is_timestamp(typ) or pa.types.is_date(typ):
            cols[c] = cols[c] + day_shift
    if name == "events" and "value" in cols:
        jittered = cols["value"] * factor
        cols["value"] = (
            jittered if value_dp < 0 else np.round(jittered, value_dp)
        )

    order = rng.permutation(n)
    arrays = []
    for c, typ in zip(t.column_names, schema.types):
        v = cols[c]
        if isinstance(v, np.ndarray):
            v = v[order]
            arrays.append(pa.array(v, type=typ))
        else:  # object-dtype (lists, strings came back as objects)
            v = np.asarray(v, dtype=object)[order]
            arrays.append(pa.array(v.tolist(), type=typ))
    out = pa.Table.from_arrays(arrays, schema=schema)
    pq.write_table(out, f"{dst}/{name}.parquet")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--src", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=None)
    ap.add_argument("--value-dp", type=int, default=2)
    args = ap.parse_args()
    out = args.out or f"/tmp/fuzz_{os.path.basename(args.src)}_s{args.seed}"
    os.makedirs(out, exist_ok=True)
    for name in TABLES:
        fuzz_table(args.src, out, name, args.seed, args.value_dp)
    print(out)


if __name__ == "__main__":
    main()
