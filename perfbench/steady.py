"""Steadiness check: run every workload many times, each time with another
seed, and report each end-to-end metric's median, quartiles and spread
against the bound in ``BENCHMARK.json``.

    python3 perfbench/steady.py --runs 10 [--sets 2] [--workloads a,b]

Runs are interleaved across workloads (and across sets, with ``--sets 2``)
so that a slow stretch of the host hits every column alike. A metric is
steady when the distance between its first and third quartile is within a
third of its bound (``setup_s`` is exempt from the spread rule). With two
sets, the second set's median may not be worse than the first's by more
than the bound, and the share of failed ops must be the same. Raw results
go to ``.perfbench_steady/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(cfg: dict, workload: str, seed: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(cfg["run_seconds"]), "--trace", "0"]
    t = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    out["wall_s"] = wall
    out["phases"] = next((x for x in lines if x.startswith("phases:")), "")
    return out


def summary(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def worse(a: float, b: float, better: str) -> float:
    """How much worse b is than a, as a share of a."""
    return (b - a) / a if better == "lower" else (a - b) / a


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1, choices=(1, 2))
    ap.add_argument("--workloads", default="")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        cfg = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in cfg["workloads"]]
    bounds = {m["name"]: m for m in cfg["end_to_end"]}
    res: dict = {(s, w): [] for s in range(args.sets) for w in names}
    seed = 101
    for i in range(args.runs):
        for s in range(args.sets):
            for w in (names if (i + s) % 2 == 0 else names[::-1]):
                r = run_once(cfg, w, seed)
                res[(s, w)].append({"seed": seed, **r})
                print(f"set {s} {w} seed {seed} wall {r['wall_s']:.1f}s "
                      f"failed {r['failed']}/{r['attempted']} correct {r['correct']}",
                      flush=True)
                seed += 1
    os.makedirs(os.path.join(ROOT, ".perfbench_steady"), exist_ok=True)
    stamp = time.strftime("%Y%m%d-%H%M%S")
    with open(os.path.join(ROOT, ".perfbench_steady", f"steady-{stamp}.json"), "w") as f:
        json.dump({f"{s}:{w}": v for (s, w), v in res.items()}, f, indent=1)

    ok = True
    print(f"\n{'workload':14s} {'metric':12s} {'set':>3s} {'median':>11s} {'q1':>11s} "
          f"{'q3':>11s} {'spread':>7s} {'bound':>6s}  verdict")
    for w in names:
        for m, spec in bounds.items():
            meds = []
            for s in range(args.sets):
                vals = [r["metrics"][m]["value"] for r in res[(s, w)]]
                med, q1, q3, spread = summary(vals)
                meds.append(med)
                steady = m == "setup_s" or spread <= spec["bound"] / 3
                ok &= steady
                print(f"{w:14s} {m:12s} {s:3d} {med:11.5g} {q1:11.5g} {q3:11.5g} "
                      f"{spread:7.3f} {spec['bound']:6.2f}  {'ok' if steady else 'UNSTEADY'}")
            if args.sets == 2:
                d = worse(meds[0], meds[1], spec["better"])
                fine = d <= spec["bound"]
                ok &= fine
                print(f"{w:14s} {m:12s} second set worse by {d:+.3f}  {'ok' if fine else 'DRIFT'}")
        shares = {
            s: {r["failed"] / r["attempted"] for r in res[(s, w)]} for s in range(args.sets)
        }
        same = len(set().union(*shares.values())) == 1
        ok &= same and all(r["correct"] for s in range(args.sets) for r in res[(s, w)])
        walls = [r["wall_s"] for s in range(args.sets) for r in res[(s, w)]]
        print(f"{w:14s} failed share {sorted(set().union(*shares.values()))} "
              f"wall median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    print("STEADY" if ok else "NOT STEADY")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
