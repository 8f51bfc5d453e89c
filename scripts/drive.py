"""Driver-style sweep on a vanilla session: entry smoke + registry queries.

    python scripts/drive.py                  # hash-check every query at sf0.01
    python scripts/drive.py q422 q434        # only the named queries
    python scripts/drive.py --order shuffled # sorted | reverse | shuffled
    python scripts/drive.py --sf /tmp/fuzz_sf0.01_s1
    python scripts/drive.py --check raw      # unrounded float audit
    python scripts/drive.py --check run      # execute once at sf0.1

Checks (``--check``):

- ``hash`` (default): each query's result against its DuckDB oracle,
  compared at the driver's round(4) granularity; queries without an
  oracle are counted. Prints "ALL GREEN" or the failures (exit 1).
- ``raw``: the full-precision cross-engine float audit. Rows are aligned
  the way the driver's hash aligns them (columns sorted by name, rows by
  stringified values) and the max absolute divergence of each float
  column is taken BEFORE any rounding. Prints one JSON record; exit 1 if
  a query errors or exceeds the 1e-5 tripwire. Expected: every oracle
  query bit-identical. Anything new and nonzero is a regression of the
  round-10 end state: convert it to integer units (_util.dratio_round /
  cents) before the driver samples it.
- ``run``: execute each query once through the ``noop`` sink, which
  runs every operator but ships no rows. Magnitude-dependent failures
  (q298's BIGINT overflow appeared only at sf0.1 row counts) cannot show
  at sf0.01, so this check defaults to sf0.1. Prints ``ok``/``FAIL``
  per query.

``--order reverse|shuffled`` (shuffled uses seed 9) re-verifies the
registry under a different warm/cold cache order: the forward sweep
always warms shared frames in the same order.

The session is semantically vanilla: no engine-behaviour config a query
fn could lean on. Its driver heap is ``session.driver_memory()``, fitted
to the machine: the default 1g heap OOMs a full sweep at ~380 queries
on accumulated storage (persisted frames, localCheckpoint blocks,
broadcasts). Heap size is infrastructure, not query semantics. The
sweep never purges: the session cache's byte budget bounds persisted
frames, so one session runs the whole registry warm.
"""
import argparse
import json
import os
import random
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from hive_hw_spark.session import driver_memory  # noqa: E402

# Root-caused, monitored sub-round(4) ULP noise (BIG_FLOAT_OK) stays
# below this; anything above fails the raw audit.
KNOWN_BENIGN_MAX = 1e-5


def vanilla_session() -> SparkSession:
    """The sweep's session: vanilla engine behaviour plus infrastructure
    knobs only (machine-fitted heap, local[8], 8 shuffle partitions,
    UTC, UI off)."""
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.driver.memory", driver_memory())
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def raw_divergence(got, want) -> tuple[float, str | None]:
    """Max absolute divergence over the float columns of two aligned
    result frames, and the column it occurs in. Any NaN/inf mismatch is
    an infinite divergence, never a silent pass."""
    import numpy as np
    import pandas as pd

    worst, worst_col = 0.0, None
    for c in got.columns:
        if c not in want.columns or not pd.api.types.is_float_dtype(got[c]):
            continue
        g = got[c].to_numpy(dtype=float)
        w = want[c].to_numpy(dtype=float)
        mask = ~(np.isnan(g) & np.isnan(w))
        # One-sided NaN (one engine NaN, the other a number): a bare
        # abs() would carry the NaN into d.max(), and NaN > x is False
        # for every x, so the query would count as bit-identical.
        one_sided = mask & (np.isnan(g) ^ np.isnan(w))
        gm, wm = g[mask], w[mask]
        with np.errstate(invalid="ignore"):
            d = np.abs(gm - wm)
        # Equal-sign inf pairs: inf-inf = NaN would poison d.max() and
        # pass the whole column. Same-sign inf agrees exactly -> 0;
        # mixed-sign -> infinite.
        both_inf = np.isinf(gm) & np.isinf(wm)
        d = np.where(both_inf, np.where(gm == wm, 0.0, np.inf), d)
        d = np.where(one_sided[mask], np.inf, d)
        # any residual NaN in d is a divergence, never a silent pass
        d = np.where(np.isnan(d), np.inf, d)
        if d.size and float(d.max()) > worst:
            worst, worst_col = float(d.max()), c
    return worst, worst_col


def _sorted_frame(pdf):
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return pdf.sort_values(
        by=list(pdf.columns), key=lambda s: s.map(str), ignore_index=True
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("names", nargs="*", help="queries to run (default: all)")
    ap.add_argument("--check", choices=("hash", "raw", "run"), default="hash")
    ap.add_argument("--sf", help="dataset dir (default sf0.01; sf0.1 for run)")
    ap.add_argument(
        "--order", choices=("sorted", "reverse", "shuffled"), default="sorted"
    )
    args = ap.parse_args()
    sf = args.sf or (
        "/root/testdata/sf0.1" if args.check == "run" else "/root/testdata/sf0.01"
    )

    import __spark_entry__ as e
    from tests.oracle_harness import compare, duckdb_conn

    spark = vanilla_session()
    df = e.entry(spark)
    rows = df.collect()
    print(
        f"entry: {len(rows)} rows, schema={[f.name for f in df.schema.fields]}",
        file=sys.stderr,
    )
    assert len(rows) > 0

    qs, osql = e.queries(), e.oracle_sql()
    names = args.names or sorted(qs)
    if args.check == "raw":
        names = [n for n in names if n in osql or n not in qs]
    if args.order == "reverse":
        names.reverse()
    elif args.order == "shuffled":
        random.Random(9).shuffle(names)
    print(f"sweep order: {args.order}, sf_dir={sf}", file=sys.stderr)
    con = duckdb_conn(sf)

    ok, noracle, bad = [], [], {}
    nonzero, over = {}, {}
    t_all = time.perf_counter()
    for name in names:
        if name not in qs:
            bad[name] = "not in registry"
            continue
        t0 = time.perf_counter()
        try:
            sdf = qs[name](spark, sf)
            if args.check == "run":
                sdf.write.format("noop").mode("overwrite").save()
                print(f"ok {name} {time.perf_counter() - t0:.2f}s", flush=True)
            elif args.check == "raw":
                got = _sorted_frame(sdf.toPandas())
                want = _sorted_frame(con.execute(osql[name]).df())
                if len(got) != len(want):
                    bad[name] = f"row count {len(got)} vs {len(want)}"
                    continue
                worst, col = raw_divergence(got, want)
                if worst > 0.0:
                    nonzero[name] = {"col": col, "max_abs": worst}
                if worst > KNOWN_BENIGN_MAX:
                    over[name] = {"col": col, "max_abs": worst}
            elif name in osql:
                compare(sdf, con, osql[name], name=name)
                ok.append(name)
            else:
                noracle.append(f"{name}({sdf.count()} rows)")
        except Exception as ex:  # noqa: BLE001
            if args.check == "run":
                tb = traceback.format_exc().splitlines()
                print(f"FAIL {name}: " + " | ".join(tb[-3:]), flush=True)
            bad[name] = str(ex)[:200]

    if args.check == "raw":
        print(
            json.dumps(
                {
                    "sf_dir": sf,
                    "queries_audited": len(names),
                    "bit_identical": len(names) - len(nonzero) - len(bad),
                    "nonzero": nonzero,
                    "over_tripwire": over,
                    "errors": bad,
                },
                indent=2,
            )
        )
        return 1 if (over or bad) else 0
    if args.check == "run":
        total = time.perf_counter() - t_all
        if bad:
            print(
                f"SCALE SMOKE FAILED ({len(bad)}/{len(names)}): "
                + " ".join(bad) + f"  [{total:.0f}s]"
            )
            return 1
        print(f"SCALE SMOKE GREEN ({len(names)} queries, {total:.0f}s, sf_dir={sf})")
        return 0
    print(f"ORACLE OK ({len(ok)}): {' '.join(ok)}")
    print(f"NO-ORACLE rows-only ({len(noracle)}): {' '.join(noracle)}")
    if bad:
        print(f"FAILED ({len(bad)}):")
        for n, m in bad.items():
            print(f"  {n}: {m}")
        return 1
    print("ALL GREEN")
    return 0


if __name__ == "__main__":
    sys.exit(main())
