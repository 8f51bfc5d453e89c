"""Full-registry raw (UNrounded) cross-engine float-divergence audit.

Round 10 closed the decimal-cast divergence class and measured — ad hoc —
that every oracle query produced BIT-IDENTICAL raw float outputs across
Spark and DuckDB on the then-current testdata (ROADMAP round-10
addendum). This script makes that audit a repeatable per-round gate: it
runs EVERY oracle-paired query at sf0.01 in both engines, aligns rows the
same way the driver's hash does (columns sorted by name, rows sorted by
stringified values), and reports the max absolute divergence per float
column at FULL double precision, before any rounding.

Expected output: every query at 0.0, except the documented benign set
(DuckDB's int128->double truncation above 2^53 in ULP-scale cases that
dsum4 cannot cover, and pandas float-sum order inside grouped-agg UDFs).
Anything new and nonzero is a regression of the round-10 end state and
should be converted to integer units (_util.dratio_round / cents) before
the driver samples it.

Usage: python scripts/raw_divergence_audit.py   (~10 min on local[8])
Exit code 1 if any query exceeds the 1e-5 tripwire threshold.
"""
import json
import os
import sys

sys.path.insert(0, "/root/repo")

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from hive_hw_spark.session_cache import release_session_caches  # noqa: E402
from tests.oracle_harness import duckdb_conn  # noqa: E402

# Benign, root-caused, monitored (see ROADMAP round-10 addendum and
# BIG_FLOAT_OK): sub-round(4) ULP noise only.
KNOWN_BENIGN_MAX = 1e-5

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.driver.memory", "8g")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

sf = os.environ.get("SPARK_GRAFT_AUDIT_SF_DIR", "/root/testdata/sf0.01")
qs, osql = entry.queries(), entry.oracle_sql()
con = duckdb_conn(sf)

nonzero, over, errors = {}, {}, {}
names = sorted(n for n in qs if n in osql)
for i, name in enumerate(names):
    if i > 0 and i % 150 == 0:
        release_session_caches(spark)
    try:
        got = qs[name](spark, sf).toPandas()
        want = con.execute(osql[name]).df()
        got = got.reindex(sorted(got.columns), axis=1)
        want = want.reindex(sorted(want.columns), axis=1)
        got = got.sort_values(
            by=list(got.columns), key=lambda s: s.map(str), ignore_index=True
        )
        want = want.sort_values(
            by=list(want.columns), key=lambda s: s.map(str), ignore_index=True
        )
        if len(got) != len(want):
            errors[name] = f"row count {len(got)} vs {len(want)}"
            continue
        worst = 0.0
        worst_col = None
        for c in got.columns:
            if c not in want.columns or not pd.api.types.is_float_dtype(got[c]):
                continue
            g = got[c].to_numpy(dtype=float)
            w = want[c].to_numpy(dtype=float)
            mask = ~(np.isnan(g) & np.isnan(w))
            # One-sided NaN (one engine NaN, the other a number) is an
            # infinite divergence, not a skip: a bare abs() would carry
            # the NaN into d.max(), and NaN > x is False for every x, so
            # the query would silently count as bit-identical (r11
            # ADVICE item, fixed r12).
            one_sided = mask & (np.isnan(g) ^ np.isnan(w))
            gm, wm = g[mask], w[mask]
            with np.errstate(invalid="ignore"):
                d = np.abs(gm - wm)
            # Equal-sign inf pairs: inf-inf = NaN would poison d.max()
            # (NaN > worst is False) and silently pass the WHOLE column
            # even if other rows diverge (r12 ADVICE item, fixed r13).
            # Same-sign inf agrees exactly -> 0; mixed-sign -> infinite.
            both_inf = np.isinf(gm) & np.isinf(wm)
            d = np.where(both_inf, np.where(gm == wm, 0.0, np.inf), d)
            d = np.where(one_sided[mask], np.inf, d)
            # Belt-and-braces: any residual NaN in d is a divergence,
            # never a silent pass.
            d = np.where(np.isnan(d), np.inf, d)
            if d.size and float(d.max()) > worst:
                worst = float(d.max())
                worst_col = c
        if worst > 0.0:
            nonzero[name] = {"col": worst_col, "max_abs": worst}
        if worst > KNOWN_BENIGN_MAX:
            over[name] = {"col": worst_col, "max_abs": worst}
    except Exception as ex:  # pragma: no cover - audit robustness
        errors[name] = str(ex)[:200]

print(
    json.dumps(
        {
            "sf_dir": sf,
            "queries_audited": len(names),
            "bit_identical": len(names) - len(nonzero) - len(errors),
            "nonzero": nonzero,
            "over_tripwire": over,
            "errors": errors,
        },
        indent=2,
    )
)
sys.exit(1 if (over or errors) else 0)
