"""Regeneration-fuzz regression fence (round 11).

scripts/regen_fuzz.py perturbs the testdata (row-order shuffle, seeded
date shift, in-domain money/value jitter) to simulate what a driver
testdata regeneration can do. The first three fuzz sweeps found three
REAL latent defects in driver-attested queries, all fixed in r11:

- q372: Spark-4 ANSI raises DIVIDE_BY_ZERO on a DOUBLE divide (DuckDB
  yields inf) when flat retention zeroes the fitted slope;
- q44: the final ROUND of a double quotient flaked when its shortest
  repr landed on a .5e-4 boundary (Spark rounds the shortest repr
  half-up, DuckDB rounds the exact binary expansion) — now dec_ratio;
- q81: the UDF quantized to cents while the oracle quantized to 4 dp
  (and np.round's half-even disagreed with both DuckDB modes) — now
  binary half-away at scale 4 on both sides, the probed semantics of
  DuckDB's ROUND(double).

This test rebuilds small fuzz datasets (sf0.001 base, three seeds) at
run time and holds those queries — plus the guarded divide-by-zero
family — green on data they have never seen. Full-registry fuzz sweeps
stay a scripts/ gate (scripts/drive.py --sf DIR).
"""
from __future__ import annotations

import os
import subprocess
import sys

import pytest

from hive_hw_spark.queries import all_queries
from tests.oracle_harness import compare, duckdb_conn

QUERIES = (
    "q372", "q330", "q44", "q81", "q160", "q289",
    "q394", "q259", "q307", "q393",
)
SEEDS = (1, 2, 3)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def fuzz_dirs(tmp_path_factory):
    dirs = {}
    base = tmp_path_factory.mktemp("regen_fuzz")
    for seed in SEEDS:
        out = str(base / f"s{seed}")
        subprocess.run(
            [
                sys.executable,
                "scripts/regen_fuzz.py",
                "--seed",
                str(seed),
                "--src",
                "/root/testdata/sf0.001",
                "--out",
                out,
                # continuous-value STRESS mode: the realistic surface is
                # 2dp, but these queries must hold on arbitrary doubles
                "--value-dp",
                "-1",
            ],
            check=True,
            cwd=ROOT,
        )
        dirs[seed] = out
    return dirs


@pytest.mark.parametrize("name", QUERIES)
def test_fuzz_parity(name, spark, fuzz_dirs):
    q = all_queries()[name]
    for seed, d in fuzz_dirs.items():
        con = duckdb_conn(d)
        compare(q.fn(spark, d), con, q.oracle, name=f"{name}-fuzz{seed}")


def test_regen_fuzz_seed_reproducible(tmp_path):
    """Same --seed twice => byte-identical output (r11 ADVICE: the old
    salted hash(name) mix made a failing fuzz sweep unreproducible)."""
    import subprocess
    import sys

    outs = []
    for rep in ("a", "b"):
        out = str(tmp_path / rep)
        subprocess.run(
            [
                sys.executable, "scripts/regen_fuzz.py",
                "--seed", "9",
                "--src", "/root/testdata/sf0.001",
                "--out", out,
            ],
            check=True,
            cwd=ROOT,
        )
        outs.append(out)
    import pyarrow.parquet as pq

    for t in ("lineitem", "events", "documents"):
        a = pq.read_table(f"{outs[0]}/{t}.parquet")
        b = pq.read_table(f"{outs[1]}/{t}.parquet")
        assert a.equals(b), f"{t} differs across two same-seed fuzz runs"


DEGEN_GUARDED = (
    # the OLS/variance-z family guarded in r12 (q330/q372 class): on
    # constant series each query's zero-variance divisor must yield
    # agreed NULLs, not a Spark ANSI DIVIDE_BY_ZERO vs DuckDB inf.
    "q252", "q285", "q292", "q298", "q299", "q301",
    "q316", "q331", "q348", "q372",
    # second wave (found by the full-registry degen sweep, r12): every
    # remaining ANSI divide-by-zero on the constant-series dataset,
    # plus q82's zero-variance z (UDF emitted 0.0 vs DuckDB NaN).
    "q133", "q175", "q300", "q306", "q308", "q309", "q311", "q321",
    "q357", "q370", "q383", "q392", "q394", "q401", "q402", "q409",
    "q414", "q438", "q82",
)


@pytest.fixture(scope="module")
def degen_dir(tmp_path_factory):
    """sf0.001 copy with CONSTANT series: one event timestamp, constant
    value, one order date, constant lineitem price/quantity — the
    collapse no jitter-style fuzz produces but a pathological upstream
    feed can."""
    import shutil

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path_factory.mktemp("degen") / "sf")
    shutil.copytree("/root/testdata/sf0.001", d)
    import os

    def rewrite(name, edits):
        path = f"{d}/{name}.parquet"
        os.chmod(path, 0o644)
        t = pq.read_table(path)
        for col, val in edits.items():
            idx = t.schema.get_field_index(col)
            typ = t.schema.field(idx).type
            arr = pa.array([val] * t.num_rows, type=typ)
            t = t.set_column(idx, col, arr)
        pq.write_table(t, path)

    one_ts = np.datetime64("1995-06-15T12:00:00", "us").item()
    rewrite("events", {"ts": one_ts, "value": 2.5})
    rewrite("orders", {"o_orderdate": one_ts})
    rewrite("lineitem", {"l_quantity": 1.0, "l_extendedprice": 100.0})
    return d


@pytest.mark.parametrize("name", DEGEN_GUARDED)
def test_degenerate_constant_series_parity(name, spark, degen_dir):
    q = all_queries()[name]
    compare(
        q.fn(spark, degen_dir),
        duckdb_conn(degen_dir),
        q.oracle,
        name=f"{name}-degen",
    )


@pytest.fixture(scope="module")
def twopoint_dir(tmp_path_factory):
    """sf0.001 copy with a TWO-POINT series: every event/order lands on
    one of exactly two days (~45 days apart), constant value within
    each day. Exercises the n==2 edges the constant-series fence
    cannot reach: a 2-point daily series makes Pearson rho EXACTLY
    +/-1 (q414's n_eff = 0 or divide-by-(1+rho) paths), 2-month block
    maxima (q370 n=2), and a 1-point q301 training slice."""
    import shutil

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path_factory.mktemp("twopoint") / "sf")
    shutil.copytree("/root/testdata/sf0.001", d)
    import os

    t1 = np.datetime64("1995-06-15T09:00:00", "us").item()
    t2 = np.datetime64("1995-07-30T17:00:00", "us").item()

    def rewrite(name, col, vals2=None, valcol=None):
        path = f"{d}/{name}.parquet"
        os.chmod(path, 0o644)
        t = pq.read_table(path)
        nrow = t.num_rows
        idx = t.schema.get_field_index(col)
        arr = pa.array(
            [t1 if i % 2 == 0 else t2 for i in range(nrow)],
            type=t.schema.field(idx).type,
        )
        t = t.set_column(idx, col, arr)
        if valcol is not None:
            vidx = t.schema.get_field_index(valcol)
            varr = pa.array(
                [2.5 if i % 2 == 0 else 7.5 for i in range(nrow)],
                type=t.schema.field(vidx).type,
            )
            t = t.set_column(vidx, valcol, varr)
        pq.write_table(t, path)

    rewrite("events", "ts", valcol="value")
    rewrite("orders", "o_orderdate")
    return d


@pytest.mark.parametrize("name", DEGEN_GUARDED)
def test_twopoint_series_parity(name, spark, twopoint_dir):
    q = all_queries()[name]
    compare(
        q.fn(spark, twopoint_dir),
        duckdb_conn(twopoint_dir),
        q.oracle,
        name=f"{name}-twopoint",
    )


@pytest.fixture(scope="module")
def singleton_dir(tmp_path_factory):
    """sf0.001 copy exercising the SINGLETON (n<=1) guard arms that the
    constant-series and two-point fences never reach (r12 advice): the
    q331/q401/q306 guards place their dividing variance comparison
    inside a nested F.when, and this fixture makes the OUTER predicate
    false with the inner divisor exactly 0 — the configuration where a
    broken nesting (or a Catalyst regression in CaseWhen's lazy-branch
    contract) would raise DIVIDE_BY_ZERO in production:

    - events.user_id -> row%2 (two users total): q331's (split 0,
      arm 0/1) groups each hold exactly ONE user -> n_users == 1,
      (n-1) == 0 inside the guarded Welch variance;
    - events.event_type -> one 'error' row, rest 'view' (no 'click'):
      q306's n1+n2 == 1 -> tie divisor (n1+n2)(n1+n2-1) == 0;
    - orders truncated to TWO rows on distinct days: q401's halves
      each hold one order -> n1 == n2 == 1, (n-1) == 0.
    """
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path_factory.mktemp("singleton") / "sf")
    shutil.copytree("/root/testdata/sf0.001", d)
    import os

    ev_path = f"{d}/events.parquet"
    os.chmod(ev_path, 0o644)
    t = pq.read_table(ev_path)
    n = t.num_rows
    uid_t = t.schema.field(t.schema.get_field_index("user_id")).type
    t = t.set_column(
        t.schema.get_field_index("user_id"),
        "user_id",
        pa.array([i % 2 for i in range(n)], type=uid_t),
    )
    et_t = t.schema.field(t.schema.get_field_index("event_type")).type
    t = t.set_column(
        t.schema.get_field_index("event_type"),
        "event_type",
        pa.array(["error" if i == 0 else "view" for i in range(n)], type=et_t),
    )
    pq.write_table(t, ev_path)

    o_path = f"{d}/orders.parquet"
    os.chmod(o_path, 0o644)
    o = pq.read_table(o_path)
    dates = o.column("o_orderdate").to_pylist()
    lo = min(x for x in dates if x is not None)
    keep = [i for i, x in enumerate(dates) if x is not None and x != lo]
    first_lo = dates.index(lo)
    o2 = o.take(pa.array([first_lo, keep[0]], type=pa.int64()))
    pq.write_table(o2, o_path)
    return d


@pytest.mark.parametrize("name", ("q331", "q306", "q401"))
def test_singleton_arm_parity(name, spark, singleton_dir):
    q = all_queries()[name]
    compare(
        q.fn(spark, singleton_dir),
        duckdb_conn(singleton_dir),
        q.oracle,
        name=f"{name}-singleton",
    )


def test_q331_singleton_arm_yields_null_z(spark, singleton_dir):
    got = all_queries()["q331"].fn(spark, singleton_dir).toPandas()
    assert len(got) == 1  # only split 0 has both arms populated
    assert got["z_stat"].isna().all()


def test_q82_constant_continuous_value_parity(spark, tmp_path):
    """r12 advice: q82's old degenerate predicate compared a COMPUTED
    var to 0 — on a constant value with >10 significant dp the oracle's
    DECIMAL(30,10)-quantized mu differs from the value, so its var read
    >0 (z=+/-1) while the UDF's exact fsum var read 0 (z=0). The
    structural MIN=MAX predicate must keep both engines at z=0."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "sf_q82const")
    shutil.copytree("/root/testdata/sf0.001", d)
    import os

    path = f"{d}/events.parquet"
    os.chmod(path, 0o644)
    t = pq.read_table(path)
    idx = t.schema.get_field_index("value")
    # full-mantissa constant: quantizing to 10 dp changes it
    const = 2.5000000000123456789
    t = t.set_column(
        idx, "value",
        pa.array([const] * t.num_rows, type=t.schema.field(idx).type),
    )
    pq.write_table(t, path)
    q = all_queries()["q82"]
    got = q.fn(spark, d).toPandas()
    assert (got["z"] == 0.0).all()
    compare(q.fn(spark, d), duckdb_conn(d), q.oracle, name="q82-constconst")


def test_q330_degenerate_single_ingest_day(spark, tmp_path):
    """r12 guard: with every document on ONE ingest day the variance
    denominator n*sxx - sx*sx is exactly 0 — Spark ANSI must not raise
    DIVIDE_BY_ZERO and both engines must agree on NULL growth/runway
    (the fuzz gate shuffles/jitters but never collapses the day spine,
    so this edge needs its own fence)."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "sf_degen")
    shutil.copytree("/root/testdata/sf0.001", d)
    t = pq.read_table(f"{d}/documents.parquet")
    # doc_id scaled by 730 => doc_id % 730 == 0 for every row
    doc_id = pa.array(
        [v * 730 for v in t.column("doc_id").to_pylist()], type=pa.int64()
    )
    t = t.set_column(t.schema.get_field_index("doc_id"), "doc_id", doc_id)
    import os

    os.chmod(f"{d}/documents.parquet", 0o644)
    pq.write_table(t, f"{d}/documents.parquet")
    q = all_queries()["q330"]
    got = q.fn(spark, d).toPandas()
    assert len(got) == 1
    assert got["daily_growth"].isna().all()
    assert got["days_to_10x"].isna().all()
    compare(q.fn(spark, d), duckdb_conn(d), q.oracle, name="q330-degen")
