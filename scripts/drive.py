"""Driver-style verification: vanilla session, entry smoke + full oracle sweep.

    python scripts/drive.py              # every registry query
    python scripts/drive.py q422 q434    # only the named queries

The session stays semantically vanilla (no engine-behavior configs the
query fns could lean on) but gets an explicit driver heap: the default
1g JVM survives ~330 registry queries in one sweep and then OOMs on
accumulated storage (persisted shared frames, localCheckpoint blocks,
broadcasts) — the 383-query sweep crashed at q423 with
"Task serialization failed: java.lang.OutOfMemoryError: Java heap
space" (round-8 continuation). Heap size is an infrastructure knob,
not query semantics, so raising it does not weaken the vanilla-session
contract; the real driver checks 50 queries/round and never hits this.
As a second guard the sweep releases ALL cached/persisted state every
150 queries — each query must therefore rebuild its shared frames cold,
which is a stricter check than a warm sweep, at ~2x wall cost.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as e  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from hive_hw_spark.session_cache import release_session_caches  # noqa: E402
from tests.oracle_harness import compare, duckdb_conn  # noqa: E402

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.driver.memory", "8g")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

df = e.entry(spark)
rows = df.collect()
print(f"entry: {len(rows)} rows, schema={[f.name for f in df.schema.fields]}")
assert len(rows) > 0

# Overridable so the regeneration-fuzz gate (scripts/regen_fuzz.py) can
# point the same sweep at a perturbed copy of the tables.
sf = os.environ.get("SPARK_GRAFT_VERIFY_SF_DIR", "/root/testdata/sf0.01")
qs, osql = e.queries(), e.oracle_sql()
con = duckdb_conn(sf)
ok, bad, noracle = [], [], []

# Sweep order knob (r8 verdict item 8): the forward sweep always warms
# caches in the same order, so tail queries never execute cold right
# after a purge boundary. SPARK_GRAFT_SWEEP_ORDER=reverse (or
# shuffled, fixed seed 9) re-verifies the registry under a different
# warm/cold pattern without changing any semantics.
_order = os.environ.get("SPARK_GRAFT_SWEEP_ORDER", "sorted")
names = sys.argv[1:] or sorted(qs)
if _order == "reverse":
    names.reverse()
elif _order == "shuffled":
    import random

    random.Random(9).shuffle(names)
print(f"sweep order: {_order}")

for i, name in enumerate(names):
    if i > 0 and i % 150 == 0:
        release_session_caches(spark)
    if name not in qs:
        bad.append((name, "not in registry"))
        continue
    try:
        sdf = qs[name](spark, sf)
        if name in osql:
            compare(sdf, con, osql[name], name=name)
            ok.append(name)
        else:
            n = sdf.count()
            noracle.append(f"{name}({n} rows)")
    except Exception as ex:  # noqa: BLE001
        bad.append((name, str(ex)[:200]))
print(f"ORACLE OK ({len(ok)}): {' '.join(ok)}")
print(f"NO-ORACLE rows-only ({len(noracle)}): {' '.join(noracle)}")
if bad:
    print(f"FAILED ({len(bad)}):")
    for n, m in bad:
        print(f"  {n}: {m}")
    sys.exit(1)
print("ALL GREEN")
