"""Capture .explain("formatted") for named registry queries into files.

Usage:
    python scripts/capture_plans.py OUT_DIR SUFFIX q30 q39 ...

Writes OUT_DIR/<name>_<SUFFIX>.txt with the formatted physical plan of
each query built against $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
Plans are captured pre-execution (AdaptiveSparkPlan isFinalPlan=false),
which is the form that shows Exchange placement, join strategy,
PushedFilters and ReadSchema. The session is scripts/drive.py's
vanilla session, so the plan matches what the sweep would produce.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from drive import vanilla_session  # noqa: E402


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    spark = vanilla_session()

    from hive_hw_spark.queries import query_fns  # noqa: E402

    fns = query_fns()
    jvm = spark._jvm
    for name in names:
        if name not in fns:
            print(f"SKIP {name}: not in registry", file=sys.stderr)
            continue
        df = fns[name](spark, sf_dir)
        plan = jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
