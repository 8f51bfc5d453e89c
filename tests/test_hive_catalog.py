"""Metastore-backed catalog: a table saved through a Hive-enabled
session is visible to a FRESH session via the shared metastore — the
property an in-memory catalog cannot provide. Runs in a subprocess
because a Hive-catalog session cannot share the JVM with the suite's
in-memory-catalog session (and embedded Derby is single-process)."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_table_survives_session_restart(tmp_path):
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from hive_hw_spark.session import get_hive_spark

        wh, ms = {str(tmp_path / "wh")!r}, {str(tmp_path / "ms")!r}

        s1 = get_hive_spark(wh, ms)
        s1.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        ).write.mode("overwrite").saveAsTable("persisted_t")
        assert s1.conf.get("spark.sql.catalogImplementation") == "hive"
        s1.stop()

        s2 = get_hive_spark(wh, ms)
        rows = sorted(
            (r.k, r.v) for r in s2.table("persisted_t").collect()
        )
        assert rows == [(1, "a"), (2, "b"), (3, "c")], rows
        assert "persisted_t" in [t.name for t in s2.catalog.listTables()]
        s2.stop()
        print("HIVE_CATALOG_OK")
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=str(tmp_path),  # keep any derby.log / cwd artifacts out of the repo
    )
    assert "HIVE_CATALOG_OK" in proc.stdout, (
        f"stdout:\n{proc.stdout[-2000:]}\nstderr:\n{proc.stderr[-2000:]}"
    )
