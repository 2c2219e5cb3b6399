"""``scripts/profile.py``: the per-query layer record."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench_work"
KEYS = {
    "build_s", "plan_s", "exec_s", "build_jobs",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.python_bytes",
    "spark.core_util", "spark.task_skew",
}


def _work_entries():
    """Entries of ``.perfbench_work/``; None when the directory is absent."""
    return set(os.listdir(WORK)) if WORK.exists() else None


def test_profile_record(tmp_path):
    before = _work_entries()
    out = tmp_path / "record.json"
    res = subprocess.run(
        [sys.executable, "scripts/profile.py", "six_stat_hierarchy", "watershed_split",
         "polygon_ring", "--sf", "/root/testdata/sf0.001", "--reps", "1",
         "--out", str(out)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    rec = json.loads(out.read_text())
    assert set(rec) == {"sf", "reps", "nproc", "cpus", "queries"}
    assert set(rec["queries"]) == {
        "six_stat_hierarchy", "watershed_split", "polygon_ring"
    }
    for name, q in rec["queries"].items():
        assert set(q) == KEYS, name
        assert q["build_s"] > 0 and q["plan_s"] > 0 and q["exec_s"] > 0, name
        assert q["spark.jobs"] >= 1 and q["spark.tasks"] >= 1, name
    # polygon_ring crosses the Arrow boundary of per_row_map; the window
    # SQL of watershed_split and six_stat_hierarchy stays in the JVM
    assert rec["queries"]["polygon_ring"]["spark.python_bytes"] > 0
    assert rec["queries"]["watershed_split"]["spark.python_bytes"] == 0
    assert rec["queries"]["six_stat_hierarchy"]["spark.python_bytes"] == 0
    assert _work_entries() == before
