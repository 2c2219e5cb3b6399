"""``session.get_spark``: Python workers import the engine wherever the
driver runs from."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def test_python_workers_import_engine_outside_the_checkout(tmp_path):
    """A driver that finds the package through ``sys.path`` — cwd outside
    the checkout, no ``PYTHONPATH`` — runs a ``per_row_map`` query: the
    workers unpickle ``rowmap``'s batch loop, so they must import the
    package too."""
    script = tmp_path / "driver.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(ROOT)!r})
        from pyspark.sql import functions as F, types as T
        from combinedfeatureextraction_spark.multimodal.rowmap import per_row_map
        from combinedfeatureextraction_spark.session import get_spark

        spark = get_spark(cpus=1, shuffle_partitions=1)
        df = spark.range(3).select("id", (F.col("id") * 2).alias("x"))
        out = per_row_map(df, ["id"], ["x"], lambda x: (x + 1,),
                          [T.StructField("y", T.LongType())])
        print(sorted(tuple(r) for r in out.collect()))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run([sys.executable, str(script)], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-3000:]
    assert res.stdout.strip().splitlines()[-1] == "[(0, 1), (1, 3), (2, 5)]"
