"""``session.get_spark``: Python workers import the engine wherever the
driver runs from; local files carry no checksum sidecars; Spark's scratch
goes to /dev/shm only when it has room; a master given to spark-submit is
kept; the jobs build their session with it."""

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


def test_local_files_skip_checksum_sidecars(spark):
    """file:// paths go through RawLocalFileSystem: no .crc per file."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    assert conf.get("fs.file.impl") == "org.apache.hadoop.fs.RawLocalFileSystem"


def test_local_dir_needs_free_shm(monkeypatch):
    """/dev/shm hosts Spark's scratch only with the floor free; below it
    (Docker's 64 MB default) or without /dev/shm, Spark's default;
    CFE_SPARK_LOCAL_DIR wins either way."""
    from combinedfeatureextraction_spark import session

    def statvfs(free):
        def fake(path):
            assert path == "/dev/shm"
            if free is None:
                raise FileNotFoundError(path)
            blocks = free // 4096
            return os.statvfs_result((4096, 4096, 0, 0, blocks, 0, 0, 0, 0, 255))
        return fake

    monkeypatch.delenv("CFE_SPARK_LOCAL_DIR", raising=False)
    floor = session.SHM_MIN_FREE_BYTES
    for free, want in ((floor, "/dev/shm/cfe_spark_local"),
                       (64 << 20, None), (floor - 4096, None), (None, None)):
        monkeypatch.setattr(session.os, "statvfs", statvfs(free))
        assert session._local_dir() == want, free
    monkeypatch.setenv("CFE_SPARK_LOCAL_DIR", "/elsewhere")
    assert session._local_dir() == "/elsewhere"


def _plain_env(**extra):
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT",
                        "CFE_SHUFFLE_PARTITIONS")}
    return {**env, "PYTHONPATH": str(ROOT), **extra}


def test_submit_args_master_is_kept(tmp_path):
    """A ``--master`` in ``PYSPARK_SUBMIT_ARGS`` wins over ``cpus``."""
    script = tmp_path / "driver.py"
    script.write_text(textwrap.dedent("""
        from combinedfeatureextraction_spark.session import get_spark

        spark = get_spark(cpus=1)
        print(spark.sparkContext.master)
        spark.stop()
    """))
    env = _plain_env(PYSPARK_SUBMIT_ARGS="--master local[3] pyspark-shell")
    res = subprocess.run([sys.executable, str(script)], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-3000:]
    assert res.stdout.strip().splitlines()[-1] == "local[3]"


def test_materialize_job_run_with_python_writes_one_file_per_bucket(
    spark, tmp_path
):
    """``jobs/materialize_features.py`` run with plain ``python`` gets
    ``get_spark``'s session: 32 shuffle partitions, so each of 32 buckets
    is one parquet file, and no ``.crc`` sidecars."""
    from combinedfeatureextraction_spark.sources.fixtures import sequences_spark

    seqs = str(tmp_path / "seqs")
    sequences_spark(spark, 200, seed=7).write.parquet(seqs)
    out = tmp_path / "feat"
    res = subprocess.run(
        [sys.executable, str(ROOT / "jobs" / "materialize_features.py"),
         "--sequences", seqs, "--out", str(out), "--buckets", "32"],
        cwd=tmp_path, env=_plain_env(SPARK_GRAFT_CPUS="2"),
        capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert len(list((out / "data").rglob("*.parquet"))) == 32
    assert not list(out.rglob("*.crc"))
