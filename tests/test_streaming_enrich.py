"""Streaming as-of enrichment + streaming dedup duals: parity with the
batch operators when driven with availableNow over the same data."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F


def _run_stream(df, name, mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)


def test_streaming_asof_matches_batch(spark, tmp_path):
    from combinedfeatureextraction_spark.operators.asof import asof_join
    from combinedfeatureextraction_spark.streaming.enrich import (
        streaming_asof_enrich,
    )

    rng = np.random.default_rng(31)
    n = 2000
    probe_pdf = pd.DataFrame(
        {
            "k": rng.choice(["a", "b", "c"], size=n),
            "ts": pd.to_datetime(rng.uniform(0, 1e6, size=n), unit="s").floor("us"),
            "pid": np.arange(n),
        }
    )
    build_pdf = pd.DataFrame(
        {
            "k": rng.choice(["a", "b", "c"], size=50),
            "ts": pd.to_datetime(rng.uniform(0, 1e6, size=50), unit="s").floor("us"),
            "v": rng.normal(size=50),
        }
    ).drop_duplicates(["k", "ts"])
    src = str(tmp_path / "probe_src")
    probe = spark.createDataFrame(probe_pdf)
    probe.write.mode("overwrite").parquet(src)
    build = spark.createDataFrame(build_pdf)

    stream = spark.readStream.schema(probe.schema).parquet(src)
    enriched = streaming_asof_enrich(stream, build, ["k"], "ts", "ts", ["v"])
    got = (
        _run_stream(enriched, "t_asof_enrich")
        .orderBy("pid")
        .toPandas()["v"]
        .astype("float64")
        .values
    )
    want = (
        asof_join(spark.read.parquet(src), build, ["k"], "ts", "ts", ["v"])
        .orderBy("pid")
        .toPandas()["v"]
        .astype("float64")
        .values
    )
    assert np.allclose(got, want, equal_nan=True)


def test_streaming_asof_tolerance(spark, tmp_path):
    """tolerance_seconds nulls stale matches on the stream exactly like
    the batch operator."""
    from combinedfeatureextraction_spark.operators.asof import asof_join
    from combinedfeatureextraction_spark.streaming.enrich import (
        streaming_asof_enrich,
    )

    probe_pdf = pd.DataFrame(
        {
            "k": ["a"] * 4,
            "ts": pd.to_datetime([100, 200, 1000, 5000], unit="s"),
            "pid": range(4),
        }
    )
    build = spark.createDataFrame(
        pd.DataFrame(
            {"k": ["a", "a"], "ts": pd.to_datetime([50, 900], unit="s"),
             "v": [1.0, 2.0]}
        )
    )
    src = str(tmp_path / "ptol")
    probe = spark.createDataFrame(probe_pdf)
    probe.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(probe.schema).parquet(src)
    out = streaming_asof_enrich(
        stream, build, ["k"], "ts", "ts", ["v"], tolerance_seconds=300.0
    )
    got = (
        _run_stream(out, "t_asof_tol")
        .orderBy("pid")
        .toPandas()["v"]
        .astype("float64")
        .tolist()
    )
    want = (
        asof_join(spark.read.parquet(src), build, ["k"], "ts", "ts", ["v"],
                  tolerance_seconds=300.0)
        .orderBy("pid").toPandas()["v"].astype("float64").tolist()
    )
    import math

    assert [x if not math.isnan(x) else None for x in got] == [
        x if not math.isnan(x) else None for x in want
    ]
    # pid0: 100-50=50 <= 300 -> 1.0; pid1: 200-50=150 -> 1.0;
    # pid2: 1000-900=100 -> 2.0; pid3: 5000-900=4100 stale -> NULL
    assert got[0] == 1.0 and got[1] == 1.0 and got[2] == 2.0
    assert math.isnan(got[3])


def test_streaming_asof_rejects_fat_build(spark, tmp_path, monkeypatch):
    from combinedfeatureextraction_spark.operators import asof as asof_mod
    from combinedfeatureextraction_spark.streaming.enrich import (
        streaming_asof_enrich,
    )

    monkeypatch.setattr(asof_mod, "_GRID_MAX_BUILD", 3)
    src = str(tmp_path / "p2")
    probe = spark.createDataFrame(
        pd.DataFrame({"k": ["a"], "ts": pd.to_datetime([1], unit="s")})
    )
    probe.write.mode("overwrite").parquet(src)
    build = spark.createDataFrame(
        pd.DataFrame(
            {"k": ["a"] * 10, "ts": pd.to_datetime(range(10), unit="s"),
             "v": [float(i) for i in range(10)]}
        )
    )
    stream = spark.readStream.schema(probe.schema).parquet(src)
    with pytest.raises(ValueError, match="dim-sized"):
        streaming_asof_enrich(stream, build, ["k"], "ts", "ts", ["v"])


def test_streaming_exact_dedup(spark, tmp_path):
    from combinedfeatureextraction_spark.streaming.enrich import (
        streaming_exact_dedup,
    )

    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime([10, 20, 30, 40, 50, 60], unit="s"),
            "text": ["dup", "dup", "uniq1", "dup", "uniq2", "uniq1"],
            "rid": range(6),
        }
    )
    src = str(tmp_path / "dedup_src")
    df = spark.createDataFrame(pdf)
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = streaming_exact_dedup(stream, ["text"], "ts", watermark="1 hour")
    got = _run_stream(out, "t_stream_dedup").toPandas()
    # one row per distinct text within the watermark horizon
    assert sorted(got["text"]) == ["dup", "uniq1", "uniq2"]


def test_streaming_asof_rejects_dense_build(spark, tmp_path):
    """The grid's SECOND fallback (tick density > _GRID_K per minimal
    bucket) must surface as the documented ValueError on a stream, not
    as the union plan's AnalysisException (ADVICE r2)."""
    from combinedfeatureextraction_spark.streaming.enrich import (
        streaming_asof_enrich,
    )

    src = str(tmp_path / "pdense")
    probe = spark.createDataFrame(
        pd.DataFrame({"k": ["a"], "ts": pd.to_datetime([1], unit="s")})
    )
    probe.write.mode("overwrite").parquet(src)
    # 10 ticks at the IDENTICAL timestamp: no bucket doubling can get the
    # per-bucket tick count under _GRID_K — small but not grid-indexable
    build = spark.createDataFrame(
        pd.DataFrame(
            {"k": ["a"] * 10, "ts": pd.to_datetime([7] * 10, unit="s"),
             "v": [float(i) for i in range(10)]}
        )
    )
    stream = spark.readStream.schema(probe.schema).parquet(src)
    with pytest.raises(ValueError, match="grid-indexable"):
        streaming_asof_enrich(stream, build, ["k"], "ts", "ts", ["v"])


def test_enrich_dim_guard_counts_once(spark, tmp_path, monkeypatch):
    """Enrich construction runs NO standalone size-guard count job: the
    grid's bounded limit(cap+1) pull is the only driver job that proves
    the cap, however often the enrich is constructed."""
    from pyspark.sql import DataFrame
    from combinedfeatureextraction_spark.streaming.enrich import (
        streaming_asof_enrich,
    )

    src = str(tmp_path / "pguard")
    probe = spark.createDataFrame(
        pd.DataFrame({"k": ["a"], "ts": pd.to_datetime([1], unit="s")})
    )
    probe.write.mode("overwrite").parquet(src)
    build = spark.createDataFrame(
        pd.DataFrame(
            {"k": ["a", "a"], "ts": pd.to_datetime([1, 2], unit="s"),
             "v": [1.0, 2.0]}
        )
    )
    calls = {"n": 0}
    cls = type(build)  # Spark 4: the concrete class, not the ABC facade
    orig = cls.count

    def counting(self):
        calls["n"] += 1
        return orig(self)

    monkeypatch.setattr(cls, "count", counting)
    stream = spark.readStream.schema(probe.schema).parquet(src)
    for _ in range(2):
        streaming_asof_enrich(stream, build, ["k"], "ts", "ts", ["v"])
    assert calls["n"] == 0
