"""multimodal.rowmap.per_row_map — the one Arrow boundary of the per-row
kernels: input conversion and NULL semantics."""

from __future__ import annotations

import pytest

from pyspark.sql import types as T


def test_nan_from_kernel_comes_back_null(spark):
    from combinedfeatureextraction_spark.multimodal.rowmap import per_row_map

    out = per_row_map(
        spark.range(3).selectExpr("id", "id AS v"),
        ["id"],
        ["v"],
        lambda v: (float("nan") if v == 1 else v / 2, v),
        [T.StructField("x", T.DoubleType()), T.StructField("i", T.LongType())],
    )
    assert sorted(out.collect()) == [(0, 0.0, 0), (1, None, 1), (2, 1.0, 2)]


def test_points_reach_kernel_as_pair_views(spark):
    from combinedfeatureextraction_spark.multimodal.rowmap import per_row_map

    df = spark.createDataFrame(
        [(1, None), (2, []), (3, [[1.5, 2.0], [3.0, 4.5]])],
        "pid long, points array<array<double>>",
    )
    out = per_row_map(
        df,
        ["pid"],
        ["points"],
        lambda pts: (str(pts.shape), float(pts.sum())),
        [T.StructField("shape", T.StringType()), T.StructField("s", T.DoubleType())],
    )
    assert sorted(out.collect()) == [
        (1, "(0, 2)", 0.0),
        (2, "(0, 2)", 0.0),
        (3, "(2, 2)", 11.0),
    ]
    bad = spark.createDataFrame(
        [(1, [[0, 0, 0]])], "pid long, points array<array<long>>"
    )
    one = [T.StructField("n", T.LongType())]
    with pytest.raises(Exception, match=r"polygon points must be \[x, y\] pairs"):
        per_row_map(bad, ["pid"], ["points"], lambda pts: (0,), one).collect()
