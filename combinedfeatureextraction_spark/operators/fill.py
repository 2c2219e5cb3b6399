"""Forward-fill / backfill and distance-to-boundary.

Reference analogs (SURVEY.md W8/W2):
 - forward-fill ≙ the remainder-mask priority cascade: pixels not claimed by
   any sub-compartment inherit the previous/default class
   (FeatureExtractor.py:322-378, esp. :374,:377-378).
 - distance-to-boundary ≙ `cv2.distanceTransform`: distance of each fg pixel
   to the nearest bg pixel (FeatureExtractor.py:394;
   extract_reference_features.py:406,427). In 1-D that's min(distance to
   previous boundary, distance to next boundary) = a forward pass + a
   backward pass of `last(..., ignorenulls)`.

Scale: both directions are frames of the same (entity, ts) window, so
Spark plans ONE exchange, one in-partition sort and one Window operator —
no second shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame

from combinedfeatureextraction_spark.functions.timeutil import epoch_seconds_sql
from combinedfeatureextraction_spark.operators.window_features import (
    ROWS_FROM_CURRENT,
    ROWS_TO_CURRENT,
    over_sql,
    sql_ident,
    with_sql_columns,
)

_BOUNDARY = "__cfe_boundary"


def forward_fill_sql(value: str, keys: Sequence[str], ts: str) -> str:
    """Last non-null ``value`` at-or-before the row."""
    over = over_sql(keys, [ts], ROWS_TO_CURRENT)
    return f"last({sql_ident(value)}, true) {over}"


def backward_fill_sql(value: str, keys: Sequence[str], ts: str) -> str:
    """First non-null ``value`` at-or-after the row."""
    over = over_sql(keys, [ts], ROWS_FROM_CURRENT)
    return f"first({sql_ident(value)}, true) {over}"


def distance_to_boundary_sql(
    boundary: str, keys: Sequence[str], ts: str, two_sided: bool = True
) -> str:
    """Seconds to the nearest row where the SQL predicate ``boundary``
    holds: forward-fill the boundary ts, mirror with a backward fill, take
    the least non-null."""
    t = epoch_seconds_sql(sql_ident(ts))
    b_ts = f"CASE WHEN {boundary} THEN {t} END"
    d_prev = f"{t} - last({b_ts}, true) {over_sql(keys, [ts], ROWS_TO_CURRENT)}"
    if not two_sided:
        return d_prev
    d_next = f"first({b_ts}, true) {over_sql(keys, [ts], ROWS_FROM_CURRENT)} - {t}"
    return f"least({d_prev}, {d_next})"


def forward_fill(
    df: DataFrame,
    value: str,
    keys: Sequence[str],
    ts: str,
    out: str | None = None,
) -> DataFrame:
    """last non-null value at-or-before each row (W8 backfill operator)."""
    return with_sql_columns(
        df, {out or f"{value}_ffill": forward_fill_sql(value, keys, ts)}
    )


def backward_fill(
    df: DataFrame,
    value: str,
    keys: Sequence[str],
    ts: str,
    out: str | None = None,
) -> DataFrame:
    """first non-null value at-or-after each row."""
    return with_sql_columns(
        df, {out or f"{value}_bfill": backward_fill_sql(value, keys, ts)}
    )


def distance_to_boundary(
    df: DataFrame,
    boundary: Column,
    keys: Sequence[str],
    ts: str,
    out: str = "dist_to_boundary",
    two_sided: bool = True,
) -> DataFrame:
    """Per row: |ts - ts of nearest row where ``boundary`` is true|, in
    seconds (double). NULL when no boundary exists on that side (both sides
    for two_sided). 1-D distance transform (W2): forward-fill the boundary
    ts, mirror with a backward fill, take the least non-null. The
    ``boundary`` Column is projected once as a hidden column that the SQL
    text reads.
    """
    dist = distance_to_boundary_sql(sql_ident(_BOUNDARY), keys, ts, two_sided)
    return with_sql_columns(df.withColumn(_BOUNDARY, boundary), {out: dist}).drop(
        _BOUNDARY
    )
