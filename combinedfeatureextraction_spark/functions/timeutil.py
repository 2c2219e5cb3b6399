"""Timestamp → epoch-seconds that works for TIMESTAMP, TIMESTAMP_NTZ,
and numeric columns alike (parquet `timestamp[us]` loads as NTZ in
Spark 4, which cannot cast straight to double)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def epoch_seconds_sql(expr: str) -> str:
    """SQL text of ``epoch_seconds`` over the SQL expression ``expr``."""
    return f"CAST(CAST({expr} AS TIMESTAMP) AS DOUBLE)"


def epoch_seconds(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    # NTZ → TIMESTAMP is lossless under the UTC session tz; TIMESTAMP and
    # numerics round-trip unchanged.
    return c.cast("timestamp").cast("double")
