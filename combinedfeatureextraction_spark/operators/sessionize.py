"""Gap-based sessionization — the 1-D connected-component labeler.

Reference analog (SURVEY.md W6/A9/A10/F12): `skimage.measure.label` /
`ndi.label` assign connected-component ids to mask pixels
(FeatureExtractor.py:541,545; extraction_utils/process_mc_features.py:18,73);
component counts and per-component stats become features; small components
are dropped (`remove_small_objects`, FeatureExtractor.py:344).

On a time axis, a connected component is a run of rows whose gaps are
< ``gap``: session_id = cumulative sum of boundary flags — the classic
one-shuffle window trick. Scale: single exchange on the entity key; the
cumulative sum is streaming within the sorted partition (no buffering).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from combinedfeatureextraction_spark.functions.timeutil import (
    epoch_seconds,
    epoch_seconds_sql,
)
from combinedfeatureextraction_spark.operators.window_features import (
    ROWS_TO_CURRENT,
    double_sql,
    over_sql,
    sql_ident,
    with_sql_columns,
)


def gap_prev_sql(keys: Sequence[str], ts: str) -> str:
    """Seconds since the entity's previous row (NULL on its first row)."""
    t = epoch_seconds_sql(sql_ident(ts))
    return f"{t} - lag({t}, 1) {over_sql(keys, [ts])}"


def session_boundary_sql(gap_prev: str, gap_seconds: float) -> str:
    """A row opens a session when its gap column is NULL or >= the gap."""
    g = sql_ident(gap_prev)
    return f"({g} IS NULL OR {g} >= {double_sql(gap_seconds)})"


def session_id_sql(
    gap_prev: str, keys: Sequence[str], ts: str, gap_seconds: float
) -> str:
    """0-based session id: running count of boundaries, from the gap
    column ``gap_prev`` (a second window pass — it reads a lag)."""
    boundary = session_boundary_sql(gap_prev, gap_seconds)
    return (
        f"CAST(sum(CASE WHEN {boundary} THEN 1 ELSE 0 END)"
        f" {over_sql(keys, [ts], ROWS_TO_CURRENT)} - 1 AS BIGINT)"
    )


def sessionize(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    gap_seconds: float,
    out: str = "session_id",
) -> DataFrame:
    """Assign 0-based session ids per entity; the gap to the previous row
    is kept as ``_gap_prev``.

    A new session starts when ts - lag(ts) >= gap — the half-open interval
    Spark's ``F.session_window`` uses (a session extends to start+gap
    EXCLUSIVE), so the batch labeler and the streaming dual
    (streaming.sessions.streaming_session_agg) agree at exact-gap
    boundaries.
    """
    df = with_sql_columns(df, {"_gap_prev": gap_prev_sql(keys, ts)})
    return with_sql_columns(
        df, {out: session_id_sql("_gap_prev", keys, ts, gap_seconds)}
    )


def session_stats(
    sess: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
    session_col: str = "session_id",
) -> DataFrame:
    """Per-session aggregates — regionprops analog (per-component area /
    bbox / mean, FeatureExtractor.py:527-556). One groupBy on
    (entity, session): partial aggregation is map-side because sessionize
    already co-located the entity."""
    return sess.groupBy(*keys, session_col).agg(
        F.count("*").alias("session_len"),
        F.min(ts).alias("session_start"),
        F.max(ts).alias("session_end"),
        F.sum(value).alias("session_sum"),
        F.avg(value).alias("session_mean"),
    )


def component_moments(
    sess: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
    session_col: str = "session_id",
) -> DataFrame:
    """Per-session MOMENT features — the full regionprops analog
    (FeatureExtractor.py:544-580): beyond count/sum/mean this adds the
    second moment (population std, numpy ``np.nanstd`` parity :592), the
    spatial extent (duration ≙ bbox height), the value extent (range ≙
    bbox width), and the aspect-ratio analog range/duration
    (``region.axis_minor_length / axis_major_length``-style shape ratio,
    :549-556), with the reference's /0→0 coalesce discipline.

    One groupBy on (entity, session) — map-side combinable; all stats are
    algebraic (no sort, no second pass)."""
    e = epoch_seconds(ts)
    v = F.col(value)
    dur = F.max(e) - F.min(e)
    rng = F.max(v) - F.min(v)
    return sess.groupBy(*keys, session_col).agg(
        F.count("*").alias("session_len"),
        F.sum(v).alias("session_sum"),
        F.avg(v).alias("session_mean"),
        F.stddev_pop(v).alias("session_std"),
        dur.alias("session_duration"),
        rng.alias("session_range"),
        F.when(dur == 0, F.lit(0.0)).otherwise(rng / dur).alias("session_aspect"),
    )


def drop_small_sessions(
    sess: DataFrame,
    keys: Sequence[str],
    session_col: str = "session_id",
    min_rows: int = 2,
) -> DataFrame:
    """remove_small_objects analog (FeatureExtractor.py:344, F12): drop
    sessions with < min_rows rows. Implemented as a windowed count (no
    second shuffle — reuses the (keys) partitioning)."""
    w = Window.partitionBy(*list(keys), session_col)
    return (
        sess.withColumn("_n", F.count("*").over(w))
        .filter(F.col("_n") >= min_rows)
        .drop("_n")
    )


def component_count(
    sess: DataFrame,
    keys: Sequence[str],
    session_col: str = "session_id",
) -> DataFrame:
    """Number of components per entity — the nuclei-count feature
    `np.max(measure.label(mask))` (FeatureExtractor.py:541, A9)."""
    return sess.groupBy(*keys).agg(
        F.countDistinct(session_col).alias("n_sessions")
    )
