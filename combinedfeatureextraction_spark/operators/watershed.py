"""1-D watershed session splitting — the window-SQL analog of the
reference's marker-based watershed (SURVEY.md W5).

Reference: fextract/extractioncodes/FeatureExtractor.py:346-354 —
``distance_transform_edt`` → ``peak_local_max`` → markers →
``watershed(-distance, markers, mask)``: a connected region is split into
one sub-object per distance peak, with boundaries at the valleys between
peaks. The 1-D sequence analog: within each session (connected run), local
maxima of the value series are the markers; the session splits at the
minimum between consecutive peaks. Rows up to and including the valley row
belong to the left peak's basin (deterministic tie: first minimal row).

The flood is iterative in 2-D; in 1-D every fact it needs is a window
aggregate, so the operator is window SQL text like ``sessionize``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from combinedfeatureextraction_spark.operators.window_features import (
    ROWS_TO_CURRENT,
    sql_ident,
    with_sql_columns,
)

_WHOLE = "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
# helper columns (plain identifiers: no quoting needed in the SQL text)
_REST, _PREV, _STEP = "__cfe_ws_rest", "__cfe_ws_prev", "__cfe_ws_step"
_PEAK, _LATER, _INTERVAL = "__cfe_ws_peak", "__cfe_ws_later", "__cfe_ws_interval"


def _over(part: Sequence[str], order: str, frame: str = "") -> str:
    """``OVER (PARTITION BY part ORDER BY order [frame])``; ``order`` is
    SQL text, so it can carry directions and NULL placement."""
    spec = f"PARTITION BY {', '.join(map(sql_ident, part))} ORDER BY {order}"
    return f"OVER ({spec} {frame})" if frame else f"OVER ({spec})"


def watershed_split(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
    session_col: str = "session_id",
    out: str = "subsession_id",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Split every (entity, session) at value-valleys between value-peaks.

    Output: input columns + ``out`` (0-based subsession id within the
    session). Peaks are plateau starts that rise on the left (or start
    the session) and whose next value change is a drop (or none); the
    valley between consecutive peaks is the first minimal row after the
    left one, up to the right one. NULL values: a NULL predecessor counts
    as a session start for the peak test, steps to or from a NULL are
    skipped, and a NULL value sorts after every value when the valley is
    picked (``value ASC NULLS LAST``).

    Windows on (keys, session) reuse the entity-key exchange of
    ``sessionize``. Facts about following rows are running frames on the
    descending sort: Spark recomputes an UNBOUNDED FOLLOWING frame per
    row, quadratic in the session length. ``tiebreak``: sort columns
    after ``ts`` — pass a unique id when ``ts`` can repeat within an
    entity, else the within-tie order is nondeterministic."""
    part = [*keys, session_col]
    back = ", ".join(f"{sql_ident(c)} DESC" for c in [ts, *tiebreak])
    by_back, back_run = _over(part, back), _over(part, back, ROWS_TO_CURRENT)
    v = sql_ident(value)
    # REST: rows from this one to the session end; PREV: the value before
    # it; STEP: sign of the step to the value after it
    s = with_sql_columns(df, {
        _REST: f"row_number() {by_back}",
        _PREV: f"lead({v}) {by_back}",
        _STEP: f"sign(lag({v}) {by_back} - {v})",
    })
    # PEAK: rises on the left (or starts) and the NEXT nonzero step — the
    # last one met walking back from the session end — is a drop or none
    s = with_sql_columns(s, {
        _PEAK: f"CASE WHEN ({_PREV} IS NULL OR {v} > {_PREV})"
        f" AND coalesce(last(CASE WHEN {_STEP} <> 0 THEN {_STEP} END, true)"
        f" {back_run}, 0) <= 0 THEN 1 ELSE 0 END",
    })
    # LATER: peaks at or after the row; INTERVAL: peaks before it — with
    # both > 0, the row lies in (peak INTERVAL, peak INTERVAL + 1]
    s = with_sql_columns(s, {
        _LATER: f"sum({_PEAK}) {back_run}",
        _INTERVAL: f"sum({_PEAK}) {_over(part, back, _WHOLE)}"
        f" - sum({_PEAK}) {back_run}",
    })
    # an interval's valley is its first argmin (most REST among minima);
    # the subsession id counts the valleys before the row: one per
    # earlier interval, plus the row's own once the row is past it
    valley = f"first_value({_REST}) " + _over(
        [*part, _INTERVAL], f"{v} ASC NULLS LAST, {_REST} DESC"
    )
    s = with_sql_columns(s, {
        out: f"coalesce(CAST(greatest({_INTERVAL} - 1, 0) + CASE WHEN"
        f" {_INTERVAL} > 0 AND {_LATER} > 0 AND {valley} > {_REST}"
        " THEN 1 ELSE 0 END AS BIGINT), 0)",
    })
    return s.select(*df.columns, out)
