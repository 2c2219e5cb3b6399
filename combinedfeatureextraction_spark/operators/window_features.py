"""Order-dependent per-entity window features: lag/lead, rolling stats,
coordinate rebasing, percent-rank, top-k.

Reference analogs (SURVEY.md §2.5/§2.6):
 - lag/lead   ≙ GLCM offset-1 co-occurrence (FeatureExtractor.py:500-519, W1)
 - rolling    ≙ disk-k dilation/erosion rank filters
               (extractioncodes/process_mc_features.py:83-89, W3)
 - rebase     ≙ `points[:,0] -= xMin` local-frame shift
               (FeatureExtractor.py:304-305, W7)
 - percent_rank ≙ histogram equalization CDF (FeatureExtractor.py:334, A12)
 - top-k      ≙ max-of-labels / sampling (FeatureExtractor.py:541, O4)

Scale notes: every operator here is ONE shuffle (hash-partition by the
entity key) followed by an in-partition sort — Spark's window exec keeps it
a single exchange and all expressions stay inside whole-stage codegen. At
100 TB the entity key (doc_id/user_id) is high-cardinality, so partitions
stay balanced; skew within a single hot entity is bounded because window
frames are row-bounded (no whole-partition materialization beyond the
frame buffer).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# ------------------------------------------------------------ SQL text
# The ordered-window features are written as SQL text, once each, and
# every caller applies them in one projection: the public operators below,
# sessionize/fill, and the fused pass of plans.pipeline.rowlevel_features.
# A projection of N window expressions is one py4j call instead of the
# dozens each withColumn/Column-operator call costs, and expressions that
# share one (PARTITION BY, ORDER BY) land in ONE Window operator.

ROWS_TO_CURRENT = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
ROWS_FROM_CURRENT = "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"

#: rolling stat -> SQL aggregate (``std`` is population std, numpy
#: ``np.nanstd`` parity, FeatureExtractor.py:592)
ROLLING_FUNCTIONS = {
    "mean": "avg",
    "std": "stddev_pop",
    "min": "min",
    "max": "max",
    "sum": "sum",
    "count": "count",
}


def sql_ident(name: str) -> str:
    """Backtick-quoted identifier; an embedded backtick is doubled."""
    return "`" + name.replace("`", "``") + "`"


def double_sql(x: float) -> str:
    """A DOUBLE literal equal to ``float(x)`` (repr round-trips exactly)."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def over_sql(keys: Sequence[str], order: Sequence[str], frame: str = "") -> str:
    """``OVER (PARTITION BY keys ORDER BY order [frame])``."""
    spec = (
        f"PARTITION BY {', '.join(map(sql_ident, keys))}"
        f" ORDER BY {', '.join(map(sql_ident, order))}"
    )
    return f"OVER ({spec} {frame})" if frame else f"OVER ({spec})"


def rows_frame_sql(preceding: int, following: int) -> str:
    """The frame ``rowsBetween(-preceding, following)`` as SQL text."""
    lo = f"{preceding} PRECEDING" if preceding else "CURRENT ROW"
    hi = f"{following} FOLLOWING" if following else "CURRENT ROW"
    return f"ROWS BETWEEN {lo} AND {hi}"


def lag_lead_sql(value: str, k: int, over: str) -> tuple[str, str]:
    """(lag, lead) of ``value`` by ``k`` rows over the window ``over``."""
    v = sql_ident(value)
    return f"lag({v}, {k}) {over}", f"lead({v}, {k}) {over}"


def rolling_sql(stat: str, value: str, over: str) -> str:
    """One rolling-frame aggregate (a ROLLING_FUNCTIONS key) of ``value``."""
    return f"{ROLLING_FUNCTIONS[stat]}({sql_ident(value)}) {over}"


def with_sql_columns(df: DataFrame, columns: dict[str, str]) -> DataFrame:
    """``withColumns`` from SQL text in ONE projection: a name already in
    ``df`` (case-insensitive, like withColumn) is replaced in place, new
    names are appended in ``columns`` order."""
    new = {name.lower(): (name, expr) for name, expr in columns.items()}
    exprs = []
    for c in df.columns:
        name, expr = new.pop(c.lower(), (c, None))
        exprs.append(sql_ident(c) if expr is None else f"{expr} AS {sql_ident(name)}")
    exprs += [f"{expr} AS {sql_ident(name)}" for name, expr in new.values()]
    return df.selectExpr(*exprs)


# ------------------------------------------------------------ operators

def with_lag_lead(
    df: DataFrame,
    value: str,
    keys: Sequence[str],
    order: Sequence[str],
    offsets: Sequence[int] = (1,),
    prefix: str | None = None,
) -> DataFrame:
    """lag/lead(value, k) per entity, ordered by the time axis.

    Offset-1 pairing is the 1-D analog of the reference's GLCM
    `graycomatrix(img, [1], [0])` neighbor pairing (FeatureExtractor.py:510).
    """
    p = prefix or value
    over = over_sql(keys, order)
    cols = {}
    for k in offsets:
        cols[f"{p}_lag_{k}"], cols[f"{p}_lead_{k}"] = lag_lead_sql(value, k, over)
    return with_sql_columns(df, cols)


def with_rolling_stats(
    df: DataFrame,
    value: str,
    keys: Sequence[str],
    order: Sequence[str],
    preceding: int = 4,
    following: int = 0,
    stats: Sequence[str] = ("mean", "std", "min", "max", "sum", "count"),
    prefix: str | None = None,
) -> DataFrame:
    """Rolling frame aggregates over rowsBetween(-preceding, following).

    A symmetric frame (preceding==following>0) with min/max is exactly the
    reference's morphological erosion/dilation rank filter
    (extractioncodes/process_mc_features.py:83-89): max over a k-neighborhood.
    ``std`` is population std — numpy ``np.nanstd`` parity
    (FeatureExtractor.py:592).
    """
    p = prefix or value
    over = over_sql(keys, order, rows_frame_sql(preceding, following))
    return with_sql_columns(
        df, {f"{p}_roll_{s}": rolling_sql(s, value, over) for s in stats}
    )


def with_rebased_order(
    df: DataFrame,
    ts: str,
    keys: Sequence[str],
    out: str = "ts_rebased",
) -> DataFrame:
    """ts - min(ts) per entity — the local-frame coordinate shift
    (FeatureExtractor.py:304-305). Unbounded min over an unordered window:
    one shuffle, no sort needed."""
    w = Window.partitionBy(*keys)
    return df.withColumn(out, F.col(ts) - F.min(ts).over(w))


def with_percent_rank(
    df: DataFrame,
    value: str,
    keys: Sequence[str],
    out: str = "pct_rank",
) -> DataFrame:
    """CDF / rank transform per entity — histogram equalization analog
    (`exposure.equalize_hist`, FeatureExtractor.py:334)."""
    w = Window.partitionBy(*keys).orderBy(F.col(value))
    return df.withColumn(out, F.percent_rank().over(w))


def topk_per_entity(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column],
    k: int,
    out: str = "rank",
) -> DataFrame:
    """Deterministic top-k per entity via row_number (O4).

    Pass fully tie-broken ``order`` columns for determinism. rank<=k filter
    happens before any downstream shuffle so AQE can prune early.
    """
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn(out, F.row_number().over(w)).filter(F.col(out) <= k)
