"""Two-pass global thresholding: the scalar pass.

Reference analog (SURVEY.md A11/F11/X3): Otsu global threshold
(`threshold_otsu(pas)`, extractioncodes/process_mc_features.py:79) — a
histogram over the WHOLE input picks one scalar, then every row is
binarized by it. In Spark: pass 1 (here) aggregates the histogram /
quantile to one driver-side scalar; pass 2 is the caller's plain filter
or ``when`` on that literal, so it is a pushed-down predicate.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def global_quantile_threshold(
    df: DataFrame,
    value: str,
    q: float = 0.5,
) -> float:
    """Pass 1: one global scalar, the exact ``q`` quantile (matching the
    deterministic oracle)."""
    expr = (
        F.median(F.col(value)) if q == 0.5
        else F.expr(f"percentile({value}, {q})")
    )
    return float(df.agg(expr.alias("t")).collect()[0]["t"])


def otsu_threshold(
    df: DataFrame,
    value: str,
    bins: int = 256,
) -> float:
    """Otsu's method distributed: ONE aggregation builds the histogram
    (width_bucket → groupBy count, map-side combinable), then the
    between-class-variance argmax runs on the driver over ``bins`` scalars.
    Exact parity with skimage.filters.threshold_otsu on the same binning.
    """
    lo, hi = df.agg(
        F.min(value).alias("lo"), F.max(value).alias("hi")
    ).collect()[0]
    lo, hi = float(lo), float(hi)
    if hi <= lo:
        return lo
    hist_rows = (
        df.select(
            F.least(
                F.floor((F.col(value) - F.lit(lo)) / F.lit((hi - lo) / bins)),
                F.lit(bins - 1),
            ).cast("int").alias("b")
        )
        .groupBy("b")
        .count()
        .collect()
    )
    hist = np.zeros(bins, dtype=np.float64)
    for r in hist_rows:
        hist[r["b"]] = r["count"]
    # standard Otsu argmax of inter-class variance
    centers = lo + (np.arange(bins) + 0.5) * (hi - lo) / bins
    w0 = np.cumsum(hist)
    w1 = w0[-1] - w0
    m0 = np.cumsum(hist * centers)
    mu0 = np.divide(m0, w0, out=np.zeros_like(m0), where=w0 > 0)
    mu1 = np.divide(m0[-1] - m0, w1, out=np.zeros_like(m0), where=w1 > 0)
    var_between = w0 * w1 * (mu0 - mu1) ** 2
    return float(centers[int(np.argmax(var_between))])
