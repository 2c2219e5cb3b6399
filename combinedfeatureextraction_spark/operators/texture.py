"""GLCM texture statistics — Contrast / Homogeneity / Energy / Correlation
from the offset-1 co-occurrence histogram (SURVEY.md W1, second half).

Reference analog: ``calculate_texture_features``
(fextract/extractioncodes/FeatureExtractor.py:500-519) builds
``graycomatrix(img, [1], [0], symmetric=True, normed=True)`` and reads the
four ``graycoprops`` scalars per compartment. The 1-D sequence analog pairs
each quantized value with its offset-1 neighbor per entity (the existing
lag pairing, window_features.with_lag_lead), symmetrizes, histograms the
pairs, and evaluates the closed forms:

    P(i,j)      = c(i,j) / n                (normed co-occurrence matrix)
    contrast    = Σ P·(i−j)²
    homogeneity = Σ P / (1+(i−j)²)          (inverse difference moment)
    energy      = sqrt(Σ P²)
    correlation = Σ P·(i−μ)(j−μ) / σ²       (symmetric ⇒ μi=μj, σi=σj;
                                             σ²=0 ⇒ 1.0, skimage convention)

Plan shape (scale notes): one window exchange+sort on the entity key for
the lag, one combinable groupBy on (entity, i, j) — map-side partial
aggregation collapses each partition to ≤ levels² rows per entity before
the shuffle — then a tiny per-entity aggregate. All moment sums except
homogeneity are INTEGER-exact (counts × integer levels), so correlation's
σ²≤0 test and the contrast/energy ratios are bit-deterministic across
engines; the products are computed in decimal(38,0) so a hot entity with
up to ~10¹⁸ pairs cannot overflow long.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_DEC = "decimal(38,0)"


def quantize_level(value: Column | str, levels: int = 16) -> Column:
    """floor(value) folded into [0, levels) — the uint8 gray-level
    quantization (FeatureExtractor.py:509 ``(gray*255).astype(uint8)``)
    for an unbounded double axis. pmod keeps negatives in range."""
    v = F.col(value) if isinstance(value, str) else value
    return F.pmod(F.floor(v).cast("int"), F.lit(levels)).cast("int")


def glcm_pairs(
    df: DataFrame,
    level: str,
    keys: Sequence[str],
    order: Sequence[str],
    offset: int = 1,
) -> DataFrame:
    """(entity, i, j) offset-``offset`` neighbor pairs, each doubled with
    its mirror — exactly ``graycomatrix(..., [offset], symmetric=True)``
    (the reference fixes offset=1; skimage generalizes to a distance list
    — call once per distance, the window sort is shared by Catalyst when
    composed in one plan)."""
    w = Window.partitionBy(*keys).orderBy(*order)
    pr = (
        df.select(
            *keys,
            F.lag(level, offset).over(w).alias("_i"),
            F.col(level).alias("_j"),
        )
        .filter(F.col("_i").isNotNull())
    )
    return pr.select(
        *keys,
        F.explode(
            F.array(
                F.struct(F.col("_i").alias("i"), F.col("_j").alias("j")),
                F.struct(F.col("_j").alias("i"), F.col("_i").alias("j")),
            )
        ).alias("p"),
    ).select(*keys, "p.i", "p.j")


def glcm_texture(
    df: DataFrame,
    level: str,
    keys: Sequence[str],
    order: Sequence[str],
    offset: int = 1,
) -> DataFrame:
    """Per-entity GLCM texture stats from an integer level column.

    Output: keys + (contrast, homogeneity, energy, correlation), matching
    skimage ``graycoprops`` closed forms (FeatureExtractor.py:512-517).
    Entities with <2 ordered rows produce no pairs and are absent, like the
    reference's empty-compartment skip (:516-517 zero-fills only NaN stats
    of *present* compartments).
    """
    pairs = glcm_pairs(df, level, keys, order, offset=offset)
    hist = pairs.groupBy(*keys, "i", "j").agg(F.count("*").alias("c"))

    # products in decimal(38,0) INSIDE the aggregate: c*c in long would
    # overflow (ANSI error) once a co-occurrence cell passes ~3·10⁹ —
    # the decimal cast must happen before the multiply, not after the
    # sum. Runs over ≤ levels² rows per entity, so the decimal math is
    # off the hot path. Expressions assembled as SQL strings (ONE
    # py4j/parse round trip each — the Column-operator form cost ~0.25 s
    # of driver-side build per invocation, r06 profile); casts/literals
    # (`1.0D`, BIGINT, decimal(38,0)) mirror the previous Column tree
    # type-for-type, so the decimal math is unchanged.
    i, j = "CAST(i AS BIGINT)", "CAST(j AS BIGINT)"
    d2 = f"(({i} - {j}) * ({i} - {j}))"
    cd, id_, jd = (
        f"CAST(c AS {_DEC})",
        f"CAST({i} AS {_DEC})",
        f"CAST({j} AS {_DEC})",
    )
    agg = hist.groupBy(*keys).agg(
        F.expr("sum(c) AS _n"),
        F.expr(f"sum({cd} * CAST({d2} AS {_DEC})) AS _sij2"),
        F.expr(
            f"sum(CAST(c AS DOUBLE) / (1.0D + CAST({d2} AS DOUBLE))) AS _shom"
        ),
        F.expr(f"sum({cd} * {cd}) AS _s2"),
        F.expr(f"sum({cd} * {id_}) AS _si"),
        F.expr(f"sum({cd} * {id_} * {id_}) AS _sii"),
        F.expr(f"sum({cd} * {id_} * {jd}) AS _sij"),
    )

    n = "CAST(_n AS DOUBLE)"
    nd = f"CAST(_n AS {_DEC})"
    sid = f"CAST(_si AS {_DEC})"
    var_num = f"({nd} * CAST(_sii AS {_DEC}) - {sid} * {sid})"  # n²σ², exact
    cov_num = f"({nd} * CAST(_sij AS {_DEC}) - {sid} * {sid})"  # n²cov, exact
    return agg.select(
        *keys,
        F.expr(f"CAST(_sij2 AS DOUBLE) / {n} AS contrast"),
        F.expr(f"_shom / {n} AS homogeneity"),
        F.expr(f"sqrt(CAST(_s2 AS DOUBLE)) / {n} AS energy"),
        F.expr(
            f"CASE WHEN {var_num} <= 0 THEN 1.0D"
            f" ELSE CAST({cov_num} AS DOUBLE) / CAST({var_num} AS DOUBLE)"
            f" END AS correlation"
        ),
    )
