"""Hierarchical aggregates: the per-class / per-entity 6-stat rollup.

Reference analogs (SURVEY.md §2.4):
 - 6-stat aggregate (A1): for every feature column Sum/Mean/Std/Median/
   Min/Max via numpy nan-aggregates, NaN/Inf→0
   (FeatureExtractor.py:584-616; stat registry :587-594, coalesce :611-614).
   ``np.nanstd`` is POPULATION std → ``stddev_pop``; ``np.nanmedian`` →
   exact ``median`` (allclose parity with the reference).
 - per-class + per-slide hierarchy (A1 × A2-A5): expressed as GROUPING SETS
   ((entity), (entity, class)) so both levels come out of ONE pass —
   one shuffle, map-side partial aggregation for all algebraic stats.
 - weighted mean (A8): thickness = Σ(tᵢ·wᵢ)/Σwᵢ
   (extractioncodes/process_mc_features.py:108-115).
 - masked per-channel mean/std (A14): `nanmean(pixels[mask==c])`
   (FeatureExtractor.py:467-498) → avg(CASE WHEN mask THEN v END).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from combinedfeatureextraction_spark.functions.nansafe import nan_inf_to_zero
from combinedfeatureextraction_spark.operators.window_features import sql_ident

SIX_STATS = ("sum", "mean", "std", "median", "min", "max")


def _stat_exprs(feature: str) -> list[Column]:
    # assembled as SQL strings — ONE py4j/parse round trip per stat: the
    # Column-operator form (nan_inf_to_zero(agg).alias() × 6 per feature)
    # cost ~0.1 s of driver-side build per feature (r06 profile), paid on
    # every bench rep. `0.0D` / `double('Infinity')` keep literal types
    # identical to F.lit(0.0) / F.lit(float('inf')); duplicated aggregate
    # text dedups in planning exactly like the shared Column subtree did.
    q = sql_ident(feature)
    pairs = [
        ("sum", f"sum({q})"),
        ("mean", f"avg({q})"),
        ("std", f"stddev_pop({q})"),
        ("median", f"median({q})"),
        ("min", f"min({q})"),
        ("max", f"max({q})"),
    ]
    return [
        F.expr(
            f"CASE WHEN {e} IS NULL OR isnan({e})"
            f" OR {e} = double('Infinity') OR {e} = double('-Infinity')"
            f" THEN 0.0D ELSE {e} END AS {sql_ident(f'{feature}_{s}')}"
        )
        for s, e in pairs
    ]


def six_stat_agg(
    df: DataFrame,
    features: Sequence[str],
    group_cols: Sequence[str],
) -> DataFrame:
    """Flat 6-stat aggregate per group (A1)."""
    exprs: list[Column] = []
    for f in features:
        exprs.extend(_stat_exprs(f))
    return df.groupBy(*group_cols).agg(*exprs)


def six_stat_hierarchy(
    df: DataFrame,
    features: Sequence[str],
    entity: str,
    cls: str,
) -> DataFrame:
    """GROUPING SETS ((entity), (entity, cls)) 6-stat rollup — the
    per-class + per-slide two-level hierarchy in one shuffle. Adds
    ``grouping_level`` (0 = per-class row, 1 = per-entity row; cls is NULL
    on entity-level rows)."""
    exprs: list[Column] = []
    for f in features:
        exprs.extend(_stat_exprs(f))
    return (
        df.groupingSets([[entity], [entity, cls]], entity, cls)
        .agg(F.grouping(cls).cast("int").alias("grouping_level"), *exprs)
    )


def weighted_mean(
    df: DataFrame,
    value: str,
    weight: str,
    group_cols: Sequence[str],
    out: str = "wmean",
) -> DataFrame:
    """Σ(v·w)/Σw per group, 0 when Σw == 0 (A8)."""
    num = F.sum(F.col(value) * F.col(weight))
    den = F.sum(F.col(weight))
    return df.groupBy(*group_cols).agg(
        nan_inf_to_zero(
            F.when(den == 0, F.lit(0.0)).otherwise(num / den)
        ).alias(out)
    )


def masked_mean_std(
    df: DataFrame,
    value: str,
    group_cols: Sequence[str],
    masks: dict[str, Column],
) -> DataFrame:
    """Per-group mean/std of ``value`` restricted to each named mask
    predicate (A14). avg/stddev skip the NULLs the CASE produces — exactly
    numpy's masked `nanmean`/`nanstd` selection."""
    exprs: list[Column] = []
    for name, pred in masks.items():
        masked = F.when(pred, F.col(value))
        exprs.append(nan_inf_to_zero(F.avg(masked)).alias(f"{name}_mean"))
        exprs.append(nan_inf_to_zero(F.stddev_pop(masked)).alias(f"{name}_std"))
    return df.groupBy(*group_cols).agg(*exprs)


def long_format(
    agg: DataFrame,
    id_cols: Sequence[str],
    feature_stats: Sequence[str],
) -> DataFrame:
    """Wide 6-stat output → long (id…, feature, stat, value) via stack —
    the (entity, feature, stat, value) manifest shape (SURVEY §2.4 / K2).
    Unpivot is a zero-shuffle projection."""
    ids = list(id_cols)
    return agg.unpivot(
        ids, list(feature_stats), "feature_stat", "value"
    ).withColumn(
        "feature", F.regexp_extract("feature_stat", r"^(.*)_(\w+)$", 1)
    ).withColumn(
        "stat", F.regexp_extract("feature_stat", r"^(.*)_(\w+)$", 2)
    ).drop("feature_stat")
