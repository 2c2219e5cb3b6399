"""Array-payload column expressions: bbox, payload sums, dot/cosine,
shoelace area, payload digests. All JVM-side higher-order functions —
zero Python in the hot path (the reference's per-pixel loop,
extraction_utils/PAS_deconvolution.py:67-89, is the anti-pattern these
exist to kill).

Reference analogs (SURVEY.md A6/A7/X8/F10):
 - bbox min/max over a points array (FeatureExtractor.py:295-298)
 - payload-mass sums (`np.sum(mask)`, FeatureExtractor.py:388,530-538)
 - shoelace area (`cv2.contourArea`, extract_reference_features.py:391)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def bbox(col: Column | str) -> Column:
    """struct(lo, hi) = array_min/max (A6). Parquet/Iceberg column stats
    give the persisted form of this for free (zone-map analog)."""
    c = _c(col)
    return F.struct(F.array_min(c).alias("lo"), F.array_max(c).alias("hi"))


def payload_sum(col: Column | str) -> Column:
    """Σ tokens — mask-mass analog (A7). Left-fold in array order →
    deterministic for float payloads too."""
    return F.aggregate(_c(col), F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential left-fold dot product (deterministic summation order —
    matches a single-threaded numpy/DuckDB oracle bit-for-bit closer than
    tree reduction)."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column | str) -> Column:
    c = _c(a)
    return F.sqrt(
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine_fixed(a: str, b: str, dim: int) -> Column:
    """Cosine similarity for KNOWN-dim vectors as one unrolled SQL
    expression — bitwise-identical summation order to ``cosine`` (left
    fold) but pure codegen: interpreted higher-order lambdas contend
    across local[32] threads (measured 45 µs/row in the LSH re-rank),
    while ~3·dim unrolled terms compile in milliseconds and scale
    linearly. Use in hot paths where dim is part of the operator config
    (ANN re-rank); ``cosine`` remains the dim-agnostic general form."""
    dot = " + ".join(
        f"CAST({a}[{k}] AS DOUBLE) * CAST({b}[{k}] AS DOUBLE)"
        for k in range(dim)
    )
    na = " + ".join(
        f"CAST({a}[{k}] AS DOUBLE) * CAST({a}[{k}] AS DOUBLE)"
        for k in range(dim)
    )
    nb = " + ".join(
        f"CAST({b}[{k}] AS DOUBLE) * CAST({b}[{k}] AS DOUBLE)"
        for k in range(dim)
    )
    return F.expr(
        f"CASE WHEN sqrt({na}) * sqrt({nb}) = 0 THEN 0.0 "
        f"ELSE ({dot}) / (sqrt({na}) * sqrt({nb})) END"
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    """cosine similarity; 0 when either norm is 0 (NaN-coalesce discipline,
    FeatureExtractor.py:611-614)."""
    num = dot(a, b)
    den = l2_norm(a) * l2_norm(b)
    return F.when(den == 0, F.lit(0.0)).otherwise(num / den)


def shoelace_area(xs: Column | str, ys: Column | str) -> Column:
    """|Σ xᵢ·yᵢ₊₁ − xᵢ₊₁·yᵢ| / 2 over closed polygon arrays (X8,
    `cv2.contourArea`)."""
    x, y = _c(xs), _c(ys)
    n = F.size(x)
    x2 = F.concat(F.slice(x, 2, n - 1), F.slice(x, 1, 1))
    y2 = F.concat(F.slice(y, 2, n - 1), F.slice(y, 1, 1))
    cross = F.zip_with(
        F.zip_with(x, y2, lambda a, b: a.cast("double") * b.cast("double")),
        F.zip_with(x2, y, lambda a, b: a.cast("double") * b.cast("double")),
        lambda p, q: p - q,
    )
    return F.abs(F.aggregate(cross, F.lit(0.0), lambda acc, v: acc + v)) / 2


def payload_digest(col: Column | str) -> Column:
    """Position-weighted integer digest of a float array:
    Σᵢ round(xᵢ·10⁶)·i (1-based i), as BIGINT. Order-sensitive scalar
    proxy for byte equality that an ANSI-SQL oracle can reproduce exactly
    (DuckDB: list_sum(list_transform(a, (x,i) -> CAST(round(x*1e6) AS
    BIGINT) * i)) — DuckDB's lambda index is 1-based, hence i+1 here).
    Unlike xxhash64 it is engine-portable; unlike a plain sum it detects
    permutations. Used to make array-payload queries hashable by the
    driver's comparator (raw arrays are unhashable there)."""
    terms = F.transform(
        _c(col),
        lambda x, i: F.round(x.cast("double") * 1e6, 0).cast("long") * (i + F.lit(1)),
    )
    return F.aggregate(terms, F.lit(0).cast("long"), lambda a, x: a + x)
