"""Point-in-time (as-of) join — the engine's flagship operator.

Reference analog (SURVEY.md J1): the spatial-containment probe — each
element matched against the most-specific enclosing region state
(`medulla_path.contains_points(points)`, extract_reference_features.py:
110-133,397-400) — generalized to the temporal axis: each probe row is
matched to the most recent build row with ``build.ts <= probe.ts`` for the
same key. Zero temporal leakage by construction: no build row with
``ts > probe.ts`` can ever influence the output (verified by
tests/test_pipeline_golden.py::test_zero_temporal_leakage).

Two physical strategies, one logical semantics:

 - ``union`` (default): tag build rows 0 / probe rows 1, UNION ALL, then
   ``last(value, ignorenulls=True)`` over a window partitioned by key and
   ordered by (ts, tag). ONE shuffle, no UDF, whole-stage codegen
   end-to-end; the partition sort is the "sorted-merge" — this is the plan
   you want at 100 TB because it never materializes a join hash table and
   AQE can split skewed partitions of the sort. Salting (``salt`` > 1,
   union only): hot Zipf keys are split across ``salt`` sub-partitions —
   build rows replicated to every salt, probe rows hashed to one —
   bounding the largest sort partition at 1/salt of the hot key. Same
   results, verified in tests.

 - ``grid``: the dim-sized build side is compiled on the driver into a
   dense (key × time-bucket) index, broadcast-joined to the probe and
   resolved by a codegen'd CASE cascade — zero shuffles. Falls back to
   ``union`` when the build side is too large, too dense or too sparse
   for the index; the only strategy with a streaming form
   (streaming.enrich).
"""

from __future__ import annotations

import weakref
from collections.abc import Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from combinedfeatureextraction_spark.functions.timeutil import (
    epoch_seconds,
    epoch_seconds_sql,
)
from combinedfeatureextraction_spark.operators.window_features import (
    double_sql,
    sql_ident,
    with_sql_columns,
)

_TAG = "__cfe_tag"
_SALT = "__cfe_salt"


def asof_join(
    probe: DataFrame,
    build: DataFrame,
    keys: Sequence[str],
    probe_ts: str = "ts",
    build_ts: str = "ts",
    values: Sequence[str] | None = None,
    allow_exact_matches: bool = True,
    tolerance_seconds: float | None = None,
    strategy: str = "union",
    salt: int = 1,
) -> DataFrame:
    """As-of join: probe row → most recent build values with
    build_ts <= probe_ts (or < when allow_exact_matches=False), per key.

    Output: all probe columns + one column per entry of ``values`` (NULL
    when no build row qualifies). ``tolerance_seconds`` additionally nulls
    matches older than the tolerance (pd.merge_asof semantics).
    ``strategy`` is ``union`` or ``grid``; ``salt`` applies to ``union``
    only.

    STATIC-BUILD CONTRACT (``grid`` strategy): the grid snapshots the
    whole dim via toPandas at plan construction, so the build source must
    not gain rows between constructing and executing the join. The
    bounded pull re-validates the row count against the cap on every
    construction (falling back to the shuffle plan). ``union`` takes no
    snapshot and carries no such assumption.
    """
    keys = list(keys)
    values = list(values) if values else [
        c for c in build.columns if c not in set(keys) | {build_ts}
    ]
    if strategy == "grid":
        return _asof_grid(
            probe, build, keys, probe_ts, build_ts, values,
            allow_exact_matches, tolerance_seconds,
        )
    if strategy != "union":
        raise ValueError(f"unknown asof strategy: {strategy}")
    return _asof_union(
        probe, build, keys, probe_ts, build_ts, values,
        allow_exact_matches, tolerance_seconds, salt,
    )


_GRID_K = 4  # max in-bucket ticks carried as fixed columns
_GRID_MAX_BUILD = 500_000  # build rows beyond this → fall back to union
_GRID_MAX_CELLS = 1 << 22  # dense (key × bucket) grid cap (~4M rows)
_GRID_DENSE_BUDGET = 1 << 17  # cost model: dense cells worth broadcasting

# build DataFrames already proven over the cap: a too-large build side
# probed by many plan constructions (e.g. a stream restarted, or repeated
# enrich construction) must not re-pull cap+1 rows per construction.
# Only the NEGATIVE verdict is cached — an under-cap build is re-proved
# by every grid pull, so a dim-table append between constructions never
# rides a stale answer into the grid build.
_GRID_OVER_CAP: "weakref.WeakSet[DataFrame]" = weakref.WeakSet()


def _asof_grid(
    probe: DataFrame,
    build: DataFrame,
    keys: list[str],
    probe_ts: str,
    build_ts: str,
    values: list[str],
    allow_exact_matches: bool,
    tolerance_seconds: float | None,
) -> DataFrame:
    """Time-grid-indexed broadcast as-of — the fastest small-build path.

    Driver-side (the build side is a dim table by assumption) the tick
    history is compiled onto a DENSE time grid per key: one row per
    (key, bucket) holding the carry-in state (last tick strictly before
    the bucket) plus up to K in-bucket ticks as fixed (t_i, v_i…) columns
    (bucket width is doubled until no bucket holds > K ticks). Probe rows
    compute ``bucket = clamp(floor(ts/Δ))``, broadcast-hash-join on
    (key, bucket), and resolve the match with a codegen'd CASE cascade —
    O(1) per probe row, ZERO interpreted lambdas (F.filter over an array
    per row measured ~2µs/row AND thread-contended), ZERO shuffles.
    """
    import numpy as np

    spark = probe.sparkSession

    def fallback(reason: str) -> DataFrame:
        # a streaming probe cannot run the union plan (stream-batch union
        # + global window → opaque AnalysisException): it gets the
        # documented error instead
        if probe.isStreaming:
            raise ValueError(
                f"_asof_grid: build side is not grid-indexable ({reason}); "
                "the union fallback is unavailable here — supply a "
                "dim-sized, bounded-density build side"
            )
        return _asof_union(
            probe, build, keys, probe_ts, build_ts, values,
            allow_exact_matches, tolerance_seconds, salt=1,
        )

    # size guard FOLDED INTO the pull (r04-verdict item 4): a known-fat
    # build (cached negative verdict) short-circuits without any job;
    # otherwise ONE bounded limit(cap+1) pull both fetches the grid input
    # and proves the cap — cap+1 rows in the result demonstrates overflow
    # without ever materializing the whole table on the driver, so a
    # misused non-dim build side costs at most cap+1 rows of driver
    # memory before it gets the shuffle plan.
    if build in _GRID_OVER_CAP:
        return fallback(f"more than {_GRID_MAX_BUILD} build rows")
    pdf = (
        # epoch seconds computed SPARK-side: pandas datetime64 unit (ns vs
        # µs) would silently shift the grid otherwise
        build.selectExpr(
            *map(sql_ident, keys),
            f"{epoch_seconds_sql(sql_ident(build_ts))} AS `_ts`",
            *map(sql_ident, values),
        )
        .limit(_GRID_MAX_BUILD + 1)
        .toPandas()
    )
    if len(pdf) > _GRID_MAX_BUILD:
        try:
            _GRID_OVER_CAP.add(build)
        except TypeError:  # unweakrefable wrapper — no cache
            pass
        return fallback(f"more than {_GRID_MAX_BUILD} build rows")
    pdf = pdf.sort_values("_ts", kind="mergesort")
    if pdf.empty:
        out = probe
        for v in values:
            out = out.withColumn(v, F.lit(None).cast(build.schema[v].dataType))
        return out
    pdf = pdf.reset_index(drop=True)
    ep = pdf["_ts"].to_numpy(dtype=np.float64)
    lo, hi = float(ep.min()), float(ep.max())
    span = max(hi - lo, 1.0)
    key_ids = pdf.groupby(list(keys), sort=False).ngroup().to_numpy()
    n_keys = int(key_ids.max()) + 1
    # SMALLEST bucket count with ≤ K ticks per (key, bucket): start near
    # the information-theoretic floor and DOUBLE until satisfied (starting
    # big and shrinking would trivially accept a huge dense grid — that
    # bug cost 288 s on a 20k-tick build side)
    n_buckets = max(8, len(pdf) // max(n_keys, 1) // _GRID_K)
    while True:
        delta = span / n_buckets
        b = np.minimum((ep - lo) / delta, n_buckets - 1).astype(np.int64)
        combo = key_ids * np.int64(n_buckets + 1) + b
        _, counts = np.unique(combo, return_counts=True)
        if (
            counts.max() <= _GRID_K
            or n_buckets >= 1 << 18
            or n_keys * (n_buckets * 2) > _GRID_MAX_CELLS
        ):
            break
        n_buckets *= 2
    if counts.max() > _GRID_K:
        # too dense for the grid index (duplicate-heavy ticks or the cell
        # cap was hit) — the shuffle plan is the safe answer, not an error
        return fallback(
            f"tick density exceeds {_GRID_K} per minimal bucket "
            f"(or the {_GRID_MAX_CELLS}-cell grid cap)"
        )
    # COST-BASED bailout (r06): the dense grid materializes
    # n_keys × n_buckets cells however sparse the ticks are. When keys
    # are many and their histories thin (cells ≫ ticks), compiling and
    # broadcasting the dense frame costs more than the union shuffle it
    # avoids — measured 6.0 s (grid, 1.92M cells / 200k ticks / 15k
    # keys) vs 0.75 s (union) on 1M probes at local[32]. Budget: cells
    # beyond 2× the tick count AND beyond _GRID_DENSE_BUDGET (≈10 MB of
    # grid slots, the sane-broadcast neighborhood) take the shuffle
    # plan. Only a COST choice, so it never applies where the union
    # fallback is unavailable (streaming probe — there the dense grid is
    # the contract and size is governed by the feasibility caps alone).
    if (
        not probe.isStreaming
        and n_keys * n_buckets > max(_GRID_DENSE_BUDGET, 2 * len(pdf))
    ):
        return _asof_union(
            probe, build, keys, probe_ts, build_ts, values,
            allow_exact_matches, tolerance_seconds, salt=1,
        )
    b_lo, b_hi = 0, int(b.max())

    # vectorized dense-grid construction (no per-row python):
    # rank ticks within (key, bucket), pivot to K tick-slot columns,
    # reindex to the dense (key × bucket) grid, forward-fill the carry
    work = pdf.assign(_kid=key_ids, _b=b)
    work["_r"] = work.groupby(["_kid", "_b"], sort=False).cumcount()
    wide = work.pivot(index=["_kid", "_b"], columns="_r", values=["_ts", *values])
    dense_idx = pd.MultiIndex.from_product(
        [range(n_keys), range(b_lo, b_hi + 1)], names=["_kid", "_b"]
    )
    dense = wide.reindex(dense_idx)
    grid_pdf = pd.DataFrame(index=dense_idx)
    for i in range(_GRID_K):
        grid_pdf[f"_t{i}"] = (
            dense[("_ts", i)] if ("_ts", i) in dense.columns else np.nan
        )
        for v in values:
            grid_pdf[f"_x{i}_{v}"] = (
                dense[(v, i)] if (v, i) in dense.columns else None
            )
    # carry = the most recent tick ROW from any earlier bucket, per key.
    # Positional last (drop_duplicates keep='last' on the ts-sorted frame —
    # groupby.last() skips NaN and would stitch the carry from different
    # ticks) and whole-row propagation (per-column ffill would leak an
    # older non-NULL value past a genuinely-NULL tick value).
    last_in_bucket = work.drop_duplicates(["_kid", "_b"], keep="last").set_index(
        ["_kid", "_b"]
    )
    last_dense = last_in_bucket.reindex(dense_idx)
    shifted = last_dense.groupby(level="_kid").shift(1)
    is_tick = shifted["_ts"].notna()
    tick_no = is_tick.groupby(level="_kid").cumsum()
    ticks = shifted.loc[is_tick, ["_ts", *values]].copy()
    ticks["_c"] = tick_no[is_tick]
    carry = (
        pd.DataFrame({"_c": tick_no}, index=dense_idx)
        .reset_index()
        .merge(
            ticks.reset_index()[["_kid", "_c", "_ts", *values]],
            on=["_kid", "_c"],
            how="left",
            sort=False,
        )
    )
    grid_pdf["_carry_ts"] = carry["_ts"].values
    for v in values:
        grid_pdf[f"_carry_{v}"] = carry[v].values
    grid_pdf = grid_pdf.reset_index().rename(columns={"_b": "_bucket"})
    kid_keys = work[["_kid", *keys]].drop_duplicates("_kid")
    grid_pdf = grid_pdf.merge(kid_keys, on="_kid", how="left").drop(columns=["_kid"])
    # object-typed value slots: NaN → None for Spark conversion
    grid_pdf = grid_pdf.where(pd.notna(grid_pdf), None)
    grid_pdf["_bucket"] = grid_pdf["_bucket"].astype("int64")
    # build explicit schema: key cols from build, doubles for ts, value types
    fields = [build.schema[k] for k in keys]
    fields.append(T.StructField("_bucket", T.LongType(), False))
    fields.append(T.StructField("_carry_ts", T.DoubleType(), True))
    for v in values:
        fields.append(T.StructField(f"_carry_{v}", build.schema[v].dataType, True))
    for i in range(_GRID_K):
        fields.append(T.StructField(f"_t{i}", T.DoubleType(), True))
        for v in values:
            fields.append(
                T.StructField(f"_x{i}_{v}", build.schema[v].dataType, True)
            )
    grid = spark.createDataFrame(
        grid_pdf[[f.name for f in fields]], schema=T.StructType(fields)
    )

    # the probe-side tail as SQL text: bucket, then ONE projection per
    # CASE cascade (no per-node Column round trips)
    pts = epoch_seconds_sql(sql_ident(probe_ts))
    bucket = (
        f"least(greatest(CAST(floor(({pts} - {double_sql(lo)})"
        f" / {double_sql(delta)}) AS BIGINT), {b_lo}), {b_hi})"
    )
    joined = with_sql_columns(probe, {"_bucket": bucket}).join(
        F.broadcast(grid), keys + ["_bucket"], "left"
    )
    op = "<=" if allow_exact_matches else "<"

    def last_hit(carry: str, slots: list[str]) -> str:
        # slot i of the last in-bucket tick t_i (op) probe ts, else carry
        expr = sql_ident(carry)
        for i, slot in enumerate(slots):
            t = sql_ident(f"_t{i}")
            expr = (
                f"CASE WHEN {t} IS NOT NULL AND {t} {op} {pts}"
                f" THEN {sql_ident(slot)} ELSE {expr} END"
            )
        return expr

    # matched tick ts: last eligible in-bucket tick, else carry
    tick_cols = [f"_t{i}" for i in range(_GRID_K)]
    out = with_sql_columns(joined, {"_m_ts": last_hit("_carry_ts", tick_cols)})
    stale = (
        f"({pts} - `_m_ts`) > {double_sql(tolerance_seconds)}"
        if tolerance_seconds is not None
        else "false"
    )
    out = with_sql_columns(out, {
        v: f"CASE WHEN `_m_ts` IS NULL OR {stale} THEN NULL ELSE "
        + last_hit(f"_carry_{v}", [f"_x{i}_{v}" for i in range(_GRID_K)])
        + " END"
        for v in values
    })
    drop = (
        ["_bucket", "_m_ts", "_carry_ts"]
        + [f"_carry_{v}" for v in values]
        + [f"_t{i}" for i in range(_GRID_K)]
        + [f"_x{i}_{v}" for i in range(_GRID_K) for v in values]
    )
    return out.drop(*drop)


def _asof_union(
    probe: DataFrame,
    build: DataFrame,
    keys: list[str],
    probe_ts: str,
    build_ts: str,
    values: list[str],
    allow_exact_matches: bool,
    tolerance_seconds: float | None,
    salt: int,
) -> DataFrame:
    ts_col = "__cfe_ts"
    pack = "__cfe_pack"
    probe_cols = probe.columns
    # at equal ts: build sorts BEFORE probe when exact matches are allowed
    build_tag, probe_tag = (0, 1) if allow_exact_matches else (1, 0)

    # the matched build ROW travels as ONE struct (ts + values): filling the
    # struct with last(ignorenulls) and projecting fields afterwards keeps a
    # matched-but-NULL build value NULL instead of leaking the previous
    # non-NULL value forward (merge_asof row semantics) — per-column fills
    # diverge from the grid strategy and pd.merge_asof on NULL build values.
    pack_type = T.StructType(
        [T.StructField("_bts", T.DoubleType(), True)]
        + [T.StructField(v, build.schema[v].dataType, True) for v in values]
    )
    b = build.select(
        *keys,
        F.col(build_ts).alias(ts_col),
        F.lit(build_tag).alias(_TAG),
        F.struct(
            epoch_seconds(build_ts).alias("_bts"),
            *[F.col(v).alias(v) for v in values],
        ).alias(pack),
    )
    # carry probe payload columns as nulls on the build side and vice versa
    payload = [c for c in probe_cols if c not in keys and c != probe_ts]
    for c in payload:
        b = b.withColumn(c, F.lit(None).cast(probe.schema[c].dataType))
    p = probe.select(
        *keys,
        F.col(probe_ts).alias(ts_col),
        F.lit(probe_tag).alias(_TAG),
        F.lit(None).cast(pack_type).alias(pack),
        *[F.col(c) for c in payload],
    )
    u = p.unionByName(b)

    if salt > 1:
        # replicate build rows to every salt bucket; probe rows pick one
        # deterministic bucket — each (key, salt) partition sees the full
        # build history, so results are identical to the unsalted plan.
        u = u.withColumn(
            _SALT,
            F.when(
                F.col(_TAG) == probe_tag,
                F.pmod(F.xxhash64(F.col(ts_col), *[F.col(k) for k in keys]), F.lit(salt)),
            ),
        ).withColumn(
            _SALT,
            F.explode(
                F.when(
                    F.col(_SALT).isNull(),
                    F.sequence(F.lit(0), F.lit(salt - 1)).cast("array<long>"),
                ).otherwise(F.array(F.col(_SALT)))
            ),
        )
        part = keys + [_SALT]
    else:
        part = keys

    # tag values already encode exact-match semantics: at equal ts the build
    # row sorts before the probe iff exact matches are allowed. Duplicate
    # build rows at identical (key, ts) are the caller's ambiguity to dedupe
    # (as with pd.merge_asof).
    w = (
        Window.partitionBy(*part)
        .orderBy(F.col(ts_col).asc(), F.col(_TAG).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = (
        u.withColumn(pack, F.last(pack, ignorenulls=True).over(w))
        .filter(F.col(_TAG) == probe_tag)
    )
    m = F.col(pack)
    if tolerance_seconds is not None:
        stale = (epoch_seconds(ts_col) - m["_bts"]) > F.lit(
            float(tolerance_seconds)
        )
        m = F.when(stale, F.lit(None).cast(pack_type)).otherwise(m)
        out = out.withColumn(pack, m)
        m = F.col(pack)
    for v in values:
        out = out.withColumn(v, m[v])
    return out.select(
        *keys, F.col(ts_col).alias(probe_ts), *payload, *values
    )
