"""The flagship end-to-end pipeline: point-in-time feature materialization
over the tokenized-sequence table.

Per-row feature vector (FIXTURES.md §B `features_rowlevel`):
  multi-horizon rolling mean/std/min/max of n_tok (k ∈ roll_ks), lag/lead
  at several offsets, gap to previous row, gap-based session id, distance
  to the nearest session boundary, the as-of joined state_val from the
  `states` dimension (zero leakage), its forward-fill, and native
  token-payload stats (tok_min/tok_max) — plus, in enriched-rows mode, the
  UNTOUCHED `tokens` payload (byte-equality invariant).

Physical shape (deliberate, see .explain in tests and BASELINE.md):
  1. scan — token stats extracted AT SCAN TIME with native array
     functions (no interpreted lambda; payload bytes never leave the scan
     operator in narrow mode, and parquet column pruning skips them
     entirely when carry_payload=False and token features are disabled).
  2. as-of join FIRST, while the row is narrow: the grid strategy
     (states is a dim table) = ZERO extra shuffle; its union fallback
     shuffles only the narrow pre-feature row.
  3. ONE hash exchange on doc_id + in-partition sort by ts, then every
     window feature (lags, all rolling horizons, sessionization,
     boundary distance, forward-fill) rides that single sorted pass —
     ordering the as-of before the windows is what keeps it one exchange.

Reference parity: the whole ExpandedGranular lifecycle
(FeatureExtractor.py §3.1 — fetch→filter→per-element features→aggregate→
sink) re-expressed as one declarative DataFrame lineage; K4 write-back =
the narrow (doc_id, seq_idx)-keyed output MERGEd onto the payload table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from combinedfeatureextraction_spark.operators.asof import asof_join
from combinedfeatureextraction_spark.operators.fill import (
    distance_to_boundary,
    forward_fill,
)
from combinedfeatureextraction_spark.operators.sessionize import sessionize
from combinedfeatureextraction_spark.operators.window_features import (
    with_lag_lead,
    with_rolling_stats,
)
from combinedfeatureextraction_spark.operators.aggregates import (
    six_stat_hierarchy,
)

DEFAULT_ROLL_KS = (4, 16, 64)
DEFAULT_LAGS = (1, 2, 3)


def row_feature_columns(
    roll_ks: Sequence[int] = DEFAULT_ROLL_KS,
    lags: Sequence[int] = DEFAULT_LAGS,
) -> list[str]:
    cols = []
    for k in lags:
        cols += [f"n_tok_lag_{k}", f"n_tok_lead_{k}"]
    for k in roll_ks:
        cols += [f"roll{k}_{s}" for s in ("mean", "std", "min", "max")]
    cols += [
        "gap_prev",
        "session_id",
        "dist_to_boundary",
        "asof_state_val",
        "tok_min",
        "tok_max",
    ]
    return cols


ROW_FEATURES = row_feature_columns()


def rowlevel_features(
    sequences: DataFrame,
    states: DataFrame | None = None,
    gap_seconds: float = 3600.0,
    roll_ks: Sequence[int] = DEFAULT_ROLL_KS,
    lags: Sequence[int] = DEFAULT_LAGS,
    jumbo_n_tok: int = 4096,
    carry_payload: bool = True,
    token_stats: bool = True,
) -> DataFrame:
    """Materialize the per-row feature vector. Column contract is fixed.

    ``carry_payload=True``: tokens ride through untouched (byte-equality
    invariant verified in tests) — the "enriched rows" shape (reference
    write-back K4, FeatureExtractor.py:618-636).

    ``carry_payload=False`` — THE SHAPE TO RUN AT 100 TB: the output is a
    narrow feature table keyed (doc_id, seq_idx), merged back onto the
    payload table by key at write time (Iceberg MERGE INTO). The wide
    array column then never crosses a shuffle — measured 2-4× faster per
    core and markedly better N→4N scaling (payload shuffles are
    memory-bandwidth-bound, not CPU-bound).
    """
    keys = ["doc_id"]
    # 1. scan-side token stats (A7) via NATIVE array functions only:
    # interpreted higher-order lambdas (F.aggregate/F.transform) contend
    # across local executor threads — measured INVERSE 8→32 scaling.
    df = sequences
    if token_stats:
        df = df.withColumn(
            "tok_min", F.array_min("tokens").cast("double")
        ).withColumn("tok_max", F.array_max("tokens").cast("double"))
    if not carry_payload:
        # with token_stats=False this projection lets parquet column
        # pruning skip the payload bytes entirely (ReadSchema check in
        # tests/test_plans.py)
        df = df.select(
            "doc_id", "seq_idx", "ts", "n_tok", "source",
            *(["tok_min", "tok_max"] if token_stats else []),
        )

    # 2. as-of join while the row is still narrow (one wide row per probe
    # costs shuffle bytes ∝ #feature columns later)
    if states is not None:
        df = asof_join(
            df,
            states.withColumnRenamed("state_val", "asof_state_val"),
            keys=["source"],
            probe_ts="ts",
            build_ts="effective_ts",
            values=["asof_state_val"],
            strategy="grid",
        )

    # 3. single doc_id exchange + ts sort; every window feature pipelines
    # through that one sorted pass
    df = with_lag_lead(df, "n_tok", keys, ["ts"], offsets=tuple(lags))
    for k in roll_ks:
        df = with_rolling_stats(
            df, "n_tok", keys, ["ts"], preceding=k, following=0,
            stats=("mean", "std", "min", "max"), prefix=f"roll{k}",
        )
        # rename value-prefixed cols to the horizon-keyed contract
        for s in ("mean", "std", "min", "max"):
            df = df.withColumnRenamed(f"roll{k}_roll_{s}", f"roll{k}_{s}")
    df = sessionize(df, keys, "ts", gap_seconds)
    df = df.withColumnRenamed("_gap_prev", "gap_prev")
    # >= : same half-open boundary as sessionize (session_window parity)
    boundary = F.col("gap_prev").isNull() | (F.col("gap_prev") >= F.lit(gap_seconds))
    df = distance_to_boundary(df, boundary, keys, "ts")
    # jumbo-row bailout (F8 skew guard, extract_reference_features.py:447):
    # heavy derived stats nulled for outlier payloads, row still emitted
    for k in roll_ks:
        df = df.withColumn(
            f"roll{k}_std",
            F.when(F.col("n_tok") > jumbo_n_tok, F.lit(None)).otherwise(
                F.col(f"roll{k}_std")
            ),
        )
    if states is not None:
        df = forward_fill(df, "asof_state_val", keys, "ts", out="state_ffill")
    return df


def hierarchy_aggregates(features: DataFrame) -> DataFrame:
    """Per-(doc) and per-(doc, source) 6-stat rollup of the row features —
    the A1×A2-A5 two-level hierarchy in one GROUPING SETS pass."""
    numeric = ["n_tok", "gap_prev", "dist_to_boundary"]
    return six_stat_hierarchy(features, numeric, "doc_id", "source")
