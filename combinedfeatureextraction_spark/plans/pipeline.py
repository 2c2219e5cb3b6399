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
  3. ONE hash exchange on doc_id + in-partition sort by ts, then TWO
     window phases over that one (doc_id ORDER BY ts) window, each a
     single projection built from SQL text (the operator modules' own
     feature text, so the public operators and this plan cannot diverge):
       phase 1 — lags/leads, rolling mean/std/min/max of every horizon
                 (jumbo-row NULL folded into std), gap_prev;
       phase 2 — session_id, dist_to_boundary (both read gap_prev, so
                 they cannot join phase 1) and state_ffill.
     Each phase is one Window operator; ordering the as-of before the
     windows is what keeps it one exchange.

Reference parity: the whole ExpandedGranular lifecycle
(FeatureExtractor.py §3.1 — fetch→filter→per-element features→aggregate→
sink) re-expressed as one declarative DataFrame lineage; K4 write-back =
the narrow (doc_id, seq_idx)-keyed output MERGEd onto the payload table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from combinedfeatureextraction_spark.operators.asof import asof_join
from combinedfeatureextraction_spark.operators.fill import (
    distance_to_boundary_sql,
    forward_fill_sql,
)
from combinedfeatureextraction_spark.operators.sessionize import (
    gap_prev_sql,
    session_boundary_sql,
    session_id_sql,
)
from combinedfeatureextraction_spark.operators.window_features import (
    lag_lead_sql,
    over_sql,
    rolling_sql,
    rows_frame_sql,
    sql_ident,
    with_sql_columns,
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
    keys, order = ["doc_id"], ["ts"]
    # 1. scan-side token stats (A7) via NATIVE array functions only:
    # interpreted higher-order lambdas (F.aggregate/F.transform) contend
    # across local executor threads — measured INVERSE 8→32 scaling.
    tok = {
        f"tok_{s}": f"CAST(array_{s}(`tokens`) AS DOUBLE)" for s in ("min", "max")
    } if token_stats else {}
    if carry_payload:
        df = with_sql_columns(sequences, tok)
    else:
        # with token_stats=False this projection lets parquet column
        # pruning skip the payload bytes entirely (ReadSchema check in
        # tests/test_plans.py)
        df = sequences.selectExpr(
            "doc_id", "seq_idx", "ts", "n_tok", "source",
            *(f"{e} AS {sql_ident(c)}" for c, e in tok.items()),
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

    # 3. single doc_id exchange + ts sort; both window phases pipeline
    # through that one sorted pass
    over = over_sql(keys, order)
    phase1 = {}
    for k in lags:
        phase1[f"n_tok_lag_{k}"], phase1[f"n_tok_lead_{k}"] = lag_lead_sql(
            "n_tok", k, over
        )
    for k in roll_ks:
        over_k = over_sql(keys, order, rows_frame_sql(k, 0))
        for s in ("mean", "std", "min", "max"):
            phase1[f"roll{k}_{s}"] = rolling_sql(s, "n_tok", over_k)
        # jumbo-row bailout (F8 skew guard, extract_reference_features.py:
        # 447): heavy derived stats nulled for outlier payloads, row still
        # emitted
        phase1[f"roll{k}_std"] = (
            f"CASE WHEN `n_tok` > {int(jumbo_n_tok)} THEN NULL"
            f" ELSE {phase1[f'roll{k}_std']} END"
        )
    phase1["gap_prev"] = gap_prev_sql(keys, "ts")
    df = with_sql_columns(df, phase1)
    # phase 2 reads phase 1's gap_prev, so it is the second Window
    phase2 = {
        "session_id": session_id_sql("gap_prev", keys, "ts", gap_seconds),
        "dist_to_boundary": distance_to_boundary_sql(
            session_boundary_sql("gap_prev", gap_seconds), keys, "ts"
        ),
    }
    if states is not None:
        phase2["state_ffill"] = forward_fill_sql("asof_state_val", keys, "ts")
    return with_sql_columns(df, phase2)
