"""Golden-fixture parity: the Spark pipeline must match the independent
numpy/pandas oracle allclose per entity×timestamp, tokens byte-equal, and
show zero temporal leakage (BASELINE.json north_rule)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from combinedfeatureextraction_spark.plans.pipeline import (
    ROW_FEATURES,
    rowlevel_features,
)

from tests.golden_oracle import rowlevel_oracle


def _sorted_pdf(df, cols):
    pdf = df.select("doc_id", "seq_idx", *cols).toPandas()
    return pdf.sort_values(["doc_id", "seq_idx"], kind="mergesort").reset_index(
        drop=True
    )


def test_rowlevel_allclose(spark, seqs_df, seqs_pdf, states_df, states_pdf):
    feat = rowlevel_features(seqs_df, states_df)
    got = _sorted_pdf(feat, ROW_FEATURES + ["state_ffill"])
    want = rowlevel_oracle(seqs_pdf, states_pdf).sort_values(
        ["doc_id", "seq_idx"], kind="mergesort"
    ).reset_index(drop=True)
    assert len(got) == len(want)
    for col in ROW_FEATURES + ["state_ffill"]:
        g = got[col].astype("float64").values
        w = want[col].astype("float64").values
        assert np.allclose(g, w, equal_nan=True, rtol=1e-9, atol=1e-9), col


def test_rowlevel_equals_operator_chain(spark, seqs_df, states_df):
    """The fused two-phase plan is exactly the chain of public operators
    (values, NULL/NaN places, column order and schema): both build from
    the same feature SQL text. A small jumbo threshold exercises the std
    NULL fold."""
    import pyspark.sql.functions as F

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

    gap, jumbo, keys = 3600.0, 200, ["doc_id"]
    fused = rowlevel_features(seqs_df, states_df, gap_seconds=gap, jumbo_n_tok=jumbo)

    df = seqs_df.withColumn(
        "tok_min", F.array_min("tokens").cast("double")
    ).withColumn("tok_max", F.array_max("tokens").cast("double"))
    df = asof_join(
        df, states_df.withColumnRenamed("state_val", "asof_state_val"),
        keys=["source"], probe_ts="ts", build_ts="effective_ts",
        values=["asof_state_val"], strategy="grid",
    )
    df = with_lag_lead(df, "n_tok", keys, ["ts"], offsets=(1, 2, 3))
    for k in (4, 16, 64):
        df = with_rolling_stats(
            df, "n_tok", keys, ["ts"], preceding=k, following=0,
            stats=("mean", "std", "min", "max"), prefix=f"roll{k}",
        )
        for s in ("mean", "std", "min", "max"):
            df = df.withColumnRenamed(f"roll{k}_roll_{s}", f"roll{k}_{s}")
    df = sessionize(df, keys, "ts", gap).withColumnRenamed("_gap_prev", "gap_prev")
    boundary = F.col("gap_prev").isNull() | (F.col("gap_prev") >= F.lit(gap))
    df = distance_to_boundary(df, boundary, keys, "ts")
    for k in (4, 16, 64):
        df = df.withColumn(
            f"roll{k}_std",
            F.when(F.col("n_tok") > jumbo, F.lit(None)).otherwise(F.col(f"roll{k}_std")),
        )
    chain = forward_fill(df, "asof_state_val", keys, "ts", out="state_ffill")

    assert fused.schema == chain.schema
    got, want = (
        d.withColumn("tokens", F.to_json("tokens")).toPandas()
        .sort_values(["doc_id", "seq_idx"], kind="mergesort").reset_index(drop=True)
        for d in (fused, chain)
    )
    assert got["roll4_std"].isna().any() and got["roll4_std"].notna().any()
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_tokens_byte_equal(spark, seqs_df, seqs_pdf, states_df):
    """The tokens payload must ride through the whole pipeline unmodified
    per row (input_hint invariant)."""
    feat = rowlevel_features(seqs_df, states_df)
    got = feat.select("doc_id", "seq_idx", "tokens").toPandas()
    got = got.sort_values(["doc_id", "seq_idx"], kind="mergesort").reset_index(
        drop=True
    )
    want = seqs_pdf.sort_values(["doc_id", "seq_idx"], kind="mergesort").reset_index(
        drop=True
    )
    assert len(got) == len(want)
    for a, b in zip(got["tokens"].values, want["tokens"].values):
        assert np.asarray(a, dtype=np.int32).tobytes() == np.asarray(
            b, dtype=np.int32
        ).tobytes()


def test_zero_temporal_leakage(spark, seqs_df, states_df):
    """Features at time t recomputed on the table truncated to ts <= t must
    be identical for every surviving row: no operator may look forward
    except the declared lead/next-boundary columns."""
    import pyspark.sql.functions as F

    cutoff = "2024-01-01 12:00:00"
    full = rowlevel_features(seqs_df, states_df)
    trunc = rowlevel_features(
        seqs_df.filter(F.col("ts") <= cutoff),
        states_df.filter(F.col("effective_ts") <= cutoff),
    )
    backward_cols = [
        c
        for c in ROW_FEATURES
        if not c.startswith("n_tok_lead_") and c != "dist_to_boundary"
    ]
    a = (
        full.filter(F.col("ts") <= cutoff)
        .select("doc_id", "seq_idx", *backward_cols)
        .toPandas()
        .sort_values(["doc_id", "seq_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    b = (
        trunc.select("doc_id", "seq_idx", *backward_cols)
        .toPandas()
        .sort_values(["doc_id", "seq_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    assert len(a) == len(b) and len(a) > 0
    for col in backward_cols:
        ga = a[col].astype("float64").values
        gb = b[col].astype("float64").values
        assert np.allclose(ga, gb, equal_nan=True), col


def test_generator_parallelism_invariance(spark, seqs_pdf):
    """Distributed generation must be independent of parallelism and equal
    to the local pandas generator (per-doc determinism contract)."""
    from combinedfeatureextraction_spark.sources.fixtures import sequences_spark

    got = (
        sequences_spark(spark, 40, seed=42, parallelism=7)
        .toPandas()
        .sort_values(["doc_id", "seq_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    want = seqs_pdf.sort_values(["doc_id", "seq_idx"], kind="mergesort").reset_index(
        drop=True
    )
    assert len(got) == len(want)
    assert (got["n_tok"].values == want["n_tok"].values).all()
    assert (got["ts"].values == want["ts"].values).all()
    for a, b in zip(got["tokens"].values, want["tokens"].values):
        assert np.array_equal(np.asarray(a), np.asarray(b))


def test_hierarchy_aggregates_nan_discipline(spark, seqs_df, states_df):
    """NaN/Inf→0 coalesce (FeatureExtractor.py:611-614): the aggregate
    output must never contain NaN/Inf — singleton groups give std 0, not
    NaN."""
    from combinedfeatureextraction_spark.operators.aggregates import (
        six_stat_hierarchy,
    )
    from combinedfeatureextraction_spark.plans.pipeline import rowlevel_features

    feat = rowlevel_features(seqs_df, states_df)
    numeric = ["n_tok", "gap_prev", "dist_to_boundary"]
    agg = six_stat_hierarchy(feat, numeric, "doc_id", "source").toPandas()
    num = agg.select_dtypes("number")
    assert np.isfinite(num.fillna(0).values).all()
    # gap_prev of single-row docs is all-null → its stats must be 0, not NaN
    assert not num.isna().any().any()
