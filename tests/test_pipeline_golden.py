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
    from combinedfeatureextraction_spark.plans.pipeline import (
        hierarchy_aggregates,
        rowlevel_features,
    )

    feat = rowlevel_features(seqs_df, states_df)
    agg = hierarchy_aggregates(feat).toPandas()
    num = agg.select_dtypes("number")
    assert np.isfinite(num.fillna(0).values).all()
    # gap_prev of single-row docs is all-null → its stats must be 0, not NaN
    assert not num.isna().any().any()
