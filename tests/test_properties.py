"""Property tests from the bounds-catalog discipline
(morphometrics_reference.json records min/max per feature; the reference
coalesces NaN/Inf→0 everywhere — FeatureExtractor.py:611-614). Hypothesis
drives the column functions through adversarial inputs."""

from __future__ import annotations

import math

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

TEXT = st.text(
    alphabet=st.sampled_from("abcdefg .,!?\t"), min_size=0, max_size=80
)


def _one_col(spark, values, expr, name="x"):
    df = spark.createDataFrame(pd.DataFrame({name: values}))
    return [r[0] for r in df.select(expr).collect()]


@settings(max_examples=20, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=8))
def test_quality_score_bounds(spark, texts):
    from combinedfeatureextraction_spark.functions.text import quality_score

    # quality must be in [0,1] or NULL (degenerate input), never NaN/Inf
    out = _one_col(spark, texts, quality_score(F.col("x")))
    for v in out:
        if v is not None:
            assert 0.0 <= v <= 1.0 and math.isfinite(v)


@settings(max_examples=20, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=8))
def test_lang_id_total(spark, texts):
    from combinedfeatureextraction_spark.functions.text import (
        LANG_STOPWORDS,
        lang_id,
    )

    out = _one_col(spark, texts, lang_id(F.col("x")))
    allowed = set(LANG_STOPWORDS) | {"und"}
    assert all(v in allowed for v in out)


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=20,
    )
)
def test_nan_inf_to_zero_finite(spark, xs):
    from combinedfeatureextraction_spark.functions.nansafe import (
        nan_inf_to_zero,
        safe_div,
    )

    out = _one_col(
        spark,
        xs + [float("nan"), float("inf"), float("-inf")],
        nan_inf_to_zero(F.col("x")),
    )
    assert all(v is not None and math.isfinite(v) for v in out)
    div = _one_col(
        spark, xs, safe_div(F.col("x"), F.col("x") - F.col("x"))
    )  # x/0
    assert all(v == 0.0 for v in div)


def test_fingerprint_order_sensitivity(spark):
    from combinedfeatureextraction_spark.functions.text import fingerprint

    a, b = "alpha beta gamma", "gamma beta alpha"
    out = _one_col(spark, [a, b], fingerprint(F.col("x")))
    assert out[0] != out[1]  # rolling hash is positional


def test_shoelace_area_square(spark):
    from combinedfeatureextraction_spark.functions.arrays import shoelace_area

    pdf = pd.DataFrame(
        {"xs": [[0.0, 4.0, 4.0, 0.0]], "ys": [[0.0, 0.0, 3.0, 3.0]]}
    )
    df = spark.createDataFrame(pdf)
    out = df.select(shoelace_area("xs", "ys").alias("a")).collect()[0]["a"]
    assert abs(out - 12.0) < 1e-9


def test_lang_id_null_is_und(spark):
    # NULL text: every stopword score is NULL → greatest() is NULL; the
    # chained CASE must short-circuit to 'und', not fall through to the
    # lexicographically last language (ADVICE r2)
    from combinedfeatureextraction_spark.functions.text import lang_id

    df = spark.createDataFrame(
        [(None,), ("",), ("der die und das",)], "x string"
    )
    out = [r[0] for r in df.select(lang_id(F.col("x"))).collect()]
    assert out[0] == "und" and out[1] == "und" and out[2] == "de"


@settings(max_examples=15, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=8))
def test_fingerprint_agg_matches_column_form(spark, texts):
    # the native explode-shaped aggregate is an exact dual of the
    # per-row lambda fold, including empty strings and NULL
    from combinedfeatureextraction_spark.functions.text import (
        fingerprint,
        fingerprint_agg,
    )

    rows = [(i, t) for i, t in enumerate(texts)] + [(len(texts), None)]
    df = spark.createDataFrame(rows, "id long, x string")
    col_form = {
        r["id"]: r["fp"]
        for r in df.select("id", fingerprint(F.col("x")).alias("fp")).collect()
    }
    agg_form = {
        r["id"]: r["fp"] for r in fingerprint_agg(df, "id", "x").collect()
    }
    assert agg_form == col_form


def test_dup_ngram_frac_matches_python(spark):
    """Repetition signals vs a direct python recomputation, including
    plateau/edge docs (all-same words, no repeats, shorter than n)."""
    from combinedfeatureextraction_spark.functions.text import dup_ngram_frac

    texts = [
        "a a a a a",                     # all duplicate words
        "one two three four",           # no repeats
        "x",                            # shorter than 2-grams
        "ab ab cd ab cd",               # mixed
        "p q p q p q",                  # repeating 2-grams
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    out = {
        r["i"]: (r["d1"], r["d2"], r["d3"])
        for r in df.select(
            "i",
            dup_ngram_frac("text", 1).alias("d1"),
            dup_ngram_frac("text", 2).alias("d2"),
            dup_ngram_frac("text", 3).alias("d3"),
        ).collect()
    }

    def py(t, n):
        ws = t.split(" ")
        grams = [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]
        return 0.0 if not grams else 1.0 - len(set(grams)) / len(grams)

    for i, t in enumerate(texts):
        for j, n in enumerate((1, 2, 3)):
            assert abs(out[i][j] - py(t, n)) < 1e-12, (i, n)


def test_top_ngram_stats_matches_python(spark):
    from collections import Counter

    from combinedfeatureextraction_spark.functions.text import top_ngram_stats

    texts = ["a b a b a b c", "x", "m n m n", "one two three"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: (r["top_ngram_count"], r["top_ngram_char_frac"])
        for r in top_ngram_stats(df, "doc_id", "text", n=2).collect()
    }
    for i, t in enumerate(texts):
        ws = t.split(" ")
        grams = [" ".join(ws[j : j + 2]) for j in range(len(ws) - 1)]
        if not grams:
            assert out[i] == (0, 0.0), i
            continue
        cnt = Counter(grams)
        best = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        assert out[i][0] == best[1], i
        assert abs(out[i][1] - round(best[1] * len(best[0]) / len(t), 6)) < 1e-12
