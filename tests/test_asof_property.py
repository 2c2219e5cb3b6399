"""Property test: every as-of strategy must equal pandas.merge_asof on
arbitrary key/timestamp layouts (duplicate probe ts, keys missing on one
side, empty sides, exact-match boundaries)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def asof_case(draw):
    n_keys = draw(st.integers(1, 3))
    keys = [f"k{i}" for i in range(n_keys)]
    n_probe = draw(st.integers(1, 25))
    n_build = draw(st.integers(0, 25))
    p_ts = draw(
        st.lists(st.integers(0, 1000), min_size=n_probe, max_size=n_probe)
    )
    b_ts = draw(
        st.lists(st.integers(0, 1000), min_size=n_build, max_size=n_build)
    )
    # build ts must be unique per key (as-of ambiguity is caller-owned)
    rng = np.random.default_rng(draw(st.integers(0, 2**31)))
    probe = pd.DataFrame(
        {
            "k": rng.choice(keys, n_probe),
            "ts": pd.to_datetime(p_ts, unit="s"),
            "pid": np.arange(n_probe),
        }
    )
    # ~25% NULL build values: a matched-but-NULL tick must stay NULL (no
    # leak of the previous non-NULL value — merge_asof row semantics).
    # Real None (object column), not np.nan: pandas NaN converts to Spark
    # NaN doubles, which ignorenulls does NOT skip — only SQL NULL does.
    v = [
        None if rng.random() < 0.25 else float(x)
        for x in rng.normal(size=n_build)
    ]
    build = pd.DataFrame(
        {
            "k": rng.choice(keys, n_build),
            "ts": pd.to_datetime(b_ts, unit="s"),
            "v": pd.Series(v, dtype="object"),
        }
    ).drop_duplicates(["k", "ts"])
    exact = draw(st.booleans())
    return probe, build, exact


@settings(max_examples=12, deadline=None)
@given(asof_case())
def test_asof_matches_pandas(spark, case):
    from combinedfeatureextraction_spark.operators.asof import asof_join

    probe, build, exact = case
    p = spark.createDataFrame(probe)
    b = (
        spark.createDataFrame(build)
        if len(build)
        else spark.createDataFrame([], "k string, ts timestamp, v double")
    )
    want = pd.merge_asof(
        probe.sort_values(["ts", "pid"], kind="mergesort"),
        build.sort_values("ts", kind="mergesort"),
        on="ts",
        by="k",
        direction="backward",
        allow_exact_matches=exact,
    ).sort_values("pid")["v"].astype("float64").values if len(build) else np.full(
        len(probe), np.nan
    )

    for kwargs in (
        {},
        {"strategy": "grid"},
        {"salt": 3},
    ):
        got = (
            asof_join(p, b, ["k"], "ts", "ts", ["v"],
                      allow_exact_matches=exact, **kwargs)
            .orderBy("pid")
            .toPandas()["v"]
            .astype("float64")  # all-NULL columns come back object-typed
            .values
        )
        assert np.allclose(got, want, equal_nan=True), kwargs
