"""W5 watershed analog — the Spark operator against an independent oracle,
shape cases, tie-breaking and NULL-value parity with the DuckDB oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd


def oracle_split(v) -> list[int]:
    """Independent O(n²)-ish reference: peaks by explicit neighbor loops,
    boundaries at the first min strictly between consecutive peaks."""
    v = list(map(float, v))
    n = len(v)
    peaks = []
    for i in range(n):
        lo = v[i - 1] if i > 0 else float("-inf")
        is_left_up = v[i] > lo
        # plateau: walk right over equals; peak iff eventually drops/ends
        j = i
        while j + 1 < n and v[j + 1] == v[i]:
            j += 1
        is_right_down = j + 1 >= n or v[j + 1] < v[i]
        if is_left_up and is_right_down:
            peaks.append(i)
    if len(peaks) <= 1:
        return [0] * n
    bounds = []
    for a, b in zip(peaks, peaks[1:]):
        seg = v[a + 1 : b + 1]
        bounds.append(a + 1 + seg.index(min(seg)))
    out = []
    for i in range(n):
        out.append(sum(1 for x in bounds if i > x))
    return out


def split_sessions(spark, sessions: list[list[float]]) -> list[list[int]]:
    """``watershed_split`` over one DataFrame holding every session (one
    entity key each, rows in time order); the subsession ids per session.
    The rows are shuffled first, so only ``ts`` orders them."""
    from combinedfeatureextraction_spark.operators.watershed import (
        watershed_split,
    )

    pdf = pd.DataFrame(
        [(k, 0, i, float(x)) for k, v in enumerate(sessions) for i, x in enumerate(v)],
        columns=["k", "session_id", "ts", "v"],
    ).sample(frac=1.0, random_state=0)
    df = spark.createDataFrame(pdf, "k long, session_id long, ts long, v double")
    out = watershed_split(df, ["k"], "ts", "v").toPandas()
    out = out.sort_values(["k", "ts"], kind="mergesort")
    got = dict(iter(out.groupby("k")["subsession_id"]))
    return [got[k].tolist() if k in got else [] for k in range(len(sessions))]


def test_split_cases(spark):
    cases = {
        (1.0, 2, 3, 4): [0] * 4,  # monotone: single basin
        (1.0, 5, 2, 6, 1): [0, 0, 0, 1, 1],  # two peaks, valley at index 2
        (1.0, 5, 5, 5, 1): [0] * 5,  # plateau top is ONE peak
        (3.0,): [0],  # singleton
    }
    assert split_sessions(spark, [list(c) for c in cases]) == list(cases.values())


def test_split_empty_input(spark):
    from combinedfeatureextraction_spark.operators.watershed import (
        watershed_split,
    )

    df = spark.createDataFrame([], "k long, session_id long, ts long, v double")
    out = watershed_split(df, ["k"], "ts", "v")
    assert out.columns == [*df.columns, "subsession_id"]
    assert out.count() == 0


def test_split_matches_independent_oracle(spark):
    rng = np.random.default_rng(5)
    # small integer values force plateaus and ties
    trials = [
        rng.integers(0, 6, size=int(rng.integers(1, 40))).astype(np.float64).tolist()
        for _ in range(200)
    ]
    for trial, (v, got) in enumerate(zip(trials, split_sessions(spark, trials))):
        assert got == oracle_split(v), (trial, v)


def test_tied_ts_broken_by_tiebreak(spark):
    """Every row shares one ts; the tiebreak column alone orders the
    session, so the split follows it and not the input order."""
    from combinedfeatureextraction_spark.operators.watershed import (
        watershed_split,
    )

    v = [1.0, 5.0, 2.0, 6.0, 1.0]
    rows = [(0, 0, 7, eid, x) for eid, x in enumerate(v)][::-1]
    df = spark.createDataFrame(
        rows, "k long, session_id long, ts long, eid long, v double"
    )
    out = (
        watershed_split(df, ["k"], "ts", "v", tiebreak=["eid"])
        .orderBy("eid").toPandas()
    )
    assert out["subsession_id"].tolist() == oracle_split(v) == [0, 0, 0, 1, 1]


def test_null_values_match_oracle_sql(spark, tmp_path):
    """NULL-bearing sessions through the registry query and through its
    DuckDB oracle text over the same parquet rows. The oracle picks the
    valley with NULLs last (``value ASC NULLS LAST``) and treats a NULL
    predecessor as a session start; the operator must agree."""
    import duckdb

    import __spark_entry__ as entry

    sessions = [
        [1, 5, None, 6, 1],
        [None, None, None],
        [1, None, 3, 2, 4, 1],
        [3, 1, None, 1, 3],
        [4, None, 2, None, 4],
    ]
    rows = [
        (uid, i, uid * 100 + i, None if x is None else float(x))
        for uid, v in enumerate(sessions) for i, x in enumerate(v)
    ]
    ev = pd.DataFrame(rows, columns=["user_id", "minute", "event_id", "value"])
    ev["ts"] = (
        pd.Timestamp("2024-01-01") + pd.to_timedelta(ev.pop("minute"), unit="min")
    ).astype("datetime64[us]")
    ev.to_parquet(tmp_path / "events.parquet", index=False)

    got = (
        entry.q_watershed_split(spark, str(tmp_path)).toPandas()
        .sort_values("event_id").reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    want = (
        con.execute(entry.oracle_sql()["watershed_split"]).fetchdf()
        .sort_values("event_id").reset_index(drop=True)
    )
    assert got["session_id"].tolist() == want["session_id"].tolist() == [0] * len(rows)
    assert got["subsession_id"].tolist() == want["subsession_id"].tolist()
    # a NULL between two peaks: NULLs sort last, so the valley between
    # the peaks 5 and 6 is the 6, not the NULL
    assert got.loc[got["user_id"] == 0, "subsession_id"].tolist() == [0, 0, 0, 0, 1]


def test_watershed_split_spark(spark):
    from combinedfeatureextraction_spark.operators.sessionize import sessionize
    from combinedfeatureextraction_spark.operators.watershed import (
        watershed_split,
    )

    rng = np.random.default_rng(9)
    n = 400
    pdf = pd.DataFrame(
        {
            "k": rng.choice(["a", "b", "c"], size=n),
            "ts": pd.to_datetime(
                np.sort(rng.uniform(0, 3e5, size=n)), unit="s"
            ).floor("us"),
            "v": rng.integers(0, 8, size=n).astype(np.float64),
        }
    )
    df = spark.createDataFrame(pdf)
    sess = sessionize(df, ["k"], "ts", 600.0)
    out = watershed_split(sess, ["k"], "ts", "v").toPandas()
    assert len(out) == n
    lab = out.sort_values(["k", "session_id", "ts"], kind="mergesort")
    for (_, _), g in lab.groupby(["k", "session_id"]):
        want = oracle_split(g["v"].tolist())
        assert g["subsession_id"].tolist() == want
    # subsessions are contiguous runs starting at 0
    for (_, _), g in lab.groupby(["k", "session_id"]):
        s = g["subsession_id"].to_numpy()
        assert s[0] == 0 and (np.diff(s) >= 0).all() and (np.diff(s) <= 1).all()
