"""Driver-contract conformance: every queries() entry with an oracle must
match DuckDB at sf0.001 (fast subset of the driver's sf0.01 gate; the full
matrix runs via tests/run_oracle_compare.py)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

from tests.oracle_compare import compare_one, duck_con

SF_DIR = "/root/testdata/sf0.001"

# fast, high-signal subset (the slow/rows-only ones run in the dev harness)
SUBSET = [
    "rolling_window", "lag_lead", "sessionize", "session_stats",
    "forward_fill", "dist_to_boundary", "asof_join", "asof_join_salted",
    "asof_join_cogroup", "asof_tolerance", "six_stat", "six_stat_hierarchy",
    "weighted_mean", "masked_mean", "percent_rank", "topk", "last_event",
    "dim_join", "interval_join", "exact_dedup", "embedding_topk",
    "payload_passthrough", "payload_sum", "text_quality", "lang_id",
    "fingerprint", "salted_agg", "component_count", "rebase",
    "asof_join_grid", "asof_strict", "ratio_of_aggregates",
    "feature_long_format", "geodesic_flood", "merge_writeback",
    "pivot", "rollup", "quantiles", "tumbling_window",
    "value_histogram", "distinct_users", "normalize_embedding",
    "corpus_filter", "top_words",
]


@pytest.fixture(scope="module")
def con():
    return duck_con(SF_DIR)


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, con, name):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert name in qs and name in oracles
    res = compare_one(spark, con, name, qs[name], oracles[name], SF_DIR)
    assert res["ok"], res


def test_every_query_key_has_callable():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 50


def test_table_schema_follows_rewritten_file(spark, tmp_path):
    """``_t`` reuses a table's schema only while the file is unchanged: a
    parquet file rewritten at the same path with a renamed column must
    read with the new column, not the stale one as NULLs."""
    import pandas as pd

    path = tmp_path / "events.parquet"
    pd.DataFrame({"a": [1, 2]}).to_parquet(path, index=False)
    assert entrymod._t(spark, str(tmp_path), "events").columns == ["a"]
    pd.DataFrame({"b": [3, 4, 5]}).to_parquet(path, index=False)
    df = entrymod._t(spark, str(tmp_path), "events")
    assert df.columns == ["b"]
    assert sorted(r.b for r in df.collect()) == [3, 4, 5]
