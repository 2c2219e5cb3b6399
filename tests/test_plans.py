"""Physical-plan shape assertions — the `.explain` discipline: these lock
in the properties that determine 100 TB behavior (single exchange, column
pruning, filter pushdown, broadcast joins) so a regression shows up as a
test failure, not a silent 10× slowdown."""

from __future__ import annotations

import re

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pipeline_single_data_exchange(spark, seqs_df, states_df):
    from combinedfeatureextraction_spark.plans.pipeline import rowlevel_features

    for carry_payload in (True, False):
        df = rowlevel_features(seqs_df, states_df, carry_payload=carry_payload)
        plan = _plan(df)
        data_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
        broadcasts = len(re.findall(r"BroadcastExchange", plan))
        assert data_exchanges == 1, plan  # ONE shuffle for all window features
        assert broadcasts == 1  # the as-of grid index
        # all window operators share the one sort
        assert len(re.findall(r"\bSort \[", plan)) == 1
        # two window phases: the second holds what reads phase 1's gap_prev
        assert len(re.findall(r"\bWindow \[", plan)) == 2, plan


def test_narrow_no_token_stats_prunes_payload(spark, tmp_path, seqs_df):
    """carry_payload=False + token_stats=False → parquet scan must NOT
    read the tokens column (ReadSchema pruning)."""
    from combinedfeatureextraction_spark.plans.pipeline import rowlevel_features

    path = str(tmp_path / "seqs")
    seqs_df.write.mode("overwrite").parquet(path)
    seqs = spark.read.parquet(path)
    df = rowlevel_features(seqs, None, carry_payload=False, token_stats=False)
    plan = _plan(df)
    scan = next(line for line in plan.splitlines() if "FileScan parquet" in line)
    assert "tokens" not in scan, scan


def test_filter_pushdown_reaches_scan(spark, tmp_path, seqs_df):
    from combinedfeatureextraction_spark.plans.pipeline import rowlevel_features

    path = str(tmp_path / "seqs2")
    seqs_df.write.mode("overwrite").parquet(path)
    seqs = spark.read.parquet(path).filter(F.col("source") == "web")
    df = rowlevel_features(seqs, None, carry_payload=False)
    plan = _plan(df)
    assert re.search(r"PushedFilters: \[.*(EqualTo|IsNotNull)\(source", plan), plan


def test_dim_join_is_broadcast(spark):
    from combinedfeatureextraction_spark.operators.joins import (
        broadcast_equi_join,
    )

    a = spark.range(1000).withColumnRenamed("id", "k")
    b = spark.range(10).withColumnRenamed("id", "k").withColumn("v", F.lit(1))
    plan = _plan(broadcast_equi_join(a, b, "k"))
    assert "BroadcastHashJoin" in plan


def test_asof_union_single_exchange(spark, seqs_df, states_df):
    from combinedfeatureextraction_spark.operators.asof import asof_join

    df = asof_join(
        seqs_df.select("doc_id", "seq_idx", "ts", "source"),
        states_df,
        ["source"], "ts", "effective_ts", ["state_val"],
    )
    plan = _plan(df)
    # union sorted-merge: exactly one hash exchange (on the key), no join
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "Join" not in plan


def test_glcm_single_exchange(spark, seqs_df):
    """GLCM: the window's entity hash exchange must satisfy BOTH downstream
    groupBys (pair histogram keys are a superset of the entity key, and
    the final agg keys ARE the entity key) — one exchange end-to-end, both
    aggregates map-side partial."""
    from combinedfeatureextraction_spark.operators.texture import (
        glcm_texture,
        quantize_level,
    )

    df = seqs_df.withColumn("lvl", quantize_level("n_tok", 16))
    plan = _plan(glcm_texture(df, "lvl", ["doc_id"], ["ts"]))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert len(re.findall(r"HashAggregate.*partial", plan)) == 2, plan


def test_rasterize_ops_are_pure_maps(spark):
    """Every multimodal per-row operator (six polygon rasterize ops,
    masked color stats, three sub-compartment ops, two media feature
    extractors) must plan as a pure map: exactly ONE MapInArrow over the
    scan, ZERO exchanges — masks, distance fields, label arrays and
    decoded pixels never ride a shuffle."""
    import pandas as pd

    from combinedfeatureextraction_spark.multimodal import (
        binary,
        color,
        rasterize,
        subcompartment,
    )

    poly = spark.createDataFrame(
        pd.DataFrame({"pid": [1], "points": [[[0, 0], [8, 0], [8, 6], [0, 6]]]})
    )
    img = spark.createDataFrame(
        [(1, b"P6 1 1 255\n\x00\x00\x00", b"P5 1 1 255\n\xff")],
        "media_id long, payload binary, mask_payload binary",
    )
    media = spark.createDataFrame(
        [(1, "image", b"P5 1 1 255\n\xff", None)], binary.MEDIA_SCHEMA
    )
    params = [{"name": "nuclei"}, {"name": "eos"}, {"name": "lumen"}]
    built = {
        op.__name__: op(poly, "points", ["pid"])
        for op in (
            rasterize.polygon_mask_features,
            rasterize.polygon_component_features,
            rasterize.polygon_watershed_features,
            rasterize.polygon_hole_features,
            rasterize.polygon_edt_features,
            rasterize.polygon_ring_features,
        )
    }
    built["masked_color_stats"] = color.masked_color_stats(img)
    for op in (
        subcompartment.sub_compartment_features,
        subcompartment.sub_compartment_texture,
        subcompartment.sub_compartment_morphology,
    ):
        built[op.__name__] = op(img, params)
    for op in (binary.extract_media_features, binary.extract_decoded_features):
        built[op.__name__] = op(media)
    assert len(built) == 12
    for name, df in built.items():
        plan = _plan(df)
        assert "Exchange" not in plan, (name, plan)
        assert len(re.findall(r"\bMapInArrow\b", plan)) == 1, (name, plan)


def test_sampling_is_shuffle_free_and_packing_single_exchange(spark):
    """r04 ops keep the 100 TB discipline: deterministic sampling is a
    pure codegen'd filter (zero exchanges of any kind); pack_tokens is
    the engine's standard ONE hash exchange + ONE in-partition sort."""
    from combinedfeatureextraction_spark.operators.packing import pack_tokens
    from combinedfeatureextraction_spark.operators.sampling import (
        stratified_sample,
    )

    docs = spark.createDataFrame(
        [(i, ["en", "de"][i % 2], f"s{i % 3}", 10 + i) for i in range(100)],
        "doc_id long, lang string, source string, n_tok long",
    )
    s = stratified_sample(docs, ["doc_id"], "lang", {"en": 0.5}, 0.1, salt=1)
    plan = _plan(s)
    assert "Exchange" not in plan, plan
    # "*(n) Filter" prefix = the filter runs inside whole-stage codegen
    assert re.search(r"\*\(\d+\) Filter", plan), plan
    p = pack_tokens(docs, ["source"], ["doc_id"], "n_tok", 100)
    plan = _plan(p)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert len(re.findall(r"\bSort \[", plan)) == 1, plan
    # stratified_take: one exchange on the stratum key, and Spark plants
    # a PARTIAL WindowGroupLimit (map-side top-n) BEFORE the shuffle —
    # only <= n rows per partition per stratum cross the wire, the shape
    # you want at 100 TB. Lock both properties.
    from combinedfeatureextraction_spark.operators.sampling import (
        stratified_take,
    )

    t = stratified_take(docs, ["doc_id"], "lang", 5, salt=3)
    plan = _plan(t)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan
