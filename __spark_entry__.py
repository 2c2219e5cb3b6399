"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship point-in-time feature pipeline on sf0.001.
``queries()`` — one callable per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB-equivalent ANSI SQL per query (same column
names/aliases both sides; doubles rounded identically where derived).

Every callable routes through combinedfeatureextraction_spark operators —
these entries ARE the engine's conformance suite.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from combinedfeatureextraction_spark.functions import text as X
from combinedfeatureextraction_spark.functions.timeutil import epoch_seconds
from combinedfeatureextraction_spark.functions.arrays import (
    cosine,
    payload_digest,
    payload_sum,
)
from combinedfeatureextraction_spark.operators.aggregates import (
    masked_mean_std,
    six_stat_agg,
    six_stat_hierarchy,
    weighted_mean,
)
from combinedfeatureextraction_spark.operators.asof import asof_join
from combinedfeatureextraction_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
    simhash_dedup,
)
from combinedfeatureextraction_spark.operators.fill import (
    distance_to_boundary,
    forward_fill,
)
from combinedfeatureextraction_spark.operators.joins import (
    broadcast_equi_join,
    interval_overlap_join,
)
from combinedfeatureextraction_spark.operators.priority import last_wins
from combinedfeatureextraction_spark.operators.sessionize import (
    component_count,
    drop_small_sessions,
    session_stats,
    sessionize,
)
from combinedfeatureextraction_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)
from combinedfeatureextraction_spark.operators.threshold import (
    global_quantile_threshold,
    otsu_threshold,
)
from combinedfeatureextraction_spark.operators.window_features import (
    topk_per_entity,
    with_lag_lead,
    with_percent_rank,
    with_rebased_order,
    with_rolling_stats,
)

GAP = 172800.0  # session gap (seconds): 2 days — yields multi-event sessions


#: schema (STATIC METADATA, never data) per (sf_dir, table) — a plain
#: `spark.read.parquet` re-reads the footer to infer the schema on EVERY
#: call, ~70 ms per table per bench rep (r06 measured: 95→26 ms/read on
#: events with an explicit schema). Production engines read schemas from
#: a catalog, not per-query footer inference (optimization guide §6);
#: `sources.catalog` does exactly that for managed tables. Every byte of
#: DATA is still scanned and computed per execution — only the
#: `StructType` is reused, and the first read of each table still infers
#: it from the file itself.
#: Keyed on the path AND its (mtime_ns, size) stat: a file rewritten in
#: place with another schema must not be read with the stale one (renamed
#: columns would come back as silent NULLs).
_SCHEMA_CACHE: dict = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    return spark.read.schema(schema).parquet(path)


def _spread(df: DataFrame, *by: str) -> DataFrame:
    """Round-robin a tiny single-file fixture scan across the core
    budget BEFORE a CPU-heavy per-row rig (``multimodal.rowmap.
    per_row_map``). The sf fixtures are one parquet file each, so the
    scan plans as ONE partition and a pure-map payload operator would
    otherwise run serially on one core (measured:
    media_decode_jpeg's whole rig on 1 of 8 cores). The exchange moves
    only the id column — trivially cheap next to the per-row payload
    work. Corpus-scale inputs arrive in many partitions and don't need
    this; the OPERATORS stay pure maps (plan-locked in test_plans.py) —
    spreading is input preparation, not operator shape.

    ``by``: optional hash-partitioning columns (r06). When the downstream
    operator groups by a key (e.g. doc_id), spreading BY that key lets
    every later groupBy/aggregate reuse this one exchange instead of
    adding its own (guide §2.4: two operations keyed the same way share
    one exchange) — the whole chain runs exchange-free after the spread.
    Only safe parallelism-wise when ``by`` has far more distinct values
    than partitions (unique ids here)."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *[F.col(c) for c in by]) if by else df.repartition(n)


def _r(c, n=6):
    return F.round(c, n)


# --------------------------------------------------------------- queries

def q_rolling_window(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    df = with_rolling_stats(
        ev, "value", ["user_id"], ["ts", "event_id"], preceding=4,
        stats=("mean", "std", "min", "max", "sum"),
    )
    return df.select(
        "event_id", "user_id",
        _r("value_roll_mean").alias("roll_mean"),
        _r("value_roll_std").alias("roll_std"),
        F.col("value_roll_min").alias("roll_min"),
        F.col("value_roll_max").alias("roll_max"),
        _r("value_roll_sum").alias("roll_sum"),
    )


def q_lag_lead(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    df = with_lag_lead(ev, "value", ["user_id"], ["ts", "event_id"], offsets=(1, 3))
    return df.select(
        "event_id", "user_id",
        "value_lag_1", "value_lead_1", "value_lag_3", "value_lead_3",
    )


def q_sessionize(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return sessionize(ev, ["user_id"], "ts", GAP).select(
        "event_id", "user_id", "session_id"
    )


def q_session_stats(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, ["user_id"], "ts", GAP)
    agg = session_stats(s, ["user_id"], "ts", "value")
    return agg.select(
        "user_id", "session_id", "session_len", "session_start", "session_end",
        _r("session_sum").alias("session_sum"),
        _r("session_mean").alias("session_mean"),
    )


def q_forward_fill(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumn(
        "purchase_val",
        F.when(F.col("event_type") == "purchase", F.col("value")),
    )
    df = forward_fill(ev, "purchase_val", ["user_id"], "ts", out="purchase_ffill")
    return df.select("event_id", "user_id", "purchase_ffill")


def q_dist_to_boundary(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    df = distance_to_boundary(
        ev, F.col("event_type") == "error", ["user_id"], "ts", out="dist_err"
    )
    return df.select("event_id", "user_id", "dist_err")


def _purchases(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "value")
    )


def _errors(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select("user_id", "ts", F.col("value").alias("err_value"))
    )


def q_asof_join(spark, sf_dir):
    return asof_join(
        _purchases(spark, sf_dir), _errors(spark, sf_dir),
        keys=["user_id"], probe_ts="ts", build_ts="ts", values=["err_value"],
    ).select("event_id", "user_id", "ts", "value", "err_value")


def q_asof_join_salted(spark, sf_dir):
    return asof_join(
        _purchases(spark, sf_dir), _errors(spark, sf_dir),
        keys=["user_id"], probe_ts="ts", build_ts="ts", values=["err_value"],
        salt=8,
    ).select("event_id", "user_id", "ts", "value", "err_value")


def q_asof_join_cogroup(spark, sf_dir):
    """Runs the default (union) as-of plan, the same as ``asof_join``.
    The grouped-pandas ``cogroup`` strategy it was named after lost to
    the union plan at every measured scale and was deleted; the query
    keeps its name because bench.py lists it."""
    return asof_join(
        _purchases(spark, sf_dir), _errors(spark, sf_dir),
        keys=["user_id"], probe_ts="ts", build_ts="ts", values=["err_value"],
    ).select("event_id", "user_id", "ts", "value", "err_value")


def q_asof_tolerance(spark, sf_dir):
    b = _errors(spark, sf_dir).withColumn("err_ts", F.col("ts"))
    out = asof_join(
        _purchases(spark, sf_dir), b,
        keys=["user_id"], probe_ts="ts", build_ts="ts",
        values=["err_value", "err_ts"],
    )
    stale = (epoch_seconds("ts") - epoch_seconds("err_ts")) > 900
    return out.select(
        "event_id", "user_id",
        F.when(stale, F.lit(None)).otherwise(F.col("err_value")).alias("err_value_tol"),
    )


_ASOF_SQL = """
SELECT p.event_id, p.user_id, p.ts, p.value, b.value AS err_value
FROM (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'error') b
  ON p.user_id = b.user_id AND p.ts >= b.ts
"""


def q_six_stat(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    agg = six_stat_agg(li, ["l_quantity"], ["l_returnflag", "l_linestatus"])
    return agg.select(
        "l_returnflag", "l_linestatus",
        _r("l_quantity_sum").alias("qty_sum"),
        _r("l_quantity_mean").alias("qty_mean"),
        _r("l_quantity_std").alias("qty_std"),
        _r("l_quantity_median").alias("qty_median"),
        F.col("l_quantity_min").alias("qty_min"),
        F.col("l_quantity_max").alias("qty_max"),
    )


def q_six_stat_hierarchy(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    agg = six_stat_hierarchy(li, ["l_quantity"], "l_returnflag", "l_linestatus")
    return agg.select(
        "l_returnflag", "l_linestatus", "grouping_level",
        _r("l_quantity_sum").alias("qty_sum"),
        _r("l_quantity_mean").alias("qty_mean"),
        _r("l_quantity_std").alias("qty_std"),
        _r("l_quantity_median").alias("qty_median"),
    )


def q_weighted_mean(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return weighted_mean(
        li, "l_extendedprice", "l_quantity", ["l_returnflag"], out="wmean"
    ).select("l_returnflag", _r("wmean").alias("wmean"))


def q_masked_mean(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    agg = masked_mean_std(
        ev, "value", ["event_type"],
        {"high": F.col("value") > 10, "low": F.col("value") <= 10},
    )
    return agg.select(
        "event_type",
        _r("high_mean").alias("high_mean"), _r("high_std").alias("high_std"),
        _r("low_mean").alias("low_mean"), _r("low_std").alias("low_std"),
    )


def q_global_threshold(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    t = global_quantile_threshold(ev, "value", 0.5)
    return ev.filter(F.col("value") > t).select("event_id", "value")


def q_percent_rank(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return with_percent_rank(ev, "value", ["user_id"], out="pct_rank").select(
        "event_id", "user_id", _r("pct_rank").alias("pct_rank")
    )


def q_topk(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return topk_per_entity(
        ev, ["user_id"],
        [F.col("value").desc(), F.col("ts").asc(), F.col("event_id").asc()],
        k=3,
    ).select("user_id", "event_id", "value", "rank")


def q_last_event(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return last_wins(
        ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    ).select(
        "user_id",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_dim_join(spark, sf_dir):
    cu = _t(spark, sf_dir, "customer")
    na = _t(spark, sf_dir, "nation")
    re = _t(spark, sf_dir, "region")
    j = broadcast_equi_join(
        cu, na, cu["c_nationkey"] == na["n_nationkey"]
    )
    j = broadcast_equi_join(j, re, j["n_regionkey"] == re["r_regionkey"])
    return j.groupBy("r_name").agg(
        F.count("*").alias("n_cust"),
        _r(F.avg("c_acctbal")).alias("avg_bal"),
    )


def q_interval_join(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.col("o_orderdate").alias("win_start"),
        F.date_add(F.col("o_orderdate"), 90).cast("timestamp").alias("win_end"),
    )
    j = interval_overlap_join(
        li, orders, ["l_orderkey"], "l_shipdate", "win_start", "win_end"
    )
    return j.groupBy("l_orderkey").agg(
        F.count("*").alias("n_items"),
        _r(F.sum("l_quantity")).alias("sum_qty"),
    )


def q_exact_dedup(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, ["text"], [F.col("doc_id").asc()]).select(
        "doc_id", "lang", "n_chars"
    )


def q_ngram_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.05, block_col="lang"
    ).select("id_a", "id_b", _r("jaccard_sim").alias("jaccard_sim"))


def q_minhash_dedup(spark, sf_dir):
    """MinHash+LSH near-dup detection with planted duplicates: every doc
    gets a mutated twin (last word dropped → trigram jaccard ≈ 1), and the
    LSH (num_hashes=64, bands=16 → r=4, threshold* ≈ 0.5) must recover the
    planted pairs while background pairs (jaccard ≲ 0.1 in this corpus)
    produce almost no candidates.

    ORACLED (exact-Jaccard dual): the verify stage emits exactly
    {candidate pairs with true jaccard ≥ 0.5}, and candidate recall is
    complete on this corpus (all qualifying pairs are planted twins at
    jaccard ≈ 1, where P(band hit) = 1-(1-s⁴)¹⁶ ≈ 1), so the output
    equals the full exact pair set — verified pair-for-pair and pinned
    by the recall test in tests/test_operators_unit.py. In general LSH
    is probabilistic; a corpus with mass in the ~0.5-0.7 gray zone
    would make this a subset, not an equality."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("text", r" [^ ]+$", "").alias("text"),
    )
    corpus = _spread(docs.unionByName(mutated), "doc_id")
    return minhash_lsh_dedup(
        corpus, "doc_id", "text", n=3, num_hashes=64, bands=16, threshold=0.5
    ).select("id_a", "id_b", _r("jaccard_sim").alias("jaccard_sim"))


def q_simhash_dedup(spark, sf_dir):
    """128-bit SimHash near-dup pairs, FULLY ORACLED. Two properties make
    exact DuckDB verification possible: (1) the shingle hash is md5,
    bit-identical in every engine, so DuckDB recomputes the identical
    signatures from the same 2-gram shingles (nibble k bit b ↦ global
    bit (k//8)·32 + (7−k%8)·4 + b — 8-char big-endian hex groups, see
    _md5_word_expr — the documented portability contract);
    (2) max_hamming=3 with 4×32-bit bands — by pigeonhole a hamming ≤ 3
    pair ALWAYS shares a band, so LSH recall is complete and the output
    is exactly {pairs with hamming ≤ 3}, which DuckDB enumerates
    quadratically. max_bucket=None makes that exactness UNCONDITIONAL:
    the capped default emits only star edges inside an oversized
    same-signature bucket (connectivity-preserving but a strict pair
    subset), which would silently diverge from the quadratic oracle if
    a corpus change ever oversized a bucket. Mutated twins (last word
    dropped → hamming ≈ 0) planted for the 10% of docs with
    doc_id % 10 == 0 guarantee a non-trivial matched set at ~1.1×
    corpus cost."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("text", r" [^ ]+$", "").alias("text"),
    )
    corpus = _spread(docs.unionByName(mutated), "doc_id")
    out = simhash_dedup(
        corpus, "doc_id", "text", max_hamming=3, ngram=2, max_bucket=None,
    )
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def q_embedding_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # spread: the single-file embeddings scan would run the whole
    # cross-join × cosine on one core (measured 1.63 s → 0.42 s). The
    # interpreted-lambda cosine stays: at 60k scored rows it beats the
    # 192-term unrolled form (0.42 vs 0.95 s — codegen'd element_at
    # chains pay per-term null checks; lambda contention only bites at
    # millions of rows).
    out = brute_force_topk(_spread(emb), queries, "vec_id", "embedding", k=5)
    return out.select("query_id", "vec_id", _r("cos_sim").alias("cos_sim"), "rank")


def q_embedding_near_dup(spark, sf_dir):
    from combinedfeatureextraction_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.3, block_col="label"
    ).select("id_a", "id_b", _r("cos_sim").alias("cos_sim"))


def q_lsh_topk(spark, sf_dir):
    """Rows-only BY DESIGN: at bits=6 the candidate set is genuinely
    approximate (depends on the seeded hyperplane draw — no ANSI
    statement reproduces it). The LSH *machinery* is driver-gated
    exactly by q_lsh_topk_exact below; recall/scaling are pytest- and
    probe-pinned."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(emb, queries, "vec_id", "embedding", k=5, bits=6, tables=4)


def q_lsh_topk_exact(spark, sf_dir):
    """LSH plumbing driver-gated EXACT (round-4): at bits=0 every vector
    lands in the single bucket of every table — signatures still run
    through the real mapInArrow matmul (a (n,dim)@(dim,0) product),
    candidates through the real posexplode/join/dedup path, and the
    exact re-rank sees the whole corpus, so the result is brute-force
    top-k by construction and hash-matches the SQL dual. The
    approximate regime stays q_lsh_topk (rows-only). Exactness as
    bits→0 is the documented recovery contract (operators/similarity.py
    module docstring)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_topk(emb, queries, "vec_id", "embedding", k=5, bits=0, tables=2)
    return out.select(
        "query_id", "vec_id", _r("cos_sim").alias("cos_sim"), "rank"
    )


def q_ivf_topk(spark, sf_dir):
    """ANN scale path #2: IVF (coarse kmeans quantizer + nprobe lists +
    exact re-rank). FULLY ORACLED (round-4) at nprobe = n_lists: full
    probing makes the result EXACT top-k regardless of where kmeans
    placed the centroids (every list is probed, every vector is a
    candidate, the re-rank is exact cosine) — so the whole Spark-side
    IVF machinery (mapInArrow assignment, list explode, candidate
    joins, dedup, re-rank window) is driver-gated against the brute-
    force SQL dual; a dropped candidate or join/dedup bug breaks the
    hash. The APPROXIMATE regime (partial probing, recall vs brute
    force, exactness-at-full-probe) stays pinned by
    tests/test_operators_unit.py::test_ivf_topk_recall — partial-probe
    candidate sets depend on the driver-side kmeans, which no ANSI
    statement reproduces."""
    from combinedfeatureextraction_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(
        emb, queries, "vec_id", "embedding", k=5, n_lists=16, nprobe=16
    )
    return out.select(
        "query_id", "vec_id", _r("cos_sim").alias("cos_sim"), "rank"
    )


def q_payload_passthrough(spark, sf_dir):
    """S4: payload survives the scan byte-identical. The driver's hasher
    cannot hash raw array cells, so project an order-sensitive integer
    digest (position-weighted, DuckDB-reproducible); the true byte-equality
    proof on the raw array stays in tests/test_pipeline_golden.py."""
    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", payload_digest("embedding").alias("emb_digest"), "label"
    )


def q_payload_sum(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        _r(payload_sum("embedding")).alias("emb_sum"),
        F.array_min("embedding").alias("emb_min"),
        F.array_max("embedding").alias("emb_max"),
    )


def q_text_quality(spark, sf_dir):
    # _spread: the documents fixture is a single-row-group parquet file —
    # the scan plans as ONE partition and every CPU-heavy text projection
    # below would run serially (guide §2.5: unsplittable input → repartition
    # right after the read). The exchange moves only (doc_id, text).
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return docs.select(
        "doc_id",
        X.n_words("text").alias("n_words"),
        X.token_count("text").alias("n_tokens"),
        _r(X.punct_ratio("text")).alias("punct_ratio"),
        _r(X.stopword_ratio("text")).alias("stop_ratio"),
        _r(X.mean_word_len("text")).alias("mean_word_len"),
        X.quality_score("text").alias("quality"),
    )


def q_lang_id(spark, sf_dir):
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return docs.select("doc_id", X.lang_id("text").alias("lang_pred"))


def q_fingerprint(spark, sf_dir):
    """Document fingerprint via the native explode-shaped aggregate
    (fingerprint_agg) — no interpreted lambda in the plan; the Column
    form X.fingerprint is its property-tested per-row dual."""
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    return X.fingerprint_agg(docs, "doc_id", "text")


def q_salted_agg(spark, sf_dir):
    """Two-phase salted aggregation over a skewed key: partial per
    (key, salt) then merge — identical result to plain groupBy (the
    oracle), bounded partitions at scale."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "_salt", F.pmod(F.xxhash64("l_orderkey"), F.lit(16))
    )
    partial = li.groupBy("l_returnflag", "_salt").agg(
        F.sum("l_quantity").alias("s"), F.count("*").alias("n")
    )
    return partial.groupBy("l_returnflag").agg(
        _r(F.sum("s")).alias("sum_qty"),
        F.sum("n").alias("n_rows"),
    )


def q_component_count(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, ["user_id"], "ts", GAP)
    return component_count(s, ["user_id"])


def q_sessions_filtered(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, ["user_id"], "ts", GAP)
    return drop_small_sessions(s, ["user_id"], min_rows=5).select(
        "event_id", "user_id", "session_id"
    )


def q_rebase(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumn("tsd", epoch_seconds("ts"))
    return with_rebased_order(ev, "tsd", ["user_id"], out="secs_since_start").select(
        "event_id", "user_id", "secs_since_start"
    )


def q_otsu(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    t = otsu_threshold(ev, "value", bins=64)
    return ev.filter(F.col("value") > t).select("event_id", "value")


def q_streaming_sessions(spark, sf_dir):
    """Structured-Streaming gap sessions (session_window + watermark),
    driven with availableNow over the same parquet → identical result to
    the batch oracle."""
    from combinedfeatureextraction_spark.streaming.sessions import (
        streaming_session_agg,
    )
    ev_schema = _t(spark, sf_dir, "events").schema
    stream = (
        spark.readStream.schema(ev_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        # parquet µs timestamps arrive as TIMESTAMP_NTZ; event-time
        # semantics need TIMESTAMP (lossless under the UTC session tz)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = streaming_session_agg(
        stream, ["user_id"], "ts", "value", gap="2 days", watermark="0 seconds"
    )
    name = "cfe_stream_sessions"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "user_id", "session_start", "session_len",
        _r("session_sum").alias("session_sum"),
    )


def q_media_features(spark, sf_dir):
    """Multimodal plumbing: documents' text bytes as opaque binary payload
    → per_row_map decode(fake)+featurize. FULLY ORACLED (round-4): the
    fake decoder interprets payload bytes as uint8 samples, and the
    documents corpus is pure ASCII (oracle-probed), so DuckDB recomputes
    the byte-domain stats from per-character codepoints — the Arrow
    binary round-trip, batch shape and stat math are all on the gated
    path. (The REAL codecs are gated separately by media_decode /
    media_decode_png.)"""
    from combinedfeatureextraction_spark.multimodal.binary import (
        extract_media_features,
    )
    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit(0).alias("width"), F.lit(0).alias("height"),
            F.lit(0).alias("n_frames"), F.lit(0).alias("sample_rate"),
        ).alias("meta"),
    )
    out = extract_media_features(media)
    return out.select(
        "media_id", "byte_len", _r("byte_mean").alias("byte_mean"),
        _r("byte_std").alias("byte_std"),
    )


def q_ratio_of_aggregates(spark, sf_dir):
    """A5: derived ratios computed on the aggregate row (sclerosis-ratio
    analog s/(s+g), extract_reference_features.py:266-293)."""
    from combinedfeatureextraction_spark.functions.nansafe import safe_div

    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_linestatus").agg(
        F.sum(F.when(F.col("l_returnflag") == "R", F.col("l_quantity"))).alias("_r"),
        F.sum("l_quantity").alias("_t"),
    )
    return agg.select(
        "l_linestatus",
        _r(safe_div(F.col("_r"), F.col("_t"))).alias("return_ratio"),
    )


def q_feature_long_format(spark, sf_dir):
    """J5/K2: wide 6-stat output unpivoted to (group, feature, stat, value)
    long format (arrays_zip/stack analog of FeatureExtractor.py:610)."""
    from combinedfeatureextraction_spark.operators.aggregates import (
        long_format,
        six_stat_agg,
    )

    li = _t(spark, sf_dir, "lineitem")
    agg = six_stat_agg(li, ["l_quantity"], ["l_returnflag"])
    out = long_format(
        agg, ["l_returnflag"], [f"l_quantity_{s}" for s in
                                ("sum", "mean", "std", "median", "min", "max")]
    )
    return out.select("l_returnflag", "feature", "stat", _r("value").alias("value"))


def q_geodesic_flood(spark, sf_dir):
    """W4 1-D analog: marker values flood contiguous mask runs (geodesic
    reconstruction, extract_ffpe_features.py:6-22) — closed-form windows."""
    from combinedfeatureextraction_spark.operators.fixpoint import (
        geodesic_reconstruct_1d,
    )

    ev = _t(spark, sf_dir, "events").withColumn("_mask", F.col("value") > 10)
    out = geodesic_reconstruct_1d(ev, ["user_id"], "ts", "value", "_mask")
    return out.select("event_id", "user_id", "reconstructed")


def q_connected_components(spark, sf_dir):
    """W4/W6 graph form: components over an edge list built from events
    (consecutive events of a user within 5 min are linked). Iterative
    min-label propagation with localCheckpoint; oracled against a DuckDB
    RECURSIVE CTE transitive closure (min reachable id per node)."""
    from combinedfeatureextraction_spark.operators.fixpoint import (
        connected_components,
    )

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    edges = (
        ev.withColumn("_prev", F.lag("event_id").over(w))
        .withColumn("_gap", epoch_seconds("ts") - F.lag(epoch_seconds("ts")).over(w))
        .filter(F.col("_prev").isNotNull() & (F.col("_gap") <= 300))
        .select(F.col("_prev").alias("src"), F.col("event_id").alias("dst"))
    )
    return connected_components(edges, max_iter=30)


def q_merge_writeback(spark, sf_dir):
    """K4: narrow features MERGEd back onto the payload table by key —
    payload column must survive byte-identical."""
    from combinedfeatureextraction_spark.plans.writeback import merge_features

    emb = _t(spark, sf_dir, "embeddings")
    feats = emb.select(
        "vec_id",
        F.array_min("embedding").alias("emb_min"),
        F.array_max("embedding").alias("emb_max"),
    )
    merged = merge_features(emb, feats, ["vec_id"])
    return merged.select(
        "vec_id",
        payload_digest("embedding").alias("emb_digest"),
        "label",
        "emb_min",
        "emb_max",
    )


def q_pivot(spark, sf_dir):
    """Pivot: per-user value sums by event_type (A14 wide-per-class form)."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "error", "signup"]
    out = ev.groupBy("user_id").pivot("event_type", types).sum("value")
    cols = [F.coalesce(_r(F.col(t)), F.lit(0.0)).alias(f"sum_{t}") for t in types]
    return out.select("user_id", *cols)


def q_rollup(spark, sf_dir):
    """ROLLUP hierarchy (grand total + per-flag + per-flag-status)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            _r(F.sum("l_quantity")).alias("sum_qty"),
            F.count("*").alias("n"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )


def q_quantiles(spark, sf_dir):
    """Exact interpolated quantile vector per event_type (A1 median
    generalized; percentile_approx is the documented scale path)."""
    ev = _t(spark, sf_dir, "events")
    qs = ev.groupBy("event_type").agg(
        F.percentile(F.col("value"), F.lit(0.25)).alias("_q1"),
        F.percentile(F.col("value"), F.lit(0.5)).alias("_q2"),
        F.percentile(F.col("value"), F.lit(0.95)).alias("_q3"),
    )
    return qs.select(
        "event_type", _r("_q1").alias("p25"), _r("_q2").alias("p50"),
        _r("_q3").alias("p95"),
    )


def q_tumbling_window(spark, sf_dir):
    """Time-bucketed (tumbling 1 h) aggregates via F.window — the batch
    twin of streaming_rolling_agg."""
    ev = _t(spark, sf_dir, "events")
    out = ev.groupBy(F.window(F.col("ts").cast("timestamp"), "1 hour").alias("w")).agg(
        F.count("*").alias("n_events"), _r(F.sum("value")).alias("sum_value")
    )
    return out.select(
        F.col("w.start").cast("timestamp_ntz").alias("w_start"), "n_events", "sum_value"
    )


def q_value_histogram(spark, sf_dir):
    """Fixed-width histogram of value (A11's pass-1 building block) —
    width_bucket → groupBy count, fully map-side combinable."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(F.width_bucket(F.col("value"), F.lit(0.0), F.lit(200.0), F.lit(20)).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


def q_distinct_users(spark, sf_dir):
    """Exact count-distinct per type (A9 analog); approx_count_distinct is
    the documented 100 TB path (not oracled — HLL differs by engine)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    )


def q_asof_join_grid(spark, sf_dir):
    """Grid-indexed broadcast as-of (the engine's fastest small-build
    strategy): driver-compiled dense time grid, O(1)/probe CASE resolve."""
    return asof_join(
        _purchases(spark, sf_dir), _errors(spark, sf_dir),
        keys=["user_id"], probe_ts="ts", build_ts="ts", values=["err_value"],
        strategy="grid",
    ).select("event_id", "user_id", "ts", "value", "err_value")


def q_approx_stats(spark, sf_dir):
    """The documented 100 TB escape hatches: percentile_approx and
    approx_count_distinct (HLL). Sketch values are engine-specific →
    rows-only check; exact twins are oracled in `quantiles` and
    `distinct_users`."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        _r(F.percentile_approx("value", 0.5, 10000)).alias("p50_approx"),
        F.approx_count_distinct("user_id").alias("n_users_approx"),
    )


def q_dedup_clusters(spark, sf_dir):
    """Corpus curation composite: minhash pairs → connected components →
    canonical doc per cluster (planted twins collapse onto the original)."""
    from combinedfeatureextraction_spark.operators.dedup import dedup_clusters

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("text", r" [^ ]+$", "").alias("text"),
    )
    return dedup_clusters(_spread(docs.unionByName(mutated), "doc_id"), "doc_id", "text")


def q_corpus_filter(spark, sf_dir):
    """End-to-end curation filter: quality ≥ 0.5, heuristic lang = 'en',
    exact-dedup winner — the keep-list a training-data pipeline feeds to
    tokenization."""
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    # lazy checkpoint between the scored projection and the filter: a
    # filter on aliased expression columns is otherwise substituted BELOW
    # the projection, and predicate evaluation has no cross-expression
    # subexpression sharing — the quality+lang trees ran ~100× slower as
    # a pushed predicate than as this codegen'd projection (65 s → 2.6 s
    # at sf1.0; see plans/curation.py for the same boundary).
    scored = docs.select(
        "doc_id", "text",
        X.quality_score("text").alias("q"),
        X.lang_id("text").alias("lp"),
    ).localCheckpoint(eager=False).filter(
        (F.col("q") >= 0.5) & (F.col("lp") == "en")
    )
    return exact_dedup(scored, ["text"], [F.col("doc_id").asc()]).select(
        "doc_id", F.col("q").alias("quality")
    )


def q_top_words(spark, sf_dir):
    """Vocabulary building: global top-20 words by frequency (explode →
    map-side-combined count → deterministic top-k)."""
    docs = _spread(_t(spark, sf_dir, "documents").select("text"))
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), F.col("word").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select("word", "n", "rank")
    )


def q_zscore(spark, sf_dir):
    """Per-entity standardization (x-µ)/σ — groupwise normalization over
    an unordered window (one shuffle, no sort)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    mu = F.avg("value").over(w)
    sd = F.stddev_pop("value").over(w)
    z = F.when(sd == 0, F.lit(0.0)).otherwise((F.col("value") - mu) / sd)
    return ev.select("event_id", "user_id", _r(z).alias("zscore"))


def q_ntile(spark, sf_dir):
    """Quartile assignment per entity (ntile ranking window)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").asc(), F.col("event_id").asc())
    return ev.select(
        "event_id", "user_id", F.ntile(4).over(w).alias("quartile")
    )


def q_asof_strict(spark, sf_dir):
    """As-of with allow_exact_matches=False — strictly-earlier match."""
    return asof_join(
        _purchases(spark, sf_dir), _errors(spark, sf_dir),
        keys=["user_id"], probe_ts="ts", build_ts="ts", values=["err_value"],
        allow_exact_matches=False,
    ).select("event_id", "user_id", "err_value")


def q_normalize_embedding(spark, sf_dir):
    """L2-normalized embeddings (ANN preprocessing): array math via
    zip-free transform over the column; rounded for oracle parity.
    The driver's comparator cannot hash raw array cells, so the query
    projects the order-sensitive integer digest of the unit vector; the
    raw-array assertion lives in tests/test_oracle_duckdb.py."""
    from combinedfeatureextraction_spark.functions.arrays import l2_norm

    emb = _t(spark, sf_dir, "embeddings")
    n = l2_norm("embedding")
    unit = F.transform("embedding", lambda x: F.round(x.cast("double") / n, 6))
    return emb.select("vec_id", payload_digest(unit).alias("unit_digest"))


def q_streaming_asof(spark, sf_dir):
    """Streaming point-in-time enrichment: the purchases PROBE arrives as
    a stream and is enriched against the static error-tick history by the
    stateless broadcast-grid as-of (streaming.enrich) — identical result
    (and identical DuckDB ASOF JOIN oracle) to the batch asof_join."""
    from combinedfeatureextraction_spark.streaming.enrich import (
        streaming_asof_enrich,
    )

    ev_schema = _t(spark, sf_dir, "events").schema
    stream = (
        spark.readStream.schema(ev_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "value")
    )
    out = streaming_asof_enrich(
        stream, _errors(spark, sf_dir), keys=["user_id"],
        probe_ts="ts", build_ts="ts", values=["err_value"],
    ).select("event_id", "user_id", "ts", "value", "err_value")
    name = "cfe_stream_asof"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def q_streaming_dedup(spark, sf_dir):
    """Streaming exact dedup (dropDuplicatesWithinWatermark on the content
    hash) aggregated to per-language survivor counts — the counts are
    deterministic (one survivor per distinct text) even though WHICH
    duplicate row survives is first-arrival."""
    from combinedfeatureextraction_spark.streaming.enrich import (
        streaming_exact_dedup,
    )

    docs_schema = _t(spark, sf_dir, "documents").schema
    stream = (
        spark.readStream.schema(docs_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        # documents carry no event time; derive a deterministic one so the
        # watermark horizon is well-defined. Offset away from epoch 0:
        # a row AT 1970-01-01T00:00:00 falls on the state store's initial
        # watermark boundary and is dropped as late data.
        .withColumn(
            "ts", F.timestamp_seconds(F.col("doc_id") + F.lit(1_000_000_000))
        )
    )
    # composite (lang, text) key so the per-lang survivor counts are
    # deterministic even when the same text appears under two langs
    surv = streaming_exact_dedup(
        stream, ["lang", "text"], "ts", watermark="3650 days"
    )
    name = "cfe_stream_dedup"
    q = (
        surv.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("lang")
        .agg(F.count("*").alias("n_distinct_docs"))
    )


def q_corpus_curation(spark, sf_dir):
    """Composite training-data curation plan (plans.curation): text
    features at scan → quality floor → exact dedup → MinHash near-dup
    clustering → canonical winners; returns the per-language stage-count
    manifest. FULLY ORACLED (round 3): the DuckDB dual recomputes every
    stage — the proven lang/quality/token SQL duals, the exact-dedup
    window, and the near-dup stage as a recursive-CTE closure over
    exact-Jaccard pairs (candidate recall is complete here: every
    natural near-dup pair sits at jaccard ≥ 0.88, where the 16-band/r=4
    hit probability is ~1−1e−7). Stage-count reconciliation additionally
    pytest-verified (tests/test_curation.py)."""
    from combinedfeatureextraction_spark.plans.curation import curate_corpus

    docs = _spread(_t(spark, sf_dir, "documents"))
    _, manifest = curate_corpus(docs)
    return manifest.orderBy("lang_pred")


def q_glcm_stats(spark, sf_dir):
    """W1 (complete): GLCM texture statistics — contrast/homogeneity/
    energy/correlation from the symmetric offset-1 co-occurrence histogram
    per entity (FeatureExtractor.py:500-519 ``graycomatrix``+``graycoprops``
    closed forms on the 1-D value sequence, 16 quantization levels)."""
    from combinedfeatureextraction_spark.operators.texture import (
        glcm_texture,
        quantize_level,
    )

    ev = _t(spark, sf_dir, "events").withColumn("lvl", quantize_level("value", 16))
    out = glcm_texture(ev, "lvl", ["user_id"], ["ts", "event_id"])
    return out.select(
        "user_id",
        _r("contrast").alias("contrast"),
        _r("homogeneity").alias("homogeneity"),
        _r("energy").alias("energy"),
        _r("correlation").alias("correlation"),
    )


def q_component_stats(spark, sf_dir):
    """A10/X9 (complete): per-component MOMENT features (std/duration/
    range/aspect — regionprops analogs, FeatureExtractor.py:544-580) then
    the 6-stat rollup of those per entity (:584-616). Two shuffles total:
    (entity, session) combinable agg, then the small per-entity 6-stat."""
    from combinedfeatureextraction_spark.operators.sessionize import (
        component_moments,
    )

    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, ["user_id"], "ts", GAP)
    moments = component_moments(s, ["user_id"], "ts", "value")
    agg = six_stat_agg(
        moments, ["session_std", "session_duration", "session_aspect"], ["user_id"]
    )
    stats = [
        f"{f}_{s}"
        for f in ("session_std", "session_duration", "session_aspect")
        for s in ("sum", "mean", "std", "median", "min", "max")
    ]
    return agg.select("user_id", *[_r(c).alias(c) for c in stats])


def q_deconvolution(spark, sf_dir):
    """X2: color deconvolution (log-space 3×3 unmix) — the reference's
    slowest per-pixel Python loop (PAS_deconvolution.py:67-89) as pure
    codegen'd column arithmetic, VALUE-parity (scaled OD, clip, half-up
    round). Channels synthesized deterministically from the events table."""
    from combinedfeatureextraction_spark.functions.deconvolution import (
        DEFAULT_STAIN_MATRIX,
        unmix_channels,
    )

    ev = _t(spark, sf_dir, "events")
    ch = ev.select(
        "event_id",
        F.pmod(F.floor(F.col("value") * 7), F.lit(256)).cast("double").alias("r"),
        F.pmod(F.floor(F.col("value") * 13), F.lit(256)).cast("double").alias("g"),
        F.pmod(F.floor(F.col("value") * 29), F.lit(256)).cast("double").alias("b"),
    )
    u = unmix_channels(["r", "g", "b"], DEFAULT_STAIN_MATRIX)
    return ch.select(
        "event_id",
        u[0].alias("stain1"),
        u[1].alias("stain2"),
        u[2].alias("stain3"),
    )


def q_polygon_features(spark, sf_dir):
    """X7: in-UDF polygon rasterize → mask features (area/bbox/centroid).
    Polygons synthesized as deterministic axis-aligned rectangles so the
    DuckDB oracle has the closed form (rect mask area = w·h, centroid =
    corner + half-extent) while the Spark side runs the REAL even-odd
    scanline rasterizer (FeatureExtractor.py:313 analog); irregular-shape
    parity is covered in tests/test_rasterize.py."""
    from combinedfeatureextraction_spark.multimodal.rasterize import (
        polygon_mask_features,
    )

    emb = _spread(_t(spark, sf_dir, "embeddings").select("vec_id"))
    v = F.col("vec_id")
    x0, y0 = F.pmod(v * 7, F.lit(50)), F.pmod(v * 13, F.lit(50))
    w, h = F.pmod(v * 3, F.lit(20)) + 1, F.pmod(v * 5, F.lit(20)) + 1
    pts = F.array(
        F.array(x0, y0),
        F.array(x0 + w, y0),
        F.array(x0 + w, y0 + h),
        F.array(x0, y0 + h),
    )
    poly = emb.select("vec_id", pts.alias("points"))
    out = polygon_mask_features(poly, "points", ["vec_id"])
    return out.select(
        "vec_id", "mask_area", "bbox_w", "bbox_h",
        _r("centroid_x").alias("centroid_x"),
        _r("centroid_y").alias("centroid_y"),
    )


def q_polygon_components(spark, sf_dir):
    """W4/W5 upstreamed to 2-D (round-3): rasterize → 2-D connected
    components → per-component measurement inside ONE per_row_map
    (FeatureExtractor.py:346-354 split-then-measure shape). ORACLED
    analytically (round-4): odd vec_ids trace TWO disjoint axis-aligned
    rectangles as one even-odd ring (a horizontal retraced bridge joins
    them; horizontal edges never cross a scanline, so the fill is the
    two rectangles exactly — pixel-exact per tests/test_rasterize.py::
    test_rectangle_exact), with the right rectangle strictly wider so
    the largest component is unique. Even ids get a plain rectangle.
    Component count / areas / centroids are then closed-form vec_id
    arithmetic that DuckDB recomputes — an end-to-end check of
    rasterize → union-find labeling → per-component measurement.
    Irregular-shape (bowtie) parity stays covered by the independent
    BFS flood-fill test in tests/test_rasterize.py."""
    from combinedfeatureextraction_spark.multimodal.rasterize import (
        polygon_component_features,
    )

    emb = _spread(_t(spark, sf_dir, "embeddings").select("vec_id"))
    v = F.col("vec_id")
    x0, y0 = F.pmod(v * 7, F.lit(50)), F.pmod(v * 13, F.lit(50))
    w, h = F.pmod(v * 3, F.lit(20)) + 2, F.pmod(v * 5, F.lit(20)) + 2
    x1, w2 = x0 + w + 2, w + 2  # right rect: 1-col gap, strictly wider
    rect = F.array(
        F.array(x0, y0), F.array(x0 + w, y0),
        F.array(x0 + w, y0 + h), F.array(x0, y0 + h),
    )
    tworect = F.array(
        F.array(x0, y0), F.array(x0 + w, y0),
        F.array(x0 + w, y0 + h), F.array(x0, y0 + h), F.array(x0, y0),
        F.array(x1, y0), F.array(x1 + w2, y0),
        F.array(x1 + w2, y0 + h), F.array(x1, y0 + h), F.array(x1, y0),
    )
    poly = emb.select(
        "vec_id",
        F.when(v % 2 == 1, tworect).otherwise(rect).alias("points"),
    )
    out = polygon_component_features(poly, "points", ["vec_id"])
    return out.select(
        "vec_id", "mask_area", "n_components", "largest_area",
        _r("largest_cx").alias("largest_cx"),
        _r("largest_cy").alias("largest_cy"),
        _r("area_ratio").alias("area_ratio"),
    )


def q_polygon_watershed(spark, sf_dir):
    """W5 upstreamed to TRUE 2-D (round-3): rasterize → exact Euclidean
    distance transform (separable Felzenszwalb) → plateau-maxima markers
    → priority-flood watershed → per-object measurement, all inside ONE
    per_row_map — the full dual of the reference's touching-object split
    (FeatureExtractor.py:346-354: distanceTransform → peak_local_max →
    watershed). Polygons deterministic from vec_id: odd ids get a
    DUMBBELL (two blocks joined by a thin neck — EDT peaks in the block
    cores, the flood splits at the neck → 2 objects), even ids a plain
    rectangle (1 object). ORACLED analytically (round-4): the dumbbell
    is SYMMETRIC (equal blocks, even neck length), so the deterministic
    priority flood splits the neck exactly at its midpoint and the two
    equal basins tie — argmax picks the lowest label = the LEFT basin
    (markers are numbered in raster order). Basin count, areas, the
    left-basin centroid (block + left neck half, closed-form weighted
    mean) and area_ratio = 0.5 are all vec_id arithmetic that DuckDB
    recomputes — an end-to-end check of rasterize → exact EDT →
    plateau markers → priority flood → measurement, incl. the genuine
    neck split. The closed form is pinned against the numpy kernel for
    every fixture row by tests/test_rasterize.py::
    test_watershed_fixture_closed_form (so an algorithm change trips
    pytest before the driver gate); exact-EDT parity vs brute force and
    flood invariants are proven there too."""
    from combinedfeatureextraction_spark.multimodal.rasterize import (
        polygon_watershed_features,
    )

    emb = _spread(_t(spark, sf_dir, "embeddings").select("vec_id"))
    v = F.col("vec_id")
    x0, y0 = F.pmod(v * 7, F.lit(50)), F.pmod(v * 13, F.lit(50))
    a = F.pmod(v * 3, F.lit(8)) + 8      # block width 8..15
    hh = F.pmod(v * 5, F.lit(6)) + 10    # height 10..15
    nk = F.lit(6)                        # neck length
    yc = y0 + F.floor(hh / 2)
    rect = F.array(
        F.array(x0, y0), F.array(x0 + a, y0),
        F.array(x0 + a, y0 + hh), F.array(x0, y0 + hh),
    )
    dumbbell = F.array(
        F.array(x0, y0), F.array(x0 + a, y0),
        F.array(x0 + a, yc - 1), F.array(x0 + a + nk, yc - 1),
        F.array(x0 + a + nk, y0), F.array(x0 + 2 * a + nk, y0),
        F.array(x0 + 2 * a + nk, y0 + hh), F.array(x0 + a + nk, y0 + hh),
        F.array(x0 + a + nk, yc + 1), F.array(x0 + a, yc + 1),
        F.array(x0 + a, y0 + hh), F.array(x0, y0 + hh),
    )
    poly = emb.select(
        "vec_id",
        F.when(v % 2 == 1, dumbbell).otherwise(rect).alias("points"),
    )
    out = polygon_watershed_features(poly, "points", ["vec_id"])
    return out.select(
        "vec_id", "mask_area", "n_objects", "largest_area",
        _r("largest_cx").alias("largest_cx"),
        _r("largest_cy").alias("largest_cy"),
        _r("area_ratio").alias("area_ratio"),
    )


def q_polygon_holes(spark, sf_dir):
    """Hole-filling over rasterized polygons — the reference's
    binary_fill_holes step (extract_reference_features.py:106,482),
    backed by reconstruct_2d_numpy's dual (imreconstruct,
    extract_ffpe_features.py:6): background components not reaching the
    border are cavities. Odd vec_ids get an ANNULUS (outer + inner
    square traced as one even-odd ring → exactly one hole), even ids a
    plain rectangle. ORACLED analytically: axis-aligned integer
    rectangles rasterize pixel-exactly (tests/test_rasterize.py::
    test_rectangle_exact), so mask/filled/hole areas equal closed-form
    arithmetic on vec_id — a genuine end-to-end check that rasterize →
    background-CC → border-reachability produces exact pixel counts."""
    from combinedfeatureextraction_spark.multimodal.rasterize import (
        polygon_hole_features,
    )

    emb = _spread(_t(spark, sf_dir, "embeddings").select("vec_id"))
    v = F.col("vec_id")
    x0, y0 = F.pmod(v * 7, F.lit(50)), F.pmod(v * 13, F.lit(50))
    d = F.pmod(v * 3, F.lit(8)) + 10          # outer square side 10..17
    rw, rh = F.pmod(v * 3, F.lit(10)) + 4, F.pmod(v * 5, F.lit(10)) + 4
    rect = F.array(
        F.array(x0, y0), F.array(x0 + rw, y0),
        F.array(x0 + rw, y0 + rh), F.array(x0, y0 + rh),
    )
    annulus = F.array(
        F.array(x0, y0), F.array(x0 + d, y0),
        F.array(x0 + d, y0 + d), F.array(x0, y0 + d), F.array(x0, y0),
        F.array(x0 + 3, y0 + 3), F.array(x0 + d - 3, y0 + 3),
        F.array(x0 + d - 3, y0 + d - 3), F.array(x0 + 3, y0 + d - 3),
        F.array(x0 + 3, y0 + 3),
    )
    poly = emb.select(
        "vec_id",
        F.when(v % 2 == 1, annulus).otherwise(rect).alias("points"),
    )
    return polygon_hole_features(poly, "points", ["vec_id"])


def q_media_decode(spark, sf_dir):
    """REAL media decode, ORACLED: pure-numpy codecs (no cv2/PIL/librosa)
    for binary netpbm and RIFF/WAVE PCM (multimodal/binary.py). Payloads
    are CONSTRUCTED deterministically in Spark — even vec_ids a P6 PPM
    4×3 whose pixel byte j = (v·7+j·13) mod 256, odd ids a 16-bit PCM
    WAV whose sample k = signed16((v·31+k·17) mod 65536) — then decoded
    through the full per_row_map path (magic sniff, header parse,
    dimension math, little-endian samples). The DuckDB dual recomputes
    the decoded-domain stats from the same arithmetic, so a header
    off-by-one, stride or byte-order bug breaks the hash match. The
    payload-construction lambda is test-rig-only (500 rows), not a hot
    path; production reads real bytes."""
    from combinedfeatureextraction_spark.multimodal.binary import (
        extract_decoded_features,
    )

    _PPM_HDR = "50360A3420330A3235350A"  # "P6\n4 3\n255\n"
    _WAV_HDR = (  # RIFF/WAVE, PCM, mono, 8 kHz, 16-bit, 32-byte data
        "524946464400000057415645666D7420100000000100"
        "0100401F0000803E0000020010006461746120000000"
    )
    emb = _spread(_t(spark, sf_dir, "embeddings").select("vec_id"))
    v = F.col("vec_id")
    ppm_body = F.expr(
        "array_join(transform(sequence(0, 35), "
        "j -> lpad(hex((vec_id * 7 + j * 13) % 256), 2, '0')), '')"
    )
    wav_body = F.expr(
        "array_join(transform(sequence(0, 15), k -> concat("
        "lpad(hex(((vec_id * 31 + k * 17) % 65536) % 256), 2, '0'), "
        "lpad(hex(((vec_id * 31 + k * 17) % 65536) div 256), 2, '0'))), '')"
    )
    media = emb.select(
        v.alias("media_id"),
        F.when(v % 2 == 0, F.lit("image")).otherwise(F.lit("audio")).alias(
            "media_type"
        ),
        F.unhex(
            F.when(v % 2 == 0, F.concat(F.lit(_PPM_HDR), ppm_body)).otherwise(
                F.concat(F.lit(_WAV_HDR), wav_body)
            )
        ).alias("payload"),
        F.struct(
            F.lit(0).alias("width"), F.lit(0).alias("height"),
            F.lit(0).alias("n_frames"), F.lit(0).alias("sample_rate"),
        ).alias("meta"),
    )
    out = extract_decoded_features(media)
    return out.select(
        "media_id", "media_type", "n_samples",
        _r("sample_mean").alias("sample_mean"),
        _r("sample_std").alias("sample_std"),
        "width", "height", "channels",
    )


def q_media_decode_png(spark, sf_dir):
    """COMPRESSED media decode, ORACLED (round-4): pure-stdlib PNG
    (zlib inflate + per-scanline unfilter — multimodal/binary.py:
    decode_png; reference analog: the slide-payload decode path S2,
    FeatureExtractor.py:300). Payloads are PNGs built per vec_id by the
    test-rig encoder (filters cycling None/Sub/Up/Average/Paeth, so all
    five unfilter branches run) over pixel byte j = (v·7+j·13) mod 256;
    vec_id mod 3 picks gray 4×6 / RGB 3×4 / RGBA 3×3. The DuckDB dual
    recomputes the decoded-domain stats from the same arithmetic — a
    filter-reconstruction, dimension or channel bug breaks the hash.
    Encoder↔spec conformance is pinned independently against Java
    ImageIO (tests/test_deconvolution_multimodal.py), so encoder+decoder
    can't drift together. The per-row encode rig is test-only (500
    rows); production reads real bytes."""
    import numpy as np
    from pyspark.sql import types as T

    from combinedfeatureextraction_spark.multimodal.binary import (
        encode_png_numpy,
        extract_decoded_features,
    )
    from combinedfeatureextraction_spark.multimodal.rowmap import per_row_map

    emb = _spread(_t(spark, sf_dir, "embeddings").select("vec_id"))

    # the kernel returns the id too: passed through as an id column it
    # would take the scan's nullable type, not the rig's non-null one
    def rig(v):
        h, w, ch = ((6, 4, 1), (4, 3, 3), (3, 3, 4))[v % 3]
        px = ((v * 7 + np.arange(h * w * ch) * 13) % 256).astype(np.uint8)
        return v, "image", encode_png_numpy(px.reshape(h, w, ch))

    media = per_row_map(emb, [], ["vec_id"], rig, [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ])
    out = extract_decoded_features(media)
    return out.select(
        "media_id", "n_samples",
        _r("sample_mean").alias("sample_mean"),
        _r("sample_std").alias("sample_std"),
        "width", "height", "channels",
    )


def q_media_decode_jpeg(spark, sf_dir):
    """Baseline JPEG decode, ORACLED on the standard's EXACT half
    (round-4): T.81 specifies marker parsing + Huffman entropy decoding
    + dequantization bit-exactly (only the IDCT carries an accuracy
    tolerance), so COEFFICIENT-domain features are externally
    verifiable. Payloads are grayscale baseline JPEGs built per vec_id
    by the test-rig encoder (Annex K.3 tables, quant=1) from planted
    quantized coefficients — DC of block i = 8·((v·7+i·5) mod 16)
    (exercising the DC prediction chain), zigzag AC positions 1..9 =
    ((v·11+i·13+j·17) mod 7) − 3 (zeros → runs/EOB) — then decoded
    through the REAL path (multimodal/jpeg.py: bit reader with byte
    unstuffing, canonical Huffman, EXTEND, dequant). The DuckDB dual
    recomputes dc_sum / ac_abs_sum from the same arithmetic; a
    table-construction, bit-order, predictor or run-length bug breaks
    the hash. The PROGRESSIVE (SOF2) path is gated too: the rig
    re-encodes the same coefficients as a spectral-selection stream and
    the oracled prog_coeff_match boolean asserts the multi-scan decoder
    reproduces them bit-identically. The pixel half (float IDCT + fancy
    4:2:0 upsampling + YCbCr) is pinned against Java ImageIO within the
    spec tolerance in tests/test_jpeg.py (incl. ImageIO-written
    progressive files); n_samples here proves it executes. Ref analog:
    slide-payload decode S2 (FeatureExtractor.py:300)."""
    import numpy as np
    from pyspark.sql import types as T

    from combinedfeatureextraction_spark.multimodal.jpeg import (
        _ZIGZAG,
        decode_jpeg,
        decode_jpeg_coeffs,
        encode_jpeg_gray_numpy,
    )
    from combinedfeatureextraction_spark.multimodal.rowmap import per_row_map

    emb = _spread(_t(spark, sf_dir, "embeddings").select("vec_id"))
    ii = np.arange(6)
    jj = np.arange(1, 10)

    def rig(v):
        # the per-block loop's arithmetic, vectorized (the rig runs once
        # per corpus row — the python double loop was the bench query's
        # hot spot after the decoder itself was table-driven)
        nat = np.zeros((6, 64), np.int64)
        nat[:, 0] = 8 * ((v * 7 + ii * 5) % 16)
        nat[:, _ZIGZAG[jj]] = (
            v * 11 + ii[:, None] * 13 + jj[None, :] * 17
        ) % 7 - 3
        q = nat.reshape(2, 3, 8, 8)
        payload = encode_jpeg_gray_numpy(q)
        grids, meta = decode_jpeg_coeffs(payload)
        c = grids[0]
        dc_sum = int(c[:, :, 0, 0].sum())
        ac_abs = int(np.abs(c).sum() - np.abs(c[:, :, 0, 0]).sum())
        flat, w, h, ch = decode_jpeg(payload)
        # the SAME coefficients as a PROGRESSIVE (SOF2) stream: the
        # multi-scan decode path must reproduce them bit-identically
        # (gated via the oracled boolean)
        pgrids, pmeta = decode_jpeg_coeffs(
            encode_jpeg_gray_numpy(q, progressive=True)
        )
        prog_match = bool(pmeta["progressive"] and np.array_equal(pgrids[0], c))
        return (v, meta["width"], meta["height"], c.shape[0] * c.shape[1],
                dc_sum, ac_abs, len(flat), prog_match)

    return per_row_map(emb, [], ["vec_id"], rig, [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("n_blocks", T.IntegerType(), False),
        T.StructField("dc_sum", T.LongType(), False),
        T.StructField("ac_abs_sum", T.LongType(), False),
        T.StructField("n_samples", T.IntegerType(), False),
        T.StructField("prog_coeff_match", T.BooleanType(), False),
    ])


def q_polygon_edt(spark, sf_dir):
    """The reference's ARTERY COMPOSITE (points_to_features_art,
    extract_reference_features.py:432-503): rasterize → EDT → max
    inscribed radius + mean interior distance → interior segmentation
    (deterministic dist>0.3·max analog of the LAB-luminance threshold,
    line 476) → fill holes (line 482) → re-EDT → luminal ratio
    max(WSdist)/distMax (line 503). ORACLED analytically on rectangles:
    inside an axis-aligned rectangle the nearest background is always
    axis-aligned, so EDT(r,c) = min(r+1, h−r, c+1, w−c) exactly; DuckDB
    enumerates the cells and reproduces max/mean/threshold-margin in
    closed form — a per-pixel check of the whole EDT→segment→fill→EDT
    chain."""
    from combinedfeatureextraction_spark.multimodal.rasterize import (
        polygon_edt_features,
    )

    emb = _spread(_t(spark, sf_dir, "embeddings").select("vec_id"))
    v = F.col("vec_id")
    x0, y0 = F.pmod(v * 7, F.lit(50)), F.pmod(v * 13, F.lit(50))
    w, h = F.pmod(v * 3, F.lit(10)) + 5, F.pmod(v * 5, F.lit(10)) + 5
    rect = F.array(
        F.array(x0, y0), F.array(x0 + w, y0),
        F.array(x0 + w, y0 + h), F.array(x0, y0 + h),
    )
    poly = emb.select("vec_id", rect.alias("points"))
    out = polygon_edt_features(poly, "points", ["vec_id"])
    return out.select(
        "vec_id", "mask_area",
        _r("dist_max").alias("dist_max"),
        _r("mean_dist").alias("mean_dist"),
        "seg_area",
        _r("seg_dist_max").alias("seg_dist_max"),
        _r("luminal_ratio").alias("luminal_ratio"),
    )


def q_media_decode_flac(spark, sf_dir):
    """FLAC decode, ORACLED on losslessness (round-5): FLAC reconstructs
    PCM bit-exactly, so decoded-domain stats are externally verifiable
    with no tolerance. Per vec_id the rig plants 24×2 interleaved
    samples ((v·13+k·7+ch·3) mod 4001 − 2000), encodes them as a REAL
    FLAC stream (fixed-order-2 predictor subframes with single-partition
    Rice residuals — warm-up, prediction and zigzag/unary residual paths
    all exercised), and decodes through multimodal.flac (stream marker,
    STREAMINFO, frame header incl. UTF-8 number + CRC fields, subframe
    + residual machinery, channel interleave). The DuckDB dual
    recomputes n_samples/mean/std from the same arithmetic — any bit
    reader, predictor, Rice or interleave bug breaks the hash. VERBATIM
    subframes, stereo decorrelation and 8/24-bit paths are pinned in
    tests/test_flac.py. The rig is test-only; production reads real
    bytes through the same magic-dispatch (binary._decode_real)."""
    import numpy as np
    from pyspark.sql import types as T

    from combinedfeatureextraction_spark.multimodal.flac import (
        decode_flac,
        encode_flac_numpy,
    )
    from combinedfeatureextraction_spark.multimodal.rowmap import per_row_map

    emb = _spread(_t(spark, sf_dir, "embeddings").select("vec_id"))
    kk = np.arange(24)[:, None]
    cc = np.arange(2)[None, :]

    def rig(v):
        x = ((v * 13 + kk * 7 + cc * 3) % 4001) - 2000
        payload = encode_flac_numpy(
            x, sample_rate=8000, subframe="fixed2", rice_param=10
        )
        flat, rate, nch = decode_flac(payload)
        return v, len(flat), float(flat.mean()), float(flat.std()), rate, nch

    out = per_row_map(emb, [], ["vec_id"], rig, [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_samples", T.IntegerType(), False),
        T.StructField("sample_mean", T.DoubleType(), False),
        T.StructField("sample_std", T.DoubleType(), False),
        T.StructField("sample_rate", T.IntegerType(), False),
        T.StructField("channels", T.IntegerType(), False),
    ])
    return out.select(
        "media_id", "n_samples",
        _r("sample_mean").alias("sample_mean"),
        _r("sample_std").alias("sample_std"),
        "sample_rate", "channels",
    )


def q_polygon_ring(spark, sf_dir):
    """Boundary-ring morphology composite — the reference's TBM-thickness
    family (process_mc_features.py:83-115): ring = dilate(mask, disk(r))
    minus erode(dilate(mask, disk(r)), disk(r)), then per-component
    area-weighted mean thickness area/(perimeter/2) — the last reference
    feature family without a direct dual (r04 verdict item 3). Both
    morphology halves (disk-offset slice sweeps, equal to exact-EDT
    thresholds) run inside one per_row_map.
    ORACLED analytically on rectangles: dilating a w×h rectangle by
    disk(r) adds 2r(w+h) side-band cells plus four quarter-disk corners
    Q(r) = Σ_{i=1..r} floor(sqrt(r²−i²)); eroding the dilation by the
    same disk recovers the rectangle EXACTLY (discrete closing of a
    rectangle by a disk is the rectangle — proven by the diagonal
    farthest-point argument in ring_stats_numpy's pytest), so ring_area
    = 2r(w+h) + 4Q(r); the ring is one HV-convex-bounded component with
    4-edge perimeter 2(w+h+4r) outside + 2(w+h) inside. DuckDB
    recomputes all of it in closed form, including Q(r) via
    generate_series."""
    from combinedfeatureextraction_spark.multimodal.rasterize import (
        polygon_ring_features,
    )

    emb = _spread(_t(spark, sf_dir, "embeddings").select("vec_id"))
    v = F.col("vec_id")
    x0, y0 = F.pmod(v * 11, F.lit(40)), F.pmod(v * 17, F.lit(40))
    w, h = F.pmod(v * 3, F.lit(10)) + 5, F.pmod(v * 5, F.lit(10)) + 5
    rect = F.array(
        F.array(x0, y0), F.array(x0 + w, y0),
        F.array(x0 + w, y0 + h), F.array(x0, y0 + h),
    )
    poly = emb.select("vec_id", rect.alias("points"))
    out = polygon_ring_features(poly, "points", ["vec_id"], radius=5)
    return out.select(
        "vec_id", "ring_area", "ring_perimeter", "ring_components",
        _r("ring_avg_thickness").alias("ring_avg_thickness"),
    )


def q_color_stats(spark, sf_dir):
    """HSV + LAB masked color stats (closes SURVEY X1): decode a planted
    P6 image and its P5 compartment mask → rgb2hsv / rgb2lab in-UDF →
    masked per-channel mean/std — the reference's
    calculate_color_features (FeatureExtractor.py:467-498) in the spaces
    its thresholds run in (rgb2hsv FeatureExtractor.py:325,333; rgb2lab
    process_mc_features.py:68-71). Fixture: 4×4 image whose LEFT half
    (the masked compartment) alternates two vec_id-derived colors by row
    (4 pixels each) and whose right half is white (must not leak), so
    every masked stat is closed-form: mean = (f(c1)+f(c2))/2, std =
    |f(c1)−f(c2)|/2 per channel. Colors are constructed so each has a
    strict max channel and nonzero delta (no HSV tie branches), and the
    DuckDB dual recomputes the FULL transform chain — sRGB gamma decode,
    XYZ matrix, D65 normalize, CIE f(t) with both branches, and the HSV
    sextant formula — in SQL. Payload-construction lambdas are
    test-rig-only; production reads real bytes."""
    from combinedfeatureextraction_spark.multimodal.color import (
        masked_color_stats,
    )

    _IMG_HDR = "50360A3420340A3235350A"  # "P6\n4 4\n255\n"
    _MSK_HDR = "50350A3420340A3235350A"  # "P5\n4 4\n255\n"
    emb = _spread(_t(spark, sf_dir, "embeddings").select("vec_id"))
    v = F.col("vec_id")
    img_body = F.expr(
        "array_join(transform(sequence(0, 15), j -> "
        "CASE WHEN j % 4 < 2 THEN "
        "  CASE WHEN (j div 4) % 2 = 0 THEN concat("
        "    lpad(hex(150 + vec_id % 100), 2, '0'), "
        "    lpad(hex(40 + vec_id % 30), 2, '0'), "
        "    lpad(hex(vec_id % 40), 2, '0')) "
        "  ELSE concat("
        "    lpad(hex(vec_id % 50), 2, '0'), "
        "    lpad(hex(120 + vec_id % 80), 2, '0'), "
        "    lpad(hex(50 + vec_id % 50), 2, '0')) END "
        "ELSE 'FFFFFF' END), '')"
    )
    msk_body = F.lit("FFFF0000" * 4)
    media = emb.select(
        v.alias("media_id"),
        F.unhex(F.concat(F.lit(_IMG_HDR), img_body)).alias("payload"),
        F.unhex(F.concat(F.lit(_MSK_HDR), msk_body)).alias("mask_payload"),
    )
    hsv = masked_color_stats(media, space="hsv")
    lab = masked_color_stats(media, space="lab")
    return hsv.alias("h").join(lab.alias("l"), "media_id").select(
        "media_id",
        F.col("h.n_masked").alias("n_masked"),
        _r("h.c1_mean").alias("h_mean"),
        _r("h.c2_mean").alias("s_mean"),
        _r("h.c3_mean").alias("v_mean"),
        _r("h.c1_std").alias("h_std"),
        _r("h.c2_std").alias("s_std"),
        _r("h.c3_std").alias("v_std"),
        _r("l.c1_mean").alias("lab_l_mean"),
        _r("l.c2_mean").alias("lab_a_mean"),
        _r("l.c3_mean").alias("lab_b_mean"),
        _r("l.c1_std").alias("lab_l_std"),
        _r("l.c2_std").alias("lab_a_std"),
        _r("l.c3_std").alias("lab_b_std"),
    )


def q_subcompartment(spark, sf_dir):
    """The reference's SUB-COMPARTMENT SEGMENTATION CASCADE
    (FeatureExtractor.sub_segment_image, FeatureExtractor.py:318-380):
    nuclei via masked-histogram-equalized 255−V threshold (+ hole fill,
    small-object removal; the watershed step is the documented >0
    identity), eosinophilic via HSV-saturation threshold over the
    REMAINDER mask, luminal as the boundary-mask remainder — one-hot
    masks feeding per-compartment area + mean-V stats. Fixture: 8×8
    three-stripe images with vec_id-derived stripe widths and levels,
    chosen so every cascade branch resolves closed-form: the equalized
    dark stripe always maps to 255 (> the 200 threshold) while
    floor(255·(w2+w3)/8) ≤ 191 keeps the bright stripes out; the eos
    stripe's S_u8 = floor(255·((100−bb)/200)) ∈ [65,127] > 60; the
    luminal param thresholds at 255 (selects nothing) and receives the
    remainder. DuckDB recomputes stripe areas and the constant
    per-stripe V means — any equalize/threshold/remainder-bookkeeping
    bug reroutes pixels and breaks the areas. Hole-fill, small-object
    and equalize internals are pinned separately in
    tests/test_subcompartment.py."""
    from combinedfeatureextraction_spark.multimodal.subcompartment import (
        sub_compartment_features,
    )

    _IMG_HDR = "50360A3820380A3235350A"  # "P6\n8 8\n255\n"
    _MSK_HDR = "50350A3820380A3235350A"  # "P5\n8 8\n255\n"
    emb = _spread(_t(spark, sf_dir, "embeddings").select("vec_id"))
    img_body = F.expr(
        "array_join(transform(sequence(0, 63), j -> "
        "CASE WHEN j % 8 < 2 + vec_id % 3 THEN "
        "  repeat(lpad(hex(20 + vec_id % 20), 2, '0'), 3) "
        "WHEN j % 8 < 4 + vec_id % 3 + vec_id % 2 THEN concat('C8', "
        "  lpad(hex(100 + vec_id % 50), 2, '0'), "
        "  lpad(hex(100 + vec_id % 50), 2, '0')) "
        "ELSE 'DCDCDC' END), '')"
    )
    media = emb.select(
        F.col("vec_id").alias("media_id"),
        F.unhex(F.concat(F.lit(_IMG_HDR), img_body)).alias("payload"),
        F.unhex(F.concat(F.lit(_MSK_HDR), F.lit("FF" * 64))).alias(
            "mask_payload"
        ),
    )
    out = sub_compartment_features(
        media,
        params=[
            {"name": "nuclei", "threshold": 200, "min_size": 4},
            {"name": "eos", "threshold": 60, "min_size": 4},
            {"name": "luminal", "threshold": 255, "min_size": 0},
        ],
    )
    return out.select(
        "media_id", "c1_area", "c2_area", "c3_area",
        _r("c1_mean_v").alias("c1_mean_v"),
        _r("c2_mean_v").alias("c2_mean_v"),
        _r("c3_mean_v").alias("c3_mean_v"),
        _r("c1_dt_sum").alias("c1_dt_sum"),
        _r("c2_dt_sum").alias("c2_dt_sum"),
        _r("c3_dt_sum").alias("c3_dt_sum"),
        _r("c1_dt_mean").alias("c1_dt_mean"),
        _r("c2_dt_mean").alias("c2_dt_mean"),
        _r("c3_dt_mean").alias("c3_dt_mean"),
        _r("c1_dt_max").alias("c1_dt_max"),
        _r("c2_dt_max").alias("c2_dt_max"),
        _r("c3_dt_max").alias("c3_dt_max"),
    )


def q_subcompartment_texture(spark, sf_dir):
    """Per-compartment GLCM TEXTURE over the segmentation cascade — the
    reference's calculate_texture_features (FeatureExtractor.py:500-520:
    image zeroed outside each compartment, rgb2gray·255 uint8,
    graycomatrix(distance 1, angle 0, symmetric, normed), graycoprops
    contrast/homogeneity/correlation/energy). Same three-stripe fixture
    as q_subcompartment, where each compartment-masked image is a
    full-height stripe of gray level g on a 0 background — so the
    symmetric co-occurrence matrix has exactly FOUR nonzero cells
    ((g,g), (g,0), (0,g), (0,0)) and every prop is closed-form in
    (w, g, nb) where nb = the stripe's boundary count (edge stripes 1,
    the middle stripe 2 — each boundary contributes 8 directed mixed
    pairs): contrast = nb·g²/7, homogeneity = (56−8nb)/56 +
    (8nb/56)/(1+g²), energy = sqrt(((w−1)/7)² + 2(nb/14)² +
    ((8−w−nb)/7)²), correlation from the two-level marginal
    Pg = (2w−2+nb)/14. The gray level's float chain (channel/255 ·
    luma weight, summed left-to-right, ×255, floor) is mirrored
    verbatim in the SQL so the truncated integer levels agree exactly;
    the prop algebra agrees to ~1e-12 (round 6dp both sides)."""
    from combinedfeatureextraction_spark.multimodal.subcompartment import (
        sub_compartment_texture,
    )

    _IMG_HDR = "50360A3820380A3235350A"
    _MSK_HDR = "50350A3820380A3235350A"
    emb = _spread(_t(spark, sf_dir, "embeddings").select("vec_id"))
    img_body = F.expr(
        "array_join(transform(sequence(0, 63), j -> "
        "CASE WHEN j % 8 < 2 + vec_id % 3 THEN "
        "  repeat(lpad(hex(20 + vec_id % 20), 2, '0'), 3) "
        "WHEN j % 8 < 4 + vec_id % 3 + vec_id % 2 THEN concat('C8', "
        "  lpad(hex(100 + vec_id % 50), 2, '0'), "
        "  lpad(hex(100 + vec_id % 50), 2, '0')) "
        "ELSE 'DCDCDC' END), '')"
    )
    media = emb.select(
        F.col("vec_id").alias("media_id"),
        F.unhex(F.concat(F.lit(_IMG_HDR), img_body)).alias("payload"),
        F.unhex(F.concat(F.lit(_MSK_HDR), F.lit("FF" * 64))).alias(
            "mask_payload"
        ),
    )
    out = sub_compartment_texture(
        media,
        params=[
            {"name": "nuclei", "threshold": 200, "min_size": 4},
            {"name": "eos", "threshold": 60, "min_size": 4},
            {"name": "luminal", "threshold": 255, "min_size": 0},
        ],
    )
    sel = ["media_id"]
    for k in (1, 2, 3):
        for name in ("contrast", "homogeneity", "correlation", "energy"):
            sel.append(_r(f"c{k}_{name}").alias(f"c{k}_{name}"))
    return out.select(*sel)


def q_subcompartment_morph(spark, sf_dir):
    """Per-compartment MORPHOLOGY over the segmentation cascade — the
    reference's calculate_morphological_features
    (FeatureExtractor.py:521-575): compartment area fractions, nuclei
    count + mean nuclear area (8-connected labeling), per-nucleus
    aspect ratio from the inertia-tensor ellipse axes (reference's
    axis_major/axis_minor, 0 when minor is 0) with mean/std over
    nuclei, total-object perimeter (4-edge-count convention, the
    polygon_ring deviation) and total-object aspect. Closed form on
    the stripe fixture: the nuclei stripe is one 8×w1 rectangle whose
    discrete-uniform moments give axis lengths 4√((n²−1)/12), so
    aspect = √(63/(w1²−1)); the full-square object has equal axes
    (aspect 1) and edge perimeter 32."""
    from combinedfeatureextraction_spark.multimodal.subcompartment import (
        sub_compartment_morphology,
    )

    _IMG_HDR = "50360A3820380A3235350A"
    _MSK_HDR = "50350A3820380A3235350A"
    emb = _spread(_t(spark, sf_dir, "embeddings").select("vec_id"))
    img_body = F.expr(
        "array_join(transform(sequence(0, 63), j -> "
        "CASE WHEN j % 8 < 2 + vec_id % 3 THEN "
        "  repeat(lpad(hex(20 + vec_id % 20), 2, '0'), 3) "
        "WHEN j % 8 < 4 + vec_id % 3 + vec_id % 2 THEN concat('C8', "
        "  lpad(hex(100 + vec_id % 50), 2, '0'), "
        "  lpad(hex(100 + vec_id % 50), 2, '0')) "
        "ELSE 'DCDCDC' END), '')"
    )
    media = emb.select(
        F.col("vec_id").alias("media_id"),
        F.unhex(F.concat(F.lit(_IMG_HDR), img_body)).alias("payload"),
        F.unhex(F.concat(F.lit(_MSK_HDR), F.lit("FF" * 64))).alias(
            "mask_payload"
        ),
    )
    out = sub_compartment_morphology(
        media,
        params=[
            {"name": "nuclei", "threshold": 200, "min_size": 4},
            {"name": "eos", "threshold": 60, "min_size": 4},
            {"name": "luminal", "threshold": 255, "min_size": 0},
        ],
    )
    return out.select(
        "media_id",
        _r("c1_area_frac").alias("c1_area_frac"),
        _r("c2_area_frac").alias("c2_area_frac"),
        _r("c3_area_frac").alias("c3_area_frac"),
        "nuclei_number",
        _r("nuclei_mean_area").alias("nuclei_mean_area"),
        _r("nuclei_aspect_mean").alias("nuclei_aspect_mean"),
        _r("nuclei_aspect_std").alias("nuclei_aspect_std"),
        "object_perimeter",
        _r("object_aspect").alias("object_aspect"),
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic data-mixing sample (operators.sampling): per-lang
    keep fractions decided by an md5-derived uniform key — a pure
    function of (salt, doc_id), so the sample is reproducible across
    runs/partitionings/engines. FULLY ORACLED: DuckDB recomputes the
    identical md5 key (the same engine-portability contract as the
    simhash oracle) and the identical per-stratum thresholds; the
    rounded key column makes the oracle verify the key ARITHMETIC, not
    just the selected set."""
    from combinedfeatureextraction_spark.operators.sampling import (
        stratified_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        docs,
        ["doc_id"],
        "lang",
        {"en": 0.5, "de": 1.0, "fr": 0.25, "es": 0.1},
        default_fraction=0.05,
        salt=7,
        key_out="sample_key",
    )
    return out.select(
        "doc_id", "lang", _r("sample_key").alias("sample_key")
    )


def q_pack_tokens(spark, sf_dir):
    """Sequence packing (operators.packing): documents laid end-to-end
    per source and chunked into 4096-token training bins — start
    offset, bin id, intra-bin offset and boundary-spill flag are all
    closed-form over ONE window cumsum (the engine's standard
    one-exchange-one-sort shape). FULLY ORACLED via the same window
    cumsum in SQL."""
    from combinedfeatureextraction_spark.operators.packing import pack_tokens

    docs = _t(spark, sf_dir, "documents")
    out = pack_tokens(docs, ["source"], ["doc_id"], "n_chars", 4096)
    return out.select(
        "doc_id", "source", "start_offset", "bin_id", "bin_offset",
        "spans_boundary",
    )


def q_stratified_take(spark, sf_dir):
    """Exact per-stratum quota sampling (operators.sampling
    .stratified_take): the 30 smallest-md5-key docs per language —
    deterministic quota draws for data mixing. FULLY ORACLED: DuckDB
    recomputes the md5 keys and the same per-stratum rank."""
    from combinedfeatureextraction_spark.operators.sampling import (
        stratified_take,
    )

    docs = _t(spark, sf_dir, "documents")
    out = stratified_take(
        docs, ["doc_id"], "lang", 30, salt=11, key_out="sample_key"
    )
    return out.select(
        "doc_id", "lang", _r("sample_key").alias("sample_key")
    )


def q_rep_signals(spark, sf_dir):
    """Gopher-style repetition quality signals (Rae et al. 2021),
    scan-side: duplicate word / 2-gram / 3-gram fractions as pure native
    array math — zero shuffle. FULLY ORACLED via DuckDB list functions."""
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return docs.select(
        "doc_id",
        _r(X.dup_ngram_frac("text", 1)).alias("dup_word_frac"),
        _r(X.dup_ngram_frac("text", 2)).alias("dup_2gram_frac"),
        _r(X.dup_ngram_frac("text", 3)).alias("dup_3gram_frac"),
    )


def q_top_ngram(spark, sf_dir):
    """The aggregate-shaped repetition signal: most frequent word 2-gram
    per document + the character fraction it covers (explode → count →
    per-doc argmax, deterministic tie-break). FULLY ORACLED."""
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    return X.top_ngram_stats(docs, "doc_id", "text", n=2)


def q_watershed_split(spark, sf_dir):
    """W5 (complete): 1-D watershed — sessions split at value-valleys
    between value-peaks (FeatureExtractor.py:346-354 marker-watershed
    analog), window SQL only. FULLY ORACLED (round-4): the
    peak/plateau/valley cascade is order-dependent but SQL-expressible —
    peaks are rows that rise on the left (or start) whose NEXT nonzero
    value change is a drop (IGNORE-NULLS forward first_value over the
    step signs), the valley between consecutive peaks is the first argmin
    strictly between them (rows sharing the same prev-peak/next-peak
    pair form the interval), and the subsession id counts valleys
    strictly before the row. Independent-oracle parity stays in
    tests/test_watershed.py."""
    from combinedfeatureextraction_spark.operators.watershed import (
        watershed_split,
    )

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    s = sessionize(ev, ["user_id"], "ts", GAP)
    out = watershed_split(
        s, ["user_id"], "ts", "value", tiebreak=["event_id"]
    )
    return out.select("event_id", "user_id", "session_id", "subsession_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order is LOAD-BEARING: the driver's CORRECTNESS snapshot
    checks the FIRST 50 entries (dict order). The window is managed
    explicitly (see COVERAGE.md §gate-window):

      1. queries never driver-checked before, or whose implementation /
         oracle changed this round, come FIRST;
      2. a representative proven core fills the rest of the window;
      3. queries rotated past position 50 all hold a prior-round
         driver-green row (CORRECTNESS_r02.json) and stay covered by the
         repo's identical harness (tests/run_oracle_compare.py, run over
         ALL registered queries in CI/pytest)."""
    return {
        # -- r06 (optimization round): impl/plan changed — gate first ----
        # dedup/text family: _spread input prep + banded-candidates
        # aggregate/broadcast split + min_by top-ngram argmax + the
        # scored-stage checkpoint (results identical, re-oracled)
        "top_ngram": q_top_ngram,  # impl changed (min_by argmax, no window)
        "simhash_dedup": q_simhash_dedup,  # plan changed (_spread by id)
        "minhash_dedup": q_minhash_dedup,  # plan changed (spread + candidates)
        "dedup_clusters": q_dedup_clusters,  # plan changed (same)
        "corpus_curation": q_corpus_curation,  # impl changed (feats checkpoint)
        "corpus_filter": q_corpus_filter,  # impl changed (scored checkpoint)
        "asof_join_grid": q_asof_join_grid,  # impl changed (grid cost bailout)
        "streaming_asof": q_streaming_asof,  # grid path shared with the above
        "embedding_topk": q_embedding_topk,  # plan changed (_spread)
        "watershed_split": q_watershed_split,  # plan changed (input pruning)
        "text_quality": q_text_quality,  # plan changed (_spread)
        "lang_id": q_lang_id,  # plan changed (_spread)
        "fingerprint": q_fingerprint,  # plan changed (_spread by id)
        "rep_signals": q_rep_signals,  # plan changed (_spread)
        "top_words": q_top_words,  # plan changed (_spread)
        # rasterize kernels rewritten value-identical (vectorized EDT /
        # labeling / scanline fill, flat-index flood — property-tested
        # bitwise vs the previous kernels)
        "polygon_features": q_polygon_features,
        "polygon_components": q_polygon_components,
        "polygon_watershed": q_polygon_watershed,
        "polygon_holes": q_polygon_holes,
        "polygon_edt": q_polygon_edt,
        "polygon_ring": q_polygon_ring,
        "subcompartment": q_subcompartment,
        "subcompartment_texture": q_subcompartment_texture,
        "subcompartment_morph": q_subcompartment_morph,
        # codec/operator correctness fixes (ADVICE r05)
        "color_stats": q_color_stats,  # id_col plumb fix
        "media_decode_jpeg": q_media_decode_jpeg,  # truncation contract + LUT cap
        "media_decode_flac": q_media_decode_flac,  # reserved sr-code reject
        # -- r04-dated rows rotated back in (oldest-first fill to 50) ----
        "salted_agg": q_salted_agg,
        "asof_tolerance": q_asof_tolerance,
        "asof_join_salted": q_asof_join_salted,
        "component_count": q_component_count,
        "stratified_sample": q_stratified_sample,
        "pack_tokens": q_pack_tokens,
        "stratified_take": q_stratified_take,
        "ivf_topk": q_ivf_topk,
        "media_features": q_media_features,
        "lsh_topk_exact": q_lsh_topk_exact,
        "sessions_filtered": q_sessions_filtered,
        "rebase": q_rebase,
        "otsu": q_otsu,
        "streaming_sessions": q_streaming_sessions,
        "ratio_of_aggregates": q_ratio_of_aggregates,
        "feature_long_format": q_feature_long_format,
        "geodesic_flood": q_geodesic_flood,
        "connected_components": q_connected_components,
        "merge_writeback": q_merge_writeback,
        "pivot": q_pivot,
        "rollup": q_rollup,
        "quantiles": q_quantiles,
        "tumbling_window": q_tumbling_window,
        # ---- position 51+ : rotated out of the r06 driver window -------
        # (r05-windowed queries below hold a driver-green row in
        # CORRECTNESS_r05.json; the handful of r04-dated ones that did
        # not fit — value_histogram, distinct_users, rolling_window,
        # sessionize, asof_join, six_stat, glcm_stats, component_stats,
        # lsh_topk (rows-only by design) — stay covered by the repo's
        # identical harness, run over ALL registered queries)
        "media_decode": q_media_decode,
        "media_decode_png": q_media_decode_png,
        "ngram_jaccard": q_ngram_jaccard,
        "embedding_near_dup": q_embedding_near_dup,
        "deconvolution": q_deconvolution,
        "exact_dedup": q_exact_dedup,
        "lag_lead": q_lag_lead,
        "session_stats": q_session_stats,
        "forward_fill": q_forward_fill,
        "dist_to_boundary": q_dist_to_boundary,
        "asof_join_cogroup": q_asof_join_cogroup,
        "six_stat_hierarchy": q_six_stat_hierarchy,
        "weighted_mean": q_weighted_mean,
        "masked_mean": q_masked_mean,
        "global_threshold": q_global_threshold,
        "percent_rank": q_percent_rank,
        "topk": q_topk,
        "last_event": q_last_event,
        "dim_join": q_dim_join,
        "interval_join": q_interval_join,
        "streaming_dedup": q_streaming_dedup,
        "zscore": q_zscore,
        "ntile": q_ntile,
        "normalize_embedding": q_normalize_embedding,
        "approx_stats": q_approx_stats,
        "asof_strict": q_asof_strict,
        "payload_passthrough": q_payload_passthrough,
        "payload_sum": q_payload_sum,
        "lsh_topk": q_lsh_topk,
        "value_histogram": q_value_histogram,
        "distinct_users": q_distinct_users,
        "rolling_window": q_rolling_window,
        "sessionize": q_sessionize,
        "asof_join": q_asof_join,
        "six_stat": q_six_stat,
        "glcm_stats": q_glcm_stats,
        "component_stats": q_component_stats,
    }


# ------------------------------------------------------------ oracle SQL

_SESSION_ID_SQL = f"""
    SELECT *,
      CAST(sum(CASE WHEN gap_prev IS NULL OR gap_prev >= {GAP} THEN 1 ELSE 0 END)
        OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT)
        AS session_id
    FROM (
      SELECT *,
        epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts)
          AS gap_prev
      FROM events
    )
"""

# position-weighted integer digest of a float array — exact dual of
# functions.arrays.payload_digest (DuckDB lambda index is 1-based; Spark
# transform index 0-based +1). CASTs pin BIGINT (list_sum promotes to
# HUGEINT otherwise, which the driver's hasher treats as a different value).
_DIGEST_SQL = """CAST(coalesce(list_sum(list_transform(embedding,
  (x, i) -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT) * i)), 0)
  AS BIGINT)"""

def _deconvolution_sql() -> str:
    """DuckDB dual of q_deconvolution with the SAME double constants the
    Spark plan folds in (inlined from numpy — engine-local ln(255) could
    differ in the last ulp)."""
    import numpy as np

    from combinedfeatureextraction_spark.functions.deconvolution import (
        DEFAULT_STAIN_MATRIX,
    )

    m = np.asarray(DEFAULT_STAIN_MATRIX)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    minv = np.linalg.inv(m)
    logmax = float(np.log(255.0))
    od = {
        c: f"(-(255.0 * ln((({c}) + 1.0) / 255.0)) / {logmax!r})"
        for c in ("r", "g", "b")
    }
    outs = []
    for j, name in enumerate(("stain1", "stain2", "stain3")):
        acc = " + ".join(
            f"{float(minv[i, j])!r} * {od[c]}"
            for i, c in enumerate(("r", "g", "b"))
        )
        outs.append(
            f"CAST(floor(least(exp(-(({acc}) - 255.0) * {logmax!r} / 255.0), "
            f"255.0) + 0.5) AS BIGINT) AS {name}"
        )
    chan = ", ".join(
        f"CAST(((CAST(floor(value * {k}) AS BIGINT) % 256) + 256) % 256 "
        f"AS DOUBLE) AS {c}"
        for c, k in (("r", 7), ("g", 13), ("b", 29))
    )
    return f"""
WITH ch AS (SELECT event_id, {chan} FROM events)
SELECT event_id, {outs[0]}, {outs[1]}, {outs[2]} FROM ch
"""


_QUALITY_SQL = """
  SELECT doc_id,
    len(string_split(text, ' ')) AS n_words,
    len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]+')) AS n_tokens,
    CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
      / length(text) AS pr,
    CAST(len(list_filter(string_split(text, ' '),
         w -> w IN ('the','a','of','to','and','in','is','it','for','on'))) AS DOUBLE)
      / len(string_split(text, ' ')) AS sw,
    CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
      / len(string_split(text, ' ')) AS wl
  FROM documents
"""


def oracle_sql() -> dict[str, str]:
    return {
        "rolling_window": """
SELECT event_id, user_id,
  round(avg(value) OVER w, 6) AS roll_mean,
  round(stddev_pop(value) OVER w, 6) AS roll_std,
  min(value) OVER w AS roll_min,
  max(value) OVER w AS roll_max,
  round(sum(value) OVER w, 6) AS roll_sum
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
""",
        "lag_lead": """
SELECT event_id, user_id,
  lag(value, 1)  OVER w AS value_lag_1,
  lead(value, 1) OVER w AS value_lead_1,
  lag(value, 3)  OVER w AS value_lag_3,
  lead(value, 3) OVER w AS value_lead_3
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
        "sessionize": f"SELECT event_id, user_id, session_id FROM ({_SESSION_ID_SQL})",
        "session_stats": f"""
SELECT user_id, session_id,
  count(*) AS session_len,
  min(ts) AS session_start,
  max(ts) AS session_end,
  round(sum(value), 6) AS session_sum,
  round(avg(value), 6) AS session_mean
FROM ({_SESSION_ID_SQL})
GROUP BY user_id, session_id
""",
        "forward_fill": """
SELECT event_id, user_id,
  last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
    OVER (PARTITION BY user_id ORDER BY ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS purchase_ffill
FROM events
""",
        "dist_to_boundary": """
SELECT event_id, user_id,
  least(coalesce(d_prev, d_next), coalesce(d_next, d_prev)) AS dist_err
FROM (
  SELECT event_id, user_id,
    epoch(ts) - last_value(CASE WHEN event_type='error' THEN epoch(ts) END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS d_prev,
    first_value(CASE WHEN event_type='error' THEN epoch(ts) END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) - epoch(ts) AS d_next
  FROM events
)
""",
        "asof_join": _ASOF_SQL,
        "asof_join_salted": _ASOF_SQL,
        "asof_join_cogroup": _ASOF_SQL,
        "asof_join_grid": _ASOF_SQL,
        "streaming_asof": _ASOF_SQL,
        "streaming_dedup": """
SELECT lang, count(DISTINCT text) AS n_distinct_docs
FROM documents GROUP BY lang
""",
        "asof_tolerance": """
SELECT p.event_id, p.user_id,
  CASE WHEN epoch(p.ts) - epoch(b.ts) > 900 THEN NULL ELSE b.value END
    AS err_value_tol
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type='purchase') p
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type='error') b
  ON p.user_id = b.user_id AND p.ts >= b.ts
""",
        "six_stat": """
SELECT l_returnflag, l_linestatus,
  round(sum(l_quantity), 6) AS qty_sum,
  round(avg(l_quantity), 6) AS qty_mean,
  round(stddev_pop(l_quantity), 6) AS qty_std,
  round(CAST(median(l_quantity) AS DOUBLE), 6) AS qty_median,
  min(l_quantity) AS qty_min,
  max(l_quantity) AS qty_max
FROM lineitem GROUP BY l_returnflag, l_linestatus
""",
        "six_stat_hierarchy": """
SELECT l_returnflag, l_linestatus,
  CAST(grouping(l_linestatus) AS INT) AS grouping_level,
  round(sum(l_quantity), 6) AS qty_sum,
  round(avg(l_quantity), 6) AS qty_mean,
  round(stddev_pop(l_quantity), 6) AS qty_std,
  round(CAST(median(l_quantity) AS DOUBLE), 6) AS qty_median
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus))
""",
        "weighted_mean": """
SELECT l_returnflag,
  round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 6) AS wmean
FROM lineitem GROUP BY l_returnflag
""",
        "masked_mean": """
SELECT event_type,
  round(coalesce(avg(value)        FILTER (value > 10), 0), 6) AS high_mean,
  round(coalesce(stddev_pop(value) FILTER (value > 10), 0), 6) AS high_std,
  round(coalesce(avg(value)        FILTER (value <= 10), 0), 6) AS low_mean,
  round(coalesce(stddev_pop(value) FILTER (value <= 10), 0), 6) AS low_std
FROM events GROUP BY event_type
""",
        "global_threshold": """
SELECT event_id, value FROM events
WHERE value > (SELECT CAST(median(value) AS DOUBLE) FROM events)
""",
        "percent_rank": """
SELECT event_id, user_id,
  round(percent_rank() OVER (PARTITION BY user_id ORDER BY value), 6) AS pct_rank
FROM events
""",
        "topk": """
SELECT user_id, event_id, value, rank FROM (
  SELECT user_id, event_id, value,
    row_number() OVER (PARTITION BY user_id
                       ORDER BY value DESC, ts ASC, event_id ASC) AS rank
  FROM events
) WHERE rank <= 3
""",
        "last_event": """
SELECT user_id, last_event_type, last_value FROM (
  SELECT user_id, event_type AS last_event_type, value AS last_value,
    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
        "dim_join": """
SELECT r_name, count(*) AS n_cust, round(avg(c_acctbal), 6) AS avg_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
        "interval_join": """
SELECT l_orderkey, count(*) AS n_items, round(sum(l_quantity), 6) AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  AND l_shipdate >= o_orderdate
  AND l_shipdate < o_orderdate + INTERVAL 90 DAY
GROUP BY l_orderkey
""",
        "exact_dedup": """
SELECT doc_id, lang, n_chars FROM (
  SELECT doc_id, lang, n_chars,
    row_number() OVER (PARTITION BY text ORDER BY doc_id ASC) AS rn
  FROM documents
) WHERE rn = 1
""",
        "ngram_jaccard": """
WITH sh AS (
  SELECT doc_id, lang,
    list_distinct(list_transform(
      range(1, greatest(len(string_split(text,' ')) - 1, 1)),
      i -> string_split(text,' ')[i] || ' ' ||
           string_split(text,' ')[i+1] || ' ' ||
           string_split(text,' ')[i+2]
    )) AS s
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6)
    AS jaccard_sim
FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.05
""",
        # Exact-Jaccard dual of the LSH pipeline (sparse explode-join:
        # zero-overlap pairs cannot reach the 0.5 threshold, so joining
        # on shared shingles is exhaustive). Equality with the Spark LSH
        # output holds because candidate recall is COMPLETE on this
        # corpus (planted twins sit at jaccard≈1 where the 16-band/r=4
        # hit probability is ~1; verified pair-for-pair at sf0.01 and
        # pinned by tests/test_operators_unit.py recall test).
        "minhash_dedup": """
WITH corpus AS MATERIALIZED (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         regexp_replace(text, ' [^ ]+$', '') AS text
  FROM documents
),
sh AS MATERIALIZED (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, len(string_split(text,' ')) - 2),
      i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
           || ' ' || string_split(text,' ')[i+2])) AS s
  FROM corpus
),
tok AS (SELECT doc_id, unnest(s) AS g FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM tok a JOIN tok b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, len(s) AS n FROM sh)
SELECT id_a, id_b,
  round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 6) AS jaccard_sim
FROM inter
JOIN sizes na ON id_a = na.doc_id
JOIN sizes nb ON id_b = nb.doc_id
WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.5
""",
        # polygon_edt: analytic dual — inside an axis-aligned rectangle
        # the nearest background pixel is always axis-aligned, so
        # EDT(r,c) = min(r+1, h-r, c+1, w-c) exactly; enumerate cells.
        "polygon_edt": """
WITH dims AS (
  SELECT vec_id, (vec_id * 3) % 10 + 5 AS w, (vec_id * 5) % 10 + 5 AS h
  FROM embeddings
),
m AS (
  SELECT vec_id, w, h,
         least((w + 1) // 2, (h + 1) // 2) AS dm,
         CAST(floor(0.3 * least((w + 1) // 2, (h + 1) // 2)) AS BIGINT) AS mg
  FROM dims
),
cells AS (
  SELECT d.vec_id,
         least(rr.r + 1, d.h - rr.r, cc.c + 1, d.w - cc.c) AS dval
  FROM dims d
  CROSS JOIN (SELECT unnest(generate_series(0, 13)) AS r) rr
  CROSS JOIN (SELECT unnest(generate_series(0, 13)) AS c) cc
  WHERE rr.r < d.h AND cc.c < d.w
),
md AS (SELECT vec_id, avg(dval) AS mean_d FROM cells GROUP BY vec_id)
SELECT m.vec_id,
  CAST(m.w * m.h AS BIGINT) AS mask_area,
  round(CAST(m.dm AS DOUBLE), 6) AS dist_max,
  round(md.mean_d, 6) AS mean_dist,
  CAST((m.w - 2 * m.mg) * (m.h - 2 * m.mg) AS BIGINT) AS seg_area,
  round(CAST(least((m.w - 2 * m.mg + 1) // 2, (m.h - 2 * m.mg + 1) // 2)
        AS DOUBLE), 6) AS seg_dist_max,
  round(CAST(least((m.w - 2 * m.mg + 1) // 2, (m.h - 2 * m.mg + 1) // 2)
        AS DOUBLE) / m.dm, 6) AS luminal_ratio
FROM m JOIN md USING (vec_id)
""",
        # polygon_ring: closed form on rectangles (see q_polygon_ring).
        # Q(r) = quarter-disk lattice count, r fixed at 5 → Q = 15.
        "polygon_ring": """
WITH dims AS (
  SELECT vec_id, (vec_id * 3) % 10 + 5 AS w, (vec_id * 5) % 10 + 5 AS h
  FROM embeddings
),
q AS (
  SELECT list_aggregate(
           list_transform(generate_series(1, 5),
             i -> CAST(floor(sqrt(CAST(25 - i * i AS DOUBLE))) AS BIGINT)),
           'sum') AS qr
)
SELECT d.vec_id,
  CAST(2 * 5 * (d.w + d.h) + 4 * q.qr AS BIGINT) AS ring_area,
  CAST(4 * (d.w + d.h) + 8 * 5 AS BIGINT) AS ring_perimeter,
  CAST(1 AS BIGINT) AS ring_components,
  round((2 * 5 * (d.w + d.h) + 4 * q.qr)
        / ((4.0 * (d.w + d.h) + 40.0) / 2), 6) AS ring_avg_thickness
FROM dims d CROSS JOIN q
""",
        # subcompartment: stripe-fixture closed form (see q_subcompartment).
        # Each compartment is a full-height stripe of width w, so its
        # standalone-mask exact EDT is axis-aligned: dval = least(r+1,
        # 8-r, c+1, w-c) — enumerated per cell and aggregated.
        "subcompartment": """
WITH p AS (
  SELECT vec_id,
    2 + vec_id % 3 AS w1, 2 + vec_id % 2 AS w2,
    vec_id % 20 AS a
  FROM embeddings
),
comp AS (
  SELECT vec_id, 1 AS k, w1 AS w FROM p
  UNION ALL SELECT vec_id, 2, w2 FROM p
  UNION ALL SELECT vec_id, 3, 8 - w1 - w2 FROM p
),
cells AS (
  SELECT comp.vec_id, comp.k,
         least(rr.r + 1, 8 - rr.r, cc.c + 1, comp.w - cc.c) AS dval
  FROM comp
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS r) rr
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS c) cc
  WHERE cc.c < comp.w
),
agg AS (
  SELECT vec_id,
    sum(CASE WHEN k = 1 THEN dval END) AS s1,
    sum(CASE WHEN k = 2 THEN dval END) AS s2,
    sum(CASE WHEN k = 3 THEN dval END) AS s3,
    avg(CASE WHEN k = 1 THEN dval END) AS m1,
    avg(CASE WHEN k = 2 THEN dval END) AS m2,
    avg(CASE WHEN k = 3 THEN dval END) AS m3,
    max(CASE WHEN k = 1 THEN dval END) AS x1,
    max(CASE WHEN k = 2 THEN dval END) AS x2,
    max(CASE WHEN k = 3 THEN dval END) AS x3
  FROM cells GROUP BY vec_id
)
SELECT p.vec_id AS media_id,
  CAST(8 * p.w1 AS BIGINT) AS c1_area,
  CAST(8 * p.w2 AS BIGINT) AS c2_area,
  CAST(8 * (8 - p.w1 - p.w2) AS BIGINT) AS c3_area,
  round(CAST(20 + p.a AS DOUBLE), 6) AS c1_mean_v,
  round(200.0, 6) AS c2_mean_v,
  round(220.0, 6) AS c3_mean_v,
  round(CAST(agg.s1 AS DOUBLE), 6) AS c1_dt_sum,
  round(CAST(agg.s2 AS DOUBLE), 6) AS c2_dt_sum,
  round(CAST(agg.s3 AS DOUBLE), 6) AS c3_dt_sum,
  round(CAST(agg.m1 AS DOUBLE), 6) AS c1_dt_mean,
  round(CAST(agg.m2 AS DOUBLE), 6) AS c2_dt_mean,
  round(CAST(agg.m3 AS DOUBLE), 6) AS c3_dt_mean,
  round(CAST(agg.x1 AS DOUBLE), 6) AS c1_dt_max,
  round(CAST(agg.x2 AS DOUBLE), 6) AS c2_dt_max,
  round(CAST(agg.x3 AS DOUBLE), 6) AS c3_dt_max
FROM p JOIN agg USING (vec_id)
""",
        # subcompartment_texture: four-cell GLCM closed forms in (w, g)
        # per compartment stripe (see q_subcompartment_texture); the
        # gray-level float chain mirrors the numpy op order exactly.
        "subcompartment_texture": """
WITH p AS (
  SELECT vec_id,
    2 + vec_id % 3 AS w1, 2 + vec_id % 2 AS w2,
    vec_id % 20 AS a, vec_id % 50 AS bb
  FROM embeddings
),
comp AS (
  -- nb = number of stripe/background boundaries: edge stripes (k=1
  -- starts at col 0, k=3 ends at col 7) have ONE, the middle stripe
  -- (k=2) has TWO -> 8*nb directed (g,0)/(0,g) pairs
  SELECT vec_id, 1 AS k, w1 AS w, 1 AS nb,
    CAST(floor(255 * (((20 + a) / 255.0) * 0.2125
      + ((20 + a) / 255.0) * 0.7154
      + ((20 + a) / 255.0) * 0.0721)) AS BIGINT) AS g FROM p
  UNION ALL
  SELECT vec_id, 2, w2, 2,
    CAST(floor(255 * ((200 / 255.0) * 0.2125
      + ((100 + bb) / 255.0) * 0.7154
      + ((100 + bb) / 255.0) * 0.0721)) AS BIGINT) FROM p
  UNION ALL
  SELECT vec_id, 3, 8 - w1 - w2, 1,
    CAST(floor(255 * ((220 / 255.0) * 0.2125
      + (220 / 255.0) * 0.7154
      + (220 / 255.0) * 0.0721)) AS BIGINT) FROM p
),
props AS (
  SELECT vec_id, k,
    nb * g * g / 7.0 AS contrast,
    (56.0 - 8.0 * nb) / 56.0
      + (8.0 * nb / 56.0) / (1.0 + g * g) AS homogeneity,
    (g * g * (w - 1) / 7.0
       - pow(g * (2.0 * w - 2 + nb) / 14.0, 2))
      / (g * g * (2.0 * w - 2 + nb) / 14.0
         - pow(g * (2.0 * w - 2 + nb) / 14.0, 2)) AS correlation,
    sqrt(pow((w - 1) / 7.0, 2) + 2 * pow(nb / 14.0, 2)
         + pow((8 - w - nb) / 7.0, 2)) AS energy
  FROM comp
)
SELECT vec_id AS media_id,
  round(max(CASE WHEN k = 1 THEN contrast END), 6) AS c1_contrast,
  round(max(CASE WHEN k = 1 THEN homogeneity END), 6) AS c1_homogeneity,
  round(max(CASE WHEN k = 1 THEN correlation END), 6) AS c1_correlation,
  round(max(CASE WHEN k = 1 THEN energy END), 6) AS c1_energy,
  round(max(CASE WHEN k = 2 THEN contrast END), 6) AS c2_contrast,
  round(max(CASE WHEN k = 2 THEN homogeneity END), 6) AS c2_homogeneity,
  round(max(CASE WHEN k = 2 THEN correlation END), 6) AS c2_correlation,
  round(max(CASE WHEN k = 2 THEN energy END), 6) AS c2_energy,
  round(max(CASE WHEN k = 3 THEN contrast END), 6) AS c3_contrast,
  round(max(CASE WHEN k = 3 THEN homogeneity END), 6) AS c3_homogeneity,
  round(max(CASE WHEN k = 3 THEN correlation END), 6) AS c3_correlation,
  round(max(CASE WHEN k = 3 THEN energy END), 6) AS c3_energy
FROM props GROUP BY vec_id
""",
        # subcompartment_morph: stripe closed forms (see q_subcompartment_morph)
        "subcompartment_morph": """
WITH p AS (
  SELECT vec_id,
    2 + vec_id % 3 AS w1, 2 + vec_id % 2 AS w2
  FROM embeddings
)
SELECT vec_id AS media_id,
  round(8.0 * w1 / 64.0, 6) AS c1_area_frac,
  round(8.0 * w2 / 64.0, 6) AS c2_area_frac,
  round(8.0 * (8 - w1 - w2) / 64.0, 6) AS c3_area_frac,
  CAST(1 AS BIGINT) AS nuclei_number,
  round(8.0 * w1, 6) AS nuclei_mean_area,
  round((4 * sqrt(63.0 / 12.0))
        / (4 * sqrt((w1 * w1 - 1) / 12.0)), 6) AS nuclei_aspect_mean,
  round(0.0, 6) AS nuclei_aspect_std,
  CAST(32 AS BIGINT) AS object_perimeter,
  round(1.0, 6) AS object_aspect
FROM p
""",
        # media_decode_flac: losslessness dual — decoded PCM must equal
        # the planted arithmetic exactly (see q_media_decode_flac)
        "media_decode_flac": """
WITH cells AS (
  SELECT e.vec_id,
         CAST(((e.vec_id * 13 + k.k * 7 + c.c * 3) % 4001) - 2000
              AS DOUBLE) AS s
  FROM embeddings e
  CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS k) k
  CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS c) c
)
SELECT vec_id AS media_id,
  CAST(count(*) AS INTEGER) AS n_samples,
  round(avg(s), 6) AS sample_mean,
  round(stddev_pop(s), 6) AS sample_std,
  CAST(8000 AS INTEGER) AS sample_rate,
  CAST(2 AS INTEGER) AS channels
FROM cells GROUP BY vec_id
""",
        # color_stats: the full sRGB→HSV and sRGB→CIELAB chains in SQL
        # (see q_color_stats). Colors have strict max channels (c1: r
        # max / b min, c2: g max / r min) so the HSV sextant needs no
        # tie branch; LAB keeps BOTH gamma and f(t) branches because
        # dark channels (b1 < 11) cross the linear knee and c1's Z can
        # dip below eps = 216/24389. Left-to-right sums match the numpy
        # evaluation order exactly.
        "color_stats": """
WITH dims AS (
  SELECT vec_id,
    150 + vec_id % 100 AS r1, 40 + vec_id % 30 AS g1, vec_id % 40 AS b1,
    vec_id % 50 AS r2, 120 + vec_id % 80 AS g2, 50 + vec_id % 50 AS b2
  FROM embeddings
),
lin AS (
  SELECT vec_id, r1, g1, b1, r2, g2, b2,
    CASE WHEN r1/255.0 <= 0.04045 THEN r1/255.0/12.92 ELSE pow((r1/255.0+0.055)/1.055, 2.4) END AS lr1,
    CASE WHEN g1/255.0 <= 0.04045 THEN g1/255.0/12.92 ELSE pow((g1/255.0+0.055)/1.055, 2.4) END AS lg1,
    CASE WHEN b1/255.0 <= 0.04045 THEN b1/255.0/12.92 ELSE pow((b1/255.0+0.055)/1.055, 2.4) END AS lb1,
    CASE WHEN r2/255.0 <= 0.04045 THEN r2/255.0/12.92 ELSE pow((r2/255.0+0.055)/1.055, 2.4) END AS lr2,
    CASE WHEN g2/255.0 <= 0.04045 THEN g2/255.0/12.92 ELSE pow((g2/255.0+0.055)/1.055, 2.4) END AS lg2,
    CASE WHEN b2/255.0 <= 0.04045 THEN b2/255.0/12.92 ELSE pow((b2/255.0+0.055)/1.055, 2.4) END AS lb2
  FROM dims
),
xyz AS (
  SELECT *,
    (lr1*0.412453 + lg1*0.357580 + lb1*0.180423)/0.95047 AS x1,
    (lr1*0.212671 + lg1*0.715160 + lb1*0.072169)/1.0 AS y1,
    (lr1*0.019334 + lg1*0.119193 + lb1*0.950227)/1.08883 AS z1,
    (lr2*0.412453 + lg2*0.357580 + lb2*0.180423)/0.95047 AS x2,
    (lr2*0.212671 + lg2*0.715160 + lb2*0.072169)/1.0 AS y2,
    (lr2*0.019334 + lg2*0.119193 + lb2*0.950227)/1.08883 AS z2
  FROM lin
),
fv AS (
  SELECT *,
    CASE WHEN x1 > 216.0/24389.0 THEN cbrt(x1) ELSE (24389.0/27.0*x1+16.0)/116.0 END AS fx1,
    CASE WHEN y1 > 216.0/24389.0 THEN cbrt(y1) ELSE (24389.0/27.0*y1+16.0)/116.0 END AS fy1,
    CASE WHEN z1 > 216.0/24389.0 THEN cbrt(z1) ELSE (24389.0/27.0*z1+16.0)/116.0 END AS fz1,
    CASE WHEN x2 > 216.0/24389.0 THEN cbrt(x2) ELSE (24389.0/27.0*x2+16.0)/116.0 END AS fx2,
    CASE WHEN y2 > 216.0/24389.0 THEN cbrt(y2) ELSE (24389.0/27.0*y2+16.0)/116.0 END AS fy2,
    CASE WHEN z2 > 216.0/24389.0 THEN cbrt(z2) ELSE (24389.0/27.0*z2+16.0)/116.0 END AS fz2
  FROM xyz
),
ch AS (
  SELECT vec_id,
    ((g1 - b1)/CAST(r1 - b1 AS DOUBLE))/6.0 AS h1,
    (r1 - b1)/CAST(r1 AS DOUBLE) AS s1,
    r1/255.0 AS v1,
    (2.0 + (b2 - r2)/CAST(g2 - r2 AS DOUBLE))/6.0 AS h2,
    (g2 - r2)/CAST(g2 AS DOUBLE) AS s2,
    g2/255.0 AS v2,
    116.0*fy1 - 16.0 AS la1, 500.0*(fx1 - fy1) AS aa1, 200.0*(fy1 - fz1) AS ba1,
    116.0*fy2 - 16.0 AS la2, 500.0*(fx2 - fy2) AS aa2, 200.0*(fy2 - fz2) AS ba2
  FROM fv
)
SELECT vec_id AS media_id, CAST(8 AS BIGINT) AS n_masked,
  round((h1+h2)/2, 6) AS h_mean, round((s1+s2)/2, 6) AS s_mean,
  round((v1+v2)/2, 6) AS v_mean,
  round(abs(h1-h2)/2, 6) AS h_std, round(abs(s1-s2)/2, 6) AS s_std,
  round(abs(v1-v2)/2, 6) AS v_std,
  round((la1+la2)/2, 6) AS lab_l_mean, round((aa1+aa2)/2, 6) AS lab_a_mean,
  round((ba1+ba2)/2, 6) AS lab_b_mean,
  round(abs(la1-la2)/2, 6) AS lab_l_std, round(abs(aa1-aa2)/2, 6) AS lab_a_std,
  round(abs(ba1-ba2)/2, 6) AS lab_b_std
FROM ch
""",
        # media_decode: analytic dual — payload bytes are constructed
        # from vec_id arithmetic, so the DECODED-domain stats (after the
        # numpy netpbm/WAV codecs parse headers, dimensions and
        # little-endian samples) must equal the same arithmetic
        # recomputed directly.
        "media_decode": """
SELECT vec_id AS media_id,
  CASE WHEN vec_id % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
  CASE WHEN vec_id % 2 = 0 THEN 36 ELSE 16 END AS n_samples,
  round(CASE WHEN vec_id % 2 = 0
    THEN list_aggregate(list_transform(generate_series(0, 35),
         j -> CAST((vec_id * 7 + j * 13) % 256 AS DOUBLE)), 'avg')
    ELSE list_aggregate(list_transform(generate_series(0, 15),
         k -> CAST(((vec_id * 31 + k * 17) % 65536 + 32768) % 65536 - 32768 AS DOUBLE)), 'avg')
    END, 6) AS sample_mean,
  round(CASE WHEN vec_id % 2 = 0
    THEN sqrt(list_aggregate(list_transform(generate_series(0, 35),
         j -> pow(CAST((vec_id * 7 + j * 13) % 256 AS DOUBLE), 2)), 'avg')
         - pow(list_aggregate(list_transform(generate_series(0, 35),
           j -> CAST((vec_id * 7 + j * 13) % 256 AS DOUBLE)), 'avg'), 2))
    ELSE sqrt(list_aggregate(list_transform(generate_series(0, 15),
         k -> pow(CAST(((vec_id * 31 + k * 17) % 65536 + 32768) % 65536 - 32768 AS DOUBLE), 2)), 'avg')
         - pow(list_aggregate(list_transform(generate_series(0, 15),
           k -> CAST(((vec_id * 31 + k * 17) % 65536 + 32768) % 65536 - 32768 AS DOUBLE)), 'avg'), 2))
    END, 6) AS sample_std,
  CASE WHEN vec_id % 2 = 0 THEN 4 ELSE NULL END AS width,
  CASE WHEN vec_id % 2 = 0 THEN 3 ELSE NULL END AS height,
  CASE WHEN vec_id % 2 = 0 THEN 3 ELSE 1 END AS channels
FROM embeddings
""",
        # media_decode_png: analytic dual of the PNG decode path — the
        # payload pixels are pure vec_id arithmetic, so the decoded
        # stats must reproduce it after a REAL zlib-inflate + unfilter.
        "media_decode_png": """
WITH p AS (
  SELECT vec_id, CASE WHEN vec_id % 3 = 0 THEN 24 ELSE 36 END AS n
  FROM embeddings
),
s AS (
  SELECT vec_id, n,
    list_transform(generate_series(0, n - 1),
                   j -> CAST((vec_id * 7 + j * 13) % 256 AS DOUBLE)) AS xs
  FROM p
)
SELECT vec_id AS media_id,
  CAST(n AS INT) AS n_samples,
  round(list_aggregate(xs, 'avg'), 6) AS sample_mean,
  round(sqrt(list_aggregate(list_transform(xs, x -> x * x), 'avg')
             - pow(list_aggregate(xs, 'avg'), 2)), 6) AS sample_std,
  CAST(CASE vec_id % 3 WHEN 0 THEN 4 WHEN 1 THEN 3 ELSE 3 END AS INT) AS width,
  CAST(CASE vec_id % 3 WHEN 0 THEN 6 WHEN 1 THEN 4 ELSE 3 END AS INT) AS height,
  CAST(CASE vec_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS INT) AS channels
FROM s
""",
        # media_decode_jpeg: analytic dual of JPEG's EXACT half — the
        # planted quantized coefficients are pure vec_id arithmetic, so
        # after a REAL Huffman entropy decode + dequantization the
        # coefficient-domain sums must reproduce it.
        "media_decode_jpeg": """
WITH b AS (
  SELECT vec_id,
    8 * list_sum(list_transform(generate_series(0, 5),
                                i -> (vec_id * 7 + i * 5) % 16)) AS dcs,
    list_sum(list_transform(generate_series(0, 5), i ->
      list_sum(list_transform(generate_series(1, 9), j ->
        abs((vec_id * 11 + i * 13 + j * 17) % 7 - 3))))) AS acs
  FROM embeddings
)
SELECT vec_id AS media_id,
  CAST(24 AS INT) AS width,
  CAST(16 AS INT) AS height,
  CAST(6 AS INT) AS n_blocks,
  CAST(dcs AS BIGINT) AS dc_sum,
  CAST(acs AS BIGINT) AS ac_abs_sum,
  CAST(384 AS INT) AS n_samples,
  TRUE AS prog_coeff_match
FROM b
""",
        # polygon_holes: analytic dual — axis-aligned integer rectangles
        # rasterize pixel-exactly, so the rasterize -> background-CC ->
        # border-reachability -> fill pipeline must reproduce closed-form
        # pixel counts from vec_id arithmetic.
        "polygon_holes": """
SELECT vec_id,
  CAST(CASE WHEN vec_id % 2 = 1
       THEN d*d - (d-6)*(d-6) ELSE rw*rh END AS BIGINT) AS mask_area,
  CAST(CASE WHEN vec_id % 2 = 1 THEN d*d ELSE rw*rh END AS BIGINT) AS filled_area,
  CAST(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END AS INT) AS n_holes,
  CAST(CASE WHEN vec_id % 2 = 1 THEN (d-6)*(d-6) ELSE 0 END AS BIGINT) AS hole_area
FROM (
  SELECT vec_id,
    (vec_id * 3) % 8 + 10 AS d,
    (vec_id * 3) % 10 + 4 AS rw,
    (vec_id * 5) % 10 + 4 AS rh
  FROM embeddings
)
""",
        # stratified_sample: exact dual — DuckDB recomputes the md5 key
        # (same engine-portable hash contract as the simhash oracle:
        # '7' || chr(31) || doc_id, first 12 hex digits as a 48-bit
        # integer / 2^48; every term exact in double arithmetic) and the
        # per-stratum thresholds.
        "stratified_sample": """
WITH k AS (
  SELECT doc_id, lang,
    list_sum(list_transform(generate_series(1, 12),
      i -> (strpos('0123456789abcdef',
                   substr(md5('7' || chr(31) || CAST(doc_id AS VARCHAR)),
                          i, 1)) - 1) * pow(16, 12 - i)))
      / 281474976710656.0 AS u
  FROM documents
)
SELECT doc_id, lang, round(u, 6) AS sample_key
FROM k
WHERE u < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0
                    WHEN 'fr' THEN 0.25 WHEN 'es' THEN 0.1 ELSE 0.05 END
""",
        # pack_tokens: exact dual — the same window cumsum arithmetic.
        "pack_tokens": """
SELECT doc_id, source,
  CAST(sum(n_chars) OVER w - n_chars AS BIGINT) AS start_offset,
  CAST((sum(n_chars) OVER w - n_chars) // 4096 AS BIGINT) AS bin_id,
  CAST((sum(n_chars) OVER w - n_chars) % 4096 AS BIGINT) AS bin_offset,
  (n_chars > 0) AND
    ((sum(n_chars) OVER w - 1) // 4096
     > (sum(n_chars) OVER w - n_chars) // 4096) AS spans_boundary
FROM documents
WINDOW w AS (PARTITION BY source ORDER BY doc_id)
""",
        # stratified_take: exact dual — same md5 keys (salt 11), same
        # per-stratum (u asc, doc_id asc) rank, same quota.
        "stratified_take": """
WITH k AS (
  SELECT doc_id, lang,
    list_sum(list_transform(generate_series(1, 12),
      i -> (strpos('0123456789abcdef',
                   substr(md5('11' || chr(31) || CAST(doc_id AS VARCHAR)),
                          i, 1)) - 1) * pow(16, 12 - i)))
      / 281474976710656.0 AS u
  FROM documents
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY lang
                               ORDER BY u ASC, doc_id ASC) AS rk
  FROM k
)
SELECT doc_id, lang, round(u, 6) AS sample_key FROM r WHERE rk <= 30
""",
        # rep_signals: exact dual — distinct-vs-total n-gram arithmetic
        # over the same whitespace split (DuckDB list indices 1-based).
        "rep_signals": """
WITH g AS (
  SELECT doc_id, ws,
    list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
                   i -> ws[i] || ' ' || ws[i+1]) AS g2,
    list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS g3
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
)
SELECT doc_id,
  round(CASE WHEN len(ws) <= 0 THEN 0.0
        ELSE 1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) END, 6)
    AS dup_word_frac,
  round(CASE WHEN len(g2) <= 0 THEN 0.0
        ELSE 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2) END, 6)
    AS dup_2gram_frac,
  round(CASE WHEN len(g3) <= 0 THEN 0.0
        ELSE 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3) END, 6)
    AS dup_3gram_frac
FROM g
""",
        # top_ngram: exact dual — same explode/count/argmax with the
        # same (count desc, gram asc) tie-break.
        "top_ngram": """
WITH w AS (
  SELECT doc_id, length(text) AS chars, string_split(text, ' ') AS ws
  FROM documents
),
g AS (
  SELECT doc_id, chars,
    unnest(list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
                          i -> ws[i] || ' ' || ws[i+1])) AS g2
  FROM w
),
c AS (
  SELECT doc_id, chars, g2, count(*) AS cnt
  FROM g GROUP BY doc_id, chars, g2
),
t AS (
  SELECT doc_id, chars, g2, cnt,
    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g2 ASC) AS rn
  FROM c
)
SELECT d.doc_id,
  CAST(coalesce(t.cnt, 0) AS BIGINT) AS top_ngram_count,
  round(coalesce(CAST(t.cnt * length(t.g2) AS DOUBLE) / t.chars, 0.0), 6)
    AS top_ngram_char_frac
FROM documents d
LEFT JOIN (SELECT * FROM t WHERE rn = 1) t ON d.doc_id = t.doc_id
""",
        # watershed_split: exact SQL dual of the 1-D marker watershed.
        # Peaks: rows rising on the left (or session start) whose NEXT
        # nonzero step sign is a drop (IGNORE-NULLS forward first_value
        # over the step signs). Rows sharing the
        # same (prev peak, next peak) pair form the inter-peak interval;
        # the valley is its first argmin (ORDER BY value ASC NULLS LAST,
        # rn: DuckDB's default spelled out, Spark's is NULLS FIRST); the
        # subsession id counts valleys strictly before the row.
        "watershed_split": f"""
WITH s AS ({_SESSION_ID_SQL}),
st AS (
  SELECT *, row_number() OVER w AS rn,
    lag(value) OVER w AS pv,
    sign(lead(value) OVER w - value) AS step
  FROM s
  WINDOW w AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)
),
pk AS (
  SELECT *,
    CASE WHEN (pv IS NULL OR value > pv)
          AND coalesce(
            first_value(CASE WHEN step <> 0 THEN step END IGNORE NULLS)
              OVER (PARTITION BY user_id, session_id ORDER BY rn
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
            0) <= 0
         THEN 1 END AS peak
  FROM st
),
ab AS (
  SELECT *,
    max(CASE WHEN peak = 1 THEN rn END) OVER
      (PARTITION BY user_id, session_id ORDER BY rn
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS a,
    min(CASE WHEN peak = 1 THEN rn END) OVER
      (PARTITION BY user_id, session_id ORDER BY rn
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS b
  FROM pk
),
vl AS (
  SELECT *,
    CASE WHEN a IS NOT NULL AND b IS NOT NULL THEN
      row_number() OVER
        (PARTITION BY user_id, session_id, a, b
         ORDER BY value ASC NULLS LAST, rn)
    END AS vrank
  FROM ab
)
SELECT event_id, user_id, session_id,
  CAST(coalesce(sum(CASE WHEN vrank = 1 THEN 1 END) OVER
    (PARTITION BY user_id, session_id ORDER BY rn
     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
    AS subsession_id
FROM vl
""",
        # polygon_components: analytic dual — odd ids trace two disjoint
        # rectangles as one even-odd ring (horizontal bridge edges are
        # invisible to the scanline), even ids one rectangle; integer
        # axis-aligned rectangles rasterize pixel-exactly, so component
        # count/areas/centroids are closed-form vec_id arithmetic.
        "polygon_components": """
SELECT vec_id,
  CAST(CASE WHEN vec_id % 2 = 1 THEN (2*w + 2) * h ELSE w * h END AS BIGINT)
    AS mask_area,
  CAST(CASE WHEN vec_id % 2 = 1 THEN 2 ELSE 1 END AS INT) AS n_components,
  CAST(CASE WHEN vec_id % 2 = 1 THEN (w + 2) * h ELSE w * h END AS BIGINT)
    AS largest_area,
  round(CASE WHEN vec_id % 2 = 1
        THEN x0 + w + 2 + (w + 2) / 2.0 ELSE x0 + w / 2.0 END, 6) AS largest_cx,
  round(y0 + h / 2.0, 6) AS largest_cy,
  round(CASE WHEN vec_id % 2 = 1
        THEN (w + 2.0) / (2*w + 2.0) ELSE 1.0 END, 6) AS area_ratio
FROM (
  SELECT vec_id,
    (vec_id * 7) % 50 AS x0, (vec_id * 13) % 50 AS y0,
    (vec_id * 3) % 20 + 2 AS w, (vec_id * 5) % 20 + 2 AS h
  FROM embeddings
)
""",
        # polygon_watershed: analytic dual — even ids a rectangle (one
        # EDT peak -> one basin = the whole mask); odd ids a SYMMETRIC
        # dumbbell (blocks a x hh joined by a 6 x 2 neck): the
        # deterministic priority flood splits the neck at its midpoint,
        # the equal basins tie and argmax keeps the lowest label = the
        # LEFT basin, whose area/centroid are closed-form (block + left
        # neck half). Pinned vs the numpy kernel for every fixture row by
        # tests/test_rasterize.py::test_watershed_fixture_closed_form.
        "polygon_watershed": """
SELECT vec_id,
  CAST(CASE WHEN vec_id % 2 = 1 THEN 2*a*hh + 12 ELSE a*hh END AS BIGINT)
    AS mask_area,
  CAST(CASE WHEN vec_id % 2 = 1 THEN 2 ELSE 1 END AS INT) AS n_objects,
  CAST(CASE WHEN vec_id % 2 = 1 THEN a*hh + 6 ELSE a*hh END AS BIGINT)
    AS largest_area,
  round(CASE WHEN vec_id % 2 = 1
        THEN (a*hh*(x0 + a/2.0) + 6*(x0 + a + 1.5)) / (a*hh + 6)
        ELSE x0 + a/2.0 END, 6) AS largest_cx,
  round(CASE WHEN vec_id % 2 = 1
        THEN (a*hh*(y0 + hh/2.0) + 6*(y0 + hh // 2)) / (a*hh + 6)
        ELSE y0 + hh/2.0 END, 6) AS largest_cy,
  round(CASE WHEN vec_id % 2 = 1 THEN 0.5 ELSE 1.0 END, 6) AS area_ratio
FROM (
  SELECT vec_id,
    (vec_id * 7) % 50 AS x0, (vec_id * 13) % 50 AS y0,
    (vec_id * 3) % 8 + 8 AS a, (vec_id * 5) % 6 + 10 AS hh
  FROM embeddings
)
""",
        # corpus_curation: exact dual of the FLAGSHIP curation composite.
        # Stage features reuse the proven lang_id / text_quality /
        # corpus_filter duals; the near-dup stage is the same recursive-
        # CTE closure over exact-Jaccard pairs as dedup_clusters —
        # complete candidate recall holds because every natural near-dup
        # pair in this corpus sits at jaccard >= 0.88 (measured), where
        # the 16-band/r=4 hit probability is ~1-1e-7.
        "corpus_curation": """
WITH RECURSIVE base AS MATERIALIZED (
  SELECT doc_id, text,
    CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
         WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
         WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
         WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
         ELSE 'fr' END AS lang_pred,
    round(least(sw * 4, 1.0) * 0.4
          + (1.0 - least(pr * 5, 1.0)) * 0.3
          + (1.0 - least(abs(wl - 5.0) / 5.0, 1.0)) * 0.3, 6) AS q,
    len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]+')) AS n_tokens
  FROM (
    SELECT doc_id, text,
      CAST(len(list_filter(string_split(text,' '),
           w -> w IN ('the','a','of','to','and','in','is','it','for','on'))) AS DOUBLE)
        / len(string_split(text,' ')) AS sw,
      CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
        / length(text) AS pr,
      CAST(length(text) - (len(string_split(text,' ')) - 1) AS DOUBLE)
        / len(string_split(text,' ')) AS wl,
      CAST(len(list_filter(string_split(text,' '), w -> w IN ('der','die','und','das','nicht'))) AS DOUBLE) / len(string_split(text,' ')) AS s_de,
      CAST(len(list_filter(string_split(text,' '), w -> w IN ('the','and','of','to','in'))) AS DOUBLE) / len(string_split(text,' ')) AS s_en,
      CAST(len(list_filter(string_split(text,' '), w -> w IN ('el','la','de','que','y'))) AS DOUBLE) / len(string_split(text,' ')) AS s_es,
      CAST(len(list_filter(string_split(text,' '), w -> w IN ('le','la','et','les','des'))) AS DOUBLE) / len(string_split(text,' ')) AS s_fr
    FROM documents
  )
),
qual AS (SELECT * FROM base WHERE q >= 0.25 AND n_tokens >= 8),
ex AS MATERIALIZED (
  SELECT doc_id, text, lang_pred FROM (
    SELECT doc_id, text, lang_pred,
           row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
    FROM qual
  ) WHERE rn = 1
),
sh AS MATERIALIZED (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, len(string_split(text,' ')) - 2),
      i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
           || ' ' || string_split(text,' ')[i+2])) AS s
  FROM ex
),
tok AS (SELECT doc_id, unnest(s) AS g FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM tok a JOIN tok b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, len(s) AS n FROM sh),
p AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes na ON id_a = na.doc_id
  JOIN sizes nb ON id_b = nb.doc_id
  WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.5
),
e AS (SELECT id_a AS src, id_b AS dst FROM p
      UNION SELECT id_b, id_a FROM p),
nn AS (SELECT DISTINCT src AS id FROM e),
reach(id, comp) AS (
  SELECT id, id FROM nn
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN e ON e.src = r.id
),
cc AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
winners AS (
  SELECT ex.doc_id, ex.lang_pred
  FROM ex LEFT JOIN cc ON ex.doc_id = cc.id
  WHERE coalesce(cc.comp, ex.doc_id) = ex.doc_id
),
langs AS (SELECT lang_pred, count(*) AS n_raw FROM base GROUP BY 1),
nq AS (SELECT lang_pred, count(*) AS n_quality FROM qual GROUP BY 1),
ne AS (SELECT lang_pred, count(*) AS n_exact FROM ex GROUP BY 1),
nc AS (SELECT lang_pred, count(*) AS n_curated FROM winners GROUP BY 1)
SELECT l.lang_pred, l.n_raw,
       coalesce(nq.n_quality, 0) AS n_quality,
       coalesce(ne.n_exact, 0) AS n_exact,
       coalesce(nc.n_curated, 0) AS n_curated
FROM langs l
LEFT JOIN nq USING (lang_pred)
LEFT JOIN ne USING (lang_pred)
LEFT JOIN nc USING (lang_pred)
ORDER BY l.lang_pred
""",
        # dedup_clusters: exact dual of the full curation composite —
        # exact-Jaccard pairs (complete candidate recall on this corpus,
        # same argument as minhash_dedup) closed into connected
        # components by a recursive CTE (UNION dedups => terminates),
        # canonical = min id per component, singletons map to self.
        "dedup_clusters": """
WITH RECURSIVE corpus AS MATERIALIZED (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         regexp_replace(text, ' [^ ]+$', '') AS text
  FROM documents
),
sh AS MATERIALIZED (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, len(string_split(text,' ')) - 2),
      i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
           || ' ' || string_split(text,' ')[i+2])) AS s
  FROM corpus
),
tok AS (SELECT doc_id, unnest(s) AS g FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM tok a JOIN tok b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, len(s) AS n FROM sh),
p AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes na ON id_a = na.doc_id
  JOIN sizes nb ON id_b = nb.doc_id
  WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.5
),
e AS (SELECT id_a AS src, id_b AS dst FROM p
      UNION SELECT id_b, id_a FROM p),
nn AS (SELECT DISTINCT src AS id FROM e),
reach(id, comp) AS (
  SELECT id, id FROM nn
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN e ON e.src = r.id
),
cc AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)
SELECT c.doc_id AS doc_id,
       coalesce(cc.comp, c.doc_id) AS canonical_id
FROM corpus c LEFT JOIN cc ON c.doc_id = cc.id
""",
        # simhash_dedup: exact dual. The md5 shingle hash makes the
        # signatures engine-portable (nibble k bit b -> global bit
        # (k//8)*32 + (7 - k%8)*4 + b, 8-char big-endian hex groups —
        # see _md5_word_expr and the bits CTE below) and max_hamming=3
        # with 4x32-bit bands makes LSH recall COMPLETE by pigeonhole,
        # so the Spark output is exactly the quadratic hamming<=3
        # enumeration below. The query passes max_bucket=None: the
        # capped path's star-edge reduction inside an oversized
        # same-signature bucket would emit a strict pair SUBSET and
        # break this quadratic dual (harmless today — sf buckets never
        # oversize — but the uncapped call makes exactness
        # unconditional).
        "simhash_dedup": """
WITH corpus AS MATERIALIZED (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         regexp_replace(text, ' [^ ]+$', '') AS text
  FROM documents WHERE doc_id % 10 = 0
),
sh AS MATERIALIZED (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, len(string_split(text,' ')) - 1),
      i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])) AS s
  FROM corpus
),
tok AS (SELECT doc_id, md5(g) AS m FROM (SELECT doc_id, unnest(s) AS g FROM sh)),
nib AS (
  SELECT doc_id, kk.k AS k,
         strpos('0123456789abcdef', substr(m, kk.k + 1, 1)) - 1 AS v
  FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS k) kk
),
bits AS (
  -- portability contract with _md5_word_expr: nibble k bit b sits at
  -- global bit (k//8)*32 + (7 - k%8)*4 + b (8-char big-endian groups)
  SELECT doc_id, ((k // 8) * 32 + (7 - (k % 8)) * 4 + bb.b) AS i,
         (v >> bb.b) & 1 AS bit
  FROM nib CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bb
),
sig AS (
  SELECT doc_id, i, CASE WHEN 2 * sum(bit) > count(*) THEN 1 ELSE 0 END AS sb
  FROM bits GROUP BY doc_id, i
),
sigp AS (
  SELECT doc_id,
    CAST(sum(CASE WHEN i < 32 THEN CAST(sb AS BIGINT) << i ELSE 0 END) AS BIGINT) AS c0,
    CAST(sum(CASE WHEN i >= 32 AND i < 64 THEN CAST(sb AS BIGINT) << (i - 32) ELSE 0 END) AS BIGINT) AS c1,
    CAST(sum(CASE WHEN i >= 64 AND i < 96 THEN CAST(sb AS BIGINT) << (i - 64) ELSE 0 END) AS BIGINT) AS c2,
    CAST(sum(CASE WHEN i >= 96 THEN CAST(sb AS BIGINT) << (i - 96) ELSE 0 END) AS BIGINT) AS c3
  FROM sig GROUP BY doc_id
)
SELECT id_a, id_b, hamming FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    CAST(bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
       + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) AS BIGINT) AS hamming
  FROM sigp a JOIN sigp b ON a.doc_id < b.doc_id
) WHERE hamming <= 3
""",
        "embedding_topk": """
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, e.vec_id,
    list_sum(list_transform(list_zip(e.embedding, q.qe),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
    AS cs
  FROM embeddings e CROSS JOIN q
)
SELECT query_id, vec_id, round(cs, 6) AS cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cs DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
""",
        # ivf_topk: at nprobe = n_lists the IVF result is EXACT top-k by
        # construction (every list probed -> every vector a candidate ->
        # exact cosine re-rank), so the dual is brute force — identical
        # SQL shape to embedding_topk, gating a completely different
        # Spark plan (mapInArrow assignment + explode + joins + dedup).
        "ivf_topk": """
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, e.vec_id,
    list_sum(list_transform(list_zip(e.embedding, q.qe),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
    AS cs
  FROM embeddings e CROSS JOIN q
)
SELECT query_id, vec_id, round(cs, 6) AS cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cs DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
""",
        # lsh_topk_exact: at bits=0 every vector shares the single
        # bucket, so the LSH candidate machinery must return brute-force
        # top-k exactly — same SQL dual shape as embedding_topk/ivf_topk,
        # gating a third distinct Spark plan (mapInArrow bucketize +
        # posexplode + bucket join + dedup + re-rank).
        "lsh_topk_exact": """
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, e.vec_id,
    list_sum(list_transform(list_zip(e.embedding, q.qe),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
    AS cs
  FROM embeddings e CROSS JOIN q
)
SELECT query_id, vec_id, round(cs, 6) AS cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cs DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
""",
        # media_features: byte-domain dual — the fake decoder reads
        # payload bytes as uint8 samples and the documents corpus is
        # pure ASCII, so codepoints == bytes and DuckDB recomputes the
        # stats per character.
        "media_features": """
WITH b AS (
  SELECT doc_id AS media_id,
    list_transform(generate_series(1, length(text)),
                   i -> CAST(ord(substr(text, i, 1)) AS DOUBLE)) AS xs
  FROM documents
)
SELECT media_id,
  CAST(len(xs) AS INT) AS byte_len,
  round(list_aggregate(xs, 'avg'), 6) AS byte_mean,
  round(sqrt(list_aggregate(list_transform(xs, x -> x * x), 'avg')
             - pow(list_aggregate(xs, 'avg'), 2)), 6) AS byte_std
FROM b
""",
        "embedding_near_dup": """
WITH v AS (SELECT vec_id, label, embedding FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  round(
    list_sum(list_transform(list_zip(a.embedding, b.embedding),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
       * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))),
  6) AS cos_sim
FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
       * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
    >= 0.3
""",
        "payload_passthrough": f"""
SELECT vec_id, {_DIGEST_SQL} AS emb_digest, label FROM embeddings
""",
        "payload_sum": """
SELECT vec_id,
  round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS emb_sum,
  list_min(embedding) AS emb_min,
  list_max(embedding) AS emb_max
FROM embeddings
""",
        "text_quality": f"""
SELECT doc_id, n_words, n_tokens,
  round(pr, 6) AS punct_ratio,
  round(sw, 6) AS stop_ratio,
  round(wl, 6) AS mean_word_len,
  round(least(sw * 4, 1.0) * 0.4
        + (1.0 - least(pr * 5, 1.0)) * 0.3
        + (1.0 - least(abs(wl - 5.0) / 5.0, 1.0)) * 0.3, 6) AS quality
FROM ({_QUALITY_SQL})
""",
        "lang_id": """
WITH s AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split(text,' '), w -> w IN ('der','die','und','das','nicht'))) AS DOUBLE) / len(string_split(text,' ')) AS s_de,
    CAST(len(list_filter(string_split(text,' '), w -> w IN ('the','and','of','to','in'))) AS DOUBLE) / len(string_split(text,' ')) AS s_en,
    CAST(len(list_filter(string_split(text,' '), w -> w IN ('el','la','de','que','y'))) AS DOUBLE) / len(string_split(text,' ')) AS s_es,
    CAST(len(list_filter(string_split(text,' '), w -> w IN ('le','la','et','les','des'))) AS DOUBLE) / len(string_split(text,' ')) AS s_fr
  FROM documents
)
SELECT doc_id,
  CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
       WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
       WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
       WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
       ELSE 'fr' END AS lang_pred
FROM s
""",
        "fingerprint": """
SELECT doc_id,
  CAST(list_sum(list_transform(string_split(text, ' '),
           (w, i) -> (CAST(ascii(w) AS BIGINT) * i) % 1000000007))
       % 1000000007 AS BIGINT) AS fp
FROM documents
""",
        "salted_agg": """
SELECT l_returnflag, round(sum(l_quantity), 6) AS sum_qty, count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
""",
        "component_count": f"""
SELECT user_id, count(DISTINCT session_id) AS n_sessions
FROM ({_SESSION_ID_SQL}) GROUP BY user_id
""",
        "sessions_filtered": f"""
SELECT event_id, user_id, session_id FROM (
  SELECT event_id, user_id, session_id,
    count(*) OVER (PARTITION BY user_id, session_id) AS n
  FROM ({_SESSION_ID_SQL})
) WHERE n >= 5
""",
        "rebase": """
SELECT event_id, user_id,
  epoch(ts) - min(epoch(ts)) OVER (PARTITION BY user_id) AS secs_since_start
FROM events
""",
        "streaming_sessions": f"""
SELECT user_id, min(ts) AS session_start, count(*) AS session_len,
  round(sum(value), 6) AS session_sum
FROM (
  SELECT *,
    sum(CASE WHEN gap_prev IS NULL OR gap_prev >= {GAP} THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM (
    SELECT *, epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap_prev
    FROM events
  )
)
GROUP BY user_id, session_id
""",
        "ratio_of_aggregates": """
SELECT l_linestatus,
  round(coalesce(
    sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END) / sum(l_quantity),
  0), 6) AS return_ratio
FROM lineitem GROUP BY l_linestatus
""",
        "feature_long_format": """
WITH agg AS (
  SELECT l_returnflag,
    round(sum(l_quantity), 6) AS s_sum,
    round(avg(l_quantity), 6) AS s_mean,
    round(stddev_pop(l_quantity), 6) AS s_std,
    round(CAST(median(l_quantity) AS DOUBLE), 6) AS s_median,
    round(min(l_quantity), 6) AS s_min,
    round(max(l_quantity), 6) AS s_max
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'l_quantity' AS feature, s.stat, s.value FROM agg,
LATERAL (VALUES ('sum', s_sum), ('mean', s_mean), ('std', s_std),
                ('median', s_median), ('min', s_min), ('max', s_max))
  AS s(stat, value)
""",
        "geodesic_flood": """
SELECT event_id, user_id,
  CASE WHEN _mask THEN max(CASE WHEN _mask THEN value END)
       OVER (PARTITION BY user_id, _run) END AS reconstructed
FROM (
  SELECT *,
    sum(CASE WHEN _mask AND NOT coalesce(_prev_mask, FALSE) THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _run
  FROM (
    SELECT *, value > 10 AS _mask,
      lag(value > 10) OVER (PARTITION BY user_id ORDER BY ts) AS _prev_mask
    FROM events
  )
)
""",
        "merge_writeback": f"""
SELECT vec_id, {_DIGEST_SQL} AS emb_digest, label,
  list_min(embedding) AS emb_min, list_max(embedding) AS emb_max
FROM embeddings
""",
        "pivot": """
SELECT user_id,
  round(coalesce(sum(CASE WHEN event_type='click' THEN value END), 0), 6) AS sum_click,
  round(coalesce(sum(CASE WHEN event_type='view' THEN value END), 0), 6) AS sum_view,
  round(coalesce(sum(CASE WHEN event_type='purchase' THEN value END), 0), 6) AS sum_purchase,
  round(coalesce(sum(CASE WHEN event_type='error' THEN value END), 0), 6) AS sum_error,
  round(coalesce(sum(CASE WHEN event_type='signup' THEN value END), 0), 6) AS sum_signup
FROM events GROUP BY user_id
""",
        "rollup": """
SELECT l_returnflag, l_linestatus,
  round(sum(l_quantity), 6) AS sum_qty, count(*) AS n,
  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) AS gid
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
        "quantiles": """
SELECT event_type,
  round(quantile_cont(CAST(value AS DOUBLE), 0.25), 6) AS p25,
  round(quantile_cont(CAST(value AS DOUBLE), 0.5), 6) AS p50,
  round(quantile_cont(CAST(value AS DOUBLE), 0.95), 6) AS p95
FROM events GROUP BY event_type
""",
        "tumbling_window": """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w_start,
  count(*) AS n_events, round(sum(value), 6) AS sum_value
FROM events GROUP BY 1
""",
        "value_histogram": """
SELECT CASE WHEN value < 0 THEN 0
            WHEN value >= 200 THEN 21
            ELSE CAST(floor(value / 10) AS BIGINT) + 1 END AS bucket,
       count(*) AS n
FROM events GROUP BY 1
""",
        "distinct_users": """
SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
""",
        "asof_strict": """
SELECT p.event_id, p.user_id, b.value AS err_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type='purchase') p
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type='error') b
  ON p.user_id = b.user_id AND p.ts > b.ts
""",
        "corpus_filter": """
WITH scored AS (
  SELECT doc_id, text,
    round(least(sw * 4, 1.0) * 0.4
          + (1.0 - least(pr * 5, 1.0)) * 0.3
          + (1.0 - least(abs(wl - 5.0) / 5.0, 1.0)) * 0.3, 6) AS q,
    CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
         WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
         WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
         WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
         ELSE 'fr' END AS lp
  FROM (
    SELECT doc_id, text,
      CAST(len(list_filter(string_split(text,' '),
           w -> w IN ('the','a','of','to','and','in','is','it','for','on'))) AS DOUBLE)
        / len(string_split(text,' ')) AS sw,
      CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
        / length(text) AS pr,
      CAST(length(text) - (len(string_split(text,' ')) - 1) AS DOUBLE)
        / len(string_split(text,' ')) AS wl,
      CAST(len(list_filter(string_split(text,' '), w -> w IN ('der','die','und','das','nicht'))) AS DOUBLE) / len(string_split(text,' ')) AS s_de,
      CAST(len(list_filter(string_split(text,' '), w -> w IN ('the','and','of','to','in'))) AS DOUBLE) / len(string_split(text,' ')) AS s_en,
      CAST(len(list_filter(string_split(text,' '), w -> w IN ('el','la','de','que','y'))) AS DOUBLE) / len(string_split(text,' ')) AS s_es,
      CAST(len(list_filter(string_split(text,' '), w -> w IN ('le','la','et','les','des'))) AS DOUBLE) / len(string_split(text,' ')) AS s_fr
    FROM documents
  )
  WHERE q >= 0.5 AND lp = 'en'
)
SELECT doc_id, q AS quality FROM (
  SELECT doc_id, q, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
  FROM scored
) WHERE rn = 1
""",
        "zscore": """
SELECT event_id, user_id,
  round(CASE WHEN stddev_pop(value) OVER w = 0 THEN 0
        ELSE (value - avg(value) OVER w) / (stddev_pop(value) OVER w) END, 6)
    AS zscore
FROM events WINDOW w AS (PARTITION BY user_id)
""",
        "ntile": """
SELECT event_id, user_id,
  ntile(4) OVER (PARTITION BY user_id ORDER BY value ASC, event_id ASC)
    AS quartile
FROM events
""",
        "top_words": """
SELECT word, n, rank FROM (
  SELECT word, count(*) AS n,
    row_number() OVER (ORDER BY count(*) DESC, word ASC) AS rank
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  GROUP BY word
) WHERE rank <= 20
""",
        "normalize_embedding": """
SELECT vec_id,
  CAST(coalesce(list_sum(list_transform(
    list_transform(embedding, x -> round(CAST(x AS DOUBLE) /
      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 6)),
    (x, i) -> CAST(round(x * 1000000, 0) AS BIGINT) * i)), 0) AS BIGINT)
  AS unit_digest
FROM embeddings
""",
        "glcm_stats": """
WITH lv AS (
  SELECT user_id, ts, event_id,
    ((CAST(floor(value) AS BIGINT) % 16) + 16) % 16 AS j
  FROM events
), pr AS (
  SELECT user_id, lag(j) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i, j
  FROM lv
), sym AS (
  SELECT user_id, i, j FROM pr WHERE i IS NOT NULL
  UNION ALL
  SELECT user_id, j AS i, i AS j FROM pr WHERE i IS NOT NULL
), h AS (
  SELECT user_id, i, j, count(*) AS c FROM sym GROUP BY user_id, i, j
), a AS (
  SELECT user_id,
    sum(c) AS n,
    sum(c * (i-j) * (i-j)) AS sij2,
    sum(CAST(c AS DOUBLE) / (1.0 + (i-j)*(i-j))) AS shom,
    sum(c * c) AS s2,
    sum(c * i) AS si,
    sum(c * i * i) AS sii,
    sum(c * i * j) AS sij
  FROM h GROUP BY user_id
)
SELECT user_id,
  round(CAST(sij2 AS DOUBLE) / n, 6) AS contrast,
  round(shom / n, 6) AS homogeneity,
  round(sqrt(CAST(s2 AS DOUBLE)) / n, 6) AS energy,
  round(CASE WHEN CAST(n AS HUGEINT)*sii - CAST(si AS HUGEINT)*si <= 0 THEN 1.0
    ELSE CAST(CAST(n AS HUGEINT)*sij - CAST(si AS HUGEINT)*si AS DOUBLE)
       / CAST(CAST(n AS HUGEINT)*sii - CAST(si AS HUGEINT)*si AS DOUBLE) END, 6)
    AS correlation
FROM a
""",
        "component_stats": f"""
WITH m AS (
  SELECT user_id, session_id,
    stddev_pop(value) AS f_std,
    max(epoch(ts)) - min(epoch(ts)) AS f_dur,
    CASE WHEN max(epoch(ts)) - min(epoch(ts)) = 0 THEN 0.0
         ELSE (max(value) - min(value)) / (max(epoch(ts)) - min(epoch(ts)))
    END AS f_asp
  FROM ({_SESSION_ID_SQL}) GROUP BY user_id, session_id
)
SELECT user_id,
  round(coalesce(sum(f_std), 0), 6)                    AS session_std_sum,
  round(coalesce(avg(f_std), 0), 6)                    AS session_std_mean,
  round(coalesce(stddev_pop(f_std), 0), 6)             AS session_std_std,
  round(coalesce(CAST(median(f_std) AS DOUBLE), 0), 6) AS session_std_median,
  round(coalesce(min(f_std), 0), 6)                    AS session_std_min,
  round(coalesce(max(f_std), 0), 6)                    AS session_std_max,
  round(coalesce(sum(f_dur), 0), 6)                    AS session_duration_sum,
  round(coalesce(avg(f_dur), 0), 6)                    AS session_duration_mean,
  round(coalesce(stddev_pop(f_dur), 0), 6)             AS session_duration_std,
  round(coalesce(CAST(median(f_dur) AS DOUBLE), 0), 6) AS session_duration_median,
  round(coalesce(min(f_dur), 0), 6)                    AS session_duration_min,
  round(coalesce(max(f_dur), 0), 6)                    AS session_duration_max,
  round(coalesce(sum(f_asp), 0), 6)                    AS session_aspect_sum,
  round(coalesce(avg(f_asp), 0), 6)                    AS session_aspect_mean,
  round(coalesce(stddev_pop(f_asp), 0), 6)             AS session_aspect_std,
  round(coalesce(CAST(median(f_asp) AS DOUBLE), 0), 6) AS session_aspect_median,
  round(coalesce(min(f_asp), 0), 6)                    AS session_aspect_min,
  round(coalesce(max(f_asp), 0), 6)                    AS session_aspect_max
FROM m GROUP BY user_id
""",
        "deconvolution": _deconvolution_sql(),
        "polygon_features": """
WITH g AS (
  SELECT vec_id,
    vec_id * 7 % 50 AS x0, vec_id * 13 % 50 AS y0,
    vec_id * 3 % 20 + 1 AS w, vec_id * 5 % 20 + 1 AS h
  FROM embeddings
)
SELECT vec_id,
  CAST(w * h AS BIGINT) AS mask_area,
  CAST(w AS INT) AS bbox_w, CAST(h AS INT) AS bbox_h,
  round(x0 + w / 2.0, 6) AS centroid_x,
  round(y0 + h / 2.0, 6) AS centroid_y
FROM g
""",
        # Otsu: the whole two-pass method (histogram, cumulative moments,
        # between-class-variance argmax with numpy's first-max tie-break,
        # then the filter) IS one SQL statement — cumulative sums run in
        # the same b-ascending order as np.cumsum so the doubles match.
        "otsu": """
WITH mm AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
h AS (
  SELECT least(CAST(floor((value - mm.lo) / ((mm.hi - mm.lo) / 64.0)) AS INT), 63) AS b,
         count(*) AS c
  FROM events, mm GROUP BY 1
),
hd AS (
  SELECT t.b, coalesce(h.c, 0) AS c,
    (SELECT lo FROM mm) + (t.b + 0.5) * (((SELECT hi FROM mm) - (SELECT lo FROM mm)) / 64.0) AS center
  FROM (SELECT range AS b FROM range(64)) t LEFT JOIN h ON h.b = t.b
),
cum AS (
  SELECT b, center,
    sum(c) OVER (ORDER BY b) AS w0,
    sum(c * center) OVER (ORDER BY b) AS m0,
    sum(c) OVER () AS n, sum(c * center) OVER () AS m
  FROM hd
),
v AS (
  SELECT b, center,
    CASE WHEN w0 > 0 AND (n - w0) > 0
      THEN w0 * (n - w0) * ((m0 / w0) - ((m - m0) / (n - w0)))
                         * ((m0 / w0) - ((m - m0) / (n - w0)))
      ELSE 0 END AS vb
  FROM cum
),
thr AS (SELECT center FROM v ORDER BY vb DESC, b ASC LIMIT 1)
SELECT event_id, value FROM events WHERE value > (SELECT center FROM thr)
""",
        # connected components: min-label fixpoint = transitive closure —
        # a recursive CTE (UNION dedups, so it terminates), then min per id.
        "connected_components": """
WITH RECURSIVE base AS (
  SELECT lag(event_id) OVER (PARTITION BY user_id ORDER BY ts) AS src,
         event_id AS dst,
         epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap
  FROM events
),
e0 AS (SELECT src, dst FROM base WHERE src IS NOT NULL AND gap <= 300),
e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
n AS (SELECT DISTINCT src AS id FROM e),
reach(id, comp) AS (
  SELECT id, id FROM n
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN e ON e.src = r.id
)
SELECT id, min(comp) AS component FROM reach GROUP BY id
""",
        # lsh_topk / approx_stats: intentionally no oracle (LSH
        # randomness / engine-specific sketches) → driver rows-only
        # check. minhash_dedup, simhash_dedup AND dedup_clusters ARE
        # oracled (exact-Jaccard dual; md5-portable
        # signatures + pigeonhole-complete recall; recursive-CTE
        # closure).
    }


# ---------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full point-in-time feature vector over events sf0.001
    — lag/lead + rolling stats + sessionization + distance-to-boundary +
    forward-fill + as-of joined error state, in one lineage (one window
    shuffle on user_id + the as-of union-merge)."""
    sf_dir = "/root/testdata/sf0.001"
    ev = _t(spark, sf_dir, "events")
    df = with_lag_lead(ev, "value", ["user_id"], ["ts", "event_id"], offsets=(1,))
    df = with_rolling_stats(
        df, "value", ["user_id"], ["ts", "event_id"], preceding=4,
        stats=("mean", "std", "min", "max"),
    )
    df = sessionize(df, ["user_id"], "ts", GAP)
    df = df.withColumnRenamed("_gap_prev", "gap_prev")
    df = distance_to_boundary(
        df, F.col("event_type") == "error", ["user_id"], "ts", out="dist_err"
    )
    df = df.withColumn(
        "purchase_val",
        F.when(F.col("event_type") == "purchase", F.col("value")),
    )
    df = forward_fill(df, "purchase_val", ["user_id"], "ts", out="purchase_ffill")
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select("user_id", "ts", F.col("value").alias("asof_err_value"))
    )
    df = asof_join(
        df, errors, keys=["user_id"], probe_ts="ts", build_ts="ts",
        values=["asof_err_value"],
    )
    return df.drop("purchase_val")
