"""Nearest-neighbor search over embedding columns.

 - ``brute_force_topk``: exact cosine top-k. The query side is broadcast
   (queries ≪ corpus always at 100 TB), so the corpus never shuffles —
   one scan, per-partition partial top-k via the window, AQE-coalesced.
 - ``lsh_topk`` (random-hyperplane LSH) and ``ivf_topk`` (coarse kmeans
   quantizer) are the two approximate tiers. They differ only in how a
   vector becomes a list of long keys: LSH packs the hyperplane sign bits
   of each of ``tables`` hash tables, IVF names the nearest coarse
   centroids. Both compute their keys in ``_vector_keys`` (one
   Arrow-batched numpy matmul per batch) and hand the key rows to
   ``_rerank``: corpus and query ids sharing a key are candidates,
   re-ranked by exact cosine. The corpus is scanned twice and never
   shuffled; every join is broadcast (the small-query contract), so the
   only exchanges carry candidate-sized data.

This is the engine's IVF/LSH "scale path" (task brief): recall tunable via
(bits, tables) or (n_lists, nprobe), exactness recovered as bits→0 or
nprobe→n_lists.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from combinedfeatureextraction_spark.functions.arrays import cosine, cosine_fixed


def _topk(scored: DataFrame, id_col: str, query_id_col: str, k: int) -> DataFrame:
    """The ``k`` best ``cos_sim`` rows per query, ranked; deterministic
    tie-break on corpus id."""
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos_sim", "rank")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str = "query_id",
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine per query. Output: (query_id, id, cos_sim,
    rank). Deterministic tie-break on corpus id."""
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec")
    )
    scored = corpus.join(F.broadcast(q)).withColumn(
        "cos_sim", cosine(F.col(vec_col), F.col("_qvec"))
    )
    return _topk(scored, id_col, query_id_col, k)


def _vector_keys(
    df: DataFrame,
    idc: str,
    vec_col: str,
    dim: int,
    out_col: str,
    keys_of: Callable[[np.ndarray], np.ndarray],
    op: str,
) -> DataFrame:
    """(id, vec) → (id, ``out_col`` array<long>) through one mapInArrow:
    each batch's vectors become one (n, ``dim``) float64 matrix and
    ``keys_of`` maps it to an (n, w) integer key matrix. A batch whose
    vectors do not all hold ``dim`` values raises ``ValueError``.

    Why mapInArrow and not column expressions or a pandas UDF: the
    per-plane dot product as literal arithmetic is tables·bits·dim
    (≈1500+) scalar terms — Janino spends ~10 s JIT-compiling the method —
    and interpreted higher-order lambdas inverse-scale at local[32]
    (CLAUDE.md). A pandas UDF ALSO inverse-scaled (measured 2.98 s at 8
    cores → 16 s at 32): Arrow→pandas materializes one numpy object PER
    ROW for a list column, and 32 workers allocating 2M small arrays
    contend on the allocator. mapInArrow reads the ListArray's contiguous
    values buffer and reshapes it (zero per-row objects); the id column
    passes through as its untouched Arrow buffer."""
    import pyarrow as pa

    def run(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            vals = pa.compute.list_flatten(b.column(1)).to_numpy(
                zero_copy_only=False
            )
            if len(vals) != n * dim:
                raise ValueError(
                    f"{op}: expected fixed dim {dim}, got "
                    f"{len(vals)} values for {n} rows"
                )
            keys = keys_of(vals.reshape(n, dim).astype(np.float64, copy=False))
            w = keys.shape[1]
            offsets = pa.array(np.arange(0, (n + 1) * w, w, dtype=np.int32))
            lists = pa.ListArray.from_arrays(
                offsets, pa.array(keys.ravel().astype(np.int64))
            )
            # only (id, keys) goes back out — re-serializing the vector
            # column through Arrow doubled the Python-boundary traffic
            yield pa.RecordBatch.from_arrays(
                [b.column(0), lists], names=[idc, out_col]
            )

    narrow = df.select(F.col(idc), F.col(vec_col))
    id_t = narrow.schema[idc].dataType.simpleString()
    return narrow.mapInArrow(run, f"{idc} {id_t}, {out_col} array<long>")


def _rerank(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_keys: DataFrame,
    query_keys: DataFrame,
    on: list[str],
    id_col: str,
    vec_col: str,
    query_id_col: str,
    k: int,
    dim: int,
) -> DataFrame:
    """Candidates → exact top-k: (query, corpus) id pairs sharing a key
    ``on``; the candidate vectors fetched by a broadcast semi-join on the
    candidate-id set (corpus scan #2, no shuffle); exact cosine against
    the query vector; the top-k window."""
    pairs = (
        corpus_keys.join(F.broadcast(query_keys), on)
        .select(query_id_col, id_col)
        .dropDuplicates([query_id_col, id_col])
    )
    cand_ids = pairs.select(id_col).distinct()
    cand_vecs = corpus.select(id_col, vec_col).join(
        F.broadcast(cand_ids), id_col, "left_semi"
    )
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
    scored = (
        cand_vecs.join(F.broadcast(pairs), id_col)
        .join(F.broadcast(q), query_id_col)
        .withColumn("cos_sim", cosine_fixed(vec_col, "_qvec", dim))
    )
    return _topk(scored, id_col, query_id_col, k)


def _hyperplanes(dim: int, bits: int, tables: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((tables, bits, dim))


def _kmeans_centroids(
    sample: np.ndarray, n_lists: int, iters: int, seed: int
) -> np.ndarray:
    """Deterministic mini-kmeans on a driver-side sample (numpy Lloyd
    iterations). The coarse quantizer of an IVF index is small by design
    (≤ a few thousand centroids); training it on a bounded sample
    driver-side is the standard construction (FAISS-style)."""
    rng = np.random.default_rng(seed)
    idx = rng.choice(len(sample), size=min(n_lists, len(sample)), replace=False)
    cents = sample[idx].astype(np.float64)
    for _ in range(iters):
        d = sample @ cents.T  # cosine-ish: vectors assumed ~normalized
        assign = d.argmax(axis=1)
        for c in range(len(cents)):
            m = sample[assign == c]
            if len(m):
                cents[c] = m.mean(axis=0)
    norms = np.linalg.norm(cents, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return cents / norms


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str = "query_id",
    k: int = 10,
    n_lists: int = 64,
    nprobe: int = 4,
    dim: int = 64,
    seed: int = 42,
    train_sample: int = 10_000,
    kmeans_iters: int = 5,
) -> DataFrame:
    """IVF approximate top-k — the inverted-file scale path beside LSH:
    a coarse kmeans quantizer (trained driver-side on a bounded sample)
    assigns every corpus vector to its nearest list; a query probes its
    ``nprobe`` nearest lists and exact-cosine re-ranks the union.

    Plan shape mirrors lsh_topk: corpus scanned twice, shuffled never
    (assignment via mapInArrow matmul emitting (id, lists); candidate
    vectors fetched by broadcast semi-join); recall is tuned by
    (n_lists, nprobe), exactness recovered as nprobe→n_lists."""
    # bounded driver-side training sample: limit() takes the first rows in
    # scan order — deterministic for a fixed file layout (FAISS-style
    # train-on-head); centroids only steer recall, never correctness (the
    # re-rank is exact)
    sample_pdf = (
        corpus.select(vec_col).limit(train_sample).toPandas()[vec_col]
    )
    sample = np.stack(sample_pdf.to_numpy()).astype(np.float64)
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    cents = _kmeans_centroids(sample / norms, n_lists, kmeans_iters, seed)
    centsT = cents.T.copy()

    def assign(df: DataFrame, idc: str, probes: int) -> DataFrame:
        # the ``probes`` nearest coarse centroids per vector
        p = min(probes, len(cents))
        mapped = _vector_keys(
            df, idc, vec_col, dim, "_lists",
            lambda m: np.argpartition(-(m @ centsT), p - 1, axis=1)[:, :p],
            "ivf_topk",
        )
        return mapped.select(idc, F.explode("_lists").alias("_list"))

    cb = assign(corpus, id_col, 1)  # corpus rows live in ONE list
    qb = assign(queries, query_id_col, nprobe)
    return _rerank(
        corpus, queries, cb, qb, ["_list"], id_col, vec_col, query_id_col, k, dim
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str = "query_id",
    k: int = 10,
    bits: int = 8,
    tables: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket with the query in
    any table; exact cosine re-rank among candidates. Same output schema
    as brute_force_topk (rank over the candidate set).

    Plan shape (the 100 TB contract): the corpus is scanned twice and
    never shuffled — once through the Arrow matmul emitting only
    (id, buckets), once to fetch the (few) candidate vectors via a
    BROADCAST semi-join on the candidate-id set. Every join is broadcast;
    the only exchanges carry candidate-sized data (ids, pairs, the final
    re-rank window)."""
    planes = _hyperplanes(dim, bits, tables, seed)
    flat = planes.reshape(tables * bits, dim).T.copy()  # (dim, tables·bits)
    weights = 2 ** np.arange(bits, dtype=np.int64)

    def signs(m: np.ndarray) -> np.ndarray:
        # all tables in one matmul: (batch, dim) @ (dim, tables·bits),
        # sign bits packed per table
        return ((m @ flat >= 0).reshape(len(m), tables, bits) * weights).sum(axis=2)

    def bucketize(df: DataFrame, idc: str) -> DataFrame:
        # ONE scan: all table buckets per batch, then posexplode — a
        # per-table unionByName would re-scan (and re-decode) the corpus
        # `tables` times.
        mapped = _vector_keys(df, idc, vec_col, dim, "_bkts", signs, "lsh bucketize")
        return mapped.select(idc, F.posexplode("_bkts")).withColumnsRenamed(
            {"pos": "_tbl", "col": "_bkt"}
        )

    cb = bucketize(corpus, id_col)
    qb = bucketize(queries, query_id_col)
    return _rerank(
        corpus, queries, cb, qb, ["_tbl", "_bkt"], id_col, vec_col,
        query_id_col, k, dim,
    )
