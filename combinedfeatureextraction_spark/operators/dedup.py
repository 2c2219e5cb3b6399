"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

These are first-class engine operators (not in the reference — they're the
corpus-scale counterpart of its overlap conflict-resolution J6 / last-wins
W9 semantics: among duplicate rows, one canonical winner is kept by an
explicit priority).

Scale design:
 - exact: one hash-shuffle on the content hash, map-side combinable.
 - MinHash/SimHash: signatures via explode → map-side-combinable groupBy
   aggregates (the array-HOF fold formulation left whole-stage codegen and
   measured ~50× slower); only the LSH band → candidate-pair stage
   shuffles beyond that, and it shuffles SIGNATURES (few bytes), never
   documents. Degenerate buckets cap to star edges; band rows are lazily
   checkpointed so the signature agg runs once, not per fan-out branch.
 - banding math (minhash): P(candidate | jaccard=s) = 1-(1-s^r)^b —
   choose (b, r) for the target threshold; defaults target ~0.8. SimHash
   is 128-bit with 4×32-bit bands (recall guaranteed ≤ hamming 3).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from combinedfeatureextraction_spark.operators.priority import last_wins


# ---------------------------------------------------------------- exact

def exact_dedup(
    df: DataFrame,
    content_cols: Sequence[str],
    tie_break: Sequence[Column],
) -> DataFrame:
    """Keep one row per distinct content (hash-groupBy): winner = first row
    under ``tie_break`` ordering. One shuffle on the 64-bit content hash."""
    h = F.xxhash64(*[F.col(c) for c in content_cols])
    return last_wins(df.withColumn("_h", h), ["_h"], tie_break).drop("_h")


# ------------------------------------------------------------- shingles

def word_shingles_all(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingle array WITH repeats (positional), built
    array-side (no explode): one shingle per window position."""
    c = F.col(col) if isinstance(col, str) else col
    ws = F.split(c, " ")
    k = F.size(ws) - (n - 1)  # number of shingles
    # Build by zipping shifted slices — NOT by indexing inside a transform
    # lambda: an outer expression referenced inside a lambda is re-evaluated
    # per element, turning shingling O(words²) per row (measured 20s+ for
    # 10k docs). Zipped slices evaluate split() only ~n times per row.
    sh = F.slice(ws, 1, F.greatest(k, F.lit(0)))
    for j in range(1, n):
        nxt = F.slice(ws, 1 + j, F.greatest(k, F.lit(0)))
        sh = F.zip_with(sh, nxt, lambda a, b: F.concat(a, F.lit(" "), b))
    return sh


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingle array (see word_shingles_all)."""
    return F.array_distinct(word_shingles_all(col, n))


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


# exact-tier ceiling: largest block a quadratic pair generator will
# accept (100k rows -> ~5e9 pair evaluations, the edge of sane). The
# guard-with-fallback pattern mirrors _GRID_MAX_BUILD in operators.asof.
EXACT_TIER_MAX_BLOCK = 100_000


def _blocked_pairs(
    narrow: DataFrame,
    id_col: str,
    val_col: str,
    block_col: str | None,
    max_block: int | None,
    sim: Callable[[Column, Column], Column],
    out: str,
    threshold: float,
    op: str,
    alt: str,
) -> DataFrame:
    """The exact tier: all (id_a, id_b, ``out``) pairs of ``narrow``
    (id_col, val_col[, block_col]) rows in the same block with id_a <
    id_b and ``sim(val_a, val_b) >= threshold``, as one self-join.

    Guarded: a largest block over ``max_block`` rows raises rather than
    running an honest O(n²) self-join (an unblocked large table). The
    guard is one count job at call time (per-block max when blocked);
    ``max_block=None`` skips it."""
    if max_block is not None:
        if block_col:
            top = (
                narrow.groupBy(block_col).count().agg(F.max("count")).first()[0]
            )
        else:
            top = narrow.limit(max_block + 1).count()
        if top and top > max_block:
            where = f"block ('{block_col}')" if block_col else "input (unblocked)"
            raise ValueError(
                f"{op}: largest {where} has {'>' if not block_col else ''}"
                f"{top} rows > max_block={max_block}; the exact tier is O(n²) "
                f"per block. Split the input with block_col, use {alt} (the "
                f"corpus-scale path), or pass max_block=None to force."
            )

    def side(s: str) -> DataFrame:
        return narrow.select(
            F.col(id_col).alias(f"id_{s}"), F.col(val_col).alias(f"_v{s}"),
            *([F.col(block_col).alias(f"_blk{s}")] if block_col else []),
        )

    cond = F.col("id_a") < F.col("id_b")
    if block_col:
        cond = cond & (F.col("_blka") == F.col("_blkb"))
    return (
        side("a").join(side("b"), cond)
        .withColumn(out, sim(F.col("_va"), F.col("_vb")))
        .filter(F.col(out) >= threshold)
        .select("id_a", "id_b", out)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    block_col: str | None = None,
    max_block: int | None = EXACT_TIER_MAX_BLOCK,
) -> DataFrame:
    """All-pairs n-gram Jaccard ≥ threshold. Exact but quadratic per block —
    ``block_col`` (e.g. source / length bucket) bounds the self-join; use
    minhash_lsh_dedup for corpus scale. A block larger than ``max_block``
    rows raises (see _blocked_pairs) rather than silently running an
    O(n²) join. NOTE: with ``max_block`` set (the default), construction
    is EAGER — the guard runs one Spark count job at call time, so this
    function is not a purely lazy plan builder; streaming inputs are
    rejected with a clear error (pass max_block=None only for bounded
    batch inputs you control). Output: (id_a, id_b, jaccard_sim),
    id_a < id_b."""
    if df.isStreaming:
        raise ValueError(
            "ngram_jaccard_pairs: streaming input unsupported (the exact "
            "quadratic tier needs a bounded batch block; use "
            "streaming.exact dedup or minhash_lsh_dedup on batch slices)"
        )
    # shingling runs once (checkpoint), and the checkpoint is spread over
    # the full partition budget FIRST — a single-file scan would otherwise
    # checkpoint as ONE partition and serialize the quadratic pair work
    # onto one task (the broadcast side sets no parallelism of its own)
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sh = (
        df.select(
            F.col(id_col), word_shingles(text_col, n).alias("_sh"),
            *([F.col(block_col)] if block_col else []),
        )
        .repartition(n_part)
        .localCheckpoint(eager=False)
    )
    return _blocked_pairs(
        sh, id_col, "_sh", block_col, max_block, jaccard, "jaccard_sim",
        threshold, "ngram_jaccard_pairs", "minhash_lsh_dedup",
    )


# -------------------------------------------------------------- minhash

def hashed_shingle_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """(_id, _sh array<long>): distinct word-n-gram shingles hashed to
    64-bit longs — the shared base for signatures AND verification."""
    return (
        df.select(
            F.col(id_col).alias("_id"),
            F.explode(word_shingles(text_col, n)).alias("_s"),
        )
        .select("_id", F.xxhash64("_s").alias("_h"))
        .groupBy("_id")
        .agg(F.collect_set("_h").alias("_sh"))
    )


def minhash_signatures_from_sets(
    sh: DataFrame,
    num_hashes: int = 32,
) -> DataFrame:
    """(_id, _sig array<long>): min over hashed shingles of
    xxhash64(h, i). Explode of a long array (cheap) → num_hashes narrow
    min-aggregates with full map-side combine. (A nested-lambda array-fold
    formulation is shuffle-free but builds a Catalyst tree that falls out
    of codegen — measured ~50x slower.) Aggregate + array expressions are
    assembled as SQL strings: ONE py4j/parse round trip each — the Column-
    operator form (min(xxhash64(col, lit)) × num_hashes) cost ~0.6 s of
    pure driver-side build per invocation (r06 profile), paid on every
    bench rep. SQL int literals carry the same IntegerType as F.lit(int),
    so xxhash64 seeds — and therefore signatures — are bit-identical."""
    ex = sh.select("_id", F.explode("_sh").alias("_h"))
    mins = ex.groupBy("_id").agg(
        F.expr("min(xxhash64(_h, 0)) AS _h0"),
        *[
            F.expr(f"min(xxhash64(_h, {i})) AS _h{i}")
            for i in range(1, num_hashes)
        ],
    )
    arr = ", ".join(f"_h{i}" for i in range(num_hashes))
    return mins.select("_id", F.expr(f"array({arr}) AS _sig"))


DEFAULT_MAX_BUCKET = 256


def _banded_candidates(
    band_rows: DataFrame,
    bucket_cols: Sequence[str],
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    carry: Sequence[str] = (),
    sig_cols: Sequence[str] = (),
) -> DataFrame:
    """Candidate pairs from (_id, *bucket_cols) band rows, with a
    DEGENERATE-BUCKET CAP that is RECALL-AWARE.

    A bucket holding ≤ ``max_bucket`` members enumerates all pairs. An
    oversized bucket (boilerplate / empty docs all hashing together) is
    first SUB-GROUPED BY EXACT FULL SIGNATURE (``sig_cols``):

      * within a signature group, members contribute star edges to the
        group's minimum id — for truly identical content (the reason
        mega-buckets exist) every such edge passes verification, so the
        group stays connected at O(group) candidate volume;
      * the group representatives (one per DISTINCT signature) are then
        pair-enumerated exhaustively when ≤ ``max_bucket`` of them
        exist, else they degrade to star edges among themselves.

    Recall contract: a true near-dup pair in an oversized bucket is
    enumerated (or transitively connected through its signature-group
    representative, whose signature is IDENTICAL to the member's) as
    long as the bucket holds ≤ ``max_bucket`` DISTINCT signatures. The
    residual loss cases are (a) > max_bucket distinct signatures in ONE
    band bucket and (b) distinct texts colliding on the ENTIRE signature
    whose star edge fails verification — both documented-probabilistic,
    not silent (the old min-id star could drop verified pairs between
    non-min members of any heterogeneous mega-bucket). Callers that want
    exhaustive enumeration regardless pass ``max_bucket=None``.

    ``carry`` columns ride along onto both pair sides as ``{c}_a``/``{c}_b``
    (e.g. simhash signatures), so verification needs no join back — only
    narrow (id, bucket, sig, carry) tuples ever shuffle.

    The band rows are lazily localCheckpoint'ed before the fan-out: the
    self-join (and the cap's branches) otherwise RECOMPUTE the upstream
    signature aggregation once per branch — Catalyst does not reuse the
    exchange across differently-filtered subplans (measured 4.8× on
    simhash at sf0.1). Lazy checkpoint keeps operator laziness (first
    action materializes); blocks are released by the ContextCleaner when
    the plan is collected."""
    bucket_cols = list(bucket_cols)
    carry = list(carry)
    sig_cols = list(sig_cols)

    def side(df: DataFrame, suff: str, extra: Sequence[str] = ()) -> DataFrame:
        return df.select(
            F.col("_id").alias(f"id_{suff}"),
            *[F.col(c).alias(f"{c}_{suff}") for c in carry],
            *bucket_cols,
            *extra,
        )

    out_cols = (
        ["id_a", "id_b"]
        + [f"{c}_a" for c in carry]
        + [f"{c}_b" for c in carry]
    )

    def all_pairs(df: DataFrame) -> DataFrame:
        return (
            side(df, "a")
            .join(side(df, "b"), bucket_cols)
            .filter(F.col("id_a") < F.col("id_b"))
            .select(*out_cols)
        )

    def star(df: DataFrame, rep: str) -> DataFrame:
        # edge rep → member for every member that is not the rep (the
        # struct ``rep`` holds the rep's _id and carry columns)
        return df.filter(F.col("_id") != F.col(rep)["_id"]).select(
            F.col(rep)["_id"].alias("id_a"),
            F.col("_id").alias("id_b"),
            *[F.col(rep)[c].alias(f"{c}_a") for c in carry],
            *[F.col(c).alias(f"{c}_b") for c in carry],
        )

    band_rows = band_rows.localCheckpoint(eager=False)
    if max_bucket is None:
        return all_pairs(band_rows).distinct()
    if not sig_cols:
        # no finer key available — every member is its own "signature"
        # group, i.e. reps == members (pre-fix behavior would star to the
        # bucket min and silently lose non-min pairs; without sig_cols we
        # can only star among the members themselves)
        sig_cols = ["_id"]
    # r06: the small/big split no longer pays a window (exchange + full
    # sort of EVERY band row for a per-bucket count). Bucket sizes are a
    # map-side-combinable aggregate whose over-cap survivors — usually
    # ZERO rows — broadcast back as an anti/semi-join filter; the band
    # rows themselves never shuffle for the split. The big branch keeps
    # the window machinery but now runs it on the (tiny) oversized
    # subset only, uncheckpointed: recomputing a broadcast filter + a
    # window over ≤ a few buckets per consumer branch is cheaper than
    # the extra checkpoint materialization barrier was (the r05 shape
    # checkpointed ALL rows with both window columns attached).
    big_buckets = F.broadcast(
        band_rows.groupBy(*bucket_cols)
        .agg(F.count("*").alias("_bn"))
        .filter(F.col("_bn") > max_bucket)
        .select(*bucket_cols)
    )
    pairs_small = all_pairs(band_rows.join(big_buckets, bucket_cols, "left_anti"))

    # ---- oversized buckets: signature sub-groups --------------------
    gw = Window.partitionBy(*bucket_cols, *sig_cols)
    big = band_rows.join(big_buckets, bucket_cols, "left_semi").withColumn(
        "_gm", F.min(F.struct("_id", *carry)).over(gw)
    )
    # (a) within-group star edges (group min → member)
    pairs_within = star(big, "_gm")
    # (b) one representative per distinct signature; exhaustive pairs
    # while they fit the cap, star beyond it. No checkpoint (r06): the
    # rep subtree hangs off the checkpointed band rows through a
    # broadcast semi-join + windows over the (tiny) oversized subset —
    # recomputing that per sub-branch costs ~nothing, while the former
    # checkpoint was a mandatory job barrier on every call.
    rw = Window.partitionBy(*bucket_cols)
    reps = (
        big.filter(F.col("_id") == F.col("_gm")["_id"])
        .drop("_gm")
        .withColumn("_rn", F.count("*").over(rw))
        .withColumn("_rm", F.min(F.struct("_id", *carry)).over(rw))
    )
    pairs_reps = all_pairs(reps.filter(F.col("_rn") <= max_bucket))
    pairs_reps_star = star(reps.filter(F.col("_rn") > max_bucket), "_rm")
    return (
        pairs_small.union(pairs_within)
        .union(pairs_reps)
        .union(pairs_reps_star)
        .distinct()
    )


def minhash_lsh_candidates_from_sets(
    sh: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """LSH candidate pairs from hashed shingle sets: signature → ``bands``
    bands of r=num_hashes/bands rows; pairs sharing any band bucket are
    candidates. Only (id, band, band_hash, full-signature-hash) tuples
    shuffle — never documents. Oversized buckets sub-group by the FULL
    signature hash so identical content collapses to one representative
    and distinct contents still pair exhaustively (see
    _banded_candidates recall contract). Output: distinct (id_a, id_b)."""
    r = num_hashes // bands
    sig = minhash_signatures_from_sets(sh, num_hashes)
    # band structs as ONE SQL string (r06): the Column-operator form cost
    # ~0.7 s of py4j round trips per build; `_sig[k]` / int literals parse
    # to the identical GetArrayItem / IntegerType nodes, so band hashes
    # are bit-identical to the previous construction.
    band_structs = ", ".join(
        "struct({bi} AS band, xxhash64({els}) AS bh)".format(
            bi=bi,
            els=", ".join(f"_sig[{bi * r + j}]" for j in range(r)),
        )
        for bi in range(bands)
    )
    band_rows = sig.select(
        "_id",
        # full-signature hash: the sub-group key for oversized buckets
        F.expr("xxhash64(_sig) AS _sigh"),
        F.expr(f"explode(array({band_structs})) AS b"),
    ).select("_id", "_sigh", "b.band", "b.bh")
    return _banded_candidates(
        band_rows, ["band", "bh"], max_bucket, sig_cols=["_sigh"]
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    materialize: bool = False,
) -> DataFrame:
    """Candidates → exact-Jaccard verification → confirmed near-dup pairs
    (id_a, id_b, jaccard_sim).

    The hashed shingle sets are computed ONCE (persisted) and feed both
    the signature/banding stage and the two sides of the verify join (at
    corpus scale you would materialize them to a table once per
    snapshot); jaccard runs over long arrays (collision probability
    ~n²/2⁶⁴, negligible). Documents shuffle once, by id — never all-pairs.

    ``materialize=True`` eagerly computes the (small) pair output via
    localCheckpoint and unpersists the shingle sets before returning —
    use it when the result is consumed more than once or fed to an
    iterative consumer, so the cached shingles don't outlive their use."""
    sh = hashed_shingle_sets(df, id_col, text_col, n).persist()
    cands = minhash_lsh_candidates_from_sets(sh, num_hashes, bands, max_bucket)
    out = (
        cands.join(
            sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sha")), "id_a"
        )
        .join(
            sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_shb")), "id_b"
        )
        .withColumn("jaccard_sim", jaccard(F.col("_sha"), F.col("_shb")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )
    if materialize:
        out = out.localCheckpoint(eager=True)
        sh.unpersist()
    return out


# -------------------------------------------------------------- simhash

def _md5_word_expr(hex_col: str, first_nibble: int) -> str:
    """SQL expr assembling a 64-bit word from 16 hex nibbles of an md5
    digest, parsed as two big-endian 8-char (32-bit) groups:
    word = u32(chars 1-8) | u32(chars 9-16) << 32. Two conv() calls per
    word (not 32 per-nibble ones — codegen size and per-row cost scale
    with term count), emitted as ONE F.expr string. The resulting
    bit layout is the PORTABILITY CONTRACT with the DuckDB oracle:
    nibble k (0-based) bit b sits at global bit
    (k//8)*32 + (7 - k%8)*4 + b."""
    lo = (
        f"CAST(conv(substr({hex_col}, {first_nibble + 1}, 8), 16, 10) AS BIGINT)"
    )
    hi = (
        f"CAST(conv(substr({hex_col}, {first_nibble + 9}, 8), 16, 10) AS BIGINT)"
    )
    return f"({lo} | shiftleft({hi}, 32))"


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 2,
) -> DataFrame:
    """(id, _sig_lo, _sig_hi): 128-bit SimHash as two longs — per bit,
    sign of Σ_shingles (±1); a shingle's 128 bits are its md5 digest
    (bits 0-63 from hex chars 1-16, 64-127 from chars 17-32, see
    _md5_word_expr). md5 has bit-identical implementations in every
    engine, so an external oracle such as DuckDB recomputes the
    signatures and the ENTIRE operator is exactly verifiable end-to-end.

    128 bits (not 64) is the scale requirement: the banding stage splits
    the signature into 4×32-bit chunks, giving 2³² bucket values per
    chunk — a 16-bit chunk saturates at 65k buckets and the candidate
    join grows O(N²/65k) with corpus size.

    The bit-count aggregation is SWAR-packed: each sum accumulates FOUR
    bit positions at once in 16-bit lanes ((h >> j) & 0x0001000100010001),
    so the groupBy carries 32 packed sums + 1 count instead of 128
    conditional sums — Catalyst analysis/codegen time for the aggregate
    drops ~4× (the naive form spent more wall time PLANNING than running
    at sf0.1). Lanes hold counts ≤ 32767 before the top lane would touch
    the sign bit, so shingle streams are truncated at 32767 per doc — a
    32k sample of a majority vote per bit is statistically indistinguishable
    from the full count for near-dup purposes (documented contract)."""
    _LANE_MASK = 0x0001000100010001
    _MAX_SHINGLES = 32767
    sh = word_shingles(text_col, ngram)
    ex = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.slice(sh, 1, F.least(F.size(sh), F.lit(_MAX_SHINGLES)))).alias(
            "_s"
        ),
    )
    ex = ex.withColumn("_m", F.md5("_s")).select(
        "_id",
        F.expr(_md5_word_expr("_m", 0)).alias("_h0"),
        F.expr(_md5_word_expr("_m", 16)).alias("_h1"),
    )
    # expressions built as SQL strings: ONE py4j/parse round trip each —
    # assembling a 128-term tree with Column operators costs ~1000 py4j
    # calls and dominated wall time (2.7 s of pure driver-side tree build)
    sums = ex.groupBy("_id").agg(
        F.count("*").alias("_n"),
        *[
            F.expr(f"sum(shiftright(_h{w}, {j}) & {_LANE_MASK}L) AS _s{w}_{j}")
            for w in (0, 1)
            for j in range(16)
        ],
    )

    def word(w: int) -> Column:
        # sig bit i = majority: 2·count(bit set) > n (same as Σ±1 > 0).
        # (A SWAR lane-compare — one biased add testing four lanes at
        # once — was prototyped and rejected: the top lane's compare bit
        # lands on bit 63, so the add overflows signed 64-bit and ANSI
        # mode throws; handling lane 3 separately costs as many ops as
        # the CASE form.)
        terms = []
        for i in range(64):
            j, lane = i % 16, i // 16
            cnt = f"(shiftright(_s{w}_{j}, {16 * lane}) & 65535)"
            terms.append(
                f"(CASE WHEN {cnt} * 2 > _n THEN shiftleft(1L, {i}) ELSE 0L END)"
            )
        return F.expr(" | ".join(terms))

    return sums.select("_id", word(0).alias("_sig_lo"), word(1).alias("_sig_hi"))


def hamming128(a_lo: Column, a_hi: Column, b_lo: Column, b_hi: Column) -> Column:
    return F.bit_count(a_lo.bitwiseXOR(b_lo)) + F.bit_count(a_hi.bitwiseXOR(b_hi))


def simhash_candidates(
    sigs: DataFrame,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Candidate pairs from (_id, _sig_lo, _sig_hi) 128-bit signatures:
    band on 4×32-bit chunks. PIGEONHOLE: a pair within hamming ≤ 3
    (= chunks−1) of 128 bits must agree on ≥1 whole chunk and lands in a
    shared bucket; recall above hamming 3 is probabilistic (the flipped
    bits must happen to spare one chunk). In an OVERSIZED bucket the cap
    sub-groups by the full signature: identical-signature members star
    to a group representative (those edges are hamming-0 and can never
    fail verification) and distinct signatures pair exhaustively up to
    ``max_bucket`` representatives — so hamming ≤ 3 CONNECTIVITY through
    the verified pair graph is guaranteed unless one band bucket holds
    more than ``max_bucket`` DISTINCT signatures (then representative
    stars are the documented residual approximation). 32-bit chunk
    values give 2³² buckets per band — expected occupancy O(N/2³²) at
    corpus scale. Signatures ride the band rows, so no join back is
    needed. Output: (id_a, id_b) + both signature pairs."""
    # chunk structs as ONE SQL string (r06 py4j-chatter cut); array order
    # [lo0, hi2, lo1, hi3] preserved from the previous interleaved loop
    chunk_exprs = []
    for i in range(2):
        chunk_exprs.append(
            f"struct({i} AS chunk,"
            f" shiftright(_sig_lo, {i * 32}) & 4294967295 AS cv)"
        )
        chunk_exprs.append(
            f"struct({2 + i} AS chunk,"
            f" shiftright(_sig_hi, {i * 32}) & 4294967295 AS cv)"
        )
    band_rows = sigs.select(
        "_id",
        "_sig_lo",
        "_sig_hi",
        F.expr(f"explode(array({', '.join(chunk_exprs)})) AS c"),
    ).select("_id", "_sig_lo", "_sig_hi", "c.chunk", "c.cv")
    return _banded_candidates(
        band_rows,
        ["chunk", "cv"],
        max_bucket,
        carry=["_sig_lo", "_sig_hi"],
        sig_cols=["_sig_lo", "_sig_hi"],
    )


def simhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    ngram: int = 2,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs by 128-bit SimHash: banded candidates
    (simhash_candidates — hamming ≤ 3 pairs are direct candidates via
    pigeonhole; in capped mega-buckets connectivity through the verified
    graph is guaranteed up to ``max_bucket`` distinct signatures per
    bucket, see simhash_candidates; probabilistic above hamming 3 —
    raise coverage with more/rotated chunk tables if a looser threshold
    is required) verified with exact hamming. At ``max_hamming ≤ 3`` the
    output is EXACTLY the set of hamming ≤ max_hamming pairs (pigeonhole
    recall is complete) — CONDITIONAL on no band bucket exceeding
    ``max_bucket`` distinct members: inside a capped mega-bucket,
    identical-signature members emit only star edges to one
    representative (N clones → N−1 pairs, not C(N,2)) and cross-
    signature pairs are rerouted through the representative, so the
    emitted pair set is a connectivity-preserving strict SUBSET. Pass
    ``max_bucket=None`` when pair-level exactness is required (the
    externally-oracled md5 registry query does). Output:
    (id_a, id_b, hamming)."""
    sigs = simhash_signatures(df, id_col, text_col, ngram)
    cands = simhash_candidates(sigs, max_bucket)
    return cands.select(
        "id_a",
        "id_b",
        hamming128(
            F.col("_sig_lo_a"),
            F.col("_sig_hi_a"),
            F.col("_sig_lo_b"),
            F.col("_sig_hi_b"),
        ).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def dedup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_iter: int = 20,
) -> DataFrame:
    """End-to-end near-dup clustering: MinHash+LSH pairs → connected
    components → canonical id per cluster (minimum id wins — W9 last-wins
    generalized to clusters). Output: (id, canonical_id) for EVERY input
    row; singletons map to themselves.

    This is the corpus-curation composite: at 100 TB the pair stage
    shuffles signatures only, the component stage shuffles (id, label)
    pairs only, and the final mapping joins back by id."""
    from combinedfeatureextraction_spark.operators.fixpoint import (
        connected_components,
    )

    pairs = minhash_lsh_dedup(
        df, id_col, text_col, n, num_hashes, bands, threshold,
        materialize=True,  # pairs are iterated over by CC: checkpoint them
        # once and release the cached shingle sets immediately
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    comp = connected_components(pairs, max_iter=max_iter).select(
        F.col("id").alias(id_col), F.col("component").alias("canonical_id")
    )
    return (
        df.select(id_col)
        .join(comp, id_col, "left")
        .withColumn("canonical_id", F.coalesce("canonical_id", F.col(id_col)))
    )


# ------------------------------------------------ embedding near-dup

def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    block_col: str | None = None,
    max_block: int | None = EXACT_TIER_MAX_BLOCK,
) -> DataFrame:
    """Cosine ≥ threshold pairs (id_a, id_b, cos_sim). Exact within a block;
    LSH-bucketed variant in operators.similarity for corpus scale. A block
    larger than ``max_block`` rows raises (see _blocked_pairs) rather
    than silently running an O(n²) join. NOTE: with ``max_block`` set
    (the default), construction is EAGER — the guard runs one Spark count
    job at call time, so this function is not a purely lazy plan builder;
    streaming inputs are rejected with a clear error."""
    if df.isStreaming:
        raise ValueError(
            "embedding_near_dup_pairs: streaming input unsupported (the "
            "exact quadratic tier needs a bounded batch block; use "
            "similarity.lsh_topk on batch slices)"
        )
    from combinedfeatureextraction_spark.functions.arrays import cosine

    # spread the quadratic pair work over the partition budget — a
    # single-file scan otherwise leaves the non-broadcast join side (and
    # thus ALL pair evaluation) on one task
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    v = df.select(
        F.col(id_col), F.col(vec_col), *([F.col(block_col)] if block_col else [])
    ).repartition(n_part)
    return _blocked_pairs(
        v, id_col, vec_col, block_col, max_block, cosine, "cos_sim",
        threshold, "embedding_near_dup_pairs",
        "similarity.lsh_topk / similarity.ivf_topk",
    )
