"""Deduplication operators (extension surface, SURVEY.md §2.3).

Five tiers, cheapest-first — the shape a 100 TB training-data pipeline
actually uses:

1. exact (md5 fingerprint groupBy) — one shuffle on a 16-byte key
2. n-gram Jaccard via inverted-index join — the *exact* pair scorer;
   shuffles on shingle (posting list), never crosses the full corpus
3. MinHash + LSH banding — candidate generation in O(N·perms) map-side
   work + one equi-join shuffle on (band, band_hash); candidates are
   then verified with exact Jaccard so precision is 1.0
4. SimHash 64-bit + pigeonhole blocking for Hamming ≤ r
5. embedding-cosine near-dup (see queries.py exact baseline and
   random-hyperplane LSH here)

Scale notes: nothing here ever materializes the O(N²) pair space;
candidate joins are equi-joins with AQE skew splitting. Hot shingles
(boilerplate) create skewed posting lists — ``max_posting_len`` drops
ubiquitous shingles the way production dedup pipelines drop stop-grams.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401  (pandas_udf type-hint resolution)
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nebuia_vector_db_spark.operators._cache import (
    cached_relation_registry,
)

from nebuia_vector_db_spark.functions.text import (
    fingerprint,
    shingles_from_tokens,
    with_tokens,
)

# Persisted anchor relations handed out by exact_substring_pairs. The
# persist is load-bearing (the winnowed extraction is the dominant
# cost and feeds both the broadcast hot-gram job and the self-join),
# but repeated calls in one session would otherwise accumulate
# executor storage with no release handle — the exact leak
# textvec.py's registry fixes for weight relations (ADVICE r9).
# bench.py's release step drops both registries between query batches.
_CACHED_RELATIONS, release_cached_relations = cached_relation_registry()


# --------------------------------------------------------------------- exact


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ids_only: bool = False,
) -> DataFrame:
    """Keep the lowest-id document per exact (normalized) fingerprint
    (ids assumed unique — the corpus contract).

    Round 9 (same skew class as the substring df-cap fix): winners
    come from ``groupBy(fp).min(id)`` — map-side partial min, so the
    winner shuffle carries one row per (task, fp) — and survivors are
    selected by a semi-join on the COMPOSITE (fp, id) key, which hash-
    partitions by both columns. A pathologically mass-duplicated
    content (one fingerprint on millions of rows — dedup's reason to
    exist) therefore never funnels into a single task. The previous
    ``row_number().over(partitionBy(fp))`` shipped AND sorted every
    duplicate of a hot fingerprint in one window task."""
    with_fp = df.withColumn("fp", fingerprint(text_col))
    keep = with_fp.groupBy("fp").agg(F.min(id_col).alias(id_col))
    if ids_only:
        # r15 (guide §2.3 project early): the winner relation already
        # IS the (id, fp) answer — callers that don't need the payload
        # columns skip the semi-join that would drag them through a
        # second shuffle just to be projected away
        return keep.select(id_col, "fp")
    return with_fp.join(keep, on=["fp", id_col], how="leftsemi")


# ----------------------------------------------------- exact n-gram Jaccard


def shingle_postings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """(id, shingle) posting list — the inverted index. Tokenizes once
    per document behind a projection barrier (see with_tokens)."""
    return with_tokens(df, text_col).select(
        F.col(id_col).alias("_id"),
        F.explode(shingles_from_tokens("_toks", n)).alias("shingle"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_posting_len: int | None = None,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over n-token shingle sets, via inverted-index
    self-join: |A∩B| = co-occurrence count of (a,b) in posting lists,
    |A∪B| = |A|+|B|−|A∩B|. Returns (doc_a, doc_b, jaccard) with
    jaccard ≥ threshold.

    The join key is the shingle → shuffle size = Σ posting_len², never
    N². ``max_posting_len`` prunes degenerate boilerplate shingles.
    ``postings`` lets callers pass a prebuilt (cached) posting relation
    so pipelines running several shingle-based dedup tiers tokenize the
    corpus once (queries.py::_shared_postings).
    """
    sh = postings if postings is not None else shingle_postings(df, text_col, id_col, n)
    if max_posting_len is not None:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("_plen"))
        sh = (
            sh.join(freq.where(F.col("_plen") <= max_posting_len), "shingle")
            .drop("_plen")
        )
    sizes = sh.groupBy("_id").agg(F.count("*").alias("n_sh"))
    # carry each doc's set size on its postings (broadcast: one long per
    # doc) so the size-compatibility filter can run BEFORE the count
    # shuffle: J(A,B) ≥ t ⇒ |A| ≥ t·|B| and |B| ≥ t·|A| — size-skewed
    # pairs are provably below threshold and never get counted.
    # Exactness is untouched; only guaranteed-negative pairs drop early.
    sh_sz = sh.join(F.broadcast(sizes), "_id")
    a = sh_sz.select(
        F.col("_id").alias("doc_a"), "shingle", F.col("n_sh").alias("na")
    )
    b = sh_sz.select(
        F.col("_id").alias("doc_b"), "shingle", F.col("n_sh").alias("nb")
    )
    inter = (
        a.join(b, "shingle")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("na") >= threshold * F.col("nb"))
            & (F.col("nb") >= threshold * F.col("na"))
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    ja = (
        inter.join(
            sizes.select(F.col("_id").alias("doc_a"), F.col("n_sh").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("_id").alias("doc_b"), F.col("n_sh").alias("nb")),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")),
        )
    )
    return ja.where(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "jaccard"
    )


# --------------------------------------------------------------- MinHash LSH

# Deterministic universal-hash permutations over Z_p, p = 2³¹−1:
# h_i(x) = (a_i·(x mod p) + b_i) mod p. The mod is essential — an
# affine map *without* it is monotonic, so every "permutation" would
# pick the same min shingle and the 128 signatures would collapse into
# one hash function. Operands stay < 2⁶² so the expressions are safe
# under Spark 4's default ANSI overflow checking. Seeds fixed so every
# run produces identical signatures.
_P31 = (1 << 31) - 1  # Mersenne prime


def _perm_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _P31), rng.randrange(0, _P31))
        for _ in range(num_perm)
    ]


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 128,
    postings: DataFrame | None = None,
    method: str = "arrow",
) -> DataFrame:
    """(id, sig array<long>) — explode shingles, hash once (JVM
    xxhash64), then num_perm ``min`` folds back to one row per doc.

    ``method='arrow'`` (default): the (rows × num_perm) affine-mod
    matrix and the per-doc partial minima are computed vectorized in
    one Arrow batch kernel — shingle hashes stay JVM-computed, so the
    signatures are bit-identical to the expression path; only the
    min-fold moves to NumPy. The final Spark aggregate then merges
    ~(docs × partitions) partial rows instead of every shingle row.
    (The pure-expression 128-min HashAggregate over all shingle rows —
    ``method='expr'`` — measured ~3s at sf0.1; the kernel ~0.5s. A
    128-buffer aggregate exceeds what whole-stage codegen will fuse.)
    """
    import numpy as np
    import pyarrow as pa
    from collections.abc import Iterator

    params = _perm_params(num_perm)
    h = F.xxhash64("shingle").bitwiseAND(F.lit(0xFFFFFFFF)) % _P31
    sh = postings if postings is not None else shingle_postings(df, text_col, id_col, n)
    sh_rows = sh.withColumn("h", h)
    if method == "expr":
        mins = sh_rows.groupBy("_id").agg(
            *[
                F.min((F.col("h") * F.lit(a) + F.lit(b)) % _P31).alias(f"_m{i}")
                for i, (a, b) in enumerate(params)
            ]
        )
        return mins.select(
            "_id", F.array(*[f"_m{i}" for i in range(num_perm)]).alias("sig")
        )

    a_vec = np.array([a for a, _ in params], dtype=np.int64)
    b_vec = np.array([b for _, b in params], dtype=np.int64)
    cols = [f"_m{i}" for i in range(num_perm)]
    out_schema = "_id long, " + ", ".join(f"{c} long" for c in cols)

    def _partial(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            ids = rb.column("_id").to_numpy(zero_copy_only=False)
            if len(ids) == 0:
                continue
            hh = rb.column("h").to_numpy(zero_copy_only=False)
            # h < 2³¹ and a < 2³¹ ⇒ h·a + b < 2⁶² — no int64 overflow
            m = (hh[:, None] * a_vec[None, :] + b_vec[None, :]) % _P31
            pdf = pd.DataFrame(m, columns=cols)
            pdf.insert(0, "_id", ids)
            part = pdf.groupby("_id", sort=False, as_index=False).min()
            yield pa.RecordBatch.from_pandas(part, preserve_index=False)

    partials = sh_rows.select("_id", "h").mapInArrow(_partial, schema=out_schema)
    mins = partials.groupBy("_id").agg(
        *[F.min(c).alias(c) for c in cols]
    )
    return mins.select("_id", F.array(*cols).alias("sig"))


def minhash_band_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    postings: DataFrame | None = None,
) -> DataFrame:
    """(_id, band_id, band_hash) — the LSH blocking relation: each
    doc's signature cut into ``bands`` bands of ``num_perm // bands``
    rows, each band folded to one xxhash64. Factored out of
    :func:`minhash_lsh_pairs` (round 12) so the incremental
    cross-snapshot tier (operators/incremental.py) can persist this
    exact relation as its index and band-join NEW commits against it
    — same permutations (seeded), same band fold, so incremental
    candidates are bit-identical to the full-corpus join's."""
    r = num_perm // bands
    sigs = minhash_signatures(
        df, text_col, id_col, n, num_perm, postings=postings
    )
    return sigs.select(
        "_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(*[F.col("sig")[i * r + j] for j in range(r)])
                    for i in range(bands)
                ]
            )
        ).alias("band_id", "band_hash"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    postings: DataFrame | None = None,
    band_rows: DataFrame | None = None,
    shingle_sets: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification.

    Banding: ``bands`` bands of ``num_perm // bands`` rows; two docs
    collide iff some band is identical. Collision probability at
    Jaccard j is 1−(1−j^r)^b — with 128/32×4 a j=0.9 pair is missed
    with p≈1e-30, so for well-separated corpora the output equals the
    exact ngram_jaccard_pairs result (precision exactly 1 because every
    candidate is re-verified with true Jaccard on the shingle sets).

    Scale: candidates come from one equi-join on (band_id, band_hash);
    signatures are map-side; verification joins only candidate pairs.

    Handle invariants (ADVICE r15): a memoized ``band_rows`` handle
    REPLACES the signature computation, so ``df``/``text_col``/``n``/
    ``num_perm``/``bands``/``postings`` are ignored for candidate
    generation — the caller must have built the handle with the same
    shingle/band parameters it would pass here, or the pairs are
    silently wrong. Likewise ``shingle_sets`` replaces the verify-side
    set aggregation (``postings`` ignored when it is passed). The
    memo tier (queries.py::_shared_minhash_bands/_shared_shingle_sets)
    keys on (session, sf_dir) and always builds with this function's
    defaults, which every registry caller also uses.
    """
    # registered so long-lived sessions can release it (same contract
    # as the tf-idf weight relations — ADVICE r2: caches on query
    # paths must have an unpersist handle).
    # r15: callers serving a repeated query stream should pass a
    # memoized ``band_rows`` HANDLE (queries.py::_shared_minhash_bands)
    # — a fresh per-call ``.cache()`` never substitutes across calls
    # because MapInArrow plans canonicalize by Python-function
    # byte-array REFERENCE, so every call re-ran the signature kernel
    # and wrote a duplicate cache (measured: 2.05 s/run vs 0.62 s with
    # reused handles at sf0.1).
    from nebuia_vector_db_spark.operators.textvec import _CACHED_RELATIONS

    if band_rows is None:
        band_rows = minhash_band_rows(
            df, text_col, id_col, n, num_perm, bands, postings=postings
        ).cache()
        _CACHED_RELATIONS.append(band_rows)
    cand = (
        band_rows.alias("x")
        .join(
            band_rows.alias("y"),
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x._id") < F.col("y._id")),
        )
        .select(
            F.col("x._id").alias("doc_a"), F.col("y._id").alias("doc_b")
        )
        .distinct()
    )
    if shingle_sets is None and postings is not None:
        # reuse the (cached) posting relation instead of re-tokenizing
        # the corpus: postings rows are already DISTINCT (id, shingle)
        # (shingles_from_tokens array_distincts), so collect_set
        # rebuilds exactly the shingle set the verify needs — one
        # aggregation over a cached relation vs a second full scan +
        # tokenize pass.
        # r15: cache the aggregated sets too — the verify joins this
        # relation TWICE (doc_a and doc_b sides), and without the
        # cache the plan ran the full ObjectHashAggregate + exchange
        # once per side, per run (guide §2.4: duplicated subtrees).
        # Registered for release like every query-path cache; repeat
        # callers pass a memoized handle (see the band_rows note).
        shingle_sets = postings.groupBy("_id").agg(
            F.collect_set("shingle").alias("_shingles")
        ).cache()
        _CACHED_RELATIONS.append(shingle_sets)
    elif shingle_sets is None:
        shingle_sets = with_tokens(df, text_col).select(
            F.col(id_col).alias("_id"),
            shingles_from_tokens("_toks", n).alias("_shingles"),
        )
    verified = (
        cand.join(
            shingle_sets.select(
                F.col("_id").alias("doc_a"), F.col("_shingles").alias("sha")
            ),
            "doc_a",
        )
        .join(
            shingle_sets.select(
                F.col("_id").alias("doc_b"), F.col("_shingles").alias("shb")
            ),
            "doc_b",
        )
        .withColumn("inter", F.size(F.array_intersect("sha", "shb")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.size("sha") + F.size("shb") - F.col("inter")),
        )
    )
    return verified.where(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "jaccard"
    )


# ------------------------------------------------------------------ SimHash


def simhash64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash over unigram token hashes: bit i of the output is
    the majority vote of bit i across hash(token).

    ``hash_fn='xxhash64'`` (default) uses the JVM-native 64-bit hash —
    fastest. ``hash_fn='md5'`` derives the 64 bits from the first 16
    hex digits of md5(token): ~2× more expression work, but md5 exists
    in every engine, so the WHOLE simhash computation is reproducible
    in ANSI SQL — that variant is what the oracle-checked registry
    query runs (queries.py ORACLE_DEDUP_SIMHASH).

    Formulated as explode → 64 conditional SUMs in one hash aggregate:
    every per-bit counter is a codegen'd partial aggregate (map-side
    combine), so the shuffle carries 65 longs per document. (The
    expression-only alternative — 64 higher-order filter() lambdas over
    a token-hash array — runs interpreted, measured ~20× slower.)"""
    toks = F.array_distinct(
        F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    )
    exploded = df.select(
        F.col(id_col).alias("_id"), F.explode(toks).alias("_t")
    )
    if hash_fn == "md5":
        # bit i = bit (3 - i%4) of hex digit i//4 of md5(token) — pure
        # string/integer ops, identical in Spark and DuckDB
        hx = F.md5("_t")
        digits = [
            F.conv(F.substring(hx, j + 1, 1), 16, 10).cast("int")
            for j in range(16)
        ]
        bits = [
            F.shiftright(digits[i // 4], 3 - i % 4).bitwiseAND(F.lit(1))
            for i in range(64)
        ]
        hrows = exploded.select(
            "_id", *[b.alias(f"_bit{i}") for i, b in enumerate(bits)]
        )
        bit_of = [F.col(f"_bit{i}") for i in range(64)]
    else:
        hrows = exploded.select("_id", F.xxhash64("_t").alias("h"))
        bit_of = [
            F.shiftright("h", i).bitwiseAND(F.lit(1)) for i in range(64)
        ]
    g = hrows.groupBy("_id").agg(
        F.count("*").alias("_n"),
        *[F.sum(bit_of[i]).alias(f"_b{i}") for i in range(64)],
    )
    sim = None
    for i in range(64):
        bit = (F.col(f"_b{i}") * 2 > F.col("_n")).cast("long")
        term = bit * F.lit(1 << i) if i < 63 else bit * F.lit(-(1 << 63))
        sim = term if sim is None else sim + term
    return g.select("_id", sim.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.

    Pigeonhole blocking: split 64 bits into ``max_hamming+1`` blocks —
    any pair within the radius must agree on ≥1 whole block, so
    candidates come from equi-joins on (block_id, block_value), never a
    cross join. Exact Hamming via bit_count(xor) verification — the
    blocking is lossless (a pair with ≤ max_hamming differing bits
    cannot differ in every block), so the output is EXACTLY the set of
    pairs within the radius, whatever the blocking.
    """
    nblocks = max_hamming + 1
    width = 64 // nblocks
    sh = simhash64(df, text_col, id_col, hash_fn=hash_fn)
    blocks = sh.select(
        "_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for i in range(nblocks)
                ]
            )
        ).alias("block_id", "block_val"),
    )
    cand = (
        blocks.alias("x")
        .join(
            blocks.alias("y"),
            (F.col("x.block_id") == F.col("y.block_id"))
            & (F.col("x.block_val") == F.col("y.block_val"))
            & (F.col("x._id") < F.col("y._id")),
        )
        .select(
            F.col("x._id").alias("doc_a"),
            F.col("y._id").alias("doc_b"),
            F.col("x.simhash").alias("ha"),
            F.col("y.simhash").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ------------------------------------------ embedding near-dup (exact GEMM)


def exact_cosine_pairs(
    df: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_broadcast_rows: int = 1_000_000,
    block_rows: int = 250_000,
    n_rows: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold, GEMM-style, with two
    physical strategies picked by corpus size:

    - ``N ≤ max_broadcast_rows``: one side broadcast as a dense (N, d)
      matrix; each Arrow batch of the scanned side does a single
      (b, d)·(d, N) BLAS product (:func:`_cosine_pairs_broadcast`).
      Fastest when the matrix fits executor memory.
    - larger: fully distributed block-pair GEMM
      (:func:`_cosine_pairs_blocked`) — rows are hashed into blocks of
      ≤ ``block_rows``, every block pair (bi ≤ bj) becomes one task via
      a broadcast grid join, and the same BLAS kernel runs per pair.
      NO driver materialization anywhere on the path; shuffle volume is
      N·(B+1) rows for B blocks, the textbook all-pairs trade.

    Both paths run the same two-phase kernel (r16): a dense float32
    screening GEMM over pre-normalized rows finds candidate cells
    (threshold − ``max(_SCREEN_MARGIN, 8·d·2⁻²⁴)``, a ≥8× safety
    factor over the worst-case f32 error at any d — no true pair can
    be missed), then every candidate is recomputed EXACTLY as
    float64 ``dot(raw)/(na·nb)`` (the SQL/oracle formula) and
    re-tested against the true threshold. Emitted cosines are
    therefore float64 row-pair dots — identical accumulation order on
    both paths, so blocked ≡
    broadcast to within a ULP (a pair whose cosine sits within one
    ULP of ``threshold`` could in principle appear in one path only,
    as before). Both chunk the screen so no task materializes more
    than ``_MAX_SCORE_CELLS`` (128 MB f32) regardless of
    block/broadcast sizes.
    """
    # r15: ``n_rows`` lets callers that already know the corpus size
    # (parquet footer row counts, snapshot manifests) skip the eager
    # count job this strategy pick otherwise launches per call
    n = df.count() if n_rows is None else n_rows
    if n > max_broadcast_rows:
        return _cosine_pairs_blocked(
            df, threshold, vec_col, id_col, block_rows=block_rows, n_rows=n
        )
    return _cosine_pairs_broadcast(df, threshold, vec_col, id_col)


# Per-GEMM score-matrix budget: 32M cells (128 MB in the f32
# screening buffer). Both cosine kernels chunk their left operand so
# no task ever materializes more than this, whatever the
# block/broadcast sizes are — the r3 bench (b9, 240k rows in 40k
# blocks) OOM-killed the JVM without it.
_MAX_SCORE_CELLS = 32_000_000
# r16 screening margin (guide §2.3 "shuffle fewer bytes" applied to
# MEMORY traffic): the dense O(N²) pass runs in float32 on
# pre-normalized rows — 8 B/cell of RAM traffic (GEMM write + compare
# read) instead of the f64 dot/den/divide pipeline's 48 B/cell — and
# only cells with cos32 ≥ threshold − margin are recomputed EXACTLY
# as float64 dot(raw)/(na·nb) (the SQL/oracle formula) and re-tested
# against the true threshold. For unit-normalized f32 inputs the
# worst-case |cos32 − cos64| is about (d+2)·2⁻²⁴ (≈ 4e-6 at d = 64,
# ≈ 2e-3 at d = 32k), so the margin is max(_SCREEN_MARGIN, 8·d·2⁻²⁴):
# a ≥8× safety factor at any d, and 1e-3 up to d ≈ 2,097. No true
# pair can be screened out, and false candidates are removed by the
# exact re-test. Final cosines come from one f64 row-pair einsum —
# the same accumulation for both kernels, so blocked ≡ broadcast
# outputs stay within the pinned 1e-12
# (test_dedup.py::_assert_pairs_ulp_equal).
# Measured (tools/exp_b9_kernel.py, 40k×40k blocks, 21 concurrent
# tasks): 40.9 s → 20.6 s wall with the f32 screen + 1 BLAS thread.
_SCREEN_MARGIN = 1e-3
# Exact-recompute slice: candidates are gathered and re-scored at most
# this many f64 cells (8 MB) per operand at a time, so a duplicate-
# dense chunk, where every screened cell is a candidate, holds one
# slice of gathered rows instead of all of them (candidates x d x 16 B).
_RECOMPUTE_CELLS = 1 << 20


def _screened_pairs(
    cos32,
    l_mat,
    l_norms,
    r_mat,
    r_norms,
    l_off: int,
    threshold: float,
):
    """Candidates of one screening chunk → exact f64 cosines.

    Returns (ii, jj, cos64) with ii relative to the full left block
    (``l_off`` = chunk start), already filtered by the TRUE threshold.
    """
    import numpy as np

    margin = max(_SCREEN_MARGIN, 8 * l_mat.shape[1] * 2.0**-24)
    ii, jj = np.nonzero(cos32 >= np.float32(threshold - margin))
    if len(ii) == 0:
        return ii, jj, np.empty(0)
    ii = ii + l_off
    # exact recompute, same formula as the SQL/oracle path:
    # dot(raw) / (na*nb), one bounded slice of candidates at a time
    # (each row's dot is the same whatever the slice)
    step = max(1, _RECOMPUTE_CELLS // max(1, l_mat.shape[1]))
    cos = np.empty(len(ii))
    for s in range(0, len(ii), step):
        a, b = ii[s : s + step], jj[s : s + step]
        cos[s : s + step] = np.einsum("ij,ij->i", l_mat[a], r_mat[b]) / (
            l_norms[a] * r_norms[b]
        )
    ok = cos >= threshold
    return ii[ok], jj[ok], cos[ok]


def _cosine_pairs_broadcast(
    df: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Broadcast-side GEMM: collect the (N, d) matrix once, broadcast,
    and stream the other side through BLAS in Arrow batches. Callers go
    through :func:`exact_cosine_pairs`, which caps N before choosing
    this path (600k × 64 f64 ≈ 300 MB — fine; 100M vectors — blocked
    path instead)."""
    from collections.abc import Iterator

    import numpy as np
    import pyarrow as pa

    # r16 (guide §4/§5): fetch the broadcast matrix over Arrow instead
    # of row-object collect() — toArrow() skips the per-row pickle and
    # Row construction entirely, and the list column decodes in one
    # zero-copy reshape (same bytes, same float64 math; ~25% off the
    # per-call setup at 20k×64).
    from nebuia_vector_db_spark.functions.vector import arrow_list_to_matrix

    tbl = df.select(id_col, vec_col).toArrow()
    all_ids = tbl.column(id_col).to_numpy(zero_copy_only=False).astype(
        np.int64, copy=False
    )
    all_mat = arrow_list_to_matrix(tbl.column(vec_col).combine_chunks()).astype(
        np.float64, copy=False
    )
    all_norms = np.sqrt(np.einsum("ij,ij->i", all_mat, all_mat))
    # the f32 screening operand (normalized rows, transposed) is
    # computed ONCE here and shipped in the broadcast (+50% bytes)
    # instead of being rebuilt per task; zero-norm rows become
    # non-finite and never pass the screen — same exclusion the f64
    # divide produced (0/0 → NaN)
    with np.errstate(divide="ignore", invalid="ignore"):
        all_n32_t = np.ascontiguousarray(
            (all_mat / all_norms[:, None]).astype(np.float32).T
        )
    bc = df.sparkSession.sparkContext.broadcast(
        (all_ids, all_mat, all_norms, all_n32_t)
    )

    def _pairs(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from nebuia_vector_db_spark.functions.vector import (
            arrow_list_to_matrix,
            limit_blas_threads,
        )

        ids_all, mat_all, norms_all, n32_t_all = bc.value
        # bound the (rows, N) screening matrix to 32M cells (128 MB
        # f32) per GEMM — an Arrow batch (10k rows) against a 1M-row
        # broadcast side would otherwise materialize 40 GB per task
        n_all = len(ids_all)
        step = max(1, _MAX_SCORE_CELLS // max(1, n_all))
        buf = None
        for rb in batches:
            bids_full = rb.column(id_col).to_numpy(zero_copy_only=False)
            bmat_full = arrow_list_to_matrix(rb.column(vec_col)).astype(
                np.float64, copy=False
            )
            if bmat_full.shape[0] == 0:
                continue
            bnorms_full = np.sqrt(
                np.einsum("ij,ij->i", bmat_full, bmat_full)
            )
            with np.errstate(divide="ignore", invalid="ignore"):
                b32_full = (bmat_full / bnorms_full[:, None]).astype(
                    np.float32
                )
            rows = min(step, bmat_full.shape[0])
            if buf is None or buf.shape[0] < rows:
                # reused across chunks and batches; regrown only if a
                # later batch is taller than the first
                buf = np.empty((rows, n_all), dtype=np.float32)
            for s in range(0, bmat_full.shape[0], step):
                m = len(bids_full[s : s + step])
                # one GEMM task per core already
                with limit_blas_threads(1):
                    cos32 = np.matmul(
                        b32_full[s : s + m], n32_t_all, out=buf[:m]
                    )
                    ii, jj, cos = _screened_pairs(
                        cos32, bmat_full, bnorms_full, mat_all, norms_all,
                        s, threshold,
                    )
                # sparse-first: threshold matches are rare, so filter
                # ids on the match set, never a dense id-compare mask
                keep = bids_full[ii] < ids_all[jj]
                ii, jj, cos = ii[keep], jj[keep], cos[keep]
                if len(ii) == 0:
                    continue
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(bids_full[ii]),
                        pa.array(ids_all[jj]),
                        pa.array(cos),
                    ],
                    names=["vec_a", "vec_b", "cosine"],
                )

    return df.mapInArrow(
        _pairs, schema="vec_a long, vec_b long, cosine double"
    )


def _cosine_pairs_blocked(
    df: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_rows: int = 250_000,
    n_rows: int | None = None,
) -> DataFrame:
    """Distributed block-pair GEMM: no driver collect, no broadcast of
    data — only a tiny (bi, bj) grid is broadcast.

    Rows hash into B = ceil(N / block_rows) blocks. A grid of the
    B·(B+1)/2 unordered block pairs is broadcast-joined against the
    corpus twice (once per side), shuffled on (bi, bj), and each group
    runs the same float64 BLAS kernel as the broadcast path on its two
    blocks (one block for the diagonal). Every unordered id pair lands
    in exactly one group — (block(a), block(b)) sorted — so no
    dedup/distinct pass is needed.
    """
    import math

    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    if n_rows is None:
        n_rows = df.count()
    n_blocks = max(1, math.ceil(n_rows / block_rows))

    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("_blk"),
    )
    grid = spark.createDataFrame(
        [(bi, bj) for bi in range(n_blocks) for bj in range(bi, n_blocks)],
        "bi int, bj int",
    )
    left = base.join(F.broadcast(grid), base["_blk"] == grid["bi"]).select(
        "bi", "bj", F.lit(0).alias("_side"), "_id", "_v"
    )
    right = (
        base.join(
            F.broadcast(grid),
            (base["_blk"] == grid["bj"]) & (grid["bi"] != grid["bj"]),
        )
        .select("bi", "bj", F.lit(1).alias("_side"), "_id", "_v")
    )
    both = left.unionByName(right)

    def _gemm(pdf: "pd.DataFrame") -> "pd.DataFrame":
        from nebuia_vector_db_spark.functions.vector import (
            limit_blas_threads,
        )

        lmask = pdf["_side"].to_numpy() == 0
        l_ids = pdf["_id"].to_numpy()[lmask]
        l_mat = np.array(list(pdf["_v"][lmask]), dtype=np.float64)
        if lmask.all():  # diagonal block: pair within itself
            r_ids, r_mat = l_ids, l_mat
        else:
            rmask = ~lmask
            r_ids = pdf["_id"].to_numpy()[rmask]
            r_mat = np.array(list(pdf["_v"][rmask]), dtype=np.float64)
        if len(l_ids) == 0 or len(r_ids) == 0:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
            )
        l_norms = np.sqrt(np.einsum("ij,ij->i", l_mat, l_mat))
        r_norms = np.sqrt(np.einsum("ij,ij->i", r_mat, r_mat))
        diagonal = lmask.all()
        # chunk the left operand: a full |bi|x|bj| screening matrix at
        # the default 250k block size would be 250 GB — cap per-GEMM
        # cells (32M f32 = 128 MB, buffer reused across chunks). The
        # dense pass is the f32 screen; only screened candidates are
        # recomputed exactly (see _SCREEN_MARGIN).
        n_r = len(r_ids)
        step = max(1, _MAX_SCORE_CELLS // max(1, n_r))
        with np.errstate(divide="ignore", invalid="ignore"):
            l32 = (l_mat / l_norms[:, None]).astype(np.float32)
            if diagonal:
                r32_t = np.ascontiguousarray(l32.T)
            else:
                r32_t = np.ascontiguousarray(
                    ((r_mat / r_norms[:, None]).astype(np.float32)).T
                )
        buf = np.empty((min(step, len(l_ids)), n_r), dtype=np.float32)
        out_a, out_b, out_c = [], [], []
        for s in range(0, len(l_ids), step):
            m = len(l_ids[s : s + step])
            # one block-pair task per core already
            with limit_blas_threads(1):
                cos32 = np.matmul(l32[s : s + m], r32_t, out=buf[:m])
                ii, jj, cos = _screened_pairs(
                    cos32, l_mat, l_norms, r_mat, r_norms, s, threshold
                )
            lo = l_ids[ii] < r_ids[jj]
            out_a.append(l_ids[ii[lo]])
            out_b.append(r_ids[jj[lo]])
            out_c.append(cos[lo])
            if not diagonal:
                # cross-block pairs where the right id is smaller still
                # belong to this group (block order ≠ id order) —
                # emit them id-sorted
                hi = l_ids[ii] > r_ids[jj]
                out_a.append(r_ids[jj[hi]])
                out_b.append(l_ids[ii[hi]])
                out_c.append(cos[hi])
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a) if out_a else np.array([], dtype=np.int64),
                "vec_b": np.concatenate(out_b) if out_b else np.array([], dtype=np.int64),
                "cosine": np.concatenate(out_c) if out_c else np.array([], dtype=np.float64),
            }
        )

    return both.groupBy("bi", "bj").applyInPandas(
        _gemm, schema="vec_a long, vec_b long, cosine double"
    )


# --------------------------------------------- embedding near-dup (RP-LSH)


def rp_sketch_udf(n_planes: int, n_tables: int, dim: int, seed: int):
    """Arrow-batched random-hyperplane sign-sketch kernel (factored
    round 12 so the incremental embedding tier shares the exact
    arithmetic): array<long> of ``n_tables`` sketches per vector, all
    T·n_planes hyperplane dots in ONE GEMM per batch — the expression
    alternative (T·n_planes interpreted aggregate() HOFs) was
    measured ~50s at 500×96×6; this is <1s. Draw order matches the
    historical per-table loop so seeds keep producing the same
    planes."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    rng = np.random.default_rng(seed)
    planes_all = np.concatenate(
        [rng.normal(size=(n_planes, dim)) for _ in range(n_tables)], axis=0
    )
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    n_t, n_p = n_tables, n_planes

    @pandas_udf("array<long>")
    def _sketches(vs: pd.Series) -> pd.Series:
        m = np.array(list(vs), dtype=np.float64)
        if len(m) == 0:
            return pd.Series([], dtype=object)
        bits = (m @ planes_all.T) > 0  # (b, T·P)
        sk = (bits.reshape(len(m), n_t, n_p) * weights).sum(axis=2)
        return pd.Series(list(sk))

    return _sketches


def rp_sketch_rows(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 6,
    n_tables: int = 16,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """(_id, table_id, sketch) — the RP-LSH blocking relation alone
    (no vectors carried): what the incremental embedding index
    persists; same kernel, so incremental candidates are bit-identical
    to :func:`embedding_neardup_lsh`'s."""
    _sketches = rp_sketch_udf(n_planes, n_tables, dim, seed)
    return df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(_sketches(F.col(vec_col))).alias(
            "table_id", "sketch"
        ),
    )


def embedding_neardup_lsh(
    df: DataFrame,
    threshold: float = 0.85,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int | None = None,
    n_tables: int = 16,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Cosine near-dup via random-hyperplane LSH: ``n_tables``
    independent sign sketches of ``n_planes`` bits; candidates share a
    full sketch in ≥1 table; verified with exact cosine (precision 1).

    Collision prob per table at angle θ is p^n_planes, p = 1−θ/π — so
    the sketch length trades recall against candidate volume and must
    shrink as the threshold drops. Default sizes n_planes so a true
    pair AT the threshold collides with ≥~50% probability across the
    tables: high thresholds (0.85+) get 14-16 bits (tiny candidate
    sets), moderate ones (0.4-0.6) get 6-8 bits (more candidates —
    the price of low-threshold LSH; the exact GEMM baseline
    exact_cosine_pairs is the alternative when N allows)."""
    import math
    import numpy as np

    if n_planes is None:
        p = 1.0 - math.acos(min(1.0, max(-1.0, threshold))) / math.pi
        # per-table collision ≈ 1/(2·n_tables) at the threshold angle →
        # overall recall ≈ 1 − (1−1/(2T))^T ≈ 0.4-0.5 at the boundary,
        # rapidly → 1 above it
        n_planes = max(4, int(math.log(1.0 / (2 * n_tables)) / math.log(p)))

    from nebuia_vector_db_spark.functions.vector import dot, l2_norm

    _sketches = rp_sketch_udf(n_planes, n_tables, dim, seed)

    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        l2_norm(vec_col).alias("_n"),
        F.posexplode(_sketches(F.col(vec_col))).alias("table_id", "sketch"),
    )
    cand = (
        base.alias("x")
        .join(
            base.alias("y"),
            (F.col("x.table_id") == F.col("y.table_id"))
            & (F.col("x.sketch") == F.col("y.sketch"))
            & (F.col("x._id") < F.col("y._id")),
        )
        .select(
            F.col("x._id").alias("vec_a"),
            F.col("y._id").alias("vec_b"),
            F.col("x._v").alias("va"),
            F.col("y._v").alias("vb"),
            F.col("x._n").alias("na"),
            F.col("y._n").alias("nb"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "cosine", dot("va", F.col("vb")) / (F.col("na") * F.col("nb"))
        )
        .where(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def _winnow_segments(
    docs: DataFrame,
    k: int,
    text_col: str,
    id_col: str,
    segment_chars: int,
    w: int,
) -> DataFrame:
    """Shared bounded segmented extraction for the WINNOWED substring
    family: one row per segment carrying (doc_id, ss, g_arr, h_arr) —
    the segment's local k-gram array and its md5 array, computed once.

    Round 7 (VERDICT r6 task #6): the keep-rule is now TRUE POSITIONAL
    WINNOWING (Schleimer et al. 2003, the fingerprinting scheme Lee et
    al. 2022 build on), replacing round 4-6's 1/16 md5-content
    sampling: for every window of ``w`` consecutive k-grams, keep the
    gram with the lexicographically smallest md5 (leftmost on ties).
    GUARANTEE (vs the old (15/16)^(L-k+1) miss probability): any
    verbatim shared span of length >= w + k - 1 contains a full gram
    window; both copies see identical window hash content, select the
    identical gram, and the postings join finds the pair — recall 1.0,
    deterministic, no RNG. Docs with fewer than ``w`` grams keep the
    single global-min gram, so every doc of length >= k has >= 1
    anchor. Expected density ~ 2/(w+1) distinct positions (w = 32
    matches the old 1/16 budget).

    Segmentation (round-6 bounded-transient shape, window-aware):
    each segment spans ``segment_chars`` chars and is responsible for
    the windows STARTING at its first ``step`` gram positions, where
    step = segment_chars - k - w + 2 — a window starting at the last
    responsible position needs grams through start + w - 1, i.e.
    chars through start + w + k - 2, which the segment contains by
    construction. Coverage: consecutive segments' responsible ranges
    tile 1..n_windows contiguously (same arithmetic as the round-6
    coverage proof, with the overlap widened from k-1 to w+k-2), so
    segmented selection is IDENTICAL to one-shot selection
    (hypothesis-pinned in tests/test_dedup.py)."""
    if segment_chars <= k + w - 2:
        raise ValueError(
            f"segment_chars ({segment_chars}) must exceed k + winnow_w"
            f" - 2 ({k} + {w} - 2): the segment step is segment_chars"
            " - k - winnow_w + 2 and must be >= 1"
        )
    step = segment_chars - k - w + 2
    segs = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.expr(
                f"CASE WHEN length({text_col}) >= {k} THEN "
                f"transform(sequence(1, length({text_col}) - {k} + 1,"
                f" {step}), s -> named_struct("
                f"'ss', s, 'seg', substring({text_col}, s,"
                f" {segment_chars}))) ELSE array() END"
            )
        ).alias("sp"),
    )
    return segs.select(
        "doc_id",
        F.col("sp.ss").alias("ss"),
        F.expr(
            f"transform(sequence(1, length(sp.seg) - {k} + 1),"
            f" i -> substring(sp.seg, i, {k}))"
        ).alias("g_arr"),
    ).withColumn("h_arr", F.expr("transform(g_arr, g -> md5(g))"))


def _winnow_select_expr(step: int, w: int, payload: str) -> str:
    """SQL expression selecting the winnowed local gram indices of a
    segment row (columns ss/g_arr/h_arr from :func:`_winnow_segments`)
    and mapping each through ``payload`` (an expression over the
    1-based local index ``j``). Per segment: the first ``step``
    windows (fewer in the tail — exactly the doc's remaining global
    windows, see the coverage arithmetic in _winnow_segments); a
    first-segment doc with < w grams gets the single clamped window.
    Selection = leftmost argmin of md5 within the window; duplicate
    selections collapse via array_distinct on the index array.

    Cost (measured, sf0.1, local[32]): the O(n*w) window scan is
    ~3.3x the old 1/16 sampling filter (7.3s vs 2.2s for 1.33M
    grams) — the price of the deterministic recall guarantee. Two
    cheaper-looking formulations measured SLOWER on Spark 4's
    interpreted HOFs (aggregate()-based single-pass argmin: 8.6s;
    16-hex hash prefixes: 7.7s), so the slice/array_min form stands;
    the scan is map-side, shuffle-free, and embarrassingly parallel,
    so at cluster scale it is a linear constant, not a bottleneck."""
    clamp = f"(ss = 1 AND size(g_arr) < {w})"
    cnt = (
        f"CASE WHEN {clamp} THEN 1"
        f" ELSE least({step}, size(g_arr) - {w} + 1) END"
    )
    width = f"CASE WHEN {clamp} THEN size(g_arr) ELSE {w} END"
    j_expr = (
        f"array_position(slice(h_arr, i, {width}),"
        f" array_min(slice(h_arr, i, {width}))) + i - 1"
    )
    return (
        f"CASE WHEN ({cnt}) >= 1 THEN "
        f"transform(array_distinct(transform(sequence(1, {cnt}),"
        f" i -> {j_expr})), j -> {payload}) ELSE"
        f" array() END"
    )


def _substring_anchors(
    docs: DataFrame,
    k: int,
    text_col: str,
    id_col: str,
    segment_chars: int,
    winnow_w: int = 32,
) -> DataFrame:
    """Distinct ``(doc_id, gram)`` WINNOWED anchor postings for the
    substring-dedup family — see :func:`_winnow_segments` for the
    selection rule, guarantee, and segmentation proof."""
    step = segment_chars - k - winnow_w + 2
    sel = _winnow_select_expr(step, winnow_w, "element_at(g_arr, CAST(j AS INT))")
    return (
        _winnow_segments(docs, k, text_col, id_col, segment_chars, winnow_w)
        .select("doc_id", F.explode(F.expr(sel)).alias("gram"))
        .distinct()
    )


def exact_substring_pairs(
    docs: DataFrame,
    k: int = 32,
    min_shared: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    segment_chars: int = 4096,
    max_anchor_df: int = 1024,
    winnow_w: int = 32,
) -> DataFrame:
    """Span-level EXACT-substring dedup (round 4): find document
    pairs sharing verbatim character spans of length ``k`` — the
    "exact substring deduplication" of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better", §3.1), which doc-level
    MinHash misses when only a paragraph is copied.

    Spark-first shape, never all-pairs: every doc emits its k-grams
    through bounded overlapping segments (see :func:`_winnow_segments`
    — round-6 fix for the per-row ~32× transient blowup), TRUE
    POSITIONAL WINNOWING keeps the min-md5 gram of every window of
    ``winnow_w`` consecutive grams (round 7 — deterministic,
    engine-pure, no RNG), and an inverted-index self-join on the
    anchor STRING (collision-free by construction) yields candidate
    pairs with their shared-anchor counts.

    Round 6 (VERDICT r5 task #2) — ANCHOR DF-CAP: anchors whose
    posting list exceeds ``max_anchor_df`` documents are dropped
    before the self-join (the same guard ``text_boilerplate`` applies
    to its postings). Without it, one boilerplate k-gram shared by
    10⁵ docs makes the join quadratic on that key (10¹⁰ pairs); with
    it, any single gram contributes at most cap·(cap−1)/2 pairs, so
    join output is linearly bounded by anchor volume. A gram that
    common is boilerplate, not a copied span — dropping it loses no
    dedup signal (pairs that share ONLY boilerplate shouldn't match).

    RECALL GUARANTEE (round 7, VERDICT r6 task #6 — supersedes the
    round 4-6 (15/16)^(L−k+1) sampling bound): winnowing guarantees a
    shared anchor for every verbatim span of length ≥ winnow_w + k − 1
    (one full gram window fits inside — identical window content ⇒
    identical selection in both copies), and ≥ ``min_shared`` distinct
    anchors for spans ≥ min_shared·winnow_w + k − 1 (a selected
    position serves at most winnow_w consecutive windows). Defaults
    (k = 32, w = 32): spans ≥ 63 chars always pair at min_shared = 1,
    ≥ 95 chars at min_shared = 2 — at the SAME expected anchor budget
    as the old 1/16 sample (density ~ 2/(w+1)). The per-position cost
    is O(w) window scanning, all JVM-side HOFs.

    At 100 TB: anchors ≈ n_chars/16 rows into one equi-join shuffle —
    the same posting-list scaling as the MinHash/SimHash tiers, with
    exactness doc-level sketches can't give. All expressions are
    codegen'd higher-order functions; the DuckDB oracle replays gram
    extraction, sampling, df-cap and join (registry row
    `dedup_substring`)."""
    anchors = _substring_anchors(
        docs, k, text_col, id_col, segment_chars, winnow_w
    )
    # df-cap via partial-aggregated groupBy + broadcast anti-join
    # (round 9, VERDICT r8 "what's wrong" #2). The round-7 shape —
    # count().over(Window.partitionBy(gram)) — shuffled EVERY posting
    # of a gram into one window task *before* the cap filter could
    # drop it: exactly the boilerplate-gram skew max_anchor_df exists
    # to guard against (a gram shared by 10⁶ docs = 10⁶ rows into one
    # task at 100×). groupBy gets a map-side partial aggregate, so
    # the df shuffle carries at most one row per (task, gram); only
    # the tiny over-cap gram set (boilerplate by definition) survives
    # the filter and is BROADCAST, so hot postings are dropped
    # map-side and never cross the wire at all. The self-join below
    # remains the single full exchange of (kept) anchors by gram —
    # and every gram reaching it has ≤ max_anchor_df postings, so no
    # join task can be skewed. The winnowed extraction (the dominant
    # cost — O(n·w) md5+min HOF work over every char) is PERSISTED so
    # it runs exactly once: the broadcast side is necessarily a
    # separate job (hot grams must reach the driver before the main
    # join executes), and that job populates the cache the join-side
    # evaluation then reads. MEMORY_AND_DISK: anchors ≈ n_chars/16
    # rows — spills rather than recomputes on big corpora.
    from pyspark import StorageLevel

    anchors = anchors.persist(StorageLevel.MEMORY_AND_DISK)
    _CACHED_RELATIONS.append(anchors)
    hot_grams = (
        anchors.groupBy("gram")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > max_anchor_df)
        .select("gram")
    )
    kept = anchors.join(F.broadcast(hot_grams), "gram", "left_anti")
    a = kept.alias("a")
    b = kept.alias("b")
    return (
        a.join(b, on="gram")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def drop_shared_spans(
    docs: DataFrame,
    k: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    segment_chars: int = 4096,
    winnow_w: int = 32,
) -> DataFrame:
    """Actionable span-level dedup (round 6, VERDICT r5 task #6):
    EXCISE duplicated spans from the corpus — the removal pass of Lee
    et al. 2022 §4.2 that :func:`exact_substring_pairs` only
    diagnoses. Keep-first policy: for every sampled k-gram anchor the
    lowest ``doc_id`` holding it is the OWNER and keeps all its
    occurrences; every occurrence in a higher doc_id is removed (the
    k chars it covers are cut, overlapping cuts merged).

    Returns ``(doc_id, n_chars_before, n_spans_removed, text_clean)``
    for EVERY input document (untouched docs pass through verbatim).

    Spark-first shape, all linear:
    1. WINNOWED anchor occurrences WITH positions via the same bounded
       segmented extraction as the pair finder (round 7: per-window
       min-md5 selection, see :func:`_winnow_segments`; text itself is
       NOT carried through the explode — positions join back to the
       corpus at the end; cross-segment duplicate selections collapse
       via distinct());
    2. ``groupBy(gram).min(doc_id)`` elects owners — one shuffle;
    3. occurrences ⋈ owners on gram: each occurrence row meets
       exactly one owner row, so join output is LINEAR in anchor
       volume even for a gram shared by 10⁵ docs (no self-join, no
       df-cap needed — contrast exact_substring_pairs);
    4. per-doc cut lists fold into the cleaned text with ONE
       ``aggregate`` HOF over the sorted span starts — each output
       char is copied once, overlap handled by carrying the previous
       cut's end through the accumulator (`greatest`).

    Recall guarantee (round 7): anchors are winnowed, so every
    duplicated span of length ≥ winnow_w + k − 1 is anchored in BOTH
    copies and the copy's anchored grams are cut — see
    exact_substring_pairs for the guarantee arithmetic; spans that are
    anchored are cut exactly (the full k chars of each anchored
    occurrence). The DuckDB oracle replays winnowed selection plus the
    naive per-char spec (a char survives iff no removed span covers
    it), so the differential check also proves the fold correct."""
    step = segment_chars - k - winnow_w + 2
    sel = _winnow_select_expr(
        step, winnow_w,
        "named_struct('pos', CAST(ss + j - 1 AS INT),"
        " 'gram', element_at(g_arr, CAST(j AS INT)))",
    )
    occ = (
        _winnow_segments(docs, k, text_col, id_col, segment_chars, winnow_w)
        .select("doc_id", F.explode(F.expr(sel)).alias("o"))
        .select(
            "doc_id",
            F.col("o.pos").alias("pos"),
            F.col("o.gram").alias("gram"),
        )
        .distinct()
    )
    owners = occ.groupBy("gram").agg(F.min("doc_id").alias("owner"))
    cuts = (
        occ.join(owners, "gram")
        .where(F.col("doc_id") > F.col("owner"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans_removed"),
            F.sort_array(F.collect_list("pos")).alias("starts"),
        )
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text")
    )
    # fold the sorted cut starts into the kept text: accumulator is
    # (prev = furthest char already consumed, acc = output so far);
    # each cut appends the gap before it and advances prev past its
    # end — overlapping/adjacent cuts collapse via greatest()
    clean = (
        f"aggregate(coalesce(starts, array()),"
        f" named_struct('prev', 0, 'acc', ''),"
        f" (st, s) -> named_struct("
        f"'prev', greatest(st.prev, s + {k} - 1),"
        f" 'acc', concat(st.acc, substring(_text, st.prev + 1,"
        f" greatest(0, s - st.prev - 1)))),"
        f" st -> concat(st.acc, substring(_text, st.prev + 1,"
        f" length(_text) - st.prev)))"
    )
    return base.join(cuts, "doc_id", "left").select(
        "doc_id",
        F.length("_text").alias("n_chars_before"),
        F.coalesce(F.col("n_spans_removed"), F.lit(0)).cast("int").alias(
            "n_spans_removed"
        ),
        F.expr(clean).alias("text_clean"),
    )
