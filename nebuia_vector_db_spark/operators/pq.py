"""Product quantization (PQ) for memory-bounded ANN at corpus scale.

The reference brute-forces raw float vectors (main.go:197-237); IVF
(operators/ann.py) bounds the *scan*, PQ bounds the *bytes*: each
d-dim vector becomes ``m`` one-byte codewords (64-dim float32 → 8
bytes, 32× smaller), and queries score candidates with an asymmetric
distance table (ADC) — one (m × k) table of query-to-codeword dots,
then a per-row table-lookup sum. Composition with IVF (prune cells,
then ADC within probed cells, then exact re-rank of the short list)
is the standard 100 TB ANN stack (Jégou et al., TPAMI 2011).

Spark mapping:
- **train**: driver-side vectorized Lloyd's k-means per subspace on a
  bounded sample (≤ ``sample`` rows collected — training is the one
  legitimately driver-sized step; 100k × 64 f64 ≈ 51 MB).
- **encode**: one encoder, :func:`_encode_batch` (residual, then OPQ
  rotation, then the per-subspace argmin of :func:`_encode_np`), run
  per Arrow batch by ``encode_pq`` and by the fused search scan.
  Map-side only, no shuffle.
- **search**: one shortlist, :func:`_adc_shortlist`, serves the
  single and the batch search: the tiny (m, k, B) table stack ships in
  the kernel closure, and one ADC function, :func:`_adc`
  (``Σ_s table[s][codes[:, s]]``, summed in subspace order), plus the
  cell term scores each Arrow batch inside the one Arrow top-k kernel
  of batch kNN, ``topk._arrow_topk``, which keeps each batch's best
  rows per query (rows grouped by cell and scored only against the
  queries that probed it); then a global TakeOrderedAndProject
  (``PQIndex.search``) or row_number window (``pq_search_batch``).
  The corpus read is codes only — raw vectors are touched ONLY for
  the exact re-rank of the ≤ ``rerank`` survivors (a semi-join by id).

Scoring matches the engine's similarity semantics — ``dot(q/‖q‖, x)``
with the stored vector raw (SURVEY §1.5-1) — approximated by the sum
of subspace dots against reconstructed codewords.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nebuia_vector_db_spark.functions.vector import (
    arrow_list_to_matrix,
    normalize_query,
)
from nebuia_vector_db_spark.operators.ann import (
    _cell_queries,
    _load_matrix,
    _save_matrix,
    _SavedCells,
    _write_cells,
    assign_to_cells,
)
from nebuia_vector_db_spark.operators.topk import (
    _arrow_topk,
    _query_matrix,
    topk_per_group,
)
from nebuia_vector_db_spark.sources.snapshot import local_path


def _kmeans_np(
    x: np.ndarray, k: int, iters: int, seed: int
) -> np.ndarray:
    """Vectorized Lloyd's k-means (driver-side, deterministic).

    k-means++-lite init: distinct random rows. Empty clusters are
    re-seeded from the farthest points so all k codewords stay live.
    """
    rng = np.random.default_rng(seed)
    x = np.ascontiguousarray(x, dtype=np.float32)
    n, d = x.shape
    k_eff = min(k, n)
    centers = x[rng.choice(n, size=k_eff, replace=False)].copy()
    x2 = np.einsum("ij,ij->i", x, x)  # hoisted; constant across iters
    prev = None
    # r15: one preallocated (n, k) score buffer reused across
    # iterations (np.matmul(out=) — bit-identical arithmetic, just no
    # fresh 2 MB allocation per iteration; the allocation was ~40% of
    # the measured per-iteration wall at n=2000, k=256)
    scores = np.empty((n, k_eff), dtype=np.float32)
    for _ in range(iters):
        # argmin ||x−c||² ≡ argmin (||c||² − 2x·c): one (n,k) buffer,
        # mutated in place — the ||x||² broadcast would only shift
        # every row by a constant
        np.matmul(x, centers.T, out=scores)
        scores *= -2.0
        scores += np.einsum("ij,ij->i", centers, centers)[None, :]
        assign = scores.argmin(axis=1)
        counts = np.bincount(assign, minlength=k_eff)
        sums = np.empty((k_eff, d), dtype=np.float64)
        for j in range(d):
            sums[:, j] = np.bincount(
                assign, weights=x[:, j], minlength=k_eff
            )
        live = counts > 0
        centers[live] = (
            sums[live] / counts[live, None]
        ).astype(np.float32)
        if not live.all():  # re-seed empties from the farthest points
            far = np.argsort(scores.min(axis=1) + x2)[-int((~live).sum()):]
            centers[~live] = x[far]
        if prev is not None and np.array_equal(assign, prev):
            break
        prev = assign
    if k_eff < k:  # degenerate tiny input: pad with copies
        centers = np.vstack([centers, centers[: k - k_eff]])
    return centers.astype(np.float64)


class PQIndex:
    """Trained codebooks + the encoded corpus (id[, cell], codes).

    With ``cell_centroids`` set this is IVF-PQ: codes quantize the
    RESIDUAL x − centroid(cell(x)). Flat PQ has no within-cluster
    resolution on clustered corpora (every member of a tight cluster
    maps to the same codewords → identical ADC scores, recall ≈ 0 —
    measured); residual encoding is what gives PQ its resolution where
    the data actually lives, and the score decomposes exactly:
    ``dot(q_n, x) ≈ dot(q_n, centroid) + Σ_s table[s, code_s]``."""

    def __init__(
        self,
        codes: DataFrame,
        codebooks: np.ndarray,  # (m, k, dsub) float64
        vec_col: str,
        id_col: str,
        cell_centroids: np.ndarray | None = None,  # (n_cells, d)
        cell_col: str = "ivf_cell",
        rotation: np.ndarray | None = None,  # (d, d) orthogonal (OPQ)
        encode_src: DataFrame | None = None,
    ):
        self.codes = codes
        self.codebooks = codebooks
        self.vec_col = vec_col
        self.id_col = id_col
        self.cell_centroids = cell_centroids
        self.cell_col = cell_col
        self.rotation = rotation
        # the projected raw-vector source when this index was built by
        # encode_pq in THIS plan (vs loaded/stored codes) — lets
        # search() fuse encode + ADC into ONE Arrow crossing (r16)
        self._encode_src = encode_src

    @property
    def m(self) -> int:
        return int(self.codebooks.shape[0])

    @property
    def k(self) -> int:
        return int(self.codebooks.shape[1])

    def search(
        self,
        corpus: DataFrame,
        qvec: Sequence[float],
        topk: int,
        rerank: int = 0,
        tie_cols: Sequence[str] = (),
        nprobe: int | None = None,
    ) -> DataFrame:
        """ADC top-k over the codes; with ``rerank > 0`` the top
        ``rerank`` ADC candidates are re-scored EXACTLY against the raw
        vectors (semi-join on id) and the final top-k is exact within
        that candidate set — the memory-bounded near-exact path.

        On an IVF-PQ index, ``nprobe`` additionally restricts the ADC
        scan to the best cells (the one cell selector of
        operators/ann.py, ties to the lower cell id) — the composed
        prune-then-score stack.

        ``tie_cols`` order ADC ties and must be columns of the codes
        relation (``id_col``, and ``cell_col`` on an IVF-PQ index);
        any other column is a ``ValueError`` before any Spark job.

        One Arrow crossing (guide §4): :func:`_adc_shortlist`, the
        shortlist of ``pq_search_batch`` for a batch of one query,
        keeps each Arrow batch's ``max(topk, rerank)`` best rows, and
        the global cut is a TakeOrderedAndProject. Scores are
        bit-identical whether the codes are stored or encoded on the
        fly: same encoder, same ADC sum."""
        has_cell = self.cell_centroids is not None
        avail = {self.id_col, self.cell_col} if has_cell else {self.id_col}
        if not set(tie_cols) <= avail:
            raise ValueError(
                f"tie columns {sorted(set(tie_cols) - avail)} are not in "
                f"the codes relation (allowed: {sorted(avail)})"
            )
        cut = max(topk, rerank)
        qn = normalize_query(qvec)
        scored = _adc_shortlist(
            self, np.array([0]), np.asarray(qn, dtype=np.float64)[None],
            cut, nprobe, tie_cols, "_query",
        )
        short = scored.orderBy(
            F.desc("adc_score"), *[F.col(c) for c in tie_cols]
        ).limit(cut)
        if not rerank:
            return short.select(self.id_col, "adc_score")
        from nebuia_vector_db_spark.functions.vector import dot

        cand = corpus.join(
            F.broadcast(short.select(self.id_col)), self.id_col, "left_semi"
        )
        exact = cand.withColumn(
            "similarity", dot(F.col(self.vec_col), qn)
        )
        return (
            exact.orderBy(
                F.desc("similarity"), *[F.col(c) for c in tie_cols]
            )
            .limit(topk)
            .select(self.id_col, "similarity")
        )


def _adc_shortlist(
    index: PQIndex,
    qids: np.ndarray,
    qmat: np.ndarray,
    cut: int,
    nprobe: int | None,
    tie_cols: Sequence[str],
    query_id_col: str,
) -> DataFrame:
    """The ADC shortlist of both PQ searches: (id[, cell],
    ``query_id_col``, adc_score) rows, each Arrow batch's ≤ ``cut``
    best rows per query of the (B, d) normalized queries ``qmat`` in
    the D-2 order (ties by ``tie_cols``), from ``topk._arrow_topk``
    with :func:`_adc_scorer`.

    Driver side: one (m, k, B) stack of ADC tables (an einsum over the
    codebooks — ~0.5 MB at B=16/m=16/k=256, closure-shipped) plus, on
    an IVF-PQ index, the (C, B) cell dots and, with ``nprobe``, the
    cell → query-index map of ``ann._cell_queries``, whose keys bound
    the scan and whose groups keep each cell's rows to the queries
    that probed it. The source is the stored codes, or the raw vectors
    encoded per batch (:func:`_encode_batch`) when the index was built
    by encode_pq in this plan AND the codes were not persisted by the
    caller (a cached/stored codes relation is the cheaper scan)."""
    b, m, dsub = len(qids), index.m, index.codebooks.shape[2]
    qmat = qmat.reshape(b, m * dsub)  # an empty query batch is (0, 0)
    # OPQ: the codes quantize y = rR (the rotated residual) and
    # dot(q, r) = dot(qR, rR) since R is orthogonal, so the queries are
    # rotated here, once; the cell term stays in raw space (it scores
    # against raw-space centroids)
    qrot = qmat @ index.rotation if index.rotation is not None else qmat
    tables = np.einsum(
        "skd,bsd->bsk", index.codebooks, qrot.reshape(b, m, dsub)
    ).transpose(1, 2, 0)  # (m, k, B)

    stored = (
        index._encode_src is None
        or index.codes.storageLevel.useMemory
        or index.codes.storageLevel.useDisk
    )
    src = index.codes if stored else index._encode_src
    vec_col = "codes" if stored else index.vec_col
    cell_col, books = index.cell_col, index.codebooks
    centroids, rotation = index.cell_centroids, index.rotation
    keep = [index.id_col]
    cell_dots = cell_queries = None
    if centroids is not None:
        keep.append(cell_col)
        cell_dots = centroids @ qmat.T  # (C, B)
        if nprobe is not None:
            cell_queries = _cell_queries(cell_dots, nprobe)
            src = src.where(F.col(cell_col).isin(list(cell_queries)))

    def scorer(rb):
        cells = None
        if cell_dots is not None:
            cells = np.asarray(rb.column(cell_col)).astype(np.int64)
        codes = arrow_list_to_matrix(rb.column(vec_col))
        if not stored:
            codes = _encode_batch(codes, cells, books, centroids, rotation)
        return _adc_scorer(
            codes.astype(np.int64, copy=False), tables, cells, cell_dots
        )

    return _arrow_topk(
        src.select(*keep, vec_col), qids, cut, scorer, [vec_col],
        "adc_score", query_id_col, tie_cols=tie_cols, cell_col=cell_col,
        cell_queries=cell_queries,
    )


def _adc(codes: np.ndarray, tables: np.ndarray) -> np.ndarray:
    """The one ADC sum, ``Σ_s tables[s][codes[:, s]]`` over the (n, m)
    codes in subspace order: an (m, k) table gives (n,) scores, an
    (m, k, B) stack (n, B)."""
    out = np.zeros(codes.shape[:1] + tables.shape[2:])
    for s in range(tables.shape[0]):
        out += tables[s][codes[:, s]]
    return out


def _adc_scorer(codes, tables, cells, cell_dots):
    """The scorer :func:`_adc_shortlist` hands to ``topk._score_batch``:
    :func:`_adc` of the (n, m) ``codes`` against the (m, k, B) table
    stack, plus, on an IVF-PQ index, each row's cell term from the
    (C, B) ``cell_dots``."""

    def score_for(qs):
        t = tables[:, :, qs]
        ct = None if cell_dots is None else cell_dots[:, qs]

        def score(blk):
            s = _adc(codes[blk], t)
            if ct is not None:
                s += ct[cells[blk]]
            return s, 0.0, None  # approximate by design: no re-score

        return score

    return score_for


def pq_search_batch(
    index: PQIndex,
    corpus: DataFrame,
    queries_df: DataFrame,
    topk: int,
    rerank: int = 0,
    nprobe: int | None = None,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    tie_cols: Sequence[str] = (),
) -> DataFrame:
    """Batch IVF-PQ search: ONE pass over the codes serves a whole
    query batch (the PQ tier's twin of ``IVFIndex.search_batch``).

    The shortlist is :func:`_adc_shortlist`, the one ``PQIndex.search``
    runs for a single query (same tables, same probed cells, and one
    Arrow crossing on an unpersisted encode_pq index): each Arrow
    batch keeps ≤ max(topk, rerank) rows per query in the D-2 order,
    ties at the cut to the lower ``id_col``, and the global cut is the
    bounded row_number window.

    With ``rerank > 0`` the per-query shortlists are re-scored
    EXACTLY: one inner join of the (query_id, id) shortlist against
    the raw corpus + a broadcast join of the normalized query vectors
    — only shortlist×1 rows are ever re-scored. ``rerank >= |corpus|``
    with full probe degrades to the exact batch kNN (test-pinned)."""
    from nebuia_vector_db_spark.functions.vector import (
        dot,
        l2_normalize,
    )

    qids, qmat = _query_matrix(queries_df, query_id_col, query_vec_col)
    id_col = index.id_col
    cut = max(topk, rerank)
    scored = _adc_shortlist(
        index, qids, qmat, cut, nprobe, [id_col], query_id_col
    )
    shortlisted = topk_per_group(
        scored,
        [query_id_col],
        "adc_score",
        cut,
        tie_cols=[id_col],
    )
    if not rerank:  # cut == topk: the shortlist IS the answer
        return shortlisted.select(query_id_col, id_col, "adc_score", "rk")
    qnorm = queries_df.select(
        query_id_col, l2_normalize(F.col(query_vec_col)).alias("_qn")
    )
    cand = corpus.join(
        F.broadcast(shortlisted.select(query_id_col, id_col)),
        id_col,
        "inner",
    ).join(F.broadcast(qnorm), query_id_col)
    exact = cand.withColumn(
        "similarity", dot(F.col(index.vec_col), F.col("_qn"))
    )
    return topk_per_group(
        exact, [query_id_col], "similarity", topk, tie_cols=tie_cols
    ).select(query_id_col, id_col, "similarity", "rk")


def train_pq(
    df: DataFrame,
    m: int = 8,
    k: int = 256,
    sample: int = 100_000,
    iters: int = 15,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_centroids: np.ndarray | None = None,
    cell_col: str = "ivf_cell",
    sample_matrix: np.ndarray | None = None,
) -> np.ndarray:
    """(m, k, dsub) codebooks from a bounded driver-side sample.

    With ``cell_centroids`` (IVF-PQ), codebooks are trained on the
    RESIDUALS x − centroid(cell(x)) — ``df`` must carry ``cell_col``
    (e.g. ``build_ivf_index(...).assigned``).

    The sample ships to the driver over Arrow (``toPandas``, not row
    ``collect`` — ~2× on a 100k sample), and the ``m`` independent
    per-subspace k-means run in a thread pool: the kernels are NumPy
    matmul/argmin which release the GIL, so training scales with
    driver cores while results stay bit-identical (each subspace
    keeps its own ``seed + s``).

    ``sample_matrix`` pins the training sample to a caller-supplied
    (n, d) matrix instead of a distributed ``limit(sample)`` draw
    (whose row set is not guaranteed stable across runs) — required
    when the trained codebooks must be bit-reproducible, e.g. the
    bench recall probes (VERDICT r3 #2). Cell assignment for the
    residual step is then computed driver-side against
    ``cell_centroids`` with the same squared-distance argmin the
    distributed kernel uses."""
    x = _training_residuals(
        df, sample, vec_col, cell_col, cell_centroids, sample_matrix
    )
    return _fit_books(x, m, k, iters, seed)


def _training_residuals(
    df, sample, vec_col, cell_col, cell_centroids, sample_matrix
) -> np.ndarray:
    """The bounded (n, d) training matrix — raw vectors or IVF
    residuals — shared by train_pq and train_opq."""
    if sample_matrix is not None:
        x = np.ascontiguousarray(sample_matrix, dtype=np.float64)[:sample]
        if cell_centroids is not None:
            c = np.ascontiguousarray(cell_centroids, dtype=np.float64)
            scores = x @ c.T * -2.0 + np.einsum("ij,ij->i", c, c)[None, :]
            x = x - c[np.argmin(scores, axis=1)]
        return x
    if cell_centroids is not None:
        pdf = df.select(vec_col, cell_col).limit(sample).toPandas()
        x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        cells = pdf[cell_col].to_numpy().astype(np.int64)
        return x - cell_centroids[cells]
    pdf = df.select(vec_col).limit(sample).toPandas()
    return np.stack(pdf[vec_col].to_numpy()).astype(np.float64)


def _fit_books(
    x: np.ndarray, m: int, k: int, iters: int, seed: int
) -> np.ndarray:
    """Per-subspace k-means in a thread pool (GIL-free NumPy kernels);
    deterministic per (input, seed) — each subspace keeps seed + s."""
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(m, os.cpu_count() or 1)) as ex:
        books = list(
            ex.map(
                lambda s: _kmeans_np(
                    x[:, s * dsub : (s + 1) * dsub], k, iters, seed + s
                ),
                range(m),
            )
        )
    return np.stack(books)


def _encode_np(y: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, m) codes of the (n, d) matrix ``y``: per subspace, argmin
    ||y_s − c||² ≡ argmin (||c||² − 2 y_s·c) over the codewords. The
    one subspace argmin — OPQ training calls it directly, the Arrow
    kernels through :func:`_encode_batch`."""
    m, _, dsub = books.shape
    c_norm2 = np.einsum("skd,skd->sk", books, books)
    codes = np.empty((y.shape[0], m), dtype=np.int64)
    for s in range(m):
        xs = y[:, s * dsub : (s + 1) * dsub]
        codes[:, s] = (c_norm2[s][None, :] - 2.0 * (xs @ books[s].T)).argmin(
            axis=1
        )
    return codes


def _encode_batch(
    mat: np.ndarray,
    cells: np.ndarray | None,
    codebooks: np.ndarray,
    cell_centroids: np.ndarray | None,
    rotation: np.ndarray | None,
) -> np.ndarray:
    """(n, m) codes of raw vectors: the residual against each row's
    cell centroid (IVF-PQ), then the OPQ rotation, then
    :func:`_encode_np` — the encoder of ``encode_pq`` and of the fused
    search scan."""
    mat = mat.astype(np.float64, copy=False)
    if cell_centroids is not None:
        mat = mat - cell_centroids[cells]
    if rotation is not None:
        mat = mat @ rotation
    return _encode_np(mat, codebooks)


def _reconstruct_np(codes: np.ndarray, books: np.ndarray) -> np.ndarray:
    m = books.shape[0]
    return np.concatenate(
        [books[s][codes[:, s]] for s in range(m)], axis=1
    )


def _eigen_allocation_rotation(x: np.ndarray, m: int) -> np.ndarray:
    """Parametric OPQ init (Ge et al., CVPR 2013 §4, 'OPQ-P' under a
    Gaussian assumption): R = PCA rotation with its eigenvectors
    PERMUTED so each of the m subspaces receives an (almost) equal
    product of eigenvalues — the allocation that minimizes the
    rate-distortion bound when each subspace gets the same code
    budget. Greedy balancing: walk eigenvalues in descending order,
    assign each to the not-yet-full subspace with the smallest
    running log-eigenvalue sum. Deterministic (no RNG)."""
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    xc = x - x.mean(axis=0, keepdims=True)
    cov = (xc.T @ xc) / max(1, xc.shape[0] - 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1]
    evals, evecs = evals[order], evecs[:, order]
    log_e = np.log(np.maximum(evals, 1e-12))
    # Balanced-partition greedy (LPT): every bucket ends with exactly
    # dsub items, so the balance objective is invariant to a uniform
    # shift of the logs — shift them non-negative first. (Without the
    # shift, all-negative logs make the min-sum bucket monotonically
    # MORE minimal as it receives items, so it hoards the whole top of
    # the spectrum — the worst possible allocation.)
    shifted = log_e - log_e.min()
    buckets: list[list[int]] = [[] for _ in range(m)]
    sums = np.zeros(m)
    # eigenvalues are already sorted descending, so descending shifted
    # log IS index order — iterate directly (an argsort here would
    # reorder ties nondeterministically across numpy versions)
    for i in range(d):
        open_b = [j for j in range(m) if len(buckets[j]) < dsub]
        j = min(open_b, key=lambda b: sums[b])
        buckets[j].append(i)
        sums[j] += shifted[i]
    perm = [i for b in buckets for i in b]
    return np.ascontiguousarray(evecs[:, perm])


def train_opq(
    df: DataFrame,
    m: int = 8,
    k: int = 256,
    sample: int = 100_000,
    iters: int = 15,
    opq_iters: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_centroids: np.ndarray | None = None,
    cell_col: str = "ivf_cell",
    sample_matrix: np.ndarray | None = None,
    init: str = "eigen",
) -> tuple[np.ndarray, np.ndarray]:
    """OPQ (Ge et al., CVPR 2013, non-parametric variant): learn an
    orthogonal rotation R so the PRODUCT structure of the codebooks
    fits the data — plain PQ quantizes each dsub-dim slice
    independently, so correlated/variance-skewed dimensions waste code
    budget; rotating first decorrelates and balances the subspaces.
    Round 6 (VERDICT r5 task #7): lifts codes-only (ADC) recall at the
    SAME bytes/vector — at 100 TB the codes-only path is what scans.

    Alternating minimization on the same bounded driver-side sample
    train_pq uses (deterministic per seed):
      1. fix R → train per-subspace codebooks on Y = X·R;
      2. fix codebooks → encode Y, reconstruct Ŷ, and solve the
         orthogonal Procrustes problem min_R ‖X·R − Ŷ‖_F via one SVD
         of XᵀŶ (R = U·Vᵀ).
    Query side: dot(q, x̂) = dot(q·R, ŷ) since R is orthogonal — the
    rotation is applied to the QUERY once per search, never to the
    scan (:func:`_adc_shortlist`).

    ``init`` seeds the alternating minimization: ``"eigen"``
    (default) or ``"identity"`` (the original non-parametric start).
    ``"eigen"`` is
    Ge et al. §4's PARAMETRIC init: eigendecompose the sample
    covariance and allocate eigenvectors to the m subspaces balancing
    the per-subspace PRODUCT of eigenvalues (greedy on log-eigenvalue
    sums), so no subspace hoards variance. On strong-eigendecay data
    (real transformer embeddings) identity init can converge to a
    local optimum that misallocates code budget; the eigen init
    starts decorrelated-and-balanced, which both speeds convergence
    and lifts final ADC recall (round 7, VERDICT r6 task #3).

    Returns ``(rotation, codebooks)`` — feed both to
    :func:`encode_pq`."""
    x = _training_residuals(
        df, sample, vec_col, cell_col, cell_centroids, sample_matrix
    )
    d = x.shape[1]
    if init == "eigen":
        rot = _eigen_allocation_rotation(x, m)
    elif init == "identity":
        rot = np.eye(d, dtype=np.float64)
    else:
        raise ValueError(f"unknown OPQ init {init!r}")
    books = None
    for _ in range(max(1, opq_iters)):
        y = x @ rot
        books = _fit_books(y, m, k, iters, seed)
        y_hat = _reconstruct_np(_encode_np(y, books), books)
        u, _, vt = np.linalg.svd(x.T @ y_hat, full_matrices=False)
        rot = u @ vt
    # final codebook fit against the converged rotation
    books = _fit_books(x @ rot, m, k, iters, seed)
    return rot, books


def encode_pq(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_centroids: np.ndarray | None = None,
    cell_col: str = "ivf_cell",
    rotation: np.ndarray | None = None,
) -> PQIndex:
    """Map-side Arrow encoding: per batch, :func:`_encode_batch` (one
    GEMM + argmin per subspace); output is (id[, cell], codes
    array<long>) — at rest this is the 32× compressed representation
    (raw vectors are only needed for re-rank). With ``cell_centroids``
    the codes quantize residuals (IVF-PQ); with an OPQ ``rotation``
    the (residual) vectors are rotated before the subspace split (one
    extra (b,d)·(d,d) GEMM per batch — still map-side, no shuffle)."""
    from collections.abc import Iterator

    import pyarrow as pa

    m = codebooks.shape[0]
    residual = cell_centroids is not None
    keep = [id_col, cell_col] if residual else [id_col]

    def _encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if rb.num_rows == 0:
                continue
            cells = None
            if residual:
                cells = np.asarray(rb.column(cell_col)).astype(np.int64)
            codes = _encode_batch(
                arrow_list_to_matrix(rb.column(vec_col)),
                cells, codebooks, cell_centroids, rotation,
            )
            offsets = np.arange(0, codes.size + 1, m, dtype=np.int32)
            arrays = [rb.column(c) for c in keep]
            arrays.append(pa.ListArray.from_arrays(offsets, codes.ravel()))
            yield pa.RecordBatch.from_arrays(arrays, names=keep + ["codes"])

    src = df.select(*keep, vec_col)
    schema = ", ".join(
        [f"{id_col} long"]
        + ([f"{cell_col} int"] if residual else [])
        + ["codes array<long>"]
    )
    codes_df = src.mapInArrow(_encode, schema=schema)
    return PQIndex(
        codes_df, codebooks, vec_col, id_col,
        cell_centroids=cell_centroids, cell_col=cell_col,
        rotation=rotation, encode_src=src,
    )


def save_pq_index(index: PQIndex, path: str) -> None:
    """Persist the compressed corpus: ``codes/`` partitioned by IVF
    cell when present, one parquet file per cell (``ann._write_cells``;
    ADC probing then prunes partitions, same as save_ivf_index), plus ``codebooks.npy`` and, when the index has
    them, ``centroids.npy`` (cell centroids) and ``rotation.npy``
    (OPQ), written driver-side like the IVF centroid file (no Spark
    job); a stale optional file from an earlier save at ``path`` is
    removed. The raw-vector table is NOT copied — at rest the index is
    the 16-32× smaller representation; re-rank reads the original
    corpus by id. ``path`` is local (``snapshot.local_path``)."""
    path = local_path(path)
    if index.cell_centroids is not None:
        _write_cells(index.codes, path, "overwrite", "codes", index.cell_col)
    else:
        index.codes.write.mode("overwrite").parquet(os.path.join(path, "codes"))
    _save_matrix(os.path.join(path, "codebooks.npy"), index.codebooks)
    for name, mat in (
        ("centroids", index.cell_centroids),
        ("rotation", index.rotation),
    ):
        file = os.path.join(path, f"{name}.npy")
        if mat is not None:
            _save_matrix(file, mat)
        elif os.path.exists(file):
            os.remove(file)


def append_to_pq_index(
    spark,
    path: str,
    new_df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "ivf_cell",
) -> "PQIndex":
    """Incremental PQ maintenance — the compressed-tier twin of
    ann.append_to_ivf_index: new vectors are routed to the EXISTING
    cell centroids (broadcast-GEMM argmin), encoded with the EXISTING
    codebooks (map-side Arrow), and their codes appended to the saved
    partitions, at most one new file per cell touched. A full re-encode of the grown corpus with
    the same codebooks/centroids yields identical codes (test-pinned).

    Codebooks are frozen like centroids: under drift, quantization
    error creeps up — monitor mean ADC-vs-exact gap on a sampled
    query set and retrain (a fresh train_pq + staged swap) when it
    degrades. Never retrain in place: old codes are meaningless under
    new codebooks.
    """
    path = local_path(path)
    idx = load_pq_index(spark, path, vec_col, id_col, cell_col)
    src = new_df
    if idx.cell_centroids is not None and cell_col not in new_df.columns:
        src = assign_to_cells(new_df, idx.cell_centroids, vec_col)
        # assign_to_cells names the column ivf_cell; align if custom
        if cell_col != "ivf_cell":
            src = src.withColumnRenamed("ivf_cell", cell_col)
    new_codes = encode_pq(
        src, idx.codebooks, vec_col, id_col,
        cell_centroids=idx.cell_centroids, cell_col=cell_col,
        rotation=idx.rotation,
    ).codes
    if idx.cell_centroids is not None:
        _write_cells(new_codes, path, "append", "codes", cell_col)
    else:
        new_codes.write.mode("append").parquet(os.path.join(path, "codes"))
    return load_pq_index(spark, path, vec_col, id_col, cell_col)


def load_pq_index(
    spark,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "ivf_cell",
) -> PQIndex:
    """Reload: lazy (partition-prunable) codes scan + driver-side
    codebooks, and the cell centroids and rotation when their files
    exist (flat and plain-PQ indexes have none). The codes scan is
    ``ann._SavedCells``'s, the IVF index's reader: IVF-PQ codes carry
    their saved schema, so an index of an empty corpus loads too; plain
    PQ codes have none and Spark infers it. A damaged file raises."""
    path = local_path(path)
    return PQIndex(
        _SavedCells(spark, os.path.join(path, "codes"), cell_col).scan(),
        _load_matrix(os.path.join(path, "codebooks.npy")),
        vec_col,
        id_col,
        cell_centroids=_load_matrix(os.path.join(path, "centroids.npy"), missing_ok=True),
        cell_col=cell_col,
        rotation=_load_matrix(os.path.join(path, "rotation.npy"), missing_ok=True),
    )
