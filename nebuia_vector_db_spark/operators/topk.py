"""Top-k similarity search operators.

≙ reference O-6/O-7/O-9/O-10 (SURVEY.md §2.1): normalize query → dot
product per chunk → sort desc → truncate to k; multi-collection =
union + global top-k (main.go:232-237, 397-402).

Spark-first design notes (scale):

- ``orderBy(desc).limit(k)`` plans ``TakeOrderedAndProject``: an
  O(n log k) per-partition bounded heap + single driver merge of
  ``num_partitions × k`` rows — no global sort, no shuffle of the
  scan. Strictly better than the reference's O(n log n) full sort
  (SURVEY.md §4 P-7), and it scales: at 100 TB the driver merge is
  still only ``partitions × k`` rows.
- Batch kNN (many queries at once) broadcasts the small query side
  (never shuffles the corpus) and cuts per query with a bounded-heap
  window (``topk_per_group``).
- Single-query search (:func:`topk_search`) has one path: the
  codegen'd ``dot`` expression cut by ``orderBy(desc).limit(k)``.
- The NumPy-scored paths score through ONE Arrow top-k kernel,
  :func:`_arrow_topk`, around ONE per-batch NumPy function,
  :func:`_score_batch`. It splits a batch's rows into groups, each
  scored only against its own queries by the scorer the caller builds
  from the batch: ``knn_join(method='arrow')`` (one group) and
  ``IVFIndex.search_batch`` in operators/ann.py (one group per
  ``ivf_cell``) pass the one exact dense scorer, :func:`_gemm_scorer`
  (the engine's driver search runs it too); ``PQIndex.search``
  and ``pq_search_batch`` (operators/pq.py) pass the ADC table lookups
  plus the cell term. A group is scored in blocks of ``_BLOCK_ROWS``
  rows, each block cut to k rows per query in the D-2 order (rows tied
  at a cut are decided by the caller's tie columns), so temporaries
  are O(block × B) whatever the batch size and a task ships ≤ k rows
  per (batch, query). A query batch becomes the normalized query
  matrix in one place, :func:`_query_matrix`.
- Batch kNN under the driver bound runs without Python workers:
  ``knn_join(method='arrow')`` and ``IVFIndex.search_batch`` cut their
  corpus in :func:`_batch_topk`, which collects it with
  :func:`_driver_corpus` when it fits ``_DRIVER_MAX_BYTES`` and cuts
  it on the driver (:func:`_driver_topk`, an Arrow table plus its
  schema); a larger corpus goes through :func:`_arrow_topk` and the
  ``row_number`` window. A loaded IVF index hands
  :func:`_driver_topk` the probed cells' files, read by the driver, with
  no corpus collect.
- A corpus is collected once while its inputs are unchanged:
  :func:`_driver_corpus` keeps the table it collected for the DataFrame
  it came from (a weak reference, so dropping the DataFrame frees it),
  with the ``(path, size, mtime_ns)`` of each of its input files, and
  returns it again while those match. Only plans that are deterministic
  and read nothing but files and local relations are kept; the kept
  tables together stay within ``_DRIVER_MAX_BYTES`` (least recently
  used first out). So a session's second ``knn_join`` over one corpus
  runs one Spark job, the query collect, and ``assign_to_cells``
  registers the table it built, so ``save_ivf_index`` of it collects
  nothing.
"""

from __future__ import annotations

import functools
import os
import threading
import weakref
from collections import OrderedDict
from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nebuia_vector_db_spark.functions.vector import (
    arrow_list_to_matrix,
    dot,
    l2_normalize,
    normalize_query,
)
from nebuia_vector_db_spark.sources.snapshot import local_path


def topk_search(
    df: DataFrame,
    qvec: Sequence[float],
    k: int,
    vec_col: str = "embedding",
    sim_col: str = "similarity",
    tie_cols: Sequence[str] = (),
) -> DataFrame:
    """Exact brute-force top-k: sim = dot(q/‖q‖, v) (SURVEY §1.5-1),
    a codegen'd HOF expression (oracle-exact).

    Deviations D-1/D-2: always sorted desc, deterministic tie-break.
    """
    out = df.withColumn(sim_col, dot(F.col(vec_col), normalize_query(qvec)))
    order: list[Column] = [F.desc(sim_col), *[F.col(c) for c in tie_cols]]
    # orderBy+limit → TakeOrderedAndProject (per-partition heap, no shuffle)
    return out.orderBy(*order).limit(k)


def _query_matrix(
    queries_df: DataFrame, id_col: str, vec_col: str
) -> tuple[np.ndarray, np.ndarray]:
    """Collect a query batch to (ids, normalized (B, d) float64 matrix)
    on the driver — the queries are a parameter of the plan, like a
    single query vector, and ship to tasks inside the kernel closure."""
    rows = queries_df.select(id_col, vec_col).collect()
    qids = np.array([r[0] for r in rows])
    qmat = np.vstack(
        [np.asarray(normalize_query(r[1]), dtype=np.float64) for r in rows]
        or [np.empty((0, 0))]  # an empty batch
    )
    return qids, qmat


# The one driver bound, shared by the engine's search and the batch kNN
# paths. A request is served on the driver only when its input holds at
# most this many bytes: for a search, the bytes of its candidate files
# (engine._driver_search); for a batch kNN corpus, the larger of
# Catalyst's size estimate and its input files' bytes (_driver_corpus).
# It caps a request's driver memory and keeps large inputs on the Spark
# route, which scales.
_DRIVER_MAX_BYTES = 64 << 20


# The corpora _driver_corpus collected, least recently used first:
# id(df) -> (weak reference to df, its input files' signature, table).
# A DataFrame's death pops its entry (the reference's callback, which
# takes no lock: it may run inside a locked region, at any allocation);
# everything else changes it under the lock.
_kept: OrderedDict[int, tuple[weakref.ref, tuple, pa.Table]] = OrderedDict()
_kept_lock = threading.Lock()


def _driver_corpus(df: DataFrame) -> pa.Table | None:
    """``df`` as an Arrow table collected by the JVM, or ``None`` when
    it may exceed ``_DRIVER_MAX_BYTES``.

    Both figures must be within the bound. Catalyst's size estimate of
    the optimized plan sees joins and local relations, and an RDD
    source, which it cannot size (``Long.MaxValue``), always fails it;
    but it undercounts generators (``posexplode``: 2.7 MB estimated for
    8.8 MB of Arrow). The bytes of ``df.inputFiles()`` see the files
    but not joins. ``inputFiles()`` lists before physical partition
    pruning, so a partitioned scan counts every partition's files, not
    only the ones it reads (a loaded IVF index's ``search_batch`` sizes
    its probed cells from its own listing instead). Only ``file:``
    inputs are sized (through ``snapshot.local_path``): an input on
    another filesystem keeps the Spark route. ``toArrow()`` runs the
    plan in the JVM: no Python worker starts.

    The table is kept for ``df`` (:func:`_keep`) when ``df``'s plan
    allows (:func:`_reusable`), keyed by ``df`` itself and the
    ``(path, size, mtime_ns)`` of each input file, which the sizing
    above stats anyway. While ``df`` lives and those files are
    unchanged, a later call returns the kept table and runs no Spark
    job: the rows ``df.cache()`` would give. The bound checks run
    first, so a bound lowered since never returns a kept table."""
    qe = df._jdf.queryExecution()
    if int(qe.optimizedPlan().stats().sizeInBytes()) > _DRIVER_MAX_BYTES:
        return None
    total, files = 0, []
    for uri in df.inputFiles():
        if not uri.startswith("file:"):
            return None
        path = local_path(uri)
        st = os.stat(path)
        total += st.st_size
        if total > _DRIVER_MAX_BYTES:
            return None
        files.append((path, st.st_size, st.st_mtime_ns))
    files = tuple(files)
    with _kept_lock:
        entry = _kept.get(id(df))
        if entry is not None and entry[0]() is df and entry[1] == files:
            _kept.move_to_end(id(df))
            return entry[2]
    table = df.toArrow()
    if _reusable(qe.analyzed()):
        _keep(df, files, table)
    return table


def _reusable(plan) -> bool:
    """Whether a collect of the analyzed ``plan`` may be kept: it is
    deterministic (no ``uuid()``, ``rand()``, ...), not streaming, and
    every leaf is a file relation (``LogicalRelation`` over a
    ``HadoopFsRelation``, which input-file signatures cover) or a
    ``LocalRelation``. RDD scans, Python and V2 data sources are
    collected every time."""
    if not plan.deterministic() or plan.isStreaming():
        return False
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        kind = leaf.getClass().getSimpleName()
        if kind == "LogicalRelation":
            kind = leaf.relation().getClass().getSimpleName()
        if kind not in ("HadoopFsRelation", "LocalRelation"):
            return False
    return True


def _keep(df: DataFrame, files: tuple, table: pa.Table) -> None:
    """Keep ``table`` as ``df``'s collect while ``df`` lives and its
    input files match ``files`` (:func:`_driver_corpus`), evicting the
    least recently used tables until all of them hold at most
    ``_DRIVER_MAX_BYTES``; a table larger than that is not kept."""
    if table.nbytes > _DRIVER_MAX_BYTES:
        return
    key = id(df)
    ref = weakref.ref(df, lambda _, key=key: _kept.pop(key, None))
    with _kept_lock:
        _kept[key] = (ref, files, table)
        _kept.move_to_end(key)
        kept = sum(e[2].nbytes for e in list(_kept.values()))
        while kept > _DRIVER_MAX_BYTES and _kept:
            kept -= _kept.popitem(last=False)[1][2].nbytes


def _cut_schema(
    schema: T.StructType, drop: Sequence[str], sim_col: str, query_id_col: str
) -> T.StructType:
    """The schema of a batch cut: ``schema``'s columns but ``drop``, then
    ``query_id_col`` (long) and ``sim_col`` (double), parsed from DDL,
    so every field is nullable on both routes."""
    fields = [(f.name, f.dataType.simpleString()) for f in schema if f.name not in drop]
    fields += [(query_id_col, "long"), (sim_col, "double")]
    return T._parse_datatype_string(", ".join(f"{n} {t}" for n, t in fields))


def _cut_batch(
    rb, qids, k, scorer, keep, tie_cols, cell_col, cell_queries
) -> list:
    """The ``keep`` columns, query ids and similarities of each query's
    best ``k`` rows of the Arrow batch or table ``rb``
    (:func:`_score_batch` with ``scorer(rb)``)."""
    cells = None
    if cell_queries is not None:
        cells = np.asarray(rb.column(cell_col)).astype(np.int64)
    rows, qidx, sims = _score_batch(
        scorer(rb), rb.num_rows, len(qids), k,
        lambda: _tie_rank(rb, tie_cols), cells, cell_queries,
    )
    take = pa.array(rows)
    return [rb.column(c).take(take) for c in keep] + [pa.array(qids[qidx]), pa.array(sims)]


def _batch_topk(
    df: DataFrame,
    qids: np.ndarray,
    k: int,
    scorer: Callable,
    drop: Sequence[str],
    sim_col: str,
    query_id_col: str,
    tie_cols: Sequence[str] = (),
    cell_queries: dict[int, np.ndarray] | None = None,
) -> DataFrame:
    """Each query's exact top-k of ``df`` with its 1-based rank ``rk``
    (int), the shared tail of ``knn_join(method='arrow')`` and
    ``IVFIndex.search_batch``; the arguments are :func:`_arrow_topk`'s.

    When :func:`_driver_corpus` collects ``df``, :func:`_driver_topk`
    cuts the table on the driver. Otherwise :func:`_arrow_topk` cuts
    each Arrow batch on the workers and the ``row_number`` window
    (:func:`topk_per_group`) applies the global cut. Both give the same
    rows, ranks and schema."""
    table = _driver_corpus(df if len(qids) else df.limit(0))
    if table is None:
        cut = _arrow_topk(
            df, qids, k, scorer, drop, sim_col, query_id_col,
            tie_cols=tie_cols, cell_queries=cell_queries,
        )
        return topk_per_group(cut, [query_id_col], sim_col, k, tie_cols=tie_cols)
    return _driver_topk(
        df.sparkSession, table, df.schema, qids, k, scorer, drop, sim_col,
        query_id_col, tie_cols, cell_queries,
    )


def _driver_topk(
    spark,
    table: pa.Table,
    schema: T.StructType,
    qids: np.ndarray,
    k: int,
    scorer: Callable,
    drop: Sequence[str],
    sim_col: str,
    query_id_col: str,
    tie_cols: Sequence[str] = (),
    cell_queries: dict[int, np.ndarray] | None = None,
) -> DataFrame:
    """The driver route of :func:`_batch_topk`: the corpus ``table``,
    whose Spark schema is ``schema``, cut whole by :func:`_score_batch`,
    each query's ≤ k rows contiguous in the D-2 order (``tie_cols``
    nulls first) with their rank ``rk``, returned as a local relation:
    no Python worker, no window."""
    schema = _cut_schema(schema, drop, sim_col, query_id_col)
    cut = pa.Table.from_arrays(
        _cut_batch(
            table, qids, k, scorer, schema.names[:-2],
            tie_cols, "ivf_cell", cell_queries,
        ),
        names=schema.names,
    )
    _, first, of = np.unique(cut[query_id_col].to_numpy(), return_index=True, return_inverse=True)
    rk = np.arange(len(of)) - first[of] + 1
    cut = cut.append_column("rk", pa.array(rk, pa.int32()))
    # row_number() is non-nullable, so the window route's rk is too
    schema = schema.add("rk", T.IntegerType(), nullable=False)
    return spark.createDataFrame(cut, schema=schema)


def _arrow_topk(
    df: DataFrame,
    qids: np.ndarray,
    k: int,
    scorer: Callable,
    drop: Sequence[str],
    sim_col: str,
    query_id_col: str,
    tie_cols: Sequence[str] = (),
    cell_col: str = "ivf_cell",
    cell_queries: dict[int, np.ndarray] | None = None,
) -> DataFrame:
    """The one Arrow top-k kernel of the NumPy-scored searches
    (``knn_join(method='arrow')``, ``IVFIndex.search_batch`` and both
    PQ searches): :func:`_score_batch` over each Arrow batch with the
    scorer ``scorer(rb)`` builds from it, so a task emits
    ≤ batches × len(qids) × k rows, the corpus never shuffles, and the
    vectors never materialize as Python objects. The ``drop`` columns
    leave the output and ``query_id_col`` (long) and ``sim_col``
    (double) are added.

    ``cell_queries`` maps a ``cell_col`` value to the indices (into
    ``qids``) of the queries that probed it: a row is scored only
    against its cell's queries. The caller applies the global cut.
    """
    df = df if len(qids) else df.limit(0)  # an empty batch scans nothing
    schema = _cut_schema(df.schema, drop, sim_col, query_id_col)
    names = schema.names

    def _score(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if rb.num_rows:
                arrays = _cut_batch(
                    rb, qids, k, scorer, names[:-2], tie_cols, cell_col, cell_queries
                )
                yield pa.RecordBatch.from_arrays(arrays, names=names)

    return df.mapInArrow(_score, schema=schema)


# rows per scoring block: the kernel's temporaries are O(_BLOCK_ROWS × B)
# whatever the Arrow batch size
_BLOCK_ROWS = 1024


def _score_batch(
    score_for: Callable[[np.ndarray], Callable[[np.ndarray], tuple]],
    n: int,
    n_queries: int,
    k: int,
    tie_rank: Callable[[], np.ndarray],
    cells: np.ndarray | None = None,
    cell_queries: dict[int, np.ndarray] | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Each query's best ``k`` of a batch's ``n`` rows, in the D-2
    order (similarity desc, then ``tie_rank()`` asc — an (n,) rank of
    the rows, built only for a tie).

    ``score_for(qs)`` is called once per group with the group's query
    indices (into the ``n_queries`` queries) and returns a scorer
    ``blk -> (sims, margin, exact)``: the (len(blk), len(qs))
    similarities of the rows ``blk`` and :func:`_d2_cut`'s re-score.
    Without ``cells`` every row is scored against every query. With
    them, the rows are stable-sorted by cell and each cell's rows are
    scored only against ``cell_queries[cell]``; a cell absent from the
    mapping is skipped. Each group is scored in blocks of
    ``_BLOCK_ROWS`` rows, so temporaries stay O(block × B): every block
    is cut to ``k`` rows per query (:func:`_d2_cut`) and folded into
    the group's running top-k, and one merge over the groups
    (:func:`_d2_merge`) keeps ≤ k rows per query.

    Returns flat ``(rows, queries, sims)``: row indices into the batch,
    query indices and the similarities."""
    rank = functools.cache(tie_rank)
    if k < 1 or not n:
        groups = []
    elif cells is None:
        groups = [(np.arange(n), np.arange(n_queries))]
    else:
        order = np.argsort(cells, kind="stable")
        ids, starts = np.unique(cells[order], return_index=True)
        groups = [
            (rows, cell_queries[c])
            for c, rows in zip(ids.tolist(), np.split(order, starts[1:]))
            if c in cell_queries
        ]
    parts = [_group_topk(score_for(qs), rows, qs, k, rank) for rows, qs in groups]
    if not parts:
        return np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0)
    return _d2_merge(*(np.concatenate(p) for p in zip(*parts)), k, rank)


def _gemm_scorer(mat: np.ndarray, qmat: np.ndarray):
    """The dense scorer of :func:`_score_batch`: ``mat`` (n, d) rows
    against the (B, d) normalized queries ``qmat``, one BLAS product
    per block, which rounds equal rows apart by their place. Any sum
    is within γ_d·‖v‖·‖q‖ of the true dot, γ_d = d·u / (1 − d·u), so
    :func:`_d2_cut` re-scores the entries within 4·γ_d·max‖v‖·max‖q‖
    of the k-th with the SQL dot's sum, :func:`_dot_left_to_right`."""
    gamma = mat.shape[1] * 2.0**-53 / (1 - mat.shape[1] * 2.0**-53)

    def score_for(qs):
        qt = qmat[qs].T  # (d, Bg)
        qmax = np.sqrt((qt * qt).sum(axis=0).max(initial=0.0))

        def score(blk):
            v = mat[blk].astype(np.float64, copy=False)
            vmax = np.sqrt(np.fmax.reduce((v * v).sum(axis=1), initial=0.0))  # NaN rows skipped
            exact = lambda r, c: _dot_left_to_right(mat, qmat, blk[r], qs[c])  # noqa: E731
            return v @ qt, 4 * gamma * vmax * qmax, exact

        return score

    return score_for


def _dot_left_to_right(mat, qmat, rows, qs) -> np.ndarray:
    """Each ``mat[rows[i]] · qmat[qs[i]]`` summed left to right from
    0.0, as the SQL dot does, in slices of ``_BLOCK_ROWS`` pairs, so
    temporaries stay O(block × d) even when every pair ties."""
    out = np.empty(len(rows))
    for lo in range(0, len(rows), _BLOCK_ROWS):
        sl = slice(lo, lo + _BLOCK_ROWS)
        # + 0.0 turns an all-(-0.0) sum into the 0.0 SQL starts from
        out[sl] = np.add.accumulate(mat[rows[sl]] * qmat[qs[sl]], axis=1)[:, -1] + 0.0
    return out


def _group_topk(score, rows, qs, k, rank):
    """One group's running top-k: ``score`` over ``rows`` in row
    blocks. Returns flat (rows, queries, sims)."""
    top = (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0))
    for lo in range(0, len(rows), _BLOCK_ROWS):
        blk = rows[lo : lo + _BLOCK_ROWS]
        sims, margin, exact = score(blk)  # sims: (block, Bg)
        r, c, s = _d2_cut(sims, min(k, len(blk)), lambda: rank()[blk], margin, exact)
        top = _d2_merge(*map(np.concatenate, zip(top, (blk[r], c, s))), k, rank)
    return top[0], qs[top[1]], top[2]


def _d2_merge(rows, qs, sims, k, rank):
    """The ≤ ``k`` best of each query's (row, sim) candidates in the
    D-2 order, by query; ``rank()`` is only built for a tie."""
    order = np.lexsort((-sims, qs))
    sq = qs[order]
    pos = np.arange(len(order)) - np.searchsorted(sq, sq)  # place in query
    s = sims[order]
    if ((pos[1:] > 0) & (pos[1:] <= k) & (s[1:] == s[:-1])).any():
        order = np.lexsort((rank()[rows], -sims, qs))
    keep = order[pos < k]
    return rows[keep], qs[keep], sims[keep]


def _tie_rank(rb, ties: Sequence[str]) -> np.ndarray:
    """Each row's place in the Arrow batch ordered by the tie columns
    (ascending, nulls first — Spark's ORDER BY default)."""
    if not ties:
        return np.arange(rb.num_rows)
    order = pc.sort_indices(
        rb.select(list(ties)),
        sort_keys=[(c, "ascending") for c in ties],
        null_placement="at_start",
    )
    return np.argsort(np.asarray(order))  # inverse permutation


def _d2_cut(sims: np.ndarray, kk: int, tie_rank, margin=0.0, exact=None):
    """Flat (rows, columns, sims) of each column's top ``kk`` of
    ``sims`` in the D-2 order (``tie_rank()``, an (n,) rank of the
    rows, breaks ties), cut over the entries at or above the ``kk``-th
    value less ``margin`` alone, re-scored by ``exact(rows, cols)``."""
    idx = np.argpartition(-sims, kk - 1, axis=0)[:kk]
    kth = np.take_along_axis(sims, idx, axis=0).min(axis=0)  # (B,)
    near = sims >= kth - margin
    near[idx, np.arange(sims.shape[1])] = True  # a NaN compares false
    rows, cols = np.nonzero(near)
    vals = sims[rows, cols] if exact is None else exact(rows, cols)
    return _d2_merge(rows, cols, vals, kk, tie_rank)


def topk_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    k: int,
    tie_cols: Sequence[str] = (),
    rank_col: str = "rk",
) -> DataFrame:
    """Per-group top-k via row_number window — the building block for
    grouped retrieval. Shuffles once on ``group_cols``; with AQE skew
    handling a hot group splits across tasks."""
    w = Window.partitionBy(*group_cols).orderBy(
        F.desc(order_col), *[F.col(c) for c in tie_cols]
    )
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= k)
    )


def knn_join(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    corpus_vec_col: str = "embedding",
    sim_col: str = "similarity",
    tie_cols: Sequence[str] = (),
    method: str = "sql",
) -> DataFrame:
    """Batch kNN: every query gets its exact top-k over the corpus.

    ``method='sql'``: the query side is broadcast (small by
    construction — SURVEY §7.3-2); the corpus is scanned once, never
    shuffled for the join itself; the per-query cut is a row_number
    window (Spark 4 plans a Partial WindowGroupLimit, so tasks ship
    ≤ k rows per query).

    ``method='arrow'``, the amortized fast path for many queries,
    scores with the GEMM scorer in :func:`_batch_topk`. A corpus within
    the driver bound (:func:`_driver_corpus`) is collected by the JVM
    and cut on the driver, and the result is a local relation: no
    Python worker, no window. A larger one is cut per Arrow batch on
    the workers (:func:`_arrow_topk`, every row against the whole query
    matrix in row blocks) and the same window applies the global cut.
    Every method returns the corpus columns but the vector, then
    ``query_id_col``, ``sim_col`` and ``rk``.
    """
    if method == "arrow":
        qids, qmat = _query_matrix(queries_df, query_id_col, query_vec_col)
        return _batch_topk(
            corpus_df, qids, k,
            lambda rb: _gemm_scorer(
                arrow_list_to_matrix(rb.column(corpus_vec_col)), qmat
            ),
            [corpus_vec_col], sim_col, query_id_col, tie_cols=tie_cols,
        )
    # reference semantics: the query side is L2-normalized, the stored
    # vector used raw (SURVEY §1.5-1); normalizing the small broadcast
    # side is O(B·d)
    queries_df = queries_df.withColumn(
        query_vec_col, l2_normalize(F.col(query_vec_col))
    )
    joined = corpus_df.crossJoin(F.broadcast(queries_df))
    scored = joined.withColumn(
        sim_col, dot(F.col(corpus_vec_col), F.col(query_vec_col))
    )
    return topk_per_group(
        scored, [query_id_col], sim_col, k, tie_cols=tie_cols
    ).drop(query_vec_col, corpus_vec_col)

