"""Approximate nearest neighbor: IVF (inverted-file) index on Spark.

The reference has NO index — every query is a full brute-force scan of
the collection (main.go:197-237, O(N·d) per query). That is the right
baseline but cannot be the only path at 100 TB. Per BASELINE.json
(``spark_approach: "MLlib for batch index building"``) we build the
index as a *batch* job and keep serving batch-style too:

- **Build**: MLlib KMeans over (a sample of) the corpus → ``n_cells``
  centroids; every vector is assigned its nearest centroid id as an
  ``ivf_cell`` column.
- **Persist** (``save_ivf_index``): ``cells/`` holds the corpus
  partitioned by cell (``ivf_cell=<c>/``, Spark's ``partitionBy``
  layout), one parquet file per cell, so a cell is a partition —
  candidate pruning becomes *partition* pruning, the same mechanism
  that makes collection-scoped search cheap (SURVEY.md §2.1 O-2) —
  plus its scan schema (``cells/_schema.json``), and ``centroids.npy``
  the centroid matrix, both plain files written and read on the driver
  (no Spark job). An index path is local: a plain path or a ``file:``
  URI (``snapshot.local_path``, the warehouse's rule); any other scheme
  raises ``ValueError``. Within the one driver bound
  (``topk._DRIVER_MAX_BYTES``) the driver writes the cells with pyarrow
  after one JVM collect, or none when ``assign_to_cells`` built the
  corpus on the driver (``topk._driver_corpus`` keeps its table);
  otherwise Spark writes them. Either way the layout is the same.
- **Load** (``load_ivf_index``): no Spark job. The cell directories are
  listed once on the driver (cell → files and bytes, the per-partition
  metadata a coordinator keeps so a query opens only the partitions it
  needs), the schema and centroids are read, and the partition-pruned
  Spark scan of ``cells/`` is built on first use.
- **Query**: score the centroids against the query (or query batch)
  driver-side (n_cells is small — a NumPy product over the centroid
  matrix), take each query's ``nprobe`` best cells with the one cell
  selector, :func:`_select_cells` (ties to the lower cell id; the
  IVF-PQ searches in operators/pq.py use it too), and brute-force
  only those cells' vectors with the exact kernel. ``nprobe =
  n_cells`` degrades to the exact scan, which is how the oracle checks
  this operator end-to-end; small ``nprobe`` is the scale path (recall
  measured in tests).

Scale notes: each query scores ``nprobe/n_cells`` of the corpus. A
batch scan reads the union of its queries' probed cells (on a loaded
index within the driver bound, exactly those cells' files, read by the
driver), but the kernel multiplies each cell's rows only by the
queries that probed it (:func:`_cell_queries`), so its GEMM work
scales with ``nprobe / n_cells`` even when the union is every cell. Top-k is still
TakeOrderedAndProject (per-partition heap, no shuffle). The centroid
matrix lives on the driver (n_cells × d floats — 4 MB at 16k cells ×
64 d), never shuffled.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from nebuia_vector_db_spark.functions.vector import (
    arrow_list_to_matrix,
    normalize_query,
)
from nebuia_vector_db_spark.operators import topk
from nebuia_vector_db_spark.operators.topk import (
    _BLOCK_ROWS,
    _batch_topk,
    _d2_cut,
    _driver_corpus,
    _driver_topk,
    _gemm_scorer,
    _query_matrix,
    topk_search,
)
from nebuia_vector_db_spark.sources.snapshot import (
    local_path,
    split_by,
    write_parquet,
)

# the scan schema of a saved cell directory, beside its cells; Spark's
# file listing skips names that start with "_"
_SCHEMA_FILE = "_schema.json"


def _select_cells(cell_sims: np.ndarray, nprobe: int) -> np.ndarray:
    """The one cell router of the IVF and IVF-PQ indexes: (nprobe, B)
    cell ids, column ``b`` holding query ``b``'s ``nprobe`` best cells
    of the (C, B) centroid-similarity matrix in rank order (similarity
    desc, ties to the lower cell id). ``nprobe`` is clamped to [1, C].

    The cut is the kernel's D-2 top-n (:func:`topk._d2_cut`) with the
    cell id as the tie rank, so every caller — single query or batch,
    IVF or IVF-PQ — probes the same cells for the same query."""
    c, n = cell_sims.shape[0], max(1, min(nprobe, cell_sims.shape[0]))
    return _d2_cut(cell_sims, n, lambda: np.arange(c))[0].reshape(-1, n).T


def _cell_queries(cell_sims: np.ndarray, nprobe: int) -> dict[int, np.ndarray]:
    """:func:`_select_cells` inverted: each probed cell id mapped to the
    ascending indices of the queries that probed it. Its keys are the
    union of probed cells, the cells a batch scan reads."""
    sel = _select_cells(cell_sims, nprobe)  # (nprobe, B)
    cells = sel.ravel()
    queries = np.tile(np.arange(sel.shape[1]), sel.shape[0])
    order = np.lexsort((queries, cells))
    ids, starts = np.unique(cells[order], return_index=True)
    return dict(zip(ids.tolist(), np.split(queries[order], starts[1:])))


class _SavedCells:
    """A saved index's cell directory, the local path ``root``, listed
    once on the driver: the scan schema (the cell column last, where
    Spark's partition discovery puts it) and each cell's parquet files
    with their bytes (``files``). With the schema file, no Spark job;
    without it (an index saved before the file existed, or plain PQ
    codes) Spark infers the schema."""

    def __init__(self, spark, root: str, cell_col: str = "ivf_cell"):
        self.spark, self.root, self.cell_col = spark, root, cell_col
        schema_file = os.path.join(root, _SCHEMA_FILE)
        if os.path.exists(schema_file):
            with open(schema_file, encoding="utf-8") as f:
                self.schema = T.StructType.fromJson(json.load(f))
        else:
            self.schema = spark.read.parquet(root).schema
        self.files = _list_cells(root, cell_col)

    def scan(self) -> DataFrame:
        """The partition-prunable Spark scan of every cell."""
        return self.spark.read.schema(self.schema).parquet(self.root)

    def read(self, cells) -> pa.Table:
        """The rows of ``cells`` as one Arrow table of the scan schema,
        their files read with pyarrow and the cell column filled from
        the directory name."""
        arrow = to_arrow_schema(self.schema)
        cell = arrow.field(self.cell_col)
        data = arrow.remove(arrow.get_field_index(self.cell_col))
        parts = [arrow.empty_table()]
        for c in cells:
            for path, _ in self.files.get(c, []):
                t = pq.read_table(path, columns=data.names).select(data.names).cast(data)
                ids = pa.array(np.full(t.num_rows, c), cell.type)
                parts.append(t.append_column(cell, ids))
        return pa.concat_tables(parts)


def _list_cells(root: str, cell_col: str) -> dict[int, list[tuple[str, int]]]:
    """Each ``<cell_col>=<c>/`` directory under ``root`` mapped to its
    data files' ``(path, bytes)``, skipping the ``_``/``.`` names Spark
    skips too."""
    prefix, out = f"{cell_col}=", {}
    for d in os.scandir(root) if os.path.isdir(root) else []:
        if d.is_dir() and d.name.startswith(prefix):
            out[int(d.name[len(prefix):])] = sorted(
                (f.path, f.stat().st_size)
                for f in os.scandir(d.path)
                if f.is_file() and not f.name.startswith(("_", "."))
            )
    return out


class IVFIndex:
    """A built IVF index: the corpus with an ``ivf_cell`` column plus
    the centroid matrix (driver-side NumPy). Cell selection for every
    search goes through :func:`_select_cells`. A loaded index
    (:func:`load_ivf_index`) also holds its cell listing, ``saved``,
    and builds ``assigned`` on first use."""

    def __init__(
        self,
        assigned: DataFrame | None,
        centroids: np.ndarray,
        vec_col: str,
        saved: _SavedCells | None = None,
    ):
        self._assigned = assigned
        self.centroids = centroids  # (n_cells, d) float64
        self.vec_col = vec_col
        self.saved = saved

    @property
    def assigned(self) -> DataFrame:
        """The corpus with its ``ivf_cell`` column; on a loaded index
        the partition-pruned scan of ``cells/``."""
        if self._assigned is None:
            self._assigned = self.saved.scan()
        return self._assigned

    @assigned.setter
    def assigned(self, df: DataFrame) -> None:
        self._assigned = df

    @property
    def n_cells(self) -> int:
        return int(self.centroids.shape[0])

    def probe_cells(self, qvec: Sequence[float], nprobe: int) -> list[int]:
        """The ``nprobe`` best cells by dot(q/‖q‖, centroid), best
        first — a driver-side matvec cut by :func:`_select_cells`.

        Uses the same raw-stored-vector similarity as the search kernel
        (SURVEY.md §1.5-1) so cell ranking is consistent with scoring.
        """
        qn = np.asarray(normalize_query(qvec), dtype=np.float64)
        sims = (self.centroids @ qn)[:, None]  # (C, 1)
        return _select_cells(sims, nprobe)[:, 0].tolist()

    def search(
        self,
        qvec: Sequence[float],
        k: int,
        nprobe: int,
        tie_cols: Sequence[str] = (),
    ) -> DataFrame:
        """Candidate-pruned exact-kernel top-k. ``nprobe == n_cells``
        is exactly the brute-force scan (modulo the extra isin filter,
        which Catalyst folds into the scan as a pushed predicate)."""
        cells = self.probe_cells(qvec, nprobe)
        cand = self.assigned.where(F.col("ivf_cell").isin(cells))
        return topk_search(
            cand, qvec, k, vec_col=self.vec_col, tie_cols=tie_cols
        ).drop("ivf_cell")

    def search_batch(
        self,
        queries_df: DataFrame,
        k: int,
        nprobe: int,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vec",
        sim_col: str = "similarity",
        tie_cols: Sequence[str] = (),
    ) -> DataFrame:
        """Batch ANN search (VERDICT r3 #5): a query *batch* routed
        through per-query probed cells in ONE corpus pass.

        ``knn_join`` scans the whole corpus for every batch;
        per-query ``search`` scans ``nprobe/n_cells`` but runs one job
        per query. This is both at once:

        - driver side: one (C, d)·(d, B) product over the resident
          centroid matrix, cut by :func:`_select_cells` to each query's
          ``nprobe`` best cells (ties to the lower cell id — the cells
          ``probe_cells`` and ``search`` pick for that query) and
          inverted by :func:`_cell_queries` into a cell → query-index
          map, which ships in the kernel closure;
        - scan side: ONE pass over only the UNION of probed cells
          (``ivf_cell IN (...)`` → partition/stats pruning — the scan
          fraction is |union| / n_cells, not 1.0), cut by
          ``topk._batch_topk`` with the GEMM scorer of
          ``knn_join(method='arrow')``: the rows are grouped by cell and
          each cell's rows are multiplied, in row blocks, only by the
          queries that probed it (a candidate is charged only to those
          queries, so the GEMM work is about ``nprobe / n_cells`` of
          the exact scan's), and each query keeps its ≤ k best rows in
          the D-2 order (ties at the cut go by ``tie_cols``);
        - route: on a loaded index whose probed cells' files hold at
          most ``topk._DRIVER_MAX_BYTES``, the driver reads exactly
          those files with pyarrow (no Spark job) and cuts them whole;
          on an index in memory, within the driver bound
          (``topk._driver_corpus``), the driver cuts the whole assigned
          corpus, which the JVM collects once and which is then kept
          (``assign_to_cells`` registers the table it built, so its
          index collects nothing). Either way the result is a
          local relation (no Python worker, no window). Otherwise each
          Arrow batch is cut on the workers and the same bounded
          row_number window as ``knn_join`` applies the global cut
          (Partial WindowGroupLimit — tasks ship ≤ k rows per query).

        ``nprobe == n_cells`` makes this EXACTLY ``knn_join`` (every
        pair allowed, full scan) — which is how the oracle checks it
        end-to-end; small ``nprobe`` is the scale path (bench b12).
        """
        qids, qmat = _query_matrix(queries_df, query_id_col, query_vec_col)
        cell_queries = _cell_queries(self.centroids @ qmat.T, nprobe) if len(qids) else {}
        vec_col = self.vec_col
        cut = (
            lambda rb: _gemm_scorer(arrow_list_to_matrix(rb.column(vec_col)), qmat),
            [vec_col, "ivf_cell"], sim_col, query_id_col, tie_cols, cell_queries,
        )
        saved = self.saved
        if saved is None:
            # the whole corpus, collected once and kept; the scorer
            # skips the cells no query probed
            assigned = self.assigned
            table = _driver_corpus(assigned) if len(qids) else None
            if table is not None:
                return _driver_topk(
                    assigned.sparkSession, table, assigned.schema, qids, k, *cut
                )
        else:
            probed = sum(b for c in cell_queries for _, b in saved.files.get(c, []))
            if probed <= topk._DRIVER_MAX_BYTES:
                return _driver_topk(
                    saved.spark, saved.read(cell_queries), saved.schema, qids, k, *cut
                )
        cand = self.assigned.where(F.col("ivf_cell").isin(list(cell_queries)))
        return _batch_topk(cand, qids, k, *cut)


def build_ivf_index(
    df: DataFrame,
    n_cells: int,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
) -> IVFIndex:
    """Fit KMeans (MLlib, distributed) and assign every row a cell.

    The fitted model's transform is a broadcast of the centroid matrix
    + per-row nearest-centroid argmin — no shuffle; the only shuffles
    are inside KMeans training itself (one agg per iteration).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.withColumn(
        "_ivf_feat", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    km = KMeans(
        k=n_cells,
        seed=seed,
        maxIter=max_iter,
        featuresCol="_ivf_feat",
        predictionCol="ivf_cell",
    )
    model = km.fit(feat)
    assigned = model.transform(feat).drop("_ivf_feat")
    centroids = np.vstack(
        [np.asarray(c, dtype=np.float64) for c in model.clusterCenters()]
    )
    return IVFIndex(assigned, centroids, vec_col)


def _save_matrix(path: str, mat: np.ndarray) -> None:
    """Write one driver-side matrix as a ``.npy`` file: no Spark job."""
    np.save(path, np.ascontiguousarray(mat), allow_pickle=False)


def _load_matrix(path: str, missing_ok: bool = False) -> np.ndarray | None:
    """Read a :func:`_save_matrix` file; ``None`` when it is absent and
    ``missing_ok``. A damaged file raises."""
    if missing_ok and not os.path.exists(path):
        return None
    return np.load(path, allow_pickle=False)


def _write_cells(
    df: DataFrame,
    path: str,
    mode: str,
    subdir: str = "cells",
    cell_col: str = "ivf_cell",
) -> None:
    """Write ``df`` under the local ``path/subdir``, partitioned by
    ``cell_col`` (``<cell_col>=<c>/``, the layout of Spark's
    ``partitionBy``), one file per cell, and the scan schema beside the
    cells (``_schema.json``), so an index without rows loads too. The
    IVF corpus (``cells/``) and the IVF-PQ codes (``codes/``) are both
    written this way.

    Within the driver bound (``topk._driver_corpus``: the JVM collects
    ``df``, or its kept table is reused) the driver writes each cell
    with pyarrow:
    ``"overwrite"`` replaces ``subdir``, ``"append"`` adds a uniquely
    named file to each cell. Otherwise rows are shuffled by the cell so
    each cell lands in one Spark writer task."""
    root = os.path.join(path, subdir)
    table = _driver_corpus(df)
    if table is None:
        df.repartition(cell_col).write.partitionBy(cell_col).mode(mode).parquet(root)
    else:
        if mode == "overwrite":
            shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        cells = table.column(cell_col).to_numpy()
        for c, rows in split_by(table.drop_columns([cell_col]), cells):
            cell_dir = os.path.join(root, f"{cell_col}={c}")
            os.makedirs(cell_dir, exist_ok=True)
            write_parquet(rows, os.path.join(cell_dir, f"part-{uuid.uuid4().hex}.parquet"))
    scan = T.StructType(
        [f for f in df.schema if f.name != cell_col] + [df.schema[cell_col]]
    )
    with open(os.path.join(root, _SCHEMA_FILE), "w", encoding="utf-8") as f:
        f.write(scan.json())


def save_ivf_index(index: IVFIndex, path: str) -> None:
    """Persist the index: ``cells/`` holds the corpus PHYSICALLY
    partitioned by cell (``ivf_cell=<c>/``, one parquet file per
    cell, :func:`_write_cells`: on the driver within the driver bound,
    else a Spark write), ``centroids.npy`` the (n_cells, d) float64
    centroid matrix, written driver-side (no Spark job). ``path`` is a
    local path or ``file:`` URI (``snapshot.local_path``); any other
    scheme raises ``ValueError`` before anything is written.

    This is the step that turns cell pruning into *partition* pruning:
    a reloaded index's ``search`` shows the ``ivf_cell IN (...)``
    predicate as a PartitionFilter on the scan — only the probed
    cells' files are read (test-pinned in tests/test_ann.py). At
    100 TB that is the difference between scanning nprobe/n_cells of
    the corpus and scanning all of it to filter.
    """
    path = local_path(path)
    _write_cells(index.assigned, path, "overwrite")
    _save_matrix(os.path.join(path, "centroids.npy"), index.centroids)


def load_ivf_index(
    spark, path: str, vec_col: str = "embedding"
) -> IVFIndex:
    """Reload a saved index with no Spark job: ``cells/`` is listed
    once on the driver (each cell's files and bytes, for
    ``search_batch``'s driver route), its scan schema and
    ``centroids.npy`` are read driver-side, and ``assigned``, the
    cell-partitioned corpus scan (partition-prunable), is built on
    first use."""
    path = local_path(path)
    saved = _SavedCells(spark, os.path.join(path, "cells"))
    return IVFIndex(None, _load_matrix(os.path.join(path, "centroids.npy")), vec_col, saved)


def _nearest_cells(mat: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Each row's nearest centroid (squared-Euclidean argmin, ties to
    the lowest cell id) as int32, scored in blocks of ``_BLOCK_ROWS``
    rows so the temporaries stay O(block × n_cells)."""
    c_sq = np.einsum("ij,ij->i", cents, cents)
    out = np.empty(len(mat), np.int32)
    for lo in range(0, len(mat), _BLOCK_ROWS):
        blk = mat[lo : lo + _BLOCK_ROWS].astype(np.float64, copy=False)
        # dist² = ‖x‖² − 2·x·c + ‖c‖²; ‖x‖² is constant per row so
        # argmin needs only the last two terms
        out[lo : lo + _BLOCK_ROWS] = np.argmin(blk @ cents.T * -2.0 + c_sq, axis=1)
    return out


def assign_to_cells(
    df: DataFrame, centroids: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """Assign every row its nearest centroid (squared-Euclidean
    argmin, ties to the lowest cell id — KMeans assignment semantics)
    WITHOUT retraining: ``df`` plus an ``ivf_cell`` int column, one
    (block, d)·(d, C) BLAS product per row block. No shuffle — the
    kernel a 100 TB daily ingest runs to route new vectors into an
    existing index.

    Within the driver bound (``topk._driver_corpus``) the JVM collects
    ``df`` (or the driver reuses the table it kept for ``df``), the
    driver assigns it, and the result is a local relation registered
    with the table it was built from, so a ``save_ivf_index`` or an
    in-memory ``search_batch`` of it collects nothing and neither
    starts a Python worker. Above it the centroid matrix is broadcast
    and each Arrow batch is assigned on the workers (map-side only)."""
    cents = np.ascontiguousarray(centroids, dtype=np.float64)
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("ivf_cell", T.IntegerType())]
    )
    table = _driver_corpus(df)
    if table is not None:
        cells = _nearest_cells(arrow_list_to_matrix(table.column(vec_col)), cents)
        table = table.append_column("ivf_cell", pa.array(cells, pa.int32()))
        out = df.sparkSession.createDataFrame(table, schema=out_schema)
        topk._keep(out, (), table)  # a local relation: no input file
        return out
    bc = df.sparkSession.sparkContext.broadcast(cents)

    def _assign(batches):
        for rb in batches:
            if rb.num_rows:
                cells = _nearest_cells(arrow_list_to_matrix(rb.column(vec_col)), bc.value)
                yield rb.append_column("ivf_cell", pa.array(cells, pa.int32()))

    return df.mapInArrow(_assign, schema=out_schema)


def append_to_ivf_index(
    spark, path: str, new_df: DataFrame, vec_col: str = "embedding"
) -> IVFIndex:
    """Incremental index maintenance (VERDICT r2 #6): route new
    vectors to the EXISTING centroids and append them to the saved
    cell partitions, at most one new file per cell touched — no
    retrain, no rewrite of existing cells. This
    is the operation a daily ingest pipeline runs; a full
    ``build_ivf_index`` + ``save_ivf_index`` over the grown corpus
    WITH THE SAME centroids produces identical cell contents
    (test-pinned), so append is a pure optimization.

    The centroids are frozen: under distribution drift new vectors
    pile into few cells and probe pruning degrades. Monitor cell-size
    skew (``index.assigned.groupBy('ivf_cell').count()``) and retrain
    when the max/median ratio passes ~4× — the retrain is the same
    batch build, swapped in atomically by writing to a fresh path.
    """
    path = local_path(path)
    idx = load_ivf_index(spark, path, vec_col)
    new_cells = assign_to_cells(new_df, idx.centroids, vec_col)
    _write_cells(new_cells, path, "append")
    return load_ivf_index(spark, path, vec_col)


def build_ivf_index_deterministic(
    df: DataFrame,
    n_cells: int,
    sample_mat: np.ndarray,
    seed: int = 42,
    vec_col: str = "embedding",
    iters: int = 25,
) -> IVFIndex:
    """Bit-reproducible IVF build, for recall probes that must serve
    as regression signals (VERDICT r3 'what's wrong' #1: recall@10
    flapped 0.5→0.3 across rounds on identical code because MLlib
    KMeans' distributed float aggregation order varies run-to-run).

    Centroids come from the seeded driver-side vectorized Lloyd's
    (the same `_kmeans_np` PQ training uses) over a CALLER-PINNED
    sample matrix; assignment is the deterministic broadcast argmin
    kernel. Production builds stay on :func:`build_ivf_index` (MLlib,
    distributed); this variant trades training scale for exact
    reproducibility — sample_mat is driver-resident by construction.
    """
    from nebuia_vector_db_spark.operators.pq import _kmeans_np

    cents = _kmeans_np(
        np.ascontiguousarray(sample_mat, dtype=np.float32),
        n_cells,
        iters=iters,
        seed=seed,
    )  # float64 out
    assigned = assign_to_cells(df, cents, vec_col)
    return IVFIndex(assigned, cents, vec_col)


def recall_at_k_batch(
    index: IVFIndex,
    exact_corpus: DataFrame,
    queries: Sequence[Sequence[float]],
    k: int,
    nprobe: int,
    id_col: str = "vec_id",
) -> float:
    """Mean recall@k over a query set, in TWO jobs total (one batched
    exact kNN, one batched IVF search) instead of 2 jobs per query —
    the probe harness bench b5/b5c run on every round."""
    from collections import defaultdict

    from nebuia_vector_db_spark.operators.topk import knn_join

    spark = exact_corpus.sparkSession
    qdf = spark.createDataFrame(
        [(i, [float(x) for x in q]) for i, q in enumerate(queries)],
        "query_id long, query_vec array<double>",
    )
    exact: dict[int, set] = defaultdict(set)
    for r in (
        knn_join(qdf, exact_corpus, k=k, tie_cols=[id_col], method="arrow")
        .select("query_id", id_col)
        .collect()
    ):
        exact[r[0]].add(r[1])
    approx: dict[int, set] = defaultdict(set)
    for r in (
        index.search_batch(qdf, k, nprobe, tie_cols=[id_col])
        .select("query_id", id_col)
        .collect()
    ):
        approx[r[0]].add(r[1])
    return sum(
        len(exact[q] & approx[q]) / max(1, len(exact[q])) for q in exact
    ) / max(1, len(exact))
