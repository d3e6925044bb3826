"""VectorEngine — the reference's four-route API as a Spark library.

Route → method mapping (main.go:162-167):

- ``POST /store``             → :meth:`VectorEngine.store`
- ``POST /search``            → :meth:`VectorEngine.search`
- ``POST /multi_search``      → :meth:`VectorEngine.multi_search`
- ``POST /delete_collection`` → :meth:`VectorEngine.delete_collection`

Storage: one :class:`~nebuia_vector_db_spark.sources.snapshot.SnapshotTable`
(SURVEY §1.4) instead of per-document JSON blobs in MinIO
(main.go:334-342). A collection ≙ a ``collection`` column value, never
a path; prefix listing (main.go:186-189) ≙ manifest-stats pruning:
``store`` and the driver route of ``store_dataframe`` write files of
one collection each, so a read for some collections drops every file
whose ``collection`` min/max excludes them before Spark plans the scan.
The Spark route of ``store_dataframe`` writes files as its DataFrame is
partitioned, so such a file is pruned only when its stats allow it.
The whole-document GET+decode (main.go:277-292) becomes a columnar
scan that reads only ``chunks.embedding`` + the projected fields. The
warehouse is on local disk, named by a plain path (taken as it stands)
or a ``file:`` URI (percent-decoded); any other scheme, such as
``s3a://`` or ``hdfs://``, raises ``ValueError`` before a file is
written (``snapshot.local_path``, the one rule the index files share).

Writes run no Spark job: ``store`` builds one Arrow table and the
table writes it as one parquet file on the driver, and
``delete_collection`` drops the collection's files by their manifest
stats (``collection`` min = max = name, null count 0), the reference's
prefix delete (main.go:415-418) as one atomic commit. Only a file that
also holds other rows is rewritten copy-on-write. A new warehouse gets
an empty first commit, so every write is an append. A bulk
``store_dataframe`` within the driver bound (``topk._DRIVER_MAX_BYTES``,
shared with search) runs one Spark job, the JVM's collect of the
DataFrame, and the driver writes one file per collection in one
commit. As with ``store``, a bulk load of many tiny collections
therefore writes many small files; merging them is
``SnapshotTable.compact``'s job. A larger DataFrame, or one whose size
Catalyst cannot bound, is written by Spark.

Documented deviations (SURVEY §1.5): D-1 always-sorted results, D-2
deterministic tie-break, D-3 ``collection_name`` carries the real
collection, D-4 dimension validated at ingest, D-5 synchronous
snapshot-isolated writes (strictly stronger than the reference's
fire-and-forget goroutines, main.go:302-321), D-6 one transactional
delete.

Search has two routes with the same answer. Manifest-stats pruning
keeps a query reading only its collections' files. When those files
hold at most ``topk._DRIVER_MAX_BYTES`` and there is no ``where``,
the driver reads them with pyarrow one at a time, cuts each with the
batch kNN's exact dense scorer (``topk._gemm_scorer``, the Spark
route's dot bit for bit) and sorts the best rows in the D-2 order,
and the result is a local relation: the request runs no Spark job.
Otherwise (and for chunks Spark would score NULL or NaN) the
search is a Spark query whose TakeOrderedAndProject keeps top-k
shuffle-free, which is the route at scale; for massive collections add
a bucketed/Z-ordered layout or the IVF index
(operators/ann.py) for candidate pruning.
"""

from __future__ import annotations

import math
import numbers
import os
import uuid
from collections.abc import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from nebuia_vector_db_spark.functions.vector import (
    arrow_list_to_matrix,
    limit_blas_threads,
    normalize_query,
)
from nebuia_vector_db_spark.operators import topk
from nebuia_vector_db_spark.operators.topk import topk_search
from nebuia_vector_db_spark.schemas import DOCUMENT_SCHEMA
from nebuia_vector_db_spark.sources.snapshot import (
    CommitConflictError,
    SnapshotTable,
    split_by,
)

_DOCUMENT_ARROW = to_arrow_schema(DOCUMENT_SCHEMA)

# the columns the driver route reads, and the search result's columns
_SEARCH_ARROW = pa.schema(
    [_DOCUMENT_ARROW.field(c) for c in ("collection", "doc_id", "metadata", "chunks")]
)
_RESULT_ARROW = pa.schema(
    [
        ("embedding_id", pa.string()),
        ("similarity", pa.float64()),
        ("position", pa.int32()),
        ("metadata", _DOCUMENT_ARROW.field("metadata").type),
        ("text", pa.string()),
        ("collection_name", pa.string()),
        ("doc_id", pa.string()),
    ]
)


class DimensionMismatchError(ValueError):
    """D-4: the reference index-panics on shorter stored vectors and
    silently truncates longer ones (main.go:263-275); we validate."""


class VectorEngine:
    def __init__(
        self,
        spark: SparkSession,
        warehouse_path: str,
        dim: int | None = None,
        table_format: str = "snapshot",
    ):
        """The warehouse is one
        :class:`~nebuia_vector_db_spark.sources.snapshot.SnapshotTable`:
        every store is an atomic snapshot commit and delete_collection
        a transactional DELETE. A missing table is created empty in
        ``DOCUMENT_SCHEMA`` (no files, no Spark job). ``table_format``
        has one legal value, ``"snapshot"``; any other raises
        ``ValueError`` (the parquet-directory format is gone and its
        warehouses are not read)."""
        if table_format != "snapshot":
            raise ValueError(f"unknown table_format: {table_format!r}")
        self.spark = spark
        self.warehouse_path = warehouse_path
        self.dim = dim
        self.table = SnapshotTable(spark, warehouse_path)
        try:
            self.table.current_version()  # no log listing once checkpointed
        except FileNotFoundError:
            try:
                SnapshotTable.create(
                    spark, warehouse_path, _DOCUMENT_ARROW.empty_table()
                )
            except (FileExistsError, CommitConflictError):
                pass  # another engine created it first

    # ---------------------------------------------------------------- store
    def store(self, collection_name: str, documents: Sequence[dict]) -> dict:
        """≙ POST /store (main.go:294-349): mint a UUID per document,
        append under the collection. Synchronous (D-5); returns the
        same ``{message, operation_id}`` payload shape. The documents
        become one Arrow table, written as one parquet file on the
        driver and committed with no Spark job.

        Python dicts follow the reference wire shape:
        ``{text, metadata: {source, name}, chunks: [{text, embedding,
        metadata, semantic_score}]}`` — ``embedding`` is a plain list
        (the reference wraps it as ``{vector: [...]}``; both accepted).
        A ``collection_name`` that is not a ``str`` raises ``TypeError``.
        """
        _check_collection_name(collection_name)
        operation_id = str(uuid.uuid4())
        rows = []
        for doc in documents:
            chunks = []
            for ch in doc.get("chunks") or []:
                emb = ch.get("embedding")
                if isinstance(emb, dict):  # reference wire shape {vector: []}
                    emb = emb.get("vector")
                emb = [float(x) for x in (emb or [])]
                if self.dim is not None and len(emb) != self.dim:
                    raise DimensionMismatchError(
                        f"chunk embedding dim {len(emb)} != engine dim {self.dim}"
                    )
                if not all(map(math.isfinite, emb)):
                    # a NaN would score NaN and rank above every
                    # finite similarity
                    raise ValueError("chunk embedding values must be finite")
                md = ch.get("metadata") or {}
                chunks.append(
                    {
                        "text": ch.get("text"),
                        "embedding": emb,
                        "metadata": {"source": _as_json_str(md.get("source")), "name": md.get("name")},
                        "semantic_score": float(ch.get("semantic_score") or 0.0),
                    }
                )
            md = doc.get("metadata") or {}
            rows.append(
                {
                    "collection": collection_name,
                    "doc_id": str(uuid.uuid4()),  # ≙ main.go:330
                    "text": doc.get("text"),
                    "metadata": {"source": _as_json_str(md.get("source")), "name": md.get("name")},
                    "chunks": chunks,
                }
            )
        self.table.with_retry(
            "append", pa.Table.from_pylist(rows, schema=_DOCUMENT_ARROW)
        )
        return {
            "message": "Batch store operation started",  # main.go:324
            "operation_id": operation_id,
        }

    def store_dataframe(self, df: DataFrame) -> None:
        """Bulk ingest path (no per-row Python): DataFrame in
        DOCUMENT_SCHEMA shape; missing doc_ids minted JVM-side. One
        atomic append, on one of two routes with the same rows. Within
        the driver bound (``topk._driver_corpus``) the JVM collects
        ``df`` and the driver writes one parquet file per
        ``collection`` value (null collections in a file of their own):
        one Spark job, no write stage. Otherwise Spark's writer writes
        files as ``df`` is partitioned."""
        if "doc_id" not in df.columns:
            df = df.withColumn("doc_id", F.expr("uuid()"))
        table = topk._driver_corpus(df)
        self.table.with_retry(
            "append", df if table is None else _by_collection(table)
        )

    # --------------------------------------------------------------- search
    def documents(self, collections: Sequence[str] | None = None) -> DataFrame:
        """The document relation, optionally limited to ``collections``
        — one read whose ``in`` predicate also prunes files by their
        ``collection`` stats. A bare ``str`` as ``collections`` raises
        ``TypeError``."""
        if collections is None:
            return self.table.read()
        names = _collection_list(collections)
        return self.table.read(where=[("collection", "in", names)])

    def chunks(self, collections: Sequence[str] | None = None) -> DataFrame:
        """The exploded search relation (SURVEY §1.4): one row per
        chunk, 1-based ``position`` (main.go:252)."""
        docs = self.documents(collections)
        return docs.select(
            "collection",
            "doc_id",
            F.col("metadata.name").alias("doc_name"),
            F.col("metadata").alias("doc_metadata"),
            F.posexplode("chunks").alias("pos0", "chunk"),
        ).select(
            "collection",
            "doc_id",
            "doc_name",
            "doc_metadata",
            (F.col("pos0") + 1).cast("int").alias("position"),
            F.col("chunk.text").alias("text"),
            F.col("chunk.embedding").alias("embedding"),
            F.col("chunk.metadata").alias("chunk_metadata"),
            F.col("chunk.semantic_score").alias("semantic_score"),
        )

    def search(
        self,
        collection_name: str,
        query_vector: Sequence[float],
        top_k: int,
        where: "F.Column | str | None" = None,
        min_similarity: float | None = None,
    ) -> DataFrame:
        """≙ POST /search (main.go:351-367): brute-force scan of one
        collection, sim = dot(q/‖q‖, v), top-k desc (D-1/D-2).
        ``min_similarity`` (extension) turns the query into a radius
        search: only chunks at or above the threshold are returned
        (still capped at ``top_k``) — a shuffle-free filter after the
        cut.

        ``where`` (extension — the reference has no row predicates,
        SURVEY §2.2 'Filters'): a Column or SQL string evaluated on the
        exploded chunk relation (``doc_name``, ``chunk_metadata``,
        ``text``, ``semantic_score``, ...) BEFORE scoring, so Catalyst
        can push eligible predicates into the scan and the similarity
        kernel only sees surviving rows.

        Two routes give the same rows in the same order. Without
        ``where``, when the collection's files (pruned by their
        ``collection`` stats) hold at most ``topk._DRIVER_MAX_BYTES``,
        the search runs on the driver: the files are read with pyarrow
        and cut there (:func:`_driver_top_k`), and the result is a
        local relation whose ``collect()`` runs no Spark job. Otherwise, and
        when a candidate chunk's embedding is null, not ``len(q)``
        wide or not finite, it is a Spark query (TakeOrderedAndProject).

        ``top_k`` must be an int >= 0 and every query component finite
        (``ValueError``); a ``collection_name`` that is not a ``str``
        raises ``TypeError``."""
        return self._search_impl(
            [collection_name], query_vector, top_k, where, min_similarity
        )

    def multi_search(
        self,
        collections: Sequence[str],
        query_vector: Sequence[float],
        top_k: int,
        where: "F.Column | str | None" = None,
        min_similarity: float | None = None,
    ) -> DataFrame:
        """≙ POST /multi_search (main.go:369-405). The reference's
        per-collection-top-k-then-global-top-k is semantically a global
        top-k (SURVEY §1.5-6); one plan over the unified table — the
        per-collection goroutine fan-out becomes partition parallelism.
        ``where`` filters chunks before scoring and ``min_similarity``
        adds the radius gate; the driver and Spark routes and the input
        checks are those of ``search``, and a bare ``str`` as
        ``collections`` raises ``TypeError``."""
        return self._search_impl(
            _collection_list(collections), query_vector, top_k, where, min_similarity
        )

    def _search_impl(
        self,
        collections: Sequence[str],
        query_vector: Sequence[float],
        top_k: int,
        where: "F.Column | str | None" = None,
        min_similarity: float | None = None,
    ) -> DataFrame:
        for name in collections:
            _check_collection_name(name)
        integral = isinstance(top_k, numbers.Integral) and not isinstance(top_k, bool)
        if not integral or top_k < 0:
            raise ValueError(f"top_k must be an int >= 0, got {top_k!r}")
        if self.dim is not None and len(query_vector) != self.dim:
            raise DimensionMismatchError(
                f"query dim {len(query_vector)} != engine dim {self.dim}"
            )
        q = [float(x) for x in query_vector]
        if not all(map(math.isfinite, q)):
            raise ValueError("query vector components must be finite")
        if where is None:
            found = self._driver_search(collections, q, int(top_k), min_similarity)
            if found is not None:
                return self.spark.createDataFrame(found)
        ch = self.chunks(collections)
        if where is not None:
            ch = ch.where(F.expr(where) if isinstance(where, str) else where)
        scored = topk_search(
            ch,
            q,
            int(top_k),
            vec_col="embedding",
            sim_col="similarity",
            # D-1/D-2: always sorted, deterministic ties
            tie_cols=["doc_id", "position"],
        )
        if min_similarity is not None:
            # radius gate (extension — the reference is top-k-only):
            # the rows at/above the threshold are a prefix of the D-2
            # order, so filtering after the cut keeps the same rows
            scored = scored.where(
                F.col("similarity") >= F.lit(float(min_similarity))
            )
        return _search_result(scored)

    def _driver_search(
        self,
        collections: Sequence[str],
        q: list[float],
        k: int,
        min_similarity: float | None,
    ) -> pa.Table | None:
        """The driver route of a search: the current snapshot's files
        that may hold ``collections``, each read with pyarrow on one
        thread and cut to its best k rows by :func:`_driver_top_k`,
        then the best k of those. A request holds one file's rows at a
        time, about 4.7x that file's bytes. ``None`` sends the request
        to the Spark route: the files hold more than the driver bound,
        ``topk._DRIVER_MAX_BYTES``, or a chunk cannot be scored here."""
        files = self.table.candidate_files([("collection", "in", list(collections))])
        if sum(f["bytes"] for f in files) > topk._DRIVER_MAX_BYTES:
            return None
        wanted = pa.array(list(collections), pa.string())
        qn = np.asarray(normalize_query(q))
        best = [_RESULT_ARROW.empty_table()]
        for f in files:
            docs = (
                pq.ParquetFile(os.path.join(self.table.path, f["path"]))
                .read(columns=_SEARCH_ARROW.names, use_threads=False)
                .select(_SEARCH_ARROW.names)
                .cast(_SEARCH_ARROW)
            )
            keep = pc.is_in(docs["collection"], wanted, skip_nulls=True)
            if not pc.all(keep).as_py():  # the file also holds other collections
                docs = docs.filter(keep)
            part = _driver_top_k(docs.combine_chunks(), qn, k)
            if part is None:
                return None
            best.append(part)
        out = _d2_first(pa.concat_tables(best), k)
        if min_similarity is not None:
            out = out.filter(pc.greater_equal(out["similarity"], float(min_similarity)))
        return out

    # --------------------------------------------------------------- delete
    def delete_collection(self, collection_name: str) -> dict:
        """≙ POST /delete_collection (main.go:407-458). Synchronous
        (D-5) and transactional (D-6): one atomic SnapshotTable
        commit, so a concurrent reader never sees a half-deleted
        collection (the reference's prefix delete removes objects one
        by one, main.go:427-452); the pre-delete snapshot stays
        time-travelable until vacuum. The manifest stats decide each
        file: a file of only this collection is dropped unscanned, and
        only a file that also holds other rows (or null
        ``collection`` values) is rewritten copy-on-write. Deleting a
        missing collection commits nothing and returns ``deleted:
        False``. Oracle-verified by the ``snap_engine_lifecycle`` registry
        row. A ``collection_name`` that is not a ``str`` raises
        ``TypeError``."""
        _check_collection_name(collection_name)
        # retried through the commit CAS: a store racing this delete
        # must not surface CommitConflictError to the caller. The flag
        # is whether this call published, so other writers' commits,
        # an earlier delete of the same name included, cannot flip it.
        deleted = self.table.with_retry(
            "delete_where_any", [("collection", "=", collection_name)]
        )
        return {"status": "Collection deletion started", "deleted": deleted}

    # -------------------------------------------------------------- catalog
    def list_collections(self) -> list[str]:
        """≙ the implicit catalog = storage listing (SURVEY §1.3)."""
        return sorted(
            r[0] for r in self.documents().select("collection").distinct().collect()
        )


def _check_collection_name(name) -> None:
    """A collection is a ``collection`` string value: anything else
    would be stored as null or fail deep inside Arrow."""
    if not isinstance(name, str):
        raise TypeError(f"collection name must be a str, got {type(name).__name__}")


def _collection_list(collections) -> list:
    """``collections`` as a list of names: a bare ``str`` would split
    into one-letter collections and search those silently."""
    if isinstance(collections, str):
        raise TypeError("collections must be a sequence of names, not a str")
    return list(collections)


def _by_collection(docs: pa.Table) -> list[pa.Table]:
    """``docs`` cut into one table per ``collection`` value, nulls in
    one table of their own (``split_by`` on the dictionary codes, which
    number the collections in order of first appearance). An empty
    ``docs`` stays one empty table."""
    codes = pc.dictionary_encode(docs["collection"].combine_chunks()).indices
    parts = split_by(docs, pc.fill_null(codes, -1).to_numpy())
    return [rows for _, rows in parts] or [docs]


def _search_result(scored: DataFrame) -> DataFrame:
    """The search result columns, in the reference's response order."""
    return scored.select(
        # EmbeddingID = doc metadata name (main.go:248)
        F.col("doc_name").alias("embedding_id"),
        "similarity",
        "position",
        F.col("chunk_metadata").alias("metadata"),  # main.go:251
        "text",
        # D-3: real collection (reference bug aliases doc name,
        # main.go:253)
        F.col("collection").alias("collection_name"),
        "doc_id",
    )


def _driver_top_k(docs: pa.Table, q: np.ndarray, k: int) -> pa.Table | None:
    """The best k chunks of ``docs`` (``_SEARCH_ARROW`` rows) for the
    normalized query ``q``, as an Arrow table of ``_RESULT_ARROW`` in
    the D-2 order, or ``None`` when a chunk's embedding is null, not
    ``len(q)`` wide or not finite (the Spark route scores those NULL or
    NaN). ``chunks`` is exploded with 1-based positions, as
    ``posexplode`` does, and the embeddings are decoded zero-copy."""
    lists = docs["chunks"].combine_chunks()
    lens = pc.fill_null(pc.list_value_length(lists), 0).to_numpy()
    parent = np.repeat(np.arange(len(lens)), lens)  # each chunk's document
    position = np.arange(len(parent)) - (np.cumsum(lens) - lens)[parent] + 1
    chunk = lists.flatten()
    emb, d = pc.struct_field(chunk, "embedding"), len(q)
    if emb.null_count or (len(emb) and not d):
        return None
    if (pc.list_value_length(emb).to_numpy() != d).any():
        return None
    mat = arrow_list_to_matrix(emb) if len(emb) else np.empty((0, d))
    if not np.isfinite(mat).all():
        return None
    tie_rank = lambda: topk._tie_rank(  # noqa: E731
        pa.table({"doc_id": docs["doc_id"].take(parent), "position": position}),
        ["doc_id", "position"],
    )
    with limit_blas_threads(1):  # BLAS threads only spin on a one-query product
        cand, _, sims = topk._score_batch(topk._gemm_scorer(mat, q[None]), len(mat), 1, k, tie_rank)
    of_doc, kept = parent[cand], chunk.take(cand)
    return pa.table(
        [
            pc.struct_field(docs["metadata"], "name").take(of_doc),
            pa.array(sims, pa.float64()),
            pa.array(position[cand], pa.int32()),
            pc.struct_field(kept, "metadata"),
            pc.struct_field(kept, "text"),
            docs["collection"].take(of_doc),
            docs["doc_id"].take(of_doc),
        ],
        schema=_RESULT_ARROW,
    )


def _d2_first(rows: pa.Table, k: int) -> pa.Table:
    """The first k of ``_RESULT_ARROW`` rows in the D-2 order of the
    Spark route: similarity descending, then ``doc_id`` and
    ``position`` ascending with nulls first."""
    order = pc.sort_indices(
        rows,
        sort_keys=[
            ("similarity", "descending"),
            ("doc_id", "ascending"),
            ("position", "ascending"),
        ],
        null_placement="at_start",
    )
    return rows.take(order[:k])


def _as_json_str(value) -> str | None:
    """Metadata.source is schema-free JSON in the reference
    (main.go:42, interface{}); we store it JSON-encoded."""
    import json

    if value is None:
        return None
    if isinstance(value, str):
        return value
    return json.dumps(value, sort_keys=True)
