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
each store commit writes files of one collection, so a read for some
collections drops every file whose ``collection`` min/max excludes
them before Spark plans the scan. The whole-document GET+decode
(main.go:277-292) becomes a columnar scan that reads only
``chunks.embedding`` + the projected fields. The warehouse is a
local-disk path.

Writes run no Spark job: ``store`` builds one Arrow table and the
table writes it as one parquet file on the driver, and
``delete_collection`` drops the collection's files by their manifest
stats (``collection`` min = max = name, null count 0), the reference's
prefix delete (main.go:415-418) as one atomic commit. Only a file that
also holds other rows is rewritten copy-on-write. A new warehouse gets
an empty first commit, so every write is an append.

Documented deviations (SURVEY §1.5): D-1 always-sorted results, D-2
deterministic tie-break, D-3 ``collection_name`` carries the real
collection, D-4 dimension validated at ingest, D-5 synchronous
snapshot-isolated writes (strictly stronger than the reference's
fire-and-forget goroutines, main.go:302-321), D-6 one transactional
delete.

Scale: manifest-stats pruning keeps a query reading only its
collections' files; TakeOrderedAndProject keeps top-k shuffle-free;
for massive collections add a bucketed/Z-ordered layout or the IVF
index (operators/ann.py) for candidate pruning.
"""

from __future__ import annotations

import uuid
from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from nebuia_vector_db_spark.operators.topk import topk_search
from nebuia_vector_db_spark.schemas import DOCUMENT_SCHEMA
from nebuia_vector_db_spark.sources.snapshot import (
    CommitConflictError,
    SnapshotTable,
)

_DOCUMENT_ARROW = to_arrow_schema(DOCUMENT_SCHEMA)


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
        """
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
        DOCUMENT_SCHEMA shape; missing doc_ids minted JVM-side."""
        if "doc_id" not in df.columns:
            df = df.withColumn("doc_id", F.expr("uuid()"))
        self.table.with_retry("append", df)

    # --------------------------------------------------------------- search
    def documents(self, collections: Sequence[str] | None = None) -> DataFrame:
        """The document relation, optionally limited to ``collections``
        — one read whose ``in`` predicate also prunes files by their
        ``collection`` stats."""
        if collections is None:
            return self.table.read()
        return self.table.read(where=[("collection", "in", list(collections))])

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
        kernel only sees surviving rows."""
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
        adds the radius gate (see ``search``)."""
        return self._search_impl(
            list(collections), query_vector, top_k, where, min_similarity
        )

    def _search_impl(
        self,
        collections: Sequence[str],
        query_vector: Sequence[float],
        top_k: int,
        where: "F.Column | str | None" = None,
        min_similarity: float | None = None,
    ) -> DataFrame:
        if self.dim is not None and len(query_vector) != self.dim:
            raise DimensionMismatchError(
                f"query dim {len(query_vector)} != engine dim {self.dim}"
            )
        ch = self.chunks(collections)
        if where is not None:
            ch = ch.where(F.expr(where) if isinstance(where, str) else where)
        scored = topk_search(
            ch,
            query_vector,
            top_k,
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
        ``collection`` values) is rewritten copy-on-write.
        Oracle-verified by the ``snap_engine_lifecycle`` registry
        row."""
        # retried through the commit CAS: a store racing this delete
        # must not surface CommitConflictError to the caller. The flag
        # comes from the delete's own commit, so other writers'
        # commits cannot flip it.
        v = self.table.with_retry(
            "delete_where", [("collection", "=", collection_name)]
        )
        meta = self.table.meta
        deleted = meta("dropped_files", v) + meta("rewrote_files", v) > 0
        return {"status": "Collection deletion started", "deleted": deleted}

    # -------------------------------------------------------------- catalog
    def list_collections(self) -> list[str]:
        """≙ the implicit catalog = storage listing (SURVEY §1.3)."""
        return sorted(
            r[0] for r in self.documents().select("collection").distinct().collect()
        )


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


def _as_json_str(value) -> str | None:
    """Metadata.source is schema-free JSON in the reference
    (main.go:42, interface{}); we store it JSON-encoded."""
    import json

    if value is None:
        return None
    if isinstance(value, str):
        return value
    return json.dumps(value, sort_keys=True)
