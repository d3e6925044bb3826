"""VectorEngine — the reference's four-route API as a Spark library.

Route → method mapping (main.go:162-167):

- ``POST /store``             → :meth:`VectorEngine.store`
- ``POST /search``            → :meth:`VectorEngine.search`
- ``POST /multi_search``      → :meth:`VectorEngine.multi_search`
- ``POST /delete_collection`` → :meth:`VectorEngine.delete_collection`

Storage: one ``collection``-partitioned Parquet table (SURVEY §1.4)
instead of per-document JSON blobs in MinIO (main.go:334-342). A
collection ≙ a partition value; prefix listing ≙ partition pruning;
the whole-document GET+decode (main.go:277-292) becomes a columnar
scan that reads only ``chunks.embedding`` + the projected fields.

Documented deviations (SURVEY §1.5): D-1 always-sorted results, D-2
deterministic tie-break, D-3 ``collection_name`` carries the real
collection, D-4 dimension validated at ingest, D-5 synchronous
snapshot-isolated writes (strictly stronger than the reference's
fire-and-forget goroutines, main.go:302-321).

Scale: at 100 TB this table is the same layout you'd use on a real
cluster — partition pruning keeps single-collection queries reading
only their partition; TakeOrderedAndProject keeps top-k shuffle-free;
for massive collections add a bucketed/Z-ordered layout or the IVF
index (operators/ann.py) for candidate pruning.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nebuia_vector_db_spark.functions.vector import dot, normalize_query
from nebuia_vector_db_spark.operators.topk import topk_search
from nebuia_vector_db_spark.schemas import DOCUMENT_SCHEMA


class DimensionMismatchError(ValueError):
    """D-4: the reference index-panics on shorter stored vectors and
    silently truncates longer ones (main.go:263-275); we validate."""


class VectorEngine:
    def __init__(
        self,
        spark: SparkSession,
        warehouse_path: str,
        dim: int | None = None,
        table_format: str = "parquet",
    ):
        """``table_format``:

        - ``"parquet"`` (default) — loose collection-partitioned
          parquet directories; matches the reference's isolation
          level exactly (none, §1.5-7 / D-6);
        - ``"snapshot"`` — the warehouse is a
          :class:`~nebuia_vector_db_spark.sources.snapshot.SnapshotTable`:
          every store is an atomic snapshot commit, delete_collection
          is a transactional copy-on-write DELETE (concurrent readers
          keep a complete snapshot; pre-delete versions remain
          time-travelable until vacuum), and single-collection reads
          file-prune via snapshot stats instead of hive partition
          pruning. Same engine API either way.
        """
        if table_format not in ("parquet", "snapshot"):
            raise ValueError(f"unknown table_format: {table_format!r}")
        self.spark = spark
        self.warehouse_path = warehouse_path
        self.dim = dim
        self.table_format = table_format

    def _snapshot_table(self):
        from nebuia_vector_db_spark.sources.snapshot import SnapshotTable

        return SnapshotTable(self.spark, self.warehouse_path)

    # ---------------------------------------------------------------- store
    def store(self, collection_name: str, documents: Sequence[dict]) -> dict:
        """≙ POST /store (main.go:294-349): mint a UUID per document,
        append under the collection. Synchronous (D-5); returns the
        same ``{message, operation_id}`` payload shape.

        Python dicts follow the reference wire shape:
        ``{text, metadata: {source, name}, chunks: [{text, embedding,
        metadata, semantic_score}]}`` — ``embedding`` is a plain list
        (the reference wraps it as ``{vector: [...]}``; both accepted).

        In parquet mode a name no partition directory can hold raises
        ``ValueError`` before any Spark job starts.
        """
        if self.table_format == "parquet":
            _collection_dir(self.spark, self.warehouse_path, collection_name)
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
        df = self.spark.createDataFrame(rows, schema=DOCUMENT_SCHEMA)
        self.store_dataframe(df)
        return {
            "message": "Batch store operation started",  # main.go:324
            "operation_id": operation_id,
        }

    def store_dataframe(self, df: DataFrame) -> None:
        """Bulk ingest path (no per-row Python): DataFrame in
        DOCUMENT_SCHEMA shape; missing doc_ids minted JVM-side."""
        if "doc_id" not in df.columns:
            df = df.withColumn("doc_id", F.expr("uuid()"))
        if self.table_format == "snapshot":
            from nebuia_vector_db_spark.sources.snapshot import (
                CommitConflictError,
                SnapshotTable,
            )

            tbl = self._snapshot_table()
            if not tbl.versions():
                # create-vs-create race: the loser's exclusive v1
                # commit fails — fall through to a retried append so
                # concurrent first stores both land (matching parquet
                # mode, where concurrent appends never fail)
                try:
                    SnapshotTable.create(self.spark, self.warehouse_path, df)
                    return
                except (FileExistsError, CommitConflictError):
                    pass
            tbl.with_retry("append", df)
            return
        (
            df.write.mode("append")
            .partitionBy("collection")
            .parquet(self.warehouse_path)
        )

    # --------------------------------------------------------------- search
    def documents(self, collections: Sequence[str] | None = None) -> DataFrame:
        if self.table_format == "snapshot":
            tbl = self._snapshot_table()
            if not tbl.versions():
                return self.spark.createDataFrame([], DOCUMENT_SCHEMA)
            if collections is not None and len(collections) == 1:
                # snapshot-stats file pruning ≙ partition pruning:
                # each store commit is single-collection, so its
                # files' collection min == max and dead files drop at
                # planning time
                return tbl.read(
                    where=[("collection", "=", list(collections)[0])]
                )
            df = tbl.read()
            if collections is not None:
                df = df.where(F.col("collection").isin(list(collections)))
            return df
        df = self.spark.read.schema(DOCUMENT_SCHEMA).parquet(self.warehouse_path)
        if collections is not None:
            # partition pruning ≙ MinIO prefix listing (main.go:186-189)
            df = df.where(F.col("collection").isin(list(collections)))
        return df

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

    def range_search(
        self,
        collection_name: str,
        query_vector: Sequence[float],
        min_similarity: float,
        where: "F.Column | str | None" = None,
    ) -> DataFrame:
        """Radius query (extension; registry row `vs_range_search`):
        ALL chunks of the collection at/above the similarity threshold
        — selection-shaped, so the result size is data-dependent and
        there is NO top-k cut anywhere in the plan (the reference API
        is top-k-only, main.go:351-367). A pure pushed-down filter
        over the scored scan; rows are ordered (doc_id, position) for
        deterministic presentation, which is the only exchange in the
        plan."""
        ch = self._candidates([collection_name], query_vector, where)
        qn = normalize_query(query_vector)
        scored = ch.withColumn("similarity", dot(F.col("embedding"), qn))
        return _search_result(
            scored.where(F.col("similarity") >= F.lit(float(min_similarity)))
        ).orderBy("doc_id", "position")

    def _check_query_dim(self, query_vector: Sequence[float]) -> None:
        if self.dim is not None and len(query_vector) != self.dim:
            raise DimensionMismatchError(
                f"query dim {len(query_vector)} != engine dim {self.dim}"
            )

    def _candidates(
        self,
        collections: Sequence[str],
        query_vector: Sequence[float],
        where: "F.Column | str | None",
    ) -> DataFrame:
        """The chunk relation a query scores: dimension-checked query,
        collection-scoped chunks, caller predicate applied."""
        self._check_query_dim(query_vector)
        ch = self.chunks(collections)
        if where is not None:
            ch = ch.where(F.expr(where) if isinstance(where, str) else where)
        return ch

    def _search_impl(
        self,
        collections: Sequence[str],
        query_vector: Sequence[float],
        top_k: int,
        where: "F.Column | str | None" = None,
        min_similarity: float | None = None,
    ) -> DataFrame:
        scored = topk_search(
            self._candidates(collections, query_vector, where),
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

    def hybrid_search(
        self,
        collection_name: str,
        terms: Sequence[str],
        query_vector: Sequence[float],
        top_k: int = 10,
        rrf_k: int = 60,
        n_cand: int = 100,
        keyword: str = "bm25",
    ) -> DataFrame:
        """Keyword + vector retrieval over one collection's chunks —
        the extension query mode the reference's data model invites
        (documents carry BOTH text and embeddings per chunk,
        main.go:30-35) but its API never exposes. Fuses the two
        signals by reciprocal rank (operators/hybrid.py) with
        ``keyword='bm25'`` (Okapi, the OpenSearch-default shape) or
        ``'tfidf'`` (cosine against the query-term vector); candidate
        lists are TakeOrdered cuts — no global sort of the corpus.

        Returns top-``top_k`` chunks as (doc_id, position,
        embedding_id, text, rank_vec, rank_kw, rrf_score) — a chunk
        absent from one signal's top-``n_cand`` list carries a null
        rank there and contributes 0 for it."""
        self._check_query_dim(query_vector)
        from nebuia_vector_db_spark.operators.hybrid import (
            rrf_search,
            rrf_search_bm25,
        )

        # chunk key: escape '\' and '#' in doc_id before joining with
        # '#', so the composition is injective for ANY doc_id — a raw
        # concat would alias e.g. doc 'a#1' pos 2 with doc 'a#1#2' if
        # positions ever carried '#' (ADVICE r9); the key is internal
        # (the output re-joins `ch` to recover doc_id/position), so
        # only injectivity matters, not decodability
        _esc = F.regexp_replace(
            F.col("doc_id").cast("string"), r"([#\\])", r"\\$1"
        )
        ch = self.chunks([collection_name]).withColumn(
            "_cid",
            F.concat_ws("#", _esc, F.col("position").cast("string")),
        )
        docs_rel = ch.select(F.col("_cid"), "text")
        emb_rel = ch.select(F.col("_cid"), "embedding")
        fn = {"bm25": rrf_search_bm25, "tfidf": rrf_search}.get(keyword)
        if fn is None:
            raise ValueError(f"unknown keyword scorer {keyword!r}")
        fused = fn(
            docs_rel,
            emb_rel,
            list(terms),
            query_vector,
            k=top_k,
            rrf_k=rrf_k,
            n_cand=n_cand,
            id_col="_cid",
            vec_id_col="_cid",
        )
        return (
            fused.join(
                ch.select(
                    "_cid", "doc_id", "position",
                    F.col("doc_name").alias("embedding_id"), "text",
                ),
                "_cid",
            )
            .select(
                "doc_id", "position", "embedding_id", "text",
                "rank_vec", "rank_kw", "rrf_score",
            )
            .orderBy(F.desc("rrf_score"), "doc_id", "position")
        )

    # ---------------------------------------------------------- stream ingest
    def store_stream(self, docs_stream: DataFrame, checkpoint: str):
        """Continuous ingest: a streaming DataFrame in DOCUMENT_SCHEMA
        shape appended to the warehouse — the streaming twin of
        store_dataframe (the reference's async fire-and-forget store,
        main.go:302-321, becomes an at-least-once micro-batch append
        with checkpointed progress — strictly stronger delivery).
        Returns the StreamingQuery; caller stops it.

        With ``table_format="snapshot"`` the ingest goes through the
        exactly-once SnapshotTable sink (atomic commits + per-writer
        batch-id watermark) instead of the file sink's loose parquet
        appends, which would bypass the snapshot log."""
        if "doc_id" not in docs_stream.columns:
            docs_stream = docs_stream.withColumn("doc_id", F.expr("uuid()"))
        if self.table_format == "snapshot":
            from nebuia_vector_db_spark.streaming.sinks import snapshot_sink

            return snapshot_sink(
                docs_stream, self.warehouse_path, checkpoint
            )
        return (
            docs_stream.writeStream.format("parquet")
            .option("path", self.warehouse_path)
            .option("checkpointLocation", checkpoint)
            .partitionBy("collection")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    # --------------------------------------------------------------- delete
    def delete_collection(self, collection_name: str) -> dict:
        """≙ POST /delete_collection (main.go:407-458): drop the
        partition (prefix delete). Synchronous (D-5).

        With ``table_format="parquet"`` this removes the partition
        directory, which matches the reference's semantics exactly: its
        prefix delete (main.go:427-452) removes objects one by one with
        NO isolation either — a concurrent reader there can also observe
        a half-deleted collection (deviation D-6 in SURVEY §1.5).

        With ``table_format="snapshot"`` the delete is transactional: an
        atomic copy-on-write SnapshotTable commit (sources/snapshot.py) —
        isolated, time-travelable until vacuum — oracle-verified by
        the ``snap_delete_read`` registry row and engine-tested by
        test_engine.py::test_snapshot_engine_transactional_delete."""
        if self.table_format == "snapshot":
            tbl = self._snapshot_table()
            if not tbl.versions():
                return {"status": "Collection deletion started", "deleted": False}
            # retried through the commit CAS: a store racing this
            # delete must not surface CommitConflictError to the
            # caller (parquet mode never fails concurrent mutations).
            # The flag comes from the delete's own commit, so other
            # writers' commits cannot flip it.
            v = tbl.with_retry(
                "delete_where", F.col("collection") == collection_name
            )
            deleted = tbl.meta("rewrote_files", v) > 0
            return {"status": "Collection deletion started", "deleted": deleted}
        path = self.spark._jvm.org.apache.hadoop.fs.Path(
            _collection_dir(self.spark, self.warehouse_path, collection_name)
        )
        fs = path.getFileSystem(self.spark._jsc.hadoopConfiguration())
        existed = fs.exists(path)
        if existed:
            fs.delete(path, True)
        return {"status": "Collection deletion started", "deleted": bool(existed)}

    # -------------------------------------------------------------- catalog
    def list_collections(self) -> list[str]:
        """≙ the implicit catalog = storage listing (SURVEY §1.3)."""
        try:
            return sorted(
                r[0]
                for r in self.documents().select("collection").distinct().collect()
            )
        except Exception:
            return []


def _collection_dir(
    spark: SparkSession, warehouse_path: str, collection_name: str
) -> str:
    """The partition directory Spark's writer stores a collection in.

    Uses Spark's own partition-path escaping (``a/b`` →
    ``collection=a%2Fb``, empty → the default partition), so the
    directory is the one ``store`` wrote, and refuses a name holding a
    NUL (no directory name can) and any result whose parent is not the
    warehouse itself."""
    if "\x00" in collection_name:
        raise ValueError(
            f"collection name {collection_name!r} holds a NUL character"
        )
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    path = os.path.join(
        warehouse_path, utils.getPartitionPathString("collection", collection_name)
    )
    if os.path.dirname(os.path.normpath(path)) != os.path.normpath(warehouse_path):
        raise ValueError(
            f"collection name {collection_name!r} maps outside the warehouse"
        )
    return path


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
