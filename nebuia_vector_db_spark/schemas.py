"""Canonical schemas (SURVEY.md §1.4).

The reference's data model is fixed Go structs serialized to JSON
(``main.go:25-75``). We declare an explicit StructType so the
zero-value semantics of missing JSON fields stay deterministic
(SURVEY.md §1.3) — never schema inference.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Metadata{source interface{}, name string} — main.go:41-44. `source`
# is schema-free JSON in the reference; we store it JSON-encoded.
METADATA_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("name", T.StringType()),
    ]
)

# ChunkData{text, embedding{vector []float64}, metadata, semantic_score}
# — main.go:30-39. `semantic_score` is stored-never-read in the
# reference (O-13); kept for fidelity.
CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
        T.StructField("metadata", METADATA_SCHEMA),
        T.StructField("semantic_score", T.DoubleType()),
    ]
)

# Document{text, metadata, chunks} — main.go:58-62 — plus our
# engine-side identity columns: `collection` (≙ MinIO key prefix,
# main.go:334) and `doc_id` (≙ server-minted UUID, main.go:330).
DOCUMENT_SCHEMA = T.StructType(
    [
        T.StructField("collection", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("metadata", METADATA_SCHEMA),
        T.StructField("chunks", T.ArrayType(CHUNK_SCHEMA)),
    ]
)
