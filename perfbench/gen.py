"""Seeded input generation for the serving benchmark.

Every input a workload sends (stored vectors, document names, the
collection each request targets, query vectors) comes from
``numpy.random.default_rng([seed, stream, ...])``, so one seed always
yields the same inputs and the program under test only ever sees the
generated values.

Data model: a document has ``CHUNKS_PER_DOC`` chunks of dimension
``DIM``; document ``j`` of collection ``c`` is named ``c/dJJJJJ`` and,
where the benchmark mints the id itself, that name is also its
``doc_id``. A query is a stored chunk plus N(0, ``NOISE``²) noise.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

DIM = 64
CHUNKS_PER_DOC = 4
NOISE = 0.1
ZIPF_S = 1.1

# stream ids, one per kind of draw, so adding a draw to one stream
# never shifts another
S_CORPUS, S_REQUESTS, S_CYCLE, S_BATCH, S_SAMPLE = range(5)

_META = pa.struct([("source", pa.string()), ("name", pa.string())])


def rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), *[int(s) for s in stream]])


@dataclass
class Collection:
    """Driver-side mirror of one collection: document names and the
    (n_docs * CHUNKS_PER_DOC, DIM) float64 chunk matrix, row
    ``doc * CHUNKS_PER_DOC + (position - 1)``."""

    name: str
    doc_names: np.ndarray  # (n_docs,) str
    vecs: np.ndarray  # (n_docs * CHUNKS_PER_DOC, DIM)

    @property
    def n_chunks(self) -> int:
        return int(self.vecs.shape[0])

    def chunk_keys(self) -> tuple[np.ndarray, np.ndarray]:
        """(doc name, 1-based position) of every chunk row."""
        names = np.repeat(self.doc_names, CHUNKS_PER_DOC)
        pos = np.tile(np.arange(1, CHUNKS_PER_DOC + 1), len(self.doc_names))
        return names, pos


def gaussian_collection(
    g: np.random.Generator, name: str, n_docs: int, prefix: str = "d"
) -> Collection:
    names = np.array([f"{name}/{prefix}{j:05d}" for j in range(n_docs)])
    vecs = g.standard_normal((n_docs * CHUNKS_PER_DOC, DIM))
    return Collection(name, names, vecs)


def clustered_collection(
    g: np.random.Generator, name: str, n_docs: int, n_centres: int
) -> Collection:
    """Chunks drawn around ``n_centres`` seeded Gaussian centres (unit
    spread around centres of norm ~sqrt(DIM)*2), the shape IVF
    partitioning is built for."""
    centres = g.standard_normal((n_centres, DIM)) * 2.0
    n = n_docs * CHUNKS_PER_DOC
    which = g.integers(0, n_centres, size=n)
    vecs = centres[which] + g.standard_normal((n, DIM))
    names = np.array([f"{name}/d{j:05d}" for j in range(n_docs)])
    return Collection(name, names, vecs)


def documents_table(coll: Collection) -> pa.Table:
    """The collection in the engine's DOCUMENT_SCHEMA layout, with
    ``doc_id`` = document name."""
    n_docs = len(coll.doc_names)
    n = coll.n_chunks
    names, pos = coll.chunk_keys()
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32)),
        pa.array(coll.vecs.ravel()),
    )
    chunk_md = pa.StructArray.from_arrays(
        [pa.nulls(n, pa.string()), pa.array([f"{a}.{b}" for a, b in zip(names, pos)])],
        fields=list(_META),
    )
    chunks = pa.StructArray.from_arrays(
        [
            pa.array([f"{a}#{b}" for a, b in zip(names, pos)]),
            emb,
            chunk_md,
            pa.array(np.zeros(n)),
        ],
        names=["text", "embedding", "metadata", "semantic_score"],
    )
    doc_md = pa.StructArray.from_arrays(
        [pa.nulls(n_docs, pa.string()), pa.array(coll.doc_names)],
        fields=list(_META),
    )
    return pa.table(
        {
            "collection": pa.array([coll.name] * n_docs),
            "doc_id": pa.array(coll.doc_names),
            "text": pa.array([f"text of {d}" for d in coll.doc_names]),
            "metadata": doc_md,
            "chunks": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n + 1, CHUNKS_PER_DOC, dtype=np.int32)),
                chunks,
            ),
        }
    )


def documents_payload(coll: Collection) -> list[dict]:
    """The collection as the ``/store`` wire payload (plain Python
    dicts, ``engine.store``); the engine mints the doc ids."""
    out = []
    for j, name in enumerate(coll.doc_names):
        rows = coll.vecs[j * CHUNKS_PER_DOC : (j + 1) * CHUNKS_PER_DOC]
        out.append(
            {
                "text": f"text of {name}",
                "metadata": {"name": str(name)},
                "chunks": [
                    {
                        "text": f"{name}#{p + 1}",
                        "embedding": rows[p].tolist(),
                        "metadata": {"name": f"{name}.{p + 1}"},
                        "semantic_score": 0.0,
                    }
                    for p in range(CHUNKS_PER_DOC)
                ],
            }
        )
    return out


def noisy_query(g: np.random.Generator, coll: Collection, row: int | None = None) -> np.ndarray:
    """A stored chunk (``row``, or a random one) plus N(0, NOISE²)."""
    if row is None:
        row = int(g.integers(0, coll.n_chunks))
    return coll.vecs[row] + g.normal(0.0, NOISE, DIM)


def zipf_weights(g: np.random.Generator, n: int, s: float = ZIPF_S) -> np.ndarray:
    """Zipf(s) popularity over ``n`` items, ranks shuffled by seed."""
    w = 1.0 / np.arange(1, n + 1) ** s
    return g.permutation(w / w.sum())
