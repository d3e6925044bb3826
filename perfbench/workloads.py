"""The benchmark's workloads, their closed loop and their metrics.

Each workload drives ``nebuia_vector_db_spark`` through its public API
from one process with one client: a request is sent only after the
previous one returned. Answers are kept and checked against the NumPy
oracle after the timed window, so checking costs no request time.

- ``serve_search``: many small collections; 70 % ``search``, 30 %
  ``multi_search`` over 4 collections, collections picked Zipf(1.1).
  Fixed per-request cost (planning, file listing, job launch) dominates.
- ``ingest_rw``: a snapshot-format warehouse; each cycle stores a batch
  of documents into the next collection and searches it three times,
  the first search for a chunk just stored (read-your-writes). Every
  ``scratch_every``-th cycle also stores into and deletes a scratch
  collection.
- ``batch_knn``: one clustered collection behind a deterministic IVF
  index; each request sends one query batch through exact
  ``knn_join(method="arrow")`` and through ``IVFIndex.search_batch``.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

import gen
import oracle
import probes
from tracing import OFF, JobCounter, instrument_snapshot

from nebuia_vector_db_spark.engine import VectorEngine
from nebuia_vector_db_spark.operators.ann import (
    build_ivf_index_deterministic,
    load_ivf_index,
    save_ivf_index,
)
from nebuia_vector_db_spark.operators.topk import knn_join

K = 10

SIZES = {
    "full": {
        "serve_search": {"collections": 16, "docs": 2000, "setup_reps": 2, "warmup": 4},
        "ingest_rw": {
            "collections": 8, "docs": 500, "store_docs": 64, "scratch_docs": 16,
            "scratch_every": 10, "setup_reps": 2, "warmup": 1,
        },
        "batch_knn": {
            "docs": 4096, "centres": 128, "cells": 64, "nprobe": 2,
            "sample": 4096, "batch": 256, "setup_reps": 2, "warmup": 1,
        },
    },
    # a few seconds per workload, for the self-tests
    "tiny": {
        "serve_search": {"collections": 4, "docs": 20, "setup_reps": 1, "warmup": 1},
        "ingest_rw": {
            "collections": 3, "docs": 20, "store_docs": 4, "scratch_docs": 2,
            "scratch_every": 2, "setup_reps": 1, "warmup": 1,
        },
        "batch_knn": {
            "docs": 256, "centres": 16, "cells": 8, "nprobe": 2,
            "sample": 512, "batch": 16, "setup_reps": 1, "warmup": 1,
        },
    },
}

# gated end-to-end metrics, reported by every workload (BENCHMARK.json).
# Latency, throughput and CPU per request are measured and printed but
# not gated: on a shared host, co-tenant load moves them by more than
# the largest bound a gate may have from one run to the next.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("peak_pss_mb", "MB", "lower"),
    ("bytes_stored_per_user_byte", "ratio", "lower"),
]

OPS = ["search", "multi_search", "store", "delete_collection", "knn_join", "ann_search"]
SELF_LAYERS = ["request", "engine", "snapshot", "topk", "ann"]

PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("engine.search.plan_ms", "ms", "lower"),
    ("engine.search.exec_ms", "ms", "lower"),
    ("engine.multi_search.plan_ms", "ms", "lower"),
    ("engine.multi_search.exec_ms", "ms", "lower"),
    ("engine.store_ms", "ms", "lower"),
    ("engine.delete_collection_ms", "ms", "lower"),
    ("engine.files_per_search", "count", "lower"),
    *[
        (f"spark.{what}_per_request.{op}", "count", "lower")
        for what in ("jobs", "stages", "tasks")
        for op in OPS
    ],
    ("spark.failed_tasks", "count", "lower"),
    ("snapshot.commit_ms", "ms", "lower"),
    ("snapshot.read_plan_ms", "ms", "lower"),
    ("snapshot.commit_retries", "count", "lower"),
    ("snapshot.live_files", "count", "lower"),
    ("snapshot.bytes_on_disk", "bytes", "lower"),
    ("topk.knn_join_s_per_batch", "s", "lower"),
    ("ann.build_s", "s", "lower"),
    ("ann.route_ms_per_batch", "ms", "lower"),
    ("ann.search_batch_s_per_batch", "s", "lower"),
    ("ann.scan_fraction", "ratio", "lower"),
    ("ann.files_per_batch", "count", "lower"),
    ("vector.arrow_to_matrix_ms", "ms", "lower"),
    ("vector.gemm_ms", "ms", "lower"),
    ("vector.gemm_gflop", "GFLOP", "lower"),
    ("vector.gemm_mb_moved", "MB", "lower"),
    *[(f"self_ms_per_request.{layer}", "ms", "lower") for layer in SELF_LAYERS],
    ("trace.overhead_p50_frac", "ratio", "lower"),
    ("trace.overhead_mean_frac", "ratio", "lower"),
]


@dataclass
class Ctx:
    spark: object
    work: str  # scratch root for warehouses, inside the checkout
    seed: int
    seconds: float
    size: dict
    tracer: object = OFF  # tracing.Tracer in the traced pass
    jobs: JobCounter | None = None


def ms(seconds: float) -> float:
    return seconds * 1e3


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Loop:
    """One closed-loop client. ``op`` times one call; in the traced pass
    every other request of each kind runs traced, so the untraced half
    measures the tracing overhead within the same run."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.lat_traced: dict[str, list[float]] = defaultdict(list)
        self.requests: dict[str, list[float]] = defaultdict(list)
        self.requests_traced: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.traced = False
        self._kinds: dict[str, int] = defaultdict(int)
        self._rid = -1
        self._kind = ""
        self._seq = 0

    def new_request(self, kind: str) -> None:
        self._rid += 1
        self._kind = kind
        tr = self.ctx.tracer
        if tr is not OFF:
            self.traced = self._kinds[kind] % 2 == 0
            tr.enabled = self.traced
            tr.request = self._rid
        self._kinds[kind] += 1

    def end_request(self, seconds: float) -> None:
        (self.requests_traced if self.traced else self.requests)[self._kind].append(seconds)

    def op(self, name: str, fn, request: bool = True):
        """Run ``fn`` as operation ``name``; None if it raised."""
        if request:
            self.new_request(name)
        self.attempted += 1
        jobs = self.ctx.jobs.request(self._seq, name) if self.traced else contextlib.nullcontext()
        self._seq += 1
        out = None
        t0 = time.perf_counter()
        try:
            with jobs, self.ctx.tracer.span(f"request.{name}"):
                out = fn()
        except Exception:
            self.fail(f"{name} raised:\n{traceback.format_exc()}")
        dt = time.perf_counter() - t0
        (self.lat_traced if self.traced else self.lat)[name].append(dt)
        if request:
            self.end_request(dt)
        return out

    def fail(self, reason: str) -> None:
        self.failed += 1
        if len(self.failures) < 5:
            self.failures.append(reason)
            print(f"perfbench: FAILED {reason}", file=sys.stderr)

    def all_requests(self) -> list[float]:
        return [x for xs in self.requests.values() for x in xs]


class Workload:
    name = ""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.size = ctx.size
        self.dirs: list[str] = []
        self._n = 0

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        path = os.path.join(self.ctx.work, f"{self.name}-{tag}-{self._n}")
        self.dirs.append(path)
        return path

    def teardown(self) -> None:
        for d in self.dirs:
            shutil.rmtree(d, ignore_errors=True)
        self.dirs = []

    def rng(self, *stream: int) -> np.random.Generator:
        return gen.rng(self.ctx.seed, *stream)

    def store_table(self, eng: VectorEngine, table: pa.Table) -> None:
        eng.store_dataframe(self.ctx.spark.createDataFrame(table))

    # the rest is per workload
    def setup(self) -> None: ...
    def run(self, loop: Loop, deadline: float) -> None: ...
    def verify(self, loop: Loop) -> None: ...
    def user_bytes(self) -> int: ...
    def extras(self, loop: Loop) -> dict: ...
    def layer_extras(self) -> dict: ...


def _text_bytes(coll: gen.Collection) -> int:
    names, pos = coll.chunk_keys()
    doc = sum(len(f"text of {d}".encode()) for d in coll.doc_names)
    return doc + sum(len(f"{a}#{b}".encode()) for a, b in zip(names, pos))


def _user_bytes(colls) -> int:
    return sum(c.vecs.size * 8 + _text_bytes(c) for c in colls)


def _rows(rows) -> list[tuple[str, int, float, str]]:
    return [(r.embedding_id, r.position, r.similarity, r.collection_name) for r in rows]


def _scanned_files(df, collection: str) -> int:
    files = df.inputFiles()
    part = [f for f in files if f"/collection={collection}/" in f]
    return len(part) if any("/collection=" in f for f in files) else len(files)


def _check_rows(got, want: oracle.Expected, allowed: set[str]) -> str | None:
    bad = {c for *_, c in got} - allowed
    if bad:
        return f"rows from collections {sorted(bad)}"
    return oracle.check([(d, p, s) for d, p, s, _ in got], want)


def _concat(colls: list[gen.Collection]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    keys = [c.chunk_keys() for c in colls]
    return (
        np.concatenate([k[0] for k in keys]),
        np.concatenate([k[1] for k in keys]),
        np.concatenate([c.vecs for c in colls]),
    )


def _search_call(tracer, eng: VectorEngine, op: str, colls: list[str], q: np.ndarray):
    with tracer.span(f"engine.{op}.plan"):
        if op == "search":
            df = eng.search(colls[0], q.tolist(), K)
        else:
            df = eng.multi_search(colls, q.tolist(), K)
    with tracer.span(f"engine.{op}.exec"):
        rows = df.collect()
    return df, _rows(rows)


# --------------------------------------------------------------------------
class ServeSearch(Workload):
    name = "serve_search"

    def setup(self) -> None:
        g = self.rng(gen.S_CORPUS)
        self.colls = [
            gen.gaussian_collection(g, f"c{i:02d}", self.size["docs"])
            for i in range(self.size["collections"])
        ]
        self.keys = [c.chunk_keys() for c in self.colls]
        self.weights = gen.zipf_weights(self.rng(gen.S_REQUESTS), len(self.colls))
        self.wh = self.fresh_dir("wh")
        self.eng = VectorEngine(self.ctx.spark, self.wh, dim=gen.DIM)
        self.store_table(self.eng, pa.concat_tables(gen.documents_table(c) for c in self.colls))
        for i in range(self.size["warmup"]):
            op, idx, q = self.request(1, i)
            _search_call(OFF, self.eng, op, [self.colls[j].name for j in idx], q)

    def request(self, stream: int, i: int) -> tuple[str, list[int], np.ndarray]:
        g = self.rng(gen.S_REQUESTS, stream, i)
        n = len(self.colls)
        if g.random() < 0.7:
            idx = [int(g.choice(n, p=self.weights))]
        else:
            idx = [int(j) for j in g.choice(n, size=min(4, n), replace=False, p=self.weights)]
        src = self.colls[idx[int(g.integers(len(idx)))]]
        return ("search" if len(idx) == 1 else "multi_search"), idx, gen.noisy_query(g, src)

    def run(self, loop: Loop, deadline: float) -> None:
        tracer = self.ctx.tracer
        self.done = []
        self.files: list[int] = []
        i = 0
        while time.perf_counter() < deadline:
            op, idx, q = self.request(0, i)
            i += 1
            names = [self.colls[j].name for j in idx]
            out = loop.op(op, lambda: _search_call(tracer, self.eng, op, names, q))
            if out is None:
                continue
            df, got = out
            if loop.traced and op == "search":
                self.files.append(_scanned_files(df, names[0]))
            self.done.append((idx, q, got))

    def verify(self, loop: Loop) -> None:
        for idx, q, got in self.done:
            names, pos, mat = _concat([self.colls[j] for j in idx])
            want = oracle.topk(names, pos, mat, q, K)
            why = _check_rows(got, want, {self.colls[j].name for j in idx})
            if why:
                loop.fail(f"{'search' if len(idx) == 1 else 'multi_search'}: {why}")

    def user_bytes(self) -> int:
        return _user_bytes(self.colls)

    def extras(self, loop: Loop) -> dict:
        return op_latencies(loop, ["search", "multi_search"])

    def layer_extras(self) -> dict:
        return {"engine.files_per_search": (mean(self.files), "count")}


# --------------------------------------------------------------------------
class IngestRW(Workload):
    name = "ingest_rw"

    def setup(self) -> None:
        g = self.rng(gen.S_CORPUS)
        seed_colls = [
            gen.gaussian_collection(g, f"h{i}", self.size["docs"])
            for i in range(self.size["collections"])
        ]
        self.names = [c.name for c in seed_colls]
        self.parts: dict[str, list[gen.Collection]] = {c.name: [c] for c in seed_colls}
        self.wh = self.fresh_dir("wh")
        self.eng = VectorEngine(self.ctx.spark, self.wh, dim=gen.DIM, table_format="snapshot")
        self.store_table(self.eng, pa.concat_tables(gen.documents_table(c) for c in seed_colls))
        warm = Loop(Ctx(self.ctx.spark, self.ctx.work, self.ctx.seed, 0, self.size))
        self.done = []
        for i in range(self.size["warmup"]):
            self.cycle(warm, 1, i)
        self.verify(warm)
        if warm.failed:
            raise RuntimeError(f"ingest_rw warm-up failed: {warm.failures[0]}")

    def cycle(self, loop: Loop, stream: int, i: int) -> None:
        tracer, eng = loop.ctx.tracer, self.eng
        g = self.rng(gen.S_CYCLE, stream, i)
        hot = self.names[i % len(self.names)]
        new = gen.gaussian_collection(g, hot, self.size["store_docs"], prefix=f"w{stream}-{i:05d}-")
        payload = gen.documents_payload(new)

        def store(coll, docs):
            with tracer.span("engine.store"):
                return eng.store(coll, docs)

        if loop.op("store", lambda: store(hot, payload)) is None:
            return
        self.parts[hot].append(new)
        n_parts = len(self.parts[hot])
        total = sum(p.n_chunks for p in self.parts[hot])
        for j in range(3):
            if j == 0:  # read-your-writes: a chunk just stored must rank first
                row = int(g.integers(new.n_chunks))
                q = gen.noisy_query(g, new, row)
                first = (str(new.doc_names[row // gen.CHUNKS_PER_DOC]), row % gen.CHUNKS_PER_DOC + 1)
            else:
                row, first = int(g.integers(total)), None
                for p in self.parts[hot]:
                    if row < p.n_chunks:
                        q = gen.noisy_query(g, p, row)
                        break
                    row -= p.n_chunks
            out = loop.op("search", lambda: _search_call(tracer, eng, "search", [hot], q))
            if out is None:
                continue
            df, got = out
            if loop.traced:
                self.files.append(_scanned_files(df, hot))
            self.done.append((hot, n_parts, q, first, got))
        if i % self.size["scratch_every"] == 0:
            scratch = gen.gaussian_collection(g, "scratch", self.size["scratch_docs"], prefix=f"s{stream}-{i:05d}-")
            payload = gen.documents_payload(scratch)
            loop.op("store", lambda: store("scratch", payload))

            def delete():
                with tracer.span("engine.delete_collection"):
                    return eng.delete_collection("scratch")

            res = loop.op("delete_collection", delete)
            if res is not None and not res.get("deleted"):
                loop.fail("delete_collection: scratch collection not deleted")

    def run(self, loop: Loop, deadline: float) -> None:
        self.done = []
        self.files: list[int] = []
        i = 0
        while time.perf_counter() < deadline:
            self.cycle(loop, 0, i)
            i += 1

    def verify(self, loop: Loop) -> None:
        cache = {}
        for hot, n_parts, q, first, got in self.done:
            key = (hot, n_parts)
            if key not in cache:
                cache[key] = _concat(self.parts[hot][:n_parts])
            want = oracle.topk(*cache[key], q, K)
            why = _check_rows(got, want, {hot})
            if why is None and first is not None and (not got or got[0][:2] != first):
                why = f"stored chunk {first} is not the top-1 result"
            if why:
                loop.fail(f"search: {why}")

    def user_bytes(self) -> int:
        return _user_bytes([p for ps in self.parts.values() for p in ps])

    def extras(self, loop: Loop) -> dict:
        return op_latencies(loop, ["search", "store", "delete_collection"])

    def layer_extras(self) -> dict:
        from nebuia_vector_db_spark.sources.snapshot import SnapshotTable

        return {
            "engine.files_per_search": (mean(self.files), "count"),
            "snapshot.live_files": (SnapshotTable(self.ctx.spark, self.wh).n_files(), "count"),
            "snapshot.bytes_on_disk": (probes.dir_bytes(self.wh), "bytes"),
        }


# --------------------------------------------------------------------------
class BatchKnn(Workload):
    name = "batch_knn"

    def setup(self) -> None:
        sz = self.size
        self.corpus = gen.clustered_collection(self.rng(gen.S_CORPUS), "corpus", sz["docs"], sz["centres"])
        self.names, self.pos = self.corpus.chunk_keys()
        self.row_of = {str(d): j for j, d in enumerate(self.corpus.doc_names)}
        self.wh = self.fresh_dir("wh")
        self.ivf_dir = self.fresh_dir("ivf")
        eng = VectorEngine(self.ctx.spark, self.wh, dim=gen.DIM)
        self.store_table(eng, gen.documents_table(self.corpus))
        self.corpus_df = eng.chunks(["corpus"]).select("doc_id", "position", "embedding")
        sample = self.rng(gen.S_SAMPLE).choice(
            self.corpus.n_chunks, size=min(sz["sample"], self.corpus.n_chunks), replace=False
        )
        t = time.perf_counter()
        built = build_ivf_index_deterministic(
            self.corpus_df, sz["cells"], self.corpus.vecs[np.sort(sample)], seed=self.ctx.seed
        )
        save_ivf_index(built, self.ivf_dir)
        self.index = load_ivf_index(self.ctx.spark, self.ivf_dir)
        self.build_s = time.perf_counter() - t
        warm = Loop(Ctx(self.ctx.spark, self.ctx.work, self.ctx.seed, 0, self.size))
        for b in range(sz["warmup"]):
            self.batch(warm, 1, b)
        if warm.failed:
            raise RuntimeError(f"batch_knn warm-up failed: {warm.failures[0]}")

    def queries(self, stream: int, b: int) -> np.ndarray:
        g = self.rng(gen.S_BATCH, stream, b)
        rows = g.integers(0, self.corpus.n_chunks, size=self.size["batch"])
        return self.corpus.vecs[rows] + g.normal(0.0, gen.NOISE, (len(rows), gen.DIM))

    def batch(self, loop: Loop, stream: int, b: int):
        tracer, spark, nprobe = loop.ctx.tracer, self.ctx.spark, self.size["nprobe"]
        qs = self.queries(stream, b)
        loop.new_request("batch")
        t0 = time.perf_counter()
        qdf = spark.createDataFrame(
            [(i, q.tolist()) for i, q in enumerate(qs)], "query_id long, query_vec array<double>"
        )

        def exact():
            with tracer.span("topk.knn_join"):
                df = knn_join(qdf, self.corpus_df, k=K, tie_cols=["doc_id", "position"], method="arrow")
                return _per_query(df.collect(), len(qs))

        def approx():
            with tracer.span("ann.search_batch"):
                df = self.index.search_batch(qdf, K, nprobe, tie_cols=["doc_id", "position"])
                return _per_query(df.collect(), len(qs))

        got_exact = loop.op("knn_join", exact, request=False)
        got_approx = loop.op("ann_search", approx, request=False)
        loop.end_request(time.perf_counter() - t0)
        if loop.traced:
            self.route(tracer, qs)
        return qs, got_exact, got_approx

    def route(self, tracer, qs: np.ndarray) -> None:
        """The per-batch routing cost and the scan it leads to."""
        t = time.perf_counter()
        with tracer.span("ann.route"):
            cells = {c for q in qs for c in self.index.probe_cells(q.tolist(), self.size["nprobe"])}
        self.route_s.append(time.perf_counter() - t)
        self.scan.append(sum(self.cell_rows.get(c, 0) for c in cells) / self.corpus.n_chunks)
        self.cell_files.append(sum(self.files_in_cell.get(c, 0) for c in cells))

    def run(self, loop: Loop, deadline: float) -> None:
        self.done = []
        self.route_s: list[float] = []
        self.scan: list[float] = []
        self.cell_files: list[int] = []
        if loop.ctx.tracer is not OFF:
            self.cell_rows = {
                int(r[0]): int(r[1])
                for r in self.index.assigned.groupBy("ivf_cell").count().collect()
            }
            cells_dir = os.path.join(self.ivf_dir, "cells")
            self.files_in_cell = {
                int(d.split("=", 1)[1]): sum(f.endswith(".parquet") for f in os.listdir(os.path.join(cells_dir, d)))
                for d in os.listdir(cells_dir)
                if d.startswith("ivf_cell=")
            }
        b = 0
        while time.perf_counter() < deadline:
            self.done.append(self.batch(loop, 0, b))
            b += 1

    def verify(self, loop: Loop) -> None:
        self.recalls: list[float] = []
        for qs, got_exact, got_approx in self.done:
            sims = oracle.similarities(self.corpus.vecs, qs)  # (n, B)
            exact_ok, wants = [], []
            if got_exact is not None:
                bad = None
                for i in range(len(qs)):
                    want = oracle.rank(self.names, self.pos, sims[:, i], K)
                    why = oracle.check(got_exact[i], want)
                    wants.append(want)
                    exact_ok.append(why is None)
                    bad = bad or (why and f"query {i}: {why}")
                if bad:
                    loop.fail(f"knn_join: {bad}")
            if got_approx is None:
                continue
            bad = None
            for i in range(len(qs)):
                rows = got_approx[i]
                keys = [(d, p) for d, p, _ in rows]
                if len(rows) > K or len(set(keys)) != len(keys):
                    bad = bad or f"query {i}: {len(rows)} rows, {len(set(keys))} distinct"
                for d, p, s in rows:
                    r = self.row_of.get(d)
                    true = sims[r * gen.CHUNKS_PER_DOC + p - 1, i] if r is not None else None
                    if true is None or abs(true - s) > oracle.TOL:
                        bad = bad or f"query {i}: {(d, p)} similarity {s!r}, want {true!r}"
                if exact_ok and exact_ok[i]:
                    self.recalls.append(oracle.recall(wants[i].keys, keys))
            if bad:
                loop.fail(f"ann_search: {bad}")

    def user_bytes(self) -> int:
        return _user_bytes([self.corpus])

    def extras(self, loop: Loop) -> dict:
        out = op_latencies(loop, ["knn_join", "ann_search"])
        nq = self.size["batch"]
        for op in ("knn_join", "ann_search"):
            busy = sum(loop.lat[op])
            name = "knn" if op == "knn_join" else "ann"
            out[f"{name}_queries_per_s"] = (nq * len(loop.lat[op]) / busy if busy else 0.0, "1/s")
        out["ann_recall_at_10"] = (mean(self.recalls), "ratio")
        return out

    def layer_extras(self) -> dict:
        from nebuia_vector_db_spark.functions.vector import arrow_list_to_matrix

        out = {
            "ann.build_s": (self.build_s, "s"),
            "ann.route_ms_per_batch": (ms(median(self.route_s)), "ms"),
            "ann.scan_fraction": (mean(self.scan), "ratio"),
            "ann.files_per_batch": (mean(self.cell_files), "count"),
        }
        # one Arrow batch of the stored corpus, as the scoring kernels see it
        import pyarrow.dataset as ds

        stored = (
            ds.dataset(os.path.join(self.ivf_dir, "cells"), format="parquet", partitioning="hive")
            .to_table(columns=["embedding"])
            .column("embedding")
        )
        # the scoring kernels see Arrow batches of this many rows; a
        # corpus smaller than one batch is repeated to fill it
        n = int(self.ctx.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        col = pa.concat_arrays(stored.chunks * -(-n // len(stored))).slice(0, n)
        qs = self.queries(2, 0)
        qmat = qs / np.linalg.norm(qs, axis=1, keepdims=True)
        conv, gemm = [], []
        for _ in range(5):
            t = time.perf_counter()
            mat = arrow_list_to_matrix(col)
            conv.append(time.perf_counter() - t)
            t = time.perf_counter()
            mat.astype(np.float64, copy=False) @ qmat.T
            gemm.append(time.perf_counter() - t)
        b, d = qmat.shape
        out["vector.arrow_to_matrix_ms"] = (ms(median(conv)), "ms")
        out["vector.gemm_ms"] = (ms(median(gemm)), "ms")
        out["vector.gemm_gflop"] = (2.0 * n * d * b / 1e9, "GFLOP")
        out["vector.gemm_mb_moved"] = (8.0 * (n * d + b * d + n * b) / 1e6, "MB")
        return out


def _per_query(rows, n: int) -> list[list[tuple[str, int, float]]]:
    out: list[list] = [[] for _ in range(n)]
    for r in sorted(rows, key=lambda r: (r.query_id, r.rk)):
        out[r.query_id].append((r.doc_id, r.position, r.similarity))
    return out


def mean(xs) -> float:
    return float(np.mean(xs)) if len(xs) else 0.0


def op_latencies(loop: Loop, ops: list[str]) -> dict:
    out = {}
    for op in ops:
        xs = loop.lat.get(op, [])
        out[f"{op}_p50_ms"] = (ms(median(xs)), "ms")
        out[f"{op}_samples"] = (len(xs), "count")
    return out


WORKLOADS = {w.name: w for w in (ServeSearch, IngestRW, BatchKnn)}


# --------------------------------------------------------------------------
def run(name: str, ctx: Ctx, session_start_s: float) -> dict:
    """Set up ``setup_reps`` times, measure for ``ctx.seconds`` with a
    closed loop, check every answer, and return the metrics."""
    wl = WORKLOADS[name](ctx)
    tracer = ctx.tracer
    if tracer is not OFF:
        tracer.enabled = False  # set-up is timed, not traced
    setups = []
    for _ in range(ctx.size["setup_reps"]):
        wl.teardown()
        t = time.perf_counter()
        wl.setup()
        setups.append(time.perf_counter() - t)
    loop = Loop(ctx)
    traced = tracer is not OFF
    with instrument_snapshot(tracer) if traced else contextlib.nullcontext():
        cpu0 = probes.tree_cpu_seconds(os.getpid())
        t0 = time.perf_counter()
        wl.run(loop, t0 + ctx.seconds)
        wall = time.perf_counter() - t0
        cpu = probes.tree_cpu_seconds(os.getpid()) - cpu0
    if traced:
        tracer.enabled = False
    wl.verify(loop)
    requests = loop.all_requests()
    n_req = len(requests) + sum(len(x) for x in loop.requests_traced.values())
    e2e = {
        "setup_s": (session_start_s + median(setups), "s"),
        "request_p50_ms": (ms(median(requests)), "ms"),
        "requests_per_s": (n_req / wall, "1/s"),
        "cpu_ms_per_request": (ms(cpu) / max(1, n_req), "ms"),
        "bytes_stored_per_user_byte": (
            sum(probes.dir_bytes(d) for d in wl.dirs) / wl.user_bytes(),
            "ratio",
        ),
        "failed_frac": (loop.failed / max(1, loop.attempted), "ratio"),
        "requests": (n_req, "count"),
    }
    e2e.update(wl.extras(loop))
    out = {
        "e2e": e2e,
        "setup_runs_s": setups,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "failures": loop.failures,
        "samples": {op: len(xs) + len(loop.lat_traced.get(op, [])) for op, xs in loop.lat.items()},
        # untraced latencies, so runs can be pooled for tail percentiles
        "latency_ms": {
            "request": [ms(x) for x in requests],
            **{op: [ms(x) for x in xs] for op, xs in loop.lat.items()},
        },
    }
    if traced:
        out["layers"] = layer_metrics(wl, loop, session_start_s)
    wl.teardown()
    return out


def layer_metrics(wl: Workload, loop: Loop, session_start_s: float) -> dict:
    tracer, units = wl.ctx.tracer, {n: u for n, u, _ in PER_LAYER}
    m = {n: 0.0 for n, _, _ in PER_LAYER}
    m["session.start_s"] = session_start_s
    for span, metric in (
        ("engine.search.plan", "engine.search.plan_ms"),
        ("engine.search.exec", "engine.search.exec_ms"),
        ("engine.multi_search.plan", "engine.multi_search.plan_ms"),
        ("engine.multi_search.exec", "engine.multi_search.exec_ms"),
        ("engine.store", "engine.store_ms"),
        ("engine.delete_collection", "engine.delete_collection_ms"),
        ("snapshot.commit", "snapshot.commit_ms"),
        ("snapshot.read_plan", "snapshot.read_plan_ms"),
    ):
        m[metric] = ms(median(tracer.durations(span)))
    m["topk.knn_join_s_per_batch"] = median(tracer.durations("topk.knn_join"))
    m["ann.search_batch_s_per_batch"] = median(tracer.durations("ann.search_batch"))
    m["snapshot.commit_retries"] = tracer.counts["snapshot.commit_attempts"] - tracer.counts["snapshot.commits"]
    per_op, failed = wl.ctx.jobs.totals()
    for op, acc in per_op.items():
        for what in ("jobs", "stages", "tasks"):
            m[f"spark.{what}_per_request.{op}"] = acc[what] / acc["requests"]
    m["spark.failed_tasks"] = failed
    n_traced = sum(len(x) for x in loop.requests_traced.values())
    for layer, secs in tracer.self_times().items():
        if layer in SELF_LAYERS:
            m[f"self_ms_per_request.{layer}"] = ms(secs) / max(1, n_traced)
    # tracing overhead: traced vs untraced halves of each request kind
    base = {"p50": [0.0, 0.0], "mean": [0.0, 0.0]}
    for kind, un in loop.requests.items():
        tr = loop.requests_traced.get(kind, [])
        if not un or not tr:
            continue
        w = len(un) + len(tr)
        base["p50"][0] += w * median(tr)
        base["p50"][1] += w * median(un)
        base["mean"][0] += w * mean(tr)
        base["mean"][1] += w * mean(un)
    for stat, (traced, untraced) in base.items():
        m[f"trace.overhead_{stat}_frac"] = traced / untraced - 1.0 if untraced else 0.0
    for name, (value, _) in wl.layer_extras().items():
        m[name] = value
    return {n: (float(v), units[n]) for n, v in m.items()}
