"""IVF index (operators/ann.py): exactness at full probe, recall and
scan-fraction at partial probe.

The tests that take ``on_route`` run on the driver route and again, in
``TestSparkRoute``, on the Spark (``mapInArrow``) one."""

from __future__ import annotations

import inspect
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from nebuia_vector_db_spark.operators.ann import (
    IVFIndex,
    _cell_queries,
    _select_cells,
    build_ivf_index,
    recall_at_k_batch,
)
from nebuia_vector_db_spark.operators.topk import topk_search
from nebuia_vector_db_spark.sources.registry import load_table


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_full_probe_equals_exact(spark, sf_smoke):
    emb = _emb(spark, sf_smoke)
    index = build_ivf_index(emb, n_cells=4)
    q = [float(x) for x in emb.where(F.col("vec_id") == 5).head()["embedding"]]
    exact = [
        (r["vec_id"], round(r["similarity"], 9))
        for r in topk_search(emb, q, 10, tie_cols=["vec_id"]).collect()
    ]
    approx = [
        (r["vec_id"], round(r["similarity"], 9))
        for r in index.search(q, 10, nprobe=index.n_cells, tie_cols=["vec_id"]).collect()
    ]
    assert exact == approx


def test_partial_probe_recall_and_pruning(spark, sf_oracle):
    emb = _emb(spark, sf_oracle).cache()
    index = build_ivf_index(emb, n_cells=8)
    q = [float(x) for x in emb.where(F.col("vec_id") == 11).head()["embedding"]]

    # pruning actually prunes: candidate set < corpus
    cells = index.probe_cells(q, nprobe=2)
    n_total = emb.count()
    n_cand = index.assigned.where(F.col("ivf_cell").isin(cells)).count()
    assert 0 < n_cand < n_total

    # probing more cells can only improve recall; full probe is 1.0
    r2 = recall_at_k_batch(index, emb, [q], k=10, nprobe=2)
    r_full = recall_at_k_batch(index, emb, [q], k=10, nprobe=index.n_cells)
    assert 0.0 <= r2 <= r_full == 1.0
    # the query's own cell is probed first → its exact NN (itself) found
    assert r2 >= 0.1


def test_cell_assignment_covers_corpus(spark, sf_smoke):
    emb = _emb(spark, sf_smoke)
    index = build_ivf_index(emb, n_cells=4)
    assert index.assigned.where(F.col("ivf_cell").isNull()).count() == 0
    cells = {r[0] for r in index.assigned.select("ivf_cell").distinct().collect()}
    assert cells <= set(range(index.n_cells))


def test_saved_ivf_index_search_prunes_partitions(spark, sf_oracle, tmp_path_factory):
    """Persisted index: the nprobe cell filter must reach the scan as a
    PartitionFilter (only probed cells' files read) and return the same
    rows as the in-memory index."""
    from nebuia_vector_db_spark.operators.ann import (
        build_ivf_index,
        load_ivf_index,
        save_ivf_index,
    )
    from nebuia_vector_db_spark.plans.inspect import explain_str
    from nebuia_vector_db_spark.sources.registry import load_table

    emb = load_table(spark, sf_oracle, "embeddings")
    idx = build_ivf_index(emb, n_cells=8)
    path = str(tmp_path_factory.mktemp("ivf_idx"))
    save_ivf_index(idx, path)
    loaded = load_ivf_index(spark, path)
    assert (loaded.centroids == idx.centroids).all()

    q = [0.125] * 64
    got = loaded.search(q, 5, nprobe=2, tie_cols=["vec_id"])
    plan = explain_str(got)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "ivf_cell" in m.group(1), plan
    want = {
        r["vec_id"] for r in idx.search(q, 5, nprobe=2, tie_cols=["vec_id"]).collect()
    }
    assert {r["vec_id"] for r in got.collect()} == want


def test_saved_cells_hold_one_file_per_cell(spark, sf_oracle, tmp_path, on_route):
    """save_ivf_index writes each cell as one parquet file, whatever the
    corpus partitioning, and append_to_ivf_index adds at most one file
    to each cell it touches."""
    from nebuia_vector_db_spark.operators.ann import (
        append_to_ivf_index,
        save_ivf_index,
    )

    emb = _emb(spark, sf_oracle)
    part_a = emb.where(F.col("vec_id") % 5 != 0).repartition(4)
    part_b = emb.where(F.col("vec_id") % 5 == 0).repartition(4)
    path = tmp_path / "ivf"

    def files_per_cell():
        return {
            d.name: len(list(d.glob("*.parquet")))
            for d in (path / "cells").glob("ivf_cell=*")
        }

    save_ivf_index(build_ivf_index(part_a, n_cells=8), str(path))
    saved = files_per_cell()
    assert len(saved) == 8 and set(saved.values()) == {1}, saved

    append_to_ivf_index(spark, str(path), part_b)
    added = {c: n - saved.get(c, 0) for c, n in files_per_cell().items()}
    assert set(added.values()) <= {0, 1} and sum(added.values()) > 0, added


def test_assign_to_cells_matches_mllib_transform(spark, sf_oracle, on_route):
    """Our broadcast-GEMM assignment (the append path) must agree with
    MLlib's model.transform (the build path) — otherwise append and
    rebuild would route the same vector differently."""
    from nebuia_vector_db_spark.operators.ann import assign_to_cells

    emb = _emb(spark, sf_oracle)
    index = build_ivf_index(emb, n_cells=8)
    ours = {
        r["vec_id"]: r["ivf_cell"]
        for r in on_route(assign_to_cells(emb, index.centroids))
        .select("vec_id", "ivf_cell")
        .collect()
    }
    mllib = {
        r["vec_id"]: r["ivf_cell"]
        for r in index.assigned.select("vec_id", "ivf_cell").collect()
    }
    assert ours == mllib


def test_append_equals_full_rebuild(spark, sf_oracle, tmp_path_factory):
    """VERDICT r2 #6 round trip: save(assign(A)) + append(B) must hold
    exactly the same cell contents as save(assign(A∪B)) with the same
    centroids, and searches over both must match."""
    from nebuia_vector_db_spark.operators.ann import (
        IVFIndex,
        append_to_ivf_index,
        assign_to_cells,
        save_ivf_index,
    )

    emb = _emb(spark, sf_oracle).cache()
    part_a = emb.where(F.col("vec_id") % 5 != 0)
    part_b = emb.where(F.col("vec_id") % 5 == 0)
    assert part_b.count() > 0

    # centroids trained once on part A (the "yesterday" corpus)
    base = build_ivf_index(part_a, n_cells=8)

    inc_path = str(tmp_path_factory.mktemp("ivf_inc"))
    full_path = str(tmp_path_factory.mktemp("ivf_full"))
    save_ivf_index(base, inc_path)
    appended = append_to_ivf_index(spark, inc_path, part_b)

    full = IVFIndex(
        assign_to_cells(emb, base.centroids), base.centroids, "embedding"
    )
    save_ivf_index(full, full_path)
    from nebuia_vector_db_spark.operators.ann import load_ivf_index

    reloaded_full = load_ivf_index(spark, full_path)

    rows_inc = sorted(
        (r["vec_id"], r["ivf_cell"])
        for r in appended.assigned.select("vec_id", "ivf_cell").collect()
    )
    rows_full = sorted(
        (r["vec_id"], r["ivf_cell"])
        for r in reloaded_full.assigned.select("vec_id", "ivf_cell").collect()
    )
    assert rows_inc == rows_full
    assert len(rows_inc) == emb.count()

    q = [float(x) for x in emb.where(F.col("vec_id") == 5).head()["embedding"]]
    res_inc = [
        (r["vec_id"], round(r["similarity"], 9))
        for r in appended.search(q, 10, nprobe=3, tie_cols=["vec_id"]).collect()
    ]
    res_full = [
        (r["vec_id"], round(r["similarity"], 9))
        for r in reloaded_full.search(q, 10, nprobe=3, tie_cols=["vec_id"]).collect()
    ]
    assert res_inc == res_full
    emb.unpersist()


def test_search_batch_full_probe_equals_knn_join(spark, sf_oracle, on_route):
    """nprobe == n_cells: batch ANN must be EXACTLY the exact batch
    kNN (same ids, same sims, same ranks) — the oracle contract the
    vs_ivf_batch registry row rides on."""
    from nebuia_vector_db_spark.operators.topk import knn_join

    emb = _emb(spark, sf_oracle).cache()
    index = build_ivf_index(emb, n_cells=8)
    queries = (
        emb.where(F.col("vec_id").isin(0, 3, 11))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("query_vec"),
        )
    )
    want = {
        (r["query_id"], r["vec_id"], round(r["similarity"], 9), r["rk"])
        for r in knn_join(queries, emb, k=5, tie_cols=["vec_id"]).collect()
    }
    got = {
        (r["query_id"], r["vec_id"], round(r["similarity"], 9), r["rk"])
        for r in on_route(index.search_batch(
            queries, 5, nprobe=index.n_cells, tie_cols=["vec_id"]
        )).collect()
    }
    assert got == want


def test_search_batch_partial_probe_respects_mask_and_k(spark, sf_oracle, on_route):
    """Partial probe: every returned candidate's cell must have been
    probed FOR THAT QUERY, each query gets <= k rows, and similarities
    are the true dots (no approximation in the kernel itself)."""
    import numpy as np

    from nebuia_vector_db_spark.functions.vector import normalize_query

    emb = _emb(spark, sf_oracle).cache()
    index = build_ivf_index(emb, n_cells=8)
    qrows = emb.where(F.col("vec_id").isin(2, 9)).select(
        "vec_id", "embedding"
    ).collect()
    queries = spark.createDataFrame(
        [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows],
        "query_id long, query_vec array<double>",
    )
    out = on_route(index.search_batch(queries, 4, nprobe=2, tie_cols=["vec_id"])).collect()
    cell_of = {
        r["vec_id"]: r["ivf_cell"]
        for r in index.assigned.select("vec_id", "ivf_cell").collect()
    }
    qvec_of = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in qrows}
    emb_of = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.select("vec_id", "embedding").collect()
    }
    per_q: dict[int, int] = {}
    for r in out:
        probed = set(index.probe_cells(qvec_of[r["query_id"]], 2))
        assert cell_of[r["vec_id"]] in probed, "candidate outside probed cells"
        qn = np.asarray(normalize_query(qvec_of[r["query_id"]]))
        true_sim = float(emb_of[r["vec_id"]] @ qn)
        assert abs(r["similarity"] - true_sim) < 1e-9, "kernel must score exactly"
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    assert all(v <= 4 for v in per_q.values())
    assert set(per_q) == {2, 9}



@pytest.mark.parametrize("k", [0, 2, 5])
def test_search_batch_tiny_batches_equal_numpy(spark, sf_oracle, tiny_arrow_batches, on_route, k):
    """nprobe = 1 over Arrow batches of 3 rows: batches are smaller
    than k (k = 5), cut (k = 2) or empty of any row a given query
    probed, and k = 0 returns nothing. Each query's answer must be the
    NumPy top-k over its probed cell in the D-2 order (similarity
    desc, vec_id)."""
    from nebuia_vector_db_spark.functions.vector import normalize_query

    emb = _emb(spark, sf_oracle).cache()
    index = build_ivf_index(emb, n_cells=8)
    rows = index.assigned.select("vec_id", "embedding", "ivf_cell").collect()
    qids = [0, 3, 11]
    qvec_of = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in rows if r["vec_id"] in qids}
    queries = spark.createDataFrame(
        [(q, qvec_of[q]) for q in qids], "query_id long, query_vec array<double>"
    )
    out = index.search_batch(queries, k, nprobe=1, tie_cols=["vec_id"])
    if k:  # k = 0 plans an empty relation
        on_route(out)
    got = sorted(
        (r["query_id"], r["rk"], r["vec_id"], r["similarity"]) for r in out.collect()
    )
    want = []
    for q in qids:
        cell = index.probe_cells(qvec_of[q], 1)[0]
        qn = np.asarray(normalize_query(qvec_of[q]))
        scored = sorted(
            (-float(np.asarray(r["embedding"], dtype=np.float64) @ qn), r["vec_id"])
            for r in rows
            if r["ivf_cell"] == cell
        )
        want += [(q, rk, vid, -neg) for rk, (neg, vid) in enumerate(scored[:k], 1)]
    assert [r[:3] for r in got] == [r[:3] for r in want]
    assert all(abs(a[3] - b[3]) < 1e-9 for a, b in zip(got, want))

def test_search_batch_scores_several_cells_in_one_batch(spark):
    """Default Arrow batch size and one partition, so each batch holds
    rows of every cell, some cells more than one row block; nprobe = 2
    and queries that probe different cell sets. Each query's answer
    must be the NumPy top-k over its probed cells in the D-2 order
    (similarity desc, vec_id)."""
    from nebuia_vector_db_spark.functions.vector import normalize_query
    from nebuia_vector_db_spark.operators.topk import _BLOCK_ROWS

    rng = np.random.default_rng(11)
    n, d, c, k = 6 * _BLOCK_ROWS, 8, 4, 7
    mat = rng.normal(size=(n, d))
    cents = rng.normal(size=(c, d)) * 3
    cell = np.argmin(((mat[:, None, :] - cents[None]) ** 2).sum(axis=2), axis=1)
    corpus = spark.createDataFrame(
        [(i, int(cell[i]), mat[i].tolist()) for i in range(n)],
        "vec_id long, ivf_cell int, embedding array<double>",
    ).coalesce(1)
    index = IVFIndex(corpus, cents, "embedding")
    qs = [cents[i % c] + rng.normal(size=d) for i in range(12)]
    probed = [index.probe_cells(q.tolist(), 2) for q in qs]
    assert len({frozenset(p) for p in probed}) > 1
    assert np.bincount(cell).max() > _BLOCK_ROWS
    queries = spark.createDataFrame(
        [(i, q.tolist()) for i, q in enumerate(qs)],
        "query_id long, query_vec array<double>",
    )
    got = sorted(
        (r["query_id"], r["rk"], r["vec_id"], r["similarity"])
        for r in index.search_batch(queries, k, nprobe=2, tie_cols=["vec_id"]).collect()
    )
    want = []
    for i, q in enumerate(qs):
        rows = np.flatnonzero(np.isin(cell, probed[i]))
        sims = mat[rows] @ np.asarray(normalize_query(q.tolist()))
        order = np.lexsort((rows, -sims))[:k]
        want += [(i, rk, int(rows[j]), sims[j]) for rk, j in enumerate(order, 1)]
    assert [r[:3] for r in got] == [r[:3] for r in want]
    assert all(abs(a[3] - b[3]) < 1e-9 for a, b in zip(got, want))


def test_deterministic_ivf_build_is_bit_stable(spark, sf_oracle):
    """Two deterministic builds from the same pinned sample produce
    identical centroids AND identical recall — the property that makes
    bench recall rows usable as regression signals."""
    import numpy as np

    from nebuia_vector_db_spark.operators.ann import (
        build_ivf_index_deterministic,
        recall_at_k_batch,
    )

    emb = _emb(spark, sf_oracle).cache()
    mat = np.array(
        [r["embedding"] for r in emb.orderBy("vec_id").collect()],
        dtype=np.float32,
    )
    queries = [mat[i].astype(np.float64).tolist() for i in (1, 5, 13)]
    idx1 = build_ivf_index_deterministic(emb, 8, mat, seed=7)
    idx2 = build_ivf_index_deterministic(emb, 8, mat, seed=7)
    assert np.array_equal(idx1.centroids, idx2.centroids)
    r1 = recall_at_k_batch(idx1, emb, queries, k=10, nprobe=3)
    r2 = recall_at_k_batch(idx2, emb, queries, k=10, nprobe=3)
    assert r1 == r2
    r_full = recall_at_k_batch(idx1, emb, queries, k=10, nprobe=8)
    assert r_full == 1.0


def test_saved_index_search_batch_prunes_partitions(
    spark, sf_oracle, tmp_path_factory, monkeypatch, on_route, request
):
    """Persisted index + BATCH search reads only the union of the
    probed cells — at scale the batch pays for |union| cells' files,
    not the corpus. The driver route reads exactly those cells' files
    with pyarrow; on the Spark route the cell filter reaches the scan
    under its MapInArrow as a PartitionFilter."""
    import re

    import pyarrow.parquet as pq

    from nebuia_vector_db_spark.operators import topk
    from nebuia_vector_db_spark.operators.ann import (
        build_ivf_index,
        load_ivf_index,
        save_ivf_index,
    )
    from nebuia_vector_db_spark.plans.inspect import explain_str

    emb = _emb(spark, sf_oracle)
    idx = build_ivf_index(emb, n_cells=8)
    path = str(tmp_path_factory.mktemp("ivf_idx_b"))
    save_ivf_index(idx, path)
    loaded = load_ivf_index(spark, path)
    queries = (
        emb.where(F.col("vec_id").isin(0, 7))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("query_vec"),
        )
    )
    scans, reads = [], []
    driver_corpus, read_table = topk._driver_corpus, pq.read_table
    monkeypatch.setattr(
        topk, "_driver_corpus", lambda df: scans.append(df) or driver_corpus(df)
    )
    monkeypatch.setattr(
        pq, "read_table", lambda path, **kw: reads.append(path) or read_table(path, **kw)
    )
    got = on_route(loaded.search_batch(queries, 5, nprobe=2, tie_cols=["vec_id"]))
    monkeypatch.setattr(topk, "_driver_corpus", driver_corpus)
    monkeypatch.setattr(pq, "read_table", read_table)
    if getattr(request.cls, "route", "driver") == "spark":
        plan = explain_str(scans[0])
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "ivf_cell" in m.group(1), plan
    else:
        probed = {
            c for r in queries.collect() for c in loaded.probe_cells(r["query_vec"], 2)
        }
        cells = os.path.join(path, "cells")
        files_of = {
            c: {os.path.join(cells, f"ivf_cell={c}", f)
                for f in os.listdir(os.path.join(cells, f"ivf_cell={c}"))
                if f.endswith(".parquet")}
            for c in range(8)
        }
        assert scans == [] and len(probed) < 8
        assert sorted(reads) == sorted(f for c in probed for f in files_of[c])
    # and the results agree with the in-memory index's batch search
    want = {
        (r["query_id"], r["vec_id"], r["rk"])
        for r in idx.search_batch(
            queries, 5, nprobe=2, tie_cols=["vec_id"]
        ).collect()
    }
    assert {
        (r["query_id"], r["vec_id"], r["rk"]) for r in got.collect()
    } == want


def _cell_rows(spark, path):
    """Each saved cell's rows, read back through Spark, as a sorted
    list of (vec_id, embedding) tuples."""
    import glob

    out = {}
    for d in glob.glob(os.path.join(path, "cells", "ivf_cell=*")):
        rows = spark.read.parquet(d).select("vec_id", "embedding").collect()
        out[os.path.basename(d)] = sorted((r[0], tuple(r[1])) for r in rows)
    return out


def test_save_routes_write_the_same_cells(spark, sf_oracle, tmp_path, monkeypatch, spark_jobs):
    """Within the driver bound save_ivf_index writes the cells with
    pyarrow (no Spark write) in Spark's ``partitionBy`` layout, with
    the same rows per cell as the Spark route, and load_ivf_index runs
    no Spark job on either index."""
    from pyspark.sql.readwriter import DataFrameWriter

    from nebuia_vector_db_spark.operators import topk
    from nebuia_vector_db_spark.operators.ann import load_ivf_index, save_ivf_index

    index = build_ivf_index(_emb(spark, sf_oracle), n_cells=8)
    writes = []
    parquet = DataFrameWriter.parquet
    monkeypatch.setattr(
        DataFrameWriter, "parquet",
        lambda self, *a, **kw: writes.append(a) or parquet(self, *a, **kw),
    )
    save_ivf_index(index, str(tmp_path / "driver"))
    assert writes == []
    monkeypatch.setattr(topk, "_DRIVER_MAX_BYTES", 0)
    save_ivf_index(index, str(tmp_path / "spark"))
    assert len(writes) == 1
    monkeypatch.undo()
    driver = _cell_rows(spark, str(tmp_path / "driver"))
    sparked = _cell_rows(spark, str(tmp_path / "spark"))
    assert len(driver) == 8 and driver == sparked
    for route in ("driver", "spark"):
        path = str(tmp_path / route)
        loaded, jobs, _ = spark_jobs(lambda: load_ivf_index(spark, path))
        assert jobs == 0
        # the schema Spark infers from the cells
        assert loaded.assigned.schema == spark.read.parquet(f"{path}/cells").schema


def test_index_of_an_empty_corpus_loads(spark, sf_oracle, tmp_path, on_route):
    """An index saved from a corpus with no rows loads, and its searches
    return 0 rows in the usual schema."""
    from nebuia_vector_db_spark.operators.ann import (
        build_ivf_index_deterministic,
        load_ivf_index,
        save_ivf_index,
    )

    emb = _emb(spark, sf_oracle)
    sample = np.array([r["embedding"] for r in emb.limit(16).collect()])
    full = build_ivf_index_deterministic(emb, 4, sample, seed=3)
    empty = build_ivf_index_deterministic(
        spark.createDataFrame(emb.limit(0).toArrow(), emb.schema), 4, sample, seed=3
    )
    save_ivf_index(empty, str(tmp_path / "ivf"))
    loaded = load_ivf_index(spark, str(tmp_path / "ivf"))
    assert np.array_equal(loaded.centroids, full.centroids)
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )
    batch = loaded.search_batch(queries, 5, nprobe=2, tie_cols=["vec_id"])
    single = loaded.search(sample[0].tolist(), 5, nprobe=2, tie_cols=["vec_id"])
    assert batch.collect() == [] and single.collect() == []
    assert batch.schema == full.search_batch(queries, 5, nprobe=2, tie_cols=["vec_id"]).schema
    assert single.schema == full.search(sample[0].tolist(), 5, nprobe=2).schema


def test_ivf_pq_index_of_an_empty_corpus_loads(spark, tmp_path, on_route):
    """An IVF-PQ index saved from a corpus with no rows loads (the codes
    scan reads ``codes/_schema.json`` instead of inferring a schema from
    no files), and its batch search returns 0 rows."""
    import pyarrow as pa

    from nebuia_vector_db_spark.operators.pq import (
        encode_pq,
        load_pq_index,
        pq_search_batch,
        save_pq_index,
    )

    schema = "vec_id long, ivf_cell int, embedding array<double>"
    empty = spark.createDataFrame(
        pa.table({
            "vec_id": pa.array([], pa.int64()),
            "ivf_cell": pa.array([], pa.int32()),
            "embedding": pa.array([], pa.list_(pa.float64())),
        }),
        schema,
    )
    cents = np.eye(4)
    books = np.array([[[0.0, 0.0], [0.0, 1.0]], [[0.0, 0.0], [1.0, 0.0]]])  # (m, k, dsub)
    save_pq_index(encode_pq(empty, books, cell_centroids=cents), str(tmp_path / "pq"))
    loaded = load_pq_index(spark, str(tmp_path / "pq"))
    assert np.array_equal(loaded.cell_centroids, cents)
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "query_id long, query_vec array<double>"
    )
    assert pq_search_batch(loaded, empty, queries, 2, nprobe=2).collect() == []


def test_load_ivf_index_makes_no_py4j_call(spark, sf_oracle, tmp_path, monkeypatch):
    """Loading a saved index reads its schema file, centroid matrix and
    cell listing as plain local files: no py4j round trip."""
    from py4j.clientserver import ClientServerConnection

    from nebuia_vector_db_spark.operators.ann import load_ivf_index, save_ivf_index

    index = build_ivf_index(_emb(spark, sf_oracle), n_cells=8)
    save_ivf_index(index, str(tmp_path / "ivf"))
    calls = []
    send = ClientServerConnection.send_command

    def spy(self, command, *a, **kw):
        calls.append(command)
        return send(self, command, *a, **kw)

    monkeypatch.setattr(ClientServerConnection, "send_command", spy)
    loaded = load_ivf_index(spark, str(tmp_path / "ivf"))
    monkeypatch.undo()
    assert calls == []
    assert np.array_equal(loaded.centroids, index.centroids)
    assert sorted(loaded.saved.files) == list(range(8))


@pytest.mark.parametrize("uri", ["hdfs://nn/ivf", "s3a://b/ivf"])
def test_index_files_reject_a_non_local_path(spark, tmp_path, monkeypatch, uri):
    """Saving or loading an IVF or IVF-PQ index on a path that is not
    local raises ``ValueError`` before anything is written or read."""
    from nebuia_vector_db_spark.operators.ann import load_ivf_index, save_ivf_index
    from nebuia_vector_db_spark.operators.pq import encode_pq, load_pq_index, save_pq_index

    monkeypatch.chdir(tmp_path)
    cents = np.eye(2)
    corpus = spark.createDataFrame(
        [(i, i % 2, [float(i % 2 == 0), float(i % 2)]) for i in range(4)],
        "vec_id long, ivf_cell int, embedding array<double>",
    )
    books = np.array([[[0.0], [1.0]], [[0.0], [1.0]]])  # (m, k, dsub)
    calls = [
        lambda: save_ivf_index(IVFIndex(corpus, cents, "embedding"), uri),
        lambda: load_ivf_index(spark, uri),
        lambda: save_pq_index(encode_pq(corpus, books, cell_centroids=cents), uri),
        lambda: load_pq_index(spark, uri),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="local path"):
            call()
    assert os.listdir(tmp_path) == []


def test_file_uri_index_round_trips(spark, sf_oracle, tmp_path, on_route):
    """An index saved to a percent-encoded ``file://`` URI lands in the
    directory it names, and loads and searches from that URI as from
    the plain path."""
    from nebuia_vector_db_spark.operators.ann import load_ivf_index, save_ivf_index

    emb = _emb(spark, sf_oracle)
    index = build_ivf_index(emb, n_cells=8)
    target = tmp_path / "my index"
    save_ivf_index(index, target.as_uri())
    assert sorted(os.listdir(target)) == ["cells", "centroids.npy"]
    loaded = load_ivf_index(spark, target.as_uri())
    assert np.array_equal(loaded.centroids, index.centroids)
    queries = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )

    def rows(idx):
        out = idx.search_batch(queries, 5, nprobe=2, tie_cols=["vec_id"])
        return sorted((r.query_id, r.vec_id, r.similarity) for r in out.collect())

    got = rows(loaded)
    assert len(got) == 4 * 5 and got == rows(load_ivf_index(spark, str(target)))
    assert got == rows(index)


# centroid similarities [1, 0, 0, 0.6] for the query [1, 0]: cells 1
# and 2 tie at the third place
_TIE_CENTROIDS = np.array([[1.0, 0.0], [0.0, 1.0], [0.0, -1.0], [0.6, 0.8]])


def test_select_cells_ties_to_lower_cell_id():
    """The one cell selector (IVF and IVF-PQ, single query and batch)
    ranks by similarity and gives a tie to the lower cell id, the order
    a stable argsort gives; nprobe is clamped to [1, C]."""
    sims = _TIE_CENTROIDS @ np.array([[1.0, 0.0], [-1.0, 0.0]]).T  # (C, B)
    assert _select_cells(sims, 3).T.tolist() == [[0, 3, 1], [1, 2, 3]]
    assert _select_cells(sims, 0).T.tolist() == [[0], [1]]
    assert _select_cells(sims, 9).T.tolist() == [[0, 3, 1, 2], [1, 2, 3, 0]]
    got = {c: q.tolist() for c, q in _cell_queries(sims, 3).items()}
    assert got == {0: [0], 1: [0, 1], 2: [1], 3: [0, 1]}

    rng = np.random.default_rng(3)
    tied = rng.integers(0, 4, size=(16, 32)).astype(np.float64)
    for nprobe in range(1, 17):
        want = np.argsort(-tied, axis=0, kind="stable")[:nprobe]
        assert np.array_equal(_select_cells(tied, nprobe), want)


def test_search_and_search_batch_probe_the_same_tied_cells(spark):
    """One corpus row per cell, query [1, 0], nprobe=3: the probe is
    cells {0, 1, 3} (the tie at the cut goes to cell 1), and search
    and search_batch both return exactly those cells' rows."""
    corpus = spark.createDataFrame(
        [(i, i, c.tolist()) for i, c in enumerate(_TIE_CENTROIDS)],
        "vec_id long, ivf_cell int, embedding array<double>",
    )
    index = IVFIndex(corpus, _TIE_CENTROIDS, "embedding")
    q = [1.0, 0.0]
    probed = set(index.probe_cells(q, 3))
    assert probed == {0, 1, 3}
    queries = spark.createDataFrame([(0, q)], "query_id long, query_vec array<double>")
    batch = {
        r["vec_id"]
        for r in index.search_batch(queries, 4, nprobe=3, tie_cols=["vec_id"]).collect()
    }
    single = {
        r["vec_id"] for r in index.search(q, 4, nprobe=3, tie_cols=["vec_id"]).collect()
    }
    assert batch == single == probed


class TestSparkRoute:
    """The ``on_route`` tests again, on the Spark route."""

    route = "spark"


for _test in [
    f for name, f in list(globals().items())
    if name.startswith("test_") and "on_route" in inspect.signature(f).parameters
]:
    setattr(TestSparkRoute, _test.__name__, staticmethod(_test))
