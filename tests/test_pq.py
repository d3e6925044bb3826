"""Product quantization (operators/pq.py): encode shape/determinism,
ADC approximation quality, and exact-rerank recovery.

The save/load tests take ``on_route``: they run with the cells written
on the driver and again, in ``TestSparkRoute``, by a Spark write."""

from __future__ import annotations

import inspect

import numpy as np
import pytest
from pyspark.sql import functions as F

from nebuia_vector_db_spark.operators.pq import (
    PQIndex,
    _kmeans_np,
    encode_pq,
    train_pq,
)
from nebuia_vector_db_spark.operators.topk import topk_search
from nebuia_vector_db_spark.sources.registry import load_table


def test_kmeans_np_deterministic_and_live_clusters():
    rng = np.random.default_rng(0)
    x = rng.normal(size=(500, 8))
    a = _kmeans_np(x, 16, iters=10, seed=1)
    b = _kmeans_np(x, 16, iters=10, seed=1)
    assert (a == b).all()
    assert a.shape == (16, 8)
    assert len(np.unique(a, axis=0)) == 16  # no dead/duplicate centers


@pytest.fixture(scope="module")
def pq_index(spark, sf_oracle):
    emb = load_table(spark, sf_oracle, "embeddings").cache()
    books = train_pq(emb, m=8, k=64, sample=1000, iters=10)
    return emb, encode_pq(emb, books)


def test_encode_shapes_and_determinism(pq_index):
    emb, idx = pq_index
    rows = idx.codes.collect()
    assert len(rows) == emb.count()
    for r in rows[:20]:
        assert len(r["codes"]) == 8
        assert all(0 <= c < 64 for c in r["codes"])
    again = {r["vec_id"]: r["codes"] for r in idx.codes.collect()}
    first = {r["vec_id"]: r["codes"] for r in rows}
    assert again == first


def test_adc_approximates_exact_similarity(pq_index, spark, sf_oracle):
    """ADC score = dot(q_n, reconstruction(x)); over the corpus it must
    correlate strongly with the exact similarity (quantization noise,
    not bias)."""
    emb, idx = pq_index
    q = [0.125] * 64
    adc = {
        r["vec_id"]: r["adc_score"]
        for r in idx.search(emb, q, topk=emb.count()).collect()
    }
    exact = {
        r["vec_id"]: r["similarity"]
        for r in topk_search(emb, q, emb.count(), tie_cols=["vec_id"]).collect()
    }
    ids = sorted(exact)
    a = np.array([adc[i] for i in ids])
    e = np.array([exact[i] for i in ids])
    corr = np.corrcoef(a, e)[0, 1]
    # i.i.d. Gaussian is PQ's worst case (no low-dim structure for the
    # codebooks to exploit); on clustered data this correlation is ~1.
    # The operational guarantee is the rerank test below, not raw ADC.
    assert corr > 0.75, corr
    assert abs(float(np.mean(a - e))) < 0.05  # approx unbiased


def test_rerank_recovers_exact_topk(pq_index, spark, sf_oracle):
    """ADC shortlist + exact re-rank must return the exact top-k when
    the shortlist is a modest multiple of k."""
    emb, idx = pq_index
    q = [0.125] * 64
    want = [
        r["vec_id"]
        for r in topk_search(emb, q, 10, tie_cols=["vec_id"]).collect()
    ]
    got = [
        r["vec_id"]
        for r in idx.search(emb, q, topk=10, rerank=200, tie_cols=["vec_id"]).collect()
    ]
    assert got == want


def test_ivfpq_residual_encoding_on_clustered_data(spark):
    """Flat PQ has no within-cluster resolution on clustered corpora;
    residual (IVF-PQ) encoding must recover the exact top-k with a
    modest re-rank shortlist AND get decent raw-ADC recall."""
    import numpy as np

    from nebuia_vector_db_spark.operators.ann import build_ivf_index
    from nebuia_vector_db_spark.operators.pq import encode_pq, train_pq

    rng = np.random.default_rng(5)
    centers = rng.normal(size=(16, 64)) * 4.0
    cid = rng.integers(0, 16, size=2000)
    mat = centers[cid] + rng.normal(scale=1.0, size=(2000, 64))
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(2000), "embedding": list(mat)}
        )
    ).cache()
    ivf = build_ivf_index(df, n_cells=8)
    ivf.assigned = ivf.assigned.cache()
    books = train_pq(
        ivf.assigned, m=8, k=64, sample=2000, iters=10,
        cell_centroids=ivf.centroids,
    )
    pq = encode_pq(ivf.assigned, books, cell_centroids=ivf.centroids)
    pq.codes = pq.codes.cache()

    q = (centers[3] + rng.normal(scale=1.0, size=64)).tolist()
    want = [
        r["vec_id"]
        for r in topk_search(df, q, 10, tie_cols=["vec_id"]).collect()
    ]
    adc = [
        r["vec_id"] for r in pq.search(df, q, 10, tie_cols=["vec_id"]).collect()
    ]
    # flat PQ scored 0/10 here (all cluster members tie → arbitrary
    # top-10); residual ADC is informative, though at 32× compression
    # of Gaussian residuals raw top-10 overlap stays low by design —
    # the operating mode and the real guarantee is the re-rank below
    assert len(set(adc) & set(want)) >= 1
    got = [
        r["vec_id"]
        for r in pq.search(
            df, q, 10, rerank=200, tie_cols=["vec_id"]
        ).collect()
    ]
    assert got == want
    # composed stack: nprobe-pruned ADC + re-rank, still exact here
    pruned = [
        r["vec_id"]
        for r in pq.search(
            df, q, 10, rerank=200, nprobe=4, tie_cols=["vec_id"]
        ).collect()
    ]
    assert pruned == want


def test_save_load_roundtrip_same_results(spark, tmp_path, on_route):
    import numpy as np
    import pandas as pd

    from nebuia_vector_db_spark.operators.pq import (
        encode_pq,
        load_pq_index,
        save_pq_index,
        train_pq,
    )

    rng = np.random.default_rng(21)
    mat = rng.normal(size=(300, 16))
    pdf = pd.DataFrame(
        {"vec_id": range(300), "embedding": [list(r) for r in mat]}
    )
    df = spark.createDataFrame(pdf)
    books = train_pq(df, m=4, k=32, sample=1000)
    pq = encode_pq(df, books)
    q = mat[9].tolist()
    before = pq.search(df, q, 5, rerank=64, tie_cols=["vec_id"]).collect()

    path = str(tmp_path / "pqidx")
    save_pq_index(pq, path)
    loaded = load_pq_index(spark, path)
    after = loaded.search(df, q, 5, rerank=64, tie_cols=["vec_id"]).collect()
    assert [(r["vec_id"], round(r["similarity"], 10)) for r in before] == [
        (r["vec_id"], round(r["similarity"], 10)) for r in after
    ]
    assert (loaded.codebooks == pq.codebooks).all()


def test_pq_append_equals_full_reencode(spark, sf_oracle, tmp_path_factory, on_route):
    """Incremental PQ: save(encode(A)) + append(B) holds the same
    codes as encode(A∪B) with the same codebooks/centroids, and a
    search over the appended index matches the full one."""
    from nebuia_vector_db_spark.operators.ann import (
        assign_to_cells,
        build_ivf_index,
    )
    from nebuia_vector_db_spark.operators.pq import (
        append_to_pq_index,
        encode_pq,
        load_pq_index,
        save_pq_index,
        train_pq,
    )
    from nebuia_vector_db_spark.sources.registry import load_table

    emb = load_table(spark, sf_oracle, "embeddings").cache()
    part_a = emb.where(F.col("vec_id") % 4 != 0)
    part_b = emb.where(F.col("vec_id") % 4 == 0)

    ivf = build_ivf_index(part_a, n_cells=4)
    books = train_pq(
        ivf.assigned, m=8, k=16, sample=5_000,
        cell_centroids=ivf.centroids,
    )
    path = str(tmp_path_factory.mktemp("pq_inc"))
    save_pq_index(
        encode_pq(ivf.assigned, books, cell_centroids=ivf.centroids), path
    )
    appended = append_to_pq_index(spark, path, part_b)

    full_assigned = assign_to_cells(emb, ivf.centroids)
    full = encode_pq(full_assigned, books, cell_centroids=ivf.centroids)

    inc_rows = sorted(
        (r["vec_id"], r["ivf_cell"], tuple(r["codes"]))
        for r in appended.codes.collect()
    )
    full_rows = sorted(
        (r["vec_id"], r["ivf_cell"], tuple(r["codes"]))
        for r in full.codes.collect()
    )
    assert inc_rows == full_rows
    assert len(inc_rows) == emb.count()

    q = [float(x) for x in emb.where(F.col("vec_id") == 3).head()["embedding"]]
    got_inc = [
        (r["vec_id"], round(r["similarity"], 9))
        for r in appended.search(emb, q, 10, rerank=50, tie_cols=["vec_id"]).collect()
    ]
    got_full = [
        (r["vec_id"], round(r["similarity"], 9))
        for r in full.search(emb, q, 10, rerank=50, tie_cols=["vec_id"]).collect()
    ]
    assert got_inc == got_full
    emb.unpersist()


def test_saved_codes_hold_one_file_per_cell(spark, sf_oracle, tmp_path, on_route):
    """save_pq_index writes each cell's codes as one parquet file,
    whatever the corpus partitioning, and append_to_pq_index adds at
    most one file to each cell it touches."""
    from nebuia_vector_db_spark.operators.ann import build_ivf_index
    from nebuia_vector_db_spark.operators.pq import (
        append_to_pq_index,
        save_pq_index,
    )

    emb = load_table(spark, sf_oracle, "embeddings")
    part_a = emb.where(F.col("vec_id") % 5 != 0).repartition(4)
    part_b = emb.where(F.col("vec_id") % 5 == 0).repartition(4)
    path = tmp_path / "pq"

    def files_per_cell():
        return {
            d.name: len(list(d.glob("*.parquet")))
            for d in (path / "codes").glob("ivf_cell=*")
        }

    ivf = build_ivf_index(part_a, n_cells=8)
    books = train_pq(
        ivf.assigned, m=8, k=16, sample=2_000, cell_centroids=ivf.centroids
    )
    save_pq_index(
        encode_pq(ivf.assigned, books, cell_centroids=ivf.centroids), str(path)
    )
    saved = files_per_cell()
    assert len(saved) == 8 and set(saved.values()) == {1}, saved

    append_to_pq_index(spark, str(path), part_b)
    added = {c: n - saved.get(c, 0) for c, n in files_per_cell().items()}
    assert set(added.values()) <= {0, 1} and sum(added.values()) > 0, added


def test_search_rejects_tie_columns_outside_the_codes(pq_index):
    """ADC ties are ordered inside the codes relation, so a tie column
    it does not hold is a ValueError raised before any Spark job."""
    emb, idx = pq_index
    with pytest.raises(ValueError, match="text"):
        idx.search(emb, [0.125] * 64, 5, tie_cols=["text"])


def test_load_pq_index_raises_on_damaged_centroid_file(spark, sf_oracle, tmp_path, on_route):
    """A damaged saved matrix is an error, never a silent fall back to
    a flat (centroid-less) index."""
    from nebuia_vector_db_spark.operators.ann import build_ivf_index
    from nebuia_vector_db_spark.operators.pq import load_pq_index, save_pq_index

    emb = load_table(spark, sf_oracle, "embeddings")
    ivf = build_ivf_index(emb, n_cells=4)
    books = train_pq(
        ivf.assigned, m=8, k=16, sample=2_000, cell_centroids=ivf.centroids
    )
    path = tmp_path / "pq_ivf"
    idx = encode_pq(ivf.assigned, books, cell_centroids=ivf.centroids)
    save_pq_index(idx, str(path))
    assert np.array_equal(load_pq_index(spark, str(path)).cell_centroids, ivf.centroids)

    cents = path / "centroids.npy"
    cents.write_bytes(cents.read_bytes()[: cents.stat().st_size // 2])
    with pytest.raises(ValueError):  # np.load of a truncated .npy
        load_pq_index(spark, str(path))


def test_load_pq_index_makes_no_py4j_call(spark, sf_oracle, tmp_path, monkeypatch):
    """Loading an IVF-PQ index reads its matrices on the driver and
    builds the codes scan on first use, so the load itself makes no
    py4j round trip; the scan then holds the saved codes."""
    from py4j.clientserver import ClientServerConnection

    from nebuia_vector_db_spark.operators.ann import build_ivf_index
    from nebuia_vector_db_spark.operators.pq import load_pq_index, save_pq_index

    emb = load_table(spark, sf_oracle, "embeddings")
    ivf = build_ivf_index(emb, n_cells=4)
    books = train_pq(ivf.assigned, m=8, k=16, sample=2_000, cell_centroids=ivf.centroids)
    idx = encode_pq(ivf.assigned, books, cell_centroids=ivf.centroids)
    save_pq_index(idx, str(tmp_path / "pq"))
    calls = []
    send = ClientServerConnection.send_command

    def spy(self, command, *a, **kw):
        calls.append(command)
        return send(self, command, *a, **kw)

    monkeypatch.setattr(ClientServerConnection, "send_command", spy)
    loaded = load_pq_index(spark, str(tmp_path / "pq"))
    monkeypatch.undo()
    assert calls == []
    assert np.array_equal(loaded.codebooks, books)
    want = sorted((r["vec_id"], tuple(r["codes"])) for r in idx.codes.collect())
    assert sorted((r["vec_id"], tuple(r["codes"])) for r in loaded.codes.collect()) == want


def test_pq_search_batch_matches_per_query_search(spark, sf_oracle):
    """Batched ADC == per-query ADC scores/ranks for every query in
    the batch (same tables, same codes, one pass): on a flat PQ index,
    and on an IVF-PQ index at partial probe, where each cell's rows
    are scored only against the queries that probed it."""
    from nebuia_vector_db_spark.operators.ann import (
        build_ivf_index_deterministic,
    )
    from nebuia_vector_db_spark.operators.pq import (
        encode_pq,
        pq_search_batch,
        train_pq,
    )
    from nebuia_vector_db_spark.sources.registry import load_table

    emb = load_table(spark, sf_oracle, "embeddings").cache()
    books = train_pq(emb, m=16, k=16, sample=1000, seed=1)
    flat = encode_pq(emb, books)
    flat.codes = flat.codes.cache()
    mat = np.array(
        [r["embedding"] for r in emb.orderBy("vec_id").collect()],
        dtype=np.float32,
    )
    ivf = build_ivf_index_deterministic(emb, 8, mat, seed=5)
    ivf_books = train_pq(
        ivf.assigned, m=16, k=16, sample=1000, seed=2,
        cell_centroids=ivf.centroids, sample_matrix=mat[:1000],
    )
    ivfpq = encode_pq(ivf.assigned, ivf_books, cell_centroids=ivf.centroids)
    ivfpq.codes = ivfpq.codes.cache()
    qrows = emb.where(F.col("vec_id").isin(1, 6, 12)).select(
        "vec_id", "embedding"
    ).collect()
    queries = spark.createDataFrame(
        [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows],
        "query_id long, query_vec array<double>",
    )
    for pq, nprobe in ((flat, None), (ivfpq, 2)):
        batch = {
            (r["query_id"], r["vec_id"], round(r["adc_score"], 9))
            for r in pq_search_batch(
                pq, emb, queries, topk=5, nprobe=nprobe
            ).collect()
        }
        single = set()
        for r in qrows:
            for s in pq.search(
                emb, [float(x) for x in r["embedding"]], 5,
                tie_cols=["vec_id"], nprobe=nprobe,
            ).collect():
                single.add(
                    (int(r["vec_id"]), s["vec_id"], round(s["adc_score"], 9))
                )
        assert len(batch) == 15 and batch == single, nprobe


def test_pq_search_batch_full_rerank_is_exact_batch_knn(spark, sf_oracle):
    """rerank >= |corpus| with full probe: the batch PQ search must
    return EXACTLY the exact batch kNN (ids, sims, ranks)."""
    from nebuia_vector_db_spark.operators.ann import (
        build_ivf_index_deterministic,
    )
    from nebuia_vector_db_spark.operators.pq import (
        encode_pq,
        pq_search_batch,
        train_pq,
    )
    from nebuia_vector_db_spark.operators.topk import knn_join
    from nebuia_vector_db_spark.sources.registry import load_table

    import numpy as np

    emb = load_table(spark, sf_oracle, "embeddings").cache()
    n = emb.count()
    mat = np.array(
        [r["embedding"] for r in emb.orderBy("vec_id").collect()],
        dtype=np.float32,
    )
    idx = build_ivf_index_deterministic(emb, 8, mat, seed=5)
    books = train_pq(
        idx.assigned, m=16, k=16, sample=1000, seed=2,
        cell_centroids=idx.centroids, sample_matrix=mat[:1000],
    )
    pq = encode_pq(idx.assigned, books, cell_centroids=idx.centroids)
    qrows = emb.where(F.col("vec_id").isin(2, 9)).select(
        "vec_id", "embedding"
    ).collect()
    queries = spark.createDataFrame(
        [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows],
        "query_id long, query_vec array<double>",
    )
    got = {
        (r["query_id"], r["vec_id"], round(r["similarity"], 9), r["rk"])
        for r in pq_search_batch(
            pq, emb, queries, topk=5, rerank=n, nprobe=8,
            tie_cols=["vec_id"],
        ).collect()
    }
    want = {
        (r["query_id"], r["vec_id"], round(r["similarity"], 9), r["rk"])
        for r in knn_join(queries, emb, k=5, tie_cols=["vec_id"]).collect()
    }
    assert got == want


def test_pq_search_batch_nprobe_respects_probe_mask(spark, sf_oracle):
    """Partial probe: every ADC hit's cell must have been probed for
    that query."""
    from nebuia_vector_db_spark.operators.ann import (
        build_ivf_index_deterministic,
    )
    from nebuia_vector_db_spark.operators.pq import (
        encode_pq,
        pq_search_batch,
        train_pq,
    )
    from nebuia_vector_db_spark.sources.registry import load_table

    import numpy as np

    emb = load_table(spark, sf_oracle, "embeddings").cache()
    mat = np.array(
        [r["embedding"] for r in emb.orderBy("vec_id").collect()],
        dtype=np.float32,
    )
    idx = build_ivf_index_deterministic(emb, 8, mat, seed=5)
    books = train_pq(
        idx.assigned, m=16, k=16, sample=1000, seed=2,
        cell_centroids=idx.centroids, sample_matrix=mat[:1000],
    )
    pq = encode_pq(idx.assigned, books, cell_centroids=idx.centroids)
    qrows = emb.where(F.col("vec_id").isin(4, 15)).select(
        "vec_id", "embedding"
    ).collect()
    queries = spark.createDataFrame(
        [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows],
        "query_id long, query_vec array<double>",
    )
    out = pq_search_batch(pq, emb, queries, topk=4, nprobe=2).collect()
    cell_of = {
        r["vec_id"]: r["ivf_cell"]
        for r in idx.assigned.select("vec_id", "ivf_cell").collect()
    }
    qvec_of = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in qrows
    }
    assert out, "partial probe must still return hits"
    for r in out:
        probed = set(idx.probe_cells(qvec_of[r["query_id"]], 2))
        assert cell_of[r["vec_id"]] in probed


def test_pq_search_batch_breaks_ties_by_id_at_the_batch_cut(spark, tiny_arrow_batches):
    """Arrow batches of 3 rows, 12 rows with identical codes stored in
    descending vec_id order, topk = 2: every ADC score ties, so each
    batch's local cut must keep its two smallest vec_ids (the D-2 tie
    order of the global cut), and the answer is vec_ids 1 and 2."""
    from nebuia_vector_db_spark.operators.pq import pq_search_batch

    codes = spark.createDataFrame(
        [(i, [0, 0]) for i in range(12, 0, -1)], "vec_id long, codes array<int>"
    ).coalesce(1)
    books = np.array([[[1.0]], [[0.5]]])  # (m, k, dsub) = (2, 1, 1)
    index = PQIndex(codes, books, "embedding", "vec_id")
    queries = spark.createDataFrame(
        [(0, [0.6, 0.8])], "query_id long, query_vec array<double>"
    )
    got = pq_search_batch(index, codes, queries, topk=2).collect()
    assert sorted((r["rk"], r["vec_id"]) for r in got) == [(1, 1), (2, 2)]


# ---------------------------------------------------------------------------
# OPQ rotation (round 6, VERDICT r5 task #7)
# ---------------------------------------------------------------------------


def test_opq_identity_rotation_equals_plain_pq(spark, sf_oracle):
    """encode/search with rotation=I must be bit-identical to plain PQ
    — the rotation path adds no numeric drift when it is a no-op."""
    from nebuia_vector_db_spark.operators.pq import train_pq

    emb = load_table(spark, sf_oracle, "embeddings").cache()
    books = train_pq(emb, m=8, k=64, sample=1000, iters=10)
    eye = np.eye(books.shape[0] * books.shape[2])
    plain = encode_pq(emb, books)
    rotated = encode_pq(emb, books, rotation=eye)
    a = {r["vec_id"]: list(r["codes"]) for r in plain.codes.collect()}
    b = {r["vec_id"]: list(r["codes"]) for r in rotated.codes.collect()}
    assert a == b
    q = [0.1] * 64
    ra = [tuple(r) for r in plain.search(emb, q, 5, tie_cols=["vec_id"]).collect()]
    rb = [tuple(r) for r in rotated.search(emb, q, 5, tie_cols=["vec_id"]).collect()]
    assert ra == rb


def test_train_opq_deterministic_and_orthogonal(spark, sf_oracle):
    from nebuia_vector_db_spark.operators.pq import train_opq

    emb = load_table(spark, sf_oracle, "embeddings")
    r1, b1 = train_opq(emb, m=8, k=32, sample=500, iters=8, opq_iters=3)
    r2, b2 = train_opq(emb, m=8, k=32, sample=500, iters=8, opq_iters=3)
    assert np.array_equal(r1, r2) and np.array_equal(b1, b2)
    assert np.allclose(r1 @ r1.T, np.eye(r1.shape[0]), atol=1e-10)


def test_opq_full_rerank_recovers_exact_topk(spark, sf_oracle):
    """The exactness invariant survives the rotation: full shortlist +
    exact re-rank == brute-force top-k (re-rank reads RAW vectors, so
    the rotation must never leak into the exact path)."""
    from nebuia_vector_db_spark.operators.pq import train_opq

    emb = load_table(spark, sf_oracle, "embeddings").cache()
    n = emb.count()
    rot, books = train_opq(
        emb, m=8, k=64, sample=1000, iters=10, opq_iters=3
    )
    idx = encode_pq(emb, books, rotation=rot)
    q = [0.3, -0.1] * 32
    want = [
        (r["vec_id"], round(r["similarity"], 9))
        for r in topk_search(emb, q, 10, tie_cols=["vec_id"]).collect()
    ]
    got = [
        (r["vec_id"], round(r["similarity"], 9))
        for r in idx.search(
            emb, q, 10, rerank=n, tie_cols=["vec_id"]
        ).collect()
    ]
    assert got == want


def test_opq_beats_pq_on_anisotropic_corpus(spark):
    """The capability claim: on a rotated anisotropic spectrum (the
    shape of real transformer embeddings — eigendecay NOT aligned to
    the subspace split), OPQ's learned rotation must materially lift
    codes-only ADC recall at the same byte budget. Driver-measured
    at 150k/64d: 0.56 -> 0.74; asserted loosely here at 20k."""
    import numpy.linalg as la

    from nebuia_vector_db_spark.operators.pq import train_opq, train_pq

    D, N, m, k = 64, 20_000, 16, 64
    rng = np.random.default_rng(5)
    scales = np.exp(-np.arange(D) / 12.0)
    basis, _ = la.qr(rng.normal(size=(D, D)))
    X = ((rng.normal(size=(N, D)) * scales) @ basis.T).astype(np.float64)
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(N), "embedding": list(X)})
    ).cache()
    books_pq = train_pq(df, m=m, k=k, sample=N, sample_matrix=X)
    rot, books_opq = train_opq(
        df, m=m, k=k, sample=N, opq_iters=6, sample_matrix=X
    )
    idx_pq = encode_pq(df, books_pq)
    idx_opq = encode_pq(df, books_opq, rotation=rot)
    qs = (rng.normal(size=(6, D)) * scales) @ basis.T
    rec = {"pq": [], "opq": []}
    for q in qs:
        want = {
            r["vec_id"]
            for r in topk_search(df, q.tolist(), 10, tie_cols=["vec_id"]).collect()
        }
        for name, idx in (("pq", idx_pq), ("opq", idx_opq)):
            got = {
                r["vec_id"]
                for r in idx.search(df, q.tolist(), 10, tie_cols=["vec_id"]).collect()
            }
            rec[name].append(len(got & want) / 10)
    mean_pq = sum(rec["pq"]) / len(rec["pq"])
    mean_opq = sum(rec["opq"]) / len(rec["opq"])
    assert mean_opq > mean_pq + 0.05, (mean_pq, mean_opq)


def test_opq_save_load_roundtrip_preserves_rotation(spark, sf_oracle, tmp_path, on_route):
    from nebuia_vector_db_spark.operators.pq import (
        load_pq_index,
        save_pq_index,
        train_opq,
    )

    emb = load_table(spark, sf_oracle, "embeddings").cache()
    rot, books = train_opq(emb, m=8, k=32, sample=500, opq_iters=2)
    idx = encode_pq(emb, books, rotation=rot)
    idx.codes.cache().count()
    save_pq_index(idx, str(tmp_path / "opq"))
    back = load_pq_index(spark, str(tmp_path / "opq"))
    assert back.rotation is not None
    assert np.allclose(back.rotation, rot)
    q = [0.2] * 64
    a = [tuple(r) for r in idx.search(emb, q, 5, tie_cols=["vec_id"]).collect()]
    b = [tuple(r) for r in back.search(emb, q, 5, tie_cols=["vec_id"]).collect()]
    assert a == b


def test_eigen_allocation_rotation_is_balanced_and_orthogonal():
    """Parametric OPQ init (round 7): the rotation must be orthogonal,
    and the greedy must BALANCE per-subspace log-eigenvalue sums — the
    unshifted greedy degenerately assigns the whole top of the
    spectrum to one subspace when all eigenvalues are < 1."""
    import numpy as np

    from nebuia_vector_db_spark.operators.pq import (
        _eigen_allocation_rotation,
    )

    rng = np.random.default_rng(3)
    d, m = 32, 8
    scales = np.exp(-np.arange(d) / 6.0)  # all variances <= 1
    basis = np.linalg.qr(rng.normal(size=(d, d)))[0]
    x = (rng.normal(size=(20_000, d)) * scales) @ basis.T
    rot = _eigen_allocation_rotation(x, m)
    assert np.abs(rot @ rot.T - np.eye(d)).max() < 1e-8
    # per-subspace variance products must be balanced, not hoarded:
    # compare the spread of per-subspace log-variance sums against the
    # degenerate contiguous allocation (top dsub eigenvalues together)
    var = (x @ rot).var(axis=0).reshape(m, d // m)
    spread = np.ptp(np.log(var).sum(axis=1))
    ev = np.sort(np.linalg.eigvalsh(np.cov(x.T)))[::-1]
    degenerate = np.log(ev).reshape(m, d // m).sum(axis=1)
    assert spread < 0.25 * np.ptp(degenerate)


def test_eigen_init_beats_identity_init_on_anisotropic_mse():
    """The config the bench ships (round 7): on a rotated exp-decay
    spectrum, eigen-init OPQ must reconstruct strictly better than
    identity-init OPQ at the same byte budget."""
    import numpy as np

    from nebuia_vector_db_spark.operators.pq import (
        _encode_np,
        _eigen_allocation_rotation,
        _fit_books,
        _reconstruct_np,
    )

    rng = np.random.default_rng(5)
    d, m, k = 32, 8, 64
    scales = np.exp(-np.arange(d) / 6.0)
    basis = np.linalg.qr(rng.normal(size=(d, d)))[0]
    x = (rng.normal(size=(8_000, d)) * scales) @ basis.T
    hold = (rng.normal(size=(2_000, d)) * scales) @ basis.T

    def _mse(rot):
        books = _fit_books(x @ rot, m, k, 8, 42)
        y = hold @ rot
        y_hat = _reconstruct_np(_encode_np(y, books), books)
        return float(np.mean(np.sum((y - y_hat) ** 2, axis=1)))

    mse_id = _mse(np.eye(d))
    mse_eig = _mse(_eigen_allocation_rotation(x, m))
    assert mse_eig < 0.7 * mse_id, (mse_eig, mse_id)


class TestSparkRoute:
    """The ``on_route`` tests again, with every cell written by Spark."""

    route = "spark"


for _test in [
    f for name, f in list(globals().items())
    if name.startswith("test_") and "on_route" in inspect.signature(f).parameters
]:
    setattr(TestSparkRoute, _test.__name__, staticmethod(_test))
