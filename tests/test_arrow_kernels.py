"""Arrow fast paths must agree with the oracle-exact SQL paths:
knn_join(method='arrow'), IVFIndex.search_batch, exact_cosine_pairs —
same rows, similarities within float tolerance.

The batch kNN tests that take ``on_route`` run on the driver route
and again, in ``TestSparkRoute``, on the Spark (``mapInArrow``) one."""

from __future__ import annotations

import inspect
import os

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from nebuia_vector_db_spark.functions.vector import dot, l2_norm, normalize_query
from nebuia_vector_db_spark.operators import topk
from nebuia_vector_db_spark.operators.ann import IVFIndex, assign_to_cells
from nebuia_vector_db_spark.operators.dedup import exact_cosine_pairs
from nebuia_vector_db_spark.operators.topk import (
    _BLOCK_ROWS,
    _gemm_scorer,
    _score_batch,
    knn_join,
)
from nebuia_vector_db_spark.plans.inspect import explain_str
from nebuia_vector_db_spark.sources.registry import load_table


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _duplicates(spark, n, vec):
    """``n`` copies of ``vec`` with vec_id n..1 (descending), one
    partition, as an Arrow-built local relation the driver can size."""
    return spark.createDataFrame(
        pa.table({"vec_id": pa.array(range(n, 0, -1), pa.int64()), "embedding": [vec] * n})
    ).coalesce(1)


def test_arrow_knn_equals_sql(spark, sf_oracle, on_route):
    emb = _emb(spark, sf_oracle)
    queries = emb.where(F.col("vec_id").isin(0, 1, 7)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )

    def _key(df):
        return sorted(
            (r["query_id"], r["rk"], r["vec_id"], round(r["similarity"], 9))
            for r in df.collect()
        )

    a = _key(knn_join(queries, emb, k=5, tie_cols=["vec_id"], method="sql"))
    b = _key(on_route(knn_join(queries, emb, k=5, tie_cols=["vec_id"], method="arrow")))
    assert a == b


@pytest.mark.parametrize("k", [0, 2, 5])
def test_arrow_kernel_tiny_batches_equal_sql(spark, sf_oracle, tiny_arrow_batches, on_route, k):
    """Arrow batches of 3 rows, so with k = 5 every batch is smaller
    than k, with k = 2 every batch is cut, and k = 0 returns nothing:
    the batch GEMM kernel must still return the SQL rows in the D-2
    order (similarity desc, id)."""
    emb = _emb(spark, sf_oracle)
    queries = emb.where(F.col("vec_id").isin(0, 1, 7)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )

    def _knn(method):
        df = knn_join(queries, emb, k=k, tie_cols=["vec_id"], method=method)
        if method == "arrow" and k:  # k = 0 plans an empty relation
            on_route(df)
        return sorted(
            (r["query_id"], r["rk"], r["vec_id"], r["similarity"]) for r in df.collect()
        )

    want, got = _knn("sql"), _knn("arrow")
    assert [r[:3] for r in got] == [r[:3] for r in want]
    assert all(abs(a[3] - b[3]) < 1e-9 for a, b in zip(got, want))
    assert len(want) == 3 * k


def test_gemm_cut_breaks_ties_by_tie_cols(spark, tiny_arrow_batches, on_route):
    """Identical vectors stored in descending vec_id order, Arrow
    batches of 3 rows, k = 2: every row ties, so each batch's cut must
    keep its two smallest vec_ids (the D-2 tie order), not its first
    two rows. knn_join(method='arrow') and search_batch at full probe
    must return exactly the knn_join(method='sql') rows and ranks."""

    vec = [0.6, 0.8, 0.0]
    corpus = _duplicates(spark, 12, vec)
    queries = spark.createDataFrame(
        [(0, vec), (1, [1.0, 0.0, 0.0])], "query_id long, query_vec array<double>"
    )

    def _key(df):
        return sorted(
            (r["query_id"], r["rk"], r["vec_id"], r["similarity"]) for r in df.collect()
        )

    want = _key(knn_join(queries, corpus, k=2, tie_cols=["vec_id"], method="sql"))
    assert [r[:3] for r in want] == [(0, 1, 1), (0, 2, 2), (1, 1, 1), (1, 2, 2)]
    got = _key(on_route(knn_join(queries, corpus, k=2, tie_cols=["vec_id"], method="arrow")))
    assert [r[:3] for r in got] == [r[:3] for r in want]
    assert all(abs(a[3] - b[3]) < 1e-9 for a, b in zip(got, want))

    index = IVFIndex(
        corpus.withColumn("ivf_cell", F.lit(0)), np.array([vec]), "embedding"
    )
    got = _key(on_route(index.search_batch(queries, 2, nprobe=1, tie_cols=["vec_id"])))
    assert [r[:3] for r in got] == [r[:3] for r in want]
    assert all(abs(a[3] - b[3]) < 1e-9 for a, b in zip(got, want))


def test_gemm_cut_breaks_ties_across_row_blocks(spark, on_route):
    """One Arrow batch of more than two row blocks of identical
    vectors, stored in descending vec_id order: every row ties, so the
    block cuts and their merges must keep the smallest vec_ids.
    knn_join(method='arrow') and search_batch at full probe (two cells,
    so a query's rows come from two groups) must return exactly the
    knn_join(method='sql') rows and ranks."""
    n = 2 * _BLOCK_ROWS + 5
    vec = [0.6, 0.8, 0.0]
    corpus = _duplicates(spark, n, vec)
    queries = spark.createDataFrame(
        [(0, vec), (1, [1.0, 0.0, 0.0])], "query_id long, query_vec array<double>"
    )

    def _key(df):
        return sorted(
            (r["query_id"], r["rk"], r["vec_id"], r["similarity"]) for r in df.collect()
        )

    want = _key(knn_join(queries, corpus, k=3, tie_cols=["vec_id"], method="sql"))
    assert [r[:3] for r in want] == [(q, i, i) for q in (0, 1) for i in (1, 2, 3)]
    index = IVFIndex(
        corpus.withColumn("ivf_cell", (F.col("vec_id") % 2).cast("int")),
        np.array([vec, vec]),
        "embedding",
    )
    for got in (
        _key(on_route(knn_join(queries, corpus, k=3, tie_cols=["vec_id"], method="arrow"))),
        _key(on_route(index.search_batch(queries, 3, nprobe=2, tie_cols=["vec_id"]))),
    ):
        assert [r[:3] for r in got] == [r[:3] for r in want]
        assert all(abs(a[3] - b[3]) < 1e-9 for a, b in zip(got, want))


def test_duplicates_split_by_blas_keep_the_sql_order(spark, on_route):
    """Five exact duplicates at d = 128, stored in descending vec_id. A
    plain BLAS product against the query rounds them apart (asserted
    first, so the data exercises the split), and the larger value
    would rank first whatever its vec_id. knn_join(method='arrow') and
    full-probe search_batch must still equal knn_join(method='sql') in
    rows, order and similarities, bit for bit: the cut re-scores its
    candidates left to right, as the SQL dot sums."""
    rng = np.random.default_rng(0)
    vec = rng.normal(size=128).round(3).tolist()
    qvec = rng.normal(size=128).round(3).tolist()
    blas = np.array([vec] * 5) @ np.array(normalize_query(qvec))[:, None]
    assert len(np.unique(blas)) > 1, "BLAS no longer splits these duplicates"

    corpus = _duplicates(spark, 5, vec)
    queries = spark.createDataFrame([(0, qvec)], "query_id long, query_vec array<double>")
    want = _ranked(knn_join(queries, corpus, k=3, tie_cols=["vec_id"], method="sql"))
    assert [r[2] for r in want] == [1, 2, 3]
    index = IVFIndex(corpus.withColumn("ivf_cell", F.lit(0)), np.array([vec]), "embedding")
    for got in (
        knn_join(queries, corpus, k=3, tie_cols=["vec_id"], method="arrow"),
        index.search_batch(queries, 3, nprobe=1, tie_cols=["vec_id"]),
    ):
        assert _ranked(on_route(got)) == want


def test_score_batch_memory_does_not_grow_with_batch_rows():
    """The per-batch kernel scores in row blocks: its peak traced
    allocation at 32 blocks of rows stays within 1.5x of its peak at 4
    blocks (an (n, B) similarity matrix would grow about 8x), also when
    every row is the same vector, so every entry of every block ties
    at the cut and is re-scored left to right."""
    import tracemalloc

    rng = np.random.default_rng(0)
    qmat = rng.normal(size=(64, 16))
    qmat /= np.linalg.norm(qmat, axis=1, keepdims=True)

    def _peak(blocks, duplicates):
        mat = rng.normal(size=(blocks * _BLOCK_ROWS, 16)).astype(np.float32)
        if duplicates:
            mat[:] = mat[0]
        tracemalloc.start()
        try:
            rows, _, _ = _score_batch(
                _gemm_scorer(mat, qmat), len(mat), len(qmat), 10,
                lambda: np.arange(len(mat)),
            )
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert len(rows) == 10 * len(qmat)
        if duplicates:  # the D-2 order keeps the first ten rows
            assert (np.sort(rows.reshape(len(qmat), 10)) == np.arange(10)).all()
        return peak

    for duplicates in (False, True):
        assert _peak(32, duplicates) <= 1.5 * _peak(4, duplicates)


def test_exact_cosine_pairs_equals_join_formula(spark, sf_oracle):
    emb = _emb(spark, sf_oracle)
    gemm = {
        (r["vec_a"], r["vec_b"]): round(r["cosine"], 9)
        for r in exact_cosine_pairs(emb, threshold=0.4).collect()
    }
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        l2_norm("embedding").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        l2_norm("embedding").alias("nb"),
    )
    joined = (
        a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .withColumn("c", dot("ea", F.col("eb")) / (F.col("na") * F.col("nb")))
        .where(F.col("c") >= 0.4)
    )
    ref = {
        (r["vec_a"], r["vec_b"]): round(r["c"], 9) for r in joined.collect()
    }
    assert set(gemm) == set(ref)
    for k in ref:
        assert abs(gemm[k] - ref[k]) < 1e-9


def _queries(emb, ids):
    return emb.where(F.col("vec_id").isin(*ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )


def _both_routes(monkeypatch, build):
    """``build()`` on the driver route, then on the Spark route (the
    shared driver bound at 0); each result is checked for its route."""
    drv = build()
    with monkeypatch.context() as mp:
        mp.setattr(topk, "_DRIVER_MAX_BYTES", 0)
        spk = build()
    assert "MapInArrow" not in explain_str(drv)
    assert "MapInArrow" in explain_str(spk)
    return drv, spk


def _ranked(df):
    """(query_id, rk, vec_id, similarity) rows in rank order."""
    return [
        tuple(r) for r in df.orderBy("query_id", "rk")
        .select("query_id", "rk", "vec_id", "similarity").collect()
    ]


def _assert_same_ranking(got, want):
    assert [r[:3] for r in got] == [r[:3] for r in want]
    assert all(abs(a[3] - b[3]) < 1e-9 for a, b in zip(got, want))


def test_batch_routes_agree(spark, sf_oracle, monkeypatch):
    """knn_join(method='arrow'), full- and partial-probe search_batch
    and assign_to_cells give the same rows in the same order, with
    similarities within 1e-9 and equal schemas, on the driver route and
    on the Spark route; and both equal the SQL kernels:
    knn_join(method='sql') and, per query, IVFIndex.search."""
    emb = load_table(spark, sf_oracle, "embeddings")
    queries = _queries(emb, [0, 3, 11, 42])
    ids = [r[0] for r in queries.collect()]
    qvecs = [list(r[1]) for r in queries.orderBy("query_id").collect()]

    drv, spk = _both_routes(
        monkeypatch,
        lambda: knn_join(queries, emb, k=5, tie_cols=["vec_id"], method="arrow"),
    )
    sql = knn_join(queries, emb, k=5, tie_cols=["vec_id"], method="sql")
    assert drv.schema == spk.schema
    assert drv.dtypes == sql.dtypes
    want = _ranked(sql)
    assert len(want) == 5 * len(ids)
    _assert_same_ranking(_ranked(drv), want)
    _assert_same_ranking(_ranked(spk), want)

    mat = np.array([r["embedding"] for r in emb.orderBy("vec_id").collect()], np.float64)
    cents = mat[[1, 50, 99, 150, 201, 260, 333, 480]]
    a_drv, a_spk = _both_routes(monkeypatch, lambda: assign_to_cells(emb, cents))
    assert a_drv.schema == a_spk.schema
    cells = a_drv.orderBy("vec_id").select("vec_id", "ivf_cell").collect()
    assert cells == a_spk.orderBy("vec_id").select("vec_id", "ivf_cell").collect()
    dist = ((mat[:, None, :] - cents[None]) ** 2).sum(axis=2)
    assert [r["ivf_cell"] for r in cells] == np.argmin(dist, axis=1).tolist()

    index = IVFIndex(a_drv, cents, "embedding")
    for nprobe in (len(cents), 2):
        drv, spk = _both_routes(
            monkeypatch,
            lambda: index.search_batch(queries, 5, nprobe=nprobe, tie_cols=["vec_id"]),
        )
        assert drv.schema == spk.schema
        if nprobe == len(cents):
            want = _ranked(sql)
        else:
            want = [
                (q, rk, r["vec_id"], r["similarity"])
                for q, v in zip(sorted(ids), qvecs)
                for rk, r in enumerate(
                    index.search(v, 5, nprobe=nprobe, tie_cols=["vec_id"]).collect(), 1
                )
            ]
        _assert_same_ranking(_ranked(drv), want)
        _assert_same_ranking(_ranked(spk), want)


def test_driver_route_plans_no_python(spark, sf_oracle):
    """Within the driver bound, the batch kNN results are local
    relations: no MapInArrow in their formatted plans, so collecting
    them starts no Python worker."""
    emb = load_table(spark, sf_oracle, "embeddings")
    queries = _queries(emb, [0, 7])
    cents = np.eye(64)[:4]
    assigned = assign_to_cells(emb, cents)
    index = IVFIndex(assigned, cents, "embedding")
    for df in (
        knn_join(queries, emb, k=3, tie_cols=["vec_id"], method="arrow"),
        index.search_batch(queries, 3, nprobe=2, tie_cols=["vec_id"]),
        assigned,
    ):
        plan = explain_str(df)
        assert "MapInArrow" not in plan and "LocalTableScan" in plan, plan


def test_empty_query_batch_returns_no_rows(spark, sf_oracle, monkeypatch):
    """An empty query batch gives 0 rows in the schema of a non-empty
    batch from knn_join(method='arrow'), IVFIndex.search_batch and
    pq_search_batch, and collects no corpus row."""
    from nebuia_vector_db_spark.operators.pq import encode_pq, pq_search_batch

    emb = load_table(spark, sf_oracle, "embeddings")
    some = _queries(emb, [0, 7])
    empty = some.limit(0)
    cents = np.eye(64)[:4]
    index = IVFIndex(assign_to_cells(emb, cents), cents, "embedding")
    books = np.zeros((8, 2, 8))
    books[:, 1] = 1.0
    pq = encode_pq(index.assigned, books, cell_centroids=cents)
    collected = []
    corpus = topk._driver_corpus
    monkeypatch.setattr(
        topk, "_driver_corpus", lambda df: collected.append(corpus(df)) or collected[-1]
    )
    for run in (
        lambda q: knn_join(q, emb, k=3, tie_cols=["vec_id"], method="arrow"),
        lambda q: index.search_batch(q, 3, nprobe=2, tie_cols=["vec_id"]),
        lambda q: pq_search_batch(pq, emb, q, 3, rerank=5, nprobe=2, tie_cols=["vec_id"]),
    ):
        want = run(some)
        assert want.count() > 0
        collected.clear()
        got = run(empty)
        assert got.count() == 0 and got.schema == want.schema
        assert all(t is None or t.num_rows == 0 for t in collected)


def test_cross_join_inflated_corpus_keeps_mapinarrow(spark, sf_oracle):
    """A corpus whose input files are small but whose plan is a cross
    join is sized by Catalyst's estimate, which exceeds the driver
    bound, so it is not collected: the kNN keeps the MapInArrow kernel
    (a JVM collect of such a corpus once overran the driver heap)."""
    emb = load_table(spark, sf_oracle, "embeddings")
    inflated = emb.crossJoin(emb.limit(100).select(F.col("vec_id").alias("vec_id2")))
    assert topk._driver_corpus(inflated) is None
    out = knn_join(_queries(emb, [0]), inflated, k=3, tie_cols=["vec_id", "vec_id2"], method="arrow")
    assert "MapInArrow" in explain_str(out)


def _parquet_corpus(spark, root, n=64, d=4, files=2):
    """``n`` rows of (vec_id, embedding) in ``files`` parquet files
    under ``root``, read back by Spark as one file scan."""
    import pyarrow.parquet as pq

    rng = np.random.default_rng(7)
    os.makedirs(root)
    for f in range(files):
        ids = np.arange(f, n, files)
        pq.write_table(
            pa.table({"vec_id": ids, "embedding": rng.normal(size=(len(ids), d)).tolist()}),
            os.path.join(root, f"part-{f}.parquet"),
        )
    return spark.read.parquet(root)


def _list_queries(spark, vecs):
    """A Python-list query DataFrame: its collect is one Spark job."""
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "query_id long, query_vec array<double>",
    )


def test_second_knn_join_reuses_the_kept_corpus(spark, tmp_path, spark_jobs):
    """The corpus of knn_join(method='arrow') is collected once while
    its input files are unchanged: a second call over the same
    DataFrame runs one Spark job (the query collect) and returns the
    same rows; a new mtime on one input file forces a fresh collect."""
    corpus = _parquet_corpus(spark, str(tmp_path / "c"))
    queries = _list_queries(spark, [[1.0, 0, 0, 0], [0, 0.5, 0.5, 0]])

    def run():
        return knn_join(queries, corpus, k=5, tie_cols=["vec_id"], method="arrow").collect()

    first, jobs, _ = spark_jobs(run)
    assert jobs == 2 and len(first) == 10
    again, jobs, _ = spark_jobs(run)
    assert (again, jobs) == (first, 1)
    part = str(tmp_path / "c" / "part-0.parquet")
    st = os.stat(part)
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    fresh, jobs, _ = spark_jobs(run)
    assert (fresh, jobs) == (first, 2)
    assert spark_jobs(run)[1] == 1


def test_rdd_and_nondeterministic_corpora_are_collected_every_time(spark, spark_jobs):
    """A corpus read from an RDD, or one whose plan is not
    deterministic, is never kept: each call collects it again."""
    key = "spark.sql.defaultSizeInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(1 << 20))  # lets the driver bound size an RDD
    try:
        rdd = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(8)], "vec_id long, embedding array<double>"
        )
        assert spark_jobs(lambda: topk._driver_corpus(rdd))[1] == 1
        assert spark_jobs(lambda: topk._driver_corpus(rdd))[1] == 1
    finally:
        spark.conf.set(key, old)
    assert id(rdd) not in topk._kept
    local = spark.createDataFrame(pa.table({"vec_id": [1, 2]}))
    for expr in ("uuid()", "rand()"):
        minted = local.withColumn("u", F.expr(expr))
        assert spark_jobs(lambda: topk._driver_corpus(minted).num_rows)[0] == 2
        assert id(minted) not in topk._kept
    topk._driver_corpus(local)
    assert id(local) in topk._kept


def test_kept_tables_stay_within_the_driver_bound(spark, monkeypatch):
    """The kept tables together never hold more than the driver bound:
    the least recently used go first. Dropping a DataFrame frees its
    entry."""
    import gc

    tables = [pa.table({"vec_id": np.arange(500) + 500 * i, "x": np.ones(500)}) for i in range(4)]
    one = tables[0].nbytes
    monkeypatch.setattr(topk, "_DRIVER_MAX_BYTES", int(2.5 * one))
    dfs = [spark.createDataFrame(t) for t in tables]

    def kept_bytes():
        return sum(e[2].nbytes for e in topk._kept.values())

    for df in dfs:
        assert topk._driver_corpus(df).equals(df.toArrow())
        assert kept_bytes() <= topk._DRIVER_MAX_BYTES
    assert [id(df) in topk._kept for df in dfs] == [False, False, True, True]
    topk._driver_corpus(dfs[2])  # now the most recently used
    topk._driver_corpus(dfs[0])
    assert [id(df) in topk._kept for df in dfs] == [True, False, True, False]
    key = id(dfs[0])
    del df, dfs[0]
    gc.collect()
    assert key not in topk._kept and kept_bytes() <= one


def test_threads_share_one_kept_corpus(spark, tmp_path):
    """Eight threads (more than the cores) running
    knn_join(method='arrow') on one corpus DataFrame, fresh or kept,
    with fast thread switches, get the same answer as the SQL kernel,
    and the kept tables stay within the driver bound."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    corpus = _parquet_corpus(spark, str(tmp_path / "c"), n=200, d=8, files=3)
    queries = _list_queries(spark, np.eye(8)[:3])

    def run(method):
        return _ranked(knn_join(queries, corpus, k=7, tie_cols=["vec_id"], method=method))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:  # the first eight race to collect
            answers = list(pool.map(run, ["arrow"] * 16, timeout=300))
    finally:
        sys.setswitchinterval(interval)
    assert len(answers) == 16 and all(got == answers[0] for got in answers)
    assert sum(e[2].nbytes for e in topk._kept.values()) <= topk._DRIVER_MAX_BYTES
    assert id(corpus) in topk._kept
    want = run("sql")
    assert len(want) == 21
    _assert_same_ranking(answers[0], want)


class TestSparkRoute:
    """The ``on_route`` tests again, on the Spark route."""

    route = "spark"


for _test in [
    f for name, f in list(globals().items())
    if name.startswith("test_") and "on_route" in inspect.signature(f).parameters
]:
    setattr(TestSparkRoute, _test.__name__, staticmethod(_test))
