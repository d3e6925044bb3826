"""Arrow fast paths must agree with the oracle-exact SQL paths:
knn_join(method='arrow'), IVFIndex.search_batch, exact_cosine_pairs —
same rows, similarities within float tolerance."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from nebuia_vector_db_spark.functions.vector import l2_norm, dot
from nebuia_vector_db_spark.operators.ann import IVFIndex
from nebuia_vector_db_spark.operators.dedup import exact_cosine_pairs
from nebuia_vector_db_spark.operators.topk import (
    _BLOCK_ROWS,
    _gemm_scorer,
    _score_batch,
    knn_join,
)
from nebuia_vector_db_spark.sources.registry import load_table


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_arrow_knn_equals_sql(spark, sf_oracle):
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
    b = _key(knn_join(queries, emb, k=5, tie_cols=["vec_id"], method="arrow"))
    assert a == b


@pytest.mark.parametrize("k", [0, 2, 5])
def test_arrow_kernel_tiny_batches_equal_sql(spark, sf_oracle, tiny_arrow_batches, k):
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
        return sorted(
            (r["query_id"], r["rk"], r["vec_id"], r["similarity"])
            for r in knn_join(queries, emb, k=k, tie_cols=["vec_id"], method=method).collect()
        )

    want, got = _knn("sql"), _knn("arrow")
    assert [r[:3] for r in got] == [r[:3] for r in want]
    assert all(abs(a[3] - b[3]) < 1e-9 for a, b in zip(got, want))
    assert len(want) == 3 * k


def test_gemm_cut_breaks_ties_by_tie_cols(spark, tiny_arrow_batches):
    """Identical vectors stored in descending vec_id order, Arrow
    batches of 3 rows, k = 2: every row ties, so each batch's cut must
    keep its two smallest vec_ids (the D-2 tie order), not its first
    two rows. knn_join(method='arrow') and search_batch at full probe
    must return exactly the knn_join(method='sql') rows and ranks."""

    vec = [0.6, 0.8, 0.0]
    corpus = spark.createDataFrame(
        [(i, vec) for i in range(12, 0, -1)], "vec_id long, embedding array<double>"
    ).coalesce(1)
    queries = spark.createDataFrame(
        [(0, vec), (1, [1.0, 0.0, 0.0])], "query_id long, query_vec array<double>"
    )

    def _key(df):
        return sorted(
            (r["query_id"], r["rk"], r["vec_id"], r["similarity"]) for r in df.collect()
        )

    want = _key(knn_join(queries, corpus, k=2, tie_cols=["vec_id"], method="sql"))
    assert [r[:3] for r in want] == [(0, 1, 1), (0, 2, 2), (1, 1, 1), (1, 2, 2)]
    got = _key(knn_join(queries, corpus, k=2, tie_cols=["vec_id"], method="arrow"))
    assert [r[:3] for r in got] == [r[:3] for r in want]
    assert all(abs(a[3] - b[3]) < 1e-9 for a, b in zip(got, want))

    index = IVFIndex(
        corpus.withColumn("ivf_cell", F.lit(0)), np.array([vec]), "embedding"
    )
    got = _key(index.search_batch(queries, 2, nprobe=1, tie_cols=["vec_id"]))
    assert [r[:3] for r in got] == [r[:3] for r in want]
    assert all(abs(a[3] - b[3]) < 1e-9 for a, b in zip(got, want))


def test_gemm_cut_breaks_ties_across_row_blocks(spark):
    """One Arrow batch of more than two row blocks of identical
    vectors, stored in descending vec_id order: every row ties, so the
    block cuts and their merges must keep the smallest vec_ids.
    knn_join(method='arrow') and search_batch at full probe (two cells,
    so a query's rows come from two groups) must return exactly the
    knn_join(method='sql') rows and ranks."""
    n = 2 * _BLOCK_ROWS + 5
    vec = [0.6, 0.8, 0.0]
    corpus = spark.createDataFrame(
        [(i, vec) for i in range(n, 0, -1)], "vec_id long, embedding array<double>"
    ).coalesce(1)
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
        _key(knn_join(queries, corpus, k=3, tie_cols=["vec_id"], method="arrow")),
        _key(index.search_batch(queries, 3, nprobe=2, tie_cols=["vec_id"])),
    ):
        assert [r[:3] for r in got] == [r[:3] for r in want]
        assert all(abs(a[3] - b[3]) < 1e-9 for a, b in zip(got, want))


def test_score_batch_memory_does_not_grow_with_batch_rows():
    """The per-batch kernel scores in row blocks: its peak traced
    allocation at 32 blocks of rows stays within 1.5x of its peak at 4
    blocks (an (n, B) similarity matrix would grow about 8x)."""
    import tracemalloc

    rng = np.random.default_rng(0)
    qmat = rng.normal(size=(64, 16))
    qmat /= np.linalg.norm(qmat, axis=1, keepdims=True)

    def _peak(blocks):
        mat = rng.normal(size=(blocks * _BLOCK_ROWS, 16)).astype(np.float32)
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
        return peak

    assert _peak(32) <= 1.5 * _peak(4)


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
