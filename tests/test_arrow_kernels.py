"""Arrow fast paths must agree with the oracle-exact SQL paths:
topk_search(method='arrow'), knn_join(method='arrow'),
exact_cosine_pairs — same rows, similarities within float tolerance."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nebuia_vector_db_spark.functions.vector import l2_norm, dot
from nebuia_vector_db_spark.operators.dedup import exact_cosine_pairs
from nebuia_vector_db_spark.operators.topk import knn_join, topk_search
from nebuia_vector_db_spark.sources.registry import load_table


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _q(spark, sf_dir, vid):
    return [
        float(x)
        for x in _emb(spark, sf_dir).where(F.col("vec_id") == vid).head()["embedding"]
    ]


def test_arrow_topk_equals_sql(spark, sf_oracle):
    emb = _emb(spark, sf_oracle)
    q = _q(spark, sf_oracle, 0)
    sql_rows = [
        (r["vec_id"], round(r["similarity"], 9))
        for r in topk_search(emb, q, 10, tie_cols=["vec_id"], method="sql").collect()
    ]
    arrow_rows = [
        (r["vec_id"], round(r["similarity"], 9))
        for r in topk_search(emb, q, 10, tie_cols=["vec_id"], method="arrow").collect()
    ]
    assert sql_rows == arrow_rows


def test_arrow_topk_small_partitions(spark, sf_oracle):
    """Partitions smaller than k must emit all their rows (the n <= k
    branch of the local cut)."""
    emb = _emb(spark, sf_oracle).repartition(64)  # ~8 rows/partition at sf0.01
    q = _q(spark, sf_oracle, 3)
    sql_ids = [r["vec_id"] for r in topk_search(emb, q, 20, tie_cols=["vec_id"]).collect()]
    arrow_ids = [
        r["vec_id"]
        for r in topk_search(emb, q, 20, tie_cols=["vec_id"], method="arrow").collect()
    ]
    assert sql_ids == arrow_ids


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
    the single-query and batch paths of the GEMM kernel must still
    return the SQL rows in the D-2 order (similarity desc, id)."""
    emb = _emb(spark, sf_oracle)
    q = _q(spark, sf_oracle, 3)

    def _rows(method):
        return [
            (r["vec_id"], r["similarity"])
            for r in topk_search(emb, q, k, tie_cols=["vec_id"], method=method).collect()
        ]

    want, got = _rows("sql"), _rows("arrow")
    assert [i for i, _ in got] == [i for i, _ in want]
    assert all(abs(a - b) < 1e-9 for (_, a), (_, b) in zip(got, want))
    assert len(want) == k

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
