import numpy as np
import pyarrow as pa
import pytest

from nebuia_vector_db_spark.functions.vector import (
    arrow_list_to_matrix,
    cosine_sim,
    dot,
    l2_norm,
    l2_normalize,
    normalize_query,
)


def test_normalize_query_matches_numpy():
    q = [3.0, 4.0]
    assert normalize_query(q) == pytest.approx([0.6, 0.8])


def test_normalize_query_zero_vector_passthrough():
    assert normalize_query([0.0, 0.0]) == [0.0, 0.0]


def test_dot_expression(spark):
    df = spark.createDataFrame([([1.0, 2.0, 3.0],)], "v array<double>")
    out = df.select(dot("v", [4.0, 5.0, 6.0]).alias("d")).head()
    assert out["d"] == pytest.approx(32.0)


def test_dot_float_array_promotes_to_double(spark):
    df = spark.createDataFrame([([1.5, 2.5],)], "v array<float>")
    out = df.select(dot("v", [2.0, 2.0]).alias("d")).head()
    assert out["d"] == pytest.approx(8.0)


def test_l2_norm_and_normalize(spark):
    df = spark.createDataFrame([([3.0, 4.0],)], "v array<double>")
    row = df.select(
        l2_norm("v").alias("n"), l2_normalize("v").alias("u")
    ).head()
    assert row["n"] == pytest.approx(5.0)
    assert row["u"] == pytest.approx([0.6, 0.8])


def test_cosine_sim_pairs(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 2.0]), ([1.0, 1.0], [2.0, 2.0])],
        "a array<double>, b array<double>",
    )
    vals = [r["c"] for r in df.select(cosine_sim("a", "b").alias("c")).collect()]
    assert vals[0] == pytest.approx(0.0)
    assert vals[1] == pytest.approx(1.0)


def test_limit_blas_threads_restores_prior_count():
    from nebuia_vector_db_spark.functions.vector import (
        _openblas_threads,
        limit_blas_threads,
    )

    fns = _openblas_threads()
    if fns is None:
        pytest.skip("numpy is not linked against its bundled OpenBLAS")
    get, set_ = fns
    original = get()
    set_(2)
    try:
        with limit_blas_threads(1):
            assert get() == 1
        assert get() == 2
    finally:
        set_(original)


def test_arrow_list_to_matrix_keeps_rows_of_width_zero():
    """Width-0 lists decode to (n, 0), not (0, 0): a kernel indexes
    the matrix by row."""
    col = pa.array([[], [], []], pa.list_(pa.float64()))
    for c in (col, col.slice(1)):
        mat = arrow_list_to_matrix(c)
        assert mat.shape == (len(c), 0) and mat.dtype == np.float64


def test_arrow_list_to_matrix_decodes_a_sliced_fixed_size_list():
    """A sliced FixedSizeListArray decodes its own rows: ``values``
    ignores the slice offset."""
    col = pa.FixedSizeListArray.from_arrays(pa.array([1.0, 2, 3, 4, 5, 6]), 2)
    assert arrow_list_to_matrix(col.slice(1)).tolist() == [[3.0, 4.0], [5.0, 6.0]]
    assert arrow_list_to_matrix(col.slice(1, 1)).tolist() == [[3.0, 4.0]]
    assert arrow_list_to_matrix(pa.array([[1.0, 2], [3, 4], [5, 6]]).slice(2)).tolist() == [[5.0, 6.0]]
