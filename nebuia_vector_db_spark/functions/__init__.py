"""Scalar/vector/text function library (JVM-side expressions first).

Everything here returns Column expressions built from
``pyspark.sql.functions`` higher-order functions so the hot path stays
inside whole-stage codegen. No Python-side scoring kernel lives here:
``functions.vector.arrow_list_to_matrix`` is the zero-copy matrix view
the mapInArrow kernels of ``operators`` score with.
"""

from nebuia_vector_db_spark.functions.vector import (
    cosine_sim,
    dot,
    l2_norm,
    l2_normalize,
    normalize_query,
)

__all__ = [
    "cosine_sim",
    "dot",
    "l2_norm",
    "l2_normalize",
    "normalize_query",
]
