"""Vector math as Catalyst expressions + Arrow fast paths.

Reference semantics (SURVEY.md §1.5-1): ``sim(q, v) = dot(q/‖q‖₂, v)``
— the *query* is L2-normalized once per query (main.go:179-183), the
stored vector is used raw (main.go:246). We replicate exactly.

Two execution strategies:

- ``dot(col, qlit)`` — pure SQL higher-order functions
  (``aggregate(zip_with(...))``): runs inside whole-stage codegen,
  deterministic left-to-right summation (bit-identical to a sequential
  C loop), used for oracle-checked correctness queries.
- ``arrow_list_to_matrix(col)`` — the zero-copy (n, d) view of an
  Arrow batch's vector column that the mapInArrow GEMM kernels of
  ``operators.topk`` score with one BLAS product per batch: the fast
  path for batch kNN and large scans (SURVEY.md §4 P-4).
"""

from __future__ import annotations

import contextlib
import functools
from collections.abc import Iterator, Sequence

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_query(q: Sequence[float]) -> list[float]:
    """L2-normalize a query vector driver-side (float64).

    ≙ main.go:179-183 (gonum ``mat.Norm(qv, 2)`` then scale). Computed
    once per query and inlined as a literal array so Catalyst constant-
    folds it (SURVEY.md §4 P-3).
    """
    arr = np.asarray(q, dtype=np.float64)
    # sequential left-to-right sum — bit-identical to the SQL
    # aggregate() path and DuckDB's list_dot_product (numpy's pairwise
    # summation would differ in the last ulp)
    acc = 0.0
    for x in arr.tolist():
        acc += x * x
    n = float(np.sqrt(acc))
    if n == 0.0:
        return arr.tolist()
    return [x / n for x in arr.tolist()]


def _lit_vec(q: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in q])


def dot(vec: Column | str, q: Column | Sequence[float]) -> Column:
    """dot(vec, q) as a pure SQL expression (codegen'd, no Python).

    ≙ main.go:263-275 (``dotProduct``, 4-way unrolled loop). The JVM
    JIT handles unrolling; summation is sequential left-to-right so
    results are deterministic and match DuckDB's ``list_dot_product``
    bit-for-bit on identical inputs.
    """
    vec = F.col(vec) if isinstance(vec, str) else vec
    if not isinstance(q, Column):
        q = _lit_vec(q)
    return F.aggregate(
        F.zip_with(vec, q, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(vec: Column | str) -> Column:
    """‖vec‖₂ as a SQL expression."""
    vec = F.col(vec) if isinstance(vec, str) else vec
    return F.sqrt(
        F.aggregate(
            vec,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def l2_normalize(vec: Column | str) -> Column:
    """vec/‖vec‖₂ as a SQL expression (zero vectors pass through)."""
    vec = F.col(vec) if isinstance(vec, str) else vec
    n = l2_norm(vec)
    return F.when(n == 0.0, vec.cast("array<double>")).otherwise(
        F.transform(vec, lambda x: x.cast("double") / n)
    )


def cosine_sim(a: Column | str, b: Column | str) -> Column:
    """True cosine similarity between two vector columns (for
    pair/self-joins — both sides normalized, unlike the query path)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


@functools.cache
def _openblas_threads() -> tuple | None:
    """(get, set) thread-count functions of numpy's bundled OpenBLAS,
    resolved once per process via ctypes; ``None`` on other BLAS
    backends."""
    import ctypes
    import glob
    import os

    pkg_dir = os.path.dirname(os.path.dirname(np.__file__))
    candidates = glob.glob(
        os.path.join(pkg_dir, "numpy.libs", "libopenblas*.so*")
    ) + glob.glob(
        os.path.join(os.path.dirname(np.__file__), ".libs", "libopenblas*.so*")
    )
    for path in candidates:
        try:
            lib = ctypes.CDLL(path)  # already loaded: dlopen reuses it
        except OSError:
            continue
        for suffix in ("64_", ""):
            get = getattr(lib, f"openblas_get_num_threads{suffix}", None)
            set_ = getattr(lib, f"openblas_set_num_threads{suffix}", None)
            if get is not None and set_ is not None:
                return get, set_
    return None


@contextlib.contextmanager
def limit_blas_threads(n: int = 1) -> Iterator[None]:
    """Cap OpenBLAS's internal thread count in THIS process for the
    duration of the block, then restore the prior count.

    Data-parallel kernels (one GEMM task per core) oversubscribe when
    every task's BLAS call also spawns threads: with 21-32 concurrent
    block-GEMM tasks the extra threads only add contention (measured
    on b9's 40k×40k blocks: 21-task wall 29.0 s → 20.6 s with BLAS
    pinned to 1). Wrapped around the GEMM inside the Python worker,
    so other work the same worker runs keeps the multithreaded path.

    Best-effort: a no-op on BLAS backends other than numpy's bundled
    OpenBLAS.
    """
    fns = _openblas_threads()
    if fns is None:
        yield
        return
    get, set_ = fns
    prior = get()
    set_(int(n))
    try:
        yield
    finally:
        set_(prior)


def arrow_list_to_matrix(col) -> np.ndarray:
    """pyarrow List/FixedSizeList array of floats → (len(col), d)
    ndarray with zero copies where the layout allows (contiguous values
    buffer). A sliced array decodes its own rows, and width-0 lists
    keep their rows.

    A pandas_udf would see per-row object arrays (``np.vstack`` copies
    every row); under mapInArrow the list array's values buffer is
    already the row-major matrix.
    """
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if pa.types.is_fixed_size_list(col.type):
        d = col.type.list_size
        # ``values`` ignores the slice offset
        values = col.values.slice(col.offset * d, len(col) * d)
    else:
        # guard against a sliced/offset list array where offsets don't
        # start at 0 (flatten() handles it, still no per-row copy)
        values = col.flatten()
        offsets = col.offsets.to_numpy(zero_copy_only=False)
        widths = np.diff(offsets)
        d = int(widths[0]) if len(widths) else 0
        if len(widths) and not (widths == d).all():
            raise ValueError("ragged embedding column; expected fixed dim")
    return values.to_numpy(zero_copy_only=False).reshape(len(col), d)
