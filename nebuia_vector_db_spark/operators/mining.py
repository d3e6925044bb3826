"""Retrieval training-data mining: hard negatives and
pseudo-relevance query expansion.

Contrastive retrievers (DPR, Contriever, E5 …) are trained on
(query, positive, negatives) triples, and the single highest-leverage
data decision is WHICH negatives: random negatives are trivially
separable, while *hard* negatives — corpus items maximally similar to
the query yet NOT sharing its relevance label — carry the gradient
signal (Karpukhin et al. 2020 §4.2's "hard negatives from BM25/dense
retrieval"). Mining them over a 100 TB corpus is exactly a batch
top-k with an exclusion predicate, so this module composes the
repo's existing kNN machinery rather than growing a new kernel:

- the query side is broadcast (bounded by construction — a training
  batch of queries, not the corpus);
- the corpus is scanned ONCE, never shuffled for the join; the
  label-exclusion predicate lands BELOW the ranking window, so
  Catalyst filters candidates before the per-query heap;
- the per-query cut is ``topk_per_group`` — Spark 4 plans a partial
  WindowGroupLimit, so each task ships ≤ k rows per query to the
  single shuffle.

At GEMM scale the same semantics would run through the one Arrow
top-k kernel, ``topk._arrow_topk``, with the GEMM scorer and each
label's rows grouped and scored only against the queries of other
labels (the grouping ``IVFIndex.search_batch`` uses for cells); the
SQL path here is the oracle-exact spine that variant
would be verified against — same discipline as ``knn_join``'s
sql/arrow pairing.

Reference scope note: the reference engine (main.go) has search only
(no labels, no exclusions) — extension tier (SURVEY §2.4).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nebuia_vector_db_spark.functions.vector import dot, l2_normalize
from nebuia_vector_db_spark.operators.topk import topk_per_group


def _no_column_collisions(
    corpus_df: DataFrame, queries_df: DataFrame, op: str
) -> None:
    """Fail fast with an actionable message instead of Spark's
    ambiguous-reference analysis error mid-plan (the leakage_split
    discipline): the query side is crossJoined onto the corpus, so
    shared names (a corpus 'label' vs a query 'label') would resolve
    arbitrarily."""
    shared = set(corpus_df.columns) & set(queries_df.columns)
    if shared:
        raise ValueError(
            f"{op}: query and corpus relations share column(s) "
            f"{sorted(shared)} — alias the query side "
            "(e.g. query_id/query_vec/query_label) before calling"
        )


def hard_negatives(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    query_label_col: str = "query_label",
    corpus_vec_col: str = "embedding",
    corpus_label_col: str = "label",
    sim_col: str = "similarity",
    tie_cols: Sequence[str] = (),
    exclude_ids: tuple[str, str] | None = None,
) -> DataFrame:
    """Per query: the k corpus rows with the HIGHEST similarity whose
    ``corpus_label_col`` differs from the query's ``query_label_col``
    — the hard-negative set. Reference similarity semantics
    (normalized query · raw stored vector, SURVEY §1.5-1); NULL
    corpus labels are excluded conservatively (a row of unknown label
    must not be served as a negative). A NULL QUERY label likewise
    yields an empty negative set for that query (the != predicate is
    NULL): mining negatives for an unlabeled query is ill-defined —
    there is no way to know what would be a false negative — so
    filter or label the query batch first; this is a per-row data
    condition the operator cannot fail fast on without a scan.
    ``exclude_ids=(query_col, corpus_col)`` additionally drops
    identity matches when queries are drawn from the corpus itself.

    Returns the queries' columns + corpus columns + ``sim_col`` +
    ``rk`` (1-based hardness rank).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    _no_column_collisions(corpus_df, queries_df, "hard_negatives")
    qn = queries_df.withColumn(
        query_vec_col, l2_normalize(F.col(query_vec_col))
    )
    scored = corpus_df.crossJoin(F.broadcast(qn)).where(
        F.col(corpus_label_col).isNotNull()
        & (F.col(corpus_label_col) != F.col(query_label_col))
    )
    if exclude_ids is not None:
        q_id, c_id = exclude_ids
        scored = scored.where(F.col(c_id) != F.col(q_id))
    scored = scored.withColumn(
        sim_col, dot(F.col(corpus_vec_col), F.col(query_vec_col))
    )
    return topk_per_group(
        scored, [query_id_col], sim_col, k, tie_cols=tie_cols
    ).drop(query_vec_col)


def rocchio_expand(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    fb_k: int,
    alpha_pct: int = 100,
    beta_pct: int = 75,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    corpus_id_col: str = "vec_id",
    corpus_vec_col: str = "embedding",
) -> DataFrame:
    """Pseudo-relevance feedback (Rocchio 1971): expand each query
    toward the centroid of its own top-``fb_k`` retrieval results —
    the classic zero-supervision recall booster (blind feedback), and
    the batch-mining step that turns a seed query set into a denser
    positives pool.

    Integer-exactness (what makes the two-stage pipeline fully
    oracle-replayable): every vector component is quantized to
    micro-units ``floor(x·1e6 + 0.5)`` BEFORE any cross-engine sum,
    so the feedback accumulation is order-independent BIGINT
    arithmetic. The expanded vector is

        ``e[d] = alpha_pct · fb_k · q_micro[d] + beta_pct · Σ_topk
        v_micro[d]``

    — deliberately scaled by ``fb_k`` instead of dividing the
    feedback sum by it: integral division of NEGATIVE sums rounds
    differently across engines (Spark ``div`` truncates, SQL ``//``
    floors), while a positive scale factor is erased anyway by the
    L2 normalization every downstream search applies to its query
    (SURVEY §1.5-1). Magnitudes stay ≤ ~1e11 ≪ 2^53, so the
    int→double conversion for stage 2 is exact.

    Returns (query_id, expanded_vec ARRAY<DOUBLE>) — feed to
    :func:`~nebuia_vector_db_spark.operators.topk.knn_join` for the
    second-stage search. One corpus scan for feedback (broadcast
    query side, WindowGroupLimit cut), one dims-sized shuffle for the
    centroid group-by — never a corpus shuffle.
    """
    if fb_k < 1:
        raise ValueError("fb_k must be >= 1")
    if alpha_pct < 0 or beta_pct < 0:
        raise ValueError("alpha_pct/beta_pct must be >= 0")
    _no_column_collisions(corpus_df, queries_df, "rocchio_expand")
    qn = queries_df.select(
        query_id_col,
        l2_normalize(F.col(query_vec_col)).alias("_qn"),
    )
    top = topk_per_group(
        corpus_df.crossJoin(F.broadcast(qn)).withColumn(
            "_s", dot(F.col(corpus_vec_col), F.col("_qn"))
        ),
        [query_id_col],
        "_s",
        fb_k,
        tie_cols=[corpus_id_col],
    )
    fb = (
        top.select(
            query_id_col,
            F.expr(
                "posexplode(transform(cast({v} as array<double>),"
                " x -> cast(floor(x * 1000000D + 0.5D) as bigint)))".format(
                    v=corpus_vec_col
                )
            ).alias("_d", "_vm"),
        )
        .groupBy(query_id_col, "_d")
        .agg(F.sum("_vm").alias("_fb"))
    )
    qm = qn.select(
        query_id_col,
        F.expr(
            "posexplode(transform(_qn,"
            " x -> cast(floor(x * 1000000D + 0.5D) as bigint)))"
        ).alias("_d", "_qm"),
    )
    expanded = (
        qm.join(fb, [query_id_col, "_d"], "left")
        .select(
            query_id_col,
            "_d",
            (
                F.lit(int(alpha_pct) * int(fb_k)).cast("long")
                * F.col("_qm")
                + F.lit(int(beta_pct)).cast("long")
                * F.coalesce(F.col("_fb"), F.lit(0).cast("long"))
            ).alias("_e"),
        )
        .groupBy(query_id_col)
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(_d, _e))),"
                " s -> cast(s._e as double))"
            ).alias("expanded_vec")
        )
    )
    return expanded
