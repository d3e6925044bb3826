"""Physical-plan regression tests (plans/inspect.py): pin the scale
properties — pushdown, pruning, broadcast, shuffle budget, top-k
without global sort — that sf0.01 timings can't see but 100 TB can."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nebuia_vector_db_spark import queries as Q
from nebuia_vector_db_spark.plans.inspect import (
    explain_str,
    has_broadcast_join,
    plan_asserts,
    scan_read_schema,
    shuffle_count,
    wholestage_codegen_count,
)
from nebuia_vector_db_spark.sources.registry import load_table


@pytest.fixture(autouse=True)
def _no_cached_scans(spark):
    """A cached table turns file scans into InMemoryTableScan (no
    PushedFilters) — plan assertions need the real scans."""
    spark.catalog.clearCache()
    yield


def test_filter_pushdown_reaches_scan(spark, sf_oracle):
    emb = load_table(spark, sf_oracle, "embeddings").where(
        F.col("label").isin(1, 2, 3)
    )
    plan_asserts(emb, pushed=("label",))


def test_column_pruning_two_col_projection(spark, sf_oracle):
    li = load_table(spark, sf_oracle, "lineitem").select("l_orderkey", "l_quantity")
    schemas = scan_read_schema(li)
    assert schemas, "no scan found"
    assert "l_orderkey" in schemas[0] and "l_quantity" in schemas[0]
    assert "l_extendedprice" not in schemas[0]  # unprojected → pruned


def test_topk_is_take_ordered_no_shuffle(spark, sf_oracle):
    df = Q.q_vs_topk(spark, sf_oracle)
    # TakeOrderedAndProject = per-partition bounded heap + driver merge:
    # no global sort, no shuffle exchange anywhere in the plan
    plan_asserts(df, max_shuffles=0, contains=("TakeOrderedAndProject",))


def test_tpch_q3_broadcasts_customer(spark, sf_oracle):
    df = Q.q_tpch_q3(spark, sf_oracle)
    assert has_broadcast_join(df)


def test_tpch_q5_dims_broadcast(spark, sf_oracle):
    df = Q.q_tpch_q5(spark, sf_oracle)
    assert has_broadcast_join(df)


def test_knn_join_broadcasts_queries_not_corpus(spark, sf_oracle):
    df = Q.q_vs_knn_join(spark, sf_oracle)
    assert has_broadcast_join(df)
    # the only shuffle is the per-query row_number window cut
    assert shuffle_count(df) <= 1


def test_codegen_covers_similarity_pipeline(spark, sf_oracle):
    df = Q.q_vs_topk(spark, sf_oracle)
    assert wholestage_codegen_count(df) >= 1


def test_events_hourly_shuffle_budget(spark, sf_oracle):
    """Gap-filled resample: the hourly agg's hash exchange is the ONLY
    shuffle — the spine/type dims collapse into a map-side min/max/
    collect_set pass (no extra exchange) and the join side broadcasts;
    a second events scan is tolerated (both are column-pruned), a
    third or a dim-side shuffle is a regression."""
    df = Q.q_events_hourly(spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert shuffle_count(df) <= 1
    assert plan.count("Scan parquet") <= 2
    assert has_broadcast_join(df)


def test_engine_search_prunes_collection_partitions(
    spark, tmp_path_factory, monkeypatch
):
    """A search must read ONLY its collections' files (≙ the
    reference's MinIO prefix listing, main.go:186-189): each store
    commit writes one collection, and the snapshot manifest's
    ``collection`` stats drop every other file before the scan is
    planned — for one collection and for several, on the Spark route
    (the files the plan scans) and on the driver route (the files it
    opens)."""
    from urllib.parse import urlparse

    import pyarrow.parquet as pq

    from nebuia_vector_db_spark.operators import topk as topk_module
    from nebuia_vector_db_spark.engine import VectorEngine

    wh = str(tmp_path_factory.mktemp("wh_prune"))
    eng = VectorEngine(spark, wh, dim=4)
    for coll in ("a", "b", "c"):
        eng.store(
            coll,
            [
                {
                    "text": "t",
                    "metadata": {"source": None, "name": f"{coll}0"},
                    "chunks": [
                        {
                            "text": "c",
                            "embedding": [1.0, 0.0, 0.0, 0.0],
                            "metadata": {"source": None, "name": f"{coll}0c"},
                            "semantic_score": 0.0,
                        }
                    ],
                }
            ],
        )

    def data_files(df):
        """The collections of each scanned file that holds rows (a
        commit may also write a row-less file, which has no stats)."""
        out = []
        for f in df.inputFiles():
            colls = pq.read_table(urlparse(f).path, columns=["collection"])
            if colls.num_rows:
                out.append(sorted(set(colls.column(0).to_pylist())))
        return sorted(out)

    opened = []
    init = pq.ParquetFile.__init__

    def spy(self, source, *a, **kw):
        opened.append(source)
        init(self, source, *a, **kw)

    q = [1.0, 0.0, 0.0, 0.0]
    monkeypatch.setattr(pq.ParquetFile, "__init__", spy)
    eng.search("b", q, 5)
    eng.multi_search(["a", "b"], q, 5)
    monkeypatch.undo()
    assert [pq.read_table(p).column("collection").to_pylist() for p in opened] == [
        ["b"], ["a"], ["b"]
    ]
    monkeypatch.setattr(topk_module, "_DRIVER_MAX_BYTES", 0)
    assert data_files(eng.search("b", q, 5)) == [["b"]]
    assert data_files(eng.multi_search(["a", "b"], q, 5)) == [["a"], ["b"]]


def test_knn_join_partial_topk_before_shuffle(spark, sf_oracle):
    """Spark 4 plans a Partial WindowGroupLimit below the exchange —
    each task ships at most k rows per query, so the window shuffle is
    bounded by partitions × queries × k, not B×N (SURVEY §7.3-2)."""
    df = Q.q_vs_knn_join(spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_q18_aggregates_before_join_single_shuffle(spark, sf_oracle):
    """The HAVING key set is reduced BEFORE the 3-way join: the only
    exchange is the l_orderkey groupBy; orders and customer join via
    broadcast, and the final top-100 is TakeOrderedAndProject."""
    df = Q.q_tpch_q18(spark, sf_oracle)
    plan_asserts(
        df, max_shuffles=1, contains=("TakeOrderedAndProject",)
    )
    assert has_broadcast_join(df)


def test_qty_band_join_is_broadcast_nested_loop(spark, sf_oracle):
    """A non-equi (range) join against a 3-row dim must not shuffle the
    fact side for the join itself — broadcast nested-loop streams
    lineitem through each task with the dim in memory."""
    df = Q.q_qty_band_join(spark, sf_oracle)
    plan_asserts(df, contains=("BroadcastNestedLoopJoin",))


def test_pack_sequences_has_no_single_partition_exchange(spark, sf_oracle):
    """The packing cumsum must stay distributed: a bucketed window
    (hash exchange on the range bucket), never the one-task
    `Exchange SinglePartition` a global Window.orderBy would force."""
    from nebuia_vector_db_spark.operators.pipeline import pack_sequences

    docs = load_table(spark, sf_oracle, "documents")
    packed = pack_sequences(docs, capacity=2048)
    from nebuia_vector_db_spark.plans.inspect import _executed_plan

    plan = _executed_plan(packed)
    assert "SinglePartition" not in plan, plan
    assert "Window" in plan
    # the window is partitioned by the bucket column
    assert "hashpartitioning(_b" in plan, plan


def test_pq_adc_scans_codes_only_and_rerank_broadcasts(spark, sf_oracle):
    """The ADC scan must read codes, never the raw vectors; the exact
    re-rank must reach the corpus via a broadcast (semi) join of the
    tiny shortlist — at 100 TB the full-precision table is orders of
    magnitude larger than the code table, so any plan that drags
    embeddings through the ADC stage or shuffles the corpus for the
    re-rank is wrong."""
    from nebuia_vector_db_spark.operators.pq import encode_pq, train_pq

    emb = load_table(spark, sf_oracle, "embeddings")
    books = train_pq(emb, m=16, k=16, sample=200)
    pq = encode_pq(emb, books)
    out = pq.search(emb, [0.1] * 64, 5, rerank=32, tie_cols=["vec_id"])
    assert has_broadcast_join(out)
    from nebuia_vector_db_spark.plans.inspect import _executed_plan

    plan = _executed_plan(out)
    assert "LeftSemi" in plan, plan
    # corpus side of the re-rank join is never exchanged
    assert shuffle_count(out) == 0, plan


def test_pq_search_fuses_encode_and_adc_into_one_python_node(
    spark, sf_oracle
):
    """r16 (VERDICT r15 task #2, guide §4): an encode_pq-built index
    whose codes were not persisted must score through ONE Arrow
    crossing (fused encode + ADC kernel), not encode-mapInArrow +
    ADC-UDF. A cached codes relation keeps the codes-scan path — one
    crossing over the cheaper table. ``pq_search_batch`` scores through
    the same shortlist, so it is one crossing too."""
    import re

    from nebuia_vector_db_spark.operators.pq import (
        encode_pq,
        pq_search_batch,
        train_pq,
    )

    def python_nodes(df):
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        return plan, re.findall(
            r"\(\d+\) (MapInArrow|ArrowEvalPython|BatchEvalPython|MapInPandas)",
            plan,
        )

    emb = load_table(spark, sf_oracle, "embeddings")
    books = train_pq(emb, m=16, k=16, sample=200)
    pq = encode_pq(emb, books)
    fused = pq.search(emb, [0.1] * 64, 5, rerank=32, tie_cols=["vec_id"])
    plan, nodes = python_nodes(fused)
    assert nodes == ["MapInArrow"], plan
    queries = spark.createDataFrame(
        [(0, [0.1] * 64), (1, [0.2, -0.1] * 32)],
        "query_id long, query_vec array<double>",
    )
    plan, nodes = python_nodes(pq_search_batch(pq, emb, queries, 5, rerank=32))
    assert nodes == ["MapInArrow"], plan
    fused_rows = fused.collect()
    # cached codes → the codes-scan path; results bit-identical
    pq.codes = pq.codes.cache()
    pq.codes.count()
    try:
        stored_rows = pq.search(
            emb, [0.1] * 64, 5, rerank=32, tie_cols=["vec_id"]
        ).collect()
        assert fused_rows == stored_rows
    finally:
        pq.codes.unpersist()


def test_boilerplate_two_shuffles(spark, sf_oracle):
    """df-count on shingle + final agg on doc_id; the join back to
    postings reuses the shingle partitioning (no third exchange for
    the join's probe side beyond those two)."""
    from nebuia_vector_db_spark.functions.text import boilerplate_stats
    from nebuia_vector_db_spark.operators.dedup import shingle_postings

    docs = load_table(spark, sf_oracle, "documents")
    out = boilerplate_stats(shingle_postings(docs), min_df=5)
    assert shuffle_count(out) <= 3  # shingle agg, join key reuse, doc agg


def test_events_pivot_explicit_values_one_agg_pass(spark, sf_oracle):
    """Explicit pivot values keep the pivot to ONE aggregate pass (an
    inferred pivot runs an extra distinct job first, a full scan at
    scale) and the scan prunes to the two live columns — the events
    payload (props) never leaves the reader."""
    df = Q.q_events_pivot(spark, sf_oracle)
    # one hash exchange for the day agg + the final presentation sort
    assert shuffle_count(df) <= 2
    schemas = scan_read_schema(df)
    assert schemas and "ts" in schemas[0] and "event_type" in schemas[0]
    assert "props" not in schemas[0], schemas[0]


def test_fuzzy_match_is_blocked_equi_join(spark, sf_oracle):
    """The Levenshtein comparison must run only within blocks via an
    equi-join on the block key — never a cartesian/nested-loop over
    the full name vocabulary (O(V²) at 100 TB)."""
    from nebuia_vector_db_spark.plans.inspect import _executed_plan

    df = Q.q_fuzzy_name_match(spark, sf_oracle)
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_stratified_sample_is_map_side_only(spark, sf_oracle):
    """Per-stratum deterministic sampling is a pure projection+filter:
    zero exchanges, so it composes into any downstream plan without
    adding a stage boundary."""
    from nebuia_vector_db_spark.operators.pipeline import stratified_sample

    docs = load_table(spark, sf_oracle, "documents")
    out = stratified_sample(docs, {"en": 0.5, "de": 0.1}, stratum_col="lang")
    assert shuffle_count(out) == 0


def test_funnel_one_scan_one_shuffle_no_joins(spark, sf_oracle):
    """The ordered funnel is a single pass: events hash-partition on
    user_id ONCE, stage qualification chains prefix-window minima over
    that partition, and no join (and no second events scan) appears —
    the join-chain formulation this replaced paid 3 scans + 5
    shuffles. (The one SinglePartition exchange is the final 3-row
    global count aggregate, not data.)"""
    from nebuia_vector_db_spark.plans.inspect import _executed_plan

    df = Q.q_events_funnel(spark, sf_oracle)
    plan = _executed_plan(df)
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert shuffle_count(df) <= 1


def test_retention_one_pass_bounded_shuffles(spark, sf_oracle):
    """Cohort retention is ONE grouped pass (r16): a single events
    scan computes cohort week + distinct active weeks together, no
    join, and the shuffle budget is user-agg + cell agg + output sort
    (the r15 two-scan self-join form paid 2 scans and 5+ shuffles)."""
    df = Q.q_events_retention(spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") <= 1
    assert "Join" not in plan, plan
    assert "Window" not in plan
    assert shuffle_count(df) <= 3


def test_events_range_partitioning_single_exchange(spark, sf_oracle):
    """events_sessions / events_user_gap (r16): the input
    repartitionByRange(user_id) is the ONLY exchange — the session /
    window aggregation clusters on it and the global orderBy reuses
    it via the ordering-prefix rule, so no second (range) exchange
    appears before the output sort."""
    for fn in (Q.q_events_sessions, Q.q_events_user_gap):
        df = fn(spark, sf_oracle)
        assert shuffle_count(df) <= 1, (
            fn.__name__,
            df._jdf.queryExecution().executedPlan().toString(),
        )


def test_hybrid_search_topk_and_no_cartesian(spark, sf_oracle):
    """Hybrid fusion: the keyword side is posting-list equi-joins over
    the cached weight relation (never all-pairs), the fusion join is
    keyed on the doc id, and the final cut is TakeOrderedAndProject —
    a cartesian or a global-sort regression fails here."""
    df = Q.q_hybrid_search(spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert shuffle_count(df) <= 8


def test_rrf_windows_only_over_bounded_lists(spark, sf_oracle):
    """RRF must never totally order the corpus: each signal's list is
    cut by TakeOrderedAndProject (bounded heaps) BEFORE the rank
    window, so the plan's windows run over <= n_cand rows and no
    SinglePartition exchange of unbounded data appears."""
    df = Q.q_hybrid_rrf(spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("TakeOrderedAndProject") >= 3
    assert "Exchange SinglePartition" not in plan, plan


def test_epoch_shard_is_map_side_only(spark, sf_oracle):
    """Epoch shuffle/sharding is a pure projection (md5 arithmetic):
    zero exchanges, so it composes into a write's repartition without
    adding a stage of its own."""
    from nebuia_vector_db_spark.operators.pipeline import epoch_shard

    docs = load_table(spark, sf_oracle, "documents")
    assert shuffle_count(epoch_shard(docs, epoch=1)) == 0


def test_ivf_cell_assignment_is_map_side_only(spark, sf_oracle, monkeypatch):
    """assign_to_cells (the incremental-append router) must be a pure
    map: broadcast centroid matrix + per-batch GEMM argmin, zero
    exchanges — appending a day's vectors never reshuffles anything.
    The Spark route is checked (driver bound 0); the driver route's
    result is a local relation."""
    import numpy as np

    from nebuia_vector_db_spark.operators import topk
    from nebuia_vector_db_spark.operators.ann import assign_to_cells

    emb = load_table(spark, sf_oracle, "embeddings")
    cents = np.zeros((8, 64), dtype=np.float64)
    cents[np.arange(8), np.arange(8)] = 1.0
    monkeypatch.setattr(topk, "_DRIVER_MAX_BYTES", 0)
    assigned = assign_to_cells(emb, cents)
    assert "MapInArrow" in explain_str(assigned)
    assert shuffle_count(assigned) == 0


def test_domain_quota_partial_group_limit_before_exchange(spark, sf_oracle):
    """pipe_domain_quota's scale property: the Partial WindowGroupLimit
    sits BELOW the hash exchange, so every map task forwards at most K
    rows per domain — the shuffle carries K x domains rows, not the
    corpus — and the scan prunes to exactly (doc_id, source)."""
    from nebuia_vector_db_spark.plans.inspect import explain_str

    df = Q.q_pipe_domain_quota(spark, sf_oracle)
    plan = explain_str(df)
    assert "row_number(), 10, Partial" in plan, "no map-side group limit"
    assert "row_number(), 10, Final" in plan, "no final group limit"
    schemas = scan_read_schema(df)
    assert any(
        "doc_id" in s and "source" in s and "text" not in s for s in schemas
    ), f"scan not pruned: {schemas}"
    assert shuffle_count(df) <= 2  # domain hash + final presentation sort


def test_text_repetition_linear_shape(spark, sf_oracle):
    """Round 6 (VERDICT r5 task #1): the top-bigram count must be the
    LINEAR explode → partial-agg → max shape, not the O(distinct ×
    n_bigrams) per-row HOF. Pin: the quadratic `array_max(transform(
    array_distinct(bg), ...))` is gone from the plan, aggregation is
    hash-based (map-side combine before the exchange), and the shuffle
    budget is bigram-agg + doc-agg + presentation sort."""
    from nebuia_vector_db_spark.plans.inspect import explain_str

    df = Q.q_text_repetition(spark, sf_oracle)
    plan = explain_str(df)
    assert "array_max" not in plan, "quadratic per-row HOF is back"
    assert "HashAggregate" in plan
    assert shuffle_count(df) <= 3
    assert not has_broadcast_join(df)


def test_substring_dedup_is_equi_join_no_cartesian(spark, sf_oracle):
    """The span-dedup self-join must hash-join on the anchor string —
    a BroadcastNestedLoopJoin/cartesian here would be the O(N²) plan
    the winnowing exists to avoid."""
    from nebuia_vector_db_spark.plans.inspect import explain_str

    df = Q.q_dedup_substring(spark, sf_oracle)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan  # a real equi-join is present


def test_substring_df_cap_is_partial_agg_not_window(spark, sf_oracle):
    """Round 9 (VERDICT r8 'what's wrong' #2): the anchor df-cap must
    be a map-side partial aggregate + broadcast anti-join, NOT a
    count().over(Window.partitionBy(gram)) — the window shape shipped
    every posting of a boilerplate gram into one task *before* the
    cap filter, the exact skew max_anchor_df guards against. Pin:
    no Window node anywhere in the plan, the df count carries a
    partial_count (map-side combine), and the hot-gram filter is a
    broadcast anti-join."""
    from nebuia_vector_db_spark.plans.inspect import explain_str

    df = Q.q_dedup_substring(spark, sf_oracle)
    plan = explain_str(df)
    assert "Window" not in plan, "unbounded per-gram window is back"
    assert "partial_count" in plan, "df count lost its map-side combine"
    assert "LeftAnti, BuildRight" in plan or (
        "BroadcastHashJoin" in plan and "LeftAnti" in plan
    ), "hot-gram filter is not a broadcast anti-join"


def test_drop_spans_linear_no_self_join_blowup(spark, sf_oracle):
    """Round 6: span REMOVAL has no pair join at all — occurrences
    equi-join the per-gram owner (one row per gram), so output is
    linear in anchor volume; the cut itself is an aggregate HOF."""
    from nebuia_vector_db_spark.plans.inspect import explain_str

    df = Q.q_dedup_drop_spans(spark, sf_oracle)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "aggregate(" in plan  # the interval-fold HOF survived


def test_mp2_audio_row_is_map_side_only(spark, sf_oracle):
    """The Layer II codec row (round 7) is attach -> decode through
    two chained mapInPandas kernels: zero exchanges before the final
    presentation sort — the 100 TB shape for opaque-payload decode."""
    from nebuia_vector_db_spark.plans.inspect import explain_str

    df = Q.q_mm_mp2_audio(spark, sf_oracle)
    plan = explain_str(df)
    # the only exchange allowed is the orderBy's range partitioning
    assert shuffle_count(df) <= 1
    assert "mapInPandas" in plan or "MapInPandas" in plan
    assert "CartesianProduct" not in plan


def test_h264_row_is_map_side_only(spark, sf_oracle):
    """The H.264 intra row (round 9) is attach -> decode through two
    chained mapInPandas kernels: zero exchanges before the final
    presentation sort — the 100 TB shape for opaque-payload decode."""
    from nebuia_vector_db_spark.plans.inspect import explain_str

    df = Q.q_mm_h264_iframes(spark, sf_oracle)
    plan = explain_str(df)
    assert shuffle_count(df) <= 1
    assert "mapInPandas" in plan or "MapInPandas" in plan
    assert "CartesianProduct" not in plan


def test_bq_topk_zero_shuffle_take_ordered(spark, sf_oracle):
    """BQ scan must be the 8-byte/vector plan shape: one codegen'd
    projection (pack + XOR/popcount), TakeOrderedAndProject, no
    exchange — the shortlist pass a 100 TB corpus scan relies on."""
    df = Q.q_vs_bq_topk(spark, sf_oracle)
    plan_asserts(df, max_shuffles=0, contains=("TakeOrderedAndProject",))
    assert wholestage_codegen_count(df) >= 1


def test_bq_rerank_zero_shuffle_two_stage(spark, sf_oracle):
    """Shortlist + re-rank both resolve to TakeOrderedAndProject —
    the re-rank's input is the driver-merged shortlist, never a
    global sort of the corpus."""
    df = Q.q_vs_bq_rerank(spark, sf_oracle)
    plan_asserts(df, max_shuffles=0, contains=("TakeOrderedAndProject",))


def test_tpch_q7_dims_broadcast(spark, sf_oracle):
    """supplier/customer/nation×2 all broadcast; only the
    lineitem⋈orders fact join (and the final agg) may shuffle."""
    df = Q.q_tpch_q7(spark, sf_oracle)
    assert has_broadcast_join(df)


def test_tpch_q15_max_filter_broadcasts(spark, sf_oracle):
    df = Q.q_tpch_q15(spark, sf_oracle)
    assert has_broadcast_join(df)


def test_tpch_q8_dims_broadcast_single_agg_pass(spark, sf_oracle):
    """Q8's market-share ratio is two CASE-sums in ONE aggregation —
    no second scan for the denominator; part/supplier/customer/
    nation(x2)/region all broadcast, lineitem pruned to 5 columns."""
    df = Q.q_tpch_q8(spark, sf_oracle)
    assert has_broadcast_join(df)
    assert shuffle_count(df) <= 3  # fact join + agg + order
    li_schema = next(
        s for s in scan_read_schema(df) if "l_extendedprice" in s
    )
    assert "l_discount" in li_schema and "l_quantity" not in li_schema


def test_tpch_q12_pivot_one_agg_two_shuffles(spark, sf_oracle):
    """The lag-band priority pivot rides one aggregation pass; the
    lineitem scan reads only (orderkey, shipdate)."""
    df = Q.q_tpch_q12(spark, sf_oracle)
    assert shuffle_count(df) <= 2
    li_schema = next(s for s in scan_read_schema(df) if "l_shipdate" in s)
    assert "l_orderkey" in li_schema and "l_quantity" not in li_schema


def test_tpch_q16_not_in_is_broadcast_anti_join(spark, sf_oracle):
    """The complaints exclusion (NOT IN) must be a broadcast anti-join
    of the tiny supplier set, never a shuffle of lineitem for it."""
    from nebuia_vector_db_spark.plans.inspect import explain_str

    df = Q.q_tpch_q16(spark, sf_oracle)
    plan = explain_str(df)
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q21_single_fact_scan_window_reuses_partitioning(
    spark, sf_oracle
):
    """The EXISTS / NOT-EXISTS rewrite must NOT re-scan lineitem for
    the per-order qualification: one fact scan, the distinct-supplier
    window rides the join's orderkey partitioning, and only the fact
    join + final group-by exchange remain."""
    from nebuia_vector_db_spark.plans.inspect import explain_str

    df = Q.q_tpch_q21(spark, sf_oracle)
    plan = explain_str(df)
    assert plan.count("lineitem") == 1  # exactly one fact scan
    assert "Window" in plan
    assert shuffle_count(df) <= 2


def test_exact_dedup_winner_is_partial_agg_not_window(spark, sf_oracle):
    """Round 9: exact dedup's keep-first winner must be a map-side
    partial min aggregation — not a row_number window over fp, which
    shipped and sorted every duplicate of a hot fingerprint in one
    task (the mass-duplicate skew dedup exists to handle).

    r15: the registry row uses the ids_only projection (no payload
    columns → no semi-join back to the corpus — guide §2.3 project
    early), so its plan is agg-only; the full-row operator path keeps
    the composite-key LeftSemi and is pinned separately below."""
    from nebuia_vector_db_spark.operators.dedup import exact_dedup
    from nebuia_vector_db_spark.plans.inspect import explain_str
    from nebuia_vector_db_spark.sources.registry import load_table

    df = Q.q_dedup_exact(spark, sf_oracle)
    plan = explain_str(df)
    assert "Window" not in plan, "per-fp row_number window is back"
    assert "partial_min" in plan, "winner lost its map-side combine"
    assert "LeftSemi" not in plan, "ids_only row re-grew the semi-join"

    full = exact_dedup(load_table(spark, sf_oracle, "documents"))
    full_plan = explain_str(full)
    assert "Window" not in full_plan, "per-fp row_number window is back"
    assert "partial_min" in full_plan, "winner lost its map-side combine"
    assert "LeftSemi" in full_plan, "full-row path lost the semi-join"


def test_exact_dedup_ids_only_equals_full_projection(spark, sf_oracle):
    """r15: ids_only must return exactly the full path's (id, fp)
    projection — the winner aggregation IS the survivor relation."""
    from nebuia_vector_db_spark.operators.dedup import exact_dedup
    from nebuia_vector_db_spark.sources.registry import load_table

    docs = load_table(spark, sf_oracle, "documents")
    fast = {
        (r["doc_id"], r["fp"])
        for r in exact_dedup(docs, ids_only=True).collect()
    }
    full = {
        (r["doc_id"], r["fp"])
        for r in exact_dedup(docs).select("doc_id", "fp").collect()
    }
    assert fast == full and fast


def test_tpch_q9_lineitem_only_large_input(spark, sf_oracle):
    """Round 10: the partsupp profit rollup must keep lineitem as the
    ONLY shuffled input — the derived partsupp, supplier and nation
    all broadcast; budget = the orderkey join + the final group agg.
    The lineitem scan must also prune to the 6 needed columns."""
    from nebuia_vector_db_spark.plans.inspect import (
        has_broadcast_join,
        scan_read_schema,
        shuffle_count,
    )

    df = Q.q_tpch_q9(spark, sf_oracle)
    assert has_broadcast_join(df)
    assert shuffle_count(df) <= 3
    li = [s for s in scan_read_schema(df) if "l_extendedprice" in s]
    assert li and "l_returnflag" not in li[0]  # unprojected → pruned


def test_dedup_audiofp_guard_broadcast_and_budget(spark, sf_oracle):
    """Round 11: the acoustic near-dup row shares hash_band_pairs, so
    the same discipline holds — hot bands die in a BROADCAST
    anti-join (never a window over the band key), no cartesian
    product, and the fingerprint front is one map-side pass (the
    only shuffles are the banding explode-groupBy + self-join +
    distinct)."""
    from nebuia_vector_db_spark.plans.inspect import (
        explain_str,
        shuffle_count,
    )

    df = Q.q_dedup_audiofp(spark, sf_oracle)
    plan = explain_str(df)
    assert "BroadcastHashJoin LeftAnti" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert shuffle_count(df) <= 5


def test_dedup_video_align_no_cartesian_guard_broadcast(spark, sf_oracle):
    """Round 11: the video alignment row — shingle blocking is an
    EQUI-join (k, sval), the hot-shingle guard a broadcast
    anti-join, the verify stage an equi-join on (clip, frame+offset);
    no cartesian product anywhere, and the lead() windows are the
    only Window nodes (per-clip, bounded partitions — not a hot-key
    funnel)."""
    from nebuia_vector_db_spark.plans.inspect import (
        explain_str,
        shuffle_count,
    )

    df = Q.q_dedup_video(spark, sf_oracle)
    plan = explain_str(df)
    assert "BroadcastHashJoin LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # shingle windows shuffle by (doc,k); banding + verify joins +
    # final agg account for the rest — pin the budget so a future
    # edit can't quietly add a corpus-wide exchange
    assert shuffle_count(df) <= 9


def test_dedup_dhash_hot_band_guard_is_broadcast(spark, sf_oracle):
    """Round 10: the perceptual-hash pair join must drop hot bands via
    a BROADCAST anti-join (map-side, the skew-safe shape), never a
    window over the band key; bounded shuffle budget for
    explode-groupBy + self-join + distinct."""
    from nebuia_vector_db_spark.plans.inspect import (
        explain_str,
        shuffle_count,
    )

    df = Q.q_dedup_dhash(spark, sf_oracle)
    plan = explain_str(df)
    assert "BroadcastHashJoin LeftAnti" in plan
    assert "Window" not in plan
    assert shuffle_count(df) <= 5


def test_hard_negatives_broadcast_filter_below_window(spark, sf_oracle):
    """Late round 12: the mining row's query side must be a BROADCAST
    nested-loop (bounded batch against the corpus scan — never a
    CartesianProduct), the label exclusion must sit below the ranking
    window (WindowGroupLimit ships <= k rows per query per task), and
    the shuffle budget is the window's single exchange + the
    presentation sort."""
    from nebuia_vector_db_spark.plans.inspect import (
        explain_str,
        shuffle_count,
    )

    df = Q.q_vs_hard_negatives(spark, sf_oracle)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan
    assert shuffle_count(df) <= 2


def test_graph_pagerank_no_cartesian_bounded_shuffles(spark, sf_oracle):
    """Late round 12: 5 power iterations must stay equi-join shaped —
    no cartesian product anywhere in the iterative lineage — and the
    per-iteration shuffle budget must hold (edges join + partial-agg
    groupBy + teleport join, ~4/iteration; a regression that loses
    map-side combine or degrades a join shows up here)."""
    from nebuia_vector_db_spark.plans.inspect import (
        explain_str,
        shuffle_count,
    )

    df = Q.q_graph_pagerank(spark, sf_oracle)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert shuffle_count(df) <= 22


def test_eval_ann_sq8_scan_pruned_and_windowed(spark, sf_oracle):
    """Late round 12: the hash-certified ANN-recall row reads only
    (vec_id, embedding) from the corpus scan (label unprojected →
    pruned), ranks through WindowGroupLimit cuts, and never goes
    cartesian."""
    from nebuia_vector_db_spark.plans.inspect import (
        explain_str,
        scan_read_schema,
        shuffle_count,
    )

    df = Q.q_eval_ann_sq8_recall(spark, sf_oracle)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan
    schemas = scan_read_schema(df)
    assert schemas and all("label" not in s for s in schemas)
    assert shuffle_count(df) <= 8


def test_decontaminate_eval_plan_shape(spark, sf_oracle):
    """The external-eval 13-gram decontamination gate (round 15): the
    TRAIN gram stream must meet the benchmark grams through a
    BROADCAST hash join (benchmarks are MBs against a 100 TB train
    corpus — shuffling the train grams on gram key would dwarf the
    query), and the multi-distinct Expand must sit ABOVE the join so
    it only processes contamination-bounded hit rows, never the full
    gram stream."""
    from nebuia_vector_db_spark.operators.pipeline import (
        decontaminate_against,
    )
    from nebuia_vector_db_spark.plans.inspect import explain_str

    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet").select(
        "doc_id", "text"
    )
    df = decontaminate_against(
        docs.where(F.col("doc_id") % 10 != 5),
        docs.where(F.col("doc_id") % 10 == 5),
        n=13,
    )
    plan = explain_str(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in plan
    # the gram-key join itself is the broadcast: no exchange may
    # hash-partition on the train side's gram key column
    assert "hashpartitioning(_gk" not in plan
    # Expand (the two count-distincts) appears once, above the join
    # (each node shows twice in formatted output: tree + detail)
    assert plan.count("+- Expand") == 1
    assert shuffle_count(df) <= 5


def test_pack_token_bins_plan_shape(spark, sf_oracle):
    """The pretrain-export encode/pack spine (round 14): the vocab
    lookup is a BROADCAST join (never a corpus shuffle on `word`), no
    cartesian product anywhere, and the only unpartitioned exchange is
    the vocab ranking over the LIMITED V-row relation — the corpus
    itself moves only through the pack buckets and the bin_id
    aggregation."""
    from nebuia_vector_db_spark.operators.pipeline import (
        pack_token_bins,
        word_vocab,
    )
    from nebuia_vector_db_spark.plans.inspect import (
        explain_str,
        has_broadcast_join,
    )

    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet").select(
        "doc_id", "text"
    )
    bins = pack_token_bins(docs, word_vocab(docs, 4096), capacity=512)
    plan = explain_str(bins)
    assert has_broadcast_join(bins)  # vocab lookup
    assert "CartesianProduct" not in plan
    # the single-partition exchanges are (a) the vocab rank window,
    # which sits above a GlobalLimit (bounded by construction), and
    # (b) nothing else — the token stream never collapses to one task
    single = plan.count("Exchange SinglePartition")
    assert single <= 1, plan
