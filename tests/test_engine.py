"""VectorEngine parity tests — one per reference route plus the §1.5
semantic-quirk regressions (deviations D-1..D-5)."""

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nebuia_vector_db_spark.engine import DimensionMismatchError, VectorEngine


def _mkdocs(n_docs: int, chunks_per_doc: int, dim: int, seed: int, name_prefix="doc"):
    rng = np.random.default_rng(seed)
    docs = []
    for i in range(n_docs):
        docs.append(
            {
                "text": f"document {i}",
                "metadata": {"source": {"origin": "test"}, "name": f"{name_prefix}{i}"},
                "chunks": [
                    {
                        "text": f"chunk {i}.{j}",
                        "embedding": rng.normal(size=dim).tolist(),
                        "metadata": {"source": None, "name": f"{name_prefix}{i}c{j}"},
                        "semantic_score": 0.5,
                    }
                    for j in range(chunks_per_doc)
                ],
            }
        )
    return docs


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    eng = VectorEngine(spark, wh, dim=8)
    resp = eng.store("alpha", _mkdocs(6, 3, 8, seed=1, name_prefix="a"))
    assert set(resp) == {"message", "operation_id"}
    eng.store("beta", _mkdocs(4, 2, 8, seed=2, name_prefix="b"))
    eng.store("gamma", _mkdocs(2, 1, 8, seed=3, name_prefix="g"))
    return eng


def test_store_and_catalog(engine):
    assert engine.list_collections() == ["alpha", "beta", "gamma"]
    assert engine.documents(["alpha"]).count() == 6


def test_search_topk_sorted_desc(engine):
    q = np.random.default_rng(9).normal(size=8).tolist()
    rows = engine.search("alpha", q, 5).collect()
    assert len(rows) == 5
    sims = [r["similarity"] for r in rows]
    assert sims == sorted(sims, reverse=True)  # D-1: always sorted


def test_search_matches_numpy_bruteforce(engine, spark):
    q = np.array(np.random.default_rng(11).normal(size=8))
    qn = q / np.linalg.norm(q)
    rows = engine.chunks(["alpha"]).collect()
    expected = sorted(
        (float(np.dot(qn, np.array(r["embedding"]))) for r in rows), reverse=True
    )[:4]
    got = [r["similarity"] for r in engine.search("alpha", q.tolist(), 4).collect()]
    assert got == pytest.approx(expected, abs=1e-9)


def test_search_result_fields(engine):
    q = [1.0] * 8
    r = engine.search("beta", q, 1).head()
    # embedding_id = DOC metadata name (main.go:248)
    assert r["embedding_id"].startswith("b") and "c" not in r["embedding_id"]
    # metadata = CHUNK metadata (main.go:251)
    assert "c" in r["metadata"]["name"]
    # D-3: collection_name is the real collection (not doc name)
    assert r["collection_name"] == "beta"
    assert 1 <= r["position"] <= 2  # 1-based (main.go:252)


def test_search_fewer_chunks_than_k_still_sorted(engine):
    # D-1 regression: reference returns UNSORTED when n <= k
    # (main.go:232-237); we always sort.
    q = [0.5] * 8
    rows = engine.search("gamma", q, 50).collect()
    assert len(rows) == 2
    sims = [r["similarity"] for r in rows]
    assert sims == sorted(sims, reverse=True)


def test_multi_search_equals_global_topk(engine):
    # SURVEY §1.5-6: per-collection-cut-then-global-cut == global cut
    q = np.random.default_rng(13).normal(size=8).tolist()
    multi = engine.multi_search(["alpha", "beta"], q, 6).collect()
    unified = engine._search_impl(["alpha", "beta"], q, 6).collect()
    assert [r["similarity"] for r in multi] == [r["similarity"] for r in unified]
    assert len(multi) == 6
    colls = {r["collection_name"] for r in multi}
    assert colls <= {"alpha", "beta"}


def test_dimension_validation(engine):
    # D-4: reference would panic/truncate (main.go:263-275); we raise.
    with pytest.raises(DimensionMismatchError):
        engine.search("alpha", [1.0, 2.0], 3)
    with pytest.raises(DimensionMismatchError):
        engine.store("alpha", [{"text": "x", "chunks": [{"embedding": [1.0]}]}])


def test_delete_collection(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh_del"))
    eng = VectorEngine(spark, wh, dim=4)
    eng.store("tmp", _mkdocs(3, 1, 4, seed=5))
    eng.store("keep", _mkdocs(2, 1, 4, seed=6))
    resp = eng.delete_collection("tmp")
    assert resp["deleted"] is True
    assert eng.list_collections() == ["keep"]
    # idempotent on missing collection (reference lists zero keys)
    assert eng.delete_collection("tmp")["deleted"] is False



@pytest.mark.parametrize("table_format", ["parquet", "snapshot"])
@settings(max_examples=6, deadline=None)
@example(name="a/b")
@example(name="p=q")
@example(name="50%")
@example(name="x/../../sibling.txt")
@example(name="a\x00b")
@given(name=st.text(st.characters(blacklist_categories=("Cs",)), min_size=1, max_size=16))
def test_any_collection_name_round_trips_through_delete(
    spark, tmp_path_factory, table_format, name
):
    """Any collection name maps to exactly the storage ``store`` wrote:
    store → search finds it → delete reports it → search is empty, and
    nothing next to the warehouse is touched (``x/../../sibling.txt``
    once deleted the sentinel below). A NUL cannot be part of a
    directory name, so a parquet-mode store of one must raise
    ``ValueError`` before it writes anything."""
    root = tmp_path_factory.mktemp("wh_names")
    sentinel = root / "sibling.txt"
    sentinel.write_text("keep")
    eng = VectorEngine(spark, str(root / "wh"), dim=4, table_format=table_format)
    docs = _mkdocs(1, 1, 4, seed=8)
    q = docs[0]["chunks"][0]["embedding"]
    if table_format == "parquet" and "\x00" in name:
        with pytest.raises(ValueError):
            eng.store(name, docs)
        assert sorted(p.name for p in root.iterdir()) == ["sibling.txt"]
    else:
        eng.store(name, docs)
        assert eng.search(name, q, 5).count() == 1
        assert eng.delete_collection(name)["deleted"] is True
        assert eng.search(name, q, 5).count() == 0
        assert sorted(p.name for p in root.iterdir()) == ["sibling.txt", "wh"]
    assert sentinel.read_text() == "keep"


def test_store_stream_ingest(spark, tmp_path_factory):
    """Streaming append lands the same rows batch search sees."""
    import os

    from nebuia_vector_db_spark.schemas import DOCUMENT_SCHEMA

    wh = str(tmp_path_factory.mktemp("wh_stream"))
    src = str(tmp_path_factory.mktemp("stream_src"))
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt"))

    eng = VectorEngine(spark, wh, dim=4)
    batch_eng = VectorEngine(spark, src, dim=4)  # reuse writer for fixtures
    batch_eng.store("s", _mkdocs(5, 2, 4, seed=21, name_prefix="s"))

    stream = (
        spark.readStream.schema(DOCUMENT_SCHEMA)
        .parquet(os.path.join(src, "collection=s"))
        .withColumn("collection", F.lit("s"))
    )
    q = eng.store_stream(stream, checkpoint=ckpt)
    q.awaitTermination()

    assert eng.list_collections() == ["s"]
    assert eng.documents(["s"]).count() == 5
    assert eng.search("s", [1.0, 0.0, 0.0, 0.0], 3).count() == 3


def test_store_reference_wire_shape_embedding(spark, tmp_path_factory):
    # reference wraps vectors as {vector: [...]} (main.go:37-39)
    wh = str(tmp_path_factory.mktemp("wh_wire"))
    eng = VectorEngine(spark, wh, dim=2)
    eng.store(
        "w",
        [
            {
                "text": "t",
                "metadata": {"source": "s", "name": "n"},
                "chunks": [
                    {
                        "text": "c",
                        "embedding": {"vector": [1.0, 2.0]},
                        "metadata": {"name": "cn"},
                        "semantic_score": 0.1,
                    }
                ],
            }
        ],
    )
    row = eng.chunks(["w"]).head()
    assert row["embedding"] == [1.0, 2.0]
    assert row["semantic_score"] == pytest.approx(0.1)  # O-13 round-trip


def test_search_metadata_filter_restricts_candidates(spark, tmp_path_factory):
    """The `where` extension: a predicate on the chunk relation must
    exclude non-matching chunks from scoring entirely (not post-filter
    the top-k)."""
    from nebuia_vector_db_spark.engine import VectorEngine

    wh = str(tmp_path_factory.mktemp("wh_filter"))
    eng = VectorEngine(spark, wh, dim=4)
    docs = [
        {
            "text": f"d{i}",
            "metadata": {"source": None, "name": f"doc{i}"},
            "chunks": [
                {
                    "text": f"c{i}",
                    # doc0 points exactly at the query; others decay
                    "embedding": [1.0, float(i), 0.0, 0.0],
                    "metadata": {"source": None, "name": f"doc{i}.c"},
                    "semantic_score": float(i),
                }
            ],
        }
        for i in range(6)
    ]
    eng.store("c", docs)
    q = [1.0, 0.0, 0.0, 0.0]
    got = eng.search("c", q, 10, where="semantic_score >= 3").collect()
    names = {r["embedding_id"] for r in got}
    assert names == {"doc3", "doc4", "doc5"}, names
    # unfiltered control still sees everything
    assert len(eng.search("c", q, 10).collect()) == 6


def test_search_edge_cases_topk_zero_and_missing_collection(engine):
    """top_k=0 → empty result (limit 0, not an error); searching a
    collection that was never stored ≙ the reference's empty prefix
    listing (zero keys → zero results, main.go:186-203)."""
    assert engine.search("alpha", [1.0] * 8, 0).count() == 0
    assert engine.search("nope_never_stored", [1.0] * 8, 5).count() == 0


def test_search_zero_query_vector_yields_zero_similarity(engine):
    """normalize(0-vector) passes through as zeros (vector.py guards
    the 0/0), so every similarity is exactly 0.0 — no NaNs leak."""
    rows = engine.search("alpha", [0.0] * 8, 3).collect()
    assert rows and all(r["similarity"] == 0.0 for r in rows)


def test_snapshot_engine_matches_parquet_engine(spark, tmp_path_factory):
    """table_format='snapshot' is a drop-in: identical search results,
    same catalog, and single-collection reads prune dead files at
    planning time via snapshot stats."""
    wh_p = str(tmp_path_factory.mktemp("wh_parquet"))
    wh_s = str(tmp_path_factory.mktemp("wh_snap")) + "/t"
    docs_a = _mkdocs(5, 2, 8, seed=11, name_prefix="a")
    docs_b = _mkdocs(3, 2, 8, seed=12, name_prefix="b")
    eng_p = VectorEngine(spark, wh_p, dim=8)
    eng_s = VectorEngine(spark, wh_s, dim=8, table_format="snapshot")
    for eng in (eng_p, eng_s):
        eng.store("alpha", docs_a)
        eng.store("beta", docs_b)
    assert eng_s.list_collections() == ["alpha", "beta"]

    q = list(np.random.default_rng(5).normal(size=8))
    res_p = eng_p.search("alpha", q, 5).collect()
    res_s = eng_s.search("alpha", q, 5).collect()
    got_p = [(r["embedding_id"], round(r["similarity"], 9)) for r in res_p]
    got_s = [(r["embedding_id"], round(r["similarity"], 9)) for r in res_s]
    assert got_p == got_s

    # each store commit is single-collection -> stats prune its files
    tbl = eng_s._snapshot_table()
    n_all = tbl.n_files()
    n_alpha = tbl.pruned_file_count([("collection", "=", "alpha")])
    assert 0 < n_alpha < n_all


def test_snapshot_engine_transactional_delete(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh_snap_del")) + "/t"
    eng = VectorEngine(spark, wh, dim=4, table_format="snapshot")
    eng.store("keep", _mkdocs(4, 1, 4, seed=21, name_prefix="k"))
    eng.store("drop", _mkdocs(3, 1, 4, seed=22, name_prefix="d"))
    tbl = eng._snapshot_table()
    v_before = tbl.current_version()

    resp = eng.delete_collection("drop")
    assert resp["deleted"] is True
    assert eng.list_collections() == ["keep"]
    assert eng.documents(["drop"]).count() == 0
    # the delete is one atomic commit; the pre-delete snapshot still
    # reads completely (concurrent readers are never half-deleted)
    assert tbl.current_version() == v_before + 1
    old = tbl.read(version=v_before)
    assert old.where(F.col("collection") == "drop").count() == 3
    # deleting a missing collection is a clean no-op
    assert eng.delete_collection("nope")["deleted"] is False


@pytest.mark.parametrize(
    "rival, target, deleted",
    [
        ("store_c", "a", True),  # a store of as many rows lands first
        ("delete_b", "nope", False),  # a delete of "b" lands first
    ],
)
def test_snapshot_delete_flag_ignores_concurrent_commits(
    spark, tmp_path_factory, monkeypatch, rival, target, deleted
):
    """`deleted` reports what THIS delete removed: another writer's
    commit landing just before it cannot flip the flag."""
    from nebuia_vector_db_spark.sources.snapshot import SnapshotTable

    wh = str(tmp_path_factory.mktemp("wh_snap_race")) + "/t"
    eng = VectorEngine(spark, wh, dim=4, table_format="snapshot")
    eng.store("a", _mkdocs(2, 1, 4, seed=31, name_prefix="a"))
    eng.store("b", _mkdocs(2, 1, 4, seed=32, name_prefix="b"))
    delete_where = SnapshotTable.delete_where
    rivals = {
        "store_c": lambda: eng.store(
            "c", _mkdocs(2, 1, 4, seed=33, name_prefix="c")
        ),
        "delete_b": lambda: delete_where(
            SnapshotTable(spark, wh), F.col("collection") == "b"
        ),
    }
    pending = [rivals[rival]]

    def rival_lands_first(self, condition):
        if pending:
            pending.pop()()
        return delete_where(self, condition)

    monkeypatch.setattr(SnapshotTable, "delete_where", rival_lands_first)
    assert eng.delete_collection(target)["deleted"] is deleted
    assert target not in eng.list_collections()


def test_snapshot_engine_streaming_ingest(spark, tmp_path_factory):
    """store_stream on a snapshot warehouse routes through the
    exactly-once SnapshotTable sink — commits, not loose files."""
    import tempfile

    base = tempfile.mkdtemp(prefix="snap_stream_")
    wh = base + "/wh"
    src = base + "/src"

    # stage DOCUMENT_SCHEMA-shaped parquet via a batch engine
    feeder = VectorEngine(spark, src, dim=4)
    feeder.store("s", _mkdocs(6, 1, 4, seed=31, name_prefix="s"))

    eng = VectorEngine(spark, wh, dim=4, table_format="snapshot")
    stream = spark.readStream.schema(
        eng.documents().schema
    ).parquet(src)
    q = eng.store_stream(stream, base + "/ck")
    q.awaitTermination()

    assert eng.documents().count() == 6
    tbl = eng._snapshot_table()
    assert tbl.versions()  # commits landed in the snapshot log
    assert tbl.meta("stream_watermarks") is not None
    res = eng.search("s", [1.0, 0.0, 0.0, 0.0], 3)
    assert res.count() == 3


def test_hybrid_search_over_collection_chunks(spark, tmp_path_factory):
    """Engine-facade hybrid retrieval: a chunk that matches the query
    terms AND points along the query vector must outrank chunks with
    only one signal; score decomposes as RRF of the two ranks."""
    wh = str(tmp_path_factory.mktemp("hybrid_wh"))
    eng = VectorEngine(spark, wh, dim=4)
    docs = _mkdocs(5, 2, 4, seed=7)
    # doc 0 chunk 0: keyword match + exactly the query direction
    docs[0]["chunks"][0]["text"] = "quantum widget assembly"
    docs[0]["chunks"][0]["embedding"] = [1.0, 0.0, 0.0, 0.0]
    # doc 1 chunk 0: keyword match only (opposite vector)
    docs[1]["chunks"][0]["text"] = "quantum widget manual"
    docs[1]["chunks"][0]["embedding"] = [-1.0, 0.0, 0.0, 0.0]
    eng.store("h", docs)

    got = eng.hybrid_search(
        "h", ["quantum", "widget"], [1.0, 0.0, 0.0, 0.0], top_k=5,
        n_cand=10,
    ).collect()
    assert got[0]["text"] == "quantum widget assembly"
    assert got[0]["rank_vec"] == 1 and got[0]["rank_kw"] in (1, 2)
    for r in got:
        want = 0.0
        if r["rank_vec"] is not None:
            want += 1.0 / (60.0 + r["rank_vec"])
        if r["rank_kw"] is not None:
            want += 1.0 / (60.0 + r["rank_kw"])
        assert abs(r["rrf_score"] - want) < 1e-15
    # tfidf keyword scorer runs through the same facade
    alt = eng.hybrid_search(
        "h", ["quantum", "widget"], [1.0, 0.0, 0.0, 0.0], top_k=3,
        keyword="tfidf", n_cand=10,
    ).collect()
    assert alt[0]["text"] == "quantum widget assembly"
    with pytest.raises(ValueError):
        eng.hybrid_search("h", ["x"], [1.0, 0, 0, 0], keyword="nope")
    with pytest.raises(DimensionMismatchError):
        eng.hybrid_search("h", ["x"], [1.0, 0, 0], top_k=2)


def test_search_min_similarity_radius_gate(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("radius_wh"))
    eng = VectorEngine(spark, wh, dim=4)
    docs = _mkdocs(4, 1, 4, seed=13)
    docs[0]["chunks"][0]["embedding"] = [1.0, 0.0, 0.0, 0.0]
    docs[1]["chunks"][0]["embedding"] = [0.9, 0.1, 0.0, 0.0]
    docs[2]["chunks"][0]["embedding"] = [-1.0, 0.0, 0.0, 0.0]
    eng.store("r", docs)
    got = eng.search("r", [1.0, 0, 0, 0], 10, min_similarity=0.5).collect()
    assert all(r["similarity"] >= 0.5 for r in got)
    assert len(got) >= 2
    # without the gate the negative-direction chunk is present
    assert any(
        r["similarity"] < 0 for r in eng.search("r", [1.0, 0, 0, 0], 10).collect()
    )


def test_multi_search_min_similarity_gate(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("radius_ms_wh"))
    eng = VectorEngine(spark, wh, dim=4)
    a = _mkdocs(2, 1, 4, seed=3)
    a[0]["chunks"][0]["embedding"] = [1.0, 0.0, 0.0, 0.0]
    b = _mkdocs(2, 1, 4, seed=4)
    b[0]["chunks"][0]["embedding"] = [-1.0, 0.0, 0.0, 0.0]
    eng.store("m1", a)
    eng.store("m2", b)
    got = eng.multi_search(
        ["m1", "m2"], [1.0, 0, 0, 0], 10, min_similarity=0.5
    ).collect()
    assert got and all(r["similarity"] >= 0.5 for r in got)


def test_hybrid_search_on_snapshot_warehouse(spark, tmp_path_factory):
    """The hybrid facade composes with the ACID table format: chunks()
    reads through SnapshotTable, and the fused ranking still works."""
    wh = str(tmp_path_factory.mktemp("hybrid_snap_wh"))
    eng = VectorEngine(spark, wh, dim=4, table_format="snapshot")
    docs = _mkdocs(4, 1, 4, seed=11)
    docs[0]["chunks"][0]["text"] = "quantum widget assembly"
    docs[0]["chunks"][0]["embedding"] = [1.0, 0.0, 0.0, 0.0]
    eng.store("hs", docs)
    got = eng.hybrid_search(
        "hs", ["quantum"], [1.0, 0.0, 0.0, 0.0], top_k=4, n_cand=10
    ).collect()
    assert got[0]["text"] == "quantum widget assembly"
    assert got[0]["rank_kw"] == 1 and got[0]["rank_vec"] == 1


def test_hybrid_search_doc_ids_with_separator_chars(spark, tmp_path_factory):
    """ADVICE r9: the hybrid chunk key escapes '#'/'\\' in doc_id, so
    user-supplied ids containing the separator can never alias two
    distinct chunks (which would merge ranks / duplicate rows in the
    post-fusion join). Adversarial ids: 'a#1' pos 2 composes the same
    raw string as 'a#1#2' pos would prefix."""
    wh = str(tmp_path_factory.mktemp("hybrid_hash_wh"))
    eng = VectorEngine(spark, wh, dim=2)
    rows = []
    for did, vec in (("a#1", [1.0, 0.0]), ("a#1#2", [0.0, 1.0]),
                     ("a\\#1", [1.0, 1.0])):
        rows.append(
            {
                "collection": "hh",
                "doc_id": did,
                "text": f"doc {did}",
                "metadata": {"source": None, "name": did},
                "chunks": [
                    {
                        "text": f"term{j} payload",
                        "embedding": vec,
                        "metadata": {"source": None, "name": f"{did}c{j}"},
                        "semantic_score": 0.0,
                    }
                    for j in range(2)
                ],
            }
        )
    from nebuia_vector_db_spark.schemas import DOCUMENT_SCHEMA

    eng.store_dataframe(spark.createDataFrame(rows, DOCUMENT_SCHEMA))
    got = eng.hybrid_search(
        "hh", ["payload"], [1.0, 0.0], top_k=10, n_cand=20
    ).collect()
    keys = [(r["doc_id"], r["position"]) for r in got]
    # no aliasing: every (doc_id, position) chunk appears exactly once
    assert len(keys) == len(set(keys)) == 6


def test_range_search_returns_all_above_threshold(spark, tmp_path_factory):
    """Engine radius query (round 10): every chunk at/above the
    threshold, no top-k cap, exact agreement with a driver-side
    recomputation; threshold 1.01 on unit vectors returns nothing,
    and dimension mismatch raises."""
    wh = str(tmp_path_factory.mktemp("range_wh"))
    eng = VectorEngine(spark, wh, dim=4)
    docs = _mkdocs(8, 3, 4, seed=11)
    eng.store("r", docs)
    q = [1.0, 0.0, 0.0, 0.0]
    got = eng.range_search("r", q, min_similarity=0.2).collect()
    all_rows = eng.search("r", q, top_k=1000).collect()
    want = sorted(
        ((r["doc_id"], r["position"]) for r in all_rows
         if r["similarity"] >= 0.2)
    )
    assert sorted((r["doc_id"], r["position"]) for r in got) == want
    assert len(got) < len(all_rows)  # threshold actually selects
    for r in got:
        assert r["similarity"] >= 0.2
    assert eng.range_search("r", q, min_similarity=1e9).count() == 0
    with pytest.raises(DimensionMismatchError):
        eng.range_search("r", [1.0, 0.0], min_similarity=0.2)


def test_registered_views_serve_full_sql(spark, sf_smoke):
    """SURVEY §2.2: the engine exposes a full SQL surface via
    register_views + spark.sql — a join + aggregate + window statement
    must run and agree with the DataFrame-API equivalent."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from nebuia_vector_db_spark.sources.registry import (
        load_table,
        register_views,
    )

    register_views(spark, sf_smoke)
    got = spark.sql(
        """
        SELECT c_mktsegment,
               count(*) AS n_orders,
               rank() OVER (ORDER BY count(*) DESC, c_mktsegment) AS rk
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        ORDER BY rk
        """
    ).collect()
    cust = load_table(spark, sf_smoke, "customer")
    orders = load_table(spark, sf_smoke, "orders")
    want = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"))
        .withColumn(
            "rk",
            F.rank().over(
                Window.orderBy(F.desc("n_orders"), "c_mktsegment")
            ),
        )
        .orderBy("rk")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) > 0
