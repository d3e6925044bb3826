"""VectorEngine parity tests — one per reference route plus the §1.5
semantic-quirk regressions (deviations D-1..D-5)."""

import inspect
import os

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nebuia_vector_db_spark.engine import DimensionMismatchError, VectorEngine
from nebuia_vector_db_spark.operators import topk as topk_module


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


def _three_collections(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    eng = VectorEngine(spark, wh, dim=8)
    resp = eng.store("alpha", _mkdocs(6, 3, 8, seed=1, name_prefix="a"))
    assert set(resp) == {"message", "operation_id"}
    eng.store("beta", _mkdocs(4, 2, 8, seed=2, name_prefix="b"))
    eng.store("gamma", _mkdocs(2, 1, 8, seed=3, name_prefix="g"))
    return eng


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    """Three small collections: every search of them takes the driver
    route (``TestSparkRoute`` runs the same tests on the Spark one)."""
    return _three_collections(spark, tmp_path_factory)


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


def test_no_op_delete_publishes_nothing(spark, tmp_path):
    """A delete that removes nothing commits nothing: the head stays
    where it was, and a no-op right after a real delete of the same
    collection reports ``deleted: False`` although the head it returns
    to is that real delete."""
    eng = VectorEngine(spark, str(tmp_path / "wh"), dim=4)
    eng.store("a", _mkdocs(2, 1, 4, seed=11))
    eng.store("b", _mkdocs(2, 1, 4, seed=12))
    head = eng.table.current_version()
    assert eng.delete_collection("nope")["deleted"] is False
    assert eng.table.current_version() == head
    assert eng.delete_collection("a")["deleted"] is True
    assert eng.table.current_version() == head + 1
    assert eng.delete_collection("a")["deleted"] is False
    assert eng.table.versions() == list(range(1, head + 2))
    assert eng.list_collections() == ["b"]



@settings(max_examples=6, deadline=None)
@example(name="a/b")
@example(name="p=q")
@example(name="50%")
@example(name="x/../../sibling.txt")
@example(name="a\x00b")
@given(name=st.text(st.characters(blacklist_categories=("Cs",)), min_size=1, max_size=16))
def test_any_collection_name_round_trips_through_delete(
    spark, tmp_path_factory, name
):
    """Any collection name maps to exactly the rows ``store`` wrote:
    store → search finds it → delete reports it → search is empty, and
    nothing next to the warehouse is touched (``x/../../sibling.txt``
    once deleted the sentinel below, when a name was a path)."""
    root = tmp_path_factory.mktemp("wh_names")
    sentinel = root / "sibling.txt"
    sentinel.write_text("keep")
    eng = VectorEngine(spark, str(root / "wh"), dim=4)
    docs = _mkdocs(1, 1, 4, seed=8)
    q = docs[0]["chunks"][0]["embedding"]
    eng.store(name, docs)
    assert eng.search(name, q, 5).count() == 1
    assert eng.delete_collection(name)["deleted"] is True
    assert eng.search(name, q, 5).count() == 0
    assert sorted(p.name for p in root.iterdir()) == ["sibling.txt", "wh"]
    assert sentinel.read_text() == "keep"


def test_only_the_snapshot_format_is_accepted(spark, tmp_path):
    """The parquet-directory format is gone: asking for it fails
    loudly instead of silently writing the snapshot format."""
    with pytest.raises(ValueError, match="table_format"):
        VectorEngine(spark, str(tmp_path / "wh"), dim=4, table_format="parquet")
    eng = VectorEngine(spark, str(tmp_path / "wh"), dim=4, table_format="snapshot")
    assert eng.list_collections() == []


def test_list_collections_raises_on_corrupt_log(spark, tmp_path):
    """A corrupt head snapshot is an error for the catalog as for a
    search — never an empty catalog."""
    wh = str(tmp_path / "wh")
    eng = VectorEngine(spark, wh, dim=4)
    eng.store("a", _mkdocs(1, 1, 4, seed=41))
    eng.store("b", _mkdocs(1, 1, 4, seed=42))
    head = max((tmp_path / "wh" / "_snapshots").glob("v*.json"))
    head.write_text("{not json")
    fresh = VectorEngine(spark, wh, dim=4)
    with pytest.raises(OSError, match="corrupt snapshot"):
        fresh.list_collections()
    with pytest.raises(OSError, match="corrupt snapshot"):
        fresh.search("a", [1.0, 0.0, 0.0, 0.0], 3)


def test_requests_do_not_list_the_log(spark, tmp_path, monkeypatch):
    """Store, search and delete resolve the head from the
    ``_last_checkpoint`` pointer, so no request lists the log: once the
    log is checkpointed, and on a 2-commit warehouse (the create, then
    one ``store_dataframe``), where the pointer still names v1."""
    from nebuia_vector_db_spark.sources.commit_backend import (
        LocalFSCommitBackend,
    )

    eng = VectorEngine(spark, str(tmp_path / "wh"), dim=4)
    for i in range(11):  # past the default checkpoint interval (10)
        eng.store(f"c{i % 3}", _mkdocs(1, 1, 4, seed=50 + i))
    young = VectorEngine(spark, str(tmp_path / "young"), dim=4)
    docs = eng.documents(["c0", "c1"])
    young.store_dataframe(docs)
    assert young.table.versions() == [1, 2]
    listings = []
    list_log = LocalFSCommitBackend.list

    def counted(self):
        listings.append(1)
        return list_log(self)

    monkeypatch.setattr(LocalFSCommitBackend, "list", counted)
    for e in (eng, young):
        assert e.search("c1", [1.0, 0.0, 0.0, 0.0], 3).count() == 3
        e.store("c1", _mkdocs(1, 1, 4, seed=70))
        assert e.delete_collection("c2")["deleted"] is (e is eng)
        assert e.multi_search(["c0", "c1"], [1.0, 0.0, 0.0, 0.0], 10).count() == 9
        assert e.delete_collection("c1")["deleted"] is True
    assert young.table.current_version() == 4
    assert listings == []


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


def test_snapshot_engine_prunes_files_by_collection_stats(spark, tmp_path_factory):
    """Each store commit is single-collection, so a read for one
    collection drops the other collections' files at planning time
    via snapshot stats."""
    wh = str(tmp_path_factory.mktemp("wh_snap")) + "/t"
    eng = VectorEngine(spark, wh, dim=8)
    eng.store("alpha", _mkdocs(5, 2, 8, seed=11, name_prefix="a"))
    eng.store("beta", _mkdocs(3, 2, 8, seed=12, name_prefix="b"))
    assert eng.list_collections() == ["alpha", "beta"]

    n_all = eng.table.n_files()
    n_alpha = eng.table.pruned_file_count([("collection", "=", "alpha")])
    assert 0 < n_alpha < n_all
    n_in = eng.table.pruned_file_count([("collection", "in", ["alpha"])])
    assert n_in == n_alpha


def test_snapshot_engine_transactional_delete(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh_snap_del")) + "/t"
    eng = VectorEngine(spark, wh, dim=4)
    eng.store("keep", _mkdocs(4, 1, 4, seed=21, name_prefix="k"))
    eng.store("drop", _mkdocs(3, 1, 4, seed=22, name_prefix="d"))
    tbl = eng.table
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
    eng = VectorEngine(spark, wh, dim=4)
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

    def rival_lands_first(self, condition, **kwargs):
        if pending:
            pending.pop()()
        return delete_where(self, condition, **kwargs)

    monkeypatch.setattr(SnapshotTable, "delete_where", rival_lands_first)
    assert eng.delete_collection(target)["deleted"] is deleted
    assert target not in eng.list_collections()


def test_new_warehouse_is_an_empty_first_commit(spark, tmp_path, monkeypatch):
    """A new engine commits an empty v1 (no files, no data dir); an
    engine that loses the race to create it opens the winner's table."""
    from nebuia_vector_db_spark.sources.snapshot import SnapshotTable

    wh = str(tmp_path / "wh")
    eng = VectorEngine(spark, wh, dim=4)
    (h,) = eng.table.history()
    assert (h["op"], h["n_files"], h["n_rows"]) == ("create", 0, 0)
    assert sorted(os.listdir(wh)) == ["_snapshots"]

    def not_yet(self):
        raise FileNotFoundError("raced")

    monkeypatch.setattr(SnapshotTable, "current_version", not_yet)
    VectorEngine(spark, wh, dim=4)  # its create loses: v1 exists
    monkeypatch.undo()
    assert eng.table.versions() == [1]
    assert eng.list_collections() == []
    assert eng.search("c", [1.0, 0.0, 0.0, 0.0], 3).count() == 0
    assert eng.delete_collection("c")["deleted"] is False
    assert eng.table.vacuum()["removed_data_files"] == 0


def test_driver_store_reads_back_like_store_dataframe(spark, tmp_path):
    """``store`` writes its file on the driver; read back through
    Spark, its rows equal ``store_dataframe`` of the same documents in
    every column: nested metadata, JSON ``source``, nulls, a document
    without chunks and the ``{vector: [...]}`` wire shape."""
    from nebuia_vector_db_spark.schemas import DOCUMENT_SCHEMA

    docs = [
        {
            "text": "first",
            "metadata": {"source": {"b": 1, "a": [2]}, "name": "d0"},
            "chunks": [
                {
                    "text": "c0",
                    "embedding": [1.0, -2.5, 3.25],
                    "metadata": {"source": "plain", "name": "d0.1"},
                    "semantic_score": 0.75,
                },
                {
                    "text": None,
                    "embedding": {"vector": [0.0, 1e-300, -0.0]},
                    "metadata": None,
                },
            ],
        },
        {"text": None, "metadata": None, "chunks": []},
        {"metadata": {"name": "d2"}},
    ]
    want = [
        ("c", "first", ('{"a": [2], "b": 1}', "d0"), [
            ("c0", [1.0, -2.5, 3.25], ("plain", "d0.1"), 0.75),
            (None, [0.0, 1e-300, -0.0], (None, None), 0.0),
        ]),
        ("c", None, (None, None), []),
        ("c", None, (None, "d2"), []),
    ]
    eng = VectorEngine(spark, str(tmp_path / "driver"), dim=3)
    eng.store("c", docs)
    bulk = VectorEngine(spark, str(tmp_path / "bulk"), dim=3)
    bulk.store_dataframe(
        spark.createDataFrame(
            [(c, f"id{i}", t, m, ch) for i, (c, t, m, ch) in enumerate(want)],
            DOCUMENT_SCHEMA,
        )
    )

    def rows(e):
        df = e.documents()
        assert df.schema == DOCUMENT_SCHEMA
        return sorted(
            (r.asDict(recursive=True) for r in df.drop("doc_id").collect()),
            key=repr,
        )

    assert rows(eng) == rows(bulk)
    assert len(eng.table._snapshot()["files"]) == 1  # one store, one file
    ids = [r.doc_id for r in eng.documents().collect()]
    assert len(set(ids)) == 3 and all(len(i) == 36 for i in ids)


def test_bulk_load_without_doc_ids_mints_new_ids_each_time(spark, tmp_path):
    """``store_dataframe`` of one DataFrame without ``doc_id``, run
    twice on the driver route, mints distinct ids: the ``uuid()`` plan
    is collected every time, never kept (``topk._driver_corpus``)."""
    import pyarrow as pa

    from nebuia_vector_db_spark.engine import _DOCUMENT_ARROW

    docs = [
        {"collection": "a", "doc_id": None, "text": f"d{i}", "metadata": None, "chunks": []}
        for i in range(3)
    ]
    bulk = spark.createDataFrame(pa.Table.from_pylist(docs, schema=_DOCUMENT_ARROW)).drop("doc_id")
    eng = VectorEngine(spark, str(tmp_path / "wh"), dim=2)
    eng.store_dataframe(bulk)
    eng.store_dataframe(bulk)
    ids = [r.doc_id for r in eng.documents().collect()]
    assert len(ids) == 6 == len(set(ids))


def test_bulk_load_within_the_bound_writes_one_file_per_collection(
    spark, tmp_path, monkeypatch, spark_jobs
):
    """``store_dataframe`` of an Arrow-built DataFrame within the driver
    bound runs one Spark job (the JVM collect) and no Spark write. It
    commits once, one driver-written file per collection, null
    collections in a file of their own, and its rows equal the Spark
    route's in every column."""
    import pyarrow as pa
    from pyspark.sql.readwriter import DataFrameWriter

    from nebuia_vector_db_spark.engine import _DOCUMENT_ARROW

    chunk = {"text": "t", "embedding": [1.0, -2.5], "metadata": {"source": "s", "name": "n"},
             "semantic_score": 0.25}
    docs = [
        {"collection": c, "doc_id": f"id{i}", "text": f"d{i}",
         "metadata": {"source": None, "name": f"n{i}"}, "chunks": [chunk] * (i % 3)}
        for i, c in enumerate(["a", "b", None, "a", None, "c", "b"])
    ]
    bulk = spark.createDataFrame(pa.Table.from_pylist(docs, schema=_DOCUMENT_ARROW))
    writes = []
    monkeypatch.setattr(
        DataFrameWriter, "parquet", lambda self, *a, **kw: writes.append(a)
    )
    eng = VectorEngine(spark, str(tmp_path / "driver"), dim=2)
    _, jobs, stages = spark_jobs(lambda: eng.store_dataframe(bulk))
    assert (jobs, stages, writes) == (1, 1, [])
    monkeypatch.undo()
    assert eng.table.versions() == [1, 2]
    files = eng.table._snapshot()["files"]
    by_name = {f["stats"].get("collection", [None])[0]: f for f in files}
    assert len(files) == 4 and set(by_name) == {"a", "b", "c", None}
    assert [by_name[c]["rows"] for c in ("a", "b", "c", None)] == [2, 2, 1, 2]
    assert by_name[None]["nulls"]["collection"] == 2
    assert all(by_name[c]["nulls"]["collection"] == 0 for c in "abc")
    assert all(by_name[c]["stats"]["collection"] == [c, c] for c in "abc")

    monkeypatch.setattr(topk_module, "_DRIVER_MAX_BYTES", 0)
    sparked = VectorEngine(spark, str(tmp_path / "spark"), dim=2)
    sparked.store_dataframe(bulk)

    def rows(e):
        return sorted(
            (r.asDict(recursive=True) for r in e.documents().collect()), key=repr
        )

    assert rows(eng) == rows(sparked)
    assert eng.documents().schema == sparked.documents().schema
    assert eng.delete_collection("a")["deleted"] is True
    assert sorted(r.doc_id for r in eng.documents().collect()) == [
        "id1", "id2", "id4", "id5", "id6"
    ]


def test_null_collection_row_survives_delete_of_its_file(spark, tmp_path):
    """A file whose ``collection`` stats are [x, x] may still hold a
    null ``collection`` (min/max ignore nulls): its null count keeps it
    from being dropped whole, and the rewrite keeps the null row."""
    from nebuia_vector_db_spark.schemas import DOCUMENT_SCHEMA

    eng = VectorEngine(spark, str(tmp_path / "wh"), dim=4)
    rows = [
        (c, f"id{i}", None, None, []) for i, c in enumerate(["x", None, "x"])
    ]
    eng.store_dataframe(spark.createDataFrame(rows, DOCUMENT_SCHEMA).coalesce(1))
    (entry,) = eng.table._snapshot()["files"]
    assert entry["stats"]["collection"] == ["x", "x"]
    assert entry["nulls"]["collection"] == 1
    assert eng.delete_collection("x")["deleted"] is True
    left = eng.documents().collect()
    assert [(r.collection, r.doc_id) for r in left] == [(None, "id1")]


def test_delete_decided_by_stats_scans_nothing(spark, tmp_path, monkeypatch):
    """``store`` writes on the driver, and a collection whose every
    file holds only that collection is deleted from the manifest
    alone: its files are dropped by reference, other files carried,
    and no file is probed or written by Spark. The commit's
    ``dropped_files`` stays out of later commits."""
    from pyspark.sql.readwriter import DataFrameWriter

    from nebuia_vector_db_spark.sources.snapshot import SnapshotTable

    def boom(*a, **kw):
        raise AssertionError("a Spark scan or write ran")

    monkeypatch.setattr(SnapshotTable, "_split_hit_files", boom)
    monkeypatch.setattr(DataFrameWriter, "parquet", boom)
    eng = VectorEngine(spark, str(tmp_path / "wh"), dim=4)
    eng.store("a", _mkdocs(2, 1, 4, seed=61))
    eng.store("b", _mkdocs(3, 1, 4, seed=62))
    eng.store("a", _mkdocs(1, 1, 4, seed=63))
    assert eng.delete_collection("a")["deleted"] is True
    assert eng.table.meta("dropped_files") == 2
    assert eng.table.meta("rewrote_files") == 0
    assert eng.delete_collection("a")["deleted"] is False
    monkeypatch.undo()
    assert eng.list_collections() == ["b"]
    assert eng.documents(["b"]).count() == 3
    eng.store("c", _mkdocs(1, 1, 4, seed=64))
    assert eng.table.meta("dropped_files") is None


def test_delete_decided_by_stats_makes_no_py4j_call(spark, tmp_path, monkeypatch):
    """A delete the manifest stats decide never builds its Spark
    predicate, so it makes no py4j round trip: it is a driver-side
    manifest commit only."""
    from py4j.clientserver import ClientServerConnection

    eng = VectorEngine(spark, str(tmp_path / "wh"), dim=4)
    eng.store("a", _mkdocs(2, 1, 4, seed=65))
    eng.store("b", _mkdocs(1, 1, 4, seed=66))
    calls = []
    send = ClientServerConnection.send_command

    def spy(self, command, *a, **kw):
        calls.append(command)
        return send(self, command, *a, **kw)

    monkeypatch.setattr(ClientServerConnection, "send_command", spy)
    assert eng.delete_collection("a")["deleted"] is True
    assert eng.delete_collection("a")["deleted"] is False
    monkeypatch.undo()
    assert calls == []
    assert eng.list_collections() == ["b"]


def test_copy_on_write_delete_in_a_percent_encoded_directory(spark, tmp_path, monkeypatch):
    """In a warehouse whose directory name holds a space, a literal
    ``%20`` and a non-ASCII character, a copy-on-write delete still
    finds its rows: Spark's ``input_file_name()`` encodes the name
    (``sp%20ace%2520é``), and the one path rule decodes it before the
    manifest paths are matched. Both a ``delete_collection`` on a file
    that holds two collections and a ``delete_where`` with a Column."""
    from nebuia_vector_db_spark.schemas import DOCUMENT_SCHEMA
    from nebuia_vector_db_spark.sources.snapshot import SnapshotTable

    root = tmp_path / "sp ace%20é"
    monkeypatch.setattr(topk_module, "_DRIVER_MAX_BYTES", 0)
    eng = VectorEngine(spark, str(root / "wh"), dim=4)
    chunk = ("c", [1.0, 0.0, 0.0, 0.0], (None, "n"), 0.0)
    eng.store_dataframe(
        spark.createDataFrame(
            [(c, f"d{i}", "t", (None, f"d{i}"), [chunk]) for i, c in enumerate("aba")],
            DOCUMENT_SCHEMA,
        ).coalesce(1)
    )
    assert len(eng.table._snapshot(eng.table.current_version())["files"]) == 1
    assert eng.delete_collection("a")["deleted"] is True
    assert eng.list_collections() == ["b"]

    table = SnapshotTable.create(
        spark, str(root / "t"), spark.range(4).selectExpr("id AS k").coalesce(1)
    )
    head = table.current_version()
    assert table.delete_where(F.col("k") == 2) == head + 1
    assert sorted(r.k for r in table.read().collect()) == [0, 1, 3]


def test_file_uri_warehouse_is_written_where_it_names(spark, tmp_path, monkeypatch):
    """A ``file://`` warehouse (percent-encoded, as ``Path.as_uri``
    writes it) is the directory it names: store, a driver-route search,
    a ``where=`` search (the Spark route) and a delete all work there,
    and nothing is written under the working directory."""
    monkeypatch.chdir(tmp_path)
    target = tmp_path / "uri wh"
    uri = target.as_uri()
    assert uri.startswith("file:///") and "%20" in uri
    eng = VectorEngine(spark, uri, dim=4)
    assert eng.table.path == str(target)
    docs = _mkdocs(3, 2, 4, seed=131)
    q = docs[0]["chunks"][0]["embedding"]
    eng.store("a", docs)
    eng.store("b", _mkdocs(1, 1, 4, seed=132))
    driver = eng.search("a", q, 3)
    assert _route(driver) == "driver" and driver.collect()[0].similarity > 0.99
    assert len(eng.search("a", q, 3, where="position = 1").collect()) == 3
    assert eng.delete_collection("a")["deleted"] is True
    assert eng.list_collections() == ["b"]
    assert VectorEngine(spark, str(target), dim=4).list_collections() == ["b"]
    assert sorted(os.listdir(target)) == ["_snapshots", "data"]
    assert sorted(os.listdir(tmp_path)) == ["uri wh"]


@pytest.mark.parametrize("uri", ["s3a://bucket/wh", "hdfs://nn/wh", "file://host/wh"])
def test_non_local_warehouse_is_rejected(spark, tmp_path, monkeypatch, uri):
    """A warehouse that is not on local disk raises ``ValueError``
    before any file exists, instead of a silent local copy under the
    working directory."""
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="local path"):
        VectorEngine(spark, uri, dim=4)
    assert os.listdir(tmp_path) == []


def test_requests_build_no_python_list_relation(spark, tmp_path, monkeypatch):
    """``store``, ``search`` (a hit, a miss, an emptied collection) and
    ``delete_collection`` never hand ``createDataFrame`` a Python list:
    that relation runs on the RDD runner and forks Python workers."""
    from pyspark.sql import SparkSession

    eng = VectorEngine(spark, str(tmp_path / "wh"), dim=4)
    docs = _mkdocs(2, 2, 4, seed=71)
    q = docs[0]["chunks"][0]["embedding"]
    lists = []
    create = SparkSession.createDataFrame

    def spy(self, data, *a, **kw):
        if isinstance(data, list):
            lists.append(data)
        return create(self, data, *a, **kw)

    monkeypatch.setattr(SparkSession, "createDataFrame", spy)
    eng.store("c", docs)
    assert eng.search("c", q, 3).count() == 3
    missing = eng.search("missing", q, 5)
    assert missing.count() == 0
    plan = missing._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert eng.delete_collection("c")["deleted"] is True
    assert eng.search("c", q, 3).collect() == []
    assert lists == []


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


# ------------------------------------------------------ the two search routes
def _route(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "driver" if plan.startswith("LocalTableScan") else "spark"


def _both_routes(monkeypatch, run):
    """``run()`` on the driver route (no bound) and on the Spark route
    (bound 0), with the route each took."""
    out = {}
    for route, bound in (("driver", 1 << 62), ("spark", 0)):
        monkeypatch.setattr(topk_module, "_DRIVER_MAX_BYTES", bound)
        df = run()
        assert _route(df) == route
        out[route] = df
    return out["driver"], out["spark"]


def test_search_routes_agree(spark, tmp_path, monkeypatch):
    """The driver and Spark routes return the same ``(doc_id,
    position)`` sequence, the same rows (similarities bit for bit) and
    the same column types: under exact ties (one vector stored in
    several documents and positions), for ``multi_search`` over a
    Spark-written file and driver-written ones, with ``min_similarity``
    and with ``top_k`` above the collection size."""
    from nebuia_vector_db_spark.schemas import DOCUMENT_SCHEMA

    tie = [0.5, -0.25, 1.0, 0.125]
    docs = _mkdocs(6, 3, 4, seed=81, name_prefix="d")
    for i, j in [(0, 2), (1, 0), (3, 1), (3, 2), (5, 0)]:
        docs[i]["chunks"][j]["embedding"] = list(tie)
    eng = VectorEngine(spark, str(tmp_path / "wh"), dim=4)
    eng.store("d", docs[:4])
    eng.store("d", docs[4:])
    chunk = ("c", tie, ("s", "n"), 0.0)
    eng.store_dataframe(
        spark.createDataFrame(
            [("s", f"s{i}", "t", (None, f"s{i}"), [chunk, chunk]) for i in range(3)],
            DOCUMENT_SCHEMA,
        )
    )
    cases = [
        lambda: eng.search("d", tie, 3),  # a tie crosses the cut
        lambda: eng.multi_search(["s", "d"], tie, 7),
        lambda: eng.multi_search(["d", "s"], [1.0, 0.0, 0.0, 0.0], 100),
        lambda: eng.search("d", [0.0, 1.0, 0.0, 1.0], 10, min_similarity=0.2),
        lambda: eng.search("d", tie, 100),
    ]
    for run in cases:
        driver, sparked = _both_routes(monkeypatch, run)
        got, want = driver.collect(), sparked.collect()
        assert [(r.doc_id, r.position) for r in got] == [
            (r.doc_id, r.position) for r in want
        ]
        assert got == want  # every column, similarities to the bit
        assert driver.dtypes == sparked.dtypes
    assert len(eng.search("d", tie, 100).collect()) == 6 * 3


@pytest.mark.parametrize("bad", ["empty", "ragged", "nan"])
def test_unscorable_chunk_takes_the_spark_route(spark, tmp_path, monkeypatch, bad):
    """With ``dim=None`` a chunk may hold an empty or ragged embedding,
    and ``store_dataframe`` a NaN. Spark scores those NULL or NaN, so
    the search goes to the Spark route and gives its answer."""
    from nebuia_vector_db_spark.schemas import DOCUMENT_SCHEMA

    eng = VectorEngine(spark, str(tmp_path / "wh"), dim=None)
    eng.store("c", _mkdocs(3, 2, 4, seed=91))
    vec = {"empty": [], "ragged": [1.0, 0.0, 0.0], "nan": [float("nan"), 0, 0, 0]}
    chunk = ("x", [float(v) for v in vec[bad]], (None, "x.1"), 0.0)
    eng.store_dataframe(
        spark.createDataFrame([("c", "odd", None, (None, "x"), [chunk])], DOCUMENT_SCHEMA)
    )

    def answer(df):
        return [(r.doc_id, r.position, repr(r.similarity)) for r in df.collect()]

    q = [1.0, 0.5, 0.0, 0.0]
    chosen = eng.search("c", q, 4)
    assert _route(chosen) == "spark"
    monkeypatch.setattr(topk_module, "_DRIVER_MAX_BYTES", 0)
    assert answer(chosen) == answer(eng.search("c", q, 4))
    if bad == "nan":
        assert answer(chosen)[0][:2] == ("odd", 1)  # NaN sorts first


def test_driver_search_runs_no_spark_job(spark, tmp_path):
    """A driver-route ``search`` and ``multi_search`` are local
    relations: through ``collect()`` they run no Spark job, while a
    ``where=`` search still does."""
    import time

    sc = spark.sparkContext
    eng = VectorEngine(spark, str(tmp_path / "wh"), dim=4)
    eng.store("a", _mkdocs(4, 2, 4, seed=101))
    eng.store("b", _mkdocs(3, 2, 4, seed=102))
    q = [1.0, 0.0, -1.0, 0.5]
    tag = os.path.basename(str(tmp_path))
    try:
        sc.setJobGroup(f"{tag}-driver", "driver-route searches")
        single = eng.search("a", q, 3)
        multi = eng.multi_search(["a", "b"], q, 5)
        assert (len(single.collect()), len(multi.collect())) == (3, 5)
        sc.setJobGroup(f"{tag}-where", "a where= search")
        assert len(eng.search("a", q, 3, where="position = 1").collect()) == 3
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(f"{tag}-where"):
        assert time.monotonic() < deadline, "the where= search ran no job"
        time.sleep(0.1)
    # listener events arrive in order: the where= job is seen, so any
    # earlier job would be too
    assert tracker.getJobIdsForGroup(f"{tag}-driver") == []
    for df in (single, multi):
        assert _route(df) == "driver"


def test_driver_route_reads_on_one_thread_under_the_bound(spark, tmp_path, monkeypatch):
    """The driver route reads each candidate file with one thread and
    never imports ``pyarrow.dataset``; candidates over the byte bound
    take the Spark route."""
    import sys

    import pyarrow.parquet as pq

    eng = VectorEngine(spark, str(tmp_path / "wh"), dim=4)
    eng.store("a", _mkdocs(3, 2, 4, seed=111))
    eng.store("b", _mkdocs(3, 2, 4, seed=112))
    eng.store("a", _mkdocs(2, 2, 4, seed=113))
    size = sum(
        f["bytes"] for f in eng.table.candidate_files([("collection", "in", ["a"])])
    )
    reads = []
    read = pq.ParquetFile.read

    def spy(self, *a, **kw):
        reads.append(kw.get("use_threads"))
        return read(self, *a, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read", spy)
    monkeypatch.setitem(sys.modules, "pyarrow.dataset", None)  # import fails
    q = [0.0, 1.0, 0.0, 0.0]
    monkeypatch.setattr(topk_module, "_DRIVER_MAX_BYTES", size)
    at_bound = eng.search("a", q, 4)
    assert _route(at_bound) == "driver" and reads == [False, False]
    monkeypatch.setattr(topk_module, "_DRIVER_MAX_BYTES", size - 1)
    over = eng.search("a", q, 4)
    assert _route(over) == "spark" and len(reads) == 2
    assert at_bound.collect() == over.collect()


@pytest.mark.parametrize("top_k", [-1, 2.5, True, "3", None])
def test_search_rejects_a_bad_top_k(engine, top_k):
    """``top_k`` must be an int >= 0: a negative or fractional one is
    a ValueError before any route runs, never an empty result."""
    with pytest.raises(ValueError, match="top_k"):
        engine.search("alpha", [1.0] * 8, top_k)
    with pytest.raises(ValueError, match="top_k"):
        engine.multi_search(["alpha", "beta"], [1.0] * 8, top_k)


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_search_rejects_a_non_finite_query(engine, bad):
    """A NaN or infinite query component scores every chunk NaN or
    NULL: it is a ValueError, never a ranked answer."""
    q = [1.0] * 7 + [bad]
    with pytest.raises(ValueError, match="finite"):
        engine.search("alpha", q, 5)
    with pytest.raises(ValueError, match="finite"):
        engine.multi_search(["alpha", "beta"], q, 5)


@pytest.mark.parametrize("bad", [float("nan"), float("inf")])
def test_store_rejects_non_finite_embedding(spark, tmp_path, bad):
    """A stored NaN would score NaN and rank first in every search of
    its collection; ``store`` refuses it and commits nothing."""
    eng = VectorEngine(spark, str(tmp_path / "wh"), dim=4)
    docs = _mkdocs(2, 2, 4, seed=121)
    docs[1]["chunks"][1]["embedding"] = [bad, 0.0, 0.0, 0.0]
    with pytest.raises(ValueError, match="finite"):
        eng.store("c", docs)
    assert eng.table.n_files() == 0
    assert eng.search("c", [1.0, 0.0, 0.0, 0.0], 3).collect() == []


@pytest.mark.parametrize("bad", [None, 5, b"c"])
def test_routes_reject_a_non_str_collection_name(spark, tmp_path, bad):
    """A collection is a string: a null name would store a row no
    route can name again, and an int fails deep inside Arrow. All four
    routes raise TypeError before they touch the table."""
    eng = VectorEngine(spark, str(tmp_path / "wh"), dim=4)
    docs = _mkdocs(1, 1, 4, seed=131)
    eng.store("c", docs)
    table, eng.table = eng.table, None  # any read or write would fail otherwise
    q = [1.0, 0.0, 0.0, 0.0]
    for call in (
        lambda: eng.store(bad, docs),
        lambda: eng.search(bad, q, 3),
        lambda: eng.multi_search(["c", bad], q, 3),
        lambda: eng.delete_collection(bad),
    ):
        with pytest.raises(TypeError, match="collection name must be a str"):
            call()
    eng.table = table
    assert eng.list_collections() == ["c"]
    assert table.n_files() == 1


@pytest.mark.parametrize("route", ["multi_search", "documents", "chunks"])
def test_collection_lists_reject_a_bare_str(spark, tmp_path, route):
    """``list("ab")`` is ``["a", "b"]``: a bare string passed as the
    collection list would search collections ``a`` and ``b``, not
    ``ab``. The three list-taking routes raise TypeError before they
    read the table."""
    eng = VectorEngine(spark, str(tmp_path / "wh"), dim=4)
    for name in ("a", "b", "ab"):
        eng.store(name, _mkdocs(1, 1, 4, seed=137))
    table, eng.table = eng.table, None  # any read would fail otherwise
    call = {
        "multi_search": lambda: eng.multi_search("ab", [1.0, 0.0, 0.0, 0.0], 3),
        "documents": lambda: eng.documents("ab"),
        "chunks": lambda: eng.chunks("ab"),
    }[route]
    with pytest.raises(TypeError, match="not a str"):
        call()
    eng.table = table
    assert eng.multi_search(["ab"], [1.0, 0.0, 0.0, 0.0], 3).count() == 1


class TestSparkRoute:
    """The search tests again, with the driver route's byte bound at 0,
    so every request takes the Spark route. The class is filled below:
    every module test that takes the shared ``engine``, and the tests
    that search an engine of their own."""

    @pytest.fixture(autouse=True, scope="class")
    def spark_route(self):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(topk_module, "_DRIVER_MAX_BYTES", 0)
            yield

    @pytest.fixture(scope="class")
    def engine(self, spark, tmp_path_factory, spark_route):
        return _three_collections(spark, tmp_path_factory)

    def test_routed_to_spark(self, engine):
        assert _route(engine.search("alpha", [1.0] * 8, 3)) == "spark"


for _test in [
    *(
        f
        for name, f in list(globals().items())
        if name.startswith("test_")
        and "engine" in inspect.signature(f).parameters
    ),
    test_search_min_similarity_radius_gate,
    test_multi_search_min_similarity_gate,
    test_list_collections_raises_on_corrupt_log,
    test_requests_do_not_list_the_log,
    test_requests_build_no_python_list_relation,
]:
    setattr(TestSparkRoute, _test.__name__, staticmethod(_test))
