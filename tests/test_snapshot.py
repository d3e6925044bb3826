"""SnapshotTable (sources/snapshot.py): atomic commits, copy-on-write
delete/upsert, time travel, file-level data skipping, vacuum."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from nebuia_vector_db_spark.sources.snapshot import (
    CommitConflictError,
    SnapshotTable,
    _file_all_match,
    _file_may_match,
)


@pytest.fixture()
def base_df(spark):
    return spark.range(0, 1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 10).alias("bucket"),
        F.concat(F.lit("row-"), F.col("id")).alias("payload"),
        F.lit(1).cast("long").alias("ver"),
    )


def test_create_read_history(spark, base_df, tmp_path):
    tbl = SnapshotTable.create(spark, str(tmp_path / "t"), base_df)
    assert tbl.current_version() == 1
    got = tbl.read()
    assert got.count() == 1000
    assert [f.name for f in got.schema.fields] == ["k", "bucket", "payload", "ver"]
    (h,) = tbl.history()
    assert h["op"] == "create" and h["n_rows"] == 1000


def test_append_and_time_travel(spark, base_df, tmp_path):
    tbl = SnapshotTable.create(spark, str(tmp_path / "t"), base_df)
    more = spark.range(1000, 1200).select(
        F.col("id").alias("k"),
        (F.col("id") % 10).alias("bucket"),
        F.concat(F.lit("row-"), F.col("id")).alias("payload"),
        F.lit(2).cast("long").alias("ver"),
    )
    v2 = tbl.append(more)
    assert v2 == 2
    assert tbl.read().count() == 1200
    assert tbl.read(version=1).count() == 1000  # time travel


def test_cow_delete_rewrites_only_hit_files(spark, tmp_path):
    # range-partition on bucket so files hold disjoint buckets
    df = (
        spark.range(0, 2000)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 4).alias("bucket"),
            F.lit(1).cast("long").alias("ver"),
        )
        .repartitionByRange(4, "bucket")
    )
    tbl = SnapshotTable.create(spark, str(tmp_path / "t"), df)
    before = {f["path"] for f in tbl._snapshot()["files"]}
    tbl.delete_where(F.col("bucket") == 2)
    snap = tbl._snapshot()
    after = {f["path"] for f in snap["files"]}
    # most files carried forward by reference (same path objects)
    assert snap["carried_files"] >= 1
    assert snap["rewrote_files"] >= 1
    assert before & after, "carried files must keep their original paths"
    got = tbl.read()
    assert got.where(F.col("bucket") == 2).count() == 0
    assert got.count() == 1500
    # the pre-delete snapshot still reads completely
    assert tbl.read(version=1).count() == 2000
    _assert_no_hit_delete(tbl, lambda: tbl.delete_where(F.col("bucket") == 7))


def _assert_no_hit_delete(tbl, delete):
    """A delete that matches no row publishes nothing: it returns the
    head it read, the head and its manifest stay, and no data file is
    written."""
    head = tbl.current_version()
    parent = [f["path"] for f in tbl._snapshot()["files"]]
    data_dirs = set(os.listdir(tbl._data_dir))
    assert delete() == head
    assert tbl.current_version() == head
    assert [f["path"] for f in tbl._snapshot()["files"]] == parent
    assert set(os.listdir(tbl._data_dir)) == data_dirs


def test_commit_conflict_is_detected(spark, base_df, tmp_path):
    """Two writers that both read parent=1 cannot both commit v2: the
    exclusive create of the versioned snapshot file is the CAS."""
    tbl = SnapshotTable.create(spark, str(tmp_path / "t"), base_df)
    snap = tbl._snapshot(1)
    body = {k: snap[k] for k in ("op", "schema", "files")}
    # the racing writer lands version 2 first
    with open(os.path.join(tbl._snap_dir, "v00000002.json"), "x") as f:
        json.dump(body, f)
    with pytest.raises(CommitConflictError):
        tbl._commit(dict(body), expected_parent=1)
    # retrying on the NEW parent succeeds (optimistic-concurrency loop)
    assert tbl._commit(dict(body), expected_parent=2) == 3


def test_data_skipping_prunes_files(spark, tmp_path):
    df = (
        spark.range(0, 10_000)
        .select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
        .repartitionByRange(8, "k")
    )
    tbl = SnapshotTable.create(spark, str(tmp_path / "t"), df)
    n_all = tbl.n_files()
    assert n_all >= 8
    where = [("k", ">=", 9000)]
    n_scanned = tbl.pruned_file_count(where)
    assert n_scanned < n_all, "stats pruning must drop provably-dead files"
    got = tbl.read(where=where)
    assert got.count() == 1000
    assert got.agg(F.min("k")).head()[0] == 9000
    # equality predicate outside every file's range scans nothing
    assert tbl.pruned_file_count([("k", "=", -5)]) == 0
    assert tbl.read(where=[("k", "=", -5)]).count() == 0
    # an in-list prunes to the files holding one of its values
    where_in = [("k", "in", [9500, 9999])]
    assert tbl.pruned_file_count(where_in) < n_all
    got_in = tbl.read(where=where_in).select("k").collect()
    assert sorted(r[0] for r in got_in) == [9500, 9999]
    assert tbl.pruned_file_count([("k", "in", [-5, 20_000])]) == 0
    assert tbl.read(where=[("k", "in", [-5, 20_000])]).count() == 0


def test_upsert_matches_global_merge(spark, base_df, tmp_path):
    from nebuia_vector_db_spark.operators.maintenance import upsert_latest

    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), base_df.repartitionByRange(4, "k")
    )
    updates = spark.range(500, 600).select(
        F.col("id").alias("k"),
        (F.col("id") % 10).alias("bucket"),
        F.lit("UPDATED").alias("payload"),
        F.lit(9).cast("long").alias("ver"),
    )
    tbl.upsert(updates, key_cols=["k"], version_col="ver")
    got = tbl.read()
    assert got.count() == 1000
    assert got.where(F.col("payload") == "UPDATED").count() == 100
    expected = upsert_latest(base_df, updates, ["k"], "ver")
    sym_diff = got.exceptAll(expected).count() + expected.exceptAll(got).count()
    assert sym_diff == 0
    snap = tbl._snapshot()
    assert snap["carried_files"] >= 1, "upsert must carry unaffected files"
    # keys that hit no file carry every file and only add the updates
    fresh = updates.withColumn("k", F.col("k") + 10_000)
    tbl.upsert(fresh, key_cols=["k"], version_col="ver")
    assert tbl._snapshot()["carried_files"] == snap["n_files"]
    assert tbl.read().count() == 1100


def test_vacuum_removes_only_unreferenced(spark, base_df, tmp_path):
    tbl = SnapshotTable.create(spark, str(tmp_path / "t"), base_df)
    tbl.delete_where("k < 100")
    res = tbl.vacuum(keep_last=1)
    assert res["removed_snapshots"] == 1
    assert res["removed_data_files"] >= 1
    assert tbl.read().count() == 900  # current snapshot intact
    assert tbl.versions() == [2]
    with pytest.raises(FileNotFoundError):
        tbl._snapshot(1)


def test_stats_check_is_conservative():
    f = {"stats": {"a": [10, 20]}}
    assert _file_may_match(f, [("a", "=", 15)])
    assert not _file_may_match(f, [("a", "=", 25)])
    assert not _file_may_match(f, [("a", ">", 20)])
    assert _file_may_match(f, [("a", ">=", 20)])
    assert not _file_may_match(f, [("a", "<", 10)])
    assert _file_may_match(f, [("a", "<=", 10)])
    assert _file_may_match(f, [("a", "in", [1, 15])])
    assert not _file_may_match(f, [("a", "in", [1, 25])])
    assert not _file_may_match(f, [("a", "in", [])])
    # missing stats or mixed types: never prune
    assert _file_may_match({"stats": {}}, [("a", "=", 1)])
    assert _file_may_match(f, [("a", "=", "zzz")])
    assert _file_may_match(f, [("a", "in", ["zzz"])])


def test_all_match_needs_single_value_stats_and_zero_nulls():
    """A file is dropped unscanned only when its stats are [v, v] and
    it counts no nulls; an entry without null counts (an older
    manifest) proves nothing."""
    f = {"stats": {"c": ["x", "x"]}, "nulls": {"c": 0}}
    assert _file_all_match(f, [("c", "=", "x")])
    assert not _file_all_match(f, [("c", "in", ["x"])])
    assert not _file_all_match(f, [("c", "=", "y")])
    assert not _file_all_match(f, [("c", ">=", "x")])
    assert not _file_all_match({**f, "nulls": {"c": 1}}, [("c", "=", "x")])
    assert not _file_all_match({"stats": f["stats"]}, [("c", "=", "x")])
    assert not _file_all_match(
        {**f, "stats": {"c": ["w", "x"]}}, [("c", "=", "x")]
    )
    # floats (NaN sits outside parquet min/max) and bools never qualify
    g = {"stats": {"c": [1.0, 1.0]}, "nulls": {"c": 0}}
    assert not _file_all_match(g, [("c", "=", 1.0)])
    assert not _file_all_match(
        {"stats": {"c": [1, 1]}, "nulls": {"c": 0}}, [("c", "=", True)]
    )


def test_zero_row_entries_are_neither_counted_nor_scanned(spark, tmp_path):
    """Spark writes a 0-row file for an empty append; the manifest
    says so exactly, so reads skip it and keep the same rows."""
    assert not _file_may_match({"rows": 0, "stats": {}}, [])
    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), spark.range(0, 10).coalesce(1)
    )
    tbl.append(spark.range(0))
    files = tbl._snapshot()["files"]
    empty = [f for f in files if f["rows"] == 0]
    assert empty, "the empty append left no 0-row entry"
    assert tbl.pruned_file_count([]) == len(files) - len(empty)
    assert tbl.pruned_file_count([("id", ">=", 0)]) == 1
    got = tbl.read()
    scanned = {os.path.basename(p) for p in got.inputFiles()}
    assert not scanned & {os.path.basename(f["path"]) for f in empty}
    assert sorted(r.id for r in got.collect()) == list(range(10))


def test_float_stats_never_prune_nan_rows(spark, tmp_path):
    """Spark orders NaN above every double, so ``x > 5`` keeps a NaN
    row. A Spark-written footer records ``[1.0, NaN]``, which does not
    bound it, and a driver-written file carries no float stats. A
    pruned read keeps the rows the unpruned one does."""
    nan = float("nan")
    tbl = SnapshotTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, 1.0), (2, nan)], "k long, x double").coalesce(1),
    )
    tbl.append(pa.table({"k": pa.array([3, 4]), "x": pa.array([2.0, nan])}))
    stats = [f["stats"].get("x") for f in tbl._snapshot()["files"] if f["rows"]]
    assert len(stats) == 2 and sum(st is not None for st in stats) == 1
    for op in (">", ">=", "=", "<", "<="):
        for lit in (5.0, nan, 1.0):
            where = [("x", op, lit)]
            sql = f"x {op} {lit!r}".replace("nan", "'NaN'")
            assert tbl.pruned_file_count(where) == 2
            assert tbl.read(where=where).count() == tbl.read().where(sql).count()


def test_driver_written_files_carry_no_float_stats(spark, tmp_path):
    """A pyarrow footer leaves NaN out of a float min/max, so a
    driver-written file records no float or double statistics at any
    nesting depth, and Spark's own row-group filter, on or off, keeps
    the NaN row it orders above 5.0. Other leaves keep their stats."""
    nan = float("nan")
    tbl = SnapshotTable.create(
        spark,
        str(tmp_path / "t"),
        pa.table(
            {
                "c": pa.array(["a", "b"]),
                "x": pa.array([2.0, nan]),
                "f": pa.array([1.0, nan], pa.float32()),
                "chunks": pa.array(
                    [[{"name": "n", "embedding": [0.5, nan]}], []]
                ),
                "m": pa.array(
                    [[("k", nan)], []], pa.map_(pa.string(), pa.float64())
                ),
            }
        ),
    )
    (entry,) = tbl._snapshot()["files"]
    assert entry["stats"] == {"c": ["a", "b"]}
    md = pq.read_metadata(os.path.join(tbl.path, entry["path"]))
    has_stats = {
        md.schema.column(i).path: md.row_group(0).column(i).is_stats_set
        for i in range(md.num_columns)
    }
    assert has_stats == {
        "c": True,
        "x": False,
        "f": False,
        "chunks.list.element.name": True,
        "chunks.list.element.embedding.list.element": False,
        "m.key_value.key": True,
        "m.key_value.value": False,
    }
    key = "spark.sql.parquet.filterPushdown"
    for pushdown in ("true", "false"):
        spark.conf.set(key, pushdown)
        try:
            assert tbl.read().where("x > 5.0").count() == 1
            assert tbl.read().where("f > 5.0").count() == 1
        finally:
            spark.conf.unset(key)


def test_arrow_append_writes_one_undictionaried_file(spark, tmp_path):
    """A pyarrow.Table append is one parquet file written on the
    driver, with footer stats and null counts in its entry and no
    dictionary pages on the vector column."""
    tbl = SnapshotTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            pa.table({"c": pa.array(["z"]), "v": pa.array([[0.0]])})
        ),
    )
    t = pa.table(
        {
            "c": pa.array(["x", None, "x"]),
            "v": pa.array([[0.1 * i, 1.0 + i] for i in range(3)]),
        }
    )
    before = {f["path"] for f in tbl._snapshot()["files"]}
    tbl.append(t)
    (entry,) = [f for f in tbl._snapshot()["files"] if f["path"] not in before]
    assert entry["rows"] == 3
    assert entry["stats"] == {"c": ["x", "x"]}
    assert entry["nulls"] == {"c": 1}
    md = pq.read_metadata(os.path.join(tbl.path, entry["path"]))
    enc = {
        md.schema.column(i).path: md.row_group(0).column(i).encodings
        for i in range(md.num_columns)
    }
    assert "RLE_DICTIONARY" not in enc["v.list.element"]
    assert "PLAIN_DICTIONARY" not in enc["v.list.element"]
    got = tbl.read().where(F.col("c").isNull() | (F.col("c") == "x"))
    assert got.count() == 3


def test_empty_relations_start_no_python_rdd(spark, tmp_path):
    """An empty scan is a local relation from Arrow, not a
    Python-list RDD (which forks Python workers when it runs)."""
    tbl = SnapshotTable.create(spark, str(tmp_path / "t"), spark.range(0, 4))
    for df in (tbl.read(where=[("id", ">", 99)]), tbl.changes(1, 1)):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert tbl.changes(1, 1).columns == ["id", "_change", "_commit_version"]


def test_schema_evolution_additive(spark, base_df, tmp_path):
    tbl = SnapshotTable.create(spark, str(tmp_path / "t"), base_df)
    evolved = spark.range(1000, 1100).select(
        F.col("id").alias("k"),
        (F.col("id") % 10).alias("bucket"),
        F.lit("new").alias("payload"),
        F.lit(2).cast("long").alias("ver"),
        F.lit("fr").alias("lang"),  # new column
    )
    # without merge_schema the new column is dropped (strict align)
    tbl.append(evolved)
    assert "lang" not in tbl.read().columns
    # with merge_schema the column is added; old files read as NULL
    tbl.append(evolved, merge_schema=True)
    got = tbl.read()
    assert "lang" in got.columns
    assert got.where(F.col("lang").isNull()).count() == 1100
    assert got.where(F.col("lang") == "fr").count() == 100
    # old snapshots keep the old schema (time travel is schema-stable)
    assert "lang" not in tbl.read(version=1).columns


def test_compact_packs_small_files(spark, tmp_path):
    df = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("v")
    )
    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), df.repartition(12)
    )
    assert tbl.n_files() >= 12
    v = tbl.compact(small_file_bytes=64 * 1024 * 1024, target_partitions=2)
    assert v == 2
    snap = tbl._snapshot()
    assert snap["op"] == "compact"
    assert tbl.n_files() <= 3
    got = tbl.read()
    assert got.count() == 5000
    assert got.agg(F.sum("k")).head()[0] == sum(range(5000))
    # pre-compaction snapshot still time-travels
    assert tbl.read(version=1).count() == 5000
    # compacting an already-compact table is a no-op
    assert tbl.compact(small_file_bytes=1) == v


def test_concurrent_appends_with_retry_lose_nothing(spark, tmp_path):
    """Two writers race real commits; with_retry resolves conflicts
    and the table converges with every row from both writers."""
    import threading

    base = spark.range(0, 100).selectExpr("id k")
    tbl = SnapshotTable.create(spark, str(tmp_path / "t"), base)
    errs = []

    def _writer(lo):
        try:
            local = SnapshotTable(spark, str(tmp_path / "t"))
            for i in range(3):
                df = spark.range(lo + i * 100, lo + i * 100 + 100).selectExpr(
                    "id k"
                )
                local.with_retry("append", df)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    t1 = threading.Thread(target=_writer, args=(1_000,))
    t2 = threading.Thread(target=_writer, args=(10_000,))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    got = tbl.read()
    assert got.count() == 100 + 6 * 100
    assert tbl.current_version() == 7  # 1 create + 6 serialized appends
    # each writer's rows all arrived
    assert got.where((F.col("k") >= 1_000) & (F.col("k") < 1_300)).count() == 300
    assert got.where(F.col("k") >= 10_000).count() == 300


def test_with_retry_gives_up_after_budget(spark, base_df, tmp_path, monkeypatch):
    tbl = SnapshotTable.create(spark, str(tmp_path / "t"), base_df)

    def _always_conflict(*a, **k):
        raise CommitConflictError("simulated")

    monkeypatch.setattr(tbl, "append", _always_conflict)
    with pytest.raises(CommitConflictError, match="simulated"):
        tbl.with_retry("append", base_df.limit(1), retries=2)


def test_vacuum_age_guard_spares_young_files(spark, base_df, tmp_path):
    """The concurrent-writer guard: data and version files younger
    than min_file_age_seconds survive vacuum (an in-flight commit's
    data exists before its snapshot does, and its commit needs the
    version after its parent to still exist to be refused)."""
    tbl = SnapshotTable.create(spark, str(tmp_path / "t"), base_df)
    tbl.delete_where("k < 100")
    inflight = tbl._write_files(base_df.limit(5))  # written, not committed
    res = tbl.vacuum(keep_last=1, min_file_age_seconds=3600)
    assert res["removed_data_files"] == 0, "young files must survive"
    assert all(os.path.exists(tbl.path + "/" + f["path"]) for f in inflight)
    # the young v1 survives too: a writer still holding it as its
    # parent must lose the race on v2, not publish v2 again
    assert res["removed_snapshots"] == 0
    assert tbl.versions() == [1, 2]
    assert tbl.read().count() == 900
    res2 = tbl.vacuum(keep_last=1, min_file_age_seconds=0)
    assert res2["removed_data_files"] >= 1
    assert tbl.read().count() == 900


def test_maintenance_commits_preserve_app_metadata(spark, base_df, tmp_path):
    """Application metadata (stream watermarks, index centroids) must
    survive EVERY commit kind — a compaction that dropped them would
    un-dedupe streams and break snapshot indexes."""
    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), base_df,
        extra_meta={"stream_watermarks": {"w1": 5}, "centroids": [[1.0, 2.0]]},
    )
    tbl.append(base_df.limit(10))
    tbl.delete_where("k < 50")
    tbl.compact(small_file_bytes=1 << 30, target_partitions=1)
    tbl.upsert(
        base_df.limit(5).withColumn("ver", F.lit(9).cast("long")),
        key_cols=["k"], version_col="ver",
    )
    assert tbl.meta("stream_watermarks") == {"w1": 5}
    assert tbl.meta("centroids") == [[1.0, 2.0]]
    # explicit extra_meta still overrides on append
    tbl.append(
        base_df.limit(1),
        extra_meta={"stream_watermarks": {"w1": 6}},
    )
    assert tbl.meta("stream_watermarks") == {"w1": 6}
    assert tbl.meta("centroids") == [[1.0, 2.0]]


def test_cow_delete_matching_rewrites_only_hit_files(spark, tmp_path):
    """delete_matching (round 15): the relational twin of
    delete_where — same COW accounting (unaffected files carried by
    reference), rows matched via the keys relation's anti-join, no
    literal predicate; key columns absent from the table raise."""
    import pytest as _pt

    df = (
        spark.range(0, 2000)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 4).alias("bucket"),
            F.lit(1).cast("long").alias("ver"),
        )
        .repartitionByRange(4, "bucket")
    )
    tbl = SnapshotTable.create(spark, str(tmp_path / "t"), df)
    before = {f["path"] for f in tbl._snapshot()["files"]}
    # delete 100 specific keys, all inside bucket 2's files
    keys = spark.range(0, 2000).where(
        (F.col("id") % 4 == 2) & (F.col("id") < 400)
    ).select(F.col("id").alias("k"))
    tbl.delete_matching(keys)
    snap = tbl._snapshot()
    after = {f["path"] for f in snap["files"]}
    assert snap["carried_files"] >= 1
    assert snap["rewrote_files"] >= 1
    assert before & after, "carried files must keep their original paths"
    got = tbl.read()
    assert got.count() == 1900
    assert got.join(keys, "k", "left_semi").count() == 0
    # multi-column keys: (k, bucket) both must match
    two = spark.createDataFrame(
        [(402, 2), (403, 1)], "k long, bucket long"
    )
    tbl.delete_matching(two)
    got2 = tbl.read()
    assert got2.where(F.col("k") == 402).count() == 0
    assert got2.where(F.col("k") == 403).count() == 1  # bucket is 3
    _assert_no_hit_delete(
        tbl,
        lambda: tbl.delete_matching(
            spark.createDataFrame([(-1,)], "k long")
        ),
    )
    with _pt.raises(ValueError, match="delete_matching"):
        tbl.delete_matching(
            spark.createDataFrame([(1,)], "nope long")
        )


def test_overwrite_is_one_commit_full_replace(spark, base_df, tmp_path):
    """overwrite(df) (round 15): ONE commit whose file set is
    entirely new — readers flip atomically (version advances by
    exactly 1, never an empty intermediate), old snapshots stay
    time-travelable, and the change feed replays the version as
    full-table delete+insert deltas."""
    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), base_df.repartition(3)
    )
    v1 = tbl.current_version()
    replacement = spark.range(5).select(
        F.col("id").alias("k"),
        F.lit(0).cast("long").alias("bucket"),
        F.lit("NEW").alias("payload"),
        F.lit(1).cast("long").alias("ver"),
    )
    v2 = tbl.overwrite(replacement)
    assert v2 == v1 + 1
    got = tbl.read()
    assert got.count() == 5
    assert got.where(F.col("payload") != "NEW").count() == 0
    assert tbl.read(v1).count() == base_df.count()  # time travel
    feed = tbl.changes(v1, v2)
    assert (
        feed.where(F.col("_change") == "delete").count()
        == base_df.count()
    )
    assert feed.where(F.col("_change") == "insert").count() == 5
