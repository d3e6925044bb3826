"""Snapshot-log scalability + commit-backend protocol.

Covers the two storage-layer properties of the log:
- checkpointed log: delta commits, parquet manifest checkpoints,
  ``_last_checkpoint`` pointer — ``current_version()``/``read()``
  touch only the checkpoint + the delta tail even after 500+ commits;
- the ``backend=`` seam: the same optimistic-concurrency protocol runs
  against the POSIX link-CAS and an in-memory create-if-absent fake,
  including the lost-race path.
"""

from __future__ import annotations

import json
import os
import threading
import time

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from nebuia_vector_db_spark.sources import snapshot as snapshot_module
from nebuia_vector_db_spark.sources.commit_backend import (
    CommitBackend,
    LocalFSCommitBackend,
)
from nebuia_vector_db_spark.sources.snapshot import (
    CommitConflictError,
    SnapshotTable,
)


class InMemoryCommitBackend(CommitBackend):
    """In-memory create-if-absent fake: ``put_if_absent`` atomically
    succeeds for exactly one caller per name. Used by the protocol
    tests to prove the commit logic does not depend on the
    filesystem — including the lost-race path. ``race_hook``, when
    set, runs inside ``put_if_absent`` *before* the conditional put
    (with the lock released) so tests can interleave a rival commit at
    the worst possible moment."""

    def __init__(self):
        self._lock = threading.Lock()
        self._objects: dict[str, tuple[bytes, float]] = {}
        self.race_hook = None
        self.put_attempts = 0

    def put_if_absent(self, name: str, data: bytes) -> bool:
        hook = self.race_hook
        if hook is not None:
            self.race_hook = None  # fire once
            hook()
        with self._lock:
            self.put_attempts += 1
            if name in self._objects:
                return False
            self._objects[name] = (data, time.time())
            return True

    def replace(self, name: str, data: bytes) -> None:
        with self._lock:
            self._objects[name] = (data, time.time())

    def get(self, name: str) -> bytes:
        with self._lock:
            if name not in self._objects:
                raise FileNotFoundError(name)
            return self._objects[name][0]

    def exists(self, name: str) -> bool:
        with self._lock:
            return name in self._objects

    def list(self) -> list[tuple[str, float]]:
        with self._lock:
            return [(n, mtime) for n, (_, mtime) in self._objects.items()]

    def delete(self, name: str) -> None:
        with self._lock:
            del self._objects[name]


def _is_version(name: str) -> bool:
    return name.startswith("v") and name.endswith(".json")


class CountingFSBackend(LocalFSCommitBackend):
    """LocalFS backend instrumented with per-operation counters so
    tests can assert how much log I/O a read actually performs:
    version reads and existence probes, and every listing (pointer and
    checkpoint reads are not counted)."""

    def __init__(self, log_dir):
        super().__init__(log_dir)
        self.reads = 0
        self.listings = 0
        self.exist_probes = 0

    def get(self, name):
        self.reads += _is_version(name)
        return super().get(name)

    def list(self):
        self.listings += 1
        return super().list()

    def exists(self, name):
        self.exist_probes += _is_version(name)
        return super().exists(name)


def _entry(i: int) -> dict:
    return {
        "path": f"data/c{i:06d}/part-0.parquet",
        "rows": 10,
        "bytes": 1000,
        "stats": {"k": [i, i + 9]},
    }


def _schema_json(spark):
    return json.loads(
        spark.range(1).selectExpr("id k").schema.json()
    )


def test_500_commits_read_touches_only_checkpoint_plus_tail(
    spark, tmp_path
):
    """The VERDICT r3 #1 'done' criterion: after 500+ delta commits,
    version resolution does no listing and manifest reconstruction
    reads at most _CHECKPOINT_INTERVAL (10) log entries."""
    root = str(tmp_path / "t")
    tbl = SnapshotTable(spark, root)
    schema = _schema_json(spark)
    files: list[dict] = []
    parent = None
    for i in range(503):
        files = files + [_entry(i)]
        if i % 37 == 36:  # sprinkle removals so deltas carry both kinds
            files = files[1:]
        parent = tbl._commit(
            {
                "op": "create" if parent is None else "append",
                "schema": schema,
                "files": list(files),
                "n_files": len(files),
                "n_rows": 10 * len(files),
            },
            expected_parent=parent,
        )
    assert parent == 503

    # a FRESH handle (cold cache) resolves + reconstructs cheaply
    counting = CountingFSBackend(str(tmp_path / "t" / "_snapshots"))
    cold = SnapshotTable(spark, root, backend=counting)
    assert cold.current_version() == 503
    assert counting.listings == 0, "pointer probe must replace listing"
    snap = cold._snapshot()
    assert len(snap["files"]) == len(files)
    assert [f["path"] for f in snap["files"]] == [
        f["path"] for f in files
    ]
    # tail above the v500 checkpoint is 3 commits; +1 for the target's
    # own metadata read
    assert counting.reads <= 10 + 2, f"too many log reads: {counting.reads}"
    assert counting.exist_probes <= 10, "probe window must stay bounded"

    # a mid-history version also reconstructs (checkpoint below + tail)
    counting2 = CountingFSBackend(str(tmp_path / "t" / "_snapshots"))
    cold2 = SnapshotTable(spark, root, backend=counting2)
    old = cold2._snapshot(455)
    assert old["version"] == 455
    assert counting2.reads <= 10 + 2


def test_delta_payloads_are_small_and_reconstruct(spark, tmp_path, monkeypatch):
    """On-disk commits after create carry add/remove, not the full
    manifest; reads still see the complete file list."""
    monkeypatch.setattr(snapshot_module, "_CHECKPOINT_INTERVAL", 5)
    df = spark.range(0, 100).selectExpr("id k")
    tbl = SnapshotTable.create(spark, str(tmp_path / "t"), df)
    for i in range(6):
        tbl.append(spark.range(100 * (i + 1), 100 * (i + 2)).selectExpr("id k"))
    raw_v3 = json.loads(tbl.backend.get("v00000003.json"))
    assert "files" not in raw_v3, "append commits must be deltas"
    assert raw_v3["add"], "delta must list the new files"
    assert tbl.backend.exists("ckpt-v00000005.parquet"), "interval checkpoint missing"
    assert tbl.read().count() == 700
    assert tbl.read(version=3).count() == 300  # time travel via replay
    # delete produces remove entries in the delta
    tbl.delete_where("k < 100")
    raw_v8 = json.loads(tbl.backend.get("v00000008.json"))
    assert raw_v8.get("remove"), "COW delete must record removed paths"
    assert tbl.read().count() == 600


def test_vacuum_checkpoints_oldest_retained(spark, tmp_path, monkeypatch):
    """Vacuum must leave every retained version reconstructible even
    though the delta commits below them are gone."""
    # interval high: NO periodic checkpoint before vacuum
    monkeypatch.setattr(snapshot_module, "_CHECKPOINT_INTERVAL", 100)
    df = spark.range(0, 50).selectExpr("id k")
    tbl = SnapshotTable.create(spark, str(tmp_path / "t"), df)
    for i in range(7):
        tbl.append(spark.range(50 * (i + 1), 50 * (i + 2)).selectExpr("id k"))
    res = tbl.vacuum(keep_last=3)
    assert res["removed_snapshots"] == 5
    assert tbl.versions() == [6, 7, 8]
    assert tbl.backend.exists("ckpt-v00000006.parquet"), "oldest retained needs a base"
    for v, n in [(6, 300), (7, 350), (8, 400)]:
        assert tbl.read(version=v).count() == n
    assert tbl.current_version() == 8
    # a later append + vacuum cycle keeps working
    tbl.append(spark.range(400, 450).selectExpr("id k"))
    assert tbl.read().count() == 450


def test_inmemory_backend_full_stack(spark, tmp_path):
    """The whole table protocol (create/append/delete/read/meta) over
    the conditional-PUT fake — proves no code path secretly assumes a
    POSIX log directory."""
    be = InMemoryCommitBackend()
    df = spark.range(0, 200).selectExpr("id k", "id % 4 bucket")
    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), df, backend=be,
        extra_meta={"stream_watermarks": {"a": 1}},
    )
    tbl.append(spark.range(200, 300).selectExpr("id k", "id % 4 bucket"))
    tbl.delete_where("bucket = 3")
    got = tbl.read()
    assert got.count() == 225
    assert got.where(F.col("bucket") == 3).count() == 0
    assert tbl.meta("stream_watermarks") == {"a": 1}
    assert tbl.read(version=1).count() == 200  # time travel
    assert tbl.versions() == [1, 2, 3]


def test_inmemory_conditional_put_single_winner():
    be = InMemoryCommitBackend()
    wins = []

    def _try(tag):
        if be.put_if_absent("v00000007.json", tag.encode()):
            wins.append(tag)

    ts = [threading.Thread(target=_try, args=(f"w{i}",)) for i in range(8)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert len(wins) == 1
    assert be.get("v00000007.json") == wins[0].encode()
    assert be.put_attempts == 8


def test_lost_race_retries_through_fake_backend(spark, tmp_path):
    """The worst-case interleaving: a rival lands the version AFTER we
    read the parent but BEFORE our conditional PUT. The loser must see
    CommitConflictError and with_retry must converge with both
    writers' rows present."""
    be = InMemoryCommitBackend()
    base = spark.range(0, 10).selectExpr("id k")
    tbl = SnapshotTable.create(spark, str(tmp_path / "t"), base, backend=be)

    rival_rows = spark.range(1000, 1010).selectExpr("id k")

    def _rival():
        # same backend, separate handle — commits v2 first
        rv = SnapshotTable(spark, str(tmp_path / "t"), backend=be)
        rv.append(rival_rows)

    be.race_hook = _rival  # fires inside OUR put_if_absent, pre-PUT
    with pytest.raises(CommitConflictError):
        tbl.append(spark.range(2000, 2010).selectExpr("id k"))
    # the optimistic retry path recovers on the new parent
    tbl.with_retry("append", spark.range(2000, 2010).selectExpr("id k"))
    got = tbl.read()
    assert got.count() == 30
    assert got.where(F.col("k") >= 1000).where(F.col("k") < 1010).count() == 10
    assert got.where(F.col("k") >= 2000).count() == 10


def test_localfs_commit_leaves_no_temp_or_partial(tmp_path):
    be = LocalFSCommitBackend(str(tmp_path / "log"))
    assert be.put_if_absent("v00000001.json", b'{"op": "create"}')
    assert not be.put_if_absent("v00000001.json", b'{"op": "rival"}')  # lost race
    names = os.listdir(str(tmp_path / "log"))
    assert names == ["v00000001.json"], names
    assert be.get("v00000001.json") == b'{"op": "create"}'


def test_append_expected_parent_detects_interleaved_commit(
    spark, tmp_path
):
    """The streaming-sink TOCTOU fix: an append pinned to a parent
    snapshot fails if any commit interleaved, so watermark metadata
    can never be derived from a snapshot other than the CAS parent."""
    df = spark.range(0, 20).selectExpr("id k")
    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), df,
        extra_meta={"stream_watermarks": {"a": 1}},
    )
    parent = tbl.current_version()
    # rival app advances its own lane
    tbl.append(
        df.limit(1),
        extra_meta={"stream_watermarks": {"a": 1, "b": 7}},
    )
    with pytest.raises(CommitConflictError):
        tbl.append(
            df.limit(1),
            extra_meta={"stream_watermarks": {"a": 2}},
            expected_parent=parent,
        )
    # the rival's watermark survived (no wholesale overwrite)
    assert tbl.meta("stream_watermarks") == {"a": 1, "b": 7}


class _HookableFSBackend(LocalFSCommitBackend):
    """LocalFS with the InMemory backend's race_hook so the racing-
    writers interleaving can be driven identically on all backends."""

    race_hook = None

    def put_if_absent(self, name, data):
        hook = self.race_hook
        if hook is not None:
            self.race_hook = None
            hook()
        return super().put_if_absent(name, data)


def _rival_append(rv, rows):
    rv.append(rows)


def _rival_append_twice_and_vacuum(rv, rows):
    """Two commits, then a vacuum with the concurrent-writer guard: the
    version after our parent must survive it, or our link would publish
    that number again below the head."""
    rv.append(rows.where("k % 2 = 0"))
    rv.append(rows.where("k % 2 = 1"))
    rv.vacuum(keep_last=1, min_file_age_seconds=3600)


def _localfs(p):
    return _HookableFSBackend(str(p / "log"))


def _inmemory(p):
    return InMemoryCommitBackend()


@pytest.mark.parametrize(
    "make_backend, rival, head",
    [
        (_localfs, _rival_append, 3),
        (_inmemory, _rival_append, 3),
        (_localfs, _rival_append_twice_and_vacuum, 4),
        (_inmemory, _rival_append_twice_and_vacuum, 4),
    ],
    ids=["localfs", "inmemory", "localfs_vacuum", "inmemory_vacuum"],
)
def test_racing_writers_protocol_all_backends(
    spark, tmp_path, make_backend, rival, head
):
    """The worst-case interleaving (rival lands the version AFTER we
    read the parent, BEFORE our conditional PUT) on every backend:
    POSIX link-CAS and the in-memory create-if-absent fake.
    The loser sees CommitConflictError; with_retry converges with both
    writers' rows present; no version is lost or duplicated."""
    be = make_backend(tmp_path)
    base = spark.range(0, 10).selectExpr("id k")
    tbl = SnapshotTable.create(spark, str(tmp_path / "t"), base, backend=be)

    rival_rows = spark.range(1000, 1010).selectExpr("id k")

    def _rival():
        rival(SnapshotTable(spark, str(tmp_path / "t"), backend=be), rival_rows)

    be.race_hook = _rival
    with pytest.raises(CommitConflictError):
        tbl.append(spark.range(2000, 2010).selectExpr("id k"))
    tbl.with_retry("append", spark.range(2000, 2010).selectExpr("id k"))
    got = tbl.read()
    assert got.count() == 30
    assert got.where((F.col("k") >= 1000) & (F.col("k") < 1010)).count() == 10
    assert got.where(F.col("k") >= 2000).count() == 10
    assert tbl.versions() == list(range(1, head + 1))


def _ktable(lo: int, tag: str):
    return pa.table(
        {"k": pa.array(range(lo, lo + 5), pa.int64()), "tag": [tag] * 5}
    )


def test_stale_parent_conflicts_after_guarded_vacuum(spark, tmp_path):
    """Writer A holds v1; writer B appends twice and vacuums with the
    concurrent-writer guard. A's append on parent 1 must raise, not
    publish v2 again below the head, where no reader would see it."""
    a = SnapshotTable.create(spark, str(tmp_path / "t"), _ktable(0, "a"))
    b = SnapshotTable(spark, str(tmp_path / "t"))
    b.append(_ktable(10, "b"))
    b.append(_ktable(20, "b"))
    b.vacuum(keep_last=1, min_file_age_seconds=3600)
    with pytest.raises(CommitConflictError):
        a.append(_ktable(30, "a"), expected_parent=1)
    assert a.versions() == [1, 2, 3]
    assert a.read().count() == 15


def test_log_object_names_on_disk(spark, tmp_path):
    """The log's names on disk: a create, 11 appends and a delete make
    v1..v13 with a checkpoint at v10; ``vacuum(keep_last=2)`` keeps v12
    and v13, checkpoints v12 (the oldest kept), drops the v10 one and
    points ``_last_checkpoint`` at v12. No temp file is left."""
    tbl = SnapshotTable.create(spark, str(tmp_path / "t"), _ktable(0, "c0"))
    for i in range(1, 12):
        tbl.append(_ktable(10 * i, f"c{i}"))
    tbl.delete_where([("tag", "=", "c0")])
    log = tmp_path / "t" / "_snapshots"
    assert sorted(os.listdir(log)) == [
        "_last_checkpoint",
        "ckpt-v00000010.parquet",
        *[f"v{v:08d}.json" for v in range(1, 14)],
    ]
    tbl.vacuum(keep_last=2)
    assert sorted(os.listdir(log)) == [
        "_last_checkpoint",
        "ckpt-v00000012.parquet",
        "v00000012.json",
        "v00000013.json",
    ]
    assert json.loads((log / "_last_checkpoint").read_text()) == {"version": 12}
    assert SnapshotTable(spark, str(tmp_path / "t")).read().count() == 55


def test_current_version_from_listing_after_vacuum_without_pointer(
    spark, tmp_path, monkeypatch
):
    """After vacuum the log no longer starts at v1, and with the
    ``_last_checkpoint`` pointer gone a cold reader must resolve the
    head from the version listing and still read every row."""
    monkeypatch.setattr(snapshot_module, "_CHECKPOINT_INTERVAL", 2)
    df = spark.range(0, 40).selectExpr("id k", "id % 4 bucket")
    tbl = SnapshotTable.create(spark, str(tmp_path / "t"), df)
    for lo in range(40, 100, 20):
        tbl.append(
            spark.range(lo, lo + 20).selectExpr("id k", "id % 4 bucket")
        )
    head = tbl.current_version()
    tbl.vacuum(keep_last=2)
    (tmp_path / "t" / "_snapshots" / "_last_checkpoint").unlink()
    cold = SnapshotTable(spark, str(tmp_path / "t"))
    assert cold._pointer_hint() is None
    assert cold.versions() == [head - 1, head]
    assert cold.current_version() == head
    assert cold.read().count() == 100


def test_bench_driver_memory_sizing_helpers():
    """Round 7 (VERDICT r6 #2): bench.py must size its driver JVM to
    the box and parse memory specs robustly — the 8g default OOM'd
    the 38.4M-row sweep point and cost round 6 its entire bench
    artifact."""
    import bench

    assert bench._parse_mem_gb("8g") == 8.0
    assert bench._parse_mem_gb("64G") == 64.0
    assert bench._parse_mem_gb("8192m") == 8.0
    assert bench._parse_mem_gb("1048576k") == 1.0
    assert bench._parse_mem_gb("1t") == 1024.0
    assert bench._parse_mem_gb("junk") == 8.0
    gb = bench._default_driver_memory_gb()
    assert 8 <= gb <= 64


def test_bench_gate_line_sheds_queries_never_crashes():
    """Round 9 (VERDICT r8 #7 + ADVICE): gate_line must keep its
    <1,000-char stdout-tail contract by dropping query entries, not by
    assert-crashing a completed bench run (the assert was stripped
    under -O and, when it fired, left the 7,800-char full-payload line
    as the stdout tail). Also: a zero b2 denominator emits an explicit
    null ratio instead of silently omitting the key."""
    import json

    import bench

    # 200 metrics, every one matching the recorded-query prefix sets
    timings = {k: 1.2345678 for k in bench.GATE_QUERY_KEYS}
    timings.update({f"b99_extra_metric_{i}_sec": 0.123 for i in range(200)})
    timings["b2_spark_batched_per_query"] = 0.01
    timings["b2_numpy_loop_per_query"] = 0.0  # very fast machine
    line = bench.gate_line(timings, total=9.9, sf=0.1, cpus=32)
    assert len(line) < 1000
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total_sec"
    assert parsed["gates"]["b2_ratio"] is None  # explicit, not omitted
    assert parsed["n_metrics"] == len(timings)

    # normal machine: ratio computed
    timings["b2_numpy_loop_per_query"] = 0.32
    parsed = json.loads(bench.gate_line(timings, 9.9, 0.1, 32))
    assert parsed["gates"]["b2_ratio"] == round(0.01 / 0.32, 4)


def test_bench_gate_line_sheds_gates_after_queries():
    """ADVICE r9: GATE_RATIO_KEYS grows every round, so the <1,000-char
    stdout-tail budget must hold even once every query entry is shed —
    the loop now sheds gate entries too, keeping b2_ratio (inserted
    first) as the last gate standing."""
    import json

    import bench

    timings = {k: 1.2345678 for k in bench.GATE_QUERY_KEYS}
    timings["b2_spark_batched_per_query"] = 0.01
    timings["b2_numpy_loop_per_query"] = 0.32
    # simulate many rounds of gate growth: swell the gate dict itself
    for k in list(bench.GATE_RATIO_KEYS):
        timings[k] = 1.0
    extra = tuple(f"b{90 + i}_future_round_gate_ratio_{i}" for i in range(60))
    old = bench.GATE_RATIO_KEYS
    bench.GATE_RATIO_KEYS = old + extra
    try:
        for k in extra:
            timings[k] = 0.123456
        line = bench.gate_line(timings, total=9.9, sf=0.1, cpus=32)
    finally:
        bench.GATE_RATIO_KEYS = old
    assert len(line) < 1000
    parsed = json.loads(line)
    # headline gate survives every shed round
    assert parsed["gates"]["b2_ratio"] == round(0.01 / 0.32, 4)


def test_posix_scratch_dir_rejects_object_store_roots(spark, monkeypatch):
    """ADVICE r9: SnapshotTable's commit backend is POSIX fsync+link;
    with NVDB_SCRATCH_DIR pointing at hdfs://s3:// the snapshot
    queries must fail fast at path resolution with an actionable
    message, not deep inside a commit — and NVDB_POSIX_SCRATCH_DIR
    routes snapshot roots to a POSIX mount independently."""
    import pytest

    from nebuia_vector_db_spark.session import posix_scratch_dir

    monkeypatch.setenv("NVDB_SCRATCH_DIR", "s3://bucket/scratch")
    with pytest.raises(ValueError, match="POSIX"):
        posix_scratch_dir(spark, "snap")
    monkeypatch.setenv("NVDB_POSIX_SCRATCH_DIR", "/mnt/shared_nfs")
    p = posix_scratch_dir(spark, "snap")
    assert p.startswith("/mnt/shared_nfs/_scratch/snap_")
    monkeypatch.delenv("NVDB_SCRATCH_DIR")
    monkeypatch.delenv("NVDB_POSIX_SCRATCH_DIR")
    assert posix_scratch_dir(spark, "snap").startswith("/")


def test_bench_compare_skips_derived_throughput_rows():
    """VERDICT r9 task #5: *_per_sec / *_fps rows are the inverse of a
    timed sibling — flagging both double-reports one mover. Only the
    _sec row flags; pinned counts still hard-flag."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import bench_compare as bc

    d = bc.diff(
        {"a_sec": 2.0, "a_frames_per_sec": 50.0, "a_frames_total": 100},
        {"a_sec": 1.0, "a_frames_per_sec": 100.0, "a_frames_total": 100},
    )
    assert "a_sec" in d["timed_moved"]
    assert "a_frames_per_sec" not in d["timed_moved"]
    d2 = bc.diff({"n_total": 4}, {"n_total": 5})
    assert d2["pinned_moved"] == {"n_total": [5, 4]}
