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
import threading

import pytest
from pyspark.sql import functions as F

from nebuia_vector_db_spark.sources.commit_backend import (
    CommitBackend,
    LocalFSCommitBackend,
)
from nebuia_vector_db_spark.sources.snapshot import (
    CommitConflictError,
    SnapshotTable,
)


class InMemoryCommitBackend(CommitBackend):
    """In-memory create-if-absent fake: ``try_commit`` atomically
    succeeds for exactly one caller per version. Used by the protocol
    tests to prove the commit logic does not depend on the
    filesystem — including the lost-race path. ``race_hook``, when
    set, runs inside ``try_commit`` *before* the conditional put (with
    the lock released) so tests can interleave a rival commit at the
    worst possible moment."""

    def __init__(self):
        self._lock = threading.Lock()
        self._versions: dict[int, str] = {}
        self._checkpoints: dict[int, bytes] = {}
        self._pointer: str | None = None
        self.race_hook = None
        self.put_attempts = 0

    def try_commit(self, version: int, payload: str) -> bool:
        hook = self.race_hook
        if hook is not None:
            self.race_hook = None  # fire once
            hook()
        with self._lock:
            self.put_attempts += 1
            if version in self._versions:
                return False
            self._versions[version] = payload
            return True

    def read_version(self, version: int) -> str:
        with self._lock:
            if version not in self._versions:
                raise FileNotFoundError(f"version {version}")
            return self._versions[version]

    def version_exists(self, version: int) -> bool:
        with self._lock:
            return version in self._versions

    def list_versions(self) -> list[int]:
        with self._lock:
            return sorted(self._versions)

    def delete_version(self, version: int) -> None:
        with self._lock:
            del self._versions[version]

    def write_checkpoint(self, version: int, data: bytes) -> None:
        with self._lock:
            self._checkpoints.setdefault(version, data)

    def read_checkpoint(self, version: int) -> bytes:
        with self._lock:
            if version not in self._checkpoints:
                raise FileNotFoundError(f"checkpoint {version}")
            return self._checkpoints[version]

    def checkpoint_exists(self, version: int) -> bool:
        with self._lock:
            return version in self._checkpoints

    def list_checkpoints(self) -> list[int]:
        with self._lock:
            return sorted(self._checkpoints)

    def delete_checkpoint(self, version: int) -> None:
        with self._lock:
            self._checkpoints.pop(version, None)

    def write_pointer(self, payload: str) -> None:
        with self._lock:
            self._pointer = payload

    def read_pointer(self) -> str | None:
        with self._lock:
            return self._pointer


class CountingFSBackend(LocalFSCommitBackend):
    """LocalFS backend instrumented with per-operation counters so
    tests can assert how much log I/O a read actually performs."""

    def __init__(self, log_dir):
        super().__init__(log_dir)
        self.reads = 0
        self.listings = 0
        self.exist_probes = 0

    def read_version(self, version):
        self.reads += 1
        return super().read_version(version)

    def list_versions(self):
        self.listings += 1
        return super().list_versions()

    def version_exists(self, version):
        self.exist_probes += 1
        return super().version_exists(version)


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
    reads at most checkpoint_interval log entries."""
    root = str(tmp_path / "t")
    tbl = SnapshotTable(spark, root, checkpoint_interval=10)
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


def test_delta_payloads_are_small_and_reconstruct(spark, tmp_path):
    """On-disk commits after create carry add/remove, not the full
    manifest; reads still see the complete file list."""
    df = spark.range(0, 100).selectExpr("id k")
    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), df, checkpoint_interval=5
    )
    for i in range(6):
        tbl.append(spark.range(100 * (i + 1), 100 * (i + 2)).selectExpr("id k"))
    raw_v3 = json.loads(tbl.backend.read_version(3))
    assert "files" not in raw_v3, "append commits must be deltas"
    assert raw_v3["add"], "delta must list the new files"
    assert tbl.backend.checkpoint_exists(5), "interval checkpoint missing"
    assert tbl.read().count() == 700
    assert tbl.read(version=3).count() == 300  # time travel via replay
    # delete produces remove entries in the delta
    tbl.delete_where("k < 100")
    raw_v8 = json.loads(tbl.backend.read_version(8))
    assert raw_v8.get("remove"), "COW delete must record removed paths"
    assert tbl.read().count() == 600


def test_vacuum_checkpoints_oldest_retained(spark, tmp_path):
    """Vacuum must leave every retained version reconstructible even
    though the delta commits below them are gone."""
    df = spark.range(0, 50).selectExpr("id k")
    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), df, checkpoint_interval=100
    )  # interval high: NO periodic checkpoint before vacuum
    for i in range(7):
        tbl.append(spark.range(50 * (i + 1), 50 * (i + 2)).selectExpr("id k"))
    res = tbl.vacuum(keep_last=3)
    assert res["removed_snapshots"] == 5
    assert tbl.versions() == [6, 7, 8]
    assert tbl.backend.checkpoint_exists(6), "oldest retained needs a base"
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
    assert be.list_versions() == [1, 2, 3]


def test_inmemory_conditional_put_single_winner():
    be = InMemoryCommitBackend()
    wins = []

    def _try(tag):
        if be.try_commit(7, tag):
            wins.append(tag)

    ts = [threading.Thread(target=_try, args=(f"w{i}",)) for i in range(8)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert len(wins) == 1
    assert be.read_version(7) == wins[0]
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

    be.race_hook = _rival  # fires inside OUR try_commit, pre-PUT
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
    assert be.try_commit(1, '{"op": "create"}')
    assert not be.try_commit(1, '{"op": "rival"}')  # lost race
    import os

    names = os.listdir(str(tmp_path / "log"))
    assert names == ["v00000001.json"], names
    assert be.read_version(1) == '{"op": "create"}'


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

    def try_commit(self, version, payload):
        hook = self.race_hook
        if hook is not None:
            self.race_hook = None
            hook()
        return super().try_commit(version, payload)


@pytest.mark.parametrize(
    "make_backend",
    [
        lambda p: _HookableFSBackend(str(p / "log")),
        lambda p: InMemoryCommitBackend(),
    ],
    ids=["localfs", "inmemory"],
)
def test_racing_writers_protocol_all_backends(spark, tmp_path, make_backend):
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
        rv = SnapshotTable(spark, str(tmp_path / "t"), backend=be)
        rv.append(rival_rows)

    be.race_hook = _rival
    with pytest.raises(CommitConflictError):
        tbl.append(spark.range(2000, 2010).selectExpr("id k"))
    tbl.with_retry("append", spark.range(2000, 2010).selectExpr("id k"))
    got = tbl.read()
    assert got.count() == 30
    assert got.where((F.col("k") >= 1000) & (F.col("k") < 1010)).count() == 10
    assert got.where(F.col("k") >= 2000).count() == 10
    assert be.list_versions() == [1, 2, 3]


def test_current_version_from_listing_after_vacuum_without_pointer(
    spark, tmp_path
):
    """After vacuum the log no longer starts at v1, and with the
    ``_last_checkpoint`` pointer gone a cold reader must resolve the
    head from the version listing and still read every row."""
    df = spark.range(0, 40).selectExpr("id k", "id % 4 bucket")
    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), df, checkpoint_interval=2
    )
    for lo in range(40, 100, 20):
        tbl.append(
            spark.range(lo, lo + 20).selectExpr("id k", "id % 4 bucket")
        )
    head = tbl.current_version()
    tbl.vacuum(keep_last=2)
    (tmp_path / "t" / "_snapshots" / "_last_checkpoint").unlink()
    cold = SnapshotTable(spark, str(tmp_path / "t"))
    assert cold.backend.read_pointer() is None
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
