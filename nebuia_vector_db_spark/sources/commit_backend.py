"""Commit backends for the SnapshotTable transaction log.

The log (sources/snapshot.py) is a flat set of named objects: version
files, manifest checkpoints and the ``_last_checkpoint`` pointer. The
log picks every name and payload itself, so storage only has to offer
six name-keyed operations, the shape an object store already has:
:meth:`~CommitBackend.put_if_absent` (the atomic "create iff absent"
that serializes writers), :meth:`~CommitBackend.replace`,
:meth:`~CommitBackend.get`, :meth:`~CommitBackend.exists`,
:meth:`~CommitBackend.list` and :meth:`~CommitBackend.delete`.
The warehouse is a POSIX path end to end (data files are written,
listed and sized with ``os.*``), so the log has one backend,
:class:`LocalFSCommitBackend`: publish is write-temp + fsync +
``os.link``, so an object appears fully written or not at all, and a
writer crash leaves only an orphan temp file. Tests substitute fakes
through ``SnapshotTable(backend=...)``.

Object storage would have to move the data plane and the log
together; until then no object-store adapter is kept here.

The DATA plane (parquet files) is not the backend's business: data
files are immutable and written before the snapshot referencing them
exists, so they need no atomicity from storage.
"""

from __future__ import annotations

import os
import uuid


class CommitBackend:
    """Storage adapter for the snapshot log: six operations on opaque
    ``bytes`` objects keyed by name."""

    def put_if_absent(self, name: str, data: bytes) -> bool:
        """Atomically publish ``data`` as ``name``. Returns False
        (changing nothing) if ``name`` already exists — the lost-race
        signal. The published object must be complete: readers may
        fetch it the instant this returns."""
        raise NotImplementedError

    def replace(self, name: str, data: bytes) -> None:
        """Atomically overwrite ``name`` (last writer wins)."""
        raise NotImplementedError

    def get(self, name: str) -> bytes:
        """Raises FileNotFoundError if ``name`` is absent."""
        raise NotImplementedError

    def exists(self, name: str) -> bool:
        raise NotImplementedError

    def list(self) -> list[tuple[str, float]]:
        """Every object as ``(name, modification time)`` (a full
        listing — the slow path; hot readers resolve the head from the
        checkpoint pointer)."""
        raise NotImplementedError

    def delete(self, name: str) -> None:
        raise NotImplementedError


class LocalFSCommitBackend(CommitBackend):
    """POSIX log directory. The CAS is ``os.link(tmp, target)``:
    hard-linking an already-fsynced temp file either creates the
    target with its full content in one atomic metadata operation or
    fails with EEXIST — no window where a partial version file is
    visible (the defect the previous ``open(target, 'x')`` + write
    protocol had)."""

    def __init__(self, log_dir: str):
        self.log_dir = log_dir

    def _path(self, name: str) -> str:
        return os.path.join(self.log_dir, name)

    def _write_tmp(self, data: bytes) -> str:
        """Write ``data`` to a fresh, fsynced temp file in the log
        directory and return its path."""
        os.makedirs(self.log_dir, exist_ok=True)
        tmp = self._path(f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        return tmp

    def _fsync_dir(self) -> None:
        try:
            fd = os.open(self.log_dir, os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)
        except OSError:
            pass  # durability best-effort on exotic filesystems

    def put_if_absent(self, name: str, data: bytes) -> bool:
        tmp = self._write_tmp(data)
        try:
            os.link(tmp, self._path(name))
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)
        self._fsync_dir()
        return True

    def replace(self, name: str, data: bytes) -> None:
        os.replace(self._write_tmp(data), self._path(name))

    def get(self, name: str) -> bytes:
        with open(self._path(name), "rb") as f:
            return f.read()

    def exists(self, name: str) -> bool:
        return os.path.exists(self._path(name))

    def list(self) -> list[tuple[str, float]]:
        if not os.path.isdir(self.log_dir):
            return []
        out = []
        for entry in os.scandir(self.log_dir):
            if entry.name.startswith(".tmp-"):
                continue  # another writer's unpublished object
            try:
                out.append((entry.name, entry.stat().st_mtime))
            except FileNotFoundError:
                pass  # deleted since the listing (a racing vacuum)
        return out

    def delete(self, name: str) -> None:
        os.remove(self._path(name))
