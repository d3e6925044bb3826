"""Commit backends for the SnapshotTable transaction log.

The snapshot protocol (sources/snapshot.py) needs exactly one
primitive from storage: an ATOMIC "create this log object iff it does
not exist" (the compare-and-swap that serializes writers). Everything
else — reads, listings, checkpoint pointers — is plain object I/O.
This module isolates that surface behind :class:`CommitBackend`.
The warehouse is a POSIX path end to end (data files are written,
listed and sized with ``os.*``), so the log has one backend,
:class:`LocalFSCommitBackend`: publish is write-temp + fsync +
``os.link``, so a version file appears fully written or not at all,
and a writer crash leaves only an orphan temp file. Tests substitute
fakes through ``SnapshotTable(backend=...)``.

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
    """Storage adapter for the snapshot log. All paths are version
    numbers or well-known names; payloads are opaque strings/bytes."""

    # ---- the CAS ----------------------------------------------------
    def try_commit(self, version: int, payload: str) -> bool:
        """Atomically publish ``payload`` as snapshot ``version``.
        Returns False (changing nothing) if that version already
        exists — the lost-race signal. The published object must be
        complete: readers may fetch it the instant this returns."""
        raise NotImplementedError

    # ---- reads ------------------------------------------------------
    def read_version(self, version: int) -> str:
        """Raises FileNotFoundError if absent."""
        raise NotImplementedError

    def version_exists(self, version: int) -> bool:
        raise NotImplementedError

    def list_versions(self) -> list[int]:
        """All committed versions, ascending (full listing — the slow
        path; hot readers resolve via the checkpoint pointer)."""
        raise NotImplementedError

    def delete_version(self, version: int) -> None:
        raise NotImplementedError

    # ---- checkpoints -------------------------------------------------
    def write_checkpoint(self, version: int, data: bytes) -> None:
        raise NotImplementedError

    def read_checkpoint(self, version: int) -> bytes:
        raise NotImplementedError

    def checkpoint_exists(self, version: int) -> bool:
        raise NotImplementedError

    def list_checkpoints(self) -> list[int]:
        raise NotImplementedError

    def delete_checkpoint(self, version: int) -> None:
        raise NotImplementedError

    def write_pointer(self, payload: str) -> None:
        """Atomically overwrite the ``_last_checkpoint`` pointer.
        Last-writer-wins is safe: the pointer is a HINT (any committed
        checkpoint ≤ current works); correctness never depends on it."""
        raise NotImplementedError

    def read_pointer(self) -> str | None:
        raise NotImplementedError


def _vname(version: int) -> str:
    return f"v{version:08d}.json"


def _ckpt_name(version: int) -> str:
    return f"ckpt-v{version:08d}.parquet"


class LocalFSCommitBackend(CommitBackend):
    """POSIX log directory. The CAS is ``os.link(tmp, target)``:
    hard-linking an already-fsynced temp file either creates the
    target with its full content in one atomic metadata operation or
    fails with EEXIST — no window where a partial version file is
    visible (the defect the previous ``open(target, 'x')`` + write
    protocol had)."""

    POINTER = "_last_checkpoint"

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

    def _link(self, name: str, data: bytes) -> bool:
        """Publish ``data`` as ``name`` iff absent (the atomic publish +
        CAS); False when ``name`` already exists."""
        tmp = self._write_tmp(data)
        try:
            os.link(tmp, self._path(name))
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)
        return True

    def _numbered(self, prefix: str, suffix: str) -> list[int]:
        """The numbers of the log entries named ``prefix<n>suffix``."""
        if not os.path.isdir(self.log_dir):
            return []
        out = []
        for name in os.listdir(self.log_dir):
            if name.startswith(prefix) and name.endswith(suffix):
                try:
                    out.append(int(name[len(prefix) : -len(suffix)]))
                except ValueError:
                    pass
        return sorted(out)

    def _fsync_dir(self) -> None:
        try:
            fd = os.open(self.log_dir, os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)
        except OSError:
            pass  # durability best-effort on exotic filesystems

    def try_commit(self, version: int, payload: str) -> bool:
        if not self._link(_vname(version), payload.encode()):
            return False
        self._fsync_dir()
        return True

    def read_version(self, version: int) -> str:
        with open(self._path(_vname(version))) as f:
            return f.read()

    def version_exists(self, version: int) -> bool:
        return os.path.exists(self._path(_vname(version)))

    def list_versions(self) -> list[int]:
        return self._numbered("v", ".json")

    def delete_version(self, version: int) -> None:
        os.remove(self._path(_vname(version)))

    def write_checkpoint(self, version: int, data: bytes) -> None:
        # a lost link is the same immutable content: first writer won
        self._link(_ckpt_name(version), data)

    def read_checkpoint(self, version: int) -> bytes:
        with open(self._path(_ckpt_name(version)), "rb") as f:
            return f.read()

    def checkpoint_exists(self, version: int) -> bool:
        return os.path.exists(self._path(_ckpt_name(version)))

    def list_checkpoints(self) -> list[int]:
        return self._numbered("ckpt-v", ".parquet")

    def delete_checkpoint(self, version: int) -> None:
        os.remove(self._path(_ckpt_name(version)))

    def write_pointer(self, payload: str) -> None:
        os.replace(self._write_tmp(payload.encode()), self._path(self.POINTER))

    def read_pointer(self) -> str | None:
        try:
            with open(self._path(self.POINTER)) as f:
                return f.read()
        except FileNotFoundError:
            return None
