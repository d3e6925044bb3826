"""Host-side probes: the run environment, memory and CPU steal.

Everything here reads ``/proc`` or the filesystem; nothing touches the
program under test.
"""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import threading
import time


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (jiffies)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_fraction(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    :func:`cpu_times` readings (field 8 of the cpu line)."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # guest time is already inside user/nice
    return delta[7] / total if total > 0 and len(delta) > 7 else 0.0


def environment(root: str, seed: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    commit = None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"],
            cwd=root,
            capture_output=True,
            text=True,
            timeout=10,
        )
        top, _, head = out.stdout.strip().partition("\n")
        # a checkout without .git may still sit inside another repository
        if out.returncode == 0 and os.path.realpath(top) == os.path.realpath(root):
            commit = head
    except (OSError, subprocess.TimeoutExpired):
        pass
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
        "git_commit": commit,
        "seed": seed,
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root_pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until every pid has exited; kill what is left at ``timeout``."""
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    deadline = time.monotonic() + 5
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)


def tree_cpu_seconds(root_pid: int) -> float:
    """CPU time (user + system) used so far by ``root_pid`` and all its
    descendants, including children they have already reaped, so a
    worker that exits keeps its time in its parent's total. Time the
    hypervisor steals is not in it."""
    total = 0
    for pid in [root_pid, *descendants(root_pid)]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited between listing and reading
        # utime, stime, cutime, cstime: fields 14-17 of the stat line
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    among the processes mapping it (forked Python workers share most of
    their pages with the daemon they came from)."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_pss_bytes(root_pid: int) -> int:
    """Memory of ``root_pid`` and all its descendants: the driver
    Python, the JVM it launched and the JVM's Python workers."""
    total = 0
    for pid in [root_pid, *descendants(root_pid)]:
        try:
            total += _pss_bytes(pid)
        except OSError:
            continue  # exited between listing and reading
    return total


class MemorySampler:
    """Samples :func:`tree_pss_bytes` of this process every ``period``
    seconds on a daemon thread; ``peak`` is the largest sample."""

    def __init__(self, period: float = 0.25) -> None:
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_pss_bytes(pid))
            if self._stop.wait(self.period):
                return

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def __exit__(self, *exc) -> None:
        self.stop()


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total
