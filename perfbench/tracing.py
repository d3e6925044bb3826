"""Spans and counters for the traced pass.

A span has a name (``<layer>.<what>``), start, end, parent span and
request id. Spans live in memory and are written out once, at the end
of the run. A layer's self time is its spans' durations minus the part
covered by child spans. The untraced pass uses :data:`OFF`, whose
``span`` is a shared no-op context.

Spans are placed in the benchmark's own code around each call into a
layer. Calls the engine makes into ``sources.snapshot`` are reached by
wrapping ``SnapshotTable`` methods for the duration of the traced
window (:func:`instrument_snapshot`); the program itself is untouched.
Spark scheduler work is counted per request through job groups and the
status tracker (:class:`JobCounter`).
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.request: int | None = None
        self.enabled = True
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "request": self.request,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, n: float = 1.0) -> None:
        if self.enabled:
            self.counts[name] += n

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer (the span-name prefix)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            out[layer] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class _Off:
    """The untraced pass: a span costs one call."""

    _null = contextlib.nullcontext()

    def span(self, name: str, **attrs):
        return self._null


OFF = _Off()


@contextlib.contextmanager
def instrument_snapshot(tracer: Tracer):
    """Wrap the SnapshotTable calls the engine makes: ``with_retry``
    (one commit, retries included) as ``snapshot.commit``, ``read`` as
    ``snapshot.read_plan``, and each attempt of a mutating op as a
    count, so retries = attempts - commits."""
    from nebuia_vector_db_spark.sources.snapshot import SnapshotTable

    orig = {n: getattr(SnapshotTable, n) for n in ("with_retry", "read", "append", "delete_where")}

    def with_retry(self, op, *a, **kw):
        tracer.count("snapshot.commits")
        with tracer.span("snapshot.commit", op=op):
            return orig["with_retry"](self, op, *a, **kw)

    def read(self, *a, **kw):
        with tracer.span("snapshot.read_plan"):
            return orig["read"](self, *a, **kw)

    def attempt(name):
        def wrapped(self, *a, **kw):
            tracer.count("snapshot.commit_attempts")
            return orig[name](self, *a, **kw)

        return wrapped

    SnapshotTable.with_retry = with_retry
    SnapshotTable.read = read
    SnapshotTable.append = attempt("append")
    SnapshotTable.delete_where = attempt("delete_where")
    try:
        yield
    finally:
        for n, f in orig.items():
            setattr(SnapshotTable, n, f)


class JobCounter:
    """Spark jobs, stages and tasks per request, by job group.

    Each traced request runs under its own job group; the status
    tracker is read once at the end of the window, after the listener
    bus has caught up, so reading it adds nothing to request time."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.groups: list[tuple[str, str]] = []  # (group, op)

    @contextlib.contextmanager
    def request(self, rid: int, op: str):
        group = f"perfbench-{rid}"
        self.groups.append((group, op))
        self.sc.setJobGroup(group, op)
        try:
            yield
        finally:
            self.sc.setJobGroup("perfbench-idle", "idle")

    def totals(self) -> tuple[dict[str, dict[str, float]], int]:
        """({op: {jobs, stages, tasks, requests}}, failed tasks)."""
        time.sleep(0.5)  # let the listener bus drain
        st = self.sc.statusTracker()
        per_op: dict[str, dict[str, float]] = defaultdict(
            lambda: {"jobs": 0, "stages": 0, "tasks": 0, "requests": 0}
        )
        failed = 0
        for group, op in self.groups:
            acc = per_op[op]
            acc["requests"] += 1
            for jid in st.getJobIdsForGroup(group):
                acc["jobs"] += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    stage = st.getStageInfo(sid)
                    if stage is None:
                        continue
                    acc["stages"] += 1
                    acc["tasks"] += stage.numTasks
                    failed += stage.numFailedTasks
        return dict(per_op), failed
