"""Per-process memory and GEMM work of perfbench's ``batch_knn``.

    python tools/worker_pss.py [--seed 1] [--batches 4]

Runs the ``batch_knn`` workload of ``perfbench/workloads.py`` (its
full size, unchanged) in this process: one set-up, including its
warm-up batch, then ``--batches`` query batches through
``knn_join(method="arrow")`` and ``IVFIndex.search_batch``, with every
answer checked against the NumPy oracle. It then prints, for the
driver, the JVM and each Python worker process, the proportional set
size (PSS, shared pages split among the processes that map them) and
the peak resident size (VmHWM), and the Python total.

Then it prints the route each path took and the Spark jobs one more
batch of it runs (the call and the collect of its result). The route
is ``driver`` when the corpus fits the driver bound
(``topk._driver_corpus``: the JVM collects it once and the driver keeps
it and scores it, or, for the saved index's ``search_batch``, the
driver reads the probed cells' files itself, so no Python worker runs
the kernel) or ``spark`` (a ``mapInArrow`` kernel on Python workers).
On the driver route each path runs one job per batch, the query
collect; its Python workers only unpickle the query rows of the
Python-list query DataFrame. Beside the routes it prints the Spark
jobs, stages and wall time of each set-up step: ``store``
(``store_dataframe``), ``build`` (``build_ivf_index_deterministic``),
``save`` (0 jobs: ``assign_to_cells`` kept the table it built) and
``load``.

Last, it prints the GEMM work per batch of each path, in GFLOP
(2 · rows · d · queries, summed over the products the kernel runs):
the exact path multiplies every corpus row by every query; the IVF
path multiplies each cell's rows only by the queries that probed that
cell (``topk._score_batch``).

Spark runs as perfbench runs it (``perfbench/run.py``'s configuration);
scratch files go under ``perfbench/.work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]


def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _cmdline(pid: int) -> str:
    with open(f"/proc/{pid}/cmdline", "rb") as fh:
        return fh.read().replace(b"\0", b" ").decode(errors="replace")


def _processes() -> list[tuple[str, int]]:
    """(role, pid) of the driver, the JVM and the JVM's Python
    processes: the daemon, which the JVM starts, and the workers it
    forks."""
    import probes

    me = os.getpid()
    out = [("driver", me)]
    for jvm in probes.descendants(me):
        if "java" not in _cmdline(jvm):
            continue
        out.append(("jvm", jvm))
        for pid in sorted(probes.descendants(jvm)):
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            out.append(("python daemon" if ppid == jvm else "python worker", pid))
    return out


def print_memory() -> None:
    import probes

    mb = 2.0**20
    py_pss = 0.0
    print(f"{'process':<16}{'pid':>8}{'PSS MB':>10}{'VmHWM MB':>10}")
    for role, pid in _processes():
        try:
            pss = probes._pss_bytes(pid) / mb
            hwm = _status_kb(pid, "VmHWM") / 1024
        except OSError:
            continue  # exited between listing and reading
        if role.startswith("python"):
            py_pss += pss
        print(f"{role:<16}{pid:>8}{pss:>10.1f}{hwm:>10.1f}")
    print(f"{'python total':<24}{py_pss:>10.1f}")


SETUP_STEPS = {
    "store": "store_dataframe",
    "build": "build_ivf_index_deterministic",
    "save": "save_ivf_index",
    "load": "load_ivf_index",
}


def time_setup_steps(spark) -> dict[str, float]:
    """Wrap each set-up step of ``SETUP_STEPS`` so it runs in its own
    Spark job group, ``setup-<step>``, and return the dict its wall
    times (seconds) go into."""
    import time

    import workloads

    from nebuia_vector_db_spark.engine import VectorEngine

    sc, wall = spark.sparkContext, {}

    def timed(step, fn):
        def run(*args, **kwargs):
            sc.setJobGroup(f"setup-{step}", step)
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                wall[step] = time.perf_counter() - t
                sc.setLocalProperty("spark.jobGroup.id", None)

        return run

    for step, name in SETUP_STEPS.items():
        owner = VectorEngine if name == "store_dataframe" else workloads
        setattr(owner, name, timed(step, getattr(owner, name)))
    return wall


def print_setup(spark, wall: dict[str, float]) -> None:
    import time

    tracker = spark.sparkContext.statusTracker()
    time.sleep(1.0)  # let the listener see the last jobs
    print(f"{'set-up step':<16}{'jobs':>6}{'stages':>8}{'wall s':>9}")
    for step in SETUP_STEPS:
        ids = tracker.getJobIdsForGroup(f"setup-{step}")
        stages = sum(len(tracker.getJobInfo(j).stageIds) for j in ids if tracker.getJobInfo(j))
        print(f"  {step:<14}{len(ids):>6}{stages:>8}{wall.get(step, float('nan')):>9.2f}")


def print_routes(wl) -> None:
    import time

    import workloads

    from nebuia_vector_db_spark.operators.topk import knn_join

    spark = wl.ctx.spark
    sc, tracker = spark.sparkContext, spark.sparkContext.statusTracker()
    qs = wl.queries(0, 0)
    qdf = spark.createDataFrame(
        [(i, q.tolist()) for i, q in enumerate(qs)], "query_id long, query_vec array<double>"
    )
    k, ties = workloads.K, ["doc_id", "position"]
    paths = {
        "knn_join": lambda: knn_join(qdf, wl.corpus_df, k=k, tie_cols=ties, method="arrow"),
        "ann_search": lambda: wl.index.search_batch(qdf, k, wl.size["nprobe"], tie_cols=ties),
    }
    plans = {}
    for name, path in paths.items():
        sc.setJobGroup(f"route-{name}", name)
        try:
            df = path()
            df.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        plans[name] = df._jdf.queryExecution().executedPlan().toString()
    time.sleep(1.0)  # let the listener see the last jobs
    print(f"{'route per path':<30}{'jobs per batch':>14}")
    for name, plan in plans.items():
        route = "spark" if "MapInArrow" in plan else "driver"
        print(f"  {name:<12}{route:<16}{len(tracker.getJobIdsForGroup(f'route-{name}')):>14}")


def print_gemm(wl, batches: int) -> None:
    from nebuia_vector_db_spark.operators.ann import _select_cells

    rows_of = {
        int(r[0]): int(r[1])
        for r in wl.index.assigned.groupBy("ivf_cell").count().collect()
    }
    d = wl.index.centroids.shape[1]
    exact, grouped = [], []
    for b in range(batches):
        qs = wl.queries(0, b)
        qmat = qs / np.linalg.norm(qs, axis=1, keepdims=True)
        sel = _select_cells(wl.index.centroids @ qmat.T, wl.size["nprobe"])
        exact.append(2.0 * wl.corpus.n_chunks * d * len(qs))
        grouped.append(2.0 * d * sum(rows_of.get(int(c), 0) for c in sel.ravel()))
    print("GEMM GFLOP per batch (mean)")
    print(f"  exact knn_join              {np.mean(exact) / 1e9:.4f}")
    print(f"  IVF search_batch            {np.mean(grouped) / 1e9:.4f}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--batches", type=int, default=4)
    args = p.parse_args(argv)

    import run

    os.makedirs(os.path.join(ROOT, "perfbench", ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="pss-", dir=os.path.join(ROOT, "perfbench", ".work"))
    try:
        extra_conf = run.configure(work)
        import workloads

        from nebuia_vector_db_spark.session import get_spark

        spark = get_spark("worker-pss", extra_conf=extra_conf)
        try:
            spark.sparkContext.setLogLevel("ERROR")
            ctx = workloads.Ctx(
                spark=spark, work=work, seed=args.seed, seconds=0.0,
                size=workloads.SIZES["full"]["batch_knn"],
            )
            wl = workloads.BatchKnn(ctx)
            wall = time_setup_steps(spark)
            wl.setup()
            loop = workloads.Loop(ctx)
            wl.done = [wl.batch(loop, 0, b) for b in range(args.batches)]
            print_memory()
            wl.verify(loop)
            print(f"batches {args.batches}, failed checks {loop.failed}, "
                  f"recall@10 {workloads.mean(wl.recalls):.5f}")
            print_routes(wl)
            print_setup(spark, wall)
            print_gemm(wl, args.batches)
            wl.teardown()
        finally:
            run.stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
