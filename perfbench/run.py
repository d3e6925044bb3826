"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve_search --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the gated end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The lines
before it list every metric the run measured, with its unit, and the
run environment. ``--out FILE`` also writes the full record as JSON,
and the traced pass writes its spans to ``perfbench/out/``.

Everything the run writes (Spark scratch, warehouses, temp files)
stays under ``perfbench/.work/`` in the checkout and is removed at the
end; the JVM and its Python workers are stopped before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    p.add_argument("--out", help="also write the full record to this JSON file")
    return p.parse_args(argv)


def configure(work: str) -> dict:
    """Keep Spark, the JVM and Python temp files inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_MASTER"] = f"local[{cpus}]"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return {
        # a fixed, pre-touched heap keeps the JVM's resident size the
        # same from run to run, so peak_pss_mb moves only with real use
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch"
        ),
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every process the
    run started (the JVM's Python workers outlive it briefly)."""
    from pyspark import SparkContext

    import probes

    kids = probes.descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    probes.wait_gone(kids, timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(HERE, ".work"))
    try:
        return _main(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _main(args, work: str) -> int:
    extra_conf = configure(work)
    import probes
    import tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    from nebuia_vector_db_spark.session import get_spark

    env = probes.environment(ROOT, args.seed)
    cpu0 = probes.cpu_times()
    with probes.MemorySampler() as mem:
        t = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=extra_conf)
        session_start_s = time.perf_counter() - t
        try:
            spark.sparkContext.setLogLevel("ERROR")
            tracer = tracing.Tracer() if args.trace else tracing.OFF
            ctx = workloads.Ctx(
                spark=spark,
                work=work,
                seed=args.seed,
                seconds=args.seconds,
                size=workloads.SIZES[args.size][args.workload],
                tracer=tracer,
                jobs=tracing.JobCounter(spark) if args.trace else None,
            )
            result = workloads.run(args.workload, ctx, session_start_s)
        finally:
            mem.stop()
            stop_spark(spark)
    env["steal_frac"] = probes.steal_fraction(cpu0, probes.cpu_times())
    result["e2e"]["peak_pss_mb"] = (mem.peak / 2**20, "MB")

    if args.trace:
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-s{args.seed}.jsonl"))
        names = [n for n, _, _ in workloads.PER_LAYER]
        shown = result["layers"]
    else:
        names = [n for n, _, _ in workloads.END_TO_END]
        shown = result["e2e"]

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": args.size,
        "env": env,
        **result,
    }
    print(f"# env {json.dumps(env, sort_keys=True)}")
    for section in ("e2e", "layers"):
        for name, (value, unit) in result.get(section, {}).items():
            print(f"# {args.workload} {section} {name} = {value:.6g} {unit}")
    for reason in result["failures"]:
        print(f"# failure: {reason.splitlines()[0]}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(record, fh, indent=1, sort_keys=True)
    line = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {n: {"value": shown[n][0], "unit": shown[n][1]} for n in names},
    }
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
