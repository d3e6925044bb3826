"""Run workloads over several seeds and report the run-to-run spread.

    python3 perfbench/sweep.py                       # every workload, seeds 1-10
    python3 perfbench/sweep.py --trace 1             # the traced pass
    python3 perfbench/sweep.py --workloads serve_search --seeds 1-5 --out DIR

Each run is ``perfbench/run.py`` in its own process, with the run length
from ``BENCHMARK.json``; full records land in ``--out`` (default
``perfbench/out/sweep``), one JSON file per workload and seed, ready for
``perfbench/compare.py``. The table gives, per workload and metric, the
median, the quartiles and the spread (quartile distance over median),
flagged against the metric's bound: ``ok`` below a third of it,
``wide`` within it, ``TOO WIDE`` beyond it (``setup_s`` is only
reported, its spread is not gated); the metrics a run records but
``BENCHMARK.json`` does not gate follow. Below the table, each operation's
untraced latencies are pooled over all runs, to give a tail percentile
that one run has too few samples for.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def seed_list(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / abs(med) if med else 0.0


def pooled_tail(xs: list[float]) -> str:
    """The median and the highest of p99/p95/p90 with at least ten
    samples beyond it."""
    out = f"n={len(xs)} p50 {statistics.median(xs):.5g}"
    for p in (99, 95, 90):
        if len(xs) * (100 - p) / 100 >= 10:
            cut = statistics.quantiles(xs, n=100)[p - 1]
            return f"{out} p{p} {cut:.5g}"
    return out


def main(argv=None) -> int:
    bench = load_benchmark()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--seconds", type=float, default=bench["run_seconds"])
    p.add_argument("--out", default=os.path.join(HERE, "out", "sweep"))
    args = p.parse_args(argv)
    os.makedirs(args.out, exist_ok=True)
    metrics = bench["per_layer"] if args.trace else bench["end_to_end"]
    failed = False
    for wl in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        units: dict[str, str] = {}
        pooled: dict[str, list[float]] = {}
        walls = []
        for seed in seed_list(args.seeds):
            path = os.path.join(args.out, f"{wl}-s{seed}-t{args.trace}.json")
            t = time.monotonic()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(args.seconds),
                 "--trace", str(args.trace), "--out", path],
                cwd=ROOT, capture_output=True, text=True, timeout=900,
            )
            walls.append(time.monotonic() - t)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                failed = True
                continue
            result = json.loads(lines[-1])
            if not result["correct"]:
                print(f"{wl} seed {seed}: {result['failed']} of {result['attempted']} failed")
                failed = True
            with open(path) as fh:
                rec = json.load(fh)
            for name, (value, unit) in rec["layers" if args.trace else "e2e"].items():
                values.setdefault(name, []).append(value)
                units[name] = unit
            for op, xs in rec["latency_ms"].items():
                pooled.setdefault(op, []).extend(xs)
        print(f"\n{wl}: {len(walls)} runs, {statistics.mean(walls):.1f} s wall each")
        bounds = {m["name"]: m.get("bound") for m in metrics}
        for name in [*bounds, *sorted(set(values) - set(bounds))]:
            xs = values.get(name)
            if not xs:
                continue
            med, q1, q3, sp = spread(xs)
            bound = bounds.get(name)
            if name not in bounds:
                flag = "(not gated)"
            elif bound is None:
                flag = ""
            elif name == "setup_s":
                flag = f"bound {bound:.2f} (spread not gated)"
            else:
                flag = "ok" if sp <= bound / 3 else "wide" if sp <= bound else "TOO WIDE"
                flag = f"bound {bound:.2f} {flag}"
            print(
                f"  {name:<40} {med:>12.5g} {units[name]:<6} "
                f"q1 {q1:<10.5g} q3 {q3:<10.5g} spread {sp:6.3f} {flag}"
            )
        for op, xs in pooled.items():
            if xs:
                print(f"  pooled {op + '_ms':<33} {pooled_tail(xs)}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
