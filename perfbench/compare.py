"""Compare two sets of benchmark results: a parent and a change.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds the records ``perfbench/sweep.py --out DIR`` (or
``run.py --out FILE``) wrote, untraced, made with the same seeds and
run length. Runs pair up by workload and seed. One row per workload
and end-to-end metric gives each side's median and quartiles, how many
pairs the change won (ties count for neither) and a verdict:

- ``improved``: the change wins at least 9 in 10 pairs and the medians
  differ, in the better direction, by more than the parent's own spread
  (the distance between its quartiles);
- ``no worse``: the change's median is worse than the parent's by no
  more than the metric's bound, and the parent's spread is within that
  bound (or every change run beat every parent run);
- ``worse``: the change's median is worse by more than the bound while
  the parent's spread is within it;
- ``unresolved``: the spread is wider than the bound, so neither can
  be told.

Bounds and directions come from ``BENCHMARK.json``; a recorded
end-to-end metric that is not gated there (per-operation latencies,
kNN throughput, recall) uses the widest gated bound, and is better
higher when it is a rate or a recall.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

from sweep import load_benchmark, spread

SKIP = {"requests", "failed_frac"}


def load(directory: str) -> dict[tuple[str, int], dict]:
    runs = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as fh:
            rec = json.load(fh)
        if rec.get("trace") == 0:
            runs[(rec["workload"], rec["seed"])] = rec
    return runs


def rule(name: str, gated: dict) -> tuple[str, float]:
    if name in gated:
        return gated[name]["better"], gated[name]["bound"]
    better = "higher" if name.endswith("_per_s") or "recall" in name else "lower"
    return better, max(m["bound"] for m in gated.values())


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> tuple[int, str]:
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    mp, q1, q3, sp = spread(parent)
    mc = statistics.median(change)
    gain = sign * (mc - mp)
    if wins >= 0.9 * len(parent) and gain > q3 - q1:
        return wins, "improved"
    all_better = min(sign * c for c in change) > max(sign * p for p in parent)
    if sp > bound and not all_better:
        return wins, "unresolved"
    if -gain <= bound * abs(mp):
        return wins, "no worse"
    return wins, "worse"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("parent")
    p.add_argument("change")
    args = p.parse_args(argv)
    gated = {m["name"]: m for m in load_benchmark()["end_to_end"]}
    parent, change = load(args.parent), load(args.change)
    pairs = sorted(set(parent) & set(change))
    if not pairs:
        print("no workload/seed pairs in common")
        return 1
    print(
        f"{'workload':<14} {'metric':<28} {'unit':<6} {'parent median [q1, q3]':<32} "
        f"{'change median [q1, q3]':<32} {'wins':<7} verdict"
    )
    worse = False
    for wl in sorted({w for w, _ in pairs}):
        seeds = [s for w, s in pairs if w == wl]
        names = list(gated) + sorted(
            n for n in parent[(wl, seeds[0])]["e2e"] if n not in gated and n not in SKIP
            and not n.endswith("_samples")
        )
        for name in names:
            try:
                xs = [parent[(wl, s)]["e2e"][name][0] for s in seeds]
                ys = [change[(wl, s)]["e2e"][name][0] for s in seeds]
            except KeyError:
                continue  # a metric only one side recorded
            unit = parent[(wl, seeds[0])]["e2e"][name][1]
            better, bound = rule(name, gated)
            wins, v = verdict(xs, ys, better, bound)
            worse |= v == "worse" and name in gated
            mp, p1, p3, _ = spread(xs)
            mc, c1, c3, _ = spread(ys)
            print(
                f"{wl:<14} {name:<28} {unit:<6} "
                f"{f'{mp:.5g} [{p1:.5g}, {p3:.5g}]':<32} {f'{mc:.5g} [{c1:.5g}, {c3:.5g}]':<32} "
                f"{f'{wins}/{len(seeds)}':<7} {v}"
            )
        for side, runs in (("parent", parent), ("change", change)):
            failed = sum(runs[(wl, s)]["failed"] for s in seeds)
            steal = max(runs[(wl, s)]["env"]["steal_frac"] for s in seeds)
            print(f"{wl:<14} {side}: {failed} failed requests, max CPU steal {steal:.3f}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
