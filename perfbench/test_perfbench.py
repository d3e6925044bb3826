"""Self-tests of the benchmark: run with ``python3 -m pytest perfbench -q``.

- the same seed generates the same inputs, and another seed others;
- the oracle accepts the exact top-k and rejects perturbed ones;
- a tiny-size run of each workload, untraced and traced, finishes with
  no failed request and reports exactly the metrics BENCHMARK.json names.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _inputs(seed: int) -> list[np.ndarray]:
    g = gen.rng(seed, gen.S_CORPUS)
    a = gen.gaussian_collection(g, "c00", 30)
    b = gen.clustered_collection(gen.rng(seed, gen.S_CORPUS), "corpus", 40, 8)
    q = gen.noisy_query(gen.rng(seed, gen.S_REQUESTS, 0, 3), a)
    w = gen.zipf_weights(gen.rng(seed, gen.S_REQUESTS), 16)
    table = gen.documents_table(a)
    payload = gen.documents_payload(b)
    return [
        a.vecs, a.doc_names, b.vecs, q, w,
        np.asarray(table.column("chunks").to_pylist(), dtype=object),
        np.asarray(json.dumps(payload)),
    ]


def test_same_seed_same_inputs():
    for x, y in zip(_inputs(7), _inputs(7)):
        assert np.array_equal(x, y)
    assert not np.array_equal(_inputs(7)[0], _inputs(8)[0])


def _case(k: int = 10):
    g = gen.rng(1, 99)
    coll = gen.gaussian_collection(g, "c", 50)
    names, pos = coll.chunk_keys()
    q = gen.noisy_query(g, coll)
    want = oracle.topk(names, pos, coll.vecs, q, k)
    return want, [(d, p, float(s)) for (d, p), s in zip(want.keys, want.sims)]


def test_oracle_accepts_exact_answer():
    want, got = _case()
    assert not want.tied
    assert oracle.check(got, want) is None


@pytest.mark.parametrize(
    "perturb",
    [
        lambda rows: rows[:1] + [rows[2], rows[1]] + rows[3:],  # swapped ranks
        lambda rows: rows[:-1],  # missing row
        lambda rows: rows[:4] + [(rows[4][0], rows[4][1] % 4 + 1, rows[4][2])] + rows[5:],  # wrong chunk
        lambda rows: rows[:3] + [(rows[3][0], rows[3][1], rows[3][2] + 1e-6)] + rows[4:],  # similarity off
        lambda rows: rows[:-1] + [rows[0]],  # duplicate
    ],
)
def test_oracle_rejects_perturbed_topk(perturb):
    want, got = _case()
    assert oracle.check(perturb(got), want) is not None


def test_oracle_tie_band():
    names = np.array(["a", "b", "c"])
    pos = np.array([1, 1, 1])
    mat = np.array([[1.0, 0.0], [1.0, 0.0], [0.5, 0.0]])
    want = oracle.topk(names, pos, mat, np.array([1.0, 0.0]), 1)
    assert want.tied and want.keys == [("a", 1)]
    assert oracle.check([("b", 1, 1.0)], want) is None  # either tied row may win
    assert oracle.check([("c", 1, 1.0)], want) is not None


def test_benchmark_json_matches_the_code():
    import workloads

    assert WORKLOADS == list(workloads.WORKLOADS)
    for key, spec in (("end_to_end", workloads.END_TO_END), ("per_layer", workloads.PER_LAYER)):
        assert [(m["name"], m["unit"], m["better"]) for m in BENCH[key]] == list(spec)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run(workload, trace):
    result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in spec]
    for m in spec:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
