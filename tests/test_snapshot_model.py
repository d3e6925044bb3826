"""Randomized model-based test for SnapshotTable: a seeded sequence of
append / delete / upsert / compact / vacuum ops is
applied both to the real table and to a pandas model; contents must
agree after EVERY step, and historical snapshots must stay readable
until vacuumed. Complements the per-op unit tests with interaction
coverage (e.g. delete-after-evolution, compact-after-delete)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from nebuia_vector_db_spark.sources.snapshot import SnapshotTable


def _df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["k", "grp", "ver"]).astype(
            {"k": "int64", "grp": "int64", "ver": "int64"}
        )
    )


def _table_state(tbl) -> set[tuple]:
    return {
        (r["k"], r["grp"], r["ver"]) for r in tbl.read().collect()
    }


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_random_op_sequences_match_model(spark, tmp_path, seed):
    rng = np.random.default_rng(seed)
    next_k = 1000
    model: dict[int, tuple[int, int]] = {}  # k -> (grp, ver)

    def fresh_rows(n):
        nonlocal next_k
        rows = [
            (next_k + i, int(rng.integers(0, 5)), 1) for i in range(n)
        ]
        next_k += n
        return rows

    init = fresh_rows(50)
    model.update({k: (g, v) for k, g, v in init})
    tbl = SnapshotTable.create(
        spark, str(tmp_path / f"t{seed}"), _df(spark, init)
    )
    checkpoints: list[tuple[int, set]] = []

    for step in range(8):
        op = rng.choice(
            ["append", "delete", "upsert", "compact", "vacuum"]
        )
        if op == "append":
            rows = fresh_rows(int(rng.integers(5, 20)))
            model.update({k: (g, v) for k, g, v in rows})
            tbl.with_retry("append", _df(spark, rows))
        elif op == "delete":
            g = int(rng.integers(0, 5))
            model = {
                k: (grp, v) for k, (grp, v) in model.items() if grp != g
            }
            tbl.with_retry("delete_where", F.col("grp") == g)
        elif op == "upsert":
            keys = list(model)
            if keys:
                chosen = rng.choice(keys, size=min(5, len(keys)), replace=False)
                rows = [(int(k), 9, 7) for k in chosen]
                for k, g, v in rows:
                    if v > model[k][1]:
                        model[k] = (g, v)
                tbl.with_retry(
                    "upsert", _df(spark, rows),
                    key_cols=["k"], version_col="ver",
                )
        elif op == "compact":
            tbl.with_retry("compact", small_file_bytes=1 << 30,
                           target_partitions=2)
        elif op == "vacuum":
            tbl.vacuum(keep_last=1)
            checkpoints = []  # history gone by contract

        expected = {(k, g, v) for k, (g, v) in model.items()}
        assert _table_state(tbl) == expected, f"step {step} op {op}"
        checkpoints.append((tbl.current_version(), expected))
        # a historical snapshot (pre-vacuum) must still read exactly
        if len(checkpoints) > 1:
            v_old, state_old = checkpoints[-2]
            got_old = {
                (r["k"], r["grp"], r["ver"])
                for r in tbl.read(version=v_old).collect()
            }
            assert got_old == state_old, f"time travel broke at step {step}"
