"""The benchmark's own smoke test: each workload once at tiny size, both
untraced and traced, plus the correctness check against a corrupted
expectation.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

import inputs
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _expected(seed: int = 3):
    payloads = inputs.frame_payloads(seed, 0, 0, 64, 128)
    return inputs.expected_detections(np.arange(64, dtype=np.int64), payloads)


def test_check_store_accepts_the_closed_form():
    exp = _expected()
    assert len(exp) > 0
    assert workloads.check_store(exp.copy(), exp) == set()


def test_corrupted_expectation_fails_the_check():
    exp = _expected()
    corrupt = exp.copy()
    corrupt.loc[0, "score"] += 0.01
    assert workloads.check_store(exp, corrupt) == {int(exp.loc[0, "frame_id"])}
    missing = exp.drop(index=1)
    assert int(exp.loc[1, "frame_id"]) in workloads.check_store(missing, exp)
    doubled = pd.concat([exp, exp.iloc[[2]]], ignore_index=True)
    assert int(exp.loc[2, "frame_id"]) in workloads.check_store(doubled, exp)


def test_digest_ignores_row_order_but_not_values():
    cols = ["b", "a"]
    rows = [(1, 0.5), (2, 1.5)]
    assert inputs.rows_digest(cols, rows) == inputs.rows_digest(cols, rows[::-1])
    assert inputs.rows_digest(cols, rows) != inputs.rows_digest(cols, [(1, 0.5)])


def test_inputs_follow_the_seed():
    a = inputs.frame_payloads(5, 0, 1, 4, 16)
    assert (a == inputs.frame_payloads(5, 0, 1, 4, 16)).all()
    assert not (a == inputs.frame_payloads(6, 0, 1, 4, 16)).all()


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["live", "query"])
def test_workload_emits_every_metric(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "2", "--seconds", "3", "--trace", str(trace), "--tiny"],
        cwd=CHECKOUT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = _spec()
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    assert sorted(res["metrics"]) == sorted(names)
    for m in spec["per_layer" if trace else "end_to_end"]:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    assert not os.path.exists(os.path.join(CHECKOUT, ".perfbench_run"))
