"""Tiny-size runs of every workload through the benchmark's command,
untraced and traced, plus one call against a corrupted pin.

Each run starts fresh Spark JVMs; the module takes several minutes.
"""

from __future__ import annotations

import json
import subprocess
import sys

import pytest

from perfbench import workloads as W
from perfbench.metrics import END_TO_END, PER_LAYER
from perfbench.run import EXPECTED, ROOT, STATE, child_env, cores, ensure_fixture, worker

SEED = 5  # slot 1: not the default seed's slot


def bench(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--n-turns", str(W.TEST_TURNS)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-4000:]
    lines = out.stdout.strip().splitlines()
    for name in END_TO_END if not trace else PER_LAYER:
        assert any(ln.startswith(name + " ") for ln in lines), name
    return json.loads(lines[-1])


@pytest.mark.parametrize("workload", list(W.WORKLOADS))
def test_workload_untraced_and_traced(workload):
    res = bench(workload, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    assert set(res["metrics"]) == set(END_TO_END)
    assert all(m["value"] > 0 for m in res["metrics"].values())

    # the traced call must reproduce the untraced digest, else it fails
    tr = bench(workload, 1)
    assert tr["correct"] and tr["failed"] == 0
    assert set(tr["metrics"]) == set(PER_LAYER)
    m = {k: v["value"] for k, v in tr["metrics"].items()}
    assert m["spark.jobs"] > 0 and m["spark.scaling_eff"] > 0
    if workload == "validate_full":
        assert m["pipeline.turns_scans"] >= 1 and m["pipeline.jobs"] > 0
        assert m["sinks.jobs"] > 0 and m["ledger.jobs"] > 0
    if workload == "transform_text":
        meta = W.load_meta(W.fixture_dir(STATE, W.WORKLOADS[workload].fixture(SEED, W.TEST_TURNS)))
        # every ArrowEvalPython node runs the UDF over every row
        assert m["functions.arrow_nodes"] >= 1
        assert m["functions.python_rows"] == m["functions.arrow_nodes"] * meta["rows"]
        assert m["transform.write_s"] > 0


def test_corrupted_pin_fails_the_call(tmp_path):
    w = W.WORKLOADS["validate_full"]
    fx = w.fixture(SEED, W.TEST_TURNS)
    n = cores()
    env = child_env(n)
    fx_dir = ensure_fixture(fx, env, n)
    pins = json.loads(EXPECTED.read_text())
    pins[w.name][fx.key]["digest"] = "0" * 16
    corrupted = tmp_path / "expected.json"
    corrupted.write_text(json.dumps(pins))
    res = worker("run", tmp_path / "r.json", n, env, 600, workload=w.name, fixture=fx_dir,
                 expected=corrupted, work=tmp_path / "work",
                 fixture_spec=json.dumps({"kind": fx.kind, "n_turns": fx.n_turns, "slot": fx.slot}))
    (call,) = res["calls"]
    assert call["error"] and "digest" in call["error"] and "pinned" in call["error"]
