"""Output checks: a correct call passes, any corrupted expectation fails."""

from __future__ import annotations

import copy

from perfbench import workloads as W

META = {"key": "dirty-n10-s0", "oracle": {
    "parts": {"2026-01-05": 4, "2026-01-06": 3},
    "rules": {"unique.turn": 2, "ref.conv_id": 1, "ref.tool": 0, "not_null.text": 1,
              "non_empty.text": 0}}}

FULL = {
    "rc": 1,
    "summary": {"error|unique.turn": 2, "error|ref.conv_id": 1, "error|not_null.text": 1,
                "warning|turn.contiguity": 3},
    "verdicts": {"2026-01-05": ["PASSED", 0, 0], "2026-01-06": ["FAILED", 4, 3]},
    "ledger_new": [["2026-01-05", "PASSED", 4], ["2026-01-06", "FAILED", 3]],
}


def test_validate_full_passes_against_its_pin():
    pin = {"digest": W.pinned_digest(FULL)}
    assert W.check(W.WORKLOADS["validate_full"], META, FULL, pin) == []


def test_corrupted_digest_fails():
    pin = {"digest": "0" * 16}
    errs = W.check(W.WORKLOADS["validate_full"], META, FULL, pin)
    assert len(errs) == 1 and "digest" in errs[0]


def test_missing_pin_fails():
    assert W.check(W.WORKLOADS["validate_full"], META, FULL, None)


def test_oracle_and_ledger_mismatches_fail():
    pin = {"digest": W.pinned_digest(FULL)}
    obs = copy.deepcopy(FULL)
    obs["ledger_new"][0][2] = 5
    obs["rc"] = 0
    errs = W.check(W.WORKLOADS["validate_full"], META, obs, pin)
    assert any("ledger rows" in e for e in errs) and any("rc" in e for e in errs)
    meta = copy.deepcopy(META)
    meta["oracle"]["rules"]["ref.tool"] = 1
    errs = W.check(W.WORKLOADS["validate_full"], meta, FULL, pin)
    assert errs == ["ref.tool: 0 violations, DuckDB counts 1"]


def test_resume_needs_exactly_the_pending_days():
    w = W.WORKLOADS["validate_resume"]
    meta = {"key": "clean-n10-s0", "oracle": {"parts": {"d1": 1, "d2": 2, "d3": 3}, "rules": {}}}
    obs = {"rc": 0, "summary": {}, "verdicts": {"d2": ["PASSED", 0, 0], "d3": ["PASSED", 0, 0]},
           "ledger_new": [["d2", "PASSED", 2], ["d3", "PASSED", 3]]}
    pin = {"digest": W.digest(obs)}
    assert W.check(w, meta, obs, pin) == []
    assert W.turns_processed(w, meta) == 5
    wrong = copy.deepcopy(obs)
    wrong["verdicts"]["d1"] = ["PASSED", 0, 0]
    wrong["ledger_new"].insert(0, ["d1", "PASSED", 1])
    errs = W.check(w, meta, wrong, pin)
    assert any("pending" in e for e in errs) and any("ledger" in e for e in errs)


def test_transform_counts():
    w = W.WORKLOADS["transform_text"]
    obs = {"rc": 0, "manifest_rows": 7, "out_rows": 7, "changed_rows": {"a": 1, "b": 0}}
    assert W.check(w, META, obs, {"changed_rows": {"a": 1, "b": 0}}) == []
    errs = W.check(w, META, dict(obs, out_rows=6), {"changed_rows": {"a": 2, "b": 0}})
    assert len(errs) == 2
