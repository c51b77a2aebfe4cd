"""Pin the expected outputs of every fixture slot in ``expected.json``.

    python3 perfbench/pin.py

Runs each workload's job once per slot and stores what the checks
compare against: the per-rule summary counts and per-part verdicts of
``validate_full``, the output digest of ``validate_resume`` and the
per-stage changed-row counts of ``transform_text``. A slot is pinned only
if every other check of its call passes (DuckDB counts, return code,
ledger rows). Re-pin only when the program's correct output changes.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import workloads as W  # noqa: E402
from perfbench.run import EXPECTED, STATE, child_env, cores, ensure_fixture, worker  # noqa: E402

MISSING = "no pinned expectation"


def pin_entry(w: W.Workload, obs: dict) -> dict:
    if w.job == "transform":
        return {"changed_rows": obs["changed_rows"]}
    if w.resume:
        return {"digest": W.digest(obs)}
    return {"digest": W.pinned_digest(obs), "summary": obs["summary"], "verdicts": obs["verdicts"]}


def main(argv: list[str]) -> int:
    argparse.ArgumentParser(description="pin expected outputs per fixture slot").parse_args(argv)
    n = cores()
    env = child_env(n)
    expected = json.loads(EXPECTED.read_text()) if EXPECTED.exists() else {}
    failures = 0
    for w in W.WORKLOADS.values():
        for size in (W.DEFAULT_TURNS[w.kind], W.TEST_TURNS):
            ensure_fixture(W.Fixture(w.kind, size, 0), env, n)
            work = STATE / "pin" / f"{w.name}-{time.time_ns()}"
            work.parent.mkdir(parents=True, exist_ok=True)
            res = worker("pin", work.with_suffix(".json"), n, env, 1800, workload=w.name,
                         state=STATE, n_turns=size, work=work,
                         slots=",".join(str(s) for s in range(W.FIXTURE_SLOTS)))
            if "error" in res:
                print(res["error"], file=sys.stderr)
                return 1
            for key, rec in res["pins"].items():
                errs = [e for e in (rec["error"] or "").split("; ") if e and not e.startswith(MISSING)]
                if errs or rec["observed"] is None:
                    failures += 1
                    print(f"{w.name} {key}: not pinned: {errs}", file=sys.stderr)
                    continue
                expected.setdefault(w.name, {})[key] = pin_entry(w, rec["observed"])
                print(f"{w.name} {key}: pinned")
            EXPECTED.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
