"""Workloads of the deployed-job benchmark: fixtures, job arguments,
per-call preparation and output checks.

Three workloads drive the deployed entry points the way a user runs them:

* ``validate_full``: ``jobs/validate.run`` over a dirty fixture with all
  four inputs plus ``--ledger`` (the nightly run);
* ``validate_resume``: ``jobs/validate.run --resume`` over a clean
  fixture whose ledger already holds the first six days PASSED (the
  daily-ingest run: two pending days);
* ``transform_text``: ``jobs/transform.run`` over the dirty fixture,
  writing the cleaned day-partitioned table (the only deployed path
  through the pandas UDF).

Fixtures come from the public generator
(``sources.generator.write_fixture_tables``). ``--seed`` picks one of
``FIXTURE_SLOTS`` fixture slots; the slot is the generator seed. Every
slot of a kind and size is generated once per checkout, outside all
timings, and cached under the state dir.

Outputs are read back with DuckDB, never with the Spark session under
test, so checking a call adds no Spark work to the next call.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass
from pathlib import Path

FIXTURE_SLOTS = 4
# turns per fixture kind; small enough that a run of every workload fits
# the benchmark's time budget. The clean kind is smaller: at 20k turns
# most generator seeds give a "clean" fixture on which drift.kl.role /
# drift.chi2.ts fail one or two days, at 4k the seeds tried pass, and
# validate_resume needs every day to pass.
DEFAULT_TURNS = {"dirty": 20_000, "clean": 4_000}
TEST_TURNS = 2_000  # the benchmark's own smoke tests
PENDING_DAYS = 2  # validate_resume: days left out of the pristine ledger


@dataclass(frozen=True)
class Fixture:
    kind: str  # "dirty" or "clean"
    n_turns: int
    slot: int

    @property
    def key(self) -> str:
        return f"{self.kind}-n{self.n_turns}-s{self.slot}"

    def config(self):
        from sgb_data_validator_spark.sources.generator import FixtureConfig

        return FixtureConfig(n_turns=self.n_turns, seed=self.slot, dirt=self.kind == "dirty")


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # fixture kind
    job: str  # "validate" or "transform"
    resume: bool = False
    why: str = ""
    # An untraced run sets up one process, which makes one cold call,
    # `warmups` warm-up calls and `repeats` warm calls. The counts are
    # fixed, not fitted to the time left: a JVM keeps compiling over its
    # first calls, and more slowly when the host takes its CPUs, so every
    # run measures the same calls, whatever the host's speed.
    warmups: int = 0
    repeats: int = 1

    def fixture(self, seed: int, n_turns: int | None = None) -> Fixture:
        return Fixture(self.kind, n_turns or DEFAULT_TURNS[self.kind], seed % FIXTURE_SLOTS)


WORKLOADS = {
    w.name: w
    for w in (
        # no warm-up: within the time budget a warm-up call would leave one
        # measured call, so the run measures the 2nd and 3rd calls
        Workload("validate_full", "dirty", "validate", repeats=2,
                 why="nightly run: all inputs, ledger, dirty data; operators, plans and sinks work"),
        Workload("validate_resume", "clean", "validate", resume=True, repeats=2,
                 why="daily ingest: --resume over 2 pending days; fixed cost, planning and ledger"),
        Workload("transform_text", "dirty", "transform", warmups=8, repeats=6,
                 why="text clean-up write; the only deployed path through the pandas UDF"),
    )
}


# ---------------------------------------------------------------- fixtures

def fixture_dir(state: Path, fx: Fixture) -> Path:
    return state / "fixtures" / fx.key


def load_meta(fx_dir: Path) -> dict:
    with open(fx_dir / "meta.json") as fh:
        return json.load(fh)


def fixture_oracle(fx_dir: Path) -> dict:
    """Row counts per part and the cheap-family violation counts, from
    DuckDB queries over the fixture parquet — independent of the engine
    under test."""
    import duckdb

    turns = f"read_parquet('{fx_dir}/turns/*/*.parquet', hive_partitioning=true)"
    con = duckdb.connect()
    parts = dict(con.sql(f"select part::varchar, count(*) from {turns} group by 1").fetchall())
    q = {
        "unique.turn": f"""select coalesce(sum(n), 0) from (select count(*) n from {turns}
                           group by conv_id, turn_idx having count(*) > 1)""",
        "ref.conv_id": f"""select count(*) from {turns} t where conv_id is not null and conv_id not in
                           (select conv_id from read_parquet('{fx_dir}/conversations/*.parquet')
                            where conv_id is not null)""",
        "ref.tool": f"""select count(*) from {turns} t where tool is not null and tool not in
                        (select tool from read_parquet('{fx_dir}/allowed_tools/*.parquet')
                         where tool is not null)""",
        "not_null.text": f"select count(*) from {turns} where text is null",
        "non_empty.text": f"select count(*) from {turns} where trim(text) = ''",
    }
    rules = {rule: int(con.sql(sql).fetchone()[0]) for rule, sql in q.items()}
    con.close()
    return {"parts": {str(k): int(v) for k, v in sorted(parts.items())}, "rules": rules}


def tree_size(path: Path) -> tuple[int, int]:
    """(bytes, data files) under ``path``; files whose names start with
    ``.`` or ``_`` (checksums, markers) count in bytes only."""
    total, files = 0, 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += not n.startswith((".", "_"))
    return total, files


# ---------------------------------------------------------------- calls

def inputs(w: Workload, fx_dir: Path) -> dict[str, str]:
    """The tables the job reads, by CLI flag."""
    names = ["turns"] if w.job == "transform" else [
        "turns", "conversations", "allowed_tools", "baseline_stats"]
    return {n: str(fx_dir / n) for n in names}


def job_argv(w: Workload, fx_dir: Path, work: Path) -> list[str]:
    argv = []
    for flag, path in inputs(w, fx_dir).items():
        argv += [f"--{flag.replace('_', '-')}", path]
    argv += ["--out", str(work / "out")]
    if w.job == "transform":
        return argv + ["--manifest", str(work / "manifest.json")]
    argv += ["--ledger", str(work / "ledger")]
    return argv + (["--resume"] if w.resume else [])


def job_module(w: Workload):
    if w.job == "transform":
        import jobs.transform as mod
    else:
        import jobs.validate as mod
    return mod


def prepare(w: Workload, fx_dir: Path, work: Path) -> None:
    """Untimed: remove the previous call's outputs; for resume, restore
    the pristine ledger and sketch store."""
    for name in ("out", "ledger", "ledger_sketches", "manifest.json"):
        p = work / name
        if p.is_dir():
            shutil.rmtree(p)
        elif p.exists():
            p.unlink()
    work.mkdir(parents=True, exist_ok=True)
    if w.resume:
        shutil.copytree(fx_dir / "pristine_ledger", work / "ledger")
        shutil.copytree(fx_dir / "pristine_ledger_sketches", work / "ledger_sketches")


def written_bytes(w: Workload, fx_dir: Path, work: Path) -> int:
    """Bytes the call wrote: sinks + ledger + sketches, or the cleaned
    table. The restored pristine ledger is not the call's."""
    total = sum(tree_size(work / n)[0] for n in ("out", "ledger", "ledger_sketches")
                if (work / n).exists())
    if w.resume:
        total -= sum(tree_size(fx_dir / n)[0]
                     for n in ("pristine_ledger", "pristine_ledger_sketches"))
    return total


def observe(w: Workload, fx_dir: Path, work: Path, rc: int) -> dict:
    """Read a call's outputs back (DuckDB) into a plain dict."""
    import duckdb

    con = duckdb.connect()
    obs: dict = {"rc": rc}
    out = work / "out"
    if w.job == "transform":
        with open(work / "manifest.json") as fh:
            m = json.load(fh)
        obs["manifest_rows"] = m["rows"]
        obs["changed_rows"] = m["changed_rows"]
        obs["out_rows"] = con.sql(
            f"select count(*) from read_parquet('{out}/*/*.parquet')").fetchone()[0]
        con.close()
        return obs
    summary = con.sql(
        f"select severity, rule_id, n from read_csv('{out}/summary_csv/*.csv', header=true)"
    ).fetchall()
    obs["summary"] = {f"{sev}|{rule}": int(n) for sev, rule, n in sorted(summary)}
    verdicts = con.sql(
        f"""select part::varchar, status, error_count, warning_count
            from read_parquet('{out}/verdicts/*/*.parquet', hive_partitioning=true)"""
    ).fetchall()
    obs["verdicts"] = {p: [s, int(e), int(wn)] for p, s, e, wn in sorted(verdicts)}
    pristine = set()
    if w.resume:
        pristine = {r for (r,) in con.sql(
            f"select distinct run_id from read_parquet('{fx_dir}/pristine_ledger/*.parquet')"
        ).fetchall()}
    ledger = con.sql(
        f"select part, status, rows, run_id from read_parquet('{work}/ledger/*.parquet')"
    ).fetchall()
    new_rows = sorted((p, s, int(r)) for p, s, r, run in ledger if run not in pristine)
    obs["ledger_new"] = [list(r) for r in new_rows]
    con.close()
    return obs


def digest(obs: dict) -> str:
    """Run-independent digest of a call's outputs (no run ids or times)."""
    keys = ("rc", "summary", "verdicts", "ledger_new", "manifest_rows", "changed_rows", "out_rows")
    blob = json.dumps({k: obs[k] for k in keys if k in obs}, sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def pinned_digest(obs: dict) -> str:
    """The part of a validate_full call pinned per fixture: per-rule
    counts in ``summary_csv`` and the per-part verdicts."""
    blob = json.dumps({"summary": obs["summary"], "verdicts": obs["verdicts"]}, sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def check(w: Workload, meta: dict, obs: dict, expected: dict | None) -> list[str]:
    """Every mismatch between a call's outputs and what they must be.

    ``expected`` is the pin for this workload and fixture (``expected.json``),
    or None when the fixture has no pin, which is itself a failure."""
    errs: list[str] = []
    parts = meta["oracle"]["parts"]
    total = sum(parts.values())
    if expected is None:
        errs.append(f"no pinned expectation for fixture {meta['key']}")
    if w.job == "transform":
        if obs["rc"] != 0:
            errs.append(f"rc {obs['rc']} != 0")
        if obs["manifest_rows"] != total:
            errs.append(f"manifest rows {obs['manifest_rows']} != input rows {total}")
        if obs["out_rows"] != total:
            errs.append(f"output rows {obs['out_rows']} != input rows {total}")
        if expected is not None and obs["changed_rows"] != expected["changed_rows"]:
            errs.append(f"changed rows {obs['changed_rows']} != pinned {expected['changed_rows']}")
        return errs
    if w.resume:
        held_out = sorted(parts)[-PENDING_DAYS:]
        if obs["rc"] != 0:
            errs.append(f"rc {obs['rc']} != 0")
        if sorted(obs["verdicts"]) != held_out:
            errs.append(f"validated parts {sorted(obs['verdicts'])} != pending {held_out}")
        want = [[p, "PASSED", parts[p]] for p in held_out]
        if obs["ledger_new"] != want:
            errs.append(f"new ledger rows {obs['ledger_new']} != {want}")
        if expected is not None and digest(obs) != expected["digest"]:
            errs.append(f"digest {digest(obs)} != pinned {expected['digest']}")
        return errs
    if obs["rc"] != 1:
        errs.append(f"rc {obs['rc']} != 1 (the fixture is dirty)")
    if expected is not None and pinned_digest(obs) != expected["digest"]:
        errs.append(f"summary/verdicts digest {pinned_digest(obs)} != pinned {expected['digest']}")
    by_rule: dict[str, int] = {}
    for key, n in obs["summary"].items():
        rule = key.split("|", 1)[1]
        by_rule[rule] = by_rule.get(rule, 0) + n
    for rule, n in meta["oracle"]["rules"].items():
        if by_rule.get(rule, 0) != n:
            errs.append(f"{rule}: {by_rule.get(rule, 0)} violations, DuckDB counts {n}")
    ledger_rows = {p: r for p, _, r in obs["ledger_new"]}
    if ledger_rows != parts:
        errs.append(f"ledger rows per part {ledger_rows} != DuckDB {parts}")
    return errs


def turns_processed(w: Workload, meta: dict) -> int:
    """Turns one call validates (pending days only for resume) or
    transforms."""
    parts = meta["oracle"]["parts"]
    days = sorted(parts)[-PENDING_DAYS:] if w.resume else parts
    return sum(parts[p] for p in days)


def load_expected(path: Path, w: Workload, fx: Fixture) -> dict | None:
    if not path.exists():
        return None
    with open(path) as fh:
        return json.load(fh).get(w.name, {}).get(fx.key)
