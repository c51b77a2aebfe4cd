"""Deployed-job benchmark: times ``jobs/validate.run`` (full and
``--resume``) and ``jobs/transform.run`` on generated fixtures.

    python3 perfbench/run.py --workload validate_full --seed 0 --seconds 10 --trace 0

Closed loop, one client: one job call at a time in a ``local[N]``
session, N = the cores this process may use. Every call's outputs are
checked. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
makes the separate traced run and reports the per-layer metrics. The
last line of standard output is one JSON object; the lines before it
print every metric by name and unit. A record of the run (host
fingerprint, fixture, every call) is written under ``.perfbench/records``.
Run it from the root of a checkout of the repository.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench import workloads as W  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER, WALLS  # noqa: E402

STATE = ROOT / ".perfbench"
EXPECTED = ROOT / "perfbench" / "expected.json"
RUN_LIMIT_S = 150  # a run must end within 180 s, worker clean-up included
GEN_LIMIT_S = 800  # the first run in a checkout also generates fixtures
# get_spark reads SPARK_DRIVER_MEMORY (default 8g). With 8g the JVM
# touches more memory per call, and on a shared 4-core host peak RSS and
# cold-call walls spread about twice as wide as with 2g, which is ample
# for these fixtures.
DRIVER_MEMORY = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def child_env(n_cores: int) -> dict[str, str]:
    tmp = STATE / "tmp"
    (tmp / "local").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update({
        # Python UDF workers import the package from the checkout no
        # matter the caller's working directory
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "SPARK_LOCAL_DIRS": str(tmp / "local"),
        "TMPDIR": str(tmp),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_DRIVER_JAVA_OPTIONS": f"-XX:ReservedCodeCacheSize=512m -Djava.io.tmpdir={tmp}",
        "SPARK_GRAFT_CPUS": str(n_cores),
    })
    return env


def _group_alive(pgid: int) -> bool:
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def spawn(argv: list[str], log: Path, env: dict, timeout: float) -> int:
    """Run one worker in its own process group; afterwards make sure the
    whole group (the JVM, Python UDF workers) has ended."""
    with open(log, "w") as fh:
        p = subprocess.Popen(argv, cwd=ROOT, env=env, stdout=fh, stderr=subprocess.STDOUT,
                             start_new_session=True)
        rc = -1
        try:
            rc = p.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            pass
        finally:  # also when this process is told to stop
            deadline = time.time() + 10
            while _group_alive(p.pid):
                if rc == -1 or time.time() > deadline:
                    try:
                        os.killpg(p.pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                time.sleep(0.2)
            p.wait()
    return rc


def worker(mode: str, result: Path, n_cores: int, env: dict, timeout: float, **kw) -> dict:
    argv = [sys.executable, "-m", "perfbench.worker", mode,
            "--cores", str(n_cores), "--result", str(result)]
    for k, v in kw.items():
        argv += [f"--{k.replace('_', '-')}", str(v)]
    argv += ["--spawned", repr(time.time())]
    result.unlink(missing_ok=True)
    rc = spawn(argv, result.with_suffix(".log"), env, timeout)
    if rc != 0 or not result.exists():
        tail = result.with_suffix(".log").read_text(errors="replace")[-3000:]
        return {"error": f"{mode} worker exited {rc}:\n{tail}"}
    with open(result) as fh:
        return json.load(fh)


def ensure_fixture(fx: W.Fixture, env: dict, n_cores: int) -> Path:
    """Generate every slot of the fixture's kind and size on first use."""
    d = W.fixture_dir(STATE, fx)
    if not (d / "meta.json").exists():
        d.parent.mkdir(parents=True, exist_ok=True)
        slots = ",".join(str(s) for s in range(W.FIXTURE_SLOTS))
        res = worker("gen", d.parent / f"gen-{fx.kind}-n{fx.n_turns}.json", n_cores, env,
                     GEN_LIMIT_S, state=STATE, kind=fx.kind, n_turns=fx.n_turns, slots=slots)
        if "error" in res or not (d / "meta.json").exists():
            sys.exit(f"fixture generation failed: {res.get('error', 'no meta.json')}")
    return d


def source_digest() -> str:
    h = hashlib.sha256()
    for base in ("sgb_data_validator_spark", "jobs"):
        for p in sorted((ROOT / base).rglob("*.py")):
            h.update(p.relative_to(ROOT).as_posix().encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def fingerprint(n_cores: int, session: dict, load_start, load_end) -> dict:
    return {
        "nproc": n_cores,
        "cpu_count": os.cpu_count(),
        "python": platform.python_version(),
        "pyspark": session.get("spark"),
        "java": session.get("java"),
        "git_sha": git_sha(),
        "source_digest": source_digest(),
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        "spark_confs": session.get("confs"),
    }


def calls_of(results: list[dict]) -> list[dict]:
    out = []
    for r in results:
        if "error" in r and "calls" not in r:
            out.append({"kind": "worker", "wall_s": None, "error": r["error"]})
        out.extend(r.get("calls", []))
    return out


def ok(c: dict) -> bool:
    return c["error"] is None and c["wall_s"] is not None


def median_or_none(xs):
    return statistics.median(xs) if xs else None


def end_to_end(results: list[dict]) -> dict:
    calls = [c for c in calls_of(results) if ok(c)]
    cold = [c for c in calls if c["kind"] == "cold"]
    warm = [c for c in calls if c["kind"] == "warm"]
    return {
        "setup_s": median_or_none([r["setup_s"] for r in results if "setup_s" in r]),
        "job_cpu_s": median_or_none([c["cpu_s"] for c in cold]),
        "warm_cpu_s": median_or_none([c["cpu_s"] for c in warm]),
        "written_mb": median_or_none([c["written_mb"] for c in calls]),
    }


def walls(results: list[dict]) -> dict:
    """The wall times of the calls. Printed and recorded, not reported as
    metrics: on a shared host they spread too wide to gate."""
    calls = [c for c in calls_of(results) if ok(c)]
    cold = median_or_none([c["wall_s"] for c in calls if c["kind"] == "cold"])
    warm = median_or_none([c["wall_s"] for c in calls if c["kind"] == "warm"])
    return {
        "job_s": cold,
        "warm_job_s": warm,
        "turns_per_s": calls[0]["turns"] / warm if warm else None,
    }


def per_layer(trace: dict, scale: dict, n_cores: int) -> dict:
    layers = dict(trace.get("layers", {}))
    cold = [c for c in trace.get("calls", []) if c["kind"] == "cold" and ok(c)]
    one = [c for c in scale.get("calls", []) if c["kind"] == "cold" and ok(c)]
    if cold and one:
        # turns_per_s at local[N] / (N × turns_per_s at local[1])
        layers["spark.scaling_eff"] = one[0]["wall_s"] / (n_cores * cold[0]["wall_s"])
    return layers


def stop(signum, frame):
    raise SystemExit(f"perfbench: stopped by signal {signum}")


def main(argv: list[str]) -> int:
    # a SIGTERM unwinds through spawn(), which ends the worker's group
    signal.signal(signal.SIGTERM, stop)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--n-turns", type=int, default=None,
                   help="fixture size override (tests use a tiny one)")
    a = p.parse_args(argv)
    if not (ROOT / "sgb_data_validator_spark" / "session.py").is_file() or not (
        ROOT / "jobs" / "validate.py"
    ).is_file():
        print("perfbench: run from a checkout of the repository (package and jobs/ missing)",
              file=sys.stderr)
        return 2
    started = time.time()
    load_start = os.getloadavg()
    n = cores()
    env = child_env(n)
    w = W.WORKLOADS[a.workload]
    fx = w.fixture(a.seed, a.n_turns)
    fx_dir = ensure_fixture(fx, env, n)
    meta = W.load_meta(fx_dir)

    run_id = f"{time.strftime('%Y%m%dT%H%M%S')}-{w.name}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    run_dir = STATE / "runs" / run_id
    run_dir.mkdir(parents=True)
    common = dict(workload=w.name, fixture=fx_dir, expected=EXPECTED,
                  fixture_spec=json.dumps({"kind": fx.kind, "n_turns": fx.n_turns, "slot": fx.slot}))
    t0 = time.time()

    def remaining() -> float:
        return RUN_LIMIT_S - (time.time() - t0)

    if a.trace:
        trace = worker("trace", run_dir / "trace.json", n, env, remaining(),
                       work=run_dir / "trace", **common)
        scale = worker("run", run_dir / "scale.json", 1, env, remaining(),
                       work=run_dir / "scale", **common)
        results = [trace, scale]
        metrics = per_layer(trace, scale, n)
        wanted = PER_LAYER
    else:
        results = [worker("run", run_dir / "run.json", n, env, remaining(),
                          work=run_dir / "run", warmups=w.warmups, repeats=w.repeats,
                          seconds=a.seconds, **common)]
        metrics = end_to_end(results)
        wanted = END_TO_END

    calls = calls_of(results)
    failed = sum(not ok(c) for c in calls)
    session = next((r for r in results if "confs" in r), {})
    record = {
        "workload": w.name, "why": w.why, "seed": a.seed, "trace": a.trace,
        "seconds": a.seconds, "fixture": {k: meta[k] for k in ("key", "rows", "turns_bytes",
                                                              "turns_files", "gen_s")},
        "host": fingerprint(n, session, load_start, os.getloadavg()),
        "metrics": metrics, "walls": walls(results),
        "attempted": len(calls), "failed": failed,
        "error_rate": failed / max(len(calls), 1), "wall_s": time.time() - started,
        "results": results,
    }
    (STATE / "records").mkdir(parents=True, exist_ok=True)
    with open(STATE / "records" / f"{run_id}.json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    for c in calls:
        if not ok(c):
            print(f"FAILED {c['kind']} call: {c['error']}", file=sys.stderr)
    print(f"# {w.name} seed={a.seed} trace={a.trace} fixture={meta['key']} rows={meta['rows']} "
          f"cores={n} calls={len(calls)} failed={failed}")
    missing = [k for k in wanted if metrics.get(k) is None]
    rows = [(k, metrics.get(k), unit) for k, unit in wanted.items()]
    if not a.trace:
        rows += [(k, record["walls"][k], unit) for k, unit in WALLS.items()]
    rows.append(("error_rate", record["error_rate"], "share"))
    for k, v, unit in rows:
        print(f"{k:32s} {v!s:>24s} {unit}")
    out = {
        "correct": failed == 0 and not missing,
        "attempted": max(len(calls), 1),
        "failed": failed if calls else 1,
        "metrics": {k: {"value": metrics[k], "unit": unit}
                    for k, unit in wanted.items() if k not in missing},
    }
    print(json.dumps(out))
    return 1 if missing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
