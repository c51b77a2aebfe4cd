"""One benchmark process: generates fixtures, or times job calls in a
fresh JVM, or makes the traced run.

Started by ``run.py`` with ``PYTHONPATH`` set to the checkout root (the
pandas-UDF workers inherit it), never imported by the engine. Modes:

* ``gen``: write the fixtures of the given slots (untimed by any run);
* ``run``: set up a session, make one cold call, a fixed number of
  warm-up calls and a fixed number of warm calls, check every call's
  outputs;
* ``trace``: like ``run`` with the event log on, then one more call with
  the layer spans installed, then each operator family alone.

The result is one JSON file (``--result``).
"""

from __future__ import annotations

import time

SPAWNED_PERF = time.perf_counter()  # before the heavy imports

import argparse  # noqa: E402
import contextlib  # noqa: E402
import io  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

from perfbench import workloads as W  # noqa: E402

PLAN_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
    "spark.driver.memory",
)


def start_session(cores: int, event_dir: Path | None = None):
    from sgb_data_validator_spark.session import get_spark

    conf = {"spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"]}
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir.resolve().as_uri(),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def reset_peak_rss(pid: int) -> None:
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")  # resets VmHWM to the current RSS


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        kb = int(re.search(r"VmHWM:\s+(\d+) kB", fh.read()).group(1))
    return kb / 1024


def group_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process group: this
    process, the Spark JVM and the Python UDF workers, with their reaped
    children."""
    total = 0
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            f = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(f[2]) == os.getpgrp():
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the host has taken from this machine's CPUs so far."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def session_facts(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "confs": {k: spark.conf.get(k, None) for k in PLAN_CONFS},
        "java": str(jvm.java.lang.System.getProperty("java.version")),
        "spark": spark.version,
    }


class Caller:
    """Prepares, times and checks the calls of one workload in one
    session."""

    def __init__(self, spark, w: W.Workload, fx_dir: Path, work: Path, expected: dict | None):
        self.spark, self.w, self.fx_dir, self.work = spark, w, fx_dir, work
        self.meta = W.load_meta(fx_dir)
        self.expected = expected
        self.pid = jvm_pid(spark)
        self.mod = W.job_module(w)
        self.turns = W.turns_processed(w, self.meta)

    def open_inputs(self) -> None:
        """What a deployed run does before its first action: resolve
        every input table (listing and schema)."""
        from sgb_data_validator_spark.sources.catalog import read_table

        for path in W.inputs(self.w, self.fx_dir).values():
            read_table(self.spark, path)

    def call(self, kind: str, tracer=None) -> dict:
        W.prepare(self.w, self.fx_dir, self.work)
        args = self.mod.parse_args(W.job_argv(self.w, self.fx_dir, self.work))
        reset_peak_rss(self.pid)
        rec: dict = {"kind": kind, "error": None}
        printed = io.StringIO()
        cpu0, steal0 = group_cpu_s(), steal_s()
        t0 = time.perf_counter()
        try:
            with contextlib.redirect_stdout(printed):
                if tracer is None:
                    rc = self.mod.run(self.spark, args)
                else:
                    rc = tracer.run_call(kind, self.mod.run, self.spark, args)
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = group_cpu_s() - cpu0
            rec["steal_s"] = steal_s() - steal0
        except Exception:
            rec["wall_s"] = None
            rec["error"] = traceback.format_exc(limit=8)
            return rec
        rec["peak_rss_mb"] = peak_rss_mb(self.pid)
        rec["written_mb"] = W.written_bytes(self.w, self.fx_dir, self.work) / 1e6
        rec["turns"] = self.turns
        try:
            obs = W.observe(self.w, self.fx_dir, self.work, rc)
        except Exception:
            rec["error"] = "outputs unreadable:\n" + traceback.format_exc(limit=4)
            return rec
        rec["digest"] = W.digest(obs)
        errs = W.check(self.w, self.meta, obs, self.expected)
        if errs:
            rec["error"] = "; ".join(errs)
        rec["observed"] = obs
        return rec


def common_setup(a) -> tuple:
    w = W.WORKLOADS[a.workload]
    expected = W.load_expected(Path(a.expected), w, W.Fixture(**json.loads(a.fixture_spec)))
    event_dir = Path(a.work) / "eventlog" if a.mode == "trace" else None
    spark = start_session(a.cores, event_dir)
    caller = Caller(spark, w, Path(a.fixture), Path(a.work), expected)
    caller.open_inputs()
    # fresh process → session ready and inputs opened; the parent passes
    # its wall clock at spawn so interpreter start-up counts too
    setup_s = time.time() - a.spawned
    return spark, caller, setup_s, event_dir


def mode_run(a) -> dict:
    """A cold call, ``--warmups`` warm-up calls, then ``--repeats`` warm
    calls. No call starts more than ``--seconds`` after the cold call
    started but one warm call, so a host too slow to fit them all still
    ends the run in time."""
    spark, caller, setup_s, _ = common_setup(a)
    out = {"setup_s": setup_s, "calls": [], **session_facts(spark)}
    try:
        t0 = time.perf_counter()
        out["calls"].append(caller.call("cold"))
        for kind in ["warmup"] * a.warmups + ["warm"] * a.repeats:
            if time.perf_counter() - t0 >= a.seconds:
                break
            out["calls"].append(caller.call(kind))
        if a.repeats and out["calls"][-1]["kind"] != "warm":
            out["calls"].append(caller.call("warm"))
    finally:
        spark.stop()
    return out


def family_frames(spark, w: W.Workload, fx_dir: Path, meta: dict) -> dict:
    """Each operator family's public function on the inputs the workload
    validates, as (metric → frame builder)."""
    from pyspark.sql import functions as F

    from sgb_data_validator_spark.operators.drift import drift_violations
    from sgb_data_validator_spark.operators.referential import (
        orphan_violations,
        zero_children_violations,
    )
    from sgb_data_validator_spark.operators.uniqueness import uniqueness_violations
    from sgb_data_validator_spark.operators.windows import (
        opening_role_violations,
        sequence_violations,
    )
    from sgb_data_validator_spark.plans import pipeline
    from sgb_data_validator_spark.sources.catalog import read_table
    from sgb_data_validator_spark.sources.generator import ROLES

    t = {n: read_table(spark, p) for n, p in W.inputs(w, fx_dir).items()}
    turns = t["turns"]
    if w.resume:
        turns = turns.where(F.col("part").isin(sorted(meta["oracle"]["parts"])[-W.PENDING_DAYS:]))
    convs, tools = t["conversations"], t["allowed_tools"]
    # the drift input exactly as compute_violations builds it
    allowed = F.broadcast(tools.select("tool").distinct().withColumn("__tool_ok", F.lit(True)))
    drift_input = (
        turns.where(F.col("role").isin(ROLES) | F.col("role").isNull())
        .join(allowed, "tool", "left")
        .where(F.col("tool").isNull() | F.col("__tool_ok"))
        .drop("__tool_ok")
    )
    return {
        "rules.s": lambda: pipeline.transcript_row_rules().violations(turns),
        "uniqueness.s": lambda: uniqueness_violations(turns),
        "windows.opening_s": lambda: opening_role_violations(turns, ("system",)),
        "windows.sequence_s": lambda: sequence_violations(turns),
        "referential.orphan_s": lambda: orphan_violations(
            turns, convs, "conv_id", "conv_id", "ref.conv_id"
        ).unionByName(orphan_violations(turns, tools, "tool", "tool", "ref.tool")),
        "referential.zero_children_s": lambda: zero_children_violations(
            convs, turns, "conv_id", "conv_id"),
        "drift.s": lambda: drift_violations(drift_input, t["baseline_stats"]),
        "stats.column_stats_s": lambda: pipeline.transcript_stats(turns),
    }


def mode_trace(a) -> dict:
    from perfbench import eventlog, metrics
    from perfbench.tracing import Tracer

    spark, caller, setup_s, event_dir = common_setup(a)
    out = {"setup_s": setup_s, "calls": [], **session_facts(spark)}
    tracer = Tracer(spark.sparkContext)
    families: dict[str, float] = {}
    try:
        out["calls"].append(caller.call("cold"))
        out["calls"].append(caller.call("warm"))
        tracer.install()
        try:
            out["calls"].append(caller.call("traced", tracer))
        finally:
            tracer.uninstall()
        if caller.w.job == "validate":
            for name, build in family_frames(spark, caller.w, caller.fx_dir, caller.meta).items():
                t0 = time.perf_counter()
                build().write.format("noop").mode("overwrite").save()
                families[name] = time.perf_counter() - t0
        out_bytes, out_files = W.tree_size(caller.work / "out")
    finally:
        spark.stop()  # flushes the event log
    groups = eventlog.aggregate(eventlog.read_events(event_dir))
    layers = metrics.layer_metrics(tracer.spans, groups, tracer.plans, a.cores)
    layers["session.start_s"] = setup_s
    cold = out["calls"][0]
    if cold["wall_s"] is not None:
        layers["jobs.cold_s"] = cold["wall_s"]
        layers["session.peak_rss_mb"] = cold["peak_rss_mb"]
    for name in metrics.FAMILIES:
        layers[name] = families.get(name, 0.0)
    layers["pipeline.shared_ratio"] = metrics.family_ratio(layers["pipeline.materialize_s"], families)
    is_validate = caller.w.job == "validate"
    layers["sinks.mb"] = out_bytes / metrics.MB if is_validate else 0.0
    layers["sinks.files"] = out_files if is_validate else 0
    layers["transform.output_mb"] = 0.0 if is_validate else out_bytes / metrics.MB
    layers["transform.files"] = 0 if is_validate else out_files
    warm, traced = out["calls"][1], out["calls"][2]
    if warm["wall_s"] is not None:
        layers["jobs.warm_s"] = warm["wall_s"]
    if warm["wall_s"] is not None and traced["wall_s"] is not None:
        layers["trace.overhead_s"] = traced["wall_s"] - warm["wall_s"]
    if warm.get("digest") != traced.get("digest"):
        traced["error"] = (traced["error"] or "") + (
            f"; traced digest {traced.get('digest')} != untraced {warm.get('digest')}")
    with open(Path(a.work) / "spans.json", "w") as fh:
        json.dump({"spans": tracer.dump(), "plans": tracer.plans}, fh, indent=1)
    out["layers"] = layers
    out["families"] = families
    return out


def mode_pin(a) -> dict:
    """One call per slot of the workload; returns what each observed and
    every check failure other than the missing pin."""
    w = W.WORKLOADS[a.workload]
    spark = start_session(a.cores)
    pins = {}
    try:
        for slot in (int(s) for s in a.slots.split(",")):
            fx = W.Fixture(w.kind, a.n_turns, slot)
            rec = Caller(spark, w, W.fixture_dir(Path(a.state), fx), Path(a.work), None).call("pin")
            pins[fx.key] = {"observed": rec.get("observed"), "error": rec["error"]}
    finally:
        spark.stop()
    return {"pins": pins}


def mode_gen(a) -> dict:
    """Write each slot's fixture; for the clean kind also the pristine
    ledger that holds every day but the last ``PENDING_DAYS`` PASSED."""
    from sgb_data_validator_spark.sources.generator import write_fixture_tables

    spark = start_session(a.cores)
    made = []
    try:
        for slot in (int(s) for s in a.slots.split(",")):
            fx = W.Fixture(a.kind, a.n_turns, slot)
            final = W.fixture_dir(Path(a.state), fx)
            if (final / "meta.json").exists():
                continue
            tmp = final.with_name(final.name + ".tmp")
            shutil.rmtree(tmp, ignore_errors=True)
            t0 = time.perf_counter()
            write_fixture_tables(spark, fx.config(), str(tmp))
            gen_s = time.perf_counter() - t0
            oracle = W.fixture_oracle(tmp)
            if a.kind == "clean" and not make_pristine_ledger(spark, tmp, sorted(oracle["parts"])):
                raise RuntimeError(f"clean fixture {fx.key} fails validation on some day")
            nbytes, nfiles = W.tree_size(tmp / "turns")
            meta = {"key": fx.key, "kind": fx.kind, "slot": slot,
                    "n_turns_config": fx.n_turns, "rows": sum(oracle["parts"].values()),
                    "turns_bytes": nbytes, "turns_files": nfiles, "gen_s": gen_s,
                    "oracle": oracle}
            with open(tmp / "meta.json", "w") as fh:
                json.dump(meta, fh, indent=1)
            shutil.rmtree(final, ignore_errors=True)
            tmp.rename(final)
            made.append(fx.key)
    finally:
        spark.stop()
    return {"made": made}


def make_pristine_ledger(spark, fx_dir: Path, parts: list[str]) -> bool:
    """Validate all but the last ``PENDING_DAYS`` parts with the deployed
    job, so the ledger and sketch store hold them as an earlier daily run
    would have left them. True iff those parts passed and a ``--resume``
    run over a copy then passes the pending ones too."""
    import jobs.validate as V

    w = W.WORKLOADS["validate_resume"]
    base = []
    for flag, path in W.inputs(w, fx_dir).items():
        base += [f"--{flag.replace('_', '-')}", path]
    ledger = fx_dir / "pristine_ledger"
    with contextlib.redirect_stdout(sys.stderr):
        rc = V.run(spark, V.parse_args(base + [
            "--out", str(fx_dir / "_out"), "--ledger", str(ledger),
            "--parts", ",".join(parts[:-W.PENDING_DAYS])]))
        shutil.rmtree(fx_dir / "_out")
        if rc != 0:
            return False
        trial = fx_dir / "_trial"
        W.prepare(w, fx_dir, trial)
        rc = V.run(spark, V.parse_args(W.job_argv(w, fx_dir, trial)))
        shutil.rmtree(trial)
    return rc == 0


def parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="one perfbench process")
    p.add_argument("mode", choices=["gen", "run", "trace", "pin"])
    p.add_argument("--cores", type=int, required=True)
    p.add_argument("--result", required=True)
    p.add_argument("--state")
    p.add_argument("--kind")
    p.add_argument("--n-turns", type=int)
    p.add_argument("--slots")
    p.add_argument("--workload")
    p.add_argument("--fixture")
    p.add_argument("--fixture-spec")
    p.add_argument("--expected")
    p.add_argument("--work")
    p.add_argument("--warmups", type=int, default=0)
    p.add_argument("--repeats", type=int, default=0)
    p.add_argument("--seconds", type=float, default=0)
    p.add_argument("--spawned", type=float)
    return p.parse_args(argv)


def main() -> None:
    a = parse(sys.argv[1:])
    out = {"gen": mode_gen, "run": mode_run, "trace": mode_trace, "pin": mode_pin}[a.mode](a)
    out["worker_s"] = time.perf_counter() - SPAWNED_PERF
    with open(a.result, "w") as fh:
        json.dump(out, fh, indent=1)


if __name__ == "__main__":
    main()
