#!/usr/bin/env python3
"""The engine's benchmark: one workload per run, in a fresh process.

    python3 perfbench/run.py --workload warehouse_etl --seed 1 --seconds 20 --trace 0

Run from the repository root. Each run starts one Spark driver
(``local[n]``, n = the host's cores, at most 4; shuffle partitions = n;
a fixed 1.5 GiB driver heap, initial size equal to maximum), warms up,
times a fixed number of units of its workload from one client thread,
checks every output against DuckDB, and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
timed phase twice in the same driver, first with job groups and a
local event log, then without, and prints the per-layer metrics of the
traced phase plus the tracing overhead; it also writes the full
artifact to ``perfbench/out/`` for ``perfbench/diff.py``.

Source trees are generated once per checkout into ``perfbench/.data``.
Spark's local dirs, the event log and the warehouse live in a fresh
directory under ``perfbench/.work`` that is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

# the engine must sit beside the benchmark: fail before any work if not
from aws_glue_redshift_datawarehouse_etl_pipeline_spark.session import get_spark  # noqa: E402
from bench import read_proc_stat, steal_fraction  # noqa: E402

import datagen  # noqa: E402
import harness as H  # noqa: E402
import workloads as W  # noqa: E402

DATA_DIR = os.path.join(HERE, ".data")
WORK_DIR = os.path.join(HERE, ".work")
OUT_DIR = os.path.join(HERE, "out")
MAX_CPUS = 4


def tree(sf: float) -> tuple[str, float]:
    """Path of the generated tree at ``sf`` and the seconds spent
    generating it (0 when it was already there)."""
    path = os.path.join(DATA_DIR, f"sf{sf:g}")
    if os.path.isdir(path):
        return path, 0.0
    start = time.perf_counter()
    os.makedirs(DATA_DIR, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f".sf{sf:g}-", dir=DATA_DIR)
    try:
        datagen.generate(tmp, sf)
        os.rename(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path, time.perf_counter() - start


# name -> (factory(tree) -> workload, minimum units, nominal unit seconds);
# a run times max(minimum, seconds // nominal) units
WORKLOADS = {
    "warehouse_etl": (lambda tree: W.WarehouseEtl(tree(0.1)), 4, 6.0),
    "curation_sf0.1": (lambda tree: W.Curation(tree(0.1)), 2, 12.0),
}
# a fixed driver heap (initial size = maximum): peak RSS then does not
# depend on how far the collector chose to grow the heap. The heap the
# workload keeps is the traced run's jvm.old_gen_peak_mb.
DRIVER_MEMORY_MB = 1536

END_TO_END_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "job_s": "s", "op_s.p50": "s"}


class Driver:
    """One Spark driver process plus its scratch directory."""

    def __init__(self, work_dir: str, cpus: int):
        self.work_dir = work_dir
        self.cpus = cpus
        self.spark = None
        self.jvm = None
        self.event_dir = os.path.join(work_dir, "events")

    def start(self, trace: bool):
        conf = {
            "spark.driver.memory": f"{DRIVER_MEMORY_MB}m",
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY_MB}m -XX:-UsePerfData "
                f"-Djava.io.tmpdir={self.work_dir}/tmp"
            ),
            "spark.local.dir": os.path.join(self.work_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work_dir, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": str(trace).lower(),
        }
        if trace:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(
            app_name="perfbench", cpus=self.cpus, shuffle_partitions=self.cpus,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = self.spark.sparkContext._gateway.proc
        return self.spark

    def event_log(self, app_id: str) -> str:
        return os.path.join(self.event_dir, app_id)

    def stop_session(self) -> None:
        self.spark.stop()
        self.spark = None

    def shutdown(self) -> None:
        """Stop Spark and the JVM, and wait until the JVM has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.stop_session()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self.jvm is not None:
            self.jvm.stdin.close()
            try:
                self.jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait(timeout=60)


def timed_phase(workload, env: W.Env, units: int) -> dict:
    env.probe.reset_heap_peak()
    stat0 = read_proc_stat()
    unit_s = workload.run(env, units)
    steal = steal_fraction(stat0, read_proc_stat())
    return {"unit_s": unit_s, "job_s": sum(unit_s), "steal": steal,
            "old_gen_peak_mb": env.probe.old_gen_peak_mb()}


def end_to_end(rec: H.Recorder, phase: dict, setup_s: float, rss_mb: float) -> dict:
    ok = [op.seconds for op in rec.ops if op.ok]
    return {
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
        "job_s": phase["job_s"],
        "op_s.p50": H.percentile(ok, 0.5),
    }


def tally(recs: list[H.Recorder]) -> tuple[int, int]:
    """(operations attempted, operations failed) over the recorders."""
    ops = [op for rec in recs for op in rec.ops]
    return len(ops), sum(1 for op in ops if not op.ok)


def per_layer(workload, rec: H.Recorder, phase: dict, exec_tot: H.ExecTotals,
              session_s: float, untraced_job_s: float, probe: H.SparkProbe) -> dict:
    """Per-unit totals, per-call medians and counts of the traced phase.
    Layers a workload does not exercise read 0."""
    units = len(phase["unit_s"])
    spans, counts = rec.spans, rec.counts
    ok = [op for op in rec.ops if op.ok]

    def secs(*kinds: str) -> list[float]:
        return [op.seconds for op in ok if op.kind in kinds]

    def per_unit(v: float) -> float:
        return v / units

    out = {
        "session.get_spark_s": session_s,
        "queries.construct_s": per_unit(sum(spans["queries.construct_s"])),
        "queries.action_s": per_unit(sum(spans["queries.action_s"])),
        "spark.jobs": per_unit(counts["spark.jobs"]),
        "spark.stages": per_unit(exec_tot.stages),
        "spark.tasks": per_unit(exec_tot.tasks),
        "exec.run_s": per_unit(exec_tot.run_s),
        "exec.cpu_s": per_unit(exec_tot.cpu_s),
        "exec.gc_s": per_unit(exec_tot.gc_s),
        "exec.shuffle_read_mb": per_unit(exec_tot.shuffle_read_mb),
        "exec.shuffle_write_mb": per_unit(exec_tot.shuffle_write_mb),
        "exec.spill_mb": per_unit(exec_tot.spill_mb),
        "cache.leaked_rdds": per_unit(counts["cache.leaked_rdds"]),
        "jvm.old_gen_peak_mb": phase["old_gen_peak_mb"],
        "check.known_defect_ops": per_unit(sum(1 for op in rec.ops if op.known_defect)),
    }
    for name in H.CATALYST_PHASES:
        out[f"catalyst.{name}_ms"] = per_unit(probe.catalyst_ms.get(name, 0.0))
    for q in W.Curation.QUERIES:
        out[f"op.{q}.construct_s"] = H.median(spans[f"construct.{q}"])
        out[f"op.{q}.jobs"] = H.median(spans[f"jobs.{q}"])
    offered = counts["star_loader.offered"]
    out["star_loader.dimension_s"] = per_unit(sum(secs("load_dim")))
    out["star_loader.fact_s"] = per_unit(sum(secs("load_fact")))
    out["star_loader.rejected_frac"] = counts["star_loader.rejected"] / offered if offered else 0.0
    out["txlog.append_s"] = H.median(spans["txlog.append_s"])
    for kind in ("update", "delete", "merge", "read_head", "read_asof"):
        out[f"txlog.{kind}_s"] = H.median(secs(kind))
    stats = getattr(workload, "stats", None) or [{}]
    for key in ("txlog.versions", "txlog.live_files", "txlog.log_mb", "txlog.stored_bytes_ratio"):
        out[key] = stats[0].get(key, 0.0)
    commits = spans["txlog.append_s"] + secs("update", "delete", "merge")
    out["txlog.commit_s.p50"] = H.median(commits)
    out["txlog.read_s.p50"] = H.median(secs("read_head", "read_asof"))
    out["host.steal_frac"] = phase["steal"] or 0.0
    out["trace.job_s"] = phase["job_s"]
    out["trace.untraced_job_s"] = untraced_job_s
    out["trace.overhead_s"] = phase["job_s"] - untraced_job_s
    return out


def run(workload_name: str, seed: int, seconds: int, trace: bool) -> dict:
    factory, min_units, nominal_s = WORKLOADS[workload_name]
    units = max(min_units, int(seconds // nominal_s))
    cpus = min(MAX_CPUS, H.host_cpus())
    gen_s = 0.0

    def tree_of(sf: float) -> str:
        nonlocal gen_s
        path, spent = tree(sf)
        gen_s += spent
        return path

    workload = factory(tree_of)
    os.makedirs(WORK_DIR, exist_ok=True)
    work_dir = tempfile.mkdtemp(prefix="run-", dir=WORK_DIR)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work_dir, sub))
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    # the launcher JVM that spark-submit starts first would write /tmp/hsperfdata
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None
    driver = Driver(work_dir, cpus)
    try:
        t0 = time.perf_counter()
        spark = driver.start(trace)
        session_s = time.perf_counter() - t0
        probe = H.SparkProbe(spark, trace)
        rec = H.Recorder()
        env = W.Env(spark, probe, rec, random.Random(seed), work_dir, cpus)
        workload.prepare(env)
        setup_s = H.process_age_s() - gen_s
        phase = timed_phase(workload, env, units)
        app_id = spark.sparkContext.applicationId
        workload.check(env)
        recs = [rec]
        if not trace:
            rss = H.peak_rss_mb([os.getpid(), driver.jvm.pid])
            metrics = end_to_end(rec, phase, setup_s, rss)
            units_of = END_TO_END_UNITS
            artifact = None
        else:
            # the same timed phase again, untraced, in a fresh session of
            # the same JVM: the difference in job_s is the tracing overhead
            driver.stop_session()
            exec_tot = H.read_event_log(driver.event_log(app_id), probe.groups)
            spark2 = driver.start(False)
            env2 = W.Env(spark2, H.SparkProbe(spark2, False), H.Recorder(),
                         random.Random(seed), work_dir, cpus)
            workload.prime(env2)
            phase2 = timed_phase(workload, env2, units)
            workload.check(env2)
            recs.append(env2.rec)
            metrics = per_layer(workload, rec, phase, exec_tot, session_s,
                                phase2["job_s"], probe)
            units_of = {k: unit_of(k) for k in metrics}
            artifact = {
                "workload": workload_name, "seed": seed, "seconds": seconds,
                "units": units, "cpus": cpus, "metrics": metrics,
                "samples": {k: len(v) for k, v in rec.spans.items() if v},
                "ops": [op.__dict__ for op in rec.ops + env2.rec.ops],
            }
        attempted, failed = tally(recs)
        known = 0
        for op in (op for r in recs for op in r.ops if not op.ok or op.known_defect):
            label = "KNOWN DEFECT" if op.ok else "FAILED"
            known += op.ok
            print(f"{label} {op.kind} (unit {op.unit}): {op.detail}", file=sys.stderr)
        print(
            f"{workload_name}: setup_s={setup_s:.2f} units={units} ops={attempted} "
            f"failed={failed} known_defect={known} steal={phase['steal'] or 0:.4f} "
            f"unit_s={[round(u, 3) for u in phase['unit_s']]}\n"
            f"ops: {[(op.kind[:12], round(op.seconds, 3)) for op in rec.ops]}",
            file=sys.stderr,
        )
    finally:
        driver.shutdown()
        shutil.rmtree(work_dir, ignore_errors=True)
    missing = [k for k, v in metrics.items() if v is None]
    if missing:
        raise RuntimeError(f"too few samples for {missing}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units_of[k]} for k, v in metrics.items()},
    }
    if artifact is not None:
        os.makedirs(OUT_DIR, exist_ok=True)
        path = os.path.join(OUT_DIR, f"{workload_name}-seed{seed}-trace.json")
        with open(path, "w") as fh:
            json.dump(artifact, fh, indent=1, default=str)
        print(f"artifact: {os.path.relpath(path, ROOT)}", file=sys.stderr)
    return result


def unit_of(name: str) -> str:
    """A per-layer metric's unit, from its name's suffix."""
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_mb", "MB"),
                         ("_frac", "ratio"), ("_ratio", "ratio"), (".p50", "s")):
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
