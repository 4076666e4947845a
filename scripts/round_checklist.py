"""One-command runner for the standing per-round verification
checklist (COVERAGE.md, promoted to a script by VERDICT r12 ask #5):

    1. full pytest suite           (must be 0 failed)
    2. driver-contract replay      (fresh process, sf0.01, all
                                    oracle-backed queries exact=True,
                                    zero vacuous)
    3. full-registry sweep at sf1  (scripts/oracle_at_sf.py ALL;
                                    generates /tmp/scale_sf1 first if
                                    missing or stale)
    4. bench                       (sf0.1, 3-pass median; a sitting must
                                    pass BOTH gates — warm-spread
                                    agreement AND the absolute load
                                    canary — and the step retries after
                                    a calm-loadavg wait, bounded by
                                    ROUND_CHECKLIST_BENCH_ATTEMPTS; no
                                    qualifying sitting → NOISE/exit 3)

Usage:
    python scripts/round_checklist.py            # run all four
    python scripts/round_checklist.py suite bench  # a subset
    python scripts/round_checklist.py --dry-run  # print the plan only

Prints one PASS/FAIL table at the end. Exit 0 iff every selected step
passed (bench NOISE — ran clean but didn't qualify — exits 3 so a
caller can distinguish "re-run bench" from "something is broken").
Total runtime for the full list is ~45-50 min, dominated by the suite.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import STEAL_INFLATED, read_proc_stat, steal_fraction  # noqa: E402

# step 2, verbatim from .claude/skills/verify surface 1, with an exit
# code: a fresh process importing __spark_entry__ on a RAW session
# (exercising the footer-gated nanos posture), every oracle-backed
# query compared against DuckDB, failing on any mismatch or vacuous
# (0-row) agreement.
_DRIVER_REPLAY = """
import sys
import __spark_entry__ as e
from pyspark.sql import SparkSession
import duckdb
spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions","8")
         .config("spark.sql.session.timeZone","UTC")
         .config("spark.ui.enabled","false")
         .config("spark.sql.codegen.cache.maxEntries","4000")
         .config("spark.sql.codegen.useIdInClassName","false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
t1 = len(e.entry(spark).collect())
print("t1 rows:", t1)
sf = "/root/testdata/sf0.01"
con = duckdb.connect()
for n in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {n} AS SELECT * FROM read_parquet('{sf}/{n}.parquet')")
bad = []
checked = 0
for name, fn in sorted(e.queries().items()):
    sdf = fn(spark, sf).toPandas()
    sql = e.oracle_sql().get(name)
    if sql is None:
        print(f"  {name}: rows-only {len(sdf)}"); continue
    odf = con.execute(sql).fetch_df()
    cols = sorted(sdf.columns)
    a = sdf[cols].sort_values(by=cols, ignore_index=True)
    b = odf[cols].sort_values(by=cols, ignore_index=True)
    ok = len(a)==len(b) and all(a[c].tolist()==b[c].tolist() for c in cols)
    checked += 1
    if not ok or len(a) == 0:
        bad.append(name)
    print(f"  {name}: rows {len(sdf)}/{len(odf)} exact={ok}")
print(f"checked={checked} bad={bad}")
sys.exit(1 if (bad or t1 <= 0 or checked == 0) else 0)
"""


def _run(cmd: list[str], log_name: str | None = None, **kw) -> subprocess.CompletedProcess:
    # generous per-step ceiling (ADVICE r13: a hung Spark step must not
    # block the runner forever). The slowest legitimate step is the full
    # suite at ~50 min; 2h covers every step with heavy margin.
    timeout = float(os.environ.get("ROUND_CHECKLIST_STEP_TIMEOUT", "7200"))
    try:
        proc = subprocess.run(
            cmd, cwd=REPO, text=True, capture_output=True, timeout=timeout, **kw
        )
    except subprocess.TimeoutExpired as exc:
        out = exc.stdout if isinstance(exc.stdout, str) else (
            exc.stdout.decode(errors="replace") if exc.stdout else "")
        err = exc.stderr if isinstance(exc.stderr, str) else (
            exc.stderr.decode(errors="replace") if exc.stderr else "")
        proc = subprocess.CompletedProcess(
            cmd, returncode=124, stdout=out,
            stderr=(err + f"\n[round_checklist] step timed out after {timeout:.0f}s"),
        )
    # full step output is evidence (e.g. the sf1 sweep log becomes the
    # round's ORACLE_SCALE artifact): dump it when a log dir is set
    log_dir = os.environ.get("ROUND_CHECKLIST_LOG_DIR")
    if log_dir and log_name:
        os.makedirs(log_dir, exist_ok=True)
        with open(os.path.join(log_dir, log_name), "w") as fh:
            fh.write(proc.stdout or "")
            if proc.stderr:
                fh.write("\n==== stderr ====\n")
                fh.write(proc.stderr)
    return proc


def _tail(proc: subprocess.CompletedProcess, lines: int = 12) -> str:
    out = (proc.stdout or "") + (proc.stderr or "")
    return "\n".join(out.strip().splitlines()[-lines:])


def step_suite() -> tuple[str, str]:
    proc = _run([sys.executable, "-m", "pytest", "tests/", "-q"], log_name="suite.log")
    summary = _tail(proc, 2).splitlines()[-1] if proc.stdout else ""
    return ("PASS" if proc.returncode == 0 else "FAIL", summary or _tail(proc))


def step_driver() -> tuple[str, str]:
    proc = _run([sys.executable, "-"], log_name="driver_replay.log", input=_DRIVER_REPLAY)
    lines = [l for l in (proc.stdout or "").splitlines() if l.startswith("checked=")]
    return ("PASS" if proc.returncode == 0 else "FAIL",
            lines[-1] if lines else _tail(proc))


def step_sf1() -> tuple[str, str]:
    scale_dir = os.environ.get("ROUND_CHECKLIST_SF1_DIR", "/tmp/scale_sf1")
    marker = os.path.join(scale_dir, "lineitem.parquet")
    # a missing source tree is a FAIL row, not an uncaught OSError
    # traceback that kills the whole runner (ADVICE r13)
    try:
        stale = not os.path.exists(marker) or (
            os.path.getmtime(marker)
            < os.path.getmtime("/root/testdata/sf0.1/lineitem.parquet")
        )
    except OSError as exc:
        return ("FAIL", f"staleness probe: {exc}")
    if stale:
        # make_scale_data's CLI is OUTDIR [N] — the r14 spelling passed
        # them swapped, which only ever surfaced when /tmp/scale_sf1
        # was missing (every r14 run had it pre-built)
        gen = _run([sys.executable, "scripts/make_scale_data.py", scale_dir, "10"])
        if gen.returncode != 0:
            return ("FAIL", "make_scale_data: " + _tail(gen))
    proc = _run([sys.executable, "scripts/oracle_at_sf.py", scale_dir, "ALL"], log_name="oracle_sf1.log")
    lines = [l for l in (proc.stdout or "").splitlines() if l.startswith("SUMMARY")]
    return ("PASS" if proc.returncode == 0 else "FAIL",
            lines[-1] if lines else _tail(proc))


def _steal_under_load(seconds: float = 4.0) -> float | None:
    """Hypervisor steal fraction measured under a full-width synthetic
    spin load. Steal reads ~0 on an idle VM even when a co-tenant is
    saturating the host (an idle vCPU is never runnable, so nothing can
    be stolen from it — measured r14: 0.0-0.2% idle vs 16.9% during a
    probe window), so a calm-window watcher must generate CPU demand to
    detect the contention that would hit the sitting. None off-Linux."""
    n = os.cpu_count() or 8
    code = (
        f"import time\nt = time.perf_counter() + {seconds}\n"
        "while time.perf_counter() < t: pass"
    )
    before = read_proc_stat()
    if before is None:
        return None
    procs = [
        subprocess.Popen([sys.executable, "-c", code]) for _ in range(n)
    ]
    for p in procs:
        p.wait()
    return steal_fraction(before, read_proc_stat())


def _wait_for_calm(max_wait_s: float, threshold: float = 1.5) -> bool:
    """Poll until the window is genuinely calm — 1-minute loadavg under
    ``threshold`` AND hypervisor steal under a synthetic load at or
    under the bench qualification threshold — bounded by
    ``max_wait_s``. The r13 ad hoc load-gated watcher, promoted into
    the tool (VERDICT r13 ask #6) and upgraded with the steal probe
    (loadavg alone cannot see co-tenant contention)."""
    deadline = time.monotonic() + max_wait_s
    while True:
        if os.getloadavg()[0] < threshold:
            steal = _steal_under_load()
            if steal is None or steal <= STEAL_INFLATED:
                return True
        if time.monotonic() >= deadline:
            return False
        time.sleep(min(30.0, max(1.0, deadline - time.monotonic())))


def step_bench() -> tuple[str, str]:
    """Bench with bounded retry (VERDICT r13 ask #6): a sitting must
    pass BOTH qualification gates (warm-spread agreement + absolute
    load canary, bench.py r14); a clean-but-unqualified sitting is host
    noise, so the step waits for a calm loadavg window and retries up
    to ROUND_CHECKLIST_BENCH_ATTEMPTS (default 3) times before
    reporting NOISE (exit 3 at the top level)."""
    attempts = int(os.environ.get("ROUND_CHECKLIST_BENCH_ATTEMPTS", "3"))
    max_wait = float(os.environ.get("ROUND_CHECKLIST_BENCH_WAIT", "900"))
    detail = ""
    for attempt in range(1, attempts + 1):
        if attempt > 1:
            _wait_for_calm(max_wait)
        proc = _run([sys.executable, "bench.py"], log_name=f"bench_{attempt}.log")
        payload = None
        for line in (proc.stdout or "").splitlines():
            line = line.strip()
            if line.startswith("{"):
                try:
                    payload = json.loads(line)
                except ValueError:
                    pass
        if proc.returncode != 0 or payload is None:
            return ("FAIL", _tail(proc))
        detail = (
            f"total={payload.get('value')}s qualifies={payload.get('qualifies')} "
            f"warm_spread={payload.get('warm_spread')} "
            f"canary_ratio={payload.get('canary_ratio')} "
            f"steal_pct={payload.get('steal_pct')} "
            f"load_inflated={payload.get('load_inflated')} "
            f"pass_totals={payload.get('pass_totals')}"
        )
        if payload.get("errors"):
            return ("FAIL", f"errors={sorted(payload['errors'])} {detail}")
        if payload.get("qualifies"):
            return ("PASS", f"attempt {attempt}/{attempts}: {detail}")
    # every attempt ran clean but none qualified: host noise by
    # BASELINE.md's rule — NOISE (re-run), not FAIL
    return ("NOISE", f"no qualifying sitting in {attempts} attempts; last: {detail}")


STEPS = {
    "suite": ("full pytest suite", step_suite),
    "driver": ("driver-contract replay @ sf0.01", step_driver),
    "sf1": ("full-registry oracle sweep @ sf1", step_sf1),
    "bench": ("bench @ sf0.1 (3-pass median)", step_bench),
}


def main(argv: list[str]) -> int:
    dry = "--dry-run" in argv
    names = [a for a in argv if not a.startswith("-")]
    unknown = [n for n in names if n not in STEPS]
    if unknown:
        print(f"unknown steps {unknown}; available: {list(STEPS)}")
        return 2
    selected = names or list(STEPS)
    if dry:
        for name in selected:
            print(f"would run {name}: {STEPS[name][0]}")
        return 0
    results: list[tuple[str, str, str, float]] = []
    for name in selected:
        title, fn = STEPS[name]
        print(f"== {name}: {title} ...", flush=True)
        t0 = time.perf_counter()
        status, detail = fn()
        results.append((name, status, detail, time.perf_counter() - t0))
        print(f"   {status} ({results[-1][3]:.0f}s) {detail}", flush=True)
    width = max(len(n) for n, *_ in results)
    print("\n== round checklist ==")
    for name, status, detail, secs in results:
        print(f"{name:<{width}}  {status:<5}  {secs:7.0f}s  {detail}")
    if any(s == "FAIL" for _, s, _, _ in results):
        return 1
    if any(s == "NOISE" for _, s, _, _ in results):
        return 3
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
