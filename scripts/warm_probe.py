"""Targeted warm-run probe — the standing adjudication protocol as a tool.

One JVM, N passes over a small query set with ``spark.catalog.clearCache()``
between every run; pass order alternates (forward/reverse) each pass so a
load ramp hits every query from both sides. Reports every pass timing plus
the warm median (passes 2..N — pass 1 carries whole-stage-codegen JIT) and
the host 1-minute loadavg sampled before each pass, so the artifact itself
shows whether the window was calm. Each pass also records how many
classes Spark's code generator compiled and the Janino milliseconds they
took (``CodegenMetrics`` / ``CodeGenerator.compileTime``): a warm pass
should compile next to nothing, so a generated-class cache too small for
the working set shows up as compiles on every pass.

This is the protocol VERDICT r12/r13 used ad hoc for per-query
adjudication ("6 isolated runs, clearCache between, both probe orders");
round 14 makes it reproducible:

    python scripts/warm_probe.py --queries semantic_dedup_survivors,... \
        [--runs 6] [--sf-dir /root/testdata/sf0.1] [--cpus 32]

Output: ONE JSON line
    {"probe": {...per-query pass timings...},
     "warm_median": {...}, "loadavg": [...],
     "codegen_compiles": [...per pass...], "codegen_compile_ms": [...],
     "sf_dir": ...}
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_glue_redshift_datawarehouse_etl_pipeline_spark import queries as q
from aws_glue_redshift_datawarehouse_etl_pipeline_spark.session import get_spark
from bench import read_proc_stat, steal_fraction


def codegen_counters(spark) -> tuple[int, float]:
    """(classes compiled, compile milliseconds) so far in this JVM:
    the count of Spark's ``CodegenMetrics`` compilation-time histogram
    and ``CodeGenerator.compileTime`` (summed nanoseconds). Both are
    JVM-global, and a cache hit adds to neither."""
    jvm = spark._jvm
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    gen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return int(hist.getCount()), gen.compileTime() / 1e6


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True,
                    help="comma-separated registry query names")
    ap.add_argument("--runs", type=int, default=6)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int, default=int(os.environ.get(
        "SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    names = [n.strip() for n in args.queries.split(",") if n.strip()]
    q.register_all()
    unknown = [n for n in names if n not in q.QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = get_spark(app_name="warm-probe", cpus=args.cpus,
                      shuffle_partitions=args.cpus)
    timings: dict[str, list[float]] = {n: [] for n in names}
    errors: dict[str, list[str]] = {}
    loadavgs: list[float] = []
    snaps: list = []
    codegen: list[tuple[int, float]] = []
    # per-query isolation + stop-in-finally (ADVICE r14): one failing
    # query mid-probe must not abort the run and lose every prior pass
    # timing — the error is recorded per pass and the partial JSON is
    # still emitted, mirroring bench.py's own isolation policy.
    try:
        for pass_no in range(args.runs):
            loadavgs.append(round(os.getloadavg()[0], 2))
            snaps.append(read_proc_stat())
            codegen.append(codegen_counters(spark))
            order = names if pass_no % 2 == 0 else list(reversed(names))
            for name in order:
                spark.catalog.clearCache()
                start = time.perf_counter()
                try:
                    q.QUERIES[name](spark, args.sf_dir).write.format(
                        "noop").mode("overwrite").save()
                    timings[name].append(
                        round(time.perf_counter() - start, 4))
                except Exception as exc:  # noqa: BLE001 — probe must emit JSON
                    errors.setdefault(name, []).append(
                        f"pass {pass_no + 1}: "
                        f"{type(exc).__name__}: {exc}"[:500])
        snaps.append(read_proc_stat())
        codegen.append(codegen_counters(spark))
    finally:
        spark.stop()
    # per-pass hypervisor steal — the contention signal loadavg can't
    # see (bench.py r14); a pass with >5% steal is externally contended
    pass_steal = [
        steal_fraction(snaps[i], snaps[i + 1]) for i in range(len(snaps) - 1)
    ]
    out = {
        "probe": timings,
        "warm_median": {
            n: round(statistics.median(t[1:]), 4) if len(t) > 1 else None
            for n, t in timings.items()
        },
        "runs": args.runs,
        "loadavg": loadavgs,
        "pass_steal_pct": [
            round(s, 4) if s is not None else None for s in pass_steal
        ],
        "codegen_compiles": [
            b[0] - a[0] for a, b in zip(codegen, codegen[1:])
        ],
        "codegen_compile_ms": [
            round(b[1] - a[1], 1) for a, b in zip(codegen, codegen[1:])
        ],
        "sf_dir": args.sf_dir,
    }
    if errors:
        out["errors"] = {k: " | ".join(v) for k, v in errors.items()}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
