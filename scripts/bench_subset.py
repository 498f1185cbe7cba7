#!/usr/bin/env python
"""Profile a NAMED SUBSET of contract queries — the bisection harness
for bench-cluster regressions (VERDICT r8 #8): when a family of
queries drifts (e.g. the round-8 n-gram document cluster), re-running
the full 133-query protocol per hypothesis takes ~an hour; this
measures just the named queries under the exact bench protocol
(clearCache-before-build, 1 warm-up + min of ≤3 runs, noop sink,
sync+cleanup of temp index dirs) and can dump each query's optimized
plan with cost stats for side-by-side diffing across commits.

Usage:
  python scripts/bench_subset.py q_dsir_weights q_boilerplate \
      [--sf-dir /root/testdata/sf0.1] [--explain-dir /tmp/plans] \
      [--repeat 2]

Prints one JSON line per repeat:
  {"queries": {name: {"min", "warm", "n"}, ...}, "host_load": [...],
   "jit_ms": ..., "codegen_compiles": ..., "codegen_ms": ...}
``host_load`` is os.getloadavg() before/after — record it: same-code
totals swing 1.15-1.7× with neighbor load (BASELINE.md), so a cluster
reading is only meaningful next to a quiet-host control. ``jit_ms`` is
the driver JVM's cumulative JIT compile time (``CompilationMXBean``)
at the end of the repeat: with the warm minimums it shows a JIT
profile's trade between compile work and steady-state speed.
``codegen_compiles`` / ``codegen_ms`` are the cumulative Janino
compilations of generated classes and their summed milliseconds
(``CodegenMetrics.METRIC_COMPILATION_TIME``); a warm repeat that still
compiles is thrashing Spark's codegen cache. The histogram keeps a
reservoir of 1028 samples, so past that many compilations ``codegen_ms``
is the reservoir mean times the count.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def codegen_compilations(jvm) -> tuple[int, int]:
    """(count, total ms) of the driver JVM's Janino compilations so far."""
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n = hist.getCount()
    snap = hist.getSnapshot()
    values = list(snap.getValues())
    total = sum(values) if len(values) == n else snap.getMean() * n
    return n, round(total)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+", help="contract query names (q_*)")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--explain-dir",
        default=None,
        help="dump each query's explain('cost') to <dir>/<name>.txt",
    )
    ap.add_argument("--repeat", type=int, default=1)
    args = ap.parse_args()

    import bench
    from tia_data_pipeline_spark import plans
    from tia_data_pipeline_spark.session import get_spark

    unknown = [n for n in args.queries if n not in plans.REGISTRY]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    spark = get_spark(app_name="bench_subset")
    jit = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JIT warm-up

    if args.explain_dir:
        os.makedirs(args.explain_dir, exist_ok=True)

    from tia_data_pipeline_spark.plans.contract import TEMP_DERIVATION_DIRS

    for _ in range(args.repeat):
        load0 = os.getloadavg()
        results = {}
        for name in args.queries:
            q = plans.REGISTRY[name]
            mark = len(TEMP_DERIVATION_DIRS)
            try:
                results[name] = bench.bench_query(spark, q, args.sf_dir)
                if args.explain_dir:
                    buf = io.StringIO()
                    with contextlib.redirect_stdout(buf):
                        q.build(spark, args.sf_dir).explain("cost")
                    with open(
                        os.path.join(args.explain_dir, f"{name}.txt"), "w"
                    ) as fh:
                        fh.write(buf.getvalue())
            except Exception as exc:  # noqa: BLE001 — record, don't abort
                print(f"{name} failed: {exc}", file=sys.stderr)
                results[name] = {"min": -1.0, "warm": -1.0, "n": 0}
            finally:
                import shutil

                for d in TEMP_DERIVATION_DIRS[mark:]:
                    shutil.rmtree(d, ignore_errors=True)
                del TEMP_DERIVATION_DIRS[mark:]
        codegen = codegen_compilations(spark.sparkContext._jvm)
        print(
            json.dumps(
                {
                    "queries": results,
                    "sf_dir": args.sf_dir,
                    "host_load": [round(x, 2) for x in (*load0, *os.getloadavg())],
                    "jit_ms": jit.getTotalCompilationTime(),
                    "codegen_compiles": codegen[0],
                    "codegen_ms": codegen[1],
                },
                separators=(",", ":"),
            )
        )


if __name__ == "__main__":
    main()
