#!/usr/bin/env python3
"""The engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload query_sweep --seed 1 --seconds 6 --trace 0

Run from the repository root. The benchmark generates its inputs from
``--seed`` under ``.perfbench_work/`` (deleted on exit), drives
``local[<cores>]`` as one closed-loop client, checks every output
against an independent reference outside the timed region, and prints
as its last stdout line ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it (``detail: {...}``)
carries every figure the run measured, the run environment and any
failed check by name. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("query_sweep", "retrieval_serve")
DRIVER_MEM = "2g"
SETUPS = 3  # warm session set-ups per run; setup_s is their median

# end-to-end metrics, reported with --trace 0 by every workload. Both
# are CPU seconds: op latency and throughput (detail.op_p50_s,
# detail.ops_per_s) carry CPU time stolen by other tenants of a shared
# host, which spread them by up to half their median between seeded
# runs; the CPU the work costs does not.
END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
}

PLAN_MODULES = ("relational", "analytics", "windows", "compat", "llm", "curation")
STREAMING_FNS = (
    "ann_search_batch", "bm25_topk_batch", "text_index_append_batch", "ivf_append_batch",
)
FAMILIES = ("text", "ivf")
SETUP_BUILDERS = ("ivf_build_index", "ivf_write_index", "build_text_index")
SELF_LAYERS = ("op", "session", "catalog", "plans", "pipelines", "streaming", "operators")
ENGINE = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("job_s", "s"),
    ("driver_s", "s"), ("executor_run_s", "s"), ("executor_cpu_s", "s"),
    ("jvm_gc_s", "s"), ("slot_idle_s", "s"), ("shuffle_read_bytes", "B"),
    ("shuffle_write_bytes", "B"), ("spill_bytes", "B"), ("input_records", "count"),
    ("input_records_per_result", "ratio"), ("cached_rdds", "count"),
)


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric, reported with --trace 1 by every
    workload (0 where the workload does not reach that layer)."""
    u = {"session.get_spark_s": "s", "catalog.load_table.calls": "count", "catalog.load_table_s": "s"}
    for m in PLAN_MODULES:
        u[f"plans.{m}.build_s"] = "s"
        u[f"plans.{m}.exec_s"] = "s"
    u["pipelines.posts_pipeline.build_s"] = "s"
    u["pipelines.posts_pipeline.exec_s"] = "s"
    for f in STREAMING_FNS:
        u[f"streaming.{f}_s"] = "s"
        u[f"streaming.{f}.calls"] = "count"
    u["operators.text_index.bm25_search_batch.build_s"] = "s"
    u["operators.side_table_reads_per_request"] = "count"
    for fam in FAMILIES:
        u[f"operators.{fam}.index_delete_s"] = "s"
        u[f"operators.{fam}.index_compact_s"] = "s"
    for b in SETUP_BUILDERS:
        u[f"operators.{b}_s"] = "s"
    for k, unit in ENGINE:
        u[f"engine.{k}"] = unit
    for fam in FAMILIES + ("posts",):
        u[f"storage.{fam}.bytes"] = "B"
        u[f"storage.{fam}.files"] = "count"
    u["storage.bytes_written_per_shard"] = "B"
    u["storage.compact.bytes_rewritten"] = "B"
    for layer in SELF_LAYERS:
        u[f"self.{layer}_s"] = "s"
    u["trace.self_over_wall"] = "ratio"
    u["trace.op_p50_s"] = "s"
    return u


class Run:
    """What a workload hands back: measured values by name, plus the
    outcome of every op and correctness check."""

    def __init__(self):
        self.values: dict[str, float] = {}
        self.detail: dict = {}
        self.ops_attempted = 0
        self.ops_failed = 0
        self.checks: list[tuple[str, bool, str]] = []

    def check(self, name: str, ok: bool, info: str = "") -> bool:
        self.checks.append((name, bool(ok), info))
        return bool(ok)


def pin_env(work: str) -> dict:
    """Pin the run environment: cores, driver heap, scratch dirs, and a
    PYTHONPATH that lets Spark's Python workers import the package and
    the benchmark's own fetcher."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        TMPDIR=tmp,
        # every JVM (the launcher and the driver): temp files under the
        # work dir, and no perf-counter file in the system temp dir
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return cores


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update({
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000000",
            "spark.sql.ui.retainedExecutions": "100",
        })
    return conf


def stop_spark_and_jvm() -> None:
    """Stop the session, then the gateway JVM pyspark launched, and
    wait for it (its Python workers die with it)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def start_session(workload: str, conf: dict, run: Run):
    """``get_spark`` plus a first action, ``SETUPS + 1`` times. The
    first launches the JVM; each later one stops the session and starts
    a new one in that JVM, the set-up a run can repeat. ``setup_s`` is
    the median CPU of the repeated ones; the cold start is in detail."""
    from spans import median, tree_cpu_s
    from tia_data_pipeline_spark import session

    cpu, spark = [], None
    for _ in range(SETUPS + 1):
        if spark is not None:
            spark.stop()
        c0 = tree_cpu_s()
        spark = session.get_spark(app_name=f"perfbench-{workload}", extra_conf=conf)
        spark.range(1000).selectExpr("sum(id)").collect()
        cpu.append(tree_cpu_s() - c0)
    run.values["setup_s"] = median(cpu[1:])
    run.detail.update(setup_cold_cpu_s=cpu[0], session_setup_cpu_s=cpu[1:])
    return spark


def environment(cores: int) -> dict:
    import duckdb
    import pyspark

    return {
        "cores": cores,
        "driver_mem": DRIVER_MEM,
        "spark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "tia_data_pipeline_spark", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cores = pin_env(work)
    sys.path[:0] = [ROOT, HERE]

    from spans import Tracer

    import layers

    tracer = Tracer(enabled=args.trace == 1)
    if tracer.enabled:
        layers.install(tracer)
    load_start = os.getloadavg()
    run = Run()
    try:
        if args.workload == "query_sweep":
            import sweep as workload
        else:
            import serve as workload
        t_start = time.monotonic()
        spark = start_session(args.workload, spark_conf(work, tracer.enabled), run)
        tracer.sc = spark.sparkContext
        workload.run(args, work, tracer, run, spark)
        run.detail["run_wall_s"] = time.monotonic() - t_start
    finally:
        try:
            stop_spark_and_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            parent = os.path.dirname(work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)

    run.detail["env"] = dict(
        environment(cores),
        load_start=[round(x, 2) for x in load_start],
        load_end=[round(x, 2) for x in os.getloadavg()],
    )
    failed_checks = [f"{n}: {info}" for n, ok, info in run.checks if not ok]
    attempted = run.ops_attempted + len(run.checks)
    failed = run.ops_failed + len(failed_checks)
    run.detail["error_rate"] = failed / attempted if attempted else 1.0
    run.detail["failed_checks"] = failed_checks
    units = per_layer_units() if tracer.enabled else END_TO_END
    metrics = {k: {"value": run.values.get(k, 0.0), "unit": u} for k, u in units.items()}
    print("detail: " + json.dumps(run.detail, sort_keys=True, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
