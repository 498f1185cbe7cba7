"""SparkSession factory.

The reference runs everything serially in one Python process (Airflow
SequentialExecutor — reference ``docker/airflow/airflow.cfg:24``); here a
single SparkSession is the engine. Defaults are chosen for correctness
parity with the DuckDB oracle (UTC session timezone — the reference's
Airflow default tz, ``docker/airflow/airflow.cfg:18``) and for scale
(AQE on, Arrow on, shuffle partitions sized to the local core count
rather than the 200 default — on a real cluster this is overridden to
~2-3x total executor cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The driver JVM's tiered-JIT profile: the C2 (tier-4) thresholds at
# 4x the HotSpot defaults (5000 / 600 / 15000 / 40000), so control-plane
# code that runs a few thousand times per session stays in C1 while hot
# kernels still reach C2. Nothing else about the JVM changes.
#
# Why: the engine runs short sessions (land a shard, make it
# searchable, serve a few requests), and most of their CPU is outside
# Spark tasks, in JIT compilation first of all: with the defaults the
# driver spent about 20 s compiling inside retrieval_serve's 33 CPU s
# index set-up. The Spark jobs, stages and tasks are the same with and
# without the profile; only the compiling changes.
#
# Measured trade (4 vCPUs, perfbench, 10 alternating pairs): 4x cut
# retrieval_serve set-up CPU by 18 % and CPU per request pair by 17 %,
# and query_sweep CPU per pass by 14 %; ANN/BM25 p50 stayed inside the
# defaults' range, and the warm sf0.1 minimums moved by +2 % in sum.
# 10x and 30x cut more CPU (set-up -26 % and -31 %) but made requests
# slower: ANN p50 +7 % and warm minimums +10 % at 10x, query_sweep pass
# wall +15 % at 30x. 4x with the back-edge threshold left at its
# default, or 2x, saved less CPU for no better latency.
#
# Rejected: C1-only (-XX:TieredStopAtLevel=1). It halves CPU per pass,
# but hot kernels never reach C2, so every warm request gets slower
# (sf0.1 warm minimums: q_simhash 0.31 -> 1.17 s, q_ann_recall
# 0.39 -> 0.95 s). A profile is judged on latency and CPU together.
#
# What does NOT get the profile: a session the caller built with
# SparkSession.builder (``__spark_entry__`` accepts any session), a JVM
# that is already running when get_spark is called (JVM options only
# apply at launch), and executors on a cluster (this sets driver
# options only).
JIT_PROFILE = (
    "-XX:Tier4InvocationThreshold=20000",
    "-XX:Tier4MinInvocationThreshold=2400",
    "-XX:Tier4CompileThreshold=60000",
    "-XX:Tier4BackEdgeThreshold=160000",
)

_JAVA_OPTS = "spark.driver.extraJavaOptions"

# Ceiling of the default driver heap: in local mode the heap is the
# cluster memory, and text-heavy operators GC-thrash at Spark's 1g.
_MAX_DEFAULT_HEAP_MB = 48 << 10


def driver_memory(env: dict[str, str] | None = None, phys_bytes: int | None = None) -> str:
    """The driver heap ``get_spark`` launches with:
    ``SPARK_GRAFT_DRIVER_MEM`` when set, else half of physical memory
    capped at 48g (in MiB, at least 1g). A fixed 48g default let G1
    grow the heap past what a 16 GB host holds, and the kernel's OOM
    killer ended the JVM."""
    env = os.environ if env is None else env
    if env.get("SPARK_GRAFT_DRIVER_MEM"):
        return env["SPARK_GRAFT_DRIVER_MEM"]
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    half_mb = phys_bytes // 2 >> 20
    return f"{max(1024, min(half_mb, _MAX_DEFAULT_HEAP_MB))}m"


def driver_java_options(extra_conf: dict[str, str] | None) -> str:
    """``JIT_PROFILE`` followed by the caller's own
    ``spark.driver.extraJavaOptions``: HotSpot takes the last value of
    a repeated ``-XX`` flag, so the caller's flags win."""
    caller = (extra_conf or {}).get(_JAVA_OPTS, "").strip()
    return " ".join([*JIT_PROFILE, caller] if caller else JIT_PROFILE)


def get_spark(
    app_name: str = "tia_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so the same entry point serves tests, bench, and the driver harness;
    on a cluster, pass ``master=None`` with ``spark.master`` preset.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Local mode = driver-only: its heap is the cluster memory,
        # sized to the host (only effective before the JVM starts).
        .config("spark.driver.memory", driver_memory())
        # Event-time parity: the oracle (DuckDB) and the reference (Airflow
        # UTC) both treat timestamps as UTC wall clock.
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: runtime shuffle-partition coalescing, skew-join splitting,
        # and broadcast conversion — the 100 TB posture is "declare the
        # plan, let the runtime re-plan".
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Never use the bypass-merge shuffle writer: it opens one file
        # PER REDUCE PARTITION per map task (M·R creates+deletes per
        # shuffle — 1024 for a 32×32 shuffle), and thread dumps showed
        # map tasks spending most of their runtime in
        # FileOutputStream.open from DiskBlockObjectWriter (round-11
        # profiling; a 32-partition groupBy wave dropped 0.58s → 0.28s
        # with the sort writer's single spill file + index per task).
        # At cluster scale reduce counts exceed the 200 default anyway,
        # so this also makes local runs exercise the same writer the
        # production path uses.
        .config("spark.shuffle.sort.bypassMergeThreshold", "0")
        # Arrow for every pandas-UDF / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # events.ts is parquet TIMESTAMP(isAdjustedToUTC=false, MICROS);
        # read it as TimestampType (an instant, UTC session tz) rather
        # than TIMESTAMP_NTZ so event-time functions and watermarks
        # apply. Also pinned per-session in catalog._ensure_session_confs
        # for caller-provided sessions.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # render NULL struct fields in to_json (DuckDB parity); also
        # pinned per-session in catalog._ensure_session_confs
        .config("spark.sql.jsonGenerator.ignoreNullFields", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config(_JAVA_OPTS, driver_java_options(extra_conf))
    )
    for k, v in (extra_conf or {}).items():
        if k != _JAVA_OPTS:
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
