"""Named-table catalog over the parquet corpus.

The reference declares its two tables once at init
(``docker/postgres/init_db_tables.sh:5-59``) and every pipeline run
addresses them by name; here the catalog maps table names to parquet
scans. Scans are plain ``spark.read.parquet`` so Catalyst keeps full
pushdown freedom (column pruning + predicate pushdown reach the
parquet reader; verify with ``df.explain()`` → ``PushedFilters`` /
``ReadSchema``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# The driver corpus (TESTDATA.md). `posts`/`comments` analogues per
# FIXTURES.md: orders≙posts, lineitem≙comments.
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _ensure_session_confs(spark: SparkSession) -> None:
    """Pin the runtime-settable confs correctness depends on, so the
    engine behaves identically under a caller-provided SparkSession
    (e.g. the grading driver's) that didn't go through
    :func:`tia_data_pipeline_spark.session.get_spark`:

    - UTC session timezone — event-time semantics and the DuckDB
      oracle's naive timestamps agree only in UTC;
    - no NTZ inference — ``events.ts`` is parquet
      TIMESTAMP(isAdjustedToUTC=false, MICROS), which Spark 4 would
      otherwise scan as TIMESTAMP_NTZ; with a UTC session timezone the
      TIMESTAMP reading is value-identical to the oracle's naive
      timestamps, and every event-time operator (``unix_micros``,
      ``window``, watermarks) requires the instant type.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # rebase modes: runtime-settable; CORRECTED keeps any pre-Gregorian
    # timestamp bytes read as written instead of raising under the
    # EXCEPTION default on a bare session (no effect on the modern-
    # writer corpus, pinned for caller-provided sessions anyway)
    spark.conf.set("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
    spark.conf.set("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
    # to_json must render NULL struct fields: Spark's default omits
    # them ({"a":1}) where DuckDB's to_json(struct_pack(...)) keeps
    # them ({"a":1,"b":null}) — divergent on any NULL field in a
    # json-ser output (q_json_ser, q_children_rollup render path)
    spark.conf.set("spark.sql.jsonGenerator.ignoreNullFields", "false")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One table as a DataFrame (lazy parquet scan)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    _ensure_session_confs(spark)
    return spark.read.parquet(table_path(sf_dir, name))


def ensure_table(spark: SparkSession, name: str, path: str, schema=None):
    """`snk-ddl` (reference ``init_db_tables.sh:5-59``): declared-first,
    idempotent table creation — ``CREATE TABLE IF NOT EXISTS`` over a
    parquet location. Re-running is a no-op, like the reference's
    ``IF NOT EXISTS`` heredoc executed on every container init."""
    # a bare driver session must still scan µs-NTZ parquet as
    # TimestampType/UTC (engine-wide scan invariant) — pin before any read
    _ensure_session_confs(spark)
    if not spark.catalog.tableExists(name):
        spark.catalog.createTable(name, path=path, source="parquet", schema=schema)
    return spark.table(name)


def remove_staging(spark: SparkSession, path: str) -> bool:
    """`snk-cleanup` (reference ``posts_pipeline.py:101-106`` rm -rf of
    staging JSON): recursive delete through the Hadoop FS API so it
    works on any filesystem the cluster writes (local, HDFS, object
    stores), not just the driver's local disk."""
    from tia_data_pipeline_spark.operators.scale import hadoop_fs_path

    fs, hadoop_path = hadoop_fs_path(spark, path)
    return bool(fs.delete(hadoop_path, True))
