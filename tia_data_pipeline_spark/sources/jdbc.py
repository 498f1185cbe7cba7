"""JDBC source/sink (SURVEY ops `src-jdbc`, `snk-jdbc-upsert`).

The reference reads its driving keys from Postgres
(``comments_pipeline.py:32-34``) and writes with per-row
``INSERT … ON CONFLICT DO NOTHING`` (``posts_pipeline.py:53-59``).
Engine forms:

- :func:`jdbc_read` — pushdown query read, optionally range-partitioned;
- :func:`jdbc_merge_upsert` — the one write path, exactly once: stage
  the batch, then one atomic ``MERGE … WHEN NOT MATCHED THEN INSERT``
  on the target (the set-based form of the reference's per-row
  ``ON CONFLICT DO NOTHING``). Retried on lock/duplicate-key
  contention, so concurrent writers converge without duplicates
  (requires a primary key on the target, as the reference's DDL has —
  ``init_db_tables.sh:7``).

Integration-tested against Derby, the embedded JDBC database that
ships inside Spark's own jar directory (``tests/test_jdbc_derby.py``);
the same SQL shapes run against Postgres/MySQL in production.
"""

from __future__ import annotations

import time
import uuid
import warnings
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def jdbc_read(
    spark: SparkSession,
    url: str,
    query: str,
    *,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Pushdown query read. With the partition_column bounds set the
    scan parallelizes into range-partitioned queries (the scale path;
    a single unpartitioned JDBC read is a one-task bottleneck)."""
    reader = spark.read.format("jdbc").option("url", url)
    if partition_column is not None and (lower_bound is None or upper_bound is None):
        raise ValueError(
            "partition_column requires lower_bound and upper_bound "
            "(Spark would otherwise fail later parsing the literal 'None')"
        )
    if partition_column is not None:
        # Spark rejects `query` together with `partitionColumn`; the
        # partitioned form must wrap the SQL as a derived table. (The
        # correlation name must not start with '_' — Derby and the SQL
        # standard reject leading underscores in regular identifiers.)
        reader = (
            reader.option("dbtable", f"({query}) AS spark_src")
            .option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    else:
        reader = reader.option("query", query)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


_SQL_TYPES: dict[type, str] = {
    T.LongType: "BIGINT",
    T.IntegerType: "INTEGER",
    T.ShortType: "SMALLINT",
    T.DoubleType: "DOUBLE",
    T.FloatType: "REAL",
    T.BooleanType: "BOOLEAN",
    T.DateType: "DATE",
    T.TimestampType: "TIMESTAMP",
    T.TimestampNTZType: "TIMESTAMP",
    T.StringType: "VARCHAR(4000)",
}

# SQLStates safe to retry during a concurrent merge: lock timeout
# (Derby 40XL1, Postgres 55P03), deadlock (40001, Postgres 40P01), and
# the duplicate-key race (two WHEN NOT MATCHED scans both missing a row
# the other is about to commit — the primary key turns that into 23505
# and the retry's merge then skips it).
_RETRYABLE_SQLSTATES = ("40XL1", "40001", "40P01", "55P03", "23505")


def _sqlstates_of(exc: Exception) -> set[str]:
    """SQLState codes from a py4j-wrapped java exception CHAIN —
    ``getSQLState()`` on each SQLException reached via
    getNextException/getCause links. Message-substring matching alone
    is dead code on Postgres: PSQLException messages ('ERROR: deadlock
    detected') never contain the '40P01' text."""
    states: set[str] = set()
    je = getattr(exc, "java_exception", None)
    for _ in range(10):  # bounded chain walk
        if je is None:
            break
        try:
            state = je.getSQLState()
            if state:
                states.add(str(state))
        except Exception:  # noqa: BLE001 — not an SQLException link
            pass
        nxt = None
        for meth in ("getNextException", "getCause"):
            try:
                cand = getattr(je, meth)()
            except Exception:  # noqa: BLE001
                continue
            if cand is not None and not cand.equals(je):
                nxt = cand
                break
        je = nxt
    return states


def _is_retryable(exc: Exception) -> bool:
    if _sqlstates_of(exc) & set(_RETRYABLE_SQLSTATES):
        return True
    # fallback for drivers that embed the state in the message (Derby)
    msg = str(exc)
    return any(code in msg for code in _RETRYABLE_SQLSTATES)


def _sql_type(dt: T.DataType) -> str:
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    for py_t, sql_t in _SQL_TYPES.items():
        if isinstance(dt, py_t):
            return sql_t
    raise TypeError(f"no JDBC DDL mapping for Spark type {dt}")


def _driver_connection(spark: SparkSession, url: str, properties: dict[str, str] | None = None):
    """A driver-side java.sql.Connection via the JVM gateway — the
    DDL/MERGE control channel (data volume flows through executor JDBC
    writes, never through this connection). ``properties`` carries the
    same credential map the executor writes use (user/password/...), so
    an authenticated target accepts the control channel too."""
    props = spark._jvm.java.util.Properties()
    for k, v in (properties or {}).items():
        props.setProperty(str(k), str(v))
    return spark._jvm.java.sql.DriverManager.getConnection(url, props)


def jdbc_ensure_table(
    spark: SparkSession,
    url: str,
    table: str,
    schema: T.StructType,
    keys: Sequence[str],
    *,
    properties: dict[str, str] | None = None,
) -> None:
    """Idempotent `CREATE TABLE` with a primary key (`snk-ddl` against a
    JDBC target; reference ``init_db_tables.sh:5-22``). The PK is
    load-bearing for concurrent merges: it converts the
    check-then-insert race into a retryable duplicate-key error.
    Column nullability follows the schema (the reference DDL mixes
    NULL and NOT NULL columns, init_db_tables.sh:5-59); key columns
    are forced NOT NULL for the PK."""
    key_set = {k.lower() for k in keys}
    cols = ", ".join(
        f"{f.name} {_sql_type(f.dataType)}"
        + ("" if f.nullable and f.name.lower() not in key_set else " NOT NULL")
        for f in schema.fields
    )
    pk = ", ".join(keys)
    conn = _driver_connection(spark, url, properties)
    try:
        st = conn.createStatement()
        try:
            st.executeUpdate(f"CREATE TABLE {table} ({cols}, PRIMARY KEY ({pk}))")
        except Exception as exc:  # noqa: BLE001 — Derby X0Y32 = already exists
            if "X0Y32" not in str(exc) and "already exists" not in str(exc):
                raise
    finally:
        conn.close()


def jdbc_dialect(url: str) -> str:
    """Dialect tag from the JDBC URL subprotocol (``jdbc:postgresql:…``
    → ``postgresql``). Only the subprotocol is inspected — credentials
    and host never affect statement shape."""
    parts = url.split(":", 2)
    return parts[1].lower() if len(parts) > 1 and parts[0].lower() == "jdbc" else "unknown"


def insert_if_absent_sql(
    url: str, table: str, staging: str, cols: Sequence[str], keys: Sequence[str]
) -> str:
    """The set-based insert-if-absent statement for the target's
    dialect, staging table → target.

    - Standard/Derby (and any MERGE-capable target): ``MERGE … WHEN NOT
      MATCHED THEN INSERT`` — one atomic statement.
    - Postgres: ``INSERT … SELECT … ON CONFLICT (keys) DO NOTHING``.
      The reference targets Postgres 11.4 (``docker-compose.yml``),
      which predates MERGE (added in PG 15); ``ON CONFLICT`` is the
      native equivalent and exactly the reference's own conflict clause
      (``posts_pipeline.py:57``), set-based instead of per-row. Also
      atomic, and the same 23505-retry convergence argument applies.

    Identifier convention (both dialects): Spark's JDBC writer creates
    the staging table with quoted, case-preserved column names, so
    staging references are quoted; the target's DDL identifiers are
    database-normalized, so target references stay bare.
    """
    insert_cols = ", ".join(cols)
    if jdbc_dialect(url) == "postgresql":
        select_cols = ", ".join(f'"{c}"' for c in cols)
        conflict = ", ".join(keys)
        return (
            f"INSERT INTO {table} ({insert_cols}) "
            f"SELECT {select_cols} FROM {staging} "
            f"ON CONFLICT ({conflict}) DO NOTHING"
        )
    on = " AND ".join(f't.{k} = s."{k}"' for k in keys)
    insert_vals = ", ".join(f's."{c}"' for c in cols)
    return (
        f"MERGE INTO {table} t USING {staging} s ON {on} "
        f"WHEN NOT MATCHED THEN INSERT ({insert_cols}) VALUES ({insert_vals})"
    )


def jdbc_merge_upsert(
    incoming: DataFrame,
    url: str,
    table: str,
    keys: Sequence[str],
    *,
    properties: dict[str, str] | None = None,
    batchsize: int = 10_000,
    merge_retries: int = 8,
) -> None:
    """Transactional insert-if-absent: the exactly-once form of the
    reference's ``ON CONFLICT DO NOTHING`` (``posts_pipeline.py:57``).

    Plan: (1) key-dedup the batch and write it to a uniquely-named
    staging table via distributed JDBC appends; (2) one atomic
    ``MERGE INTO target USING staging ON keys WHEN NOT MATCHED THEN
    INSERT`` executed on a driver connection — a single transaction, so
    a retry after any failure re-runs the MERGE and inserts nothing
    twice; (3) drop staging. Lock timeouts, deadlocks, and the
    duplicate-key race under concurrent writers are retried — combined
    with the target's primary key this converges to exactly-once.

    The staging write is the only data-volume path and stays fully
    distributed; the insert-if-absent is set-based inside the database,
    in the target dialect's native statement (MERGE, or Postgres
    ``ON CONFLICT DO NOTHING`` — see :func:`insert_if_absent_sql`).
    """
    if not keys:
        # a keyless merge is meaningless (matches the lakehouse guard);
        # without this the key_ok fold below leaves None and
        # filter(None) raises an opaque TypeError
        raise ValueError("jdbc_merge_upsert requires at least one key column")
    cols = list(incoming.columns)
    staging = f"{table}_stg_{uuid.uuid4().hex[:12]}"
    # PK-targeted merges exclude NULL keys explicitly (the merge-family
    # rule): every JDBC dialect rejects a NULL PK insert, and the
    # failure is NOT in _RETRYABLE_SQLSTATES — one bad record (e.g. a
    # PERMISSIVE-parse NULL id) would otherwise wedge the merge (and a
    # replaying stream) permanently. Dropped rows are data-quality
    # rejects, same as the reference's PK violation would be.
    key_ok = None
    for k in keys:
        c = F.col(k).isNotNull()
        key_ok = c if key_ok is None else (key_ok & c)
    batch = incoming.filter(key_ok).dropDuplicates(list(keys))
    writer = (
        batch.write.format("jdbc")
        .option("url", url)
        .option("dbtable", staging)
        .option("batchsize", str(batchsize))
        .mode("overwrite")
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()

    merge = insert_if_absent_sql(url, table, staging, cols, keys)
    spark = incoming.sparkSession
    try:
        conn = _driver_connection(spark, url, properties)
    except Exception:
        # the staging copy is already written by the executors; without
        # a control connection it cannot be dropped — name it so
        # retried runs don't accumulate full-size _stg_* tables silently
        warnings.warn(
            f"driver connection failed after staging write; {staging} left behind"
        )
        raise
    try:
        st = conn.createStatement()
        try:
            for attempt in range(merge_retries):
                try:
                    st.executeUpdate(merge)
                    break
                except Exception as exc:  # noqa: BLE001
                    if not _is_retryable(exc) or attempt == merge_retries - 1:
                        raise
                    time.sleep(0.05 * (attempt + 1))
        except Exception:
            # non-retryable merge failure: best-effort staging cleanup so
            # failed runs don't accumulate _stg_* copies of the data; the
            # warning names the table when even cleanup fails
            try:
                st.executeUpdate(f"DROP TABLE {staging}")
            except Exception:  # noqa: BLE001
                warnings.warn(f"merge failed AND staging cleanup failed: {staging} left behind")
            raise
        st.executeUpdate(f"DROP TABLE {staging}")
    finally:
        conn.close()
