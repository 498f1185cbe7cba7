"""Lakehouse-table MERGE sink — the file-side transactional form of
``ON CONFLICT DO NOTHING`` / upsert (reference ``posts_pipeline.py:57``,
generalized per SURVEY.md: Delta/Iceberg ``MERGE`` is the table-format
equivalent of the reference's Postgres conflict clause).

The engine already has the RDBMS form (``sources/jdbc.py`` —
``jdbc_merge_upsert`` through a real SQL ``MERGE``); this module is its
counterpart over a data-lake table:

- **Delta path** (production): when the Delta Lake runtime is on the
  classpath, :func:`merge_upsert_table` compiles to a genuine ACID
  ``MERGE`` — snapshot-isolated, optimistic-concurrency checked, and
  scalable (Delta prunes the matched files; only touched files
  rewrite). This sandbox ships no lakehouse jars, so the path is
  exercised only where Delta is installed (the test suite runs it when
  importable, else validates the interface through the fallback).
- **Parquet fallback** (sandbox / jar-less): read-union-overwrite that
  preserves MERGE *semantics* — keyed idempotency, twice ≡ once — but
  not its atomicity. Every fallback rewrite (merge, compaction, both
  deletes) publishes through ``operators.scale.replace_dir``: it stages
  to ``<path>__new`` and swaps it in with two Hadoop-FS renames, which
  shrinks (not eliminates) the window in which a concurrent reader sees
  a missing table, and a failed rename restores the previous table.
  That trade-off is documented here deliberately: the fallback is for
  environments without a table format, not a replacement for one.

Semantics parity with the JDBC tier: ``update_on_match=False`` is the
reference's ``ON CONFLICT DO NOTHING`` (insert-only, existing rows
win); ``True`` is a full upsert (incoming rows win on key collision).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tia_data_pipeline_spark.operators.scale import hadoop_fs_path, replace_dir, write_zordered


def have_delta(spark: SparkSession) -> bool:
    """True when the Delta Lake runtime (python binding + jars) is
    usable in this session."""
    try:
        from delta.tables import DeltaTable  # noqa: F401
    except Exception:
        return False
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("io.delta.tables.DeltaTable")
        return True
    except Exception:
        return False


def table_exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = hadoop_fs_path(spark, path)
    return bool(fs.exists(hpath))


def _merge_delta(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: Sequence[str],
    update_on_match: bool,
) -> None:
    from delta.tables import DeltaTable

    target = DeltaTable.forPath(spark, path)
    cond = " AND ".join(f"t.`{k}` <=> u.`{k}`" for k in keys)
    builder = target.alias("t").merge(updates.alias("u"), cond)
    if update_on_match:
        builder = builder.whenMatchedUpdateAll()
    builder.whenNotMatchedInsertAll().execute()


def _merge_parquet_fallback(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: Sequence[str],
    update_on_match: bool,
) -> None:
    # Compose the merge-family operators rather than re-stating their
    # null-safe anti-joins here (the engine pins the whole family to the
    # same eqNullSafe-per-key discipline — one implementation site):
    # upsert ≡ merge_upsert_plan (incoming wins per key), insert-only ≡
    # existing ∪ incremental_append (the reference's ON CONFLICT DO
    # NOTHING). Both match the Delta path's `<=>` merge condition.
    from tia_data_pipeline_spark.operators.incremental import (
        incremental_append,
        merge_upsert_plan,
    )

    existing = spark.read.parquet(path)
    if update_on_match:
        merged = merge_upsert_plan(updates, existing, keys)
    else:
        merged = existing.unionByName(incremental_append(updates, existing, keys))
    # The anti-join shuffles on the keys only (pruned probe side); the
    # full-width rewrite is the fallback's real cost and the reason the
    # Delta path (file-pruned MERGE) is the production answer.
    with replace_dir(spark, path) as staging:
        merged.write.mode("overwrite").parquet(staging)


def merge_upsert_table(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: Sequence[str],
    *,
    update_on_match: bool = False,
) -> None:
    """MERGE ``updates`` into the table at ``path`` on ``keys``.

    Creates the table when absent (MERGE into empty ≡ insert-all —
    matching ``jdbc_ensure_table`` + first merge in the JDBC tier).
    Idempotent by construction: re-merging the same batch changes
    nothing (insert-only mode) or rewrites identical values (upsert
    mode).
    """
    if not keys:
        raise ValueError("merge_upsert_table requires at least one key column")
    if not table_exists(spark, path):
        # Dedup within the batch so a key colliding with itself can't
        # seed duplicates (mirrors MERGE source-dedup discipline). The
        # create MUST match the format later merges expect: a plain
        # parquet seed under a Delta runtime would make every SECOND
        # merge raise ('not a Delta table').
        writer = updates.dropDuplicates(list(keys)).write.mode("overwrite")
        if have_delta(spark):
            writer.format("delta").save(path)
        else:
            writer.parquet(path)
        return
    if have_delta(spark):
        _merge_delta(spark, updates.dropDuplicates(list(keys)), path, keys, update_on_match)
    else:
        _merge_parquet_fallback(
            spark, updates.dropDuplicates(list(keys)), path, keys, update_on_match
        )


def compact_table(
    spark: SparkSession,
    path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_by: Sequence[str] | None = None,
    zorder_by: Sequence[str] | None = None,
    zorder_bits: int = 8,
) -> int:
    """Compact a parquet table's small files — the #1 operational debt
    of incremental sinks (every micro-batch/merge leaves files sized by
    batch, not by optimal scan granularity; at 100 TB a scan's task
    count explodes and the NameNode/listing cost dominates).

    Rewrites the table into ``ceil(total_bytes / target_file_bytes)``
    files, staging + rename like the merge fallback. ``sort_by``
    restores row-group locality for range predicates on ONE dimension;
    ``zorder_by`` (mutually exclusive) lays files along the Morton
    curve of several columns so min/max skipping prunes on ANY of them
    — compaction is exactly when you re-layout, same as Delta's
    ``OPTIMIZE ... ZORDER BY``. With Delta present, prefer its native
    OPTIMIZE; this is the format-agnostic form. Returns the new file
    count.
    """
    if sort_by and zorder_by:
        raise ValueError("sort_by and zorder_by are mutually exclusive")
    # Refuse Delta tables outright: spark.read.parquet would resurrect
    # tombstoned (logically deleted) data files and the swap would
    # discard _delta_log — silent corruption. Delta's own OPTIMIZE is
    # the right tool there.
    if table_exists(spark, f"{path}/_delta_log"):
        raise ValueError(
            f"{path} is a Delta table (_delta_log present); use Delta's "
            "OPTIMIZE instead of parquet-level compaction"
        )
    fs, hpath = hadoop_fs_path(spark, path)
    total = int(fs.getContentSummary(hpath).getLength())
    n_files = max(1, -(-total // target_file_bytes))  # ceil
    df = spark.read.parquet(path)
    with replace_dir(spark, path) as staging:
        if zorder_by:
            # one layout recipe, owned by write_zordered (collision-safe
            # temp key, bits passthrough) — compaction just points it at
            # the staging dir
            write_zordered(df, staging, list(zorder_by), n_files=n_files, bits=zorder_bits)
        else:
            if sort_by:
                df = df.repartitionByRange(
                    n_files, *[F.col(c) for c in sort_by]
                ).sortWithinPartitions(*sort_by)
            else:
                df = df.coalesce(n_files)
            df.write.mode("overwrite").parquet(staging)
    return n_files


def delete_where(spark: SparkSession, path: str, predicate: str) -> int:
    """DELETE rows matching ``predicate`` from the table at ``path`` —
    the DOCUMENT-STORE leg of a takedown / right-to-be-forgotten /
    corpus-TTL request (the derived indexes' leg is the per-family
    ``*_index_delete`` tombstones; run both, in either order).

    SQL DELETE semantics exactly: a row leaves only when the predicate
    is TRUE — FALSE **and NULL** rows survive (stated via
    ``NOT coalesce(pred, false)``, the engine's NULL-precondition
    rule). Idempotent: re-running deletes nothing.

    Delta path: native ACID ``DeltaTable.delete`` (file-pruned, only
    touched files rewrite). Parquet fallback: filtered rewrite staged
    and swapped like the merge fallback — full-width rewrite cost, the
    documented reason a table format is the production answer.
    Returns the number of rows deleted."""
    if have_delta(spark):
        from delta.tables import DeltaTable

        t = DeltaTable.forPath(spark, path)
        before = t.toDF().count()
        t.delete(predicate)
        return before - t.toDF().count()
    existing = spark.read.parquet(path)
    kept = existing.filter(~F.coalesce(F.expr(predicate), F.lit(False)))
    before = existing.count()
    with replace_dir(spark, path) as staging:
        kept.write.mode("overwrite").parquet(staging)
    return before - spark.read.parquet(path).count()


def delete_keys(
    spark: SparkSession,
    doomed: DataFrame,
    path: str,
    keys: Sequence[str],
) -> int:
    """DELETE by key set — the takedown-by-id form (ids arrive without
    the rows' content, exactly like the index tombstone APIs). NULL
    keys in ``doomed`` are excluded explicitly (the PK-target
    precondition of the merge family: a NULL key identifies nothing),
    and the kept-side anti-join is eqNullSafe per key column, matching
    merge_upsert_table's match condition. Idempotent. Returns the
    number of rows deleted.

    Delta path: ``MERGE … WHEN MATCHED THEN DELETE`` (file-pruned).
    Parquet fallback: anti-join rewrite, staged + swapped."""
    if not keys:
        raise ValueError("delete_keys requires at least one key column")
    cond_ids = doomed.select(*keys).na.drop(subset=list(keys)).distinct()
    if have_delta(spark):
        from delta.tables import DeltaTable

        t = DeltaTable.forPath(spark, path)
        before = t.toDF().count()
        cond = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
        (
            t.alias("t")
            .merge(cond_ids.alias("s"), cond)
            .whenMatchedDelete()
            .execute()
        )
        return before - t.toDF().count()
    existing = spark.read.parquet(path)
    on = [existing[k].eqNullSafe(cond_ids[k]) for k in keys]
    kept = existing.join(cond_ids, on, "left_anti")
    before = existing.count()
    with replace_dir(spark, path) as staging:
        kept.write.mode("overwrite").parquet(staging)
    return before - spark.read.parquet(path).count()
