"""Lakehouse MERGE sink (file-side `ON CONFLICT DO NOTHING` / upsert).

Runs through whichever engine the session has: the Delta ACID MERGE
when the runtime is installed, else the documented parquet
read-union-overwrite fallback. The semantics asserted here are
identical either way — that is the module's contract.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tia_data_pipeline_spark.sources.lakehouse import (
    have_delta,
    merge_upsert_table,
    table_exists,
)


def _rows(spark, path):
    return {
        (r["id"], r["v"]) for r in spark.read.parquet(path).select("id", "v").collect()
    }


def _df(spark, pairs):
    return spark.createDataFrame(pairs, "id bigint, v string")


def test_merge_creates_then_inserts_only_new_keys(spark, tmp_path):
    path = str(tmp_path / "tbl")
    assert not table_exists(spark, path)
    merge_upsert_table(spark, _df(spark, [(1, "a"), (2, "b")]), path, ["id"])
    assert table_exists(spark, path)
    # Overlap on id=2: existing wins (ON CONFLICT DO NOTHING).
    merge_upsert_table(spark, _df(spark, [(2, "CHANGED"), (3, "c")]), path, ["id"])
    assert _rows(spark, path) == {(1, "a"), (2, "b"), (3, "c")}


def test_merge_twice_equals_once(spark, tmp_path):
    path = str(tmp_path / "tbl")
    batch = _df(spark, [(1, "a"), (2, "b")])
    merge_upsert_table(spark, batch, path, ["id"])
    merge_upsert_table(spark, batch, path, ["id"])
    merge_upsert_table(spark, batch, path, ["id"])
    assert _rows(spark, path) == {(1, "a"), (2, "b")}


def test_merge_upsert_mode_incoming_wins(spark, tmp_path):
    path = str(tmp_path / "tbl")
    merge_upsert_table(spark, _df(spark, [(1, "a"), (2, "b")]), path, ["id"])
    merge_upsert_table(
        spark, _df(spark, [(2, "B2"), (3, "c")]), path, ["id"], update_on_match=True
    )
    assert _rows(spark, path) == {(1, "a"), (2, "B2"), (3, "c")}


def test_merge_dedups_within_batch(spark, tmp_path):
    path = str(tmp_path / "tbl")
    dup = _df(spark, [(1, "x"), (1, "y"), (2, "b")])
    merge_upsert_table(spark, dup, path, ["id"])
    got = _rows(spark, path)
    assert {i for i, _ in got} == {1, 2} and len(got) == 2


def test_composite_keys_and_null_key(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "k1", "a"), (None, "k2", "b")], "id bigint, k string, v string"
    )
    merge_upsert_table(spark, df, path, ["id", "k"])
    # NULL key must match itself — both engines use null-safe equality
    # (`<=>` in the Delta merge condition, eqNullSafe in the fallback's
    # anti-join), so re-merging a NULL-keyed batch stays idempotent.
    merge_upsert_table(spark, df, path, ["id", "k"])
    out = spark.read.parquet(path)
    assert out.count() == 2
    assert out.filter(F.col("k") == "k1").count() == 1
    assert out.filter(F.col("id").isNull()).count() == 1


def test_sandbox_engine_is_fallback_unless_delta_present(spark):
    # Documents which path this environment exercises; either value is
    # legal, but the function must answer without raising.
    assert have_delta(spark) in (True, False)


def test_compact_table_reduces_files_preserves_rows(spark, tmp_path):
    from tia_data_pipeline_spark.sources.lakehouse import compact_table

    path = str(tmp_path / "frag")
    # simulate many tiny incremental writes -> fragmented table
    for i in range(6):
        _df(spark, [(i * 10 + j, f"v{i}_{j}") for j in range(5)]).repartition(4).write.mode(
            "append"
        ).parquet(path)
    import glob

    before = len(glob.glob(f"{path}/*.parquet"))
    rows_before = _rows(spark, path)
    n = compact_table(spark, path, target_file_bytes=1 << 30)
    after = len(glob.glob(f"{path}/*.parquet"))
    assert n == 1 and after == 1 and after < before
    assert _rows(spark, path) == rows_before


def test_compact_table_sorted_layout(spark, tmp_path):
    from tia_data_pipeline_spark.sources.lakehouse import compact_table

    path = str(tmp_path / "sorted")
    _df(spark, [(i, f"v{i}") for i in range(40)]).repartition(8).write.parquet(path)
    compact_table(spark, path, target_file_bytes=1 << 30, sort_by=["id"])
    got = [r["id"] for r in spark.read.parquet(path).collect()]
    # single sorted file -> parquet preserves row order within the file
    assert got == sorted(got)


def test_swap_failure_never_leaves_live_path_empty(spark, tmp_path):
    """The compact/merge publish (``replace_dir``) must rename the live
    table ASIDE first (ADVICE r03): if the staging->live rename fails,
    the previous table is restored, never deleted with data only in
    staging."""
    import pytest

    from tia_data_pipeline_spark.operators.scale import replace_dir

    path = str(tmp_path / "t")
    spark.range(10).write.parquet(path)
    with pytest.raises(OSError, match="previous copy at"):
        with replace_dir(spark, path):
            pass  # nothing staged: the publish rename fails
    # live table survived the failed swap
    assert spark.read.parquet(path).count() == 10


def test_compact_table_zorder_layout(spark, tmp_path):
    """Compaction with zorder_by re-lays files along the Morton curve:
    rows preserved exactly, multiple files, and each file's span
    narrows on BOTH curve columns (the multi-dim skipping property)."""
    import random

    import pytest
    from pyspark.sql import functions as F

    from tia_data_pipeline_spark.sources.lakehouse import compact_table

    rng = random.Random(3)
    rows = [(i, rng.randrange(10_000), rng.randrange(10_000)) for i in range(4000)]
    path = str(tmp_path / "zt")
    spark.createDataFrame(rows, "id bigint, a bigint, b bigint").repartition(8).write.parquet(path)

    with pytest.raises(ValueError):
        compact_table(spark, path, sort_by=["a"], zorder_by=["a", "b"])

    n = compact_table(spark, path, target_file_bytes=6_000, zorder_by=["a", "b"])
    back = spark.read.parquet(path)
    assert back.count() == 4000
    assert sorted(r["id"] for r in back.select("id").collect()) == list(range(4000))
    assert n >= 6

    def mean_spans(df):
        spans = (
            df.groupBy(F.input_file_name())
            .agg(
                ((F.max("a") - F.min("a")) / 10_000).alias("sa"),
                ((F.max("b") - F.min("b")) / 10_000).alias("sb"),
            )
            .collect()
        )
        return (
            sum(r["sa"] for r in spans) / len(spans),
            sum(r["sb"] for r in spans) / len(spans),
        )

    z_sa, z_sb = mean_spans(back)
    # comparative property (robust to repartitionByRange's sampled
    # boundaries): a linear sort on `a` leaves `b` at ~full range per
    # file; the z layout must narrow BOTH dims strictly below that
    sorted_path = str(tmp_path / "zs")
    back.repartitionByRange(n, "a").sortWithinPartitions("a").write.parquet(sorted_path)
    s_sa, s_sb = mean_spans(spark.read.parquet(sorted_path))
    assert s_sb > 0.85, f"control layout unexpectedly narrow on b: {s_sb:.2f}"
    assert z_sa < 0.9 and z_sb < 0.9, f"z layout too wide: {z_sa:.2f}/{z_sb:.2f}"
    assert z_sb < s_sb / 1.5, f"z did not beat the sort's neglected dim: {z_sb:.2f} vs {s_sb:.2f}"


def test_compact_table_refuses_delta_tables(spark, tmp_path):
    """Review r5: pointing parquet-level compaction at a Delta table
    would resurrect tombstoned files and destroy _delta_log — the
    _delta_log presence check must refuse loudly instead."""
    import os

    import pytest

    from tia_data_pipeline_spark.sources.lakehouse import compact_table

    path = str(tmp_path / "t")
    spark.range(10).write.parquet(path)
    os.makedirs(f"{path}/_delta_log")
    with pytest.raises(ValueError, match="Delta"):
        compact_table(spark, path)


def test_delete_where_sql_semantics_and_idempotency(spark, tmp_path):
    """DELETE removes only predicate-TRUE rows: FALSE and NULL
    predicate rows survive (the NULL-precondition rule), and a re-run
    deletes nothing."""
    from tia_data_pipeline_spark.sources.lakehouse import delete_where

    path = str(tmp_path / "t")
    merge_upsert_table(
        spark, _df(spark, [(1, "keep"), (2, "drop"), (3, None), (4, "drop")]),
        path, ["id"],
    )
    n = delete_where(spark, path, "v = 'drop'")
    assert n == 2
    # v IS NULL row survives: the predicate evaluates NULL there
    assert _rows(spark, path) == {(1, "keep"), (3, None)}
    assert delete_where(spark, path, "v = 'drop'") == 0
    assert _rows(spark, path) == {(1, "keep"), (3, None)}


def test_delete_keys_by_id_null_keys_excluded(spark, tmp_path):
    """The takedown-by-id form: ids-only input, NULL ids identify
    nothing (excluded explicitly), twice ≡ once; a NULL-keyed table
    row is only removable via an explicit IS NULL delete_where, never
    by a NULL in the id list."""
    from tia_data_pipeline_spark.sources.lakehouse import delete_keys

    path = str(tmp_path / "t")
    rows = [(1, "a"), (2, "b"), (3, "c"), (None, "nullkey")]
    spark.createDataFrame(rows, "id bigint, v string").write.parquet(path)
    doomed = spark.createDataFrame([(2,), (None,), (99,)], "id bigint")
    assert delete_keys(spark, doomed, path, ["id"]) == 1
    assert _rows(spark, path) == {(1, "a"), (3, "c"), (None, "nullkey")}
    assert delete_keys(spark, doomed, path, ["id"]) == 0


@pytest.mark.slow
def test_delete_composes_with_index_tombstones(spark, tmp_path):
    """The full takedown flow: delete the documents from the STORE and
    tombstone them in the derived MinHash INDEX — after both, the doc
    is unfindable via either path; after index compaction it is
    physically gone everywhere."""
    from tia_data_pipeline_spark.operators.dedup import (
        minhash_write_index,
    )
    from tia_data_pipeline_spark.operators.index import (
        MINHASH,
        index_compact,
        index_delete,
        index_probe,
    )
    from tia_data_pipeline_spark.sources.lakehouse import delete_keys

    base = "the quick brown fox jumps over the lazy dog " * 8
    docs = spark.createDataFrame(
        [(1, base), (2, "totally unrelated words here " * 8)],
        "doc_id bigint, text string",
    )
    store = str(tmp_path / "docs")
    idx = str(tmp_path / "idx")
    docs.write.parquet(store)
    minhash_write_index(docs, "text", "doc_id", idx, n_shards=4)
    probe = spark.createDataFrame([(10, base)], "doc_id bigint, text string")
    assert {
        r["dup_id"] for r in index_probe(MINHASH, probe, [idx])[0].collect()
    } == {1}
    doomed = spark.createDataFrame([(1,)], "doc_id bigint")
    assert delete_keys(spark, doomed, store, ["doc_id"]) == 1
    index_delete(MINHASH, doomed, idx)
    assert spark.read.parquet(store).filter("doc_id = 1").count() == 0
    assert index_probe(MINHASH, probe, [idx])[0].count() == 0
    index_compact(MINHASH, spark, idx)
    assert spark.read.parquet(idx).filter("_id = 1").count() == 0
