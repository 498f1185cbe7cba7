"""Index compaction: layout-only (content and probe results identical
before/after), file count shrinks after appends, meta side tables
survive, and compaction is idempotent."""

from __future__ import annotations

import glob
import os
import random

import pytest

from pyspark.sql import functions as F


def _data_files(root):
    out = []
    for f in glob.glob(os.path.join(root, "**", "*"), recursive=True):
        rel = os.path.relpath(f, root)
        if any(p.startswith(("_", ".")) for p in rel.split(os.sep)):
            continue
        if os.path.isfile(f):
            out.append(f)
    return out


@pytest.fixture()
def docs(spark):
    rng = random.Random(59)
    vocab = [f"w{i}" for i in range(200)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(100))) for i in range(1, 31)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_minhash_compact_preserves_content_and_probes(spark, docs, tmp_path):
    from tia_data_pipeline_spark.operators.dedup import (
        minhash_write_index,
    )
    from tia_data_pipeline_spark.operators.index import (
        MINHASH,
        index_append,
        index_compact,
        index_probe,
    )

    idx = str(tmp_path / "mh")
    minhash_write_index(docs.filter("doc_id <= 10"), "text", "doc_id", idx, n_shards=4)
    index_append(MINHASH, docs.filter("doc_id > 10 AND doc_id <= 20"), idx)
    index_append(MINHASH, docs.filter("doc_id > 20"), idx)

    probe = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 1000)
    before_rows = sorted(map(tuple, spark.read.parquet(idx).collect()))
    before_pairs = sorted(
        map(tuple, index_probe(MINHASH, probe, [idx], threshold=0.5)[0].collect())
    )
    n_files_before = len(_data_files(idx))

    stats = index_compact(MINHASH, spark, idx)
    assert stats["rows"] == len(before_rows)
    assert stats["files_after"] <= stats["files_before"] == n_files_before
    # every (band, bshard) partition is now a single file
    by_dir = {}
    for f in _data_files(idx):
        by_dir.setdefault(os.path.dirname(f), []).append(f)
    assert all(len(fs) == 1 for fs in by_dir.values())

    assert sorted(map(tuple, spark.read.parquet(idx).collect())) == before_rows
    after_pairs = sorted(
        map(tuple, index_probe(MINHASH, probe, [idx], threshold=0.5)[0].collect())
    )
    assert after_pairs == before_pairs

    # idempotent: compacting a compact index changes nothing
    again = index_compact(MINHASH, spark, idx)
    assert again["rows"] == stats["rows"]
    assert again["files_after"] == stats["files_after"]


def test_simhash_compact_preserves_content(spark, docs, tmp_path):
    from tia_data_pipeline_spark.operators.dedup import (
        simhash_write_index,
    )
    from tia_data_pipeline_spark.operators.index import (
        SIMHASH,
        index_append,
        index_compact,
    )

    idx = str(tmp_path / "sh")
    simhash_write_index(docs.filter("doc_id <= 15"), "text", "doc_id", idx, n_shards=4)
    index_append(SIMHASH, docs.filter("doc_id > 15"), idx)
    before = sorted(map(tuple, spark.read.parquet(idx).collect()))
    stats = index_compact(SIMHASH, spark, idx)
    assert stats["rows"] == len(before)
    assert sorted(map(tuple, spark.read.parquet(idx).collect())) == before


def test_embedding_compact_preserves_content(spark, tmp_path):
    from tia_data_pipeline_spark.operators.similarity import (
        embedding_write_index,
    )
    from tia_data_pipeline_spark.operators.index import (
        EMBEDDING,
        index_append,
        index_compact,
    )

    rows = [(i, [float(i % 7), float(i % 3), 1.0, 0.5]) for i in range(1, 41)]
    spark_df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    idx = str(tmp_path / "emb")
    embedding_write_index(spark_df.filter("vec_id <= 20"), idx)
    index_append(EMBEDDING, spark_df.filter("vec_id > 20"), idx)
    before = sorted(map(tuple, spark.read.parquet(idx).collect()))
    stats = index_compact(EMBEDDING, spark, idx)
    assert stats["rows"] == len(before)
    assert sorted(map(tuple, spark.read.parquet(idx).collect())) == before


@pytest.mark.slow
def test_index_stats_track_appends_and_compaction(spark, docs, tmp_path):
    from tia_data_pipeline_spark.operators.dedup import (
        minhash_write_index,
    )
    from tia_data_pipeline_spark.operators.index import (
        MINHASH,
        index_append,
        index_compact,
        index_stats,
    )

    idx = str(tmp_path / "mh_stats")
    minhash_write_index(docs.filter("doc_id <= 10"), "text", "doc_id", idx, n_shards=4)

    def stats():
        return index_stats(MINHASH, spark, idx)

    s0 = stats()
    index_append(MINHASH, docs.filter("doc_id > 10"), idx)
    s1 = stats()
    # the append grew rows AND fragmented the layout
    assert s1["rows"] > s0["rows"]
    assert s1["files"] > s0["files"]
    index_compact(MINHASH, spark, idx)
    s2 = stats()
    # compaction is layout-only: rows identical, fragmentation gone
    assert s2["rows"] == s1["rows"]
    assert s2["files"] < s1["files"]
    assert s2["avg_files_per_partition"] == 1.0
    assert s2["max_partition_rows"] >= 1


@pytest.mark.slow
def test_full_lifecycle_compact_mid_serving_loop(spark, docs, tmp_path):
    """The production sequence end-to-end: day-0 write → day-1 batch
    (probe + append) → COMPACT → day-2 batch. Compaction mid-loop must
    not disturb serving: day-2's pairs are identical to the pairs the
    same batch would emit against the uncompacted index, and day-1's
    appended docs stay probe-visible."""
    from tia_data_pipeline_spark.operators.dedup import (
        simhash_write_index,
    )
    from tia_data_pipeline_spark.operators.index import (
        SIMHASH,
        index_compact,
        index_probe,
    )
    from tia_data_pipeline_spark.streaming.dedup_serve import index_increment_batch

    import shutil

    text1 = docs.filter("doc_id = 1").collect()[0]["text"]
    idx = str(tmp_path / "life")
    simhash_write_index(docs.filter("doc_id <= 10"), "text", "doc_id", idx, n_shards=4)
    out = str(tmp_path / "pairs")
    # day 1: a copy of doc 1 arrives and is appended
    day1 = spark.createDataFrame([(101, text1)], "doc_id bigint, text string")
    index_increment_batch(SIMHASH, day1, idx, out, 0, max_hamming=1)
    # snapshot what day 2 WOULD see without compaction
    day2 = spark.createDataFrame([(202, text1)], "doc_id bigint, text string")
    uncompacted = str(tmp_path / "life_copy")
    shutil.copytree(idx, uncompacted)
    want = sorted(
        map(tuple, index_probe(SIMHASH, day2, [uncompacted], max_hamming=1)[0].collect())
    )
    # compact, then serve day 2 from the compacted index
    index_compact(SIMHASH, spark, idx)
    got = sorted(
        map(tuple, index_probe(SIMHASH, day2, [idx], max_hamming=1)[0].collect())
    )
    assert got == want
    # day-1's appended doc is among the matches (append survived compact)
    assert (202, 101, 0) in {t for t in got}


def test_empty_index_compacts_to_noop(spark, tmp_path):
    from tia_data_pipeline_spark.operators.dedup import (
        minhash_write_index,
    )
    from tia_data_pipeline_spark.operators.index import (
        MINHASH,
        index_compact,
        index_probe,
    )

    empty = spark.createDataFrame([], "doc_id bigint, text string")
    idx = str(tmp_path / "mh0")
    minhash_write_index(empty, "text", "doc_id", idx, n_shards=4)
    stats = index_compact(MINHASH, spark, idx)
    assert stats["rows"] == 0
    # the meta survived: the empty index is still probeable
    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id bigint, text string")
    assert index_probe(MINHASH, docs, [idx])[0].count() == 0
