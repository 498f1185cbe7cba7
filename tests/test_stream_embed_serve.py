"""Streaming incremental embedding dedup: stream ≡ batch, replay
idempotency, sequential index visibility, and cache hygiene — the
vector twin of tests/test_stream_dedup_serve.py, same replay
discipline (own-id exclusion + explicit intra leg + per-batch-dir
overwrite + anti-join append). Fixtures use one-hot vectors: identical
copies score exactly 1.0, distinct axes exactly 0 — fully
deterministic."""

from __future__ import annotations

import pytest

from tia_data_pipeline_spark.operators.similarity import (
    embedding_write_index,
)
from tia_data_pipeline_spark.operators.index import EMBEDDING, index_probe
from tia_data_pipeline_spark.streaming.dedup_serve import (
    index_increment_batch,
    stream_index_incremental,
)

VEC_SCHEMA = "vec_id bigint, embedding array<float>"
DIM = 8


def _onehot(axis):
    return [1.0 if i == axis else 0.0 for i in range(DIM)]


@pytest.fixture()
def corpus(spark):
    return {
        "hist": spark.createDataFrame(
            [(1, _onehot(0)), (2, _onehot(1))], VEC_SCHEMA
        ),
        "shard_a": spark.createDataFrame(
            [(10, _onehot(0)), (11, _onehot(2))], VEC_SCHEMA
        ),
        "shard_b": spark.createDataFrame(
            [(20, _onehot(1)), (21, _onehot(3))], VEC_SCHEMA
        ),
    }


def _pairs(df):
    return {(r["new_id"], r["dup_id"]) for r in df.collect()}


@pytest.mark.slow
def test_stream_equals_batch_union(spark, corpus, tmp_path):
    idx = str(tmp_path / "eidx")
    embedding_write_index(corpus["hist"], idx)

    expect = _pairs(
        index_probe(EMBEDDING, corpus["shard_a"], [idx], threshold=0.9)[0]
    ) | _pairs(index_probe(EMBEDDING, corpus["shard_b"], [idx], threshold=0.9)[0])
    assert expect == {(10, 1), (20, 2)}, "fixture lost its planted dups"

    stream_dir = tmp_path / "vecs_in"
    corpus["shard_a"].coalesce(1).write.parquet(str(stream_dir / "a"))
    corpus["shard_b"].coalesce(1).write.parquet(str(stream_dir / "b"))
    vec_stream = (
        spark.readStream.schema(VEC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/*")
    )
    out = str(tmp_path / "pairs_out")
    q = stream_index_incremental(
        EMBEDDING,
        vec_stream,
        index_path=idx,
        pairs_out=out,
        checkpoint=str(tmp_path / "ckpt"),
        threshold=0.9,
    )
    q.awaitTermination()
    got = _pairs(spark.read.parquet(f"{out}/batch_id=*"))
    assert got == expect


def test_later_batch_sees_earlier_batch_vectors(spark, corpus, tmp_path):
    idx = str(tmp_path / "eidx")
    embedding_write_index(corpus["hist"], idx)
    out = str(tmp_path / "pairs_out")

    # batch 0 appends vec 10 (copy of history 1's axis); batch 1
    # carries another copy under id 30 — it must pair with BOTH,
    # proving the append made batch 0 index-visible
    index_increment_batch(EMBEDDING, corpus["shard_a"], idx, out, 0, threshold=0.9)
    b1 = spark.createDataFrame([(30, _onehot(0))], VEC_SCHEMA)
    index_increment_batch(EMBEDDING, b1, idx, out, 1, threshold=0.9)
    got1 = _pairs(spark.read.parquet(f"{out}/batch_id=1"))
    assert got1 == {(30, 1), (30, 10)}


@pytest.mark.slow
def test_batch_replay_is_idempotent(spark, corpus, tmp_path):
    idx = str(tmp_path / "eidx")
    embedding_write_index(corpus["hist"], idx)
    out = str(tmp_path / "pairs_out")

    # the hard replay case: the batch carries an INTRA-batch dup pair
    # (40 ≡ 41, same axis as history vec 1) in no index on the first
    # run — after the append they ARE indexed; without own-id
    # exclusion the replayed probe would emit different pairs
    batch = spark.createDataFrame([(40, _onehot(0)), (41, _onehot(0))], VEC_SCHEMA)
    index_increment_batch(EMBEDDING, batch, idx, out, 0, threshold=0.9)
    first = sorted(map(tuple, spark.read.parquet(f"{out}/batch_id=0").collect()))
    n_idx = spark.read.parquet(idx).count()
    assert {(a, b) for a, b, _ in first} == {(40, 1), (41, 1), (40, 41)}
    index_increment_batch(EMBEDDING, batch, idx, out, 0, threshold=0.9)
    again = sorted(map(tuple, spark.read.parquet(f"{out}/batch_id=0").collect()))
    assert again == first
    assert spark.read.parquet(idx).count() == n_idx
    # a later batch does NOT re-emit the earlier batch's intra pair
    index_increment_batch(
        EMBEDDING,
        spark.createDataFrame([(50, _onehot(5))], VEC_SCHEMA), idx, out, 1,
        threshold=0.9,
    )
    later = _pairs(spark.read.parquet(f"{out}/batch_id=1"))
    assert (40, 41) not in later and (41, 40) not in later


def test_no_cache_leak_per_batch(spark, corpus, tmp_path):
    idx = str(tmp_path / "eidx")
    embedding_write_index(corpus["hist"], idx)
    out = str(tmp_path / "pairs_out")
    spark.catalog.clearCache()  # isolate from session-lifetime caches
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getRDDStorageInfo()
    index_increment_batch(EMBEDDING, corpus["shard_a"], idx, out, 0, threshold=0.9)
    from tests.conftest import assert_cache_settles_to

    assert_cache_settles_to(jsc, len(before), "per-batch cache")
