"""Streaming incremental fuzzy dedup: stream ≡ batch, replay
idempotency, and sequential index visibility (a later batch dedupes
against an earlier batch's appended signatures)."""

from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F
from tia_data_pipeline_spark.operators.dedup import (
    minhash_write_index,
)
from tia_data_pipeline_spark.operators.index import MINHASH, index_probe
from tia_data_pipeline_spark.streaming.dedup_serve import (
    index_increment_batch,
    stream_index_incremental,
)

DOC_SCHEMA = "doc_id bigint, text string"


@pytest.fixture()
def corpus(spark):
    rng = random.Random(31)
    vocab = [f"w{i}" for i in range(300)]

    def doc():
        return " ".join(rng.choice(vocab) for _ in range(120))

    h1, h2 = doc(), doc()
    return {
        "hist": spark.createDataFrame([(1, h1), (2, h2)], DOC_SCHEMA),
        # shard A near-dups history doc 1; shard B near-dups history
        # doc 2 — no A↔B dups, so the stream's pair union is
        # independent of file->batch assignment order
        "shard_a": spark.createDataFrame(
            [(10, h1.replace("w1", "w299", 2)), (11, doc())], DOC_SCHEMA
        ),
        "shard_b": spark.createDataFrame(
            [(20, h2), (21, doc())], DOC_SCHEMA
        ),
    }


def _pairs(df):
    return {(r["new_id"], r["dup_id"]) for r in df.collect()}


def test_stream_equals_batch_union(spark, corpus, tmp_path):
    idx = str(tmp_path / "idx")
    minhash_write_index(corpus["hist"], "text", "doc_id", idx, n_shards=8)

    # batch expectation: each shard probed against the history index
    expect = _pairs(
        index_probe(MINHASH, corpus["shard_a"], [idx], threshold=0.5)[0]
    ) | _pairs(index_probe(MINHASH, corpus["shard_b"], [idx], threshold=0.5)[0])
    assert expect == {(10, 1), (20, 2)}, "fixture lost its planted dups"

    # stream the two shards as one file each -> one micro-batch each
    stream_dir = tmp_path / "docs_in"
    corpus["shard_a"].coalesce(1).write.parquet(str(stream_dir / "a"))
    corpus["shard_b"].coalesce(1).write.parquet(str(stream_dir / "b"))
    doc_stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/*")
    )
    out = str(tmp_path / "pairs_out")
    q = stream_index_incremental(
        MINHASH,
        doc_stream,
        index_path=idx,
        pairs_out=out,
        checkpoint=str(tmp_path / "ckpt"),
        threshold=0.5,
    )
    q.awaitTermination()
    got = _pairs(spark.read.parquet(f"{out}/batch_id=*"))
    assert got == expect


def test_later_batch_sees_earlier_batch_signatures(spark, corpus, tmp_path):
    idx = str(tmp_path / "idx")
    minhash_write_index(corpus["hist"], "text", "doc_id", idx, n_shards=8)
    out = str(tmp_path / "pairs_out")

    # batch 0 carries doc 10 (near-dup of history 1); batch 1 carries a
    # COPY of doc 10's text under id 30 — it must pair with BOTH the
    # history doc and batch 0's doc, proving the append made batch 0
    # index-visible
    text10 = corpus["shard_a"].filter(F.col("doc_id") == 10).collect()[0]["text"]
    index_increment_batch(MINHASH, corpus["shard_a"], idx, out, 0, threshold=0.5)
    b1 = spark.createDataFrame([(30, text10)], DOC_SCHEMA)
    index_increment_batch(MINHASH, b1, idx, out, 1, threshold=0.5)
    got1 = _pairs(spark.read.parquet(f"{out}/batch_id=1"))
    assert got1 == {(30, 1), (30, 10)}


def test_batch_replay_is_idempotent(spark, corpus, tmp_path):
    idx = str(tmp_path / "idx")
    minhash_write_index(corpus["hist"], "text", "doc_id", idx, n_shards=8)
    out = str(tmp_path / "pairs_out")

    # the hard replay case (review r8, originally a live-repro bug):
    # the batch carries INTRA-batch near-dups (40 ~ 41) that are in no
    # index — after the first run's append they ARE indexed, and a
    # probe without own-id exclusion would emit different pairs on
    # replay
    text10 = corpus["shard_a"].filter(F.col("doc_id") == 10).collect()[0]["text"]
    batch = spark.createDataFrame(
        [(40, text10), (41, text10 + " tail")], DOC_SCHEMA
    )
    index_increment_batch(MINHASH, batch, idx, out, 0, threshold=0.5)
    first = sorted(map(tuple, spark.read.parquet(f"{out}/batch_id=0").collect()))
    n_idx = spark.read.parquet(idx).count()
    # the intra-batch dup must surface in THIS batch (canonical order),
    # alongside both docs' cross pairs against history
    assert {(a, b) for a, b, _ in first} == {(40, 1), (41, 1), (40, 41)}
    # foreachBatch replays the batch after a crash: pairs must be
    # rewritten identically (overwrite of the batch dir) and the index
    # must not grow (anti-join append)
    index_increment_batch(MINHASH, batch, idx, out, 0, threshold=0.5)
    again = sorted(map(tuple, spark.read.parquet(f"{out}/batch_id=0").collect()))
    assert again == first
    assert spark.read.parquet(idx).count() == n_idx
    # and a later batch does NOT re-emit the earlier batch's intra pair
    index_increment_batch(
        MINHASH,
        spark.createDataFrame([(50, "unrelated words only here")], DOC_SCHEMA),
        idx, out, 1, threshold=0.5,
    )
    later = {(r["new_id"], r["dup_id"]) for r in spark.read.parquet(f"{out}/batch_id=1").collect()}
    assert (40, 41) not in later and (41, 40) not in later


def test_no_cache_leak_per_batch(spark, corpus, tmp_path):
    """The serving loop must release its per-batch signature cache —
    one leaked cache per trigger exhausts executor storage memory on a
    long-running stream."""
    idx = str(tmp_path / "idx")
    minhash_write_index(corpus["hist"], "text", "doc_id", idx, n_shards=8)
    out = str(tmp_path / "pairs_out")
    # session-lifetime caches from earlier tests can materialize
    # lazily (CacheManager plan-matching) or evict between the two
    # snapshots — start from a clean slate so the count compares
    # only THIS batch's cache discipline
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getRDDStorageInfo()
    index_increment_batch(MINHASH, corpus["shard_a"], idx, out, 0, threshold=0.5)
    from tests.conftest import assert_cache_settles_to

    assert_cache_settles_to(jsc, len(before), "per-batch cache")
