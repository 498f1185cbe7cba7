"""Streaming incremental SimHash dedup: stream ≡ batch, replay
idempotency, sequential index visibility, and cache hygiene — the
hamming-distance twin of tests/test_stream_dedup_serve.py, same replay
discipline (own-id exclusion + per-batch-dir overwrite + anti-join
append)."""

from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F
from tia_data_pipeline_spark.operators.dedup import (
    simhash_write_index,
)
from tia_data_pipeline_spark.operators.index import SIMHASH, index_probe
from tia_data_pipeline_spark.streaming.dedup_serve import (
    index_increment_batch,
    stream_index_incremental,
)

DOC_SCHEMA = "doc_id bigint, text string"


@pytest.fixture()
def corpus(spark):
    rng = random.Random(47)
    vocab = [f"w{i}" for i in range(300)]

    def doc():
        return " ".join(rng.choice(vocab) for _ in range(120))

    h1, h2 = doc(), doc()
    return {
        "h1": h1,
        "hist": spark.createDataFrame([(1, h1), (2, h2)], DOC_SCHEMA),
        # exact copies (hamming 0 — the only DETERMINISTIC simhash
        # match; a token edit flips a data-dependent number of vote
        # bits): shard A copies history doc 1, shard B copies doc 2,
        # no A↔B dups so the pair union is batch-order-independent
        "shard_a": spark.createDataFrame([(10, h1), (11, doc())], DOC_SCHEMA),
        "shard_b": spark.createDataFrame([(20, h2), (21, doc())], DOC_SCHEMA),
    }


def _pairs(df):
    return {(r["new_id"], r["dup_id"]) for r in df.collect()}


@pytest.mark.slow
def test_stream_equals_batch_union(spark, corpus, tmp_path):
    idx = str(tmp_path / "shidx")
    simhash_write_index(corpus["hist"], "text", "doc_id", idx, n_shards=8)

    expect = _pairs(
        index_probe(SIMHASH, corpus["shard_a"], [idx], max_hamming=1)[0]
    ) | _pairs(index_probe(SIMHASH, corpus["shard_b"], [idx], max_hamming=1)[0])
    assert expect == {(10, 1), (20, 2)}, "fixture lost its planted dups"

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
        SIMHASH,
        doc_stream,
        index_path=idx,
        pairs_out=out,
        checkpoint=str(tmp_path / "ckpt"),
        max_hamming=1,
    )
    q.awaitTermination()
    got = _pairs(spark.read.parquet(f"{out}/batch_id=*"))
    assert got == expect


@pytest.mark.slow
def test_later_batch_sees_earlier_batch_fingerprints(spark, corpus, tmp_path):
    idx = str(tmp_path / "shidx")
    simhash_write_index(corpus["hist"], "text", "doc_id", idx, n_shards=8)
    out = str(tmp_path / "pairs_out")

    # batch 0 appends doc 10 (copy of history 1); batch 1 carries
    # another copy under id 30 — it must pair with BOTH, proving the
    # append made batch 0 index-visible
    index_increment_batch(SIMHASH, corpus["shard_a"], idx, out, 0, max_hamming=1)
    b1 = spark.createDataFrame([(30, corpus["h1"])], DOC_SCHEMA)
    index_increment_batch(SIMHASH, b1, idx, out, 1, max_hamming=1)
    got1 = _pairs(spark.read.parquet(f"{out}/batch_id=1"))
    assert got1 == {(30, 1), (30, 10)}


@pytest.mark.slow
def test_batch_replay_is_idempotent(spark, corpus, tmp_path):
    idx = str(tmp_path / "shidx")
    simhash_write_index(corpus["hist"], "text", "doc_id", idx, n_shards=8)
    out = str(tmp_path / "pairs_out")

    # the hard replay case: the batch carries an INTRA-batch dup pair
    # (40 ≡ 41, exact copies of history doc 1's text) that is in no
    # index on the first run — after the append they ARE indexed, and
    # a probe without own-id exclusion would emit different pairs on
    # replay
    batch = spark.createDataFrame(
        [(40, corpus["h1"]), (41, corpus["h1"])], DOC_SCHEMA
    )
    index_increment_batch(SIMHASH, batch, idx, out, 0, max_hamming=1)
    first = sorted(map(tuple, spark.read.parquet(f"{out}/batch_id=0").collect()))
    n_idx = spark.read.parquet(idx).count()
    assert {(a, b) for a, b, _ in first} == {(40, 1), (41, 1), (40, 41)}
    index_increment_batch(SIMHASH, batch, idx, out, 0, max_hamming=1)
    again = sorted(map(tuple, spark.read.parquet(f"{out}/batch_id=0").collect()))
    assert again == first
    assert spark.read.parquet(idx).count() == n_idx
    # a later batch does NOT re-emit the earlier batch's intra pair
    index_increment_batch(
        SIMHASH,
        spark.createDataFrame([(50, "unrelated words only here")], DOC_SCHEMA),
        idx, out, 1, max_hamming=1,
    )
    later = _pairs(spark.read.parquet(f"{out}/batch_id=1"))
    assert (40, 41) not in later and (41, 40) not in later


@pytest.mark.slow
def test_no_cache_leak_per_batch(spark, corpus, tmp_path):
    idx = str(tmp_path / "shidx")
    simhash_write_index(corpus["hist"], "text", "doc_id", idx, n_shards=8)
    out = str(tmp_path / "pairs_out")
    # session-lifetime caches from earlier tests can materialize
    # lazily (CacheManager plan-matching) or evict between the two
    # snapshots — start from a clean slate so the count compares
    # only THIS batch's cache discipline
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getRDDStorageInfo()
    index_increment_batch(SIMHASH, corpus["shard_a"], idx, out, 0, max_hamming=1)
    from tests.conftest import assert_cache_settles_to

    assert_cache_settles_to(jsc, len(before), "per-batch cache")


def test_over_guarantee_max_hamming_fails_fast(spark, corpus, tmp_path):
    """The stream wiring validates max_hamming against the index's
    band guarantee BEFORE starting (a mid-stream per-batch failure
    would poison the checkpoint instead)."""
    idx = str(tmp_path / "shidx")
    simhash_write_index(corpus["hist"], "text", "doc_id", idx, n_shards=8)
    (tmp_path / "in").mkdir()
    doc_stream = spark.readStream.schema(DOC_SCHEMA).parquet(str(tmp_path / "in"))
    with pytest.raises(ValueError, match="guarantee"):
        stream_index_incremental(
            SIMHASH,
            doc_stream,
            index_path=idx,
            pairs_out=str(tmp_path / "out"),
            checkpoint=str(tmp_path / "ckpt"),
            max_hamming=9,
        )
