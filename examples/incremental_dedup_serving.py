#!/usr/bin/env python
"""Daily-increment fuzzy dedup against a persisted signature index —
the serving loop a production corpus runs every day.

    python examples/incremental_dedup_serving.py [sf_dir] [index_dir]

1. Day 0: write the MinHash signature index from the current corpus
   (``minhash_write_index`` — banded signatures partitioned by
   (band, bucket-shard), self-describing meta side table).
2. Day N: a new shard arrives; probe the index for near-duplicates of
   what it carries WITHOUT rescanning history
   (``index_probe(MINHASH, …)`` — the scan prunes to the shard's
   touched partitions), then append the shard's own signatures
   idempotently (``index_append(MINHASH, …)`` — a crash-retry adds
   nothing twice).
3. The same loop as a stream: ``stream_index_incremental`` runs
   probe → replay-idempotent pair output → append per micro-batch.
4. The same core over embeddings: ``embedding_write_index`` +
   ``index_probe(EMBEDDING, …)`` with exact per-cell pruning.
5. The same core over SimHash fingerprints: ``simhash_write_index`` +
   ``index_probe(SIMHASH, …)`` (48-bit portable fingerprints,
   4×12-bit bands — hamming ≤ 3 guaranteed).
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F

from tia_data_pipeline_spark import get_spark
from tia_data_pipeline_spark.catalog import load_table
from tia_data_pipeline_spark.operators.dedup import (
    minhash_write_index,
    simhash_write_index,
)
from tia_data_pipeline_spark.operators.index import (
    EMBEDDING,
    MINHASH,
    SIMHASH,
    index_append,
    index_probe,
)
from tia_data_pipeline_spark.operators.similarity import (
    embedding_write_index,
    projection_bits_for,
    projection_matrix,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    index_root = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="dedup_idx_")
    spark = get_spark(app_name="incremental-dedup-serving")

    docs = load_table(spark, sf_dir, "documents")
    # pretend 80% is history (already ingested) and 20% arrives today
    history = docs.filter(F.col("doc_id") % 5 != 0)
    shard = docs.filter(F.col("doc_id") % 5 == 0)

    # -- day 0: build the index once ------------------------------------
    idx = f"{index_root}/minhash"
    minhash_write_index(history, "text", "doc_id", idx)
    print(f"index written: {idx}")

    # -- day N: probe today's shard, then absorb it ----------------------
    pairs = index_probe(MINHASH, shard, [idx], threshold=0.5)[0]
    print("near-duplicates of today's shard against history:")
    pairs.orderBy("new_id", "dup_id").show(10, truncate=False)
    index_append(MINHASH, shard, idx)
    print("shard appended (idempotent: re-running adds nothing)")

    # tomorrow's shard will now also dedupe against today's docs; the
    # probe excludes a shard's OWN ids from the index side, so
    # re-probing the same shard is byte-identical to the pre-append
    # probe (replay determinism — duplicates WITHIN one shard are the
    # streaming loop's explicit intra leg, see streaming/dedup_serve.py)
    print("re-probe after append (identical to the first probe):")
    index_probe(MINHASH, shard, [idx], threshold=0.5)[0].orderBy(
        "new_id", "dup_id"
    ).show(5, truncate=False)

    # -- the vector family -------------------------------------------------
    emb = load_table(spark, sf_dir, "embeddings")
    e_hist = emb.filter(F.col("vec_id") % 5 != 0)
    e_shard = emb.filter(F.col("vec_id") % 5 == 0)
    bits = projection_bits_for(e_hist.count())
    eidx = f"{index_root}/embeddings"
    embedding_write_index(e_hist, eidx, proj=projection_matrix(bits=bits))
    print("embedding near-duplicates of today's shard:")
    index_probe(EMBEDDING, e_shard, [eidx], threshold=0.9)[0].orderBy(
        "new_id", "dup_id"
    ).show(10, truncate=False)

    # -- the hamming family -------------------------------------------------
    sidx = f"{index_root}/simhash"
    simhash_write_index(history, "text", "doc_id", sidx)
    print("simhash near-duplicates (hamming <= 2) of today's shard:")
    index_probe(SIMHASH, shard, [sidx], max_hamming=2)[0].orderBy(
        "new_id", "dup_id"
    ).show(10, truncate=False)

    spark.stop()


if __name__ == "__main__":
    main()
