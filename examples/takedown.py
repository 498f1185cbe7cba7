#!/usr/bin/env python
"""One takedown request, end to end — the deletion lifecycle across
every place a document lives (the right-to-be-forgotten /
corpus-retention flow a 100 TB training-data platform must support):

    python examples/takedown.py [sf_dir]

1. Stand up the serving estate: the document store (lakehouse table)
   plus the derived indexes — MinHash signatures, SimHash
   fingerprints, and the BM25 postings index (the embedding index
   takes the same ``index_*`` calls with ``EMBEDDING``; IVF has its
   own ``ivf_index_*`` verbs, see examples/ann_index_serving.py).
2. A takedown request arrives as IDS ONLY (a request never ships the
   content back). Each leg is independently idempotent, so the flow
   can run as separate at-least-once jobs in any order:
   - ``lakehouse.delete_keys``   → rows leave the store
   - ``index_delete`` / ``text_index_delete`` → tombstones mask
     every probe NOW
3. Prove invisibility: near-dup probes and BM25 serving (a one-query
   ``bm25_search_batch``) no longer see the documents (scores/df/N
   all track the live membership).
4. Compact in the maintenance window: tombstoned rows are removed
   PHYSICALLY and the applied tombstones go with them; probes read
   byte-identical results before/after the removal.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from tia_data_pipeline_spark import get_spark
from tia_data_pipeline_spark.catalog import load_table
from tia_data_pipeline_spark.operators.dedup import (
    minhash_write_index,
    simhash_write_index,
)
from tia_data_pipeline_spark.operators.index import (
    MINHASH,
    SIMHASH,
    index_compact,
    index_delete,
    index_probe,
    index_stats,
)
from tia_data_pipeline_spark.operators.text_index import (
    bm25_search_batch,
    build_text_index,
    text_index_compact,
    text_index_delete,
)
from tia_data_pipeline_spark.sources.lakehouse import delete_keys, merge_upsert_table


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    root = tempfile.mkdtemp(prefix="takedown_")
    spark = get_spark(app_name="takedown")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    # 1. the estate: store + three derived indexes
    store = f"{root}/docs"
    merge_upsert_table(spark, docs, store, ["doc_id"])
    mh, sh, tx = f"{root}/minhash", f"{root}/simhash", f"{root}/bm25"
    minhash_write_index(docs, "text", "doc_id", mh, n_shards=8)
    simhash_write_index(docs, "text", "doc_id", sh, n_shards=8)
    build_text_index(docs, tx)
    print(f"estate under {root}: store + minhash + simhash + bm25 index")

    # the takedown targets: a couple of real docs, and a probe that is
    # an exact copy of the first (so "still findable?" has a crisp answer)
    victims = [int(r["doc_id"]) for r in docs.limit(2).collect()]
    victim_text = docs.filter(f"doc_id = {victims[0]}").collect()[0]["text"]
    probe = spark.createDataFrame(
        [(999_999, victim_text)], "doc_id bigint, text string"
    )
    hits = {
        r["dup_id"]
        for r in index_probe(MINHASH, probe, [mh], threshold=0.9)[0].collect()
    }
    assert victims[0] in hits
    query = spark.createDataFrame(
        [(1, victim_text.split()[:4])], "query_id bigint, terms array<string>"
    )

    def bm25_top5() -> list[int]:
        return [
            int(r["doc_id"])
            for r in bm25_search_batch(query, tx, k=5).orderBy("rnk").collect()
        ]

    top_before = bm25_top5()
    print(f"before: near-dup probe finds {sorted(hits)}; bm25 top-5 {top_before}")

    # 2. the request: ids only, each leg idempotent — run twice to prove it
    doomed = spark.createDataFrame([(v,) for v in victims], "doc_id bigint")
    for _ in range(2):
        n = delete_keys(spark, doomed, store, ["doc_id"])
        index_delete(MINHASH, doomed, mh)
        index_delete(SIMHASH, doomed, sh)
        text_index_delete(doomed, tx)
    print(f"takedown of {victims}: store rows deleted (second pass deleted {n})")

    # 3. invisible everywhere, immediately
    from pyspark.sql import functions as F

    assert spark.read.parquet(store).filter(F.col("doc_id").isin(victims)).count() == 0
    assert not {
        r["dup_id"]
        for r in index_probe(MINHASH, probe, [mh], threshold=0.9)[0].collect()
    } & set(victims)
    assert not {
        r["dup_id"]
        for r in index_probe(SIMHASH, probe, [sh], max_hamming=3)[0].collect()
    } & set(victims)
    masked_top = bm25_top5()
    assert not set(masked_top) & set(victims)
    st = index_stats(MINHASH, spark, mh)
    print(f"masked: bm25 top-5 now {masked_top}; minhash tombstone "
          f"fraction {st['tombstone_fraction']}")

    # 4. physical removal in the maintenance window
    index_compact(MINHASH, spark, mh)
    index_compact(SIMHASH, spark, sh)
    text_index_compact(spark, tx)
    assert spark.read.parquet(mh).filter(F.col("_id").isin(victims)).count() == 0
    assert index_stats(MINHASH, spark, mh)["tombstones"] == 0
    after_top = bm25_top5()
    assert after_top == masked_top, "physical removal must be probe-invisible"
    print("compacted: rows physically gone from every index; serving unchanged")


if __name__ == "__main__":
    main()
