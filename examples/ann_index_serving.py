#!/usr/bin/env python
"""Build, persist, and serve an ANN index — the similarity-search
serving shape at corpus scale.

    python examples/ann_index_serving.py [sf_dir] [index_dir]

1. Train the IVF coarse quantizer and write the corpus partitioned by
   cell id (``…/_cell=K/``) — the layout IS the index: a probe's
   ``_cell IN (nearest n_probe)`` predicate prunes at the partition
   level, so serving scans n_probe/n_lists of the data.
2. Serve a probe from the written index — a one-row probe frame
   through ``ivf_search_batch``, the one IVF serve path — and compare
   against the exact brute-force top-k to show what the recall trade
   bought.
3. Serve a BATCH of probes through the same call (each probe ranks
   the centers in-expression; one pruned scan serves the whole
   batch); the streaming form is
   ``streaming/ann_serve.py::stream_ann_topk``.
4. Run the REST of the index lifecycle: append a new-vector shard to
   the pinned centroids (idempotent) and read its centroid-drift
   ratio — the re-train signal; tombstone a vector by id (masked from
   every search immediately); compact (applies the deletion
   physically, one file per cell) and read the health census.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from tia_data_pipeline_spark import get_spark
from tia_data_pipeline_spark.catalog import load_table
from tia_data_pipeline_spark.operators.index import IVF, index_stats
from tia_data_pipeline_spark.operators.similarity import (
    brute_force_top_k,
    ivf_build_index,
    ivf_drift_stats,
    ivf_index_append,
    ivf_index_compact,
    ivf_index_delete,
    ivf_search_batch,
    ivf_write_index,
    projection_bits_for,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    index_dir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="ivf_")
    spark = get_spark(app_name="ann-index-serving")

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    print(f"corpus: {n} vectors; LSH sizing rule would pick "
          f"{projection_bits_for(n)} projection bits at this scale")

    # 1. build + persist (one-time cost, amortized over every query)
    assigned, centers = ivf_build_index(emb, n_lists=16)
    ivf_write_index(assigned, centers, index_dir)
    print(f"index written to {index_dir} (partitioned by _cell)")

    # 2. serve: nearest cells only vs the exact scan-everything answer
    # (both sides use the SAME collected probe row — a second limit(1)
    # could re-plan onto a different row and make recall meaningless)
    probe_row = emb.limit(1).collect()[0]
    probe_df = spark.createDataFrame(
        [(probe_row["vec_id"], list(probe_row["embedding"]))],
        "probe_id bigint, embedding array<double>",
    )
    approx = ivf_search_batch(probe_df, index_dir, k=10, n_probe=4).orderBy("rnk")
    exact = brute_force_top_k(emb, probe_df, k=10)

    approx_ids = [r["vec_id"] for r in approx.collect()]
    exact_ids = [r["vec_id"] for r in exact.collect()]
    recall = len(set(approx_ids) & set(exact_ids)) / len(exact_ids)
    print(f"IVF top-10 (4/16 cells scanned): {approx_ids}")
    print(f"exact top-10 (full scan):        {exact_ids}")
    print(f"recall@10 = {recall:.2f}")

    # 3. batch serving: a query SHARD against the same index — one
    # pruned scan answers every probe in the batch
    probes = emb.limit(5).selectExpr("vec_id AS probe_id", "embedding")
    batch = ivf_search_batch(probes, index_dir, k=3, n_probe=4)
    print("batch top-3 per probe (5-probe shard):")
    batch.orderBy("probe_id", "rnk").show(15, truncate=False)

    # 4a. write-side increment: tomorrow's vectors append to the SAME
    # pinned centroids; the returned drift ratio is the re-train signal
    # (≫1 means the quantizer no longer fits what's arriving)
    from pyspark.sql import functions as F

    shard = emb.orderBy("vec_id").limit(3).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        "embedding",
        "label",  # the shard carries ALL index payload columns
    )
    out = ivf_index_append(shard, index_dir)
    print(f"appended {out['appended']} vectors; drift_ratio={out['drift_ratio']}")
    again = ivf_index_append(shard, index_dir)
    print(f"re-append of the same shard (idempotent): appended={again['appended']}")
    print("per-cell drift census (train baseline vs current population):")
    ivf_drift_stats(spark, index_dir).show(4)

    # 4a'. closing the drift loop automatically: the streaming write
    # side takes a retrain policy — when a batch of at least
    # retrain_min_batch_n vectors reads drift_ratio ≥ retrain_above,
    # the loop fires ivf_retrain inline (availableNow backfill form),
    # or hands the batch report to on_maintenance so a continuously-
    # serving deployment can retrain in its own window instead:
    #
    #   stream_ivf_append(
    #       vec_stream, index_path=index_dir, drift_out=..., checkpoint=...,
    #       retrain_above=1.5, retrain_min_batch_n=100_000,
    #       on_maintenance=None,           # None -> retrain inline
    #   )
    #
    # (tests/test_ann_serve.py drives both forms end-to-end on a
    # shifted corpus and shows the ratio returning under threshold.)

    # 4b. deletion: tombstone by id (takedown semantics — masked from
    # every probe NOW), then compact to remove physically
    doomed = spark.createDataFrame([(int(exact_ids[0]),)], "vec_id bigint")
    ivf_index_delete(doomed, index_dir)
    post = ivf_search_batch(probe_df, index_dir, k=10, n_probe=16)
    assert exact_ids[0] not in [r["vec_id"] for r in post.collect()]
    print(f"vec_id={exact_ids[0]} tombstoned: gone from a full-cell search")
    print("health census before compact:", index_stats(IVF, spark, index_dir))
    ivf_index_compact(spark, index_dir)
    print("after compact (tombstones applied, one file per cell):",
          index_stats(IVF, spark, index_dir))


if __name__ == "__main__":
    main()
