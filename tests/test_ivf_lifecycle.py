"""IVF index lifecycle: write-side increment (append to pinned
centroids, idempotent), centroid-drift signal (per-append aggregate +
per-cell census), deletion tombstones, compaction, and the meta side
table that lets probes read an EMPTY index with an explicit schema
(VERDICT r8 missing #4, ADVICE r8 on the inferred-schema probe)."""

from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F

from tia_data_pipeline_spark.operators.index import IVF, index_stats
from tia_data_pipeline_spark.operators.similarity import (
    ivf_build_index,
    ivf_drift_stats,
    ivf_index_append,
    ivf_index_compact,
    ivf_index_delete,
    ivf_index_meta,
    ivf_search_batch,
    ivf_write_index,
)

DIM = 8
N_LISTS = 4


def _vec(seed, shift=0.0):
    r = random.Random(seed)
    return [r.uniform(-1, 1) + shift for _ in range(DIM)]


@pytest.fixture()
def index(spark, tmp_path):
    corpus = spark.createDataFrame(
        [(i, _vec(i)) for i in range(40)], "vec_id bigint, embedding array<double>"
    )
    assigned, centers = ivf_build_index(corpus, n_lists=N_LISTS, seed=3)
    path = str(tmp_path / "ivf")
    ivf_write_index(assigned, centers, path)
    return path, corpus


def test_meta_side_table_written(spark, index):
    path, _ = index
    meta = ivf_index_meta(spark, path)
    assert meta is not None
    assert meta["n_lists"] == N_LISTS and meta["dim"] == DIM
    assert meta["id_col"] == "vec_id" and meta["vec_col"] == "embedding"
    # per-cell training baselines ride in _ivf_centers
    base = spark.read.parquet(f"{path}/_ivf_centers")
    assert {"cell", "center", "train_n", "train_mean_d2", "train_p95_d2"} <= set(
        base.columns
    )
    rows = base.collect()
    assert len(rows) == N_LISTS
    assert sum(int(r["train_n"]) for r in rows) == 40


def test_append_twice_equals_once_and_reports_drift(spark, index):
    path, _ = index
    shard = spark.createDataFrame(
        [(100 + i, _vec(1000 + i)) for i in range(10)],
        "vec_id bigint, embedding array<double>",
    )
    out1 = ivf_index_append(shard, path)
    assert out1["appended"] == 10 and out1["batch_n"] == 10
    assert out1["drift_ratio"] is not None and out1["drift_ratio"] > 0
    n1 = spark.read.parquet(path).count()
    out2 = ivf_index_append(shard, path)
    assert out2["appended"] == 0, "re-appending the same shard must be a no-op"
    assert spark.read.parquet(path).count() == n1 == 50
    # appended vectors are served: an exact-copy probe finds its twin
    probe = spark.createDataFrame(
        [(1, _vec(1005))], "probe_id bigint, embedding array<double>"
    )
    got = ivf_search_batch(probe, path, k=1, n_probe=N_LISTS).collect()
    assert [int(r["vec_id"]) for r in got] == [105]
    assert float(got[0]["score"]) == 1.0


def test_drift_ratio_detects_distribution_shift(spark, index):
    """An off-distribution batch (shifted far from every training
    vector) must read a materially larger drift ratio than an
    in-distribution batch — the re-train trigger actually triggers."""
    path, _ = index
    near = spark.createDataFrame(
        [(200 + i, _vec(i)) for i in range(10)],  # same generator as training
        "vec_id bigint, embedding array<double>",
    )
    far = spark.createDataFrame(
        [(300 + i, _vec(2000 + i, shift=5.0)) for i in range(10)],
        "vec_id bigint, embedding array<double>",
    )
    r_near = ivf_index_append(near, path)["drift_ratio"]
    r_far = ivf_index_append(far, path)["drift_ratio"]
    assert r_far > 3 * r_near
    # per-cell census sees the fattened cells too
    cells = ivf_drift_stats(spark, path).collect()
    assert len(cells) == N_LISTS
    assert any(r["mean_ratio"] is not None and r["mean_ratio"] > 2 for r in cells)


def test_delete_masks_then_compact_removes(spark, index):
    path, _ = index
    probe = spark.createDataFrame(
        [(1, _vec(7))], "probe_id bigint, embedding array<double>"
    )
    before = ivf_search_batch(probe, path, k=3, n_probe=N_LISTS).collect()
    assert int(before[0]["vec_id"]) == 7
    ids = spark.createDataFrame([(7,)], "vec_id bigint")
    ivf_index_delete(ids, path)
    ivf_index_delete(ids, path)  # idempotent
    st = index_stats(IVF, spark, path)
    assert st["tombstones"] == 1 and st["tombstone_fraction"] > 0
    masked = ivf_search_batch(probe, path, k=3, n_probe=N_LISTS).collect()
    assert all(int(r["vec_id"]) != 7 for r in masked)
    out = ivf_index_compact(spark, path)
    assert out["rows"] == 39
    post = index_stats(IVF, spark, path)
    assert post["tombstones"] == 0 and post["rows"] == 39
    after = ivf_search_batch(probe, path, k=3, n_probe=N_LISTS).collect()
    assert [(r["vec_id"], r["score"]) for r in after] == [
        (r["vec_id"], r["score"]) for r in masked
    ]


def test_empty_index_probeable_via_meta_schema(spark, tmp_path):
    """Day-zero bootstrap: an IVF index whose build corpus was fully
    filtered (zero valid vectors) has no data files — the meta's
    schema_json must still make it probeable (the minhash/simhash/
    embedding discipline, ADVICE r8)."""
    empty = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    # KMeans can't train on nothing: pin centers directly
    centers = [[float(i == j) for j in range(DIM)] for i in range(N_LISTS)]
    assigned = empty.withColumn("_cell", F.lit(0))
    path = str(tmp_path / "ivf0")
    ivf_write_index(assigned, centers, path)
    probe = spark.createDataFrame(
        [(1, _vec(1))], "probe_id bigint, embedding array<double>"
    )
    assert ivf_search_batch(probe, path, k=3, n_probe=2).count() == 0
    assert index_stats(IVF, spark, path)["rows"] == 0


def test_append_then_compact_defragments(spark, index):
    path, _ = index
    for b in range(3):
        shard = spark.createDataFrame(
            [(500 + 10 * b + i, _vec(5000 + 10 * b + i)) for i in range(5)],
            "vec_id bigint, embedding array<double>",
        )
        ivf_index_append(shard, path)
    st = index_stats(IVF, spark, path)
    assert st["rows"] == 55
    out = ivf_index_compact(spark, path)
    assert out["rows"] == 55
    assert out["files_after"] <= st["partitions"]
    # centers + meta side tables survive the swap
    assert ivf_index_meta(spark, path) is not None
    assert spark.read.parquet(f"{path}/_ivf_centers").count() == N_LISTS


def test_append_rejects_missing_payload_columns(spark, tmp_path):
    """A shard lacking an index payload column must fail with the
    column NAMES (found via examples/ann_index_serving.py: the raw
    unresolved-column plan dump buried the actual mistake) — silently
    NULLing payload would be data loss a probe only notices later."""
    corpus = spark.createDataFrame(
        [(i, _vec(i), "en") for i in range(20)],
        "vec_id bigint, embedding array<double>, label string",
    )
    assigned, centers = ivf_build_index(corpus, n_lists=2, seed=3)
    path = str(tmp_path / "ivfp")
    ivf_write_index(assigned, centers, path)
    shard = spark.createDataFrame(
        [(100, _vec(100))], "vec_id bigint, embedding array<double>"
    )
    with pytest.raises(ValueError, match="label"):
        ivf_index_append(shard, path)


class TestIvfRetrain:
    """VERDICT r9 #5: the consumer of the drift signal — re-train the
    quantizer on the live membership, swap generations atomically."""

    def test_probe_identical_across_generations_on_unchanged_data(
        self, spark, index
    ):
        from tia_data_pipeline_spark.operators.similarity import ivf_retrain

        path, _ = index
        probe = spark.createDataFrame(
            [(1, _vec(77)), (2, _vec(78))],
            "probe_id bigint, embedding array<double>",
        )
        before = [
            tuple(r)
            for r in ivf_search_batch(probe, path, k=5, n_probe=N_LISTS)
            .orderBy("probe_id", "rnk")
            .collect()
        ]
        info = ivf_retrain(spark, path)
        assert info["rows"] == 40 and info["n_lists"] == N_LISTS
        meta = ivf_index_meta(spark, path)
        assert meta is not None and meta["n_lists"] == N_LISTS
        after = [
            tuple(r)
            for r in ivf_search_batch(probe, path, k=5, n_probe=N_LISTS)
            .orderBy("probe_id", "rnk")
            .collect()
        ]
        assert after == before

    def test_retrain_resets_drift_after_distribution_shift(self, spark, index):
        from tia_data_pipeline_spark.operators.similarity import ivf_retrain

        path, _ = index
        shard = spark.createDataFrame(
            [(200 + i, _vec(2000 + i, shift=4.0)) for i in range(30)],
            "vec_id bigint, embedding array<double>",
        )
        shifted = ivf_index_append(shard, path)
        assert shifted["drift_ratio"] > 1.5  # the re-train trigger fires
        info = ivf_retrain(spark, path)
        assert info["rows"] == 70
        # the new quantizer covers the shifted mode: a further append
        # from the same shifted distribution reads ~baseline drift
        shard2 = spark.createDataFrame(
            [(300 + i, _vec(3000 + i, shift=4.0)) for i in range(20)],
            "vec_id bigint, embedding array<double>",
        )
        settled = ivf_index_append(shard2, path)
        assert settled["drift_ratio"] < 1.5
        assert settled["drift_ratio"] < shifted["drift_ratio"]

    def test_retrain_applies_pending_tombstones(self, spark, index):
        import os

        from tia_data_pipeline_spark.operators.similarity import ivf_retrain

        path, _ = index
        ivf_index_delete(
            spark.createDataFrame([(3,), (7,)], "vec_id bigint"), path
        )
        info = ivf_retrain(spark, path)
        assert info["rows"] == 38
        # the new generation starts clean: deletes applied, no tombstones
        assert not os.path.isdir(f"{path}/_tombstones")
        ids = {
            r["vec_id"]
            for r in spark.read.parquet(path).select("vec_id").collect()
        }
        assert 3 not in ids and 7 not in ids

    def test_retrain_guards(self, spark, index):
        from tia_data_pipeline_spark.operators.similarity import ivf_retrain

        path, _ = index
        with pytest.raises(ValueError, match="live valid vectors"):
            ivf_retrain(spark, path, n_lists=1000)
        with pytest.raises(ValueError, match="local"):
            ivf_retrain(spark, "s3://bucket/idx")
