"""Index deletion lifecycle (VERDICT r8 missing #1): tombstones mask
probes immediately, deletes are idempotent (twice ≡ once), compaction
physically removes tombstoned rows AND the applied tombstones, and the
stats census reports the pending-deletion fraction. One suite per index
family (MinHash / SimHash / embedding) over the shared machinery in
operators/index.py, plus the generic-layer edge cases (day-zero
tombstone reads, underscore partition dirs, non-local URI guard)."""

from __future__ import annotations

import os
import random

import pytest

from pyspark.sql import functions as F


@pytest.fixture()
def docs(spark):
    # pair structure: doc 1 (base) has near-copies 11 and 12; doc 2
    # (far) has near-copy 13 — deleting doc 1 must drop pairs to 1
    # while pairs to 2 survive
    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(200)]
    base = " ".join(rng.choice(vocab) for _ in range(120))
    far = " ".join(rng.choice(vocab) for _ in range(120))
    hist = [(1, base), (2, far)]
    shard = [
        (11, base.replace("w1", "w199", 2)),
        (12, base),
        (13, far),
        (14, " ".join(f"z{i}" for i in range(120))),
    ]
    schema = "doc_id bigint, text string"
    return (
        spark.createDataFrame(hist, schema),
        spark.createDataFrame(shard, schema),
    )


def _ids(spark, *vals):
    return spark.createDataFrame([(v,) for v in vals], "doc_id bigint")


class TestMinhashDelete:
    def _index(self, spark, hist, tmp_path):
        from tia_data_pipeline_spark.operators.dedup import minhash_write_index

        path = str(tmp_path / "mh")
        minhash_write_index(hist, "text", "doc_id", path, n_shards=4)
        return path

    def test_probe_masks_tombstoned_ids(self, spark, docs, tmp_path):
        from tia_data_pipeline_spark.operators.index import (
            MINHASH,
            index_delete,
            index_probe,
        )

        hist, shard = docs
        path = self._index(spark, hist, tmp_path)
        before = {
            (r["new_id"], r["dup_id"])
            for r in index_probe(MINHASH, shard, [path], threshold=0.5)[0].collect()
        }
        assert {(11, 1), (12, 1), (13, 2)} <= before
        index_delete(MINHASH, _ids(spark, 1), path)
        after = {
            (r["new_id"], r["dup_id"])
            for r in index_probe(MINHASH, shard, [path], threshold=0.5)[0].collect()
        }
        # every pair to the deleted doc is gone; pairs to doc 2 survive
        assert after == {p for p in before if p[1] != 1}
        assert (13, 2) in after

    def test_delete_twice_equals_once(self, spark, docs, tmp_path):
        from tia_data_pipeline_spark.operators.index import (
            MINHASH,
            _read_tombstones,
            index_delete,
            index_meta,
        )

        hist, _ = docs
        path = self._index(spark, hist, tmp_path)
        meta = index_meta(MINHASH, spark, path)
        assert _read_tombstones(MINHASH, spark, path, meta) is None
        index_delete(MINHASH, _ids(spark, 1, 2), path)
        ts1 = _read_tombstones(MINHASH, spark, path, meta).count()
        # retried batch + overlapping later batch: no duplicate rows
        index_delete(MINHASH, _ids(spark, 1, 2), path)
        index_delete(MINHASH, _ids(spark, 2, 999), path)
        ts2 = _read_tombstones(MINHASH, spark, path, meta).count()
        assert (ts1, ts2) == (2, 3)

    def test_null_ids_are_excluded(self, spark, docs, tmp_path):
        from tia_data_pipeline_spark.operators.index import (
            MINHASH,
            index_delete,
            index_stats,
        )

        hist, _ = docs
        path = self._index(spark, hist, tmp_path)
        ids = spark.createDataFrame([(None,), (1,)], "doc_id bigint")
        index_delete(MINHASH, ids, path)
        assert index_stats(MINHASH, spark, path)["tombstones"] == 1

    def test_compact_applies_tombstones(self, spark, docs, tmp_path):
        from tia_data_pipeline_spark.operators.index import (
            MINHASH,
            index_compact,
            index_delete,
            index_meta,
            index_probe,
            index_stats,
            read_index,
        )

        hist, shard = docs
        path = self._index(spark, hist, tmp_path)
        meta = index_meta(MINHASH, spark, path)
        bands = meta["bands"]
        total = read_index(MINHASH, spark, path, meta).count()
        index_delete(MINHASH, _ids(spark, 1), path)

        stats = index_stats(MINHASH, spark, path)
        assert stats["tombstones"] == 1
        # doc 1 masks `bands` of the physical rows
        assert stats["tombstone_fraction"] == round(bands / total, 6)

        before_pairs = sorted(
            map(tuple, index_probe(MINHASH, shard, [path], threshold=0.5)[0].collect())
        )
        out = index_compact(MINHASH, spark, path)
        # physical removal: the deleted doc's rows are gone...
        assert out["rows"] == total - bands
        left = read_index(MINHASH, spark, path, index_meta(MINHASH, spark, path))
        assert left.filter(F.col("_id") == 1).count() == 0
        # ...the applied tombstones are gone...
        assert not os.path.isdir(os.path.join(path, "_tombstones"))
        post = index_stats(MINHASH, spark, path)
        assert post["tombstones"] == 0 and post["tombstone_fraction"] == 0.0
        # ...and probes are byte-identical before/after the removal
        after_pairs = sorted(
            map(tuple, index_probe(MINHASH, shard, [path], threshold=0.5)[0].collect())
        )
        assert after_pairs == before_pairs

    def test_append_after_delete_stays_masked_until_compact(
        self, spark, docs, tmp_path
    ):
        """Tombstone-wins semantics: re-appending a deleted doc while
        the tombstone lives is probe-invisible; compaction drops the
        re-appended rows with the tombstone; a FRESH append after that
        re-indexes the doc."""
        from tia_data_pipeline_spark.operators.index import (
            MINHASH,
            index_append,
            index_compact,
            index_delete,
            index_probe,
        )

        hist, shard = docs
        path = self._index(spark, hist, tmp_path)
        index_delete(MINHASH, _ids(spark, 1), path)
        index_append(MINHASH, hist.filter("doc_id = 1"), path)
        masked = {
            (r["new_id"], r["dup_id"])
            for r in index_probe(MINHASH, shard, [path], threshold=0.5)[0].collect()
        }
        assert not any(d == 1 for _, d in masked)
        index_compact(MINHASH, spark, path)
        index_append(MINHASH, hist.filter("doc_id = 1"), path)
        revived = {
            (r["new_id"], r["dup_id"])
            for r in index_probe(MINHASH, shard, [path], threshold=0.5)[0].collect()
        }
        assert (12, 1) in revived


class TestSimhashDelete:
    @pytest.mark.slow
    def test_lifecycle(self, spark, docs, tmp_path):
        from tia_data_pipeline_spark.operators.dedup import (
            simhash_write_index,
        )
        from tia_data_pipeline_spark.operators.index import (
            SIMHASH,
            index_compact,
            index_delete,
            index_probe,
            index_stats,
        )

        hist, shard = docs
        path = str(tmp_path / "sh")
        simhash_write_index(hist, "text", "doc_id", path, n_shards=4)
        before = {
            (r["new_id"], r["dup_id"])
            for r in index_probe(SIMHASH, shard, [path], max_hamming=3)[0].collect()
        }
        assert (12, 1) in before and (13, 2) in before
        index_delete(SIMHASH, _ids(spark, 1), path)
        index_delete(SIMHASH, _ids(spark, 1), path)  # idempotent
        masked = {
            (r["new_id"], r["dup_id"])
            for r in index_probe(SIMHASH, shard, [path], max_hamming=3)[0].collect()
        }
        assert masked == {p for p in before if p[1] != 1}
        st = index_stats(SIMHASH, spark, path)
        assert st["tombstones"] == 1 and st["tombstone_fraction"] > 0
        index_compact(SIMHASH, spark, path)
        post = index_stats(SIMHASH, spark, path)
        assert post["tombstones"] == 0
        after = {
            (r["new_id"], r["dup_id"])
            for r in index_probe(SIMHASH, shard, [path], max_hamming=3)[0].collect()
        }
        assert after == masked


class TestEmbeddingDelete:
    def _data(self, spark):
        rng = random.Random(7)

        def vec(seed):
            r = random.Random(seed)
            return [r.uniform(-1, 1) for _ in range(8)]

        v1, v2 = vec(1), vec(2)
        near1 = [x + 0.001 for x in v1]
        hist = spark.createDataFrame(
            [(1, v1), (2, v2)], "vec_id bigint, embedding array<double>"
        )
        shard = spark.createDataFrame(
            [(11, near1), (12, v1), (13, v2), (14, vec(99))],
            "vec_id bigint, embedding array<double>",
        )
        _ = rng
        return hist, shard

    @pytest.mark.slow
    def test_lifecycle(self, spark, tmp_path):
        from tia_data_pipeline_spark.operators.similarity import (
            embedding_write_index,
        )
        from tia_data_pipeline_spark.operators.index import (
            EMBEDDING,
            index_compact,
            index_delete,
            index_probe,
            index_stats,
        )

        hist, shard = self._data(spark)
        path = str(tmp_path / "emb")
        embedding_write_index(hist, path, bits=2)
        before = {
            (r["new_id"], r["dup_id"])
            for r in index_probe(EMBEDDING, shard, [path], threshold=0.9)[0].collect()
        }
        assert (12, 1) in before and (13, 2) in before
        ids = spark.createDataFrame([(1,)], "vec_id bigint")
        index_delete(EMBEDDING, ids, path)
        index_delete(EMBEDDING, ids, path)  # idempotent
        masked = {
            (r["new_id"], r["dup_id"])
            for r in index_probe(EMBEDDING, shard, [path], threshold=0.9)[0].collect()
        }
        assert masked == {p for p in before if p[1] != 1}
        st = index_stats(EMBEDDING, spark, path)
        assert st["tombstones"] == 1 and st["tombstone_fraction"] > 0
        index_compact(EMBEDDING, spark, path)
        assert index_stats(EMBEDDING, spark, path)["tombstones"] == 0
        after = {
            (r["new_id"], r["dup_id"])
            for r in index_probe(EMBEDDING, shard, [path], threshold=0.9)[0].collect()
        }
        assert after == masked


class TestIvfDelete:
    def test_reappend_after_compact_reindexes(self, spark, tmp_path):
        """The IVF append runs through the index core's touched-cell
        delta: while the tombstones live, re-appending the deleted
        shard lands nothing; after compaction it re-indexes every id,
        and replaying that append lands nothing again."""
        from tia_data_pipeline_spark.operators.similarity import (
            ivf_build_index,
            ivf_index_append,
            ivf_index_compact,
            ivf_index_delete,
            ivf_write_index,
        )

        rng = random.Random(11)
        vecs = spark.createDataFrame(
            [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(40)],
            "vec_id bigint, embedding array<double>",
        )
        path = str(tmp_path / "ivf")
        ivf_write_index(*ivf_build_index(vecs.filter("vec_id < 30"), n_lists=3, seed=3), path)
        shard = vecs.filter("vec_id >= 30")
        assert ivf_index_append(shard, path)["appended"] == 10
        ivf_index_delete(shard.select("vec_id"), path)
        assert ivf_index_append(shard, path)["appended"] == 0
        assert ivf_index_compact(spark, path)["rows"] == 30
        assert ivf_index_append(shard, path)["appended"] == 10
        assert ivf_index_append(shard, path)["appended"] == 0
        ids = [r["vec_id"] for r in spark.read.parquet(path).select("vec_id").collect()]
        assert sorted(ids) == list(range(40))


class TestGenericTombstoneLayer:
    def test_pre_tombstone_index_reads_as_zero(self, spark, docs, tmp_path):
        """Back-compat: an index written before the tombstone layer has
        no _tombstones dir at all — probes and stats treat it as zero
        tombstones instead of failing."""
        import shutil

        from tia_data_pipeline_spark.operators.dedup import (
            minhash_write_index,
        )
        from tia_data_pipeline_spark.operators.index import (
            MINHASH,
            index_delete,
            index_stats,
        )

        hist, _ = docs
        path = str(tmp_path / "old")
        minhash_write_index(hist, "text", "doc_id", path, n_shards=4)
        index_delete(MINHASH, _ids(spark, 1), path)
        shutil.rmtree(os.path.join(path, "_tombstones"))
        st = index_stats(MINHASH, spark, path)
        assert st["tombstones"] == 0 and st["tombstone_fraction"] == 0.0

    def test_underscore_partition_dirs_are_data(self, spark, tmp_path):
        """ADVICE r8: `<col>=value` components are DATA partitions even
        when the column starts with an underscore (the IVF `_cell=K/`
        layout) — stats must census their files and compaction must not
        silently no-op."""
        from tia_data_pipeline_spark.operators.index import (
            IVF,
            index_compact,
            index_meta,
            index_stats,
            read_index,
        )
        from tia_data_pipeline_spark.operators.similarity import (
            ivf_build_index,
            ivf_index_append,
            ivf_write_index,
        )

        rng = random.Random(5)
        vecs = spark.createDataFrame(
            [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(40)],
            "vec_id bigint, embedding array<double>",
        )
        path = str(tmp_path / "ivf")
        ivf_write_index(*ivf_build_index(vecs.filter("vec_id < 30"), n_lists=3, seed=3), path)
        ivf_index_append(vecs.filter("vec_id >= 30"), path)  # a second file per touched cell
        st = index_stats(IVF, spark, path)
        assert st["rows"] == 40 and st["files"] > st["partitions"] > 0
        out = index_compact(IVF, spark, path)
        assert out == {"rows": 40, "files_before": st["files"], "files_after": st["partitions"]}
        assert read_index(IVF, spark, path, index_meta(IVF, spark, path)).count() == 40

    def test_compact_rejects_non_local_uri(self, spark):
        """The local-path check runs before the meta read, so an
        object-store URI fails with the local-FS-only message, not a
        Hadoop filesystem error."""
        from tia_data_pipeline_spark.operators.index import IVF, index_compact

        with pytest.raises(ValueError, match="index_compact is local-FS-only"):
            index_compact(IVF, spark, "s3a://bucket/idx")


class TestScopedProbeCacheRelease:
    """VERDICT r8 wrong #3: the scoped probe forms must release the
    shard cache on exit — the daily-loop scenario the batch API is
    built for (matches the streaming loops' leak test)."""

    def test_minhash_scoped_releases_cache(self, spark, docs, tmp_path):
        from tia_data_pipeline_spark.operators.dedup import (
            minhash_write_index,
        )
        from tia_data_pipeline_spark.operators.index import MINHASH, index_probe_scoped

        hist, shard = docs
        path = str(tmp_path / "mh")
        minhash_write_index(hist, "text", "doc_id", path, n_shards=4)
        spark.catalog.clearCache()  # isolate from session-lifetime caches
        jsc = spark.sparkContext._jsc.sc()
        before = len(jsc.getRDDStorageInfo())
        with index_probe_scoped(MINHASH, shard, [path], threshold=0.5) as (pairs,):
            got = {(r["new_id"], r["dup_id"]) for r in pairs.collect()}
        assert (12, 1) in got
        from tests.conftest import assert_cache_settles_to

        assert_cache_settles_to(jsc, before, "shard cache")

    def test_simhash_scoped_releases_cache(self, spark, docs, tmp_path):
        from tia_data_pipeline_spark.operators.dedup import (
            simhash_write_index,
        )
        from tia_data_pipeline_spark.operators.index import SIMHASH, index_probe_scoped

        hist, shard = docs
        path = str(tmp_path / "sh")
        simhash_write_index(hist, "text", "doc_id", path, n_shards=4)
        spark.catalog.clearCache()  # isolate from session-lifetime caches
        jsc = spark.sparkContext._jsc.sc()
        before = len(jsc.getRDDStorageInfo())
        with index_probe_scoped(SIMHASH, shard, [path]) as (pairs,):
            assert pairs.count() >= 1
        from tests.conftest import assert_cache_settles_to

        assert_cache_settles_to(jsc, before, "shard cache")

    def test_embedding_scoped_releases_cache(self, spark, tmp_path):
        from tia_data_pipeline_spark.operators.similarity import (
            embedding_write_index,
        )
        from tia_data_pipeline_spark.operators.index import (
            EMBEDDING,
            index_probe_scoped,
        )

        hist, shard = TestEmbeddingDelete()._data(spark)
        path = str(tmp_path / "emb")
        embedding_write_index(hist, path, bits=2)
        spark.catalog.clearCache()  # isolate from session-lifetime caches
        jsc = spark.sparkContext._jsc.sc()
        before = len(jsc.getRDDStorageInfo())
        with index_probe_scoped(EMBEDDING, shard, [path], threshold=0.9) as (pairs,):
            assert pairs.count() >= 1
        from tests.conftest import assert_cache_settles_to

        assert_cache_settles_to(jsc, before, "shard cache")


    def test_multi_path_scoped_releases_cache(self, spark, docs, tmp_path):
        """The one scoped form over SEVERAL dirs persists the capped
        probe side on top of the shard frame (every dir's leg consumes
        it); scope exit must release both."""
        import shutil

        from tia_data_pipeline_spark.operators.dedup import simhash_write_index
        from tia_data_pipeline_spark.operators.index import SIMHASH, index_probe_scoped

        hist, shard = docs
        path = str(tmp_path / "sh")
        simhash_write_index(hist, "text", "doc_id", path, n_shards=4)
        shutil.copytree(path, str(tmp_path / "sh2"))
        spark.catalog.clearCache()  # isolate from session-lifetime caches
        jsc = spark.sparkContext._jsc.sc()
        before = len(jsc.getRDDStorageInfo())
        with index_probe_scoped(SIMHASH, shard, [path, str(tmp_path / "sh2")]) as pairs:
            assert len(pairs) == 2 and all(p.count() >= 1 for p in pairs)
        from tests.conftest import assert_cache_settles_to

        assert_cache_settles_to(jsc, before, "shard and probe-side caches")


def test_index_families_key_a_dict():
    """A family is one fixed descriptor: it hashes by identity, so the
    five can key a dict (``defaults`` is a dict, which a field-wise
    hash would reject)."""
    from tia_data_pipeline_spark.operators.index import FAMILIES, MINHASH

    by_family = {family: family.name for family in FAMILIES}
    assert len(by_family) == 5 and len(set(FAMILIES)) == 5
    assert by_family[MINHASH] == "minhash"


def test_stream_index_deletes_masks_and_replays_idempotently(spark, docs, tmp_path):
    """The deletion-request stream: streamed takedown ids tombstone the
    index per micro-batch; a replay of the same files tombstones
    nothing new; probes mask immediately."""
    from tia_data_pipeline_spark.operators.dedup import (
        minhash_write_index,
    )
    from tia_data_pipeline_spark.operators.index import (
        MINHASH,
        index_probe,
        index_stats,
    )
    from tia_data_pipeline_spark.streaming.dedup_serve import stream_index_deletes

    hist, shard = docs
    path = str(tmp_path / "mh")
    minhash_write_index(hist, "text", "doc_id", path, n_shards=4)
    req_dir = tmp_path / "requests"
    spark.createDataFrame([(1,)], "doc_id bigint").coalesce(1).write.parquet(
        str(req_dir / "a")
    )
    spark.createDataFrame([(1,), (2,)], "doc_id bigint").coalesce(1).write.parquet(
        str(req_dir / "b")
    )
    id_stream = (
        spark.readStream.schema("doc_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{req_dir}/*")
    )
    q = stream_index_deletes(
        id_stream,
        index_path=path,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    st = index_stats(MINHASH, spark, path)
    assert st["tombstones"] == 2  # overlapping requests collapse
    assert index_probe(MINHASH, shard, [path], threshold=0.5)[0].count() == 0
    bare = str(tmp_path / "not_an_index")
    os.makedirs(bare)
    with pytest.raises(ValueError, match="not_an_index holds no index meta"):
        stream_index_deletes(
            id_stream, index_path=bare, checkpoint=str(tmp_path / "ckpt2"),
        )


class TestReviewHardenings:
    """Round-9 review findings, pinned."""

    def test_noop_delete_never_creates_tombstone_dir(self, spark, docs, tmp_path):
        """An all-NULL or fully-replayed deletion batch must not create
        _tombstones on a pristine index (it would permanently demote
        every probe off the never-deleted fast path) nor grow files on
        replay."""
        from tia_data_pipeline_spark.operators.dedup import (
            minhash_write_index,
        )
        from tia_data_pipeline_spark.operators.index import MINHASH, index_delete

        hist, _ = docs
        path = str(tmp_path / "mh")
        minhash_write_index(hist, "text", "doc_id", path, n_shards=4)
        nulls = spark.createDataFrame([(None,)], "doc_id bigint")
        index_delete(MINHASH, nulls, path)
        assert not os.path.isdir(os.path.join(path, "_tombstones"))
        # a real delete creates it; replaying adds NO file
        index_delete(MINHASH, _ids(spark, 1), path)
        import glob

        files = lambda: len(  # noqa: E731
            glob.glob(os.path.join(path, "_tombstones", "*.parquet"))
        )
        n1 = files()
        index_delete(MINHASH, _ids(spark, 1), path)
        assert files() == n1 == 1

    def test_stream_deletes_respect_family_id_defaults(self, spark, tmp_path):
        """The deletion stream accepts the id column each index family
        defaults to — vec_id for embedding (review r9: a hardcoded
        forwarded 'doc_id' raised UNRESOLVED_COLUMN in foreachBatch),
        the meta-recorded vec_id for IVF, doc_id for text — and its
        tombstone masks real index rows."""
        from tia_data_pipeline_spark.operators.index import (
            EMBEDDING,
            IVF,
            TEXT,
            index_probe,
            index_stats,
        )
        from tia_data_pipeline_spark.operators.similarity import (
            embedding_write_index,
            ivf_build_index,
            ivf_write_index,
        )
        from tia_data_pipeline_spark.operators.text_index import build_text_index
        from tia_data_pipeline_spark.streaming.dedup_serve import (
            stream_index_deletes,
        )

        hist, shard = TestEmbeddingDelete()._data(spark)
        texts = spark.createDataFrame(
            [(1, "spark data join"), (2, "table stream")], "doc_id bigint, text string"
        )
        writers = {
            EMBEDDING: ("vec_id", lambda p: embedding_write_index(hist, p, bits=2)),
            IVF: ("vec_id", lambda p: ivf_write_index(*ivf_build_index(hist, n_lists=2, seed=3), p)),
            TEXT: ("doc_id", lambda p: build_text_index(texts, p, n_buckets=4)),
        }
        for family, (id_col, write) in writers.items():
            path = str(tmp_path / family.name)
            write(path)
            req = tmp_path / f"requests_{family.name}"
            spark.createDataFrame([(1,)], f"{id_col} bigint").coalesce(1).write.parquet(
                str(req / "a")
            )
            id_stream = spark.readStream.schema(f"{id_col} bigint").parquet(f"{req}/*")
            q = stream_index_deletes(
                id_stream,
                index_path=path,
                checkpoint=str(tmp_path / f"ckpt_{family.name}"),
            )
            q.awaitTermination()
            st = index_stats(family, spark, path)
            assert st["tombstones"] == 1 and st["tombstone_fraction"] > 0, family.name
        (pairs,) = index_probe(EMBEDDING, shard, [str(tmp_path / "embedding")], threshold=0.9)
        got = {(r["new_id"], r["dup_id"]) for r in pairs.collect()}
        assert not any(d == 1 for _, d in got)


class TestMassDeleteMask:
    """VERDICT r9 #4: the tombstone mask is size-conditional. Takedown-
    request-sized sets broadcast (the round-9 plan, unchanged and
    plan-asserted); a TTL/retention sweep past the broadcast budget
    routes through the Bloom membership split so the tombstone set is
    never shipped to every executor — definitely-live rows skip the
    shuffle and only the Bloom-possible sliver pays the exact
    shuffle-hash join. Both paths must be row-identical, for the live
    mask and for the dead-rows leg."""

    LIVE = {i for i in range(10_000) if i % 7 != 0}
    DEAD = {i for i in range(10_000) if i % 7 == 0}

    def _index(self, spark, tmp_path):
        """A 10,000-row text-family index dir whose tombstones are a
        15% retention sweep — mass-deletion regime, not request-sized.
        Returns (scan, path, meta)."""
        import pandas as pd

        from tia_data_pipeline_spark.operators.index import TEXT, index_delete, index_meta

        path = str(tmp_path / "idx")
        spark.createDataFrame(
            pd.DataFrame({"doc_id": range(10_000), "val": [i % 97 for i in range(10_000)]})
        ).write.parquet(path)
        df = spark.read.parquet(path)
        spark.createDataFrame([(df.schema.json(),)], "postings_schema string").write.parquet(
            f"{path}/{TEXT.meta_dir}"
        )
        index_delete(TEXT, df.filter("doc_id % 7 = 0"), path)
        return df, path, index_meta(TEXT, spark, path)

    def _plan(self, df):
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    def _doc_ids(self, df):
        return {r["doc_id"] for r in df.collect()}

    def test_bloom_path_equals_broadcast_path(self, spark, tmp_path, monkeypatch):
        from tia_data_pipeline_spark.operators import membership
        from tia_data_pipeline_spark.operators.index import TEXT, mask_tombstones

        df, path, meta = self._index(spark, tmp_path)
        for regime in ("broadcast", "bloom"):
            if regime == "bloom":
                monkeypatch.setattr(membership, "BROADCAST_MAX_SOURCE_BYTES", 0)
            live = mask_tombstones(TEXT, df, path, meta)
            # keep="dead" is the text index's scalar-correction leg
            dead = mask_tombstones(TEXT, df, path, meta, keep="dead")
            assert self._doc_ids(live) == self.LIVE, regime
            assert self._doc_ids(dead) == self.DEAD, regime

    def test_request_sized_path_stays_broadcast(self, spark, tmp_path):
        from tia_data_pipeline_spark.operators.index import TEXT, mask_tombstones

        df, path, meta = self._index(spark, tmp_path)
        for keep, how in (("live", "LeftAnti"), ("dead", "LeftSemi")):
            p = self._plan(mask_tombstones(TEXT, df, path, meta, keep=keep))
            assert "BroadcastHashJoin" in p and how in p, keep
            assert "ShuffledHashJoin" not in p and "SortMergeJoin" not in p, keep

    def test_mass_delete_never_shuffles_the_full_relation_as_broadcast(
        self, spark, tmp_path, monkeypatch
    ):
        """Past the budget the exact leg is a shuffle-hash join of the
        Bloom-possible sliver — the tombstone SET itself never appears
        under a BroadcastExchange (the word table that does broadcast
        is bounded by the filter bits, not the tombstone count)."""
        from tia_data_pipeline_spark.operators import membership
        from tia_data_pipeline_spark.operators.index import TEXT, mask_tombstones

        df, path, meta = self._index(spark, tmp_path)
        monkeypatch.setattr(membership, "BROADCAST_MAX_SOURCE_BYTES", 0)
        for keep in ("live", "dead"):
            p = self._plan(mask_tombstones(TEXT, df, path, meta, keep=keep))
            assert "ShuffledHashJoin" in p, keep  # the exact sliver leg
            # the mask is a marked filter, not an anti- or semi-join
            assert "LeftAnti" not in p and "LeftSemi" not in p, keep

    def test_index_probe_routes_through_the_switch(self, spark, tmp_path, monkeypatch):
        """End-to-end: a BM25 serve over a tombstoned text index masks
        its candidates and corrects its scalars through the switch, and
        gives identical rows in both regimes."""
        from tia_data_pipeline_spark.operators import membership
        from tia_data_pipeline_spark.operators.text_index import (
            bm25_search_batch,
            build_text_index,
            text_index_delete,
        )

        words = ["spark", "join", "table", "stream", "index"]
        docs = spark.createDataFrame(
            [(i, " ".join(words[j % 5] for j in range(i % 7 + 1, i % 7 + 4))) for i in range(60)],
            "doc_id bigint, text string",
        )
        path = str(tmp_path / "tidx")
        build_text_index(docs, path, n_buckets=4)
        text_index_delete(docs.filter("doc_id % 7 = 0").select("doc_id"), path)
        queries = spark.createDataFrame([(1, ["spark", "join"])], "query_id bigint, terms array<string>")

        def serve():
            return sorted(map(tuple, bm25_search_batch(queries, path, k=60).collect()))

        small = serve()
        monkeypatch.setattr(membership, "BROADCAST_MAX_SOURCE_BYTES", 0)
        assert serve() == small
        assert small and all(r[1] % 7 != 0 for r in small)
