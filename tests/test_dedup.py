"""Structural tests for the near-dup operators: planted duplicates
must be found; unrelated docs must not pair."""

from __future__ import annotations

import random

import pytest

from tia_data_pipeline_spark.operators.dedup import (
    exact_dedup,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash,
    word_shingles,
)
from pyspark.sql import functions as F


def _docs(spark):
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(200)]
    base = " ".join(rng.choice(vocab) for _ in range(120))
    near = base.replace("w1", "w199", 3)  # a few token edits
    far = " ".join(rng.choice(vocab) for _ in range(120))
    rows = [(1, base), (2, base), (3, near), (4, far), (5, "short text"), (6, "")]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup_collapses_identical(spark):
    got = exact_dedup(_docs(spark), "text", "doc_id")
    # 1 and 2 are byte-identical → one hash bucket, min id survives
    ids = sorted(r["doc_id"] for r in got.collect())
    assert ids == [1, 3, 4, 5, 6]


def test_minhash_finds_planted_near_dups(spark):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(_docs(spark), "text", "doc_id", threshold=0.5).collect()
    }
    assert (1, 2) in pairs  # identical
    assert (1, 3) in pairs and (2, 3) in pairs  # near-dup
    assert all({a, b} <= {1, 2, 3} for a, b in pairs), f"false positives: {pairs}"


def test_ngram_jaccard_exact_pairs(spark):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(_docs(spark), "text", "doc_id", threshold=0.4).collect()
    }
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got and 0.4 <= got[(1, 3)] < 1.0
    assert all({a, b} <= {1, 2, 3} for a, b in got)


def test_simhash_identical_docs_same_fingerprint(spark):
    fp = {r["doc_id"]: r["simhash"] for r in simhash(_docs(spark), "text", "doc_id").collect()}
    assert fp[1] == fp[2]
    # near-dup hamming distance small; far doc large
    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(fp[1], fp[3]) <= 8
    assert ham(fp[1], fp[4]) > 8
    # empty doc drops out (no tokens)
    assert 6 not in fp


def test_word_shingles_short_docs(spark):
    df = spark.createDataFrame([(1, "a b"), (2, "a b c"), (3, "")], "id int, t string")
    got = {
        r["id"]: r["s"]
        for r in df.select("id", word_shingles(F.col("t"), 3).alias("s")).collect()
    }
    assert got[1] == [] and got[3] == []
    assert got[2] == ["a b c"]


def test_minhash_portable_path_finds_planted_near_dups(spark):
    """The md5-digit (engine-portable) shingle hash must find planted
    near-dups on short documents and pair nothing with unrelated
    text."""
    from tia_data_pipeline_spark.operators.dedup import minhash_near_duplicates

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far away "
        "into the deep green forest to hide from every single hunter nearby"
    )
    rows = [(1, base), (2, base + " tonight"), (3, "completely different words " * 8)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(df, "text", "doc_id", threshold=0.5).collect()
    }
    assert (1, 2) in pairs, "missed the planted near-dup"
    assert all(3 not in p for p in pairs)


class TestSubstringOverlap:
    def _frame(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def test_planted_shared_block_found_alignment_independent(self, spark):
        import random

        from tia_data_pipeline_spark.operators.dedup import substring_overlap_pairs

        rng = random.Random(7)

        def noise(n):
            return "".join(rng.choice("abcdefghij ") for _ in range(n))

        block = "".join(rng.choice("KLMNOPQRST") for _ in range(400))
        rows = [
            (1, noise(100) + block + noise(50)),      # block at offset 100
            (2, noise(37) + block + noise(200)),      # block at offset 37
            (3, noise(600)),                          # unrelated
            (4, noise(500)),                          # unrelated
        ]
        pairs = substring_overlap_pairs(
            self._frame(spark, rows), "text", "doc_id", k=32, mod=16, min_shared=2
        ).collect()
        found = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (1, 2) in found, "shared 400-char block missed"
        assert all(p == (1, 2) for p in found), f"false pairs: {found}"
        shared = {(r["id_a"], r["id_b"]): r["shared"] for r in pairs}[(1, 2)]
        # ~(400-31)/16 ≈ 23 expected shared samples; allow wide slack
        assert shared >= 5

    def test_short_docs_sketch_empty(self, spark):
        from tia_data_pipeline_spark.operators.dedup import substring_overlap_pairs

        # docs shorter than k and NULL texts have no k-mer to share
        df = self._frame(spark, [(1, "tiny"), (2, "tiny"), (3, None)])
        assert (
            substring_overlap_pairs(df.filter(F.col("text").isNotNull()), "text", "doc_id").count()
            == 0
        )
        assert substring_overlap_pairs(df, "text", "doc_id").count() == 0

    def test_hot_kmer_cap_excludes_mass_duplication(self, spark):
        from tia_data_pipeline_spark.operators.dedup import substring_overlap_pairs

        block = "Z" * 40 + "QWERTYUIOPASDFGHJKLZXCVBNMqwertyuiopasdf" * 5
        rows = [(i, f"prefix{i} " + block) for i in range(1, 31)]
        pairs = substring_overlap_pairs(
            self._frame(spark, rows), "text", "doc_id", max_df=20
        )
        # 30 docs share every k-mer -> df=30 > cap -> no quadratic pairs
        assert pairs.count() == 0

    def test_bad_args(self, spark):
        from tia_data_pipeline_spark.operators.dedup import (
            duplicated_spans,
            substring_overlap_pairs,
        )

        df = self._frame(spark, [(1, "tiny")])
        for op in (substring_overlap_pairs, duplicated_spans):
            with pytest.raises(ValueError, match="k must be"):
                op(df, "text", "doc_id", k=1)
            with pytest.raises(ValueError, match="mod must be"):
                op(df, "text", "doc_id", mod=0)


def test_hot_shingle_10k_df_dropped_before_any_list(spark):
    """Round-7 hostile fixture (VERDICT r6 #1): a corpus-stop shingle
    shared by 10,000 documents must be dropped by the two-pass cap's
    COUNT pre-filter — it never reaches a collect_list buffer (pinned
    structurally in test_plans.py::test_bucket_collects_are_semi_join_
    capped) and contributes no candidate pairs — while a planted true
    near-dup pair sharing many sub-cap shingles still surfaces."""
    hot = [(i, f"hot common shingle u{i} v{i} w{i}") for i in range(1, 10_001)]
    base = " ".join(f"tok{j}" for j in range(60))
    planted = [(20_001, base), (20_002, base + " extra")]
    df = spark.createDataFrame(hot + planted, "doc_id bigint, text string")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            df, "text", "doc_id", threshold=0.5, max_df=20
        ).collect()
    }
    assert pairs == {(20_001, 20_002)}


class TestMinhashIncrementalIndex:
    """Incremental fuzzy dedup against the persisted signature index
    (VERDICT r7 #2): probe a new shard without rescanning history."""

    @pytest.fixture()
    def index(self, spark, tmp_path):
        from tia_data_pipeline_spark.operators.dedup import minhash_write_index

        # history: a base doc + an unrelated doc; the shard (built in
        # tests) carries a near-copy of base that must pair with it
        rng = random.Random(11)
        vocab = [f"w{i}" for i in range(200)]
        base = " ".join(rng.choice(vocab) for _ in range(120))
        far = " ".join(rng.choice(vocab) for _ in range(120))
        hist = spark.createDataFrame(
            [(1, base), (2, far)], "doc_id bigint, text string"
        )
        path = str(tmp_path / "idx")
        minhash_write_index(hist, "text", "doc_id", path, n_shards=8)
        return path, base, far

    def _shard(self, spark, base):
        near = base.replace("w1", "w199", 3)
        fresh = " ".join(f"z{i}" for i in range(120))
        return spark.createDataFrame(
            [(10, base), (11, near), (12, fresh)], "doc_id bigint, text string"
        )

    def test_probe_finds_history_dups_only(self, spark, index):
        from tia_data_pipeline_spark.operators.index import MINHASH, index_probe

        path, base, _ = index
        got = {
            (r["new_id"], r["dup_id"])
            for r in index_probe(
                MINHASH,
                self._shard(spark, base), [path], threshold=0.5
            )[0].collect()
        }
        # identical + near-copy both pair with indexed doc 1; the fresh
        # doc and the unrelated history doc 2 pair with nothing; shard-
        # internal dups (10~11) are NOT this operator's output
        assert got == {(10, 1), (11, 1)}

    def test_probe_prunes_index_partitions(self, spark, index):
        """The 100 TB property: the probe's index scan must plan
        PartitionFilters from the shard's touched (band, bshard) set —
        an unpruned scan reads the whole index every day."""
        import contextlib
        import io

        from tia_data_pipeline_spark.operators.index import MINHASH, index_probe

        path, base, _ = index
        df = index_probe(MINHASH, self._shard(spark, base), [path], threshold=0.5)[0]
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        scans = [
            ln for ln in plan.splitlines() if "PartitionFilters" in ln
        ]
        assert scans, "index scan lost its partition filters"
        assert any(
            "band" in ln and "bshard" in ln and "[]" not in ln.split("PartitionFilters:")[1][:10]
            for ln in scans
        ), f"no non-empty (band, bshard) partition filter: {scans}"

    def test_append_twice_equals_once(self, spark, index):
        from tia_data_pipeline_spark.operators.index import (
            MINHASH,
            index_append,
            index_meta,
            index_probe,
            read_index,
        )

        path, base, _ = index
        shard = self._shard(spark, base)
        meta = index_meta(MINHASH, spark, path)
        index_append(MINHASH, shard, path)
        n1 = read_index(MINHASH, spark, path, meta).count()
        index_append(MINHASH, shard, path)
        n2 = read_index(MINHASH, spark, path, meta).count()
        assert n1 == n2, "re-appending the same shard must be a no-op"
        # replay determinism: the probe excludes the shard's OWN ids
        # from the index side, so the pair set is IDENTICAL before and
        # after the shard's append — shard-internal dups are the
        # streaming loop's explicit intra leg, never a
        # crash-ordering accident
        got = {
            (r["new_id"], r["dup_id"])
            for r in index_probe(MINHASH, shard, [path], threshold=0.5)[0].collect()
        }
        assert got == {(10, 1), (11, 1)}

    def test_partial_commit_retry_repairs_missing_band_rows(self, spark, index):
        """Round 11 (the text-index partial-commit lesson applied to the
        banded families): a write job hard-killed INSIDE its commit can
        land a subset of a doc's band rows — the anti-join must key on
        (_id, band), not _id, or the retry skips the whole doc and the
        index stays permanently short of band rows (silent recall
        loss). Simulate the torn write by landing only the low bands,
        then retry the real append: every shard doc must end with
        exactly one row per band, and the probe must behave as if the
        append had been clean."""
        from pyspark.sql import functions as F

        from tia_data_pipeline_spark.operators.index import (
            MINHASH,
            index_append,
            index_meta,
            index_probe,
            read_index,
        )

        path, base, _ = index
        shard = self._shard(spark, base)
        meta = index_meta(MINHASH, spark, path)
        banded = MINHASH.band(shard, meta, {"text_col": "text", "id_col": "doc_id"})
        torn = banded.filter(F.col("band") < meta["bands"] // 2)
        assert 0 < torn.count() < banded.count()
        torn.repartition("band", "bshard").write.partitionBy(
            "band", "bshard"
        ).mode("append").parquet(path)
        index_append(MINHASH, shard, path)  # the retry
        per_doc = (
            read_index(MINHASH, spark, path, meta)
            .join(
                shard.select(F.col("doc_id").alias("_id")), "_id", "leftsemi"
            )
            .groupBy("_id")
            .agg(
                F.count("*").alias("n"),
                F.countDistinct("band").alias("nb"),
            )
            .collect()
        )
        assert per_doc and all(
            r["n"] == meta["bands"] and r["nb"] == meta["bands"] for r in per_doc
        ), per_doc
        got = {
            (r["new_id"], r["dup_id"])
            for r in index_probe(MINHASH, shard, [path], threshold=0.5)[0].collect()
        }
        assert got == {(10, 1), (11, 1)}


    def test_empty_index_and_empty_shard(self, spark, tmp_path):
        from tia_data_pipeline_spark.operators.dedup import (
            minhash_write_index,
        )
        from tia_data_pipeline_spark.operators.index import MINHASH, index_probe

        empty = spark.createDataFrame([], "doc_id bigint, text string")
        docs = spark.createDataFrame([(1, "a b c d e f")], "doc_id bigint, text string")
        path = str(tmp_path / "idx0")
        # day-zero bootstrap: an index of zero documents is probeable
        minhash_write_index(empty, "text", "doc_id", path, n_shards=8)
        assert index_probe(MINHASH, docs, [path])[0].count() == 0
        # and an empty shard probes any index to zero rows
        path2 = str(tmp_path / "idx1")
        minhash_write_index(docs, "text", "doc_id", path2, n_shards=8)
        assert index_probe(MINHASH, empty, [path2])[0].count() == 0

    def test_probe_uses_index_hash_family(self, spark, tmp_path):
        """Parameter drift between writer and prober is impossible:
        the probe derives (k, bands, seed, shingle_n) from the index
        meta, so an index written with a non-default family still
        matches a byte-identical shard doc at est 1.0; a meta recording
        the removed xxhash64 shingle hash (portable=false) raises
        instead of silently pairing nothing."""
        from tia_data_pipeline_spark.operators.dedup import (
            minhash_write_index,
        )
        from tia_data_pipeline_spark.operators.index import (
            MINHASH,
            index_meta,
            index_probe,
        )

        text = " ".join(f"t{i}" for i in range(80))
        hist = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
        shard = spark.createDataFrame([(2, text)], "doc_id bigint, text string")
        path = str(tmp_path / "idx_k16")
        minhash_write_index(
            hist, "text", "doc_id", path, k=16, bands=4, seed=99, n_shards=4
        )
        rows = index_probe(MINHASH, shard, [path], threshold=0.9)[0].collect()
        assert [(r["new_id"], r["dup_id"], r["est_jaccard"]) for r in rows] == [
            (2, 1, 1.0)
        ]
        meta = {**index_meta(MINHASH, spark, path), "portable": False}
        names = [c.split()[0] for c in MINHASH.meta_ddl.split(",")]
        spark.createDataFrame(
            [tuple(meta[n] for n in names)], MINHASH.meta_ddl
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/{MINHASH.meta_dir}")
        with pytest.raises(ValueError, match="removed xxhash64.*rebuild"):
            index_probe(MINHASH, shard, [path], threshold=0.9)

    def test_multi_probe_equals_single_probes(self, spark, index, tmp_path):
        """The MinHash input of the multi ≡ single check (the SimHash
        and embedding inputs live with their families): one shard probed
        against a masked dir and its compacted sibling in ONE call must
        emit exactly what per-dir single probes emit, and mismatched
        hash families must raise."""
        import shutil

        from tia_data_pipeline_spark.operators.dedup import minhash_write_index
        from tia_data_pipeline_spark.operators.index import (
            MINHASH,
            index_compact,
            index_delete,
            index_probe,
        )

        path, base, _ = index
        shard = self._shard(spark, base)
        path2 = str(tmp_path / "idx_compacted")
        shutil.copytree(path, path2)
        index_delete(MINHASH, spark.createDataFrame([(2,)], "doc_id bigint"), path2)
        index_compact(MINHASH, spark, path2)

        multi = index_probe(MINHASH, shard, [path, path2], threshold=0.5)
        for p, got in zip([path, path2], multi):
            want = {
                (r["new_id"], r["dup_id"], r["est_jaccard"])
                for r in index_probe(MINHASH, shard, [p], threshold=0.5)[0].collect()
            }
            assert {
                (r["new_id"], r["dup_id"], r["est_jaccard"]) for r in got.collect()
            } == want
        path3 = str(tmp_path / "idx_other_family")
        hist = spark.createDataFrame([(1, base)], "doc_id bigint, text string")
        minhash_write_index(hist, "text", "doc_id", path3, k=16, bands=4, n_shards=8)
        with pytest.raises(ValueError, match="hash family"):
            index_probe(MINHASH, shard, [path, path3], threshold=0.5)


class TestSimhashIncrementalIndex:
    """Incremental SimHash dedup against the persisted fingerprint
    index — the hamming-distance member of the incremental-serving trio
    (MinHash / embedding / SimHash). Same properties as the MinHash
    twin: history dups found without rescanning history, partition
    pruning planned, append idempotent, day-zero bootstrap probeable."""

    @pytest.fixture()
    def index(self, spark, tmp_path):
        from tia_data_pipeline_spark.operators.dedup import simhash_write_index

        rng = random.Random(31)
        vocab = [f"w{i}" for i in range(200)]
        base = " ".join(rng.choice(vocab) for _ in range(120))
        far = " ".join(f"z{i}" for i in range(120))
        hist = spark.createDataFrame(
            [(1, base), (2, far)], "doc_id bigint, text string"
        )
        path = str(tmp_path / "shidx")
        simhash_write_index(hist, "text", "doc_id", path, n_shards=8)
        return path, base

    def _shard(self, spark, base):
        fresh = " ".join(f"q{i}" for i in range(120))
        return spark.createDataFrame(
            [(10, base), (12, fresh)], "doc_id bigint, text string"
        )

    def test_probe_finds_history_dups_only(self, spark, index):
        from tia_data_pipeline_spark.operators.index import SIMHASH, index_probe

        path, base = index
        rows = index_probe(
            SIMHASH,
            self._shard(spark, base), [path], max_hamming=2
        )[0].collect()
        got = {(r["new_id"], r["dup_id"], r["hamming"]) for r in rows}
        # the byte-identical copy pairs with indexed doc 1 at hamming 0
        # (identical token sets ⇒ identical votes); the fresh doc and
        # the unrelated history doc 2 pair with nothing
        assert got == {(10, 1, 0)}

    def test_probe_prunes_index_partitions(self, spark, index):
        """The 100 TB property shared with the MinHash index: the
        probe's index scan plans PartitionFilters from the shard's
        touched (band, bshard) set."""
        import contextlib
        import io

        from tia_data_pipeline_spark.operators.index import SIMHASH, index_probe

        path, base = index
        df = index_probe(SIMHASH, self._shard(spark, base), [path], max_hamming=2)[0]
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        scans = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
        assert scans, "index scan lost its partition filters"
        assert any(
            "band" in ln
            and "bshard" in ln
            and "[]" not in ln.split("PartitionFilters:")[1][:10]
            for ln in scans
        ), f"no non-empty (band, bshard) partition filter: {scans}"

    def test_append_twice_equals_once(self, spark, index):
        from tia_data_pipeline_spark.operators.index import (
            SIMHASH,
            index_append,
            index_meta,
            index_probe,
            read_index,
        )

        path, base = index
        shard = self._shard(spark, base)
        meta = index_meta(SIMHASH, spark, path)
        index_append(SIMHASH, shard, path)
        n1 = read_index(SIMHASH, spark, path, meta).count()
        index_append(SIMHASH, shard, path)
        n2 = read_index(SIMHASH, spark, path, meta).count()
        assert n1 == n2, "re-appending the same shard must be a no-op"
        # replay determinism: the probe anti-joins the shard's own ids
        # off the index side, so the pair set is identical before and
        # after the append
        got = {
            (r["new_id"], r["dup_id"])
            for r in index_probe(SIMHASH, shard, [path], max_hamming=2)[0].collect()
        }
        assert got == {(10, 1)}


    def test_partial_commit_retry_repairs_missing_band_rows(self, spark, index):
        """SimHash twin of the MinHash torn-write repair (shared
        _append_delta core): retry after a partial commit restores
        exactly one row per (doc, band)."""
        from pyspark.sql import functions as F

        from tia_data_pipeline_spark.operators.dedup import simhash_band_frame
        from tia_data_pipeline_spark.operators.index import (
            SIMHASH,
            index_append,
            index_meta,
            index_probe,
            read_index,
        )

        path, base = index
        shard = self._shard(spark, base)
        meta = index_meta(SIMHASH, spark, path)
        banded = simhash_band_frame(
            shard, "text", "doc_id",
            bits=meta["bits"], bands=meta["bands"], n_shards=meta["n_shards"],
        )
        torn = banded.filter(F.col("band") < meta["bands"] // 2)
        assert 0 < torn.count() < banded.count()
        torn.repartition("band", "bshard").write.partitionBy(
            "band", "bshard"
        ).mode("append").parquet(path)
        index_append(SIMHASH, shard, path)
        per_doc = (
            read_index(SIMHASH, spark, path, meta)
            .join(
                shard.select(F.col("doc_id").alias("_id")), "_id", "leftsemi"
            )
            .groupBy("_id")
            .agg(
                F.count("*").alias("n"),
                F.countDistinct("band").alias("nb"),
            )
            .collect()
        )
        assert per_doc and all(
            r["n"] == meta["bands"] and r["nb"] == meta["bands"] for r in per_doc
        ), per_doc
        got = {
            (r["new_id"], r["dup_id"])
            for r in index_probe(
                SIMHASH,
                shard, [path], max_hamming=2
            )[0].collect()
        }
        assert got == {(10, 1)}

    def test_empty_index_and_empty_shard(self, spark, tmp_path):
        from tia_data_pipeline_spark.operators.dedup import (
            simhash_write_index,
        )
        from tia_data_pipeline_spark.operators.index import SIMHASH, index_probe

        empty = spark.createDataFrame([], "doc_id bigint, text string")
        docs = spark.createDataFrame([(1, "a b c d e f")], "doc_id bigint, text string")
        path = str(tmp_path / "shidx0")
        simhash_write_index(empty, "text", "doc_id", path, n_shards=8)
        assert index_probe(SIMHASH, docs, [path])[0].count() == 0
        path2 = str(tmp_path / "shidx1")
        simhash_write_index(docs, "text", "doc_id", path2, n_shards=8)
        assert index_probe(SIMHASH, empty, [path2])[0].count() == 0

    def test_probe_uses_index_meta_family(self, spark, tmp_path):
        """Writer/prober parameter drift is impossible: the probe takes
        (bits, bands, n_shards) from the index meta, so a non-default
        index still matches a byte-identical doc at hamming 0."""
        from tia_data_pipeline_spark.operators.dedup import (
            simhash_write_index,
        )
        from tia_data_pipeline_spark.operators.index import SIMHASH, index_probe

        text = " ".join(f"t{i}" for i in range(80))
        hist = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
        shard = spark.createDataFrame([(2, text)], "doc_id bigint, text string")
        path = str(tmp_path / "shidx32")
        simhash_write_index(hist, "text", "doc_id", path, bits=32, bands=4, n_shards=4)
        rows = index_probe(SIMHASH, shard, [path], max_hamming=0)[0].collect()
        assert [(r["new_id"], r["dup_id"], r["hamming"]) for r in rows] == [(2, 1, 0)]

    def test_multi_probe_equals_single_probes(self, spark, index, tmp_path):
        """index_probe over several dirs (one shared shard frame,
        several index dirs — the takedown lifecycle's probe shape) must
        emit exactly what per-dir single probes emit, and refuse
        mismatched hash families (round 12: the shared scaffolding must
        be an execution detail, never a semantics change)."""
        import shutil

        from tia_data_pipeline_spark.operators.dedup import (
            simhash_write_index,
        )
        from tia_data_pipeline_spark.operators.index import (
            SIMHASH,
            index_compact,
            index_delete,
            index_probe,
        )

        path, base = index
        shard = self._shard(spark, base)
        # sibling dir: tombstone doc 2 then physically compact (the
        # masked-vs-compacted pair the takedown query probes)
        path2 = str(tmp_path / "shidx_compacted")
        shutil.copytree(path, path2)
        doomed = spark.createDataFrame([(2,)], "doc_id bigint")
        index_delete(SIMHASH, doomed, path2)
        index_compact(SIMHASH, spark, path2)

        multi = index_probe(
            SIMHASH,
            shard, [path, path2], max_hamming=2
        )
        for p, got in zip([path, path2], multi):
            want = {
                (r["new_id"], r["dup_id"], r["hamming"])
                for r in index_probe(SIMHASH, shard, [p], max_hamming=2)[0].collect()
            }
            assert {
                (r["new_id"], r["dup_id"], r["hamming"]) for r in got.collect()
            } == want
        # family mismatch: a dir written with different bands must raise
        path3 = str(tmp_path / "shidx_other_family")
        hist = spark.createDataFrame([(1, base)], "doc_id bigint, text string")
        simhash_write_index(hist, "text", "doc_id", path3, bits=32, bands=4, n_shards=8)
        with pytest.raises(ValueError, match="hash family"):
            index_probe(SIMHASH, shard, [path, path3], max_hamming=2)

    def test_max_hamming_beyond_band_guarantee_raises(self, spark, tmp_path):
        """B bands only guarantee collision for hamming ≤ B-1; asking
        for more would silently miss pairs, so it must raise."""
        from tia_data_pipeline_spark.operators.dedup import (
            simhash_write_index,
        )
        from tia_data_pipeline_spark.operators.index import SIMHASH, index_probe

        docs = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
        path = str(tmp_path / "shidx_g")
        simhash_write_index(docs, "text", "doc_id", path, n_shards=4)
        with pytest.raises(ValueError, match="guarantee"):
            index_probe(SIMHASH, docs, [path], max_hamming=4)[0]


@pytest.mark.parametrize(
    "build, n, bands",
    [
        ("minhash_band_frame", 32, 5),
        ("minhash_write_index", 32, 5),
        ("minhash_oracle_sql", 32, 5),
        ("simhash_band_frame", 48, 5),
        ("simhash_incremental_oracle_sql", 48, 7),
    ],
)
def test_bands_must_divide_the_signature(spark, tmp_path, build, n, bands):
    """n % bands != 0 would band only bands·(n // bands) positions and
    lose recall without any error (k=32, bands=5 keys 30 of 32); the
    band frames, the index writer and the oracle builders refuse it
    with a ValueError, which ``python -O`` cannot strip."""
    from tia_data_pipeline_spark.operators import dedup as DD

    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id bigint, text string")
    call = {
        "minhash_band_frame": lambda: DD.minhash_band_frame(
            docs, "text", "doc_id", k=n, bands=bands
        ),
        "minhash_write_index": lambda: DD.minhash_write_index(
            docs, "text", "doc_id", str(tmp_path / "idx"), k=n, bands=bands, n_shards=2
        ),
        "minhash_oracle_sql": lambda: DD.minhash_oracle_sql(
            "documents", "shingles", "doc_id", k=n, bands=bands
        ),
        "simhash_band_frame": lambda: DD.simhash_band_frame(
            docs, "text", "doc_id", bits=n, bands=bands
        ),
        "simhash_incremental_oracle_sql": lambda: DD.simhash_incremental_oracle_sql(
            "documents", "toks", "doc_id", history_pred="true",
            shard_pred="false", bits=n, bands=bands,
        ),
    }[build]
    with pytest.raises(ValueError, match="equal bands"):
        call()


def test_band_divmod_fuzz_vs_duckdb(spark):
    """Cross-engine pin for the SimHash band extraction: Spark's
    ``x div D % M`` and DuckDB's ``x // D % M`` agree on non-negative
    fingerprints (the div/mod banding is only portable because the
    fingerprint domain keeps the sign bit clear — CLAUDE.md integer-
    division invariant)."""
    import duckdb

    rng = random.Random(7)
    vals = [(i, rng.randrange(0, 1 << 48)) for i in range(200)]
    vals += [(200, 0), (201, (1 << 48) - 1), (202, 4096), (203, 4095)]
    df = spark.createDataFrame(vals, "i int, x bigint")
    cols = [
        F.expr(f"(x div {1 << (12 * b)}) % 4096").alias(f"b{b}") for b in range(4)
    ]
    got = {r["i"]: tuple(r[f"b{b}"] for b in range(4)) for r in df.select("i", *cols).collect()}
    con = duckdb.connect()
    sel = ", ".join(f"(x // {1 << (12 * b)}) % 4096" for b in range(4))
    want = {
        r[0]: tuple(r[1:])
        for r in con.execute(
            f"SELECT i, {sel} FROM (SELECT unnest($1::INT[]) AS i, unnest($2::BIGINT[]) AS x)",
            [[v[0] for v in vals], [v[1] for v in vals]],
        ).fetchall()
    }
    assert got == want


def test_bit_count_xor_fuzz_vs_duckdb(spark):
    """Cross-engine pin for the SimHash hamming verify: Spark's
    ``bit_count(a ^ b)`` and DuckDB's ``bit_count(xor(a, b))::INT``
    agree on non-negative BIGINTs (the fingerprint domain — bit 63
    never set, so two's-complement edge cases are out of scope)."""
    import duckdb

    rng = random.Random(42)
    vals = [(i, rng.randrange(0, 1 << 62), rng.randrange(0, 1 << 62)) for i in range(200)]
    vals += [(200, 0, 0), (201, 0, (1 << 62) - 1), (202, (1 << 48) - 1, 1)]
    df = spark.createDataFrame(vals, "i int, a bigint, b bigint")
    got = {
        r["i"]: r["h"]
        for r in df.select("i", F.expr("cast(bit_count(a ^ b) as int)").alias("h")).collect()
    }
    con = duckdb.connect()
    want = dict(
        con.execute(
            "SELECT i, bit_count(xor(a, b))::INT FROM (SELECT "
            "unnest($1::INT[]) AS i, unnest($2::BIGINT[]) AS a, unnest($3::BIGINT[]) AS b)",
            [[v[0] for v in vals], [v[1] for v in vals], [v[2] for v in vals]],
        ).fetchall()
    )
    assert got == want


class TestDuplicatedSpans:
    """Planted-verbatim-span fixtures for the span extractor
    (VERDICT r7 #5): the cut-not-drop form must report WHERE the
    duplication lives, alignment-independently, with no false spans
    between unrelated docs."""

    def _corpus(self, spark):
        rng = random.Random(23)
        letters = "abcdefghijklmnopqrstuvwxyz "
        block = "".join(rng.choice(letters) for _ in range(220))
        pre_a = "".join(rng.choice(letters) for _ in range(100))
        pre_b = "".join(rng.choice(letters) for _ in range(37))
        tail_b = "".join(rng.choice(letters) for _ in range(80))
        far = "".join(rng.choice("0123456789 ") for _ in range(300))
        rows = [
            (1, pre_a + block),          # block at offset 101
            (2, pre_b + block + tail_b),  # same block at offset 38
            (3, far),                     # unrelated
        ]
        return spark.createDataFrame(rows, "doc_id bigint, text string"), block

    def test_planted_span_found_with_offsets(self, spark):
        from tia_data_pipeline_spark.operators.dedup import duplicated_spans

        docs, block = self._corpus(spark)
        spans = duplicated_spans(docs, "text", "doc_id", mod=8).collect()
        assert spans, "planted verbatim block produced no span"
        assert all((r["id_a"], r["id_b"]) == (1, 2) for r in spans), (
            f"false spans: {spans}"
        )
        best = max(spans, key=lambda r: r["span_len"])
        # the reported range must sit INSIDE the planted block in both
        # docs (1-based; block starts at 101 in doc 1, 38 in doc 2) and
        # cover most of it — sampled anchors trim the edges by up to
        # ~k + mod chars each side
        assert 101 <= best["a_start"] and best["a_start"] + best["span_len"] <= 101 + len(block)
        assert best["b_start"] - best["a_start"] == 38 - 101
        assert best["span_len"] >= len(block) - 2 * (32 + 8)
        # and the reported substrings are BYTE-IDENTICAL — the whole
        # point of span extraction
        texts = {r["doc_id"]: r["text"] for r in docs.collect()}
        sub_a = texts[1][best["a_start"] - 1 : best["a_start"] - 1 + best["span_len"]]
        sub_b = texts[2][best["b_start"] - 1 : best["b_start"] - 1 + best["span_len"]]
        assert sub_a == sub_b

    def test_portable_path_matches_default_structure(self, spark):
        """The default call IS the engine-portable path: on the planted
        corpus its spans match the DuckDB oracle value for value."""
        import duckdb

        from tests.oracle import assert_parity
        from tia_data_pipeline_spark.operators.dedup import (
            duplicated_spans,
            duplicated_spans_oracle_sql,
        )

        docs, _ = self._corpus(spark)
        got = duplicated_spans(docs, "text", "doc_id", mod=8)
        assert {(r["id_a"], r["id_b"]) for r in got.collect()} == {(1, 2)}
        con = duckdb.connect()
        con.register("docs", docs.toArrow())
        want = con.sql(duplicated_spans_oracle_sql("docs", "doc_id", mod=8))
        assert_parity(got, want, "duplicated_spans")

    def test_short_and_null_docs_no_spans(self, spark):
        from tia_data_pipeline_spark.operators.dedup import duplicated_spans

        rows = [(1, "tiny"), (2, "tiny"), (3, None), (4, None)]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        assert duplicated_spans(docs, "text", "doc_id").count() == 0


class TestCutDuplicatedSpans:
    """The surgery step: planted duplicated blocks must be REMOVED
    from the later doc (keep-first), byte-exactly, with overlapping
    and identical cut intervals merged before cutting."""

    def _corpus(self, spark):
        rng = random.Random(23)
        letters = "abcdefghijklmnopqrstuvwxyz "
        block = "".join(rng.choice(letters) for _ in range(220))
        pre_a = "".join(rng.choice(letters) for _ in range(100))
        pre_b = "".join(rng.choice(letters) for _ in range(37))
        tail_b = "".join(rng.choice(letters) for _ in range(80))
        rows = [(1, pre_a + block), (2, pre_b + block + tail_b)]
        return spark.createDataFrame(rows, "doc_id bigint, text string"), block

    def test_cut_removes_planted_block_from_later_doc(self, spark):
        import hashlib

        from tia_data_pipeline_spark.operators.dedup import cut_duplicated_spans

        docs, block = self._corpus(spark)
        out = cut_duplicated_spans(docs, "text", "doc_id", mod=8).collect()
        # keep-first: only the LATER doc (id 2) is affected
        assert [r["doc_id"] for r in out] == [2]
        row = out[0]
        texts = {r["doc_id"]: r["text"] for r in docs.collect()}
        # reproduce the cut in python from the extractor's own spans
        from tia_data_pipeline_spark.operators.dedup import duplicated_spans

        spans = duplicated_spans(docs, "text", "doc_id", mod=8).collect()
        ivs = sorted(
            (r["b_start"] - 1, r["b_start"] - 1 + r["span_len"]) for r in spans
        )
        merged = []
        for s, e in ivs:
            if merged and s <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], e))
            else:
                merged.append((s, e))
        t = texts[2]
        kept = ""
        p = 0
        for s, e in merged:
            kept += t[p:s]
            p = e
        kept = kept + t[p:]
        assert row["n_spans"] == len(merged)
        assert row["cut_chars"] == sum(e - s for s, e in merged)
        assert row["kept_len"] == len(kept)
        assert row["kept_hash"] == hashlib.md5(kept.encode()).hexdigest()
        # the planted block's middle cannot survive in the kept text
        assert block[40:180] not in kept

    def test_identical_intervals_from_two_sources_merge_once(self, spark):
        """Regression pin (found by sf0.001 parity): two pairs can
        contribute the IDENTICAL (start, end) interval to one doc —
        tied window sort keys made the ROWS-frame merge evaluation-
        order-dependent until the intervals were distinct'd. Three
        copies of one block: the latest doc pairs with BOTH earlier
        copies on the same diagonal-less range and must report ONE
        merged span."""
        from tia_data_pipeline_spark.operators.dedup import cut_duplicated_spans

        docs, block = self._corpus(spark)
        t1 = docs.filter("doc_id = 1").collect()[0]["text"]
        # docs 3 and 4 are byte-copies of doc 1: doc 4 pairs with doc 1
        # AND doc 3 on the SAME diagonal with the IDENTICAL full-length
        # (s, e) interval — exactly the tied-sort-key case — plus an
        # overlapping block-only interval from its pair with doc 2
        four = docs.unionByName(
            docs.sparkSession.createDataFrame(
                [(3, t1), (4, t1)], "doc_id bigint, text string"
            )
        )
        out = {r["doc_id"]: r for r in cut_duplicated_spans(
            four, "text", "doc_id", mod=8
        ).collect()}
        assert 4 in out and out[4]["n_spans"] == 1
        assert 3 in out and out[3]["n_spans"] == 1

    def test_mass_conservation_on_real_corpus(self, spark):
        """Invariant over the driver corpus: merged cut intervals are
        disjoint and in-bounds, so kept_len + cut_chars == length(text)
        for EVERY affected document — a violated row means overlap
        double-counting or an out-of-range substring."""
        from tia_data_pipeline_spark.catalog import load_table
        from tia_data_pipeline_spark.operators.dedup import cut_duplicated_spans

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        out = cut_duplicated_spans(docs, "text", "doc_id")
        joined = out.join(docs.select("doc_id", "text"), "doc_id")
        bad = joined.filter(
            F.col("kept_len") + F.col("cut_chars") != F.length("text")
        )
        assert out.count() > 0, "fixture corpus lost its duplicated spans"
        assert bad.count() == 0, f"mass not conserved: {bad.collect()[:3]}"
