"""ANN structure tests: multi-probe recall dominates single-probe;
IVF finds planted-cluster neighbors that brute force confirms."""

from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F

from tia_data_pipeline_spark.operators.similarity import (
    brute_force_top_k,
    ivf_build_index,
    ivf_search_batch,
    ivf_write_index,
    lsh_top_k,
    projection_matrix,
)


def _clustered_corpus(spark, n_clusters=8, per_cluster=40, dim=16, seed=5):
    """Gaussian blobs: IVF's favorable geometry (the test data's random
    embeddings are isotropic, adversarial for any ANN)."""
    rng = random.Random(seed)
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_clusters)]
    rows = []
    vid = 0
    for c in centers:
        for _ in range(per_cluster):
            rows.append((vid, [x + rng.gauss(0, 0.05) for x in c]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def _ivf_serve_one(path, probe, **kw):
    """(vec_id, score) rows of one probe served as a one-row batch."""
    pb = probe.select(F.lit(0).alias("probe_id"), "embedding")
    return [
        (r["vec_id"], r["score"])
        for r in ivf_search_batch(pb, path, **kw).orderBy("rnk").collect()
    ]


def test_ivf_matches_brute_force_on_clusters(spark, tmp_path):
    corpus = _clustered_corpus(spark)
    probe = corpus.filter(F.col("vec_id") == 0)
    rest = corpus.filter(F.col("vec_id") != 0)
    exact = [r["vec_id"] for r in brute_force_top_k(rest, probe, k=10).collect()]
    path = str(tmp_path / "ivf")
    ivf_write_index(*ivf_build_index(rest, n_lists=8), path)
    approx = [v for v, _ in _ivf_serve_one(path, probe, k=10, n_probe=2)]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.9, f"IVF recall {recall} on clustered data (exact={exact}, ivf={approx})"


def test_ivf_fit_sample_is_bounded_and_serving_exact(spark, tmp_path):
    """VERDICT r4 #4: the KMeans fit input is capped by a deterministic
    id-hash sample while ASSIGNMENT stays full-corpus — the build still
    assigns every vector a cell, and full-probe serving over the
    sampled-fit index is still exactly brute force."""
    from tia_data_pipeline_spark.operators.similarity import _kmeans_fit_input

    corpus = _clustered_corpus(spark, n_clusters=6, per_cluster=30)
    n = corpus.count()
    cap = 60
    fit = _kmeans_fit_input(corpus, "vec_id", cap, seed=7)
    m = fit.count()
    # expected cap hash variance: mean n*keep/denom ~= cap
    assert m < n and m <= 2 * cap
    # deterministic: same input -> same keep-set
    assert fit.count() == m
    # no cap when the corpus already fits
    assert _kmeans_fit_input(corpus, "vec_id", n, seed=7).count() == n

    assigned, centers = ivf_build_index(corpus, n_lists=6, seed=7, fit_sample_max=cap)
    assert assigned.count() == n, "assignment must stay full-corpus"
    path = str(tmp_path / "ivf_sampled")
    ivf_write_index(assigned, centers, path)
    probe_df = corpus.filter(F.col("vec_id") == 0).select("embedding")
    full = _ivf_serve_one(path, probe_df, k=5, n_probe=6, centers=centers)
    exact = brute_force_top_k(spark.read.parquet(path), probe_df, k=5)
    assert full == [(r["vec_id"], r["score"]) for r in exact.collect()]


def test_multiprobe_recall_dominates_single_probe(spark):
    corpus = _clustered_corpus(spark, n_clusters=4, per_cluster=60)
    probe = corpus.filter(F.col("vec_id") == 0)
    rest = corpus.filter(F.col("vec_id") != 0)
    proj = projection_matrix(bits=8, dim=16, seed=7)
    exact = {r["vec_id"] for r in brute_force_top_k(rest, probe, k=10).collect()}
    single = {r["vec_id"] for r in lsh_top_k(rest, probe, k=10, proj=proj).collect()}
    multi = {
        r["vec_id"]
        for r in lsh_top_k(rest, probe, k=10, proj=proj, hamming_probe=1).collect()
    }
    assert len(multi & exact) >= len(single & exact)
    assert len(multi) >= len(single)


def test_ivf_partitioned_index_prunes_and_serves(spark, tmp_path):
    """The persisted IVF index must (1) lay the corpus out partitioned
    by cell so a cell predicate opens only that cell's files, and
    (2) with n_probe = n_lists reproduce exact brute force, scores
    included. The serve's PartitionFilter is pinned in
    tests/test_ann_serve.py::test_probe_scan_prunes_index_partitions."""
    from tia_data_pipeline_spark.operators.similarity import ivf_read_centers

    corpus = _clustered_corpus(spark, n_clusters=6, per_cluster=30)
    assigned, centers = ivf_build_index(corpus, n_lists=6, seed=7)
    path = str(tmp_path / "ivf_index")
    ivf_write_index(assigned, centers, path)
    assert ivf_read_centers(spark, path) == centers

    # full probe == exact brute force over the same table
    probe_df = corpus.filter(F.col("vec_id") == 0).select("embedding")
    full = _ivf_serve_one(path, probe_df, k=5, n_probe=6, centers=centers)
    exact = brute_force_top_k(spark.read.parquet(path), probe_df, k=5)
    assert full == [(r["vec_id"], r["score"]) for r in exact.collect()]

    # input_file_name() reflects files actually opened post-pruning
    # (inputFiles() is relation-level and ignores the filter)
    read_files = {
        r[0]
        for r in spark.read.parquet(path)
        .filter(F.col("_cell").isin([0, 1]))
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    all_files = set(spark.read.parquet(path).inputFiles())
    assert read_files and read_files < all_files
    assert all("/_cell=0/" in f or "/_cell=1/" in f for f in read_files)

    # the pruned search still finds the probe's own cluster (vec_id 0's
    # nearest cell contains its 29 blob siblings)
    pruned = _ivf_serve_one(path, probe_df, k=5, n_probe=2, centers=centers)
    top = [v for v, _ in pruned]
    assert top[0] == 0 and len(top) == 5


def test_projection_bits_scale_rule():
    from tia_data_pipeline_spark.operators.similarity import projection_bits_for

    assert projection_bits_for(2_000) == 1
    assert projection_bits_for(40_000) == 6    # the 8x stress corpus
    assert projection_bits_for(1_000_000) == 10
    assert projection_bits_for(10**9) == 20    # 100 TB-ish corpus
    assert projection_bits_for(10) == 1        # floor at 1 bit


def test_bucket_join_keys_on_both_sides_bucket(spark):
    """The cell-equi self-join must compare each side's OWN bucket and
    say so in the plan it builds: a predicate made of one attribute on
    both sides makes Spark warn "Constructing trivially true equals
    predicate" and leaves correctness to its self-join rewrite. The
    warning is read from a log4j appender on the root logger while the
    plan builds. One projection row splits the vectors by the sign of
    x, and threshold -1 keeps every candidate pair, so only
    same-bucket pairs come back."""
    from tia_data_pipeline_spark.operators.similarity import embedding_near_duplicates

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.1]), (3, [-1.0, 0.0]), (4, [-1.0, 0.1])],
        "vec_id bigint, embedding array<double>",
    )
    jvm = spark._jvm
    core = jvm.org.apache.logging.log4j.core
    ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
    root = ctx.getConfiguration().getRootLogger()
    log = jvm.java.io.StringWriter()
    layout = core.layout.PatternLayout.newBuilder().withPattern("%m%n").build()
    app = (
        core.appender.WriterAppender.newBuilder()
        .setName("bucket_join_probe").setLayout(layout).setTarget(log).build()
    )
    app.start()
    root.addAppender(app, None, None)
    ctx.updateLoggers()
    try:
        out = embedding_near_duplicates(df, threshold=-1.0, proj=[[1.0, 0.0]])
    finally:
        root.removeAppender("bucket_join_probe")
        ctx.updateLoggers()
        app.stop()
    assert "trivially true" not in log.toString(), log.toString()
    assert {(r["id_a"], r["id_b"]) for r in out.collect()} == {(1, 2), (3, 4)}


def test_semantic_dedup_planted_pairs_null_and_cap(spark):
    """Round-7 operator semantics, independent of the contract oracle:
    (a) two near-identical vectors land in the same cell and pair above
    threshold while an orthogonal vector never pairs; (b) NULL
    vector / NULL id rows are excluded up front; (c) a cluster past
    max_cluster is dropped whole by the two-pass cap (no pairs from
    it), while smaller clusters still emit."""
    import random

    from tia_data_pipeline_spark.operators.similarity import (
        semantic_centroids,
        semantic_dedup_pairs,
    )

    centers = semantic_centroids()
    dim = len(centers[0])
    rng = random.Random(5)
    base = [round(rng.uniform(-1, 1), 6) for _ in range(dim)]
    near = list(base)
    near[0] += 1e-6
    ortho = [0.0] * dim
    ortho[1] = 1.0  # cosine vs base ~0, never >= 0.9
    rows = [
        (1, base),
        (2, near),
        (3, ortho),
        (4, None),  # NULL vector
        (None, base),  # NULL id
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in semantic_dedup_pairs(df, centers, threshold=0.9).collect()
    }
    assert pairs == {(1, 2)}
    # cap: 60 copies of base (one cluster of 60) with max_cluster=50 ->
    # the hot cluster contributes nothing; a separate 2-member cluster
    # around another center still pairs
    c7 = [round(v, 6) for v in centers[7]]
    c7b = list(c7)
    c7b[0] += 1e-6
    hot = [(100 + i, base) for i in range(60)]
    df2 = spark.createDataFrame(
        hot + [(1, c7), (2, c7b)], "vec_id bigint, embedding array<double>"
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in semantic_dedup_pairs(
            df2, centers, threshold=0.9, max_cluster=50
        ).collect()
    }
    assert got == {(1, 2)}


class TestEmbeddingIncrementalIndex:
    """The vector twin of the MinHash signature index: probe a new
    vector shard against persisted sign-bucket cells."""

    def _vecs(self, spark, rows):
        return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    @pytest.fixture()
    def index(self, spark, tmp_path):
        from tia_data_pipeline_spark.operators.similarity import (
            embedding_write_index,
            projection_matrix,
        )

        base = [1.0, 0.5, -0.25, 2.0]
        far = [-1.0, 2.0, 0.5, -1.5]
        hist = self._vecs(spark, [(1, base), (2, far)])
        path = str(tmp_path / "eidx")
        proj = projection_matrix(bits=3, dim=4, seed=7)
        embedding_write_index(hist, path, proj=proj)
        return path, base, far

    def test_probe_finds_history_dups_only(self, spark, index):
        from tia_data_pipeline_spark.operators.index import EMBEDDING, index_probe

        path, base, far = index
        near = [v * 1.01 + 0.01 for v in base]  # cosine ~1 with base
        ortho = [2.0, -1.0, 4.0, 0.25]
        shard = self._vecs(spark, [(10, near), (11, ortho)])
        got = {
            (r["new_id"], r["dup_id"]): r["score"]
            for r in index_probe(EMBEDDING, shard, [path], threshold=0.95)[0].collect()
        }
        assert set(got) == {(10, 1)}
        assert got[(10, 1)] >= 0.99

    def test_multi_probe_equals_single_probes(self, spark, index, tmp_path):
        """index_probe over several dirs (one shared shard frame,
        several index dirs — the takedown lifecycle's probe shape) must
        emit exactly what per-dir single probes emit, and refuse
        mismatched projections (round 12: shared scaffolding is an
        execution detail, never a semantics change)."""
        import shutil

        from tia_data_pipeline_spark.operators.similarity import (
            embedding_write_index,
            projection_matrix,
        )
        from tia_data_pipeline_spark.operators.index import (
            EMBEDDING,
            index_compact,
            index_delete,
            index_probe,
        )

        path, base, far = index
        near = [v * 1.01 + 0.01 for v in base]
        shard = self._vecs(spark, [(10, near), (11, [2.0, -1.0, 4.0, 0.25])])
        path2 = str(tmp_path / "eidx_compacted")
        shutil.copytree(path, path2)
        doomed = spark.createDataFrame([(2,)], "vec_id bigint")
        index_delete(EMBEDDING, doomed, path2)
        index_compact(EMBEDDING, spark, path2)

        multi = index_probe(EMBEDDING, shard, [path, path2], threshold=0.95)
        for p, got in zip([path, path2], multi):
            want = {
                (r["new_id"], r["dup_id"], r["score"])
                for r in index_probe(
                    EMBEDDING,
                    shard, [p], threshold=0.95
                )[0].collect()
            }
            assert {
                (r["new_id"], r["dup_id"], r["score"]) for r in got.collect()
            } == want
        # projection mismatch: a dir written with a different family
        # must raise, never probe wrong cells
        path3 = str(tmp_path / "eidx_other_proj")
        hist = self._vecs(spark, [(1, base)])
        embedding_write_index(hist, path3, proj=projection_matrix(bits=3, dim=4, seed=99))
        with pytest.raises(ValueError, match="projection"):
            index_probe(EMBEDDING, shard, [path, path3], threshold=0.95)

    def test_probe_prunes_index_partitions(self, spark, index):
        import contextlib
        import io

        from tia_data_pipeline_spark.operators.index import EMBEDDING, index_probe

        path, base, _ = index
        shard = self._vecs(spark, [(10, base)])
        df = index_probe(EMBEDDING, shard, [path], threshold=0.5)[0]
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        lines = [l for l in buf.getvalue().splitlines() if "PartitionFilters" in l]
        assert lines, "index scan lost its partition filters"
        assert any(
            "bucket" in l and "[]" not in l.split("PartitionFilters:")[1][:10]
            for l in lines
        ), f"no non-empty bucket partition filter: {lines}"

    def test_append_twice_equals_once_and_self_noop(self, spark, index):
        from tia_data_pipeline_spark.operators.index import (
            EMBEDDING,
            index_append,
            index_meta,
            index_probe,
            read_index,
        )

        path, base, _ = index
        shard = self._vecs(spark, [(10, [v * 1.01 for v in base])])
        meta = index_meta(EMBEDDING, spark, path)
        index_append(EMBEDDING, shard, path)
        n1 = read_index(EMBEDDING, spark, path, meta).count()
        index_append(EMBEDDING, shard, path)
        assert read_index(EMBEDDING, spark, path, meta).count() == n1
        # self-pairs excluded after the shard becomes index-resident
        got = {
            (r["new_id"], r["dup_id"])
            for r in index_probe(EMBEDDING, shard, [path], threshold=0.95)[0].collect()
        }
        assert got == {(10, 1)}

    def test_empty_index_and_null_rows(self, spark, tmp_path):
        from tia_data_pipeline_spark.operators.similarity import (
            embedding_write_index,
        )
        from tia_data_pipeline_spark.operators.index import EMBEDDING, index_probe

        empty = self._vecs(spark, [])
        path = str(tmp_path / "eidx0")
        embedding_write_index(empty, path, bits=3)
        shard = self._vecs(spark, [(1, [1.0, 0.0, 0.0, 0.0]), (2, None), (None, [1.0, 0.0, 0.0, 0.0])])
        assert index_probe(EMBEDDING, shard, [path])[0].count() == 0
