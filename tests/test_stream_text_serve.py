"""Streaming text-index lifecycle: stream append ≡ fresh rebuild,
foreachBatch replay idempotency, and the family="text" takedown
stream — the fifth index family's streaming club membership (round
10). The oracle for every leg is the family's strongest: serving from
the incrementally-maintained index must EQUAL serving from a fresh
full build of the same live membership (df, N, avgdl all track)."""

from __future__ import annotations

import pytest

from tests.conftest import SMOKE_SF, bm25_serve_one
from tia_data_pipeline_spark.catalog import load_table
from tia_data_pipeline_spark.operators.text_index import build_text_index
from tia_data_pipeline_spark.streaming.text_serve import (
    stream_text_index_append,
    text_index_append_batch,
)

DOC_SCHEMA = "doc_id bigint, text string"


def _serve(spark, path, k=20):
    from tia_data_pipeline_spark.plans.llm import _BM25_TERMS

    return bm25_serve_one(spark, path, _BM25_TERMS, k=k)


def _fresh(spark, docs, tmp_path, tag):
    p = str(tmp_path / f"fresh_{tag}")
    build_text_index(docs, p, n_buckets=8)
    return _serve(spark, p)


def test_stream_append_equals_fresh_rebuild(spark, tmp_path):
    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    hist = docs.filter("doc_id % 4 = 0")
    path = str(tmp_path / "idx")
    build_text_index(hist, path, n_buckets=8)
    stream_dir = tmp_path / "docs_in"
    docs.filter("doc_id % 4 = 1").coalesce(1).write.parquet(str(stream_dir / "a"))
    docs.filter("doc_id % 4 >= 2").coalesce(1).write.parquet(str(stream_dir / "b"))
    doc_stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/*")
    )
    q = stream_text_index_append(
        doc_stream, index_path=path, checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    # two micro-batches of appends serve exactly like one fresh build
    # of the whole corpus — serve-time df needs no repair step
    assert _serve(spark, path) == _fresh(spark, docs, tmp_path, "all")


def test_replayed_batch_appends_nothing(spark, tmp_path):
    """A foreachBatch replay (crash after append, before checkpoint
    commit) re-delivers the same shard: the membership anti-join makes
    it a no-op — no new rows, identical serve."""
    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    hist = docs.filter("doc_id % 4 <> 3")
    shard = docs.filter("doc_id % 4 = 3")
    path = str(tmp_path / "idx")
    build_text_index(hist, path, n_buckets=8)
    text_index_append_batch(shard, path)
    n = spark.read.parquet(path).count()
    first = _serve(spark, path)
    text_index_append_batch(shard, path)  # the replay
    assert spark.read.parquet(path).count() == n
    assert _serve(spark, path) == first


def test_replay_writes_no_side_files(spark, tmp_path):
    """A replayed shard writes nothing: ``_doc_stats`` keeps its
    post-append file count and ``_corpus_stats`` is not republished,
    however often the shard is replayed."""
    import os

    words = ["spark", "join", "stream", "table", "index", "query"]
    docs = spark.createDataFrame(
        [(i, " ".join(words[j % 6] for j in range(i, i + 5))) for i in range(130)],
        DOC_SCHEMA,
    )
    path = str(tmp_path / "idx")
    build_text_index(docs.filter("doc_id < 100"), path, n_buckets=8)
    shard = docs.filter("doc_id >= 100")

    def files(side):
        return sorted(
            f for _, _, fs in os.walk(f"{path}/{side}") for f in fs if f.endswith(".parquet")
        )

    text_index_append_batch(shard, path)
    doc_stats, corpus_stats = files("_doc_stats"), files("_corpus_stats")
    for _ in range(3):
        text_index_append_batch(shard, path)
        assert files("_doc_stats") == doc_stats
        assert files("_corpus_stats") == corpus_stats
    assert spark.read.parquet(f"{path}/_doc_stats").count() == 130


@pytest.mark.slow
def test_takedown_stream_family_text(spark, tmp_path):
    """stream_index_deletes over a text index (the kind is read from its
    _corpus_stats meta table): a streamed takedown request masks the
    docs from BM25 serving exactly like a shrunken rebuild (candidates,
    df, AND the N/avgdl scalars all exclude them)."""
    from tia_data_pipeline_spark.streaming.dedup_serve import stream_index_deletes

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    path = str(tmp_path / "idx")
    build_text_index(docs, path, n_buckets=8)
    req = tmp_path / "requests"
    docs.filter("doc_id % 3 = 0").select("doc_id").coalesce(1).write.parquet(
        str(req / "a")
    )
    id_stream = spark.readStream.schema("doc_id bigint").parquet(f"{req}/*")
    q = stream_index_deletes(
        id_stream,
        index_path=path,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    live = docs.filter("doc_id % 3 <> 0")
    assert _serve(spark, path) == _fresh(spark, live, tmp_path, "live")


@pytest.mark.slow
def test_stream_bm25_topk_equals_batch_and_skips_hostile(spark, tmp_path):
    """The BM25 serving loop: each micro-batch equals the direct batch
    serve of its servable queries; an all-hostile batch writes an
    EMPTY batch dir (schema-stable) instead of killing the stream;
    replay (same checkpoint, new identical file delivery) is
    idempotent because each batch overwrites its own dir."""
    from tia_data_pipeline_spark.operators.text_index import bm25_search_batch
    from tia_data_pipeline_spark.streaming.text_serve import stream_bm25_topk

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    path = str(tmp_path / "idx")
    build_text_index(docs, path, n_buckets=8)
    qdir = tmp_path / "queries_in"
    good = spark.createDataFrame(
        [(1, ["spark", "join"]), (2, ["data"])],
        "query_id bigint, terms array<string>",
    )
    hostile = spark.createDataFrame(
        [(None, ["spark"]), (3, None), (4, []), (5, [None, None])],
        "query_id bigint, terms array<string>",
    )
    good.coalesce(1).write.parquet(str(qdir / "a"))
    hostile.coalesce(1).write.parquet(str(qdir / "b"))
    stream = (
        spark.readStream.schema("query_id bigint, terms array<string>")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{qdir}/*")
    )
    out = str(tmp_path / "topk_out")
    q = stream_bm25_topk(
        stream,
        index_path=path,
        topk_out=out,
        checkpoint=str(tmp_path / "ckpt"),
        k=5,
    )
    q.awaitTermination()
    got = {
        (r["query_id"], r["doc_id"], r["n_terms"], r["score"], r["rnk"])
        for r in spark.read.parquet(f"{out}/batch_id=*").collect()
    }
    expect = {
        (r["query_id"], r["doc_id"], r["n_terms"], r["score"], r["rnk"])
        for r in bm25_search_batch(good, path, k=5).collect()
    }
    assert got == expect and got  # hostile rows contributed nothing


@pytest.mark.slow
def test_all_null_element_terms_batch_degrades_not_aborts(spark, tmp_path):
    """ADVICE r10 #1: a batch whose ONLY servable-looking query carries
    all-NULL term elements (terms=[NULL]) passed the old size>0 guard,
    then bm25_search_batch collected zero tokens and raised
    ValueError('no non-empty queries to serve') — killing the stream in
    violation of the 'hostile rows degrade, never abort' contract. The
    strengthened predicate (F.exists element non-NULL, mirroring the
    qmap's post-explode tok filter) routes it to the empty-batch dir;
    a mixed batch still serves the real query and drops the [NULL] row."""
    from tia_data_pipeline_spark.streaming.text_serve import bm25_topk_batch

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    path = str(tmp_path / "idx")
    build_text_index(docs, path, n_buckets=8)
    out = str(tmp_path / "topk")
    all_null_elems = spark.createDataFrame(
        [(7, [None]), (8, [None, None])],
        "query_id bigint, terms array<string>",
    )
    bm25_topk_batch(all_null_elems, path, out, 0, k=5)  # must not raise
    b0 = spark.read.parquet(f"{out}/batch_id=0")
    assert b0.count() == 0
    assert set(b0.columns) == {"query_id", "doc_id", "n_terms", "score", "rnk"}
    mixed = spark.createDataFrame(
        [(7, [None]), (9, ["spark", None])],
        "query_id bigint, terms array<string>",
    )
    bm25_topk_batch(mixed, path, out, 1, k=5)
    got = spark.read.parquet(f"{out}/batch_id=1")
    assert {r["query_id"] for r in got.collect()} == {9}


def test_empty_batch_schema_tracks_index_doc_id_type(spark, tmp_path):
    """Review r10: the empty-batch fallback must take doc_id's type
    from the INDEX (a string-id index otherwise gets one batch dir
    with string doc_id and another with bigint, breaking the
    batch_id=* read)."""
    from tia_data_pipeline_spark.streaming.text_serve import bm25_topk_batch

    docs = spark.createDataFrame(
        [("a1", "spark joins streams"), ("b2", "tables hold data")],
        "doc_id string, text string",
    )
    path = str(tmp_path / "idx")
    build_text_index(docs, path, n_buckets=4)
    out = str(tmp_path / "topk")
    good = spark.createDataFrame(
        [(1, ["spark"])], "query_id bigint, terms array<string>"
    )
    hostile = spark.createDataFrame(
        [(None, ["spark"])], "query_id bigint, terms array<string>"
    )
    bm25_topk_batch(good, path, out, 0, k=5)
    bm25_topk_batch(hostile, path, out, 1, k=5)
    rows = spark.read.parquet(f"{out}/batch_id=*")
    assert dict(rows.dtypes)["doc_id"] == "string"
    assert {r["doc_id"] for r in rows.collect()} == {"a1"}


@pytest.mark.slow
def test_hard_kill_between_jobs_retries_without_duplicate_postings(
    spark, tmp_path
):
    """VERDICT r10 #6 (the dedup_serve hard-replay pattern): simulate a
    kill exactly between the postings append and the _doc_stats commit
    — marker held, postings fully landed, no membership. The retried
    append must detect the marker, reconcile, and finish with ZERO
    duplicate (tok, doc_id) rows on disk (twice ≡ once now holds
    physically, not just through serve-side healing), membership
    complete, marker cleared, and serving equal to a fresh build."""
    from tia_data_pipeline_spark.operators.scale import (
        pending_marker_exists,
        pending_marker_set,
    )
    from tia_data_pipeline_spark.operators.text_index import _postings_frame

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    hist = docs.filter("doc_id % 4 <> 3")
    shard = docs.filter("doc_id % 4 = 3")
    path = str(tmp_path / "idx")
    build_text_index(hist, path, n_buckets=8)
    # the crashed attempt: marker set, postings committed, killed
    # before the membership append
    pending_marker_set(spark, f"{path}/_append_pending")
    _postings_frame(shard, "doc_id", "text", 8).repartition(
        "_bucket"
    ).write.partitionBy("_bucket").mode("append").parquet(path)
    # the retry (a foreachBatch replay delivers the same shard)
    text_index_append_batch(shard, path)
    assert not pending_marker_exists(spark, f"{path}/_append_pending")
    p = spark.read.parquet(path)
    assert p.count() == p.select("tok", "doc_id").distinct().count(), (
        "duplicate postings survived the reconciled retry"
    )
    stats = spark.read.parquet(f"{path}/_doc_stats")
    assert stats.count() == stats.select("doc_id").distinct().count()
    assert _serve(spark, path) == _fresh(spark, docs, tmp_path, "all")


def test_kill_inside_postings_job_commit_retries_missing_rows_only(
    spark, tmp_path
):
    """Harder window: the kill lands INSIDE the postings job commit —
    some bucket files moved, some not (possible under a hard kill of
    the v1 committer's rename sequence). Reconciliation is row-level,
    so the retry appends exactly the missing (tok, doc_id) rows: the
    landed half is not duplicated, the lost half is restored."""
    from tia_data_pipeline_spark.operators.scale import pending_marker_set
    from tia_data_pipeline_spark.operators.text_index import _postings_frame
    from pyspark.sql import functions as F

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    hist = docs.filter("doc_id % 4 <> 3")
    shard = docs.filter("doc_id % 4 = 3")
    path = str(tmp_path / "idx")
    build_text_index(hist, path, n_buckets=8)
    pending_marker_set(spark, f"{path}/_append_pending")
    full = _postings_frame(shard, "doc_id", "text", 8)
    half = full.filter(F.pmod(F.xxhash64("tok", "doc_id"), F.lit(2)) == 0)
    half.repartition("_bucket").write.partitionBy("_bucket").mode(
        "append"
    ).parquet(path)
    text_index_append_batch(shard, path)
    p = spark.read.parquet(path)
    assert p.count() == p.select("tok", "doc_id").distinct().count()
    # every posting of the shard is present exactly once
    want = full.count()
    got = (
        p.join(shard.select("doc_id").distinct(), "doc_id", "leftsemi").count()
    )
    assert got == want
    assert _serve(spark, path) == _fresh(spark, docs, tmp_path, "all")


def test_crashed_first_append_on_empty_index_not_wedged(spark, tmp_path):
    """Review r11: the reconciliation read must use the persisted
    postings schema — a bare parquet read raises UNABLE_TO_INFER_SCHEMA
    on an index with zero postings files (only underscore side dirs),
    wedging every retry of a crashed FIRST append behind the marker it
    can never clear."""
    from tia_data_pipeline_spark.operators.scale import (
        pending_marker_exists,
        pending_marker_set,
    )

    empty = spark.createDataFrame([], DOC_SCHEMA)
    shard = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    path = str(tmp_path / "idx")
    build_text_index(empty, path, n_buckets=8)
    # crashed first append: marker set, nothing landed
    pending_marker_set(spark, f"{path}/_append_pending")
    text_index_append_batch(shard, path)  # must not raise
    assert not pending_marker_exists(spark, f"{path}/_append_pending")
    p = spark.read.parquet(path)
    assert p.count() == p.select("tok", "doc_id").distinct().count() > 0
    assert _serve(spark, path) == _fresh(spark, shard, tmp_path, "all")
