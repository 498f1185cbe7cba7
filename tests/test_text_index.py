"""Persisted inverted text index: serving ≡ the full-scan q_bm25
query, and the bucket predicate prunes partitions like the IVF index."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from tests.conftest import SMOKE_SF, bm25_serve_one
from tests.oracle import assert_parity
from tia_data_pipeline_spark.catalog import load_table
from tia_data_pipeline_spark.operators.text_index import (
    _INDEX_SEED,
    bm25_search_batch,
    build_text_index,
)


@pytest.fixture(scope="module")
def index_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("tidx") / "index")
    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    build_text_index(docs, path)
    return path


def _queries(spark, rows, qid_type="bigint"):
    return spark.createDataFrame(rows, f"query_id {qid_type}, terms array<string>")


def _assert_query_matches_oracle(duck, served, qid, terms, k):
    """One query's rows of a batch serve against q_bm25's DuckDB oracle
    for the same terms, ranked like the serve."""
    from tia_data_pipeline_spark.plans.llm import _bm25_oracle_select

    oracle = duck.sql(
        "SELECT *, (row_number() OVER (ORDER BY score DESC, doc_id ASC))::INT "
        f"AS rnk FROM ({_bm25_oracle_select(tuple(terms), k)})"
    )
    mine = served.filter(F.col("query_id") == qid).drop("query_id")
    assert_parity(mine, oracle, f"query {qid} {terms}")


def test_indexed_serving_equals_full_scan_query(spark, index_path):
    """The strongest possible check: the index serve path must
    reproduce q_bm25's top-20 EXACTLY (same terms, same integer
    arithmetic, same tiebreak) — build denormalization and pruning are
    invisible in the result."""
    from tia_data_pipeline_spark.plans.llm import _BM25_TERMS, q_bm25

    expect = [tuple(r) for r in q_bm25(spark, SMOKE_SF).collect()]
    got = bm25_serve_one(spark, index_path, _BM25_TERMS, k=20)
    assert got == expect and len(got) == 20


def test_serve_scan_is_partition_pruned(spark, index_path):
    """The _bucket IN predicate must reach the scan as a
    PartitionFilter, and only the query buckets' files open."""
    df = bm25_search_batch(_queries(spark, [(1, ["spark"])]), index_path, k=5)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "PartitionFilters" in p and "_bucket" in p

    bucket = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit("spark"), F.lit(_INDEX_SEED)), F.lit(16)).alias("b")
    ).collect()[0]["b"]
    read_files = {
        r[0]
        for r in spark.read.parquet(index_path)
        .filter(F.col("_bucket") == int(bucket))
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    all_files = set(spark.read.parquet(index_path).inputFiles())
    assert read_files and read_files < all_files
    assert all(f"/_bucket={int(bucket)}/" in f for f in read_files)


def test_postings_carry_no_denormalized_df(spark, index_path):
    """df is a SERVE-TIME aggregate, never a stored column (round 9: a
    build-time denormalized df goes stale on every append/delete of
    any document containing the term — the design change that made
    the index incremental). The stored schema is exactly
    (tok, doc_id, tf) + the bucket partition column."""
    post = spark.read.parquet(index_path)
    assert set(post.columns) == {"tok", "doc_id", "tf", "_bucket"}


def test_bucket_modulus_persists_with_index(spark, tmp_path):
    """Review r5: the serve path must take n_buckets from the index
    itself — a non-default build modulus previously needed the caller
    to repeat it, and a mismatch silently pruned away the partitions
    holding the terms."""
    from tia_data_pipeline_spark.plans.llm import _BM25_TERMS, q_bm25

    path = str(tmp_path / "idx8")
    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    build_text_index(docs, path, n_buckets=8)
    got = bm25_serve_one(spark, path, _BM25_TERMS, k=20)
    expect = [tuple(r) for r in q_bm25(spark, SMOKE_SF).collect()]
    assert got == expect


def test_serve_df_is_two_phase_aggregate(spark, index_path):
    """VERDICT r9 #3: per-term df must be a partial+final hash
    aggregate joined back onto the candidates, never a window — a
    window aggregate needs ALL of a term's postings in ONE task, so a
    stop-word-frequency query term becomes a single-task straggler/OOM
    at 100×. The df map is at most query-terms-sized and broadcasts.
    The serve's one window is the per-query rank limit, keyed by the
    query id — never by the term."""
    df = bm25_search_batch(
        _queries(spark, [(1, ["spark", "data"])]), index_path, k=5
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    specs = [ln for ln in p.splitlines() if "windowspecdefinition(" in ln]
    assert specs and all(
        ln.split("windowspecdefinition(")[1].startswith("_qid") for ln in specs
    ), "per-term df regressed to a single-task window"
    assert p.count("HashAggregate") >= 2  # partial+final df aggregate
    assert "BroadcastHashJoin" in p  # the tiny df map broadcasts back


def test_bad_args(spark, index_path):
    with pytest.raises(ValueError):
        build_text_index(
            load_table(spark, SMOKE_SF, "documents").select("doc_id", "text"),
            index_path,
            n_buckets=0,
        )


class TestTextIndexLifecycle:
    """Append / delete / compact — round 9 completes the lifecycle on
    the text index like the other four families. The oracle for every
    leg is the strongest available: serving from the incrementally-
    maintained index must EQUAL serving from a fresh full build of the
    same live membership (same scores bit-for-bit — df, N, and avgdl
    all track the membership)."""

    def _serve(self, spark, path, k=20):
        from tia_data_pipeline_spark.plans.llm import _BM25_TERMS

        return bm25_serve_one(spark, path, _BM25_TERMS, k=k)

    def _fresh(self, spark, docs, tmp, tag):
        p = str(tmp / f"fresh_{tag}")
        build_text_index(docs, p, n_buckets=8)
        return self._serve(spark, p)

    def test_append_equals_full_rebuild(self, spark, tmp_path):
        from tia_data_pipeline_spark.operators.text_index import text_index_append

        docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
        hist = docs.filter("doc_id % 5 <> 0")
        shard = docs.filter("doc_id % 5 = 0")
        path = str(tmp_path / "idx")
        build_text_index(hist, path, n_buckets=8)
        text_index_append(shard, path)
        assert self._serve(spark, path) == self._fresh(spark, docs, tmp_path, "all")
        # idempotent: a replayed shard changes nothing (twice ≡ once)
        n = spark.read.parquet(path).count()
        text_index_append(shard, path)
        assert spark.read.parquet(path).count() == n
        assert self._serve(spark, path) == self._fresh(spark, docs, tmp_path, "all2")

    def test_crashed_append_retry_duplicates_are_invisible(self, spark, tmp_path):
        """ADVICE r9 #2: the postings append commits before the
        _doc_stats membership append, so a crash between the two jobs
        followed by a retry duplicates the delta docs' (tok, doc_id)
        rows on disk. The serve must collapse them exactly (identical
        tf → max() in the candidate pre-aggregate; df counts
        deduplicated rows) and compaction must remove them
        physically."""
        from tia_data_pipeline_spark.operators.text_index import (
            _postings_frame,
            text_index_append,
            text_index_compact,
        )

        docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
        hist = docs.filter("doc_id % 5 <> 0")
        shard = docs.filter("doc_id % 5 = 0")
        path = str(tmp_path / "idx")
        build_text_index(hist, path, n_buckets=8)
        # simulate the crashed first attempt: postings committed, no
        # membership rows — the exact on-disk state the crash leaves
        _postings_frame(shard, "doc_id", "text", 8).repartition(
            "_bucket"
        ).write.partitionBy("_bucket").mode("append").parquet(path)
        # the retry re-derives the same docs' postings -> duplicates
        text_index_append(shard, path)
        dup = (
            spark.read.parquet(path)
            .groupBy("tok", "doc_id")
            .count()
            .filter("count > 1")
        )
        assert dup.count() > 0  # the hazard is really on disk
        expect = self._fresh(spark, docs, tmp_path, "all")
        assert self._serve(spark, path) == expect
        text_index_compact(spark, path)
        assert (
            spark.read.parquet(path)
            .groupBy("tok", "doc_id")
            .count()
            .filter("count > 1")
            .count()
            == 0
        )
        assert self._serve(spark, path) == expect

    @pytest.mark.slow
    def test_delete_then_compact_equals_shrunken_rebuild(self, spark, tmp_path):
        from tia_data_pipeline_spark.operators.index import TEXT, index_stats
        from tia_data_pipeline_spark.operators.text_index import (
            text_index_compact,
            text_index_delete,
        )

        docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
        path = str(tmp_path / "idx")
        build_text_index(docs, path, n_buckets=8)
        doomed = docs.filter("doc_id % 3 = 0").select("doc_id")
        text_index_delete(doomed, path)
        text_index_delete(doomed, path)  # idempotent
        st = index_stats(TEXT, spark, path)
        assert st["tombstones"] == doomed.count() and st["tombstone_fraction"] > 0
        # masked serve equals a fresh build over the survivors — docs,
        # df, N and avgdl all excluded the tombstoned third
        live = docs.filter("doc_id % 3 <> 0")
        masked = self._serve(spark, path)
        assert masked == self._fresh(spark, live, tmp_path, "live")
        out = text_index_compact(spark, path)
        post = index_stats(TEXT, spark, path)
        assert post["tombstones"] == 0
        assert out["files_after"] <= out["files_before"]
        # physical removal changes nothing a serve can observe
        assert self._serve(spark, path) == masked
        assert spark.read.parquet(f"{path}/_doc_stats").filter(
            "doc_id % 3 = 0"
        ).count() == 0

    @pytest.mark.slow
    def test_append_after_compact_defragments(self, spark, tmp_path):
        from tia_data_pipeline_spark.operators.index import TEXT, index_stats
        from tia_data_pipeline_spark.operators.text_index import (
            text_index_append,
            text_index_compact,
        )

        docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
        path = str(tmp_path / "idx")
        build_text_index(docs.filter("doc_id % 4 = 0"), path, n_buckets=8)
        for m in (1, 2, 3):
            text_index_append(docs.filter(f"doc_id % 4 = {m}"), path)
        before = index_stats(TEXT, spark, path)
        text_index_compact(spark, path)
        after = index_stats(TEXT, spark, path)
        assert after["rows"] == before["rows"]
        assert after["files"] < before["files"]
        assert self._serve(spark, path) == self._fresh(spark, docs, tmp_path, "all")


class TestBm25Batch:
    """bm25_search_batch: each query's rows must EQUAL q_bm25's DuckDB
    oracle over the same terms (the strongest oracle — the index and
    the batch are execution strategies, not semantics changes)."""

    def test_batch_equals_per_query_single_serves(self, spark, duck, index_path):
        qsets = {1: ["spark", "join", "stream"], 2: ["data", "table"], 3: ["spark"]}
        served = bm25_search_batch(
            _queries(spark, list(qsets.items())), index_path, k=7
        )
        for qid, terms in qsets.items():
            _assert_query_matches_oracle(duck, served, qid, terms, 7)

    def test_duplicate_terms_count_once_and_hostile_rows_excluded(
        self, spark, duck, index_path
    ):
        queries = _queries(
            spark,
            [
                (1, ["spark", "spark", "spark"]),  # set semantics
                (None, ["spark"]),  # NULL id: no rankable identity
                (2, None),  # NULL terms
                (3, []),  # empty terms
                (4, [None, "spark"]),  # NULL element counts for nothing
            ],
        )
        served = bm25_search_batch(queries, index_path, k=5)
        assert {r["query_id"] for r in served.collect()} == {1, 4}
        for qid in (1, 4):
            _assert_query_matches_oracle(duck, served, qid, ["spark"], 5)

    def test_batch_plan_prunes_and_rank_limits(self, spark, index_path):
        queries = _queries(spark, [(1, ["spark"]), (2, ["data", "join"])])
        df = bm25_search_batch(queries, index_path, k=3)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        p = buf.getvalue()
        assert "PartitionFilters" in p and "_bucket" in p  # pruned scan
        assert "WindowGroupLimit" in p  # map-side per-query top-k
        assert p.count("HashAggregate") >= 2  # two-phase df intact

    @pytest.mark.parametrize(
        "rows",
        [[], [(None, ["spark"]), (None, ["data"])], [(1, [None])]],
        ids=["empty", "null_ids", "null_terms"],
    )
    def test_unservable_batch_returns_typed_empty(self, spark, index_path, rows):
        """A batch with no servable query returns the typed empty frame
        (query_id typed as the input, doc_id as the index's postings)
        instead of raising, so a serving loop degrades on it."""
        from tia_data_pipeline_spark.operators.text_index import (
            read_postings_schema,
        )

        doc_id = read_postings_schema(spark, index_path)["doc_id"].dataType
        out = bm25_search_batch(_queries(spark, rows, "int"), index_path)
        assert out.count() == 0
        assert out.dtypes == [
            ("query_id", "int"),
            ("doc_id", doc_id.simpleString()),
            ("n_terms", "bigint"),
            ("score", "double"),
            ("rnk", "int"),
        ]

    def test_same_query_id_across_rows_keeps_set_semantics(
        self, spark, duck, index_path
    ):
        """Review r10: a query_id arriving on SEVERAL input rows must
        still count each term once for the whole batch — array_distinct
        alone only dedups within one row, and the shared term would
        otherwise score once per row."""
        split = _queries(spark, [(1, ["spark"]), (1, ["spark", "data"])])
        served = bm25_search_batch(split, index_path, k=7)
        _assert_query_matches_oracle(duck, served, 1, ["spark", "data"], 7)


def test_corpus_stats_swap_window_heals_on_read(spark, tmp_path):
    """Round 11: _corpus_stats is the only copy of the bucket modulus —
    a crash between the swap's two renames (live moved aside, staging
    not yet moved in) must NOT brick the index. read_corpus_stats heals
    by renaming the __old generation back; its scalars are at most one
    append stale and the retried append rewrites them."""
    import shutil

    from tests.conftest import SMOKE_SF
    from tia_data_pipeline_spark.catalog import load_table
    from tia_data_pipeline_spark.operators.text_index import (
        build_text_index,
        read_corpus_stats,
    )

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    path = str(tmp_path / "idx")
    build_text_index(docs, path, n_buckets=8)
    before = read_corpus_stats(spark, path)
    # simulate the torn swap: live moved aside, staging lost with the crash
    shutil.move(f"{path}/_corpus_stats", f"{path}/_corpus_stats__old")
    healed = read_corpus_stats(spark, path)
    assert tuple(healed) == tuple(before)
    import os

    assert os.path.exists(f"{path}/_corpus_stats")
    assert not os.path.exists(f"{path}/_corpus_stats__old")
    # the healed index serves
    assert bm25_serve_one(spark, path, ["data", "spark"], k=3)


def test_tombstoned_serve_runs_no_emptiness_job(spark, tmp_path):
    """A BM25 request over a tombstoned index runs no Spark job to ask
    whether the tombstone table is empty: the dir exists only while it
    holds ids. Pinned as the request's whole job count under one job
    group, with the rows of a fresh build over the live docs. A serve
    that first ran ``limit(1).count()`` on the table read 23: that one
    action is two jobs (the limit's shuffle stage and the count)."""
    import uuid

    from tia_data_pipeline_spark.operators.text_index import text_index_delete

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    path, fresh = str(tmp_path / "idx"), str(tmp_path / "fresh")
    build_text_index(docs, path, n_buckets=8)
    text_index_delete(docs.filter("doc_id % 3 = 0").select("doc_id"), path)
    build_text_index(docs.filter("doc_id % 3 <> 0"), fresh, n_buckets=8)
    query = _queries(spark, [(1, ["data", "spark"])])
    sc = spark.sparkContext
    group = f"bm25-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one BM25 request")
    try:
        rows = bm25_search_batch(query, path, k=20).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert rows and sorted(rows) == sorted(bm25_search_batch(query, fresh, k=20).collect())
    assert jobs == 21, jobs
