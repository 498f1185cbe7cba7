"""Persisted inverted text index — lexical retrieval's analogue of the
IVF embedding index (``operators/similarity.py``): build once, serve
many queries from partition-pruned scans.

Layout under ``path``:

- **postings** (the main table): one row per (term, doc) with the term
  frequency, written with a WRITE-TIME PARTITION COLUMN ``_bucket =
  pmod(xxhash64(term), n_buckets)`` — a query's terms hash to a handful
  of buckets, the ``_bucket IN (...)`` predicate becomes a partition
  filter, and the serve scan opens only those buckets' files
  (plan-pinned in tests/test_text_index.py).
- ``_doc_stats``: (doc_id, dl) — per-document token length for the
  BM25 length normalizer, and the index's membership set (a doc is
  indexed ⟺ it has a row here — the append idempotency anchor).
- ``_corpus_stats``: one row (n_docs, total_tokens, n_buckets) — the
  scalars plus the bucket modulus, so serving can never hash terms
  with a different modulus than the build.
- ``_tombstones`` (after a delete): doc ids masked from every serve
  until :func:`text_index_compact` removes them physically — the same
  deletion semantics as the MinHash/SimHash/embedding/IVF indexes.
- ``_append_pending`` (transient): the crash-detection marker an
  append holds between its first data write and its last commit; a
  successor finding it runs the reconciliation pass (see
  :func:`text_index_append`). Underscore-prefixed, so Spark scans
  never see it.

Per-term document frequency is computed AT SERVE TIME with a
partial+final hash aggregate over the pruned scan — a term's bucket
holds its COMPLETE posting list, so the count is exact. This is what
makes the index INCREMENTAL: a build-time denormalized df (the
round-8 form) would go stale on every append/delete of any document
containing the term, scattering rewrites across buckets; the
serve-time form costs one aggregate over candidate rows and nothing
ever needs repair. The aggregate is deliberately NOT a window
(VERDICT r9 #3: a window needs all of a term's postings in one task —
a stop-word query term becomes a single-task straggler at scale); the
per-term df map is at most query-terms-sized and broadcasts back onto
the candidates.

Scoring is the q_bm25 arithmetic verbatim (``plans/llm.py``): idf as
differences of integer-argument logs, tf saturation with cleared
denominators, per-term scores integered to nano-units before the
per-doc sum — so serving from the index reproduces the full-scan query
bit-for-bit (equivalence-tested), including after appends and deletes
(serving equals a full scan of the CURRENT membership: df counts only
live docs, and the N/avgdl scalars subtract pending tombstones'
contributions before scoring).

Scale: the build is explode → one (term, doc) aggregate → partitioned
write. Serving scans |query-bucket| / n_buckets of the postings before
any row work, joins doc lengths only for candidate docs, and each
query's top-k is a rank-limited window (map-side WindowGroupLimit).
Appends are delta-sized (membership anti-join against
``_doc_stats``); deletes are request-sized tombstone appends;
compaction applies deletes and restores one file per bucket.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tia_data_pipeline_spark.functions import text as TX
from tia_data_pipeline_spark.functions.text import portable_round
from tia_data_pipeline_spark.operators.index import (
    TEXT,
    _append_delta,
    _compact,
    _require_local_path,
    _write_partitioned,
    index_delete,
    index_schema,
    mask_tombstones,
    read_index,
    read_meta_row,
)

_INDEX_SEED = 0x1DE7


def _term_bucket(tok: Column, n_buckets: int) -> Column:
    """The postings partition a term lands in — the one hash the writer
    buckets with and the serve prunes by, so the two cannot drift."""
    return F.pmod(F.xxhash64(tok, F.lit(_INDEX_SEED)), F.lit(n_buckets))


def build_text_index(
    docs: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 16,
) -> None:
    """Write the inverted index for ``docs`` under ``path``."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    postings = _postings_frame(docs, id_col, text_col, n_buckets)
    postings.write.partitionBy("_bucket").mode("overwrite").parquet(path)

    base = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    dl = base.select("doc_id", TX.word_count(F.col("text")).alias("dl"))
    dl.write.mode("overwrite").parquet(f"{path}/_doc_stats")
    _write_corpus_stats(docs.sparkSession, path, n_buckets, postings.schema.json())


def _postings_frame(
    docs: DataFrame, id_col: str, text_col: str, n_buckets: int
) -> DataFrame:
    """(tok, doc_id, tf, _bucket) rows — the single postings builder
    shared by the full build and the incremental append, so bucketing
    and tokenization can never drift between generations."""
    base = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    toks = base.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").cast("bigint").alias("tf"))
    return tf.select(
        "tok",
        "doc_id",
        "tf",
        _term_bucket(F.col("tok"), n_buckets).cast("int").alias("_bucket"),
    )


def _write_corpus_stats(
    spark: SparkSession, path: str, n_buckets: int, postings_schema_json: str
) -> None:
    """Recompute ``_corpus_stats`` from the JUST-WRITTEN ``_doc_stats``
    table (not the source lineage — re-running the tokenize would
    double the stats phase for identical numbers; same rule as the
    shard writer's manifest). One implementation shared by build,
    append, and compact so every generation refreshes the scalars the
    same way. n_buckets persists WITH the index — a serve called with
    a different modulus would hash terms into the wrong partitions and
    silently return a partial top-k; the postings schema persists so
    an EMPTY index (zero postings files) stays servable.

    Staged publish through ``operators.scale.replace_dir``, not a bare
    overwrite (round 11): ``_corpus_stats`` is the ONLY copy of the
    bucket modulus — a crash inside an overwrite's delete-then-write
    window would brick the index (n_buckets is not reliably inferable
    from partition dirs). A crash between the publish's two renames
    leaves ``_corpus_stats__old``, which :func:`read_corpus_stats`
    heals by renaming back."""
    from tia_data_pipeline_spark.operators.scale import replace_dir

    with replace_dir(spark, f"{path}/_corpus_stats") as staging:
        spark.read.parquet(f"{path}/_doc_stats").agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("dl").cast("bigint").alias("total_tokens"),
            F.lit(n_buckets).cast("int").alias("n_buckets"),
            F.lit(postings_schema_json).alias("postings_schema"),
        ).coalesce(1).write.mode("overwrite").parquet(staging)


def read_corpus_stats(spark: SparkSession, path: str):
    """The one-row ``_corpus_stats`` read every text verb starts from —
    single-sources the side-table contract (column names, the bucket
    modulus, the postings-schema JSON) so no consumer, the empty-batch
    schemas included, can drift from it (review r10). A publish torn
    between its two renames heals first (``index.read_meta_row``): the
    previous generation renames back — the scalars it carries are at
    most one append stale, and the retried append rewrites them."""
    return read_meta_row(TEXT, spark, path)


def read_postings_schema(spark: SparkSession, path: str):
    """The index's postings StructType, from its ``_corpus_stats`` meta
    (the explicit schema that keeps an EMPTY index servable)."""
    return index_schema(TEXT, read_corpus_stats(spark, path))


def _bm25_term_doc_scores(
    spark: SparkSession, path: str, terms: list[str]
) -> DataFrame:
    """The query-independent BM25 scoring core of
    :func:`bm25_search_batch`: per-(term, doc) nano-integer scores over
    the LIVE index membership for a non-empty ``terms`` list — pruned
    scan, tombstone masks, crash-retry dedup, two-phase df. Returns
    (tok, doc_id, sc_n); the caller selects the terms a query needs
    and sums."""
    # the bucket modulus and postings schema come from the index
    # itself (one 1-row read)
    stats_row = read_corpus_stats(spark, path)
    n_buckets = int(stats_row["n_buckets"])
    bucket_rows = (
        spark.range(1)
        .select(
            F.array(*[_term_bucket(F.lit(t), n_buckets) for t in terms]).alias("b")
        )
        .collect()
    )
    buckets = sorted({int(x) for x in bucket_rows[0]["b"]})
    postings = (
        read_index(TEXT, spark, path, stats_row)
        .filter(F.col("_bucket").isin(buckets))
        .filter(F.col("tok").isin(*terms))
    )
    dl = spark.read.parquet(f"{path}/_doc_stats")
    scal = spark.read.parquet(f"{path}/_corpus_stats").select(
        "n_docs", "total_tokens"
    )
    # pending tombstones leave candidates AND the scoring scalars: N
    # and the length total subtract the dead docs' contributions (one
    # _doc_stats semi-join), making the serve equal a full scan of the
    # CURRENT membership until compaction removes the rows physically.
    # A never-deleted-from or compacted index has no tombstones, gets
    # its postings back unmasked, and skips both legs
    live = mask_tombstones(TEXT, postings, path, stats_row)
    if live is not postings:
        postings = live
        dead = mask_tombstones(TEXT, dl, path, stats_row, keep="dead").agg(
            F.count("*").cast("bigint").alias("_dead_n"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("_dead_dl"),
        )
        scal = scal.crossJoin(dead).select(
            (F.col("n_docs") - F.col("_dead_n")).alias("n_docs"),
            (F.col("total_tokens") - F.col("_dead_dl")).alias("total_tokens"),
        )
    scal = F.broadcast(scal)

    # The (tok, doc_id) pre-aggregate makes the serve immune to
    # duplicated postings from a crashed-and-retried append (ADVICE r9
    # #2: the postings append can commit before the _doc_stats
    # membership row, so a retry re-derives those docs' postings):
    # duplicates carry identical tf — same doc content, same tokenizer
    # — and max() collapses them; partial aggregation makes the pass
    # free of reduction work on clean data.
    cand = postings.groupBy("tok", "doc_id").agg(F.max("tf").alias("tf"))
    # serve-time df, two-phase (VERDICT r9 #3): the pruned scan holds
    # each query term's COMPLETE (tombstone-masked, deduplicated)
    # posting list, so the per-term count is the exact live document
    # frequency — nothing denormalized, nothing to go stale across
    # appends/deletes. A window over the scan would need ALL of a
    # term's postings in ONE task (a stop-word query term = single-task
    # straggler at 100×); the partial+final hash aggregate computes the
    # same exact count and the ≤|terms|-row map broadcasts back.
    dfm = cand.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))
    return (
        cand.join(F.broadcast(dfm), "tok")
        .join(dl, "doc_id")
        .crossJoin(scal)
        .select(
            "tok",
            "doc_id",
            TX.nano_int(
                (
                    F.log(2 * (F.col("n_docs") - F.col("df")) + 1)
                    - F.log(2 * F.col("df") + 1)
                )
                * (
                    (22 * F.col("tf") * F.col("total_tokens"))
                    / (
                        10 * F.col("tf") * F.col("total_tokens")
                        + 3 * F.col("total_tokens")
                        + 9 * F.col("dl") * F.col("n_docs")
                    )
                )
            ).alias("sc_n"),
        )
    )


def bm25_search_batch(
    queries: DataFrame,
    path: str,
    *,
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    k: int = 10,
) -> DataFrame:
    """Serve a batch of BM25 queries from the written index — the one
    BM25 serve path (a single query is a one-row ``queries`` frame; the
    text twin of ``ivf_search_batch``): ``queries`` carries (query_id,
    array<string> terms) rows. BM25's per-(term, doc) score is
    query-independent given the corpus scalars, so the batch computes
    the scoring core ONCE over the UNION of all queries' terms (one
    pruned scan — the touched-bucket set is the union of every query's
    buckets) and each query then just selects its terms and sums:
    the (query_id, tok) map broadcasts onto the shared candidate
    scores, per-query totals aggregate, and a rank-limited window
    (map-side WindowGroupLimit) keeps each query's top k with the
    fixed (score desc, doc_id asc) tiebreak.

    The term universe collects driver-side (a deletion-request-sized
    batch of queries × a handful of terms each — control plane, the
    same scale class as the IVF probe's touched-cell collect). NULL
    query ids, NULL/empty term arrays and NULL terms are excluded at
    the source (no rankable identity / nothing to match); duplicate
    terms within one query count once (set semantics). A batch left
    with no servable query returns the typed empty frame — query_id
    typed as the input column, doc_id as the index's postings — so a
    serving loop degrades on hostile rows instead of aborting.

    Returns ``(query_id, doc_id, n_terms, score, rnk)``."""
    spark = queries.sparkSession
    qmap = (
        queries.filter(
            F.col(query_id_col).isNotNull()
            & F.col(terms_col).isNotNull()
            & (F.size(F.col(terms_col)) > 0)
        )
        .select(
            F.col(query_id_col).alias("_qid"),
            F.explode(F.array_distinct(F.col(terms_col))).alias("tok"),
        )
        .filter(F.col("tok").isNotNull())
        # distinct across ROWS too (review r10): array_distinct only
        # dedups within one row, so a query_id arriving on several
        # input rows would score its shared terms once PER ROW —
        # set semantics must hold for the whole batch
        .distinct()
    )
    all_terms = sorted({r["tok"] for r in qmap.select("tok").distinct().collect()})
    if not all_terms:
        return _empty_topk(queries, path, query_id_col)
    sc = _bm25_term_doc_scores(spark, path, all_terms)
    # projection/order mirror q_bm25 (bit-for-bit equivalence is
    # test-pinned): the raw nano-nat score_n stays OFF the output —
    # ln() is 1-ulp divergent cross-engine — and the rank orders on the
    # 6-dp rounded score with doc_id tiebreak
    per_q = (
        sc.join(F.broadcast(qmap), "tok")
        .groupBy("_qid", "doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_terms"),
            F.sum("sc_n").cast("bigint").alias("score_n"),
        )
        .select(
            "_qid",
            "doc_id",
            "n_terms",
            portable_round(
                F.col("score_n") / F.lit(1_000_000_000.0), 6
            ).alias("score"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("_qid").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        per_q.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("_qid").alias(query_id_col), "doc_id", "n_terms", "score", "rnk"
        )
    )


def _empty_topk(queries: DataFrame, path: str, query_id_col: str) -> DataFrame:
    """The typed empty ``(query_id, doc_id, n_terms, score, rnk)`` top-k
    of a batch with no servable query: query_id typed as the input
    column, doc_id as the index's postings (a hardcoded type would give
    a batch dir a parquet schema that conflicts with its siblings)."""
    from pyspark.sql import types as T

    spark = queries.sparkSession
    return spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField(query_id_col, queries.schema[query_id_col].dataType),
                read_postings_schema(spark, path)["doc_id"],
                T.StructField("n_terms", T.LongType()),
                T.StructField("score", T.DoubleType()),
                T.StructField("rnk", T.IntegerType()),
            ]
        ),
    )


def text_index_append(
    docs: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Append a document shard to the inverted index — idempotent
    (twice ≡ once): membership is the ``_doc_stats`` table (a doc is
    indexed ⟺ it has a length row), so the delta anti-joins it once —
    doc-id-sized, never postings-sized. Delta postings append to their
    term buckets; ``_corpus_stats`` recomputes from the updated
    ``_doc_stats`` (the scalars are corpus totals — they must move with
    every append). Serving needs no df repair: df is computed at serve
    time (see the module docstring — the design choice that makes this
    index incremental at all). NULL ids are excluded explicitly, so
    the anti-join's plain equality is exact.

    A shard whose every doc is already indexed (an at-least-once
    replay) writes nothing: no marker, no empty ``_doc_stats`` file, no
    ``_corpus_stats`` republish. One emptiness job over the persisted
    delta buys that; otherwise each replay would add a ``_doc_stats``
    file that every serve lists and reads until compaction.

    Re-appending a TOMBSTONED doc before compaction is a no-op (its
    membership row still exists) and the tombstone keeps masking it —
    the tombstone-wins-until-compact semantics shared by all four
    sibling indexes.

    Crash atomicity (ADVICE r9 #2, closed for real per VERDICT r10 #6):
    the postings append still commits before the ``_doc_stats``
    membership append (the inverse ordering would lose postings
    silently, which is worse than duplicating them), but the window is
    now CRASH-DETECTED instead of serve-healed. A ``_append_pending``
    marker is set before the first data write and cleared only after
    the last commit; an append that finds the marker knows a
    predecessor died mid-protocol and runs a reconciliation pass: the
    index core's append delta (``operators.index._append_delta``,
    shared by all five families) anti-joins the delta's postings
    against the (tok, doc_id) pairs already on disk in their touched
    buckets. Row-level (not doc-level) so even a hard kill
    inside the postings JOB COMMIT — some bucket files moved, some not
    — retries to exactly the missing rows. Twice ≡ once therefore holds
    under hard kills with no duplicate postings ever visible; the serve
    path's ``max(tf)`` pre-aggregate and compaction's ``dedup_keys``
    stay as defense in depth, no longer load-bearing. The fast path
    (no marker — every append that didn't crash) pays only the two
    driver-side marker round-trips; the reconciliation scan prices in
    only after a detected crash. Content mutation across a crashed
    retry is outside the contract (ids are immutable once indexed —
    the IVF rule): reconciliation assumes the retry re-derives the
    same postings the crashed attempt wrote."""
    from tia_data_pipeline_spark.operators.scale import (
        pending_marker_clear,
        pending_marker_exists,
        pending_marker_set,
    )

    spark = docs.sparkSession
    stats_row = read_corpus_stats(spark, path)
    n_buckets = int(stats_row["n_buckets"])
    marker = f"{path}/_append_pending"
    reconcile = pending_marker_exists(spark, marker)
    existing = spark.read.parquet(f"{path}/_doc_stats").select("doc_id")
    base = docs.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    delta = base.join(existing, "doc_id", "left_anti").persist()
    cached = None
    try:
        if not reconcile and delta.isEmpty():
            return  # every doc already indexed (a replay): write nothing
        pending_marker_set(spark, marker)
        postings = _postings_frame(delta, "doc_id", "text", n_buckets)
        if reconcile:
            cached = postings.persist()  # touched collect + write
            postings = _append_delta(TEXT, cached, path, stats_row)
        _write_partitioned(TEXT, postings, path, "append")
        delta.select("doc_id", TX.word_count(F.col("text")).alias("dl")).write.mode(
            "append"
        ).parquet(f"{path}/_doc_stats")
        _write_corpus_stats(spark, path, n_buckets, stats_row["postings_schema"])
        pending_marker_clear(spark, marker)
    finally:
        delta.unpersist()
        if cached is not None:
            cached.unpersist()


def text_index_delete(ids: DataFrame, path: str, *, id_col: str = "doc_id") -> None:
    """Tombstone documents out of the text index (``index.index_delete``):
    candidates, df AND the N/avgdl scalars exclude them at once; the
    next :func:`text_index_compact` removes them physically."""
    index_delete(TEXT, ids, path, id_col=id_col)


def text_index_compact(spark: SparkSession, path: str) -> dict:
    """One file per term bucket (appends fragment it) + apply pending
    deletions everywhere: ``_doc_stats`` drops tombstoned rows,
    ``_corpus_stats`` recomputes, and the generic compact
    (``index.index_compact``) drops the tombstoned postings plus the
    applied tombstone table. All three rewrites publish through
    ``operators.scale.replace_dir``, so a failed rename restores the
    previous table, never an empty path. The stats rewrites run FIRST
    so a crash mid-compact can only leave scalars already consistent
    with the tombstones a serve still masks."""
    from tia_data_pipeline_spark.operators.scale import replace_dir

    _require_local_path(path, "text_index_compact")  # before any rewrite
    stats_row = read_corpus_stats(spark, path)
    dl = spark.read.parquet(f"{path}/_doc_stats")
    live = mask_tombstones(TEXT, dl, path, stats_row)
    if live is not dl:  # pending tombstones
        with replace_dir(spark, f"{path}/_doc_stats") as staging:
            live.write.mode("overwrite").parquet(staging)
        _write_corpus_stats(
            spark, path, int(stats_row["n_buckets"]), stats_row["postings_schema"]
        )
    return _compact(TEXT, spark, path, stats_row)
