"""Training-data curation tier — corpus composition, split assignment,
benchmark decontamination, and embedding compression (SURVEY §2.4
extensions; no reference analogue — these are the operations a
100 TB pre-training pipeline runs between ingest and training).

Every query here follows the contract rules: built-in JVM expressions
only (no Python UDFs), every computed column aliased identically to
the DuckDB oracle, doubles rounded via the portable floor form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tia_data_pipeline_spark.catalog import load_table
from tia_data_pipeline_spark.functions import text as TX
from tia_data_pipeline_spark.functions.vectors import (
    EMB_VALID_TABLE_SQL as _E,
    cosine_sql,
    cosine_similarity,
    valid_embeddings,
)
from tia_data_pipeline_spark.operators import dedup as DD
from tia_data_pipeline_spark.operators import sampling as SMP
from tia_data_pipeline_spark.operators.dedup import (
    simhash_oracle_sql,
    word_ngrams,
    word_shingles,
)
from tia_data_pipeline_spark.operators.membership import membership_mark
from tia_data_pipeline_spark.operators.scale import estimated_relation_bytes, fan_out
from tia_data_pipeline_spark.operators.similarity import _sign_bits
from tia_data_pipeline_spark.plans.contract import contract_query
from tia_data_pipeline_spark.plans.llm import _DOC_TOKENS_SQL, _PROJ, _bucket_sql, _docs

# ---------------------------------------------------------------------------
# q_source_mix — training-mixture composition report
# ---------------------------------------------------------------------------


@contract_query(
    "q_source_mix",
    oracle=(
        "WITH per AS (SELECT source, lang, {wc} AS n_tok FROM documents), "
        "grp AS (SELECT source, lang, count(*) AS n_docs, sum(n_tok)::BIGINT AS n_tokens "
        "  FROM per GROUP BY source, lang), "
        "tot AS (SELECT sum(n_tokens)::DOUBLE AS total FROM grp) "
        "SELECT source, lang, n_docs, n_tokens, "
        # total = 0 (every text empty/whitespace): share is undefined,
        # NULL on both sides — an unguarded 0/0 aborts Spark under ANSI
        # where DuckDB returns NULL
        f"  CASE WHEN total > 0 THEN {TX.portable_round_sql('n_tokens / total', 6)} END "
        "  AS token_share "
        "FROM grp CROSS JOIN tot"
    ).format(wc=TX.word_count_sql("text")),
    covers="training-data curation (mixture composition: per-source/lang token share)",
)
def q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture composition: per (source, lang) document and token
    counts plus each cell's share of the corpus token budget — the
    report that drives mixture re-weighting decisions.

    Scale shape: the token count is ``size(split(...))`` — a narrow
    per-row projection, no explode — so the only shuffle is the partial
    → final aggregate on (source, lang), whose cardinality is the
    number of mixture cells (tiny). The corpus total joins back in as a
    broadcast scalar computed FROM the grouped frame (AQE reuses the
    exchange for the diamond), never a driver-side collect."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select("source", "lang", TX.word_count(F.col("text")).alias("n_tok"))
    grp = per.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens")
    )
    tot = grp.agg(F.sum("n_tokens").cast("double").alias("total"))
    return grp.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.when(
            F.col("total") > 0,
            TX.portable_round(F.col("n_tokens").cast("double") / F.col("total"), 6),
        ).alias("token_share"),
    )


# ---------------------------------------------------------------------------
# q_split_assign — deterministic train/val/test assignment
# ---------------------------------------------------------------------------

_TRAIN_BUCKETS = 12  # 12/16 train, 2/16 val, 2/16 test
_VAL_BUCKETS = 14


def _split_case_sql(bucket_expr: str) -> str:
    return (
        f"CASE WHEN {bucket_expr} < {_TRAIN_BUCKETS} THEN 'train' "
        f"WHEN {bucket_expr} < {_VAL_BUCKETS} THEN 'val' ELSE 'test' END"
    )


@contract_query(
    "q_split_assign",
    oracle=(
        "WITH a AS (SELECT lang, {split} AS split FROM documents), "
        "g AS (SELECT lang, split, count(*) AS n_docs FROM a GROUP BY lang, split) "
        "SELECT lang, split, n_docs, "
        f"  {TX.portable_round_sql('n_docs::DOUBLE / sum(n_docs) OVER (PARTITION BY lang)', 6)} "
        "  AS lang_share "
        "FROM g"
    ).format(split=_split_case_sql(SMP.hash_bucket_sql("doc_id"))),
    covers="training-data curation (deterministic train/val/test split assignment)",
)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exhaustive, disjoint train/val/test assignment (12/2/2 of 16
    id-hash buckets) with the per-language composition report.

    Unlike :func:`~...sampling.hash_sample` (a *filter*), this labels
    every row — the property that matters is the assignment is a pure
    function of the id: stable across reruns, repartitioning, engine
    swaps, and corpus growth (a doc never migrates between splits when
    other docs are added). The report aggregates to (lang, split) —
    one partial→final shuffle on a tiny key space — then the
    within-language share is a window over the already-aggregated
    frame (rows = #langs × 3, so the window exchange is negligible)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = SMP.hash_bucket("doc_id")
    split = (
        F.when(bucket < _TRAIN_BUCKETS, F.lit("train"))
        .when(bucket < _VAL_BUCKETS, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    g = (
        docs.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"))
    )
    lang_total = F.sum("n_docs").over(Window.partitionBy("lang"))
    return g.select(
        "lang",
        "split",
        "n_docs",
        TX.portable_round(F.col("n_docs").cast("double") / lang_total, 6).alias("lang_share"),
    )


# ---------------------------------------------------------------------------
# q_decontaminate — benchmark n-gram decontamination
# ---------------------------------------------------------------------------

_BENCH_MOD = 17  # doc_id % 17 == 0 plays the held-out benchmark set

# Physical strategy for the membership joins (q_decontaminate /
# q_boilerplate): "auto" sizes broadcast-vs-bloom from driver file
# stats; tests pin parity by forcing "bloom" and comparing against the
# broadcast output.
_MEMBERSHIP_STRATEGY = "auto"

# Member-side size estimates must account for SHINGLE EXPANSION: a
# distinct word-n-gram set over diverse text is ~n x the source bytes
# (every word lands in n shingles, nearly all distinct), so the raw
# scan size UNDERestimates the member build — the unsafe direction for
# a broadcast bound.
#
# q_decontaminate: members = the bench split's distinct 3-grams, so
# est = corpus_bytes / 17 (the split fraction) x 3 (3-gram expansion).
_DECON_SHINGLE_EXPANSION = 3
# q_boilerplate: members = the df>=4 5-gram set — 5x expansion, then
# the repeated-phrase mass (a few percent of the distinct shingle
# space on web text). 5 x ~2% -> corpus_bytes/10 as the deliberate
# overestimate, conservative in the direction that flips to bloom
# EARLIER.
_BOILER_MEMBER_FRACTION = 10


@contract_query(
    "q_decontaminate",
    oracle=(
        "WITH sh AS (SELECT doc_id, unnest(list_distinct("
        "    [array_to_string(tk[i:i+2], ' ') "
        "     FOR i IN range(1, greatest(len(tk) - 2, 0) + 1)])) AS sh "
        f"  FROM (SELECT doc_id, {_DOC_TOKENS_SQL} AS tk FROM documents)), "
        f"b AS (SELECT DISTINCT sh FROM sh WHERE doc_id % {_BENCH_MOD} = 0), "
        f"c AS (SELECT doc_id, sh FROM sh WHERE doc_id % {_BENCH_MOD} <> 0), "
        "a AS (SELECT c.doc_id, count(*) AS n_shingles, count(b.sh) AS n_hits "
        "  FROM c LEFT JOIN b ON c.sh = b.sh GROUP BY c.doc_id) "
        "SELECT doc_id, n_shingles, n_hits, "
        f"  {TX.portable_round_sql('n_hits::DOUBLE / n_shingles', 6)} AS overlap "
        "FROM a WHERE n_hits > 0"
    ),
    covers="training-data curation (benchmark n-gram decontamination)",
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for every training document, the
    fraction of its distinct word-3-grams that appear anywhere in the
    held-out benchmark set (docs with ``doc_id % 17 == 0`` stand in for
    the eval suite). Docs with any overlap are reported; a pipeline
    drops rows above a threshold before training.

    Scale shape: the benchmark side of a real pipeline is a few eval
    suites — megabytes against a 100 TB corpus — so its distinct
    shingle set is built once and BROADCAST; the corpus side streams
    through explode → broadcast hash join → partial-agg, with the only
    shuffle the (doc_id) aggregate. No shuffle ever carries the corpus
    shingles to a join exchange, and the quadratic pair-join of the
    dedup family never appears (membership, not similarity). The
    membership join is SIZE-CONDITIONAL (``membership_mark``): under
    the broadcast bound it is exactly the broadcast plan above; a
    benchmark side whose estimated source bytes (corpus scan / 17, the
    held-out fraction, x3 for 3-gram shingle expansion — driver file
    stats, no job) outgrow it routes
    through the Bloom word-table split, where definitely-absent corpus
    shingles bypass the exact join entirely and only the possible
    sliver pays a shuffle. Both paths are parity-tested identical. The
    scan fans out before the shingle assembly: 3-gram zip construction
    is CPU-bound per row (measured 1.48s -> 0.85s at sf0.1
    single-file), unlike the plain-token explodes that keep
    fan=False."""
    docs = _docs(spark, sf_dir)
    sh = docs.select("doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("sh"))
    bench = sh.filter(F.col("doc_id") % _BENCH_MOD == 0).select("sh").distinct()
    corpus = sh.filter(F.col("doc_id") % _BENCH_MOD != 0)
    est = estimated_relation_bytes(docs)
    agg = (
        membership_mark(
            corpus,
            "sh",
            bench,
            "sh",
            strategy=_MEMBERSHIP_STRATEGY,
            est_member_source_bytes=(
                None if est is None else est * _DECON_SHINGLE_EXPANSION // _BENCH_MOD
            ),
            members_distinct=True,
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shingles"), F.count("hit").alias("n_hits"))
    )
    return agg.filter(F.col("n_hits") > 0).select(
        "doc_id",
        "n_shingles",
        "n_hits",
        TX.portable_round(F.col("n_hits").cast("double") / F.col("n_shingles"), 6).alias(
            "overlap"
        ),
    )


# ---------------------------------------------------------------------------
# q_embed_quantize — int8 embedding quantization error report
# ---------------------------------------------------------------------------


@contract_query(
    "q_embed_quantize",
    oracle=(
        "WITH prepped AS (SELECT label, embedding::DOUBLE[] AS v, "
        "    greatest(list_max(list_transform(embedding::DOUBLE[], x -> abs(x))), 1e-12) "
        "      / 127.0 AS s "
        f"  FROM {_E} embeddings), "
        "q AS (SELECT label, "
        + TX.nano_int_sql(
            "list_reduce(list_prepend(0.0, "
            "list_transform(v, x -> (x - floor(x / s + 0.5) * s) "
            "* (x - floor(x / s + 0.5) * s))), "
            "(acc, x) -> acc + x) / len(v)"
        )
        + " AS sqerr_n "
        "  FROM prepped) "
        "SELECT label, count(*) AS n_vecs, "
        f"  {TX.portable_round_sql('sum(sqerr_n)::DOUBLE / count(*)', 3)} AS mean_sqerr_n "
        "FROM q GROUP BY label"
    ),
    covers="training-data curation (int8 embedding quantization: reconstruction error)",
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization quality report: quantize
    each embedding with scale = max|x|/127, dequantize, and aggregate
    the mean squared reconstruction error per label (nano-units, so the
    per-vector value is integered BEFORE the aggregate and the group
    mean is order-independent — same trick as q_embed_stats).

    Why it's an engine op: int8 storage is 4× less scan volume for the
    ANN/k-NN family at 100 TB, and the decision to ship quantized
    vectors hinges on exactly this report. All arithmetic is a fixed
    left-to-right double fold (F.aggregate ≡ list_reduce) with
    floor-form rounding, so the oracle matches bit-for-bit. The scale
    column is computed in a projection BEFORE the fold so the lambda
    captures a cheap column ref, not a re-evaluated array_max (HOF
    bodies re-run captured subexpressions per element). Reads through
    the shared valid-vector precondition: an EMPTY vector's `/ len(v)`
    aborts under ANSI where DuckDB returns NULL, and a NaN/Inf
    component reaching `floor(...)::BIGINT` aborts both engines."""
    emb = valid_embeddings(spark, sf_dir)
    v = F.col("embedding").cast("array<double>")
    prepped = emb.select(
        "label",
        v.alias("v"),
        (
            F.greatest(F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-12))
            / F.lit(127.0)
        ).alias("s"),
    )
    diff = lambda x: x - F.floor(x / F.col("s") + F.lit(0.5)) * F.col("s")  # noqa: E731
    sqerr = F.aggregate(
        F.transform(F.col("v"), diff), F.lit(0.0), lambda acc, d: acc + d * d
    ) / F.size(F.col("v"))
    sqerr_n = TX.nano_int(sqerr)
    return (
        prepped.select("label", sqerr_n.alias("sqerr_n"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            TX.portable_round(F.sum("sqerr_n").cast("double") / F.count("*"), 3).alias(
                "mean_sqerr_n"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q_ann_recall — ANN index quality evaluation (recall@k vs exact)
# ---------------------------------------------------------------------------

_RECALL_K = 10
_N_PROBES = 8

# ---------------------------------------------------------------------------
# q_pack_sequences — distributed concat-and-chop sequence packing
# ---------------------------------------------------------------------------

_PACK_WINDOW = 256  # context-window token budget per packed sequence
_PACK_SHARDS = 8  # independent packing streams


@contract_query(
    "q_pack_sequences",
    oracle=(
        # doc_id IS NOT NULL: the prefix sum orders by doc_id within a
        # shard, and a NULL id shifts every strt divergently (Spark
        # NULLS FIRST vs DuckDB NULLS LAST)
        "WITH d AS (SELECT doc_id, {wc} AS n_tok, "
        f"  ({{bucket}}) % {_PACK_SHARDS} AS shard FROM documents "
        "  WHERE doc_id IS NOT NULL), "
        "s AS (SELECT shard, doc_id, n_tok, "
        "  coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id "
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt FROM d), "
        f"b AS (SELECT shard, CAST(floor(strt / {_PACK_WINDOW}.0) AS BIGINT) AS seq_bin, "
        "  doc_id, n_tok FROM s) "
        "SELECT shard, seq_bin, count(*) AS n_docs, sum(n_tok)::BIGINT AS n_tokens, "
        "  min(doc_id) AS first_doc, "
        f"  {TX.portable_round_sql(f'sum(n_tok)::DOUBLE / {_PACK_WINDOW}', 6)} AS fill "
        "FROM b GROUP BY shard, seq_bin"
    ).format(wc=TX.word_count_sql("text"), bucket=SMP.hash_bucket_sql("doc_id")),
    covers="training-data curation (sequence packing: concat-and-chop into context windows)",
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed sequence packing: documents concatenate in doc_id
    order and chop into fixed 256-token context windows, independently
    within each of 8 id-hash shards; each doc lands in the window its
    first token falls in. Output is the packing manifest (docs, tokens,
    first doc, fill factor per window) a tokenizer job consumes.

    Scale shape: the naive packer is a GLOBAL running sum — one sorted
    partition, the canonical scale anti-pattern. Sharding by content
    hash makes the prefix-sum per-shard: the window's exchange hash-
    partitions on shard (parallelism = shard count, each shard sorts
    locally), exactly how a 1000-executor packer runs with shards =
    O(cluster width). Determinism comes free: shard is a pure function
    of doc_id and the within-shard order is doc_id, so the manifest is
    stable under repartitioning, retries, and engine swaps. Only
    (doc_id, n_tok) shuffle — token counts, never text. NULL doc_ids
    are excluded on BOTH sides: the within-shard order is doc_id, and
    NULL placement diverges across engines."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    d = docs.select(
        "doc_id",
        TX.word_count(F.col("text")).alias("n_tok"),
        (SMP.hash_bucket("doc_id") % _PACK_SHARDS).alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    strt = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    b = d.select(
        "shard",
        F.floor(strt / F.lit(float(_PACK_WINDOW))).cast("bigint").alias("seq_bin"),
        "doc_id",
        "n_tok",
    )
    return b.groupBy("shard", "seq_bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        TX.portable_round(F.sum("n_tok").cast("double") / _PACK_WINDOW, 6).alias("fill"),
    )


# ---------------------------------------------------------------------------
# q_boilerplate — corpus-frequency boilerplate phrase detection
# ---------------------------------------------------------------------------

_BP_N = 5  # phrase length (word 5-grams)
# Contract-query threshold: df >= 2 so the sf0.01 driver corpus
# actually produces boilerplate rows (at df >= 4 it has NONE — the r5
# driver row hash-matched on 0 = 0 rows, a vacuous check; VERDICT r5
# #3). A production cleaner would raise this (the round-5 default was
# 4); the threshold is data, not structure — the plan is identical.
_BP_MIN_DF = 2  # a shingle in >= this many docs is boilerplate


@contract_query(
    "q_boilerplate",
    oracle=(
        "WITH sh AS (SELECT doc_id, unnest(list_distinct("
        f"    [array_to_string(tk[i:i+{_BP_N - 1}], ' ') "
        f"     FOR i IN range(1, greatest(len(tk) - {_BP_N - 1}, 0) + 1)])) AS sh "
        f"  FROM (SELECT doc_id, {_DOC_TOKENS_SQL} AS tk FROM documents)), "
        f"c AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) >= {_BP_MIN_DF}), "
        "a AS (SELECT s.doc_id, count(*) AS n_shingles, count(c.sh) AS n_boiler "
        "  FROM sh s LEFT JOIN c ON s.sh = c.sh GROUP BY s.doc_id) "
        "SELECT doc_id, n_shingles, n_boiler, "
        f"  {TX.portable_round_sql('n_boiler::DOUBLE / n_shingles', 6)} AS boiler_frac "
        "FROM a WHERE n_boiler > 0"
    ),
    covers="training-data curation (boilerplate phrase detection: corpus-frequent n-grams)",
)
def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: word-5-grams appearing in >= _BP_MIN_DF
    distinct documents are navigation/footer/licence-style phrases
    (df >= 2 for the contract query — see the constant's comment —
    with the production threshold an operator parameter); per document,
    report the fraction of its distinct 5-grams that are boilerplate (a
    cleaner drops or strips docs above a threshold).

    Scale shape: one explode builds the shingle stream; the boilerplate
    set is the HAVING side of a (shingle) aggregate — at any scale its
    size is bounded by phrases repeated across documents, a vanishing
    fraction of the shingle space — and joins back SIZE-CONDITIONALLY
    (``membership_mark``): a broadcast under the bound (today's plan,
    corpus stream never shuffles to a join exchange), the Bloom
    word-table split above it (estimated from corpus bytes /
    ``_BOILER_MEMBER_FRACTION``; absent shingles — the vast majority —
    bypass the exact join, the possible sliver pays one shuffle). The
    shingle stream feeds both the df-aggregate and the join; the
    branches diverge BEFORE any exchange, so the pruned two-column scan
    runs twice — the right trade (scans are cheap and column-pruned;
    shuffling the full shingle stream to a shared exchange is not).
    Contrast q_decontaminate: same plan
    skeleton, but the membership set there is external (benchmark),
    here it is derived from corpus statistics. At 100 TB the df
    aggregate shuffles (shingle, partial-count) pairs — with word
    shingles already distinct per doc, partial aggregation collapses
    each partition's repeats before the wire. The scan fans out before
    the 5-gram assembly — the heaviest zip construction in the tier
    (measured 3.48s -> 0.84s at sf0.1 single-file)."""
    docs = _docs(spark, sf_dir)
    # the shingle stream feeds the df-aggregate AND the membership join
    # — persist it so the fanned 5-gram zip assembly (the heaviest zip
    # construction in the tier) runs once per run instead of per
    # consumer (round 11; the sort-shuffle-writer fix flipped the
    # round-4 recompute-vs-persist calculus — measured 0.75 → 0.45 s
    # interleaved at sf0.1). Footprint: the distinct 5-gram incidence
    # rows, spillable, CacheManager-held.
    sh = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), _BP_N)).alias("sh")
    ).persist()
    common = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= _BP_MIN_DF)
        .select("sh")
    )
    est = estimated_relation_bytes(docs)
    agg = (
        membership_mark(
            sh,
            "sh",
            common,
            "sh",
            hit_col="hit",
            strategy=_MEMBERSHIP_STRATEGY,
            est_member_source_bytes=(
                None if est is None else est // _BOILER_MEMBER_FRACTION
            ),
            members_distinct=True,
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shingles"), F.count("hit").alias("n_boiler"))
    )
    return agg.filter(F.col("n_boiler") > 0).select(
        "doc_id",
        "n_shingles",
        "n_boiler",
        TX.portable_round(
            F.col("n_boiler").cast("double") / F.col("n_shingles"), 6
        ).alias("boiler_frac"),
    )


# ---------------------------------------------------------------------------
# q_token_entropy — lexical-diversity quality scoring
# ---------------------------------------------------------------------------


@contract_query(
    "q_token_entropy",
    oracle=(
        "WITH t AS (SELECT doc_id, lang, unnest({tk}) AS tok FROM documents), "
        "tc AS (SELECT doc_id, lang, tok, count(*) AS c FROM t GROUP BY doc_id, lang, tok), "
        "tu AS (SELECT doc_id, lang, c, "
        f"  {TX.nano_int_sql('c * ln(c)')} AS u FROM tc), "
        "per AS (SELECT doc_id, lang, sum(c)::BIGINT AS n, sum(u)::BIGINT AS s "
        "  FROM tu GROUP BY doc_id, lang), "
        "h AS (SELECT lang, floor((ln(n) - (s / 1000000000.0) / n) * 1000000.0 "
        "  + 0.5)::BIGINT AS h_u FROM per) "
        "SELECT lang, count(*) AS n_docs, "
        f"  {TX.portable_round_sql('sum(h_u)::DOUBLE / count(*)', 3)} AS avg_entropy_u "
        "FROM h GROUP BY lang"
    ).format(tk=_DOC_TOKENS_SQL),
    covers="training-data curation (lexical diversity: token unigram entropy per doc)",
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-unigram entropy per document (micro-nats), averaged per
    language — the lexical-diversity signal that separates natural prose
    from keyword stuffing and template spam (low entropy = repetitive).
    H = ln(n) - (Σ c·ln c)/n over per-doc term counts, so the term
    explode feeds ONE (doc, tok) aggregate and the entropy falls out of
    two grouped sums — no per-doc map structures.

    Cross-engine determinism: doubles are never summed raw across rows
    (FP addition is order-dependent under different partitionings).
    Each c·ln(c) term is integered to nano-units FIRST, per-doc entropy
    to micro-units next, so every aggregate is an exact BIGINT sum —
    the q_embed_stats trick, applied twice. At 100 TB the hot shuffle
    is the (doc_id, tok) partial-count; partial aggregation collapses
    repeated tokens map-side, and nothing wider than (ids, counts)
    crosses the wire."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "lang", F.explode(TX.tokens(F.col("text"))).alias("tok"))
    tc = t.groupBy("doc_id", "lang", "tok").agg(F.count("*").alias("c"))
    u = TX.nano_int(F.col("c") * F.log(F.col("c")))
    per = tc.select("doc_id", "lang", "c", u.alias("u")).groupBy("doc_id", "lang").agg(
        F.sum("c").cast("bigint").alias("n"), F.sum("u").cast("bigint").alias("s")
    )
    h_u = F.floor(
        (F.log(F.col("n")) - (F.col("s") / 1_000_000_000.0) / F.col("n")) * 1_000_000.0
        + F.lit(0.5)
    ).cast("bigint")
    return (
        per.select("lang", h_u.alias("h_u"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            TX.portable_round(F.sum("h_u").cast("double") / F.count("*"), 3).alias(
                "avg_entropy_u"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q_mix_temperature — temperature-reweighted mixture sampling weights
# ---------------------------------------------------------------------------


@contract_query(
    "q_mix_temperature",
    oracle=(
        "WITH per AS (SELECT source, {wc} AS n_tok FROM documents), "
        "grp AS (SELECT source, sum(n_tok)::BIGINT AS n_tokens FROM per GROUP BY source), "
        "tot AS (SELECT sum(n_tokens)::BIGINT AS total FROM grp), "
        # total = 0 (all-empty corpus): every ratio is undefined — the
        # guards state NULL on both sides (unguarded, Spark aborts
        # under ANSI at the first division where DuckDB returns NULL)
        "w AS (SELECT source, n_tokens, total, "
        "  CASE WHEN total > 0 THEN "
        f"  {TX.nano_int_sql('sqrt(n_tokens::DOUBLE / total)')} END AS w_u "
        "  FROM grp CROSS JOIN tot), "
        "f AS (SELECT source, n_tokens, total, w_u, "
        "  sum(w_u) OVER ()::BIGINT AS tot_w FROM w) "
        "SELECT source, n_tokens, "
        f"  CASE WHEN total > 0 THEN {TX.portable_round_sql('n_tokens::DOUBLE / total', 6)} END "
        "  AS share, "
        f"  CASE WHEN tot_w > 0 THEN {TX.portable_round_sql('w_u::DOUBLE / tot_w', 6)} END "
        "  AS temp_share, "
        "  CASE WHEN n_tokens > 0 AND tot_w > 0 THEN "
        f"  {TX.portable_round_sql('(w_u::DOUBLE / tot_w) / (n_tokens::DOUBLE / total)', 4)} "
        "  END AS boost "
        "FROM f"
    ).format(wc=TX.word_count_sql("text")),
    covers="training-data curation (temperature-reweighted mixture: share^tau sampling weights)",
)
def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature resampling weights at tau = 0.5: each source's
    sampling weight is proportional to share^0.5, flattening the
    mixture toward rare sources (the multilingual-pretraining staple).
    Reports original token share, temperature share, and the up/down
    boost factor a sampler applies.

    Determinism under reordering: share^tau values are doubles, and
    their normalizing sum must not depend on aggregation order — so
    each weight is integered to nano-units first and the normalizer is
    an exact BIGINT sum (tau = 0.5 is sqrt: correctly rounded by
    IEEE-754 in both engines, bit-identical — a general pow(x, tau)
    would carry ulp risk). Both scalar sums (corpus total, weight
    total) are empty-frame window sums over the ALREADY-AGGREGATED
    frame — cardinality = #sources (tens), so the single-partition
    window is negligible; the broadcast-scalar alternative (a tot
    crossJoin per scalar) re-plans the corpus aggregate per consumer
    (measured: 4 scans, zero exchange reuse). This form scans the
    corpus ONCE with one narrow (source, partial-sum) shuffle — the
    q_source_mix shape."""
    docs = load_table(spark, sf_dir, "documents")
    grp = (
        docs.select("source", TX.word_count(F.col("text")).alias("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").cast("bigint").alias("n_tokens"))
    )
    everything = Window.partitionBy()
    w = grp.select(
        "source", "n_tokens", F.sum("n_tokens").over(everything).cast("bigint").alias("total")
    )
    w_u = F.when(
        F.col("total") > 0,
        TX.nano_int(F.sqrt(F.col("n_tokens").cast("double") / F.col("total"))),
    )
    f = w.select("source", "n_tokens", "total", w_u.alias("w_u")).select(
        "source",
        "n_tokens",
        "total",
        "w_u",
        F.sum("w_u").over(everything).cast("bigint").alias("tot_w"),
    )
    share = F.col("n_tokens").cast("double") / F.col("total")
    temp_share = F.col("w_u").cast("double") / F.col("tot_w")
    return f.select(
        "source",
        "n_tokens",
        # total/tot_w = 0 (all-empty corpus) and zero-token sources
        # have undefined ratios: NULL on both engines instead of an
        # ANSI divide-by-zero abort
        F.when(F.col("total") > 0, TX.portable_round(share, 6)).alias("share"),
        F.when(F.col("tot_w") > 0, TX.portable_round(temp_share, 6)).alias(
            "temp_share"
        ),
        F.when(
            (F.col("n_tokens") > 0) & (F.col("tot_w") > 0),
            TX.portable_round(temp_share / share, 4),
        ).alias("boost"),
    )


# ---------------------------------------------------------------------------
# q_cluster_sizes — duplicate-cluster size histogram
# ---------------------------------------------------------------------------


@contract_query(
    "q_cluster_sizes",
    oracle=(
        "WITH c AS (SELECT sha256(text) AS h, count(*) AS cluster_size "
        "  FROM documents GROUP BY sha256(text)) "
        "SELECT cluster_size, count(*) AS n_clusters, "
        "  (cluster_size * count(*))::BIGINT AS n_docs "
        "FROM c GROUP BY cluster_size"
    ),
    covers="training-data curation (duplication profile: cluster-size histogram)",
)
def q_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram: how many content-identical
    clusters exist at each multiplicity, and how many documents they
    hold — the duplication-rate report read before choosing dedup
    aggressiveness (e.g. 'keep one copy' vs 'keep with cap').

    Scale shape: two-level aggregate where the first level shuffles
    only 32-byte digests and the second shuffles (size, partial-count)
    pairs — cardinality = distinct cluster sizes, essentially free. The
    full documents never move."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy(F.sha2(F.col("text"), 256).alias("h")).agg(
        F.count("*").alias("cluster_size")
    )
    return c.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        (F.col("cluster_size") * F.count("*")).cast("bigint").alias("n_docs"),
    )


@contract_query(
    "q_ann_recall",
    oracle=(
        "WITH b AS (SELECT vec_id, embedding, "
        f"  {{bucket}} AS bucket FROM {{emb}} embeddings), "
        "probes AS (SELECT vec_id AS probe_id, embedding AS probe_vec, bucket AS pbucket "
        f"  FROM b WHERE vec_id < {_N_PROBES}), "
        "scored AS (SELECT p.probe_id, c.vec_id, "
        f"  {{score}} AS score, "
        "  CASE WHEN c.bucket = p.pbucket THEN 1 ELSE 0 END AS mflag "
        f"  FROM b c CROSS JOIN probes p WHERE c.vec_id >= {_N_PROBES}), "
        "ranked AS (SELECT probe_id, vec_id, mflag, "
        "  row_number() OVER (PARTITION BY probe_id "
        "    ORDER BY score DESC, vec_id ASC) AS exact_rank, "
        "  row_number() OVER (PARTITION BY probe_id "
        "    ORDER BY mflag DESC, score DESC, vec_id ASC) AS ann_rank "
        "  FROM scored) "
        "SELECT probe_id, "
        f"  sum(CASE WHEN exact_rank <= {_RECALL_K} THEN 1 ELSE 0 END)::BIGINT AS n_exact, "
        f"  sum(CASE WHEN exact_rank <= {_RECALL_K} AND mflag = 1 "
        f"      AND ann_rank <= {_RECALL_K} THEN 1 ELSE 0 END)::BIGINT AS n_hit, "
        "  {recall} AS recall "
        "FROM ranked GROUP BY probe_id"
    ).format(
        emb=_E,
        bucket=_bucket_sql("embedding", _PROJ),
        score=TX.portable_round_sql(cosine_sql("c.embedding", "p.probe_vec"), 6),
        recall=TX.portable_round_sql(
            f"sum(CASE WHEN exact_rank <= {_RECALL_K} AND mflag = 1 "
            f"    AND ann_rank <= {_RECALL_K} THEN 1 ELSE 0 END)::DOUBLE "
            f"/ sum(CASE WHEN exact_rank <= {_RECALL_K} THEN 1 ELSE 0 END)",
            6,
        ),
    ),
    covers="training-data curation (ANN index evaluation: recall@k vs exact top-k)",
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the single-probe sign-LSH candidate generator
    against exact cosine top-10, per probe — the measure-don't-guess
    op behind every 'is the ANN index good enough?' decision. The same
    report runs over any candidate generator (multi-probe, IVF) by
    swapping the match flag.

    One pass over the corpus: probes (tiny) broadcast; each corpus row
    scores once; the exact rank and the ANN rank are two row_numbers
    over the SAME probe_id partitioning (ann_rank orders the bucket
    matches first, so rank<=k under mflag=1 is rank within the
    candidate set) — one shuffle, two sorts, and the final aggregate
    reuses the window's partitioning (no extra exchange; pinned).
    Reduce parallelism = n_probes, the knn_join caveat: evaluation
    batches are small by construction (a sample, not the corpus)."""
    emb = valid_embeddings(spark, sf_dir)
    bucket = _sign_bits(F.col("embedding"), _PROJ)
    probes = emb.filter(F.col("vec_id") < _N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_vec"),
        bucket.alias("pbucket"),
    )
    corpus = emb.filter(F.col("vec_id") >= _N_PROBES).select(
        "vec_id", "embedding", bucket.alias("bucket")
    )
    scored = corpus.crossJoin(F.broadcast(probes)).select(
        "probe_id",
        "vec_id",
        TX.portable_round(
            cosine_similarity(F.col("embedding"), F.col("probe_vec")), 6
        ).alias("score"),
        F.when(F.col("bucket") == F.col("pbucket"), F.lit(1)).otherwise(F.lit(0)).alias(
            "mflag"
        ),
    )
    w_exact = Window.partitionBy("probe_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    w_ann = Window.partitionBy("probe_id").orderBy(
        F.col("mflag").desc(), F.col("score").desc(), F.col("vec_id").asc()
    )
    ranked = scored.select(
        "probe_id",
        "mflag",
        F.row_number().over(w_exact).alias("exact_rank"),
        F.row_number().over(w_ann).alias("ann_rank"),
    )
    in_exact = F.col("exact_rank") <= _RECALL_K
    in_ann = (F.col("mflag") == 1) & (F.col("ann_rank") <= _RECALL_K)
    n_exact = F.sum(F.when(in_exact, 1).otherwise(0)).cast("bigint")
    n_hit = F.sum(F.when(in_exact & in_ann, 1).otherwise(0)).cast("bigint")
    return ranked.groupBy("probe_id").agg(
        n_exact.alias("n_exact"),
        n_hit.alias("n_hit"),
        TX.portable_round(
            F.sum(F.when(in_exact & in_ann, 1).otherwise(0)).cast("double")
            / F.sum(F.when(in_exact, 1).otherwise(0)),
            6,
        ).alias("recall"),
    )


# ---------------------------------------------------------------------------
# q_group_sample — exact-k deterministic per-group downsampling
# ---------------------------------------------------------------------------

_GS_K = 20  # docs kept per language


@contract_query(
    "q_group_sample",
    oracle=(
        # doc_id IS NOT NULL: the rank orders on md5(doc_id), and a
        # NULL id sorts FIRST on Spark / LAST on DuckDB — the sampled
        # top-k membership would diverge (tiebreak-NULL invariant)
        "SELECT lang, doc_id, rnk FROM ("
        "  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang "
        "    ORDER BY md5(doc_id::VARCHAR), doc_id) AS rnk FROM documents "
        "  WHERE doc_id IS NOT NULL) "
        f"WHERE rnk <= {_GS_K}"
    ),
    covers="training-data curation (exact-k per-group deterministic downsampling)",
)
def q_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly k=20 documents per language, chosen by ranking on the
    md5 of the id — the downsample-every-class-to-a-budget shape (rate
    sampling can't hit an exact per-group count; taking lowest-id rows
    biases toward oldest). The hash order is a pure function of the id:
    the same 20 docs survive any repartitioning, rerun, or engine swap,
    and stay a prefix-stable sample as the corpus grows within a group.

    Scale shape: rank <= k over a hash order plans as WindowGroupLimit
    (pinned) — each map task forwards at most k rows per group to the
    exchange, so the shuffle carries O(groups x k), not the corpus.
    Only (lang, doc_id) ever moves. NULL doc_ids are excluded on BOTH
    sides: the hash order is a function of the id, and a NULL id sorts
    FIRST on Spark / LAST on DuckDB."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("lang", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _GS_K)
        .select("lang", "doc_id", F.col("rn").cast("bigint").alias("rnk"))
    )


# ---------------------------------------------------------------------------
# q_vocab_coverage — heavy-hitter vocabulary coverage report
# ---------------------------------------------------------------------------

_VOCAB_K = 100


@contract_query(
    "q_vocab_coverage",
    oracle=(
        "WITH v AS (SELECT tok, count(*)::BIGINT AS freq FROM ("
        "    SELECT unnest({tk}) AS tok FROM documents) GROUP BY tok), "
        "tot AS (SELECT sum({wc})::BIGINT AS total FROM documents), "
        f"top AS (SELECT tok, freq FROM v ORDER BY freq DESC, tok LIMIT {_VOCAB_K}), "
        "r AS (SELECT tok, freq, "
        "    row_number() OVER (ORDER BY freq DESC, tok) AS rnk, "
        "    sum(freq) OVER (ORDER BY freq DESC, tok "
        "      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum "
        "  FROM top) "
        "SELECT tok, freq, rnk::BIGINT AS rnk, "
        f"  {TX.portable_round_sql('cum::DOUBLE / total', 6)} AS coverage "
        "FROM r CROSS JOIN tot"
    ).format(tk=_DOC_TOKENS_SQL, wc=TX.word_count_sql("text")),
    covers="training-data curation (vocabulary heavy hitters: top-k token coverage)",
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 corpus tokens by frequency with cumulative coverage
    share — the how-big-must-the-vocab-be report behind tokenizer
    sizing (and the heavy-hitter profile skew-handling reads).

    Scale shape: the vocabulary aggregate is the only corpus-scale
    shuffle; the top-k cut is orderBy+limit, which plans as
    TakeOrderedAndProject (per-partition top-k, never a full vocab
    sort). The corpus token total comes from a SECOND narrow scan
    summing per-row word counts (no explode) broadcast as a scalar —
    cheaper than carrying the full vocab through a global window. Rank
    and cumulative sum then run on the k surviving rows (one tiny
    single-partition window, k=100 by construction)."""
    docs = _docs(spark, sf_dir, fan=False)
    v = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
    )
    top = v.orderBy(F.col("freq").desc(), F.col("tok").asc()).limit(_VOCAB_K)
    tot = docs.select(TX.word_count(F.col("text")).alias("wc")).agg(
        F.sum("wc").cast("bigint").alias("total")
    )
    order = Window.orderBy(F.col("freq").desc(), F.col("tok").asc())
    cum = (
        F.sum("freq")
        .over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
    )
    return top.crossJoin(F.broadcast(tot)).select(
        "tok",
        "freq",
        F.row_number().over(order).cast("bigint").alias("rnk"),
        TX.portable_round(cum.cast("double") / F.col("total"), 6).alias("coverage"),
    )


# ---------------------------------------------------------------------------
# q_edit_distance — edit-distance verification of near-dup candidates
# ---------------------------------------------------------------------------

_ED_MAX_BUCKET = 10  # candidate buckets bigger than this go to exact dedup
_ED_PREFIX = 200  # chars of each doc the distance is computed over
_ED_MIN_SIM = 0.6

_ED_SIMHASH = simhash_oracle_sql("documents", _DOC_TOKENS_SQL, "doc_id")


@contract_query(
    "q_edit_distance",
    oracle=(
        f"WITH s AS ({_ED_SIMHASH}), "
        f"p AS (SELECT doc_id, substr(text, 1, {_ED_PREFIX}) AS pfx FROM documents), "
        "j AS (SELECT s.doc_id, s.simhash, p.pfx FROM s JOIN p USING (doc_id)), "
        "ok AS (SELECT simhash FROM s GROUP BY simhash "
        f"  HAVING count(*) BETWEEN 2 AND {_ED_MAX_BUCKET}), "
        "c AS (SELECT j.* FROM j JOIN ok USING (simhash)), "
        "pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "    levenshtein(a.pfx, b.pfx)::BIGINT AS dist, "
        "    greatest(greatest(length(a.pfx), length(b.pfx)), 1) AS ml "
        "  FROM c a JOIN c b ON a.simhash = b.simhash AND a.doc_id < b.doc_id) "
        "SELECT id_a, id_b, dist, "
        f"  {TX.portable_round_sql('1 - dist::DOUBLE / ml', 6)} AS sim "
        f"FROM pr WHERE 1 - dist::DOUBLE / ml >= {_ED_MIN_SIM}"
    ),
    covers="ext-fuzzy-dedup (edit-distance verification of hash-generated candidates)",
)
def q_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verify stage of a candidate-then-verify dedup pipeline:
    SimHash equality proposes candidate pairs, Levenshtein similarity
    over a 200-char prefix confirms them (1 - dist/maxlen >= 0.6).
    Levenshtein is exact unit-cost DP — bit-identical across engines,
    no float constructions needed until the final ratio.

    Two quadratic escape hatches, both explicit: (a) buckets larger
    than 10 are EXCLUDED — a hash shared by hundreds of docs means
    exact/near-exact mass duplication, which the cheap digest pipeline
    (q_exact_dedup) handles; pairwise O(b^2) verification is for the
    sparse tail (at sf0.1 the cap turns 83k candidate pairs into 1.5k);
    (b) the O(n*m) DP is bounded to a 200-char prefix per side, the
    standard bounded-verification trade.

    Plan shape (the embed_dedup idiom): the simhash aggregate runs
    ONCE; bucket membership lists group on the fingerprint and pairs
    expand IN-EXPRESSION from each capped list — the corpus is never
    self-joined (a self-join re-plans the whole 32-vote simhash subtree
    per side: measured 3 redundant corpus scans and ~10x the runtime of
    this form). The simhash branch fans its narrowed scan out before
    the token explode: the 32-vote md5-bit partial aggregate is the
    CPU-heavy leg, and HERE (feeding a join + collect_list +
    Levenshtein pipeline) the widening measures a consistent win
    (interleaved min-of-4 at sf0.1: 1.20s -> 1.10s full query; 0.72 ->
    0.59 for the isolated operator) where the standalone q_simhash
    shape measures neutral and stays unfanned — both decisions pinned
    in test_fan_out_decision_pinned. The prefix branch stays a bare
    2-column scan."""
    docs = load_table(spark, sf_dir, "documents")
    s = DD.simhash(fan_out(docs.select("doc_id", "text")), "text", "doc_id")
    p = docs.select("doc_id", F.substring("text", 1, _ED_PREFIX).alias("pfx"))
    # Two-pass cap (the capped_bucket_members discipline, inlined so the
    # count pass runs on the fingerprint frame ALONE — before the prefix
    # join, which is 1:1 on doc_id and so leaves bucket sizes unchanged):
    # a mass-near-identical fingerprint is dropped via semi-join before
    # any (doc_id, pfx) list buffer exists. The 16-byte fingerprint
    # frame persists so the CPU-heavy 32-vote aggregate computes once
    # for the count + pair legs (the signature-table discipline).
    s = s.persist()
    kept = (
        s.groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("_bsz"))
        .filter((F.col("_bsz") >= 2) & (F.col("_bsz") <= _ED_MAX_BUCKET))
        .select("simhash")
    )
    j = s.join(kept, "simhash", "left_semi").join(p, "doc_id")
    members = j.groupBy("simhash").agg(
        F.collect_list(F.struct("doc_id", "pfx")).alias("mem")
    )
    pair_arr = DD.bucket_pairs(F.col("mem"), order_key="doc_id")
    pr = members.select(F.explode(pair_arr).alias("p")).select(
        F.col("p.a.doc_id").alias("id_a"),
        F.col("p.b.doc_id").alias("id_b"),
        F.levenshtein(F.col("p.a.pfx"), F.col("p.b.pfx")).cast("bigint").alias("dist"),
        F.greatest(
            F.greatest(F.length(F.col("p.a.pfx")), F.length(F.col("p.b.pfx"))), F.lit(1)
        ).alias("ml"),
    )
    sim = F.lit(1) - F.col("dist").cast("double") / F.col("ml")
    return pr.filter(sim >= _ED_MIN_SIM).select(
        "id_a", "id_b", "dist", TX.portable_round(sim, 6).alias("sim")
    )


# ---------------------------------------------------------------------------
# q_lm_perplexity — bigram language-model scoring (perplexity proxy)
# ---------------------------------------------------------------------------


@contract_query(
    "q_lm_perplexity",
    oracle=(
        "WITH base AS (SELECT doc_id, {tk} AS tk FROM documents), "
        "bi AS (SELECT doc_id, unnest([array_to_string(tk[i:i+1], ' ') "
        "  FOR i IN range(1, greatest(len(tk) - 1, 0) + 1)]) AS bg FROM base), "
        "bc AS (SELECT bg, count(*) AS cb FROM bi GROUP BY bg), "
        "cu AS (SELECT bg, cb, sum(cb) OVER (PARTITION BY split_part(bg, ' ', 1)) "
        "  AS cuv FROM bc), "
        f"u AS (SELECT bg, {TX.nano_int_sql('-ln(cb::DOUBLE / cuv)')} "
        "  AS u FROM cu), "
        "per AS (SELECT doc_id, count(*) AS n_bigrams, sum(u)::BIGINT AS s "
        "  FROM bi JOIN u USING (bg) GROUP BY doc_id) "
        "SELECT doc_id, n_bigrams, "
        f"  {TX.portable_round_sql('s::DOUBLE / 1000000000.0 / n_bigrams', 6)} AS avg_nll "
        "FROM per"
    ).format(tk=_DOC_TOKENS_SQL),
    covers="training-data curation (LM quality scoring: bigram negative log-likelihood)",
)
def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average bigram negative log-likelihood under a
    maximum-likelihood bigram LM trained on the corpus itself — the
    perplexity-style fluency score (CCNet-style pipelines bucket docs
    by exactly this signal; high avg_nll = improbable word sequences).
    P(w2|w1) = c(w1,w2)/c(w1,*), both counts from the same bigram
    aggregate (the continuation total is a window over the MODEL frame
    partitioned on the first word — vocabulary-sized, never corpus-
    sized), so no bigram ever has zero probability on its own corpus.

    Scale shape: two corpus-scale shuffles — the bigram-count aggregate
    and the score join on the bigram key (model side carries one
    pre-integered BIGINT per bigram type; partial aggregation collapses
    repeats map-side). The per-term -ln p is integered to nano-nats
    BEFORE the per-doc sum, so every cross-row aggregate is exact
    integer arithmetic (order-independent under any partitioning). At
    100 TB the model frame is prunable to top-k bigrams + backoff
    without changing the plan shape. The scan fans out before the
    bigram zip assembly, which feeds TWO consumers (model aggregate +
    score join) and is CPU-bound per row (measured 1.93s -> 0.79s at
    sf0.1 single-file)."""
    docs = _docs(spark, sf_dir)
    bigrams = word_ngrams(F.col("text"), 2)
    # the bigram stream feeds the model aggregate AND the score join —
    # persist it so the fanned bigram zip assembly runs once per run
    # instead of per consumer (round 11 persist calculus, see
    # _shingle_overlap_frames; measured ≈0.53 → 0.44 s interleaved at
    # sf0.1). Spillable, CacheManager-held.
    bi = docs.select("doc_id", F.explode(bigrams).alias("bg")).persist()
    bc = bi.groupBy("bg").agg(F.count("*").alias("cb"))
    cuv = F.sum("cb").over(Window.partitionBy(F.split_part(F.col("bg"), F.lit(" "), F.lit(1))))
    u = TX.nano_int(-F.log(F.col("cb").cast("double") / F.col("cuv")))
    model = bc.select("bg", "cb", cuv.alias("cuv")).select("bg", u.alias("u"))
    per = (
        bi.join(model, "bg")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("u").cast("bigint").alias("s"))
    )
    return per.select(
        "doc_id",
        "n_bigrams",
        TX.portable_round(
            F.col("s").cast("double") / 1_000_000_000.0 / F.col("n_bigrams"), 6
        ).alias("avg_nll"),
    )


# ---------------------------------------------------------------------------
# q_ks_drift — two-sample Kolmogorov–Smirnov distribution drift
# ---------------------------------------------------------------------------

# "snapshot A vs snapshot B": even- vs odd-numbered sources stand in
# for two crawl snapshots whose length distributions are compared.
# TRY_CAST, not CAST: ANSI mode raises on a non-numeric suffix, so one
# odd source name ('web-1') would abort the query; try_cast classifies
# it deterministically (NULL % 2 = NULL -> the ELSE arm) on both engines.
_GA_EXPR = "TRY_CAST(substr(source, 4) AS INT) % 2 = 0"


@contract_query(
    "q_ks_drift",
    oracle=(
        "WITH v AS (SELECT n_chars AS val, "
        f"  CASE WHEN {_GA_EXPR} THEN 1 ELSE 0 END AS ga FROM documents "
        "  WHERE n_chars IS NOT NULL), "
        "c AS (SELECT val, SUM(ga)::BIGINT AS ca, SUM(1 - ga)::BIGINT AS cb "
        "  FROM v GROUP BY val), "
        "t AS (SELECT SUM(ca)::BIGINT AS na, SUM(cb)::BIGINT AS nb FROM c), "
        "k AS (SELECT "
        "  CAST(SUM(ca) OVER (ORDER BY val ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_a, "
        "  CAST(SUM(cb) OVER (ORDER BY val ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_b "
        "  FROM c), "
        "m AS (SELECT MAX(ABS(cum_a * t.nb - cum_b * t.na))::BIGINT AS ks_num "
        "  FROM k CROSS JOIN t) "
        "SELECT t.na AS n_a, t.nb AS n_b, m.ks_num, "
        f"  {TX.portable_round_sql('m.ks_num::DOUBLE / (t.na * t.nb)', 6)} AS ks "
        "FROM m CROSS JOIN t WHERE t.na > 0 AND t.nb > 0"
    ),
    covers="training-data curation (two-sample KS distribution-drift statistic)",
)
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the document
    length distributions of two corpus snapshots (even- vs odd-numbered
    sources) — the drift monitor a recurring-crawl pipeline runs before
    mixing a new snapshot into training data.

    Exactness: the KS supremum is evaluated at every distinct value
    with INTEGER cross-multiplied ECDFs — ``|cum_a*n_b - cum_b*n_a|``
    is exact bigint arithmetic, so the max is order-independent and
    hash-stable; only the final ratio touches doubles (rounded).
    Overflow bound: cum*n products need n_a*n_b < 2^63 (~3e9 rows per
    side); beyond that, pre-collapse to a bounded value grid first.

    Scale shape: one (value) aggregate collapses the corpus to its
    distinct-length grid BEFORE any window — the unpartitioned cum-sum
    window (single partition by construction, same caveat as
    q_quantiles) runs over |grid| rows, not |corpus|, and the totals
    join back as a broadcast scalar.

    NULL precondition (stated on BOTH sides, per the order-stats rule):
    a NULL n_chars row is excluded from the ECDFs — Spark's cumulative
    window sorts NULLs FIRST where DuckDB's ORDER BY sorts them LAST,
    so an unfiltered NULL value-grid group would shift every prefix."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("n_chars", "source")
        .filter(F.col("n_chars").isNotNull())
    )
    ga = F.expr(_GA_EXPR)
    c = docs.groupBy(F.col("n_chars").alias("val")).agg(
        F.sum(F.when(ga, 1).otherwise(0)).cast("bigint").alias("ca"),
        F.sum(F.when(ga, 0).otherwise(1)).cast("bigint").alias("cb"),
    )
    tot = c.agg(
        F.sum("ca").cast("bigint").alias("na"), F.sum("cb").cast("bigint").alias("nb")
    )
    w = Window.orderBy("val").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    k = c.select(
        F.sum("ca").over(w).cast("bigint").alias("cum_a"),
        F.sum("cb").over(w).cast("bigint").alias("cum_b"),
    )
    m = (
        k.crossJoin(F.broadcast(tot))
        .agg(
            F.max(F.abs(F.col("cum_a") * F.col("nb") - F.col("cum_b") * F.col("na")))
            .cast("bigint")
            .alias("ks_num")
        )
    )
    # Two-sample precondition, stated on BOTH sides: with either
    # sample empty the statistic is undefined (and na*nb = 0 aborts
    # the ratio under ANSI) — emit no row, identically to the oracle.
    return (
        m.crossJoin(F.broadcast(tot))
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            "ks_num",
            TX.portable_round(
                F.col("ks_num").cast("double") / (F.col("na") * F.col("nb")), 6
            ).alias("ks"),
        )
    )


# ---------------------------------------------------------------------------
# q_jsd_mix — Jensen–Shannon divergence between two sources' token mixes
# ---------------------------------------------------------------------------


@contract_query(
    "q_jsd_mix",
    oracle=(
        "WITH tk AS (SELECT "
        f"  CASE WHEN {_GA_EXPR} THEN 1 ELSE 0 END AS ga, "
        f"  unnest({_DOC_TOKENS_SQL}) AS tok FROM documents), "
        "c AS (SELECT tok, SUM(ga)::BIGINT AS a, SUM(1 - ga)::BIGINT AS b "
        "  FROM tk GROUP BY tok), "
        "t AS (SELECT SUM(a)::BIGINT AS ta, SUM(b)::BIGINT AS tb FROM c), "
        "terms AS (SELECT "
        "  CASE WHEN a > 0 AND b > 0 THEN 1 ELSE 0 END AS both_, "
        "  CASE WHEN a > 0 AND b = 0 THEN 1 ELSE 0 END AS only_a, "
        "  CASE WHEN b > 0 AND a = 0 THEN 1 ELSE 0 END AS only_b, "
        "  CASE WHEN a > 0 THEN "
        f"{TX.nano_int_sql('(ln(2 * a * t.tb) - ln(a * t.tb + b * t.ta)) * a')} "
        "  ELSE 0 END AS term_a, "
        "  CASE WHEN b > 0 THEN "
        f"{TX.nano_int_sql('(ln(2 * b * t.ta) - ln(a * t.tb + b * t.ta)) * b')} "
        "  ELSE 0 END AS term_b "
        "  FROM c CROSS JOIN t WHERE t.ta > 0 AND t.tb > 0) "
        "SELECT SUM(both_)::BIGINT AS n_vocab_both, "
        "  SUM(only_a)::BIGINT AS n_vocab_a_only, SUM(only_b)::BIGINT AS n_vocab_b_only, "
        "  t.ta AS n_tok_a, t.tb AS n_tok_b, "
        + TX.portable_round_sql(
            "(SUM(term_a)::DOUBLE / t.ta + SUM(term_b)::DOUBLE / t.tb) / 2000000000.0", 6
        )
        + " AS jsd FROM terms CROSS JOIN t GROUP BY t.ta, t.tb"
    ),
    covers="training-data curation (Jensen-Shannon divergence between source token mixes)",
)
def q_jsd_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between the unigram distributions of
    two corpus snapshots (even- vs odd-numbered sources) plus their
    vocabulary overlap — the corpus-similarity report that decides
    whether a new snapshot warrants re-mixing.

    Portability: every log argument is an INTEGER-valued double —
    ``p·ln(p/m)`` rewrites as ``a·(ln(2a·B) − ln(aB + bA))/A`` so the
    engines never ln() a rounded fraction; per-token terms integerize
    to nano-nats BEFORE the sum (order-independent, the q_lm_perplexity
    trick) and only the two final scalar divisions touch doubles.
    Integer-exactness bound: 2aB must stay < 2^53 (~corpus 1e8 tokens
    per side); shard the token space beyond that.

    Scale shape: explode → one (token) aggregate (bare-token explode →
    fan=False per the fan rule) collapses the corpus to its vocabulary;
    the totals ride back in as a broadcast scalar and the term algebra
    is a narrow projection over vocab rows; one final 1-row aggregate."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    ga = F.expr(_GA_EXPR)
    tk = docs.select(
        F.when(ga, 1).otherwise(0).alias("ga"),
        F.explode(TX.tokens(F.col("text"))).alias("tok"),
    )
    c = tk.groupBy("tok").agg(
        F.sum("ga").cast("bigint").alias("a"),
        F.sum(F.lit(1) - F.col("ga")).cast("bigint").alias("b"),
    )
    tot = c.agg(
        F.sum("a").cast("bigint").alias("ta"), F.sum("b").cast("bigint").alias("tb")
    )
    # Two-mixture precondition, stated on BOTH sides: with either
    # snapshot's token total zero the divergence is undefined — DuckDB
    # RAISES on the resulting ln(0) where Spark's log returns NULL, and
    # the per-side ratio divides by zero. Emit no row.
    ct = c.crossJoin(F.broadcast(tot)).filter(
        (F.col("ta") > 0) & (F.col("tb") > 0)
    )
    ln = F.log  # natural log on both engines
    term_a = F.when(
        F.col("a") > 0,
        TX.nano_int(
            (ln(2 * F.col("a") * F.col("tb")) - ln(F.col("a") * F.col("tb") + F.col("b") * F.col("ta")))
            * F.col("a")
        ),
    ).otherwise(F.lit(0).cast("bigint"))
    term_b = F.when(
        F.col("b") > 0,
        TX.nano_int(
            (ln(2 * F.col("b") * F.col("ta")) - ln(F.col("a") * F.col("tb") + F.col("b") * F.col("ta")))
            * F.col("b")
        ),
    ).otherwise(F.lit(0).cast("bigint"))
    terms = ct.select(
        F.when((F.col("a") > 0) & (F.col("b") > 0), 1).otherwise(0).alias("both_"),
        F.when((F.col("a") > 0) & (F.col("b") == 0), 1).otherwise(0).alias("only_a"),
        F.when((F.col("b") > 0) & (F.col("a") == 0), 1).otherwise(0).alias("only_b"),
        term_a.alias("term_a"),
        term_b.alias("term_b"),
        "ta",
        "tb",
    )
    return terms.groupBy("ta", "tb").agg(
        F.sum("both_").cast("bigint").alias("n_vocab_both"),
        F.sum("only_a").cast("bigint").alias("n_vocab_a_only"),
        F.sum("only_b").cast("bigint").alias("n_vocab_b_only"),
        F.first("ta").alias("n_tok_a"),
        F.first("tb").alias("n_tok_b"),
        TX.portable_round(
            (
                F.sum("term_a").cast("double") / F.col("ta")
                + F.sum("term_b").cast("double") / F.col("tb")
            )
            / F.lit(2_000_000_000.0),
            6,
        ).alias("jsd"),
    ).drop("ta", "tb")


# ---------------------------------------------------------------------------
# q_gini — token-mass inequality per source
# ---------------------------------------------------------------------------


@contract_query(
    "q_gini",
    oracle=(
        "WITH per AS (SELECT source, doc_id, {wc} AS x FROM documents), "
        "r AS (SELECT source, x, "
        "  row_number() OVER (PARTITION BY source ORDER BY x, doc_id) AS rn "
        "  FROM per WHERE x IS NOT NULL), "
        "g AS (SELECT source, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx, "
        "  sum(rn * x) AS swx FROM r GROUP BY source) "
        "SELECT source, n AS n_docs, sx AS total_tokens, "
        "  CASE WHEN sx > 0 AND n > 1 THEN "
        "{gini}"
        "  END AS gini FROM g"
    ).format(
        wc=TX.word_count_sql("text"),
        gini=TX.portable_round_sql(
            "(2.0 * swx::DOUBLE - (n::DOUBLE + 1.0) * sx::DOUBLE) / (n::DOUBLE * sx::DOUBLE)",
            6,
        ),
    ),
    covers="training-data curation (token-mass inequality: per-source Gini coefficient)",
)
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the per-document token mass within each
    source — the inequality report that flags sources dominated by a
    few huge documents (mixture weights assume doc-level mass is
    representative; a high-Gini source needs length-capping first).

    Exactness: ranks are integers from a tiebroken sort, Σx is a
    bigint aggregate and Σ(rank·x) accumulates as decimal(38,0) (each
    term fits 2^62 but the group SUM grows ~n²·avg(x)/2 — the zscore
    rule; DuckDB's HUGEINT accumulator matches), and the Gini formula
    G = (2Σ(i·xᵢ) − (n+1)Σx)/(nΣx) over ASCENDING-sorted x combines
    them in one fixed double sequence. Ties make Σ(i·x) permutation-
    invariant within the tied block (equal x ⇒ block sum = x·Σi), so
    the statistic is deterministic under any partitioning.

    Scale shape: the rank window and the moment aggregate share one
    (source) hash partitioning; the token count is a narrow per-row
    projection (no explode); output is |sources| rows.

    NULL precondition (stated on BOTH sides, per the order-stats rule):
    a NULL-text doc (x = word_count(NULL) = NULL) is excluded BEFORE
    ranking, with n counted over the filtered rows — Spark ranks NULLs
    FIRST where DuckDB ranks them LAST, so an unfiltered NULL would
    shift every non-null rank and corrupt swx."""
    per = (
        load_table(spark, sf_dir, "documents")
        .select("source", "doc_id", TX.word_count(F.col("text")).alias("x"))
        .filter(F.col("x").isNotNull())
    )
    wr = Window.partitionBy("source").orderBy("x", "doc_id")
    r = per.select("source", "x", F.row_number().over(wr).alias("rn"))
    g = r.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        # decimal(38,0), not bigint: the SUM of rank-weighted terms
        # grows ~n^2·avg(x)/2 — unbounded even though each term fits
        # (the zscore decimal-accumulator rule); DuckDB's HUGEINT matches exactly
        F.sum((TX.dec19("rn") * TX.dec19("x")).cast("decimal(38,0)")).alias("swx"),
    )
    nd, sxd, swxd = (F.col(c).cast("double") for c in ("n", "sx", "swx"))
    gini = (2.0 * swxd - (nd + 1.0) * sxd) / (nd * sxd)
    return g.select(
        "source",
        F.col("n").alias("n_docs"),
        F.col("sx").alias("total_tokens"),
        F.when((F.col("sx") > 0) & (F.col("n") > 1), TX.portable_round(gini, 6)).alias("gini"),
    )


# ---------------------------------------------------------------------------
# q_burstiness — per-term dispersion (variance-to-mean ratio) of the
# most frequent tokens
# ---------------------------------------------------------------------------

_BURST_K = 20  # report the top-K corpus tokens


@contract_query(
    "q_burstiness",
    oracle=(
        "WITH tok AS (SELECT doc_id, unnest({tk}) AS token FROM documents), "
        "n AS (SELECT count(*)::BIGINT AS nd FROM documents), "
        "dc AS (SELECT doc_id, token, count(*)::BIGINT AS c "
        "  FROM tok GROUP BY doc_id, token), "
        "ts AS (SELECT token, count(*)::BIGINT AS df, sum(c)::BIGINT AS c_tot, "
        "  sum(c::HUGEINT * c) AS sq FROM dc GROUP BY token) "
        "SELECT token, c_tot, df, "
        "  {vmr} AS vmr "
        "FROM ts CROSS JOIN n "
        f"ORDER BY c_tot DESC, token ASC LIMIT {_BURST_K}"
    ).format(
        tk=_DOC_TOKENS_SQL,
        vmr=TX.portable_round_sql(
            "(n.nd * ts.sq - c_tot::HUGEINT * c_tot)::DOUBLE / (n.nd * c_tot)", 6
        ),
    ),
    covers="corpus-health stats (term burstiness: variance-to-mean dispersion of top tokens)",
)
def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-to-mean ratio (index of dispersion) of the per-document
    counts of the corpus's top-20 tokens, zero-count documents
    included — the burstiness report that separates function words
    (VMR ≈ 1, Poisson-like) from topical/boilerplate terms (VMR ≫ 1,
    concentrated in few docs): a high-VMR high-frequency term is
    template spam, the signal mixture weighting wants surfaced.

    Exactness: VMR = (N·Σc² − (Σc)²) / (N·Σc) with all moments exact
    integers — per-term squares promote to decimal BEFORE multiplying
    and accumulate as decimal(38,0) (a group's Σc² is unbounded even
    though each c² fits — the zscore rule; DuckDB's HUGEINT matches),
    one double division at the end, 6-dp rounded. No logs — nothing to
    wobble cross-engine.

    Scale shape: (doc, token) partial-aggregated map-side before its
    exchange, then the (token) moment aggregate collapses to the
    vocabulary; top-k is TakeOrderedAndProject (per-partition heads,
    never a vocabulary sort); N rides in as a broadcast scalar.
    Bare-token explode → fan=False per the fan rule."""
    docs = _docs(spark, sf_dir, fan=False)
    tok = docs.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("token"))
    n = docs.agg(F.count("*").cast("bigint").alias("nd"))
    dc = tok.groupBy("doc_id", "token").agg(F.count("*").cast("bigint").alias("c"))
    ts = dc.groupBy("token").agg(
        F.count("*").cast("bigint").alias("df"),
        F.sum("c").cast("bigint").alias("c_tot"),
        F.sum((TX.dec19("c") * TX.dec19("c")).cast("decimal(38,0)")).alias("sq"),
    )
    out = ts.crossJoin(F.broadcast(n)).select(
        "token",
        "c_tot",
        "df",
        TX.portable_round(
            (F.col("nd") * F.col("sq") - TX.dec19("c_tot") * TX.dec19("c_tot")).cast("double")
            / (F.col("nd") * F.col("c_tot")),
            6,
        ).alias("vmr"),
    )
    return out.orderBy(F.col("c_tot").desc(), F.col("token").asc()).limit(_BURST_K)


# ---------------------------------------------------------------------------
# q_zipf_fit — Zipf law fit of the token frequency distribution
# ---------------------------------------------------------------------------

_ZIPF_R = 1000  # fit over the top-R frequency ranks


@contract_query(
    "q_zipf_fit",
    oracle=(
        "WITH tok AS (SELECT unnest({tk}) AS token FROM documents), "
        "vc AS (SELECT token, count(*)::BIGINT AS c FROM tok GROUP BY token), "
        "v AS (SELECT count(*)::BIGINT AS vocab, sum(c)::BIGINT AS total_tokens, "
        "  sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS hapax FROM vc), "
        "top AS (SELECT c, row_number() OVER (ORDER BY c DESC, token ASC) AS r "
        f"  FROM vc ORDER BY c DESC, token ASC LIMIT {_ZIPF_R}), "
        f"xy AS (SELECT {TX.nano_int_sql('ln(r)')} AS x, "
        f"  {TX.nano_int_sql('ln(c)')} AS y FROM top), "
        "s AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy, "
        "  sum(x::HUGEINT * y) AS sxy, sum(x::HUGEINT * x) AS sxx FROM xy) "
        "SELECT v.vocab, v.total_tokens, v.hapax, s.n AS n_ranks, "
        "  CASE WHEN s.n * s.sxx - s.sx::HUGEINT * s.sx > 0 THEN {slope} END "
        "    AS zipf_slope, "
        "  CASE WHEN s.n * s.sxx - s.sx::HUGEINT * s.sx > 0 THEN {icept} END "
        "    AS intercept_nats "
        "FROM s CROSS JOIN v"
    ).format(
        tk=_DOC_TOKENS_SQL,
        slope=TX.portable_round_sql(
            "(s.n * s.sxy - s.sx::HUGEINT * s.sy)::DOUBLE "
            "/ (s.n * s.sxx - s.sx::HUGEINT * s.sx)::DOUBLE",
            6,
        ),
        icept=TX.portable_round_sql(
            "(s.sy * s.sxx - s.sx::HUGEINT * s.sxy)::DOUBLE "
            "/ (s.n * s.sxx - s.sx::HUGEINT * s.sx)::DOUBLE / 1000000000.0",
            6,
        ),
    ),
    covers="corpus-health stats (Zipf-law fit: log-log OLS slope over frequency ranks)",
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus token frequency distribution: OLS
    slope of ln(freq) on ln(rank) over the top-1000 ranks, plus
    vocabulary size, hapax-legomenon count and total token mass — the
    one-row lexical-health report (a natural corpus sits near slope
    ≈ −1; template/synthetic text bends it).

    Exactness: rank and frequency are integers, so both regression
    coordinates are logs of INTEGER args integered to nano-nats
    (pre-floor values ≤ ln(1e6)·1e9 ≈ 1.4e10, ±1-unit cross-engine
    wobble per the fuzz pin); the OLS normal equations use exact
    integer cross-products (decimal promotion BEFORE multiplying, the
    moment rule) and the slope's numerator/denominator difference is
    computed in exact decimal — cancellation costs nothing — with one
    double division at the end per output. Rank ties broken by token
    on both engines, so the top-R cut is deterministic.

    Scale shape: one (token) aggregate collapses the corpus to its
    vocabulary; the rank cut is TakeOrderedAndProject (per-partition
    heads, never a vocabulary sort); the rank window then runs over R
    rows only; the vocab-level scalars ride in as a broadcast. The
    vocab aggregate feeds two consumers — AQE reuses the exchange."""
    docs = _docs(spark, sf_dir, fan=False)
    tok = docs.select(F.explode(TX.tokens(F.col("text"))).alias("token"))
    vc = tok.groupBy("token").agg(F.count("*").cast("bigint").alias("c"))
    v = vc.agg(
        F.count("*").cast("bigint").alias("vocab"),
        F.sum("c").cast("bigint").alias("total_tokens"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("bigint").alias("hapax"),
    )
    top = (
        vc.orderBy(F.col("c").desc(), F.col("token").asc())
        .limit(_ZIPF_R)
        .select(
            "c",
            F.row_number()
            .over(Window.orderBy(F.col("c").desc(), F.col("token").asc()))
            .alias("r"),
        )
    )
    xy = top.select(
        TX.nano_int(F.log(F.col("r").cast("double"))).alias("x"),
        TX.nano_int(F.log(F.col("c").cast("double"))).alias("y"),
    )
    s = xy.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum((TX.dec19("x") * TX.dec19("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((TX.dec19("x") * TX.dec19("x")).cast("decimal(38,0)")).alias("sxx"),
    )
    # den = n·Σx² − (Σx)² ≥ 0 (Cauchy–Schwarz); it is 0 when n == 1 (a
    # single-token vocabulary), where the fit is undefined: NULL the
    # slope/intercept on BOTH sides (guarded in exact decimal, before
    # the lone double division — the ratio-denominator rule).
    den_exact = F.col("n") * F.col("sxx") - TX.dec19("sx") * TX.dec19("sx")
    den = den_exact.cast("double")
    guarded = lambda e: F.when(den_exact > 0, e)  # noqa: E731
    return s.crossJoin(F.broadcast(v)).select(
        "vocab",
        "total_tokens",
        "hapax",
        F.col("n").alias("n_ranks"),
        guarded(
            TX.portable_round(
                (F.col("n") * F.col("sxy") - TX.dec19("sx") * TX.dec19("sy")).cast("double")
                / den,
                6,
            )
        ).alias("zipf_slope"),
        guarded(
            TX.portable_round(
                (F.col("sy") * F.col("sxx") - TX.dec19("sx") * F.col("sxy")).cast("double")
                / den
                / F.lit(TX.NANO),
                6,
            )
        ).alias("intercept_nats"),
    )


# ---------------------------------------------------------------------------
# q_dsir_weights — hashed-n-gram importance weights (DSIR data selection)
# ---------------------------------------------------------------------------

# 256 hashed unigram features: two md5 hex digits, the engine-portable
# construction shared with q_feature_hash / hash_sample / SimHash.
# The oracle's form over a column named tok; the Spark plan computes
# the same value as DD.md5_int(tok, 2).
_DSIR_BUCKET_SQL = (
    "((instr('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16 + "
    "(instr('0123456789abcdef', substr(md5(tok), 2, 1)) - 1))"
)
_DSIR_B = 256  # feature-space size (add-|B| smoothing in the totals)


@contract_query(
    "q_dsir_weights",
    oracle=(
        "WITH tk AS (SELECT doc_id, lang, unnest({t}) AS tok FROM documents), "
        f"dbc AS (SELECT doc_id, lang, {_DSIR_BUCKET_SQL} AS b, "
        "  count(*)::BIGINT AS c FROM tk GROUP BY doc_id, lang, b), "
        "cr AS (SELECT b, sum(c)::BIGINT AS cr FROM dbc GROUP BY b), "
        "ct AS (SELECT b, sum(c)::BIGINT AS ct FROM dbc WHERE lang = 'en' GROUP BY b), "
        "w AS (SELECT cr.b, "
        f"  {TX.nano_int_sql('ln(coalesce(ct.ct, 0) + 1)')} "
        f"  - {TX.nano_int_sql('ln(cr.cr + 1)')} AS wb "
        "  FROM cr LEFT JOIN ct ON ct.b = cr.b), "
        "tot AS (SELECT (SELECT coalesce(sum(cr), 0)::BIGINT FROM cr) AS r_tot, "
        "  (SELECT coalesce(sum(ct), 0)::BIGINT FROM ct) AS t_tot), "
        f"off AS (SELECT {TX.nano_int_sql(f'ln(r_tot + {_DSIR_B})')} "
        f"  - {TX.nano_int_sql(f'ln(t_tot + {_DSIR_B})')} AS ob FROM tot), "
        "per AS (SELECT doc_id, sum(c)::BIGINT AS n_tokens, "
        "  sum(c::HUGEINT * wb) AS s FROM dbc JOIN w ON w.b = dbc.b GROUP BY doc_id) "
        "SELECT doc_id, n_tokens, "
        + TX.portable_round_sql(
            "(s + n_tokens::HUGEINT * ob)::DOUBLE / 1000000000.0 / n_tokens", 6
        )
        + " AS logweight_tok FROM per, off"
    ).format(t=_DOC_TOKENS_SQL),
    covers="ext-curation: DSIR hashed-n-gram importance weights (data selection toward a target domain)",
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, Data Selection
    via Importance Resampling): per-document average log importance
    weight of the raw corpus toward a target domain (here lang='en'),
    under a hashed-unigram bag-of-features model with add-one
    smoothing — the standard cheap data-selection signal before
    pre-training (resample raw docs ∝ exp(weight)).

    weight(doc)/token = (Σ_b c_b·[ln(ct_b+1) − ln(cr_b+1)]
                        + n_tok·[ln(R+|B|) − ln(T+|B|)]) / n_tok

    Arithmetic discipline: all ln arguments are INTEGERS (counts + 1,
    totals + 256 — the nano-nat rule); each term integerizes via
    nano_int before the order-independent sum; per-term products
    promote to decimal/HUGEINT BEFORE multiplying; ONE double division
    by 1e9·n_tokens, then the 6-dp portable round (the ln-family
    wobble-safety shape). n_tokens ≥ 1 by construction (docs with no
    tokens emit no feature rows and therefore no weight row — stated
    on both sides), so the ratio never aborts; NULL langs count into
    the raw corpus and not the target, identically on both engines.

    Scale shape: ONE corpus scan and ONE (doc, bucket) exchange
    (fan=False — bare-token explode into a grouped aggregate); the raw
    and target feature tables, the weight table, and the scalar offset
    all derive from the 256-row aggregates, and the weight table joins
    back by an explicit broadcast — nothing corpus-sized shuffles
    twice at any SF."""
    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(TX.tokens(F.col("text"))).alias("tok")
    )
    dbc = (
        tok.select("doc_id", "lang", DD.md5_int(F.col("tok"), 2).alias("b"))
        .groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        # persisted: crt/per both consume dbc, and their differing
        # pushed filters/prunings defeat AQE exchange reuse (verified 0
        # ReusedExchange) — without the cache the corpus tokenize+md5
        # leg executes once per consumer. dbc is the hashed-feature
        # table (4 int columns, ≤256 rows/doc — ~1000× smaller than
        # text), the artifact a production DSIR pass materializes
        # anyway. Cache lifecycle: CacheManager holds it until unpersist
        # or session end — fine for per-process driver/bench runs;
        # long-lived services should clearCache between corpora.
        .persist()
    )
    # raw and target feature totals in ONE pass over dbc (the target is
    # a conditional sum, not a second filtered scan+join): halves the
    # cached-feature-table consumers and drops the w-side join outright
    # — same 256-row results, `coalesce(ct,0)` restated as the
    # conditional sum's empty-group coalesce (guide §2.4: two
    # aggregations keyed the same way share one pass).
    crt = dbc.groupBy("b").agg(
        F.sum("c").cast("bigint").alias("cr"),
        F.coalesce(
            F.sum(F.when(F.col("lang") == "en", F.col("c"))), F.lit(0)
        )
        .cast("bigint")
        .alias("ct"),
    )
    w = crt.select(
        "b",
        (
            TX.nano_int(F.log(F.col("ct") + F.lit(1)))
            - TX.nano_int(F.log(F.col("cr") + F.lit(1)))
        ).alias("wb"),
    )
    tot = crt.agg(
        F.coalesce(F.sum("cr"), F.lit(0)).cast("bigint").alias("r_tot"),
        F.coalesce(F.sum("ct"), F.lit(0)).cast("bigint").alias("t_tot"),
    )
    off = tot.select(
        (
            TX.nano_int(F.log(F.col("r_tot") + F.lit(_DSIR_B)))
            - TX.nano_int(F.log(F.col("t_tot") + F.lit(_DSIR_B)))
        ).alias("ob")
    )
    per = (
        dbc.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.sum((TX.dec19("c") * TX.dec19("wb")).cast("decimal(38,0)")).alias("s"),
        )
    )
    return per.crossJoin(F.broadcast(off)).select(
        "doc_id",
        "n_tokens",
        TX.portable_round(
            (F.col("s") + TX.dec19("n_tokens") * TX.dec19("ob")).cast("double")
            / F.lit(1000000000.0)
            / F.col("n_tokens"),
            6,
        ).alias("logweight_tok"),
    )
