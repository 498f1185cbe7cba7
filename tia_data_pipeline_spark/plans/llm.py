"""Extension tier — LLM-data-pipeline operators (SURVEY §2.4 / §2.6
step 4): dedup (exact / MinHash / SimHash / n-gram Jaccard), embedding
similarity search (exact + LSH), and text analysis (tokens, language
ID, quality scoring, fingerprinting, multimodal metadata).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tia_data_pipeline_spark.catalog import load_table
from tia_data_pipeline_spark.functions import text as TX
from tia_data_pipeline_spark.functions.vectors import (
    EMB_VALID_TABLE_SQL as _E,
    cosine_sql,
    valid_embeddings,
)
from tia_data_pipeline_spark.operators import dedup as DD
from tia_data_pipeline_spark.operators import index as IX
from tia_data_pipeline_spark.operators import sampling as SMP
from tia_data_pipeline_spark.operators import similarity as SIM
from tia_data_pipeline_spark.operators.scale import fan_out
from tia_data_pipeline_spark.plans.contract import contract_query, temp_derivation_dir

_DOC_TOKENS_SQL = TX.tokens_sql("text")

# Word-3-gram shingle universe with document-frequency cap 20:
# shing (distinct shingles per doc) → rare (df-capped) → sizes
# (per-doc shingle counts). ONE definition, used by every shingle
# oracle (q_ngram_jaccard / q_dedup_components via _NGRAM_PAIRS_SQL,
# q_containment) so the oracles can never drift onto different
# shingle universes than the Spark _shingle_overlap_frames skeleton.
_SHINGLE_RARE_SIZES_SQL = (
    "shing AS (SELECT doc_id, unnest(list_distinct([array_to_string(tk[i:i+2], ' ') "
    "  FOR i IN range(1, greatest(len(tk) - 2, 0) + 1)])) AS sh "
    "  FROM (SELECT doc_id, {t} AS tk FROM documents)), "
    "rare AS (SELECT doc_id, sh FROM shing WHERE sh IN ("
    "  SELECT sh FROM shing GROUP BY sh HAVING count(*) <= 20)), "
    "sizes AS (SELECT doc_id, count(*) AS n_sh FROM rare GROUP BY doc_id)"
).format(t=_DOC_TOKENS_SQL)

# Exact word-3-gram Jaccard pairs (threshold 0.4, document-frequency
# cap 20) — shared by q_ngram_jaccard (pairs as the result) and
# q_dedup_components (pairs as the edge list of the cluster graph).
_NGRAM_PAIRS_SQL = (
    f"WITH {_SHINGLE_RARE_SIZES_SQL}, "
    "shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared "
    "  FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id "
    "  GROUP BY a.doc_id, b.doc_id) "
    f"SELECT id_a, id_b, {TX.portable_round_sql('shared / (sa.n_sh + sb.n_sh - shared)', 6)} AS jaccard "
    "FROM shared JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b "
    f"WHERE {TX.portable_round_sql('shared / (sa.n_sh + sb.n_sh - shared)', 6)} >= 0.4"
)


def _docs(spark: SparkSession, sf_dir: str, *, fan: bool = True) -> DataFrame:
    """The (doc_id, text) scan, optionally fanned out across cores.

    ``fan=True`` (default) for CPU-bound per-row *projections* (lang-ID,
    quality/gopher/repetition scoring, fingerprinting): the corpus ships
    as one small parquet file (one input split), so without the explicit
    repartition the whole regex pass serializes onto a single task.
    Narrowed before the shuffle so only the two live columns move.

    ``fan=False`` for queries whose first real work is a PLAIN-TOKEN
    explode feeding a grouped aggregate (word_freq, tfidf,
    feature_hash, vocab_coverage): the aggregate's own exchange already
    parallelizes the reduce side, the serial prefix is a single linear
    tokenize, and the extra repartition shuffle of the text column is
    pure cost — measured ~2x slower at sf0.1 (r01→r03 bench drift,
    VERDICT r03 'Next round' #6).

    N-GRAM ZIP ASSEMBLY flips the decision back to ``fan=True``: the
    slice×n + arrays_zip + concat construction is CPU-bound per row
    (HOFs don't codegen), so serializing it onto the single input split
    dominates everything downstream — measured at sf0.1:
    boilerplate 5-grams 3.48s→0.84s, lm_perplexity bigrams 1.93s→0.79s,
    decontaminate 3-grams 1.48s→0.85s, collocations bigrams
    1.18s→1.03s. Rule: fan before zip-assembled n-grams (n>=2), not
    before bare ``tokens`` explodes. At cluster scale the corpus
    arrives pre-split and fan_out no-ops either way."""
    df = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return fan_out(df) if fan else df


@contract_query(
    "q_exact_dedup",
    oracle=(
        "SELECT sha256(text) AS content_hash, min(doc_id) AS doc_id "
        "FROM documents GROUP BY sha256(text)"
    ),
    covers="ext-exact-dedup (seeds: dedup-batch, posts_pipeline.py:57)",
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One survivor per sha256(content) — shuffles digests, not text."""
    return DD.exact_dedup(load_table(spark, sf_dir, "documents"), "text", "doc_id").select(
        "content_hash", "doc_id"
    )


@contract_query(
    "q_text_tokens",
    oracle=(
        f"SELECT doc_id, len({_DOC_TOKENS_SQL}) AS n_tokens, "
        f"len(list_distinct({_DOC_TOKENS_SQL})) AS n_distinct_tokens FROM documents"
    ),
    covers="ext-text-analysis (generalizes word-count)",
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = TX.tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct_tokens"),
    )


@contract_query(
    "q_token_bpe",
    oracle=(
        f"SELECT doc_id, {TX.bpe_token_count_sql('text')} AS n_bpe_tokens FROM documents"
    ),
    covers="ext-text-analysis (BPE-ish regex token counting)",
)
def q_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select("doc_id", TX.bpe_token_count(F.col("text")).alias("n_bpe_tokens"))


@contract_query(
    "q_bpe_train",
    oracle=(
        "WITH tk AS (SELECT unnest({t}) AS w FROM documents), "
        "vocab AS (SELECT w, count(*)::BIGINT AS wc FROM tk GROUP BY w), "
        "pos AS (SELECT w, wc, unnest(range(1, len(w))) AS i FROM vocab), "
        "pc AS (SELECT substring(w, i, 1) AS left_sym, "
        "  substring(w, i + 1, 1) AS right_sym, sum(wc)::BIGINT AS pair_count "
        "  FROM pos GROUP BY left_sym, right_sym) "
        "SELECT left_sym, right_sym, pair_count FROM pc "
        "ORDER BY pair_count DESC, left_sym ASC, right_sym ASC LIMIT 20"
    ).format(t=_DOC_TOKENS_SQL),
    covers="ext-text-analysis (distributed BPE tokenizer-training merge step)",
)
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic BPE-training merge iteration — the tokenizer-
    TRAINING counterpart of q_token_bpe's inference: adjacent character-
    pair frequencies over the corpus, weighted by word frequency; row 1
    (highest count, lexicographic (left, right) tiebreak — both sides
    UTF-8 byte order) is the merge the iteration would adopt, and the
    top 20 hash-check the whole candidate frontier.

    Scale shape: the corpus-sized leg is ONE bare-token explode into a
    vocab aggregate (fan=False per the pinned fan_out decision rule —
    the aggregate's exchange already parallelizes); pair assembly then
    runs on the VOCAB (|distinct words|, not |tokens|) via the
    slice+arrays_zip idiom, each pair weighted by the word's count —
    exactly how distributed BPE trainers avoid re-scanning the corpus
    per iteration. Integer counts end-to-end: hash-portable, no
    rounding anywhere."""
    docs = _docs(spark, sf_dir, fan=False)
    vocab = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wc"))
    )
    cs = F.split(F.col("w"), "")
    m = F.size(cs) - 1
    pair_arr = F.transform(
        F.arrays_zip(F.slice(cs, 1, m), F.slice(cs, 2, m)),
        lambda s: F.struct(s["0"].alias("l"), s["1"].alias("r")),
    )
    pairs = vocab.select(F.explode(pair_arr).alias("p"), "wc")
    pc = pairs.groupBy(
        F.col("p.l").alias("left_sym"), F.col("p.r").alias("right_sym")
    ).agg(F.sum("wc").cast("bigint").alias("pair_count"))
    return pc.orderBy(
        F.col("pair_count").desc(), F.col("left_sym").asc(), F.col("right_sym").asc()
    ).limit(20)


@contract_query(
    "q_lang_id",
    oracle=f"SELECT doc_id, {TX.lang_id_sql('text')} AS lang_pred FROM documents",
    covers="ext-text-analysis (language-ID heuristic)",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select("doc_id", TX.lang_id(F.col("text")).alias("lang_pred"))


@contract_query(
    "q_quality_score",
    oracle=f"SELECT doc_id, {TX.quality_score_sql('text')} AS quality FROM documents",
    covers="ext-text-analysis (quality scoring)",
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select("doc_id", TX.quality_score(F.col("text")).alias("quality"))


@contract_query(
    "q_doc_fingerprint",
    oracle=f"SELECT doc_id, {TX.doc_fingerprint_sql('text')} AS fingerprint FROM documents",
    covers="ext-text-analysis (rolling-hash document fingerprint)",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select("doc_id", TX.doc_fingerprint(F.col("text")).alias("fingerprint"))


@contract_query(
    "q_multimodal_meta",
    oracle=(
        "SELECT doc_id, strlen(text)::BIGINT AS n_bytes, "
        "substr(sha256(text), 1, 16) AS sha_prefix FROM documents"
    ),
    covers="ext-multimodal (opaque payload + typed metadata)",
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over an opaque payload column (here the UTF-8
    bytes of `text` stand in for image/audio bytes; the decode path is
    the stubbed pandas-UDF pipeline in operators/multimodal.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.octet_length("text").cast("bigint").alias("n_bytes"),
        F.substring(F.sha2(F.col("text"), 256), 1, 16).alias("sha_prefix"),
    )


@contract_query(
    "q_resize_meta",
    oracle=(
        # coalesce: the multimodal operators treat a NULL payload as
        # empty bytes (degrade-to-NULLs posture), so the oracle's size
        # law must too
        "SELECT doc_id, coalesce(strlen(text), 0)::BIGINT AS orig_bytes, "
        "(CASE WHEN coalesce(strlen(text), 0) = 0 THEN 0 ELSE (224*224)//512 END)::BIGINT "
        "AS resized_bytes, 224::INTEGER AS width, 224::INTEGER AS height "
        "FROM documents"
    ),
    covers="ext-multimodal resize via Arrow mapInPandas (the pandas-UDF boundary itself)",
)
def q_resize_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives the real Arrow ``mapInPandas`` boundary end-to-end (unlike
    q_multimodal_meta, which verifies metadata semantics at expression
    level): payloads cross into pandas, the stub codec resizes them, and
    per-row metadata (orig_bytes measured inside the UDF, n_bytes of the
    resized output) crosses back. The oracle reproduces the documented
    fake-resize size law — target area / 512 bytes, empty stays empty —
    so the driver hash-checks actual per-row values that round-tripped
    through Arrow."""
    from tia_data_pipeline_spark.operators.multimodal import attach_payload, resize_images

    docs = load_table(spark, sf_dir, "documents")
    resized = resize_images(
        attach_payload(docs, text_col="text", id_col="doc_id"),
        target_w=224,
        target_h=224,
    )
    return resized.select(
        F.col("id").alias("doc_id"),
        "orig_bytes",
        F.col("n_bytes").alias("resized_bytes"),
        "width",
        "height",
    )


@contract_query(
    "q_sim_topk",
    oracle=(
        f"WITH probe AS (SELECT embedding AS probe_vec FROM {_E} embeddings WHERE vec_id = 0) "
        f"SELECT vec_id, {TX.portable_round_sql(cosine_sql('embedding', 'probe_vec'), 6)} AS score "
        f"FROM {_E} embeddings, probe WHERE vec_id <> 0 "
        "ORDER BY score DESC, vec_id ASC LIMIT 10"
    ),
    covers="ext-sim-topk (exact brute-force baseline)",
)
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors of vec_id=0 — broadcast probe,
    TakeOrderedAndProject global top-k. Reads through the shared
    valid-vector precondition (see functions.vectors.valid_vector)."""
    emb = valid_embeddings(spark, sf_dir)
    probe = emb.filter(F.col("vec_id") == 0)
    return SIM.brute_force_top_k(emb.filter(F.col("vec_id") != 0), probe, k=10)


def _bucket_sql(vec_expr: str, proj: list[list[float]]) -> str:
    terms = []
    for i, row in enumerate(proj):
        lits = ", ".join(repr(v) for v in row)
        terms.append(
            f"(CASE WHEN list_dot_product(({vec_expr})::DOUBLE[], [{lits}]::DOUBLE[]) > 0 "
            f"THEN {1 << i}::BIGINT ELSE 0::BIGINT END)"
        )
    return "(" + " + ".join(terms) + ")"


_PROJ = SIM.projection_matrix()

@contract_query(
    "q_ann_lsh",
    oracle=(
        "WITH probe AS (SELECT embedding AS probe_vec, "
        f"{_bucket_sql('embedding', _PROJ)} AS probe_bucket "
        f"FROM {_E} embeddings WHERE vec_id = 0), "
        f"cand AS (SELECT vec_id, embedding, probe_vec FROM {_E} embeddings, probe "
        "WHERE vec_id <> 0 "
        f"AND {_bucket_sql('embedding', _PROJ)} = probe_bucket) "
        f"SELECT vec_id, {TX.portable_round_sql(cosine_sql('embedding', 'probe_vec'), 6)} AS score "
        "FROM cand ORDER BY score DESC, vec_id ASC LIMIT 10"
    ),
    covers="ext-sim-topk (LSH-bucketed ANN scale path)",
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection ANN: candidates share the probe's 8-bit
    bucket; exact cosine within. Fixed projection literals make the
    approximation deterministic, so the oracle matches exactly; both
    sides read through the shared valid-vector precondition (a list
    with NULL elements RAISES in DuckDB's list_dot_product where
    Spark's fold buckets it to 0)."""
    emb = valid_embeddings(spark, sf_dir)
    probe = emb.filter(F.col("vec_id") == 0)
    return SIM.lsh_top_k(emb.filter(F.col("vec_id") != 0), probe, k=10, proj=_PROJ)


@contract_query(
    "q_ann_multiprobe",
    oracle=(
        "WITH probe AS (SELECT embedding AS probe_vec, "
        f"{_bucket_sql('embedding', _PROJ)} AS probe_bucket "
        f"FROM {_E} embeddings WHERE vec_id = 0), "
        f"cand AS (SELECT vec_id, embedding, probe_vec FROM {_E} embeddings, probe "
        "WHERE vec_id <> 0 "
        f"AND {_bucket_sql('embedding', _PROJ)} IN "
        "(probe_bucket, " + ", ".join(f"xor(probe_bucket, {1 << i})" for i in range(len(_PROJ)))
        + ")) "
        f"SELECT vec_id, {TX.portable_round_sql(cosine_sql('embedding', 'probe_vec'), 6)} AS score "
        "FROM cand ORDER BY score DESC, vec_id ASC LIMIT 10"
    ),
    covers="ext-sim-topk (multi-probe LSH: Hamming-1 bucket expansion)",
)
def q_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe ANN: the probe's bucket plus every Hamming-1
    neighbor (one flipped projection bit each) — ~9× candidates of
    single-probe, recall close to exact on this corpus. Both sides
    read through the shared valid-vector precondition."""
    emb = valid_embeddings(spark, sf_dir)
    probe = emb.filter(F.col("vec_id") == 0)
    return SIM.lsh_top_k(
        emb.filter(F.col("vec_id") != 0), probe, k=10, proj=_PROJ, hamming_probe=1
    )


_PROJ4 = SIM.projection_matrix(bits=4)
_EMBED_DEDUP_TAU = 0.35  # the synthetic corpus is isotropic-random
# (max pairwise cosine ≈ 0.51, no planted clusters), so a production
# τ≈0.95 would be vacuously empty; τ=0.35 with a 4-bit bucket keeps the
# check non-trivial while the operator semantics stay identical.


@contract_query(
    "q_embed_dedup",
    oracle=(
        # the hot-bucket cap is mirrored (HAVING count(*) <= 2000, the
        # operator's max_bucket default): without it a degenerate
        # bucket past the cap would emit pairs on the oracle side only.
        # NULL vec_ids are excluded HERE, before bc's census — the
        # operator filters NULL ids before bucketing, so a bucket at
        # exactly the cap must count the same membership on both sides
        # (ADVICE r6: a NULL-id row plus 2000 real rows would otherwise
        # be kept by Spark but dropped by the oracle)
        "WITH b AS (SELECT vec_id, embedding, "
        f"{_bucket_sql('embedding', _PROJ4)} AS bucket FROM {_E} embeddings "
        "WHERE vec_id IS NOT NULL), "
        "bc AS (SELECT bucket FROM b GROUP BY bucket HAVING count(*) <= 2000), "
        "pairs AS (SELECT a.vec_id AS id_a, b2.vec_id AS id_b, "
        f"  {TX.portable_round_sql(cosine_sql('a.embedding', 'b2.embedding'), 6)} AS score "
        "  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id "
        "  JOIN bc ON bc.bucket = a.bucket) "
        f"SELECT id_a, id_b, score FROM pairs WHERE score >= {_EMBED_DEDUP_TAU}"
    ),
    covers="ext-exact-dedup family: embedding-cosine near-dup (LSH-bucketed)",
)
def q_embed_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: same sign-projection bucket, cosine ≥ τ.
    Deterministic (fixed projections) so the oracle reproduces the
    bucketing exactly; the Spark side pairs via a bucket-equi self-join
    of the narrow (id, vec, norm, bucket) projection with a two-pass
    hot-bucket cap (vector-payload member arrays would be quadratic in
    vector bytes — _cell_equi_cosine_pairs)."""
    return SIM.embedding_near_duplicates(
        valid_embeddings(spark, sf_dir), threshold=_EMBED_DEDUP_TAU, proj=_PROJ4
    )


def _emb_incr_side_sql(alias: str, pred: str) -> str:
    """One side of the incremental embedding oracle: validity + NULL-id
    preconditions, sign-bucket, own-side hot-cell cap (the q_embed_dedup
    cap discipline, per side)."""
    return (
        f"b_{alias} AS (SELECT vec_id, embedding, "
        f"{_bucket_sql('embedding', _PROJ4)} AS bucket FROM {_E} embeddings "
        f"WHERE vec_id IS NOT NULL AND {pred}), "
        f"ok_{alias} AS (SELECT b_{alias}.* FROM b_{alias} SEMI JOIN ("
        f"  SELECT bucket FROM b_{alias} GROUP BY bucket "
        f"  HAVING count(*) <= 2000) kept_{alias} USING (bucket))"
    )


@contract_query(
    "q_embed_incremental",
    oracle=(
        f"WITH {_emb_incr_side_sql('o', 'vec_id % 5 <> 0')}, "
        f"{_emb_incr_side_sql('n', 'vec_id % 5 = 0')} "
        "SELECT new_id, dup_id, score FROM ("
        "  SELECT n.vec_id AS new_id, o.vec_id AS dup_id, "
        f"  {TX.portable_round_sql(cosine_sql('n.embedding', 'o.embedding'), 6)} AS score "
        "  FROM ok_n n JOIN ok_o o ON n.bucket = o.bucket AND n.vec_id <> o.vec_id) "
        f"WHERE score >= {_EMBED_DEDUP_TAU}"
    ),
    covers=(
        "ext-sim-topk / ext-exact-dedup family: incremental embedding "
        "near-dup served from a persisted sign-bucket index (the vector "
        "twin of q_dedup_incremental)"
    ),
)
def q_embed_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-increment embedding dedup through the PERSISTED sign-bucket
    index: 80% of the vectors (history) are written partitioned by
    their projection cell, the remaining 20% (today's shard) probe only
    the cells they land in — exact partition pruning because the cell
    universe is bounded (2^bits dirs). Same τ/projection as
    q_embed_dedup; the oracle states the plain two-relation form with
    per-side hot-cell caps (the index is an execution strategy, not a
    semantics change)."""
    emb = valid_embeddings(spark, sf_dir)
    tmp = temp_derivation_dir("graft_emb_idx_")
    SIM.embedding_write_index(
        emb.filter(F.col("vec_id") % 5 != 0), f"{tmp}/idx", proj=_PROJ4
    )
    return IX.index_probe(
        IX.EMBEDDING,
        emb.filter(F.col("vec_id") % 5 == 0),
        [f"{tmp}/idx"],
        threshold=_EMBED_DEDUP_TAU,
        max_bucket=2000,
    )[0]


# ---------------------------------------------------------------------------
# q_semantic_dedup — SemDeDup-style intra-cluster cosine near-dup pairs
# ---------------------------------------------------------------------------

_SEM_CENTERS = SIM.semantic_centroids()
_SEM_TAU = 0.35  # same rationale as _EMBED_DEDUP_TAU: the synthetic
# corpus is isotropic-random, so a production τ≈0.95 would be vacuous.


def _center_dist_sql(vec_expr: str, c: list[float]) -> str:
    """|v − c|² as ``(v·v − 2·v·c) + c·c`` — every term a
    list_dot_product (fuzz-pinned bit-identical to the Spark `dot`
    fold) or a shared Python literal, mirroring
    operators.similarity.nearest_centroid exactly."""
    lits = ", ".join(repr(v) for v in c)
    cc = repr(sum(x * x for x in c))
    return (
        f"((list_dot_product(({vec_expr})::DOUBLE[], ({vec_expr})::DOUBLE[]) "
        f"- 2.0 * list_dot_product(({vec_expr})::DOUBLE[], [{lits}]::DOUBLE[])) + {cc})"
    )


def _argmin_cell_sql(k: int) -> str:
    """CASE-chain argmin over precomputed d0..d{k-1} columns with the
    lexicographic (distance, index) tiebreak — index i wins iff
    strictly closer than every EARLIER center and at least as close as
    every LATER one, exactly `array_min(array(struct(d, i)))`."""
    whens = []
    for i in range(k):
        conds = [f"(d{i} < d{j})" for j in range(i)] + [
            f"(d{i} <= d{j})" for j in range(i + 1, k)
        ]
        whens.append(f"WHEN {' AND '.join(conds)} THEN {i}")
    return "(CASE " + " ".join(whens[: k - 1]) + f" ELSE {k - 1} END)"


@contract_query(
    "q_semantic_dedup",
    oracle=(
        # Distances compute ONCE in b0; the cell argmin, the hot-cluster
        # cap (HAVING count(*) <= 2000 mirroring max_cluster) and the
        # NULL-id exclusion all follow the q_embed_dedup discipline.
        "WITH b0 AS (SELECT vec_id, embedding, "
        + ", ".join(
            f"{_center_dist_sql('embedding', c)} AS d{i}"
            for i, c in enumerate(_SEM_CENTERS)
        )
        + f" FROM {_E} embeddings WHERE vec_id IS NOT NULL), "
        f"b AS (SELECT vec_id, embedding, "
        f"{_argmin_cell_sql(len(_SEM_CENTERS))} AS cell FROM b0), "
        "bc AS (SELECT cell FROM b GROUP BY cell HAVING count(*) <= 2000), "
        "pairs AS (SELECT a.vec_id AS id_a, b2.vec_id AS id_b, "
        f"  {TX.portable_round_sql(cosine_sql('a.embedding', 'b2.embedding'), 6)} AS score "
        "  FROM b a JOIN b b2 ON a.cell = b2.cell AND a.vec_id < b2.vec_id "
        "  JOIN bc ON bc.cell = a.cell) "
        f"SELECT id_a, id_b, score FROM pairs WHERE score >= {_SEM_TAU}"
    ),
    covers="ext-exact-dedup family: SemDeDup semantic near-dup (IVF-clustered cosine)",
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) semantic dedup: nearest pinned
    centroid per embedding, exact cosine pairs ≥ τ within each cluster
    — candidate pairs scale with Σ|cluster|², never |corpus|². The
    centroid assignment is bit-reproducible in DuckDB (distances are
    dot-product folds + shared literals), so the oracle replays the
    exact clustering; production swaps in trained ivf_build_index
    centers with identical semantics."""
    return SIM.semantic_dedup_pairs(
        valid_embeddings(spark, sf_dir), _SEM_CENTERS, threshold=_SEM_TAU
    )


@contract_query(
    "q_ngram_jaccard",
    oracle=_NGRAM_PAIRS_SQL,
    covers="ext-fuzzy-dedup (exact n-gram Jaccard, inverted index)",
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard pairs ≥ 0.4 via inverted-index join
    with a document-frequency cap (hot-shingle guard)."""
    return DD.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), "text", "doc_id", n=3, threshold=0.4, max_df=20
    )


_CONT_THRESHOLD = 0.6
_CONT_RND_A = TX.portable_round_sql("shared::DOUBLE / sa.n_sh", 6)
_CONT_RND_B = TX.portable_round_sql("shared::DOUBLE / sb.n_sh", 6)


@contract_query(
    "q_containment",
    oracle=(
        f"WITH {_SHINGLE_RARE_SIZES_SQL}, "
        "shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS shared "
        "  FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id "
        "  GROUP BY a.doc_id, b.doc_id) "
        f"SELECT id_a, id_b, shared, {_CONT_RND_A} AS cont_a, {_CONT_RND_B} AS cont_b "
        "FROM shared JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b "
        f"WHERE greatest({_CONT_RND_A}, {_CONT_RND_B}) >= {_CONT_THRESHOLD}"
    ),
    covers="ext-fuzzy-dedup (asymmetric shingle containment: sub-document duplication)",
)
def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs |A∩B|/|A| ≥ 0.6 (either side) on
    word-3-gram shingles — the sub-document contamination signal
    Jaccard structurally misses: a quote fully contained in a much
    larger page scores containment ≈ 1 but Jaccard ≈ |quote|/|page|.
    Same single-pass inverted-index plan as q_ngram_jaccard (df-capped,
    in-expression pair expansion, no self-join); 6-dp rounding applied
    before the threshold compare on both engines."""
    return DD.containment_pairs(
        load_table(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        n=3,
        threshold=_CONT_THRESHOLD,
        max_df=20,
    )


@contract_query(
    "q_simhash",
    oracle=DD.simhash_oracle_sql("documents", f"list_distinct({_DOC_TOKENS_SQL})", "doc_id"),
    covers="ext-fuzzy-dedup (SimHash fingerprint)",
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document, md5-bit construction shared with
    the oracle bit-for-bit."""
    return DD.simhash(load_table(spark, sf_dir, "documents"), "text", "doc_id")


@contract_query(
    "q_tfidf",
    oracle=(
        "WITH tok AS (SELECT doc_id, unnest({t}) AS token FROM documents), "
        "tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token), "
        "df AS (SELECT token, count(*) AS df FROM tf GROUP BY token), "
        "n AS (SELECT count(*) AS n_docs FROM documents), "
        "scored AS (SELECT tf.doc_id, tf.token, "
        "  {r} AS tfidf "
        "  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n), "
        "ranked AS (SELECT doc_id, token, tfidf, row_number() OVER ("
        "  PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rn FROM scored) "
        "SELECT doc_id, token, tfidf FROM ranked WHERE rn <= 3"
    ).format(
        t=_DOC_TOKENS_SQL,
        r=TX.portable_round_sql("tf * ln(n_docs::DOUBLE / df)", 6),
    ),
    covers="ext-text-analysis (TF-IDF top terms per document)",
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document. tf over raw (non-distinct)
    tokens, df from the per-doc term frame, idf = ln(N/df); the corpus
    size joins in as a broadcast scalar, never a driver-side count."""
    docs = load_table(spark, sf_dir, "documents")
    tok = _docs(spark, sf_dir, fan=False).select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("token"))
    # the TF table is consumed twice (df aggregate + score join) —
    # persist it so the corpus tokenize+explode+aggregate leg runs once
    # (round 11; the sort-shuffle-writer fix flipped the old
    # recompute-vs-persist calculus, see _shingle_overlap_frames). It
    # is the classic materialized TF artifact: (doc, term, tf) rows,
    # spillable, CacheManager-held like the signature-table persists.
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf")).persist()
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            TX.portable_round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tfidf")
    )


@contract_query(
    "q_count_distinct",
    oracle=(
        "SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events "
        "FROM events GROUP BY event_type"
    ),
    covers="distinct aggregation (extension; expand + two-phase agg)",
)
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type (the approx_count_distinct
    sketch variant is the scale path but has no cross-engine oracle)."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
    )


@contract_query(
    "q_approx_distinct",
    oracle=(
        # The sketch itself has no cross-engine twin (DuckDB's
        # approx_count_distinct is a different sketch), so the CONTRACT
        # is the estimate's error bound: Spark emits the exact count
        # alongside `within_bound` = |est − exact| ≤ 15% (3·rsd) of
        # exact, integer-arithmetic so an all-NULL group (exact = 0,
        # est = 0 → 0 ≤ 0) never divides; the oracle states the exact
        # count and TRUE. A drifting sketch breaks the value hash.
        "SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_exact, "
        "count(*)::BIGINT AS n_events, TRUE AS within_bound "
        "FROM events GROUP BY event_type"
    ),
    covers="distinct aggregation, sketch scale path (approx_count_distinct)",
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of q_count_distinct: HyperLogLog++ sketches
    merge associatively, so the shuffle carries one fixed-size sketch
    per (partition, group) instead of every distinct user_id —
    countDistinct's expand-and-reshuffle cost disappears.

    rsd stays at Spark's default 0.05: measured at sf0.1 (noop sink,
    min of 4), rsd=0.01 runs 1.2s — 4.5× SLOWER than 0.05 (0.27s) and
    slower than exact countDistinct (0.29s), because precision p≥14
    registers defeat the sketch's purpose at this update rate. The
    sketch only pays for its error when its update/merge path is
    cheaper than the exact expand — which 0.05 is.

    Oracle contract (round 7): the frame carries BOTH the sketch
    estimate and the exact distinct count and hash-checks
    ``within_bound`` — |est − exact|·100 ≤ 15·exact, all bigint (no
    ANSI division hazard on empty/all-NULL groups). The exact leg
    exists for the check; the sketch leg is the operator under test
    (its local error-bound is additionally pinned across scales by
    tests/test_features.py::test_approx_distinct_error_bound)."""
    est = F.approx_count_distinct("user_id", rsd=0.05)
    exact = F.countDistinct("user_id").cast("bigint")
    agg = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            est.alias("_est"),
            exact.alias("n_exact"),
            F.count("*").cast("bigint").alias("n_events"),
        )
    )
    bound = (
        F.abs(F.col("_est") - F.col("n_exact")) * F.lit(100)
        <= F.lit(15) * F.col("n_exact")
    )
    return agg.select("event_type", "n_exact", "n_events", bound.alias("within_bound"))


@contract_query(
    "q_word_freq",
    oracle=(
        "SELECT token, count(*) AS freq FROM ("
        f"  SELECT unnest({_DOC_TOKENS_SQL}) AS token FROM documents) "
        "GROUP BY token ORDER BY freq DESC, token ASC LIMIT 20"
    ),
    covers="ext-text-analysis (corpus term frequencies via explode)",
)
def q_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus tokens: explode -> two-phase count -> top-k with
    tiebreak. The explode is a narrow generate; only (token, partial
    count) pairs shuffle."""
    docs = _docs(spark, sf_dir, fan=False)
    return (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token").asc())
        .limit(20)
    )


# -- q_heavy_hitters parameters: heavy = share ≥ 1/500 (0.2%) of all
#    token occurrences; the sample gate admits candidates at half that
#    rate (1/1000) measured on a 4/16 id-hash sample of documents. All
#    thresholds are integer cross-products (cnt·den ≥ n) — no FP
#    comparisons to diverge cross-engine.
_HH_PHI_DEN = 500
_HH_GATE_DEN = 1000
_HH_SAMPLE_BUCKETS = 4


@contract_query(
    "q_heavy_hitters",
    oracle=(
        "WITH tok AS (SELECT doc_id, unnest({t}) AS token FROM documents), "
        "sc AS (SELECT token, count(*) AS c FROM tok "
        "  WHERE {hb} < {sb} GROUP BY token), "
        "ns AS (SELECT sum(c) AS n_samp FROM sc), "
        "cand AS (SELECT token FROM sc, ns WHERE c * {gd} >= n_samp), "
        "tot AS (SELECT count(*) AS n_tot FROM tok), "
        "exact AS (SELECT token, count(*)::BIGINT AS cnt FROM tok "
        "  SEMI JOIN cand USING (token) GROUP BY token) "
        "SELECT token, cnt, {share} AS share "
        "FROM exact, tot WHERE cnt * {pd} >= n_tot"
    ).format(
        t=_DOC_TOKENS_SQL,
        hb=SMP.hash_bucket_sql("doc_id"),
        sb=_HH_SAMPLE_BUCKETS,
        gd=_HH_GATE_DEN,
        pd=_HH_PHI_DEN,
        share=TX.portable_round_sql("cnt::DOUBLE / n_tot", 6),
    ),
    covers=(
        "ext-text-analysis (sample-gated exact heavy hitters — the "
        "two-pass candidate-then-verify scale pattern: the full-corpus "
        "aggregate only ever shuffles candidate tokens)"
    ),
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (tokens with ≥ 1/500 of all occurrences)
    via sample-then-verify: candidates are generated on a deterministic
    4/16 id-hash sample of documents at HALF the target rate (the
    slack), then verified with exact counts over the full corpus.

    The declared semantics are the two-pass form (a token must pass
    BOTH gates — deterministic, engine-portable, and stated identically
    in the oracle); the sample gate is the 100 TB lever: the full-scan
    aggregate semi-joins to the broadcast candidate set BEFORE its
    shuffle, so the wide exchange carries only ~dozens of candidate
    tokens instead of the whole vocabulary. The vocabulary-wide count
    happens only on the 1/4 sample. NULL-id documents fall out of the
    sample (NULL hash bucket) but count fully in the verify pass —
    identical on both engines."""
    tok = _docs(spark, sf_dir, fan=False).select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("token")
    )
    samp_counts = (
        tok.filter(SMP.hash_bucket("doc_id") < _HH_SAMPLE_BUCKETS)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_samp = samp_counts.agg(F.sum("c").alias("n_samp"))
    cand = (
        samp_counts.crossJoin(F.broadcast(n_samp))
        .filter(F.col("c") * _HH_GATE_DEN >= F.col("n_samp"))
        .select("token")
    )
    n_tot = tok.agg(F.count(F.lit(1)).alias("n_tot"))
    exact = (
        tok.join(F.broadcast(cand), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        exact.crossJoin(F.broadcast(n_tot))
        .filter(F.col("cnt") * _HH_PHI_DEN >= F.col("n_tot"))
        .select(
            "token",
            F.col("cnt").cast("bigint").alias("cnt"),
            TX.portable_round(F.col("cnt") / F.col("n_tot"), 6).alias("share"),
        )
    )


@contract_query(
    "q_canonicalize",
    oracle=(
        "SELECT doc_id, md5({c}) AS canon_hash, "
        "strlen({c})::BIGINT AS canon_len FROM documents"
    ).format(c=TX.canonicalize_sql("text")),
    covers="ext-text-analysis (canonicalization: the pre-dedup normalize)",
)
def q_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical form of each document (lowercase, punct→space,
    collapsed whitespace) reduced to hash+length — the key exact-dedup
    runs on after normalization."""
    docs = _docs(spark, sf_dir)
    canon = TX.canonicalize(F.col("text"))
    return docs.select(
        "doc_id",
        F.md5(F.encode(canon, "UTF-8")).alias("canon_hash"),
        F.octet_length(canon).cast("bigint").alias("canon_len"),
    )


@contract_query(
    "q_hash_sample",
    oracle=SMP.stratified_hash_sample_sql(
        "documents", "doc_id", "lang", {"en": 4, "zh": 2, "es": 2, "de": 2, "fr": 2}
    ),
    covers="deterministic stratified hash sampling (training-data curation)",
)
def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible per-language downsampling by id-hash bucket —
    stable under repartitioning/reruns/engine swaps, unlike rand()."""
    return SMP.stratified_hash_sample(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "lang",
        {"en": 4, "zh": 2, "es": 2, "de": 2, "fr": 2},
    )


# Same distinct word-3-gram shingles as _NGRAM_PAIRS_SQL, over a
# pre-tokenized derived table (tk computed once per row).
_SHINGLE_TABLE_SQL = f"(SELECT doc_id, {_DOC_TOKENS_SQL} AS tk FROM documents)"
_SHINGLES_SQL = (
    "list_distinct([array_to_string(tk[i:i+2], ' ') "
    "FOR i IN range(1, greatest(len(tk) - 2, 0) + 1)])"
)


@contract_query(
    "q_fuzzy_dedup",
    oracle=DD.minhash_oracle_sql(
        _SHINGLE_TABLE_SQL, _SHINGLES_SQL, "doc_id", threshold=0.5
    ),
    covers="ext-fuzzy-dedup (MinHash+LSH banding)",
)
def q_fuzzy_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(k=32, 8 bands)-LSH near-dup pairs at est-Jaccard ≥ 0.5,
    with the md5-digit shingle hash and raw band slices as bucket
    keys: every signature component is reproducible in
    DuckDB, so the banding, the hot-bucket cap, and the matching-
    component estimate all hash-match the oracle — upgraded from the
    rows-only check of rounds 1-3."""
    return DD.minhash_near_duplicates(
        load_table(spark, sf_dir, "documents"), "text", "doc_id", threshold=0.5
    )


@contract_query(
    "q_dedup_incremental",
    oracle=DD.minhash_incremental_oracle_sql(
        _SHINGLE_TABLE_SQL,
        _SHINGLES_SQL,
        "doc_id",
        history_pred="doc_id % 5 <> 0",
        shard_pred="doc_id % 5 = 0",
        threshold=0.5,
    ),
    covers=(
        "ext-fuzzy-dedup incremental serving (persisted MinHash signature "
        "index; the fuzzy twin of antijoin-incr / comments_pipeline.py:33 "
        "daily-increment semantics)"
    ),
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-increment fuzzy dedup, driven end-to-end through the
    PERSISTED signature index: 80% of the corpus (history) is written
    as a band/bshard-partitioned MinHash index, then the remaining 20%
    (today's shard) probes it WITHOUT rescanning history — the index
    scan prunes to the shard's touched partitions (PartitionFilters
    pinned in tests/test_dedup.py). The md5-digit hash makes the
    banding, per-side hot-bucket caps, and matching-component
    estimate all hash-match the oracle, which states the plain
    two-relation form (the index is an execution strategy, not a
    semantics change)."""
    docs = load_table(spark, sf_dir, "documents")
    # Each build writes a fresh index (bench protocol: the write is the
    # one-off derivation at build time; timed runs measure the probe —
    # the serving cost, which is the operator's point); atexit keeps
    # the temp indexes from accumulating on disk.
    tmp = temp_derivation_dir("graft_mh_idx_")
    DD.minhash_write_index(
        docs.filter(F.col("doc_id") % 5 != 0),
        "text",
        "doc_id",
        f"{tmp}/idx",
        # shard count sized adaptively by the writer itself (guide §6,
        # ADVICE r12: the writer computes the default from its OWN
        # input frame and band count — bands dirs with one healthy file
        # each at sf0.1, walking up toward 256 shards as the corpus
        # grows)
    )
    return IX.index_probe(
        IX.MINHASH,
        docs.filter(F.col("doc_id") % 5 == 0),
        [f"{tmp}/idx"],
        text_col="text",
        id_col="doc_id",
        threshold=0.5,
    )[0]


# -- q_simhash_incremental parameters: 48-bit fingerprints in 4 × 12-bit
#    bands (hamming ≤ 3 collision guarantee; the threshold 2 stays
#    inside it), cap 500 (the sf corpora are duplicate-dense — a third
#    of a split can share one band value; the cap chops the quadratic
#    head, the standard boilerplate-skip semantics of the dedup family).
_SHI_HAMMING = 2
_SHI_CAP = 500


@contract_query(
    "q_simhash_incremental",
    oracle=DD.simhash_incremental_oracle_sql(
        "documents",
        _DOC_TOKENS_SQL,
        "doc_id",
        history_pred="doc_id % 5 <> 0",
        shard_pred="doc_id % 5 = 0",
        max_hamming=_SHI_HAMMING,
        max_bucket=_SHI_CAP,
    ),
    covers=(
        "ext-fuzzy-dedup incremental serving (persisted SimHash "
        "fingerprint index — the hamming-distance twin of "
        "q_dedup_incremental; completes the incremental trio with the "
        "MinHash and embedding indexes)"
    ),
)
def q_simhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-increment SimHash dedup through the PERSISTED fingerprint
    index: 80% of the corpus (history) is written as a band/bshard-
    partitioned 48-bit fingerprint index, then the remaining 20%
    (today's shard) probes it WITHOUT rescanning history — the index
    scan prunes to the shard's touched partitions (PartitionFilters
    pinned in tests/test_dedup.py), hot buckets capped two-pass per
    side, and the 8-byte fingerprints verify via bit_count(xor) ≤ 2.
    The md5-bit construction is portable, so banding, caps, and the
    hamming verify all hash-match the oracle, which states the plain
    two-relation form (the index is an execution strategy, not a
    semantics change)."""
    docs = load_table(spark, sf_dir, "documents")
    tmp = temp_derivation_dir("graft_sh_idx_")
    DD.simhash_write_index(
        # shard count sized adaptively by the writer itself (ADVICE
        # r12: the explicit kwarg used the MinHash bands default — half
        # the intended bands×shards target for the 4-band simhash index)
        docs.filter(F.col("doc_id") % 5 != 0), "text", "doc_id", f"{tmp}/idx",
    )
    return IX.index_probe(
        IX.SIMHASH,
        docs.filter(F.col("doc_id") % 5 == 0),
        [f"{tmp}/idx"],
        text_col="text",
        id_col="doc_id",
        max_hamming=_SHI_HAMMING,
        max_bucket=_SHI_CAP,
    )[0]


@contract_query(
    "q_index_delete",
    oracle=DD.minhash_incremental_oracle_sql(
        _SHINGLE_TABLE_SQL,
        _SHINGLES_SQL,
        "doc_id",
        # the oracle sees deletion as history shrinking: tombstoned
        # docs leave BEFORE the hot-bucket caps, exactly the probe's
        # anti-join placement
        history_pred="doc_id % 5 <> 0 AND doc_id % 3 <> 0",
        shard_pred="doc_id % 5 = 0",
        threshold=0.5,
    ),
    covers=(
        "ext-fuzzy-dedup deletion lifecycle (tombstoned ids masked from "
        "the persisted-index probe — the takedown / right-to-be-forgotten "
        "leg of the incremental-serving family)"
    ),
)
def q_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index deletion driven end-to-end: write the MinHash index over
    history (80% of the corpus), tombstone a third of it by ID ALONE
    (``index_delete`` — a takedown request never ships the text
    back), then probe today's shard. Tombstoned documents must behave
    exactly as if compaction had already removed their rows: they
    neither pair nor count toward any bucket's hot-cap population —
    which is what the oracle states by simply shrinking history.
    Deletes are idempotent (twice ≡ once) and the tombstone table is
    request-sized, so the probe-side mask broadcasts (the 100 TB
    posture; physical removal is the q-independent
    ``index_compact``, pinned in tests/test_index_delete.py)."""
    docs = load_table(spark, sf_dir, "documents")
    tmp = temp_derivation_dir("graft_del_idx_")
    DD.minhash_write_index(
        docs.filter(F.col("doc_id") % 5 != 0),
        "text",
        "doc_id",
        f"{tmp}/idx",
        # shard count sized adaptively by the writer itself (guide §6,
        # ADVICE r12)
    )
    doomed = docs.filter(
        (F.col("doc_id") % 5 != 0) & (F.col("doc_id") % 3 == 0)
    ).select("doc_id")
    IX.index_delete(IX.MINHASH, doomed, f"{tmp}/idx")
    IX.index_delete(IX.MINHASH, doomed, f"{tmp}/idx")  # idempotent by contract
    return IX.index_probe(
        IX.MINHASH,
        docs.filter(F.col("doc_id") % 5 == 0),
        [f"{tmp}/idx"],
        text_col="text",
        id_col="doc_id",
        threshold=0.5,
    )[0]


def _takedown_oracle_sql() -> str:
    """The q_takedown oracle: each family's incremental-probe oracle
    with history SHRUNK by the takedown set (the deletion semantics —
    tombstoned docs behave exactly as if already compacted away), and
    every pair emitted under BOTH phase labels: a masked probe and a
    probe of the physically-compacted index MUST return identical
    pairs, which the cross-joined phase axis states directly."""
    sh = DD.simhash_incremental_oracle_sql(
        "documents",
        _DOC_TOKENS_SQL,
        "doc_id",
        history_pred="doc_id % 5 <> 0 AND doc_id % 3 <> 0",
        shard_pred="doc_id % 5 = 0",
        max_hamming=_SHI_HAMMING,
        max_bucket=_SHI_CAP,
    )
    em = (
        f"WITH {_emb_incr_side_sql('o', 'vec_id % 5 <> 0 AND vec_id % 3 <> 0')}, "
        f"{_emb_incr_side_sql('n', 'vec_id % 5 = 0')} "
        "SELECT new_id, dup_id FROM ("
        "  SELECT n.vec_id AS new_id, o.vec_id AS dup_id, "
        f"  {TX.portable_round_sql(cosine_sql('n.embedding', 'o.embedding'), 6)} AS score "
        "  FROM ok_n n JOIN ok_o o ON n.bucket = o.bucket AND n.vec_id <> o.vec_id) "
        f"WHERE score >= {_EMBED_DEDUP_TAU}"
    )
    return (
        f"WITH sh AS ({sh}), em AS ({em}), "
        "ph(phase) AS (VALUES ('masked'), ('compacted')) "
        "SELECT phase, family, new_id, dup_id FROM ("
        "  SELECT ph.phase, 'simhash' AS family, new_id, dup_id "
        "  FROM sh CROSS JOIN ph "
        "  UNION ALL "
        "  SELECT ph.phase, 'embedding' AS family, new_id, dup_id "
        "  FROM em CROSS JOIN ph)"
    )


@contract_query(
    "q_takedown",
    oracle=_takedown_oracle_sql(),
    covers=(
        "ext-fuzzy-dedup deletion lifecycle END-TO-END across two index "
        "families (SimHash + embedding): takedown request -> idempotent "
        "delete -> masked probe -> physical compact -> probe again, the "
        "PK-keyed idempotent-mutation surface of comments_pipeline.py:102 "
        "inverted into removal"
    ),
)
def q_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The takedown / right-to-be-forgotten workflow driven end-to-end
    through TWO index families at once (VERDICT r9 next #6 — the
    lifecycle q_index_delete proved for MinHash alone): write the
    history index, tombstone the takedown set by ID ALONE (twice — the
    delete is idempotent by contract), probe today's shard against the
    MASKED index, then run the same history through delete + physical
    COMPACT in a sibling dir and probe that too. The output carries
    every pair under its (phase, family) label and the oracle states
    the same shrunken-history pair set for both phases — so the hash
    check proves masking ≡ physical removal, per family, in one row
    set. Each family's history index is built ONCE (VERDICT r10 #3 —
    builds are deterministic, so the former second build was pure
    redundancy): tombstone it twice in place (the delete is idempotent
    by contract), ``copytree`` the masked dir to the sibling phase dir,
    then physically COMPACT the copy — the copy carries the tombstones,
    so compaction applies exactly the masked dir's delete set. All file
    mutations land BEFORE either probe plan exists (a lazily-built
    probe plan must never read an index dir that a LATER eager step
    rewrote — the staleness rule that makes the two-dir form
    load-bearing, not a convenience)."""
    import shutil

    tmp = temp_derivation_dir("graft_takedown_")

    docs = load_table(spark, sf_dir, "documents")
    hist_docs = docs.filter(F.col("doc_id") % 5 != 0)
    doomed_docs = docs.filter(
        (F.col("doc_id") % 5 != 0) & (F.col("doc_id") % 3 == 0)
    ).select("doc_id")
    shard_docs = docs.filter(F.col("doc_id") % 5 == 0)

    emb = valid_embeddings(spark, sf_dir).filter(F.col("vec_id").isNotNull())
    hist_emb = emb.filter(F.col("vec_id") % 5 != 0)
    doomed_emb = emb.filter(
        (F.col("vec_id") % 5 != 0) & (F.col("vec_id") % 3 == 0)
    ).select("vec_id")
    shard_emb = emb.filter(F.col("vec_id") % 5 == 0)

    # Build once, tombstone twice (idempotence proof), copy, compact the
    # copy. Eager file work for BOTH phase dirs completes here, before
    # any probe plan is constructed below.
    # shard count sized adaptively by the writer itself (ADVICE r12)
    DD.simhash_write_index(hist_docs, "text", "doc_id", f"{tmp}/sh_masked")
    IX.index_delete(IX.SIMHASH, doomed_docs, f"{tmp}/sh_masked")
    IX.index_delete(IX.SIMHASH, doomed_docs, f"{tmp}/sh_masked")  # idempotent
    shutil.copytree(f"{tmp}/sh_masked", f"{tmp}/sh_compacted")
    IX.index_compact(IX.SIMHASH, spark, f"{tmp}/sh_compacted")

    SIM.embedding_write_index(hist_emb, f"{tmp}/em_masked", proj=_PROJ4)
    IX.index_delete(IX.EMBEDDING, doomed_emb, f"{tmp}/em_masked")
    IX.index_delete(IX.EMBEDDING, doomed_emb, f"{tmp}/em_masked")  # idempotent
    shutil.copytree(f"{tmp}/em_masked", f"{tmp}/em_compacted")
    IX.index_compact(IX.EMBEDDING, spark, f"{tmp}/em_compacted")

    # Both phase probes of a family share one shard-side scaffolding
    # (fingerprint/projection frame, capped probe side, touched-
    # partition collect) via one multi-path probe — the masked and
    # compacted probes differ ONLY in the index dir they scan (guide
    # §2.4; round 12: the per-phase re-derivation was ~half the
    # query's stage waves).
    phases = ("masked", "compacted")
    frames = []
    for phase, pairs in zip(
        phases,
        IX.index_probe(
            IX.SIMHASH, shard_docs, [f"{tmp}/sh_{p}" for p in phases],
            text_col="text", id_col="doc_id",
            max_hamming=_SHI_HAMMING, max_bucket=_SHI_CAP,
        ),
    ):
        frames.append(
            pairs.select(
                F.lit(phase).alias("phase"),
                F.lit("simhash").alias("family"),
                F.col("new_id").cast("bigint").alias("new_id"),
                F.col("dup_id").cast("bigint").alias("dup_id"),
            )
        )
    for phase, pairs in zip(
        phases,
        IX.index_probe(
            IX.EMBEDDING, shard_emb, [f"{tmp}/em_{p}" for p in phases],
            threshold=_EMBED_DEDUP_TAU, max_bucket=2000,
        ),
    ):
        frames.append(
            pairs.select(
                F.lit(phase).alias("phase"),
                F.lit("embedding").alias("family"),
                F.col("new_id").cast("bigint").alias("new_id"),
                F.col("dup_id").cast("bigint").alias("dup_id"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


# -- q_ivf_append: squared distances saturate at this cap before the
#    nano-unit integerization — an outlier guard only (real corpus d²
#    is O(1); a hostile 1e12-component vector reads d² ≈ 1e24, whose
#    nano term would overflow BIGINT on both engines). Stated on both
#    sides via least().
_IVF_D2_CAP = 1.0e4


@contract_query(
    "q_ivf_append",
    oracle=(
        "WITH b0 AS (SELECT vec_id, "
        + ", ".join(
            f"{_center_dist_sql('embedding', c)} AS d{i}"
            for i, c in enumerate(_SEM_CENTERS)
        )
        + f" FROM {_E} embeddings WHERE vec_id IS NOT NULL), "
        f"b AS (SELECT vec_id, {_argmin_cell_sql(len(_SEM_CENTERS))} AS cell, "
        f"  least({', '.join(f'd{i}' for i in range(len(_SEM_CENTERS)))}) AS d2 "
        "  FROM b0) "
        "SELECT cell::INT AS cell, count(*)::BIGINT AS n, "
        + TX.portable_round_sql(
            f"sum({TX.nano_int_sql(f'least(d2, {_IVF_D2_CAP})')}) "
            "/ 1000000000.0 / count(*)",
            6,
        )
        + " AS mean_d2 FROM b GROUP BY cell"
    ),
    covers=(
        "ext-ann IVF write-side increment (idempotent append to pinned "
        "centroids + drift census — completes the IVF lifecycle the "
        "other three index families already drove through the contract)"
    ),
)
def q_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF write-side increment driven end-to-end: write the IVF index
    over history embeddings (80%, assigned to the PINNED semantic
    centroids — the oracle-checkable quantizer; production uses trained
    ivf_build_index centers with identical semantics), append today's
    shard (20%) via ivf_index_append (idempotent anti-join over touched
    cells only), then read the index BACK and report the per-cell
    census: row count and mean squared center distance. The counts
    prove the append placed every valid vector in exactly the cell the
    shared argmin derives (once and only once); the distances prove the
    vector payloads round-tripped intact. Cell assignment uses the one
    cross-engine-pinned expansion form (nearest_centroid_struct — dot
    folds + shared literals), and the mean integerizes per-row nano
    units before summing so accumulation order can't wobble the 6-dp
    rounding."""
    emb = valid_embeddings(spark, sf_dir).filter(F.col("vec_id").isNotNull())
    tmp = temp_derivation_dir("graft_ivf_idx_")
    hist = emb.filter(F.col("vec_id") % 5 != 0)
    assigned = hist.select(
        "vec_id",
        "embedding",
        SIM.nearest_centroid(F.col("embedding"), _SEM_CENTERS).alias("_cell"),
    )
    SIM.ivf_write_index(assigned, _SEM_CENTERS, f"{tmp}/idx")
    SIM.ivf_index_append(emb.filter(F.col("vec_id") % 5 == 0), f"{tmp}/idx")
    meta = SIM.ivf_index_meta(spark, f"{tmp}/idx")
    idx = IX.read_index(IX.IVF, spark, f"{tmp}/idx", meta)
    d2 = F.least(
        SIM.nearest_centroid_struct(F.col("embedding"), _SEM_CENTERS)["d"],
        F.lit(_IVF_D2_CAP),
    )
    return (
        idx.select(F.col("_cell").cast("int").alias("cell"), TX.nano_int(d2).alias("_nd"))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            TX.portable_round(
                F.sum("_nd") / F.lit(1e9) / F.count(F.lit(1)), 6
            ).alias("mean_d2"),
        )
    )


@contract_query(
    "q_dup_spans",
    oracle=DD.duplicated_spans_oracle_sql("documents", "doc_id"),
    covers=(
        "ext-fuzzy-dedup span extraction (duplicated byte ranges for "
        "cut-not-drop dedup, the Lee-et-al. exact-substring form)"
    ),
)
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-SPAN extraction: for each document pair sharing a
    verbatim run, the aligned 1-based char ranges in both documents —
    the cut-not-drop form of substring dedup (q_substring_dedup finds
    the pairs; this finds WHICH bytes to cut). Content-defined sampled
    anchors merged along match diagonals; one shuffle sessionize;
    md5-digit hash so the spans hash-match the oracle."""
    return DD.duplicated_spans(load_table(spark, sf_dir, "documents"), "text", "doc_id")


@contract_query(
    "q_span_cut",
    oracle=DD.span_cut_oracle_sql("documents", "doc_id"),
    covers=(
        "ext-fuzzy-dedup span surgery (apply the duplicated spans: "
        "rebuild affected documents with the duplicated ranges removed "
        "— the cut step of cut-not-drop dedup, keep-first policy)"
    ),
)
def q_span_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cut-not-drop applied: every duplicated span found by the
    q_dup_spans extractor is REMOVED from the pair's later document
    (keep-first — the earliest copy survives, so no run leaves the
    corpus). Per affected doc: merged-interval count, characters cut,
    and md5 of the rebuilt text — the hash makes the surgery
    byte-exact against the oracle, which assembles the identical
    complement pieces with a span-ordered string_agg."""
    return DD.cut_duplicated_spans(
        load_table(spark, sf_dir, "documents"), "text", "doc_id"
    )


# -- q_substring_dedup parameters (operator defaults, non-vacuous at
#    sf0.001 AND sf0.01: 27 / 25 pairs on the driver corpus)
_SSD_K = 32  # char k-mer length
_SSD_MOD = 16  # content-defined 1/mod sampling (shift-invariant)
_SSD_MAX_DF = 20  # hot k-mer cap
_SSD_MIN_SHARED = 2  # >= this many shared sampled k-mers
_SSD_MD5I = DD.md5_int_sql(f"substr(text, i, {_SSD_K})")


@contract_query(
    "q_substring_dedup",
    oracle=(
        "WITH pos AS (SELECT doc_id, text, "
        f"  unnest(range(1, greatest(length(text) - {_SSD_K - 1}, 0) + 1)) AS i "
        "  FROM documents), "
        f"hs0 AS (SELECT doc_id, {_SSD_MD5I} AS h FROM pos), "
        f"hs AS (SELECT DISTINCT doc_id, h FROM hs0 WHERE h % {_SSD_MOD} = 0), "
        "buck AS (SELECT h FROM hs GROUP BY h "
        f"  HAVING count(*) BETWEEN 2 AND {_SSD_MAX_DF}), "
        "pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "    count(*)::BIGINT AS shared "
        "  FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id "
        "  WHERE a.h IN (SELECT h FROM buck) "
        "  GROUP BY a.doc_id, b.doc_id) "
        f"SELECT id_a, id_b, shared FROM pr WHERE shared >= {_SSD_MIN_SHARED}"
    ),
    covers="ext-fuzzy-dedup (substring-level overlap: sampled char k-mer pairs)",
)
def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing long verbatim character runs — the
    contamination/plagiarism signal word-shingle Jaccard misses when
    the shared block is a small fraction of each document (license
    blocks, quoted passages, copy-pasted boilerplate). 32-char k-mers,
    content-defined 1/16 sampling (hash-mod, so a one-char insertion
    upstream cannot desynchronize the sample set), ≥2 shared samples
    ≈ a ≥64-char verbatim run. The md5-digit k-mer hash makes the
    pair set hash-match the DuckDB oracle, which states the same
    inverted index as a self-join — the Spark side never self-joins (bucket-capped in-expression pair expansion, pinned in
    tests/test_plans.py)."""
    return DD.substring_overlap_pairs(
        load_table(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        k=_SSD_K,
        mod=_SSD_MOD,
        max_df=_SSD_MAX_DF,
        min_shared=_SSD_MIN_SHARED,
    )


@contract_query(
    "q_knn_join",
    oracle=(
        "WITH probes AS (SELECT vec_id AS probe_id, embedding AS probe_vec "
        f"  FROM {_E} embeddings WHERE vec_id < 5), "
        "scored AS (SELECT p.probe_id, c.vec_id, "
        f"  {TX.portable_round_sql(cosine_sql('c.embedding', 'p.probe_vec'), 6)} AS score "
        f"  FROM {_E} c CROSS JOIN probes p) "
        "SELECT probe_id, vec_id, score, rank FROM ("
        "  SELECT probe_id, vec_id, score, row_number() OVER ("
        "    PARTITION BY probe_id ORDER BY score DESC, vec_id ASC) AS rank FROM scored) "
        "WHERE rank <= 10"
    ),
    covers="ext-sim-topk (batch k-NN join: N probes at once)",
)
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN join — top-10 cosine neighbors for each of 5 probe
    embeddings in ONE pass over the corpus: probes broadcast, scoring a
    narrow projection, per-probe top-k as a rank-limited window
    (WindowGroupLimit: each task keeps ≤ k rows per probe before the
    only shuffle). The retrieval shape of a real RAG/dedup pipeline,
    vs q_sim_topk's single probe."""
    emb = valid_embeddings(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return SIM.knn_join(emb, probes, k=10)


@contract_query(
    "q_knn_bucketed",
    oracle=(
        "WITH b AS (SELECT vec_id, embedding, "
        f"{_bucket_sql('embedding', _PROJ)} AS bucket FROM {_E} embeddings), "
        "probes AS (SELECT vec_id AS probe_id, embedding AS probe_vec, bucket AS pbucket "
        "  FROM b WHERE vec_id < 8), "
        "cand AS (SELECT p.probe_id, c.vec_id, "
        f"  {TX.portable_round_sql(cosine_sql('c.embedding', 'p.probe_vec'), 6)} AS score "
        "  FROM b c JOIN probes p ON c.vec_id >= 8 AND c.bucket IN (p.pbucket, "
        + ", ".join(f"xor(p.pbucket, {1 << i})" for i in range(len(_PROJ)))
        + ")) "
        "SELECT probe_id, vec_id, score, rank FROM ("
        "  SELECT probe_id, vec_id, score, row_number() OVER ("
        "    PARTITION BY probe_id ORDER BY score DESC, vec_id ASC) AS rank FROM cand) "
        "WHERE rank <= 5"
    ),
    covers="ext-sim-topk (bucket-equi-join k-NN: probe batches too big to broadcast)",
)
def q_knn_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-equi-join k-NN — the large-probe-batch complement of
    q_knn_join: when probes don't fit a broadcast, both sides bucket on
    the shared sign projection and the candidate join is a hash SHUFFLE
    on the bucket id (no broadcast, no cross product; pinned in
    tests/test_plans.py). Multi-probe Hamming-1 expansion on the probe
    side for recall; top-5 per probe via map-side-limited window."""
    emb = valid_embeddings(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return SIM.knn_join_bucketed(
        emb.filter(F.col("vec_id") >= 8), probes, k=5, proj=_PROJ, hamming_probe=1
    )


@contract_query(
    "q_gopher_quality",
    oracle=(
        lambda m=TX.gopher_rules_sql("text"): (
            f"SELECT doc_id, {m[0]['n_words']} AS n_words, "
            f"{m[0]['mean_word_len']} AS mean_word_len, "
            f"{m[0]['symbol_ratio']} AS symbol_ratio, "
            f"{m[0]['bullet_frac']} AS bullet_frac, "
            f"{m[0]['ellipsis_frac']} AS ellipsis_frac, "
            f"{m[1]} AS keep FROM documents"
        )
    )(),
    covers="ext-text-analysis (Gopher-style shape/repetition filter)",
)
def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule document filter: shape metrics + keep flag per doc,
    all narrow codegen expressions (one tokenize, one line split, three
    linear regex passes). The standard pre-training corpus gate,
    complementing q_quality_score's scalar score."""
    metrics, keep = TX.gopher_rules(F.col("text"))
    return _docs(spark, sf_dir).select(
        "doc_id",
        metrics["n_words"].alias("n_words"),
        metrics["mean_word_len"].alias("mean_word_len"),
        metrics["symbol_ratio"].alias("symbol_ratio"),
        metrics["bullet_frac"].alias("bullet_frac"),
        metrics["ellipsis_frac"].alias("ellipsis_frac"),
        keep.alias("keep"),
    )


@contract_query(
    "q_pii_redact",
    oracle=(
        lambda r=TX.redact_pii_sql("text"): (
            f"SELECT doc_id, {r[0]} AS redacted, "
            f"{r[1]['n_emails']} AS n_emails, {r[1]['n_ips']} AS n_ips, "
            f"{r[1]['n_phones']} AS n_phones FROM documents"
        )
    )(),
    covers="ext-text-analysis (PII redaction: email/IPv4/phone)",
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: emails / IPv4s / international phone runs
    replaced by typed tokens, with per-pattern redaction counts
    (tokens emitted; replacement order pinned email→ip×2→phone on both
    engines). Linear regex passes, no shuffle. Two-step projection:
    the replace chain lands in a named column first, so the counts
    reference it instead of re-running the chain (CollapseProject
    keeps a multiply-referenced expensive expression un-inlined)."""
    redacted, _ = TX.redact_pii(F.col("text"))
    step = _docs(spark, sf_dir).select("doc_id", "text", redacted.alias("redacted"))
    counts = TX.redact_token_counts(F.col("redacted"), F.col("text"))
    return step.select(
        "doc_id",
        "redacted",
        counts["n_emails"].alias("n_emails"),
        counts["n_ips"].alias("n_ips"),
        counts["n_phones"].alias("n_phones"),
    )


@contract_query(
    "q_dedup_components",
    oracle=(
        "WITH RECURSIVE pairs AS (" + _NGRAM_PAIRS_SQL + "), "
        "edges AS (SELECT id_a AS u, id_b AS v FROM pairs "
        "  UNION SELECT id_b AS u, id_a AS v FROM pairs), "
        "reach(node, r) AS ("
        "  SELECT u, u FROM (SELECT DISTINCT u FROM edges) "
        "  UNION SELECT reach.node, e.v FROM reach JOIN edges e ON reach.r = e.u), "
        "comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node) "
        "SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component, "
        "  (d.doc_id = coalesce(c.component, d.doc_id)) AS is_kept "
        "FROM documents d LEFT JOIN comp c ON d.doc_id = c.node"
    ),
    covers="ext-fuzzy-dedup (pair graph → connected components → one survivor per cluster)",
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware dedup: the exact n-gram Jaccard pairs (same
    parameters as q_ngram_jaccard) become an undirected graph;
    min-label propagation collapses each connected component; the
    minimum doc_id per component survives. Transitivity is the point —
    A~B and B~C dedup to ONE survivor even when A≁C. The oracle
    reproduces the closure with a recursive CTE over the identical
    pair SQL — a fully hash-checked iterative-algorithm query."""
    from tia_data_pipeline_spark.operators.graph import dedup_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = DD.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.4, max_df=20)
    return dedup_components(pairs, docs, id_col="doc_id")


# Non-empty lines of a document, whitespace-stripped — shared by the
# Spark and DuckDB sides of q_repetition via the pinned WS class.
_LINES_SQL = (
    "list_filter(list_transform(string_split(text, chr(10)), "
    f"x -> regexp_replace(x, '^{TX.WS_CLASS}+|{TX.WS_CLASS}+$', '', 'g')), x -> x <> '')"
)
_DUP_LINE_SQL = (
    f"CASE WHEN len({_LINES_SQL}) = 0 THEN 0.0 ELSE "
    + TX.portable_round_sql(
        f"(len({_LINES_SQL}) - len(list_distinct({_LINES_SQL})))::DOUBLE / len({_LINES_SQL})", 4
    )
    + " END"
)


@contract_query(
    "q_repetition",
    oracle=(
        "WITH base AS (SELECT doc_id, text, {t} AS tk FROM documents), "
        "bigr AS (SELECT doc_id, unnest([array_to_string(tk[i:i+1], ' ') "
        "  FOR i IN range(1, greatest(len(tk) - 1, 0) + 1)]) AS bg FROM base), "
        "cnt AS (SELECT doc_id, bg, count(*) AS c FROM bigr GROUP BY doc_id, bg), "
        "top AS (SELECT doc_id, max(c) AS topc, sum(c) AS tot FROM cnt GROUP BY doc_id), "
        "lin AS (SELECT doc_id, {dl} AS dup_line_frac FROM base) "
        "SELECT l.doc_id, l.dup_line_frac, "
        "  coalesce({tb}, 0.0) AS top_bigram_frac "
        "FROM lin l LEFT JOIN top ON l.doc_id = top.doc_id"
    ).format(
        t=_DOC_TOKENS_SQL,
        dl=_DUP_LINE_SQL,
        tb=TX.portable_round_sql("topc::DOUBLE / tot", 4),
    ),
    covers="ext-text-analysis (Gopher repetition rules: duplicate lines, dominant bigram)",
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition metrics per document — the Gopher filter dimension
    q_gopher_quality's shape rules don't cover: (a) fraction of
    duplicate non-empty lines (pure expression: split, strip, distinct)
    and (b) the dominant word-bigram's share of all bigrams (mode via
    explode + two grouped aggs, both partitioned by doc_id — the same
    shuffle shape as TF-IDF, linear in corpus size; no per-row
    quadratic HOF scan). Boilerplate/template spam scores high on both."""
    docs = _docs(spark, sf_dir)
    strip_re = f"^{TX.WS_CLASS}+|{TX.WS_CLASS}+$"
    lines = F.filter(
        F.transform(F.split(F.col("text"), "\n", -1), lambda x: F.regexp_replace(x, strip_re, "")),
        lambda x: x != "",
    )
    n_lines = F.size(lines)
    dup_line_frac = F.when(n_lines == 0, F.lit(0.0)).otherwise(
        TX.portable_round(
            (n_lines - F.size(F.array_distinct(lines))).cast("double") / n_lines, 4
        )
    )
    line_metrics = docs.select("doc_id", dup_line_frac.alias("dup_line_frac"))

    bigrams = DD.word_ngrams(F.col("text"), 2)
    counts = (
        docs.select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id", "bg")
        .count()
    )
    top = counts.groupBy("doc_id").agg(
        F.max("count").alias("topc"), F.sum("count").alias("tot")
    )
    return line_metrics.join(top, "doc_id", "left").select(
        "doc_id",
        "dup_line_frac",
        F.coalesce(
            TX.portable_round(F.col("topc").cast("double") / F.col("tot"), 4), F.lit(0.0)
        ).alias("top_bigram_frac"),
    )


@contract_query(
    "q_collocations",
    oracle=(
        "WITH base AS (SELECT doc_id, {t} AS tk FROM documents), "
        "uni AS (SELECT unnest(tk) AS w FROM base), "
        "ucnt AS (SELECT w, count(*) AS c FROM uni GROUP BY w), "
        "tot AS (SELECT sum(c)::DOUBLE AS n_uni FROM ucnt), "
        "bi AS (SELECT unnest([array_to_string(tk[i:i+1], ' ') "
        "  FOR i IN range(1, greatest(len(tk) - 1, 0) + 1)]) AS bg FROM base), "
        "bcnt AS (SELECT bg, count(*) AS cb FROM bi GROUP BY bg), "
        "btot AS (SELECT sum(cb)::DOUBLE AS n_bi FROM bcnt), "
        "scored AS (SELECT bg, cb, "
        "  {pmi} AS pmi "
        "  FROM bcnt "
        "  JOIN ucnt u1 ON u1.w = string_split(bcnt.bg, ' ')[1] "
        "  JOIN ucnt u2 ON u2.w = string_split(bcnt.bg, ' ')[2] "
        "  CROSS JOIN btot CROSS JOIN tot "
        "  WHERE cb >= 5 AND len(string_split(bg, ' ')) = 2) "
        "SELECT bg AS bigram, cb::BIGINT AS n, pmi FROM scored "
        "ORDER BY pmi DESC, bg ASC LIMIT 20"
    ).format(
        t=_DOC_TOKENS_SQL,
        pmi=TX.portable_round_sql(
            "ln((cb / n_bi) / ((u1.c / n_uni) * (u2.c / n_uni)))", 6
        ),
    ),
    covers="ext-text-analysis (corpus collocations: PMI-ranked word pairs)",
)
def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level collocation mining: top-20 word bigrams by pointwise
    mutual information (min count 5). PMI = ln(p(xy)/(p(x)p(y))) over
    unigram/bigram token universes. Corpus totals join in as broadcast
    scalars (never driver-side counts); the unigram table joins twice
    (left word, right word) — both sides shuffle on the word, the
    standard co-occurrence shape. Bigrams containing internal spaces
    from multi-space runs are excluded on both engines by the
    2-token-split guard. The scan fans out before the bigram zip
    assembly (CPU-bound per row; measured 1.18s -> 1.03s at sf0.1
    single-file) — the unigram branch pays a small widening tax but
    the bigram branch dominates."""
    docs = _docs(spark, sf_dir)
    toks = TX.tokens(F.col("text"))
    bigrams = DD.word_ngrams(F.col("text"), 2)
    # unigram table: THREE consumers (corpus total + both join sides);
    # bigram table: two (total + candidates). Persist both so each
    # corpus explode+aggregate runs once per run instead of per
    # consumer (round 11, post-shuffle-writer-fix persist calculus) —
    # they are vocabulary-sized count tables, the artifacts a
    # collocation pass materializes anyway.
    uni = (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .persist()
    )
    n_uni = uni.agg(F.sum("c").cast("double").alias("n_uni"))
    bcnt = (
        docs.select(F.explode(bigrams).alias("bg"))
        .groupBy("bg")
        .agg(F.count("*").alias("cb"))
        .persist()
    )
    n_bi_tot = bcnt.agg(F.sum("cb").cast("double").alias("n_bi"))
    parts = F.split(F.col("bg"), " ", -1)
    cand = (
        bcnt.filter(F.col("cb") >= 5)
        .withColumn("w1", parts.getItem(0))
        .withColumn("w2", parts.getItem(1))
        .filter(F.size(parts) == 2)
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    scored = (
        cand.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_bi_tot))
        .crossJoin(F.broadcast(n_uni))
        .select(
            F.col("bg").alias("bigram"),
            F.col("cb").cast("bigint").alias("n"),
            TX.portable_round(
                F.log(
                    (F.col("cb") / F.col("n_bi"))
                    / ((F.col("c1") / F.col("n_uni")) * (F.col("c2") / F.col("n_uni")))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), F.col("bigram").asc()).limit(20)


_FH_DIM = 16  # md5 first hex digit → 16 buckets, portable bit-for-bit


@contract_query(
    "q_feature_hash",
    oracle=(
        # coalesce to []: a NULL text must produce the all-zeros vector
        # on BOTH engines (Spark's explode_outer path yields zero
        # counts; bare list_filter(NULL) would render [null,null,...])
        "SELECT doc_id, to_json([len(list_filter(coalesce({t}, []), "
        "  tok -> (instr('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) = i)) "
        f"  FOR i IN range(0, {_FH_DIM})])::VARCHAR AS features_json "
        "FROM documents"
    ).format(t=_DOC_TOKENS_SQL),
    covers="ext-text-analysis → ext-sim-topk bridge (feature hashing: text → vector)",
)
def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing-trick featurizer: each token hashes to one of 16
    buckets (first md5 hex digit — the same engine-portable
    construction as hash_sample/SimHash), per-doc bucket counts form a
    fixed-width vector ready for the similarity tier (knn_join /
    LSH / IVF all take array columns); the contract output serializes
    the vector to JSON so the driver's sort+hash compare stays
    row-hashable (same convention as q_json_ser).

    Shape: explode → ONE grouped aggregate with 16 conditional sums
    (shuffle carries (doc_id, bucket) pairs); the vector assembles as
    an array expression in the final projection. Dimension scales by
    composing md5 hex digits (16^k buckets), the aggregate stays one
    pass."""
    tok = _docs(spark, sf_dir, fan=False).select(
        "doc_id", F.explode_outer(TX.tokens(F.col("text"))).alias("tok")
    )
    bucketed = tok.select(
        "doc_id",
        F.when(F.col("tok").isNull(), F.lit(-1))
        .otherwise(DD.md5_int(F.col("tok"), 1))
        .alias("b"),
    )
    return (
        bucketed.groupBy("doc_id")
        .agg(
            F.array(
                *[
                    F.sum(F.when(F.col("b") == i, F.lit(1)).otherwise(F.lit(0))).alias(f"f{i}")
                    for i in range(_FH_DIM)
                ]
            ).alias("features")
        )
        .select("doc_id", F.to_json(F.col("features")).alias("features_json"))
    )


_CHUNK, _OVERLAP = 40, 10
_STEP = _CHUNK - _OVERLAP

_CHUNK_ORACLE = (
    "WITH base AS (SELECT doc_id, " + _DOC_TOKENS_SQL + " AS tk FROM documents), "
    "sized AS (SELECT doc_id, tk, CASE WHEN coalesce(len(tk), 0) = 0 THEN 0 ELSE "
    "  greatest(1, (len(tk) - " + str(_OVERLAP) + " + " + str(_STEP) + " - 1) // "
    + str(_STEP) + ") END AS n_chunks FROM base) "
    "SELECT doc_id, u.chunk_id, u.chunk FROM ("
    "  SELECT doc_id, unnest([{'chunk_id': i::BIGINT, "
    "    'chunk': array_to_string(tk[(i * " + str(_STEP) + " + 1):(i * " + str(_STEP)
    + " + " + str(_CHUNK) + ")], ' ')} "
    "    FOR i IN range(0, n_chunks::INT)]) AS u FROM sized)"
)


@contract_query(
    "q_chunking",
    oracle=_CHUNK_ORACLE,
    covers="ext-text-analysis (context-window chunking: token windows with overlap)",
)
def q_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (window 40, overlap 10) — the packing step
    every pretraining/RAG ingest runs before embedding or tokenizing to
    a context limit. The token array materializes as a COLUMN first
    (one tokenize per doc), then the chunk lambda only slices that
    bound reference — inlining the tokenize chain into the HOF would
    re-run it once per chunk (the word_shingles lesson). Chunk count
    derives arithmetically; empty docs produce zero chunks."""
    docs = _docs(spark, sf_dir)
    with_tk = docs.select("doc_id", TX.tokens(F.col("text")).alias("tk"))
    # coalesce(size, 0): size(NULL) is NULL, and greatest(1, NULL)
    # returns 1 on both engines — a NULL-text doc would emit a spurious
    # chunk ('' on Spark, NULL in the oracle) instead of zero chunks
    n = F.coalesce(F.size(F.col("tk")), F.lit(0))
    n_chunks = F.when(n == 0, F.lit(0)).otherwise(
        F.greatest(F.lit(1), F.expr(f"(size(tk) - {_OVERLAP} + {_STEP} - 1) div {_STEP}"))
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("bigint").alias("chunk_id"),
            F.concat_ws(" ", F.slice(F.col("tk"), i * _STEP + 1, _CHUNK)).alias("chunk"),
        ),
    )
    return (
        with_tk.withColumn("n_chunks", n_chunks)
        .filter(F.col("n_chunks") > 0)
        .select("doc_id", F.explode(chunks).alias("u"))
        .select("doc_id", F.col("u.chunk_id").alias("chunk_id"), F.col("u.chunk").alias("chunk"))
    )


# ---------------------------------------------------------------------------
# q_tok_fertility — tokenizer fertility diagnostics per language
# ---------------------------------------------------------------------------


@contract_query(
    "q_tok_fertility",
    oracle=(
        "WITH per AS (SELECT lang, {wc} AS n_words, {bpe} AS n_bpe, "
        "  length(text)::BIGINT AS n_chars FROM documents) "
        "SELECT lang, count(*)::BIGINT AS n_docs, "
        "  SUM(n_words)::BIGINT AS n_words, SUM(n_bpe)::BIGINT AS n_bpe, "
        "  SUM(n_chars)::BIGINT AS n_chars, "
        "  {fert} AS fertility, {cpt} AS chars_per_token "
        "FROM per GROUP BY lang"
    ).format(
        wc=TX.word_count_sql("text"),
        bpe=TX.bpe_token_count_sql("text"),
        fert="CASE WHEN SUM(n_words) > 0 THEN "
        + TX.portable_round_sql("SUM(n_bpe)::DOUBLE / SUM(n_words)", 6)
        + " END",
        cpt="CASE WHEN SUM(n_bpe) > 0 THEN "
        + TX.portable_round_sql("SUM(n_chars)::DOUBLE / SUM(n_bpe)", 6)
        + " END",
    ),
    covers="ext-text-analysis (tokenizer fertility: subword/word and chars/subword per language)",
)
def q_tok_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility diagnostics per language: subword-per-word
    (fertility) and chars-per-subword — the report that flags languages
    a tokenizer serves badly (high fertility inflates their effective
    sequence length and training cost; the standard multilingual
    tokenizer-budget check).

    Scale shape: three narrow per-row counters (whitespace tokens,
    BPE-ish regex tokens, char length — no explode anywhere), then one
    partial→final aggregate on lang (a handful of groups). The scan
    fans out first: the BPE regex count is the CPU-bound projection
    class from the fan rule. Ratios divide the already-aggregated
    bigint sums (exact, order-independent), rounded portably."""
    docs = fan_out(load_table(spark, sf_dir, "documents").select("lang", "text"))
    per = docs.select(
        "lang",
        TX.word_count(F.col("text")).alias("n_words"),
        TX.bpe_token_count(F.col("text")).alias("n_bpe"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    return per.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.sum("n_bpe").cast("bigint").alias("n_bpe"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        # a language slice of empty/NULL docs has no defined ratios:
        # NULL, not an ANSI divide-by-zero abort
        F.when(
            F.sum("n_words") > 0,
            TX.portable_round(F.sum("n_bpe").cast("double") / F.sum("n_words"), 6),
        ).alias("fertility"),
        F.when(
            F.sum("n_bpe") > 0,
            TX.portable_round(F.sum("n_chars").cast("double") / F.sum("n_bpe"), 6),
        ).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# q_bm25 — BM25 retrieval scoring against a fixed query
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "join", "stream")
_BM25_K = 20  # result size
# k1=1.2, b=0.75 folded into integers: ratio = 2.2·tf / (tf + 0.3 +
# 0.9·dl·N/T) == 22·tf·T / (10·tf·T + 3·T + 9·dl·N) after clearing
# denominators — every operand a bigint.

# ONE oracle text for every BM25 form (full-scan q_bm25, the
# persisted-index q_bm25_indexed, and — per query — the batch serve
# q_bm25_batch): the index/batching are execution strategies, not
# semantics changes, so every hash-checked form instantiates the same
# template and they can never drift apart (the _minhash_sql_fragments
# rule).


def _bm25_oracle_select(terms: tuple[str, ...], k: int) -> str:
    return (
        "WITH toks AS (SELECT doc_id, unnest({tk}) AS tok FROM documents), "
        "dl AS (SELECT doc_id, {wc} AS dl FROM documents), "
        "scal AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS t FROM dl), "
        "tf AS (SELECT doc_id, tok, count(*)::BIGINT AS tf FROM toks "
        "  WHERE tok IN ({terms}) GROUP BY doc_id, tok), "
        "df AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok), "
        "sc AS (SELECT tf.doc_id, "
        + TX.nano_int_sql(
            "(ln(2 * (scal.n - df.df) + 1) - ln(2 * df.df + 1)) "
            "* ((22 * tf.tf * scal.t) / (10 * tf.tf * scal.t + 3 * scal.t + 9 * dl.dl * scal.n))"
        )
        + " AS sc_n "
        "  FROM tf JOIN df ON tf.tok = df.tok JOIN dl ON tf.doc_id = dl.doc_id "
        "  CROSS JOIN scal), "
        "agg AS (SELECT doc_id, count(*)::BIGINT AS n_terms, SUM(sc_n)::BIGINT AS score_n "
        "  FROM sc GROUP BY doc_id) "
        "SELECT doc_id, n_terms, "
        "  {rnd} AS score FROM agg ORDER BY score DESC, doc_id ASC LIMIT {k}"
    ).format(
        tk=_DOC_TOKENS_SQL,
        wc=TX.word_count_sql("text"),
        terms=", ".join(f"'{t}'" for t in terms),
        rnd=TX.portable_round_sql("score_n / 1000000000.0", 6),
        k=k,
    )


_BM25_ORACLE = _bm25_oracle_select(_BM25_TERMS, _BM25_K)


@contract_query(
    "q_bm25",
    oracle=_BM25_ORACLE,
    covers="ext-sim-topk / ext-text-analysis (BM25 lexical retrieval top-k)",
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by BM25 (k1=1.2, b=0.75) for a fixed query —
    the lexical-retrieval verb of a RAG/dedup pipeline, complementing
    the embedding k-NN family.

    Exactness: idf rewrites as ``ln(2(N−df)+1) − ln(2df+1)`` (logs of
    integer-valued doubles only) and the tf saturation clears its
    denominators to ``22·tf·T / (10·tf·T + 3T + 9·dl·N)`` — one double
    division of exact bigints; per-(doc,term) scores integerize to
    nano-units before the per-doc sum, so ordering and the hash are
    partition-independent. Bound: 22·tf·T < 2^53 (T ≲ 2e13 tokens for
    the usual tf) — shard the corpus beyond that.

    Scale shape: the term filter is an ``IN`` literal on the exploded
    stream (no join — candidate rows collapse immediately to the
    (doc, term) tf aggregate, which only contains docs matching ≥1
    term); df is a 3-row aggregate OF that frame; doc length joins on
    doc_id over the matched subset only; N/T ride in as a broadcast
    scalar; final top-k is TakeOrderedAndProject with doc_id tiebreak.

    The contract output deliberately EXCLUDES the raw nano-nat
    ``score_n`` (and orders on the 6-dp rounded score instead): ln()
    is 1-ulp divergent cross-engine on ~1% of large integer args, so a
    raw term-sum column can flake the driver hash at a near-boundary
    term; only the 1e9-divided, 6-dp-rounded score is hash-safe
    (the engine-wide ln-family rule)."""
    docs = _docs(spark, sf_dir, fan=False)
    toks = docs.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok"))
    dl = docs.select("doc_id", TX.word_count(F.col("text")).alias("dl"))
    scal = dl.agg(
        F.count("*").cast("bigint").alias("n"), F.sum("dl").cast("bigint").alias("t")
    )
    tf = (
        toks.filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    df_ = tf.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))
    sc = (
        tf.join(F.broadcast(df_), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(scal))
        .select(
            "doc_id",
            TX.nano_int(
                (
                    F.log(2 * (F.col("n") - F.col("df")) + 1)
                    - F.log(2 * F.col("df") + 1)
                )
                * (
                    (22 * F.col("tf") * F.col("t"))
                    / (10 * F.col("tf") * F.col("t") + 3 * F.col("t") + 9 * F.col("dl") * F.col("n"))
                )
            ).alias("sc_n"),
        )
    )
    agg = sc.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.sum("sc_n").cast("bigint").alias("score_n"),
    )
    out = agg.select(
        "doc_id",
        "n_terms",
        TX.portable_round(F.col("score_n") / F.lit(1_000_000_000.0), 6).alias("score"),
    )
    return out.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(_BM25_K)


# per-process index memo for q_bm25_indexed (sf_dir -> temp root)
_BM25_INDEX_CACHE: dict[str, str] = {}


@contract_query(
    "q_bm25_indexed",
    oracle=_BM25_ORACLE,
    covers=(
        "ext-sim-topk / ext-text-analysis (BM25 served from the PERSISTED "
        "inverted index — same oracle as q_bm25: the index is an execution "
        "strategy, not a semantics change)"
    ),
)
def q_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_bm25 served from the persisted inverted index as a one-query
    batch (operators/text_index.py::bm25_search_batch, projected back
    to q_bm25's columns in rank order): postings partitioned by
    term-hash bucket, df a SERVE-TIME two-phase aggregate over the
    pruned scan (round 10 — never a stored column, never a window),
    doc-length and corpus-stats side tables — the query-time scan
    carries a ``_bucket IN`` partition filter from a driver-side hash
    of the terms plus the ``tok IN`` row filter, so serving reads
    |query buckets| / n_buckets of the index and never re-tokenizes
    the corpus. The oracle is BYTE-IDENTICAL to q_bm25's (shared
    template): this row hash-checks that the persisted layout +
    pruned serving reproduces the full-scan scores exactly.

    The built index is memoized per (process, sf_dir): the hostile
    sweeps + parity + plan tests invoke this builder ~10×/session, and
    rebuilding (three parquet writes + a per-token window) each time
    both wastes the work and leaks one temp dir per call. Hostile
    corpora live in distinct directories, so sf_dir is a sound key;
    production callers own their index path and lifecycle directly."""
    from tia_data_pipeline_spark.operators.text_index import (
        bm25_search_batch,
        build_text_index,
    )

    tmp = _BM25_INDEX_CACHE.get(sf_dir)
    if tmp is not None and not os.path.isdir(f"{tmp}/tidx"):
        # the memoized index was deleted out from under us — bench.py's
        # per-query temp cleanup rmtrees every registered dir at the end
        # of each measurement (review r9: a second build in the same
        # process, e.g. bench_subset --repeat, served from the dead path)
        tmp = None
    if tmp is None:
        tmp = temp_derivation_dir("graft_tidx_")
        build_text_index(load_table(spark, sf_dir, "documents"), f"{tmp}/tidx")
        _BM25_INDEX_CACHE[sf_dir] = tmp
    query = spark.createDataFrame(
        [(1, list(_BM25_TERMS))], "query_id bigint, terms array<string>"
    )
    return (
        bm25_search_batch(query, f"{tmp}/tidx", k=_BM25_K)
        .orderBy("rnk")
        .select("doc_id", "n_terms", "score")
    )


# the batch serve's fixed query set: the q_bm25 terms plus two more
# shapes (multi-term disjoint, single-term) so the shared scoring core
# is exercised across overlapping bucket/term universes in ONE scan
_BM25_BATCH_QUERIES: dict[int, tuple[str, ...]] = {
    1: _BM25_TERMS,
    2: ("data", "table"),
    3: ("spark",),
}

_BM25_BATCH_ORACLE = " UNION ALL ".join(
    f"SELECT {qid}::BIGINT AS query_id, doc_id, n_terms, score, "
    "(row_number() OVER (ORDER BY score DESC, doc_id ASC))::INT AS rnk "
    f"FROM ({_bm25_oracle_select(terms, _BM25_K)})"
    for qid, terms in _BM25_BATCH_QUERIES.items()
)


@contract_query(
    "q_bm25_batch",
    oracle=_BM25_BATCH_ORACLE,
    covers=(
        "ext-sim-topk / ext-text-analysis (BATCH BM25 serving from the "
        "persisted inverted index — many queries, one pruned scan; each "
        "query's oracle is the same shared q_bm25 template, so the batch "
        "form is pinned as an execution strategy, not a semantics change)"
    ),
)
def q_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A BATCH of BM25 queries served from the persisted inverted
    index in one pass (operators/text_index.py::bm25_search_batch):
    BM25's per-(term, doc) score is query-independent given the corpus
    scalars, so the scoring core runs ONCE over the union of all
    queries' terms (one pruned scan over the union of touched buckets)
    and each query selects its terms via a broadcast (query_id, tok)
    map, aggregates, and rank-limits — a map-side WindowGroupLimit per
    query, the serving shape a retrieval endpoint actually runs at
    scale (queries arrive in batches, not one driver call each). The
    oracle states each query's result with the SAME template as
    q_bm25/q_bm25_indexed, unioned under its query_id."""
    from tia_data_pipeline_spark.operators.text_index import bm25_search_batch

    # reuse q_bm25_indexed's memoized index — same corpus, same layout
    q_bm25_indexed(spark, sf_dir)  # ensures the index exists for sf_dir
    tmp = _BM25_INDEX_CACHE[sf_dir]
    queries = spark.createDataFrame(
        [(qid, list(terms)) for qid, terms in _BM25_BATCH_QUERIES.items()],
        "query_id bigint, terms array<string>",
    )
    return bm25_search_batch(queries, f"{tmp}/tidx", k=_BM25_K)


# ---------------------------------------------------------------------------
# q_dup_graph_degree — degree distribution of the near-dup pair graph
# ---------------------------------------------------------------------------


@contract_query(
    "q_dup_graph_degree",
    oracle=(
        "WITH pairs AS (" + _NGRAM_PAIRS_SQL + "), "
        "ends AS (SELECT id_a AS node FROM pairs "
        "  UNION ALL SELECT id_b AS node FROM pairs), "
        "deg AS (SELECT node, count(*)::BIGINT AS degree FROM ends GROUP BY node) "
        "SELECT degree, count(*)::BIGINT AS n_nodes "
        "FROM deg GROUP BY degree"
    ),
    covers="ext-fuzzy-dedup / graph analytics (degree distribution of the duplicate graph)",
)
def q_dup_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the exact n-gram Jaccard duplicate graph
    (same pair parameters as q_ngram_jaccard) — the dedup-health
    histogram that distinguishes isolated pair dupes (degree 1) from
    template hubs (high degree = one page near-duplicating dozens,
    the signal that a cluster cap or boilerplate strip is needed
    before transitive dedup).

    Scale shape: the pair pipeline is the single-pass inverted index
    (no self-join, pinned by the q_ngram_jaccard family tests); both
    endpoints leave it through ONE explode of a two-element array (no
    double execution of the pair subtree via union), then two
    vocabulary-scale aggregates whose input is |pairs| rows — tiny
    relative to the corpus by construction. Output is |distinct
    degrees| rows of pure bigints; nothing to round."""
    pairs = DD.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), "text", "doc_id", n=3, threshold=0.4, max_df=20
    )
    ends = pairs.select(
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("node")
    )
    deg = ends.groupBy("node").agg(F.count("*").cast("bigint").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").cast("bigint").alias("n_nodes"))


# ---------------------------------------------------------------------------
# q_triangles — triangle census of the near-dup pair graph
# ---------------------------------------------------------------------------


@contract_query(
    "q_triangles",
    oracle=(
        "WITH pairs AS (" + _NGRAM_PAIRS_SQL + "), "
        "e AS (SELECT id_a AS a, id_b AS b FROM pairs), "
        "deg AS (SELECT v, count(*)::BIGINT AS d FROM "
        "  (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY v), "
        "tri AS (SELECT count(*)::BIGINT AS n_triangles FROM e e1 "
        "  JOIN e e2 ON e2.a = e1.b JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b), "
        "s AS (SELECT count(*)::BIGINT AS n_vertices, "
        "  (sum(d) // 2)::BIGINT AS n_edges, "
        "  (sum(d::HUGEINT * (d - 1)) // 2)::BIGINT AS n_wedges FROM deg) "
        "SELECT s.n_edges, s.n_vertices, s.n_wedges, tri.n_triangles, "
        "  CASE WHEN s.n_wedges > 0 THEN "
        f"{TX.portable_round_sql('3 * tri.n_triangles::DOUBLE / s.n_wedges', 6)}"
        "  END AS clustering "
        "FROM tri CROSS JOIN s"
    ),
    covers="ext-fuzzy-dedup / graph analytics (triangle census + global clustering)",
)
def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the exact n-gram Jaccard duplicate graph
    (same pair parameters as q_ngram_jaccard): edge/vertex/wedge
    counts, the triangle count and the global clustering coefficient
    3·triangles/wedges — clustering ≈ 1 means duplicate CLUSTERS are
    near-cliques (transitive dedup keeps one doc per component safely);
    clustering ≈ 0 means chain-shaped similarity where transitive
    closure over-merges (the SimHash-chain failure mode).

    Exactness: every count is a bigint over canonical a<b edges — each
    triangle matches the join pattern (a,b),(b,c),(a,c) exactly once;
    wedges Σd(d−1)/2 promotes per-term to decimal/HUGEINT (hub degrees
    square past 2^62) and the product is even, so //2 is exact. One
    double division at the end, NULL when the graph has no wedge.

    Scale shape: the pair pipeline is the single-pass inverted index
    (no document self-join, pinned by the family tests); the triangle
    join operates on |pairs| rows — tiny relative to the corpus by
    construction, and the canonical a<b orientation means each edge
    list is joined in id order (bounded by the same df-cap that bounds
    the pair count). The edge list persists once (see inline comment),
    so the corpus-sized inverted index runs exactly once; the triangle
    join and the degree census read the cached |pairs| rows."""
    pairs = DD.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), "text", "doc_id", n=3, threshold=0.4, max_df=20
    )
    # The edge list is |pairs|-scale (tiny relative to the corpus by the
    # df-cap) but its producing pipeline is a full corpus pass; persist
    # so the four consumers (three triangle-join scans + the degree
    # explode) hit InMemoryTableScan instead of re-running the
    # inverted index — measured 2.6 s -> 0.98 s at sf0.1. Cache lifecycle: held by the
    # CacheManager until unpersist or session end — the per-process
    # driver/bench sessions discard it at exit (MEMORY_AND_DISK evicts
    # under pressure).
    e = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b")).persist()
    deg = (
        e.select(F.explode(F.array(F.col("a"), F.col("b"))).alias("v"))
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    s = deg.agg(
        F.count("*").cast("bigint").alias("n_vertices"),
        F.expr("cast(sum(d) div 2 as bigint)").alias("n_edges"),
        (F.sum((TX.dec19("d") * TX.dec19("d") - TX.dec19("d")).cast("decimal(38,0)")) / 2)
        .cast("bigint")
        .alias("n_wedges"),
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )
    return (
        tri.crossJoin(F.broadcast(s))
        .select(
            "n_edges",
            "n_vertices",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                TX.portable_round(
                    3 * F.col("n_triangles").cast("double") / F.col("n_wedges"), 6
                ),
            ).alias("clustering"),
        )
    )


# ---------------------------------------------------------------------------
# q_quality_linear — linear classifier inference for document quality
# ---------------------------------------------------------------------------

# Fixed bag-of-words weight table in INTEGER micro-units (the shipped
# artifact of a fasttext-style quality classifier: a linear model over
# token counts). Positive: function words that mark natural prose;
# negative: promo/boilerplate markers. The weights are pinned literals
# so inference is pure integer arithmetic — hash-stable with no
# exp/sigmoid whose cross-engine 1-ulp wobble could flip a score.
_QL_BIAS = -250_000
_QL_PER_TOKEN = 1_500  # length prior per token
_QL_WEIGHTS = [
    ("the", 90_000), ("and", 70_000), ("of", 60_000), ("to", 50_000),
    ("in", 45_000), ("is", 40_000), ("that", 35_000), ("with", 30_000),
    ("click", -220_000), ("subscribe", -240_000), ("buy", -180_000),
    ("free", -160_000), ("offer", -150_000), ("www", -200_000),
    ("http", -120_000), ("cookie", -130_000), ("login", -110_000),
    ("copyright", -90_000),
]


@contract_query(
    "q_quality_linear",
    oracle=(
        "WITH w (token, wt) AS (VALUES "
        + ", ".join(f"('{t}', {w}::BIGINT)" for t, w in _QL_WEIGHTS)
        + "), "
        f"tok AS (SELECT doc_id, unnest({_DOC_TOKENS_SQL}) AS token FROM documents), "
        "s AS (SELECT tok.doc_id, count(*)::BIGINT AS n_tokens, "
        "  coalesce(sum(w.wt), 0)::BIGINT AS w_sum "
        "  FROM tok LEFT JOIN w ON w.token = tok.token GROUP BY tok.doc_id) "
        f"SELECT doc_id, n_tokens, "
        f"  ({_QL_BIAS} + {_QL_PER_TOKEN} * n_tokens + w_sum)::BIGINT AS logit_micro, "
        f"  CASE WHEN {_QL_BIAS} + {_QL_PER_TOKEN} * n_tokens + w_sum > 0 "
        "    THEN 'keep' ELSE 'drop' END AS label "
        "FROM s"
    ),
    covers="ext-text-analysis (linear classifier inference: fasttext-style quality filter)",
)
def q_quality_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier INFERENCE over the corpus: a fasttext-style
    linear model (bag-of-words weights + length prior + bias, the
    shipped artifact of a trained quality filter) scored per document
    with a keep/drop decision — the model-based stage that follows the
    heuristic tiers (q_gopher_quality, q_quality_score) in a real
    curation pipeline.

    Exactness: weights are pinned INTEGER micro-units, so the logit is
    exact bigint arithmetic end to end — no exp/sigmoid (1-ulp
    divergent cross-engine) ever runs; the keep/drop threshold
    compares integers. Documents with NULL/empty text produce no token
    rows and drop out identically on both engines (unnest(NULL) ≡
    explode(NULL)).

    Scale shape: one token explode feeding a map-side-combined
    (doc_id) aggregate (the bare-token rule: no fan_out — the
    aggregate's exchange already parallelizes); the 18-row weight
    table joins as a BROADCAST onto the exploded stream before the
    aggregate, so weighting adds zero shuffles. At cluster scale the
    weight table is the model artifact shipped to every executor —
    exactly how a linear scorer deploys."""
    w = spark.createDataFrame(_QL_WEIGHTS, "token string, wt bigint")
    tok = _docs(spark, sf_dir, fan=False).select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("token")
    )
    s = (
        tok.join(F.broadcast(w), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.coalesce(F.sum("wt"), F.lit(0)).cast("bigint").alias("w_sum"),
        )
    )
    logit = F.lit(_QL_BIAS) + F.lit(_QL_PER_TOKEN) * F.col("n_tokens") + F.col("w_sum")
    return s.select(
        "doc_id",
        "n_tokens",
        logit.cast("bigint").alias("logit_micro"),
        F.when(logit > 0, "keep").otherwise("drop").alias("label"),
    )


# ---------------------------------------------------------------------------
# q_source_overlap — pairwise vocabulary Jaccard across document sources
# ---------------------------------------------------------------------------


@contract_query(
    "q_source_overlap",
    oracle=(
        "WITH v AS (SELECT DISTINCT source, tok FROM "
        "  (SELECT source, unnest({t}) AS tok FROM documents "
        "   WHERE text IS NOT NULL AND source IS NOT NULL) u), "
        "per AS (SELECT source, count(*)::BIGINT AS vocab FROM v GROUP BY source), "
        "it AS (SELECT x.source AS src_a, y.source AS src_b, "
        "  count(*)::BIGINT AS inter FROM v x JOIN v y "
        "  ON x.tok = y.tok AND x.source < y.source "
        "  GROUP BY x.source, y.source) "
        "SELECT a.source AS src_a, b.source AS src_b, "
        "  a.vocab AS va, b.vocab AS vb, "
        "  coalesce(it.inter, 0)::BIGINT AS inter, "
        "  {j} AS jaccard "
        "FROM per a JOIN per b ON a.source < b.source "
        "LEFT JOIN it ON it.src_a = a.source AND it.src_b = b.source"
    ).format(
        t=_DOC_TOKENS_SQL,
        j=TX.portable_round_sql(
            "coalesce(it.inter, 0)::DOUBLE / (a.vocab + b.vocab - coalesce(it.inter, 0))",
            6,
        ),
    ),
    covers="ext-text-analysis (extension: cross-source vocabulary overlap matrix)",
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between document sources — the
    corpus-mixture diagnostic that tells a curation pipeline which
    sources are near-interchangeable (high overlap → dedup across
    them matters) and which contribute unique vocabulary. The FULL
    upper-triangle matrix is emitted, including zero-overlap pairs.

    Exactness: vocabularies are DISTINCT (source, token) sets under
    the pinned CPython-split tokenizer; sizes and intersections are
    exact bigints; Jaccard is one double division whose denominator
    |A∪B| = va + vb − inter ≥ max(va, vb) ≥ 1 because a source only
    appears with a nonempty vocabulary. String pair ordering is
    binary (src_a < src_b) on both engines.

    Scale shape: the corpus collapses to the distinct (source, token)
    vocabulary set once, then feeds three consumers (per-source
    sizes, both sides of the per-token pair join — AQE reuses the
    exchange); per-token pair expansion is bounded by #sources²
    (beyond a handful of sources, swap in the MinHash estimator from
    ``operators.dedup``); the final joins run on the |sources|² grid —
    the intersection table is broadcast explicitly (≤ #sources² rows
    by construction), so no stage after the vocabulary aggregate
    shuffles anything corpus-sized."""
    v = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & F.col("source").isNotNull())
        .select("source", F.explode(TX.tokens(F.col("text"))).alias("tok"))
        .distinct()
    )
    per = v.groupBy("source").agg(F.count("*").cast("bigint").alias("vocab"))
    x, y = v.alias("x"), v.alias("y")
    it = (
        x.join(
            y,
            (F.col("x.tok") == F.col("y.tok"))
            & (F.col("x.source") < F.col("y.source")),
        )
        .groupBy(
            F.col("x.source").alias("isrc_a"), F.col("y.source").alias("isrc_b")
        )
        .agg(F.count("*").cast("bigint").alias("inter"))
    )
    pa, pb = per.alias("a"), per.alias("b")
    pairs = pa.join(pb, F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("src_a"),
        F.col("b.source").alias("src_b"),
        F.col("a.vocab").alias("va"),
        F.col("b.vocab").alias("vb"),
    )
    out = pairs.join(
        F.broadcast(it),
        (pairs["src_a"] == it["isrc_a"]) & (pairs["src_b"] == it["isrc_b"]),
        "left",
    )
    inter = F.coalesce(F.col("inter"), F.lit(0)).cast("bigint")
    return out.select(
        "src_a",
        "src_b",
        "va",
        "vb",
        inter.alias("inter"),
        TX.portable_round(
            inter.cast("double") / (F.col("va") + F.col("vb") - inter), 6
        ).alias("jaccard"),
    )
