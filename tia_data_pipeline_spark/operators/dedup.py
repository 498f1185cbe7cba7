"""Deduplication operators (exact + near-duplicate).

Extension tier (SURVEY §2.4): the reference's PK conflict-skip
(``posts_pipeline.py:57``) generalized to content-level dedup for
LLM-training pipelines. Everything is expression-level Spark — hashing,
shingling, MinHash, SimHash all run inside whole-stage codegen; no
Python UDFs.

One hash path: every sketch hash (MinHash shingles, char k-mers,
SimHash bits) is md5-digit, so the DuckDB oracles reproduce it value
for value. xxhash64 stays only where no value reaches an oracle: the
exact-overlap shingle ids (a recorded exception, see
:func:`_shingle_overlap_frames`) and the MinHash index's ``bshard``.

Scale posture (100 TB):
- exact dedup shuffles 32-byte digests, never documents;
- MinHash-LSH bounds candidate pairs via banding, and a document-
  frequency cap keeps degenerate shingles from quadratic blowup;
- signatures are fixed-width arrays (k·8 bytes/doc), so the LSH
  self-join shuffles signatures, not text.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tia_data_pipeline_spark.functions.text import portable_round, tokens
from tia_data_pipeline_spark.operators.index import MINHASH, SIMHASH, write_index_frame
from tia_data_pipeline_spark.operators.scale import adaptive_index_shards, fan_out

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def content_hash(col: Column) -> Column:
    """sha256 hex digest of a text column (matches DuckDB ``sha256``)."""
    return F.sha2(col, 256)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One survivor per distinct content hash (lowest id wins).

    Group-by on the digest: map-side partial min, 32-byte shuffle keys.

    NULL-text semantics (stated, identical to the SQL oracle): sha2 of
    a NULL text is NULL, and ALL NULL-hash rows group together — every
    document without text collapses to the single lowest-id survivor.
    Callers that must preserve NULL-text rows as distinct documents
    filter them out before deduping and union them back.
    """
    return (
        df.select(content_hash(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup detection
# ---------------------------------------------------------------------------

# Deterministic hash family h_i(x) = (a_i * x + b_i) mod P over
# x = md5_int(shingle) < 2^28. a_i < 2^31 keeps products < 2^59 (no
# ANSI overflow); P is the Mersenne prime 2^31 - 1. P must sit far
# below a_i * x: with P = 2^61 - 1 no product ever wrapped, every h_i
# was increasing in x, and all k components took the same shingle's
# value — the estimate could only read 0 or 1.
_MINHASH_P = (1 << 31) - 1
_X_MOD = 1 << 31


def _hash_family(k: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, _X_MOD), rng.randrange(0, _X_MOD)) for _ in range(k)]


def md5_int_sql(s: str, digits: int = 7) -> str:
    """SQL fragment valid in BOTH Spark SQL and DuckDB: the first
    ``digits`` hex digits of md5(s) as a BIGINT (< 16^digits = 2^28 at
    the default) — the engine-portable shingle and k-mer hash (same
    instr-digit construction as the SimHash bits below). 7 digits keeps
    a*x < 2^31 * 2^28 = 2^59, clear of ANSI-mode bigint overflow in the
    affine hash family.

    The DuckDB oracles spell the hash with this fragment; the Spark
    plans use its column twin :func:`md5_int` (one ``conv`` per row
    instead of one ``instr`` chain per digit), fuzz-pinned equal."""
    terms = []
    for i in range(digits):
        d = f"(instr('0123456789abcdef', substr(md5({s}), {i + 1}, 1)) - 1)"
        terms.append(f"CAST({d} AS BIGINT) * {16 ** (digits - 1 - i)}")
    return "(" + " + ".join(terms) + ")"


def _md5_hex_int(col: Column, first: int, digits: int) -> Column:
    """Hex digits ``first .. first+digits-1`` (1-based) of md5(col) as a
    BIGINT: one md5, one substring, one ``conv`` per row."""
    return F.conv(F.substring(F.md5(col), first, digits), 16, 10).cast("bigint")


def md5_int(col: Column, digits: int = 7) -> Column:
    """Spark column twin of :func:`md5_int_sql`: the first ``digits``
    hex digits of md5(col) as a BIGINT, parsed by one ``conv`` rather
    than one ``instr`` lookup per digit. NULL in, NULL out, like the
    SQL form. At most 15 digits: 16 can pass 2^63 - 1, and ``conv``
    raises on that under ANSI mode (:func:`md5_words` chunks wider
    hashes)."""
    if not 1 <= digits <= 15:
        raise ValueError("digits must be in [1, 15] (a BIGINT holds 15 hex digits)")
    return _md5_hex_int(col, 1, digits)


def word_ngrams(col: Column, n: int) -> Column:
    """Word n-grams of a text column IN ORDER, repeats kept (JVM-side:
    split → zip n shifted slices → concat). The frequency-counting
    queries (bigram LM, collocations, repetition rules) need every
    occurrence; the set-semantics dedup family wraps this in
    :func:`word_shingles` for the distinct form.

    Construction note: the obvious ``transform(sequence(1, m),
    i -> concat(element_at(toks, i), …))`` is ~15× slower — higher-
    order functions don't codegen, and any non-lambda subexpression in
    the lambda body (here the whole tokenize chain) is RE-EVALUATED per
    element. ``arrays_zip`` of n shifted slices evaluates the token
    array O(n) times per row instead of O(tokens·n), and the lambda
    touches only its own variable. Short docs (< n tokens) return [].
    """
    toks = tokens(col)
    n_sh = F.size(toks) - (n - 1)
    zipped = F.arrays_zip(*[F.slice(toks, j + 1, n_sh) for j in range(n)])
    return F.when(n_sh < 1, F.array().cast("array<string>")).otherwise(
        F.transform(zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)]))
    )


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles — :func:`word_ngrams` with set
    semantics, the dedup-family form (per-doc distinct makes the
    shingle→doc inverted index count document frequency)."""
    return F.array_distinct(word_ngrams(col, n))


def bucket_pairs(mem: Column, *, order_key: str | None = None) -> Column:
    """All unordered member pairs of a ``collect_list`` bucket column,
    expanded IN-EXPRESSION — the shared candidate-generation idiom of
    the whole dedup/similarity family (MinHash banding, n-gram
    inverted index, substring k-mers, embedding buckets, edit-distance
    verify). Grouping members and expanding pairs inside the array
    avoids the self-join that would re-execute the bucket's entire
    upstream lineage once per side; callers cap ``size(mem)`` FIRST —
    a bucket of b members expands to b·(b-1)/2 structs in one row.

    ``order_key=None``: members are scalars; pairs come back as
    ``struct(id_a, id_b)`` with ``id_a <= id_b`` via least/greatest.
    ``order_key='f'``: members are structs; pairs come back as
    ``struct(a, b)`` (full member structs) ordered by field ``f``."""
    if order_key is None:
        inner = lambda x, y: F.struct(  # noqa: E731
            F.least(x, y).alias("id_a"), F.greatest(x, y).alias("id_b")
        )
    else:
        inner = lambda x, y: F.when(  # noqa: E731
            x[order_key] < y[order_key], F.struct(x.alias("a"), y.alias("b"))
        ).otherwise(F.struct(y.alias("a"), x.alias("b")))
    return F.flatten(
        F.transform(
            mem,
            lambda x, i: F.transform(
                F.slice(mem, i + 2, F.size(mem)), lambda y: inner(x, y)
            ),
        )
    )


def capped_bucket_members(
    keyed: DataFrame,
    keys: str | list[str],
    payload: Column | str,
    *,
    max_size: int,
    min_size: int = 2,
    distinct: bool = False,
    mem_col: str = "mem",
) -> DataFrame:
    """Bucket-member lists with the size cap applied BEFORE any list is
    materialized — the two-pass form of ``groupBy(key).agg(
    collect_list(payload)).filter(size(mem) <= cap)``.

    The one-pass form is a 100 TB scale-killer: ``collect_list``'s
    aggregation buffer is an in-memory array that is NOT spillable, so
    a corpus-stop shingle / million-copy boilerplate bucket
    materializes millions of elements in a single task *before* the
    size filter drops it — straggler at best, executor OOM at worst.
    Two passes instead:

    1. ``groupBy(keys).count()`` — 8-byte keys, map-side partial
       combine, so even a corpus-stop key aggregates to one count per
       input partition (no skew reaches the reduce side);
    2. left-semi join the surviving keys (``min_size <= n <=
       max_size``) back, THEN collect the member lists — a hot bucket's
       rows never enter a list buffer anywhere in the plan.

    Cost: the keyed lineage executes twice (count pass + collect pass)
    and one extra key-only shuffle. Catalyst prunes the count pass to
    the key columns, so heavy payloads (signatures, vectors) shuffle
    once, exactly as before. Callers whose lineage is CPU-expensive
    (simhash/minhash aggregates) pass the narrow *keyed* frame, not the
    raw corpus, so the recomputed leg is the cheap tail of the plan.

    ``distinct=True`` collects with set semantics (``collect_set``) and
    sizes buckets by ``countDistinct(payload)`` to match.
    """
    key_cols = [keys] if isinstance(keys, str) else list(keys)
    payload_col = F.col(payload) if isinstance(payload, str) else payload
    size_agg = (
        F.countDistinct(payload_col) if distinct else F.count(F.lit(1))
    ).alias("_bsz")
    kept = (
        keyed.groupBy(*key_cols)
        .agg(size_agg)
        .filter((F.col("_bsz") >= min_size) & (F.col("_bsz") <= max_size))
        .select(*key_cols)
    )
    agg = F.collect_set(payload_col) if distinct else F.collect_list(payload_col)
    return (
        keyed.join(kept, on=key_cols, how="left_semi")
        .groupBy(*key_cols)
        .agg(agg.alias(mem_col))
    )


def _band_width(n: int, bands: int, what: str) -> int:
    """Rows per band when ``n`` signature positions split into ``bands``
    equal bands. A remainder raises: r = n // bands would silently band
    only bands·r of the n positions and lose recall with no error (a
    check ``python -O`` cannot strip)."""
    if bands < 1 or n % bands:
        raise ValueError(f"{what}={n} does not divide into {bands} equal bands")
    return n // bands


def minhash_signature_frame(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 32,
    seed: int = 42,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig) frame: shingle once, explode, then ONE grouped
    aggregate with k cheap `min((a·x+b) mod P)` aggregations — the
    shingle pipeline runs once per document instead of k times, and the
    whole thing stays in whole-stage codegen with map-side partial
    mins. Docs with zero shingles drop out (explode of empty array).

    The shingle hash is md5-digit (:func:`md5_int`, twin of
    :func:`md5_int_sql`): every value is reproducible in DuckDB, so the
    whole MinHash estimate is hash-checkable cross-engine."""
    # NULL ids are excluded at the source: groupBy would otherwise
    # MERGE every NULL-id document's shingles into one chimeric
    # signature, and the in-expression pair ordering downstream would
    # emit (id, NULL) pairs that every oracle's a.id < b.id drops
    src = fan_out(
        df.filter(F.col(id_col).isNotNull()).select(
            F.col(id_col), F.col(text_col)
        )
    )
    ex = src.select(
        F.col(id_col).alias("_id"),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("_sh"),
    ).select("_id", md5_int(F.col("_sh")).alias("_x"))
    aggs = [
        F.min((F.lit(a) * F.col("_x") + F.lit(b)) % F.lit(_MINHASH_P)).alias(f"_m{i}")
        for i, (a, b) in enumerate(_hash_family(k, seed))
    ]
    return ex.groupBy("_id").agg(*aggs).select(
        "_id", F.array(*[F.col(f"_m{i}") for i in range(k)]).alias("_sig")
    )


def minhash_band_frame(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 32,
    bands: int = 8,
    seed: int = 42,
    shingle_n: int = 3,
) -> DataFrame:
    """Banded MinHash signatures: one ``(_id, _sig, band, bucket)`` row
    per (document, band) — the shared candidate-keying frame of both
    the batch LSH dedup (:func:`minhash_near_duplicates`) and the
    persisted signature index (:func:`minhash_write_index` /
    :func:`…operators.index.index_probe`). Two frames built with equal
    (k, bands, seed, shingle_n) collide on exactly the same (band,
    bucket) keys, which is what makes an index written yesterday
    probeable by today's shard. A bucket is the raw band slice (array
    of r signature components — DuckDB-reproducible)."""
    r = _band_width(k, bands, "k")
    sig = minhash_signature_frame(df, text_col, id_col, k, seed, shingle_n=shingle_n)
    return sig.select(
        "_id",
        "_sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.slice("_sig", i * r + 1, r).alias("bucket"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", "_sig", "bb.band", "bb.bucket")


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH banding.

    shingle → k minhashes → b bands of r=k/b rows → bucket-join within
    (band, bucket) → estimate Jaccard as matching-component fraction →
    filter ≥ threshold. Returns (id_a, id_b, est_jaccard), id_a < id_b.

    The candidate join keys on (band_idx, band_hash): only documents
    agreeing on a whole band collide, so the shuffle fan-out is bounded
    by the banding probability curve, not |docs|².

    md5-digit shingle hash and the band's raw value slice as the bucket
    key (r·8 bytes) — every intermediate is DuckDB-reproducible, so the
    estimate hash-matches a SQL oracle (`plans/llm.py::q_fuzzy_dedup`).
    """
    banded = minhash_band_frame(df, text_col, id_col, k=k, bands=bands, seed=seed)

    # Candidate pairs WITHOUT a self-join (a self-join would execute the
    # whole signature lineage twice): group bucket members and expand
    # pairs in-expression. Hot buckets (degenerate near-identical
    # content) are capped — at scale an uncapped bucket is a quadratic
    # bomb; the cap is the same trade LSH banding already makes — and
    # the cap is applied two-pass (count → semi-join → collect) so a
    # million-copy boilerplate bucket never reaches a list buffer. The
    # banded frame persists first: the (band, bucket) keys derive from
    # _sig, so the count leg would otherwise re-execute the whole
    # minhash-signature aggregate (k·8 bytes/doc cached — exactly the
    # signature table a production LSH pipeline materializes).
    # max_bucket is a PARAMETER mirroring minhash_oracle_sql's, so a
    # non-default oracle value can never silently diverge from a
    # hardcoded operator literal.
    banded = banded.persist()
    members = capped_bucket_members(
        banded, ["band", "bucket"], F.struct("_id", "_sig"), max_size=max_bucket
    )
    pair_arr = bucket_pairs(F.col("mem"), order_key="_id")
    cand = (
        members.select(F.explode(pair_arr).alias("p"))
        .select(
            F.col("p.a._id").alias("id_a"),
            F.col("p.b._id").alias("id_b"),
            F.col("p.a._sig").alias("sig_a"),
            F.col("p.b._sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )

    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m))
        / F.lit(float(k))
    )
    return (
        cand.withColumn("est_jaccard", portable_round(est, 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def _minhash_sql_fragments(
    k: int, bands: int, seed: int, a_alias: str, b_alias: str
) -> tuple[str, str, str, str]:
    """The DuckDB fragments every MinHash oracle is built from —
    single-sourced so the batch (:func:`minhash_oracle_sql`) and
    incremental (:func:`minhash_incremental_oracle_sql`) forms can
    never drift: per-component ``min((a·x+b) mod P)`` aggregations,
    the signature list, the band-slice structs, and the
    matching-component fraction between signature aliases
    ``a_alias``/``b_alias``. Returns (mins, sig_list, band_structs,
    match_frac)."""
    r = _band_width(k, bands, "k")
    fam = _hash_family(k, seed)
    mins = ", ".join(
        f"min(({a} * x + {b}) % {_MINHASH_P}) AS m{i}" for i, (a, b) in enumerate(fam)
    )
    sig_list = "[" + ", ".join(f"m{i}" for i in range(k)) + "]"
    band_structs = ", ".join(
        f"{{'band': {i}, 'key': sig[{i * r + 1}:{i * r + r}]}}" for i in range(bands)
    )
    match_frac = (
        f"len([i FOR i IN range(1, {k + 1}) "
        f"IF {a_alias}.sig[i] = {b_alias}.sig[i]]) / {float(k)}"
    )
    return mins, sig_list, band_structs, match_frac


def minhash_oracle_sql(
    table: str,
    shingles_sql: str,
    id_col: str,
    *,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket: int = 1000,
) -> str:
    """DuckDB SQL reproducing :func:`minhash_near_duplicates`
    value-for-value: same md5-digit shingle hash
    (:func:`md5_int_sql`), same affine family (same seed), same band
    slices as join keys, same hot-bucket cap, same rounded estimate.
    The signature/banding fragments are single-sourced in
    :func:`_minhash_sql_fragments` (shared with the incremental
    oracle) so the two hash-checked forms can never drift apart."""
    from tia_data_pipeline_spark.functions.text import portable_round_sql

    mins, sig_list, band_structs, match_frac = _minhash_sql_fragments(
        k, bands, seed, "sa", "sb"
    )
    return (
        f"WITH sh AS (SELECT {id_col} AS _id, unnest({shingles_sql}) AS s FROM {table}), "
        f"xs AS (SELECT _id, {md5_int_sql('s')} AS x FROM sh), "
        f"m AS (SELECT _id, {mins} FROM xs GROUP BY _id), "
        f"sigl AS (SELECT _id, {sig_list} AS sig FROM m), "
        f"banded AS (SELECT _id, u.band AS band, u.key AS key FROM ("
        f"  SELECT _id, unnest([{band_structs}]) AS u FROM sigl)), "
        f"hot AS (SELECT band, key FROM banded GROUP BY band, key "
        f"  HAVING count(*) > {max_bucket}), "
        f"ok AS (SELECT banded.* FROM banded ANTI JOIN hot USING (band, key)), "
        f"cand AS (SELECT DISTINCT a._id AS id_a, b._id AS id_b FROM ok a "
        f"  JOIN ok b ON a.band = b.band AND a.key = b.key AND a._id < b._id), "
        f"est AS (SELECT id_a, id_b, {portable_round_sql(match_frac, 6)} AS est_jaccard "
        f"  FROM cand JOIN sigl sa ON sa._id = id_a JOIN sigl sb ON sb._id = id_b) "
        f"SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= {threshold}"
    )


# ---------------------------------------------------------------------------
# Incremental fuzzy dedup against a persisted MinHash signature index
# ---------------------------------------------------------------------------
# Today's shard dedupes against signatures persisted yesterday without a
# history rescan; serving is operators/index.py over ``index.MINHASH``.


def minhash_write_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    *,
    k: int = 32,
    bands: int = 8,
    seed: int = 42,
    shingle_n: int = 3,
    n_shards: int | None = None,
) -> None:
    """Materialize the MinHash signature index: banded ``(_id, _sig,
    bucket)`` rows partitioned by ``band=…/bshard=…`` (a shard's probe
    reads only the partitions its own buckets hash to), plus the meta
    side table from which the probe reproduces the exact hash family.
    k·8 bytes of signature per document per band — the signature table
    the batch path materializes per run, made durable. ``n_shards``
    defaults to a size from the source relation's bytes. The meta's
    ``portable`` column is always true (the md5-digit hash); the probe
    refuses an index whose meta says otherwise."""
    if n_shards is None:
        n_shards = adaptive_index_shards(df, bands=bands)
    meta = {
        "k": int(k), "bands": int(bands), "seed": int(seed),
        "shingle_n": int(shingle_n), "portable": True,
        "n_shards": int(n_shards),
    }
    cols = {"text_col": text_col, "id_col": id_col}
    write_index_frame(MINHASH, MINHASH.band(df, meta, cols), path, meta)


def minhash_incremental_oracle_sql(
    table: str,
    shingles_sql: str,
    id_col: str,
    *,
    history_pred: str,
    shard_pred: str,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket: int = 1000,
) -> str:
    """DuckDB SQL reproducing the MinHash ``index_probe`` over an
    index built from ``table WHERE history_pred`` and a
    shard ``table WHERE shard_pred`` — same md5-digit shingle hash,
    same affine family, same band slices as collision keys, same
    per-side hot-bucket caps, same rounded estimate. The persisted
    index is an execution strategy, not a semantics change, so the
    oracle states the plain two-relation form. Signature/banding
    fragments are single-sourced with the batch oracle via
    :func:`_minhash_sql_fragments`.

    The history side states ``history_pred AND NOT (shard_pred)``,
    mirroring the Spark probe's anti-join of the shard's OWN ids off
    the index side (replay determinism): when the predicates overlap —
    a shard re-probed after it was appended — both engines exclude the
    shard's documents from history BEFORE the hot-bucket caps, so the
    forms agree for overlapping predicates too, not just the disjoint
    ones the contract registers (ADVICE r8). Both predicates must be
    deterministic row predicates on ``table``."""
    from tia_data_pipeline_spark.functions.text import portable_round_sql

    mins, sig_list, band_structs, match_frac = _minhash_sql_fragments(
        k, bands, seed, "sn", "so"
    )

    def side(alias: str, pred: str) -> str:
        return (
            f"sh_{alias} AS (SELECT {id_col} AS _id, unnest({shingles_sql}) AS s "
            f"  FROM {table} WHERE {pred}), "
            f"xs_{alias} AS (SELECT _id, {md5_int_sql('s')} AS x FROM sh_{alias}), "
            f"m_{alias} AS (SELECT _id, {mins} FROM xs_{alias} GROUP BY _id), "
            f"sig_{alias} AS (SELECT _id, {sig_list} AS sig FROM m_{alias}), "
            f"b_{alias} AS (SELECT _id, u.band AS band, u.key AS key FROM ("
            f"  SELECT _id, unnest([{band_structs}]) AS u FROM sig_{alias})), "
            f"ok_{alias} AS (SELECT b_{alias}.* FROM b_{alias} ANTI JOIN ("
            f"  SELECT band, key FROM b_{alias} GROUP BY band, key "
            f"  HAVING count(*) > {max_bucket}) hot_{alias} USING (band, key))"
        )

    # coalesce(…, false): a NULL shard_pred row is NOT in the shard, so
    # the Spark anti-join keeps it in history — NOT (NULL) would drop it
    hist_pred = f"({history_pred}) AND NOT coalesce(({shard_pred}), false)"
    return (
        f"WITH {side('o', hist_pred)}, {side('n', shard_pred)}, "
        "cand AS (SELECT DISTINCT n._id AS new_id, o._id AS dup_id "
        "  FROM ok_n n JOIN ok_o o ON n.band = o.band AND n.key = o.key "
        "  AND n._id <> o._id), "
        f"est AS (SELECT new_id, dup_id, {portable_round_sql(match_frac, 6)} AS est_jaccard "
        "  FROM cand JOIN sig_n sn ON sn._id = new_id "
        "  JOIN sig_o so ON so._id = dup_id) "
        f"SELECT new_id, dup_id, est_jaccard FROM est WHERE est_jaccard >= {threshold}"
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (inverted-index form — SQL-expressible oracle)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    threshold: float = 0.4,
    max_df: int = 20,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity pairs via inverted index.

    Jaccard is defined over the *capped* shingle universe: shingles in
    more than ``max_df`` documents are stop-shingles and excluded from
    both the overlap AND the set sizes (same universe on both, or the
    ratio could exceed 1). The cap is load-bearing at scale — a shingle
    shared by d documents contributes d·(d-1)/2 candidate pairs, so
    frequent shingles are a quadratic bomb; near-dup clusters have
    *rare* shingles (df ≈ cluster size), which the cap keeps.

    Plan shape (one pass, no self-join): explode shingles → hash to
    64-bit ids (8-byte shuffle keys instead of strings; collision odds
    ~|shingles|²/2⁶⁵ — negligible) → group ids per shingle → expand
    pairs in-expression → count shared per pair → join per-doc sizes.
    """
    shared, doc_sizes = _shingle_overlap_frames(df, text_col, id_col, n=n, max_df=max_df)
    ja = (
        shared.join(doc_sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("n_sh", "na"), "id_a")
        .join(doc_sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("n_sh", "nb"), "id_b")
        .withColumn(
            "jaccard",
            portable_round(F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return ja


def _shingle_overlap_frames(
    df: DataFrame, text_col: str, id_col: str, *, n: int, max_df: int
) -> tuple[DataFrame, DataFrame]:
    """Shared skeleton of the exact shingle-overlap family
    (:func:`ngram_jaccard_pairs`, :func:`containment_pairs`): explode
    distinct word n-grams → hash to 64-bit shuffle keys → cap hot
    shingles → expand pairs in-expression. Returns ``(shared,
    doc_sizes)``: per-pair shared-shingle counts (id_a < id_b) and the
    per-doc set size over the capped universe (df=1 shingles count)."""
    src = fan_out(df.select(F.col(id_col), F.col(text_col)))
    # xxhash64 shingle ids on an oracle-checked path is a RECORDED
    # exception to the portable-hashing rule: the oracle groups by the
    # raw shingle STRING, so parity holds unless two distinct shingles
    # collide in 64 bits (~|shingles|²/2^65 — ≲1e-9 at 100 TB shingle
    # counts). md5_int_sql's 2^28 space is NOT a drop-in here (real
    # collision rates at corpus vocabulary sizes); raw-string keys
    # would shuffle full shingles instead of 8-byte ids.
    sh_ids = src.select(
        F.col(id_col).alias("_id"), F.explode(word_shingles(F.col(text_col), n)).alias("s")
    ).select("_id", F.xxhash64("s").alias("sh"))
    # Hot-shingle cap, two-pass (the capped_bucket_members discipline,
    # inlined because doc_sizes needs the df=1 singletons the helper's
    # min_size would drop): count document frequency over 8-byte keys
    # first — a corpus-stop shingle partial-aggregates map-side and is
    # dropped BEFORE any member list exists — then semi-join survivors
    # back. The CAPPED incidence frame (`surv`) persists: it feeds the
    # pair-collect leg AND doc_sizes directly (no explode of member
    # lists), so the corpus tokenize+shingle+hash runs once per query
    # instead of once per consumer. Re-measured round 11 AFTER the
    # sort-shuffle-writer fix, which flipped the round-8 verdict
    # (recompute 1.30 s vs persist 1.94 s then; now persist 0.93-1.10 s
    # vs recompute 1.38-1.58 s, interleaved at sf0.1 — the old number
    # was dominated by the bypass writer's per-file-create cost on the
    # extra materialization exchange). Footprint note for 100 TB: surv
    # is the df-capped (id, 8-byte shingle) incidence table — a
    # fraction of text bytes and spillable (MEMORY_AND_DISK), i.e. the
    # same artifact both consumers would otherwise each re-derive by a
    # full corpus scan; CacheManager holds it until unpersist/
    # clearCache/session end, like the signature-table persists.
    dfreq = sh_ids.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
    surv = sh_ids.join(
        dfreq.filter(F.col("_df") <= max_df).select("sh"), on="sh", how="left_semi"
    ).persist()
    grouped = surv.groupBy("sh").agg(F.collect_list("_id").alias("mem"))
    doc_sizes = surv.groupBy("_id").agg(F.count("*").alias("n_sh"))
    pair_arr = bucket_pairs(F.col("mem"))
    shared = (
        grouped.filter(F.size("mem") >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count("*").alias("shared"))
    )
    return shared, doc_sizes


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    threshold: float = 0.6,
    max_df: int = 20,
) -> DataFrame:
    """ASYMMETRIC shingle-containment pairs: ``|A∩B| / |A|`` per side,
    kept when either side's containment clears the threshold. Catches
    the small-doc-inside-big-doc duplication Jaccard structurally
    misses — a 100-shingle quote fully contained in a 10k-shingle page
    has Jaccard ≈ 0.01 but containment 1.0 (the FineWeb/RefinedWeb
    sub-document contamination case).

    Same single-pass inverted-index plan as :func:`ngram_jaccard_pairs`
    (shared skeleton, no self-join); both directions come from ONE
    unordered pair count joined to both size sides. Returns
    ``(id_a, id_b, shared, cont_a, cont_b)`` with 6-dp portable
    rounding applied before the threshold compare (identical boundary
    behavior on both engines)."""
    shared, doc_sizes = _shingle_overlap_frames(df, text_col, id_col, n=n, max_df=max_df)
    out = (
        shared.join(doc_sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("n_sh", "na"), "id_a")
        .join(doc_sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("n_sh", "nb"), "id_b")
        .withColumn("cont_a", portable_round(F.col("shared") / F.col("na"), 6))
        .withColumn("cont_b", portable_round(F.col("shared") / F.col("nb"), 6))
        .filter(F.greatest(F.col("cont_a"), F.col("cont_b")) >= threshold)
        .select("id_a", "id_b", F.col("shared").cast("bigint").alias("shared"), "cont_a", "cont_b")
    )
    return out


# ---------------------------------------------------------------------------
# SimHash (portable md5-bit construction — see plans/llm.py for oracle)
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def _md5_bit_expr(tok: str, j: int) -> str:
    """SQL fragment (valid in BOTH Spark SQL and DuckDB) for bit j of a
    token's md5-derived hash: hex digit j//4, bit j%4. The DuckDB
    oracles spell the bit with this fragment; the Spark plans take it
    from :func:`md5_words` through :func:`md5_bit`, fuzz-pinned
    equal."""
    digit = f"(instr('0123456789abcdef', substr(md5({tok}), {j // 4 + 1}, 1)) - 1)"
    return f"(CAST(floor({digit} / {1 << (j % 4)}) AS INT) % 2)"


def md5_words(col: Column, bits: int) -> list[Column]:
    """The md5 hex digits that hold hash bits ``0 .. bits-1``, as BIGINT
    words of 8 digits each (word w = digits 8w+1 .. 8w+8, < 2^32): one
    ``conv`` per word per row. Eight-digit words keep every cast clear
    of the ANSI overflow a single 16-digit ``conv`` would hit at the
    61–62-bit SimHash widths. Read bit j with :func:`md5_bit`."""
    if not 1 <= bits <= 128:
        raise ValueError("bits must be in [1, 128] (md5 has 32 hex digits)")
    return [_md5_hex_int(col, 8 * w + 1, 8) for w in range((bits + 31) // 32)]


def md5_bit(words: list[Column], j: int) -> Column:
    """Bit j of the md5-derived hash over :func:`md5_words` columns, the
    Spark twin of :func:`_md5_bit_expr` (hex digit j//4, bit j%4):
    a shift and a mask of word j//32, 0 or 1 as a BIGINT."""
    d = j // 4
    return F.shiftright(words[d // 8], 4 * (7 - d % 8) + j % 4).bitwiseAND(F.lit(1))


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """32-bit SimHash fingerprint per document.

    Classic construction: each distinct token votes ±1 on every bit of
    its hash; fingerprint bit j is 1 iff the vote sum is positive. The
    token hash is md5-derived so the DuckDB oracle can reproduce it
    bit-for-bit (``plans/llm.py::q_simhash``).

    No fan-out repartition here, unlike the shingle-based operators:
    the map side is only tokenize+explode (cheap; md5 is computed once
    per exploded row and every bit is a shift of its words), so the vote
    aggregate's own exchange provides the parallelism — the explicit
    repartition was measured ~1.4x pure cost at sf0.1 (interleaved A/B,
    same method as the `_docs(fan=...)` split).
    """
    toked = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
    )
    return _simhash_votes(toked, SIMHASH_BITS).select(
        F.col("_id").alias(id_col), F.col("_fp").alias("simhash")
    )


def _simhash_votes(toked: DataFrame, bits: int) -> DataFrame:
    """(_id, _fp) from (_id, tok) rows: every token votes ±1 on each of
    ``bits`` md5-derived bits; bit j is 1 iff its vote sum is positive."""
    # the md5 words compute once per token row, before the aggregate;
    # each vote is then a shift and a mask of a BIGINT column
    words = md5_words(F.col("tok"), bits)
    hashed = toked.select("_id", *[w.alias(f"_w{i}") for i, w in enumerate(words)])
    wcols = [F.col(f"_w{i}") for i in range(len(words))]
    votes = [F.sum(2 * md5_bit(wcols, j) - 1).alias(f"v{j}") for j in range(bits)]
    fp = None
    for j in range(bits):
        term = F.when(F.col(f"v{j}") > 0, F.lit(1 << j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        fp = term if fp is None else fp + term
    return hashed.groupBy("_id").agg(*votes).select("_id", fp.alias("_fp"))


def _simhash_sql_votes(bits: int) -> tuple[str, str]:
    """DuckDB twin of :func:`_simhash_votes`: the per-bit vote sums
    ``v0..v{bits-1}`` and the fingerprint expression over them."""
    votes = ", ".join(
        f"sum(2 * {_md5_bit_expr('tok', j)} - 1) AS v{j}" for j in range(bits)
    )
    fp = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j}::BIGINT ELSE 0::BIGINT END)"
        for j in range(bits)
    )
    return votes, fp


def simhash_oracle_sql(table: str, text_tokens_sql: str, id_col: str) -> str:
    """DuckDB SQL mirroring :func:`simhash` (same md5 bit construction,
    same tie rule score>0)."""
    votes, fp = _simhash_sql_votes(SIMHASH_BITS)
    return (
        f"SELECT _id AS {id_col}, {fp} AS simhash FROM ("
        f"  SELECT _id, {votes} FROM ("
        f"    SELECT {id_col} AS _id, unnest(list_distinct({text_tokens_sql})) AS tok "
        f"    FROM {table}) GROUP BY _id)"
    )


# ---------------------------------------------------------------------------
# SimHash persisted index (incremental hamming-distance dedup serving)
# ---------------------------------------------------------------------------
# The hamming member of the banded index families (operators/index.py):
# dedupe today's shard against a PERSISTED fingerprint index without
# rescanning history.

# Wider fingerprint than the 32-bit q_simhash default: 48 bits splits
# into 4 × 12-bit bands, which GUARANTEES any pair within hamming
# distance 3 shares at least one exact band (pigeonhole: 4 differing
# bits cannot each land in a distinct band of 4 when only ≤3 differ),
# stays strictly positive in a BIGINT so the div/mod band extraction is
# portable to DuckDB, and is 2^16× more selective per band than 8-bit
# bands of the 32-bit form — at 100 TB the band bucket count (2^12 per
# band) is what keeps collision groups sub-quadratic.
SIMHASH_INDEX_BITS = 48
SIMHASH_INDEX_BANDS = 4


def _simhash_fp_frame(df: DataFrame, text_col: str, id_col: str, bits: int) -> DataFrame:
    """(_id, _fp) fingerprint frame, the index form of :func:`simhash`:
    same md5-bit vote construction widened to ``bits``, NULL ids
    excluded at the source (a NULL id would form one chimeric vote
    group AND break the anti-join idempotence of the index append —
    same precondition as :func:`minhash_signature_frame`).

    No fan-out repartition: the map side is bare tokenize+explode and
    the vote aggregate's own exchange provides the parallelism (the
    measured `_docs(fan=False)` rule; see :func:`simhash`)."""
    if not 1 <= bits <= 62:
        raise ValueError("bits must be in [1, 62] (BIGINT, sign bit untouched)")
    toked = df.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
    )
    return _simhash_votes(toked, bits)


def simhash_band_frame(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    bits: int = SIMHASH_INDEX_BITS,
    bands: int = SIMHASH_INDEX_BANDS,
    n_shards: int = 64,
) -> DataFrame:
    """Banded fingerprints: one ``(_id, _fp, band, bucket, bshard)`` row
    per (document, band); ``bucket`` is the band's bit slice (extracted
    by div/mod — portable, fingerprints are non-negative), ``bshard``
    a bounded shard of the bucket so (band, bshard) is a stable
    partition key. Equal (bits, bands, n_shards) ⇒ identical collision
    keys, which is what makes yesterday's index probeable today."""
    r = _band_width(bits, bands, "bits")
    sig = _simhash_fp_frame(df, text_col, id_col, bits)
    return sig.select(
        "_id",
        "_fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(f"(_fp div {1 << (r * b)}) % {1 << r}").alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(
        "_id", "_fp", "bb.band", "bb.bucket",
        F.pmod(F.col("bb.bucket"), F.lit(n_shards)).alias("bshard"),
    )


def simhash_write_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    *,
    bits: int = SIMHASH_INDEX_BITS,
    bands: int = SIMHASH_INDEX_BANDS,
    n_shards: int | None = None,
) -> None:
    """Materialize the SimHash fingerprint index, ``band=…/bshard=…``
    partitioned like :func:`minhash_write_index`; rows are (_id, _fp,
    bucket) — 8 bytes of fingerprint per (document, band). Serving is
    the operators/index.py core over ``index.SIMHASH``."""
    if n_shards is None:
        n_shards = adaptive_index_shards(df, bands=bands)
    meta = {"bits": int(bits), "bands": int(bands), "n_shards": int(n_shards)}
    cols = {"text_col": text_col, "id_col": id_col}
    write_index_frame(SIMHASH, SIMHASH.band(df, meta, cols), path, meta)


def simhash_incremental_oracle_sql(
    table: str,
    text_tokens_sql: str,
    id_col: str,
    *,
    history_pred: str,
    shard_pred: str,
    bits: int = SIMHASH_INDEX_BITS,
    bands: int = SIMHASH_INDEX_BANDS,
    max_hamming: int = 3,
    max_bucket: int = 1000,
) -> str:
    """DuckDB SQL reproducing the SimHash ``index_probe`` over an
    index built from ``table WHERE history_pred`` and a shard ``table
    WHERE shard_pred`` — same md5-bit votes, same div/mod band slices,
    same per-side hot-bucket caps, same ``bit_count(xor)`` verify. The
    persisted index is an execution strategy, not a semantics change,
    so the oracle states the plain two-relation form. DuckDB's
    ``bit_count`` returns TINYINT → cast to INT to match Spark; the
    cross-engine agreement of bit_count∘xor on non-negative BIGINTs is
    fuzz-pinned in tests/test_dedup.py.

    The history side states ``history_pred AND NOT (shard_pred)``,
    mirroring the Spark probe's anti-join of the shard's OWN ids off
    the index side (replay determinism): for overlapping predicates
    both engines now exclude the shard's documents from history BEFORE
    the hot-bucket caps — previously the oracle only dropped self-pairs
    and the forms agreed only for disjoint predicates (ADVICE r8).
    Both predicates must be deterministic row predicates on
    ``table``."""
    r = _band_width(bits, bands, "bits")
    votes, fp = _simhash_sql_votes(bits)
    divisors = ", ".join(f"({b}, {1 << (r * b)}::BIGINT)" for b in range(bands))

    def side(alias: str, pred: str) -> str:
        return (
            f"tok_{alias} AS (SELECT {id_col} AS _id, "
            f"  unnest(list_distinct({text_tokens_sql})) AS tok "
            f"  FROM {table} WHERE ({pred}) AND {id_col} IS NOT NULL), "
            f"v_{alias} AS (SELECT _id, {votes} FROM tok_{alias} GROUP BY _id), "
            f"fp_{alias} AS (SELECT _id, {fp} AS _fp FROM v_{alias}), "
            f"b_{alias} AS (SELECT _id, _fp, band, (_fp // divisor) % {1 << r} AS bucket "
            f"  FROM fp_{alias} CROSS JOIN (VALUES {divisors}) AS bd(band, divisor)), "
            f"ok_{alias} AS (SELECT b_{alias}.* FROM b_{alias} ANTI JOIN ("
            f"  SELECT band, bucket FROM b_{alias} GROUP BY band, bucket "
            f"  HAVING count(*) > {max_bucket}) h_{alias} USING (band, bucket))"
        )

    # coalesce(…, false): a NULL shard_pred row is NOT in the shard, so
    # the Spark anti-join keeps it in history — NOT (NULL) would drop it
    hist_pred = f"({history_pred}) AND NOT coalesce(({shard_pred}), false)"
    return (
        f"WITH {side('o', hist_pred)}, {side('n', shard_pred)} "
        "SELECT DISTINCT n._id AS new_id, o._id AS dup_id, "
        "  bit_count(xor(n._fp, o._fp))::INT AS hamming "
        "FROM ok_n n JOIN ok_o o ON n.band = o.band AND n.bucket = o.bucket "
        f"WHERE bit_count(xor(n._fp, o._fp)) <= {max_hamming} "
        "  AND n._id <> o._id"
    )


# ---------------------------------------------------------------------------
# Substring-level overlap (char k-mer mod-p sketch — alignment-independent)
# ---------------------------------------------------------------------------


def _kmer_hashes(df: DataFrame, text_col: str, id_col: str, k: int, mod: int) -> DataFrame:
    """``(_id, _i, h)`` rows of the sampled char k-mers: every k-char
    window at 1-based position ``_i``, hashed md5-digit
    (:func:`md5_int`), kept when ``h ≡ 0 (mod mod)``.

    The mod-p selection is the load-bearing choice: a fixed stride
    would sample windows at positions ≡ 0 (mod s) *of each document*,
    so the same substring at different offsets in two documents could
    sample disjoint window sets and the overlap would vanish. Selecting
    by the window's own content hash is offset-invariant — a shared
    substring of length L contributes the same ~(L-k+1)/mod sampled
    k-mers to both documents no matter where it sits.

    Positions explode to rows BEFORE hashing (one md5 per k-mer row; a
    higher-order lambda would re-evaluate its captured subexpressions
    per element), and the 1/mod filter runs before anything shuffles.
    Documents shorter than ``k`` (and NULL texts) yield no rows."""
    if k < 2:
        raise ValueError("k must be >= 2")
    if mod < 1:
        raise ValueError("mod must be >= 1")
    src = fan_out(df.select(F.col(id_col), F.col(text_col)))
    n_pos = F.length(F.col(text_col)) - (k - 1)
    pos = src.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_t"),
        F.explode(
            F.when(n_pos >= 1, F.sequence(F.lit(1), n_pos)).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("_i"),
    )
    return pos.select(
        "_id", "_i", md5_int(F.substring(F.col("_t"), F.col("_i"), F.lit(k))).alias("h")
    ).filter(F.pmod(F.col("h"), F.lit(mod)) == 0)


def substring_overlap_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 32,
    mod: int = 16,
    max_df: int = 20,
    min_shared: int = 2,
) -> DataFrame:
    """Document pairs sharing long verbatim substrings — the
    substring-level contamination/boilerplate signal that word-shingle
    Jaccard misses when the shared block is a small fraction of each
    document (quote plagiarism, license blocks, copy-pasted passages).

    Evidence is counted in sampled char k-mers: a shared verbatim run
    of length L yields ~(L-k+1)/mod shared samples, so ``min_shared``
    sets the effective minimum run length (≈ k + mod·min_shared).
    Same inverted-index shape as :func:`ngram_jaccard_pairs` — explode
    the sketch, cap hot k-mers (mass-duplicated boilerplate belongs to
    the cheap digest pipeline), expand pairs in-expression, never a
    corpus self-join. Returns (id_a, id_b, shared).

    The k-mer hash is md5-digit (:func:`_kmer_hashes`), so the pair set
    is reproducible in DuckDB for the oracle-checked contract query;
    ``collect_set`` dedupes per-doc repeats inside the bucket
    aggregate. ``k < 2`` or ``mod < 1`` raises ``ValueError``."""
    # The two-pass cap consumes hs twice (count + collect legs), and
    # the md5-per-position hash is the dominant cost — persist the
    # NARROW (h, _id) frame (16 bytes/sample, 1/mod of the k-mer
    # stream) so the hash computes once; the q_triangles persist
    # discipline. Cache lifecycle: CacheManager holds it until
    # unpersist or session end (per-process driver/bench sessions
    # discard at exit; MEMORY_AND_DISK evicts under pressure).
    # Measured 3.0 s → recomputed vs persisted at sf0.1.
    hs = _kmer_hashes(df, text_col, id_col, k, mod).select("_id", "h").persist()
    grouped = capped_bucket_members(hs, "h", "_id", max_size=max_df, distinct=True)
    pair_arr = bucket_pairs(F.col("mem"))
    return (
        grouped.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count("*").cast("bigint").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 32,
    mod: int = 16,
    max_df: int = 20,
    max_gap: int | None = None,
    min_anchors: int = 2,
) -> DataFrame:
    """WHERE the duplication lives, not just who pairs with whom: the
    span form of exact-substring dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better" — training pipelines
    CUT duplicated byte ranges rather than drop whole documents).
    Returns ``(id_a, id_b, a_start, b_start, span_len, n_anchors)``:
    1-based char offsets of an aligned verbatim run in both documents.

    Construction (bounded, SQL-expressible — no suffix array needed):

    1. content-defined anchors: every position whose k-char window
       hash ≡ 0 (mod ``mod``) — offset-invariant (see
       :func:`_kmer_hashes`), POSITIONS kept;
    2. hot-anchor cap, two-pass (a boilerplate k-mer in thousands of
       docs is the digest pipeline's job, and uncapped it is a
       quadratic bomb);
    3. anchor matches across documents on the k-mer hash, expanded
       in-expression per bucket (never a corpus self-join);
    4. DIAGONAL merge: matches of one verbatim run all satisfy
       ``pos_b − pos_a = const``; within a (pair, diagonal), runs are
       sessionized on anchor gaps ≤ ``max_gap`` (anchors in a true run
       are ~``mod`` chars apart; the default gap 8·mod splits a run
       with probability ≈ e⁻⁸ per anchor) and each run aggregates to
       one span with ≥ ``min_anchors`` anchors — span_len counts from
       the first anchor to the end of the last anchor's window, so the
       minimum reportable span is ≈ k + mod.

    Scale shape: anchors are ~len/mod rows of (8-byte hash, id, int)
    — the only corpus-sized relation; the match stream is bounded by
    the banding cap exactly like :func:`substring_overlap_pairs`; the
    sessionize is ONE shuffle on (id_a, id_b, diag) serving both
    window functions and the span aggregate. The md5-digit hash makes
    spans hash-match the DuckDB oracle (plans/llm.py::q_dup_spans).
    ``k < 2`` or ``mod < 1`` raises ``ValueError``."""
    if max_gap is None:
        max_gap = 8 * mod
    # persist the NARROW anchor frame: the two-pass cap consumes it
    # twice and the per-position hash dominates (the
    # substring_overlap_pairs discipline — md5 3.0→0.79 s at sf0.1)
    anchors = _kmer_hashes(df, text_col, id_col, k, mod).persist()
    members = capped_bucket_members(
        anchors, "h", F.struct("_id", "_i"), max_size=max_df
    )
    mt = (
        members.select(F.explode(bucket_pairs(F.col("mem"), order_key="_id")).alias("p"))
        # strict inequality drops same-document matches (self-repetition
        # is not cross-dup) and NULL-id rows, matching the oracle's
        # a._id < b._id join predicate
        .filter(F.col("p.a._id") < F.col("p.b._id"))
        .select(
            F.col("p.a._id").alias("id_a"),
            F.col("p.b._id").alias("id_b"),
            F.col("p.a._i").alias("pos_a"),
            F.col("p.b._i").alias("pos_b"),
            (F.col("p.b._i") - F.col("p.a._i")).alias("diag"),
        )
    )
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    brk = F.when(
        (F.col("pos_a") - F.lag("pos_a").over(w)) > max_gap, F.lit(1)
    ).otherwise(F.lit(0))
    runs = mt.withColumn("brk", brk).withColumn(
        "run", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        runs.groupBy("id_a", "id_b", "diag", "run")
        .agg(
            # bigint: DuckDB range() yields BIGINT positions, so the
            # hash-checked schema states 64-bit offsets on both sides
            F.min("pos_a").cast("bigint").alias("a_start"),
            F.min("pos_b").cast("bigint").alias("b_start"),
            (F.max("pos_a") + F.lit(k) - F.min("pos_a")).cast("bigint").alias("span_len"),
            F.count(F.lit(1)).cast("bigint").alias("n_anchors"),
        )
        .filter(F.col("n_anchors") >= min_anchors)
        .select("id_a", "id_b", "a_start", "b_start", "span_len", "n_anchors")
    )


def cut_duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 32,
    mod: int = 16,
    max_df: int = 20,
    max_gap: int | None = None,
    min_anchors: int = 2,
) -> DataFrame:
    """APPLY the duplicated spans: rebuild each affected document with
    its duplicated byte ranges removed — the surgery step of
    cut-not-drop dedup (:func:`duplicated_spans` finds WHERE the
    duplication lives; this removes it). Keep-first policy: a span is
    cut from the pair's LATER document (``id_b`` — ids are canonical
    ``id_a < id_b``), so the earliest copy of every duplicated run
    survives intact and no run is lost from the corpus.

    Returns one row per AFFECTED document: ``(doc_id, n_spans,
    cut_chars, kept_len, kept_hash)`` where n_spans counts MERGED
    cut intervals (overlapping spans from different pairs coalesce),
    cut_chars the characters removed, and kept_hash = md5 of the
    rebuilt text — byte-exact evidence of the surgery, reproducible in
    the DuckDB oracle (:func:`span_cut_oracle_sql`).

    Construction after the span extractor: (1) classic interval merge
    per doc — a window running-max of span ends marks group breaks,
    one sessionize shuffle on doc_id; (2) the kept text is assembled
    from the COMPLEMENT pieces (lag(end) → piece before each interval,
    plus the tail), concatenated in span order via a sorted collect of
    the per-interval pieces — intervals per doc are bounded by the
    span extractor's caps, so the collected arrays are small by
    construction. Untouched documents emit nothing (the caller unions
    them back if a full corpus rewrite is wanted)."""
    spans = duplicated_spans(
        df, text_col, id_col, k=k, mod=mod, max_df=max_df,
        max_gap=max_gap, min_anchors=min_anchors,
    )
    # DISTINCT before the merge windows: two pairs can contribute the
    # IDENTICAL (s, e) interval to one doc (e.g. the same duplicated
    # block shared with two earlier docs), and tied (s, e) sort keys
    # make the ROWS-frame running max evaluation-order-dependent —
    # the max and sum windows can then disagree on which tied row is
    # "first" and split one interval into two groups (found by the
    # sf0.001 parity check, doc with two co-located span sources).
    # After distinct, (s, e) is unique per doc and the order is total.
    cuts = spans.select(
        F.col("id_b").alias("_doc"),
        F.col("b_start").alias("s"),
        (F.col("b_start") + F.col("span_len")).alias("e"),
    ).distinct()
    # interval merge: break a new group when this span starts past the
    # running max end of everything before it (ties on s ordered by e
    # for determinism; touching intervals s == prev_e stay merged)
    w = Window.partitionBy("_doc").orderBy("s", "e")
    prev_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    brk = F.when(F.col("s") > F.coalesce(prev_max_e, F.lit(0)), F.lit(1)).otherwise(
        F.lit(0)
    )
    merged = (
        cuts.withColumn("brk", brk)
        .withColumn(
            "grp", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy("_doc", "grp")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
    )
    # complement pieces: text before each merged interval (from the
    # previous interval's end), plus the tail after the last interval
    w2 = Window.partitionBy("_doc").orderBy("s")
    ps = F.coalesce(F.lag("e").over(w2), F.lit(1))
    pieces = (
        merged.join(
            df.select(F.col(id_col).alias("_doc"), F.col(text_col).alias("_t")),
            "_doc",
        )
        .withColumn("ps", ps)
        .withColumn(
            "piece",
            F.expr("substring(_t, cast(ps as int), cast(s - ps as int))"),
        )
    )
    agg = pieces.groupBy("_doc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum(F.col("e") - F.col("s")).cast("bigint").alias("cut_chars"),
        F.min("_t").alias("_t"),
        F.max("e").alias("_last_e"),
        # sorted-by-s reassembly: collect_list order is undefined, the
        # array_sort on (s, piece) structs restores span order
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("s", "piece"))),
                lambda x: x["piece"],
            ),
            "",
        ).alias("_head"),
    )
    kept = F.concat(
        F.col("_head"), F.expr("substring(_t, cast(_last_e as int))")
    )
    return agg.select(
        F.col("_doc").alias(id_col),
        "n_spans",
        "cut_chars",
        F.length(kept).cast("bigint").alias("kept_len"),
        F.md5(F.encode(kept, "UTF-8")).alias("kept_hash"),
    )


def span_cut_oracle_sql(
    table: str,
    id_col: str,
    text_col: str = "text",
    *,
    k: int = 32,
    mod: int = 16,
    max_df: int = 20,
    max_gap: int | None = None,
    min_anchors: int = 2,
) -> str:
    """DuckDB SQL reproducing :func:`cut_duplicated_spans`
    byte-for-byte: the span CTE is the shared
    :func:`duplicated_spans_oracle_sql` text, then the same interval
    merge (running-max window), the same complement-piece assembly
    (``string_agg`` ordered by span start ≡ the sorted collect), and
    ``md5`` over the identical rebuilt string."""
    spans_sql = duplicated_spans_oracle_sql(
        table, id_col, text_col, k=k, mod=mod, max_df=max_df,
        max_gap=max_gap, min_anchors=min_anchors,
    )
    return (
        f"WITH spans AS ({spans_sql}), "
        "cuts AS (SELECT DISTINCT id_b AS _doc, b_start AS s, "
        "  b_start + span_len AS e FROM spans), "
        "m0 AS (SELECT *, CASE WHEN s > coalesce(max(e) OVER ("
        "    PARTITION BY _doc ORDER BY s, e "
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
        "  THEN 1 ELSE 0 END AS brk FROM cuts), "
        "m1 AS (SELECT *, sum(brk) OVER (PARTITION BY _doc ORDER BY s, e "
        "  ROWS UNBOUNDED PRECEDING) AS grp FROM m0), "
        "merged AS (SELECT _doc, min(s) AS s, max(e) AS e FROM m1 "
        "  GROUP BY _doc, grp), "
        "p AS (SELECT _doc, s, e, coalesce(lag(e) OVER ("
        "  PARTITION BY _doc ORDER BY s), 1) AS ps FROM merged), "
        f"pieces AS (SELECT p._doc, s, e, d.{text_col} AS _t, "
        f"  substr(d.{text_col}, ps::INT, (s - ps)::INT) AS piece "
        f"  FROM p JOIN {table} d ON p._doc = d.{id_col}), "
        "agg AS (SELECT _doc, count(*)::BIGINT AS n_spans, "
        "  sum(e - s)::BIGINT AS cut_chars, min(_t) AS _t, "
        "  max(e) AS _last_e, string_agg(piece, '' ORDER BY s) AS _head "
        "  FROM pieces GROUP BY _doc) "
        f"SELECT _doc AS {id_col}, n_spans, cut_chars, "
        "  length(_head || substr(_t, _last_e::INT))::BIGINT AS kept_len, "
        "  md5(_head || substr(_t, _last_e::INT)) AS kept_hash FROM agg"
    )


def duplicated_spans_oracle_sql(
    table: str,
    id_col: str,
    text_col: str = "text",
    *,
    k: int = 32,
    mod: int = 16,
    max_df: int = 20,
    max_gap: int | None = None,
    min_anchors: int = 2,
) -> str:
    """DuckDB SQL reproducing :func:`duplicated_spans` value-for-value: same md5-digit window hash, same
    mod sampling, same row-count bucket cap, same diagonal sessionize
    (lag/gap/sum windows), same span aggregation."""
    if max_gap is None:
        max_gap = 8 * mod
    md5i = md5_int_sql(f"substr({text_col}, i, {k})")
    return (
        f"WITH pos AS (SELECT {id_col} AS _id, {text_col}, "
        f"  unnest(range(1, greatest(length({text_col}) - {k - 1}, 0) + 1)) AS i "
        f"  FROM {table}), "
        f"anch AS (SELECT _id, i, h FROM ("
        f"  SELECT _id, i, {md5i} AS h FROM pos) WHERE h % {mod} = 0), "
        f"ok AS (SELECT anch.* FROM anch SEMI JOIN ("
        f"  SELECT h FROM anch GROUP BY h HAVING count(*) BETWEEN 2 AND {max_df}"
        f") kept USING (h)), "
        "mt AS (SELECT a._id AS id_a, b._id AS id_b, a.i AS pos_a, b.i AS pos_b, "
        "    b.i - a.i AS diag "
        "  FROM ok a JOIN ok b ON a.h = b.h AND a._id < b._id), "
        f"s AS (SELECT *, CASE WHEN pos_a - lag(pos_a) OVER "
        f"    (PARTITION BY id_a, id_b, diag ORDER BY pos_a) > {max_gap} "
        "    THEN 1 ELSE 0 END AS brk FROM mt), "
        "r AS (SELECT *, sum(brk) OVER (PARTITION BY id_a, id_b, diag "
        "    ORDER BY pos_a ROWS UNBOUNDED PRECEDING) AS run FROM s) "
        "SELECT id_a, id_b, min(pos_a) AS a_start, min(pos_b) AS b_start, "
        f"  (max(pos_a) + {k} - min(pos_a)) AS span_len, "
        "  count(*)::BIGINT AS n_anchors "
        "FROM r GROUP BY id_a, id_b, diag, run "
        f"HAVING count(*) >= {min_anchors}"
    )
