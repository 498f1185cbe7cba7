"""Embedding similarity search (SURVEY §2.4 ext-sim-topk).

Brute-force cosine top-k as the exact baseline, and a sign-random-
projection LSH variant as the scale path. Both stay JVM-side (higher-
order array functions); the probe side is a one-row broadcast — never a
full cross-join of the corpus against itself.

Scale posture (100 TB of embeddings): brute force against a single
probe is a narrow map + TakeOrderedAndProject (per-partition top-k,
then k·partitions rows to the driver). For probe *batches*, LSH
bucketing turns the cross product into a bucket-equi-join; recall is
tuned by the number of projection bits (fewer bits → bigger buckets).
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tia_data_pipeline_spark.functions.text import portable_round
from tia_data_pipeline_spark.functions.vectors import cosine_from_norms, dot, l2_norm
from tia_data_pipeline_spark.operators.index import (
    EMBEDDING,
    IVF,
    _append_delta,
    _require_local_path,
    _touched,
    _write_partitioned,
    index_compact,
    index_delete,
    index_meta,
    index_schema,
    mask_tombstones,
    read_index,
    write_index_frame,
)
from tia_data_pipeline_spark.operators.scale import fan_out

# Deterministic projection matrix shared with the DuckDB oracle
# (plans/llm.py embeds the same literals in the generated SQL).
LSH_SEED = 42
LSH_BITS = 8
EMBED_DIM = 64


def projection_matrix(bits: int = LSH_BITS, dim: int = EMBED_DIM, seed: int = LSH_SEED) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    # Round literals so the SQL text and the Spark literals are the
    # exact same doubles on both engines.
    return [[round(float(v), 6) for v in row] for row in rng.randn(bits, dim)]


# the expected bucket population projection_bits_for sizes a corpus to
_TARGET_BUCKET = 1000


def projection_bits_for(n_vectors: int) -> int:
    """Sign-projection bit count sizing a corpus to ~1000
    (``_TARGET_BUCKET``) expected members per bucket:
    ``2^bits ≈ n/1000``. This is the scale rule from SCALE.md made
    executable — pair-expansion work in the bucketed dedup/ANN
    operators grows with the SQUARE of bucket size, so bits must rise
    with log2 of the corpus (the measured 8×
    stress corpus went super-linear on a fixed 4-bit projection).
    Callers pass the result to :func:`projection_matrix`; the contract
    queries keep their fixed literals (the oracle embeds them)."""
    import math

    return max(1, math.ceil(math.log2(max(2.0, n_vectors / _TARGET_BUCKET))))


def _sign_bits(vec: Column, proj: list[list[float]]) -> Column:
    """LSH bucket id: integer of sign bits of <vec, p_i>."""
    bucket = F.lit(0).cast("bigint")
    for i, row in enumerate(proj):
        p = F.array(*[F.lit(v) for v in row])
        bucket = bucket + F.when(dot(vec, p) > 0, F.lit(1 << i).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return bucket


def brute_force_top_k(
    corpus: DataFrame,
    probe: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k of `corpus` against a one-row `probe` frame.

    The probe is broadcast; scoring is a narrow projection; the global
    top-k compiles to TakeOrderedAndProject (no total sort). Ordering is
    on the *rounded* score with the id as tiebreak so the k-boundary is
    deterministic across engines.

    SINGLE-probe by contract: with several probe rows the un-keyed
    cross join would interleave scores across probes and the global
    limit would return a meaningless mixed top-k — guarded here (the
    probe is a tiny frame, so the check is a trivial job); batch probes
    belong to knn_join.
    """
    if probe.limit(2).count() > 1:
        raise ValueError("brute_force_top_k takes a ONE-row probe; use knn_join for batches")
    # norms precompute per ROW on each side (the file-wide rule):
    # cosine_similarity would refold the probe's O(dim) norm once per
    # corpus row; identical doubles, same denominators
    p = F.broadcast(
        probe.select(
            F.col(vec_col).alias("_probe_vec"),
            l2_norm(F.col(vec_col)).alias("_p_norm"),
        )
    )
    c = corpus.select(F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("_c_norm"))
    score = cosine_from_norms(
        F.col(vec_col), F.col("_probe_vec"), F.col("_c_norm"), F.col("_p_norm")
    )
    scored = c.crossJoin(p).select(
        F.col(id_col),
        portable_round(score, 6).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def embedding_near_duplicates(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    proj: list[list[float]] | None = None,
    max_bucket: int = 2000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates share a
    sign-projection bucket, exact cosine within, keep pairs ≥ threshold.
    Returns (id_a, id_b, score), id_a < id_b.

    Pair generation is a bucket-equi self-join of the narrow
    (id, vec, norm, bucket) projection (see
    :func:`_cell_equi_cosine_pairs` — vector-payload member arrays are
    quadratic in vector BYTES, unlike the scalar dedup family's
    in-expression expansion); a degenerate bucket (mass-duplicated
    embeddings) is dropped by the two-pass cap rather than
    quadratically exploded. Recall is tuned by the projection bit
    count (fewer bits → bigger buckets → higher recall, more
    compute)."""
    proj = proj if proj is not None else projection_matrix()
    # a row without a vector cannot be similar to anything — exclude it
    # explicitly (sign_bits of a NULL array would otherwise land NULL
    # vectors together in bucket 0). NULL ids are excluded too: the
    # in-expression pair ordering would route a NULL-id comparison to
    # the otherwise branch and emit (id, NULL) pairs that every
    # oracle's `a.id < b.id` predicate drops (UNKNOWN).
    corpus = corpus.filter(
        F.col(vec_col).isNotNull() & F.col(id_col).isNotNull()
    )
    # Norms are precomputed per vector BEFORE pair expansion: cosine on
    # a pair then needs only the dot product, not 2 more O(dim) folds —
    # each vector's norm is computed once instead of once per pair.
    bucketed = corpus.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_vec"),
        l2_norm(F.col(vec_col)).alias("_norm"),
        _sign_bits(F.col(vec_col), proj).alias("_bucket"),
    )
    return _cell_equi_cosine_pairs(bucketed, threshold=threshold, max_bucket=max_bucket)


def _cell_equi_cosine_pairs(
    bucketed: DataFrame, *, threshold: float, max_bucket: int
) -> DataFrame:
    """Shared tail of the bucketed cosine-pair family
    (:func:`embedding_near_duplicates`, :func:`semantic_dedup_pairs`):
    two-pass capped buckets → CELL-EQUI SELF-JOIN pair stream → exact
    cosine → threshold. Input contract: columns ``_id``, ``_vec``
    (array<double>), ``_norm``, ``_bucket``; NULL ids/vectors already
    excluded upstream.

    Pair generation is a join, NOT the collect_list + in-expression
    expansion the scalar-payload dedup family uses: vector buckets run
    ~10²-10³ members even under healthy projections, and the
    in-expression form materializes b²/2 pair structs EACH CARRYING
    TWO FULL VECTORS inside one row before the explode — measured 17×
    at an 8×-duplicated sf0.1 (≈8M pairs × 128 doubles in 16 rows)
    and 11.3 s→1.1 s for the semantic variant at plain sf0.1. The join
    shuffles (id, vec, norm) rows by bucket and streams pair cosines
    row-at-a-time; the assignment lineage (a narrow projection)
    executes once per side, which is cheap where re-planning a
    signature AGGREGATE twice would not be.

    Hot-bucket cap stays two-pass (count over the 8-byte key →
    semi-join BOTH sides), so a mass-duplicated cluster never reaches
    the join at all. The assigned frame is widened (fan_out) and then
    PERSISTED: the cell assignment (centroid argmin / sign projection —
    up to |centers|·dim multiplies per row) otherwise re-executes three
    times (the cap's count leg + both join sides); caching the
    (id, vec, norm, cell) rows — the exact artifact an IVF index write
    materializes durably — runs it once (round 11, re-measured after
    the sort-shuffle-writer fix: q_semantic_dedup 0.90 → see
    OPTIMIZATION_r11.md). Widening happens BEFORE the persist so the
    cache itself is already wide and neither join side re-shuffles it;
    lifecycle is CacheManager-held like the signature-table persists."""
    bucketed = fan_out(bucketed).persist()
    sizes = bucketed.groupBy("_bucket").agg(F.count(F.lit(1)).alias("_bsz"))
    kept = sizes.filter(
        (F.col("_bsz") >= 2) & (F.col("_bsz") <= max_bucket)
    ).select("_bucket")
    b = bucketed.join(kept, "_bucket", "left_semi")
    a_side = b.select(
        F.col("_bucket"),
        F.col("_id").alias("id_a"),
        F.col("_vec").alias("_vec_a"),
        F.col("_norm").alias("_norm_a"),
    )
    b_side = b.select(
        F.col("_bucket"),
        F.col("_id").alias("id_b"),
        F.col("_vec").alias("_vec_b"),
        F.col("_norm").alias("_norm_b"),
    )
    # join on the column NAME: both sides select the same frame, so
    # a_side["_bucket"] == b_side["_bucket"] would compare one
    # attribute with itself (a trivially true predicate that only
    # Spark's resolution of each side's plan turns back into a bucket
    # equi-join)
    joined = a_side.join(b_side, "_bucket").filter(F.col("id_a") < F.col("id_b"))
    score = cosine_from_norms(
        F.col("_vec_a"), F.col("_vec_b"), F.col("_norm_a"), F.col("_norm_b")
    )
    # No pair-level dedup: each vector is assigned exactly ONE cell
    # (sign_bits / nearest_centroid), so a pair can co-occur in at most
    # one cell and a dropDuplicates here would be a pure no-op shuffle
    # + aggregate over the widest relation in the plan (ADVICE r7). A
    # multi-probe/multi-band variant that assigns several cells per
    # vector must re-add per-pair dedup at its own call site.
    return joined.select(
        "id_a", "id_b", portable_round(score, 6).alias("score")
    ).filter(F.col("score") >= threshold)


def semantic_centroids() -> list[list[float]]:
    """Pinned TRAINED centroids for the CONTRACT form of semantic dedup
    (the oracle embeds the same literals; production callers pass live
    :func:`ivf_build_index` centers instead). See
    operators/semantic_centers.py for provenance — trained, not
    random: gaussian-random centers degenerate on this corpus (2 of 8
    cells used, 84% of vectors in one — ~5× the intra-cell pair
    work)."""
    from tia_data_pipeline_spark.operators.semantic_centers import SEMANTIC_CENTERS

    return SEMANTIC_CENTERS


def nearest_centroid_struct(vec: Column, centers: list[list[float]]) -> Column:
    """``min_i (|v − c_i|², i)`` as a struct ``(d, i)`` — the single
    cross-engine-pinned cell-assignment expression (ties to the lowest
    index), shared by :func:`nearest_centroid` (semantic dedup) and
    :func:`ivf_index_append` so every oracle-checked assignment uses
    ONE float form.

    Cross-engine discipline: |v−c|² expands to ``(v·v − 2·v·c) + c·c``
    with c·c precomputed as a Python literal, so every term is either a
    :func:`~tia_data_pipeline_spark.functions.vectors.dot` fold (fuzz-
    pinned bit-identical to DuckDB ``list_dot_product``) or a shared
    literal — the distances, and therefore the argmin comparisons, are
    bit-for-bit reproducible in the oracle's SQL form (see
    plans/llm.py::q_semantic_dedup)."""
    dvv = dot(vec, vec)
    entries = []
    for i, c in enumerate(centers):
        carr = F.array(*[F.lit(v) for v in c])
        cc = F.lit(sum(x * x for x in c))
        d = (dvv - 2.0 * dot(vec, carr)) + cc
        entries.append(F.struct(d.alias("d"), F.lit(i).alias("i")))
    return F.array_min(F.array(*entries))


def nearest_centroid(vec: Column, centers: list[list[float]]) -> Column:
    """Index of the nearest centroid — see
    :func:`nearest_centroid_struct` for the float-form discipline."""
    return nearest_centroid_struct(vec, centers)["i"]


def semantic_dedup_pairs(
    corpus: DataFrame,
    centers: list[list[float]] | None = None,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    max_cluster: int = 2000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): assign every embedding to its nearest coarse-
    quantizer centroid, then emit exact-cosine near-duplicate pairs ≥
    ``threshold`` WITHIN each cluster — the intra-cluster restriction
    is what makes semantic dedup tractable at 100 TB (candidate pairs
    scale with Σ|cluster|², not |corpus|²).

    ``centers=None`` uses the pinned deterministic centroids (the
    oracle-checkable contract form); production passes the trained
    :func:`ivf_build_index` centers — the operator is identical from
    assignment onward. Same scale shape as
    :func:`embedding_near_duplicates`: two-pass capped cluster
    membership, then a cell-equi self-join pair stream (see
    :func:`_cell_equi_cosine_pairs` — member arrays would be quadratic
    in vector bytes). NULL vectors/ids are excluded up front (the
    embed_dedup discipline — a NULL vector is similar to nothing, and
    NULL ids would emit pairs every ``id_a < id_b`` oracle drops as
    UNKNOWN)."""
    centers = centers if centers is not None else semantic_centroids()
    corpus = corpus.filter(F.col(vec_col).isNotNull() & F.col(id_col).isNotNull())
    bucketed = corpus.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_vec"),
        l2_norm(F.col(vec_col)).alias("_norm"),
        nearest_centroid(F.col(vec_col), centers).alias("_bucket"),
    )
    return _cell_equi_cosine_pairs(
        bucketed, threshold=threshold, max_bucket=max_cluster
    )


def lsh_top_k(
    corpus: DataFrame,
    probe: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    proj: list[list[float]] | None = None,
    hamming_probe: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates share the probe's sign-projection
    bucket, then exact cosine within the bucket. Deterministic (fixed
    projection literals), so the oracle reproduces it exactly.

    ``hamming_probe=1`` enables multi-probe: buckets within Hamming
    distance 1 of the probe's bucket are also searched (each flipped
    bit is one near-miss projection) — the standard recall/latency
    trade, ~(bits+1)× candidates for far better recall.
    """
    proj = proj if proj is not None else projection_matrix()
    n_bits = len(proj)
    # same one-row contract as brute_force_top_k: a multi-row probe
    # would interleave scores and the global limit would mix probes'
    # neighbor lists — raising beats silently returning garbage
    if probe.limit(2).count() > 1:
        raise ValueError("lsh_top_k takes a ONE-row probe; use knn_join_bucketed for batches")
    if hamming_probe not in (0, 1):
        # raising beats silently serving radius-1 recall (the
        # knn_join_bucketed contract — the two operators must agree)
        raise ValueError(f"hamming_probe must be 0 or 1, got {hamming_probe}")
    # NULL vectors are never candidates (see embedding_near_duplicates);
    # norms precompute per row (the file-wide rule)
    bucketed = (
        corpus.filter(F.col(vec_col).isNotNull())
        .withColumn("_bucket", _sign_bits(F.col(vec_col), proj))
        .withColumn("_c_norm", l2_norm(F.col(vec_col)))
    )
    probe_b = F.broadcast(
        probe.select(
            F.col(vec_col).alias("_probe_vec"),
            l2_norm(F.col(vec_col)).alias("_p_norm"),
            _sign_bits(F.col(vec_col), proj).alias("_probe_bucket"),
        )
    )
    if hamming_probe == 0:
        cond = F.col("_bucket") == F.col("_probe_bucket")
    else:
        probed = [F.col("_probe_bucket")] + [
            F.expr(f"_probe_bucket ^ {1 << i}") for i in range(n_bits)
        ]
        cond = F.col("_bucket").isin(*probed)
    cand = bucketed.join(probe_b, cond)
    score = cosine_from_norms(
        F.col(vec_col), F.col("_probe_vec"), F.col("_c_norm"), F.col("_p_norm")
    )
    scored = cand.select(
        F.col(id_col),
        portable_round(score, 6).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


_FIT_SAMPLE_MAX_DEFAULT = 100_000


def _kmeans_fit_input(
    with_vec: DataFrame, id_col: str, fit_sample_max: int | None, seed: int
) -> DataFrame:
    """Cap the quantizer's FIT input with a deterministic id-hash
    sample (VERDICT r4 #4): k-means converges on a bounded sample —
    cluster geometry is a distributional property, not a per-row one —
    so fitting on the full corpus at 100 TB is pure waste (every
    iteration is a full pass). The cap costs one count() at build time
    (control-plane, amortized across every query the index serves);
    the keep-set is ``xxhash64(id, seed) mod 1e6 < keep`` — stable
    under re-partitioning and reruns, same id-hash technique as
    ``operators.sampling`` (portability to DuckDB is irrelevant here:
    k-means itself is not cross-engine reproducible). ASSIGNMENT is
    untouched — every corpus vector still gets its nearest cell."""
    if fit_sample_max is None:
        return with_vec
    if fit_sample_max < 1:
        raise ValueError("fit_sample_max must be >= 1 (or None for no cap)")
    n = with_vec.count()
    if n <= fit_sample_max:
        return with_vec
    # denom scales with n so keep >= 16 at ANY corpus size: a fixed
    # 1e6 modulus floors keep at 1 once n > 1e6 * fit_sample_max and
    # the sample silently overshoots the cap (n/1e6 rows, growing with
    # the corpus). Power-of-two denom >= 2^20, sized so the keep
    # fraction has <= 1/16 relative error.
    denom = 1 << max(20, (16 * n // fit_sample_max).bit_length())
    keep = max(1, (fit_sample_max * denom) // n)
    return with_vec.filter(
        F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(denom)) < F.lit(keep)
    )


def ivf_build_index(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_lists: int = 16,
    seed: int = 42,
    fit_sample_max: int | None = _FIT_SAMPLE_MAX_DEFAULT,
) -> tuple[DataFrame, list[list[float]]]:
    """Train the IVF coarse quantizer and assign every vector a cell:
    returns (corpus + ``_cell`` int column, cell centers). One spark.ml
    KMeans fit (fixed seed) on a deterministically-capped sample (see
    :func:`_kmeans_fit_input` — at corpus scale the quantizer trains on
    ``fit_sample_max`` vectors, while ASSIGNMENT stays full-corpus),
    amortized across every query served from the written index."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from tia_data_pipeline_spark.functions.vectors import valid_vector

    # degenerate vectors are excluded before the ML boundary: a single
    # NULL features row aborts KMeans.fit / model.transform, and the ML
    # layer RAISES outright on NaN/Inf components ("Vector values MUST
    # NOT be NaN or Infinity") — one poisoned row would otherwise kill
    # the whole index build, so the full valid_vector precondition
    # (non-NULL, non-empty, all elements finite) gates the build
    with_vec = corpus.filter(valid_vector(F.col(vec_col))).withColumn(
        "_mlvec", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    model = KMeans(k=n_lists, seed=seed, featuresCol="_mlvec", predictionCol="_cell").fit(
        _kmeans_fit_input(with_vec, id_col, fit_sample_max, seed)
    )
    assigned = model.transform(with_vec).drop("_mlvec")
    centers = [[float(x) for x in c] for c in model.clusterCenters()]
    return assigned, centers


_IVF_CENTERS_DIR = IVF.side_dirs[0]


def _center_d2(vec: Column, center: list[float]) -> Column:
    """Squared euclidean distance of an array<double> column to one
    literal center — the single distance formula shared by cell
    assignment, train baselines, and drift stats."""
    c = F.array(*[F.lit(float(v)) for v in center])
    return F.aggregate(
        F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def ivf_write_index(
    assigned: DataFrame,
    centers: list[list[float]],
    path: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Persist the IVF index with the cell id as a WRITE-TIME PARTITION
    COLUMN (``…/_cell=K/``) — the 100 TB serving shape: a query's
    ``_cell IN (nearest n_probe)`` predicate becomes a partition filter
    and the scan never opens the other ``n_lists - n_probe`` cells'
    files.

    Two side tables make the index self-describing (the meta discipline
    of every persisted index, operators/index.py):

    - ``_ivf_centers``: one row per cell — the center vector PLUS the
      training distance baseline (n, mean d², p95 d² of the build
      corpus's own vectors to their center). The baseline is the
      re-train trigger's denominator: :func:`ivf_drift_stats` and
      :func:`ivf_index_append` compare appended vectors against it.
    - ``_ivf_meta``: one row — (n_lists, dim, id_col, vec_col,
      schema_json). ``schema_json`` lets probes read an EMPTY or
      fully-deleted index with an explicit schema."""
    spark = assigned.sparkSession
    cf = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centers)], "cell int, center array<double>"
    )
    assigned.write.partitionBy("_cell").mode("overwrite").parquet(path)
    # per-cell training baseline from the JUST-WRITTEN index (the
    # _write_corpus_stats rule — review r9: aggregating the source
    # lineage would re-run the whole upstream, in production a second
    # full-corpus KMeans transform, for numbers already sitting in the
    # files one line up); cells the training corpus never populated get
    # n=0 baselines via the left join
    written = spark.read.schema(assigned.schema).parquet(path)
    vec = F.col(vec_col).cast("array<double>")
    dists = F.array(*[_center_d2(vec, c) for c in centers])
    per_cell = (
        written.select(
            F.col("_cell"), F.element_at(dists, F.col("_cell") + 1).alias("_d2")
        )
        .groupBy("_cell")
        .agg(
            F.count(F.lit(1)).alias("train_n"),
            F.avg("_d2").alias("train_mean_d2"),
            F.percentile_approx("_d2", 0.95).alias("train_p95_d2"),
        )
    )
    baseline = cf.join(
        per_cell, cf["cell"] == per_cell["_cell"], "left"
    ).select(
        "cell",
        "center",
        F.coalesce("train_n", F.lit(0)).alias("train_n"),
        "train_mean_d2",
        "train_p95_d2",
    )
    baseline.coalesce(1).write.mode("overwrite").parquet(f"{path}/{_IVF_CENTERS_DIR}")
    meta = [
        (
            len(centers),
            len(centers[0]) if centers else 0,
            id_col,
            vec_col,
            assigned.schema.json(),
        )
    ]
    spark.createDataFrame(
        meta, "n_lists int, dim int, id_col string, vec_col string, schema_json string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/{IVF.meta_dir}")


def ivf_read_centers(spark, path: str) -> list[list[float]]:
    """Centers side table → ordered list. n_lists rows on the driver —
    control-plane metadata, not a data collect."""
    rows = spark.read.parquet(f"{path}/{_IVF_CENTERS_DIR}").select(
        "cell", "center"
    ).collect()
    by_cell = {int(r["cell"]): [float(x) for x in r["center"]] for r in rows}
    return [by_cell[i] for i in range(len(by_cell))]


def ivf_index_meta(spark, path: str) -> dict:
    """Meta side table → ``{n_lists, dim, id_col, vec_col,
    schema_json}`` (one driver row — control plane); a ``ValueError``
    naming the path when the table is missing."""
    return index_meta(IVF, spark, path)


def ivf_search_batch(
    probes: DataFrame,
    index_path: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
    k: int = 10,
    n_probe: int = 4,
    centers: list[list[float]] | None = None,
) -> DataFrame:
    """Serve a batch of probes from the written IVF index — the one
    IVF serve path (a single probe is a one-row ``probes`` frame; a
    one-shot in-memory search is :func:`ivf_build_index` →
    :func:`ivf_write_index` → this): each probe ranks the ``n_lists``
    centers in-expression and explodes to its ``n_probe`` nearest
    cells; the index scan prunes to the UNION of touched cells (a
    literal ``IN`` over ≤ n_lists values — control plane,
    PartitionFilters planned);
    the exploded probe frame BROADCASTS onto the pruned scan for an
    equi-join on the cell id; exact cosine re-ranks and a per-probe
    rank-limited window (map-side WindowGroupLimit) keeps the top k.

    Returns ``(probe_id, vec_id, score, rnk)`` with the fixed
    (score desc, id asc) tiebreak. NULL probe ids/vectors are excluded
    at the source (a NULL vector has no cell; a NULL id can't be ranked
    per-probe). At 100 TB the query batch reads at most
    |touched cells| / n_lists of the index, and only probe rows — a
    micro-batch of queries, never the corpus — move in the join."""
    spark = probes.sparkSession
    cs = centers if centers is not None else ivf_read_centers(spark, index_path)
    pb = (
        _ivf_probe_frame(probes, cs, vec_col, probe_id_col, n_probe)
        # persist: consumed twice (touched-cell collect + the join).
        # Lifecycle = CacheManager until clearCache/session end, the
        # index_probe rule; the streaming loop builds the
        # frame itself and releases it on every exit path.
        .persist()
    )
    return _ivf_batch_topk(
        pb, spark, index_path, vec_col, id_col, probe_id_col, k,
        ivf_index_meta(spark, index_path),
    )


def _nearest_cells_expr(
    vec: Column, centers: list[list[float]], n_probe: int
) -> Column:
    """The ``n_probe`` nearest center ids of a vector, ranked by
    (squared distance, cell id) in one expression — the probe side of
    :func:`_ivf_probe_frame`, built on :func:`_center_d2` so probe
    routing and the index's distance stats share one distance
    formula."""
    dists = F.array(*[_center_d2(vec.cast("array<double>"), c) for c in centers])
    order = F.array_sort(
        F.transform(dists, lambda d, i: F.struct(d.alias("d"), i.alias("cell")))
    )
    return F.slice(F.transform(order, lambda s: s["cell"]), 1, n_probe)


def _ivf_probe_frame(
    probes: DataFrame,
    centers: list[list[float]],
    vec_col: str,
    probe_id_col: str,
    n_probe: int,
) -> DataFrame:
    """(_pid, _p_vec, _p_norm, _cell) probe frame: each probe ranks the
    centers in-expression and explodes to its n_probe nearest cells.

    Preconditions stated here: NULL or non-finite vectors and NULL ids
    are excluded (``valid_vector`` — an Inf component makes every
    cosine NaN, which would otherwise floor to score 0.0 and outrank
    genuine negative-score candidates); exactly ONE vector per probe
    id (duplicate rows would interleave two candidate streams under one
    rank window) — exact duplicates collapse, and conflicting same-id
    rows resolve DETERMINISTICALLY to the smallest vector, so a
    replayed batch reproduces identical output either way."""
    from tia_data_pipeline_spark.functions.vectors import valid_vector

    one_per_id = (
        probes.filter(F.col(probe_id_col).isNotNull() & valid_vector(F.col(vec_col)))
        .groupBy(F.col(probe_id_col).alias("_pid"))
        .agg(
            F.min(F.struct(F.col(vec_col).cast("array<double>").alias("v"))).alias("_m")
        )
        .select("_pid", F.col("_m.v").alias("_p_vec"))
    )
    return one_per_id.select(
        "_pid",
        "_p_vec",
        l2_norm(F.col("_p_vec")).alias("_p_norm"),
        F.explode(_nearest_cells_expr(F.col("_p_vec"), centers, n_probe)).alias(
            "_cell"
        ),
    )


def _ivf_batch_topk(
    pb: DataFrame,
    spark,
    index_path: str,
    vec_col: str,
    id_col: str,
    probe_id_col: str,
    k: int,
    meta: dict,
) -> DataFrame:
    """Search core shared by the batch operator and the streaming
    loop: pruned index scan (PartitionFilters from the probes' touched
    cells, read with the meta's explicit schema — ADVICE r8) →
    tombstone mask → broadcast probe equi-join on the cell → exact
    cosine → per-probe rank-limited window. The streaming loop passes
    the once-read ``meta`` through (immutable after write — the
    read-once-per-stream rule)."""
    idx = mask_tombstones(
        IVF,
        read_index(IVF, spark, index_path, meta).filter(_touched(IVF, pb, meta)),
        index_path,
        meta,
    )
    cand = idx.withColumn("_c_norm", l2_norm(F.col(vec_col))).join(
        F.broadcast(pb), "_cell"
    )
    from tia_data_pipeline_spark.functions.text import finite_value

    # finite_value nullifies NaN/Inf scores (an INDEX vector with a
    # non-finite component — the probe side is valid_vector-filtered —
    # would otherwise floor to 0.0 in portable_round and outrank
    # genuine negative-cosine candidates); the isNotNull filter then
    # drops the garbage candidate instead of ranking it
    score = finite_value(
        cosine_from_norms(
            F.col(vec_col), F.col("_p_vec"), F.col("_c_norm"), F.col("_p_norm")
        )
    )
    w = Window.partitionBy("_pid").orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        cand.select("_pid", F.col(id_col), portable_round(score, 6).alias("score"))
        .filter(F.col("score").isNotNull())
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("_pid").alias(probe_id_col), F.col(id_col), "score", "rnk"
        )
    )


def ivf_index_append(new_vecs: DataFrame, index_path: str) -> dict:
    """Append a vector shard to the written IVF index — the write-side
    increment of the IVF lifecycle. Each new vector is assigned to its
    nearest PINNED centroid (the index's own centers — appending never
    moves a center); the index core's append delta
    (``operators.index._append_delta``, shared by all five families)
    anti-joins already-indexed ids over the touched ``_cell``
    partitions only (idempotent: twice ≡ once), and its partitioned
    write appends one file per touched cell.

    Ids are IMMUTABLE once indexed (ADVICE r9 #3): the idempotency
    anti-join is scoped to the batch's touched cells — the 100 TB
    posture (nothing about the append scales with history) — so
    re-submitting an id with a CHANGED embedding can land in a
    different cell and would append a second row under the same
    identity. Re-ingesting changed content goes through
    :func:`ivf_index_delete` + :func:`ivf_index_compact` first (the
    tombstone-wins discipline shared with the other index families).

    Returns the batch's centroid-drift reading — the re-train signal:
    ``{"appended", "batch_n", "batch_mean_d2", "train_mean_d2",
    "drift_ratio"}`` where ``train_mean_d2`` is the build corpus's own
    mean squared distance to its centers (from the per-cell baselines
    in ``_ivf_centers``) and ``drift_ratio`` = batch mean / train mean.
    A ratio drifting above ~1.5 means the pinned quantizer no longer
    fits the incoming distribution: cells fatten, ``n_probe`` recall
    decays, and a re-train (full :func:`ivf_build_index` rebuild) is
    due. Per-cell granularity lives in :func:`ivf_drift_stats`.

    At 100 TB: assignment is one expression over the shard (n_lists
    center literals — control plane), the anti-join reads only touched
    partitions, and nothing about the append scales with history."""
    from tia_data_pipeline_spark.functions.vectors import valid_vector

    spark = new_vecs.sparkSession
    meta = ivf_index_meta(spark, index_path)
    centers = ivf_read_centers(spark, index_path)
    vec_col, id_col = meta["vec_col"], meta["id_col"]
    vec = F.col(vec_col).cast("array<double>")
    # nearest_centroid_struct: the ONE cross-engine-pinned assignment
    # form (expansion, dot folds + shared literals) — an appended
    # vector lands in exactly the cell the q_ivf_append oracle derives
    nearest = nearest_centroid_struct(vec, centers)
    # valid_vector precondition matches the build side: a NULL/empty/
    # non-finite vector has no cell and would poison the drift average
    assigned = (
        new_vecs.filter(valid_vector(F.col(vec_col)) & F.col(id_col).isNotNull())
        .withColumn("_nc", nearest)
        .withColumn("_cell", F.col("_nc.i"))
        .withColumn("_d2", F.col("_nc.d"))
        .persist()  # consumed 3× (touched collect, delta write, drift agg);
        # append is EAGER, so the lifecycle is exact (released below)
    )
    try:
        # touched-cells-only scope: exact under the ids-immutable
        # contract (an unchanged embedding re-lands in its own cell)
        delta = _append_delta(IVF, assigned, index_path, meta)
        data_fields = [f for f in index_schema(IVF, meta).fields if f.name != "_cell"]
        missing = [f.name for f in data_fields if f.name not in delta.columns]
        if missing:
            # fail with names, not an unresolved-column plan dump: the
            # index's payload columns are CONTENT — silently NULLing
            # them would be data loss a probe only notices much later
            raise ValueError(
                f"shard is missing index payload columns {missing}; the "
                f"index schema carries {[f.name for f in data_fields]}"
            )
        cols = [F.col(f.name).cast(f.dataType) for f in data_fields] + [
            F.col("_cell")
        ]
        appended = delta.select(*cols).persist()
        # count BEFORE the write: writing to index_path makes Spark
        # re-cache every cached plan that scans it (recacheByPath), and
        # this delta's lineage includes the index scan via the
        # anti-join — counting after the write would re-run the
        # anti-join against the just-appended rows and report 0
        n_appended = appended.count()
        _write_partitioned(IVF, appended, index_path, "append")
        appended.unpersist()
        drift = assigned.agg(
            F.count(F.lit(1)).alias("n"), F.avg("_d2").alias("mean_d2")
        ).collect()[0]
        batch_n = int(drift["n"])
        batch_mean = _float_or_none(drift["mean_d2"])
        train_mean = _float_or_none(_train_baseline(spark, index_path)["train_mean_d2"])
        ratio = (
            round(batch_mean / train_mean, 6)
            if batch_mean is not None and train_mean
            else None
        )
        return {
            "appended": int(n_appended),
            "batch_n": batch_n,
            "batch_mean_d2": batch_mean,
            "train_mean_d2": train_mean,
            "drift_ratio": ratio,
        }
    finally:
        assigned.unpersist()


def ivf_drift_stats(spark, index_path: str) -> DataFrame:
    """Per-cell centroid-staleness census — one row per cell:
    ``(cell, n, mean_d2, p95_d2, train_n, train_mean_d2, train_p95_d2,
    mean_ratio)`` comparing the index's CURRENT population (appends
    included, tombstones masked) against the training baseline frozen
    at build time. ``mean_ratio`` ≫ 1 in a subset of cells means the
    incoming distribution drifted into those regions — the per-cell
    re-train trigger (the aggregate form is returned by every
    :func:`ivf_index_append`). One aggregate job over the index."""
    meta = ivf_index_meta(spark, index_path)
    centers = ivf_read_centers(spark, index_path)
    vec = F.col(meta["vec_col"]).cast("array<double>")
    dists = F.array(*[_center_d2(vec, c) for c in centers])
    cur = (
        mask_tombstones(IVF, read_index(IVF, spark, index_path, meta), index_path, meta)
        .select(
            F.col("_cell").alias("cell"),
            F.element_at(dists, F.col("_cell") + 1).alias("_d2"),
        )
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("_d2").alias("mean_d2"),
            F.percentile_approx("_d2", 0.95).alias("p95_d2"),
        )
    )
    base = spark.read.parquet(f"{index_path}/{_IVF_CENTERS_DIR}").select(
        "cell", "train_n", "train_mean_d2", "train_p95_d2"
    )
    ratio = F.when(
        F.col("train_mean_d2") > 0, F.col("mean_d2") / F.col("train_mean_d2")
    )
    return (
        base.join(cur, "cell", "left")
        .select(
            "cell",
            F.coalesce("n", F.lit(0)).alias("n"),
            "mean_d2",
            "p95_d2",
            "train_n",
            "train_mean_d2",
            "train_p95_d2",
            F.round(ratio, 6).alias("mean_ratio"),
        )
        .orderBy("cell")
    )


def ivf_retrain(
    spark,
    index_path: str,
    *,
    n_lists: int | None = None,
    seed: int = 42,
    fit_sample_max: int | None = _FIT_SAMPLE_MAX_DEFAULT,
) -> dict:
    """Re-train the coarse quantizer on the index's CURRENT live
    membership and atomically swap in the new generation — the consumer
    of the drift signal :func:`ivf_index_append` returns (VERDICT r9
    #5): appends assign to PINNED centers, so a drifting corpus fattens
    cells and decays ``n_probe`` recall; when the returned
    ``drift_ratio`` trends above ~1.5 (or :func:`ivf_drift_stats` shows
    a hot subset of cells), this rebuilds the quantizer so the ratio
    returns to ~1.

    Mechanics: one tombstone-masked read of the live membership (the
    pending deletes are APPLIED by the rebuild — the new generation
    starts with no ``_tombstones`` dir), a fresh
    :func:`ivf_build_index` fit (sample-capped KMeans; assignment stays
    full-membership), a complete :func:`ivf_write_index` generation —
    data, per-cell baselines, meta — written to the staging dir of
    ``operators.scale.replace_dir``, which publishes it: a FAILED
    publish rename rolls the move-aside back in-process, so an error
    never leaves the path empty. Like compaction it is NOT
    crash-transactional: a hard kill exactly between the two renames
    leaves the previous generation at ``<path>__old``, which the next
    publish renames back first, and a probe listing files inside the
    swap window should retry; run in the maintenance window.

    Search results over unchanged data are preserved up to cell
    geometry: every probe re-ranks with EXACT cosine inside its probed
    cells, so a query whose true top-k lies within ``n_probe`` cells of
    both quantizers returns identical rows (and ``n_probe = n_lists``
    is always exactly identical — tested both ways in
    tests/test_ivf_lifecycle.py).

    Returns ``{"rows", "n_lists", "train_mean_d2"}`` for the new
    generation."""
    from tia_data_pipeline_spark.functions.vectors import valid_vector
    from tia_data_pipeline_spark.operators.scale import replace_dir

    _require_local_path(index_path, "ivf_retrain")
    meta = ivf_index_meta(spark, index_path)
    k = n_lists if n_lists is not None else meta["n_lists"]
    vec_col, id_col = meta["vec_col"], meta["id_col"]
    live = (
        mask_tombstones(IVF, read_index(IVF, spark, index_path, meta), index_path, meta)
        .drop("_cell")
        .persist()  # consumed twice: the guard count and the fit/assign
    )
    try:
        n_valid = live.filter(valid_vector(F.col(vec_col))).count()
        if n_valid < k:
            raise ValueError(
                f"ivf_retrain: {n_valid} live valid vectors < n_lists={k}; "
                "lower n_lists or keep the current generation"
            )
        assigned, centers = ivf_build_index(
            live,
            vec_col=vec_col,
            id_col=id_col,
            n_lists=k,
            seed=seed,
            fit_sample_max=fit_sample_max,
        )
        with replace_dir(spark, index_path) as staging:
            ivf_write_index(assigned, centers, staging, vec_col=vec_col, id_col=id_col)
    finally:
        live.unpersist()
    base = _train_baseline(
        spark, index_path, F.coalesce(F.sum("train_n"), F.lit(0)).alias("rows")
    )
    return {
        "rows": int(base["rows"]),
        "n_lists": k,
        "train_mean_d2": _float_or_none(base["train_mean_d2"]),
    }


def _float_or_none(v) -> float | None:
    return float(v) if v is not None else None


def _train_baseline(spark, index_path: str, *aggs: Column):
    """One-row aggregate over the per-cell training baselines: ``aggs``
    plus ``train_mean_d2``, the build corpus's mean squared distance to
    its centers (n-weighted over the populated cells)."""
    mean = F.sum(F.col("train_n") * F.col("train_mean_d2")) / F.sum(
        F.when(F.col("train_mean_d2").isNotNull(), F.col("train_n"))
    )
    return (
        spark.read.parquet(f"{index_path}/{_IVF_CENTERS_DIR}")
        .agg(*aggs, mean.alias("train_mean_d2"))
        .collect()[0]
    )


def ivf_index_delete(ids: DataFrame, index_path: str, *, id_col: str | None = None) -> None:
    """Tombstone vectors out of the IVF index (``index.index_delete``);
    ``id_col`` defaults to the meta's id column."""
    index_delete(IVF, ids, index_path, id_col=id_col)


def ivf_index_compact(spark, path: str) -> dict:
    """One file per ``_cell`` partition, pending tombstones applied
    (``index.index_compact``)."""
    return index_compact(IVF, spark, path)


def knn_join_bucketed(
    corpus: DataFrame,
    probes: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
    k: int = 10,
    proj: list[list[float]] | None = None,
    hamming_probe: int = 1,
) -> DataFrame:
    """Batch k-NN for probe sets too large to broadcast: LSH
    bucket-equi-join instead of a broadcast scan.

    :func:`knn_join` requires the probe relation to fit a broadcast;
    when the probe *batch* is itself large (re-embedding a corpus,
    joining two embedding tables), the scale shape flips: bucket BOTH
    sides with the same sign projection and equi-join on the bucket id.
    Each probe expands to its own bucket plus every Hamming-1 neighbor
    (``hamming_probe=1``, the multi-probe recall trade) — (bits+1) rows
    per probe, all distinct bucket ids, so a (probe, corpus) pair can
    match through at most one bucket and needs no dedup.

    The join is declared SHUFFLE_HASH: this operator exists precisely
    because neither side fits a broadcast, so the plan must be a hash
    shuffle on the bucket id — no broadcast, no cross product. The
    per-probe top-k is a rank-limited window (map-side WindowGroupLimit
    before the probe_id exchange). Deterministic (fixed projection
    literals), so a SQL oracle reproduces it exactly.
    """
    from pyspark.sql.window import Window

    if hamming_probe not in (0, 1):
        raise ValueError(
            "hamming_probe must be 0 (own bucket) or 1 (+ Hamming-1 "
            "neighbors); larger radii are not implemented — raising "
            "beats silently serving radius-1 recall"
        )
    proj = proj if proj is not None else projection_matrix()
    n_bits = len(proj)
    # NULL vectors are never candidates (the file-wide rule): unfiltered
    # they would all fold to sign bucket 0, pool as junk candidates for
    # every probe near bucket 0, and surface NULL-score rank rows
    c = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col),
        F.col(vec_col).alias("_corpus_vec"),
        l2_norm(F.col(vec_col)).alias("_c_norm"),
        _sign_bits(F.col(vec_col), proj).alias("_bucket"),
    )
    pb = probes.select(
        F.col(probe_id_col).alias("_probe_id"),
        F.col(vec_col).alias("_probe_vec"),
        l2_norm(F.col(vec_col)).alias("_p_norm"),
        _sign_bits(F.col(vec_col), proj).alias("_pbucket"),
    )
    if hamming_probe == 0:
        probed = F.array(F.col("_pbucket"))
    else:
        probed = F.array(
            F.col("_pbucket"),
            *[F.expr(f"_pbucket ^ {1 << i}") for i in range(n_bits)],
        )
    p = pb.select("_probe_id", "_probe_vec", "_p_norm", F.explode(probed).alias("_bucket"))
    cand = c.join(p.hint("SHUFFLE_HASH"), "_bucket")
    score = cosine_from_norms(
        F.col("_corpus_vec"), F.col("_probe_vec"), F.col("_c_norm"), F.col("_p_norm")
    )
    scored = cand.select(
        F.col("_probe_id").alias(probe_id_col),
        F.col(id_col),
        portable_round(score, 6).alias("score"),
    )
    w = Window.partitionBy(probe_id_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(probe_id_col, id_col, "score", F.col("_rn").cast("bigint").alias("rank"))
    )


def knn_join(
    corpus: DataFrame,
    probes: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
    k: int = 10,
) -> DataFrame:
    """Batch k-NN join: for EVERY probe row, the exact top-k cosine
    neighbors in the corpus — the retrieval shape an LLM pipeline
    actually runs (N query embeddings at once), vs the single-probe
    :func:`brute_force_top_k`.

    Scale shape: the probe side is broadcast (queries are the small
    relation), so the corpus is scanned ONCE for all probes with no
    shuffle of corpus rows; scoring is a narrow projection, and the
    per-probe top-k is a rank-limited window — Spark plans it as
    WindowGroupLimit, i.e. each task keeps only k rows per probe before
    the single shuffle on probe_id. Driver-visible output is
    |probes|·k rows, never the cross product. Ordering ties break on
    the corpus id so the k-boundary is deterministic cross-engine.
    """
    from pyspark.sql.window import Window

    # norms precompute per ROW on each side (the file-wide rule the
    # pair-expansion operators follow): scoring a pair then costs one
    # dot fold, not three — identical doubles, the denominators are
    # the same sqrt values cosine_similarity would produce
    p = F.broadcast(
        probes.select(
            F.col(probe_id_col).alias("_probe_id"),
            F.col(vec_col).alias("_probe_vec"),
            l2_norm(F.col(vec_col)).alias("_p_norm"),
        )
    )
    # NULL vectors are never candidates (the file-wide rule)
    c = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("_c_norm")
    )
    score = cosine_from_norms(
        F.col(vec_col), F.col("_probe_vec"), F.col("_c_norm"), F.col("_p_norm")
    )
    scored = c.crossJoin(p).select(
        F.col("_probe_id").alias(probe_id_col),
        F.col(id_col),
        portable_round(score, 6).alias("score"),
    )
    w = Window.partitionBy(probe_id_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(probe_id_col, id_col, "score", F.col("_rn").cast("bigint").alias("rank"))
    )


# ---------------------------------------------------------------------------
# Incremental embedding near-dup against a persisted sign-bucket index
# ---------------------------------------------------------------------------
# The vector member of the banded index families (operators/index.py).


def embedding_write_index(
    corpus: DataFrame,
    path: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    proj: list[list[float]] | None = None,
    bits: int = 4,
    seed: int = LSH_SEED,
) -> None:
    """Materialize the embedding near-dup index: (id, vec, norm) rows
    partitioned by sign-projection ``bucket=K`` dirs, the projection
    matrix in the meta side table so the prober reproduces the exact
    cells. 2^bits partition dirs: size ``bits`` with
    :func:`projection_bits_for` so expected bucket population stays
    ~10³ — pruning granularity and pair-expansion cost both follow it.
    Serving is the operators/index.py core over ``index.EMBEDDING``."""
    if proj is None:
        # dim from the first NON-NULL vector (review r8): size(NULL) is
        # NULL, and a wrong-width projection would NULL every dot
        # through zip_with padding and land the whole corpus in bucket 0
        row = (
            corpus.filter(F.col(vec_col).isNotNull())
            .select(F.size(F.col(vec_col)).alias("d"))
            .first()
        )
        dim = int(row["d"]) if row is not None else EMBED_DIM
        proj = projection_matrix(bits=bits, dim=dim, seed=seed)
    meta = {"proj_json": json.dumps(proj)}
    cols = {"vec_col": vec_col, "id_col": id_col}
    write_index_frame(EMBEDDING, EMBEDDING.band(corpus, meta, cols), path, meta)
