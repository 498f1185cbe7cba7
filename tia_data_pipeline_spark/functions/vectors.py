"""Vector (embedding) column functions.

Operate on ``array<float>`` / ``array<double>`` columns entirely with
Spark higher-order functions — JVM-side, no Python boundary. Elements
are cast to double before arithmetic so results agree bit-for-bit with
the DuckDB oracle's double-precision ``list_*`` functions (both engines
then do the same left-to-right summation).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns (double)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    """Euclidean norm of an array column."""
    return F.sqrt(
        F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_from_norms(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine similarity over norms the caller already has (per-row
    precomputed columns); NULL when either norm is zero."""
    denom = norm_a * norm_b
    return F.when(denom > 0, dot(a, b) / denom)


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector has zero norm."""
    return cosine_from_norms(a, b, l2_norm(a), l2_norm(b))


def valid_vector(vec: Column) -> Column:
    """The vector-measurement precondition, ONE definition for every
    embedding contract query (twin: :func:`valid_vector_sql`): the
    vector is non-NULL, non-empty, and every element is non-NULL and
    finite. Required on BOTH sides because the engines fail
    differently otherwise: DuckDB's ``list_dot_product`` RAISES on a
    list containing NULL elements where Spark's fold propagates NULL;
    an empty vector makes ``/ len(v)`` abort under ANSI where DuckDB
    returns NULL; a NaN/Inf component reaching a nano-unit
    ``floor(...)::BIGINT`` aborts both engines."""
    v = _as_double(vec)
    bad = lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == F.lit(float("inf")))  # noqa: E731
    return vec.isNotNull() & (F.size(v) > 0) & ~F.exists(v, bad)


def valid_vector_sql(expr: str) -> str:
    """DuckDB twin of :func:`valid_vector`."""
    v = f"({expr})::DOUBLE[]"
    return (
        f"({expr}) IS NOT NULL AND len({v}) > 0 AND len(list_filter({v}, "
        f"x -> x IS NULL OR isnan(x) OR isinf(x))) = 0"
    )


def valid_embeddings(spark, sf_dir: str):
    """The embeddings table behind the :func:`valid_vector`
    precondition — the ONE loader every embedding contract query uses
    (oracle twin: :data:`EMB_VALID_TABLE_SQL`)."""
    from tia_data_pipeline_spark.catalog import load_table

    return load_table(spark, sf_dir, "embeddings").filter(
        valid_vector(F.col("embedding"))
    )


def cosine_sql(a: str, b: str) -> str:
    """DuckDB fragment matching :func:`cosine_similarity` INCLUDING the
    zero-norm case: bare ``list_cosine_similarity`` returns -1.0 for a
    zero vector (verified on DuckDB 1.0.0) where the Spark form yields
    NULL, so the guard states Spark's ``denom > 0`` condition via
    self-dot-products (sum of squares > 0 ⟺ norm > 0, exactly)."""
    ad, bd = f"({a})::DOUBLE[]", f"({b})::DOUBLE[]"
    return (
        f"CASE WHEN list_dot_product({ad}, {ad}) > 0 "
        f"AND list_dot_product({bd}, {bd}) > 0 "
        f"THEN list_cosine_similarity({ad}, {bd}) END"
    )


# Derived-table form of the valid-vector precondition for oracles:
# substitute for a bare `embeddings` in FROM clauses, keeping the
# site's alias (`FROM {E} embeddings`, `FROM {E} c`).
EMB_VALID_TABLE_SQL = (
    f"(SELECT * FROM embeddings WHERE {valid_vector_sql('embedding')})"
)
