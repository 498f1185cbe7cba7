"""Feature-engineering operators (training-data preparation).

Per-group statistical normalization: :func:`zscore` is pure Catalyst
window expressions. Moments are accumulated as exact integer cent sums
(``Σc``, ``Σc²``) so the variance formula is a fixed IEEE op sequence
over identical integers on any engine — the DuckDB oracle
(:func:`zscore_oracle_sql`) matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tia_data_pipeline_spark.functions.text import (
    dec19,
    finite_value,
    finite_value_sql,
    portable_round,
    portable_round_sql,
)


def zscore(
    df: DataFrame,
    key_col: str,
    value_col: str,
    id_cols: tuple[str, ...] = ("event_id",),
    decimals: int = 4,
) -> DataFrame:
    """Per-key z-score of a 2-dp money column, deterministic across
    engines: integer moments, explicit sample-variance formula, one
    division order. Groups with zero variance (or n=1) yield NULL."""
    # non-finite values nullify (corrupt measurement); both engines
    # then run the identical NULL-skipping arithmetic
    cents = F.round(finite_value(F.col(value_col)) * 100).cast("bigint")
    w = Window.partitionBy(key_col)
    # count VALID measurements, not rows: with a nullified (non-finite
    # or NULL) value in the group, count(*) would divide the
    # NULL-skipping sums by too many rows and bias mean/variance
    n = F.count(cents).over(w)
    # BOTH sums accumulate as DECIMAL, not BIGINT: each term stays
    # under the bound (project invariant) but the group SUM is
    # unbounded, and under ANSI mode a bigint overflow would kill the
    # query on a large high-valued group. Decimal(38) gives the same
    # exact-integer accumulation DuckDB's HUGEINT does; the final cast
    # to double rounds the identical integer on both engines.
    s1 = F.sum(cents.cast("decimal(38,0)")).over(w).cast("double")
    sq = (dec19(cents) * dec19(cents)).cast("decimal(38,0)")
    s2 = F.sum(sq).over(w).cast("double")
    mean = s1 / n
    var = (s2 - s1 * s1 / n) / (n - 1)
    z = (cents.cast("double") - mean) / F.sqrt(var)
    z = F.when((n > 1) & (var > 0), portable_round(z, decimals))
    return df.select(*id_cols, key_col, F.col(value_col), z.alias("zscore"))


def zscore_oracle_sql(
    table: str,
    key_col: str,
    value_col: str,
    id_cols: tuple[str, ...] = ("event_id",),
    decimals: int = 4,
) -> str:
    """DuckDB oracle mirroring :func:`zscore` op-for-op."""
    ids = ", ".join(id_cols)
    z = (
        f"((cents::DOUBLE - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1)))"
    )
    return (
        f"WITH c AS (SELECT {ids}, {key_col}, {value_col}, "
        f"  round({finite_value_sql(value_col)} * 100)::BIGINT AS cents FROM {table}), "
        f"m AS (SELECT *, count(cents) OVER w AS n, "
        f"  (sum(cents) OVER w)::DOUBLE AS s1, "
        f"  (sum(cents::HUGEINT * cents) OVER w)::DOUBLE AS s2 "
        f"  FROM c WINDOW w AS (PARTITION BY {key_col})) "
        f"SELECT {ids}, {key_col}, {value_col}, "
        f"CASE WHEN n > 1 AND (s2 - s1 * s1 / n) / (n - 1) > 0 "
        f"THEN {portable_round_sql(z, decimals)} END AS zscore FROM m"
    )
