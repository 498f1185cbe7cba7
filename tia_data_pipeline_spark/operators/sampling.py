"""Deterministic hash-based sampling (training-data pipeline staple).

Random sampling (``df.sample``) is irreproducible across engines,
partitionings, and reruns; production data pipelines sample by
*content hash* instead: a row is in the sample iff
``hash(id) mod D < k`` — stable under re-partitioning, incremental
re-runs, and engine swaps (exactly the property the reference's
idempotent loads rely on for rows).

The hash here is the first hex digit of md5 (16 buckets) — portable
bit-for-bit to the DuckDB oracle (same construction as the SimHash
operator). Rates are therefore n/16 granular; compose digits for finer
grains.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tia_data_pipeline_spark.operators.dedup import md5_int

_BUCKETS = 16


def hash_bucket(id_col: str) -> Column:
    """0..15 INT bucket from the first md5 hex digit of the row id
    (:func:`~tia_data_pipeline_spark.operators.dedup.md5_int`) — the
    same value as :func:`hash_bucket_sql` evaluates in DuckDB."""
    return md5_int(F.col(id_col).cast("string"), 1).cast("int")


def hash_bucket_sql(id_col: str) -> str:
    """DuckDB form of :func:`hash_bucket` (its Spark twin), for the
    oracles."""
    return f"(instr('0123456789abcdef', substr(md5(cast({id_col} AS VARCHAR)), 1, 1)) - 1)"


def hash_sample(df: DataFrame, id_col: str, keep_buckets: int) -> DataFrame:
    """Deterministic ≈ keep_buckets/16 sample keyed on the id hash.

    NULL-id precondition (stated): ``md5(NULL)`` is NULL, so a NULL id
    hashes to a NULL bucket and the ``< keep_buckets`` predicate drops
    the row at EVERY rate — including 16 — identically in the DuckDB
    oracle form (``hash_bucket < k``). There is deliberately NO
    keep-all short-circuit (ADVICE r6): skipping the filter at rate 16
    would keep NULL-id rows the declared SQL twin drops, an asymmetry
    :func:`stratified_hash_sample` already avoids. Filter or repair
    NULL ids upstream if "keep all" must include them."""
    if not 0 <= keep_buckets <= _BUCKETS:
        raise ValueError("keep_buckets must be in [0, 16]")
    return df.filter(hash_bucket(id_col) < keep_buckets)


def stratified_hash_sample(
    df: DataFrame, id_col: str, strata_col: str, rates: dict[str, int], default: int = 0
) -> DataFrame:
    """Per-stratum deterministic sampling: ``rates`` maps stratum value
    → buckets kept (n/16). The downsample-the-majority-class shape of
    training-data curation, reproducible run to run.

    NULL-id precondition (stated): a NULL ``id_col`` buckets to NULL
    and fails every ``< threshold`` comparison — NULL-id rows are
    dropped even in a rate-16 ("keep all of this class") stratum,
    identically in the SQL oracle form below (no short-circuit here:
    the threshold is per-row, and the filter must stay symmetric with
    the oracle). Filter or repair NULL ids upstream if they can occur."""
    threshold = F.lit(default)
    for value, keep in rates.items():
        threshold = F.when(F.col(strata_col) == value, F.lit(keep)).otherwise(threshold)
    return df.filter(hash_bucket(id_col) < threshold)


def stratified_hash_sample_sql(
    table: str, id_col: str, strata_col: str, rates: dict, default: int = 0
) -> str:
    """DuckDB oracle for :func:`stratified_hash_sample`. Stratum values
    render as SQL literals matching the Spark comparison: strings are
    quote-escaped ('' doubling), numbers stay bare (quoting an int
    would compare text-vs-int and diverge from the DataFrame form)."""
    if not rates:
        return f"SELECT * FROM {table} WHERE {hash_bucket_sql(id_col)} < {default}"

    def lit(v) -> str:
        if v is None:
            # `col = NULL` is never true in SQL — exactly the Spark
            # form's behavior (== None yields NULL, falls to default)
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        if isinstance(v, (int, float)):
            return str(v)
        raise ValueError(f"unsupported stratum literal type: {type(v).__name__}")

    cases = " ".join(f"WHEN {strata_col} = {lit(v)} THEN {k}" for v, k in rates.items())
    return (
        f"SELECT * FROM {table} WHERE {hash_bucket_sql(id_col)} < "
        f"(CASE {cases} ELSE {default} END)"
    )
