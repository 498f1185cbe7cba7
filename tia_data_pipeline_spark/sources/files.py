"""JSON staging file source/sink (SURVEY ops `src-json-file`,
`snk-json-file`).

The reference stages every task boundary through JSON array files on a
shared volume (``posts_pipeline.py:25-32``); in Spark the stages
pipeline lazily and staging is only for durability. These helpers keep
the same observable contract (schema-checked records in/out) with
line-delimited JSON — the splittable, parallel-friendly form —
while accepting the reference's array-file form on read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_json_records(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    multi_line: bool = False,
) -> DataFrame:
    """Schema-declared JSON read; ``multi_line=True`` accepts the
    reference's single-array-file staging format. PERMISSIVE mode with
    a corrupt-record column — malformed payloads land in
    ``_corrupt_record`` instead of failing the job."""
    # Copy, don't schema.add(): StructType.add mutates the caller's
    # schema object in place.
    full = (
        T.StructType(list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())])
        if "_corrupt_record" not in schema.names
        else schema
    )
    return spark.read.json(
        path,
        schema=full,
        multiLine=multi_line,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    )


def write_json_records(df: DataFrame, path: str, *, partitions: int | None = None) -> None:
    """Line-delimited JSON sink (one object per line, splittable on
    re-read — unlike the reference's one-array-per-file staging)."""
    out = df.repartition(partitions) if partitions else df
    out.write.mode("overwrite").json(path)

