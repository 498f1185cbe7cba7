"""REST ingestion sources.

Reference semantics:
- `src-rest-page` (``posts_pipeline.py:23-27``): GET one page of an
  envelope-wrapped array (``r.json()['posts']``) — the "30 latest".
- `src-rest-keyed` (``comments_pipeline.py:22-49``): for each key from
  a driving query, GET a per-key collection, skipping empty results.

The fetch callable is injected (tests use a fake; production wires
urllib/requests). Pagination fans out as one task per page via
``mapInPandas`` over a page-number DataFrame, so a 10k-page backfill
is cluster-parallel instead of the reference's serial driver loop; the
keyed fan-out likewise partitions the key set. Results come back as
JSON strings and are parsed against an explicit schema
(schema-on-read with a declared contract — SURVEY §1.3).
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# fetcher(page:int) -> list of record dicts  (already envelope-unwrapped)
PageFetcher = Callable[[int], list[dict]]
# fetcher(key) -> list of record dicts
KeyFetcher = Callable[[object], list[dict]]


def paginated_rest_source(
    spark: SparkSession,
    fetcher: PageFetcher,
    n_pages: int,
    schema: T.StructType,
    partitions: int | None = None,
) -> DataFrame:
    """Fan out page fetches across the cluster, parse to `schema`.

    One row per record; pages with no records contribute nothing
    (the reference's implicit behavior when the envelope array is
    empty)."""
    pages = spark.range(1, n_pages + 1).withColumnRenamed("id", "page")
    if partitions:
        pages = pages.repartition(partitions)

    def fetch_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                json.dumps(rec) for page in pdf["page"] for rec in fetcher(int(page))
            ]
            yield pd.DataFrame({"raw": payloads})

    raw = pages.mapInPandas(fetch_batch, schema="raw string")
    return raw.select(
        F.from_json("raw", schema, {"mode": "PERMISSIVE"}).alias("rec")
    ).select("rec.*")


def keyed_fanout_source(
    keys: DataFrame,
    key_col: str,
    fetcher: KeyFetcher,
    schema: T.StructType,
    *,
    skip_empty: bool = True,
) -> DataFrame:
    """Per-key collection fetch driven by a key DataFrame (the engine
    form of 'comments of yesterday's posts').

    The driving key set stays distributed (no ``collect()`` loop as in
    the reference ``comments_pipeline.py:34-37``); each task fetches
    its keys and emits (key, record-json) rows. ``skip_empty`` mirrors
    the reference's empty-list guard (``comments_pipeline.py:41``) —
    with fan-out semantics "skipped" is simply "no rows emitted";
    ``skip_empty=False`` instead emits ONE marker row per empty key
    (the key with every record column NULL), so downstream can tell
    "fetched, empty" from "never fetched".
    """

    key_type = dict(keys.dtypes)[key_col]
    integral_key = key_type in ("tinyint", "smallint", "int", "bigint")

    def fetch_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_keys: list = []
            out_raw: list[str | None] = []
            for key in pdf[key_col]:
                # a NULL in a nullable integral key column promotes the
                # whole pandas column to float64 (Arrow -> pandas), so
                # keys arrive as 1.0 / NaN — a real REST fetcher would
                # build 'posts/1.0/comments'. Skip NULLs (no endpoint to
                # fetch) and restore the integral type before the call.
                if pd.isna(key):
                    continue
                if integral_key:
                    key = int(key)
                recs = fetcher(key)
                if not recs:
                    if not skip_empty:
                        out_keys.append(key)
                        out_raw.append(None)  # from_json(NULL) → NULL struct
                    continue
                for rec in recs:
                    out_keys.append(key)
                    out_raw.append(json.dumps(rec))
            yield pd.DataFrame({"_key": out_keys, "raw": out_raw})

    raw = keys.select(key_col).mapInPandas(fetch_batch, schema=f"_key {key_type}, raw string")
    parsed = raw.select(
        F.col("_key").alias(key_col),
        F.from_json("raw", schema, {"mode": "PERMISSIVE"}).alias("rec"),
    )
    if key_col in schema.fieldNames():
        # the record schema declares the key itself — emitting the
        # driving-key helper column too would produce two identically
        # named columns and break every downstream reference
        return parsed.select("rec.*")
    return parsed.select(key_col, "rec.*")
