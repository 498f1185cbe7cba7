"""Streaming incremental dedup — the serving loop over a persisted
banded near-dup index (any ``operators.index.IndexFamily``: MinHash,
SimHash or embedding sign-buckets), plus the deletion-request loop over
every index kind.

Every micro-batch probes the index for near-duplicates of what it
carries, emits the pairs and appends its own rows so later
batches dedupe against it — the streaming form of
``comments_pipeline.py:33``'s daily-increment semantics. Its pairs are
the index core's cross and intra legs, both replay-deterministic.

Exactly-once contents under ``foreachBatch``'s at-least-once replay:
each batch OVERWRITES its own ``batch_id=N`` subdirectory and the
append anti-joins already-indexed rows (twice ≡ once). The banded frame
is persisted once per batch, shared by both legs and the append, and
released on every exit path (one leaked cache per trigger exhausts
executor storage memory); the immutable meta is read once per stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from tia_data_pipeline_spark.operators.index import (
    FAMILIES,
    IndexFamily,
    _append_delta,
    _cross,
    _intra,
    _opts,
    _shard_side,
    _write_partitioned,
    index_delete,
    index_meta,
)
from tia_data_pipeline_spark.streaming.sinks import start_foreach_batch


def index_increment_batch(
    family: IndexFamily,
    batch: DataFrame,
    index_path: str,
    pairs_out: str,
    batch_id: int,
    *,
    meta: dict | None = None,
    **opts,
) -> None:
    """One micro-batch of the serving loop: (cross ∪ intra) pairs →
    ``pairs_out/batch_id=N`` (overwrite: replay-idempotent) → append
    the batch's own rows (idempotent). ``opts`` override
    ``family.defaults``. Callable directly for a scheduled daily job;
    :func:`stream_index_incremental` wires it to ``foreachBatch`` and
    passes the once-read ``meta`` through."""
    o = _opts(family, opts)
    spark = batch.sparkSession
    if meta is None:
        meta = index_meta(family, spark, index_path)
    check = family.check(meta, o)
    cap = o["max_bucket"]
    banded = family.band(batch, meta, o).persist()
    try:
        shard = _shard_side(family, banded, meta, cap)
        cross = _cross(family, shard, spark, index_path, meta, check, cap)
        cross.unionByName(_intra(family, banded, check, cap)).write.mode(
            "overwrite"
        ).parquet(f"{pairs_out}/batch_id={batch_id}")
        _write_partitioned(
            family, _append_delta(family, banded, index_path, meta), index_path, "append"
        )
    finally:
        banded.unpersist()


def stream_index_incremental(
    family: IndexFamily,
    stream: DataFrame,
    *,
    index_path: str,
    pairs_out: str,
    checkpoint: str,
    available_now: bool = True,
    **opts,
) -> StreamingQuery:
    """Run a document or vector stream through the incremental dedup
    loop. ``available_now=False`` runs continuously. The index must
    already exist (the family's ``*_write_index`` — day-zero bootstrap
    may write an EMPTY corpus; the meta table keeps it probeable)."""
    # the meta side table is immutable after write: read it ONCE here,
    # not per trigger, and fail fast on bad options (a mid-stream
    # per-batch failure would poison the checkpoint instead)
    meta = index_meta(family, stream.sparkSession, index_path)
    family.check(meta, _opts(family, opts))

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        index_increment_batch(
            family, batch_df, index_path, pairs_out, batch_id,
            meta=meta, **opts,
        )

    return start_foreach_batch(stream, write_batch, checkpoint, available_now)


def stream_index_deletes(
    id_stream: DataFrame,
    *,
    index_path: str,
    checkpoint: str,
    id_col: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Run a DELETION-REQUEST stream (takedown ids) against a persisted
    index of any kind — the write-side mirror of the append loops:
    documents arrive via :func:`stream_index_incremental` (or the IVF
    and text loops) and leave via this. Each micro-batch appends its
    ids as tombstones (idempotent — a foreachBatch replay re-tombstones
    already-tombstoned ids into nothing, so at-least-once delivery is
    exactly-once in effect). Physical removal stays the scheduled
    compact; probes mask immediately.

    ``id_col=None`` keeps the index's OWN default ("doc_id" for the
    text-hash families and the BM25 text index, "vec_id" for
    embedding, the meta-recorded column for IVF); pass it only to
    override. The index kind is read from the meta side table the dir
    carries, one of the five ``operators.index.FAMILIES``."""
    from tia_data_pipeline_spark.operators.scale import hadoop_fs_path

    def holds(family: IndexFamily) -> bool:
        fs, p = hadoop_fs_path(id_stream.sparkSession, f"{index_path}/{family.meta_dir}")
        return bool(fs.exists(p))

    family = next((f for f in FAMILIES if holds(f)), None)
    if family is None:
        raise ValueError(f"{index_path} holds no index meta table; write the index first")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        index_delete(family, batch_df, index_path, id_col=id_col)

    return start_foreach_batch(id_stream, write_batch, checkpoint, available_now)
