"""Streaming ANN query serving — the read-side loop over the persisted
IVF index (the write/probe dedup loops live in dedup_serve.py).

Probe vectors arrive as a stream; every micro-batch ranks its probes'
nearest cells, prunes the index scan to the touched partitions, and
writes each probe's exact-cosine top-k. The index is never mutated, so
replay idempotency needs only the per-batch-dir overwrite: a replayed
batch rewrites identical content (the search is a pure function of
(batch, index)). The centers side table is immutable after
``ivf_write_index`` — read ONCE per stream, not per trigger.

Inside one batch the exploded probe frame is persisted (consumed by the
touched-cell collect and the join) and released on every exit path —
the dedup_serve cache-hygiene rule: one leaked cache per trigger
exhausts executor storage memory on a long stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from tia_data_pipeline_spark.operators.similarity import (
    _ivf_batch_topk,
    _ivf_probe_frame,
    ivf_index_meta,
    ivf_read_centers,
)
from tia_data_pipeline_spark.streaming.sinks import start_foreach_batch


def ann_search_batch(
    batch_probes: DataFrame,
    index_path: str,
    topk_out: str,
    batch_id: int,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
    k: int = 10,
    n_probe: int = 4,
    centers: list[list[float]] | None = None,
    meta: dict | None = None,
) -> None:
    """One micro-batch of the ANN serving loop: per-probe top-k →
    ``topk_out/batch_id=N`` (overwrite — replay rewrites identical
    rows). Callable directly for a scheduled job;
    :func:`stream_ann_topk` wires it to ``foreachBatch`` and passes
    the once-read ``centers`` AND ``meta`` through (both immutable
    after ``ivf_write_index`` — a continuous stream must not pay a
    driver-side side-table read per trigger)."""
    spark = batch_probes.sparkSession
    cs = centers if centers is not None else ivf_read_centers(spark, index_path)
    pb = _ivf_probe_frame(batch_probes, cs, vec_col, probe_id_col, n_probe).persist()
    try:
        _ivf_batch_topk(
            pb, spark, index_path, vec_col, id_col, probe_id_col, k,
            meta if meta is not None else ivf_index_meta(spark, index_path),
        ).write.mode("overwrite").parquet(f"{topk_out}/batch_id={batch_id}")
    finally:
        pb.unpersist()


def stream_ann_topk(
    probe_stream: DataFrame,
    *,
    index_path: str,
    topk_out: str,
    checkpoint: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
    k: int = 10,
    n_probe: int = 4,
    available_now: bool = True,
) -> StreamingQuery:
    """Run a probe-vector stream through the IVF top-k serving loop
    (same trigger discipline as dedup_serve: ``available_now=True``
    drains and stops — the scheduled query-shard mode; ``False`` runs
    continuously). The index must already exist
    (:func:`…operators.similarity.ivf_write_index`)."""
    centers = ivf_read_centers(probe_stream.sparkSession, index_path)
    meta = ivf_index_meta(probe_stream.sparkSession, index_path)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        ann_search_batch(
            batch_df, index_path, topk_out, batch_id,
            vec_col=vec_col, id_col=id_col, probe_id_col=probe_id_col,
            k=k, n_probe=n_probe, centers=centers, meta=meta,
        )

    return start_foreach_batch(probe_stream, write_batch, checkpoint, available_now)


def ivf_append_batch(
    batch_vecs: DataFrame,
    index_path: str,
    drift_out: str,
    batch_id: int,
) -> dict:
    """One micro-batch of the IVF WRITE-side loop: assign the batch to
    the pinned centroids, append idempotently
    (:func:`…operators.similarity.ivf_index_append` — twice ≡ once, so
    a foreachBatch replay is safe), and record the batch's
    centroid-drift reading to ``drift_out/batch_id=N``.

    The persisted drift record carries only fields that are a PURE
    function of the batch (batch_n, batch_mean_d2, train_mean_d2,
    drift_ratio) — the dedup_serve replay rule: a replayed batch
    rewrites identical content. The ``appended`` count is
    crash-dependent (a replay appends 0) and is only RETURNED, never
    persisted."""
    from tia_data_pipeline_spark.operators.similarity import ivf_index_append

    spark = batch_vecs.sparkSession
    out = ivf_index_append(batch_vecs, index_path)
    record = [
        (
            int(batch_id),
            out["batch_n"],
            out["batch_mean_d2"],
            out["train_mean_d2"],
            out["drift_ratio"],
        )
    ]
    spark.createDataFrame(
        record,
        "batch_id int, batch_n bigint, batch_mean_d2 double, "
        "train_mean_d2 double, drift_ratio double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{drift_out}/batch_id={batch_id}")
    return out


def stream_ivf_append(
    vec_stream: DataFrame,
    *,
    index_path: str,
    drift_out: str,
    checkpoint: str,
    available_now: bool = True,
    retrain_above: float | None = None,
    retrain_min_batch_n: int = 1000,
    on_maintenance=None,
) -> StreamingQuery:
    """Run a vector stream through the IVF index-append loop — the
    write-side twin of :func:`stream_ann_topk` (same trigger
    discipline). ``drift_out``'s drift_ratio series is the re-train
    signal: batches consistently reading ≫1 mean the pinned quantizer
    is stale.

    ``retrain_above`` closes that loop automatically (VERDICT r10 #4 —
    previously runbook-ware): when a batch's drift_ratio reaches the
    threshold AND the batch carries at least ``retrain_min_batch_n``
    vectors (a tiny batch's mean is statistically noisy, and a retrain
    must amortize over real volume), the loop fires
    :func:`…operators.similarity.ivf_retrain` inline AFTER the append —
    the triggering batch is therefore part of the new generation's fit.
    Pass ``on_maintenance`` (a callable receiving the batch report dict,
    ``batch_id`` included) to emit a maintenance event INSTEAD of
    retraining inline: the inline default suits the ``availableNow``
    backfill form, where the drained stream is its own maintenance
    window; a continuous deployment serving probes concurrently should
    enqueue the event and retrain in its own window (the retrain
    publishes through ``operators.scale.replace_dir``, atomic per rename,
    but a probe listing files between its two renames should retry).

    Replay note (review r11): the per-batch drift record is a pure
    function of (batch, index GENERATION) — and an inline retrain
    changes the generation inside the batch, so a replay of the
    triggering batch (crash before its checkpoint commit) recomputes
    drift ≈1 against the new quantizer and overwrites its own spike
    record. The spike is therefore persisted DURABLY before the
    policy fires: a one-row maintenance record lands at
    ``drift_out/_maintenance/batch_id=N`` (carrying the triggering
    reading and the action taken) and survives the replay untouched,
    because the replayed batch reads under-threshold and never
    re-fires. The retrain side effect itself is deliberately NOT
    replay-idempotent in its trigger — the generation already includes
    the batch, and consecutive threshold-crossing batches self-quiet
    the same way."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = ivf_append_batch(batch_df, index_path, drift_out, batch_id)
        if retrain_above is None:
            return
        ratio = out.get("drift_ratio")
        due = (
            ratio is not None
            and ratio >= retrain_above
            and out["batch_n"] >= retrain_min_batch_n
        )
        if not due:
            return
        spark = batch_df.sparkSession
        action = "event" if on_maintenance is not None else "retrain"
        spark.createDataFrame(
            [(int(batch_id), out["batch_n"], ratio, action)],
            "batch_id int, batch_n bigint, drift_ratio double, action string",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{drift_out}/_maintenance/batch_id={batch_id}"
        )
        if on_maintenance is not None:
            on_maintenance(dict(out, batch_id=int(batch_id)))
        else:
            from tia_data_pipeline_spark.operators.similarity import ivf_retrain

            ivf_retrain(spark, index_path)

    return start_foreach_batch(vec_stream, write_batch, checkpoint, available_now)
