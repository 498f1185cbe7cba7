"""Multimodal column operators (SURVEY §2.4 ext-multimodal).

Images/audio/video ride as opaque ``binary`` columns with typed
metadata structs; decode / feature-extract / resize / frame-sample run
as Arrow-batched pandas transforms over ``mapInPandas``. Codec status:
``functions/codecs.py`` decodes the uncompressed formats for real with
pure numpy and is the one module that names them; it plugs in via
``decode_fn`` / ``resize_fn``. Compressed formats need a codec library
this container lacks; for those the deterministic stub stands in and a
deployment injects e.g. a Pillow/ffmpeg-backed callable with the same
signature. The Spark-side plumbing — schema, batch iteration,
partition sizing — is real and tested (tests/test_multimodal.py,
tests/test_codecs.py).

Scale posture: payload columns are only materialized in the stages
that touch them (column pruning keeps metadata-only queries off the
bytes); batches stream through Arrow so peak memory is
``maxRecordsPerBatch × avg payload``, not the partition size.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (payload bytes) -> dict of extracted features
DecodeFn = Callable[[bytes], dict]

DECODED_SCHEMA = (
    "id bigint, n_bytes bigint, format string, width int, height int, checksum bigint"
)


def fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in for an image decoder: 'format' from the
    magic byte, dimensions + checksum derived from the payload bytes.
    Replace with a real codec in deployment (same signature)."""
    if not payload:
        return {"format": "empty", "width": 0, "height": 0, "checksum": 0}
    magic = payload[0]
    checksum = 0
    for b in payload[:1024]:
        checksum = (checksum * 31 + b) % 2_147_483_647
    return {
        "format": f"fake/{magic:02x}",
        "width": 1 + checksum % 1920,
        "height": 1 + (checksum // 7) % 1080,
        "checksum": checksum,
    }


def _fake_resize(payload: bytes, w: int, h: int) -> bytes:
    """Deterministic stand-in resize: re-samples the byte stream to a
    size proportional to the target area (the law the q_resize_meta
    oracle reproduces). ``functions.codecs.resize_media`` resizes PPM
    for real and falls back to this law for every other payload."""
    if not payload:
        return b""
    target_len = max(1, (w * h) // 512)
    reps = (target_len + len(payload) - 1) // len(payload)
    return (payload * reps)[:target_len]


def attach_payload(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Build an (id, payload binary) frame — in the test corpus the
    UTF-8 bytes of a text column stand in for media bytes."""
    return df.select(
        F.col(id_col).alias("id"), F.encode(F.col(text_col), "UTF-8").alias("payload")
    )


def decode_payloads(
    df: DataFrame,
    *,
    id_col: str = "id",
    payload_col: str = "payload",
    decode_fn: DecodeFn = fake_decode,
) -> DataFrame:
    """Decode opaque payloads into a typed metadata frame via
    Arrow-batched ``mapInPandas`` (the pandas-UDF slow path, used only
    where expressions genuinely cannot — SURVEY §2.4 ext-udf-surface)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # one bytes() materialization per payload (they can be MBs);
            # NULL payloads stay empty bytes — the decode of b"" takes
            # the same degrade-to-NULLs path as any undecodable input,
            # never a worker-killing bytes(None)
            payloads = [b"" if p is None else bytes(p) for p in pdf[payload_col]]
            out = pd.DataFrame([decode_fn(p) for p in payloads])
            out.insert(0, "id", pdf[id_col].to_numpy())
            out.insert(1, "n_bytes", [len(p) for p in payloads])
            yield out

    return df.mapInPandas(run, schema=DECODED_SCHEMA)


def resize_images(
    df: DataFrame,
    *,
    id_col: str = "id",
    payload_col: str = "payload",
    target_w: int = 224,
    target_h: int = 224,
    resize_fn: Callable[[bytes, int, int], bytes] | None = None,
) -> DataFrame:
    """Resize opaque image payloads to (target_w, target_h) via
    Arrow-batched ``mapInPandas``.

    The default codec is the deterministic stub (the contract oracle
    reproduces its size law); pass
    ``functions.codecs.resize_media`` for the REAL pure-numpy path on
    PPM payloads (decode → nearest-neighbor → re-encode; other formats
    keep the stub law), or a Pillow-backed callable in deployment —
    same signature."""
    fn = resize_fn or _fake_resize
    out_schema = (
        f"{id_col} bigint, resized binary, width int, height int, "
        "n_bytes bigint, orig_bytes bigint"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [b"" if p is None else bytes(p) for p in pdf[payload_col]]
            resized = [fn(p, target_w, target_h) for p in payloads]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "resized": resized,
                    "width": target_w,
                    "height": target_h,
                    "n_bytes": [len(r) for r in resized],
                    "orig_bytes": [len(p) for p in payloads],
                }
            )

    return df.mapInPandas(run, schema=out_schema)


def sample_frames(
    df: DataFrame,
    *,
    payload_col: str = "payload",
    every_n_bytes: int = 256,
    max_frames: int = 16,
) -> DataFrame:
    """'Frame sampling' over an opaque payload: up to ``max_frames``
    chunks of ``every_n_bytes`` each, SPREAD EVENLY across the whole
    payload (stand-in for video frame extraction — samples must
    represent the full stream, not its first few KB), emitted as an
    array of binary chunks — pure Spark expressions, no Python. Frame
    i starts at ``floor(i * total / n)``: for short payloads the
    stride degrades to contiguous chunks, for long ones it skips the
    bytes between frames."""
    total = F.octet_length(payload_col)
    n = F.least(
        F.lit(max_frames), F.greatest(F.floor(total / every_n_bytes), F.lit(1))
    )
    idx = F.sequence(F.lit(0), n - 1)
    return df.withColumn(
        "frames",
        F.transform(
            idx,
            lambda i: F.substring(
                F.col(payload_col),
                (F.floor(i * total / n) + 1).cast("int"),
                every_n_bytes,
            ),
        ),
    )


FEATURES_SCHEMA = (
    "id bigint, kind string, width int, height int, brightness double, "
    "contrast double, duration_ms bigint, rms double, peak double, "
    "zero_cross_per_sec double"
)


def extract_media_features(
    df: DataFrame,
    *,
    id_col: str = "id",
    payload_col: str = "payload",
) -> DataFrame:
    """The feature-extract verb of the multimodal tier (decode /
    feature-extract / resize / frame-sample): per-payload quality
    signals over REAL decoded content — image payloads get intensity
    stats (per-channel means fold into brightness, RMS contrast),
    audio payloads get loudness/periodicity (RMS, peak, zero-crossing
    rate) — the screens a curation pipeline gates on (black frames,
    silence, clipping).

    Arrow-batched ``mapInPandas`` like the sibling verbs; modality
    columns are NULL for the other kind, and compressed or corrupt
    payloads degrade to (kind, NULLs) rather than failing the batch —
    the same corrupt-input posture as decode_payloads. Which kinds
    decode, and which errors count as corrupt input, is
    ``functions.codecs.media_features``' business."""
    from tia_data_pipeline_spark.functions import codecs

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        base = {
            "width": None, "height": None, "brightness": None, "contrast": None,
            "duration_ms": None, "rms": None, "peak": None, "zero_cross_per_sec": None,
        }
        for pdf in batches:
            rows = []
            for rid, p in zip(pdf[id_col], pdf[payload_col]):
                kind, feats = codecs.media_features(b"" if p is None else bytes(p))
                rows.append({"id": rid, "kind": kind, **base, **feats})
            out = pd.DataFrame(rows)
            yield out[
                ["id", "kind", "width", "height", "brightness", "contrast",
                 "duration_ms", "rms", "peak", "zero_cross_per_sec"]
            ]

    return df.mapInPandas(run, schema=FEATURES_SCHEMA)
