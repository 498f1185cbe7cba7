"""Pure-numpy media codecs for the multimodal tier.

The container ships no image/audio libraries, but UNCOMPRESSED formats
need none — their layouts are public byte structures:

- **PPM** (P6 binary RGB): full decode to a pixel array, real
  nearest-neighbor resize, re-encode. The genuine decode→transform→
  encode path, end to end.
- **BMP** (uncompressed Windows bitmap): header parse → dimensions,
  bit depth.
- **WAV** (RIFF PCM): chunk walk → channels, sample rate, bit depth,
  sample count, duration.

This module is the one place that says which formats decode for real.
Compressed formats (PNG, JPEG, MP3, H.264) need a real codec library:
:func:`sniff_format` labels them, and :func:`decode_media`,
:func:`resize_media` and :func:`media_features` give them the
deterministic stub, preserving the documented injection seam
(``operators/multimodal.py``): a deployment swaps in Pillow/ffmpeg
callables with the same signatures.

Everything here runs INSIDE the Arrow ``mapInPandas`` batches — plain
bytes-in/dict-out functions, no Spark imports, trivially testable.
"""

from __future__ import annotations

import struct

import numpy as np


# ---------------------------------------------------------------- PPM ----
def _ppm_tokens(payload: bytes, n: int) -> tuple[list[int], int]:
    """First ``n`` whitespace-separated integer tokens after the magic,
    skipping ``#`` comments; returns (tokens, offset past the single
    whitespace byte that terminates the last token) — per the netpbm
    spec the raster starts exactly there."""
    toks: list[int] = []
    i = 2  # past the 2-byte magic
    cur = b""
    while i < len(payload) and len(toks) < n:
        c = payload[i : i + 1]
        if c == b"#":
            # '#' terminates a pending token like whitespace does — a
            # comment can directly abut a digit ("6 4# cmt\n255"); not
            # flushing here would concatenate digits across the comment.
            if cur:
                toks.append(int(cur))
                cur = b""
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
            if len(toks) == n:
                # comment's newline is the whitespace terminating the
                # final token; the raster starts right after it (clamped:
                # a comment hitting EOF without a newline must not push
                # the offset past the payload, or frombuffer raises an
                # offset error instead of the clean truncated-raster path)
                return toks, min(i + 1, len(payload))
        elif c in (b" ", b"\t", b"\n", b"\r"):
            if cur:
                toks.append(int(cur))
                cur = b""
                if len(toks) == n:
                    i += 1
                    return toks, i
        else:
            cur += c
        i += 1
    if cur and len(toks) < n:
        toks.append(int(cur))
    return toks, i


def decode_ppm(payload: bytes) -> dict:
    """P6 (binary) PPM → metadata + pixel array (h, w, 3) uint8."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    toks, off = _ppm_tokens(payload, 3)
    if len(toks) < 3:
        raise ValueError("truncated PPM header")
    w, h, maxval = toks
    if maxval > 255:
        raise ValueError("16-bit PPM unsupported")
    if w < 1 or h < 1:
        # zero-dimension headers would decode to a 0-sized pixel array
        # and crash resize_nearest with an IndexError downstream —
        # reject on the clean ValueError path the callers catch
        raise ValueError("non-positive PPM dimensions")
    raster = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=off)
    pixels = raster.reshape(h, w, 3)
    return {
        "format": "image/ppm",
        "width": int(w),
        "height": int(h),
        "maxval": int(maxval),
        "pixels": pixels,
        "checksum": int(raster.sum()) % 2_147_483_647,
    }


def encode_ppm(pixels: np.ndarray) -> bytes:
    h, w = pixels.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.astype(np.uint8).tobytes()


def resize_nearest(pixels: np.ndarray, target_w: int, target_h: int) -> np.ndarray:
    """Nearest-neighbor resample — index arithmetic only, no libs."""
    src_h, src_w = pixels.shape[:2]
    ys = (np.arange(target_h) * src_h) // target_h
    xs = (np.arange(target_w) * src_w) // target_w
    return pixels[ys[:, None], xs[None, :]]


# ---------------------------------------------------------------- BMP ----
def decode_bmp(payload: bytes) -> dict:
    """Uncompressed BMP header → dimensions/bit depth (no raster read;
    metadata extraction is the common pipeline need)."""
    if payload[:2] != b"BM" or len(payload) < 30:
        raise ValueError("not a BMP")
    width = struct.unpack_from("<i", payload, 18)[0]
    height = struct.unpack_from("<i", payload, 22)[0]
    bpp = struct.unpack_from("<H", payload, 28)[0]
    return {
        "format": f"image/bmp;bpp={bpp}",
        "width": int(width),
        "height": abs(int(height)),  # negative height = top-down rows
        # header-only parse means header-only cost: cap the checksum at
        # the first 1 KiB (same bound as fake_decode) — summing a 50 MB
        # raster would make "metadata extraction" O(payload) per row
        "checksum": int(np.frombuffer(payload[:1024], dtype=np.uint8).sum())
        % 2_147_483_647,
    }


# ---------------------------------------------------------------- WAV ----
def _wav_chunks(payload: bytes) -> tuple[dict, int, int]:
    """ONE RIFF chunk walk shared by decode_wav and wav_pcm — the two
    walkers diverged once on the first-data-chunk rule, so there is
    exactly one now. Returns (fmt meta, data offset, data size); the
    FIRST data chunk wins (a flag, not size==0: a zero-length first
    chunk must also win)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF WAVE")
    i, meta, data_off, data_size, data_seen = 12, {}, 0, 0, False
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        size = struct.unpack_from("<I", payload, i + 4)[0]
        if cid == b"fmt ":
            fmt, ch, rate = struct.unpack_from("<HHI", payload, i + 8)
            bits = struct.unpack_from("<H", payload, i + 22)[0]
            meta = {"audio_format": fmt, "channels": ch, "sample_rate": rate, "bits": bits}
        elif cid == b"data" and not data_seen:
            data_off, data_size, data_seen = i + 8, size, True
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if not meta:
        raise ValueError("WAVE without fmt chunk")
    return meta, data_off, data_size


def decode_wav(payload: bytes) -> dict:
    """RIFF/WAVE chunk walk → PCM stream metadata."""
    meta, _, data_size = _wav_chunks(payload)
    frame = meta["channels"] * max(meta["bits"] // 8, 1)
    n_samples = data_size // frame if frame else 0
    return {
        "format": "audio/wav",
        "channels": meta["channels"],
        "sample_rate": meta["sample_rate"],
        "bits": meta["bits"],
        "n_samples": int(n_samples),
        "duration_ms": int(n_samples * 1000 // meta["sample_rate"]) if meta["sample_rate"] else 0,
    }


# ---------------------------------------------------------- dispatch ----
# What the parsers above raise on a corrupt payload: ValueError from
# their own guards and from numpy's buffer/reshape checks, struct.error
# from a truncated RIFF chunk header, and OverflowError from PPM header
# dimensions whose raster size does not fit a C ssize_t. These, and
# only these, degrade a row to the stub or to NULL features.
_DECODE_ERRORS = (ValueError, struct.error, OverflowError)


def sniff_format(payload: bytes) -> str:
    """The payload's kind from its magic bytes. ``png`` and ``jpeg``
    are labels only: no decoder here reads them, so they take the stub
    path like every other compressed format."""
    if payload[:2] == b"P6":
        return "ppm"
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if payload[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if payload[:2] == b"BM":
        return "bmp"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    return "unknown"


def decode_media(payload: bytes) -> dict:
    """Real decode for the lib-free formats, matching the
    ``DECODED_SCHEMA`` contract of ``operators/multimodal.py``
    (format/width/height/checksum); compressed, unknown or corrupt
    payloads fall back to the deterministic stub so the pipeline never
    dies on a missing codec."""
    from tia_data_pipeline_spark.operators.multimodal import fake_decode

    kind = sniff_format(payload)
    try:
        if kind == "ppm":
            d = decode_ppm(payload)
            return {k: d[k] for k in ("format", "width", "height", "checksum")}
        if kind == "bmp":
            return decode_bmp(payload)
        if kind == "wav":
            d = decode_wav(payload)
            # width/height carry the stream shape for the shared schema
            return {
                "format": d["format"],
                "width": d["sample_rate"],
                "height": d["channels"],
                "checksum": d["n_samples"] % 2_147_483_647,
            }
    except _DECODE_ERRORS:
        pass
    return fake_decode(payload)


def resize_media(payload: bytes, target_w: int, target_h: int) -> bytes:
    """Real resize for PPM (decode → nearest-neighbor → re-encode).
    Other formats, and corrupt PPM, fall back to the stub's size-law
    resample."""
    if sniff_format(payload) == "ppm":
        try:
            return encode_ppm(resize_nearest(decode_ppm(payload)["pixels"], target_w, target_h))
        except _DECODE_ERRORS:
            pass
    from tia_data_pipeline_spark.operators.multimodal import _fake_resize

    return _fake_resize(payload, target_w, target_h)


# ----------------------------------------------------- feature extract ----
def wav_pcm(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode RIFF PCM to a float array in [-1, 1] of shape
    (n_frames, channels), plus the sample rate. 16-bit and 8-bit PCM
    (the uncompressed formats) decode for real; anything else raises
    and the caller falls back."""
    meta, data_off, data_size = _wav_chunks(payload)
    raw = payload[data_off : data_off + data_size] if data_size else b""
    bits, ch = meta["bits"], meta["channels"]
    if bits == 16:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif bits == 8:
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise ValueError(f"unsupported PCM bit depth {bits}")
    n = (len(x) // ch) * ch if ch else 0
    return x[:n].reshape(-1, ch), meta["sample_rate"]


def audio_features(payload: bytes) -> dict:
    """Loudness/periodicity features over the REAL PCM stream: RMS,
    peak, zero-crossing rate (per second, channel-averaged), duration.
    The quality signals an audio curation pipeline gates on (silence /
    clipping / noise detection)."""
    pcm, rate = wav_pcm(payload)
    if pcm.size == 0 or not rate:
        return {"duration_ms": 0, "rms": 0.0, "peak": 0.0, "zero_cross_per_sec": 0.0}
    mono = pcm.mean(axis=1)
    crossings = int(np.count_nonzero(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
    dur_s = len(mono) / rate
    return {
        "duration_ms": int(dur_s * 1000),
        "rms": float(np.sqrt(np.mean(pcm * pcm))),
        "peak": float(np.max(np.abs(pcm))),
        "zero_cross_per_sec": float(crossings / dur_s),
    }


def image_features(payload: bytes) -> dict:
    """Shape/intensity features over REAL decoded PPM pixels:
    per-channel means, luma brightness, RMS contrast — the cheap
    screens an image curation pipeline gates on (black/blank frames,
    washed-out captures)."""
    d = decode_ppm(payload)
    px = d["pixels"].astype(np.float64)  # (h, w, 3) in [0, maxval]
    px = px * (255.0 / max(1, d["maxval"]))
    means = px.reshape(-1, 3).mean(axis=0)
    luma = px.reshape(-1, 3) @ np.array([0.2126, 0.7152, 0.0722])
    return {
        "width": d["width"],
        "height": d["height"],
        "mean_r": float(means[0]),
        "mean_g": float(means[1]),
        "mean_b": float(means[2]),
        "brightness": float(luma.mean()),
        "contrast": float(luma.std()),
    }


def media_features(payload: bytes) -> tuple[str, dict]:
    """The payload's kind plus its content features: image stats for
    PPM, PCM stats for WAV. Every other kind, and a corrupt payload of
    either, gets no features (the caller's NULLs)."""
    kind = sniff_format(payload)
    extract = {"ppm": image_features, "wav": audio_features}.get(kind)
    if extract is not None:
        try:
            return kind, extract(payload)
        except _DECODE_ERRORS:
            pass
    return kind, {}
