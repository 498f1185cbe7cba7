"""Pure-numpy codecs: real decode/resize on synthesized uncompressed
payloads, standalone AND through the Spark mapInPandas pipeline."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from tia_data_pipeline_spark.functions.codecs import (
    decode_bmp,
    decode_media,
    decode_ppm,
    decode_wav,
    encode_ppm,
    resize_media,
    resize_nearest,
    sniff_format,
)


def _ppm(w: int, h: int) -> tuple[bytes, np.ndarray]:
    px = (np.arange(w * h * 3, dtype=np.uint64) * 7 % 256).astype(np.uint8).reshape(h, w, 3)
    return encode_ppm(px), px


def _bmp_24(w: int, h: int) -> bytes:
    row = w * 3
    pad = (4 - row % 4) % 4
    data = bytes(range(row % 256)) * h + b"\x00" * (pad * h)
    header = b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    return header + dib + data


def _wav_pcm16(n_samples: int, rate: int = 8000, channels: int = 1) -> bytes:
    data = struct.pack(f"<{n_samples * channels}h", *([1000] * n_samples * channels))
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_ppm_roundtrip_and_comment_header():
    payload, px = _ppm(6, 4)
    d = decode_ppm(payload)
    assert (d["width"], d["height"], d["format"]) == (6, 4, "image/ppm")
    assert np.array_equal(d["pixels"], px)
    # netpbm comments in the header must be skipped
    commented = b"P6\n# synthetic test image\n6 4\n255\n" + px.tobytes()
    assert np.array_equal(decode_ppm(commented)["pixels"], px)


def test_nearest_neighbor_resize_exact():
    _, px = _ppm(4, 4)
    small = resize_nearest(px, 2, 2)
    # index law: output (y,x) = source ((y*4)//2, (x*4)//2) = (2y, 2x)
    assert np.array_equal(small, px[::2, ::2])
    up = resize_nearest(small, 4, 4)
    assert up.shape == (4, 4, 3)


def test_resize_media_real_ppm_path():
    payload, px = _ppm(8, 8)
    out = resize_media(payload, 4, 4)
    d = decode_ppm(out)
    assert (d["width"], d["height"]) == (4, 4)
    assert np.array_equal(d["pixels"], px[::2, ::2])


def test_bmp_and_wav_metadata():
    bmp = _bmp_24(10, 7)
    d = decode_bmp(bmp)
    assert (d["width"], d["height"]) == (10, 7) and d["format"] == "image/bmp;bpp=24"
    wav = _wav_pcm16(4000, rate=8000, channels=2)
    a = decode_wav(wav)
    assert a["channels"] == 2 and a["sample_rate"] == 8000 and a["bits"] == 16
    assert a["n_samples"] == 4000 and a["duration_ms"] == 500


def test_decode_media_dispatch_and_stub_fallback():
    ppm, _ = _ppm(3, 3)
    assert decode_media(ppm)["format"] == "image/ppm"
    assert decode_media(_bmp_24(2, 2))["format"].startswith("image/bmp")
    assert decode_media(_wav_pcm16(100))["format"] == "audio/wav"
    # compressed/unknown magic -> deterministic stub, never an exception
    fake = decode_media(b"\xff\xd8\xff\xe0 not actually jpeg")
    assert fake["format"].startswith("fake/") and fake["width"] > 0
    assert sniff_format(b"") == "unknown" and decode_media(b"")["format"] == "empty"
    # PNG and JPEG are sniffed by name but decode and resize via the stub
    from tia_data_pipeline_spark.operators.multimodal import _fake_resize, fake_decode

    png = b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR" + bytes(40)
    jpeg = b"\xff\xd8\xff\xdb" + bytes(70)
    assert sniff_format(png) == "png" and sniff_format(jpeg) == "jpeg"
    assert decode_media(png)["format"] == "fake/89"
    assert decode_media(png) == fake_decode(png) and decode_media(jpeg) == fake_decode(jpeg)
    for payload in (png, jpeg):
        assert resize_media(payload, 16, 64) == _fake_resize(payload, 16, 64)
    # header dimensions past C ssize_t raise OverflowError, not ValueError
    huge = b"P6\n99999999999 99999999999\n255\n\x00"
    assert decode_media(huge) == fake_decode(huge)
    assert resize_media(huge, 8, 8) == _fake_resize(huge, 8, 8)


def test_real_codecs_through_spark_pipeline(spark):
    from tia_data_pipeline_spark.operators.multimodal import decode_payloads, resize_images

    ppm_a, _ = _ppm(8, 6)
    ppm_b, _ = _ppm(4, 4)
    rows = [(1, bytearray(ppm_a)), (2, bytearray(ppm_b)), (3, bytearray(_bmp_24(5, 5)))]
    df = spark.createDataFrame(rows, "id bigint, payload binary")

    got = {
        r["id"]: (r["format"], r["width"], r["height"])
        for r in decode_payloads(df, decode_fn=decode_media).collect()
    }
    assert got[1] == ("image/ppm", 8, 6)
    assert got[2] == ("image/ppm", 4, 4)
    assert got[3] == ("image/bmp;bpp=24", 5, 5)

    resized = {
        r["id"]: bytes(r["resized"])
        for r in resize_images(df, target_w=2, target_h=2, resize_fn=resize_media).collect()
    }
    for i in (1, 2):
        d = decode_ppm(resized[i])
        assert (d["width"], d["height"]) == (2, 2)


def test_corrupt_payloads_never_crash_decode_media():
    """Truncated/garbage payloads with valid magic bytes must fall back
    to the stub, not raise — a poison row cannot kill a 100 TB decode
    stage."""
    ppm_full, _ = _ppm(4, 4)
    cases = [
        ppm_full[:20],                      # truncated raster
        b"P6\n9999999 9999999\n255\n\x00",  # dims far beyond payload
        b"P6",                              # header only
        b"BM\x01",                          # BMP too short
        b"RIFF\x04\x00\x00\x00WAVE",        # WAVE without fmt chunk
        b"RIFF\xff\xff\xff\xffWAVEjunk",    # lying chunk sizes
    ]
    for payload in cases:
        out = decode_media(payload)
        assert isinstance(out, dict) and "format" in out  # stub fields
    # resize likewise degrades to the stub size law
    resized = resize_media(ppm_full[:20], 8, 8)
    assert isinstance(resized, bytes)


def test_ppm_comment_abutting_digit():
    """'#' must terminate a pending token like whitespace: a comment
    directly abutting a header digit ("6 4# cmt") must not concatenate
    digits across the comment, and a comment abutting the FINAL header
    token must place the raster offset right after the comment newline."""
    _, px = _ppm(6, 4)
    mid = b"P6\n6 4# comment right after height\n255\n" + px.tobytes()
    d = decode_ppm(mid)
    assert (d["width"], d["height"]) == (6, 4)
    assert np.array_equal(d["pixels"], px)
    tail = b"P6\n6 4\n255# comment right after maxval\n" + px.tobytes()
    d2 = decode_ppm(tail)
    assert (d2["width"], d2["height"]) == (6, 4)
    assert np.array_equal(d2["pixels"], px)


def _wav_sine(freq: float, rate: int = 8000, seconds: float = 1.0, amp: float = 0.5) -> bytes:
    n = int(rate * seconds)
    t = np.arange(n) / rate
    samples = (amp * np.sin(2 * np.pi * freq * t) * 32767).astype("<i2")
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_audio_features_sine_wave_math():
    """A pure sine has RMS = amp/√2 and zero-crossing rate = 2·freq —
    the features must recover both from the real PCM decode."""
    from tia_data_pipeline_spark.functions.codecs import audio_features

    f = audio_features(_wav_sine(freq=440.0, rate=8000, seconds=1.0, amp=0.5))
    assert f["duration_ms"] == 1000
    assert abs(f["rms"] - 0.5 / np.sqrt(2)) < 0.01
    assert abs(f["zero_cross_per_sec"] - 2 * 440.0) < 10
    assert 0.49 < f["peak"] <= 0.51

    silence = audio_features(_wav_sine(freq=440.0, rate=8000, seconds=0.5, amp=0.0))
    assert silence["rms"] == 0.0 and silence["peak"] == 0.0


def test_image_features_solid_and_contrast():
    from tia_data_pipeline_spark.functions.codecs import image_features

    solid = np.full((4, 6, 3), 200, dtype=np.uint8)
    f = image_features(encode_ppm(solid))
    assert (f["width"], f["height"]) == (6, 4)
    assert abs(f["brightness"] - 200.0) < 1e-9
    assert f["contrast"] == 0.0
    assert f["mean_r"] == f["mean_g"] == f["mean_b"] == 200.0

    # half-black / half-white: brightness 127.5, nonzero contrast
    half = np.zeros((2, 2, 3), dtype=np.uint8)
    half[:, 1, :] = 255
    f2 = image_features(encode_ppm(half))
    assert abs(f2["brightness"] - 127.5) < 1e-9
    assert f2["contrast"] > 100


def test_extract_media_features_operator(spark):
    """The mapInPandas verb: per-kind features, NULLs for the other
    modality, corrupt payloads degrade to NULL rows not failures."""
    from tia_data_pipeline_spark.operators.multimodal import extract_media_features

    ppm, _ = _ppm(8, 5)
    rows = [
        (1, bytearray(ppm)),
        (2, bytearray(_wav_sine(200.0, rate=8000, seconds=0.25, amp=0.25))),
        (3, bytearray(b"\x00garbage payload")),
        (4, bytearray(b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR" + bytes(40))),
        (5, bytearray(b"\xff\xd8\xff\xdb" + bytes(70))),
    ]
    # the corrupt PPM/WAV cases of test_corrupt_payloads_never_crash_decode_media,
    # plus a zero-dimension header and dimensions past C ssize_t
    corrupt = [
        ppm[:20],
        b"P6\n9999999 9999999\n255\n\x00",
        b"P6",
        b"RIFF\x04\x00\x00\x00WAVE",
        b"RIFF\xff\xff\xff\xffWAVEjunk",
        b"P6 0 0 255\n",
        b"P6\n99999999999 99999999999\n255\n\x00",
    ]
    rows += [(10 + i, bytearray(p)) for i, p in enumerate(corrupt)]
    df = spark.createDataFrame(rows, "id bigint, payload binary")
    got = {r["id"]: r.asDict() for r in extract_media_features(df).collect()}
    assert got[1]["kind"] == "ppm" and got[1]["width"] == 8 and got[1]["rms"] is None
    assert got[2]["kind"] == "wav" and got[2]["duration_ms"] == 250
    assert got[2]["width"] is None and got[2]["rms"] is not None
    assert got[3]["width"] is None and got[3]["rms"] is None
    assert (got[4]["kind"], got[5]["kind"]) == ("png", "jpeg")
    assert len(got) == len(rows)
    for rid in [4, 5] + [10 + i for i in range(len(corrupt))]:
        feats = {k: v for k, v in got[rid].items() if k not in ("id", "kind")}
        assert set(feats.values()) == {None}, (rid, got[rid])
    assert [got[10 + i]["kind"] for i in range(len(corrupt))] == ["ppm"] * 3 + ["wav"] * 2 + ["ppm"] * 2


def test_ppm_comment_at_eof_clamps_offset():
    """A header comment hitting EOF without a newline must not push the
    raster offset past the payload — decode fails on the clean
    truncated-raster path (ValueError), not a numpy offset error."""
    import pytest as _pytest

    from tia_data_pipeline_spark.functions.codecs import _ppm_tokens, decode_ppm

    payload = b"P6\n6 4\n255# trailing comment"
    toks, off = _ppm_tokens(payload, 3)
    assert toks == [6, 4, 255]
    assert off <= len(payload)
    with pytest.raises(ValueError):
        decode_ppm(payload)  # header fine, raster truncated


def test_wav_multi_data_chunk_first_wins_even_zero_length():
    """decode_wav and wav_pcm must describe the SAME data chunk — the
    first — including when the first is zero-length."""
    from tia_data_pipeline_spark.functions.codecs import decode_wav, wav_pcm

    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    second = struct.pack("<8h", *([500] * 8))
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", 0)  # zero-length first chunk
    body += b"data" + struct.pack("<I", len(second)) + second
    payload = b"RIFF" + struct.pack("<I", len(body)) + body

    meta = decode_wav(payload)
    pcm, rate = wav_pcm(payload)
    assert meta["n_samples"] == 0
    assert pcm.shape[0] == 0 and rate == 8000
