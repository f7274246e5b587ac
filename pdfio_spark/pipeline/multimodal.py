"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, processed by Arrow-batched UDFs.

The Spark-side plumbing is real and tested: schemas, partitioning, UDF
signatures, Arrow batch shapes, and the binary container parsing.
Decode is REAL for the uncompressed formats (r4): BMP image bodies and
WAV-PCM16 audio bodies are sniffed by magic and decoded with the
pure-numpy codecs in pipeline/codecs.py (real pixels -> real resize +
stats; real samples -> rate/RMS). Compressed codecs (JPEG/Opus/H.264)
remain STUBBED — the sandbox has no image/audio libraries — behind the
same `_decode_pixels`/`_decode_audio` hooks, which raise
NotImplementedError and fall back to a deterministic fake so the
downstream geometry is still exercised; real deployments plug
Pillow/ffmpeg into those hooks.

Synthetic container format (SMX1), generated from the embeddings table:

    magic   4s   b"SMX1"
    kind    u8   0=image 1=audio 2=video
    width   u16  big-endian
    height  u16
    dur_ms  u32
    codec   u8
    body    sha256 keystream of media_id (deterministic)
"""
from __future__ import annotations

import hashlib
import struct

import numpy as np
from pyspark.sql import DataFrame, functions as F

from .maprows import map_rows

__all__ = ["gen_media_corpus", "media_metadata", "media_thumbnail",
           "media_frame_sample", "media_audio_stats", "synth_media",
           "parse_media_header", "set_media_codecs"]

_HDR = struct.Struct(">4sBHHIB")

# Pluggable codec registry (r5 verdict): a deployment with Pillow/
# ffmpeg injects decoders instead of editing this module. Keys are
# format names routed by body magic; an image decoder is
# body -> HxWx3 uint8 ndarray, an audio decoder is
# body -> (rate, int16 samples ndarray). The registry is snapshotted
# into each stage's UDF closure at DataFrame-construction time, so
# cloudpickle ships the decoder functions to every executor — a plain
# module global would NOT propagate to Spark worker processes.
# Mirrors set_pki_credentials (cos/crypt.py:304).
_MEDIA_CODECS: dict = {}
_IMAGE_MAGICS = (("jpeg", b"\xff\xd8"), ("png", b"\x89PNG"),
                 ("gif", b"GIF8"))
_AUDIO_MAGICS = (("opus", b"OggS"), ("flac", b"fLaC"), ("mp3", b"ID3"))


def set_media_codecs(codecs: dict | None) -> None:
    """Install compressed-media decoders, e.g.
    set_media_codecs({"jpeg": pil_decode, "opus": ffmpeg_decode}).
    Call on the driver BEFORE building the media DataFrames (the
    registry is captured into the task closures). None clears."""
    global _MEDIA_CODECS
    _MEDIA_CODECS = dict(codecs or {})


def synth_media(media_id: int) -> bytes:
    kind = media_id % 3
    width = 64 + (media_id * 7) % 512
    height = 64 + (media_id * 13) % 512
    dur_ms = (media_id * 31) % 60000
    codec = media_id % 4
    body_len = 256 + (media_id * 11) % 1024
    stream = bytearray()
    counter = 0
    seed = str(media_id).encode()
    while len(stream) < body_len:
        stream += hashlib.sha256(seed + counter.to_bytes(4, "big")).digest()
        counter += 1
    hdr = _HDR.pack(b"SMX1", kind, width, height, dur_ms, codec)
    return hdr + bytes(stream[:body_len])


def make_container(kind: int, width: int, height: int, dur_ms: int,
                   codec: int, body: bytes) -> bytes:
    """SMX1 container around an arbitrary body — e.g. a real BMP or
    WAV payload (the r4 real-decode path)."""
    return _HDR.pack(b"SMX1", kind, width, height, dur_ms, codec) + body


def parse_media_header(payload: bytes) -> dict | None:
    if len(payload) < _HDR.size:
        return None
    magic, kind, width, height, dur_ms, codec = _HDR.unpack_from(payload)
    if magic != b"SMX1":
        return None
    return {"kind": int(kind), "width": int(width), "height": int(height),
            "dur_ms": int(dur_ms), "codec": int(codec),
            "body": payload[_HDR.size:]}


def _decode_pixels(body: bytes, width: int, height: int,
                   codecs: dict | None = None):
    """Image decode hook: REAL for BMP (pure numpy, codecs.py);
    compressed formats (JPEG/PNG/GIF) route by magic to an injected
    decoder (set_media_codecs) when one is registered, else raise
    NotImplementedError — the sandbox ships no image libraries."""
    if body[:2] == b"BM":
        from .codecs import decode_bmp
        px = decode_bmp(body)
        if px.shape[:2] != (height, width):
            raise ValueError(
                f"container/BMP dim mismatch: {px.shape[:2]} vs "
                f"({height}, {width})")
        return px
    for name, magic in _IMAGE_MAGICS:
        if body[:len(magic)] == magic and codecs and name in codecs:
            px = codecs[name](body)
            # same contract the built-in BMP path enforces: a plugged
            # decoder returning transposed / wrong-size pixels must
            # fail loudly (per-row fallback), not warp the geometry
            if getattr(px, "shape", (None,))[:2] != (height, width):
                raise ValueError(
                    f"container/{name} dim mismatch: "
                    f"{getattr(px, 'shape', None)} vs ({height}, {width})")
            return px
    raise NotImplementedError("compressed image codec not available")


def _decode_audio(body: bytes, codecs: dict | None = None):
    """Audio decode hook: REAL for WAV PCM16 -> (rate, samples);
    compressed formats (Opus/FLAC/MP3) route by magic to an injected
    decoder (set_media_codecs), else raise NotImplementedError."""
    if body[:4] == b"RIFF":
        from .codecs import decode_wav_pcm16
        return decode_wav_pcm16(body)
    for name, magic in _AUDIO_MAGICS:
        if body[:len(magic)] == magic and codecs and name in codecs:
            return codecs[name](body)
    raise NotImplementedError("compressed audio codec not available")


def _fake_pixel_stat(body: bytes) -> float:
    """Deterministic stand-in for decoded-pixel statistics."""
    return sum(body) / max(len(body), 1)


def _resize_nearest(px, out_w: int, out_h: int):
    """Nearest-neighbor resize via index sampling — the real thumbnail
    math over real decoded pixels, no image library needed."""
    h, w = px.shape[:2]
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return px[ys][:, xs]


def gen_media_corpus(emb: DataFrame) -> DataFrame:
    """embeddings(vec_id, ...) -> (media_id, kind, payload)."""

    def gen(vec_id):
        yield vec_id, int(vec_id) % 3, synth_media(int(vec_id))

    sc = emb.sparkSession.sparkContext
    ids = emb.select("vec_id").repartition(max(sc.defaultParallelism, 8))
    return map_rows(ids, ["vec_id"],
                    "media_id long, kind int, payload binary", gen)


def media_metadata(media: DataFrame) -> DataFrame:
    """Parse the binary container header per row (real parsing)."""

    def parse(mid, p):
        h = parse_media_header(p or b"")
        if h is not None:
            yield (mid, h["kind"], h["width"], h["height"], h["dur_ms"],
                   h["codec"], len(h["body"]))

    return map_rows(media, ["media_id", "payload"],
                    "media_id long, kind int, width int, height int, "
                    "dur_ms long, codec int, body_bytes long", parse)


def media_thumbnail(media: DataFrame, max_side: int = 128) -> DataFrame:
    """Resize geometry (integer math, exactly reproducible in SQL) +
    stubbed pixel statistics; images only."""

    codecs = dict(_MEDIA_CODECS)  # driver-time snapshot -> task closure

    def thumb(mid, p):
        h = parse_media_header(p or b"")
        if h is None or h["kind"] != 0:
            return
        w, ht = h["width"], h["height"]
        m = max(w, ht)
        if m <= max_side:
            ow, oh = w, ht
        else:
            ow = max(1, (w * max_side) // m)
            oh = max(1, (ht * max_side) // m)
        try:
            pixels = _decode_pixels(h["body"], w, ht, codecs)
            px = float(np.mean(_resize_nearest(pixels, ow, oh)))
            decoded = True
        except Exception:
            # NotImplementedError (compressed codec) AND any
            # malformed-body decode error (a keystream body
            # starting with b'BM' raises ValueError at ~2^-16
            # per row — a real corpus row must fall back, not
            # fail the task). `decoded` makes the downgrade
            # visible per row, matching media_audio_stats.
            px = _fake_pixel_stat(h["body"])
            decoded = False
        yield mid, decoded, ow, oh, px

    return map_rows(media, ["media_id", "payload"],
                    "media_id long, decoded boolean, out_w int, out_h int, "
                    "px double", thumb)


def media_audio_stats(media: DataFrame) -> DataFrame:
    """Audio rows (kind 1): decode WAV-PCM16 bodies for real (rate,
    frame count, RMS over int16 samples); compressed bodies fall back
    to NULL stats with decoded=false — the honest split between the
    real uncompressed path and the env-stubbed codec path."""

    codecs = dict(_MEDIA_CODECS)  # driver-time snapshot -> task closure

    def stats(mid, p):
        h = parse_media_header(p or b"")
        if h is None or h["kind"] != 1:
            return
        try:
            rate, samples = _decode_audio(h["body"], codecs)
            yield (mid, True, rate, samples.shape[0],
                   float(np.sqrt(np.mean(samples.astype(np.float64) ** 2))))
        except Exception:
            # compressed codec (NotImplementedError) or a
            # corrupt/truncated RIFF body (ValueError /
            # struct.error) — both are per-row fallbacks, never
            # task failures
            yield mid, False, None, None, None

    return map_rows(media, ["media_id", "payload"],
                    "media_id long, decoded boolean, rate int, "
                    "n_frames long, rms double", stats)


_VIDEO_MAGICS = (("h264", b"\x00\x00\x00\x01"),
                 ("webm", b"\x1a\x45\xdf\xa3"))


def _decode_frames(body: bytes, codecs: dict | None = None):
    """Video decode hook (r6 — routes through set_media_codecs like
    the image/audio hooks; the sandbox has no uncompressed in-repo
    video format, so EVERY real decode comes from an injected codec).
    Decoder contract: body -> (fps, frames) where frames is a
    sequence of HxWx3 uint8 arrays. mp4's magic sits at offset 4
    (....ftyp); H.264 Annex-B and WebM/Matroska match by prefix.
    Format identification runs FIRST and is exclusive: an mp4 whose
    leading box uses the largesize encoding starts 00 00 00 01 — the
    Annex-B start code — so falling through to the h264 registry
    entry would hand mp4 bytes to the wrong decoder (r6 review);
    a recognized-but-unregistered format raises instead."""
    if body[4:8] == b"ftyp":
        if codecs and "mp4" in codecs:
            return codecs["mp4"](body)
        raise NotImplementedError("video codec not available")
    for name, magic in _VIDEO_MAGICS:
        if body[:len(magic)] == magic:
            if codecs and name in codecs:
                return codecs[name](body)
            break
    raise NotImplementedError("video codec not available")


def media_frame_sample(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame sampling for video rows: one sample per `every_ms`.
    With an injected video codec (set_media_codecs) whose magic
    matches the body, the REAL frames are decoded and sampled every
    `every_ms` of wall time (step = fps * every_ms / 1000), with a
    mean-pixel stat over the sampled frames and decoded=true (r6 —
    previously the header synthesis ran even when a codec was
    registered). Without a codec — or on a decode error — the
    header-derived count (dur_ms // every_ms + 1, inclusive of t=0)
    stands in with decoded=false, exactly the r5 output values."""

    codecs = dict(_MEDIA_CODECS)  # driver-time snapshot -> task closure

    def frames(mid, p):
        h = parse_media_header(p or b"")
        if h is None or h["kind"] != 2:
            return
        try:
            fps, fr = _decode_frames(h["body"], codecs)
            step = max(1, round(fps * every_ms / 1000))
            sampled = list(fr)[::step]
            mean_px = (float(np.mean([np.mean(f) for f in sampled]))
                       if sampled else None)
            yield mid, True, len(sampled), mean_px
        except Exception:
            # no codec (NotImplementedError) or a malformed
            # body in an injected decoder — per-row fallback
            # to the header synthesis, never a task failure
            yield mid, False, h["dur_ms"] // every_ms + 1, None

    return map_rows(media, ["media_id", "payload"],
                    "media_id long, decoded boolean, n_frames int, "
                    "mean_px double", frames)
