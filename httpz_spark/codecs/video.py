"""Deterministic video container for the multimodal pipeline (no ffmpeg
in this container, so the fabric defines its own seekable format and the
operators parse it for real).

``SPKV`` v1 layout (all integers big-endian)::

    b"SPKV" | version u8 (=1) | fps u8 | n_frames u16 |
    frame_len u32 * n_frames | concatenated encoded frames

Each frame is an independently-decodable image payload from
:mod:`httpz_spark.codecs.images` (real PNG, or the deterministic
fake-lossy ``FJPG`` container) — the video analogue of an MJPEG stream:
an index header plus intra-coded frames, which is exactly the shape a
frame SAMPLER wants (random access by index, no inter-frame state).  A
real ffmpeg-backed decoder would slot behind the same three functions.

Corrupt bytes raise ``ValueError`` — callers (operators/multimodal.py)
catch per row, so a poison blob never kills a task.
"""

from __future__ import annotations

import struct

import numpy as np

from httpz_spark.codecs.images import encode_image

SPKV_MAGIC = b"SPKV"
SPKV_VERSION = 1
_HDR = struct.Struct(">4sBBH")  # magic, version, fps, n_frames


def encode_video(frames: list[np.ndarray], fps: int = 8, fmt: str = "png") -> bytes:
    """Encode uint8 RGB frames into one SPKV payload."""
    if not frames:
        raise ValueError("a video needs at least one frame")
    blobs = [encode_image(f, fmt) for f in frames]
    head = _HDR.pack(SPKV_MAGIC, SPKV_VERSION, fps, len(blobs))
    index = b"".join(struct.pack(">I", len(b)) for b in blobs)
    return head + index + b"".join(blobs)


def video_index(data: bytes) -> tuple[int, int, list[tuple[int, int]]]:
    """Parse the header only: ``(fps, n_frames, [(offset, length), ...])``.
    O(header) — no frame bytes touched (the sampler's random-access path)."""
    if len(data) < _HDR.size or data[:4] != SPKV_MAGIC:
        raise ValueError("not an SPKV payload")
    _m, version, fps, n_frames = _HDR.unpack_from(data, 0)
    if version != SPKV_VERSION:
        raise ValueError(f"unsupported SPKV version {version}")
    idx_end = _HDR.size + 4 * n_frames
    if len(data) < idx_end:
        raise ValueError("truncated SPKV index")
    lengths = struct.unpack(f">{n_frames}I", data[_HDR.size:idx_end])
    spans = []
    pos = idx_end
    for ln in lengths:
        spans.append((pos, ln))
        pos += ln
    if pos > len(data):
        raise ValueError("truncated SPKV frame data")
    return fps, n_frames, spans
