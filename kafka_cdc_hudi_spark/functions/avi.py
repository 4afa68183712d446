"""Pure-stdlib MJPEG-in-AVI container codec — makes the VIDEO modality
real: a genuine RIFF/AVI container whose '00dc' chunks are baseline JPEGs
(functions/jpeg.py), so frame extraction walks a real container and frame
decode runs a real transform codec.

Scope: single video stream, MJPEG fourcc, no index required (the decoder
walks the 'movi' LIST), no audio. This is the minimal legal AVI that
mainstream players/ffmpeg accept for MJPEG.

``ValueError`` on corruption (bad magic, truncated chunks);
``NotImplementedError`` on legal-but-unsupported features (audio streams,
non-MJPEG fourcc).
"""

from __future__ import annotations

import struct


def _chunk(fourcc: bytes, payload: bytes) -> bytes:
    pad = b"\x00" if len(payload) % 2 else b""  # RIFF chunks are word-aligned
    return fourcc + struct.pack("<I", len(payload)) + payload + pad


def _list(list_type: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", list_type + payload)


def encode_avi_mjpeg(frames: list[bytes], width: int, height: int, fps: int = 10) -> bytes:
    """Wrap pre-encoded JPEG frames in a minimal single-stream AVI."""
    if not frames:
        raise ValueError("no frames")
    if width <= 0 or height <= 0 or fps <= 0:
        raise ValueError("bad geometry")
    max_bytes = max(len(f) for f in frames)
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps,  # microseconds per frame
        max_bytes * fps,   # max bytes per second
        0,                 # padding granularity
        0,                 # flags: no AVIF_HASINDEX — we write no idx1 chunk,
        #                    so the file must not advertise an index
        #                    (0x10 IS AVIF_HASINDEX; strict players seek via it)
        len(frames),
        0,                 # initial frames
        1,                 # streams
        max_bytes,         # suggested buffer
        width,
        height,
        0, 0, 0, 0,        # reserved
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids",
        b"MJPG",
        0,                 # flags
        0,                 # priority
        0,                 # language
        0,                 # initial frames
        1,                 # scale
        fps,               # rate
        0,                 # start
        len(frames),       # length
        max_bytes,         # suggested buffer
        0xFFFFFFFF,        # quality
        0,                 # sample size
        0, 0, width, height,  # rcFrame
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40,                # biSize
        width,
        height,
        1,                 # planes
        24,                # bit count (MJPG convention)
        b"MJPG",
        width * height * 3,
        0, 0, 0, 0,
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi = _list(b"movi", b"".join(_chunk(b"00dc", f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi_mjpeg(data: bytes) -> tuple[int, int, int, list[bytes]]:
    """AVI bytes -> (width, height, fps, jpeg_frames). Frames are returned
    still JPEG-encoded; callers decode per frame (functions/jpeg.py)."""
    if not data.startswith(b"RIFF") or data[8:12] != b"AVI ":
        raise ValueError("not an AVI (missing RIFF/AVI magic)")
    (riff_len,) = struct.unpack("<I", data[4:8])
    if riff_len + 8 > len(data):
        raise ValueError("truncated RIFF payload")
    width = height = fps = 0
    frames: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        nonlocal width, height, fps, frames
        while pos + 8 <= end:
            fourcc = data[pos : pos + 4]
            (ln,) = struct.unpack("<I", data[pos + 4 : pos + 8])
            payload_start = pos + 8
            payload_end = payload_start + ln
            if payload_end > end:
                raise ValueError(f"chunk {fourcc!r} overruns container")
            if fourcc == b"LIST":
                walk(payload_start + 4, payload_end)
            elif fourcc == b"avih":
                us_per_frame, _mbps, _pad, _flags, _total = struct.unpack(
                    "<IIIII", data[payload_start : payload_start + 20]
                )
                width, height = struct.unpack(
                    "<II", data[payload_start + 32 : payload_start + 40]
                )
                fps = round(1_000_000 / us_per_frame) if us_per_frame else 0
            elif fourcc == b"strh":
                if data[payload_start : payload_start + 4] != b"vids":
                    raise NotImplementedError("non-video AVI stream")
                if data[payload_start + 4 : payload_start + 8] != b"MJPG":
                    raise NotImplementedError("non-MJPEG AVI fourcc")
            elif fourcc == b"00dc":
                frames.append(data[payload_start:payload_end])
            pos = payload_end + (ln % 2)  # word alignment

    walk(12, 8 + riff_len)
    if not frames:
        raise ValueError("AVI contains no video frames")
    return width, height, fps, frames
