"""Pure-stdlib AVI (RIFF) container parser + writer for MJPEG video.

The AVI container format is public (Microsoft RIFF/AVI specification):
a RIFF 'AVI ' file holds a LIST 'hdrl' (an 'avih' main header plus one
LIST 'strl' per stream with 'strh'/'strf' headers) and a LIST 'movi'
whose '00dc'/'00db' chunks are the frames — for MJPEG, each chunk is a
complete baseline JPEG. Parsing the container and handing every frame
to operators/jpeg.py makes VIDEO decode real in this container: parse
-> sample every Nth frame -> decode JPEG -> RGB, which is exactly the
frame-sampling stage of a multimodal training pipeline. Codecs other
than MJPEG need ffmpeg and still raise NotImplementedError.

The writer exists so tests and the certification query can build real
AVI payloads without external fixtures.

Scale: containers are parsed per-asset inside Arrow-batched
``mapInPandas`` (operators/multimodal.py) — the 100 TB story is
partition parallelism over assets; a single huge video should be
chunked upstream (frame chunks are self-contained JPEGs, so an AVI can
be split at chunk boundaries without cross-range state).
"""

from __future__ import annotations

import struct


def parse_avi(payload: bytes) -> tuple[list[bytes], dict]:
    """Parse an AVI byte string -> (frame payloads, meta).

    Meta keys: width, height, usec_per_frame, n_frames, handler.
    Frame payloads are the raw '00dc'/'00db' chunk bodies (for MJPEG,
    complete JPEG byte strings).
    """
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI: bad RIFF signature")
    meta = {
        "width": 0,
        "height": 0,
        "usec_per_frame": 0,
        "n_frames": 0,
        "handler": "",
    }
    frames: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        while pos + 8 <= end:
            ckid = payload[pos : pos + 4]
            (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
            body_start = pos + 8
            body_end = body_start + size
            if ckid == b"LIST":
                list_type = payload[body_start : body_start + 4]
                if list_type in (b"hdrl", b"movi", b"strl"):
                    walk(body_start + 4, body_end)
            elif ckid == b"avih":
                (
                    meta["usec_per_frame"],
                    _maxbps,
                    _pad,
                    _flags,
                    meta["n_frames"],
                ) = struct.unpack("<IIIII", payload[body_start : body_start + 20])
                meta["width"], meta["height"] = struct.unpack(
                    "<II", payload[body_start + 32 : body_start + 40]
                )
            elif ckid == b"strh":
                fcc_type = payload[body_start : body_start + 4]
                if fcc_type == b"vids":
                    meta["handler"] = (
                        payload[body_start + 4 : body_start + 8]
                        .decode("ascii", "replace")
                        .strip("\x00")
                    )
            elif ckid[2:4] in (b"dc", b"db") and ckid[:2].isdigit():
                frames.append(payload[body_start:body_end])
            # chunks are padded to even sizes
            pos = body_end + (size & 1)

    walk(12, len(payload))
    if not frames:
        raise ValueError("AVI: no video frame chunks found")
    return frames, meta


def encode_avi(
    jpeg_frames: list[bytes],
    width: int,
    height: int,
    usec_per_frame: int = 40000,
) -> bytes:
    """Write a minimal MJPEG AVI containing ``jpeg_frames``."""

    def chunk(ckid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return ckid + struct.pack("<I", len(body)) + body + pad

    def lst(list_type: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", list_type + body)

    n = len(jpeg_frames)
    avih = struct.pack(
        "<IIIIIIIIII4I",
        usec_per_frame, 0, 0, 0x10, n, 0, 1, 0, width, height, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIii4H", 0, 0, 0, 0, 1, 1000000 // max(usec_per_frame, 1), 0, n, 0, -1, 0, 0, 0, width & 0xFFFF, height & 0xFFFF)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG", width * height * 3, 0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in jpeg_frames))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body
