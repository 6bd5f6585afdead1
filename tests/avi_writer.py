"""Minimal MJPEG-in-AVI writer for video test fixtures: the encode side of
sources/codecs.decode_avi_mjpeg. It emits a standard-compliant RIFF file
(hdrl with avih/strh/strf, movi with one 00dc chunk per baseline JPEG
frame, idx1)."""

from __future__ import annotations

import struct

import numpy as np

from simple_osm_queries_spark.sources.jpeg import encode_jpeg_real


def encode_avi_mjpeg(frames: np.ndarray, fps: int = 10, quality: int = 90) -> bytes:
    """(n, h, w, 3) uint8 -> minimal MJPEG AVI bytes."""
    if frames.ndim != 4 or frames.shape[3] != 3:
        raise ValueError("encode_avi_mjpeg expects (n, h, w, 3) uint8")
    n, h, w = frames.shape[:3]
    jpegs = [encode_jpeg_real(f, quality=quality, subsampling="420") for f in frames]
    maxsz = max(len(j) for j in jpegs)

    def chunk(tag: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) % 2 else b""
        return tag + struct.pack("<I", len(payload)) + payload + pad

    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // max(fps, 1),  # dwMicroSecPerFrame
        maxsz * fps,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # AVIF_HASINDEX
        n, 0, 1, maxsz, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIi4H",
        b"vids", b"MJPG", 0, 0, 0, 0,
        1, fps,  # dwScale / dwRate -> fps
        0, n, maxsz, 0xFFFFFFFF, 0, 0, 0, w, h,  # quality -1 == default
    )
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0)
    strl = b"LIST" + struct.pack("<I", 4 + len(chunk(b"strh", strh)) + len(chunk(b"strf", strf))) + b"strl" + chunk(b"strh", strh) + chunk(b"strf", strf)
    hdrl_body = b"hdrl" + chunk(b"avih", avih) + strl
    hdrl = b"LIST" + struct.pack("<I", len(hdrl_body)) + hdrl_body

    movi_chunks = b"".join(chunk(b"00dc", j) for j in jpegs)
    movi = b"LIST" + struct.pack("<I", 4 + len(movi_chunks)) + b"movi" + movi_chunks

    # idx1: one entry per frame, offsets relative to the start of 'movi' data
    idx_entries = bytearray()
    off = 4  # past the 'movi' fourcc
    for j in jpegs:
        idx_entries += b"00dc" + struct.pack("<III", 0x10, off, len(j))
        off += 8 + len(j) + (len(j) % 2)
    idx1 = chunk(b"idx1", bytes(idx_entries))

    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body
