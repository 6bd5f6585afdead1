"""Mapbox Vector Tile (MVT 2.1) decoder: the inverse of sources/mvt.py,
used to read back the tiles the engine serves and check them against
the features that went in. Same wire layout as the encoder's module
docstring; raises ValueError on malformed bytes (the codecs' boundary
contract)."""

from __future__ import annotations

import struct
from typing import Any


def _unzigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    v = shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint overflow")


def _walk(buf: bytes):
    """Yield (field, wire_type, value) over one message body."""
    pos = 0
    while pos < len(buf):
        tag, pos = _read_varint(buf, pos)
        field, wt = tag >> 3, tag & 0x7
        if wt == 0:
            v, pos = _read_varint(buf, pos)
        elif wt == 2:
            n, pos = _read_varint(buf, pos)
            if pos + n > len(buf):
                raise ValueError("truncated length-delimited field")
            v = buf[pos : pos + n]
            pos += n
        elif wt == 1:
            if pos + 8 > len(buf):
                raise ValueError("truncated fixed64")
            v = struct.unpack("<d", buf[pos : pos + 8])[0]
            pos += 8
        elif wt == 5:
            if pos + 4 > len(buf):
                raise ValueError("truncated fixed32")
            v = struct.unpack("<f", buf[pos : pos + 4])[0]
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wt}")
        yield field, wt, v


def _decode_value(buf: bytes) -> Any:
    for field, _wt, v in _walk(buf):
        if field == 1:
            return v.decode("utf-8")
        if field in (2, 3):
            return float(v)
        if field == 4:
            return v if v < 1 << 63 else v - (1 << 64)  # int64 two's compl.
        if field == 5:
            return v
        if field == 6:
            return _unzigzag(v)
        if field == 7:
            return bool(v)
    raise ValueError("empty Value message")


def decode_geometry(cmds: list[int]) -> list[list[tuple[int, int]]]:
    """Inverse of mvt.encode_geometry. Returns parts as absolute-coordinate
    lists; a ClosePath appends nothing (the caller knows polygons close
    implicitly)."""
    parts: list[list[tuple[int, int]]] = []
    cur: list[tuple[int, int]] = []
    x = y = 0
    i = 0
    while i < len(cmds):
        cmd, count = cmds[i] & 0x7, cmds[i] >> 3
        i += 1
        if cmd in (1, 2):
            if i + 2 * count > len(cmds):
                raise ValueError("truncated geometry parameters")
            if cmd == 1 and cur:
                parts.append(cur)
                cur = []
            for _ in range(count):
                x += _unzigzag(cmds[i])
                y += _unzigzag(cmds[i + 1])
                i += 2
                cur.append((x, y))
        elif cmd == 7:
            pass  # ring closure is implicit
        else:
            raise ValueError(f"unknown geometry command {cmd}")
    if cur:
        parts.append(cur)
    return parts


def decode_tile(data: bytes) -> dict[str, dict]:
    """Parse a tile into {layer_name: {extent, version, features:[...]}}
    with each feature {id, type, parts, attrs}. Raises ValueError on
    malformed bytes (same boundary contract as sources/codecs.py)."""
    layers: dict[str, dict] = {}
    for field, _wt, v in _walk(data):
        if field != 3:
            continue
        name = ""
        extent, version = 4096, 1
        keys: list[str] = []
        values: list[Any] = []
        raw_feats: list[bytes] = []
        for lf, _lwt, lv in _walk(v):
            if lf == 1:
                name = lv.decode("utf-8")
            elif lf == 2:
                raw_feats.append(lv)
            elif lf == 3:
                keys.append(lv.decode("utf-8"))
            elif lf == 4:
                values.append(_decode_value(lv))
            elif lf == 5:
                extent = lv
            elif lf == 15:
                version = lv
        feats = []
        for fb in raw_feats:
            fid = None
            ftype = 0
            tags: list[int] = []
            cmds: list[int] = []
            for ff, fwt, fv in _walk(fb):
                if ff == 1:
                    fid = fv
                elif ff == 2:
                    if fwt == 2:
                        pos = 0
                        while pos < len(fv):
                            t, pos = _read_varint(fv, pos)
                            tags.append(t)
                    else:
                        tags.append(fv)
                elif ff == 3:
                    ftype = fv
                elif ff == 4:
                    if fwt == 2:
                        pos = 0
                        while pos < len(fv):
                            c, pos = _read_varint(fv, pos)
                            cmds.append(c)
                    else:
                        cmds.append(fv)
            if len(tags) % 2:
                raise ValueError("odd tags array")
            attrs = {}
            for ki, vi in zip(tags[::2], tags[1::2]):
                if ki >= len(keys) or vi >= len(values):
                    raise ValueError("tag index out of range")
                attrs[keys[ki]] = values[vi]
            parts = decode_geometry(cmds)
            feats.append({"id": fid, "type": ftype, "parts": parts, "attrs": attrs})
        layers[name] = {
            "extent": extent,
            "version": version,
            "features": feats,
        }
    return layers
