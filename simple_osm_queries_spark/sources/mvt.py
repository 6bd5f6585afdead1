"""Mapbox Vector Tile (MVT 2.1) encoder — from scratch, stdlib only.

The "vector" half of the north rule's raster<->vector tile pair: the
engine already renders raster PNG tiles (operators/tiles.py tile_heatmap);
this module emits the same tiles as protobuf VECTOR tiles, the format
every slippy-map client (MapLibre/Mapbox/OpenLayers) consumes natively.
The reference has no tile output at all — its web API returns the raw
GeoJSON feature list (/root/reference/src/web/api.go:117), which is what
makes dense regions undrawable; vector tiles are the standard fix.

Wire format is protobuf. We hand-roll the three wire ops the spec needs
(varint, zigzag, length-delimited submessages) rather than depending on a
protobuf library; sources/osm_pbf.py's PBF writer uses the same ones.
Layout per the public spec (vector_tile.proto, spec 2.1):

  Tile:    repeated Layer layers = 3
  Layer:   uint32 version = 15 (must be 2), string name = 1,
           repeated Feature features = 2, repeated string keys = 3,
           repeated Value values = 4, uint32 extent = 5 (default 4096)
  Feature: uint64 id = 1, packed uint32 tags = 2 (key/value index pairs),
           GeomType type = 3 (POINT=1 LINESTRING=2 POLYGON=3),
           packed uint32 geometry = 4
  Value:   oneof — string=1, float=2, double=3, int64=4, uint64=5,
           sint64=6, bool=7
  Geometry stream: CommandInteger = (cmd_id & 0x7) | (count << 3) with
           cmd 1=MoveTo 2=LineTo 7=ClosePath; params are zigzag deltas.

Coordinates are tile-local integers in [0, extent) with y DOWN (screen
space); points outside the nominal extent are legal (buffer convention —
renderers clip), which is what lets way linestrings cross tile borders
without a clipping stage.
"""

from __future__ import annotations

from typing import Any, Iterable

POINT, LINESTRING, POLYGON = 1, 2, 3
EXTENT = 4096  # tile-local grid size of every tile the engine encodes


# ---------------------------------------------------------------------------
# protobuf wire primitives
# ---------------------------------------------------------------------------

def _varint(v: int) -> bytes:
    if v < 0:
        raise ValueError(
            "varint must be non-negative (zigzag sint values, mask int64 with 2**64 - 1)"
        )
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v >= 0 else ((-v) << 1) - 1


def _field_varint(field: int, v: int) -> bytes:
    return _varint(field << 3 | 0) + _varint(v)


def _field_bytes(field: int, data: bytes) -> bytes:
    return _varint(field << 3 | 2) + _varint(len(data)) + data


def _field_packed(field: int, vals: Iterable[int]) -> bytes:
    body = b"".join(_varint(v) for v in vals)
    return _field_bytes(field, body)


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------

def encode_value(v: Any) -> bytes:
    """One MVT Value message. bool before int (bool is an int subclass)."""
    import struct

    if isinstance(v, bool):
        return _field_varint(7, int(v))
    if isinstance(v, int):
        return _field_varint(6, _zigzag(v))  # sint64: compact negatives
    if isinstance(v, float):
        return _varint(3 << 3 | 1) + struct.pack("<d", v)
    if isinstance(v, str):
        return _field_bytes(1, v.encode("utf-8"))
    raise ValueError(f"unsupported MVT attribute type: {type(v).__name__}")


def encode_geometry(geom_type: int, rings: list[list[tuple[int, int]]]) -> list[int]:
    """Command stream for one feature. ``rings``: POINT = one list of
    points (multipoint if >1); LINESTRING = one list per part; POLYGON =
    one list per ring (first CCW-in-screen-space exterior by spec; we emit
    rings as given and ClosePath without repeating the first point)."""
    out: list[int] = []
    cx = cy = 0
    if geom_type == POINT:
        pts = rings[0]
        out.append(1 | len(pts) << 3)  # one MoveTo with count=n
        for x, y in pts:
            out += (_zigzag(x - cx), _zigzag(y - cy))
            cx, cy = x, y
        return out
    for ring in rings:
        if len(ring) < 2:
            raise ValueError("line/ring needs >= 2 points")
        x0, y0 = ring[0]
        out.append(1 | 1 << 3)  # MoveTo(1)
        out += (_zigzag(x0 - cx), _zigzag(y0 - cy))
        cx, cy = x0, y0
        body = ring[1:]
        if geom_type == POLYGON and body and body[-1] == ring[0]:
            body = body[:-1]  # closing vertex is implied by ClosePath
        out.append(2 | len(body) << 3)  # LineTo(n-1)
        for x, y in body:
            out += (_zigzag(x - cx), _zigzag(y - cy))
            cx, cy = x, y
        if geom_type == POLYGON:
            out.append(7 | 1 << 3)  # ClosePath(1)
    return out


def encode_layer(
    name: str,
    features: list[dict],
    extent: int = EXTENT,
) -> bytes:
    """One Layer message. Each feature dict: ``id`` (int, optional),
    ``type`` (POINT/LINESTRING/POLYGON), ``rings`` (see encode_geometry),
    ``attrs`` (dict[str, str|int|float|bool], optional). Keys and values
    are deduplicated into the layer-level tables per spec."""
    keys: dict[str, int] = {}
    vals: dict[tuple, int] = {}  # (type_name, value) -> index; 1.0 != 1
    feat_bufs: list[bytes] = []
    val_order: list[Any] = []
    for f in features:
        tags: list[int] = []
        for k, v in (f.get("attrs") or {}).items():
            ki = keys.setdefault(k, len(keys))
            vk = (type(v).__name__, v)
            vi = vals.get(vk)
            if vi is None:
                vi = vals[vk] = len(vals)
                val_order.append(v)
            tags += (ki, vi)
        buf = bytearray()
        if f.get("id") is not None:
            buf += _field_varint(1, int(f["id"]))
        if tags:
            buf += _field_packed(2, tags)
        buf += _field_varint(3, f["type"])
        buf += _field_packed(4, encode_geometry(f["type"], f["rings"]))
        feat_bufs.append(bytes(buf))
    out = bytearray()
    out += _field_varint(15, 2)  # version FIRST (spec examples' layout)
    out += _field_bytes(1, name.encode("utf-8"))
    for fb in feat_bufs:
        out += _field_bytes(2, fb)
    for k in keys:  # insertion-ordered
        out += _field_bytes(3, k.encode("utf-8"))
    for v in val_order:
        out += _field_bytes(4, encode_value(v))
    out += _field_varint(5, extent)
    return bytes(out)


def encode_tile(layers: list[tuple[str, list[dict]]], extent: int = EXTENT) -> bytes:
    return b"".join(
        _field_bytes(3, encode_layer(name, feats, extent)) for name, feats in layers
    )
