"""OSM PBF (`.osm.pbf`) source (S1) — pure-Python, distributed by blob.

The reference's primary ingest format (/root/reference/src/osm/reader.go:40-112
feeds `.osm.pbf` through osmpbf blob decoding). The PBF container format is
public (OSM wiki "PBF Format", fileformat.proto / osmformat.proto):

    file   := { int32_be len | BlobHeader(len) | Blob(header.datasize) }*
    BlobHeader: 1=type(string) 2=indexdata(bytes) 3=datasize(int32)
    Blob:       2=raw_size(int32); data oneof: 1=raw 3=zlib 4=lzma
                5=bzip2(obsolete) 6=lz4 7=zstd
    OSMHeader blob  -> HeaderBlock (required_features etc.)
    OSMData blob    -> PrimitiveBlock:
        1=stringtable(StringTable: 1=s repeated bytes)
        2=primitivegroup repeated (1=nodes 2=dense 3=ways 4=relations)
        17=granularity(default 100) 19=lat_offset 20=lon_offset
    DenseNodes: 1=id(packed sint64, delta) 8=lat 9=lon (packed sint64, delta)
                10=keys_vals(packed int32, 0-terminated kv runs per node)
    Way:  1=id 2=keys 3=vals(packed uint32) 8=refs(packed sint64, delta)
    Relation: ... 8=roles_sid 9=memids(packed sint64, delta)
              10=types(packed enum 0=node 1=way 2=relation)
    degrees = 1e-9 * (offset + granularity * raw)

Scale design: the blob is PBF's natural split unit (~8k entities, <=32 MiB
uncompressed). The driver scans ONLY the 4-byte length + BlobHeader of each
blob (a few KB per 100 MB of file) to build an offset index, then a
`mapInPandas` over the offset table decodes blobs in parallel — each task
seeks into the (shared-storage) file independently, so a 100 TB planet file
splits into ~10^7 independent tasks with no driver bottleneck. Packed-varint
decode is numpy-vectorized (one pass over the byte buffer per field), not a
per-byte Python loop.

The writer exists for fixtures/round-trip tests and small exports; it is a
driver-side encoder by design.
"""

from __future__ import annotations

import math
import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd

from simple_osm_queries_spark.sources.mvt import (
    _field_bytes,
    _field_packed,
    _field_varint,
    _zigzag,
)

# ---------------------------------------------------------------------------
# protobuf wire helpers (decode)
# ---------------------------------------------------------------------------


def _read_varint(buf: memoryview, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _unzigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _int64(v: int) -> int:
    """A varint read as protobuf int64: a negative value is its 64-bit
    two's complement (10 bytes on the wire)."""
    return v - (1 << 64) if v >> 63 else v


def _iter_fields(buf: memoryview) -> Iterator[tuple[int, int, object]]:
    """Yield (field_number, wire_type, value) over a message buffer.

    wire 0 -> int (varint), wire 2 -> memoryview, wire 5 -> 4 raw bytes,
    wire 1 -> 8 raw bytes.
    """
    pos, n = 0, len(buf)
    while pos < n:
        key, pos = _read_varint(buf, pos)
        field, wire = key >> 3, key & 7
        if wire == 0:
            val, pos = _read_varint(buf, pos)
        elif wire == 2:
            ln, pos = _read_varint(buf, pos)
            val = buf[pos : pos + ln]
            pos += ln
        elif wire == 5:
            val = bytes(buf[pos : pos + 4])
            pos += 4
        elif wire == 1:
            val = bytes(buf[pos : pos + 8])
            pos += 8
        else:  # pragma: no cover - malformed input
            raise ValueError(f"unsupported wire type {wire}")
        yield field, wire, val


def _decode_packed(buf: memoryview, signed: bool, delta: bool = False) -> np.ndarray:
    """Vectorized packed-varint decode -> int64 array.

    One numpy pass over the byte buffer: continuation bits locate varint
    boundaries, 7-bit payloads are shifted by their position within each
    varint and summed with add.reduceat. No per-byte Python loop.
    """
    raw = np.frombuffer(buf, dtype=np.uint8)
    if raw.size == 0:
        return np.empty(0, dtype=np.int64)
    ends = np.flatnonzero((raw & 0x80) == 0)
    if ends.size == 0 or ends[-1] != raw.size - 1:
        raise ValueError("truncated packed varint (missing terminator byte)")
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    # a valid 64-bit varint is <= 10 bytes; a longer group would shift by
    # >= 64, which numpy (like x86) wraps mod 64 — corrupt input must raise,
    # not silently decode to garbage coordinates
    if int((ends - starts).max()) > 9:
        raise ValueError("malformed varint longer than 10 bytes")
    pos_in_group = np.arange(raw.size, dtype=np.uint64) - np.repeat(
        starts.astype(np.uint64), ends - starts + 1
    )
    contrib = (raw & 0x7F).astype(np.uint64) << (np.uint64(7) * pos_in_group)
    vals = np.add.reduceat(contrib, starts)
    if signed:
        out = ((vals >> np.uint64(1)).astype(np.int64)) ^ -(
            (vals & np.uint64(1)).astype(np.int64)
        )
    else:
        out = vals.astype(np.int64)
    if delta:
        out = np.cumsum(out)
    return out


# ---------------------------------------------------------------------------
# blob container
# ---------------------------------------------------------------------------


def scan_blob_index(path: str) -> list[tuple[str, int, int]]:
    """Driver-side header-only scan -> [(blob_type, data_offset, datasize)].

    Reads ~len(BlobHeader) bytes per blob (never the data payload), so
    indexing a planet-scale file is I/O-trivial.
    """
    out: list[tuple[str, int, int]] = []
    with open(path, "rb") as f:
        while True:
            hdr_len_raw = f.read(4)
            if len(hdr_len_raw) < 4:
                break
            (hdr_len,) = struct.unpack(">i", hdr_len_raw)
            hdr = memoryview(f.read(hdr_len))
            btype, datasize = "", 0
            for field, _wire, val in _iter_fields(hdr):
                if field == 1:
                    btype = bytes(val).decode("utf-8")
                elif field == 3:
                    datasize = val
            offset = f.tell()
            out.append((btype, offset, datasize))
            f.seek(datasize, 1)
    return out


def _decompress_blob(data: bytes) -> bytes:
    """Blob payload -> raw block bytes. Codecs per the OSMPBF Blob message:
    raw (1), zlib (3), lzma (4), obsolete bzip2 (5), lz4 (6), zstd (7).
    zlib/lzma/bzip2 are stdlib; zstd needs the optional ``zstandard``
    module (newer planet extracts use it); lz4 needs ``lz4``."""
    fields = {f: bytes(v) for f, _w, v in _iter_fields(memoryview(data)) if f != 2}
    if 1 in fields:
        return fields[1]
    if 3 in fields:
        return zlib.decompress(fields[3])
    if 4 in fields:
        import lzma

        return lzma.decompress(fields[4])
    if 5 in fields:
        import bz2

        return bz2.decompress(fields[5])
    if 7 in fields:
        try:
            import zstandard  # type: ignore
        except ImportError as e:  # pragma: no cover - module availability
            raise ValueError(
                "blob is zstd-compressed; pip install zstandard to read it"
            ) from e
        return zstandard.ZstdDecompressor().decompress(fields[7])
    if 6 in fields:
        try:
            import lz4.frame  # type: ignore
        except ImportError as e:  # pragma: no cover
            raise ValueError("blob is lz4-compressed; pip install lz4") from e
        return lz4.frame.decompress(fields[6])
    raise ValueError("blob carries no known codec field (raw/zlib/lzma/bzip2/lz4/zstd)")


# ---------------------------------------------------------------------------
# PrimitiveBlock decode
# ---------------------------------------------------------------------------


def _decode_string_table(buf: memoryview) -> list[str]:
    return [
        bytes(val).decode("utf-8")
        for field, _w, val in _iter_fields(buf)
        if field == 1
    ]


def _tags_from_keyvals(keys: np.ndarray, vals: np.ndarray, st: list[str]) -> dict:
    return {st[k]: st[v] for k, v in zip(keys.tolist(), vals.tolist())}


def _decode_dense(buf: memoryview, st: list[str], gran: int, lat_off: int, lon_off: int):
    ids = lats = lons = None
    keys_vals = np.empty(0, dtype=np.int64)
    for field, _w, val in _iter_fields(buf):
        if field == 1:
            ids = _decode_packed(val, signed=True, delta=True)
        elif field == 8:
            lats = _decode_packed(val, signed=True, delta=True)
        elif field == 9:
            lons = _decode_packed(val, signed=True, delta=True)
        elif field == 10:
            keys_vals = _decode_packed(val, signed=False)
    if ids is None:
        return []
    lat_deg = 1e-9 * (lat_off + gran * lats.astype(np.float64))
    lon_deg = 1e-9 * (lon_off + gran * lons.astype(np.float64))
    # split the 0-terminated kv stream into one run per node
    tags_per_node: list[dict] = []
    if keys_vals.size:
        zeros = np.flatnonzero(keys_vals == 0)
        start = 0
        for z in zeros.tolist():
            run = keys_vals[start:z]
            tags_per_node.append(
                _tags_from_keyvals(run[0::2], run[1::2], st) if run.size else {}
            )
            start = z + 1
    while len(tags_per_node) < ids.size:
        tags_per_node.append({})
    return [
        (int(i), float(lo), float(la), t)
        for i, lo, la, t in zip(ids.tolist(), lon_deg.tolist(), lat_deg.tolist(), tags_per_node)
    ]


def _decode_node(buf: memoryview, st: list[str], gran: int, lat_off: int, lon_off: int):
    nid = lat = lon = 0
    keys = vals = np.empty(0, dtype=np.int64)
    for field, wire, val in _iter_fields(buf):
        if field == 1:
            nid = _unzigzag(val) if wire == 0 else 0
        elif field == 2:
            keys = _decode_packed(val, signed=False)
        elif field == 3:
            vals = _decode_packed(val, signed=False)
        elif field == 8:
            lat = _unzigzag(val)
        elif field == 9:
            lon = _unzigzag(val)
    return (
        nid,
        1e-9 * (lon_off + gran * lon),
        1e-9 * (lat_off + gran * lat),
        _tags_from_keyvals(keys, vals, st),
    )


def _decode_way(buf: memoryview, st: list[str]):
    wid = 0
    keys = vals = refs = np.empty(0, dtype=np.int64)
    for field, _w, val in _iter_fields(buf):
        if field == 1:
            wid = _int64(val)
        elif field == 2:
            keys = _decode_packed(val, signed=False)
        elif field == 3:
            vals = _decode_packed(val, signed=False)
        elif field == 8:
            refs = _decode_packed(val, signed=True, delta=True)
    return (wid, refs.tolist(), _tags_from_keyvals(keys, vals, st))


def _decode_relation(buf: memoryview, st: list[str]):
    rid = 0
    keys = vals = memids = types = np.empty(0, dtype=np.int64)
    for field, _w, val in _iter_fields(buf):
        if field == 1:
            rid = _int64(val)
        elif field == 2:
            keys = _decode_packed(val, signed=False)
        elif field == 3:
            vals = _decode_packed(val, signed=False)
        elif field == 9:
            memids = _decode_packed(val, signed=True, delta=True)
        elif field == 10:
            types = _decode_packed(val, signed=False)
    node_m = memids[types == 0].tolist()
    way_m = memids[types == 1].tolist()
    rel_m = memids[types == 2].tolist()
    return (rid, node_m, way_m, rel_m, _tags_from_keyvals(keys, vals, st))


def decode_primitive_block(data: bytes):
    """Decode one uncompressed PrimitiveBlock -> (nodes, ways, relations) lists.

    nodes: (id, lon, lat, tags); ways: (id, node_ids, tags);
    relations: (id, node_member_ids, way_member_ids, child_relation_ids, tags).
    """
    buf = memoryview(data)
    st: list[str] = []
    groups: list[memoryview] = []
    gran, lat_off, lon_off = 100, 0, 0
    for field, _w, val in _iter_fields(buf):
        if field == 1:
            st = _decode_string_table(val)
        elif field == 2:
            groups.append(val)
        elif field == 17:
            gran = val
        elif field == 19:
            lat_off = val
        elif field == 20:
            lon_off = val
    nodes, ways, rels = [], [], []
    for g in groups:
        for field, _w, val in _iter_fields(g):
            if field == 1:
                nodes.append(_decode_node(val, st, gran, lat_off, lon_off))
            elif field == 2:
                nodes.extend(_decode_dense(val, st, gran, lat_off, lon_off))
            elif field == 3:
                ways.append(_decode_way(val, st))
            elif field == 4:
                rels.append(_decode_relation(val, st))
    return nodes, ways, rels


def decode_blob_at(path: str, offset: int, size: int):
    with open(path, "rb") as f:
        f.seek(offset)
        data = f.read(size)
    return decode_primitive_block(_decompress_blob(data))


# ---------------------------------------------------------------------------
# distributed read
# ---------------------------------------------------------------------------

_UNION_SCHEMA = (
    "kind string, id long, lon double, lat double, "
    "node_ids array<long>, node_member_ids array<long>, "
    "way_member_ids array<long>, child_relation_ids array<long>, "
    "tags map<string,string>"
)


def read_osm_pbf(spark, path: str, persist: bool = True):
    """Distributed `.osm.pbf` scan -> (nodes, ways, relations) DataFrames.

    Mirrors read_osm_xml's output schemas. Each blob decodes exactly once
    (union row shape, split by kind); `persist=True` caches the union so the
    three splits don't re-decode — pass False for write-through import
    pipelines that immediately sink to parquet/Iceberg.
    """
    import pyspark.sql.functions as F

    index = [
        (off, size)
        for btype, off, size in scan_blob_index(path)
        if btype == "OSMData"
    ]
    if not index:
        raise ValueError(f"no OSMData blobs found in {path}")
    parallelism = min(len(index), spark.sparkContext.defaultParallelism * 4)
    blobs = spark.createDataFrame(index, "offset long, size long").repartition(
        parallelism
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "kind", "id", "lon", "lat", "node_ids", "node_member_ids",
            "way_member_ids", "child_relation_ids", "tags",
        ]
        for b in batches:
            for off, size in zip(b["offset"], b["size"]):
                nodes, ways, rels = decode_blob_at(path, int(off), int(size))
                rows = (
                    [("node", i, lo, la, None, None, None, None, t)
                     for i, lo, la, t in nodes]
                    + [("way", i, None, None, nids, None, None, None, t)
                       for i, nids, t in ways]
                    + [("relation", i, None, None, None, nm, wm, cm, t)
                       for i, nm, wm, cm, t in rels]
                )
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    union = blobs.mapInPandas(decode, _UNION_SCHEMA)
    if persist:
        union = union.persist()
    nodes = union.filter(F.col("kind") == "node").select("id", "lon", "lat", "tags")
    if persist:
        # expose the cached union for cleanup (see release_scan)
        from simple_osm_queries_spark.caching import track_persisted

        track_persisted(nodes, [union])
    ways = union.filter(F.col("kind") == "way").select(
        "id", "node_ids", "tags"
    )
    rels = union.filter(F.col("kind") == "relation").select(
        "id", "node_member_ids", "way_member_ids", "child_relation_ids", "tags"
    )
    return nodes, ways, rels


def release_scan(nodes_df) -> None:
    """Unpersist the cached decode union behind a persist=True read (call
    once the raw tables are sunk / no longer needed)."""
    from simple_osm_queries_spark.caching import unpersist_intermediates

    unpersist_intermediates(nodes_df)


# ---------------------------------------------------------------------------
# encode (fixture writer / small exports; driver-side by design). The wire
# primitives (varint, zigzag, fields) are sources/mvt.py's.
# ---------------------------------------------------------------------------

_U64 = (1 << 64) - 1  # an int64 field writes a negative value as two's complement


def _sint_deltas(values) -> list[int]:
    """The varints of a packed sint64 delta field (DenseNodes ids and
    coordinates, way refs, relation memids): each value minus the one
    before it, zigzagged."""
    out, prev = [], 0
    for v in values:
        v = int(v)
        out.append(_zigzag(v - prev))
        prev = v
    return out


class _StringTable:
    def __init__(self):
        self._idx: dict[str, int] = {}
        self.strings: list[str] = [""]  # index 0 reserved/empty per spec

    def get(self, s: str) -> int:
        i = self._idx.get(s)
        if i is None:
            i = len(self.strings)
            self.strings.append(s)
            self._idx[s] = i
        return i

    def encode(self) -> bytes:
        return b"".join(_field_bytes(1, s.encode("utf-8")) for s in self.strings)


def _blob(block: bytes, compression: str = "zlib") -> bytes:
    if compression == "zlib":
        field, payload = 3, zlib.compress(block)
    elif compression == "raw":
        field, payload = 1, block
    elif compression == "lzma":
        import lzma

        field, payload = 4, lzma.compress(block)
    elif compression == "zstd":
        import zstandard  # type: ignore

        field, payload = 7, zstandard.ZstdCompressor().compress(block)
    else:
        raise ValueError(f"unsupported compression {compression!r}")
    return _field_varint(2, len(block)) + _field_bytes(field, payload)


def _framed(btype: str, blob: bytes) -> bytes:
    hdr = _field_bytes(1, btype.encode()) + _field_varint(3, len(blob))
    return struct.pack(">i", len(hdr)) + hdr + blob


def write_osm_pbf(path: str, nodes=None, ways=None, relations=None,
                  entities_per_block: int = 8000,
                  compression: str = "zlib") -> None:
    """Encode (nodes, ways, relations) row-iterables into `path`.

    Row shapes match the read side: nodes (id, lon, lat, tags),
    ways (id, node_ids, tags), relations (id, node_member_ids,
    way_member_ids, child_relation_ids, tags). Coordinates quantize to
    nanodegrees (granularity 100 -> the standard 1e-7 deg resolution of
    real planet files is a *writer* choice; we keep full 1e-9 with
    granularity 1).
    """
    header_block = (
        _field_bytes(4, b"OsmSchema-V0.6") + _field_bytes(4, b"DenseNodes")
    )
    chunks = [_framed("OSMHeader", _blob(header_block, compression))]

    def block_of(groups: list[bytes], st: _StringTable) -> bytes:
        body = _field_bytes(1, st.encode())
        for g in groups:
            body += _field_bytes(2, g)
        body += _field_varint(17, 1)  # granularity 1 nanodegree
        return body

    nodes = list(nodes or [])
    for i in range(0, len(nodes), entities_per_block):
        chunk = nodes[i : i + entities_per_block]
        st = _StringTable()
        ids = [r[0] for r in chunk]
        # half-up quantization (floor(x+0.5)), NOT Python round(): banker's
        # rounding disagrees with SQL engines' round() on exact .5
        # boundaries, and the gate oracle must mirror this bit-for-bit
        lons = [math.floor(r[1] * 1e9 + 0.5) for r in chunk]
        lats = [math.floor(r[2] * 1e9 + 0.5) for r in chunk]
        kv: list[int] = []
        for r in chunk:
            for k, v in (r[3] or {}).items():
                kv.append(st.get(k))
                kv.append(st.get(v))
            kv.append(0)
        dense = (
            _field_packed(1, _sint_deltas(ids))
            + _field_packed(8, _sint_deltas(lats))
            + _field_packed(9, _sint_deltas(lons))
            + _field_packed(10, kv)
        )
        chunks.append(_framed("OSMData", _blob(block_of([_field_bytes(2, dense)], st), compression)))

    ways = list(ways or [])
    for i in range(0, len(ways), entities_per_block):
        chunk = ways[i : i + entities_per_block]
        st = _StringTable()
        group = bytearray()
        for wid, node_ids, tags in chunk:
            msg = _field_varint(1, int(wid) & _U64)  # int64
            msg += _field_packed(2, [st.get(k) for k in (tags or {})])
            msg += _field_packed(3, [st.get(v) for v in (tags or {}).values()])
            msg += _field_packed(8, _sint_deltas(node_ids))
            group += _field_bytes(3, msg)
        chunks.append(_framed("OSMData", _blob(block_of([bytes(group)], st), compression)))

    relations = list(relations or [])
    for i in range(0, len(relations), entities_per_block):
        chunk = relations[i : i + entities_per_block]
        st = _StringTable()
        group = bytearray()
        for rid, node_m, way_m, rel_m, tags in chunk:
            memids = list(node_m) + list(way_m) + list(rel_m)
            types = [0] * len(node_m) + [1] * len(way_m) + [2] * len(rel_m)
            msg = _field_varint(1, int(rid) & _U64)  # int64
            msg += _field_packed(2, [st.get(k) for k in (tags or {})])
            msg += _field_packed(3, [st.get(v) for v in (tags or {}).values()])
            msg += _field_packed(9, _sint_deltas(memids))
            msg += _field_packed(10, types)
            group += _field_bytes(4, msg)
        chunks.append(_framed("OSMData", _blob(block_of([bytes(group)], st), compression)))

    with open(path, "wb") as f:
        for c in chunks:
            f.write(c)
