"""Mapbox Vector Tile codec (sources/mvt.py), tiles.tile_vectors and the
single-tile path of the .mvt route (tiles.tile_mvt_layers + tile_mvt).

Oracle strategy (CLAUDE.md): the codec is pinned by HAND-COMPUTED wire
bytes (spec 2.1 layout worked out independently below, not via the
encoder), an independent minimal protobuf wire parser written here, and
encode->decode round-trips; the tiles are checked against a pure-python
tile-assignment/projection oracle, on both encode paths of a layer.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from simple_osm_queries_spark.sources import mvt
from tests import mvt_decode
from tests.cell_oracle import tile_fxy_py, tile_xy_py


# ---------------------------------------------------------------------------
# wire primitives
# ---------------------------------------------------------------------------

def test_varint_zigzag_anchors():
    # published protobuf examples: 300 -> AC 02; 1 -> 01
    assert mvt._varint(300) == b"\xac\x02"
    assert mvt._varint(1) == b"\x01"
    assert mvt._varint(0) == b"\x00"
    # zigzag: 0->0, -1->1, 1->2, -2->3 (protobuf sint encoding table)
    assert [mvt._zigzag(v) for v in (0, -1, 1, -2, 2)] == [0, 1, 2, 3, 4]
    for v in (0, 1, -1, 2, -2, 63, -64, 10**12, -(10**12)):
        assert mvt_decode._unzigzag(mvt._zigzag(v)) == v


def test_geometry_command_anchor():
    """Spec 2.1 worked example: a point at (25,17) encodes to the command
    stream [9, 50, 34] (MoveTo count=1 => (1 | 1<<3) = 9; zigzag(25)=50,
    zigzag(17)=34)."""
    assert mvt.encode_geometry(mvt.POINT, [[(25, 17)]]) == [9, 50, 34]
    assert mvt_decode.decode_geometry([9, 50, 34]) == [[(25, 17)]]


def test_linestring_and_polygon_commands():
    # spec example: linestring (2,2)->(2,10)->(10,10):
    # [9, 4, 4, 18, 0, 16, 16, 0]
    cmds = mvt.encode_geometry(mvt.LINESTRING, [[(2, 2), (2, 10), (10, 10)]])
    assert cmds == [9, 4, 4, 18, 0, 16, 16, 0]
    # polygon ring closes implicitly with ClosePath (command 7, count 1 -> 15)
    ring = [(3, 6), (8, 12), (20, 34)]
    pcmds = mvt.encode_geometry(mvt.POLYGON, [ring])
    assert pcmds[-1] == 15
    assert mvt_decode.decode_geometry(pcmds) == [ring]
    # explicit closing vertex is dropped, same bytes
    assert mvt.encode_geometry(mvt.POLYGON, [ring + [ring[0]]]) == pcmds


def test_hand_computed_tile_bytes():
    """Full tile, bytes assembled BY HAND from the spec (independent of the
    encoder): one layer 'p', one point feature id=7 at (25,17), one
    attribute name='a'."""
    feature = bytes(
        [0x08, 0x07]  # id = 7
        + [0x12, 0x02, 0x00, 0x00]  # tags packed [0, 0]
        + [0x18, 0x01]  # type = POINT
        + [0x22, 0x03, 0x09, 0x32, 0x22]  # geometry packed [9, 50, 34]
    )
    value = bytes([0x0A, 0x01, 0x61])  # Value{string_value: "a"}
    layer = (
        bytes([0x78, 0x02])  # version = 2 (field 15 varint)
        + bytes([0x0A, 0x01, 0x70])  # name = "p"
        + bytes([0x12, len(feature)]) + feature  # features[0]
        + bytes([0x1A, 0x04]) + b"name"  # keys[0]
        + bytes([0x22, len(value)]) + value  # values[0]
        + bytes([0x28, 0x80, 0x20])  # extent = 4096
    )
    expected = bytes([0x1A, len(layer)]) + layer
    got = mvt.encode_tile(
        [("p", [{"id": 7, "type": mvt.POINT, "rings": [[(25, 17)]],
                 "attrs": {"name": "a"}}])]
    )
    assert got == expected


def test_roundtrip_attrs_all_types_and_dedup():
    feats = [
        {"id": 1, "type": mvt.POINT, "rings": [[(0, 0)]],
         "attrs": {"s": "x", "i": -5, "f": 2.5, "b": True}},
        {"id": 2, "type": mvt.POINT, "rings": [[(4095, 4095)]],
         "attrs": {"s": "x", "i": 7, "b": False}},  # "s"/"x" shared
        {"id": 3, "type": mvt.LINESTRING,
         "rings": [[(0, 0), (100, 50)], [(200, 200), (90, 210)]]},
    ]
    data = mvt.encode_tile([("mix", feats)])
    out = mvt_decode.decode_tile(data)
    layer = out["mix"]
    assert layer["version"] == 2 and layer["extent"] == 4096
    f1, f2, f3 = layer["features"]
    assert f1["attrs"] == {"s": "x", "i": -5, "f": 2.5, "b": True}
    assert isinstance(f1["attrs"]["b"], bool) and isinstance(f1["attrs"]["i"], int)
    assert f2["attrs"] == {"s": "x", "i": 7, "b": False}
    assert f3["parts"] == [[(0, 0), (100, 50)], [(200, 200), (90, 210)]]
    assert f3["attrs"] == {}
    # key/value tables deduplicated: 4 keys, 6 values ("x" shared; bool
    # False is distinct from int 0, float 2.5 distinct from any int)
    by_field: dict[int, int] = {}
    (_, _, layer_bytes), = _walk_independent(data)
    for f, _, _v in _walk_independent(layer_bytes):
        by_field[f] = by_field.get(f, 0) + 1
    assert by_field[3] == 4 and by_field[4] == 6


def _walk_independent(data: bytes):
    """Minimal INDEPENDENT protobuf wire parser (no shared helpers with
    sources/mvt.py) used to cross-check the encoder's framing."""
    pos = 0
    while pos < len(data):
        tag = 0
        shift = 0
        while True:
            b = data[pos]
            pos += 1
            tag |= (b & 0x7F) << shift
            shift += 7
            if not b & 0x80:
                break
        field, wt = tag >> 3, tag & 7
        if wt == 0:
            v = 0
            shift = 0
            while True:
                b = data[pos]
                pos += 1
                v |= (b & 0x7F) << shift
                shift += 7
                if not b & 0x80:
                    break
        elif wt == 2:
            ln = 0
            shift = 0
            while True:
                b = data[pos]
                pos += 1
                ln |= (b & 0x7F) << shift
                shift += 7
                if not b & 0x80:
                    break
            v = data[pos : pos + ln]
            pos += ln
        else:
            raise AssertionError(f"unexpected wire type {wt}")
        yield field, wt, v


def test_encoder_framing_vs_independent_parser():
    data = mvt.encode_tile(
        [("a", [{"id": 9, "type": mvt.POINT, "rings": [[(1, 2)]],
                 "attrs": {"k": "v", "n": 3}}]),
         ("b", [])]
    )
    tops = list(_walk_independent(data))
    assert [f for f, _, _ in tops] == [3, 3]  # two Layer fields
    fields_a = list(_walk_independent(tops[0][2]))
    by_field: dict[int, list] = {}
    for f, _, v in fields_a:
        by_field.setdefault(f, []).append(v)
    assert by_field[15] == [2]  # version 2
    assert by_field[1] == [b"a"]
    assert by_field[3] == [b"k", b"n"]  # keys in insertion order
    assert len(by_field[4]) == 2  # two distinct values
    assert by_field[5] == [4096]
    # empty layer still valid
    fields_b = {f: v for f, _, v in _walk_independent(tops[1][2])}
    assert fields_b[1] == b"b" and fields_b[15] == 2


def test_malformed_bytes_raise_valueerror():
    good = mvt.encode_tile(
        [("p", [{"id": 1, "type": mvt.POINT, "rings": [[(3, 4)]]}])]
    )
    for bad in (good[:-1], good[:3], b"\xff" * 8, b"\x1a\x7f" + b"\x00"):
        with pytest.raises(ValueError):
            mvt_decode.decode_tile(bad)
    # unsupported attr type fails at encode time
    with pytest.raises(ValueError):
        mvt.encode_value([1, 2])


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

def test_tile_vectors_points(spark):
    """Every generated node lands in exactly one tile's MVT with the
    pure-python projection oracle's coordinates and its tags as
    attributes; per-tile feature order is id order."""
    from simple_osm_queries_spark.functions import cells as C
    from simple_osm_queries_spark.operators.tiles import tile_vectors
    from simple_osm_queries_spark.sources.dataset import from_generator

    ds = from_generator(spark, n_nodes=400, n_ways=0, n_relations=0)
    zoom, extent = 12, 4096
    rows = ds.nodes.select("id", "lon", "lat", "tags").collect()
    out = {r.tile_id: r for r in tile_vectors(ds.nodes, zoom).collect()}

    oracle: dict[int, list] = {}
    n = 1 << zoom
    for r in rows:
        tx, ty = tile_xy_py(r.lon, r.lat, zoom)
        fx = (r.lon + 180.0) / 360.0 * n
        lr = math.radians(min(max(r.lat, -85.05112878), 85.05112878))
        fy = (1.0 - math.log(math.tan(lr) + 1.0 / math.cos(lr)) / math.pi) / 2.0 * n
        ix = min(max(int(math.floor((fx - tx) * extent)), 0), extent - 1)
        iy = min(max(int(math.floor((fy - ty) * extent)), 0), extent - 1)
        oracle.setdefault(C.tile_id_py(tx, ty, zoom), []).append(
            (r.id, ix, iy, dict(r.tags))
        )
    assert set(out) == set(oracle)
    for tid, members in oracle.items():
        row = out[tid]
        members.sort()
        layer = mvt_decode.decode_tile(bytes(row.mvt))["nodes"]
        assert layer["extent"] == extent
        assert row.n_features == row.n_total == len(members)
        got = [
            (f["id"], f["parts"][0][0][0], f["parts"][0][0][1], f["attrs"])
            for f in layer["features"]
        ]
        assert got == [(i, x, y, t) for i, x, y, t in members]


def test_tile_vectors_cap_is_visible(spark, monkeypatch):
    from simple_osm_queries_spark.operators import tiles

    pts = spark.createDataFrame(
        [(i, 9.95, 53.55, {"k": "v"}) for i in range(30)],
        "id long, lon double, lat double, tags map<string,string>",
    )
    monkeypatch.setattr(tiles, "TILE_VECTORS_CAP", 10)
    r = tiles.tile_vectors(pts, 11).collect()[0]
    assert r.n_features == 10 and r.n_total == 30  # capped but not silent
    layer = mvt_decode.decode_tile(bytes(r.mvt))["nodes"]
    assert [f["id"] for f in layer["features"]] == list(range(10))

# ---------------------------------------------------------------------------
# one tile: tiles.tile_mvt_layers + tiles.tile_mvt (the .mvt route)
# ---------------------------------------------------------------------------

_BBOX = ("min_lon", "min_lat", "max_lon", "max_lat")
_NODES = "id long, lon double, lat double, tags map<string,string>"
_WAYS = (
    "id long, nodes array<struct<id:long,lon:double,lat:double>>, "
    "min_lon double, min_lat double, max_lon double, max_lat double"
)
_RELATIONS = (
    "id long, min_lon double, min_lat double, max_lon double, max_lat double, "
    "tags map<string,string>"
)


def _local(spark, df, *cols):
    df = df.select(*cols)
    return spark.createDataFrame(df.collect(), df.schema)


def _served(monkeypatch, frames, zoom, tiles_xy, threshold, layer, simplify=0.0):
    """{(tx, ty): decoded tile} of tiles.tile_mvt over the ``layer`` layer
    of tiles.tile_mvt_layers, with MVT_DRIVER_ROWS at ``threshold`` (0:
    the layer is encoded in an executor whenever it has members)."""
    from simple_osm_queries_spark.operators import tiles

    monkeypatch.setattr(tiles, "MVT_DRIVER_ROWS", threshold)
    out = {}
    for tx, ty in tiles_xy:
        layers = tiles.tile_mvt_layers(*frames, zoom, tx, ty, 65536, simplify)
        out[tx, ty] = mvt_decode.decode_tile(tiles.tile_mvt([x for x in layers if x.name == layer]))
    return out


def _paths():
    """The two encode paths: the driver (the default threshold) and the
    executor (threshold 0)."""
    from simple_osm_queries_spark.operators import tiles

    return (tiles.MVT_DRIVER_ROWS, 0)


def _window_tiles(zoom):
    """Every tile meeting the datagen window (lon 9.90-10.10, lat
    53.50-53.70, FIXTURES.md) plus a ring of one tile around it."""
    x0, y0 = tile_xy_py(9.90, 53.70, zoom)
    x1, y1 = tile_xy_py(10.10, 53.50, zoom)
    return [(x, y) for x in range(x0 - 1, x1 + 2) for y in range(y0 - 1, y1 + 2)]


def _bbox_tiles(min_lon, min_lat, max_lon, max_lat, zoom):
    x0, y0 = tile_xy_py(min_lon, max_lat, zoom)  # y grows DOWN
    x1, y1 = tile_xy_py(max_lon, min_lat, zoom)
    return {(x, y) for x in range(x0, x1 + 1) for y in range(y0, y1 + 1)}


def _proj(lon, lat, zoom):
    """Independent Web-Mercator projection (tile units at ``zoom``)."""
    n = 1 << zoom
    lr = math.radians(min(max(lat, -85.05112878), 85.05112878))
    fy = (1.0 - math.log(math.tan(lr) + 1.0 / math.cos(lr)) / math.pi) / 2.0 * n
    return (lon + 180.0) / 360.0 * n, fy


def test_tile_vectors_ways(spark, monkeypatch):
    """A way is in the ways layer of exactly the tiles its bbox covers
    (one whose bbox spans several tiles is in each), with tile-local
    vertices that reconstruct its absolute positions (coords may leave
    [0, extent) on a neighbour tile: the spec's buffer convention), and a
    way whose bbox covers more than MAX_COVER tiles is in no tile. Served
    tile by tile through tile_mvt_layers + tile_mvt, once encoded on the
    driver and once in an executor."""
    from simple_osm_queries_spark.sources.dataset import from_generator

    ds = from_generator(spark, n_nodes=300, n_ways=60, n_relations=0)
    zoom, extent = 11, mvt.EXTENT
    ways = _local(spark, ds.ways, "id", "nodes", *_BBOX)
    wrows = {r.id: r for r in ways.collect()}
    # a hemisphere-wide way: thousands of tiles at z11
    big_id, big_tile = 1 << 40, tile_xy_py(0.0, 10.5, zoom)
    big = spark.createDataFrame(
        [(big_id, [{"id": 1, "lon": -60.0, "lat": 10.0}, {"id": 2, "lon": 60.0, "lat": 11.0}],
          -60.0, 10.0, 60.0, 11.0)],
        _WAYS,
    )
    frames = (
        spark.createDataFrame([], _NODES),
        ways.unionByName(big),
        spark.createDataFrame([], _RELATIONS),
    )
    n = 1 << zoom
    for threshold in _paths():
        served = _served(
            monkeypatch, frames, zoom, [*_window_tiles(zoom), big_tile], threshold, "ways"
        )
        assert "ways" not in served[big_tile]
        seen: dict[int, set] = {}
        for (tx, ty), layers in served.items():
            for f in layers.get("ways", {"features": []})["features"]:
                seen.setdefault(f["id"], set()).add((tx, ty))
                pts, nodes = f["parts"][0], wrows[f["id"]].nodes
                assert len(pts) == len(nodes)
                for (ix, iy), v in zip(pts, nodes):
                    fx, fy = _proj(v.lon, v.lat, zoom)
                    assert abs((tx + ix / extent) - fx) <= 1.5 / extent
                    assert abs((ty + iy / extent) - fy) <= 1.5 / extent
        assert seen, "expected at least one way tile"
        for wid, row in wrows.items():
            want = _bbox_tiles(*(row[c] for c in _BBOX), zoom) if len(row.nodes) >= 2 else set()
            assert seen.get(wid, set()) == want, (threshold, wid)
        assert big_id not in seen


def test_tile_vectors_relations(spark, monkeypatch):
    """Relations render as their BBOX POLYGON (the reference's relation
    output geometry, grid_reader.go:513-517): one exterior ring on each
    tile the bbox covers, wound positive under the screen-space shoelace
    (MVT 2.1 exterior convention), corners reconstructing the projected
    bbox, tags carried as attributes; a relation whose bbox covers more
    than MAX_COVER tiles is in no tile. Driver and executor encode."""
    from simple_osm_queries_spark.functions import cells as C
    from simple_osm_queries_spark.sources.dataset import from_generator

    ds = from_generator(spark, n_nodes=300, n_ways=60, n_relations=20)
    zoom, extent = 11, mvt.EXTENT
    rels = _local(spark, ds.relations, "id", *_BBOX, "tags")
    rrows = {r.id: r for r in rels.collect()}
    big_id, big_tile = 1 << 40, tile_xy_py(0.0, 10.5, zoom)
    big = spark.createDataFrame([(big_id, -60.0, 10.0, 60.0, 11.0, {"type": "route"})], _RELATIONS)
    frames = (
        spark.createDataFrame([], _NODES),
        spark.createDataFrame([], _WAYS),
        rels.unionByName(big),
    )
    for threshold in _paths():
        served = _served(
            monkeypatch, frames, zoom, [*_window_tiles(zoom), big_tile], threshold, "relations"
        )
        assert "relations" not in served[big_tile]
        seen: dict[int, set] = {}
        for (tx, ty), layers in served.items():
            for f in layers.get("relations", {"features": []})["features"]:
                seen.setdefault(f["id"], set()).add((tx, ty))
                ring, src = f["parts"][0], rrows[f["id"]]
                # expected corners via the same projection + floor math
                # (top-left from (min_lon, max_lat): screen y grows down)
                fx0, fy0 = C.tile_fxy_py(src.min_lon, src.max_lat, zoom)
                fx1, fy1 = C.tile_fxy_py(src.max_lon, src.min_lat, zoom)
                px0, py0 = math.floor((fx0 - tx) * extent), math.floor((fy0 - ty) * extent)
                px1, py1 = math.floor((fx1 - tx) * extent), math.floor((fy1 - ty) * extent)
                want_ring = [(px0, py0), (px1, py0), (px1, py1), (px0, py1)]
                if want_ring[-1] == want_ring[0]:
                    # encoder drops a closing vertex equal to the first
                    # (ClosePath implies it): a pixel-thin degenerate box
                    want_ring = want_ring[:-1]
                assert ring == want_ring
                # positive shoelace in screen space => exterior ring (only
                # asserted when the box spans >= 2 pixels both ways;
                # thinner ones legitimately floor to zero area)
                k = len(ring)
                area2 = sum(
                    ring[i][0] * ring[(i + 1) % k][1] - ring[(i + 1) % k][0] * ring[i][1]
                    for i in range(k)
                )
                if (fx1 - fx0) * extent >= 2.0 and (fy1 - fy0) * extent >= 2.0:
                    assert area2 > 0
                assert f["attrs"] == dict(src.tags or {})
        assert seen, "expected at least one relation tile"
        for rid, src in rrows.items():
            want = set() if src.min_lon is None else _bbox_tiles(*(src[c] for c in _BBOX), zoom)
            assert seen.get(rid, set()) == want, (threshold, rid)
        assert big_id not in seen


def _oracle_tiles(ds, zoom, cap, simplify=0.0):
    """{tile_id: {layer: (member count, blob)}}, the reference bytes of
    the .mvt route:
    tiles.tile_vectors' blobs for nodes; for ways and relations, members
    picked, ordered, capped and projected here in Python (a feature is a
    member of every tile its bbox covers, unless that is more than
    MAX_COVER tiles; tile_xy_py and the tile_fxy_py twin place it) and
    encoded by sources/mvt.py, whose wire bytes are pinned above.
    ?simplify thins the ways with geodesy._dp_mask, the DP kernel pinned
    against a recursive oracle in test_geodesy.py. The member count is
    before the cap."""
    from pyspark.sql import functions as F

    from simple_osm_queries_spark.functions import cells as C
    from simple_osm_queries_spark.operators.geodesy import _dp_mask
    from simple_osm_queries_spark.operators import tiles
    from simple_osm_queries_spark.operators.tiles import MAX_COVER

    out: dict = {}
    with pytest.MonkeyPatch.context() as m:
        m.setattr(tiles, "TILE_VECTORS_CAP", cap)
        rows = tiles.tile_vectors(ds.nodes, zoom).collect()
    for r in rows:
        out.setdefault(r.tile_id, {})["nodes"] = (r.n_total, bytes(r.mvt))

    def local(lon, lat, tx, ty):
        fx, fy = tile_fxy_py(float(lon), float(lat), zoom)
        return math.floor((fx - tx) * mvt.EXTENT), math.floor((fy - ty) * mvt.EXTENT)

    def line(row, tx, ty):
        ring = [local(v.lon, v.lat, tx, ty) for v in row.nodes]
        if len(ring) < 2:
            return None
        if simplify > 0.0 and len(ring) > 2:
            keep = _dp_mask(np.array([p[0] for p in ring], float),
                            np.array([p[1] for p in ring], float), simplify)
            ring = [ring[i] for i in np.flatnonzero(keep)]
        return {"id": row.id, "type": mvt.LINESTRING, "rings": [ring]}

    def box(row, tx, ty):
        x0, y0 = local(row.min_lon, row.max_lat, tx, ty)
        x1, y1 = local(row.max_lon, row.min_lat, tx, ty)
        return {"id": row.id, "type": mvt.POLYGON,
                "rings": [[(x0, y0), (x1, y0), (x1, y1), (x0, y1)]],
                "attrs": {e.key: e.value for e in row.tags or []}}

    for layer, df, feature in (
        ("ways", ds.ways.select("id", "nodes", *_BBOX), line),
        ("relations", ds.relations.select("id", *_BBOX, F.map_entries("tags").alias("tags")), box),
    ):
        members: dict = {}
        for row in sorted(df.collect(), key=lambda r: r.id):
            if row.min_lon is None:
                continue
            cover = _bbox_tiles(*(row[c] for c in _BBOX), zoom)
            if len(cover) <= MAX_COVER:
                for t in cover:
                    members.setdefault(t, []).append(row)
        for (tx, ty), rows in members.items():
            feats = [f for f in (feature(r, tx, ty) for r in rows[:cap]) if f is not None]
            out.setdefault(C.tile_id_py(tx, ty, zoom), {})[layer] = (
                len(rows), mvt.encode_tile([(layer, feats)])
            )
    return out


def _concat(blobs: dict) -> bytes:
    return b"".join(blobs[layer][1] for layer in ("nodes", "ways", "relations") if layer in blobs)


def test_http_mvt_multilayer(spark, monkeypatch):
    """The .mvt endpoint serves, byte for byte, the nodes, ways and
    relations layers of the tile, concatenated in that order (an MVT tile
    is repeated Layer fields): the nodes blob of tiles.tile_vectors and
    the ways and relations blobs of the Python oracle (_oracle_tiles),
    also under a row cap (web.MAX_ROWS) and ?simplify. This pins
    the route's membership, fid order, cap, ways simplification and tag
    (attribute) order. One tile is chosen so that its served nodes and
    relations carry >= 2 tags each: attribute order is part of the
    bytes."""
    import threading
    import urllib.error
    import urllib.request
    from http.server import ThreadingHTTPServer

    from pyspark.sql import functions as F

    from simple_osm_queries_spark import web
    from simple_osm_queries_spark.functions import cells as C
    from simple_osm_queries_spark.sources.dataset import from_generator
    from simple_osm_queries_spark.web import make_handler

    ds = from_generator(spark, n_nodes=400, n_ways=80, n_relations=20).cache()
    zoom = 12
    full = _oracle_tiles(ds, zoom, 100_000)

    def multi_tag(layers, layer):
        feats = mvt_decode.decode_tile(layers[layer][1])[layer]["features"]
        return any(len(f["attrs"]) >= 2 for f in feats)

    # a tile with a way on it, and one whose nodes and relations carry
    # several tags each
    with_way = min(t for t, ls in full.items() if "ways" in ls)
    tagged = [
        tid for tid, ls in sorted(full.items())
        if "nodes" in ls and "relations" in ls
        and multi_tag(ls, "nodes") and multi_tag(ls, "relations")
    ]
    assert tagged, "no tile with multi-tag nodes and relations"
    httpd = ThreadingHTTPServer(("127.0.0.1", 18095), make_handler(ds))
    threading.Thread(target=httpd.serve_forever, daemon=True).start()

    def get(port, tid, query=""):
        _, tx, ty = C.tile_zxy_py(tid)
        url = f"http://127.0.0.1:{port}/tiles/{zoom}/{tx}/{ty}.mvt{query}"
        with urllib.request.urlopen(url) as resp:
            return resp.read()

    try:
        thin = _oracle_tiles(ds, zoom, 100_000, 64.0)
        capped, capped_thin = _oracle_tiles(ds, zoom, 3), _oracle_tiles(ds, zoom, 3, 64.0)
        for tid in (with_way, tagged[0]):
            assert get(18095, tid) == _concat(full[tid])
            assert get(18095, tid, "?simplify=64") == _concat(thin[tid])
        try:
            get(18095, with_way, "?simplify=-1")
            raise AssertionError("negative simplify should 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
        # the handler reads the row cap per request
        monkeypatch.setattr(web, "MAX_ROWS", 3)
        for tid in (with_way, tagged[0]):
            assert get(18095, tid) == _concat(capped[tid])
            assert get(18095, tid, "?simplify=64") == _concat(capped_thin[tid])
    finally:
        httpd.shutdown()
    layers = mvt_decode.decode_tile(_concat(full[with_way]))
    # ?simplify thins the ways layer but keeps the same features
    thin_ways = mvt_decode.decode_tile(thin[with_way]["ways"][1])["ways"]["features"]
    assert sorted(f["id"] for f in thin_ways) == sorted(
        f["id"] for f in layers["ways"]["features"]
    )
    assert sum(len(f["parts"][0]) for f in thin_ways) <= sum(
        len(f["parts"][0]) for f in layers["ways"]["features"]
    )
    # node layer present whenever the tile holds nodes
    n_nodes_here = ds.nodes.where(
        C.tile_of(F.col("lon"), F.col("lat"), zoom) == with_way
    ).count()
    if n_nodes_here:
        assert len(layers["nodes"]["features"]) == n_nodes_here


def test_mvt_dense_layer_renders_in_executor(spark, monkeypatch):
    """tiles.tile_mvt encodes a layer of at most MVT_DRIVER_ROWS members on
    the driver from its fetched rows and a larger one in an executor
    (TileLayer.executor_frame). The bytes are the reference bytes
    (_oracle_tiles) whichever path each layer takes: at the threshold,
    one below it (a tile mixing both paths), at 0, and under a cap
    smaller than every layer."""
    from simple_osm_queries_spark import web
    from simple_osm_queries_spark.functions import cells as C
    from simple_osm_queries_spark.operators import tiles
    from simple_osm_queries_spark.sources.dataset import from_generator

    ds = from_generator(spark, n_nodes=400, n_ways=80, n_relations=20).cache()
    zoom = 12
    full = _oracle_tiles(ds, zoom, 100_000)

    # the tile with the most nodes among those holding all three layers
    tid = max((t for t, ls in full.items() if len(ls) == 3), key=lambda t: full[t]["nodes"][0])
    size = {layer: n for layer, (n, _) in full[tid].items()}
    assert min(size.values()) >= 4 and len(set(size.values())) == 3, size
    largest = max(size, key=size.get)
    _, tx, ty = C.tile_zxy_py(tid)
    rendered: list[str] = []
    executor_frame = tiles.TileLayer.executor_frame

    def spied(layer):
        rendered.append(layer.name)
        return executor_frame(layer)

    monkeypatch.setattr(tiles.TileLayer, "executor_frame", spied)

    def serve(threshold, cap):
        """(body, layers encoded in an executor) at this threshold"""
        monkeypatch.setattr(tiles, "MVT_DRIVER_ROWS", threshold)
        rendered.clear()
        body = tiles.tile_mvt(web._mvt_layers(ds, zoom, tx, ty, 0.0, cap))
        return body, sorted(rendered)

    everything = sorted(size)
    assert serve(size[largest], 100_000) == (_concat(full[tid]), [])
    assert serve(size[largest] - 1, 100_000) == (_concat(full[tid]), [largest])
    assert serve(0, 100_000) == (_concat(full[tid]), everything)
    capped = _concat(_oracle_tiles(ds, zoom, 3)[tid])
    # the cap-limited fetch still tells a layer over the threshold
    assert serve(2, 3) == (capped, everything)
    assert serve(3, 3) == (capped, [])


def test_tile_vectors_ways_simplify(spark, monkeypatch):
    """?simplify runs DP on the projected tile coords: vertex count drops,
    endpoints and the sharp corner survive, every dropped vertex is
    within tol of the simplified polyline, and tol=0 is the identity, on
    every tile the way covers, encoded on the driver and in an
    executor."""
    zoom = 10
    # one way inside a single z10 tile: a long near-straight run with tiny
    # jitter plus one sharp corner in the middle
    n_pts = 41
    lon0, lat0 = 9.95, 53.55
    nodes = []
    for i in range(n_pts):
        t = i / (n_pts - 1)
        jitter = 1e-6 * ((i * 7) % 3 - 1)
        lat = lat0 + (0.01 if i == 20 else jitter)  # corner at i=20
        nodes.append({"id": i, "lon": lon0 + t * 0.02, "lat": lat})
    lons = [v["lon"] for v in nodes]
    lats = [v["lat"] for v in nodes]
    bbox = (min(lons), min(lats), max(lons), max(lats))
    frames = (
        spark.createDataFrame([], _NODES),
        spark.createDataFrame([(7, nodes, *bbox)], _WAYS),
        spark.createDataFrame([], _RELATIONS),
    )
    covered = sorted(_bbox_tiles(*bbox, zoom))

    def decode_pts(threshold, tol):
        served = _served(monkeypatch, frames, zoom, covered, threshold, "ways", tol)
        return {t: layers["ways"]["features"][0]["parts"][0] for t, layers in served.items()}

    for threshold in _paths():
        full = decode_pts(threshold, 0.0)
        simp = decode_pts(threshold, 8.0)
        assert set(full) == set(simp) == set(covered)
        for key, fpts in full.items():
            spts = simp[key]
            assert len(fpts) == n_pts
            assert 2 < len(spts) < len(fpts), "expected real reduction"
            assert spts[0] == fpts[0] and spts[-1] == fpts[-1]
            # the sharp corner survives (highest latitude = smallest
            # mercator y)
            corner = min(fpts, key=lambda p: p[1])
            assert corner in spts
            # deviation bound: each original vertex is within tol of the
            # simplified polyline (numpy point-segment check)
            sx = np.array([p[0] for p in spts], float)
            sy = np.array([p[1] for p in spts], float)
            for px, py in fpts:
                ax, ay, bx, by = sx[:-1], sy[:-1], sx[1:], sy[1:]
                dx, dy = bx - ax, by - ay
                ln = np.maximum(dx * dx + dy * dy, 1e-12)
                t = np.clip(((px - ax) * dx + (py - ay) * dy) / ln, 0, 1)
                d = np.sqrt((ax + t * dx - px) ** 2 + (ay + t * dy - py) ** 2)
                assert d.min() <= 8.0 + 1e-9
            # ordered-subsequence property
            it = iter(fpts)
            assert all(p in it for p in spts)
        # tol=0 is the identity: every vertex, projected
        assert full == {
            (tx, ty): [
                tuple(math.floor((c - o) * mvt.EXTENT)
                      for c, o in zip(tile_fxy_py(v["lon"], v["lat"], zoom), (tx, ty)))
                for v in nodes
            ]
            for tx, ty in covered
        }


def test_http_mvt_negative_ids(spark, tmp_path, monkeypatch):
    """OSM XML and PBF allow negative ids (objects not yet uploaded). MVT
    feature ids are uint64, so the .mvt route serves such a feature
    without its optional id, on the driver path and in an executor,
    instead of failing the whole tile."""
    import threading
    import urllib.request
    from http.server import ThreadingHTTPServer

    from simple_osm_queries_spark import web
    from simple_osm_queries_spark.operators import tiles
    from simple_osm_queries_spark.sources.dataset import prepare
    from simple_osm_queries_spark.sources.osm_xml import read_osm_xml
    from tests.osm_xml_writer import write_osm_xml

    nodes = [
        (-5, 9.9330, 53.5870, {"amenity": "bench"}),
        (1, 9.9331, 53.5871, {}),
        (2, 9.9332, 53.5872, {"natural": "tree"}),
    ]
    path = write_osm_xml(
        str(tmp_path / "negative.osm"), nodes, ways=[(-7, [-5, 1, 2], {"highway": "path"})]
    )
    ds = prepare(*read_osm_xml(spark, path)).cache()
    zoom = 14
    x, y = tile_xy_py(9.9331, 53.5871, zoom)
    httpd = ThreadingHTTPServer(("127.0.0.1", 0), web.make_handler(ds))
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{httpd.server_address[1]}/tiles/{zoom}/{x}/{y}.mvt"
    try:
        for threshold in (tiles.MVT_DRIVER_ROWS, 0):  # driver, then executor
            monkeypatch.setattr(tiles, "MVT_DRIVER_ROWS", threshold)
            with urllib.request.urlopen(url) as resp:
                assert resp.status == 200
                layers = mvt_decode.decode_tile(resp.read())
            assert set(layers) == {"nodes", "ways"}, threshold
            feats = layers["nodes"]["features"]
            assert [f["id"] for f in feats] == [None, 1, 2]
            assert feats[0]["attrs"] == {"amenity": "bench"}
            (way,) = layers["ways"]["features"]
            assert way["id"] is None and len(way["parts"][0]) == 3
    finally:
        httpd.shutdown()
