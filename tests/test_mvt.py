"""Mapbox Vector Tile codec (sources/mvt.py) + tile_vectors operators.

Oracle strategy (CLAUDE.md): the codec is pinned by HAND-COMPUTED wire
bytes (spec 2.1 layout worked out independently below, not via the
encoder), an independent minimal protobuf wire parser written here, and
encode->decode round-trips; the operators are checked against a pure-
python tile-assignment/projection oracle.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from simple_osm_queries_spark.sources import mvt
from tests import mvt_decode
from tests.cell_oracle import tile_xy_py


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
    out = {r.tile_id: r for r in tile_vectors(ds.nodes, zoom, extent=extent).collect()}

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


def test_tile_vectors_cap_is_visible(spark):
    from simple_osm_queries_spark.operators.tiles import tile_vectors

    pts = spark.createDataFrame(
        [(i, 9.95, 53.55, {"k": "v"}) for i in range(30)],
        "id long, lon double, lat double, tags map<string,string>",
    )
    r = tile_vectors(pts, 11, cap=10).collect()[0]
    assert r.n_features == 10 and r.n_total == 30  # capped but not silent
    layer = mvt_decode.decode_tile(bytes(r.mvt))["nodes"]
    assert [f["id"] for f in layer["features"]] == list(range(10))


def test_tile_vectors_ways(spark):
    """A way whose bbox spans two tiles appears in BOTH tiles' MVTs, with
    tile-local coordinates that reconstruct the same absolute positions
    (coords may leave [0, extent) on the neighbor tile — spec buffer
    convention); oversize ways raise by default and are visibly skipped
    with oversize='skip'."""
    from simple_osm_queries_spark.operators.tiles import tile_vectors_ways
    from simple_osm_queries_spark.sources.dataset import from_generator, prepare

    ds = from_generator(spark, n_nodes=300, n_ways=60, n_relations=0)
    zoom, extent = 13, 4096
    ways = ds.ways
    out = list(tile_vectors_ways(ways, zoom, extent=extent).collect())
    assert out, "expected at least one way tile"
    wrows = {r.id: r for r in ways.select("id", "nodes").collect()}
    n = 1 << zoom
    seen: dict[int, set] = {}
    for r in out:
        layer = mvt_decode.decode_tile(bytes(r.mvt))["ways"]
        assert r.n_oversize == 0
        for f in layer["features"]:
            seen.setdefault(f["id"], set()).add((r.tx, r.ty))
            # absolute reconstruction: tile origin + local/extent == proj
            pts = f["parts"][0]
            nodes = wrows[f["id"]].nodes
            assert len(pts) == len(nodes)
            for (ix, iy), v in zip(pts, nodes):
                fx = (v.lon + 180.0) / 360.0 * n
                lr = math.radians(min(max(v.lat, -85.05112878), 85.05112878))
                fy = (1.0 - math.log(math.tan(lr) + 1.0 / math.cos(lr)) / math.pi) / 2.0 * n
                assert abs((r.tx + ix / extent) - fx) <= 1.5 / extent
                assert abs((r.ty + iy / extent) - fy) <= 1.5 / extent
    # coverage: every way with >=2 resolved nodes appears on every bbox tile
    for wid, row in wrows.items():
        if len(row.nodes) < 2:
            continue
        lons = [v.lon for v in row.nodes]
        lats = [v.lat for v in row.nodes]
        x0, _ = tile_xy_py(min(lons), 0.0, zoom)
        x1, _ = tile_xy_py(max(lons), 0.0, zoom)
        _, y0 = tile_xy_py(0.0, max(lats), zoom)
        _, y1 = tile_xy_py(0.0, min(lats), zoom)
        want = {(tx, ty) for tx in range(x0, x1 + 1) for ty in range(y0, y1 + 1)}
        assert seen.get(wid) == want

    # oversize handling: a hemisphere-wide way at z13
    big = spark.createDataFrame(
        [(999, [{"id": 1, "lon": -60.0, "lat": 10.0},
                {"id": 2, "lon": 60.0, "lat": 11.0}],
          -60.0, 10.0, 60.0, 11.0)],
        "id long, nodes array<struct<id:long,lon:double,lat:double>>, "
        "min_lon double, min_lat double, max_lon double, max_lat double",
    )
    with pytest.raises(ValueError, match="cover"):
        tile_vectors_ways(big, zoom).collect()
    skipped = tile_vectors_ways(big, zoom, oversize="skip").collect()
    assert skipped == []  # nothing renderable left, and no exception


def test_tile_vectors_relations(spark):
    """Relations render as their BBOX POLYGON (the reference's relation
    output geometry, grid_reader.go:513-517): one exterior ring per tile
    the bbox covers, wound positive under the screen-space shoelace (MVT
    2.1 exterior convention), corners reconstructing the projected bbox,
    tags carried as attributes."""
    from simple_osm_queries_spark.functions import cells as C
    from simple_osm_queries_spark.operators.tiles import tile_vectors_relations
    from simple_osm_queries_spark.sources.dataset import from_generator

    ds = from_generator(spark, n_nodes=300, n_ways=60, n_relations=20)
    zoom, extent = 13, 4096
    rels = ds.relations
    rrows = {r.id: r for r in
             rels.select("id", "min_lon", "min_lat", "max_lon", "max_lat", "tags").collect()}
    out = list(tile_vectors_relations(rels, zoom, extent=extent).collect())
    assert out, "expected at least one relation tile"
    seen: dict[int, set] = {}
    for r in out:
        layer = mvt_decode.decode_tile(bytes(r.mvt))["relations"]
        assert r.n_oversize == 0
        for f in layer["features"]:
            seen.setdefault(f["id"], set()).add((r.tx, r.ty))
            ring = f["parts"][0]
            src = rrows[f["id"]]
            # expected corners via the SAME projection + floor math
            # (top-left from (min_lon, max_lat): screen y grows down)
            fx0, fy0 = C.tile_fxy_py(src.min_lon, src.max_lat, zoom)
            fx1, fy1 = C.tile_fxy_py(src.max_lon, src.min_lat, zoom)
            px0 = math.floor((fx0 - r.tx) * extent)
            py0 = math.floor((fy0 - r.ty) * extent)
            px1 = math.floor((fx1 - r.tx) * extent)
            py1 = math.floor((fy1 - r.ty) * extent)
            want_ring = [(px0, py0), (px1, py0), (px1, py1), (px0, py1)]
            if want_ring[-1] == want_ring[0]:
                # encoder drops a closing vertex equal to the first
                # (ClosePath implies it) — a pixel-thin degenerate box
                want_ring = want_ring[:-1]
            assert ring == want_ring
            # positive shoelace in screen space => exterior ring (only
            # asserted when the box spans >= 2 pixels both ways; thinner
            # ones legitimately floor to zero area)
            k = len(ring)
            area2 = sum(
                ring[i][0] * ring[(i + 1) % k][1] - ring[(i + 1) % k][0] * ring[i][1]
                for i in range(k)
            )
            if (fx1 - fx0) * extent >= 2.0 and (fy1 - fy0) * extent >= 2.0:
                assert area2 > 0
            # attrs mirror the tags map
            assert f["attrs"] == dict(src.tags or {})
    # coverage: every relation appears on exactly its bbox-cover tiles
    for rid, src in rrows.items():
        x0, _ = tile_xy_py(src.min_lon, 0.0, zoom)
        x1, _ = tile_xy_py(src.max_lon, 0.0, zoom)
        _, y0 = tile_xy_py(0.0, src.max_lat, zoom)
        _, y1 = tile_xy_py(0.0, src.min_lat, zoom)
        want = {(tx, ty) for tx in range(x0, x1 + 1) for ty in range(y0, y1 + 1)}
        assert seen.get(rid) == want

    # oversize relation raises / skips visibly, like ways
    big = spark.createDataFrame(
        [(999, -60.0, 10.0, 60.0, 11.0, {"type": "route"})],
        "id long, min_lon double, min_lat double, max_lon double, "
        "max_lat double, tags map<string,string>",
    )
    with pytest.raises(ValueError, match="cover"):
        tile_vectors_relations(big, zoom).collect()
    assert tile_vectors_relations(big, zoom, oversize="skip").collect() == []


def test_http_mvt_multilayer(spark):
    """The .mvt endpoint serves, byte for byte, the nodes, ways and
    relations blobs the three tile operators render for the tile,
    concatenated in that order (an MVT tile is repeated Layer fields),
    also under a row cap (make_handler max_rows) and ?simplify. The route
    fetches and encodes on the driver, so this pins its membership, fid
    order, cap, ways simplification and tag (attribute) order to the
    operators'. One tile is chosen so that its served nodes and relations
    carry >= 2 tags each: attribute order is part of the bytes."""
    import threading
    import urllib.error
    import urllib.request
    from http.server import ThreadingHTTPServer

    from pyspark.sql import functions as F

    from simple_osm_queries_spark.functions import cells as C
    from simple_osm_queries_spark.operators.tiles import (
        tile_vectors,
        tile_vectors_relations,
        tile_vectors_ways,
    )
    from simple_osm_queries_spark.sources.dataset import from_generator
    from simple_osm_queries_spark.web import make_handler

    ds = from_generator(spark, n_nodes=400, n_ways=80, n_relations=20).cache()
    zoom = 12

    def blobs(cap, simplify):
        """{tile_id: the three operators' blobs for it, concatenated}"""
        out = {}
        for frame in (
            tile_vectors(ds.nodes, zoom, cap=cap),
            tile_vectors_ways(ds.ways, zoom, cap=cap, simplify_tol=simplify),
            tile_vectors_relations(ds.relations, zoom, cap=cap),
        ):
            for r in frame.collect():
                out[r.tile_id] = out.get(r.tile_id, b"") + bytes(r.mvt)
        return out

    full = blobs(65536, 0.0)

    def multi_tag(body, layer):
        feats = mvt_decode.decode_tile(body).get(layer, {"features": []})["features"]
        return any(len(f["attrs"]) >= 2 for f in feats)

    # a tile with a way on it, and one whose nodes and relations carry
    # several tags each
    with_way = tile_vectors_ways(ds.ways, zoom).collect()[0].tile_id
    tagged = [
        tid for tid, body in sorted(full.items())
        if multi_tag(body, "nodes") and multi_tag(body, "relations")
    ]
    assert tagged, "no tile with multi-tag nodes and relations"
    servers = [
        ThreadingHTTPServer(("127.0.0.1", port), make_handler(ds, max_rows=cap))
        for port, cap in ((18095, 100_000), (18096, 3))
    ]
    for httpd in servers:
        threading.Thread(target=httpd.serve_forever, daemon=True).start()

    def get(port, tid, query=""):
        _, tx, ty = C.tile_zxy_py(tid)
        url = f"http://127.0.0.1:{port}/tiles/{zoom}/{tx}/{ty}.mvt{query}"
        with urllib.request.urlopen(url) as resp:
            return resp.read()

    try:
        for tid in (with_way, tagged[0]):
            assert get(18095, tid) == full[tid]
        thin = blobs(65536, 64.0)
        capped, capped_thin = blobs(3, 0.0), blobs(3, 64.0)
        for tid in (with_way, tagged[0]):
            assert get(18095, tid, "?simplify=64") == thin[tid]
            assert get(18096, tid) == capped[tid]
            assert get(18096, tid, "?simplify=64") == capped_thin[tid]
        try:
            get(18095, with_way, "?simplify=-1")
            raise AssertionError("negative simplify should 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        for httpd in servers:
            httpd.shutdown()
    layers = mvt_decode.decode_tile(full[with_way])
    # ?simplify thins the ways layer but keeps the same features
    thin_ways = mvt_decode.decode_tile(thin[with_way])["ways"]["features"]
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
    the driver from its fetched rows and renders a larger one through its
    operator, restricted to the tile, in an executor (TileLayer.render).
    The bytes are the three operators' blobs whichever path each layer
    takes: at the threshold, one below it (a tile mixing both paths), at
    0, and under a cap smaller than every layer."""
    import dataclasses

    from simple_osm_queries_spark import web
    from simple_osm_queries_spark.functions import cells as C
    from simple_osm_queries_spark.operators import tiles
    from simple_osm_queries_spark.sources.dataset import from_generator

    ds = from_generator(spark, n_nodes=400, n_ways=80, n_relations=20).cache()
    zoom = 12

    def operators(cap):
        """{tile_id: {layer: (n_total, blob)}} from the three operators"""
        out: dict = {}
        for layer, frame in (
            ("nodes", tiles.tile_vectors(ds.nodes, zoom, cap=cap)),
            ("ways", tiles.tile_vectors_ways(ds.ways, zoom, cap=cap)),
            ("relations", tiles.tile_vectors_relations(ds.relations, zoom, cap=cap)),
        ):
            for r in frame.collect():
                out.setdefault(r.tile_id, {})[layer] = (r.n_total, bytes(r.mvt))
        return out

    full = operators(65536)
    # the tile with the most nodes among those holding all three layers
    tid = max((t for t, ls in full.items() if len(ls) == 3), key=lambda t: full[t]["nodes"][0])
    size = {layer: n for layer, (n, _) in full[tid].items()}
    assert min(size.values()) >= 4 and len(set(size.values())) == 3, size
    largest = max(size, key=size.get)
    _, tx, ty = C.tile_zxy_py(tid)

    def serve(threshold, cap):
        """(body, layers rendered in an executor) at this threshold"""
        monkeypatch.setattr(tiles, "MVT_DRIVER_ROWS", threshold)
        rendered = []

        def spied(layer):
            def render():
                rendered.append(layer.name)
                return layer.render()

            return dataclasses.replace(layer, render=render)

        layers = web._mvt_layers(ds, zoom, tx, ty, 0.0, cap)
        body = tiles.tile_mvt([spied(layer) for layer in layers])
        return body, sorted(rendered)

    def concat(blobs):
        return b"".join(blobs[layer][1] for layer in ("nodes", "ways", "relations"))

    everything = sorted(size)
    assert serve(size[largest], 100_000) == (concat(full[tid]), [])
    assert serve(size[largest] - 1, 100_000) == (concat(full[tid]), [largest])
    assert serve(0, 100_000) == (concat(full[tid]), everything)
    capped = concat(operators(3)[tid])
    # the cap-limited fetch still tells a layer over the threshold
    assert serve(2, 3) == (capped, everything)
    assert serve(3, 3) == (capped, [])


def test_tile_vectors_ways_simplify(spark):
    """simplify_tol runs DP on the projected tile coords: vertex count
    drops, endpoints and the sharp corner survive, every dropped vertex is
    within tol of the simplified polyline, and tol=0 is the identity."""
    import numpy as np

    from simple_osm_queries_spark.operators.tiles import tile_vectors_ways

    zoom, extent = 10, 4096
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
    way = spark.createDataFrame(
        [(7, nodes, min(lons), min(lats), max(lons), max(lats))],
        "id long, nodes array<struct<id:long,lon:double,lat:double>>, "
        "min_lon double, min_lat double, max_lon double, max_lat double",
    )

    def decode_pts(rows):
        per_tile = {}
        for r in rows:
            layer = mvt_decode.decode_tile(bytes(r.mvt))["ways"]
            for f in layer["features"]:
                per_tile[(r.tx, r.ty)] = f["parts"][0]
        return per_tile

    full = decode_pts(tile_vectors_ways(way, zoom, extent=extent).collect())
    simp = decode_pts(
        tile_vectors_ways(way, zoom, extent=extent, simplify_tol=8.0).collect()
    )
    assert set(full) == set(simp)
    for key, fpts in full.items():
        spts = simp[key]
        assert len(fpts) == n_pts
        assert 2 < len(spts) < len(fpts), "expected real reduction"
        assert spts[0] == fpts[0] and spts[-1] == fpts[-1]
        # the sharp corner survives (highest latitude = smallest mercator y)
        corner = min(fpts, key=lambda p: p[1])
        assert corner in spts
        # subsequence property + deviation bound: each original vertex is
        # within tol of the simplified polyline (numpy point-segment check)
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

    # tol=0 is the identity
    zero = decode_pts(
        tile_vectors_ways(way, zoom, extent=extent, simplify_tol=0.0).collect()
    )
    assert zero == full
