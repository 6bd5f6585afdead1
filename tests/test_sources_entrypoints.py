"""OSM XML source (on a generated copy of the reference's 3-node fixture),
the CLI import/query path, and the HTTP server endpoint."""

import json
import socket
import threading
import urllib.request
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from simple_osm_queries_spark.query.planner import run_query
from simple_osm_queries_spark.sources.dataset import prepare
from simple_osm_queries_spark.sources.osm_pbf import read_osm_pbf
from simple_osm_queries_spark.sources.osm_xml import parse_osm_xml, read_osm_xml
from tests import mvt_decode
from tests.cell_oracle import tile_xy_py
from tests.osm_xml_writer import write_osm_xml

# the upstream project's own fixture file, in a reference checkout next to
# this repository (absent in most checkouts: only the parity test reads it)
UPSTREAM_SMALL_OSM = Path(__file__).resolve().parents[2] / "reference" / "test-small.osm"


@pytest.fixture(scope="module")
def ref_dataset(spark, small_osm):
    nodes, ways, rels = read_osm_xml(spark, small_osm)
    return prepare(nodes, ways, rels)


def test_parse_reference_fixture(small_osm):
    nodes, ways, rels = parse_osm_xml(small_osm)
    assert len(nodes) == 3 and len(ways) == 0 and len(rels) == 0
    by_id = {r.id: r for r in nodes.itertuples()}
    # the three nodes documented in FIXTURES.md §4
    assert by_id[1].tags == {"height": "10.5", "natural": "tree"}
    assert by_id[2].tags == {"amenity": "bench", "backrest": "no", "name": "Testbank"}
    assert by_id[3].tags == {"amenity": "bench", "backrest": "yes", "material": "wood"}
    assert by_id[1].lon == pytest.approx(9.9330, abs=1e-3)
    # every node inside the window the query tests use
    assert all(9.9 <= r.lon <= 10.0 and 53.5 <= r.lat <= 53.6 for r in by_id.values())


@pytest.mark.skipif(
    not UPSTREAM_SMALL_OSM.exists(), reason="upstream reference checkout not present"
)
def test_generated_fixture_matches_upstream_file(small_osm):
    """The generated fixture parses to exactly the upstream test-small.osm."""

    def rows(path):
        nodes, ways, rels = parse_osm_xml(str(path))
        return (
            sorted((r.id, r.lon, r.lat, tuple(sorted(r.tags.items()))) for r in nodes.itertuples()),
            len(ways),
            len(rels),
        )

    assert rows(small_osm) == rows(UPSTREAM_SMALL_OSM)


def test_osm_xml_writer_round_trip(small_pdfs, tmp_path):
    """Nodes, ways (ordered refs), relations with node/way/child-relation
    members and tags survive write -> parse_osm_xml unchanged."""
    nodes, ways, rels = small_pdfs
    node_rows = list(nodes[["id", "lon", "lat", "tags"]].itertuples(index=False))
    way_rows = list(ways.itertuples(index=False))
    rel_rows = list(rels.itertuples(index=False))
    assert any(len(r.child_relation_ids) for r in rel_rows)  # coverage is real
    path = write_osm_xml(str(tmp_path / "gen.osm"), node_rows, way_rows, rel_rows)
    pn, pw, pr = parse_osm_xml(path)

    def node_key(r):
        return (r.id, r.lon, r.lat, r.tags or {})

    def way_key(r):
        return (r.id, list(r.node_ids), r.tags or {})

    def rel_key(r):
        members = (r.node_member_ids, r.way_member_ids, r.child_relation_ids)
        return (r.id, *[list(m) for m in members], r.tags or {})

    assert [node_key(r) for r in pn.itertuples()] == [node_key(r) for r in node_rows]
    assert [way_key(r) for r in pw.itertuples()] == [way_key(r) for r in way_rows]
    assert [rel_key(r) for r in pr.itertuples()] == [rel_key(r) for r in rel_rows]


def test_query_reference_fixture_end_to_end(ref_dataset):
    def ids(q):
        return sorted(r.id for r in run_query(q, ref_dataset).collect())

    assert ids("bbox(9.9, 53.5, 10.0, 53.6).nodes{ amenity=bench }") == [2, 3]
    assert ids("bbox(9.9, 53.5, 10.0, 53.6).nodes{ height>=10.5 }") == [1]
    assert ids("bbox(9.9, 53.5, 10.0, 53.6).nodes{ backrest=yes OR name=Testbank }") == [2, 3]


def test_pbf_missing_file_raises(spark):
    # the PBF reader is real now (see test_osm_pbf.py); a missing file
    # surfaces as the driver-side open error, not a stub
    with pytest.raises(FileNotFoundError):
        read_osm_pbf(spark, "/nonexistent.osm.pbf")


def test_http_server_query_and_errors(ref_dataset):
    from simple_osm_queries_spark.web import serve

    httpd = serve(ref_dataset, port=18099)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        req = urllib.request.Request(
            "http://127.0.0.1:18099/query",
            data=b"bbox(9.9, 53.5, 10.0, 53.6).nodes{ amenity=bench }",
            method="POST",
        )
        with urllib.request.urlopen(req) as resp:
            fc = json.loads(resp.read())
        assert resp.status == 200
        assert {f["properties"]["@osm_id"] for f in fc["features"]} == {2, 3}

        bad = urllib.request.Request(
            "http://127.0.0.1:18099/query", data=b"bbox(1,2,3).nodes{a=b}", method="POST"
        )
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(bad)
        assert e.value.code == 400
        assert json.loads(e.value.read())["error"] == "parse error"

        # a negative Content-Length must not block on read(-1), a
        # non-numeric one must not drop the connection: both get a 400
        for length in ("-1", "abc"):
            with socket.create_connection(("127.0.0.1", 18099), timeout=10) as sock:
                sock.sendall(
                    f"POST /query HTTP/1.1\r\nHost: x\r\n"
                    f"Content-Length: {length}\r\n\r\n".encode()
                )
                reply = b""
                while chunk := sock.recv(65536):
                    reply += chunk
            head, _, body = reply.partition(b"\r\n\r\n")
            assert head.split()[1:2] == [b"400"], (length, reply)
            assert json.loads(body)["error"] == "bad request"

        with urllib.request.urlopen("http://127.0.0.1:18099/app") as resp:
            app = resp.read()
        # the interactive map UI (reference index.html parity): query editor
        # with {{bbox}} viewport placeholder, canvas map, error label
        assert b"query-input" in app and b"{{bbox}}" in app
        assert b"<canvas" in app and b"error-request-label" in app
    finally:
        httpd.shutdown()
        httpd.server_close()  # frees port 18099 even when an assertion failed


def test_cli_import_and_query(spark, small_osm, tmp_path, monkeypatch, capsys):
    """Drive the CLI functions directly (shared test session instead of a
    fresh one)."""
    from simple_osm_queries_spark import cli

    from types import SimpleNamespace

    idx_dir = str(tmp_path / "idx")
    cli.cmd_import(spark, SimpleNamespace(file=small_osm, out=idx_dir))
    assert (tmp_path / "idx" / "grid-index" / "data").is_dir()

    q = SimpleNamespace(
        query="bbox(9.9, 53.5, 10.0, 53.6).nodes{ amenity=bench }",
        data=idx_dir,
        generate=0,
        out=str(tmp_path / "out.geojson"),
    )
    # the query runs once: the printed count is the number written
    frame_cls = type(spark.range(1))  # pyspark's concrete DataFrame class
    monkeypatch.setattr(frame_cls, "count", lambda self: pytest.fail("second query job"))
    cli.cmd_query(spark, q)
    assert f"wrote 2 features -> {q.out}" in capsys.readouterr().out
    fc = json.load(open(q.out))
    assert {f["properties"]["@osm_id"] for f in fc["features"]} == {2, 3}


def test_cli_index_root_as_file_uri(spark, small_osm, tmp_path, monkeypatch):
    """An index root given as a ``file:`` URI: ``import`` writes the
    tables under it, ``query``/``server``'s _build_dataset finds and reads
    them back, and the working directory stays empty (no stray relative
    ``file:`` directory)."""
    from types import SimpleNamespace

    from simple_osm_queries_spark import cli
    from simple_osm_queries_spark.sources.osm_xml import parse_osm_xml

    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    root = "file:" + str(tmp_path / "idx_uri")
    cli.cmd_import(spark, SimpleNamespace(file=small_osm, out=root))
    assert (tmp_path / "idx_uri" / "grid-index" / "data").is_dir()
    ds = cli._build_dataset(spark, SimpleNamespace(data=root, generate=0))
    n, w, r = parse_osm_xml(small_osm)
    assert sorted(x.id for x in ds.nodes.select("id").collect()) == sorted(n["id"])
    assert sorted(x.id for x in ds.ways.select("id").collect()) == sorted(w["id"])
    assert sorted(x.id for x in ds.relations.select("id").collect()) == sorted(r["id"])
    assert list(cwd.iterdir()) == []


def test_cli_server_warms_every_cached_frame(spark, monkeypatch):
    """cmd_server materialises the nodes, ways and relations caches before
    it serves, so no first request pays for the way-geometry join or the
    relation-bbox fold. ``serve`` is stubbed: no socket is opened."""
    from types import SimpleNamespace

    from simple_osm_queries_spark import cli, web
    from simple_osm_queries_spark.sources.dataset import from_generator

    cm = spark._jsparkSession.sharedState().cacheManager()

    def loaded(df):
        cached = cm.lookupCachedData(df._jdf)
        return cached.isDefined() and (
            cached.get().cachedRepresentation().cacheBuilder().isCachedColumnBuffersLoaded()
        )

    ds = from_generator(spark, n_nodes=200, n_ways=40, n_relations=10, with_images=False)
    monkeypatch.setattr(cli, "_build_dataset", lambda spark, args: ds)
    at_serve = {}

    def fake_serve(dataset, port):
        at_serve.update(
            port=port,
            loaded={k: loaded(getattr(dataset, k)) for k in ("nodes", "ways", "relations")},
        )
        return SimpleNamespace(serve_forever=lambda: None)

    monkeypatch.setattr(web, "serve", fake_serve)
    try:
        cli.cmd_server(spark, SimpleNamespace(port=18123))
    finally:
        for df in (ds.nodes, ds.ways, ds.relations):
            df.unpersist()
    assert at_serve == {
        "port": 18123,
        "loaded": {"nodes": True, "ways": True, "relations": True},
    }


def test_cli_import_pbf(spark, small_osm, tmp_path):
    """The reference's primary flow: import a real .osm.pbf end-to-end."""
    from types import SimpleNamespace

    from simple_osm_queries_spark import cli
    from simple_osm_queries_spark.sources import osm_pbf
    from simple_osm_queries_spark.sources.osm_xml import parse_osm_xml

    n, w, r = parse_osm_xml(small_osm)
    pbf_path = str(tmp_path / "ref.osm.pbf")
    osm_pbf.write_osm_pbf(
        pbf_path,
        nodes=n.itertuples(index=False),
        ways=w.itertuples(index=False),
        relations=r.itertuples(index=False),
    )
    idx_dir = str(tmp_path / "idx_pbf")
    cli.cmd_import(spark, SimpleNamespace(file=pbf_path, out=idx_dir))

    q = SimpleNamespace(
        query="bbox(9.9, 53.5, 10.0, 53.6).nodes{ amenity=bench }",
        data=idx_dir,
        generate=0,
        out=str(tmp_path / "out_pbf.geojson"),
    )
    cli.cmd_query(spark, q)
    fc = json.load(open(q.out))
    assert {f["properties"]["@osm_id"] for f in fc["features"]} == {2, 3}


def test_cli_cells_pipeline(spark, tmp_path):
    """cells subcommand: encode lon/lat -> H3/S2/tile, write partitioned."""
    import numpy as np
    import pandas as pd

    from simple_osm_queries_spark import cli
    from simple_osm_queries_spark.functions import h3_encode as E
    from tests import h3_oracle as HO

    src = str(tmp_path / "in.parquet")
    pdf = pd.DataFrame(
        {
            "id": range(50),
            "lon": [9.9 + i * 0.004 for i in range(50)],
            "lat": [53.5 + i * 0.003 for i in range(50)],
        }
    )
    spark.createDataFrame(pdf).write.parquet(src)
    out = str(tmp_path / "cells_out")
    cli.cmd_cells(
        spark,
        type("A", (), {"file": src, "out": out, "h3_res": 8, "s2_level": 12, "zoom": 13, "partition_res": 4})(),
    )
    back = spark.read.parquet(out + "/data")
    assert {"h3", "s2", "tile", "h3_part"} <= set(back.columns)
    rows = back.orderBy("id").collect()
    for r in rows[:10]:
        want = E.latlng_to_cell_py(r.lat, r.lon, 8)
        assert int(np.int64(r.h3).astype(np.uint64)) == want
        assert HO.parent_py(want, 4) == int(np.int64(r.h3_part).astype(np.uint64))
    import os

    assert [d for d in os.listdir(out + "/data") if d.startswith("h3_part=")]
    # resumable: a second run with the same fingerprint skips every band
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        cli.cmd_cells(
            spark,
            type("A", (), {"file": src, "out": out, "h3_res": 8, "s2_level": 12, "zoom": 13, "partition_res": 4})(),
        )
    assert "resumed" in buf.getvalue()
    import json as _json

    mdir = os.path.join(out, "_manifests")
    manifests = [_json.load(open(os.path.join(mdir, f))) for f in os.listdir(mdir)]
    assert manifests and all("input_fingerprint" in m for m in manifests)


def test_cells_layout_partition_pruning(spark, tmp_path):
    """The h3_part layout must prune directories for cell predicates —
    the 100-TB read path (reading one region touches one directory set)."""
    import pandas as pd

    from simple_osm_queries_spark import cli

    src = str(tmp_path / "in2.parquet")
    pdf = pd.DataFrame(
        {
            "id": range(200),
            "lon": [9.0 + (i % 20) * 0.5 for i in range(200)],
            "lat": [50.0 + (i // 20) * 0.5 for i in range(200)],
        }
    )
    spark.createDataFrame(pdf).write.parquet(src)
    out = str(tmp_path / "cells_pruned")
    cli.cmd_cells(
        spark,
        type("A", (), {"file": src, "out": out, "h3_res": 8, "s2_level": 12, "zoom": 13, "partition_res": 3})(),
    )
    back = spark.read.parquet(out + "/data")
    one_part = back.select("h3_part").first().h3_part
    q = back.filter(F.col("h3_part") == one_part)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "h3_part" in plan.split("PartitionFilters")[1][:120]
    assert q.count() > 0


def test_http_server_h3_cells_endpoint(ref_dataset):
    from simple_osm_queries_spark.web import serve

    httpd = serve(ref_dataset, port=18101)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        with urllib.request.urlopen(
            "http://127.0.0.1:18101/cells?bbox=9.9,53.5,10.0,53.6&res=7"
        ) as resp:
            fc = json.loads(resp.read())
        assert resp.status == 200 and fc["type"] == "FeatureCollection"
        total = sum(f["properties"]["count"] for f in fc["features"])
        assert total == 3  # the reference fixture's 3 nodes in the window
        for f in fc["features"]:
            assert f["geometry"]["type"] == "Polygon"
            assert len(f["properties"]["h3"]) == 15  # hex token

        # malformed, non-finite (nan passes the cell-count estimate) and
        # inverted (matches nothing) bboxes
        for bbox in ("oops", "nan,0,1,1", "10,0,1,1"):
            with pytest.raises(urllib.error.HTTPError) as e:
                urllib.request.urlopen(f"http://127.0.0.1:18101/cells?bbox={bbox}")
            assert e.value.code == 400, bbox
    finally:
        httpd.shutdown()


def test_http_server_caps(ref_dataset, monkeypatch):
    """VERDICT r3 #5 / ADVICE r3 #3: POST /query truncates at
    web.MAX_ROWS with a truncated flag (no unbounded collect), exactly at
    the boundary: a result of max_rows rows is whole, one of max_rows + 1
    is cut; GET /cells rejects bboxes whose estimated cell count exceeds
    web.MAX_CELLS."""
    from simple_osm_queries_spark import web
    from simple_osm_queries_spark.web import serve

    def post(port, query):
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/query", data=query.encode(), method="POST"
        )
        with urllib.request.urlopen(req) as resp:
            return json.loads(resp.read())

    benches = "bbox(9.9, 53.5, 10.0, 53.6).nodes{ amenity=bench }"  # 2 nodes
    all_three = "bbox(9.9, 53.5, 10.0, 53.6).nodes{ amenity=* OR natural=* }"
    httpd = serve(ref_dataset, port=18102)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        # the handler reads the caps per request
        monkeypatch.setattr(web, "MAX_ROWS", 1)
        fc = post(18102, benches)
        assert len(fc["features"]) == 1
        assert fc["truncated"] is True

        monkeypatch.setattr(web, "MAX_ROWS", 2)
        fc = post(18102, benches)  # exactly max_rows rows
        assert len(fc["features"]) == 2 and "truncated" not in fc
        fc = post(18102, all_three)  # max_rows + 1 rows
        assert len(fc["features"]) == 2 and fc["truncated"] is True

        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(
                "http://127.0.0.1:18102/cells?bbox=-180,-90,180,90&res=12"
            )
        assert e.value.code == 413
        assert json.loads(e.value.read())["error"] == "too many cells"
    finally:
        httpd.shutdown()


def test_http_routes_reuse_generated_code(dataset):
    """A repeated request compiles (almost) no new code: the generated-class
    cache (session.py) holds the classes of one pass over the routes — both
    serve query shapes, one .mvt tile and one /cells — so the second pass
    reuses them. At Spark's default cache size the first pass evicted its
    own classes and the second recompiled them all. A few classes of the
    two-statement query are new on every run: the row cap's LocalLimit in
    each union branch names its counter from a process-wide sequence."""
    import http.client

    from simple_osm_queries_spark.web import ThreadingHTTPServer, make_handler

    jvm = dataset.nodes.sparkSession.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    x, y = tile_xy_py(9.987, 53.612, 14)
    # bbox literals no other test uses: Spark inlines them into the code
    requests = [
        ("POST", "/query",
         "bbox(9.913579, 53.524681, 10.063579, 53.674681).nodes{ (amenity=bench AND seats=*) "
         "OR this.ways{ highway=primary } } bbox(9.931357, 53.531357, 10.081357, 53.681357)"
         ".ways{ building=yes AND this.nodes{ amenity=* } }"),
        ("GET", f"/tiles/14/{x}/{y}.mvt", None),
        ("POST", "/query",
         "bbox(9.924681, 53.513579, 10.074681, 53.663579).relations{ route=bus AND "
         "this.nodes{ seats=* } }"),
        ("GET", "/cells?bbox=9.946813,53.546813,9.996813,53.596813&res=8", None),
    ]
    for df in (dataset.nodes, dataset.ways, dataset.relations):
        df.count()  # fill the cached tables outside the measured passes
    httpd = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(dataset))
    threading.Thread(target=httpd.serve_forever, daemon=True).start()

    def one_pass() -> int:
        c0 = compiles.getCount()
        conn = http.client.HTTPConnection("127.0.0.1", httpd.server_address[1], timeout=300)
        for method, path, body in requests:
            conn.request(method, path, body=body)
            resp = conn.getresponse()
            assert resp.status == 200, (path, resp.read())
            resp.read()
        conn.close()
        return compiles.getCount() - c0

    try:
        first, second = one_pass(), one_pass()
    finally:
        httpd.shutdown()
    assert first > 0 and second <= first / 4, (first, second)


def test_http_tile_endpoint(ref_dataset):
    """GET /tiles/{z}/{x}/{y}.png serves a decodable 256px heatmap raster
    for a populated tile, a blank raster for an empty one, and 400/404 for
    malformed requests (r5b raster endpoint)."""
    from simple_osm_queries_spark.sources import codecs
    from simple_osm_queries_spark.web import serve

    httpd = serve(ref_dataset, port=18098)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        # a tile that holds fixture nodes (window ~9.9-10.1 lon, 53.5-53.7)
        tx, ty = tile_xy_py(9.95, 53.55, 12)
        with urllib.request.urlopen(
            f"http://127.0.0.1:18098/tiles/12/{tx}/{ty}.png"
        ) as resp:
            png = resp.read()
        assert resp.headers["Content-Type"] == "image/png"
        img = codecs.decode_png(png)
        assert img.shape == (256, 256, 3)
        assert img.max() > 0  # populated tile renders something
        # empty tile -> blank
        with urllib.request.urlopen(
            "http://127.0.0.1:18098/tiles/12/0/0.png"
        ) as resp:
            blank = codecs.decode_png(resp.read())
        assert blank.max() == 0
        # out-of-range / malformed: a huge z must be rejected before 1 << z
        for bad in ("12/999999/0", "99999999999999/0/0", "9" * 5000 + "/0/0"):
            with pytest.raises(urllib.error.HTTPError) as e:
                urllib.request.urlopen(f"http://127.0.0.1:18098/tiles/{bad}.png")
            assert e.value.code == 400, bad[:20]
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen("http://127.0.0.1:18098/tiles/12/0/abc.png")
        assert e.value.code == 404
    finally:
        httpd.shutdown()


def test_http_mvt_tile_endpoint(ref_dataset):
    """GET /tiles/{z}/{x}/{y}.mvt serves a decodable Mapbox Vector Tile
    carrying the tile's nodes with their tags as attributes, and an empty
    (but valid) tile for an unpopulated slot."""
    from simple_osm_queries_spark.sources import mvt
    from simple_osm_queries_spark.web import serve

    httpd = serve(ref_dataset, port=18097)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        tx, ty = tile_xy_py(9.95, 53.55, 12)
        with urllib.request.urlopen(
            f"http://127.0.0.1:18097/tiles/12/{tx}/{ty}.mvt"
        ) as resp:
            blob = resp.read()
        assert resp.headers["Content-Type"] == "application/vnd.mapbox-vector-tile"
        layers = mvt_decode.decode_tile(blob)
        feats = layers["nodes"]["features"]
        assert len(feats) == 3  # all three fixture nodes share this tile
        by_id = {f["id"]: f for f in feats}
        assert by_id[2]["attrs"]["amenity"] == "bench"
        assert all(f["type"] == mvt.POINT for f in feats)
        # every position inside [0, extent)
        for f in feats:
            (x_, y_), = f["parts"][0]
            assert 0 <= x_ < 4096 and 0 <= y_ < 4096
        # empty tile: still a valid MVT with an empty layer
        with urllib.request.urlopen(
            "http://127.0.0.1:18097/tiles/12/0/0.mvt"
        ) as resp:
            empty = mvt_decode.decode_tile(resp.read())
        assert empty["nodes"]["features"] == []
    finally:
        httpd.shutdown()


def test_http_tile_endpoint_clamped_edges(spark, tmp_path):
    """Round-5 review fixes: (1) a node poleward of the Mercator cutoff
    (lat 86) is CLAMPED into the top tile row by the engine's projection
    (functions/cells.py tile_fxy) — the endpoint's membership filter must
    agree, not drop it with a driver-math bbox; (2) tile URLs with a
    query string (slippy-map cache busting) still resolve."""
    from simple_osm_queries_spark.sources import codecs
    from simple_osm_queries_spark.web import serve

    xml = tmp_path / "polar.osm"
    xml.write_text(
        '<osm version="0.6">\n'
        '<node id="1" lat="86.0" lon="9.95"/>\n'
        '<node id="2" lat="53.55" lon="180.0"/>\n'
        "</osm>\n"
    )
    ds = prepare(*read_osm_xml(spark, str(xml)))
    httpd = serve(ds, port=18099)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        z = 3
        # node 1: lat 86 clamps to the y=0 row
        tx, _ = tile_xy_py(9.95, 80.0, z)
        with urllib.request.urlopen(
            f"http://127.0.0.1:18099/tiles/{z}/{tx}/0.png"
        ) as resp:
            img = codecs.decode_png(resp.read())
        assert img.max() > 0
        # node 2: lon 180 clamps into the last tile column
        n = 1 << z
        ty = tile_xy_py(0.0, 53.55, z)[1]
        with urllib.request.urlopen(
            f"http://127.0.0.1:18099/tiles/{z}/{n - 1}/{ty}.png"
        ) as resp:
            img = codecs.decode_png(resp.read())
        assert img.max() > 0
        # query string must not 404
        with urllib.request.urlopen(
            f"http://127.0.0.1:18099/tiles/{z}/{tx}/0.png?v=2&key=abc"
        ) as resp:
            assert resp.status == 200
    finally:
        httpd.shutdown()
