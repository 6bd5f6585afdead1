"""HTTP server entry point (SURVEY.md §3.2).

Mirrors the reference's API (/root/reference/src/web/api.go): the index is
loaded once at startup; `POST /query` takes the query text as the request
body and answers GeoJSON; parse and execution errors come back as JSON
envelopes with 400/500 (api.go:84-96,100-113). `GET /app` serves the
interactive map UI (web_app.html — functional parity with the reference's
OpenLayers page src/web/index.html: {{bbox}} viewport placeholder, result
rendering, error label, localStorage; self-contained canvas, no CDN).

stdlib ThreadingHTTPServer — the Spark driver is the server process, the
cluster does the work, exactly like the reference's single process plus
goroutines (but distributed underneath). `GET /tiles/{z}/{x}/{y}.mvt`
answers a tile layer of at most tiles.MVT_DRIVER_ROWS members the way the
reference answers from its in-process index (api.go:117): one fetch of the
layer's capped, fid-ordered members, encoded on the driver. A larger layer
(a dense or low-zoom tile) encodes the same members in one executor task
instead, so its encode does not hold the GIL the request threads share.
`.png` renders through the tile_heatmap operator.
"""

from __future__ import annotations

import functools
import json
import math
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simple_osm_queries_spark.functions import geometry as G
from simple_osm_queries_spark.query.parser import ParseError, parse_query
from simple_osm_queries_spark.query.planner import PlanError, plan_query
from simple_osm_queries_spark.sources.dataset import OsmDataset
from simple_osm_queries_spark.sources.geojson import to_geojson_capped

if TYPE_CHECKING:
    from simple_osm_queries_spark.operators.tiles import TileLayer

# POST /query result cap: the reference streams the FULL GeoJSON result into
# one response (api.go:117) — a planet-wide wildcard query OOMs the driver.
# We fetch at most cap + 1 rows in one action, flagging "truncated".
DEFAULT_MAX_ROWS = 100_000
# GET /cells cap on the ESTIMATED cell count (bbox area / cell area at res):
# a planet bbox at res 12 would otherwise group+collect millions of rows.
DEFAULT_MAX_CELLS = 50_000


def _tile_bounds(z: int, x: int, y: int) -> tuple[float, float, float, float]:
    """(min_lon, min_lat, max_lon, max_lat) of slippy tile (x, y), widened
    by ε and unbounded at the clamped edges: a PREFILTER only. It is what
    reaches parquet/Iceberg min-max pruning; the engine's own projection
    on top decides membership, because tile_fxy clamps lat beyond ±85.05°
    into the edge rows and lon=180 into the last column, and this
    driver-side inverse Mercator is not guaranteed to be the bit-exact
    inverse of the Spark expression."""
    n = 1 << z
    eps = 1e-7
    lon0 = -180.0 if x == 0 else x / n * 360.0 - 180.0 - eps
    lon1 = 180.0 if x == n - 1 else (x + 1) / n * 360.0 - 180.0 + eps
    lat1 = 90.0 if y == 0 else math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * y / n)))) + eps
    lat0 = (
        -90.0
        if y == n - 1
        else math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * (y + 1) / n)))) - eps
    )
    return lon0, lat0, lon1, lat1


def _tile_frame(dataset: OsmDataset, z: int, x: int, y: int) -> DataFrame:
    """The one-column ``png`` frame of GET /tiles/{z}/{x}/{y}.png: the
    tile's nodes (bbox prefilter, then tile_of == the tile) through
    tile_heatmap; no row for an empty tile."""
    from simple_osm_queries_spark.functions import cells as C
    from simple_osm_queries_spark.operators.tiles import tile_heatmap

    pre = dataset.nodes.where(G.bound_meets("node", *_tile_bounds(z, x, y))).where(
        C.tile_of(F.col("lon"), F.col("lat"), z) == F.lit(C.tile_id_py(x, y, z))
    )
    return tile_heatmap(pre.select("lon", "lat"), z, 256).select("png")


def _mvt_layers(
    dataset: OsmDataset, z: int, x: int, y: int, simplify: float, cap: int
) -> list[TileLayer]:
    """GET /tiles/{z}/{x}/{y}.mvt's layers (operators/tiles.py
    tile_mvt_layers) over the bbox-prefiltered tables: nodes inside the
    tile's bounds, ways and relations whose bbox meets them (their bbox
    columns reach parquet min-max pruning)."""
    from simple_osm_queries_spark.operators.tiles import tile_mvt_layers

    bounds = _tile_bounds(z, x, y)
    return tile_mvt_layers(
        dataset.nodes.where(G.bound_meets("node", *bounds)),
        dataset.ways.where(G.bound_meets("way", *bounds)),
        dataset.relations.where(G.bound_meets("relation", *bounds)),
        z, x, y, cap, simplify,
    )


@functools.cache
def _app_html() -> bytes:
    # importlib.resources: works both from a checkout AND from the
    # spark-submit --py-files zip (plain open(__file__-relative) would not)
    from importlib import resources

    return resources.files("simple_osm_queries_spark").joinpath("web_app.html").read_bytes()


def make_handler(
    dataset: OsmDataset,
    max_rows: int = DEFAULT_MAX_ROWS,
    max_cells: int = DEFAULT_MAX_CELLS,
):
    class Handler(BaseHTTPRequestHandler):
        def _send(self, code: int, payload: bytes, content_type: str) -> None:
            self.send_response(code)
            self.send_header("Content-Type", content_type)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def _error(self, code: int, error: str, message: str | None = None) -> None:
            """The JSON error envelope {"error", "message"} of every non-200
            reply (api.go:84-96,100-113)."""
            body = {"error": error}
            if message is not None:
                body["message"] = message
            self._send(code, json.dumps(body).encode(), "application/json")

        def do_GET(self):  # noqa: N802 (http.server API)
            if self.path.rstrip("/") in ("", "/app"):
                self._send(200, _app_html(), "text/html")
            elif self.path.startswith("/cells"):
                self._get_cells()
            elif self.path.startswith("/tiles/"):
                self._get_tile()
            elif self.path.startswith("/nearest"):
                self._get_nearest()
            else:
                self._error(404, "not found")

        def _get_nearest(self) -> None:
            """GET /nearest?lon=..&lat=..&k=1&radius=500 — the k nearest
            ways within radius meters of the point, as JSON
            {way_id, dist_m, rank} rows (operators/nearest_way.py as a
            user surface: reverse geocoding / GPS-snap). The way side is
            bbox-prefiltered around the point before the broadcast join,
            so a single lookup never scans the full way table's geometry."""
            from urllib.parse import parse_qs, urlparse

            from simple_osm_queries_spark.operators.buffer import M_PER_DEG
            from simple_osm_queries_spark.operators.nearest_way import (
                nearest_way_join,
            )

            try:
                qs = parse_qs(urlparse(self.path).query)
                lon = float(qs["lon"][0])
                lat = float(qs["lat"][0])
                k = int(qs.get("k", ["1"])[0])
                radius = float(qs.get("radius", ["500"])[0])
                if not (-180.0 <= lon <= 180.0 and -90.0 <= lat <= 90.0):
                    raise ValueError("lon/lat out of range")
                if not 1 <= k <= 100:
                    raise ValueError("k must be in [1, 100]")
                if not 0.0 < radius <= 100_000.0:
                    raise ValueError("radius must be in (0, 100km]")
            except (KeyError, ValueError) as e:
                self._error(400, "bad request", str(e))
                return
            try:
                d_lat = radius / M_PER_DEG
                d_lon = radius / (
                    M_PER_DEG * math.cos(math.radians(min(abs(lat), 89.0)))
                )
                cand = dataset.ways.filter(
                    G.bound_meets("way", lon - d_lon, lat - d_lat, lon + d_lon, lat + d_lat)
                ).select(
                    "id", "nodes", "min_lon", "min_lat", "max_lon", "max_lat"
                )
                spark = dataset.nodes.sparkSession
                pt = spark.createDataFrame(
                    [(0, lon, lat)], "id long, lon double, lat double"
                )
                rows = (
                    nearest_way_join(
                        pt, cand, radius, k=k, strategy="broadcast", snap=True
                    )
                    .orderBy("rank")
                    .collect()
                )
                payload = {
                    "query": {"lon": lon, "lat": lat, "k": k, "radius_m": radius},
                    "results": [
                        {
                            "way_id": r.way_id,
                            "dist_m": r.dist_m,
                            "rank": r.rank,
                            "snap_lon": r.snap_lon,
                            "snap_lat": r.snap_lat,
                        }
                        for r in rows
                    ],
                }
                self._send(200, json.dumps(payload).encode(), "application/json")
            except Exception as e:  # execution error envelope
                self._error(500, "execution error", str(e))

        def _get_tile(self) -> None:
            """GET /tiles/{z}/{x}/{y}.png — an on-demand density heatmap
            raster for ONE slippy tile (operators/tiles.py tile_heatmap
            over the tile's bbox-filtered nodes), and .mvt — the same
            tile as a Mapbox Vector Tile with a nodes, a ways and a
            relations layer (tags as MVT attributes; tiles.tile_mvt over
            the tile's member frames). A layer of at most
            tiles.MVT_DRIVER_ROWS members is fetched and encoded here on
            the driver; a larger one is encoded from the same capped,
            fid-ordered members in one executor task. The
            reference's UI sends every feature to the browser as GeoJSON;
            raster keeps a dense region drawable, MVT keeps it
            *interactive* in any standard map client. Zoom capped like
            /cells."""
            import re
            from urllib.parse import parse_qs, urlparse

            # slippy-map clients append cache-busting/auth query strings
            # (.../{z}/{x}/{y}.png?v=2) — match on the path component only
            url = urlparse(self.path)
            m = re.match(r"^/tiles/(\d+)/(\d+)/(\d+)\.(png|mvt)$", url.path)
            if not m:
                self._error(404, "not found")
                return
            # int() refuses numbers over 4300 digits; ?simplify=<tol in tile
            # units> DP-thins the ways layer
            try:
                z, x, y = (int(g) for g in m.groups()[:3])
                simplify = float(parse_qs(url.query).get("simplify", ["0"])[0])
                if not 0.0 <= simplify <= 4096.0:
                    raise ValueError("simplify must be in [0, 4096]")
            except ValueError as e:
                self._error(400, "bad request", str(e))
                return
            fmt = m.group(4)
            # z before 1 << z: an unchecked z of 10^13 exhausts memory
            if z > 22 or x >= 1 << z or y >= 1 << z:
                self._error(400, "tile out of range")
                return
            try:
                if fmt == "mvt":
                    from simple_osm_queries_spark.operators.tiles import tile_mvt

                    body = tile_mvt(_mvt_layers(dataset, z, x, y, simplify, max_rows))
                    self._send(200, body, "application/vnd.mapbox-vector-tile")
                    return
                rows = _tile_frame(dataset, z, x, y).collect()
                if rows:
                    png = bytes(rows[0].png)
                else:  # empty tile -> blank raster
                    import numpy as np

                    from simple_osm_queries_spark.sources import codecs

                    png = codecs.encode_png(np.zeros((256, 256, 3), np.uint8))
                self._send(200, png, "image/png")
            except Exception as e:  # execution error envelope
                self._error(500, "execution error", str(e))

        def _get_cells(self) -> None:
            """GET /cells?bbox=minlon,minlat,maxlon,maxlat&res=7 — per-H3-cell
            node density over the bbox as a GeoJSON FeatureCollection of cell
            polygons with a `count` property (the round-3 encoder + boundary
            machinery as a user surface)."""
            from urllib.parse import parse_qs, urlparse

            import numpy as np

            from simple_osm_queries_spark.functions import cells as C
            from simple_osm_queries_spark.sources.geojson import (
                h3_cells_feature_collection,
            )

            try:
                qs = parse_qs(urlparse(self.path).query)
                x1, y1, x2, y2 = (float(v) for v in qs["bbox"][0].split(","))
                # nan slips past the estimate below (nan > cap is False)
                if not all(map(math.isfinite, (x1, y1, x2, y2))):
                    raise ValueError("bbox must be finite")
                if x1 > x2 or y1 > y2:
                    raise ValueError("bbox must be minlon,minlat,maxlon,maxlat")
                res = int(qs.get("res", ["7"])[0])
                if not 0 <= res <= 12:
                    raise ValueError("res must be in [0, 12]")
            except (KeyError, ValueError) as e:
                self._error(400, "bad request", str(e))
                return
            # estimated cell count: bbox area (cos-corrected) / hex area;
            # reject before running anything (ADVICE r3 #3)
            from simple_osm_queries_spark.operators.knn import h3_min_inradius_deg

            mid = math.cos(math.radians(min(abs(y1 + y2) / 2.0, 89.0)))
            inr = h3_min_inradius_deg(res)
            est = abs(x2 - x1) * abs(y2 - y1) * mid / (2.0 * math.sqrt(3.0) * inr * inr)
            if est > max_cells:
                self._error(
                    413,
                    "too many cells",
                    f"bbox at res {res} covers ~{int(est)} cells "
                    f"(cap {max_cells}); use a coarser res or smaller bbox",
                )
                return
            try:
                rows = (
                    dataset.nodes.filter(G.bound_meets("node", x1, y1, x2, y2))
                    .groupBy(C.cell_h3(F.col("lon"), F.col("lat"), res).alias("cell"))
                    .agg(F.count("*").alias("n"))
                    .collect()
                )
                cells = np.array([r.cell for r in rows], dtype=np.int64).view(np.uint64)
                fc = h3_cells_feature_collection(cells)
                for feat, r in zip(fc["features"], rows):
                    feat["properties"]["count"] = r.n
                self._send(200, json.dumps(fc).encode(), "application/geo+json")
            except Exception as e:  # execution error envelope
                self._error(500, "execution error", str(e))

        def do_POST(self):  # noqa: N802
            if self.path != "/query":
                self._error(404, "not found")
                return
            try:  # read(-1) would block until the client closes the socket
                length = int(self.headers.get("Content-Length", "0"))
                if length < 0:
                    raise ValueError
            except ValueError:
                self._error(400, "bad request", "Content-Length must be a non-negative integer")
                return
            body = self.rfile.read(length).decode("utf-8", errors="replace")
            try:
                query = parse_query(body)
            except ParseError as e:
                self._error(400, "parse error", str(e))
                return
            try:
                geojson = to_geojson_capped(plan_query(query, dataset), max_rows)
            except PlanError as e:
                self._error(400, "plan error", str(e))
                return
            except Exception as e:  # execution error envelope (api.go:100-113)
                self._error(500, "execution error", str(e))
                return
            self._send(200, geojson.encode(), "application/geo+json")

        def log_message(self, fmt, *args):  # quiet
            pass

    return Handler


def serve(
    dataset: OsmDataset,
    port: int = 8080,
    max_rows: int = DEFAULT_MAX_ROWS,
    max_cells: int = DEFAULT_MAX_CELLS,
) -> ThreadingHTTPServer:
    """Build the server (caller decides serve_forever vs background thread)."""
    return ThreadingHTTPServer(
        ("127.0.0.1", port), make_handler(dataset, max_rows, max_cells)
    )
