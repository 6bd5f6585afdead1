"""Raster <-> vector tile bridge over slippy-map (Web-Mercator) tiles.

Assigning a point to its tile at zoom z is pure column math
(functions/cells.py owns the projection ``tile_fxy`` and the tile-id codec
``tile_id`` / ``tile_zxy``), so a tile JOIN is an equi-join on the computed
tile id and every per-tile operator is one hash exchange on it — no range
or spatial join anywhere in the family: the expensive geometry predicate is
replaced by a hash-partitionable key, which is the whole point of tiling at
10^12 scale.

The full-table operators are one pipeline, and each step exists once:

* assign — ``_tile_local``: a point's tile id plus its clamped integer
  position on the tile's grid (a raster pixel or an MVT coordinate);
* aggregate — ``tile_stats`` and ``tile_pixel_bins`` are one groupBy each;
  AQE's map-side partial aggregate absorbs hot tiles (the reference's
  extent bin-packer import.go:167-233 solved the same skew problem at
  import time);
* rank — ``_rank_cap`` numbers each tile's members and caps them on the
  same tile_id exchange the render groups by;
* render — one applyInPandas per tile: ``tile_heatmap`` paints a PNG,
  ``tile_vectors`` encodes one Mapbox Vector Tile layer of points.

Ways and relations are served one tile at a time, as the reference
answers a map request from its in-process index (src/web/api.go:117):
``tile_mvt_layers`` gives a single tile's member frame per layer (a
node's ``_tile_local`` tile; a way's or relation's ``_bbox_tile_range``)
and ``tile_mvt`` fetches each layer in one job with no exchange and
encodes it on the driver, or, above ``MVT_DRIVER_ROWS`` members, encodes
the same fid-ordered, capped members in one mapInPandas task. Both paths
call the same per-feature builders, so a tile's bytes do not depend on
which one encoded it.

The raster -> vector direction is ``raster_to_bins`` and
``pixel_bins_to_points``.
"""

from __future__ import annotations

import functools
import math
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from simple_osm_queries_spark.functions import cells as C
from simple_osm_queries_spark.sources.mvt import EXTENT


def assign_tiles(
    points: DataFrame, zoom: int, lon: str = "lon", lat: str = "lat", out: str = "tile_id"
) -> DataFrame:
    return points.withColumn(out, C.tile_of(F.col(lon), F.col(lat), zoom))


def tile_stats(points: DataFrame, zoom: int) -> DataFrame:
    """Per-tile rollup: count + bbox of contained points."""
    return assign_tiles(points, zoom).groupBy("tile_id").agg(
        F.count("*").alias("n"),
        F.min("lon").alias("min_lon"),
        F.min("lat").alias("min_lat"),
        F.max("lon").alias("max_lon"),
        F.max("lat").alias("max_lat"),
    )


def _tile_local(lon: Column, lat: Column, zoom: int, size: int) -> tuple[Column, Column, Column]:
    """(tile_id, px, py): the tile a point falls in and its position on that
    tile's ``size`` x ``size`` integer grid, both clamped (lat beyond the
    Mercator limit and lon=180 land on the edge tiles and cells). One
    projection, C.tile_fxy, so a point's grid cell always lies in the tile
    tile_of assigns it to."""

    def clamp(v: Column, hi: int) -> Column:
        return F.least(F.greatest(F.floor(v).cast("int"), F.lit(0)), F.lit(hi))

    fx, fy = C.tile_fxy(lon, lat, zoom)
    tx = clamp(fx, (1 << zoom) - 1)
    ty = clamp(fy, (1 << zoom) - 1)
    px = clamp((fx - tx) * F.lit(float(size)), size - 1)
    py = clamp((fy - ty) * F.lit(float(size)), size - 1)
    return C.tile_id(tx, ty, zoom), px, py


def _tile_local_py(lon: float, lat: float, zoom: int, tx: int, ty: int) -> tuple[int, int]:
    """MVT position of a vertex on tile (tx, ty), NOT clamped: vertices of a
    feature that crosses the tile edge leave [0, EXTENT), which the MVT
    spec allows (renderers clip)."""
    fx, fy = C.tile_fxy_py(lon, lat, zoom)
    return int(math.floor((fx - tx) * EXTENT)), int(math.floor((fy - ty) * EXTENT))


def _tile_row(tid: int, **cols):
    """One render output row: tile_id, its decoded (zoom, tx, ty), then
    ``cols`` in order."""
    import pandas as pd

    zoom, tx, ty = C.tile_zxy_py(tid)
    return pd.DataFrame(
        {"tile_id": [tid], "zoom": [zoom], "tx": [tx], "ty": [ty]}
        | {k: [v] for k, v in cols.items()}
    )


def tile_pixel_bins(
    points: DataFrame, zoom: int, tile_px: int = 256,
    lon: str = "lon", lat: str = "lat", weight: str | None = None,
) -> DataFrame:
    """Bin points to raster pixels: (tile_id, px, py, cnt) at ``zoom`` with
    ``tile_px``-pixel tiles. Pure column math (the fractional part of the
    same Web-Mercator projection tile_x/tile_y floor), so the whole raster
    aggregation is ONE hash groupBy with map-side partial aggregation —
    the output per tile is bounded by tile_px^2 rows no matter how many
    input points, which is what makes rendering at 10^12 points feasible.

    ``weight``: optional long column summed instead of counting rows —
    re-binning already-aggregated bins (e.g. the pixel_bins_to_points
    round trip) must weight each row by its original count.
    """
    tid, px, py = _tile_local(F.col(lon), F.col(lat), zoom, tile_px)
    cols = [tid.alias("tile_id"), px.alias("px"), py.alias("py")]
    if weight is not None:
        cols.append(F.col(weight).alias("_w"))
    agg = F.count("*") if weight is None else F.sum("_w")
    return (
        points.select(*cols)
        .groupBy("tile_id", "px", "py")
        .agg(agg.cast("long").alias("cnt"))
    )


def tile_heatmap(
    points: DataFrame, zoom: int, tile_px: int = 256,
    lon: str = "lon", lat: str = "lat",
) -> DataFrame:
    """Render per-tile density rasters as grayscale PNGs — the
    raster<->vector bridge in the rendering direction (vector points in,
    map tiles out; the reference's web UI serves GeoJSON and leaves
    rasterization to the browser, README.md:49-66).

    Two stages: `tile_pixel_bins` (one aggregating shuffle; <= tile_px^2
    rows per tile survive it) then a per-tile applyInPandas that paints
    the canvas and PNG-encodes. Intensity is log1p of the bin count
    (heavy skew stays visible), normalized per tile to the max bin.
    Output: (tile_id, zoom, tx, ty, n_points, png binary).
    """
    import pandas as pd

    bins = tile_pixel_bins(points, zoom, tile_px, lon, lat)

    def render(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        from simple_osm_queries_spark.sources import codecs

        canvas = np.zeros((tile_px, tile_px), dtype=np.float64)
        canvas[pdf["py"].to_numpy(), pdf["px"].to_numpy()] = pdf["cnt"].to_numpy()
        vals = np.log1p(canvas)
        top = vals.max()
        gray = (
            np.zeros((tile_px, tile_px), np.uint8)
            if top <= 0
            else np.clip(np.round(vals / top * 255.0), 0, 255).astype(np.uint8)
        )
        return _tile_row(
            int(pdf["tile_id"].iloc[0]),
            n_points=int(pdf["cnt"].sum()),
            png=codecs.encode_png(np.repeat(gray[..., None], 3, axis=2)),
        )

    return bins.groupBy("tile_id").applyInPandas(
        render,
        "tile_id long, zoom int, tx int, ty int, n_points long, png binary",
    )


# ---------------------------------------------------------------------------
# vector tiles: per-feature builders, one encode, two ways to reach it
# ---------------------------------------------------------------------------

def _rank_cap(df: DataFrame, cap: int) -> DataFrame:
    """Number each tile's members by ``fid`` (``rn``), count them
    (``n_total``) and keep rn <= ``cap``. Both windows partition by tile_id,
    so they share the hash exchange the render's groupBy needs: nothing
    unbounded crosses into the render, and n_total still reports the true
    member count, so a capped tile is detectable (no silent cap). The one
    exchange is pinned by tests/test_spatial.py::test_tile_plan_shape."""
    return (
        df.withColumn("rn", F.row_number().over(Window.partitionBy("tile_id").orderBy("fid")))
        .withColumn("n_total", F.count("*").over(Window.partitionBy("tile_id")))
        .filter(F.col("rn") <= cap)
    )


def _encode_layer(
    name: str, tile: int, features: Callable[..., list[dict]], rows
) -> tuple[int, bytes]:
    """(feature count, single-layer MVT blob) of tile ``tile``:
    ``features(rows, zoom, tx, ty)`` (one of the builders below) turns the
    member tuples, in fid order, into sources/mvt.py feature dicts."""
    from simple_osm_queries_spark.sources import mvt

    zoom, tx, ty = C.tile_zxy_py(tile)
    feats = features(rows, zoom, tx, ty)
    return len(feats), mvt.encode_tile([(name, feats)])


def _render_mvt(
    ranked: DataFrame,
    layer: str,
    cols: list[str],
    features: Callable[..., list[dict]],
) -> DataFrame:
    """One single-layer Mapbox Vector Tile (MVT 2.1, sources/mvt.py) per
    tile of a ``_rank_cap`` frame, from the tile's ``cols`` tuples in rank
    order.

    Output: (tile_id, zoom, tx, ty, n_features, n_total, mvt binary).
    """
    import pandas as pd

    def render(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("rn")
        tid = int(pdf["tile_id"].iloc[0])
        n, blob = _encode_layer(layer, tid, features, zip(*(pdf[c] for c in cols)))
        return _tile_row(tid, n_features=n, n_total=int(pdf["n_total"].iloc[0]), mvt=blob)

    return ranked.groupBy("tile_id").applyInPandas(
        render,
        "tile_id long, zoom int, tx int, ty int, n_features int, n_total long, mvt binary",
    )


# The per-feature builders of the three layers. Each takes one tile's
# member tuples in fid order and returns sources/mvt.py feature dicts.
# ``tags`` is a tags map's ``map_entries``: collect() gives (key, value)
# Rows, pandas gives {"key", "value"} dicts, and both keep the map's
# order, which is part of the bytes (a map itself comes back from
# collect() as a dict in hash order).

def _attrs(tags) -> dict:
    return {} if tags is None else {e["key"]: e["value"] for e in tags}


def _point_features(rows, zoom: int, tx: int, ty: int) -> list[dict]:
    """(fid, ix, iy, tags) rows -> POINT features at their tile-local
    integer position (computed in Spark by ``_tile_local``)."""
    from simple_osm_queries_spark.sources import mvt

    return [
        {
            "id": int(fid),
            "type": mvt.POINT,
            "rings": [[(int(ix), int(iy))]],
            "attrs": _attrs(tags),
        }
        for fid, ix, iy, tags in rows
    ]


def _line_features(rows, zoom: int, tx: int, ty: int, simplify_tol: float = 0.0) -> list[dict]:
    """(fid, nodes) rows -> LINESTRING features projected onto tile
    (tx, ty), vertices unclipped (renderers clip, so a way that crosses
    the tile edge needs no clipping stage); a single-vertex way is skipped.

    ``simplify_tol`` > 0 runs Douglas–Peucker per feature in tile units
    (extent/256 units ≈ one on-screen pixel) on the projected integer
    vertices: endpoints survive and the thinned line stays within
    ``simplify_tol`` of the original, so a 10k-vertex river at z4 is a few
    dozen MVT vertices."""
    import numpy as np

    from simple_osm_queries_spark.operators.geodesy import _dp_mask
    from simple_osm_queries_spark.sources import mvt

    feats = []
    for fid, nodes in rows:
        ring = [_tile_local_py(v["lon"], v["lat"], zoom, tx, ty) for v in nodes]
        if len(ring) < 2:
            continue  # degenerate single-vertex way
        if simplify_tol > 0.0 and len(ring) > 2:
            xs = np.array([p[0] for p in ring], dtype=np.float64)
            ys = np.array([p[1] for p in ring], dtype=np.float64)
            keep = _dp_mask(xs, ys, float(simplify_tol))
            ring = [ring[i] for i in np.flatnonzero(keep)]
        feats.append({"id": int(fid), "type": mvt.LINESTRING, "rings": [ring]})
    return feats


def _bbox_polygon_features(rows, zoom: int, tx: int, ty: int) -> list[dict]:
    """(fid, min_lon, min_lat, max_lon, max_lat, tags) rows -> one
    rectangle POLYGON per feature on tile (tx, ty): the geometry the
    reference outputs for a relation (grid_reader.go:513-517)."""
    from simple_osm_queries_spark.sources import mvt

    feats = []
    for fid, x1, y1, x2, y2, tags in rows:
        # top-left = (min_lon, max_lat): screen y grows DOWN
        px0, py0 = _tile_local_py(float(x1), float(y2), zoom, tx, ty)
        px1, py1 = _tile_local_py(float(x2), float(y1), zoom, tx, ty)
        feats.append(
            {
                "id": int(fid),
                "type": mvt.POLYGON,
                # CW on screen (positive shoelace with y down) => exterior
                "rings": [[(px0, py0), (px1, py0), (px1, py1), (px0, py1)]],
                "attrs": _attrs(tags),
            }
        )
    return feats


_BBOX = ["min_lon", "min_lat", "max_lon", "max_lat"]


def tile_vectors(df: DataFrame, zoom: int, cap: int = 65536) -> DataFrame:
    """Vector-tile output for point features (``id``, ``lon``, ``lat``,
    ``tags``): one MVT layer ``nodes`` per slippy tile at ``zoom``, points
    carrying their ``tags`` map entries as MVT attributes — the other half
    of the raster<->vector pair next to tile_heatmap (the reference sends
    raw GeoJSON to the browser, src/web/api.go:117; MVT is what makes a
    dense region drawable by a standard map client).

    Plan shape mirrors the raster path: tile assignment and the tile-local
    integer coordinates are pure column math (a point's MVT position is
    its tile_heatmap pixel at tile_px=EXTENT), ``cap`` bounds features per
    tile, and the only Python is the byte assembly in the render stage.

    Output: (tile_id, zoom, tx, ty, n_features, n_total, mvt binary).
    """
    tid, ix, iy = _tile_local(F.col("lon"), F.col("lat"), zoom, EXTENT)
    ranked = _rank_cap(
        df.select(
            tid.alias("tile_id"),
            F.col("id").alias("fid"),
            ix.alias("ix"),
            iy.alias("iy"),
            F.map_entries("tags").alias("tags"),
        ),
        cap,
    )
    return _render_mvt(ranked, "nodes", ["fid", "ix", "iy", "tags"], _point_features)


# A way or relation whose bbox covers more tiles than this at the tile's
# zoom (a continental motorway at z15) is left out of every tile's layer.
MAX_COVER = 256

# A layer of one tile with at most this many members is fetched and
# encoded on the driver (tile_mvt); a larger one is encoded in an
# executor. Fetch and encode cost ~33 µs of driver Python per member
# (28k- and 123k-member tiles, 4 vCPU), under the GIL every request
# thread of the HTTP server shares: this bounds a layer at ~0.14 s.
MVT_DRIVER_ROWS = 4096


@dataclass(frozen=True)
class TileLayer:
    """One MVT layer of ONE tile (``tile_mvt_layers``).

    ``members``: the tile's members, ``fid`` then the ``features``
    builder's payload columns, tags as ``map_entries``.
    ``features``: the layer's per-feature builder.
    ``cap``: the most members the layer encodes, lowest fid first."""

    name: str
    tile: int
    members: DataFrame
    features: Callable[..., list[dict]]
    cap: int

    @property
    def fetch(self) -> DataFrame:
        """The driver fetch: members in fid order, at most
        min(cap, MVT_DRIVER_ROWS + 1) rows (one more tells a layer too
        large for the driver). A TakeOrderedAndProject, whose collect() is
        one job with no exchange (toPandas() would run it as a
        single-partition shuffle)."""
        return self.members.orderBy("fid").limit(min(self.cap, MVT_DRIVER_ROWS + 1))

    def encode(self, rows: list) -> bytes:
        """The layer's MVT blob from its fetched rows, on the driver."""
        return _encode_layer(self.name, self.tile, self.features, rows)[1]

    def executor_frame(self) -> DataFrame:
        """The layer's MVT blob as a one-row ``mvt`` frame, encoded in an
        executor: the first ``cap`` members in fid order (a
        TakeOrderedAndProject, so every row reaches one task in order,
        with no Exchange or Window in the plan) through one mapInPandas
        that concatenates its batches and calls the driver's encode."""
        import pandas as pd

        name, tile, features = self.name, self.tile, self.features

        def encode(batches):
            pdf = pd.concat(list(batches))
            rows = zip(*(pdf[c] for c in pdf.columns))
            yield pd.DataFrame({"mvt": [_encode_layer(name, tile, features, rows)[1]]})

        return self.members.orderBy("fid").limit(self.cap).mapInPandas(encode, "mvt binary")


def tile_mvt_layers(
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    zoom: int,
    tx: int,
    ty: int,
    cap: int,
    simplify_tol: float = 0.0,
) -> list[TileLayer]:
    """ONE tile's MVT layers, nodes -> ways -> relations, for
    ``tile_mvt``: a node is a member of the ``_tile_local`` tile it falls
    in; a way or relation of every tile its bbox covers
    (``_bbox_tile_range``), unless that is more than MAX_COVER tiles.
    ``simplify_tol`` thins the ways layer (``_line_features``)."""
    want = C.tile_id_py(tx, ty, zoom)
    tid, ix, iy = _tile_local(F.col("lon"), F.col("lat"), zoom, EXTENT)
    xmin, xmax, ymin, ymax, n_tiles = _bbox_tile_range(zoom)
    covers = (
        (xmin <= tx) & (xmax >= tx) & (ymin <= ty) & (ymax >= ty) & (n_tiles <= MAX_COVER)
    )
    fid = F.col("id").alias("fid")
    tags = F.map_entries("tags").alias("tags")
    layers = [
        (
            "nodes",
            nodes.where(tid == want).select(fid, ix.alias("ix"), iy.alias("iy"), tags),
            _point_features,
        ),
        (
            "ways",
            ways.where(covers).select(fid, "nodes"),
            functools.partial(_line_features, simplify_tol=simplify_tol),
        ),
        ("relations", relations.where(covers).select(fid, *_BBOX, tags), _bbox_polygon_features),
    ]
    return [TileLayer(name, want, members, features, cap) for name, members, features in layers]


def tile_mvt(layers: list[TileLayer]) -> bytes:
    """One tile's MVT bytes from its ``tile_mvt_layers``: the layers'
    blobs concatenated in order (a tile message is repeated Layer
    fields), a layer present iff it has members, an empty tile a valid
    tile too. Every layer's fetch runs (one job each); a layer that fits
    MVT_DRIVER_ROWS is encoded here from those rows, and the larger ones
    are encoded in one executor job (their ``executor_frame``s unioned,
    one task each), so a dense tile does not hold the driver."""
    from simple_osm_queries_spark.sources import mvt

    fetched = [(layer, layer.fetch.collect()) for layer in layers]
    big = [layer for layer, rows in fetched if len(rows) > MVT_DRIVER_ROWS]
    encoded = {}
    if big:
        # an RDD union: each frame is one single-partition blob, and
        # DataFrame.union would zip those partitions into one task that
        # encodes the layers one after another
        frames = [layer.executor_frame() for layer in big]
        union = frames[0].sparkSession.sparkContext.union([f.rdd for f in frames])
        encoded = {layer.name: bytes(r.mvt) for layer, r in zip(big, union.collect())}
    blobs = [
        encoded[layer.name] if len(rows) > MVT_DRIVER_ROWS else layer.encode(rows)
        for layer, rows in fetched
        if rows
    ]
    return b"".join(blobs) or mvt.encode_tile([("nodes", [])])


def _bbox_tile_range(zoom: int) -> tuple[Column, Column, Column, Column, Column]:
    """(xmin, xmax, ymin, ymax, n_tiles): the tile index range a feature's
    bbox columns cover at ``zoom`` and its tile count — the one definition
    of way/relation tile membership."""
    xmin = C.tile_x(F.col("min_lon"), zoom)
    xmax = C.tile_x(F.col("max_lon"), zoom)
    ymin = C.tile_y(F.col("max_lat"), zoom)  # y grows DOWN (screen space)
    ymax = C.tile_y(F.col("min_lat"), zoom)
    return xmin, xmax, ymin, ymax, (xmax - xmin + 1) * (ymax - ymin + 1)


# ---------------------------------------------------------------------------
# raster -> vector: the inverse direction of the tile bridge
# ---------------------------------------------------------------------------

def pixel_bins_to_points(
    bins: DataFrame, tile_px: int = 256, value_col: str | None = "cnt"
) -> DataFrame:
    """Inverse of ``tile_pixel_bins`` — the raster->vector direction of the
    north rule's bridge: each (tile_id, px, py) raster pixel becomes the
    lon/lat POINT at its center (inverse Web-Mercator,
    ``lat = atan(sinh(pi*(1 - 2*fy/n)))``), with ``value_col`` passed
    through. Pure column math end-to-end — no UDF, no shuffle; zoom is
    decoded from the packed tile_id so one frame may mix zooms.

    Round-trip guarantee: a pixel center re-bins (``tile_pixel_bins`` at
    the same zoom/tile_px, ``weight=value_col``) to exactly the bins it
    came from — the center sits 0.5 px from every floor boundary, ~1e5
    times the double-precision projection error, so the integer keys
    cannot flip (tested exactly in tests/test_raster_vector.py).

    Output: (lon double, lat double[, value_col]).
    """
    z, tx, ty = (c.cast("double") for c in C.tile_zxy(F.col("tile_id")))
    n = F.pow(F.lit(2.0), z)
    fx = tx + (F.col("px").cast("double") + F.lit(0.5)) / F.lit(float(tile_px))
    fy = ty + (F.col("py").cast("double") + F.lit(0.5)) / F.lit(float(tile_px))
    lon = fx / n * F.lit(360.0) - F.lit(180.0)
    lat = F.degrees(F.atan(F.sinh(F.lit(math.pi) * (F.lit(1.0) - F.lit(2.0) * fy / n))))
    cols = [lon.alias("lon"), lat.alias("lat")]
    if value_col is not None:
        cols.append(F.col(value_col))
    return bins.select(*cols)


def raster_to_bins(
    rasters: DataFrame, tile_px: int = 256, png_col: str = "png",
    on_error: str = "raise",
) -> DataFrame:
    """Vectorize raster tiles: decode each PNG (any of the engine's image
    formats, sniffed by magic) and emit one row per NONZERO pixel —
    ``(tile_id, px, py, intensity)`` with intensity the 0-255 gray value.
    The structural inverse of ``tile_heatmap`` (per-tile normalization is
    not invertible, so intensity is brightness, not the original count;
    key-set equality with ``tile_pixel_bins`` IS exact and tested).
    Compose with ``pixel_bins_to_points(value_col='intensity')`` for the
    full raster-tiles-in, lon/lat-points-out path. Arrow-batched
    mapInPandas; ``on_error`` follows the multimodal raise/skip contract.
    """
    import pandas as pd

    from simple_osm_queries_spark.operators.multimodal import (
        _check_on_error,
        _decode_or_none,
    )

    _check_on_error(on_error)

    def run(batches):
        import numpy as np

        from simple_osm_queries_spark.sources import codecs

        for pdf in batches:
            out_tid, out_px, out_py, out_val = [], [], [], []
            for tid, data in zip(pdf["tile_id"], pdf[png_col]):
                px_img = _decode_or_none(
                    lambda b: codecs.decode_image(b, None), data, on_error
                )
                if px_img is None:
                    continue
                if px_img.shape[0] != tile_px or px_img.shape[1] != tile_px:
                    if on_error == "skip":
                        continue
                    raise ValueError(
                        f"raster tile is {px_img.shape[1]}x{px_img.shape[0]}, "
                        f"expected {tile_px}x{tile_px}"
                    )
                gray = px_img.astype(np.uint16).sum(axis=2) // 3
                ys, xs = np.nonzero(gray)
                out_tid.extend([int(tid)] * len(xs))
                out_px.extend(xs.tolist())
                out_py.extend(ys.tolist())
                out_val.extend(gray[ys, xs].astype(int).tolist())
            yield pd.DataFrame(
                {
                    "tile_id": pd.Series(out_tid, dtype="int64"),
                    "px": pd.Series(out_px, dtype="int32"),
                    "py": pd.Series(out_py, dtype="int32"),
                    "intensity": pd.Series(out_val, dtype="int64"),
                }
            )

    return rasters.select("tile_id", png_col).mapInPandas(
        run, "tile_id long, px int, py int, intensity long"
    )
