"""Raster <-> vector tile bridge over slippy-map (Web-Mercator) tiles.

Assigning a point to its tile at zoom z is pure column math
(functions/cells.py owns the projection ``tile_fxy`` and the tile-id codec
``tile_id`` / ``tile_zxy``), so a tile JOIN is an equi-join on the computed
tile id and every per-tile operator is one hash exchange on it — no range
or spatial join anywhere in the family: the expensive geometry predicate is
replaced by a hash-partitionable key, which is the whole point of tiling at
10^12 scale.

Every operator is a path through one pipeline, and each step exists once:

* assign — ``_tile_local`` (a point's tile id plus its clamped integer
  position on the tile's grid: a raster pixel or an MVT coordinate) or
  ``_bbox_tile_fanout`` (a way's or relation's bbox -> every tile it
  covers, as an equi-joinable (feature, tile) explode);
* aggregate — ``tile_stats`` and ``tile_pixel_bins`` are one groupBy each;
  AQE's map-side partial aggregate absorbs hot tiles (the reference's
  extent bin-packer import.go:167-233 solved the same skew problem at
  import time);
* rank — ``_rank_cap`` numbers each tile's members and caps them on the
  same tile_id exchange the render groups by;
* render — one applyInPandas per tile: ``tile_heatmap`` paints a PNG,
  ``_render_mvt`` encodes one Mapbox Vector Tile layer for the points,
  linestrings and polygons operators, which differ only in their
  per-feature builder.

One small tile needs none of the exchanges: ``tile_mvt_layers`` gives a
single tile's members per layer (the same membership, fid order, cap and
module-level builders) and ``tile_mvt`` fetches each layer in one job
with no exchange and encodes it on the driver, or, above
``MVT_DRIVER_ROWS`` members, renders it through its operator restricted
to the tile in an executor. Either way the HTTP ``.mvt`` route serves the
bytes the three operators would have rendered for the tile.

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

# A way or relation whose bbox covers more tiles than this at the render
# zoom (a continental motorway at z15) would fan out explosively; see the
# ``oversize`` modes of tile_vectors_ways.
MAX_COVER = 256


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


def _tile_local_py(lon: float, lat: float, zoom: int, tx: int, ty: int, extent: int) -> tuple[int, int]:
    """MVT position of a vertex on tile (tx, ty), NOT clamped: vertices of a
    feature that crosses the tile edge leave [0, extent), which the MVT
    spec allows (renderers clip)."""
    fx, fy = C.tile_fxy_py(lon, lat, zoom)
    return int(math.floor((fx - tx) * extent)), int(math.floor((fy - ty) * extent))


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
# vector tiles: assign -> rank -> one MVT render stage
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


def _render_mvt(
    ranked: DataFrame,
    layer: str,
    extent: int,
    cols: list[str],
    features: Callable[..., list[dict]],
) -> DataFrame:
    """One single-layer Mapbox Vector Tile (MVT 2.1, sources/mvt.py) per
    tile of a ``_rank_cap`` frame: ``features(rows, zoom, tx, ty, extent)``
    turns the tile's ``cols`` tuples, in rank order, into sources/mvt.py
    feature dicts (one of the builders below).

    Output: (tile_id, zoom, tx, ty, n_features, n_total, mvt binary).
    """
    import pandas as pd

    def render(pdf: "pd.DataFrame") -> "pd.DataFrame":
        from simple_osm_queries_spark.sources import mvt

        pdf = pdf.sort_values("rn")
        tid = int(pdf["tile_id"].iloc[0])
        zoom, tx, ty = C.tile_zxy_py(tid)
        feats = features(zip(*(pdf[c] for c in cols)), zoom, tx, ty, extent)
        return _tile_row(
            tid,
            n_features=len(feats),
            n_total=int(pdf["n_total"].iloc[0]),
            mvt=mvt.encode_tile([(layer, feats)], extent=extent),
        )

    return ranked.groupBy("tile_id").applyInPandas(
        render,
        "tile_id long, zoom int, tx int, ty int, n_features int, n_total long, mvt binary",
    )


# The per-feature builders of the three layers. Each takes one tile's
# member tuples in rank order and returns sources/mvt.py feature dicts;
# the render stage above and the single-tile fetch (tile_mvt_layers) both
# call them, so a tile's bytes do not depend on which path encoded it.
# ``attrs`` is a tags map or its key/value entries (anything dict() takes).

def _point_features(rows, zoom: int, tx: int, ty: int, extent: int) -> list[dict]:
    """(fid, ix, iy, attrs) rows -> POINT features at their tile-local
    integer position (computed in Spark by ``_tile_local``)."""
    from simple_osm_queries_spark.sources import mvt

    return [
        {
            "id": int(fid),
            "type": mvt.POINT,
            "rings": [[(int(ix), int(iy))]],
            "attrs": dict(attrs) if attrs is not None else {},
        }
        for fid, ix, iy, attrs in rows
    ]


def _line_features(
    rows, zoom: int, tx: int, ty: int, extent: int, simplify_tol: float = 0.0
) -> list[dict]:
    """(fid, nodes) rows -> LINESTRING features projected onto tile
    (tx, ty), Douglas–Peucker thinned when ``simplify_tol`` > 0; a
    single-vertex way is skipped."""
    import numpy as np

    from simple_osm_queries_spark.operators.geodesy import _dp_mask
    from simple_osm_queries_spark.sources import mvt

    feats = []
    for fid, nodes in rows:
        ring = [_tile_local_py(v["lon"], v["lat"], zoom, tx, ty, extent) for v in nodes]
        if len(ring) < 2:
            continue  # degenerate single-vertex way
        if simplify_tol > 0.0 and len(ring) > 2:
            xs = np.array([p[0] for p in ring], dtype=np.float64)
            ys = np.array([p[1] for p in ring], dtype=np.float64)
            keep = _dp_mask(xs, ys, float(simplify_tol))
            ring = [ring[i] for i in np.flatnonzero(keep)]
        feats.append({"id": int(fid), "type": mvt.LINESTRING, "rings": [ring]})
    return feats


def _bbox_polygon_features(rows, zoom: int, tx: int, ty: int, extent: int) -> list[dict]:
    """(fid, min_lon, min_lat, max_lon, max_lat, attrs) rows -> one
    rectangle POLYGON per feature on tile (tx, ty)."""
    from simple_osm_queries_spark.sources import mvt

    feats = []
    for fid, x1, y1, x2, y2, attrs in rows:
        # top-left = (min_lon, max_lat): screen y grows DOWN
        px0, py0 = _tile_local_py(float(x1), float(y2), zoom, tx, ty, extent)
        px1, py1 = _tile_local_py(float(x2), float(y1), zoom, tx, ty, extent)
        feats.append(
            {
                "id": int(fid),
                "type": mvt.POLYGON,
                # CW on screen (positive shoelace with y down) => exterior
                "rings": [[(px0, py0), (px1, py0), (px1, py1), (px0, py1)]],
                "attrs": dict(attrs) if attrs is not None else {},
            }
        )
    return feats


_BBOX = ["min_lon", "min_lat", "max_lon", "max_lat"]


def tile_vectors(
    df: DataFrame,
    zoom: int,
    extent: int = EXTENT,
    cap: int = 65536,
    id_col: str = "id",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Vector-tile output for point features: one MVT layer ``nodes`` per
    slippy tile at ``zoom``, points carrying their ``tags`` map entries as
    MVT attributes — the other half of the raster<->vector pair next to
    tile_heatmap (the reference sends raw GeoJSON to the browser,
    src/web/api.go:117; MVT is what makes a dense region drawable by a
    standard map client).

    Plan shape mirrors the raster path: tile assignment and the tile-local
    integer coordinates are pure column math (a point's MVT position is
    its tile_heatmap pixel at tile_px=extent), ``cap`` bounds features per
    tile, and the only Python is the byte assembly in the render stage.

    Output: (tile_id, zoom, tx, ty, n_features, n_total, mvt binary).
    """
    tid, ix, iy = _tile_local(F.col(lon), F.col(lat), zoom, extent)
    ranked = _rank_cap(
        df.select(
            tid.alias("tile_id"),
            F.col(id_col).alias("fid"),
            ix.alias("ix"),
            iy.alias("iy"),
            F.col("tags").alias("attrs"),
        ),
        cap,
    )
    return _render_mvt(ranked, "nodes", extent, ["fid", "ix", "iy", "attrs"], _point_features)


def tile_vectors_ways(
    ways: DataFrame,
    zoom: int,
    extent: int = EXTENT,
    cap: int = 16384,
    oversize: str = "raise",
    simplify_tol: float = 0.0,
    tile: int | None = None,
) -> DataFrame:
    """Vector tiles for way LINESTRINGs, one MVT layer ``ways`` per tile
    (prepared ways table: ``nodes`` array<struct<id,lon,lat>> + bbox
    columns from sources/dataset.py).

    A way lands on every tile its BBOX covers (``_bbox_tile_fanout``);
    vertex coordinates are encoded tile-locally and MAY leave [0, extent)
    on border tiles, which the MVT spec allows (renderers clip) — that is
    what makes a no-clipping encoder correct. A way whose bbox covers
    more than MAX_COVER tiles at this zoom fans out explosively;
    ``oversize='raise'`` (default) fails fast with the count, ``'skip'``
    drops those ways — visibly, via the ``n_oversize`` column present on
    every output row (no silent cap).

    ``simplify_tol`` > 0 runs Douglas–Peucker per feature in TILE
    COORDINATE UNITS (the [0, extent) grid — extent/256 units ≈ one
    on-screen pixel) on the already-projected integer vertices, inside
    the same per-tile Arrow stage (geodesy's iterative numpy stack, zero
    extra passes). Endpoints always survive; max deviation from the
    original projected polyline <= simplify_tol. This is what makes a
    low-zoom planet render feasible: a 10k-vertex river at z4 is a few
    dozen MVT vertices.

    ``tile``: a tile id (cells.tile_id_py) renders only that tile — the
    other tiles a way covers are dropped before the rank and the render.

    Output: (tile_id, zoom, tx, ty, n_features, n_total, n_oversize, mvt).
    """
    ranked, over_cnt = _bbox_tile_fanout(ways, zoom, cap, oversize, ["nodes"], "ways", tile)
    features = functools.partial(_line_features, simplify_tol=simplify_tol)
    return _attach_oversize(
        _render_mvt(ranked, "ways", extent, ["fid", "nodes"], features), over_cnt
    )


def tile_vectors_relations(
    relations: DataFrame,
    zoom: int,
    extent: int = EXTENT,
    cap: int = 16384,
    oversize: str = "raise",
    tile: int | None = None,
) -> DataFrame:
    """Vector tiles for relation BBOX POLYGONS, one MVT layer ``relations``
    per tile — the geometry the reference outputs for relations
    (grid_reader.go:513-517 emits the relation's bounding box as a polygon
    ring; sources/geojson.py::_feature mirrors it), completing the
    POINT/LINESTRING/POLYGON triple over the prepared tables. Same bbox
    fan-out, ``oversize`` modes and ``tile`` as tile_vectors_ways; each
    tile renders the rectangle tile-locally (corners may leave [0, extent)
    on border tiles — renderers clip), with the ``tags`` map as
    attributes. The exterior ring is wound positive under the shoelace
    formula in screen space (y down), as MVT 2.1 requires for an exterior
    ring.

    Output: (tile_id, zoom, tx, ty, n_features, n_total, n_oversize, mvt).
    """
    ranked, over_cnt = _bbox_tile_fanout(
        relations, zoom, cap, oversize, [*_BBOX, "tags"], "relations", tile
    )
    return _attach_oversize(
        _render_mvt(
            ranked, "relations", extent, ["fid", *_BBOX, "tags"], _bbox_polygon_features
        ),
        over_cnt,
    )


# A layer of one tile with at most this many members is fetched and
# encoded on the driver (tile_mvt); a larger one renders through its
# operator in an executor. Fetch and encode cost ~33 µs of driver Python
# per member (28k- and 123k-member tiles, 4 vCPU), under the GIL every
# request thread of the HTTP server shares: this bounds a layer at
# ~0.14 s, no more than the operator path's own plan build per tile.
MVT_DRIVER_ROWS = 4096


@dataclass(frozen=True)
class TileLayer:
    """One MVT layer of ONE tile (``tile_mvt_layers``).

    ``fetch``: the tile's members by the operators' own membership, fid
    first, in fid order and at most min(cap, MVT_DRIVER_ROWS + 1) rows
    (one more tells a layer too large for the driver). It is a
    TakeOrderedAndProject, whose collect() is one job with no exchange
    (toPandas() would run it as a single-partition shuffle). Tags come as
    ``map_entries``: collect() turns a map into a dict in hash order, and
    attribute order is part of the bytes.
    ``features``: the layer's builder, shared with the render stage.
    ``render()``: the layer's operator restricted to this tile, the
    executor path (one row)."""

    name: str
    tile: int
    fetch: DataFrame
    features: Callable[..., list[dict]]
    render: Callable[[], DataFrame]

    def encode(self, rows: list) -> bytes:
        """The layer's MVT blob from its fetched rows, on the driver."""
        from simple_osm_queries_spark.sources import mvt

        zoom, tx, ty = C.tile_zxy_py(self.tile)
        return mvt.encode_tile([(self.name, self.features(rows, zoom, tx, ty, EXTENT))])


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
    ``tile_mvt``: tile (tx, ty)'s members by the operators' own membership
    (a node's ``_tile_local`` tile; a way's or relation's
    ``_bbox_tile_range``, at most MAX_COVER tiles, as oversize='skip'),
    the render stage's builders and the three operators with ``tile``, so
    the bytes are the operators' blobs for this tile on either path.
    Building the operator frames is deferred to ``render()``: most tiles
    never need them."""
    want = C.tile_id_py(tx, ty, zoom)
    tid, ix, iy = _tile_local(F.col("lon"), F.col("lat"), zoom, EXTENT)
    xmin, xmax, ymin, ymax, n_tiles = _bbox_tile_range(zoom)
    covers = (
        (xmin <= tx) & (xmax >= tx) & (ymin <= ty) & (ymax >= ty) & (n_tiles <= MAX_COVER)
    )
    fid = F.col("id").alias("fid")
    tags = F.map_entries("tags").alias("tags")
    in_tile = nodes.where(tid == want)
    layers = [
        (
            "nodes",
            in_tile.select(fid, ix.alias("ix"), iy.alias("iy"), tags),
            _point_features,
            functools.partial(
                tile_vectors, in_tile.select("id", "lon", "lat", "tags"), zoom, cap=cap
            ),
        ),
        (
            "ways",
            ways.where(covers).select(fid, "nodes"),
            functools.partial(_line_features, simplify_tol=simplify_tol),
            functools.partial(
                tile_vectors_ways, ways, zoom, cap=cap, oversize="skip",
                simplify_tol=simplify_tol, tile=want,
            ),
        ),
        (
            "relations",
            relations.where(covers).select(fid, *_BBOX, tags),
            _bbox_polygon_features,
            functools.partial(
                tile_vectors_relations, relations, zoom, cap=cap, oversize="skip", tile=want
            ),
        ),
    ]
    limit = min(cap, MVT_DRIVER_ROWS + 1)
    return [
        TileLayer(name, want, members.orderBy("fid").limit(limit), features, render)
        for name, members, features, render in layers
    ]


def tile_mvt(layers: list[TileLayer]) -> bytes:
    """One tile's MVT bytes from its ``tile_mvt_layers``: the layers'
    blobs concatenated in order (a tile message is repeated Layer
    fields), a layer present iff it has members, an empty tile a valid
    tile too. Every layer's fetch runs (one job each); a layer that fits
    MVT_DRIVER_ROWS is encoded here from those rows, and the larger ones
    render in one executor job (their render() frames unioned), so a
    dense tile does not hold the driver."""
    from simple_osm_queries_spark.sources import mvt

    fetched = [(layer, layer.fetch.collect()) for layer in layers]
    big = [layer for layer, rows in fetched if len(rows) > MVT_DRIVER_ROWS]
    rendered = {}
    if big:
        frames = [layer.render().select(F.lit(layer.name).alias("layer"), "mvt") for layer in big]
        rendered = {
            r.layer: bytes(r.mvt) for r in functools.reduce(DataFrame.union, frames).collect()
        }
    blobs = [
        rendered[layer.name] if len(rows) > MVT_DRIVER_ROWS else layer.encode(rows)
        for layer, rows in fetched
        if rows
    ]
    return b"".join(blobs) or mvt.encode_tile([("nodes", [])])


def _bbox_tile_range(zoom: int) -> tuple[Column, Column, Column, Column, Column]:
    """(xmin, xmax, ymin, ymax, n_tiles): the tile index range a feature's
    bbox columns cover at ``zoom`` and its tile count — the one definition
    of way/relation tile membership (the fan-out explodes it, the
    single-tile fetch tests it)."""
    xmin = C.tile_x(F.col("min_lon"), zoom)
    xmax = C.tile_x(F.col("max_lon"), zoom)
    ymin = C.tile_y(F.col("max_lat"), zoom)  # y grows DOWN (screen space)
    ymax = C.tile_y(F.col("min_lat"), zoom)
    return xmin, xmax, ymin, ymax, (xmax - xmin + 1) * (ymax - ymin + 1)


def _bbox_tile_fanout(
    df: DataFrame,
    zoom: int,
    cap: int,
    oversize: str,
    payload_cols: list[str],
    what: str,
    tile: int | None,
) -> tuple[DataFrame, DataFrame | None]:
    """(feature -> covered tiles) fan-out shared by the linestring and
    polygon MVT paths: bbox columns -> tile index ranges
    (``_bbox_tile_range``) -> sequence+explode -> [keep only ``tile``] ->
    ``_rank_cap``. The tile filter has to sit here: Catalyst cannot push
    a filter through the render's FlatMapGroupsInPandas. Returns the
    ranked (tile_id, fid, payload..., rn, n_total) frame and, for
    oversize='skip', the lazy 1-row ``n_oversize`` count for
    _attach_oversize (None for 'raise', where a nonzero count raised)."""
    if oversize not in ("raise", "skip"):
        raise ValueError(f"oversize must be 'raise' or 'skip', got {oversize!r}")
    sized = df.select(
        F.col("id").alias("fid"),
        *payload_cols,
        *(
            c.alias(name)
            for name, c in zip(
                ("xmin", "xmax", "ymin", "ymax", "n_tiles"), _bbox_tile_range(zoom)
            )
        ),
    )
    oversized = sized.filter(F.col("n_tiles") > MAX_COVER)
    over_cnt = None
    if oversize == "raise":
        # eager: fail-fast BEFORE the fan-out job is the documented
        # semantics of 'raise'
        n_over = oversized.count()
        if n_over:
            raise ValueError(
                f"{n_over} {what} cover > {MAX_COVER} tiles at z{zoom} "
                "(lower zoom, or pass oversize='skip')"
            )
    else:
        # 'skip': no plan-build-time Spark job — the count is attached
        # lazily as a scalar subquery (_attach_oversize)
        over_cnt = oversized.agg(F.count("*").alias("n_oversize"))
    fanned = (
        sized.filter(F.col("n_tiles") <= MAX_COVER)
        .withColumn("tx", F.explode(F.sequence("xmin", "xmax")))
        .withColumn("ty", F.explode(F.sequence("ymin", "ymax")))
        .select(
            C.tile_id(F.col("tx"), F.col("ty"), zoom).alias("tile_id"),
            "fid",
            *payload_cols,
        )
    )
    if tile is not None:
        fanned = fanned.where(F.col("tile_id") == F.lit(tile))
    return _rank_cap(fanned, cap), over_cnt


def _attach_oversize(out: DataFrame, over_cnt: DataFrame | None) -> DataFrame:
    """Add ``n_oversize`` (features dropped as oversize) to every tile row:
    0 for 'raise', which already verified the count eagerly; for 'skip'
    the count is a scalar subquery evaluated in the SAME action as the
    tile render, and column pruning drops it (no job at all) when the
    caller selects only ``mvt``, as the /tiles route does."""
    n_over = F.lit(0).cast("long") if over_cnt is None else over_cnt.scalar()
    return out.select(
        "tile_id", "zoom", "tx", "ty", "n_features", "n_total",
        n_over.alias("n_oversize"), "mvt",
    )


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
