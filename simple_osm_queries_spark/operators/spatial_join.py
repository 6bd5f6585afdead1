"""Spatial joins: bbox join and point-in-polygon (north rule).

These extend the reference's bbox machinery (/root/reference/src/query/
location.go:42-47 has only point-in-bbox and bound-intersects) to true
spatial JOIN operators between a big point table and a small geometry
side. Every join here is prefilter -> refine:

* prefilter: cut the point rows before any O(vertices) work.
  ``bbox_join`` and ``point_in_polygon_join`` broadcast the box / polygon
  table and join on the inclusive bbox predicate (functions/geometry.py).
  The two literal-catalog joins take a driver-side [(qid, ring)] list:
  ``point_in_polygon_literal_join`` filters on the catalog's union bbox,
  ``point_in_polygon_h3_join`` semi-joins each point's H3 cell against the
  distinct union of the entries' polyfill covers (broadcast).
* refine: the even-odd ray cast, in three forms, each chosen by something
  the code can see:
  - ``point_in_polygon_col``: the ring is a DataFrame column
    (``point_in_polygon_join``, ``zonal_stats``). Array/lambda form; the
    DuckDB gate twin mirrors it.
  - ``point_in_polygon_literal``: a small literal catalog (at most
    ``_UNROLL_MAX_ENTRIES`` entries and ``_UNROLL_MAX_VERTICES`` vertices
    in all), unrolled to scalar CASE arithmetic under whole-stage codegen
    (measured ~1.4 s per polygon on 20M rows, 32 cores).
  - ``point_in_polygon_mask_np``: a larger literal catalog, one
    Arrow-batched numpy UDF per 64 entries returning a hit bitmask (~3.2 s
    for 8 32-gons). The unrolled composite would exceed the 64KB codegen
    method limit and fall back to interpreted eval (~12 s).
  Both literal-catalog joins share ``_literal_refine``, the one place the
  strategy is chosen.
"""

from __future__ import annotations

import functools
import math
import operator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from simple_osm_queries_spark.functions import cells as C
from simple_osm_queries_spark.functions import geometry as G
from simple_osm_queries_spark.functions import h3_encode as E
from simple_osm_queries_spark.operators.knn import (
    CoverBudgetExceeded,
    banded_lon_offsets,
    h3_max_circumradius_deg,
    h3_min_inradius_deg,
)

# A literal catalog is unrolled iff it is this small: the r6 literal-join
# split (<= 2 polygons) plus the r4 codegen-size guard (one generated method
# over 64KB silently falls back to interpreted eval, PLANS.md §6).
_UNROLL_MAX_ENTRIES = 2
_UNROLL_MAX_VERTICES = 160
# polygons per mask word: bit j of an int64 word
_MASK_BITS = 64


def bbox_join(points: DataFrame, boxes: DataFrame) -> DataFrame:
    """Inner-join points (lon, lat) to every query bbox containing them
    (inclusive bounds).

    ``boxes`` must carry (qid, min_lon, min_lat, max_lon, max_lat); it is
    broadcast — a theta join on range predicates would otherwise be a
    cartesian shuffle.
    """
    cond = G.point_in_bbox(
        points["lon"], points["lat"],
        boxes["min_lon"], boxes["min_lat"], boxes["max_lon"], boxes["max_lat"],
    )
    return points.join(F.broadcast(boxes), cond, "inner")


def _ring_edges(ring: Column) -> Column:
    """array<struct<a,b>> of consecutive ring edges (wrapping last->first)."""
    n = F.size(ring)
    rotated = F.concat(F.slice(ring, 2, n - 1), F.slice(ring, 1, 1))
    return F.zip_with(ring, rotated, lambda a, b: F.struct(a.alias("a"), b.alias("b")))


def point_in_polygon_col(lon: Column, lat: Column, ring: Column) -> Column:
    """Ray-casting point-in-polygon as a pure column expression.

    ``ring`` is array<struct<lon:double,lat:double>> (closed or open — a
    duplicate closing vertex contributes a degenerate edge that never
    crosses). Standard even-odd rule: count edges whose (a.lat > y) !=
    (b.lat > y) and whose ray intersection lies right of x.
    """
    edges = _ring_edges(ring)

    def crosses(e: Column) -> Column:
        ay, by = e["a"]["lat"], e["b"]["lat"]
        ax, bx = e["a"]["lon"], e["b"]["lon"]
        straddles = (ay > lat) != (by > lat)
        x_at_y = (bx - ax) * (lat - ay) / (by - ay) + ax
        return straddles & (lon < x_at_y)

    return F.size(F.filter(edges, crosses)) % 2 == 1


def point_in_polygon_literal(
    lon: Column, lat: Column, ring: list[tuple[float, float]]
) -> Column:
    """Ray casting against a DRIVER-SIDE literal ring, expanded to scalar
    per-edge CASE arithmetic.

    Prefer this over :func:`point_in_polygon_col` whenever the polygon is
    known at plan time: the array/lambda form allocates per-row edge
    structs (higher-order functions are interpreted, and the garbage they
    generate makes GC the bottleneck — measured >3x total CPU on 20M rows);
    this form is pure whole-stage-codegen scalar math with zero allocation.
    """
    crossings = None
    n = len(ring)
    for i in range(n):
        ax, ay = ring[i]
        bx, by = ring[(i + 1) % n]
        if ay == by:
            continue  # horizontal edge never crosses the horizontal ray
        straddles = (F.lit(ay) > lat) != (F.lit(by) > lat)
        x_at_y = F.lit((bx - ax)) * (lat - F.lit(ay)) / F.lit(by - ay) + F.lit(ax)
        term = F.when(straddles & (lon < x_at_y), F.lit(1)).otherwise(F.lit(0))
        crossings = term if crossings is None else crossings + term
    if crossings is None:
        return F.lit(False)
    return crossings % 2 == 1


def _ring_bbox(ring: list[tuple[float, float]]) -> tuple[float, float, float, float]:
    """(min_lon, min_lat, max_lon, max_lat) of a literal vertex list."""
    return (
        min(p[0] for p in ring),
        min(p[1] for p in ring),
        max(p[0] for p in ring),
        max(p[1] for p in ring),
    )


def point_in_polygon_mask_np(
    lon: Column, lat: Column, polygons: list[tuple[int, list[tuple[float, float]]]]
) -> Column:
    """Bitmask of catalog polygons containing the point: ONE Arrow-batched
    numpy UDF for up to 64 polygons (bit j set <=> inside polygons[j]).

    Per Arrow batch it masks each polygon's bbox, then ray-casts the
    candidates against all edges at once; per-row Python never runs."""
    if len(polygons) > _MASK_BITS:
        raise ValueError(f"one mask word holds at most {_MASK_BITS} polygons, got {len(polygons)}")
    rings = [np.asarray(r, dtype=np.float64) for _, r in polygons]
    boxes = [_ring_bbox(r) for _, r in polygons]

    @F.pandas_udf(T.LongType())
    def _mask(lo: pd.Series, la: pd.Series) -> pd.Series:
        x = lo.to_numpy()
        y = la.to_numpy()
        mask = np.zeros(len(x), dtype=np.int64)
        for j, r in enumerate(rings):
            cand = G.point_in_bbox(x, y, *boxes[j])
            if not cand.any():
                continue
            cx = x[cand][:, None]
            cy = y[cand][:, None]
            ax, ay = r[:, 0], r[:, 1]
            bx, by = np.roll(ax, -1), np.roll(ay, -1)
            straddle = (ay[None, :] > cy) != (by[None, :] > cy)
            with np.errstate(divide="ignore", invalid="ignore"):
                xs = (bx - ax)[None, :] * (cy - ay[None, :]) / (by - ay)[None, :] + ax[None, :]
            inside = ((straddle & (cx < xs)).sum(axis=1) % 2).astype(bool)
            mask[cand] |= inside.astype(np.int64) << j
        return pd.Series(mask)

    # asNondeterministic (guide §4.4): callers filter on the mask column,
    # and Catalyst otherwise pushes that filter BELOW the projection and
    # duplicates the UDF — the captured r6 plan showed two ArrowEvalPython
    # nodes, i.e. every row paid the ray cast twice. Marking it
    # non-deterministic pins one evaluation; the value is deterministic in
    # fact, so results are unchanged.
    return _mask.asNondeterministic()(lon, lat)


def _literal_refine(
    points: DataFrame, polygons: list[tuple[int, list[tuple[float, float]]]]
) -> DataFrame:
    """points + qid: one row per (point, catalog entry containing it).

    Unrolled codegen ray casts for a small catalog, else the numpy bitmask:
    one int64 word per 64 entries, all words in one projection, decoded by
    (word, bit). A catalog of <= 64 entries has the single ``__pipmask``."""
    x, y = points["lon"], points["lat"]
    if (
        len(polygons) <= _UNROLL_MAX_ENTRIES
        and sum(len(r) for _, r in polygons) <= _UNROLL_MAX_VERTICES
    ):
        hits = [
            F.when(
                G.point_in_bbox(x, y, *_ring_bbox(ring))
                & point_in_polygon_literal(x, y, ring),
                F.lit(qid),
            )
            for qid, ring in polygons
        ]
        return points.withColumn("qid", F.explode(F.array_compact(F.array(*hits))))

    words = {
        "__pipmask" + (str(w) if w else ""): point_in_polygon_mask_np(
            x, y, polygons[w * _MASK_BITS:(w + 1) * _MASK_BITS]
        )
        for w in range(math.ceil(len(polygons) / _MASK_BITS))
    }
    names = list(words)
    qid_of_bit = F.array_compact(
        F.array(
            *[
                F.when(
                    F.shiftright(F.col(names[j // _MASK_BITS]), j % _MASK_BITS)
                    .bitwiseAND(F.lit(1)) == 1,
                    F.lit(qid),
                )
                for j, (qid, _) in enumerate(polygons)
            ]
        )
    )
    return (
        points.withColumns(words)
        .filter(functools.reduce(operator.or_, [F.col(n) != 0 for n in names]))
        .withColumn("qid", F.explode(qid_of_bit))
        .drop(*names)
    )


def point_in_polygon_literal_join(
    points: DataFrame, polygons: list[tuple[int, list[tuple[float, float]]]]
) -> DataFrame:
    """Join points (lon, lat) against a literal polygon catalog in ONE scan.

    Matches come out as (point columns..., qid) rows. One pass over the data
    regardless of catalog size — a per-polygon union would re-scan the table
    |catalog| times (measured 16 polygons = 16x the I/O). Prefilter: the
    catalog's union bbox, a codegen range filter, so rows that can match no
    entry never reach the refine (nor, on the numpy path, the Arrow
    boundary). Refine: ``_literal_refine``."""
    assert polygons, "empty polygon list"
    union = _ring_bbox([p for _, ring in polygons for p in ring])
    points = points.filter(G.point_in_bbox(points["lon"], points["lat"], *union))
    return _literal_refine(points, polygons)


def polygon_bounds(ring: Column) -> tuple[Column, Column, Column, Column]:
    lons = F.transform(ring, lambda p: p["lon"])
    lats = F.transform(ring, lambda p: p["lat"])
    return F.array_min(lons), F.array_min(lats), F.array_max(lons), F.array_max(lats)


def point_in_polygon_join(points: DataFrame, polygons: DataFrame) -> DataFrame:
    """Inner-join points (lon, lat) to the polygons containing them.

    ``polygons``: (qid, ring: array<struct<lon,lat>>). The polygon side is
    broadcast with precomputed bounds; the bbox prefilter prunes candidates
    before the O(vertices) exact test — the cell-prefilter + refine shape
    the north rule asks for.
    """
    mnx, mny, mxx, mxy = polygon_bounds(F.col("ring"))
    polys = polygons.withColumns(
        {"__mnx": mnx, "__mny": mny, "__mxx": mxx, "__mxy": mxy}
    )
    cond = G.point_in_bbox(
        points["lon"], points["lat"], polys["__mnx"], polys["__mny"], polys["__mxx"], polys["__mxy"]
    ) & point_in_polygon_col(points["lon"], points["lat"], polys["ring"])
    return points.join(F.broadcast(polys), cond, "inner").drop("__mnx", "__mny", "__mxx", "__mxy")


def zonal_stats(points: DataFrame, polygons: DataFrame, values: dict | None = None) -> DataFrame:
    """Per-polygon (qid, ring) aggregates over the points each polygon
    contains — the
    vector zonal-statistics primitive (raster engines' zonal stats, GIS
    `ST_Contains` + GROUP BY). Output: one row per polygon that contains
    >= 1 point, with ``n`` (point count) plus any caller aggregate from
    ``values`` ({output_name: aggregate Column over the point columns},
    e.g. {"mean_height": F.avg("height")}).

    Plan shape: the broadcast bbox-prefilter PIP join of
    :func:`point_in_polygon_join` followed by ONE hash aggregate on the
    polygon id — map-side partial combine, a single exchange carrying one
    row per (partition, polygon). Zones with zero points emit no row
    (a left join from ``polygons`` restores them if needed).
    """
    joined = point_in_polygon_join(points, polygons)
    aggs = [F.count("*").alias("n")]
    for name, col in (values or {}).items():
        aggs.append(col.alias(name))
    return joined.groupBy("qid").agg(*aggs)


# ---------------------------------------------------------------------------
# H3 polyfill + cell-prefiltered point-in-polygon (north rule verbatim:
# "ray-casting point-in-polygon after a broadcast cell-prefilter join")
# ---------------------------------------------------------------------------


def h3_polyfill(ring: list[tuple[float, float]], res: int = 8):
    """Superset cover of a polygon with H3 cells at ``res`` (uint64 array).

    Guarantee (the prefilter property): every cell containing ANY point of
    the polygon is in the cover. Proof shape mirrors knn's disc cover: a
    cell intersecting the polygon has its center within one circumradius of
    the polygon, so its inradius disk lies inside the polygon's bbox padded
    by circumradius + inradius; a sample grid with spacing <=
    inradius/sqrt(2) hits every such disk, and encoding all samples (one
    vectorized call) therefore yields every such cell. Extra cells near the
    boundary are harmless — the exact ray-cast refine drops their points.
    """
    lons = [p[0] for p in ring]
    lats = [p[1] for p in ring]
    pad = h3_max_circumradius_deg(res) + h3_min_inradius_deg(res)
    step = h3_min_inradius_deg(res) / math.sqrt(2.0) * 0.99
    lat0, lat1 = min(lats) - pad, max(lats) + pad
    gy = np.arange(lat0, lat1 + step, step)
    # Per-latitude-ROW lon sampling — the shared r4 fix for the r3 bug
    # (ADVICE r3 #1: one worst-case cos for the whole grid under-sampled
    # every row nearer the equator; a 0-85N ring silently dropped 75% of
    # its cells). See knn.banded_lon_offsets for the band-cos construction;
    # the ring's own lon span is the latitude-independent base extent, the
    # pad is the arc extent scaled per row.
    try:
        row, lon_off = banded_lon_offsets(
            gy, pad, step,
            base_half_deg=(max(lons) - min(lons)) / 2.0,
            max_samples=4_000_000,
        )
    except CoverBudgetExceeded as e:
        raise ValueError(
            f"polyfill at res {res} needs {e.total} samples; use a "
            "coarser resolution for polygons this large"
        ) from None
    mid = (min(lons) + max(lons)) / 2.0
    sample_lon = mid + lon_off
    sample_lat = np.clip(gy[row], -89.9, 89.9)
    cells = E.lnglat_to_cell(sample_lon, sample_lat, res)
    return np.unique(cells)


def point_in_polygon_h3_join(
    points: DataFrame,
    polygons: list[tuple[int, list[tuple[float, float]]]],
    res: int = 8,
    cell_col: str | None = None,
) -> DataFrame:
    """Point-in-polygon with an H3 cell prefilter. Every entry polyfills to
    a superset cover of real H3 cells (driver-side, vectorized); a broadcast
    left-semi join keeps the points whose res-``res`` cell is in the
    distinct union of all covers, so each point passes once however many
    covers hold its cell (entries may share a qid: multi-ring regions).
    ``_literal_refine`` then tags every containing entry — the same rows as
    ``point_in_polygon_literal_join``.

    ``cell_col`` names a precomputed res-``res`` H3 column (the cells-CLI
    layout's ``h3``) to skip the per-call re-encode. That layout is
    partitioned on the coarser ``h3_part`` column, which this join does not
    key, so the semi join prunes rows, not partition directories."""
    assert polygons, "empty polygon list"
    cover = np.unique(np.concatenate([h3_polyfill(ring, res) for _, ring in polygons]))
    cells = points.sparkSession.createDataFrame(
        pd.DataFrame({"__cell": cover.view("int64")}), "__cell long"
    )
    keyed = points.withColumn(
        "__cell",
        F.col(cell_col) if cell_col is not None
        else C.cell_h3(F.col("lon"), F.col("lat"), res),
    )
    cand = keyed.join(F.broadcast(cells), "__cell", "left_semi").drop("__cell")
    return _literal_refine(cand, polygons)
