"""Distance-buffer spatial semi-join — `this.buffer(5m).<type>{...}` — and
the proximity pipeline it shares with `nearest_way.py` and DBSCAN.

The reference DOCUMENTS this operator as a future feature and never
implemented it (/root/reference/README.md:154-181: "find all benches that
have any highway-way within a 5m radius"). We implement it as a first-class
distributed operator; semantics:

    EXISTS inner feature f of <type>, satisfying the inner filter, with
    geometric distance(outer, f) <= D meters.

Distance model: local equirectangular meters —
    dx = dlon * 111320 * cos(lat_point),  dy = dlat * 111320
(exact enough at buffer scales of meters-to-kilometers; swap in haversine
for global-scale buffers). Point-to-way distance is the minimum over the
way's stored segments (point-to-segment projection), matching how the
reference stores way geometry as node polylines.

One pipeline — cover with grid cells, equi-join on the cell, refine
exactly (the Spark analogue of the reference routing ways into every cell
they touch, grid_writer.go:90-252) — with each step written once:

* `_point_pairs` — point<->point: the outer point explodes the fixed-grid
  cells of its own D-padded box, the inner point keys to its cell; equi-
  join, `point_dist2_m` refine. Directed (a, b) pairs; `node_node` and
  `clustering.eps_neighbor_pairs` are thin wrappers.
* `_point_way_candidates` — point<->way candidates by way-side size:
  broadcast the bbox-only way side under a D-expanded bbox predicate
  (small), or key points to their cell against the D-padded way cover
  (`_bbox_cells_col(..., pad_m=D)`, big). Rows carry (nid, lon, lat, wid),
  so no refine ever joins the point side back; the ways' segment rows
  come back with them, broadcast when the way side is small.
* `_point_way_refine` — candidates join the way's segment ROWS
  (`way_segments`) and `pt_seg_projection_m` runs as scalar codegen;
  shared by `within_buffer_node_way` and `nearest_way_join`.
* `_way_way_refine` — candidate (id, iid) pairs join both sides' segment
  rows under `seg_pair_d2_m_scalar` (0 on crossings).

No broadcast nested loop on a bucketed path at any size.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from simple_osm_queries_spark.functions import cells as C
from simple_osm_queries_spark.functions import geometry as G

M_PER_DEG = 111320.0

# |latitude| the fixed lon grids are sized for: a D-wide cell at 70 deg is
# wider than D at every lower latitude. The point-pair cover pads by each
# point's own latitude, so only cell sizes (never correctness) depend on it
GRID_REF_LAT = 70.0

# 'auto' strategy: inner sides with at most this many rows broadcast; tests
# patch it to force the bucketed path
BROADCAST_THRESHOLD = 100_000

DEFAULT_BUCKET_DEG = 0.01  # ~1.1 km: bounds per-way cell fan-out for
# typical way extents; tune cell_deg to the data's P90 bbox size at scale


def _meters_k(lat: Column) -> tuple[Column, Column]:
    """(meters per deg lon at lat, meters per deg lat)."""
    return F.lit(M_PER_DEG) * F.cos(F.radians(lat)), F.lit(M_PER_DEG)


def point_dist2_m(lon_a: Column, lat_a: Column, lon_b: Column, lat_b: Column) -> Column:
    kx, ky = _meters_k(lat_a)
    dx = (lon_a - lon_b) * kx
    dy = (lat_a - lat_b) * ky
    return dx * dx + dy * dy


# --- point <-> point ------------------------------------------------------

# relative pad margin: rounding in cos/division cannot drop a pair at
# exactly distance D
_PAD_MARGIN = 1e-9


def _point_pairs(outer: DataFrame, inner: DataFrame, dist_m: float) -> DataFrame:
    """Directed pairs (a, b), a != b, with point_dist2_m(a -> b) <= dist_m²
    (metric scaled at the OUTER point's latitude).

    Grid: D-sized cells at GRID_REF_LAT, floored at 1e-5 deg (~1 m) so
    cell indices stay inside int range for microscopic D. The outer point
    covers the cells of its own box lon +- D/(M cos lat), lat +- D/M —
    exact at every latitude, and at most 3x3 cells at |lat| <=
    GRID_REF_LAT. The lon pad caps at 360 deg: the metric does not wrap
    longitude, so near a pole every longitude can be within D, and the
    cover of such a point grows to 720 deg / cell width. Two
    explode(sequence) generators build the cover (no per-row lambda)."""
    s_lat = max(dist_m / M_PER_DEG, 1e-5)
    s_lon = max(dist_m / (M_PER_DEG * math.cos(math.radians(GRID_REF_LAT))), 1e-5)
    pad = float(dist_m) * (1.0 + _PAD_MARGIN)
    pad_lon = F.least(
        F.lit(pad) / (F.lit(M_PER_DEG) * F.cos(F.radians(F.col("alat")))), F.lit(360.0)
    )
    pad_lat = F.lit(pad / M_PER_DEG)
    xs = F.sequence(
        C.cell_x(F.col("alon") - pad_lon, s_lon), C.cell_x(F.col("alon") + pad_lon, s_lon)
    )
    ys = F.sequence(
        C.cell_y(F.col("alat") - pad_lat, s_lat), C.cell_y(F.col("alat") + pad_lat, s_lat)
    )
    left = (
        outer.select(
            F.col("id").alias("a"), F.col("lon").alias("alon"), F.col("lat").alias("alat")
        )
        .select("a", "alon", "alat", F.explode(xs).alias("cx"))
        .select("a", "alon", "alat", "cx", F.explode(ys).alias("cy"))
        .select("a", "alon", "alat", C.pack_cell(F.col("cx"), F.col("cy")).alias("cell"))
    )
    right = inner.select(
        F.col("id").alias("b"),
        F.col("lon").alias("blon"),
        F.col("lat").alias("blat"),
        C.pack_cell(C.cell_x(F.col("lon"), s_lon), C.cell_y(F.col("lat"), s_lat)).alias("cell"),
    )
    d2 = point_dist2_m(F.col("alon"), F.col("alat"), F.col("blon"), F.col("blat"))
    return (
        left.join(right, "cell")
        .filter((F.col("a") != F.col("b")) & (d2 <= F.lit(float(dist_m) ** 2)))
        .select("a", "b")
    )


def within_buffer_node_node(
    outer_nodes: DataFrame, inner_nodes: DataFrame, buffer_m: float
) -> DataFrame:
    """Outer node ids having >=1 inner node within buffer_m meters."""
    return (
        _point_pairs(outer_nodes, inner_nodes, buffer_m)
        .select(F.col("a").alias("id"))
        .distinct()
    )


# --- point <-> way --------------------------------------------------------


def _grid_sizes(buffer_m: float, ref_lat: float, cell_deg: float | None) -> tuple[float, float]:
    """(s_lon, s_lat) bucket sizes in degrees. The cell must be at least the
    buffer at every data latitude (so a D-pad covers the whole disk) and at
    least ``cell_deg`` (so a tiny buffer does not shatter way bboxes into
    millions of cells — fan-out per way is (extent/cell + 2)^2)."""
    floor = DEFAULT_BUCKET_DEG if cell_deg is None else cell_deg
    s_lat = max(buffer_m / M_PER_DEG, floor)
    s_lon = max(buffer_m / (M_PER_DEG * math.cos(math.radians(ref_lat))), floor)
    return s_lon, s_lat


def _bbox_cells_col(
    min_lon: Column,
    min_lat: Column,
    max_lon: Column,
    max_lat: Column,
    s_lon: float,
    s_lat: float,
    pad_m: float | None = None,
) -> Column:
    """array<long> of packed grid cells covering a bbox, padded by
    ``pad_m`` meters when given: D/M in lat, D/(M cos(max(|min_lat|,
    |max_lat|))) in lon — the widest lon extent of D anywhere in the bbox,
    so the cover holds every point within D of the way. cell_x/y truncate
    toward zero but stay monotone, so the [cell(min), cell(max)] sequence
    is a correct cover."""
    if pad_m is None:
        plon = plat = F.lit(0.0)
    else:
        plon = F.lit(pad_m) / (
            F.lit(M_PER_DEG) * F.cos(F.radians(F.greatest(F.abs(min_lat), F.abs(max_lat))))
        )
        plat = F.lit(pad_m / M_PER_DEG)
    xs = F.sequence(C.cell_x(min_lon - plon, s_lon), C.cell_x(max_lon + plon, s_lon))
    ys = F.sequence(C.cell_y(min_lat - plat, s_lat), C.cell_y(max_lat + plat, s_lat))
    return F.flatten(
        F.transform(xs, lambda x: F.transform(ys, lambda y: C.pack_cell(x, y)))
    )


def _resolve_strategy(inner: DataFrame, strategy: str) -> str:
    """'auto' counts the (filtered) inner side up to BROADCAST_THRESHOLD:
    small dims broadcast (one pass, no shuffle), big ones take the bucketed
    equi-join (the 100x-scale plan — a BNLJ over a fat inner side is the one
    plan we refuse to ship)."""
    if strategy != "auto":
        return strategy
    n = inner.limit(BROADCAST_THRESHOLD + 1).count()
    return "broadcast" if n <= BROADCAST_THRESHOLD else "bucketed"


def _point_way_candidates(
    points: DataFrame,
    ways: DataFrame,
    dist_m: float,
    strategy: str,
    ref_lat: float,
    cell_deg: float | None,
) -> tuple[DataFrame, DataFrame]:
    """(candidate rows (nid, lon, lat, wid) — a superset of the (point,
    way) pairs within dist_m —, the ways' segment rows for the refine).
    ``points``: (id, lon, lat); ``ways``: (id, nodes, min_lon, min_lat,
    max_lon, max_lat).

    Small way side: D-expanded bbox predicate against the broadcast
    bbox-only ways, and the segment rows broadcast too. Big: ways explode
    to their D-padded cell cover, points to their own cell, equi-join on
    the cell. A way emits each cover cell once and a point lives in one
    cell, so bucketed pairs are unique; the candidate rows carry lon/lat —
    two extra doubles beat a join-back shuffle of the (big) point side."""
    w = ways.select(
        F.col("id").alias("wid"),
        F.col("nodes").alias("wnodes"),
        "min_lon",
        "min_lat",
        "max_lon",
        "max_lat",
    )
    pt = points.select(F.col("id").alias("nid"), "lon", "lat")
    small_ways = _resolve_strategy(w, strategy) == "broadcast"
    if small_ways:
        d_lat = dist_m / M_PER_DEG
        d_lon = F.lit(dist_m) / (F.lit(M_PER_DEG) * F.cos(F.radians(F.col("lat"))))
        cand_pred = G.point_in_bbox(
            F.col("lon"), F.col("lat"),
            F.col("min_lon") - d_lon, F.col("min_lat") - F.lit(d_lat),
            F.col("max_lon") + d_lon, F.col("max_lat") + F.lit(d_lat),
        )
        cand = pt.join(
            F.broadcast(w.select("wid", "min_lon", "min_lat", "max_lon", "max_lat")),
            cand_pred,
            "inner",
        )
    else:
        s_lon, s_lat = _grid_sizes(dist_m, ref_lat, cell_deg)
        w_cells = w.select(
            "wid",
            F.explode(
                _bbox_cells_col(
                    F.col("min_lon"), F.col("min_lat"),
                    F.col("max_lon"), F.col("max_lat"),
                    s_lon, s_lat, pad_m=dist_m,
                )
            ).alias("cell"),
        )
        n_cells = pt.select(
            "nid", "lon", "lat",
            C.pack_cell(C.cell_x(F.col("lon"), s_lon), C.cell_y(F.col("lat"), s_lat)).alias("cell"),
        )
        cand = n_cells.join(w_cells, "cell")
    segs = way_segments(w, "wid", "wnodes")
    return cand.select("nid", "lon", "lat", "wid"), F.broadcast(segs) if small_ways else segs


def _point_way_refine(cand: DataFrame, segs: DataFrame, dist_m: float) -> DataFrame:
    """Candidate rows joined to their way's segment ROWS, kept where the
    segment lies within dist_m; adds the projection parameter ``t`` and
    squared meters ``d2`` per (pair, segment) row. Scalar codegen — never
    the array lambda per pair (interpreted; see `way_segments`)."""
    t, d2 = pt_seg_projection_m(
        F.col("lon"), F.col("lat"),
        F.col("alon"), F.col("alat"), F.col("blon"), F.col("blat"),
    )
    return (
        cand.join(segs, "wid")
        .withColumns({"t": t, "d2": d2})
        .filter(F.col("d2") <= F.lit(float(dist_m) ** 2))
    )


def within_buffer_node_way(
    nodes: DataFrame,
    ways: DataFrame,
    buffer_m: float,
    output: str = "node",
) -> DataFrame:
    """Ids of nodes with a way within buffer_m (output='node'), or ids of
    ways with a node within buffer_m (output='way').

    ``ways`` must carry (id, nodes, min_lon, min_lat, max_lon, max_lat).
    The way side is counted against BROADCAST_THRESHOLD: broadcast at or
    below it, bucketed above (see `_point_way_candidates`). EXISTS
    semantics = any segment row within D; the output distinct absorbs
    candidate and segment multiplicity.
    """
    cand, segs = _point_way_candidates(nodes, ways, buffer_m, "auto", GRID_REF_LAT, None)
    out_col = "nid" if output == "node" else "wid"
    return (
        _point_way_refine(cand, segs, buffer_m)
        .select(F.col(out_col).alias("id"))
        .distinct()
    )


# --- segments ---------------------------------------------------------------


def segments_col(nodes: Column) -> Column:
    """array<struct<a,b>> of consecutive-node segments; a single-node way
    becomes one degenerate (a == b) segment so the distance math still holds."""
    n = F.size(nodes)
    segs = F.zip_with(
        F.slice(nodes, 1, n - 1),
        F.slice(nodes, 2, n - 1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    single = F.array(F.struct(nodes[0].alias("a"), nodes[0].alias("b")))
    return F.when(n >= 2, segs).otherwise(single)


def way_segments(
    ways: DataFrame, id_col: str, nodes_col: str, prefix: str = ""
) -> DataFrame:
    """(id, {p}alon, {p}alat, {p}blon, {p}blat) — one row per consecutive-
    node segment. The interpreted `segments_col` lambda runs once per WAY;
    everything downstream of the explode is scalar codegen. This is the
    refine-side representation for all buffer/nearest joins: evaluating an
    array-lambda distance over the node arrays once per candidate PAIR
    runs interpreted at ~10 µs/pair — measured 5-20x the rest of the join
    (BENCH.md r5e)."""
    s = ways.select(id_col, F.explode(segments_col(F.col(nodes_col))).alias("_s"))
    return s.select(
        id_col,
        F.col("_s.a.lon").alias(prefix + "alon"),
        F.col("_s.a.lat").alias(prefix + "alat"),
        F.col("_s.b.lon").alias(prefix + "blon"),
        F.col("_s.b.lat").alias(prefix + "blat"),
    )


def pt_seg_projection_m(
    lon: Column, lat: Column, alon: Column, alat: Column, blon: Column, blat: Column
) -> tuple[Column, Column]:
    """(t, d2): the clamped projection parameter of the point onto segment
    a-b and the squared meter distance to the projected point. Meters are
    scaled at the point's latitude, with the point translated to the
    origin. Meter space is a per-axis affine image of degree space, so t
    along the meter segment IS t along the degree segment (the snap point
    is a + t (b - a) in degrees). The DuckDB twins mirror this exact tree
    (IEEE-identical values)."""
    kx, ky = _meters_k(lat)
    ax = (alon - lon) * kx
    ay = (alat - lat) * ky
    bx = (blon - lon) * kx
    by = (blat - lat) * ky
    dx = bx - ax
    dy = by - ay
    len2 = dx * dx + dy * dy
    t_raw = F.when(len2 > 0, -(ax * dx + ay * dy) / len2).otherwise(F.lit(0.0))
    t = F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))
    cx = ax + t * dx
    cy = ay + t * dy
    return t, cx * cx + cy * cy


# --- way <-> way (segment-pair distance) -----------------------------------


def _pt_seg_d2(px: Column, py: Column, ax: Column, ay: Column, bx: Column, by: Column) -> Column:
    dx = bx - ax
    dy = by - ay
    len2 = dx * dx + dy * dy
    t_raw = F.when(len2 > 0, ((px - ax) * dx + (py - ay) * dy) / len2).otherwise(F.lit(0.0))
    t = F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))
    cx = ax + t * dx - px
    cy = ay + t * dy - py
    return cx * cx + cy * cy


def _ccw(ax: Column, ay: Column, bx: Column, by: Column, cx: Column, cy: Column) -> Column:
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def seg_pair_d2_m_scalar(
    oalon: Column, oalat: Column, oblon: Column, oblat: Column,
    ialon: Column, ialat: Column, iblon: Column, iblat: Column,
) -> Column:
    """Min squared meter-distance between the outer segment
    a=(oalon,oalat) b=(oblon,oblat) and the inner one likewise.

    Decomposition: 0 if the segments properly cross, else the min of the 4
    endpoint-to-other-segment distances — exact for every configuration
    (touching / collinear cases are covered by an endpoint distance of 0,
    so only the strict proper-crossing test is needed). The meter scaling
    uses cos(lat) of the outer segment's first endpoint; the crossing test
    runs in degree space (axis scaling preserves orientation signs). The
    `osm_buffer_way_way` DuckDB twin mirrors this exact tree."""
    kx = F.lit(M_PER_DEG) * F.cos(F.radians(oalat))
    ky = F.lit(M_PER_DEG)
    a1x, a1y = oalon * kx, oalat * ky
    a2x, a2y = oblon * kx, oblat * ky
    b1x, b1y = ialon * kx, ialat * ky
    b2x, b2y = iblon * kx, iblat * ky
    d = F.least(
        _pt_seg_d2(a1x, a1y, b1x, b1y, b2x, b2y),
        _pt_seg_d2(a2x, a2y, b1x, b1y, b2x, b2y),
        _pt_seg_d2(b1x, b1y, a1x, a1y, a2x, a2y),
        _pt_seg_d2(b2x, b2y, a1x, a1y, a2x, a2y),
    )
    o1 = _ccw(oalon, oalat, oblon, oblat, ialon, ialat)
    o2 = _ccw(oalon, oalat, oblon, oblat, iblon, iblat)
    o3 = _ccw(ialon, ialat, iblon, iblat, oalon, oalat)
    o4 = _ccw(ialon, ialat, iblon, iblat, oblon, oblat)
    crossing = (o1 * o2 < 0) & (o3 * o4 < 0)
    return F.when(crossing, F.lit(0.0)).otherwise(d)


def _way_way_refine(
    pairs: DataFrame, o: DataFrame, i: DataFrame, dist_m: float, small_inner: bool
) -> DataFrame:
    """Outer ids of candidate (id, iid) pairs with some segment pair within
    dist_m: both sides' segment ROWS join onto the pairs (the inner ones
    broadcast when the inner side is small), scalar-codegen refine."""
    osegs = way_segments(o, "id", "onodes", prefix="o")
    isegs = way_segments(i, "iid", "inodes", prefix="i")
    seg_hit = (
        seg_pair_d2_m_scalar(
            F.col("oalon"), F.col("oalat"), F.col("oblon"), F.col("oblat"),
            F.col("ialon"), F.col("ialat"), F.col("iblon"), F.col("iblat"),
        )
        <= F.lit(float(dist_m) ** 2)
    )
    return (
        pairs.join(osegs, "id")
        .join(F.broadcast(isegs) if small_inner else isegs, "iid")
        .filter(seg_hit)
        .select("id")
        .distinct()
    )


def within_buffer_way_way(
    outer_ways: DataFrame,
    inner_ways: DataFrame,
    buffer_m: float,
) -> DataFrame:
    """Outer way ids having >=1 (distinct) inner way within buffer_m meters.

    Candidate pairs by the inner side's size (counted against
    BROADCAST_THRESHOLD):
    * broadcast (small filtered inner side) — D-expanded bbox-overlap
      predicate on a broadcast nested loop over the bbox-only inner dim.
      The bbox lon expansion uses the pair's worst-case |lat| so
      candidates stay a superset everywhere.
    * bucketed (big inner side) — both sides explode their bbox to grid
      cells (inner side D-padded), equi-join on cell with the bbox overlap
      prefilter, pair-distinct on ids only. All equi-joins — no BNLJ.
    The candidate shuffle carries ids + bboxes, never the node arrays;
    `_way_way_refine` joins the geometry onto the pairs.
    """
    o = outer_ways.select(
        F.col("id"),
        F.col("nodes").alias("onodes"),
        F.col("min_lon").alias("o_min_lon"),
        F.col("min_lat").alias("o_min_lat"),
        F.col("max_lon").alias("o_max_lon"),
        F.col("max_lat").alias("o_max_lat"),
    )
    i = inner_ways.select(
        F.col("id").alias("iid"),
        F.col("nodes").alias("inodes"),
        F.col("min_lon").alias("i_min_lon"),
        F.col("min_lat").alias("i_min_lat"),
        F.col("max_lon").alias("i_max_lon"),
        F.col("max_lat").alias("i_max_lat"),
    )
    d_lat = buffer_m / M_PER_DEG
    worst_lat = F.greatest(
        F.abs(F.col("o_min_lat")), F.abs(F.col("o_max_lat")),
        F.abs(F.col("i_min_lat")), F.abs(F.col("i_max_lat")),
    )
    d_lon = F.lit(buffer_m) / (F.lit(M_PER_DEG) * F.cos(F.radians(worst_lat)))
    cand = G.bbox_intersects(
        F.col("o_min_lon") - d_lon, F.col("o_min_lat") - F.lit(d_lat),
        F.col("o_max_lon") + d_lon, F.col("o_max_lat") + F.lit(d_lat),
        F.col("i_min_lon"), F.col("i_min_lat"), F.col("i_max_lon"), F.col("i_max_lat"),
    ) & (F.col("id") != F.col("iid"))

    if _resolve_strategy(i, "auto") == "broadcast":
        pairs = o.select(
            "id", "o_min_lon", "o_min_lat", "o_max_lon", "o_max_lat"
        ).join(
            F.broadcast(
                i.select("iid", "i_min_lon", "i_min_lat", "i_max_lon", "i_max_lat")
            ),
            cand,
            "inner",
        ).select("id", "iid")
        return _way_way_refine(pairs, o, i, buffer_m, small_inner=True)

    s_lon, s_lat = _grid_sizes(buffer_m, GRID_REF_LAT, None)
    i_cells = i.select(
        "iid", "i_min_lon", "i_min_lat", "i_max_lon", "i_max_lat",
        F.explode(
            _bbox_cells_col(
                F.col("i_min_lon"), F.col("i_min_lat"),
                F.col("i_max_lon"), F.col("i_max_lat"),
                s_lon, s_lat, pad_m=buffer_m,
            )
        ).alias("cell"),
    )
    o_cells = o.select(
        "id", "o_min_lon", "o_min_lat", "o_max_lon", "o_max_lat",
        F.explode(
            _bbox_cells_col(
                F.col("o_min_lon"), F.col("o_min_lat"),
                F.col("o_max_lon"), F.col("o_max_lat"),
                s_lon, s_lat,
            )
        ).alias("cell"),
    )
    pairs = (
        o_cells.join(i_cells, "cell")
        .filter(cand)
        .select("id", "iid")
        .distinct()
    )
    return _way_way_refine(pairs, o, i, buffer_m, small_inner=False)
