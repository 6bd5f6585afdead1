"""Point -> k-nearest-ways join within a radius (map-matching primitive).

The reference stores way geometry as ordered node polylines
(/root/reference/src/index/grid_reader.go:80-142 materializes them) and can
answer "which ways are near this point" only through its documented-but-
unimplemented buffer operator (README.md:154-181) — and even that is a
boolean semi join. Real pipelines (map matching, reverse geocoding,
"snap photo GPS to the nearest road") need the *ranked* form: for every
point, the k nearest ways within R meters plus the distance itself. This
module provides it as a first-class distributed join:

    nearest_way_join(points, ways, radius_m, k=1)
      -> (id, way_id, dist_m, rank)

Distance model: the buffer family's local equirectangular meters — exact
point-to-segment projection (`buffer.pt_seg_projection_m`), min over the
way's segments, meters scaled by cos(lat) of the query point.
Deterministic ties: (dist², way_id) lexicographic, so equal distances rank
by way id.

Physical shape: the buffer module's point<->way pipeline, then a top-k.
* candidates — `buffer._point_way_candidates`: broadcast (small way side:
  R-expanded bbox predicate against the broadcast bbox-only ways) or
  bucketed (big way side: ways explode to their R-padded cell cover,
  points key to their own cell, equi-join on the packed cell). Rows carry
  the point's lon/lat, so the refine never joins the point side back.
  The cover is a superset of the radius-R disk by construction.
* exact refine — `buffer._point_way_refine`: candidates join the way's
  SEGMENT rows (one `explode(segments)` per way, not per pair) and the
  point-to-segment projection runs as scalar codegen per (pair, segment)
  row — never an array lambda per pair (interpreted, ~10 µs/pair, 5x the
  whole join at bench scale, BENCH.md r5e). Two joins in total.
* top-k: k == 1 folds the per-way segment min INTO the final aggregate —
  a single `min(struct(d2, way_id))` per point over segment rows
  (min over segments of the winning way IS the way distance), map-side
  partial combine, ONE exchange, no sort. k > 1 first reduces segments
  to per-way distance (`groupBy(point, way).min(d2)`, partial-agg
  combinable), then the two-phase window (per-partition rank prune to
  k, then final rank) so a hot point never sorts its full candidate
  list in one task.

Scale shape: everything is codegen column math; the only shuffles are the
cell equi-join (bucketed path) and the top-k aggregate(s). Skewed cells
(urban density) split under AQE; the cell grid floor (`cell_deg`) bounds
per-way fan-out exactly as in the buffer family. Segment fan-out (a
2000-node way contributes 1999 rows per candidate pair) streams through
map-side combine — the aggregate state is one struct per (point[, way]).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from simple_osm_queries_spark.operators.buffer import (
    GRID_REF_LAT,
    _point_way_candidates,
    _point_way_refine,
)


def _topk_from_segments(scored: DataFrame, k: int, snap: bool = False) -> DataFrame:
    """(nid, wid, t, d2) in-radius segment rows -> k best ways per nid,
    deterministic (d2, wid) order.

    k == 1: ONE hash aggregate — min(struct(d2, wid[, snap])) over segment
    rows directly (the global min row is the nearest way's nearest
    segment); partial combine, single exchange, no sort.
    k > 1: reduce segments to per-way distance first (partial-agg
    combinable), then a two-phase window — rank inside each shuffle
    partition and keep only k, so the final per-point sort sees
    <= k*partitions rows even for a pathologically hot point.

    ``snap``: carry the projected snap point (lon/lat of the closest
    position ON the way, a + t (b - a)) through the aggregates — two extra
    struct fields, same plan shape. Equidistant same-way segments
    tie-break by (snap_lon, snap_lat), keeping determinism.
    """
    if snap:
        t = F.col("t")
        scored = scored.withColumns({
            "snap_lon": F.col("alon") + t * (F.col("blon") - F.col("alon")),
            "snap_lat": F.col("alat") + t * (F.col("blat") - F.col("alat")),
        })
    snap_cols = ["snap_lon", "snap_lat"] if snap else []
    if k == 1:
        best = scored.groupBy("nid").agg(
            F.min(F.struct("d2", "wid", *snap_cols)).alias("best")
        )
        return best.select(
            "nid",
            F.col("best.wid").alias("wid"),
            F.col("best.d2").alias("d2"),
            F.lit(1).alias("rank"),
            *[F.col(f"best.{c}").alias(c) for c in snap_cols],
        )
    per_way = scored.groupBy("nid", "wid").agg(
        F.min(F.struct("d2", *snap_cols)).alias("best")
    )
    per_way = per_way.select(
        "nid",
        "wid",
        F.col("best.d2").alias("d2"),
        *[F.col(f"best.{c}").alias(c) for c in snap_cols],
    )
    order = [F.col("d2").asc(), F.col("wid").asc()]
    local = Window.partitionBy(F.spark_partition_id(), "nid").orderBy(*order)
    pruned = per_way.withColumn("_lr", F.row_number().over(local)).filter(
        F.col("_lr") <= k
    )
    final = Window.partitionBy("nid").orderBy(*order)
    return (
        pruned.withColumn("rank", F.row_number().over(final))
        .filter(F.col("rank") <= k)
        .select("nid", "wid", "d2", "rank", *snap_cols)
    )


def nearest_way_join(
    points: DataFrame,
    ways: DataFrame,
    radius_m: float,
    k: int = 1,
    strategy: str = "auto",
    ref_lat: float = GRID_REF_LAT,
    cell_deg: float | None = None,
    snap: bool = False,
) -> DataFrame:
    """For every point, the ``k`` nearest ways within ``radius_m`` meters.

    ``points``: (id, lon, lat). ``ways``: (id, nodes, min_lon, min_lat,
    max_lon, max_lat) as produced by ``sources/dataset.py::prepare``.
    Returns (id, way_id, dist_m, rank) — plus (snap_lon, snap_lat), the
    closest position ON the way (the GPS-snap output of map matching),
    when ``snap=True``. Points with no way inside the radius emit no row
    (left-join semantics belong to the caller, one
    ``points.join(result, "id", "left")`` away).

    ``strategy``: 'auto' counts the way side against
    ``buffer.BROADCAST_THRESHOLD`` and picks 'broadcast' (small dim) or
    'bucketed' (the 100x-scale path); both produce identical rows (pinned
    in tests). ``ref_lat`` bounds the data's |latitude| for grid sizing;
    ``cell_deg`` floors the bucket size (fan-out control), both exactly as
    in the buffer family.
    """
    if radius_m <= 0:
        raise ValueError(f"radius_m must be > 0, got {radius_m}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    # no distinct on the candidates: the min-aggregates below are
    # duplicate-insensitive (the buffer semi joins need theirs because they
    # OUTPUT the ids; this operator aggregates them)
    cand, segs = _point_way_candidates(points, ways, radius_m, strategy, ref_lat, cell_deg)
    out = _topk_from_segments(_point_way_refine(cand, segs, radius_m), k, snap=snap)
    return out.select(
        F.col("nid").alias("id"),
        F.col("wid").alias("way_id"),
        F.sqrt(F.col("d2")).alias("dist_m"),
        "rank",
        *(["snap_lon", "snap_lat"] if snap else []),
    )
