"""k-nearest-neighbors over a cell grid (north rule).

The reference has no kNN; the north rule adds it as "H3 k-ring expansion
with a fallback for hot cells". Every path here is ONE pipeline that
differs only in the cell key, the query cover and the distance:

1. each query explodes to the cells covering its search disc and is
   equi-joined (broadcast) against the cell-keyed point table;
2. a per-query top-k ranks the candidates (``_topk``);
3. ``exact`` reports the disc guarantee: true iff >= k candidates were
   found and the k-th lies inside the disc (``_candidate_topk``);
4. the ``*_exact`` variants re-run the inexact queries with a doubled disc
   and brute-force whatever outgrows it (``_doubling_loop``). The loop
   touches only a one-row-per-query aggregate, never the data.

Variants:

* ``knn_kring``  — planar grid at this operator's own cell size; the cover
  is the (2r+1)^2 cells around the query's cell. A result is exact iff the
  k-th distance <= r*min(cell_w, cell_h) (the nearest excluded cell starts
  r cells away); ``knn_kring_exact`` doubles r. Distance is squared
  euclidean in degrees (monotone with euclidean; fine within a small
  window).
* ``knn_h3``     — real H3 cells; the cover is a sampled superset of the
  cells meeting the disc (``_h3_disc_cells_col``). ``metric='equirect'``
  ranks by cos-scaled squared degrees, ``metric='haversine'`` by
  great-circle meters; ``knn_h3_exact`` doubles the disc.
* ``knn_brute`` — the exact baseline; ``_brute`` is also the
  fallback of the doubling loops (equirect or haversine).

Hot cells (dense urban analog): the query side (queries x cover cells) is
tiny and always broadcast, so the point side is never shuffled on the cell
key and a hot cell cannot make a hot join partition. A query inside a
dense cell still gets a huge candidate pile; the two-phase top-k ranks it
in ``_TOPK_BUCKETS`` parallel partitions first. There is no salted
fallback: with the query side broadcast, salting only multiplies it.

Ties break on point id for determinism.
"""

from __future__ import annotations

import functools
import itertools
import math as _math

# module-level: pandas_udf type-hint resolution needs pd importable here
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from simple_osm_queries_spark.functions import cells as C

# Authalic sphere radius in meters (the constant H3 documents for its area/
# edge-length tables) — one shared constant so Spark, the DuckDB twins and
# the numpy oracles agree bit-for-bit on the meters scale.
EARTH_RADIUS_M = 6371007.180918475

# id buckets of the local top-k phase in _topk
_TOPK_BUCKETS = 16


# ---------------------------------------------------------------------------
# Distances: column functions of (query lon/lat, point lon/lat)
# ---------------------------------------------------------------------------


def _dist2(qlon, qlat, plon, plat):
    return (qlon - plon) * (qlon - plon) + (qlat - plat) * (qlat - plat)


def _equirect_dist2(qlon, qlat, plon, plat):
    """Squared cos-scaled local degrees — the metric knn_h3 ranks by."""
    dx = (plon - qlon) * F.cos(F.radians(qlat))
    dy = plat - qlat
    return dx * dx + dy * dy


def haversine_m(qlon, qlat, plon, plat):
    """Great-circle distance in meters, pure column math (codegen, no UDF).

    sin/cos make it antimeridian-safe by construction: dlon = 359.9 deg and
    dlon = -0.1 deg give the same sin(dlon/2)^2. Written with explicit
    products (no pow) so the DuckDB oracle twin can mirror the operation
    order exactly."""
    sp = F.sin(F.radians(plat - qlat) / F.lit(2.0))
    sl = F.sin(F.radians(plon - qlon) / F.lit(2.0))
    a = sp * sp + F.cos(F.radians(qlat)) * F.cos(F.radians(plat)) * sl * sl
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(F.least(a, F.lit(1.0))))


# ---------------------------------------------------------------------------
# The shared pipeline
# ---------------------------------------------------------------------------


def _query_side(queries: DataFrame) -> DataFrame:
    """(qid, qlon, qlat, k) from ``queries`` (qid, lon, lat, k)."""
    return queries.select(
        "qid",
        F.col("lon").alias("qlon"),
        F.col("lat").alias("qlat"),
        "k",
    )


def _with_dist(cand: DataFrame, dist_col: str, dist) -> DataFrame:
    return cand.withColumn(
        dist_col, dist(F.col("qlon"), F.col("qlat"), F.col("lon"), F.col("lat"))
    )


def _topk(cand: DataFrame, dist_col: str) -> DataFrame:
    """Per-query top-k. Two-phase: a local top-k per (qid, id-bucket) first,
    so a hot query's candidate pile (hundreds of thousands of rows for a
    query inside a dense cell) is sorted in ``_TOPK_BUCKETS`` parallel
    partitions instead of one; the global window then ranks at most
    buckets*k rows per query."""
    w_local = Window.partitionBy("qid", "__b").orderBy(
        F.col(dist_col).asc(), F.col("id").asc()
    )
    cand = (
        cand.withColumn("__b", F.pmod(F.col("id"), F.lit(_TOPK_BUCKETS)))
        .withColumn("__lr", F.row_number().over(w_local))
        .filter(F.col("__lr") <= F.col("k"))
        .drop("__b", "__lr")
    )
    w = Window.partitionBy("qid").orderBy(F.col(dist_col).asc(), F.col("id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
    )


def _brute(points: DataFrame, queries: DataFrame, dist_col: str, dist) -> DataFrame:
    """Exact kNN under ``dist``: the query side is broadcast, each point
    partition streams independently (no shuffle until the top-k).
    (qid, id, lon, lat, <dist_col>, rank)."""
    cand = points.select("id", "lon", "lat").crossJoin(
        F.broadcast(_query_side(queries))
    )
    return _topk(_with_dist(cand, dist_col, dist), dist_col).select(
        "qid", "id", "lon", "lat", dist_col, "rank"
    )


def _candidate_topk(
    points: DataFrame,
    queries: DataFrame,
    point_cell,
    cover,
    dist_col: str,
    dist,
    cap: float,
) -> DataFrame:
    """Cover join -> top-k -> ``exact``. ``point_cell``: the point's cell key
    column; ``cover``: array column of the cells covering each query's disc
    (over qlon/qlat); ``cap``: the largest ``dist_col`` value inside the
    disc (the squared radius for the squared metrics)."""
    qcells = _query_side(queries).withColumn("cell", F.explode(cover))
    pts = points.select("id", "lon", "lat", point_cell.alias("cell"))
    # the exploded query-cell side is tiny (|queries| * cover cells) but comes
    # from a local relation Spark won't size-estimate — without the explicit
    # broadcast it plans a SortMergeJoin that shuffles the whole point table
    cand = _with_dist(pts.join(F.broadcast(qcells), "cell"), dist_col, dist)
    found = _topk(cand, dist_col)
    # per-query max-dist and count as window aggregates over the SAME
    # partitioning the top-k window just created — one pass, no re-shuffle,
    # no recomputation of the candidate join (groupBy+join-back would
    # evaluate `found` twice)
    w_all = Window.partitionBy("qid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        found.withColumn("__maxd", F.max(dist_col).over(w_all))
        .withColumn("__n", F.count("*").over(w_all))
        .withColumn(
            "exact", (F.col("__n") >= F.col("k")) & (F.col("__maxd") <= F.lit(cap))
        )
        .select("qid", "id", "lon", "lat", dist_col, "rank", "exact")
    )


def _doubling_loop(queries: DataFrame, radii, run_round, brute) -> DataFrame:
    """Loop shared by the ``*_exact`` variants: run one round per
    radius in ``radii`` over the still-inexact queries, keep the exact
    results, and hand whatever is left to ``brute``.

    ``run_round(pending, radius)`` returns a frame with an ``exact`` column,
    or None when the radius cannot be served (the loop then brute-forces
    the rest); ``brute(pending)`` is the exact fallback."""
    pending = queries
    results: list[DataFrame] = []
    for radius in radii:
        res = run_round(pending, radius)
        if res is None:
            break
        # cache the round (consumed by done_q, survivors, pending), cut the
        # survivors'/pending's lineage with an eager localCheckpoint (both
        # are <= n_queries x k rows — tiny next to the candidate join), then
        # unpersist immediately: at most ONE round's candidates are cached
        # at a time instead of accumulating executor-memory leaks per round
        res = res.cache()
        done_q = res.filter(F.col("exact")).select("qid").distinct()
        results.append(res.join(done_q, "qid", "left_semi").localCheckpoint())
        pending = pending.join(done_q, "qid", "left_anti").localCheckpoint()
        res.unpersist()
        if pending.isEmpty():
            return functools.reduce(DataFrame.unionByName, results)
    # give up on the guarantee for pathological queries: brute-force rest
    results.append(brute(pending).withColumn("exact", F.lit(True)))
    return functools.reduce(DataFrame.unionByName, results)


# ---------------------------------------------------------------------------
# Exact baselines, then kNN over the planar cell grid
# ---------------------------------------------------------------------------


def knn_brute(points: DataFrame, queries: DataFrame) -> DataFrame:
    """Exact kNN; query side broadcast. ``queries``: (qid, lon, lat, k)."""
    return _brute(points, queries, "dist2", _dist2)


def knn_kring(
    points: DataFrame,
    queries: DataFrame,
    ring: int = 1,
    cell_w: float = C.DEFAULT_CELL_W,
    cell_h: float = C.DEFAULT_CELL_H,
) -> DataFrame:
    """One-pass k-ring kNN. Exact for every query whose k-th neighbor lies
    within r*min(cell_w,cell_h); ``exact`` column reports the guarantee.
    Queries with fewer than k candidates in the ring return what was found.

    The cell key is recomputed from lon/lat at THIS operator's granularity —
    kNN wants a much finer grid than the reference's 0.1-degree query grid
    (a ring over coarse cells degenerates to a full scan per query), and the
    key must be consistent between both join sides regardless of what cell
    column the table was partitioned by.
    """
    qx = C.cell_x(F.col("qlon"), cell_w)
    qy = C.cell_y(F.col("qlat"), cell_h)
    ring_cells = F.array(
        *[
            C.pack_cell(qx + F.lit(dx), qy + F.lit(dy))
            for dx in range(-ring, ring + 1)
            for dy in range(-ring, ring + 1)
        ]
    )
    return _candidate_topk(
        points,
        queries,
        C.cell_of(F.col("lon"), F.col("lat"), cell_w, cell_h),
        ring_cells,
        "dist2",
        _dist2,
        (ring * min(cell_w, cell_h)) ** 2,
    )


# largest ring knn_kring_exact doubles to before it brute-forces the rest
KRING_MAX_RING = 64


def knn_kring_exact(
    points: DataFrame,
    queries: DataFrame,
    ring: int = 1,
    cell_w: float = C.DEFAULT_CELL_W,
    cell_h: float = C.DEFAULT_CELL_H,
) -> DataFrame:
    """Doubles the ring (up to ``KRING_MAX_RING``) until every query
    is guaranteed exact; queries still inexact past it are brute-forced.
    Each round only recomputes the still-inexact queries (usually a
    shrinking handful near sparse regions)."""
    rings = itertools.takewhile(
        lambda r: r <= KRING_MAX_RING, (ring * 2**i for i in itertools.count())
    )
    return _doubling_loop(
        queries,
        rings,
        lambda pending, r: knn_kring(points, pending, r, cell_w, cell_h),
        lambda pending: knn_brute(points, pending),
    )


# ---------------------------------------------------------------------------
# kNN over REAL H3 cells
# ---------------------------------------------------------------------------

# Conservative global H3 cell-size bounds in radians at resolution r, from
# the gnomonic geometry of functions/h3_encode.py: lattice spacing is one
# plane unit u = RES0_U_GNOMONIC / sqrt(7)^r; the plane->sphere scale factor
# ranges [cos^2(vertex angle), 1] = [0.631, 1]. Hex inradius_plane = 0.5,
# circumradius_plane = 1/sqrt(3).
_H3_RES0_U = 0.38196601125010500003
_H3_DISTORT_MIN = 0.631


def _h3_unit_rad(res: int) -> float:
    return _H3_RES0_U / (7.0 ** (res / 2.0))


def h3_min_inradius_deg(res: int) -> float:
    return _math.degrees(0.5 * _h3_unit_rad(res) * _H3_DISTORT_MIN)


def h3_max_circumradius_deg(res: int) -> float:
    return _math.degrees(_h3_unit_rad(res) / _math.sqrt(3.0))


def _cover_step(res: int) -> float:
    """Sample spacing in arc degrees: <= min_inradius/sqrt(2) puts at least
    one sample inside every res-``res`` cell's inradius disk."""
    return h3_min_inradius_deg(res) / _math.sqrt(2.0) * 0.99


def h3_max_disc_deg(res: int) -> float:
    """Largest search disc the cover sampler accepts at ``res`` (the
    (2*63+1)^2 = 16129-sample budget); beyond it, coarsen the resolution or
    brute-force (knn_h3_exact does the latter automatically)."""
    return (63 * _cover_step(res) - h3_max_circumradius_deg(res)) / 1.05


class CoverBudgetExceeded(ValueError):
    """Raised by banded_lon_offsets BEFORE expanding the sample arrays when
    the count would exceed the caller's budget (so a hemisphere-at-res-8
    attempt costs a counts sum, not a multi-GB allocation)."""

    def __init__(self, total: int):
        self.total = total
        super().__init__(f"cover sampler needs {total} samples")


def banded_lon_offsets(
    lat_rows, arc_half, step: float, base_half_deg: float = 0.0,
    max_samples: int | None = None,
):
    """Per-latitude-ROW lon sample offsets for superset cell covers.

    One shared implementation of the r4 sampling fix (ADVICE r3 #1/#5):
    scaling every row's lon spacing by a single cos(lat) under-samples rows
    nearer the equator than the reference latitude. Each row instead uses
    its own +-``step`` band: spacing from the band's largest cos (tightest
    constraint), east-west extent from its smallest (widest reach), capped
    at the full circle. ``arc_half`` is the per-row half-extent in ARC
    degrees (divided by the band cos); ``base_half_deg`` a latitude-
    independent extra half-extent in LON degrees (e.g. a bbox's own span).

    Returns (row_index, lon_offset) arrays: sample i sits at latitude
    ``lat_rows[row_index[i]]`` and longitude ``center + lon_offset[i]``.
    Used by knn's disc cover and spatial_join.h3_polyfill — a sampling fix
    here fixes both."""
    lat_rows = np.asarray(lat_rows, dtype=np.float64)
    arc_half = np.broadcast_to(np.asarray(arc_half, dtype=np.float64), lat_rows.shape)
    band_abs = np.abs(lat_rows)
    c_hi = np.cos(np.radians(np.clip(band_abs - step, 0.0, 89.95)))
    c_lo = np.maximum(np.cos(np.radians(np.minimum(band_abs + step, 89.95))), 1e-9)
    dl = step / c_hi
    halfw = np.minimum(base_half_deg + arc_half / c_lo, 180.0)
    counts = np.ceil(2.0 * halfw / dl).astype(np.int64) + 1
    total = int(counts.sum())
    if max_samples is not None and total > max_samples:
        raise CoverBudgetExceeded(total)
    ridx = np.repeat(np.arange(len(lat_rows)), counts)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    within = np.arange(total) - np.repeat(starts, counts)
    return ridx, -halfw[ridx] + within * dl[ridx]


def spherical_disc_offsets(
    qlat: float, R_deg: float, step: float, max_samples: int | None = None
):
    """Sample positions covering the SPHERICAL cap of arc radius ``R_deg``
    around a query at latitude ``qlat`` — wrap-aware: rows may exceed |90|
    (pole crossing) and offsets may exceed |180| (antimeridian crossing);
    the H3 encoder is wrap-transparent (cos/sin periodicity carries an
    unnormalized (lat, lon) to the reflected point exactly — verified by
    test_h3_encode wrap cases), so no normalization is needed.

    Geometry (all in arc degrees): latitude rows spaced ``step`` apart span
    qlat +- R. Per-row lon half-extent H_i comes from the exact spherical
    cap/parallel intersection with radius padded by step/2: a cell center c
    with arc(c, q) <= R and |lat_c - row_i| <= step/2 moves to row_i's
    parallel along a meridian, growing its arc distance by at most step/2
    (triangle inequality), so cos(dlon) >= (cos(R + step/2) -
    sin(qlat) sin(row_i)) / (cos(qlat) cos(row_i)). Evaluating with the
    UNNORMALIZED row latitude is exact on both sides of a pole (sin/cos of
    the reflected latitude fold the lon+180 shift in automatically). Lon
    spacing per row is step / (largest |cos lat| within the row's +-step
    band), so east-west arc gaps stay <= step.

    Returns (lat_rows, lon_offsets) arrays of equal length: sample i sits at
    (lat_rows[i], qlon + lon_offsets[i])."""
    n_side = int(_math.ceil(R_deg / step))
    rows = qlat + np.arange(-n_side, n_side + 1, dtype=np.float64) * step
    phi_q = _math.radians(qlat)
    phi = np.radians(rows)
    Rp = _math.radians(R_deg + step / 2.0)
    denom = _math.cos(phi_q) * np.cos(phi)
    num = _math.cos(Rp) - _math.sin(phi_q) * np.sin(phi)
    with np.errstate(divide="ignore", invalid="ignore"):
        ratio = np.where(np.abs(denom) > 1e-12, num / denom, np.nan)
    H = np.degrees(np.arccos(np.clip(ratio, -1.0, 1.0)))
    if abs(_math.cos(phi_q)) <= 1e-12:  # query at a pole: caps are lat bands
        H = np.where(np.abs(rows - qlat) <= R_deg + step / 2.0, 180.0, 0.0)
    # a row exactly at a pole degenerates to a point: one sample suffices
    H = np.where(np.abs(np.cos(phi)) <= 1e-12, 0.0, np.nan_to_num(H, nan=180.0))
    c_hi = np.maximum(
        np.maximum(
            np.abs(np.cos(np.radians(rows - step))),
            np.abs(np.cos(np.radians(rows + step))),
        ),
        1e-9,
    )
    dl = step / c_hi
    counts = np.ceil(2.0 * H / dl).astype(np.int64) + 1
    total = int(counts.sum())
    if max_samples is not None and total > max_samples:
        raise CoverBudgetExceeded(total)
    ridx = np.repeat(np.arange(len(rows)), counts)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    within = np.arange(total) - np.repeat(starts, counts)
    return rows[ridx], -H[ridx] + within * dl[ridx]


# Per-query sample budgets of the two disc covers. The samplers below are
# the one definition of each cover's geometry: the executor UDF and the
# plan-time pre-check in knn_h3 call the same sampler, so the pre-check can
# never drift from what the executor will do.
EQUIRECT_COVER_BUDGET = 65536
SPHERICAL_COVER_BUDGET = 131072


def _equirect_cover_radius(res: int, disc_deg: float) -> float:
    """Padded radius in lon/lat degrees: every cell meeting the disc has its
    center within it."""
    return 1.05 * disc_deg + h3_max_circumradius_deg(res)


def _budgeted(offsets, disc: str, res: int):
    """``offsets(lat)`` with a budget overrun restated as a ValueError that
    names the disc, the latitude and the way out."""

    def sample(lat: float):
        try:
            return offsets(lat)
        except CoverBudgetExceeded as e:
            raise ValueError(
                f"disc {disc} at lat {lat:.2f} needs {e.total} samples per "
                f"query at res {res}; use a coarser resolution for discs "
                "this large"
            ) from None

    return sample


def _equirect_disc_sampler(res: int, disc_deg: float):
    """``sample(lat) -> (sample_lats, lon_offsets)`` covering the
    equirectangular disc of radius ``disc_deg`` around a query at ``lat``.

    Cover construction (no neighbor tables needed): every cell intersecting
    the disc has its center within R = 1.05*disc + max_circumradius of the
    query; a sample grid with spacing <= min_inradius/sqrt(2) puts at least
    one sample inside every such cell's inradius disk; encoding the samples
    and deduplicating therefore yields a superset of the intersecting
    cells. Per-latitude-ROW lon sampling (banded_lon_offsets): each row uses
    its own band cos, so rows nearer the equator than the query are not
    under-sampled. Queries close enough to a pole for the extent to wrap
    are routed to brute force by knn_h3 before the cover runs.
    """
    R, step = _equirect_cover_radius(res, disc_deg), _cover_step(res)
    n_side = int(_math.ceil(R / step))
    if (2 * n_side + 1) ** 2 > 16384:
        raise ValueError(
            f"disc {disc_deg} deg needs {(2*n_side+1)**2} samples per query "
            f"at res {res}; use a coarser resolution for discs this large"
        )
    offs = np.arange(-n_side, n_side + 1, dtype=np.float64) * step  # lat rows
    half_arc = np.sqrt(np.maximum(R * R - offs * offs, 0.0))

    def offsets(lat: float):
        rows = lat + offs
        ridx, lon_off = banded_lon_offsets(
            rows, half_arc, step, max_samples=EQUIRECT_COVER_BUDGET
        )
        return np.clip(rows[ridx], -89.9, 89.9), lon_off

    return _budgeted(offsets, f"{disc_deg} deg", res)


def _spherical_disc_sampler(res: int, disc_arc_deg: float):
    """``sample(lat) -> (sample_lats, lon_offsets)`` covering the spherical
    disc of arc radius ``disc_arc_deg`` — wrap-aware at poles and the
    antimeridian (spherical_disc_offsets), so no polar brute routing."""
    R, step = disc_arc_deg + h3_max_circumradius_deg(res), _cover_step(res)
    return _budgeted(
        lambda lat: spherical_disc_offsets(
            lat, R, step, max_samples=SPHERICAL_COVER_BUDGET
        ),
        f"{disc_arc_deg} arc-deg",
        res,
    )


def _h3_disc_cells_col(qlon, qlat, res: int, sample):
    """array<long> of the res-``res`` H3 cells covering each query's search
    disc: ``sample(lat)`` (one of the disc samplers above) places the
    samples, and the whole Arrow batch is encoded in ONE vectorized call."""
    from pyspark.sql import types as T

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _cover(lon: pd.Series, lat: pd.Series) -> pd.Series:
        from simple_osm_queries_spark.functions import h3_encode as E

        if not len(lon):
            return pd.Series([], dtype=object)
        sample_lon: list[np.ndarray] = []
        sample_lat: list[np.ndarray] = []
        for x, y in zip(lon.to_numpy(dtype=np.float64), lat.to_numpy(dtype=np.float64)):
            lat_s, lon_off = sample(y)
            sample_lon.append(x + lon_off)
            sample_lat.append(lat_s)
        cells = E.lnglat_to_cell(
            np.concatenate(sample_lon), np.concatenate(sample_lat), res
        ).view(np.int64)
        bounds = np.cumsum([len(s) for s in sample_lat])[:-1]
        return pd.Series([np.unique(c).tolist() for c in np.split(cells, bounds)])

    return _cover(qlon, qlat)


def _search_disc(
    metric: str, res: int, disc_deg: float | None, disc_m: float | None
) -> float:
    """Validate ``metric`` and its radius parameter; return the search disc
    in the metric's unit (degrees for equirect, meters for haversine),
    defaulting to twice the max H3 circumradius at ``res``."""
    if metric not in ("equirect", "haversine"):
        raise ValueError(f"unknown metric {metric!r}")
    # each metric takes ITS radius parameter only — silently ignoring the
    # other one would run a wildly different search disc than the caller
    # asked for
    if metric == "haversine":
        if disc_deg is not None:
            raise ValueError("metric='haversine' takes disc_m (meters), not disc_deg")
        if disc_m is None:
            return _math.radians(2.0 * h3_max_circumradius_deg(res)) * EARTH_RADIUS_M
        return float(disc_m)
    if disc_m is not None:
        raise ValueError("metric='equirect' takes disc_deg (degrees), not disc_m")
    if disc_deg is None:
        return 2.0 * h3_max_circumradius_deg(res)
    return float(disc_deg)


def knn_h3(
    points: DataFrame,
    queries: DataFrame,
    res: int = 8,
    disc_deg: float | None = None,
    cell_col: str | None = None,
    metric: str = "equirect",
    disc_m: float | None = None,
) -> DataFrame:
    """kNN via H3 cell cover: points are keyed by their real H3 cell at
    ``res``; each query explodes to the cells covering its search disc, the
    two sides equi-join on the cell id, and a per-query top-k ranks by the
    chosen metric. ``exact`` reports the disc guarantee: true iff >= k
    candidates were found and the k-th lies inside the disc.

    ``metric='equirect'`` (default): ranks by the cos-scaled local-degree
    metric; fine within a small window, distorted near poles / across the
    antimeridian. Queries whose padded disc reaches a pole are split off to
    the exact equirect brute path (ADVICE r3 #5); ``disc_deg`` is the
    search radius in degrees. Returns ``dist2`` (squared local degrees).

    ``metric='haversine'``: globally correct great-circle ranking in METERS
    (``dist_m`` column); the disc is ``disc_m`` meters of arc, the cover is
    the wrap-aware spherical sampler (poles and antimeridian handled — no
    brute routing), and the exactness guarantee reads "the k-th neighbor
    lies within disc_m meters". VERDICT r4 #1.

    Both paths pre-check the cover's sample budget on the DRIVER at the
    batch's worst-case latitude, so oversized discs fail at plan time.

    ``cell_col``: name of a PRECOMPUTED res-``res`` H3 column on ``points``
    (e.g. the cells-CLI layout's ``h3``) — skips the per-call re-encode and,
    on a cell-partitioned/sorted layout, lets the cover join prune
    partitions/row groups.
    """
    disc = _search_disc(metric, res, disc_deg, disc_m)
    # one tiny agg (query side is small by contract) instead of an
    # isEmpty + two filters: the common no-polar case pays a single job and
    # reuses `queries` untouched, and knn_h3_exact's per-round calls don't
    # recompute the query plan three times
    max_abs_lat = queries.agg(F.max(F.abs(F.col("lat")))).first()[0]
    if metric == "haversine":
        sample = _spherical_disc_sampler(res, _math.degrees(disc / EARTH_RADIUS_M))
        # the spherical count is not monotone in |lat| (extent and spacing
        # both scale with 1/cos and mostly cancel until the 180-deg wrap
        # cap): probe the equator too
        probe_lats = (0.0, max_abs_lat)
        dist_col, dist, cap = "dist_m", haversine_m, disc
    else:
        polar_cut = 89.5 - _equirect_cover_radius(res, disc)
        if max_abs_lat is not None and float(max_abs_lat) >= polar_cut:
            polar = queries.filter(F.abs(F.col("lat")) >= F.lit(polar_cut))
            rest = queries.filter(F.abs(F.col("lat")) < F.lit(polar_cut))
            return knn_h3(points, rest, res, disc, cell_col).unionByName(
                _brute(points, polar, "dist2", _equirect_dist2)
                .withColumn("exact", F.lit(True))
            )
        sample = _equirect_disc_sampler(res, disc)
        # the equirect count grows monotonically with |lat| (arc extent /
        # band cos): the batch's max |lat| is the worst case
        probe_lats = (max_abs_lat,)
        dist_col, dist, cap = "dist2", _equirect_dist2, disc**2
    if max_abs_lat is not None:
        # plan-time budget check (ADVICE r4 #4): an oversized disc fails
        # here with a clean message instead of as an opaque PythonException
        # after the job launches
        for lat in probe_lats:
            sample(float(lat))
    point_cell = (
        F.col(cell_col) if cell_col is not None
        else C.cell_h3(F.col("lon"), F.col("lat"), res)
    )
    cover = _h3_disc_cells_col(F.col("qlon"), F.col("qlat"), res, sample)
    return _candidate_topk(points, queries, point_cell, cover, dist_col, dist, cap)


def knn_h3_exact(
    points: DataFrame,
    queries: DataFrame,
    res: int = 8,
    max_doublings: int = 6,
    metric: str = "equirect",
    disc_m: float | None = None,
) -> DataFrame:
    """Doubling loop over ``knn_h3`` (same loop as knn_kring_exact):
    re-query only the still-inexact queries with a doubled disc; brute-force
    the pathological remainder. With ``metric='haversine'`` the loop doubles
    ``disc_m`` (meters) and the fallback is the exact haversine brute path —
    globally correct results at any latitude/longitude. The equirect loop
    starts at `knn_h3`'s default disc."""
    disc = _search_disc(metric, res, None, disc_m)
    if metric == "haversine":
        # the wrap-aware sampler serves any disc whose row count fits the
        # budget; half the planet's arc is the natural cap beyond which
        # brute force reads less data than the cover join
        max_disc = _math.radians(60.0) * EARTH_RADIUS_M
        radius_kw, dist_col, dist = "disc_m", "dist_m", haversine_m
    else:
        max_disc = h3_max_disc_deg(res)
        radius_kw, dist_col, dist = "disc_deg", "dist2", _equirect_dist2

    def run_round(pending: DataFrame, d: float) -> DataFrame | None:
        try:
            return knn_h3(points, pending, res, metric=metric, **{radius_kw: d})
        except ValueError:
            return None  # plan-time budget pre-check fired: brute-force

    # the disc outgrowing the cover sampler ends the rounds: brute-force
    discs = itertools.takewhile(
        lambda d: d <= max_disc, (disc * 2**i for i in range(max_doublings))
    )
    return _doubling_loop(
        queries,
        discs,
        run_round,
        lambda pending: _brute(points, pending, dist_col, dist),
    )
