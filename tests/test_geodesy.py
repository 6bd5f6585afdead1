"""Geodesic measures (operators/geodesy.py) vs independent oracles.

Independence: the length oracle goes through 3-D chord geometry (unit
vectors -> chord -> central angle), not the haversine kernel; the area
oracle is l'Huilier spherical-triangle fan triangulation, not the
Chamberlain-Duquette line integral; the simplify oracle is the classic
recursive Douglas-Peucker, not the iterative stack of ``_dp_mask``.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from simple_osm_queries_spark.operators import geodesy as G
from simple_osm_queries_spark.operators.knn import EARTH_RADIUS_M


def _unit(lon, lat):
    lo, la = math.radians(lon), math.radians(lat)
    return np.array(
        [math.cos(la) * math.cos(lo), math.cos(la) * math.sin(lo), math.sin(la)]
    )


def _arc(p, q):
    """Central angle via chord length — independent of the haversine form."""
    chord = np.linalg.norm(p - q)
    return 2.0 * math.asin(min(chord / 2.0, 1.0))


def _length_oracle(pts):
    return sum(
        _arc(_unit(*pts[i]), _unit(*pts[i + 1])) * EARTH_RADIUS_M
        for i in range(len(pts) - 1)
    )


def _lhuilier_triangle(p, q, r):
    a, b, c = _arc(q, r), _arc(p, r), _arc(p, q)
    s = (a + b + c) / 2.0
    t = (
        math.tan(s / 2.0)
        * math.tan((s - a) / 2.0)
        * math.tan((s - b) / 2.0)
        * math.tan((s - c) / 2.0)
    )
    return 4.0 * math.atan(math.sqrt(max(t, 0.0))) * EARTH_RADIUS_M**2


def _area_oracle_convex(pts):
    """Fan triangulation from the spherical centroid (valid for convex
    rings: every fan triangle has positive area)."""
    c = np.mean([_unit(*p) for p in pts], axis=0)
    c = c / np.linalg.norm(c)
    units = [_unit(*p) for p in pts]
    return sum(
        _lhuilier_triangle(c, units[i], units[(i + 1) % len(units)])
        for i in range(len(units))
    )


def _convex_ring(lon0, lat0, r_deg, n, phase=0.0):
    return [
        (
            lon0 + r_deg * math.cos(2 * math.pi * i / n + phase),
            lat0 + r_deg * math.sin(2 * math.pi * i / n + phase),
        )
        for i in range(n)
    ]


def _ways_df(spark, ways):
    rows = [
        (i, [{"id": j, "lon": p[0], "lat": p[1]} for j, p in enumerate(pts)])
        for i, pts in enumerate(ways)
    ]
    return spark.createDataFrame(
        rows, "id long, nodes array<struct<id:long,lon:double,lat:double>>"
    )


def test_way_length_matches_chord_oracle(spark):
    rng = np.random.RandomState(3)
    ways = []
    for _ in range(25):
        n = rng.randint(2, 12)
        lon0, lat0 = rng.uniform(-170, 170), rng.uniform(-80, 80)
        ways.append(
            [
                (lon0 + rng.uniform(-0.3, 0.3), lat0 + rng.uniform(-0.3, 0.3))
                for _ in range(n)
            ]
        )
    got = {r.id: r.length_m for r in G.way_length_m(_ways_df(spark, ways)).collect()}
    for i, pts in enumerate(ways):
        assert got[i] == pytest.approx(_length_oracle(pts), rel=1e-12)


def test_way_length_degenerate(spark):
    df = _ways_df(spark, [[(10.0, 53.0)], [(10.0, 53.0), (10.0, 53.0)]])
    got = {r.id: r.length_m for r in G.way_length_m(df).collect()}
    assert got[0] == 0.0 and got[1] == 0.0


def test_way_length_antimeridian(spark):
    # 0.2 deg of longitude at the equator, straddling +-180: the haversine
    # kernel is wrap-safe by sin periodicity
    df = _ways_df(spark, [[(179.9, 0.0), (-179.9, 0.0)]])
    want = math.radians(0.2) * EARTH_RADIUS_M
    got = G.way_length_m(df).first().length_m
    assert got == pytest.approx(want, rel=1e-9)


def test_ring_area_square_at_equator(spark):
    df = _ways_df(spark, [[(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]])
    m = EARTH_RADIUS_M * math.pi / 180.0
    planar = m * m * math.cos(math.radians(0.5))
    got = df.select(G.ring_area_m2_col(F.col("nodes")).alias("a")).first().a
    assert got == pytest.approx(planar, rel=2e-4)


def test_ring_area_matches_lhuilier_on_convex_rings(spark):
    rng = np.random.RandomState(11)
    ways = []
    for i in range(20):
        ways.append(
            _convex_ring(
                rng.uniform(-170, 170),
                rng.uniform(-75, 75),
                rng.uniform(0.01, 0.4),
                int(rng.randint(3, 12)),
                rng.uniform(0, 2 * math.pi),
            )
        )
    got = {r.id: r.area_m2 for r in G.ring_area_m2(_ways_df(spark, ways)).collect()}
    for i, pts in enumerate(ways):
        # the CD line integral treats edges as rhumb-like; vs great-circle
        # triangulation the gap scales with edge length (measured: 3.4e-4
        # worst case for a triangle with ~0.5 deg edges, <1e-5 for sub-0.1
        # deg edges — the docstring's accuracy statement)
        assert got[i] == pytest.approx(_area_oracle_convex(pts), rel=5e-4)


def test_ring_area_invariances(spark):
    ring = _convex_ring(10.0, 53.0, 0.2, 7)
    closed = ring + [ring[0]]
    reversed_ = list(reversed(ring))
    rotated = ring[3:] + ring[:3]
    got = {
        r.id: r.area_m2
        for r in G.ring_area_m2(
            _ways_df(spark, [ring, closed, reversed_, rotated])
        ).collect()
    }
    assert got[1] == pytest.approx(got[0], rel=1e-12)
    assert got[2] == pytest.approx(got[0], rel=1e-12)
    assert got[3] == pytest.approx(got[0], rel=1e-12)


def test_ring_area_degenerate(spark):
    df = _ways_df(spark, [[(1.0, 1.0), (2.0, 2.0)], [(1.0, 1.0)]])
    for r in G.ring_area_m2(df).collect():
        assert r.area_m2 == 0.0


def _dp_oracle(xy, tol):
    """Recursive textbook Douglas-Peucker over planar points."""

    def seg_d(p, a, b):
        ax, ay = a
        bx, by = b
        px, py = p
        dx, dy = bx - ax, by - ay
        l2 = dx * dx + dy * dy
        if l2 == 0:
            return math.hypot(px - ax, py - ay)
        t = max(0.0, min(1.0, ((px - ax) * dx + (py - ay) * dy) / l2))
        return math.hypot(ax + t * dx - px, ay + t * dy - py)

    def rec(i, j):
        if j - i < 2:
            return []
        ds = [seg_d(xy[kk], xy[i], xy[j]) for kk in range(i + 1, j)]
        a = int(np.argmax(ds))
        if ds[a] > tol:
            kk = i + 1 + a
            return rec(i, kk) + [kk] + rec(kk, j)
        return []

    return [0] + rec(0, len(xy) - 1) + [len(xy) - 1]


def _kept(xy, tol):
    xs = np.array([p[0] for p in xy], dtype=np.float64)
    ys = np.array([p[1] for p in xy], dtype=np.float64)
    return np.flatnonzero(G._dp_mask(xs, ys, tol)).tolist()


def test_simplify_matches_recursive_oracle():
    """_dp_mask (the ``.mvt?simplify=`` thinning, on tile coordinates) keeps
    exactly the vertices the recursive formulation keeps."""
    rng = np.random.RandomState(5)
    for _ in range(15):
        n = rng.randint(3, 40)
        xy = [(rng.uniform(0, 4096), rng.uniform(0, 4096)) for _ in range(n)]
        for tol in (16.0, 500.0):
            assert _kept(xy, tol) == _dp_oracle(xy, tol)


def test_simplify_invariants():
    # straight line collapses to its endpoints; tol=0 keeps every vertex of
    # a zigzag; larger tolerance keeps a subset; ways of <= 2 vertices pass
    # through
    line = [(float(i), float(i)) for i in range(20)]
    zig = [(float(i), 2.0 if i % 2 else 0.0) for i in range(20)]
    assert _kept(line, 1.0) == [0, 19]
    assert _kept(zig, 0.0) == list(range(20))
    for xy in (line, zig):
        heavy, light = _kept(xy, 5.0), _kept(xy, 0.5)
        assert set(heavy) <= set(light)
        assert light[0] == 0 and light[-1] == len(xy) - 1
    assert _kept([(0.0, 0.0), (3.0, 4.0)], 100.0) == [0, 1]
    assert _kept([(1.0, 1.0)], 100.0) == [0]


def test_measures_on_dataset_ways(spark, dataset):
    """End-to-end over the prepared fixture ways (ordered geometry column)."""
    ways = dataset.ways.select("id", "nodes").limit(20)
    rows = ways.collect()
    got_len = {r.id: r.length_m for r in G.way_length_m(ways).collect()}
    for r in rows:
        pts = [(p["lon"], p["lat"]) for p in r.nodes]
        if len(pts) >= 2:
            assert got_len[r.id] == pytest.approx(_length_oracle(pts), rel=1e-12)


def test_bearing_anchors_and_oracle(spark):
    """Known anchors (due N/E/S/W from the equator) + an independent
    python forward-azimuth oracle on random pairs."""
    import math

    from simple_osm_queries_spark.operators.geodesy import bearing_deg_col

    anchors = [
        (0.0, 0.0, 0.0, 1.0, 0.0),     # north
        (0.0, 0.0, 1.0, 0.0, 90.0),    # east
        (0.0, 0.0, 0.0, -1.0, 180.0),  # south
        (0.0, 0.0, -1.0, 0.0, 270.0),  # west
    ]
    pairs = [(i * 7.3 - 170.0, i * 3.1 - 60.0, i * 5.7 - 160.0, 80.0 - i * 2.9)
             for i in range(40)]
    rows = anchors + [(a, b, c, d, None) for a, b, c, d in pairs]
    df = spark.createDataFrame(
        [(i, r[0], r[1], r[2], r[3]) for i, r in enumerate(rows)],
        "i long, lon1 double, lat1 double, lon2 double, lat2 double",
    )
    got = {
        r.i: r.b
        for r in df.select(
            "i", bearing_deg_col(F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")).alias("b")
        ).collect()
    }
    for i, (lon1, lat1, lon2, lat2, want) in enumerate(rows):
        dl = math.radians(lon2 - lon1)
        y = math.sin(dl) * math.cos(math.radians(lat2))
        x = math.cos(math.radians(lat1)) * math.sin(math.radians(lat2)) - math.sin(
            math.radians(lat1)
        ) * math.cos(math.radians(lat2)) * math.cos(dl)
        ref = math.degrees(math.atan2(y, x)) % 360.0
        assert abs(got[i] - ref) < 1e-9, i
        if want is not None:
            assert abs(got[i] - want) < 1e-9, i


def test_destination_roundtrip(spark):
    """destination_cols: travelling d meters at bearing b lands a point
    whose haversine distance from the start is d (sub-mm) and whose
    initial bearing from the start matches b (short arcs)."""
    from simple_osm_queries_spark.operators.geodesy import (
        bearing_deg_col,
        destination_cols,
        haversine_m_col,
    )

    rows = [
        (i, -170.0 + i * 17.3, -80.0 + i * 7.9, (i * 37.0) % 360.0, 50.0 + i * 431.0)
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "i long, lon double, lat double, b double, d double")
    dlon, dlat = destination_cols(F.col("lon"), F.col("lat"), F.col("b"), F.col("d"))
    out = df.select(
        "i", "b", "d",
        haversine_m_col(F.col("lon"), F.col("lat"), dlon, dlat).alias("back_d"),
        bearing_deg_col(F.col("lon"), F.col("lat"), dlon, dlat).alias("back_b"),
    ).collect()
    for r in out:
        assert abs(r.back_d - r.d) < 1e-3, r.i  # sub-mm on km-scale arcs
        db = min(abs(r.back_b - r.b), 360.0 - abs(r.back_b - r.b))
        assert db < 1e-5, (r.i, r.back_b, r.b)
