"""Geodesic (haversine) kNN + wrap-aware covers (VERDICT r4 #1).

The reference's grid is planar (/root/reference/src/common/cell.go:7-9);
the haversine path is the engine's globally-correct extension: great-circle
ranking in meters, spherical disc covers that cross poles and the
antimeridian, and plan-time budget pre-checks (ADVICE r4 #4). Oracles here
are independent numpy recomputations (CLAUDE.md test discipline).
"""

import math

import numpy as np
import pandas as pd
import pytest

from simple_osm_queries_spark.functions import h3_encode as E
from simple_osm_queries_spark.operators import knn


def _haversine_m_np(qlon, qlat, plon, plat):
    """Numpy twin of :func:`knn.haversine_m`."""
    sp = np.sin(np.radians(plat - qlat) / 2.0)
    sl = np.sin(np.radians(plon - qlon) / 2.0)
    a = sp * sp + np.cos(np.radians(qlat)) * np.cos(np.radians(plat)) * sl * sl
    return 2.0 * knn.EARTH_RADIUS_M * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


def _cover_cells(qlon, qlat, res, disc_arc):
    R = disc_arc + knn.h3_max_circumradius_deg(res)
    step = knn.h3_min_inradius_deg(res) / math.sqrt(2.0) * 0.99
    lat_s, lon_off = knn.spherical_disc_offsets(qlat, R, step, max_samples=500_000)
    return set(E.lnglat_to_cell(qlon + lon_off, lat_s, res).tolist())


def _points_within(rng, qlon, qlat, arc_deg, n):
    """Random points within arc_deg of q (spherical direct problem)."""
    d = np.radians(arc_deg) * np.sqrt(rng.rand(n))
    br = rng.rand(n) * 2 * np.pi
    phi1, lam1 = math.radians(qlat), math.radians(qlon)
    phi2 = np.arcsin(np.sin(phi1) * np.cos(d) + np.cos(phi1) * np.sin(d) * np.cos(br))
    lam2 = lam1 + np.arctan2(
        np.sin(br) * np.sin(d) * np.cos(phi1),
        np.cos(d) - np.sin(phi1) * np.sin(phi2),
    )
    return np.degrees(lam2), np.degrees(phi2)


@pytest.mark.parametrize(
    "qlon,qlat,res,disc_arc",
    [
        (179.99, 0.0, 8, 0.02),  # antimeridian crossing
        (-179.995, 45.0, 8, 0.01),
        (10.0, 89.95, 8, 0.2),  # disc crosses the pole
        (0.0, 90.0, 7, 0.5),  # query exactly at the pole
        (10.0, -89.99, 9, 0.05),
        (10.0, 53.5, 8, 0.05),  # plain mid-latitude
    ],
)
def test_spherical_disc_cover_is_superset(qlon, qlat, res, disc_arc):
    """Every cell containing ANY point of the spherical disc is in the
    cover — the prefilter property, at the wrap cases the equirect sampler
    cannot serve."""
    rng = np.random.RandomState(7)
    cov = _cover_cells(qlon, qlat, res, disc_arc)
    plon, plat = _points_within(rng, qlon, qlat, disc_arc, 4000)
    point_cells = set(E.lnglat_to_cell(plon, plat, res).tolist())
    assert point_cells <= cov, f"{len(point_cells - cov)} cells missing from cover"


def test_haversine_column_matches_numpy(spark):
    """Column-math haversine vs the numpy twin, incl. antimeridian pairs
    where a naive lon difference would be 359.9 degrees."""
    rows = [
        (179.95, 10.0, -179.95, 10.0),
        (-179.99, -45.0, 179.99, -45.1),
        (0.0, 89.99, 180.0, 89.99),  # over the pole
        (10.0, 53.5, 10.1, 53.6),
    ]
    df = spark.createDataFrame(rows, "qlon double, qlat double, lon double, lat double")
    from pyspark.sql import functions as F

    got = (
        df.withColumn(
            "d", knn.haversine_m(F.col("qlon"), F.col("qlat"), F.col("lon"), F.col("lat"))
        )
        .toPandas()["d"]
        .to_numpy()
    )
    exp = np.array([_haversine_m_np(a, b, c, d) for a, b, c, d in rows])
    assert np.allclose(got, exp, rtol=1e-12)
    # the antimeridian pair is ~11 km, not ~half the planet
    assert got[0] < 15_000


@pytest.fixture(scope="module")
def global_points(spark):
    rng = np.random.RandomState(11)
    n = 6000
    lon = np.concatenate(
        [
            rng.uniform(-180, 180, n // 2),
            ((rng.uniform(178, 182, n // 4) + 180) % 360) - 180,  # antimeridian band
            rng.uniform(-180, 180, n // 4),
        ]
    )
    lat = np.concatenate(
        [
            rng.uniform(-60, 60, n // 2),
            rng.uniform(-30, 30, n // 4),
            rng.uniform(85, 89.99, n // 8),  # polar caps
            rng.uniform(-89.99, -85, n // 8),
        ]
    )
    ids = np.arange(n)
    df = spark.createDataFrame(pd.DataFrame({"id": ids, "lon": lon, "lat": lat}))
    return df, ids, lon, lat


KNN_QUERIES = [
    (0, 179.97, 10.0),
    (1, -179.99, -20.0),
    (2, 5.0, 89.9),
    (3, -120.0, -89.5),
    (4, 0.0, 0.0),
    (5, 180.0, 88.0),
]


def _oracle_topk(ids, lon, lat, qlo, qla, k):
    d = _haversine_m_np(qlo, qla, lon, lat)
    order = np.lexsort((ids, d))[:k]
    return ids[order].tolist(), d[order]


def test_knn_h3_exact_haversine_matches_brute_oracle(spark, global_points):
    pts, ids, lon, lat = global_points
    k = 8
    qdf = spark.createDataFrame(
        [(q, lo, la, k) for q, lo, la in KNN_QUERIES],
        "qid long, lon double, lat double, k int",
    )
    res = knn.knn_h3_exact(pts, qdf, res=7, metric="haversine", disc_m=100_000).toPandas()
    assert res["exact"].all()
    for qid, qlo, qla in KNN_QUERIES:
        exp_ids, exp_d = _oracle_topk(ids, lon, lat, qlo, qla, k)
        got = res[res.qid == qid].sort_values("rank")
        assert got["id"].tolist() == exp_ids, f"qid {qid}"
        assert np.allclose(got["dist_m"].to_numpy(), exp_d, rtol=1e-9)


def test_knn_brute_haversine_matches_oracle(spark, global_points):
    """The exact haversine brute force that knn_h3_exact falls back to for
    queries its doubling rounds cannot certify."""
    pts, ids, lon, lat = global_points
    k = 5
    qdf = spark.createDataFrame(
        [(q, lo, la, k) for q, lo, la in KNN_QUERIES[:3]],
        "qid long, lon double, lat double, k int",
    )
    res = knn._brute(pts, qdf, "dist_m", knn.haversine_m).toPandas()
    for qid, qlo, qla in KNN_QUERIES[:3]:
        exp_ids, _ = _oracle_topk(ids, lon, lat, qlo, qla, k)
        assert res[res.qid == qid].sort_values("rank")["id"].tolist() == exp_ids


def test_oversized_disc_fails_at_plan_time(spark, global_points):
    """ADVICE r4 #4: the cover budget check fires on the DRIVER before any
    job launches — a clean ValueError, not an executor PythonException."""
    pts, *_ = global_points
    qdf = spark.createDataFrame(
        [(0, 10.0, 50.0, 3)], "qid long, lon double, lat double, k int"
    )
    with pytest.raises(ValueError, match="samples per query"):
        knn.knn_h3(pts, qdf, res=12, metric="haversine", disc_m=2_000_000)
    with pytest.raises(ValueError, match="samples per query"):
        knn.knn_h3(pts, qdf, res=12, disc_deg=5.0)  # equirect path too


def test_mismatched_disc_parameter_rejected(spark, global_points):
    """Code-review r5: passing the OTHER metric's radius parameter must
    raise instead of silently searching a wildly different disc."""
    pts, *_ = global_points
    qdf = spark.createDataFrame(
        [(0, 10.0, 50.0, 3)], "qid long, lon double, lat double, k int"
    )
    with pytest.raises(ValueError, match="disc_m"):
        knn.knn_h3(pts, qdf, res=8, disc_deg=0.5, metric="haversine")
    with pytest.raises(ValueError, match="disc_deg"):
        knn.knn_h3(pts, qdf, res=8, disc_m=1000.0)
    # the exact-loop variant of the remaining combination: equirect +
    # disc_m must ALSO fail loudly (the doubling loop swallows in-loop
    # ValueErrors by design, so the guard must fire before it)
    with pytest.raises(ValueError, match="disc_deg"):
        knn.knn_h3_exact(pts, qdf, res=8, disc_m=1000.0)
    # an unknown metric fails in both entry points instead of silently
    # running the equirect search with the default disc
    with pytest.raises(ValueError, match="unknown metric"):
        knn.knn_h3(pts, qdf, res=8, metric="geodesic", disc_m=1000.0)
    with pytest.raises(ValueError, match="unknown metric"):
        knn.knn_h3_exact(pts, qdf, res=8, metric="geodesic", disc_m=1000.0)
