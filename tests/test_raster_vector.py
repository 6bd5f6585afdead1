"""raster -> vector inverse direction (operators/tiles.py
pixel_bins_to_points / raster_to_bins) against independent Python oracles
and exact round-trip identities."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from simple_osm_queries_spark.functions.cells import tile_fxy_py, tile_id_py
from simple_osm_queries_spark.operators import tiles as T


def _inverse_py(tile_id: int, px: int, py: int, tile_px: int) -> tuple[float, float]:
    """Independent driver-side inverse (written from the Web-Mercator
    definition, not from the operator's column expressions)."""
    z = tile_id >> 58
    tx = (tile_id >> 29) & ((1 << 29) - 1)
    ty = tile_id & ((1 << 29) - 1)
    n = float(1 << z)
    fx = tx + (px + 0.5) / tile_px
    fy = ty + (py + 0.5) / tile_px
    lon = fx / n * 360.0 - 180.0
    lat = math.degrees(math.atan(math.sinh(math.pi * (1.0 - 2.0 * fy / n))))
    return lon, lat


def _points(spark, n=4000):
    ids = spark.range(n)
    return ids.select(
        (F.lit(9.90) + F.lit(0.20) * (F.col("id") * 0.6180339887 % 1)).alias("lon"),
        (F.lit(53.50) + F.lit(0.20) * (F.col("id") * 0.41421356237 % 1)).alias("lat"),
    )


def test_inverse_matches_python_oracle(spark, monkeypatch):
    rows = []
    rng = np.random.RandomState(7)
    for z in (3, 9, 13, 18):
        for _ in range(30):
            tx = int(rng.randint(0, 1 << z))
            ty = int(rng.randint(0, 1 << z))
            rows.append((tile_id_py(tx, ty, z), int(rng.randint(0, 16)),
                         int(rng.randint(0, 16)), 5))
    bins = spark.createDataFrame(rows, "tile_id long, px int, py int, cnt long")
    monkeypatch.setattr(T, "RASTER_TILE_PX", 16)
    got = T.pixel_bins_to_points(bins).collect()
    assert len(got) == len(rows)
    # the operator preserves row order only per partition; key by value
    want = sorted(_inverse_py(t, x, y, 16) for t, x, y, _ in rows)
    have = sorted((r.lon, r.lat) for r in got)
    for (wl, wt), (hl, ht) in zip(want, have):
        assert hl == pytest.approx(wl, abs=1e-9)
        assert ht == pytest.approx(wt, abs=1e-9)
    assert all(r.cnt == 5 for r in got)


def test_bins_roundtrip_exact(spark, monkeypatch):
    monkeypatch.setattr(T, "RASTER_TILE_PX", 16)
    pts = _points(spark)
    bins = T.tile_pixel_bins(pts, 13, 16)
    centers = T.pixel_bins_to_points(bins)
    assert centers.columns == ["lon", "lat", "cnt"]
    back = T.tile_pixel_bins(centers, 13, 16)
    a = sorted((r.tile_id, r.px, r.py) for r in bins.collect())
    b = sorted((r.tile_id, r.px, r.py, r.cnt) for r in back.collect())
    # integer-exact: centers are 0.5 px from every boundary, one per pixel
    assert b == [k + (1,) for k in a]


def test_raster_to_bins_inverts_heatmap_keys(spark, monkeypatch):
    pts = _points(spark)
    px_n = 32
    monkeypatch.setattr(T, "RASTER_TILE_PX", px_n)
    rasters = T.tile_heatmap(pts, 13, px_n)
    got = T.raster_to_bins(rasters).collect()
    want_keys = {
        (r.tile_id, r.px, r.py) for r in T.tile_pixel_bins(pts, 13, px_n).collect()
    }
    got_keys = {(r.tile_id, r.px, r.py) for r in got}
    assert got_keys == want_keys
    # per-tile normalization: the hottest bin decodes at full brightness
    by_tile: dict[int, int] = {}
    for r in got:
        by_tile[r.tile_id] = max(by_tile.get(r.tile_id, 0), r.intensity)
    assert set(by_tile.values()) == {255}


def test_full_raster_to_points_path(spark, monkeypatch):
    pts = _points(spark, 2000)
    px_n = 16
    monkeypatch.setattr(T, "RASTER_TILE_PX", px_n)
    rasters = T.tile_heatmap(pts, 12, px_n)
    vec = T.pixel_bins_to_points(T.raster_to_bins(rasters)).collect()
    assert vec
    for r in vec:
        fx, fy = tile_fxy_py(r.lon, r.lat, 12)
        assert 0 < r.intensity <= 255
        # every vectorized point re-projects inside SOME valid tile;
        # exactness of the key round trip is covered above
        assert 0.0 <= fx <= 4096.0 and 0.0 <= fy <= 4096.0


def test_raster_to_bins_error_contract(spark, monkeypatch):
    for bad in (b"not a png", None):
        df = spark.createDataFrame([(1, bad)], "tile_id long, png binary")
        with pytest.raises(Exception):
            T.raster_to_bins(df).collect()
    # wrong canvas size: loud
    from simple_osm_queries_spark.sources import codecs

    small = codecs.encode_png(np.full((4, 4, 3), 200, np.uint8))
    df = spark.createDataFrame([(3, small)], "tile_id long, png binary")
    with pytest.raises(Exception):
        T.raster_to_bins(df).collect()
    monkeypatch.setattr(T, "RASTER_TILE_PX", 4)
    assert T.raster_to_bins(df).count() == 16
