import pandas as pd
from pyspark.sql import functions as F

from simple_osm_queries_spark.functions import cells as C
from tests import cell_oracle


def test_trunc_toward_zero_matches_go_int():
    """Go's int() conversion truncates toward zero (common/cell.go:8) —
    cell(-0.05, -0.05) is (0, 0), NOT (-1, -1)."""
    assert cell_oracle.cell_xy_py(-0.05, -0.05) == (0, 0)
    assert cell_oracle.cell_xy_py(-0.15, 0.15) == (-1, 1)
    assert cell_oracle.cell_xy_py(9.95, 53.55) == (99, 535)
    assert cell_oracle.cell_xy_py(10.0, 53.6) == (100, 536)


def test_spark_cell_matches_python(spark):
    pdf = pd.DataFrame({"lon": [-0.05, -0.15, 9.95, 10.0, 179.99, -179.99],
                        "lat": [-0.05, 0.15, 53.55, 53.6, 89.9, -89.9]})
    df = spark.createDataFrame(pdf).select(
        "lon", "lat",
        C.cell_x(F.col("lon")).alias("x"),
        C.cell_y(F.col("lat")).alias("y"),
        C.cell_of(F.col("lon"), F.col("lat")).alias("cell"),
    )
    for r in df.collect():
        x, y = cell_oracle.cell_xy_py(r.lon, r.lat)
        assert (r.x, r.y) == (x, y)
        assert r.cell == cell_oracle.pack_cell_py(x, y)


def test_pack_unpack_roundtrip(spark):
    """pack_cell is invertible over the whole grid range, negative indices
    included: x and y come back from the packed long."""
    pdf = pd.DataFrame({"x": [-1800, -1, 0, 1, 1799], "y": [-900, -1, 0, 1, 899]})
    df = spark.createDataFrame(pdf)
    packed = df.select("x", "y", C.pack_cell(F.col("x"), F.col("y")).alias("c"))
    for r in packed.collect():
        assert ((r.c >> C._SHIFT) - C._OFF, (r.c & ((1 << C._SHIFT) - 1)) - C._OFF) == (r.x, r.y)


def test_tile_spark_matches_python(spark):
    pdf = pd.DataFrame({
        "lon": [9.95, -179.9, 179.9, 0.0, 10.05],
        "lat": [53.55, 80.0, -80.0, 0.0, 53.65],
    })
    z = 13
    df = spark.createDataFrame(pdf).select(
        "lon", "lat",
        C.tile_x(F.col("lon"), z).alias("tx"),
        C.tile_y(F.col("lat"), z).alias("ty"),
        C.tile_of(F.col("lon"), F.col("lat"), z).alias("tid"),
    )
    for r in df.collect():
        tx, ty = cell_oracle.tile_xy_py(r.lon, r.lat, z)
        assert (r.tx, r.ty) == (tx, ty)
        assert r.tid == C.tile_id_py(tx, ty, z)


def test_h3_s2_fallback_deterministic(spark):
    pdf = pd.DataFrame({"lon": [9.95, 10.01], "lat": [53.55, 53.61]})
    df = spark.createDataFrame(pdf).select(
        C.cell_h3(F.col("lon"), F.col("lat"), 8).alias("h3"),
        C.cell_s2(F.col("lon"), F.col("lat"), 12).alias("s2"),
    )
    a = [tuple(r) for r in df.collect()]
    b = [tuple(r) for r in df.collect()]
    assert a == b
    assert all(v is not None for row in a for v in row)
    # nearby but distinct points land in distinct fine cells
    assert a[0][0] != a[1][0]


def test_geohash_column_matches_python_and_known_values(spark):
    from simple_osm_queries_spark.functions.cells import geohash
    from tests.cell_oracle import geohash_py

    pts = [(-5.6, 42.6), (-122.4194, 37.7749), (13.361389, 38.115556), (9.95, 53.55), (179.9, -89.9)]
    pdf = pd.DataFrame(pts, columns=["lon", "lat"])
    rows = (
        spark.createDataFrame(pdf)
        .select("lon", "lat", geohash(F.col("lon"), F.col("lat"), 9).alias("gh"))
        .collect()
    )
    for r in rows:
        assert r.gh == geohash_py(r.lon, r.lat, 9), (r.lon, r.lat)
    # canonical published value (wikipedia geohash article)
    assert geohash_py(-5.6, 42.6, 5) == "ezs42"


def test_zorder_key_interleaves(spark):
    from simple_osm_queries_spark.functions.cells import _bits_col, zorder_key

    pdf = pd.DataFrame({"x": [0, 1, 2, 3, 100.0], "y": [0, 1, 2, 3, 200.0]})
    rows = (
        spark.createDataFrame(pdf)
        .select(
            "x", "y",
            zorder_key(
                _bits_col(F.col("x"), 0.0, 256.0, 8),
                _bits_col(F.col("y"), 0.0, 256.0, 8),
                8,
            ).alias("z"),
        )
        .collect()
    )

    def interleave(a, b):
        out = 0
        for i in range(8):
            out |= ((a >> i) & 1) << (2 * i + 1)
            out |= ((b >> i) & 1) << (2 * i)
        return out

    for r in rows:
        assert r.z == interleave(int(r.x), int(r.y))
