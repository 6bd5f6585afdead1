"""From-scratch S2 cell ids: structural invariants of the published scheme,
parity with external libraries when installed (skip-if-absent), and the
Spark column adapter.

The invariants below pin every layer of the construction independently:
face assignment (the 6 canonical level-0 ids), the Hilbert curve (adjacent
curve positions must be grid-adjacent — any lookup-table error breaks this
at 4-bit block boundaries, which random ids hit constantly), the hierarchy
bit-algebra (parent/level), and the exact encode<->decode inverse.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from simple_osm_queries_spark.functions import cells as C
from simple_osm_queries_spark.functions import s2
from tests.cell_oracle import cell_level, s2_cell_to_face_ij, s2_cell_to_lnglat

RNG = np.random.RandomState(7)
LON = RNG.uniform(-180.0, 180.0, 4000)
LAT = RNG.uniform(-90.0, 90.0, 4000)


def test_face_cells():
    # (lng, lat) -> face per the canonical axis order; level-0 id is
    # face<<61 | 1<<60
    for lng, lat, face in [
        (0, 0, 0), (90, 0, 1), (0, 90, 2), (180, 0, 3), (-90, 0, 4), (0, -90, 5),
    ]:
        cid = s2.lnglat_to_cell([lng], [lat], level=0)[0]
        assert cid == np.uint64(2 * face + 1) << np.uint64(60)


def test_hierarchy_and_containment():
    leaf = s2.lnglat_to_cell(LON, LAT, 30)
    for level in (0, 5, 12, 20, 29):
        direct = s2.lnglat_to_cell(LON, LAT, level)
        assert np.array_equal(direct, s2.parent_id(leaf, level))
        assert np.all(cell_level(direct) == level)
    assert np.all(cell_level(leaf) == 30)


def test_encode_decode_inverse():
    leaf = s2.lnglat_to_cell(LON, LAT, 30)
    face, i, j = s2_cell_to_face_ij(leaf)
    assert np.array_equal(leaf, s2.face_ij_to_cell(face, i, j, 30))
    assert np.all((0 <= i) & (i < (1 << 30)) & (0 <= j) & (j < (1 << 30)))


def test_interior_point_reencodes_to_same_cell():
    for level in (2, 9, 16, 23, 30):
        cid = s2.lnglat_to_cell(LON, LAT, level)
        lon2, lat2 = s2_cell_to_lnglat(cid)
        assert np.array_equal(cid, s2.lnglat_to_cell(lon2, lat2, level)), level


def test_hilbert_adjacency():
    # consecutive leaves along the curve share a grid edge (same face)
    leaf = s2.lnglat_to_cell(LON, LAT, 30)
    nxt = leaf + np.uint64(2)
    fa, ia, ja = s2_cell_to_face_ij(leaf)
    fb, ib, jb = s2_cell_to_face_ij(nxt)
    same = fa == fb
    assert same.sum() > 3900  # crossing a face edge is measure-~0
    d = np.abs(ia - ib) + np.abs(ja - jb)
    assert np.all(d[same] == 1)


def test_signed_wrap_round_trip():
    leaf = s2.lnglat_to_cell(LON, LAT, 30)
    signed = s2.to_signed(leaf)
    assert np.array_equal(signed.view(np.uint64), leaf)
    assert (signed < 0).any() and (signed > 0).any()  # faces 4-5 wrap negative


def test_quadratic_projection_fixed_points():
    st = s2._uv_to_st(np.array([-1.0, 0.0, 1.0, 1.0 / 3.0]))
    assert st == pytest.approx([0.0, 0.5, 1.0, np.sqrt(2.0) / 2.0])


def test_parity_with_s2sphere_if_installed():
    s2sphere = pytest.importorskip("s2sphere")
    for lng, lat in zip(LON[:200], LAT[:200]):
        want = s2sphere.CellId.from_lat_lng(
            s2sphere.LatLng.from_degrees(float(lat), float(lng))
        ).parent(12).id()
        got = int(s2.lnglat_to_cell([lng], [lat], 12)[0])
        assert got == want, (lng, lat)


def test_spark_column_matches_numpy(spark):
    import pandas as pd

    pdf = pd.DataFrame({"lon": LON[:500], "lat": LAT[:500]})
    got = (
        spark.createDataFrame(pdf)
        .select(C.cell_s2(F.col("lon"), F.col("lat"), 12).alias("c"))
        .toPandas()["c"]
        .to_numpy()
    )
    want = s2.to_signed(s2.lnglat_to_cell(LON[:500], LAT[:500], 12))
    assert np.array_equal(got, want)


def test_level_validation():
    with pytest.raises(ValueError, match="level"):
        s2.lnglat_to_cell([0.0], [0.0], 31)


def test_boundary_points():
    """Poles, date line, equator, and exact face-edge diagonals (u or v on
    the +-1 boundary) must produce valid ids whose decode round-trips."""
    lngs = [0.0, 180.0, -180.0, 90.0, -90.0, 45.0, -45.0, 135.0, -135.0, 179.9999999]
    lats = [0.0, 90.0, -90.0, 45.0, -45.0, 35.264389682754654,  # atan(1/sqrt(2)): cube corner
            -35.264389682754654, 89.9999999, -89.9999999]
    pts = [(lg, lt) for lg in lngs for lt in lats]
    lon = np.array([p[0] for p in pts])
    lat = np.array([p[1] for p in pts])
    for level in (0, 10, 30):
        cells = s2.lnglat_to_cell(lon, lat, level)
        assert np.all(cell_level(cells) == level)
        faces = (cells >> np.uint64(61)).astype(int)
        assert np.all((0 <= faces) & (faces <= 5))
        lon2, lat2 = s2_cell_to_lnglat(cells)
        again = s2.lnglat_to_cell(lon2, lat2, level)
        assert np.array_equal(cells, again)
    # the poles land on the +z/-z faces
    assert int(s2.lnglat_to_cell([0.0], [90.0], 0)[0] >> np.uint64(61)) == 2
    assert int(s2.lnglat_to_cell([0.0], [-90.0], 0)[0] >> np.uint64(61)) == 5


def test_dateline_adjacent_cells():
    """+180 and -180 name the same meridian but are distinct float inputs
    (sin(+-pi) = +-1.2e-16), so they land in ADJACENT leaves straddling the
    meridian — the same behavior as the reference implementations, which use
    the identical trig pipeline. Assert same face, grid-adjacent."""
    a = s2.lnglat_to_cell([180.0, 180.0], [10.0, -33.0], 30)
    b = s2.lnglat_to_cell([-180.0, -180.0], [10.0, -33.0], 30)
    fa, ia, ja = s2_cell_to_face_ij(a)
    fb, ib, jb = s2_cell_to_face_ij(b)
    assert np.array_equal(fa, fb)
    assert np.all(np.abs(ia - ib) + np.abs(ja - jb) <= 1)


def test_face_axis_canonical_tie_order():
    """Face selection must follow the canonical LargestAbsComponent
    branch order — (ax>ay)?(ax>az?0:2):(ay>az?1:2) — which prefers y over
    x and z over either on EXACT ties (boundary doubles like lon=45 where
    sin == cos bit-for-bit)."""

    def canonical_axis(x, y, z):
        ax, ay, az = abs(x), abs(y), abs(z)
        return (0 if ax > az else 2) if ax > ay else (1 if ay > az else 2)

    lngs = np.concatenate([np.array([45.0, -45.0, 135.0, -135.0, 0.0, 90.0]),
                           RNG.uniform(-180, 180, 300)])
    lats = np.concatenate([np.array([0.0, 45.0, -45.0, 35.264389682754654, 90.0, -90.0]),
                           RNG.uniform(-90, 90, 300)])
    n = min(len(lngs), len(lats))
    lon, lat = lngs[:n], lats[:n]
    face, _u, _v = s2._lnglat_to_face_uv(lon, lat)
    lonr, latr = np.radians(lon), np.radians(lat)
    x = np.cos(latr) * np.cos(lonr)
    y = np.cos(latr) * np.sin(lonr)
    z = np.sin(latr)
    for i in range(n):
        want = canonical_axis(float(x[i]), float(y[i]), float(z[i]))
        assert face[i] % 3 == want, (lon[i], lat[i], face[i], want)
    # lon=45, lat=0: sin(pi/4) == cos(pi/4) in IEEE -> exact tie -> face 1
    if float(np.sin(np.radians(45.0))) == float(np.cos(np.radians(45.0))):
        assert int(s2.lnglat_to_cell([45.0], [0.0], 0)[0]) == (2 * 1 + 1) << 60


def test_column_bit_algebra_matches_numpy(spark):
    """parent_id_col (signed-long JVM bit math) vs the numpy form,
    including faces 4/5 where bit 63 makes the long negative."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    rng = np.random.default_rng(42)
    lon = rng.uniform(-180, 180, 200)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 200)))
    cells = s2.lnglat_to_cell(lon, lat, 20)
    assert (cell_level(cells) == 20).all()
    signed = s2.to_signed(cells)
    df = spark.createDataFrame(pd.DataFrame({"c": signed}))
    rows = df.select(
        "c",
        s2.parent_id_col(F.col("c"), 10).alias("p"),
    ).collect()
    want_p = s2.to_signed(s2.parent_id(cells, 10))
    got = {r.c: r.p for r in rows}
    for c, p in zip(signed.tolist(), want_p.tolist()):
        assert got[c] == p
