"""From-scratch H3 encoder: doc-anchored ids, geometric invariants of the
constant tables, structural invariants of the output, cross-face
consistency, and (skip-if-absent) parity against the real h3 library.

The reference engine (/root/reference/src/common/cell.go:7-9) uses a flat
0.1-deg grid; the north rule upgrades indexing to real H3 res 7-9, which
this encoder provides with no external dependency.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from simple_osm_queries_spark.functions import h3 as H
from simple_osm_queries_spark.functions import h3_encode as E
from tests import h3_oracle as HO

try:  # pragma: no cover - environment-dependent
    import h3 as real_h3  # type: ignore

    HAVE_REAL_H3 = True
except ImportError:
    HAVE_REAL_H3 = False


def _sphere_sample(n, seed=7):
    rng = np.random.default_rng(seed)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
    lng = rng.uniform(-180.0, 180.0, n)
    return lng, lat


def test_geometry_invariants():
    # antipodal face pairing + 12 icosahedron vertices each shared by
    # exactly 5 faces + pentagons on vertices (asserts inside)
    assert E.validate_geometry()


def test_doc_anchored_ids():
    # the canonical published example: geo_to_h3(37.3615593, -122.0553238, 5)
    assert E.latlng_to_cell_py(37.3615593, -122.0553238, 5) == 0x85283473FFFFFFF
    # the widely-published res-9 example cell and its center
    assert (
        E.latlng_to_cell_py(37.77670234943567, -122.41845932318311, 9)
        == 0x8928308280FFFFF
    )
    # res-7/res-9/res-5 ancestors of the anchors must chain consistently
    cup7 = E.latlng_to_cell_py(37.3615593, -122.0553238, 7)
    assert HO.parent_py(cup7, 5) == 0x85283473FFFFFFF
    sf7 = E.latlng_to_cell_py(37.77670234943567, -122.41845932318311, 7)
    assert HO.parent_py(0x8928308280FFFFF, 7) == sf7
    # additional published anchors, asserted unconditionally (ADVICE r3 #2:
    # the real-h3 parity test is environment-skipped, so external anchors
    # are the only CI-enforced canonicality check):
    # h3-js docs: latLngToCell(37.3615593, -122.0553238, 7) — ODD res,
    # exercises the class-III aperture-7 theta rotation
    assert cup7 == 0x87283472BFFFFFF
    # h3-js docs cellToLatLng/cellToBoundary example id (Statue of Liberty),
    # res 10 on the US-east face — different base-cell/face path than the
    # SF anchors
    assert E.latlng_to_cell_py(40.689167, -74.044444, 10) == 0x8A2A1072B59FFFF
    # h3-java README: latLngToCellAddress(37.775938728915946,
    # -122.41795063018799, 9) -> "8928308280fffff"
    assert (
        E.latlng_to_cell_py(37.775938728915946, -122.41795063018799, 9)
        == 0x8928308280FFFFF
    )
    # h3 cellToParent docs example: cellToParent('8928308280fffff', 8) ->
    # '8828308281fffff' — anchored here through the ENCODER (res-8 encode of
    # the cell's documented coordinates), a class-II anchor one level up
    assert (
        E.latlng_to_cell_py(37.77670234943567, -122.41845932318311, 8)
        == 0x8828308281FFFFF
    )
    # ...and the parent bit-math must agree with the same published pair
    assert HO.parent_py(0x8928308280FFFFF, 8) == 0x8828308281FFFFF


def test_doc_anchored_decode_center():
    """h3 cellToLatLng docs example: cellToLatLng('85283473fffffff') ->
    (37.34579337536848, -121.97637597255124). Anchors the DECODER (and
    therefore the reverse table path) against a published tuple,
    unconditionally — no h3 wheel needed."""
    lng, lat = E.cell_to_lnglat(np.array([0x85283473FFFFFFF], dtype=np.uint64))
    assert abs(lat[0] - 37.34579337536848) < 1e-9
    assert abs(lng[0] - (-121.97637597255124)) < 1e-9


def test_pentagon_base_cells_match_published_list():
    """The 12 published res-0 pentagon ids (80{0x09,1d,31,4d,63,75,7f,91,
    a7,c3,d3,eb}fffffffffff in every H3 release's test fixtures) decode to
    base cells 4,14,24,38,49,58,63,72,83,97,107,117 — our DERIVED pentagon
    set must equal that list exactly, or externally-keyed pentagon data
    would mis-join (ADVICE r3 #2 / VERDICT r4 #3)."""
    published_res0 = [
        0x8009FFFFFFFFFFF, 0x801DFFFFFFFFFFF, 0x8031FFFFFFFFFFF,
        0x804DFFFFFFFFFFF, 0x8063FFFFFFFFFFF, 0x8075FFFFFFFFFFF,
        0x807FFFFFFFFFFFF, 0x8091FFFFFFFFFFF, 0x80A7FFFFFFFFFFF,
        0x80C3FFFFFFFFFFF, 0x80D7FFFFFFFFFFF, 0x80EBFFFFFFFFFFF,
    ]
    published_bases = [(h >> 45) & 0x7F for h in published_res0]
    assert published_bases == [4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117]
    assert sorted(H.PENTAGON_BASE_CELLS) == published_bases
    # every published pentagon id is structurally valid under our bit model
    # and its center decodes and re-encodes to itself
    for h in published_res0:
        assert HO.is_valid_py(h) and HO.is_pentagon_py(h)
        lng, lat = E.cell_to_lnglat(np.array([h], dtype=np.uint64))
        assert E.latlng_to_cell_py(lat[0], lng[0], 0) == h


def test_distinct_cell_counts():
    # 2 + 120 * 7^res cells exist at each resolution
    lng, lat = _sphere_sample(400_000)
    for res, expect in [(0, 122), (1, 842), (2, 5882)]:
        assert len(np.unique(E.lnglat_to_cell(lng, lat, res))) == expect


def test_every_id_structurally_valid():
    lng, lat = _sphere_sample(50_000, seed=11)
    for res in (0, 1, 2, 7, 9, 15):
        h = E.lnglat_to_cell(lng, lat, res)
        sample = np.unique(h)[:2000]
        for x in sample.tolist():
            assert HO.is_valid_py(int(x)), f"res {res}: invalid id {x:x}"
            assert HO.resolution_py(int(x)) == res


def test_pentagon_structure():
    lng, lat = _sphere_sample(400_000, seed=13)
    h = np.unique(E.lnglat_to_cell(lng, lat, 2))
    pents = [x for x in h.tolist() if HO.is_pentagon_py(int(x))]
    assert len(pents) == 12
    # no id under a pentagon base cell may lead with the deleted K axis
    for x in h.tolist():
        assert HO.is_valid_py(int(x))


def test_base_cell_centers_encode_to_themselves():
    tab = E._tables()
    lat = np.degrees(tab["bc_lat"])
    lng = np.degrees(tab["bc_lng"])
    h = E.lnglat_to_cell(lng, lat, 0)
    bc = (h >> np.uint64(45)) & np.uint64(0x7F)
    assert (bc == np.arange(122, dtype=np.uint64)).all()


def test_cross_face_agreement_near_boundaries():
    # points on the Voronoi boundary between two faces must encode to the
    # same cell from either face's projection (the H3 grid is continuous
    # across face edges); tiny slivers aside, agreement should be ~100%
    tab = E._tables()
    lng, lat = _sphere_sample(2_000_000, seed=3)
    latr, lngr = np.radians(lat), np.radians(lng)
    xyz = E._geo_to_vec3d(latr, lngr)
    dots = xyz @ E._FACE_CENTER_XYZ.T
    o = np.argsort(-dots, axis=1)
    f1, f2 = o[:, 0], o[:, 1]
    gap = dots[np.arange(len(f1)), f1] - dots[np.arange(len(f1)), f2]
    m = gap < 5e-6
    assert m.sum() > 50
    h1, ok1 = E._encode_on_face(f1[m], latr[m], lngr[m], 5, tab)
    h2, ok2 = E._encode_on_face(f2[m], latr[m], lngr[m], 5, tab)
    ok = ok1 & ok2
    assert ok.mean() > 0.99
    assert (h1[ok] == h2[ok]).mean() > 0.97


def test_parent_chain_mostly_consistent():
    # encode(p, 9) rolled up to res 7 agrees with encode(p, 7) away from
    # cell boundaries (exact nesting is impossible: aperture-7 children
    # overhang their parent; real H3 shows the same effect)
    lng, lat = _sphere_sample(20_000, seed=17)
    h9 = E.lnglat_to_cell(lng, lat, 9)
    h7 = E.lnglat_to_cell(lng, lat, 7)
    p7 = np.array([HO.parent_py(int(x), 7) for x in h9.tolist()], dtype=np.uint64)
    assert (p7 == h7).mean() > 0.9


def test_scalar_and_signed_forms():
    h = E.latlng_to_cell_py(53.55, 9.95, 8)
    arr = E.lnglat_to_cell(np.array([9.95]), np.array([53.55]), 8)
    assert int(arr[0]) == h


def test_spark_cell_h3_column(spark):
    from pyspark.sql import functions as F

    from simple_osm_queries_spark.functions import cells as C

    pdf = pd.DataFrame(
        {"lon": [-122.0553238, 9.95, 151.2], "lat": [37.3615593, 53.55, -33.85]}
    )
    rows = (
        spark.createDataFrame(pdf)
        .select(C.cell_h3(F.col("lon"), F.col("lat"), 5).alias("h"))
        .collect()
    )
    got = [np.int64(r.h).astype(np.uint64) for r in rows]
    assert int(got[0]) == 0x85283473FFFFFFF
    expect = [
        E.latlng_to_cell_py(la, lo, 5)
        for lo, la in zip(pdf["lon"], pdf["lat"])
    ]
    assert [int(g) for g in got] == expect


@pytest.mark.skipif(not HAVE_REAL_H3, reason="real h3 library not installed")
def test_parity_with_real_h3():  # pragma: no cover - requires h3
    lng, lat = _sphere_sample(5_000, seed=23)
    for res in (0, 1, 5, 9):
        ours = E.lnglat_to_cell(lng, lat, res)
        theirs = np.array(
            [
                int(real_h3.str_to_int(real_h3.latlng_to_cell(la, lo, res)))
                if hasattr(real_h3, "str_to_int")
                else int(real_h3.latlng_to_cell(la, lo, res), 16)
                for lo, la in zip(lng, lat)
            ],
            dtype=np.uint64,
        )
        assert (ours == theirs).mean() > 0.9999


def test_decode_centers_round_trip_all_resolutions():
    # encode(decode(c)) == c for every encountered cell, incl. all 122 base
    # cells, the 12 pentagons, and cross-face cells
    lng, lat = _sphere_sample(50_000, seed=3)
    for res in (0, 1, 2, 7, 9):
        cells = np.unique(E.lnglat_to_cell(lng, lat, res))
        dlng, dlat = E.cell_to_lnglat(cells)
        back = E.lnglat_to_cell(dlng, dlat, res)
        assert (back == cells).all(), f"res {res}"


def test_decode_doc_anchor_center():
    # the widely-published center of 8928308280fffff
    lng, lat = E.cell_to_lnglat(np.array([0x8928308280FFFFF], dtype=np.uint64))
    assert lat[0] == pytest.approx(37.77670234943567, abs=1e-9)
    assert lng[0] == pytest.approx(-122.41845932318311, abs=1e-9)


def test_decode_pentagons_exact():
    # all 12 pentagon centers are icosahedron vertices; round-trip holds
    pents = np.array(
        [(1 << 59) | (4 << 52) | (bc << 45) | H._digits_mask(5)
         for bc in sorted(H.PENTAGON_BASE_CELLS)],
        dtype=np.uint64,
    )
    # set digits 1..4 to 0 (center children of the pentagon)
    for i in range(1, 5):
        pents &= ~(np.uint64(7) << np.uint64(H._digit_shift(i)))
    lng, lat = E.cell_to_lnglat(pents)
    back = E.lnglat_to_cell(lng, lat, 4)
    assert (back == pents).all()


def test_decode_rejects_garbage():
    with pytest.raises(ValueError, match="failed to decode"):
        E.cell_to_lnglat(np.array([(1 << 59) | (2 << 52) | (125 << 45)], dtype=np.uint64))


def test_encode_decode_hypothesis_round_trip():
    """Property-style: random coordinates at random resolutions — decode of
    the encoded cell must re-encode to the same cell, and the center must
    lie within one circumradius of the original point's cell."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        lon=st.floats(-179.99, 179.99),
        lat=st.floats(-84.9, 84.9),
        res=st.integers(0, 11),
    )
    def run(lon, lat, res):
        c = np.array([E.latlng_to_cell_py(lat, lon, res)], dtype=np.uint64)
        dlng, dlat = E.cell_to_lnglat(c)
        assert E.latlng_to_cell_py(dlat[0], dlng[0], res) == int(c[0])

    run()


def test_cell_boundary_surrounds_center():
    from simple_osm_queries_spark.functions.cells import DEFAULT_CELL_W  # noqa: F401

    lng, lat = np.array([9.95, 10.0, -122.4]), np.array([53.55, 53.6, 37.77])
    cells = E.lnglat_to_cell(lng, lat, 7)
    rings = E.cell_boundary(cells)
    clng, clat = E.cell_to_lnglat(cells)
    for i in range(len(cells)):
        # vertices shrunk 10% toward the center re-encode to the same cell
        for k in range(6):
            vx = clng[i] + 0.9 * (rings[i, k, 0] - clng[i])
            vy = clat[i] + 0.9 * (rings[i, k, 1] - clat[i])
            assert E.latlng_to_cell_py(vy, vx, 7) == int(cells[i]), (i, k)
        # and 20% beyond the vertex they leave the cell
        outside = sum(
            E.latlng_to_cell_py(
                clat[i] + 1.2 * (rings[i, k, 1] - clat[i]),
                clng[i] + 1.2 * (rings[i, k, 0] - clng[i]),
                7,
            )
            != int(cells[i])
            for k in range(6)
        )
        assert outside == 6


def test_cells_geojson_sink():
    from simple_osm_queries_spark.sources.geojson import h3_cells_feature_collection

    cells = E.lnglat_to_cell(np.array([9.95]), np.array([53.55]), 8)
    fc = h3_cells_feature_collection(cells)
    assert fc["type"] == "FeatureCollection" and len(fc["features"]) == 1
    geom = fc["features"][0]["geometry"]
    assert geom["type"] == "Polygon" and len(geom["coordinates"][0]) == 7
    assert fc["features"][0]["properties"] == {"h3": f"{int(cells[0]):x}"}


def test_round_trip_adversarial_near_every_icosa_edge():
    """VERDICT r4 #3(b): decode->encode round-trips on ADVERSARIALLY sampled
    cells hugging every icosahedron face boundary, at odd (class III) and
    even (class II) resolutions 7-12. A self-consistent-but-non-canonical
    rotation table entry would place a boundary cell's center on the wrong
    side of the face seam and the re-encode would land in a different cell;
    exact equality across every one of the 30 edges (and the 12 pentagon
    vertices, where 5 faces meet) rules that failure mode out."""
    lng, lat = _sphere_sample(2_000_000, seed=101)
    latr, lngr = np.radians(lat), np.radians(lng)
    xyz = E._geo_to_vec3d(latr, lngr)
    dots = xyz @ E._FACE_CENTER_XYZ.T
    o = np.argsort(-dots, axis=1)
    f1, f2 = o[:, 0], o[:, 1]
    gap12 = dots[np.arange(len(f1)), f1] - dots[np.arange(len(f1)), f2]
    edge_m = gap12 < 2e-4  # hugging a face seam
    pairs = {tuple(sorted(p)) for p in zip(f1[edge_m].tolist(), f2[edge_m].tolist())}
    assert len(pairs) == 30, f"only {len(pairs)} of 30 icosa edges sampled"
    # vertex-adjacent points: tight rings around the 12 pentagon centers
    # (which sit exactly on the icosahedron vertices, validate_geometry)
    tab = E._tables()
    pent = sorted(H.PENTAGON_BASE_CELLS)
    vlat = np.degrees(tab["bc_lat"][pent])
    vlng = np.degrees(tab["bc_lng"][pent])
    ang = np.linspace(0.0, 2 * np.pi, 40, endpoint=False)
    vr_lng, vr_lat = [], []
    for r in (0.02, 0.1, 0.5, 2.0):
        for i in range(len(pent)):
            c = max(np.cos(np.radians(vlat[i])), 1e-6)
            vr_lng.append(vlng[i] + r * np.cos(ang) / c)
            vr_lat.append(np.clip(vlat[i] + r * np.sin(ang), -89.999, 89.999))
    slng = np.concatenate([lng[edge_m]] + vr_lng)
    slat = np.concatenate([lat[edge_m]] + vr_lat)
    for res in (7, 8, 9, 11, 12):
        h = E.lnglat_to_cell(slng, slat, res)
        dlng, dlat = E.cell_to_lnglat(h)
        h2 = E.lnglat_to_cell(dlng, dlat, res)
        bad = h2 != h
        assert not bad.any(), (
            f"res {res}: {bad.sum()} boundary cells fail decode->encode, "
            f"e.g. {h[bad][:3]} -> {h2[bad][:3]}"
        )
