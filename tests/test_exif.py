"""EXIF parse (sources/exif.py) + the image->spatial bridge
(operators/multimodal.py extract_exif / geotag_points), fed by the fixture
writer tests/exif_writer.py.

Oracles: hand-computed DMS arithmetic, byte-level TIFF layout invariants
(both endiannesses cross-checked against each other), pixel identity
through metadata edits, and the fuzz-pinned ValueError-only boundary
shared with every codec (CLAUDE.md contract)."""

from __future__ import annotations

import random
import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from simple_osm_queries_spark.sources import codecs, exif
from tests import exif_writer


def _jpeg(seed=0, size=24):
    px = np.random.RandomState(seed).randint(0, 255, (size, size, 3), dtype=np.uint8)
    return codecs.encode_image(px, "jpeg"), px


@pytest.mark.parametrize("byte_order", ["II", "MM"])
@pytest.mark.parametrize(
    "lat,lon",
    [
        (53.5511, 9.9937),
        (-33.8688, 151.2093),
        (-0.000001, -179.999999),
        (90.0, 180.0),
        (-90.0, -180.0),
        (0.0, 0.0),
        # 59.9999999s carry edge: must not emit minute/second == 60
        (10.0 + 59.0 / 60 + 59.99999999 / 3600, 0.0),
    ],
)
def test_gps_roundtrip(byte_order, lat, lon):
    jpg, px = _jpeg()
    j2 = exif_writer.insert_exif(jpg, lat, lon, orientation=6, byte_order=byte_order)
    meta = exif.parse_exif(j2)
    assert meta["lat"] == pytest.approx(lat, abs=1e-9)
    assert meta["lon"] == pytest.approx(lon, abs=1e-9)
    assert meta["orientation"] == 6
    # metadata edit never touches the entropy-coded pixels
    assert np.array_equal(codecs.decode_image(j2, "jpeg"), codecs.decode_image(jpg, "jpeg"))


@settings(max_examples=200, deadline=None)
@given(
    lat=st.floats(min_value=-90, max_value=90, allow_nan=False),
    lon=st.floats(min_value=-180, max_value=180, allow_nan=False),
)
def test_gps_roundtrip_property(lat, lon):
    rats_lat = exif_writer.deg_to_dms(lat)
    rats_lon = exif_writer.deg_to_dms(lon)
    for (d, _), (m, _), (s, den) in (rats_lat, rats_lon):
        assert 0 <= m < 60 and 0 <= s < 60 * den
    assert exif.dms_to_deg(rats_lat) == pytest.approx(abs(lat), abs=1e-9)
    assert exif.dms_to_deg(rats_lon) == pytest.approx(abs(lon), abs=1e-9)


def test_endian_paths_agree():
    jpg, _ = _jpeg(3)
    a = exif.parse_exif(exif_writer.insert_exif(jpg, -12.25, 99.5, 3, byte_order="II"))
    b = exif.parse_exif(exif_writer.insert_exif(jpg, -12.25, 99.5, 3, byte_order="MM"))
    assert a == b


def test_no_exif_parses_to_none():
    jpg, _ = _jpeg(1)
    assert exif.parse_exif(jpg) == {"lat": None, "lon": None, "orientation": None}
    for fmt in ("png", "bmp"):
        data = codecs.encode_image(
            np.zeros((8, 8, 3), dtype=np.uint8), fmt
        )
        with pytest.raises(ValueError):
            exif.parse_exif(data)  # not a JPEG container at all


def test_orientation_only_and_reinsert_replaces():
    jpg, _ = _jpeg(2)
    j2 = exif_writer.insert_exif(jpg, orientation=3)
    assert exif.parse_exif(j2) == {"lat": None, "lon": None, "orientation": 3}
    j3 = exif_writer.insert_exif(j2, 1.5, 2.5)
    assert exif.parse_exif(j3)["orientation"] is None
    assert exif.parse_exif(j3)["lat"] == pytest.approx(1.5, abs=1e-9)
    # exactly ONE Exif APP1 in the replaced stream
    n_app1 = sum(
        1
        for marker, s, e in exif._segments(j3)
        if marker == 0xE1 and j3[s + 4 : s + 10] == b"Exif\x00\x00"
    )
    assert n_app1 == 1


def test_app1_goes_after_app0():
    jpg, _ = _jpeg(4)
    j2 = exif_writer.insert_exif(jpg, 1.0, 2.0)
    markers = [m for m, _s, _e in exif._segments(j2)]
    if 0xE0 in markers:  # our encoder writes JFIF APP0
        assert markers.index(0xE1) == markers.index(0xE0) + 1


def test_bad_inputs_rejected():
    jpg, _ = _jpeg(6)
    with pytest.raises(ValueError):
        exif_writer.insert_exif(jpg, 91.0, 0.0)
    with pytest.raises(ValueError):
        exif_writer.insert_exif(jpg, 0.0, 181.0)
    with pytest.raises(ValueError):
        exif_writer.insert_exif(jpg, 1.0, None)
    with pytest.raises(ValueError):
        exif_writer.insert_exif(jpg, orientation=9)
    with pytest.raises(ValueError):
        exif_writer.build_exif_app1(1.0, 2.0, byte_order="XX")


def test_fuzz_valueerror_only_boundary():
    jpg, _ = _jpeg(7)
    j2 = exif_writer.insert_exif(jpg, 53.5, 10.0, 6)
    rng = random.Random(11)
    for n in range(0, len(j2), 5):  # truncation sweep
        try:
            exif.parse_exif(j2[:n])
        except ValueError:
            pass
    for _ in range(800):  # random corruption
        b = bytearray(j2)
        for _k in range(rng.randint(1, 8)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        try:
            exif.parse_exif(bytes(b))
        except ValueError:
            pass


def test_parse_handles_big_endian_foreign_layout():
    """A hand-built MM TIFF with the IFD at a non-default offset and the
    GPS IFD placed BEFORE its rationals — layouts a foreign writer may
    emit that our own writer doesn't."""
    # TIFF: header(8) + gap(4) + IFD0 at 12
    def entry(tag, typ, count, val4):
        return struct.pack(">HHI", tag, typ, count) + val4

    gps_off = 12 + 2 + 12 * 1 + 4
    rat_off = gps_off + 2 + 12 * 3 + 4
    ifd0 = struct.pack(">H", 1) + entry(0x8825, 4, 1, struct.pack(">I", gps_off))
    ifd0 += struct.pack(">I", 0)
    gps = struct.pack(">H", 3)
    gps += entry(0x0001, 2, 2, b"S\x00\x00\x00")
    gps += entry(0x0002, 5, 3, struct.pack(">I", rat_off))
    gps += entry(0x0003, 2, 2, b"E\x00\x00\x00")
    gps += struct.pack(">I", 0)
    rats = struct.pack(">6I", 12, 1, 30, 1, 36, 10)  # 12d 30m 3.6s
    tiff = b"MM" + struct.pack(">HI", 42, 12) + b"\x00" * 4 + ifd0 + gps + rats
    payload = b"Exif\x00\x00" + tiff
    app1 = b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload
    jpg, _ = _jpeg(8)
    j = jpg[:2] + app1 + jpg[2:]
    meta = exif.parse_exif(j)
    assert meta["lat"] == pytest.approx(-(12 + 30 / 60 + 3.6 / 3600), abs=1e-12)
    assert meta["lon"] is None  # lon ref present but no lon values


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------


def _image_table(spark):
    rows = []
    for i in range(12):
        jpg, _ = _jpeg(seed=100 + i, size=16)
        if i % 3 == 0:
            jpg = exif_writer.insert_exif(jpg, 50.0 + i * 0.25, 8.0 - i * 0.5, 1 + i % 8)
        rows.append((f"img{i:03d}", jpg, "jpeg"))
    rows.append(("png0", codecs.encode_image(np.zeros((8, 8, 3), np.uint8), "png"), "png"))
    return spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")


def test_extract_exif_spark(spark):
    from simple_osm_queries_spark.operators.multimodal import extract_exif

    df = _image_table(spark)
    got = {r.image_id: r for r in extract_exif(df).collect()}
    assert len(got) == 13
    for i in range(12):
        r = got[f"img{i:03d}"]
        if i % 3 == 0:
            assert r.exif_lat == pytest.approx(50.0 + i * 0.25, abs=1e-9)
            assert r.exif_lon == pytest.approx(8.0 - i * 0.5, abs=1e-9)
            assert r.exif_orientation == 1 + i % 8
        else:
            assert r.exif_lat is None and r.exif_lon is None
    assert got["png0"].exif_lat is None  # non-JPEG sniffed, not errored


def _without_exif(data: bytes) -> bytes:
    """``data`` with every APP1 (Exif) segment spliced out; non-JPEG bytes
    pass through."""
    if data[:2] != b"\xff\xd8":
        return data
    cut = [(s, e) for m, s, e in exif._segments(data) if m == 0xE1]
    for s, e in reversed(cut):
        data = data[:s] + data[e:]
    return data


def test_strip_exif_spark_and_on_error(spark):
    """extract_exif reads no metadata from Exif-stripped JPEG rows, and a
    corrupt or NULL row raises by default and is dropped with
    on_error='skip'."""
    from simple_osm_queries_spark.operators.multimodal import extract_exif

    rows = [(r.image_id, _without_exif(bytes(r.bytes))) for r in _image_table(spark).collect()]
    clean = spark.createDataFrame(rows, "image_id string, bytes binary")
    meta = {r.image_id: r for r in extract_exif(clean).collect()}
    assert len(meta) == 13
    assert all(m.exif_lat is None and m.exif_orientation is None for m in meta.values())
    # corrupt row: raise by default, skipped with on_error='skip'
    bad = spark.createDataFrame(
        [("bad", b"\xff\xd8\xff\xe1\x00\x05garbage"), ("null", None)],
        "image_id string, bytes binary",
    )
    with pytest.raises(Exception):
        extract_exif(bad).collect()
    assert extract_exif(bad, on_error="skip").count() == 0


def test_geotag_points_bridges_to_tiles(spark):
    """The full bridge: GPS embedded in image bytes -> extract -> tile
    assignment matches assigning the KNOWN positions directly."""
    from pyspark.sql import functions as F

    from simple_osm_queries_spark.functions import cells as C
    from simple_osm_queries_spark.operators.multimodal import geotag_points

    truth = {}
    rows = []
    for i in range(20):
        lat = 53.0 + (i * 0.618) % 1.0
        lon = 9.0 + (i * 0.414) % 1.0
        truth[f"g{i}"] = (lon, lat)
        jpg, _ = _jpeg(seed=200 + i, size=16)
        rows.append((f"g{i}", exif_writer.insert_exif(jpg, lat, lon)))
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    pts = geotag_points(df)
    tiled = pts.select(
        "image_id", C.tile_of(F.col("lon"), F.col("lat"), 14).alias("tile_id")
    ).collect()
    assert len(tiled) == 20
    from simple_osm_queries_spark.functions.cells import tile_id_py
    from tests.cell_oracle import tile_xy_py

    for r in tiled:
        lon, lat = truth[r.image_id]
        tx, ty = tile_xy_py(lon, lat, 14)
        assert r.tile_id == tile_id_py(tx, ty, 14)


def test_geotag_to_nearest_way_snap_bridge(spark):
    """End-to-end training-pipeline bridge: GPS embedded in JPEG bytes ->
    geotag_points -> nearest_way_join(snap=True) — every photo snaps to
    the engineered road it was 'taken next to', with the snap point on
    that road's segment within centimeter agreement of a direct
    computation from the KNOWN (pre-embed) coordinates."""
    import math

    from pyspark.sql import functions as F

    from simple_osm_queries_spark.operators.multimodal import geotag_points
    from simple_osm_queries_spark.operators.nearest_way import nearest_way_join

    # two horizontal 'roads' at known latitudes; photos 20-60 m off each
    roads = []
    for wid, lat0 in ((1, 53.50), (2, 53.60)):
        nodes = [{"id": wid * 10 + j, "lon": 9.90 + j * 0.02, "lat": lat0} for j in range(4)]
        roads.append((wid, nodes, 9.90, lat0, 9.96, lat0))
    ways = spark.createDataFrame(
        roads,
        "id long, nodes array<struct<id:long,lon:double,lat:double>>, "
        "min_lon double, min_lat double, max_lon double, max_lat double",
    )
    truth = {}
    rows = []
    for i in range(12):
        road_lat = 53.50 if i % 2 == 0 else 53.60
        lon = 9.905 + (i // 2) * 0.009
        off_m = 20.0 + (i % 4) * 10.0
        lat = road_lat + off_m / 111320.0
        truth[f"p{i}"] = (lon, lat, 1 if i % 2 == 0 else 2, off_m)
        jpg, _ = _jpeg(seed=300 + i, size=16)
        rows.append((f"p{i}", exif_writer.insert_exif(jpg, lat, lon)))
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    pts = geotag_points(df).select(
        F.col("image_id").alias("id"), "lon", "lat"
    )
    snapped = {
        r.id: r
        for r in nearest_way_join(pts, ways, 200.0, k=1, snap=True).collect()
    }
    assert len(snapped) == 12
    for pid, (lon, lat, wid, off_m) in truth.items():
        r = snapped[pid]
        assert r.way_id == wid
        # EXIF DMS storage quantizes coords (~1e-11 deg), the road is
        # axis-aligned: snap lat == road lat, snap lon == photo lon
        road_lat = 53.50 if wid == 1 else 53.60
        assert abs(r.snap_lat - road_lat) < 1e-9
        assert abs(r.snap_lon - lon) < 1e-6
        assert abs(r.dist_m - off_m) < 0.01  # cm agreement incl. DMS round
