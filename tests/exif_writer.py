"""Exif APP1 writer for JPEG test fixtures: the embed side of
sources/exif.py, which only parses.

``insert_exif`` plants a GPS position and/or orientation in a JPEG's
header the way a camera does, so the parser and the image -> point bridge
(``multimodal.extract_exif`` / ``geotag_points``) can be checked against
known positions. Layout per Exif 2.3 / TIFF 6.0 (see the parser's module
docstring). Seconds are stored with denominator 10^7, so a write -> parse
round trip is exact to ~1.4e-11 degrees.
"""

from __future__ import annotations

import struct

from simple_osm_queries_spark.sources.exif import (
    _EXIF_HEADER,
    _GPS_LAT,
    _GPS_LAT_REF,
    _GPS_LON,
    _GPS_LON_REF,
    _TAG_GPS_POINTER,
    _TAG_ORIENTATION,
    _segments,
)

_GPS_VERSION = 0x0000
_SEC_DENOM = 10_000_000


def deg_to_dms(value: float) -> list[tuple[int, int]]:
    """|degrees| -> [(deg,1),(min,1),(sec_num,10^7)] with carry handling so
    59.9999...s never emits an out-of-range minute/second."""
    v = abs(float(value))
    d = int(v)
    rem_min = (v - d) * 60.0
    m = int(rem_min)
    sec_num = round((rem_min - m) * 60.0 * _SEC_DENOM)
    if sec_num >= 60 * _SEC_DENOM:
        sec_num -= 60 * _SEC_DENOM
        m += 1
    if m >= 60:
        m -= 60
        d += 1
    return [(d, 1), (m, 1), (sec_num, _SEC_DENOM)]


def build_exif_app1(
    lat: float | None = None,
    lon: float | None = None,
    orientation: int | None = None,
    byte_order: str = "II",
) -> bytes:
    """One complete APP1 segment (marker + length + Exif TIFF payload).
    ``byte_order`` 'II' (little-endian, the common camera output) or 'MM'
    — the parser handles both, and writing both lets tests cross-check
    the endian paths against each other."""
    if byte_order not in ("II", "MM"):
        raise ValueError("byte_order must be 'II' or 'MM'")
    if (lat is None) != (lon is None):
        raise ValueError("lat and lon must be given together")
    if lat is not None and not (-90.0 <= lat <= 90.0 and -180.0 <= lon <= 180.0):
        raise ValueError(f"GPS position out of range: ({lat}, {lon})")
    if orientation is not None and not 1 <= orientation <= 8:
        raise ValueError(f"orientation must be 1..8, got {orientation}")
    e = "<" if byte_order == "II" else ">"

    def entry(tag: int, typ: int, count: int, payload: bytes) -> bytes:
        # payload is the raw value bytes (already endian-packed); inline
        # if <= 4 bytes (zero-padded), else appended to the data area
        if len(payload) <= 4:
            return struct.pack(e + "HHI", tag, typ, count) + payload.ljust(4, b"\x00")
        off = _alloc(payload)
        return struct.pack(e + "HHI", tag, typ, count) + struct.pack(e + "I", off)

    data_area = bytearray()
    data_base = [0]  # patched once layout is known

    def _alloc(payload: bytes) -> int:
        off = data_base[0] + len(data_area)
        data_area.extend(payload)
        return off

    def rationals(rats: list[tuple[int, int]]) -> bytes:
        return b"".join(struct.pack(e + "II", n, d) for n, d in rats)

    have_gps = lat is not None
    n_ifd0 = (1 if orientation is not None else 0) + (1 if have_gps else 0)
    n_gps = 5 if have_gps else 0
    # layout (offsets from TIFF start): header 8 | IFD0 2+12n+4 | GPS IFD
    # 2+12n+4 | data area
    ifd0_off = 8
    gps_off = ifd0_off + 2 + 12 * n_ifd0 + 4
    data_base[0] = gps_off + (2 + 12 * n_gps + 4 if have_gps else 0)

    ifd0_entries = []
    if orientation is not None:
        ifd0_entries.append(
            entry(_TAG_ORIENTATION, 3, 1, struct.pack(e + "H", orientation))
        )
    if have_gps:
        ifd0_entries.append(entry(_TAG_GPS_POINTER, 4, 1, struct.pack(e + "I", gps_off)))

    gps_entries = []
    if have_gps:
        gps_entries = [
            entry(_GPS_VERSION, 1, 4, b"\x02\x03\x00\x00"),
            entry(_GPS_LAT_REF, 2, 2, (b"N" if lat >= 0 else b"S") + b"\x00"),
            entry(_GPS_LAT, 5, 3, rationals(deg_to_dms(lat))),
            entry(_GPS_LON_REF, 2, 2, (b"E" if lon >= 0 else b"W") + b"\x00"),
            entry(_GPS_LON, 5, 3, rationals(deg_to_dms(lon))),
        ]

    tiff = bytearray()
    tiff += byte_order.encode("ascii") + struct.pack(e + "HI", 42, ifd0_off)
    tiff += struct.pack(e + "H", n_ifd0) + b"".join(ifd0_entries)
    tiff += struct.pack(e + "I", 0)  # next IFD
    if have_gps:
        tiff += struct.pack(e + "H", n_gps) + b"".join(gps_entries)
        tiff += struct.pack(e + "I", 0)
    tiff += data_area

    payload = _EXIF_HEADER + bytes(tiff)
    if len(payload) + 2 > 0xFFFF:
        raise ValueError("EXIF payload exceeds APP1 segment capacity")
    return b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload


def insert_exif(
    jpeg: bytes,
    lat: float | None = None,
    lon: float | None = None,
    orientation: int | None = None,
    byte_order: str = "II",
) -> bytes:
    """Return ``jpeg`` with a fresh Exif APP1 segment carrying the given
    GPS position / orientation — after APP0 (JFIF conformance) or right
    after SOI, replacing any existing Exif APP1 (never two)."""
    app1 = build_exif_app1(lat, lon, orientation, byte_order)
    out = bytearray(b"\xff\xd8")
    insert_at_next = True  # insert before the first non-APP0 segment
    inserted = False
    tail_from = len(jpeg)
    for marker, s, epos in _segments(jpeg):
        seg = jpeg[s:epos]
        is_exif = marker == 0xE1 and seg[4:10] == _EXIF_HEADER
        if insert_at_next and marker != 0xE0:
            out += app1
            inserted = True
            insert_at_next = False
        if not is_exif:
            out += seg
        if marker == 0xDA:
            tail_from = epos
            break
        if marker == 0xE0:
            continue
    if not inserted:
        out += app1
    out += jpeg[tail_from:]
    return bytes(out)
