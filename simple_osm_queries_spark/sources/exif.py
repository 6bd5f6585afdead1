"""EXIF (APP1/TIFF) metadata of JPEG bytes — the GPS/orientation parser.

The bridge between the image payload and the spatial engine: a geotagged
photo carries its lon/lat in an Exif GPS IFD inside the JPEG container,
so `parse_exif` turns an image table into a spatial point table that the
whole query stack (tile assignment, H3 rollups, bbox filters — the
reference's node queries, /root/reference/src/query/filter.go:103-128)
can consume. The reference has no image handling at all — this extends
the engine's multimodal family (operators/multimodal.py).

Format (all public: Exif 2.3 / TIFF 6.0 specs):

* APP1 segment: ``FF E1 <len:2 BE> "Exif\\0\\0" <TIFF>``, placed right
  after SOI (after APP0 if present, keeping JFIF conformance).
* TIFF: byte order ``II``(LE)/``MM``(BE), magic 42, offset to IFD0.
  An IFD is ``count:2`` then 12-byte entries ``tag:2 type:2 count:4
  value-or-offset:4`` then ``next-IFD:4``; a value whose byte size
  exceeds 4 lives at an offset from the TIFF header start. Entries are
  tag-sorted per spec.
* IFD0 tags used: 0x0112 Orientation (SHORT), 0x8825 GPSInfo (LONG
  pointer to the GPS IFD).
* GPS IFD tags: 0x0000 GPSVersionID (4×BYTE), 0x0001/0x0003
  GPSLatitudeRef/GPSLongitudeRef (ASCII ``N/S``/``E/W``), 0x0002/0x0004
  GPSLatitude/GPSLongitude (3×RATIONAL degrees/minutes/seconds).

Parsing follows the same boundary contract as sources/codecs.py:
malformed bytes raise ValueError and nothing else; absent metadata is
``None``, never an error.
"""

from __future__ import annotations

import struct

from simple_osm_queries_spark.sources.codecs import _codec_guard

_EXIF_HEADER = b"Exif\x00\x00"

# TIFF field types we touch: byte size per element
_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}

_TAG_ORIENTATION = 0x0112
_TAG_GPS_POINTER = 0x8825
_GPS_LAT_REF = 0x0001
_GPS_LAT = 0x0002
_GPS_LON_REF = 0x0003
_GPS_LON = 0x0004


def dms_to_deg(rats: list[tuple[int, int]]) -> float:
    if len(rats) != 3 or any(den == 0 for _num, den in rats):
        raise ValueError("malformed GPS DMS rationals")
    (dn, dd), (mn, md), (sn, sd) = rats
    return dn / dd + mn / md / 60.0 + sn / sd / 3600.0


def _segments(data: bytes):
    """Yield (marker, start, end) over the JPEG header segments up to and
    INCLUDING the SOS marker (entropy data follows verbatim); start/end
    span the whole segment including the FF xx marker bytes."""
    if len(data) < 2 or data[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream (missing SOI)")
    pos = 2
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker alignment at {pos}")
        marker = data[pos + 1]
        if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7 or marker == 0x01:
            yield marker, pos, pos + 2
            pos += 2
            continue
        if pos + 4 > len(data):
            raise ValueError("truncated JPEG segment header")
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        if seglen < 2 or pos + 2 + seglen > len(data):
            raise ValueError("JPEG segment length out of bounds")
        yield marker, pos, pos + 2 + seglen
        if marker == 0xDA:  # SOS: entropy-coded data follows
            return
        pos += 2 + seglen


def _read_ifd(tiff: bytes, e: str, off: int) -> dict[int, tuple[int, int, bytes]]:
    """{tag: (type, count, value_bytes)} for one IFD; bounds-checked."""
    if off + 2 > len(tiff):
        raise ValueError("IFD offset out of bounds")
    (n,) = struct.unpack_from(e + "H", tiff, off)
    if off + 2 + 12 * n + 4 > len(tiff):
        raise ValueError("IFD overruns TIFF payload")
    out: dict[int, tuple[int, int, bytes]] = {}
    for i in range(n):
        base = off + 2 + 12 * i
        tag, typ, count = struct.unpack_from(e + "HHI", tiff, base)
        size = _TYPE_SIZE.get(typ, 1) * count
        if size <= 4:
            val = tiff[base + 8 : base + 8 + max(size, 0)]
        else:
            (voff,) = struct.unpack_from(e + "I", tiff, base + 8)
            if voff + size > len(tiff):
                raise ValueError("IFD value offset out of bounds")
            val = tiff[voff : voff + size]
        out[tag] = (typ, count, val)
    return out


def _rationals(e: str, val: bytes) -> list[tuple[int, int]]:
    if len(val) % 8:
        raise ValueError("RATIONAL value size not a multiple of 8")
    return [struct.unpack_from(e + "II", val, i) for i in range(0, len(val), 8)]


@_codec_guard("EXIF")
def parse_exif(jpeg: bytes) -> dict:
    """Extract {lat, lon, orientation} from a JPEG's Exif APP1 (each None
    when absent). ValueError only on malformed bytes; a JPEG with no Exif
    parses cleanly to all-None."""
    out = {"lat": None, "lon": None, "orientation": None}
    tiff = None
    for marker, s, epos in _segments(jpeg):
        if marker == 0xE1 and jpeg[s + 4 : s + 10] == _EXIF_HEADER:
            tiff = jpeg[s + 10 : epos]
            break
        if marker == 0xDA:
            break
    if tiff is None:
        return out
    if len(tiff) < 8:
        raise ValueError("truncated TIFF header in APP1")
    order = tiff[0:2]
    if order == b"II":
        e = "<"
    elif order == b"MM":
        e = ">"
    else:
        raise ValueError(f"bad TIFF byte order {order!r}")
    magic, ifd0_off = struct.unpack_from(e + "HI", tiff, 2)
    if magic != 42:
        raise ValueError(f"bad TIFF magic {magic}")
    ifd0 = _read_ifd(tiff, e, ifd0_off)
    if _TAG_ORIENTATION in ifd0:
        typ, _count, val = ifd0[_TAG_ORIENTATION]
        if typ == 3 and len(val) >= 2:
            out["orientation"] = struct.unpack_from(e + "H", val)[0]
    if _TAG_GPS_POINTER in ifd0:
        (gps_off,) = struct.unpack_from(e + "I", ifd0[_TAG_GPS_POINTER][2])
        gps = _read_ifd(tiff, e, gps_off)
        if _GPS_LAT in gps and _GPS_LAT_REF in gps:
            lat = dms_to_deg(_rationals(e, gps[_GPS_LAT][2]))
            if gps[_GPS_LAT_REF][2][:1] == b"S":
                lat = -lat
            out["lat"] = lat
        if _GPS_LON in gps and _GPS_LON_REF in gps:
            lon = dms_to_deg(_rationals(e, gps[_GPS_LON][2]))
            if gps[_GPS_LON_REF][2][:1] == b"W":
                lon = -lon
            out["lon"] = lon
    return out
