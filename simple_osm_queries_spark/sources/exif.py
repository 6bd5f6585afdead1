"""EXIF (APP1/TIFF) metadata for JPEG bytes — embed, parse, strip.

The bridge between the image payload and the spatial engine: a geotagged
photo carries its lon/lat in an Exif GPS IFD inside the JPEG container,
so `parse_exif` turns an image table into a spatial point table that the
whole query stack (tile assignment, H3 rollups, bbox filters — the
reference's node queries, /root/reference/src/query/filter.go:103-128)
can consume; `strip_metadata` is the inverse privacy scrub a
training-data pipeline runs before publishing a corpus (GPS EXIF is the
canonical location-PII leak). The reference has no image handling at all
— this extends the engine's multimodal family (operators/multimodal.py).

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

Seconds are stored with denominator 10^7, so a decode→encode round-trip
is exact to ~1.4e-11 degrees (≪ the float32 quantization the node table
already applies). Parsing follows the same boundary contract as
sources/codecs.py: malformed bytes raise ValueError and nothing else;
absent metadata is ``None``, never an error.
"""

from __future__ import annotations

import struct

from simple_osm_queries_spark.sources.codecs import _codec_guard

_EXIF_HEADER = b"Exif\x00\x00"

# TIFF field types we touch: byte size per element
_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}

_TAG_ORIENTATION = 0x0112
_TAG_GPS_POINTER = 0x8825
_GPS_VERSION = 0x0000
_GPS_LAT_REF = 0x0001
_GPS_LAT = 0x0002
_GPS_LON_REF = 0x0003
_GPS_LON = 0x0004

_SEC_DENOM = 10_000_000


# ---------------------------------------------------------------------------
# degrees <-> DMS rationals
# ---------------------------------------------------------------------------

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


def dms_to_deg(rats: list[tuple[int, int]]) -> float:
    if len(rats) != 3 or any(den == 0 for _num, den in rats):
        raise ValueError("malformed GPS DMS rationals")
    (dn, dd), (mn, md), (sn, sd) = rats
    return dn / dd + mn / md / 60.0 + sn / sd / 3600.0


# ---------------------------------------------------------------------------
# build / embed
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# parse / strip
# ---------------------------------------------------------------------------

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


_ICC_LABEL = b"ICC_PROFILE\x00"


def _icc_profile_valid(chunks: list[bytes]) -> bool:
    """ICC APP2 sanity check (ICC.1 Annex B.4 chunking). Each chunk is
    ``ICC_PROFILE\\0 <seq:1> <count:1> <profile bytes>``. Valid iff the
    sequence numbers are exactly 1..count with one shared count, and the
    reassembled profile's header holds: its big-endian size field (bytes
    0-3) equals the summed chunk payload length, and bytes 36-39 are the
    ``acsp`` signature."""
    n = len(_ICC_LABEL)
    if any(len(c) < n + 2 for c in chunks):
        return False
    count = chunks[0][n + 1]
    seqs = sorted(c[n] for c in chunks)
    if seqs != list(range(1, count + 1)) or any(c[n + 1] != count for c in chunks):
        return False
    profile = b"".join(c[n + 2 :] for c in sorted(chunks, key=lambda c: c[n]))
    return (
        len(profile) >= 40
        and struct.unpack_from(">I", profile)[0] == len(profile)
        and profile[36:40] == b"acsp"
    )


@_codec_guard("JPEG")
def strip_metadata(jpeg: bytes) -> bytes:
    """Drop every APP1..APP15 and COM segment (keep APP0/JFIF and all
    codec-bearing segments) — the pre-publication scrub that removes GPS
    and other PII-bearing metadata while leaving the entropy-coded image
    byte-identical.

    Two color-critical APPn payloads are whitelisted: the Adobe APP14
    transform flag (without it a conformant decoder may misread the
    component transform of Adobe-encoded streams, changing the rendered
    colors of byte-identical entropy data) and APP2 ICC profiles (color
    space definition). The ICC segments survive only as a set that passes
    ``_icc_profile_valid``; otherwise every one of them is dropped, so an
    arbitrary payload cannot ride through under a forged ``ICC_PROFILE``
    label. A valid profile is kept whole: the creation date in its header
    and any description or copyright text tags survive the scrub. Every
    other APPn/COM payload — Exif, XMP, Photoshop IRB, comments — is
    dropped."""
    segs = []
    for marker, s, epos in _segments(jpeg):
        segs.append((marker, s, epos, jpeg[s + 4 : epos]))
        if marker == 0xDA:
            break
    icc = [p for m, _s, _e, p in segs if m == 0xE2 and p.startswith(_ICC_LABEL)]
    keep_icc = bool(icc) and _icc_profile_valid(icc)
    out = bytearray(b"\xff\xd8")
    tail_from = len(jpeg)
    for marker, s, epos, payload in segs:
        if 0xE1 <= marker <= 0xEF or marker == 0xFE:
            keep_color = (marker == 0xEE and payload[:5] == b"Adobe") or (
                keep_icc and marker == 0xE2 and payload.startswith(_ICC_LABEL)
            )
            if not keep_color:
                continue
        out += jpeg[s:epos]
        if marker == 0xDA:
            tail_from = epos
    out += jpeg[tail_from:]
    return bytes(out)
