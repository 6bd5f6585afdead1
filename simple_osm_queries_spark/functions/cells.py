"""Cell / spatial-index encoders.

The reference indexes features into a flat lon/lat grid:
``CellIndex{int(x / cellWidth), int(y / cellHeight)}``
(/root/reference/src/common/cell.go:7-9). Note Go's ``int()`` conversion
TRUNCATES TOWARD ZERO (it is not floor) — we replicate that exactly with
Spark's double→int cast, which also truncates toward zero.

On top of the reference-parity grid we add the distributed-index encoders the
north rule asks for:

* ``tile_x/tile_y/tile_id`` — Web-Mercator slippy tiles (raster<->vector tile
  assignment, z-order locality); ``tile_zxy`` unpacks a tile id,
* ``cell_s2`` — REAL S2 cell ids from the in-repo numpy implementation of
  the published S2 scheme (functions/s2.py): bit-compatible, vectorized,
  zero external dependencies.
* ``cell_h3`` — REAL bit-compatible H3 cell ids from the in-repo from-scratch
  numpy implementation of the published H3 scheme (functions/h3_encode.py):
  icosahedral gnomonic projection, aperture-7 digit walk, derived
  face/base-cell tables; no external dependency.

All hot-path encoders are pure JVM column math (whole-stage codegen); only the
H3/S2 encoders drop to Arrow-batched pandas UDFs (never per-row Python).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Default grid: the reference always uses 0.1° x 0.1° cells
# (/root/reference/src/importing/import.go:17, src/main.go:93).
DEFAULT_CELL_W = 0.1
DEFAULT_CELL_H = 0.1

# Packing offsets: grid x in [-1800,1800] for w=0.1; 2^20 leaves headroom for
# much finer grids. cell_id is monotone in (x, y) lexicographic order.
_OFF = 1 << 20
_SHIFT = 21


def cell_x(lon: Column, cell_w: float = DEFAULT_CELL_W) -> Column:
    """Grid x index. Truncation toward zero, per Go int() conversion."""
    return (lon / F.lit(float(cell_w))).cast("int")


def cell_y(lat: Column, cell_h: float = DEFAULT_CELL_H) -> Column:
    return (lat / F.lit(float(cell_h))).cast("int")


def pack_cell(x: Column, y: Column) -> Column:
    """Pack (x, y) grid indices into one long (x-major order)."""
    return ((x.cast("long") + F.lit(_OFF)) * F.lit(1 << _SHIFT)) + (
        y.cast("long") + F.lit(_OFF)
    )


def cell_of(lon: Column, lat: Column, cell_w: float = DEFAULT_CELL_W, cell_h: float = DEFAULT_CELL_H) -> Column:
    """Packed grid cell id for a coordinate."""
    return pack_cell(cell_x(lon, cell_w), cell_y(lat, cell_h))


# ---------------------------------------------------------------------------
# Web-Mercator slippy tiles (column math; tile assignment + quadtree fallback)
# ---------------------------------------------------------------------------

MAX_MERCATOR_LAT = 85.05112878


def tile_x(lon: Column, zoom: int) -> Column:
    tx = F.floor(tile_fx(lon, zoom)).cast("int")
    # clamp lon=180 edge into the last tile
    return F.least(F.greatest(tx, F.lit(0)), F.lit((1 << zoom) - 1))


def tile_fx(lon: Column, zoom: int) -> Column:
    """Fractional Web-Mercator tile x at ``zoom`` (the x half of tile_fxy)."""
    return (lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(1 << zoom))


def tile_fy(lat: Column, zoom: int) -> Column:
    """Fractional Web-Mercator tile y at ``zoom`` (the y half of tile_fxy)."""
    lat_c = F.least(F.greatest(lat, F.lit(-MAX_MERCATOR_LAT)), F.lit(MAX_MERCATOR_LAT))
    lat_rad = F.radians(lat_c)
    return (
        (F.lit(1.0) - F.log(F.tan(lat_rad) + F.lit(1.0) / F.cos(lat_rad)) / F.lit(math.pi))
        / F.lit(2.0)
        * F.lit(float(1 << zoom))
    )


def tile_fxy(lon: Column, lat: Column, zoom: int) -> tuple[Column, Column]:
    """Fractional Web-Mercator tile coordinates (fx, fy) at ``zoom`` — the
    ONE projection expression tile_x/tile_y floor (each through its own
    axis, tile_fx/tile_fy) and tile_pixel_bins subdivides into pixels;
    keeping a single definition is what guarantees a point's pixel tile_id
    always equals its assigned tile_id."""
    return tile_fx(lon, zoom), tile_fy(lat, zoom)


def tile_y(lat: Column, zoom: int) -> Column:
    ty = F.floor(tile_fy(lat, zoom)).cast("int")
    return F.least(F.greatest(ty, F.lit(0)), F.lit((1 << zoom) - 1))


def tile_id(tx: Column, ty: Column, zoom: int) -> Column:
    """Pack (zoom, tx, ty) into one long: zoom<<58 | tx<<29 | ty (zoom<=29)."""
    return (
        F.lit(zoom).cast("long") * F.lit(1 << 58)
        + tx.cast("long") * F.lit(1 << 29)
        + ty.cast("long")
    )


def tile_zxy(tid: Column) -> tuple[Column, Column, Column]:
    """Unpack a tile_id column into (zoom, tx, ty) long columns."""
    mask = F.lit((1 << 29) - 1)
    return F.shiftright(tid, 58), F.shiftright(tid, 29).bitwiseAND(mask), tid.bitwiseAND(mask)


def tile_of(lon: Column, lat: Column, zoom: int) -> Column:
    return tile_id(tile_x(lon, zoom), tile_y(lat, zoom), zoom)


def tile_fxy_py(lon: float, lat: float, zoom: int) -> tuple[float, float]:
    """Driver/UDF-side twin of tile_fxy — SAME formula term-for-term, so a
    Python-projected pixel always lands in the tile the column expression
    assigned the point to."""
    n = 1 << zoom
    fx = (lon + 180.0) / 360.0 * n
    lat_c = min(max(lat, -MAX_MERCATOR_LAT), MAX_MERCATOR_LAT)
    lat_rad = math.radians(lat_c)
    fy = (1.0 - math.log(math.tan(lat_rad) + 1.0 / math.cos(lat_rad)) / math.pi) / 2.0 * n
    return fx, fy


def tile_id_py(tx: int, ty: int, zoom: int) -> int:
    return (zoom << 58) | (tx << 29) | ty


def tile_zxy_py(tid: int) -> tuple[int, int, int]:
    """Driver/UDF-side twin of tile_zxy."""
    return tid >> 58, (tid >> 29) & ((1 << 29) - 1), tid & ((1 << 29) - 1)


# ---------------------------------------------------------------------------
# H3 / S2 encoders (vectorized pandas UDFs over in-repo implementations)
# ---------------------------------------------------------------------------


def cell_h3(lon: Column, lat: Column, res: int = 8) -> Column:
    """REAL H3 cell id (long, two's-complement of the uint64 id).

    Backed by the in-repo from-scratch numpy implementation of the published
    H3 scheme (functions/h3_encode.py): bit-compatible ids with no external
    dependency, whole-array encode inside one Arrow batch. The derived
    face->base-cell tables are built once per Python worker (~1.5 s) and
    reused for every batch."""

    @F.pandas_udf(T.LongType())
    def _enc(lo: pd.Series, la: pd.Series) -> pd.Series:
        from simple_osm_queries_spark.functions import h3_encode as _h3impl

        cells = _h3impl.lnglat_to_cell(lo.to_numpy(), la.to_numpy(), res)
        return pd.Series(cells.view("int64"))

    # asNondeterministic (guide §4.4): consumers equi-join or filter on
    # the encoded cell column, and Catalyst pushes the join key's
    # isnotnull below the projection, DUPLICATING the encode over the
    # whole table (captured: pip_h3 plans carried two ArrowEvalPython
    # nodes for one encode; 10M-row re-encode paid twice). The encode is
    # deterministic in fact, so results are unchanged — the flag only
    # pins a single evaluation.
    return _enc.asNondeterministic()(lon, lat)


def cell_s2(lon: Column, lat: Column, level: int = 12) -> Column:
    """REAL S2 cell id (long, two's-complement of the uint64 id).

    Backed by the in-repo numpy-vectorized implementation of the published
    S2 scheme (functions/s2.py) — bit-compatible ids with no external
    dependency, whole-array encode inside one Arrow batch."""

    @F.pandas_udf(T.LongType())
    def _enc(lo: pd.Series, la: pd.Series) -> pd.Series:
        from simple_osm_queries_spark.functions import s2 as _s2impl

        cells = _s2impl.lnglat_to_cell(lo.to_numpy(), la.to_numpy(), level)
        return pd.Series(_s2impl.to_signed(cells))

    return _enc(lon, lat)


# ---------------------------------------------------------------------------
# Geohash + Morton z-order (pure JVM column math, fully SQL-twinnable)
# ---------------------------------------------------------------------------

_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _bits_col(v: Column, lo: float, hi: float, nbits: int) -> Column:
    """Bisection bits of v within [lo, hi) as one integer: exactly
    floor((v - lo) / (hi - lo) * 2^nbits), clamped into range."""
    scaled = F.floor((v - F.lit(lo)) / F.lit(hi - lo) * F.lit(float(1 << nbits))).cast("long")
    return F.least(F.greatest(scaled, F.lit(0)), F.lit((1 << nbits) - 1))


def zorder_key(x_bits: Column, y_bits: Column, nbits: int) -> Column:
    """Morton interleave of two nbits-wide integers (x in even positions).
    Unrolled shift/mask sum — whole-stage codegen, no UDF. The generic
    2-D clustering key (Delta's OPTIMIZE ZORDER uses the same curve)."""
    terms = []
    for i in range(nbits):
        xb = F.shiftright(x_bits, i).bitwiseAND(F.lit(1)).cast("long")
        yb = F.shiftright(y_bits, i).bitwiseAND(F.lit(1)).cast("long")
        terms.append(xb * F.lit(1 << (2 * i + 1)) + yb * F.lit(1 << (2 * i)))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def geohash(lon: Column, lat: Column, precision: int = 9) -> Column:
    """Standard geohash string (base32, lon bit first) — pure column math.

    precision chars = 5*precision bits, split ceil/floor between lon/lat.
    The scaled-floor bit extraction equals classic bisection for every
    coordinate except values within one ulp of a bisection boundary (the
    floor path divides by the range once; bisection compares against exact
    dyadic midpoints) — generic coordinates never sit there. Reproducible
    verbatim in ANSI SQL for the oracle twin (which mirrors the floor).
    """
    total = 5 * precision
    n_lon = (total + 1) // 2
    n_lat = total // 2
    lon_b = _bits_col(lon, -180.0, 180.0, n_lon)
    lat_b = _bits_col(lat, -90.0, 90.0, n_lat)
    # interleave lon(hi) first: bit j of the geohash (MSB order) comes from
    # lon when j even, lat when j odd
    terms = []
    for j in range(total):
        src, idx = (lon_b, n_lon - 1 - j // 2) if j % 2 == 0 else (lat_b, n_lat - 1 - j // 2)
        bit = F.shiftright(src, idx).bitwiseAND(F.lit(1)).cast("long")
        terms.append(bit * F.lit(1 << (total - 1 - j)))
    packed = terms[0]
    for t in terms[1:]:
        packed = packed + t
    chars = [
        F.substring(
            F.lit(_GEOHASH32),
            (F.shiftright(packed, (precision - 1 - c) * 5).bitwiseAND(F.lit(31)) + 1).cast("int"),
            1,
        )
        for c in range(precision)
    ]
    return F.concat(*chars)
