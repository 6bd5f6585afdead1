"""Python scalar twins of cell encoders in functions/cells.py and
functions/s2.py: the oracles their column forms are checked against."""

from __future__ import annotations

import math

import numpy as np

from simple_osm_queries_spark.functions import s2 as S2
from simple_osm_queries_spark.functions.cells import _GEOHASH32, _OFF, _SHIFT, tile_fxy_py


def pack_cell_py(x: int, y: int) -> int:
    return ((x + _OFF) << _SHIFT) + (y + _OFF)


def tile_xy_py(lon: float, lat: float, zoom: int) -> tuple[int, int]:
    n = 1 << zoom
    fx, fy = tile_fxy_py(lon, lat, zoom)
    tx, ty = int(math.floor(fx)), int(math.floor(fy))
    return min(max(tx, 0), n - 1), min(max(ty, 0), n - 1)


def geohash_py(lon: float, lat: float, precision: int = 9) -> str:
    """Scalar oracle: classic bisection implementation."""
    lo_lon, hi_lon, lo_lat, hi_lat = -180.0, 180.0, -90.0, 90.0
    bits = []
    even = True
    while len(bits) < 5 * precision:
        if even:
            mid = (lo_lon + hi_lon) / 2
            if lon >= mid:
                bits.append(1)
                lo_lon = mid
            else:
                bits.append(0)
                hi_lon = mid
        else:
            mid = (lo_lat + hi_lat) / 2
            if lat >= mid:
                bits.append(1)
                lo_lat = mid
            else:
                bits.append(0)
                hi_lat = mid
        even = not even
    out = []
    for c in range(precision):
        v = 0
        for b in bits[c * 5 : c * 5 + 5]:
            v = v * 2 + b
        out.append(_GEOHASH32[v])
    return "".join(out)


def cell_level(cell: np.ndarray) -> np.ndarray:
    """Level from the trailing-one position."""
    cell = np.asarray(cell, dtype=np.uint64)
    tz = np.zeros(cell.shape, dtype=np.int64)
    c = cell.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        mask = (np.uint64(1) << np.uint64(shift)) - np.uint64(1)
        zero_low = (c & mask) == 0
        tz += np.where(zero_low, shift, 0)
        c = np.where(zero_low, c >> np.uint64(shift), c)
    return S2.MAX_LEVEL - tz // 2
