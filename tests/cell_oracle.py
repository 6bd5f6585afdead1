"""Python twins of cell encoders in functions/cells.py and functions/s2.py
(and the S2 decode): the oracles their column forms are checked against."""

from __future__ import annotations

import math

import numpy as np

from simple_osm_queries_spark.functions import s2 as S2
from simple_osm_queries_spark.functions.cells import (
    _GEOHASH32,
    _OFF,
    _SHIFT,
    DEFAULT_CELL_H,
    DEFAULT_CELL_W,
    tile_fxy_py,
)


def cell_xy_py(lon: float, lat: float) -> tuple[int, int]:
    """Reference grid cell (common/cell.go:7-9): Go's int() conversion
    truncates toward zero, and so does Python's int()."""
    return int(lon / DEFAULT_CELL_W), int(lat / DEFAULT_CELL_H)


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


def s2_cell_to_lnglat(cell) -> tuple[np.ndarray, np.ndarray]:
    """Decode oracle for functions/s2.py: an interior point (lon, lat) in
    degrees of each cell. The decoded (i, j) names a leaf inside the cell
    (the trailing-1 bit of a non-leaf id decodes to a center-adjacent leaf),
    whose own center is returned — always strictly inside the cell, exact
    center for leaves."""
    cell = np.asarray(cell, dtype=np.uint64)
    face, i, j = s2_cell_to_face_ij(cell)
    limit = float(1 << S2.MAX_LEVEL)
    s = (i.astype(np.float64) + 0.5) / limit
    t = (j.astype(np.float64) + 0.5) / limit
    u = np.where(s >= 0.5, (4.0 * s * s - 1.0) / 3.0, (1.0 - 4.0 * (1.0 - s) * (1.0 - s)) / 3.0)
    v = np.where(t >= 0.5, (4.0 * t * t - 1.0) / 3.0, (1.0 - 4.0 * (1.0 - t) * (1.0 - t)) / 3.0)
    one = np.ones_like(u)
    x = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4, face == 5],
        [one, -u, -u, -one, v, v],
    )
    y = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4, face == 5],
        [u, one, -v, -v, -one, u],
    )
    z = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4, face == 5],
        [v, v, one, -u, -u, -one],
    )
    lat = np.degrees(np.arctan2(z, np.sqrt(x * x + y * y)))
    lon = np.degrees(np.arctan2(y, x))
    return lon, lat


def _s2_lookup_ij() -> np.ndarray:
    """The decode table (pos<<2 | orient) -> (ij<<2 | orient): the inverse of
    the encode's ``S2._LOOKUP_POS`` per starting orientation (the low 2 bits
    of the index keep the starting orientation on both sides)."""
    k = np.arange(len(S2._LOOKUP_POS))
    start, out_bits = k & 3, S2._LOOKUP_POS
    table = np.zeros_like(out_bits)
    table[(out_bits & ~3) | start] = (k & ~3) | (out_bits & 3)
    return table


_S2_LOOKUP_IJ = _s2_lookup_ij()


def s2_cell_to_face_ij(cell: np.ndarray):
    """Decode oracle for functions/s2.py: uint64 cell ids -> (face, leaf_i,
    leaf_j) of the cell's minimum leaf (exact inverse of face_ij_to_cell
    for leaf ids)."""
    cell = np.asarray(cell, dtype=np.uint64)
    face = (cell >> np.uint64(61)).astype(np.int64)
    bits = face & S2._SWAP
    i = np.zeros(cell.shape, dtype=np.int64)
    j = np.zeros(cell.shape, dtype=np.int64)
    for k in range(7, -1, -1):
        nbits = S2.MAX_LEVEL - 7 * S2._LOOKUP_BITS if k == 7 else S2._LOOKUP_BITS
        pos = (cell >> np.uint64(k * 8 + 1)).astype(np.int64) & ((1 << (2 * nbits)) - 1)
        bits = bits + (pos << 2)
        bits = _S2_LOOKUP_IJ[bits]
        i += (bits >> 6) << (k * 4)
        j += ((bits >> 2) & 15) << (k * 4)
        bits = bits & (S2._SWAP | S2._INVERT)
    return face, i, j
