"""From-scratch, numpy-vectorized S2 cell ids (bit-compatible with the
published S2 geometry scheme).

The S2 cell-id construction is fully public (s2geometry.io "S2 Cell
Hierarchy"; the reference implementation's s2coords / s2cell_id documents
every constant): project the unit sphere onto 6 cube faces, apply the
quadratic UV->ST reprojection, discretize ST to 30-bit (i, j), then order
leaf cells along a face-local Hilbert curve; the 64-bit id is

    id = face(3 bits) . hilbert_position(2*level bits) . 1 . 0...0

so that ids sort along the space-filling curve and a cell's descendants
occupy one contiguous id range — containment is integer comparison,
parents are bit math. This module implements encode (lat/lng -> cell at
level) and the parent helpers, all as whole-array numpy (one pass of table
lookups per 4-bit Hilbert block; no per-row Python). The decode (cell ->
face/i/j -> lat/lng), which only the tests use to check the encode, lives
with the test oracles (tests/cell_oracle.py), which invert ``_LOOKUP_POS``.

This replaces the quadtree *fallback* the engine used when no S2 library was
installed: ids from here interoperate bit-for-bit with any external
S2-keyed dataset. Spark LongType has no unsigned 64-bit, so column values
are the two's-complement reinterpretation (faces 4-5 map to negative
longs); all internal math runs on uint64.
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 30
_LOOKUP_BITS = 4
_SWAP, _INVERT = 1, 2

# Hilbert sub-cell traversal: position along curve -> (i,j) quadrant, per
# orientation, and the orientation change per position. These four rows are
# the canonical S2/Hilbert tables (s2coords: kPosToIJ, kPosToOrientation).
_POS_TO_IJ = np.array(
    [
        [0, 1, 3, 2],  # canonical
        [0, 2, 3, 1],  # axes swapped
        [3, 2, 0, 1],  # bits inverted
        [3, 1, 0, 2],  # swapped + inverted
    ],
    dtype=np.int64,
)
_POS_TO_ORIENT = np.array([_SWAP, 0, 0, _INVERT | _SWAP], dtype=np.int64)

# 4-level (4-bit-per-axis) lookup table: (ij<<2 | orient) -> (pos<<2 | orient)
_LOOKUP_POS = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.int64)


def _init_lookup(level: int, i: int, j: int, orig_orient: int, pos: int, orient: int) -> None:
    if level == _LOOKUP_BITS:
        ij = (i << _LOOKUP_BITS) + j
        _LOOKUP_POS[(ij << 2) + orig_orient] = (pos << 2) + orient
        return
    level += 1
    i <<= 1
    j <<= 1
    pos <<= 2
    r = _POS_TO_IJ[orient]
    for index in range(4):
        ij = int(r[index])
        _init_lookup(
            level,
            i + (ij >> 1),
            j + (ij & 1),
            orig_orient,
            pos + index,
            orient ^ int(_POS_TO_ORIENT[index]),
        )


for _o in (0, _SWAP, _INVERT, _SWAP | _INVERT):
    _init_lookup(0, 0, 0, _o, 0, _o)


# ---------------------------------------------------------------------------
# sphere -> (face, i, j)
# ---------------------------------------------------------------------------


def _lnglat_to_face_uv(lon_deg: np.ndarray, lat_deg: np.ndarray):
    lon = np.radians(lon_deg)
    lat = np.radians(lat_deg)
    cl = np.cos(lat)
    x = cl * np.cos(lon)
    y = cl * np.sin(lon)
    z = np.sin(lat)
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    # largest absolute component, canonical tie order:
    # (ax > ay) ? (ax > az ? 0 : 2) : (ay > az ? 1 : 2)
    # — ties prefer y over x, and z over either (matches the reference
    # LargestAbsComponent so exact-boundary inputs get the same face)
    axis = np.where(ax > ay, np.where(ax > az, 0, 2), np.where(ay > az, 1, 2))
    major = np.choose(axis, [x, y, z])
    face = np.where(major < 0, axis + 3, axis)
    # canonical per-face (u, v) from the minor components. np.select
    # evaluates every branch, so non-selected faces divide by ~0 — harmless
    # (discarded) but noisy; silence locally.
    np_err = np.seterr(divide="ignore", invalid="ignore")
    u = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4, face == 5],
        [y / x, -x / y, -x / z, z / x, z / y, -y / z],
    )
    v = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4, face == 5],
        [z / x, z / y, -y / z, y / x, -x / y, -x / z],
    )
    np.seterr(**np_err)
    return face.astype(np.int64), u, v


def _uv_to_st(u: np.ndarray) -> np.ndarray:
    """Quadratic reprojection (area-uniformizing), the S2_QUADRATIC_PROJECTION.
    np.where evaluates both branches (one sqrt of a negative per element) —
    silence the spurious invalid warning."""
    np_err = np.seterr(invalid="ignore")
    out = np.where(u >= 0, 0.5 * np.sqrt(1.0 + 3.0 * u), 1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u))
    np.seterr(**np_err)
    return out


def _st_to_ij(s: np.ndarray) -> np.ndarray:
    limit = 1 << MAX_LEVEL
    return np.clip(np.floor(limit * s), 0, limit - 1).astype(np.int64)


# ---------------------------------------------------------------------------
# (face, i, j) <-> cell id (Hilbert curve)
# ---------------------------------------------------------------------------


def face_ij_to_cell(face: np.ndarray, i: np.ndarray, j: np.ndarray, level: int = MAX_LEVEL) -> np.ndarray:
    """uint64 cell ids from face + 30-bit leaf (i, j), truncated to level.

    8 table-lookup rounds over whole arrays (4 bits of i and j per round).
    The top nibble round feeds only 2 real bits per axis; the two phantom
    levels sit at sub-cell (0, 0) whose curve position is 0 and whose
    orientation change is swap-twice = identity, so they contribute nothing
    (the same property the reference implementations rely on).
    """
    face = np.asarray(face, dtype=np.int64)
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    n = face.astype(np.uint64) << np.uint64(60)
    bits = face & _SWAP
    for k in range(7, -1, -1):
        bits = bits + (((i >> (k * 4)) & 15) << 6)
        bits = bits + (((j >> (k * 4)) & 15) << 2)
        bits = _LOOKUP_POS[bits]
        n |= (bits >> 2).astype(np.uint64) << np.uint64(k * 8)
        bits = bits & (_SWAP | _INVERT)
    leaf = n * np.uint64(2) + np.uint64(1)
    return parent_id(leaf, level)


# ---------------------------------------------------------------------------
# id algebra (all uint64 in/out)
# ---------------------------------------------------------------------------


def lsb_for_level(level: int) -> np.uint64:
    return np.uint64(1) << np.uint64(2 * (MAX_LEVEL - level))


def parent_id(cell: np.ndarray, level: int) -> np.ndarray:
    cell = np.asarray(cell, dtype=np.uint64)
    lsb = lsb_for_level(level)
    return (cell & ~(lsb - np.uint64(1)) & ~lsb) | lsb


# ---------------------------------------------------------------------------
# column forms (pure JVM bit math over signed-long ids, codegen-friendly)
# ---------------------------------------------------------------------------


def parent_id_col(cell, level: int):
    """Spark column form of :func:`parent_id` over two's-complement longs.
    ~(2*lsb - 1) == -2*lsb, so one AND + one OR; the sign-extended mask
    keeps the face bits of faces 4/5 (bit 63) intact."""
    from pyspark.sql import functions as F

    lsb = 1 << (2 * (MAX_LEVEL - level))
    return cell.bitwiseAND(F.lit(-2 * lsb)).bitwiseOR(F.lit(lsb))


def lsb_col(cell):
    """cell & -cell (trailing one bit)."""
    return cell.bitwiseAND(-cell)


# ---------------------------------------------------------------------------
# public encode / decode
# ---------------------------------------------------------------------------


def lnglat_to_cell(lon_deg, lat_deg, level: int = 12) -> np.ndarray:
    """uint64 S2 cell ids at ``level`` for arrays of degrees."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_LEVEL}], got {level}")
    lon = np.asarray(lon_deg, dtype=np.float64)
    lat = np.asarray(lat_deg, dtype=np.float64)
    face, u, v = _lnglat_to_face_uv(lon, lat)
    i = _st_to_ij(_uv_to_st(u))
    j = _st_to_ij(_uv_to_st(v))
    return face_ij_to_cell(face, i, j, level)


def to_signed(cell: np.ndarray) -> np.ndarray:
    """Two's-complement view for Spark LongType columns."""
    return np.asarray(cell, dtype=np.uint64).view(np.int64)
