"""Independent answers for every operation the benchmark times.

None of these call into the package: geometry is numpy written here,
counts over the generated tables come from DuckDB, and the dedup answers
are closed forms of the planted duplicate groups.
"""

from __future__ import annotations

import math

import numpy as np

def tile_xy(lon: np.ndarray, lat: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray]:
    """Slippy-map tile coordinates (web mercator)."""
    n = 1 << z
    x = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    r = np.radians(lat)
    y = np.floor((1.0 - np.log(np.tan(r) + 1.0 / np.cos(r)) / math.pi) / 2.0 * n)
    return np.clip(x, 0, n - 1), np.clip(y.astype(np.int64), 0, n - 1)


def knn_distances(lon, lat, qlon, qlat, k: int) -> np.ndarray:
    """The k smallest squared plain-degree distances from one query."""
    d2 = (lon - qlon) ** 2 + (lat - qlat) ** 2
    return np.sort(np.partition(d2, k - 1)[:k]) if len(d2) > k else np.sort(d2)


def knn_matches(got, lon, lat, qlon, qlat, k: int) -> bool:
    """True when the returned positions are a valid top-k: their distances
    equal the brute-force k smallest (ties may pick either point)."""
    want = knn_distances(lon, lat, qlon, qlat, k)
    ids = np.asarray(sorted(got), dtype=np.int64)
    if len(ids) != len(want):
        return False
    got = np.sort((lon[ids] - qlon) ** 2 + (lat[ids] - qlat) ** 2)
    return bool(np.allclose(got, want, rtol=1e-9, atol=1e-18))


def h3_index_valid(cells: np.ndarray, res: int) -> bool:
    """Structural check of 64-bit H3 cell ids: mode 1, the wanted
    resolution, a base cell below 122 and unused digits set to 7."""
    c = cells.astype(np.uint64)
    mode = (c >> np.uint64(59)) & np.uint64(0xF)
    r = (c >> np.uint64(52)) & np.uint64(0xF)
    base = (c >> np.uint64(45)) & np.uint64(0x7F)
    ok = (mode == 1) & (r == res) & (base < 122)
    for d in range(res + 1, 16):
        digit = (c >> np.uint64(3 * (15 - d))) & np.uint64(7)
        ok &= digit == 7
    return bool(ok.all())


def pair_checksum(group_of: np.ndarray) -> tuple[int, int]:
    """(count, sum of lo*2^20+hi) over all within-group id pairs, for ids
    0..len-1 grouped by ``group_of``; matches the Spark-side checksum."""
    order = np.argsort(group_of, kind="stable")
    g = group_of[order]
    cuts = np.flatnonzero(np.diff(g)) + 1
    count, total = 0, 0
    for members in np.split(order, cuts):
        m = np.sort(members).astype(np.int64)
        for i in range(len(m)):
            for j in range(i + 1, len(m)):
                count += 1
                total += int(m[i]) * (1 << 20) + int(m[j])
    return count, total


def duckdb_ids(con, sql: str) -> list[tuple[str, int]]:
    return sorted((str(t), int(i)) for t, i in con.execute(sql).fetchall())
