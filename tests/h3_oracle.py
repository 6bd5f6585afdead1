"""Python scalar twins of the H3 bit algebra (functions/h3.py): the
oracles the column forms, the encoder's output and the compact/uncompact
operators are checked against. Same public 64-bit layout, plain integer
math, one cell at a time (compact_cells_py: numpy over a set)."""

from __future__ import annotations

import numpy as np

from simple_osm_queries_spark.functions.h3 import (
    MAX_RES,
    PENTAGON_BASE_CELLS,
    _digit_shift,
    _digits_mask,
)

MODE_CELL = 1


_PENTAGON_BC = np.array(sorted(PENTAGON_BASE_CELLS), dtype=np.uint64)


def resolution_py(h: int) -> int:
    return (h >> 52) & 0xF


def base_cell_py(h: int) -> int:
    return (h >> 45) & 0x7F


def digit_py(h: int, i: int) -> int:
    return (h >> _digit_shift(i)) & 7


def is_valid_py(h: int) -> bool:
    if h >> 63:
        return False
    if (h >> 59) & 0xF != MODE_CELL:
        return False
    if (h >> 56) & 0x7:
        return False
    res = resolution_py(h)
    bc = base_cell_py(h)
    if bc > 121:
        return False
    for i in range(1, res + 1):
        if digit_py(h, i) == 7:
            return False
    for i in range(res + 1, MAX_RES + 1):
        if digit_py(h, i) != 7:
            return False
    if bc in PENTAGON_BASE_CELLS:
        # leading (first non-zero-prefix) digit may not be 1 (deleted K axis)
        for i in range(1, res + 1):
            d = digit_py(h, i)
            if d == 1:
                return False
            if d != 0:
                break
    return True


def parent_py(h: int, parent_res: int) -> int:
    res = resolution_py(h)
    if parent_res > res or parent_res < 0:
        raise ValueError(f"parent_res {parent_res} not in [0, {res}]")
    out = (h & ~(0xF << 52)) | (parent_res << 52)
    return out | _digits_mask(parent_res + 1)


def center_child_py(h: int, child_res: int) -> int:
    res = resolution_py(h)
    if child_res < res or child_res > MAX_RES:
        raise ValueError(f"child_res {child_res} not in [{res}, {MAX_RES}]")
    out = (h & ~(0xF << 52)) | (child_res << 52)
    # digits res+1..child_res become 0 (center), the rest stay 7
    clear = _digits_mask(res + 1, child_res)
    return out & ~clear


def compact_cells_py(cells) -> list[int]:
    """Driver-side (numpy) H3 compaction: fold every complete sibling family
    (7 hexagon children / 6 pentagon children) into its parent, cascading to
    coarser resolutions. Input: same- or mixed-resolution distinct valid
    cells; output: the minimal equivalent covering set. Reference for the
    distributed operators/h3_sets.compact_cells."""
    cur = np.unique(np.asarray(list(cells), dtype=np.uint64))
    if not len(cur):
        return []
    out: list[np.ndarray] = []
    max_res = int((cur >> np.uint64(52) & np.uint64(0xF)).max())
    for r in range(max_res, 0, -1):
        res_arr = (cur >> np.uint64(52)) & np.uint64(0xF)
        at_r = cur[res_arr == r]
        rest = cur[res_arr != r]
        if not len(at_r):
            cur = rest
            continue
        parents = (
            (at_r & ~np.uint64(0xF << 52))
            | np.uint64(r - 1 << 52)
            | np.uint64(_digits_mask(r))
        )
        uniq, counts = np.unique(parents, return_counts=True)
        # vectorized pentagon test (a per-parent python loop costs seconds
        # on 10^5-cell sets): pentagon ⇔
        # pentagon base cell AND all digits of the parent's res are 0
        bc = (uniq >> np.uint64(45)) & np.uint64(0x7F)
        is_pent = np.isin(bc, _PENTAGON_BC)
        if r - 1 >= 1:
            digits_zero = (uniq & np.uint64(_digits_mask(1, r - 1))) == 0
            is_pent &= digits_zero
        need = np.where(is_pent, 6, 7)
        complete = uniq[counts >= need]
        fold = np.isin(parents, complete)
        out.append(at_r[~fold])
        cur = np.unique(np.concatenate([rest, complete]))
    out.append(cur)
    return np.concatenate(out).tolist()


def is_pentagon_py(h: int) -> bool:
    if base_cell_py(h) not in PENTAGON_BASE_CELLS:
        return False
    return all(digit_py(h, i) == 0 for i in range(1, resolution_py(h) + 1))


def children_count_py(h: int, child_res: int) -> int:
    n = child_res - resolution_py(h)
    if n < 0:
        raise ValueError("child_res below cell resolution")
    if is_pentagon_py(h):
        return 1 + 5 * (7**n - 1) // 6
    return 7**n
