"""H3 index bit-algebra over REAL H3 cell ids (no geometry library needed).

The H3 index layout is public (h3geo.org "H3 Index Representations"):

    bit 63        reserved (0)
    bits 59..62   mode (1 = cell)
    bits 56..58   reserved (0 for cells)
    bits 52..55   resolution r (0..15)
    bits 45..51   base cell (0..121)
    bits 45-3i .. 47-3i   digit i for i = 1..15 (3 bits each;
                          digits above the cell's resolution are 7)

Everything here is pure bit math on that layout — resolution, base cell,
digits, parent, child, pentagon test — so a dataset keyed by real H3 ids
(produced by any H3 implementation) can be rolled up to a coarser
resolution, grouped per base cell, compacted, etc., entirely JVM-side in
whole-stage codegen. The lat/lng -> cell *encoder* lives in
functions/h3_encode.py (from-scratch, bit-compatible, numpy-vectorized);
the algebra below applies to its output and to externally-keyed datasets
alike.

Pentagon base cells (12, publicly documented): a pentagon cell is one whose
base cell is a pentagon and whose digits are all 0; leading digit 1 (the K
axis) is deleted under pentagons, making such ids invalid.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_RES = 15
PENTAGON_BASE_CELLS = frozenset({4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117})


def _digit_shift(i: int) -> int:
    """Bit offset of resolution-digit i (1..15)."""
    return 45 - 3 * i


def _digits_mask(from_res: int, to_res: int = MAX_RES) -> int:
    """All-sevens mask over digits from_res..to_res (inclusive)."""
    m = 0
    for i in range(from_res, to_res + 1):
        m |= 7 << _digit_shift(i)
    return m


def resolution(h: Column) -> Column:
    return F.shiftright(h, 52).bitwiseAND(F.lit(0xF)).cast("int")


def base_cell(h: Column) -> Column:
    return F.shiftright(h, 45).bitwiseAND(F.lit(0x7F)).cast("int")


def parent(h: Column, parent_res: int) -> Column:
    """Real-H3 parent at a fixed coarser resolution: swap the res nibble,
    seven-fill the digits below it. Constant masks -> two bit ops."""
    # python ~(0xF<<52) is already the two's-complement int64 of the mask
    # with every other bit (incl. 63) set
    return (
        h.bitwiseAND(F.lit(~(0xF << 52)).cast("long"))  # clear res nibble
        .bitwiseOR(F.lit(parent_res << 52))
        .bitwiseOR(F.lit(_digits_mask(parent_res + 1)))
    )


def digit(h: Column, i: int) -> Column:
    return F.shiftright(h, _digit_shift(i)).bitwiseAND(F.lit(7)).cast("int")


def is_pentagon(h: Column) -> Column:
    """Pentagon test: pentagon base cell AND all digits
    within the resolution are 0 (bounded when-chain, codegen-friendly)."""
    res = resolution(h)
    all_zero = F.lit(True)
    for i in range(1, MAX_RES + 1):
        all_zero = all_zero & ((F.lit(i) > res) | (digit(h, i) == 0))
    return base_cell(h).isin(*sorted(PENTAGON_BASE_CELLS)) & all_zero


def child_at(h: Column, res: int, d) -> Column:
    """Child of a res-(res-1) cell: bump the res nibble, set digit ``res``
    to ``d`` (a Column or int). Caller guarantees h is at res-1."""
    d_col = d if isinstance(d, Column) else F.lit(int(d))
    shift = _digit_shift(res)
    return (
        h.bitwiseAND(F.lit(~(0xF << 52)).cast("long"))
        .bitwiseAND(F.lit(~(7 << shift)).cast("long"))
        .bitwiseOR(F.lit(res << 52))
        .bitwiseOR(d_col.cast("long") * F.lit(1 << shift))
    )
