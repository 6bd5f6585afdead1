"""H3 index bit-algebra over REAL H3 cell ids (no geometry library needed).

The H3 index layout is public (h3geo.org "H3 Index Representations"):

    bit 63        reserved (0)
    bits 59..62   mode (1 = cell)
    bits 56..58   reserved (0 for cells)
    bits 52..55   resolution r (0..15)
    bits 45..51   base cell (0..121)
    bits 45-3i .. 47-3i   digit i for i = 1..15 (3 bits each;
                          digits above the cell's resolution are 7)

Everything here is pure bit math on that layout — parse, validate, parent,
center child, children count, hex tokens — so a dataset keyed by real H3
ids (produced by any H3 implementation) can be validated, rolled up to a
coarser resolution, grouped per base cell, etc., entirely JVM-side in
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
MODE_CELL = 1
PENTAGON_BASE_CELLS = frozenset({4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117})


def _pentagon_bc_arr():
    import numpy as np

    return np.array(sorted(PENTAGON_BASE_CELLS), dtype=np.uint64)


def _digit_shift(i: int) -> int:
    """Bit offset of resolution-digit i (1..15)."""
    return 45 - 3 * i


def _digits_mask(from_res: int, to_res: int = MAX_RES) -> int:
    """All-sevens mask over digits from_res..to_res (inclusive)."""
    m = 0
    for i in range(from_res, to_res + 1):
        m |= 7 << _digit_shift(i)
    return m


# ---------------------------------------------------------------------------
# python scalar forms (planning / tests)
# ---------------------------------------------------------------------------


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
    cells; output: the minimal equivalent covering set. The distributed
    DataFrame twin lives in operators/h3_sets.compact_cells; this one is
    its driver-side reference (test_compact_cells_py_matches_distributed)."""
    import numpy as np

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
        # on the 10^5-cell covers the bbox planner compacts): pentagon ⇔
        # pentagon base cell AND all digits of the parent's res are 0
        bc = (uniq >> np.uint64(45)) & np.uint64(0x7F)
        is_pent = np.isin(bc, _pentagon_bc_arr())
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


def to_token_py(h: int) -> str:
    return f"{h:x}"


def from_token_py(s: str) -> int:
    return int(s, 16)


# ---------------------------------------------------------------------------
# column forms (pure JVM bit math, codegen-friendly)
# ---------------------------------------------------------------------------


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


def is_valid(h: Column) -> Column:
    """Structural validity (mode/reserved/base-cell/digit-range/seven-fill
    plus the pentagon deleted-K-axis rule); matches is_valid_py exactly.
    Pure bit math + bounded when-chains, codegen-friendly."""
    res = resolution(h)
    checks = (
        (F.shiftrightunsigned(h, 63) == 0)
        & (F.shiftright(h, 59).bitwiseAND(F.lit(0xF)) == MODE_CELL)
        & (F.shiftright(h, 56).bitwiseAND(F.lit(0x7)) == 0)
        & (base_cell(h) <= 121)
    )
    digits = [
        F.shiftright(h, _digit_shift(i)).bitwiseAND(F.lit(7))
        for i in range(1, MAX_RES + 1)
    ]
    for i, d in enumerate(digits, start=1):
        checks = checks & F.when(F.lit(i) <= res, d != 7).otherwise(d == 7)
    # pentagon rule: the first nonzero digit (within res) may not be the
    # deleted K axis (1). Build the leading-digit when-chain right-to-left
    # so digit 1 takes precedence.
    lead = F.lit(0)
    for i in range(MAX_RES, 0, -1):
        d = digits[i - 1]
        lead = F.when((F.lit(i) <= res) & (d != 0), d).otherwise(lead)
    is_pent_base = base_cell(h).isin(*sorted(PENTAGON_BASE_CELLS))
    return checks & ~(is_pent_base & (lead == 1))


def to_token(h: Column) -> Column:
    return F.lower(F.hex(h))


def digit(h: Column, i: int) -> Column:
    return F.shiftright(h, _digit_shift(i)).bitwiseAND(F.lit(7)).cast("int")


def is_pentagon(h: Column) -> Column:
    """Column form of is_pentagon_py: pentagon base cell AND all digits
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
