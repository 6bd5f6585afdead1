"""Set operations over S2 cell collections: compact / uncompact.

The S2 counterpart of operators/h3_sets.py, simpler because the hierarchy
is uniform 4-ary with pure bit arithmetic (no pentagons, no rotations):

* children of a cell c with trailing bit lsb are the 4 ids
  ``c - lsb + (2k + 1) * (lsb >> 2)`` for k in 0..3 — the standard
  child_begin/child_end subdivision of the Hilbert position range;
* compact folds every complete 4-sibling family into its parent, finest
  level first — one groupBy + anti-join per level, all on derived keys.

Both are the shared level-sparse fold of operators/cell_sets.py bound to
the S2 hierarchy (``_S2``).

Everything is JVM column math (shift/mask/arithmetic on the signed-long
two's-complement ids, faces 4/5 included); Python appears only in the
driver loop over levels.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from simple_osm_queries_spark.functions import s2 as S2
from simple_osm_queries_spark.operators import cell_sets


def _level_col(cell):
    """Level from the trailing-one position, as a column: 30 - tz/2.
    Bounded unrolled binary count over the 60 position bits."""
    lsb = S2.lsb_col(cell)
    # lsb is one of 31 powers of four: a bounded when-chain resolves it
    out = F.lit(-1)
    for level in range(S2.MAX_LEVEL + 1):
        out = F.when(lsb == (1 << (2 * (S2.MAX_LEVEL - level))), F.lit(level)).otherwise(out)
    return out


def _children(cell: Column, level: int) -> Column:
    """The 4 children one level down (the lsb formula above)."""
    lsb = S2.lsb_col(cell)
    return F.array(*[cell - lsb + (2 * k + 1) * F.shiftright(lsb, 2) for k in range(4)])


_S2 = cell_sets.CellHierarchy(
    unit="level",
    level=_level_col,
    parent=S2.parent_id_col,
    family_size=lambda p: F.lit(4),
    children=_children,
)


def uncompact_cells(df: DataFrame, level: int) -> DataFrame:
    """All descendants at ``level`` of every (possibly mixed-level) cell of
    ``df``'s ``cell`` column."""
    return cell_sets.uncompact(df, level, _S2)


def compact_cells(df: DataFrame) -> DataFrame:
    """Minimal covering set: complete 4-sibling families fold into parents,
    cascading to coarser levels. Level-sparse: a same-level input set costs
    ONE groupBy round instead of max_level eager checkpoints (measured
    13.7s -> ~1s on the gate's level-21 roundtrip)."""
    return cell_sets.compact(df, _S2)
