"""Set operations over H3 cell collections: compact / uncompact.

The standard hypertable-rollup primitives of the H3 system, reimplemented
as distributed DataFrame operators over the public 64-bit layout
(functions/h3.py):

* ``uncompact_cells(df, res)`` — expand every cell to its complete set of
  descendants at ``res`` (7 children per hexagon level, 6 per pentagon —
  the deleted-K-axis digit is skipped). One ``explode`` per level.
* ``compact_cells(df)`` — inverse-closure: repeatedly replace every
  COMPLETE sibling set (all 7 children of a hexagon parent / all 6 of a
  pentagon parent, finest resolution first) with the parent. One groupBy +
  anti join per resolution that holds cells — O(max_res) rounds regardless
  of data size, all equi-joins on derived keys.

Both are the shared level-sparse fold of operators/cell_sets.py bound to
the H3 hierarchy (``_H3``).

Input cells must be distinct and non-overlapping (no cell an ancestor of
another) — the same contract the reference H3 library documents for
``compactCells``. Reference pointer: the engine's grid analog is the cell
column of /root/reference/src/common/cell.go:7-9; compaction has no
reference counterpart (the reference grid is single-resolution) — this is
part of the north rule's multi-resolution rollup surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from simple_osm_queries_spark.functions import h3 as H
from simple_osm_queries_spark.operators import cell_sets


def _children(cell: Column, res: int) -> Column:
    """The children at ``res + 1``: digits 0..6 for hexagons; the K axis
    (1) is deleted under pentagons."""

    def kids(digits) -> Column:
        return F.array(*[H.child_at(cell, res + 1, d) for d in digits])

    return F.when(H.is_pentagon(cell), kids((0, 2, 3, 4, 5, 6))).otherwise(kids(range(7)))


_H3 = cell_sets.CellHierarchy(
    unit="res",
    level=H.resolution,
    parent=H.parent,
    family_size=lambda p: F.when(H.is_pentagon(p), F.lit(6)).otherwise(F.lit(7)),
    children=_children,
)


def uncompact_cells(df: DataFrame, res: int, cell_col: str = "cell") -> DataFrame:
    """All descendants at ``res`` of every (possibly mixed-resolution) cell."""
    return cell_sets.uncompact(df, res, cell_col, _H3)


def compact_cells(df: DataFrame, cell_col: str = "cell") -> DataFrame:
    """Minimal covering set: complete sibling families fold into parents,
    cascading to coarser resolutions. Level-sparse: a same-res input costs
    one groupBy round instead of max_res eager checkpoints."""
    return cell_sets.compact(df, cell_col, _H3)
