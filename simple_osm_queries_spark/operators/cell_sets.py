"""Compact / uncompact over a hierarchical cell grid: one algebra for H3
(operators/h3_sets.py) and S2 (operators/s2_sets.py).

A grid plugs in through four column functions (``CellHierarchy``): the
level of a cell, its parent at a coarser level, the size of a complete
sibling family under a parent, and the array of a cell's children one
level down. Both operations are level-sparse and run on the driver as a
loop over levels, each level one eager ``localCheckpoint``:

* ``uncompact`` — one min/max level probe, then per level below the
  target the cells at that level explode into their children.
* ``compact`` — one distinct-levels probe, then finest level first: group
  the level's cells by parent, keep the parents whose family is complete,
  anti-join their children away and add the parents. A level that folds
  nothing leaves the plan (and its checkpoint) untouched, and a folded
  level queues its parent level, so folds cascade.

Input cells must be distinct and non-overlapping (no cell an ancestor of
another) — the contract the H3 library documents for ``compactCells``.
Everything is JVM column math over the 64-bit ids.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class CellHierarchy:
    unit: str  # the grid's name for a level ("res", "level"), for messages
    level: Callable[[Column], Column]
    parent: Callable[[Column, int], Column]  # (cell, parent level)
    family_size: Callable[[Column], Column]  # children of a parent cell
    children: Callable[[Column, int], Column]  # (cell at lv, lv) -> array


def uncompact(df: DataFrame, target: int, grid: CellHierarchy) -> DataFrame:
    """All descendants at level ``target`` of every (mixed-level) cell of
    ``df``'s ``cell`` column."""
    cur = df.select("cell")
    lo, hi = cur.agg(F.min(grid.level(F.col("cell"))), F.max(grid.level(F.col("cell")))).first()
    if lo is None:
        return cur
    if int(hi) > target:
        raise ValueError(
            f"uncompact target {grid.unit} {target} is coarser than an input cell "
            f"(max {grid.unit} {hi}); refusing to silently pass finer cells through"
        )
    for lv in range(int(lo), target):
        at_lv = grid.level(F.col("cell")) == lv
        expanded = cur.filter(at_lv).select(
            F.explode(grid.children(F.col("cell"), lv)).alias("cell")
        )
        # eager lineage cut per level: the union-of-explodes plan otherwise
        # deepens geometrically and Catalyst re-analysis dominates runtime
        cur = cur.filter(~at_lv).unionByName(expanded).localCheckpoint(eager=True)
    return cur


def compact(df: DataFrame, grid: CellHierarchy) -> DataFrame:
    """Minimal covering set of ``df``'s ``cell`` column: complete sibling
    families fold into their parents, cascading to coarser levels."""
    cur = df.select("cell")
    present = {
        int(r[0]) for r in cur.select(grid.level(F.col("cell"))).distinct().collect()
    }
    present.discard(0)
    while present:
        lv = max(present)
        present.discard(lv)
        at_lv = grid.level(F.col("cell")) == lv
        fam = cur.filter(at_lv).select("cell", grid.parent(F.col("cell"), lv - 1).alias("__p"))
        complete = (
            fam.groupBy("__p").agg(F.count("*").alias("__n"))
            .filter(F.col("__n") == grid.family_size(F.col("__p")))
            .select("__p")
            .localCheckpoint(eager=True)  # tiny; reused by the anti join
        )
        if complete.isEmpty():
            continue  # nothing folds at this level: cur unchanged
        kept = fam.join(complete, "__p", "left_anti").select("cell")
        parents = complete.select(F.col("__p").alias("cell"))
        cur = cur.filter(~at_lv).unionByName(kept).unionByName(parents).localCheckpoint(eager=True)
        if lv - 1 > 0:
            present.add(lv - 1)  # new parents may cascade
    return cur
