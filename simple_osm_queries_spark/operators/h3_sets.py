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
  semi/anti join per resolution level, finest to coarsest — O(max_res)
  rounds regardless of data size, all equi-joins on derived keys.

Input cells must be distinct and non-overlapping (no cell an ancestor of
another) — the same contract the reference H3 library documents for
``compactCells``. Reference pointer: the engine's grid analog is the cell
column of /root/reference/src/common/cell.go:7-9; compaction has no
reference counterpart (the reference grid is single-resolution) — this is
part of the north rule's multi-resolution rollup surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simple_osm_queries_spark.functions import h3 as H


def uncompact_cells(df: DataFrame, res: int, cell_col: str = "cell") -> DataFrame:
    """All descendants at ``res`` of every (possibly mixed-resolution) cell."""
    cur = df.select(F.col(cell_col).alias("cell"))
    bounds = cur.agg(
        F.min(H.resolution(F.col("cell"))), F.max(H.resolution(F.col("cell")))
    ).first()
    min_res, max_res = bounds[0], bounds[1]
    if min_res is None:
        return cur
    if int(max_res) > res:
        raise ValueError(
            f"uncompact target res {res} is coarser than an input cell "
            f"(max res {max_res}); refusing to silently pass finer cells through"
        )
    for r in range(int(min_res), res):
        at_r = F.col("__res") == r
        with_res = cur.withColumn("__res", H.resolution(F.col("cell")))
        done = with_res.filter(~at_r).drop("__res")
        todo = with_res.filter(at_r)
        # digits 0..6 for hexagons; the K axis (1) is deleted under pentagons
        digits = F.when(
            H.is_pentagon(F.col("cell")), F.array(*[F.lit(d) for d in (0, 2, 3, 4, 5, 6)])
        ).otherwise(F.array(*[F.lit(d) for d in range(7)]))
        expanded = (
            todo.select("cell", F.explode(digits).alias("__d"))
            .select(H.child_at(F.col("cell"), r + 1, F.col("__d")).alias("cell"))
        )
        # eager lineage cut per level: the union-of-explodes plan otherwise
        # deepens geometrically and Catalyst re-analysis dominates runtime
        cur = done.unionByName(expanded).localCheckpoint(eager=True)
    return cur


def h3_pyramid(
    df: DataFrame,
    res: int,
    min_res: int,
    lon: str = "lon",
    lat: str = "lat",
    aggs: dict | None = None,
) -> DataFrame:
    """Multi-resolution H3 rollup (the tiles.tile_pyramid shape on the
    hexagonal hierarchy): encode + aggregate once at ``res`` from one pass
    over the rows, then every coarser level folds its children's AGGREGATES
    via the parent bit math — each level shuffles cell-count rows, never
    the data. ``aggs``: {out_col: (sum_expr_at_base, how)} where how is
    'sum'|'min'|'max'; default counts rows. Output: (res, cell, ...aggs).

    Semantics: every coarse level aggregates by ANCESTOR of the res-``res``
    assignment (the standard H3 hierarchy convention) — H3 children are not
    geometrically nested, so a boundary point's direct coarse encode can
    differ from its fine cell's ancestor; the ancestor rollup is the
    consistent choice (each row counted under exactly one cell per level,
    levels sum exactly)."""
    from simple_osm_queries_spark.functions import cells as C
    from simple_osm_queries_spark.operators.tiles import _fold_pyramid

    if not 0 <= min_res <= res:
        raise ValueError(f"need 0 <= min_res <= res, got {min_res}..{res}")
    if aggs is None:
        aggs = {"n": (F.count("*"), "sum")}
    base = (
        df.withColumn("__h3cell", C.cell_h3(F.col(lon), F.col(lat), res))
        .groupBy(F.col("__h3cell").alias("cell"))
        .agg(*[expr.alias(name) for name, (expr, _) in aggs.items()])
    )
    fold = {"sum": F.sum, "min": F.min, "max": F.max}
    return _fold_pyramid(
        base, "cell", "res", res, min_res, lambda cell, r: H.parent(cell, r - 1),
        {name: fold[how] for name, (_, how) in aggs.items()},
    )


def compact_cells(df: DataFrame, cell_col: str = "cell") -> DataFrame:
    """Minimal covering set: complete sibling families fold into parents,
    cascading to coarser resolutions.

    Level-sparse like s2_sets.compact_cells: only resolutions that hold
    cells are visited, and a resolution that folds nothing leaves the plan
    (and its checkpoint) untouched — a same-res input costs one groupBy
    round instead of max_res eager checkpoints."""
    cur = df.select(F.col(cell_col).alias("cell"))
    present = {
        int(r_[0])
        for r_ in cur.select(H.resolution(F.col("cell")).alias("r")).distinct().collect()
    }
    present.discard(0)
    while present:
        r = max(present)
        present.discard(r)
        with_res = cur.withColumn("__res", H.resolution(F.col("cell")))
        at_r = with_res.filter(F.col("__res") == r).drop("__res")
        fam = at_r.select("cell", H.parent(F.col("cell"), r - 1).alias("__p"))
        counts = fam.groupBy("__p").agg(F.count("*").alias("__n"))
        complete = counts.filter(
            (F.col("__n") == 7) & ~H.is_pentagon(F.col("__p"))
            | (F.col("__n") == 6) & H.is_pentagon(F.col("__p"))
        ).select("__p").localCheckpoint(eager=True)  # tiny; reused below
        if complete.isEmpty():
            continue
        rest = with_res.filter(F.col("__res") != r).drop("__res")
        kept = fam.join(complete, "__p", "left_anti").select("cell")
        parents = complete.select(F.col("__p").alias("cell"))
        cur = (
            rest.unionByName(kept).unionByName(parents).localCheckpoint(eager=True)
        )
        if r - 1 > 0:
            present.add(r - 1)
    return cur
