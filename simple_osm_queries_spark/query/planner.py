"""AST -> DataFrame planner.

Where the reference interprets the AST per feature over channel scans
(/root/reference/src/query/statement.go:39-70, filter.go), we compile the
whole query into ONE declarative DataFrame plan and let Catalyst do pruning,
pushdown and join selection:

* bbox scan (S2)       -> query-bbox-meets-feature-bound predicate
  (geometry.bound_meets, the node-point / way-relation min-max column choice
  named once in geometry.BOUND_COLUMNS); on parquet the bound columns'
  min/max stats skip row groups (the Spark analogue of reading
  only the cell files in range, grid_reader.go:39-78);
* tag filters (F4-F8)  -> null-safe boolean column math on the tags map,
  incl. the "no key => false for every operator" rule (filter.go:108-110)
  and natural-order comparisons (functions/natural_sort.py);
* this.* (J1/J2)       -> DECORRELATED: the inner statement's qualifying rows
  become one id set, read from the INNER side: explode of the inner row's
  reverse adjacency (prepare derives every reverse edge from its forward
  edge, so this names the same outer ids as the reference's "outer related
  ids meet qualifying inner ids", filter.go:266-334), then distinct. The
  set is left-joined back as a boolean flag column (_flag_join, shared with
  this.buffer), so it composes with arbitrary AND/OR/NOT nesting and the
  outer frame is read only for its rows and its rectangle. Like the
  reference's scoped fetch (filter.go:196-263), every inner scan is first
  filtered to the outer candidates' union bounding rectangle
  (_scope_inner_by_outer_rect) — a one-row broadcast, whatever the pair of
  types — so the inner side never flows whole for a city-sized bbox.
* multiple top-level statements -> unionByName (query.go:29-35).

Output schema is uniform across object types:
(osm_type, id, lon, lat, min_lon, min_lat, max_lon, max_lat, tags, nodes)
— nodes only populated for ways (ordered coordinate array for GeoJSON).

Note on duplicates: the reference emits a way once per scanned cell it spans
(statement.go appends per-cell batches without dedup); we return each object
exactly once — one row per feature, the documented intent of the language.
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from simple_osm_queries_spark.functions import geometry as G
from simple_osm_queries_spark.functions.natural_sort import natural_cmp
from simple_osm_queries_spark.query import ast
from simple_osm_queries_spark.sources.dataset import OsmDataset


class PlanError(ValueError):
    pass


# outer object type x inner query type -> the INNER row's column holding the
# outer ids it relates to: the reverse of the membership matrix in
# filter.go:266-334 (the outer's way_ids <-> the way's node_ids, ...).
_ADJACENCY = {
    ("node", "ways"): "node_ids",
    ("node", "relations"): "node_member_ids",
    ("way", "nodes"): "way_ids",
    ("way", "relations"): "way_member_ids",
    ("relation", "nodes"): "relation_ids",
    ("relation", "ways"): "relation_ids",
    ("relation", "relations"): "child_relation_ids",
    ("relation", "child_relations"): "parent_relation_ids",
}

_FLAG = itertools.count()


def _tag_value(key: str) -> Column:
    return F.element_at(F.col("tags"), F.lit(key))


def _has_key(key: str) -> Column:
    return F.map_contains_key(F.col("tags"), F.lit(key))


def _nn(col: Column) -> Column:
    """Null-safe: absent key must yield False, not NULL, so that NOT/OR over
    it keeps two-valued semantics like the reference's interpreter."""
    return F.coalesce(col, F.lit(False))


def compile_filter(
    df: DataFrame, expr: ast.FilterExpr, outer_type: str, dataset: OsmDataset
) -> tuple[DataFrame, Column]:
    """Returns (possibly augmented df, boolean Column). Sub-statements add
    precomputed membership flag columns to df; everything else is pure
    column math."""
    if isinstance(expr, ast.TagFilter):
        v = _tag_value(expr.key)
        if expr.op == "=":
            pred = _nn(v == F.lit(expr.value))
        elif expr.op == "!=":
            # key must exist AND value differ (filter.go:108-115)
            pred = _nn(v != F.lit(expr.value))
        else:
            pred = _has_key(expr.key) & _nn(natural_cmp(v, expr.op, expr.value))
        return df, pred
    if isinstance(expr, ast.KeyFilter):
        hk = _has_key(expr.key)
        return df, hk if expr.present else ~hk
    if isinstance(expr, ast.Not):
        df, inner = compile_filter(df, expr.expr, outer_type, dataset)
        return df, ~inner
    if isinstance(expr, ast.And):
        df, a = compile_filter(df, expr.a, outer_type, dataset)
        df, b = compile_filter(df, expr.b, outer_type, dataset)
        return df, a & b
    if isinstance(expr, ast.Or):
        df, a = compile_filter(df, expr.a, outer_type, dataset)
        df, b = compile_filter(df, expr.b, outer_type, dataset)
        return df, a | b
    if isinstance(expr, ast.SubStatement):
        if expr.buffer_m is not None:
            return _compile_buffer(df, expr.statement, expr.buffer_m, outer_type, dataset)
        return _compile_substatement(df, expr.statement, outer_type, dataset)
    raise PlanError(f"Unknown filter expression {expr!r}")


def _scope_inner_by_outer_rect(
    inner_df: DataFrame, inner_base: str, df: DataFrame, outer_type: str
) -> DataFrame:
    """Scope a sub-statement's inner scan by the OUTER candidates' union
    bounding rectangle — the distributed form of the reference's scoped
    sub-statement fetch (/root/reference/src/query/filter.go:196-263: it
    turns the outer features' locations and bbox extents into cells and
    fetches inner features only in those, instead of scanning the whole
    inner table).

    The rectangle is a one-row aggregate over the outer candidate scan,
    broadcast onto the inner scan (a 1-row BroadcastNestedLoopJoin — free),
    so the whole thing stays a lazy plan: no plan-time job, and the inner
    table is filtered BEFORE any join/shuffle instead of flowing whole.

    Safety: every adjacency in _ADJACENCY stays inside the rectangle. A
    way's bounds are the min/max of its member nodes, so a way's nodes lie
    in the way's bounds and any way holding an outer node intersects a
    rectangle covering that node. A relation's bounds fold every member
    (incl. those of descendants down to ``max_relation_depth`` levels,
    dataset.prepare), so its members lie within them, and a parent
    relation's bounds contain the child's, so parents intersect any
    rectangle covering the child. An outer row without bounds (memberless
    relation, way without resolved nodes, node without coordinates) has
    adjacencies the rectangle cannot account for: the ``__o_unbounded``
    flag lazily disables scoping for that case, and inner rows without
    bounds (or an empty outer set's NULL rectangle) are kept (coalesce ->
    True): scoping may only ever drop rows that provably cannot match."""
    lo_lon, lo_lat, hi_lon, hi_lat = G.BOUND_COLUMNS[outer_type]
    rect = df.agg(
        F.min(lo_lon).alias("__omin_lon"),
        F.min(lo_lat).alias("__omin_lat"),
        F.max(hi_lon).alias("__omax_lon"),
        F.max(hi_lat).alias("__omax_lat"),
        F.max(F.col(lo_lon).isNull()).alias("__o_unbounded"),
    )
    scoped = inner_df.crossJoin(F.broadcast(rect))
    keep = G.bound_meets(
        inner_base, *(F.col(c) for c in ("__omin_lon", "__omin_lat", "__omax_lon", "__omax_lat"))
    )
    return scoped.filter(
        F.coalesce(F.col("__o_unbounded"), F.lit(True)) | F.coalesce(keep, F.lit(True))
    ).drop("__omin_lon", "__omin_lat", "__omax_lon", "__omax_lat", "__o_unbounded")


def _compile_substatement(
    df: DataFrame, stmt: ast.Statement, outer_type: str, dataset: OsmDataset
) -> tuple[DataFrame, Column]:
    inner_qtype = stmt.query_type
    adjacency = _ADJACENCY.get((outer_type, inner_qtype))
    if adjacency is None:
        raise PlanError(
            f"this.{inner_qtype} is not valid inside a {outer_type} statement"
        )

    inner_base = ast.BASE_TYPE[inner_qtype]
    inner_df = dataset.df_for(inner_base)
    inner_df = _scope_inner_by_outer_rect(inner_df, inner_base, df, outer_type)
    inner_df, inner_pred = compile_filter(inner_df, stmt.filter, inner_base, dataset)
    outer_ids = inner_df.filter(inner_pred).select(F.explode(adjacency).alias("id")).distinct()
    return _flag_join(df, outer_ids)


def _compile_buffer(
    df: DataFrame, stmt: ast.Statement, buffer_m: float, outer_type: str, dataset: OsmDataset
) -> tuple[DataFrame, Column]:
    """`this.buffer(Dm).<type>{...}` — the reference's documented-but-
    unimplemented proximity form (README.md:154-181), as a distance-buffer
    spatial semi join (operators/buffer.py). Supported geometry pairs:
    node<->node, node->way, way->node, way<->way (segment-pair distance)."""
    from simple_osm_queries_spark.operators import buffer as B

    inner_qtype = stmt.query_type
    inner_base = ast.BASE_TYPE[inner_qtype]
    inner_df = dataset.df_for(inner_base)
    inner_df, inner_pred = compile_filter(inner_df, stmt.filter, inner_base, dataset)
    inner_df = inner_df.filter(inner_pred)

    if outer_type == "node" and inner_base == "node":
        matched = B.within_buffer_node_node(df, inner_df, buffer_m)
    elif outer_type == "node" and inner_base == "way":
        matched = B.within_buffer_node_way(df, inner_df, buffer_m, output="node")
    elif outer_type == "way" and inner_base == "node":
        matched = B.within_buffer_node_way(inner_df, df, buffer_m, output="way")
    elif outer_type == "way" and inner_base == "way":
        matched = B.within_buffer_way_way(df, inner_df, buffer_m)
    else:
        raise PlanError(
            f"this.buffer(...).{inner_qtype} inside a {outer_type} statement is "
            "not supported (supported pairs: node<->node, node<->ways, way<->ways)"
        )
    return _flag_join(df, matched)


def _flag_join(df: DataFrame, ids: DataFrame) -> tuple[DataFrame, Column]:
    """Left-join a distinct one-column ``id`` set onto df as a flag column;
    the returned predicate is False, not NULL, for rows outside the set."""
    flag = f"__in_{next(_FLAG)}"
    df = df.join(ids.withColumn(flag, F.lit(True)), "id", "left")
    return df, F.coalesce(F.col(flag), F.lit(False))


def _project_output(df: DataFrame, object_type: str) -> DataFrame:
    null_d = F.lit(None).cast("double")
    null_nodes = F.lit(None).cast("array<struct<id:long,lon:double,lat:double>>")
    point = object_type == "node"
    lo_lon, lo_lat, hi_lon, hi_lat = G.BOUND_COLUMNS[object_type]
    return df.select(
        F.lit(object_type).alias("osm_type"),
        "id",
        F.col("lon") if point else null_d.alias("lon"),
        F.col("lat") if point else null_d.alias("lat"),
        F.col(lo_lon).alias("min_lon"),
        F.col(lo_lat).alias("min_lat"),
        F.col(hi_lon).alias("max_lon"),
        F.col(hi_lat).alias("max_lat"),
        "tags",
        F.col("nodes") if object_type == "way" else null_nodes.alias("nodes"),
    )


def plan_statement(stmt: ast.Statement, dataset: OsmDataset) -> DataFrame:
    if not isinstance(stmt.location, ast.Bbox):
        raise PlanError("Top-level statements require a bbox(...) location")
    if stmt.query_type == "child_relations":
        raise PlanError("'child_relations' is only valid in sub-statements")
    object_type = ast.BASE_TYPE[stmt.query_type]
    df = dataset.df_for(object_type)
    box = stmt.location
    df = df.filter(G.bound_meets(object_type, box.min_lon, box.min_lat, box.max_lon, box.max_lat))
    df, pred = compile_filter(df, stmt.filter, object_type, dataset)
    return _project_output(df.filter(pred), object_type)


def plan_query(query: ast.Query, dataset: OsmDataset) -> DataFrame:
    result = None
    for stmt in query.statements:
        stmt_df = plan_statement(stmt, dataset)
        result = stmt_df if result is None else result.unionByName(stmt_df)
    assert result is not None
    return result


def run_query(text: str, dataset: OsmDataset) -> DataFrame:
    from simple_osm_queries_spark.query.parser import parse_query

    return plan_query(parse_query(text), dataset)
