"""OsmDataset: the three feature collections + derived columns.

This is the Spark re-expression of the reference's import-time index build
(/root/reference/src/importing/import.go + src/index/grid_writer.go):

* cell assignment  — computed ``cell_x/cell_y`` node columns
  (grid_writer.go:90-252 routes features into cells; we derive the same keys
  as column math and partition the on-disk index by them instead of writing
  cell files — index/build.py, index/upsert.py, index/compact.py);
* way geometry     — explode(node_ids) -> shuffle-join with nodes ->
  re-assemble ordered coordinate arrays + bbox (grid_writer.go:125-145 stores
  node coords on ways; the PBF pre-processing step `osmium
  add-locations-to-ways` is replaced by this join);
* reverse edges J3 — node->ways, node/way->relations, relation->parents via
  explode/groupBy/join (grid_writer.go:254-417; NB the reference's
  waysToRelations loop at :272-274 appends to the wrong map — an upstream
  bug — we implement the documented intent: DIRECT membership only);
* relation bbox    — union of the member bboxes of the relation and of its
  descendants down to ``max_relation_depth`` levels (grid_writer.go:185-228;
  the reference relies on children being imported before parents, we join
  the (ancestor, descendant) pairs up to that depth with the member boxes
  once; nesting deeper than the bound is not folded).

All joins are plain equi-joins on ids: Catalyst/AQE picks broadcast vs
sort-merge and splits skewed partitions; adjacency arrays stay bounded (OSM
membership degree), so no collect() anywhere.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simple_osm_queries_spark.functions import cells as C

def _empty_longs():
    return F.array().cast("array<long>")


@dataclass
class OsmDataset:
    """Prepared feature tables. Schemas (beyond raw generator columns):

    nodes:      id, lon, lat, tags, cell_x, cell_y, way_ids, relation_ids
                (+ image payload columns when generated with images)
    ways:       id, node_ids, tags, nodes(array<struct<id,lon,lat>>),
                min_lon/min_lat/max_lon/max_lat, relation_ids
    relations:  id, node_member_ids, way_member_ids, child_relation_ids, tags,
                min_lon/min_lat/max_lon/max_lat, parent_relation_ids
    """

    nodes: DataFrame
    ways: DataFrame
    relations: DataFrame

    def df_for(self, object_type: str) -> DataFrame:
        if object_type == "node":
            return self.nodes
        if object_type == "way":
            return self.ways
        if object_type == "relation":
            return self.relations
        raise ValueError(f"unknown object type {object_type!r}")

    def cache(self) -> "OsmDataset":
        self.nodes.cache()
        self.ways.cache()
        self.relations.cache()
        return self


def _with_reverse_edges(
    df: DataFrame, edges: DataFrame, out_col: str
) -> DataFrame:
    """Left-join ``edges(id, parent_id)`` aggregated to sorted arrays onto df."""
    agg = edges.groupBy("id").agg(F.sort_array(F.collect_set("parent_id")).alias(out_col))
    return df.join(agg, "id", "left").withColumn(
        out_col, F.coalesce(F.col(out_col), _empty_longs())
    )


def prepare(
    nodes_raw: DataFrame,
    ways_raw: DataFrame,
    relations_raw: DataFrame,
    max_relation_depth: int = 4,
) -> OsmDataset:
    # --- nodes: index partition keys (pure column math, codegen'd) ---------
    nodes = nodes_raw.withColumn("cell_x", C.cell_x(F.col("lon"))).withColumn(
        "cell_y", C.cell_y(F.col("lat"))
    )

    # --- way geometry: one shuffle join nodes<->exploded membership ---------
    way_nodes = ways_raw.select(
        F.col("id").alias("way_id"), F.posexplode("node_ids").alias("pos", "nid")
    )
    node_coords = nodes.select(F.col("id").alias("nid"), "lon", "lat")
    joined = way_nodes.join(node_coords, "nid", "inner")
    way_geom = joined.groupBy("way_id").agg(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct("pos", F.struct("nid", "lon", "lat").alias("n")))
            ),
            lambda s: F.struct(
                s["n"]["nid"].alias("id"), s["n"]["lon"].alias("lon"), s["n"]["lat"].alias("lat")
            ),
        ).alias("nodes"),
        F.min("lon").alias("min_lon"),
        F.min("lat").alias("min_lat"),
        F.max("lon").alias("max_lon"),
        F.max("lat").alias("max_lat"),
    )
    ways = ways_raw.join(way_geom.withColumnRenamed("way_id", "id"), "id", "left")

    # --- reverse edges (J3): direct membership only -------------------------
    node_way_edges = way_nodes.select(F.col("nid").alias("id"), F.col("way_id").alias("parent_id"))
    nodes = _with_reverse_edges(nodes, node_way_edges, "way_ids")

    rel = relations_raw
    node_rel_edges = rel.select(
        F.explode("node_member_ids").alias("id"), F.col("id").alias("parent_id")
    )
    nodes = _with_reverse_edges(nodes, node_rel_edges, "relation_ids")

    way_rel_edges = rel.select(
        F.explode("way_member_ids").alias("id"), F.col("id").alias("parent_id")
    )
    ways = _with_reverse_edges(ways, way_rel_edges, "relation_ids")

    child_rel_edges = rel.select(
        F.explode("child_relation_ids").alias("id"), F.col("id").alias("parent_id")
    )
    relations = _with_reverse_edges(rel, child_rel_edges, "parent_relation_ids")

    # --- relation bbox: union of member bboxes, folded up the child DAG -----
    node_boxes = rel.select(
        F.col("id").alias("rid"), F.explode("node_member_ids").alias("nid")
    ).join(node_coords, "nid").select(
        "rid",
        F.col("lon").alias("min_lon"),
        F.col("lat").alias("min_lat"),
        F.col("lon").alias("max_lon"),
        F.col("lat").alias("max_lat"),
    )
    way_boxes = rel.select(
        F.col("id").alias("rid"), F.explode("way_member_ids").alias("wid")
    ).join(
        ways.select(F.col("id").alias("wid"), "min_lon", "min_lat", "max_lon", "max_lat"),
        "wid",
    ).select("rid", "min_lon", "min_lat", "max_lon", "max_lat")

    # fold descendants' members into each relation down to
    # max_relation_depth levels: (relation, descendant) pairs over the small
    # child-edge table, joined ONCE with the member boxes and aggregated once
    # per relation. reach_k = identity U (reach_{k-1} . child_edges) holds the
    # walks of length 0..k, so the plan grows linearly with depth (folding
    # the aggregated boxes level by level puts them into the plan twice per
    # level: 2^depth copies). Diamonds and cycles only add duplicate pairs,
    # which min/max ignore.
    child_edges = rel.select(
        F.col("id").alias("rid"), F.explode("child_relation_ids").alias("child_rid")
    )
    identity = rel.select("id", F.col("id").alias("rid"))
    reach = identity
    for _ in range(max_relation_depth):
        deeper = reach.join(child_edges, "rid").select("id", F.col("child_rid").alias("rid"))
        reach = identity.unionByName(deeper)
    boxes = (
        reach.join(node_boxes.unionByName(way_boxes), "rid")
        .groupBy("id")
        .agg(
            F.min("min_lon").alias("min_lon"),
            F.min("min_lat").alias("min_lat"),
            F.max("max_lon").alias("max_lon"),
            F.max("max_lat").alias("max_lat"),
        )
    )
    relations = relations.join(boxes, "id", "left")

    return OsmDataset(nodes=nodes, ways=ways, relations=relations)


def from_generator(
    spark,
    n_nodes: int = 2_000,
    n_ways: int = 400,
    n_relations: int = 80,
    with_images: bool = True,
) -> OsmDataset:
    from simple_osm_queries_spark.sources import datagen

    return prepare(
        datagen.gen_nodes(spark, n_nodes, with_images=with_images),
        datagen.gen_ways(spark, n_ways, n_nodes),
        datagen.gen_relations(spark, n_relations, n_nodes, n_ways),
    )
