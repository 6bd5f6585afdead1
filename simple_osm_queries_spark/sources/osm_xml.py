"""OSM XML (`.osm`) source (S1).

The reference streams `.osm.pbf`/`.osm` through the osmium visitor pipeline
(/root/reference/src/osm/reader.go:40-112). Here:

* `.osm` XML parses via stdlib ElementTree into the engine's three raw
  tables — the small-file path (fixtures, extracts). It is a driver-side
  parse by design: XML is not splittable, and the reference itself requires
  an osmium preprocessing pass for real data.
* `.osm.pbf` decodes via the pure-Python, numpy-vectorized blob codec in
  sources/osm_pbf.py — distributed by blob offset (PBF's natural split
  unit), so real extracts scale across executors.

Unlike the reference we do NOT require `osmium add-locations-to-ways`
(README.md:28): way geometry is derived by the prepare() join against nodes.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from simple_osm_queries_spark.sources.datagen import (
    NODE_SCHEMA_MINIMAL,
    RELATION_SCHEMA,
    WAY_SCHEMA,
)


def parse_osm_xml(path: str) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame]:
    """Parse an .osm XML file into (nodes, ways, relations) pandas frames."""
    tree = ET.parse(path)
    root = tree.getroot()

    def tags_of(el) -> dict[str, str]:
        return {t.get("k"): t.get("v") for t in el.findall("tag")}

    nodes, ways, relations = [], [], []
    for el in root:
        if el.tag == "node":
            nodes.append(
                (
                    int(el.get("id")),
                    float(el.get("lon")),
                    float(el.get("lat")),
                    tags_of(el),
                )
            )
        elif el.tag == "way":
            ways.append(
                (
                    int(el.get("id")),
                    [int(nd.get("ref")) for nd in el.findall("nd")],
                    tags_of(el),
                )
            )
        elif el.tag == "relation":
            node_members, way_members, rel_members = [], [], []
            for m in el.findall("member"):
                ref = int(m.get("ref"))
                mtype = m.get("type")
                if mtype == "node":
                    node_members.append(ref)
                elif mtype == "way":
                    way_members.append(ref)
                elif mtype == "relation":
                    rel_members.append(ref)
            relations.append(
                (int(el.get("id")), node_members, way_members, rel_members, tags_of(el))
            )

    nodes_pdf = pd.DataFrame(nodes, columns=["id", "lon", "lat", "tags"])
    ways_pdf = pd.DataFrame(ways, columns=["id", "node_ids", "tags"])
    rels_pdf = pd.DataFrame(
        relations,
        columns=["id", "node_member_ids", "way_member_ids", "child_relation_ids", "tags"],
    )
    return nodes_pdf, ways_pdf, rels_pdf


def read_osm_xml(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    nodes_pdf, ways_pdf, rels_pdf = parse_osm_xml(path)
    nodes = spark.createDataFrame(nodes_pdf, schema=NODE_SCHEMA_MINIMAL)
    ways = spark.createDataFrame(ways_pdf, schema=WAY_SCHEMA)
    rels = spark.createDataFrame(rels_pdf, schema=RELATION_SCHEMA)
    return nodes, ways, rels
