"""GeoJSON sink (S7).

Mirrors /root/reference/src/index/io.go:27-76: FeatureCollection with decoded
tag properties plus ``@osm_id``/``@osm_type``; nodes -> Point, ways ->
LineString of their node coordinates, relations -> bbox Polygon (the
reference's bbox approximation, grid_reader.go:513-517).

Two paths: driver-side ``to_geojson`` (small results, the reference's use
case) and distributed ``write_geojson_lines`` (one GeoJSON Feature per line,
arbitrarily large results — the scale path).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _feature_dict(row) -> dict:
    props = dict(row.tags or {})
    props["@osm_id"] = row.id
    props["@osm_type"] = row.osm_type
    if row.osm_type == "node":
        geometry = {"type": "Point", "coordinates": [row.lon, row.lat]}
    elif row.osm_type == "way":
        geometry = {
            "type": "LineString",
            "coordinates": [[n.lon, n.lat] for n in (row.nodes or [])],
        }
    else:  # relation: bbox polygon approximation
        geometry = {
            "type": "Polygon",
            "coordinates": [
                [
                    [row.min_lon, row.min_lat],
                    [row.max_lon, row.min_lat],
                    [row.max_lon, row.max_lat],
                    [row.min_lon, row.max_lat],
                    [row.min_lon, row.min_lat],
                ]
            ],
        }
    return {"type": "Feature", "geometry": geometry, "properties": props}


def to_geojson(result: DataFrame) -> dict:
    """Collect a (small) query result into a FeatureCollection dict."""
    return {
        "type": "FeatureCollection",
        "features": [_feature_dict(r) for r in result.collect()],
    }


def to_geojson_capped(result: DataFrame, max_rows: int) -> dict:
    """FeatureCollection bounded to ``max_rows`` features, fetched in one
    action of at most ``max_rows + 1`` rows (the driver never holds more,
    unlike the reference's unbounded full-result write, api.go:117). When
    the cap cuts the result the collection carries ``"truncated": true``."""
    rows = result.limit(max_rows + 1).collect()
    fc: dict = {
        "type": "FeatureCollection",
        "features": [_feature_dict(r) for r in rows[:max_rows]],
    }
    if len(rows) > max_rows:
        fc["truncated"] = True
    return fc


def write_geojson_file(result: DataFrame, path: str) -> None:
    with open(path, "w") as f:
        json.dump(to_geojson(result), f)


def write_geojson_lines(result: DataFrame, path: str) -> None:
    """Distributed newline-delimited GeoJSON (one Feature per line)."""
    mkgeom = F.when(
        F.col("osm_type") == "node",
        F.to_json(
            F.struct(F.lit("Point").alias("type"), F.array("lon", "lat").alias("coordinates"))
        ),
    ).otherwise(
        F.when(
            F.col("osm_type") == "way",
            F.to_json(
                F.struct(
                    F.lit("LineString").alias("type"),
                    F.transform(F.col("nodes"), lambda n: F.array(n["lon"], n["lat"])).alias(
                        "coordinates"
                    ),
                )
            ),
        ).otherwise(
            F.to_json(
                F.struct(
                    F.lit("Polygon").alias("type"),
                    F.array(
                        F.array(
                            F.array("min_lon", "min_lat"),
                            F.array("max_lon", "min_lat"),
                            F.array("max_lon", "max_lat"),
                            F.array("min_lon", "max_lat"),
                            F.array("min_lon", "min_lat"),
                        )
                    ).alias("coordinates"),
                )
            )
        )
    )
    props = F.map_concat(
        F.coalesce(F.col("tags"), F.create_map().cast("map<string,string>")),
        F.create_map(
            F.lit("@osm_id"), F.col("id").cast("string"),
            F.lit("@osm_type"), F.col("osm_type"),
        ),
    )
    lines = result.select(
        F.concat(
            F.lit('{"type": "Feature", "geometry": '),
            mkgeom,
            F.lit(', "properties": '),
            F.to_json(props),
            F.lit("}"),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(path)


def h3_cells_feature_collection(cells, properties: dict | None = None) -> dict:
    """GeoJSON FeatureCollection of H3 cell polygons (render/inspect aid —
    boundary positions are the documented approximation of
    functions/h3_encode.py::cell_boundary; centers are exact)."""
    import numpy as np

    from simple_osm_queries_spark.functions import h3_encode as E

    arr = np.atleast_1d(np.asarray(cells, dtype=np.uint64))
    bounds = E.cell_boundary(arr)
    feats = []
    for cell, ring in zip(arr.tolist(), bounds):
        coords = [[float(x), float(y)] for x, y in ring]
        coords.append(coords[0])
        feats.append(
            {
                "type": "Feature",
                "geometry": {"type": "Polygon", "coordinates": [coords]},
                "properties": {"h3": f"{cell:x}", **(properties or {})},
            }
        )
    return {"type": "FeatureCollection", "features": feats}
