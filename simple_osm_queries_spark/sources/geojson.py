"""GeoJSON sink (S7).

Mirrors the reference's src/index/io.go:27-76: FeatureCollection with decoded
tag properties plus ``@osm_id``/``@osm_type``; nodes -> Point, ways ->
LineString of their node coordinates, relations -> bbox Polygon (the
reference's bbox approximation, grid_reader.go:513-517).

One feature builder, ``_feature``: a JVM column expression that turns a
query result row (``planner._project_output``'s columns) into one Feature's
JSON text. Every sink selects it: ``to_geojson_capped`` (at most
``max_rows`` features, the HTTP route) and ``write_geojson_file`` (the
whole result in one file, the CLI).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ``@osm_id`` is written as a JSON number, so it goes in front of the tags
# by hand (a map's values are strings); a tag named like a reserved key is
# dropped, so the row's own id and type win. A way without nodes gets empty
# coordinates: ``to_json`` would drop a null field.
_FEATURE_SQL = """concat(
  '{"type":"Feature","geometry":',
  CASE osm_type
    WHEN 'node' THEN to_json(named_struct('type', 'Point', 'coordinates', array(lon, lat)))
    WHEN 'way' THEN to_json(named_struct('type', 'LineString', 'coordinates',
      coalesce(transform(nodes, n -> array(n.lon, n.lat)), array())))
    ELSE to_json(named_struct('type', 'Polygon', 'coordinates', array(array(
      array(min_lon, min_lat), array(max_lon, min_lat), array(max_lon, max_lat),
      array(min_lon, max_lat), array(min_lon, min_lat)))))
  END,
  ',"properties":{"@osm_id":', id, ',',
  substr(to_json(map_concat(
    map_filter(coalesce(tags, map()), (k, v) -> k NOT IN ('@osm_id', '@osm_type')),
    map('@osm_type', osm_type))), 2),
  '}')"""


def _feature() -> Column:
    """One GeoJSON Feature's text per query result row."""
    return F.expr(_FEATURE_SQL)


def _collection(features: list[str], truncated: bool) -> str:
    """FeatureCollection text around Feature texts from ``_feature``."""
    flag = ',"truncated":true' if truncated else ""
    return '{"type":"FeatureCollection","features":[' + ",".join(features) + "]" + flag + "}"


def to_geojson_capped(result: DataFrame, max_rows: int) -> str:
    """FeatureCollection text bounded to ``max_rows`` features, fetched in
    one action of at most ``max_rows + 1`` rows (the driver never holds
    more, unlike the reference's unbounded full-result write, api.go:117).
    When the cap cuts the result the collection carries
    ``"truncated": true``."""
    rows = result.limit(max_rows + 1).select(_feature()).collect()
    return _collection([r[0] for r in rows[:max_rows]], len(rows) > max_rows)


def write_geojson_file(result: DataFrame, path: str) -> int:
    """Write the whole result as one FeatureCollection file (collected on
    the driver); returns the number of features written."""
    features = [r[0] for r in result.select(_feature()).collect()]
    with open(path, "w") as f:
        f.write(_collection(features, False))
    return len(features)


def h3_cells_feature_collection(cells) -> dict:
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
                "properties": {"h3": f"{cell:x}"},
            }
        )
    return {"type": "FeatureCollection", "features": feats}
