"""GeoJSON sinks: every sink writes the features spelled out here, with
``@osm_id`` as a JSON number. A tag named like a reserved key (node 4)
neither fails the write nor replaces the row's own id and type."""

import json

import pytest

from simple_osm_queries_spark.query.planner import run_query
from simple_osm_queries_spark.sources.geojson import to_geojson_capped, write_geojson_file

# planner._project_output's columns
RESULT_SCHEMA = (
    "osm_type string, id long, lon double, lat double, min_lon double, "
    "min_lat double, max_lon double, max_lat double, tags map<string,string>, "
    "nodes array<struct<id:long,lon:double,lat:double>>"
)

ROWS = [
    ("node", 1, 9.95, 53.55, 9.95, 53.55, 9.95, 53.55, {"amenity": "bench"}, None),
    ("node", 2, 10.0, 53.6, 10.0, 53.6, 10.0, 53.6, {}, None),
    ("node", 3, 1e-5, -0.5, 1e-5, -0.5, 1e-5, -0.5, None, None),
    ("node", 4, 1.0, 2.0, 1.0, 2.0, 1.0, 2.0,
     {"@osm_id": "x", "@osm_type": "way", "name": "a"}, None),
    ("way", 10, None, None, 9.9, 53.5, 9.95, 53.55, {"highway": "path"},
     [(1, 9.9, 53.5), (2, 9.95, 53.55)]),
    ("way", 11, None, None, 9.9, 53.5, 9.9, 53.5, {"highway": "steps"}, None),
    ("relation", 20, None, None, 9.9, 53.5, 10.1, 53.7, {"type": "multipolygon"}, None),
]

EXPECTED = {
    ("node", 1): {
        "type": "Feature",
        "geometry": {"type": "Point", "coordinates": [9.95, 53.55]},
        "properties": {"amenity": "bench", "@osm_id": 1, "@osm_type": "node"},
    },
    ("node", 2): {
        "type": "Feature",
        "geometry": {"type": "Point", "coordinates": [10.0, 53.6]},
        "properties": {"@osm_id": 2, "@osm_type": "node"},
    },
    ("node", 3): {
        "type": "Feature",
        "geometry": {"type": "Point", "coordinates": [1e-5, -0.5]},
        "properties": {"@osm_id": 3, "@osm_type": "node"},
    },
    ("node", 4): {
        "type": "Feature",
        "geometry": {"type": "Point", "coordinates": [1.0, 2.0]},
        "properties": {"name": "a", "@osm_id": 4, "@osm_type": "node"},
    },
    ("way", 10): {
        "type": "Feature",
        "geometry": {"type": "LineString", "coordinates": [[9.9, 53.5], [9.95, 53.55]]},
        "properties": {"highway": "path", "@osm_id": 10, "@osm_type": "way"},
    },
    ("way", 11): {
        "type": "Feature",
        "geometry": {"type": "LineString", "coordinates": []},
        "properties": {"highway": "steps", "@osm_id": 11, "@osm_type": "way"},
    },
    ("relation", 20): {
        "type": "Feature",
        "geometry": {
            "type": "Polygon",
            "coordinates": [
                [[9.9, 53.5], [10.1, 53.5], [10.1, 53.7], [9.9, 53.7], [9.9, 53.5]]
            ],
        },
        "properties": {"type": "multipolygon", "@osm_id": 20, "@osm_type": "relation"},
    },
}


def _by_key(features):
    for f in features:
        assert type(f["properties"]["@osm_id"]) is int
    return {(f["properties"]["@osm_type"], f["properties"]["@osm_id"]): f for f in features}


@pytest.mark.parametrize("sink", ["file", "capped"])
def test_geojson_sinks_write_expected_features(spark, tmp_path, sink):
    result = spark.createDataFrame(ROWS, RESULT_SCHEMA)
    out = str(tmp_path / "out")
    if sink == "file":
        assert write_geojson_file(result, out) == len(ROWS)
        with open(out) as f:
            fc = json.load(f)
        assert fc["type"] == "FeatureCollection" and "truncated" not in fc
        features = fc["features"]
    else:
        fc = json.loads(to_geojson_capped(result, len(ROWS)))
        assert "truncated" not in fc
        features = fc["features"]
    assert len(features) == len(ROWS)
    assert _by_key(features) == EXPECTED


def test_geojson_lines_query_result(dataset, tmp_path):
    """One feature per result row of a real query, keyed by its id."""
    result = run_query("bbox(9.90, 53.50, 10.10, 53.70).ways{ highway=* }", dataset)
    out = str(tmp_path / "result.geojson")
    write_geojson_file(result, out)
    with open(out) as f:
        features = _by_key(json.load(f)["features"])
    rows = {r.id: r for r in result.collect()}
    assert rows and set(features) == {("way", i) for i in rows}
    for (_, i), f in features.items():
        assert f["geometry"]["coordinates"] == [[n.lon, n.lat] for n in rows[i].nodes]
        assert f["properties"]["highway"] == rows[i].tags["highway"]
