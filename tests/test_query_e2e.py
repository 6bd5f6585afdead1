"""End-to-end: Spark planner vs the single-process Python oracle on the same
deterministic fixture data (SURVEY.md §5). Results are compared as multisets
of (osm_type, id) — the reference's output identity."""

from collections import Counter

import pandas as pd
import pytest

from simple_osm_queries_spark.query.parser import parse_query
from simple_osm_queries_spark.query.planner import plan_query
from simple_osm_queries_spark.sources.dataset import prepare
from tests.oracle import OracleData, run_oracle

WINDOW = "9.90, 53.50, 10.10, 53.70"

QUERIES = {
    # flagship (README.md:46 shape): tag equality + key presence
    "flagship": f"bbox({WINDOW}).nodes{{ amenity=bench AND seats=* }}",
    # bbox pruning: hot cell only
    "hot_cell": "bbox(9.95, 53.55, 9.96, 53.56).nodes{ amenity=* }",
    # partial bbox across cells
    "partial_bbox": "bbox(9.93, 53.52, 10.02, 53.61).nodes{ natural=tree }",
    # natural-order comparisons incl. the mixed height dictionary
    "seats_ge": f"bbox({WINDOW}).nodes{{ seats>=3 }}",
    "height_le": f"bbox({WINDOW}).nodes{{ height<=2.5 }}",
    # NB: literals mixing digits and letters (e.g. `1m`) are unlexable in the
    # reference grammar as well (keyword charset has no digits, number charset
    # no letters) — impure values are only reachable as COLUMN values.
    "height_gt_literal_absent": f"bbox({WINDOW}).nodes{{ height>1.2 }}",
    "height_ge_2": f"bbox({WINDOW}).nodes{{ height>=2 }}",
    "amenity_gt_string": f"bbox({WINDOW}).nodes{{ amenity>cafe }}",
    "housenumber_lt": f"bbox({WINDOW}).nodes{{ addr:housenumber<25 }}",
    # != requires the key to exist (filter.go:108-115)
    "neq": f"bbox({WINDOW}).nodes{{ amenity!=bench }}",
    # wildcard absence
    "no_seats": f"bbox({WINDOW}).nodes{{ amenity=bench AND seats!=* }}",
    # boolean algebra + parens + negation
    "bool_algebra": f"bbox({WINDOW}).nodes{{ (amenity=bench OR amenity=cafe) AND !(seats=2) }}",
    "or_precedence": f"bbox({WINDOW}).nodes{{ amenity=cafe OR amenity=bench AND seats=* }}",
    # ways
    "ways_highway": f"bbox({WINDOW}).ways{{ highway=* }}",
    "ways_sub_nodes": f"bbox({WINDOW}).ways{{ building=yes AND this.nodes{{ amenity=* }} }}",
    # node -> parent ways / negated sub-statement (J1/J2)
    "nodes_in_primary": f"bbox({WINDOW}).nodes{{ this.ways{{ highway=primary }} }}",
    "nodes_no_way": f"bbox({WINDOW}).nodes{{ amenity=* AND !this.ways{{ highway=* }} }}",
    # relations: members, parents, children
    "rel_nodes": f"bbox({WINDOW}).relations{{ route=bus AND this.nodes{{ seats=* }} }}",
    "rel_ways": f"bbox({WINDOW}).relations{{ this.ways{{ building=yes }} }}",
    # children are r-1 for r%10==0, always odd => route=bus
    "rel_children": f"bbox({WINDOW}).relations{{ this.child_relations{{ route=bus }} }}",
    "rel_parents": f"bbox({WINDOW}).relations{{ this.relations{{ type=multipolygon }} }}",
    "node_in_relation": f"bbox({WINDOW}).nodes{{ this.relations{{ route=bus }} }}",
    # doubly nested sub-statement (README railway example shape)
    "nested_sub": f"bbox({WINDOW}).ways{{ highway=* AND this.nodes{{ this.ways{{ highway=secondary }} }} }}",
    # multiple top-level statements (implicit UNION ALL, query.go:29-35)
    "union": f"bbox({WINDOW}).nodes{{ natural=tree }} bbox({WINDOW}).ways{{ highway=rail }}",
    # this.buffer(D) — the reference's documented-but-unimplemented
    # proximity operator (README.md:154-181), ours for real
    "buffer_node_way": f"bbox({WINDOW}).nodes{{ amenity=* AND this.buffer(1km).ways{{ highway=primary }} }}",
    "buffer_node_node": f"bbox({WINDOW}).nodes{{ amenity=bench AND this.buffer(500m).nodes{{ natural=tree }} }}",
    "buffer_way_node": f"bbox({WINDOW}).ways{{ building=yes AND this.buffer(200m).nodes{{ seats=* }} }}",
    # the README's own future-feature example shape: negated buffer
    "buffer_negated": f"bbox({WINDOW}).nodes{{ amenity=bench AND !this.buffer(800m).ways{{ highway=* }} }}",
    # way<->way: segment-pair distance (crossings count as distance 0)
    "buffer_way_way": f"bbox({WINDOW}).ways{{ building=yes AND this.buffer(300m).ways{{ highway=* }} }}",
    "buffer_way_way_tight": f"bbox({WINDOW}).ways{{ highway=* AND this.buffer(5m).ways{{ highway=* }} }}",
}

# queries where an empty result is expected to be non-empty (sanity: the
# fixture must actually exercise the operator)
MUST_BE_NONEMPTY = set(QUERIES) - {"nodes_no_way", "buffer_negated"}


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(name, dataset, oracle_data):
    q = parse_query(QUERIES[name])
    expected = Counter(run_oracle(q, oracle_data))
    got = Counter(
        (r.osm_type, r.id) for r in plan_query(q, dataset).select("osm_type", "id").collect()
    )
    if name in MUST_BE_NONEMPTY:
        assert expected, f"fixture does not exercise query {name!r}"
    assert got == expected


def test_way_output_carries_ordered_geometry(dataset, oracle_data):
    q = parse_query(f"bbox({WINDOW}).ways{{ highway=* }}")
    rows = plan_query(q, dataset).collect()
    assert rows
    for r in rows:
        way = oracle_data.ways[r.id]
        assert [n.id for n in r.nodes] == way.node_ids  # order preserved
        assert r.min_lon == pytest.approx(way.bbox[0])
        assert r.max_lat == pytest.approx(way.bbox[3])


def test_reference_test_small_fixture(spark):
    """The 3 nodes of /root/reference/test-small.osm, verbatim."""
    nodes = pd.DataFrame(
        {
            "id": [1, 2, 3],
            "lon": [9.9330, 9.9331, 9.9332],
            "lat": [53.587, 53.587, 53.587],
            "tags": [
                {"height": "10.5", "natural": "tree"},
                {"amenity": "bench", "backrest": "no", "name": "Testbank"},
                {"amenity": "bench", "backrest": "yes", "material": "wood"},
            ],
        }
    )
    ways = pd.DataFrame({"id": pd.Series(dtype="int64"), "node_ids": pd.Series(dtype=object), "tags": pd.Series(dtype=object)})
    rels = pd.DataFrame(
        {
            "id": pd.Series(dtype="int64"),
            "node_member_ids": pd.Series(dtype=object),
            "way_member_ids": pd.Series(dtype=object),
            "child_relation_ids": pd.Series(dtype=object),
            "tags": pd.Series(dtype=object),
        }
    )
    ds = prepare(
        spark.createDataFrame(nodes, schema="id long, lon double, lat double, tags map<string,string>"),
        spark.createDataFrame(ways, schema="id long, node_ids array<long>, tags map<string,string>"),
        spark.createDataFrame(
            rels,
            schema="id long, node_member_ids array<long>, way_member_ids array<long>, "
            "child_relation_ids array<long>, tags map<string,string>",
        ),
    )

    def ids(q):
        return sorted(r.id for r in plan_query(parse_query(q), ds).collect())

    assert ids("bbox(9.9, 53.5, 10.0, 53.6).nodes{ amenity=bench }") == [2, 3]
    assert ids("bbox(9.9, 53.5, 10.0, 53.6).nodes{ amenity=bench AND backrest=yes }") == [3]
    assert ids("bbox(9.9, 53.5, 10.0, 53.6).nodes{ natural=tree AND height>10 }") == [1]
    assert ids("bbox(9.9, 53.5, 10.0, 53.6).nodes{ height<=10.5 }") == [1]
    assert ids("bbox(9.9, 53.5, 10.0, 53.6).nodes{ backrest!=* }") == [1]
    # bbox excludes everything
    assert ids("bbox(0, 0, 1, 1).nodes{ amenity=* }") == []


def test_geojson_sink(dataset):
    import json

    from simple_osm_queries_spark.sources.geojson import to_geojson_capped

    q = parse_query(f"bbox({WINDOW}).nodes{{ amenity=bench AND seats=* }}")
    fc = json.loads(to_geojson_capped(plan_query(q, dataset), 1000))
    assert fc["type"] == "FeatureCollection"
    assert fc["features"]
    f = fc["features"][0]
    assert f["geometry"]["type"] == "Point"
    assert f["properties"]["@osm_type"] == "node"
    assert f["properties"]["amenity"] == "bench"


def test_relation_substatement_inner_scan_is_rect_scoped(dataset):
    """No this.* sub-statement scans the inner table unscoped, whatever the
    pair of types: the planner scopes every inner scan by the outer
    candidates' aggregate bounding rectangle (a lazy one-row broadcast —
    _scope_inner_by_outer_rect), the distributed twin of the reference's
    scoped sub-statement fetch (filter.go:196-263)."""
    for q in (
        # relation outer, node inner
        f"bbox({WINDOW}).relations{{ route=bus AND this.nodes{{ seats=* }} }}",
        # node outer, relation inner
        f"bbox({WINDOW}).nodes{{ this.relations{{ route=bus }} }}",
        # node outer, way inner
        f"bbox({WINDOW}).nodes{{ this.ways{{ highway=primary }} }}",
        # way outer, node inner
        f"bbox({WINDOW}).ways{{ building=yes AND this.nodes{{ amenity=bench }} }}",
    ):
        plan = plan_query(parse_query(q), dataset)._jdf.queryExecution().toString()
        assert "__omin_lon" in plan, f"inner scan lost the rect scope: {q}"
        assert "__ocell" not in plan, f"inner scan still scoped by cells: {q}"

    # the rectangle must be CONSERVATIVE: a relation whose members sit far
    # outside every other candidate's bounds still matches its sub-statement
    # (its own bounds extend the rectangle).
    import pandas as pd

    spark = dataset.nodes.sparkSession
    far_node = pd.DataFrame(
        [{"id": 90001, "lon": 9.95, "lat": 53.55, "tags": {"seats": "4"}},
         {"id": 90002, "lon": 120.0, "lat": -45.0, "tags": {"seats": "9"}}]
    )
    rels = pd.DataFrame(
        [
            {"id": 95001, "node_member_ids": [90001], "way_member_ids": [],
             "child_relation_ids": [], "tags": {"route": "bus"}},
            # members far outside the statement bbox — but the relation's own
            # folded bounds intersect it via node 90001? No: give it BOTH a
            # local and a far member so it passes the top-level bbox filter
            # while its sub-statement member lives outside other candidates'
            # extent.
            {"id": 95002, "node_member_ids": [90001, 90002], "way_member_ids": [],
             "child_relation_ids": [], "tags": {"route": "bus"}},
        ]
    )
    ways = pd.DataFrame([{"id": 1, "node_ids": [90001], "tags": {}}]).iloc[0:0]
    ds = prepare(
        spark.createDataFrame(far_node, "id long, lon double, lat double, tags map<string,string>"),
        spark.createDataFrame(
            ways, "id long, node_ids array<long>, tags map<string,string>"
        ),
        spark.createDataFrame(
            rels,
            "id long, node_member_ids array<long>, way_member_ids array<long>, "
            "child_relation_ids array<long>, tags map<string,string>",
        ),
    )
    got = sorted(
        r.id
        for r in plan_query(
            parse_query(f"bbox({WINDOW}).relations{{ this.nodes{{ seats>=9 }} }}"), ds
        ).collect()
    )
    assert got == [95002], got


def test_substatement_reads_outer_table_for_rows_and_rect_only(dataset):
    """A this.* id set is read from the inner side (explode of the inner
    rows' reverse adjacency): on the cached dataset the outer nodes table is
    scanned for its rows and for the scope rectangle only, never for its
    way_ids, and the ways table once."""
    from tests.plan_shape import plan_nodes

    df = plan_query(
        parse_query(f"bbox({WINDOW}).nodes{{ this.ways{{ highway=primary }} }}"), dataset
    )
    outputs = [
        sec.splitlines()[1] for name, sec in plan_nodes(df) if name == "InMemoryTableScan"
    ]
    assert len(outputs) == 3, outputs
    assert sum("node_ids#" in o for o in outputs) == 1, outputs  # the ways table
    assert not any("way_ids#" in o for o in outputs), outputs


# the two query templates of the serve benchmark (perfbench/w_serve.py)
SERVE_QUERIES = (
    "bbox(9.95, 53.55, 10.00, 53.60).nodes{ (amenity=bench AND seats=*) OR "
    "this.ways{ highway=primary } } "
    "bbox(9.97, 53.57, 10.02, 53.62).ways{ building=yes AND this.nodes{ amenity=* } }",
    "bbox(9.95, 53.55, 10.00, 53.60).relations{ route=bus AND this.nodes{ seats=* } }",
)


def test_query_path_needs_no_grid_columns(dataset):
    """The planner reads no grid column: a dataset whose nodes carry no
    cell_x/cell_y/cell and whose ways carry no cell list answers the serve
    queries with the same rows as the prepared dataset."""
    from simple_osm_queries_spark.sources.dataset import OsmDataset

    bare = OsmDataset(
        nodes=dataset.nodes.drop("cell", "cell_x", "cell_y"),
        ways=dataset.ways.drop("cells"),
        relations=dataset.relations,
    )
    for q in SERVE_QUERIES:
        want = sorted((r.osm_type, r.id) for r in plan_query(parse_query(q), dataset).collect())
        got = sorted((r.osm_type, r.id) for r in plan_query(parse_query(q), bare).collect())
        assert want, q
        assert got == want, q
