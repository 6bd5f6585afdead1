"""Relation nesting beyond depth 1: the relation-bbox fold (checked against
an independent Python fold on chains, a diamond, a cycle and a memberless
parent, plus the size of its plan) and parent/child semi-joins on a
hand-built 3-level hierarchy."""

import inspect

import pandas as pd
import pytest
from pyspark.sql import functions as F

from simple_osm_queries_spark.query import ast
from simple_osm_queries_spark.query.planner import _ADJACENCY, run_query
from simple_osm_queries_spark.sources.dataset import prepare


NODE_SCHEMA = "id long, lon double, lat double, tags map<string,string>"
WAY_SCHEMA = "id long, node_ids array<long>, tags map<string,string>"
REL_SCHEMA = (
    "id long, node_member_ids array<long>, way_member_ids array<long>, "
    "child_relation_ids array<long>, tags map<string,string>"
)


def _prepare(spark, nodes, ways, rels, **kw):
    return prepare(
        spark.createDataFrame(nodes, NODE_SCHEMA),
        spark.createDataFrame(ways, WAY_SCHEMA),
        spark.createDataFrame(rels, REL_SCHEMA),
        **kw,
    )


@pytest.fixture(scope="module")
def deep_ds(spark):
    # nodes 1..4 spread across distinct cells
    nodes = pd.DataFrame(
        {
            "id": [1, 2, 3, 4],
            "lon": [9.91, 9.99, 10.05, 10.09],
            "lat": [53.51, 53.55, 53.62, 53.69],
            "tags": [{"kind": "a"}, {"kind": "b"}, {"kind": "c"}, {"kind": "d"}],
        }
    )
    ways = pd.DataFrame({"id": [100], "node_ids": [[1, 2]], "tags": [{"w": "x"}]})
    # leaf 200 (node 3), mid 201 (leaf + way), root 202 (mid + node 4)
    rels = pd.DataFrame(
        {
            "id": [200, 201, 202],
            "node_member_ids": [[3], [], [4]],
            "way_member_ids": [[], [100], []],
            "child_relation_ids": [[], [200], [201]],
            "tags": [{"level": "leaf"}, {"level": "mid"}, {"level": "root"}],
        }
    )
    return _prepare(spark, nodes, ways, rels)


def test_bbox_folds_through_three_levels(deep_ds):
    boxes = {r.id: (r.min_lon, r.min_lat, r.max_lon, r.max_lat) for r in deep_ds.relations.collect()}
    assert boxes[200] == (10.05, 53.62, 10.05, 53.62)  # just node 3
    # mid: leaf bbox + way(1,2) bbox
    assert boxes[201] == (9.91, 53.51, 10.05, 53.62)
    # root: mid bbox + node 4
    assert boxes[202] == (9.91, 53.51, 10.09, 53.69)


def test_child_and_parent_queries_through_levels(deep_ds):
    w = "bbox(9.90, 53.50, 10.10, 53.70)"

    def ids(q):
        return sorted(r.id for r in run_query(q, deep_ds).collect())

    # direct children only (not transitive)
    assert ids(f"{w}.relations{{ this.child_relations{{ level=leaf }} }}") == [201]
    assert ids(f"{w}.relations{{ this.child_relations{{ level=mid }} }}") == [202]
    # parents (direct)
    assert ids(f"{w}.relations{{ this.relations{{ level=root }} }}") == [201]
    # nested two levels: relations whose child has a child that is the leaf
    assert ids(
        f"{w}.relations{{ this.child_relations{{ this.child_relations{{ level=leaf }} }} }}"
    ) == [202]
    # relation bbox intersection prunes: a box covering only node 4 still
    # matches root (bbox approximation, grid_reader.go:513-517 semantics)
    assert ids("bbox(10.08, 53.68, 10.10, 53.70).relations{ level=* }") == [202]


# --- fold oracle: deeper shapes against an independent Python fold ----------
#
# chain    300 -> 301 -> ... -> 306 (6 levels below the root); relation
#          300+k holds node 10+k, which lies north-east of node 9+k, so every
#          extra level folded widens the root's box
# diamond  400 -> {401, 402} -> 403 (two paths to the leaf); 401 and 402
#          hold no members of their own, 403 holds way 110
# cycle    500 <-> 501, each with one node
# memberless 600 -> 601: 600's only content is its child, which holds way 111

FOLD_NODES = pd.DataFrame(
    {
        "id": list(range(10, 17)) + [20, 21, 22, 23, 24],
        "lon": [9.91 + 0.01 * k for k in range(7)] + [10.02, 10.04, 9.95, 9.97, 10.06],
        "lat": [53.51 + 0.02 * k for k in range(7)] + [53.66, 53.52, 53.58, 53.54, 53.61],
        "tags": [{"n": str(i)} for i in range(12)],
    }
)
FOLD_WAYS = pd.DataFrame(
    {"id": [110, 111], "node_ids": [[20, 21], [22, 23, 24]], "tags": [{"w": "a"}, {"w": "b"}]}
)
FOLD_RELS = pd.DataFrame(
    [
        *[(300 + k, [10 + k], [], [301 + k] if k < 6 else [], {"chain": str(k)}) for k in range(7)],
        (400, [], [], [401, 402], {"shape": "diamond"}),
        (401, [], [], [403], {"shape": "diamond"}),
        (402, [], [], [403], {"shape": "diamond"}),
        (403, [], [110], [], {"shape": "diamond"}),
        (500, [20], [], [501], {"shape": "cycle"}),
        (501, [22], [], [500], {"shape": "cycle"}),
        (600, [], [], [601], {"shape": "memberless"}),
        (601, [], [111], [], {"shape": "memberless"}),
    ],
    columns=["id", "node_member_ids", "way_member_ids", "child_relation_ids", "tags"],
)


# (outer type, inner query type) -> the OUTER row's forward column, the
# membership matrix of filter.go:266-334 that _ADJACENCY reverses
_FORWARD = {
    ("node", "ways"): "way_ids",
    ("node", "relations"): "relation_ids",
    ("way", "nodes"): "node_ids",
    ("way", "relations"): "relation_ids",
    ("relation", "nodes"): "node_member_ids",
    ("relation", "ways"): "way_member_ids",
    ("relation", "relations"): "parent_relation_ids",
    ("relation", "child_relations"): "child_relation_ids",
}


@pytest.mark.parametrize("fixture", ["dataset", "deep_ds"])
def test_adjacency_reverse_columns_match_forward(fixture, request):
    """The planner reads this.* membership from the inner row's column in
    _ADJACENCY; that picks the same outer ids as the reference's forward
    column only if both name the same (outer, inner) pairs of existing
    rows. Checked for every pair on the e2e and the deep fixture."""
    ds = request.getfixturevalue(fixture)
    assert set(_ADJACENCY) == set(_FORWARD)
    for (outer_type, inner_qtype), inner_col in _ADJACENCY.items():
        outer = ds.df_for(outer_type)
        inner = ds.df_for(ast.BASE_TYPE[inner_qtype])
        outer_ids = outer.select(F.col("id").alias("o"))
        inner_ids = inner.select(F.col("id").alias("i"))
        forward = outer.select(
            F.col("id").alias("o"), F.explode(_FORWARD[outer_type, inner_qtype]).alias("i")
        )
        reverse = inner.select(F.explode(inner_col).alias("o"), F.col("id").alias("i"))

        def pairs(df):
            return sorted(
                tuple(r)
                for r in df.join(outer_ids, "o", "left_semi")
                .join(inner_ids, "i", "left_semi")
                .select("o", "i")
                .distinct()
                .collect()
            )

        want = pairs(forward)
        assert want, (fixture, outer_type, inner_qtype)
        assert pairs(reverse) == want, (fixture, outer_type, inner_qtype)


def _python_fold(nodes, ways, rels, depth):
    """{relation id: ((min_lon, min_lat, max_lon, max_lat) or None, parents)}
    by plain level-by-level descent: a relation's box covers its own members
    and those of every relation reachable in at most ``depth`` child steps."""
    coord = {r.id: (r.lon, r.lat) for r in nodes.itertuples()}
    way_pts = {r.id: [coord[n] for n in r.node_ids if n in coord] for r in ways.itertuples()}
    by_id = {r.id: r for r in rels.itertuples()}

    def own_points(rid):
        r = by_id[rid]
        pts = [coord[n] for n in r.node_member_ids if n in coord]
        for w in r.way_member_ids:
            pts += way_pts.get(w, [])
        return pts

    out = {}
    for rid in by_id:
        reached, level = {rid}, {rid}
        for _ in range(depth):
            level = {c for p in level for c in by_id[p].child_relation_ids if c in by_id}
            reached |= level
        pts = [pt for d in reached for pt in own_points(d)]
        box = (
            (min(x for x, _ in pts), min(y for _, y in pts), max(x for x, _ in pts), max(y for _, y in pts))
            if pts
            else None
        )
        parents = sorted(p.id for p in rels.itertuples() if rid in p.child_relation_ids)
        out[rid] = (box, parents)
    return out


def _spark_fold(ds):
    out = {}
    for r in ds.relations.collect():
        box = (r.min_lon, r.min_lat, r.max_lon, r.max_lat)
        out[r.id] = (None if box == (None,) * 4 else box, list(r.parent_relation_ids))
    return out


@pytest.fixture(scope="module")
def fold_at_depth(spark):
    """Spark and Python folds of the FOLD_* fixture, once per depth."""
    cache = {}

    def get(depth):
        if depth not in cache:
            ds = _prepare(spark, FOLD_NODES, FOLD_WAYS, FOLD_RELS, max_relation_depth=depth)
            cache[depth] = (
                _spark_fold(ds),
                _python_fold(FOLD_NODES, FOLD_WAYS, FOLD_RELS, depth),
            )
        return cache[depth]

    return get


def _box_of_nodes(ids):
    pts = FOLD_NODES.set_index("id").loc[ids]
    return (pts.lon.min(), pts.lat.min(), pts.lon.max(), pts.lat.max())


def test_fold_six_level_chain_matches_python_fold(fold_at_depth):
    got, want = fold_at_depth(6)
    assert got == want
    # the root covers the whole chain, the leaf only itself
    assert got[300][0] == _box_of_nodes(list(range(10, 17)))
    assert got[306] == (_box_of_nodes([16]), [305])


def test_fold_diamond_and_cycle_match_python_fold(fold_at_depth):
    got, want = fold_at_depth(6)
    for rid in (400, 401, 402, 403, 500, 501):
        assert got[rid] == want[rid], rid
    way_110 = _box_of_nodes([20, 21])
    # both paths reach the same leaf; the duplicate rows change nothing
    assert got[400] == (way_110, [])
    assert got[403] == (way_110, [401, 402])
    assert got[500] == (_box_of_nodes([20, 22]), [501])
    assert got[501] == (_box_of_nodes([20, 22]), [500])


def test_fold_memberless_parent_takes_its_childs_box(fold_at_depth):
    got, want = fold_at_depth(6)
    way_111 = _box_of_nodes([22, 23, 24])
    assert got[600] == want[600] == (way_111, [])
    assert got[601] == want[601] == (way_111, [600])


def test_fold_stops_at_default_depth(fold_at_depth):
    """At the default max_relation_depth=4 the root of the 6-level chain
    covers itself and exactly four levels below it (nodes 10..14)."""
    assert inspect.signature(prepare).parameters["max_relation_depth"].default == 4
    got, want = fold_at_depth(4)
    assert got == want
    assert got[300][0] == _box_of_nodes([10, 11, 12, 13, 14])
    assert got[301][0] == _box_of_nodes([11, 12, 13, 14, 15])
    assert got[302][0] == _box_of_nodes([12, 13, 14, 15, 16])


def test_fold_plan_grows_slower_than_two_to_the_depth(spark):
    """The served relations frame is re-analysed by every DataFrame op on
    it, so its logical plan must stay small: folding by re-aggregating the
    boxes once per level doubles the plan per level (depth 6 = 16x depth 2);
    the (relation, descendant) pair fold grows it far less."""

    def plan_lines(depth):
        ds = _prepare(spark, FOLD_NODES, FOLD_WAYS, FOLD_RELS, max_relation_depth=depth)
        return len(ds.relations._jdf.queryExecution().logical().treeString().splitlines())

    lines = {d: plan_lines(d) for d in (2, 4, 6)}
    assert lines[6] < 4 * lines[2], lines
