"""Cell-bucketed buffer fallback: result parity with the broadcast path, an
explain guard proving the bucketed plan contains no BroadcastNestedLoopJoin
(the plan we refuse to ship above the broadcast threshold), and the join
counts of the whole proximity family (buffer, nearest-way, DBSCAN pairs)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from simple_osm_queries_spark.operators import buffer as B
from simple_osm_queries_spark.operators.clustering import eps_neighbor_pairs
from simple_osm_queries_spark.operators.nearest_way import nearest_way_join
from simple_osm_queries_spark.sources.dataset import from_generator
from tests.plan_shape import plan_nodes


@pytest.fixture(scope="module")
def ds(spark):
    d = from_generator(spark, n_nodes=1200, n_ways=240, n_relations=0)
    d.nodes.cache().count()
    d.ways.cache().count()
    return d


def _ids(df):
    return sorted(r.id for r in df.collect())


def _bucketed(build):
    """``build()``'s frame with every inner side over BROADCAST_THRESHOLD
    (the fixture's inner sides are far below the real one, so a plain call
    broadcasts)."""
    with pytest.MonkeyPatch.context() as m:
        m.setattr(B, "BROADCAST_THRESHOLD", 0)
        return build()


def test_way_way_bucketed_matches_broadcast(ds):
    outer = ds.ways.filter(F.element_at("tags", "building") == "yes")
    inner = ds.ways.filter(F.element_at("tags", "highway").isNotNull())
    for d in (5.0, 300.0, 2000.0):
        bc = B.within_buffer_way_way(outer, inner, d)
        bk = _bucketed(lambda: B.within_buffer_way_way(outer, inner, d))
        assert _ids(bc) == _ids(bk), f"buffer {d}m"
    # at least one distance must produce hits or the parity is vacuous
    assert len(_ids(_bucketed(lambda: B.within_buffer_way_way(outer, inner, 2000.0)))) > 0


def test_node_way_bucketed_matches_broadcast(ds):
    nodes = ds.nodes.filter(F.element_at("tags", "amenity").isNotNull())
    ways = ds.ways.filter(F.element_at("tags", "highway").isNotNull())
    for out in ("node", "way"):
        for d in (50.0, 1000.0):
            bc = B.within_buffer_node_way(nodes, ways, d, output=out)
            bk = _bucketed(lambda: B.within_buffer_node_way(nodes, ways, d, output=out))
            assert _ids(bc) == _ids(bk), f"{out} {d}m"
    assert len(_ids(_bucketed(lambda: B.within_buffer_node_way(nodes, ways, 1000.0)))) > 0


def test_bucketed_plan_has_no_bnlj(ds):
    outer = ds.ways.filter(F.element_at("tags", "building") == "yes")
    inner = ds.ways.filter(F.element_at("tags", "highway").isNotNull())
    bk = _bucketed(lambda: B.within_buffer_way_way(outer, inner, 300.0))
    plan = bk._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    # the broadcast path IS a BNLJ (the point of the threshold)
    bc = B.within_buffer_way_way(outer, inner, 300.0)
    plan_bc = bc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan_bc

    nk = _bucketed(lambda: B.within_buffer_node_way(ds.nodes, inner, 300.0))
    plan_n = nk._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan_n


def test_auto_threshold_switches(ds, monkeypatch):
    outer = ds.ways.limit(50)
    inner = ds.ways.limit(200)
    bc = B.within_buffer_way_way(outer, inner, 300.0)
    assert "BroadcastNestedLoopJoin" in bc._jdf.queryExecution().executedPlan().toString()
    # a threshold below the inner side's 200 rows takes the bucketed path;
    # results still correct
    monkeypatch.setattr(B, "BROADCAST_THRESHOLD", 10)
    bk = B.within_buffer_way_way(outer, inner, 300.0)
    assert "BroadcastNestedLoopJoin" not in bk._jdf.queryExecution().executedPlan().toString()
    assert _ids(bk) == _ids(bc)


@pytest.fixture(scope="module")
def local_frames(spark, ds):
    """The fixture's nodes/ways as local relations, so a plan holds only
    the operator's own joins (not the dataset preparation's)."""
    nodes = ds.nodes.select("id", "lon", "lat", "tags")
    ways = ds.ways.select("id", "nodes", "min_lon", "min_lat", "max_lon", "max_lat", "tags")
    return (
        spark.createDataFrame(nodes.collect(), nodes.schema),
        spark.createDataFrame(ways.collect(), ways.schema),
    )


def _plan_case(local_frames, case):
    nodes, ways = local_frames
    pts = nodes.select("id", "lon", "lat")
    hw = ways.filter(F.element_at("tags", "highway").isNotNull())
    bld = ways.filter(F.element_at("tags", "building") == "yes")
    return {
        "nearest_way_join-broadcast": lambda: nearest_way_join(
            pts, ways, 500.0, k=2, strategy="broadcast", snap=True),
        "nearest_way_join-bucketed": lambda: nearest_way_join(
            pts, ways, 500.0, k=2, strategy="bucketed", snap=True),
        "node_way-bucketed": lambda: _bucketed(
            lambda: B.within_buffer_node_way(nodes, hw, 300.0)),
        "way_way-bucketed": lambda: _bucketed(
            lambda: B.within_buffer_way_way(bld, hw, 300.0)),
        "node_node": lambda: B.within_buffer_node_node(nodes, nodes, 300.0),
        "eps_neighbor_pairs": lambda: eps_neighbor_pairs(pts, 300.0),
    }[case]()


@pytest.mark.parametrize(
    "case",
    [
        "nearest_way_join-broadcast",
        "nearest_way_join-bucketed",
        "node_way-bucketed",
        "way_way-bucketed",
        "node_node",
        "eps_neighbor_pairs",
    ],
)
def test_proximity_plan_shape(local_frames, case):
    nodes = plan_nodes(_plan_case(local_frames, case))
    joins = [n for n, _ in nodes if "Join" in n or n == "CartesianProduct"]
    text = "".join(sec for _, sec in nodes)
    if case.startswith("nearest_way_join"):
        # candidate join + segment join; candidates carry lon/lat, so no
        # join-back of the point side on nid
        assert len(joins) == 2, joins
        assert not re.search(r"(Left|Right) keys \[\d+\]: \[nid#", text), text
    elif case in ("node_node", "eps_neighbor_pairs"):
        # one equi-join on the packed cell
        assert len(joins) == 1, joins
        assert re.search(r"Left keys \[1\]: \[cell#", text), text
    # the broadcast nearest-way candidate join is the bbox predicate BNLJ
    # over the small way side by design; nothing else may nest-loop
    if case != "nearest_way_join-broadcast":
        assert "BroadcastNestedLoopJoin" not in joins, joins
    assert "CartesianProduct" not in joins, joins
