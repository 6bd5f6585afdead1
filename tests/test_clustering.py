"""Distributed DBSCAN vs an independent brute-python oracle implementing
the same deterministic variant (directed query-point-scaled metric,
min-id cluster labels, min-cluster border assignment), plus parameter
edge cases, the no-BNLJ plan guard and a numpy pair oracle above the
grid-sizing latitude (shared with `within_buffer_node_node`)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from simple_osm_queries_spark.caching import unpersist_intermediates
from simple_osm_queries_spark.operators.buffer import within_buffer_node_node
from simple_osm_queries_spark.operators.clustering import dbscan, eps_neighbor_pairs

M_PER_DEG = 111320.0


def _brute_dbscan(rows, eps_m, min_pts):
    """rows: [(id, lon, lat)]. Returns {id: (cluster|None, role)}."""
    ids = [r[0] for r in rows]
    pos = {r[0]: (r[1], r[2]) for r in rows}

    def neigh(a):
        lon, lat = pos[a]
        kx = M_PER_DEG * math.cos(math.radians(lat))
        out = []
        for b in ids:
            if b == a:
                continue
            dx = (lon - pos[b][0]) * kx
            dy = (lat - pos[b][1]) * M_PER_DEG
            if dx * dx + dy * dy <= eps_m * eps_m:
                out.append(b)
        return out

    nbrs = {a: neigh(a) for a in ids}
    cores = {a for a in ids if len(nbrs[a]) + 1 >= min_pts}
    # components over core-core edges (undirected union of directed edges)
    parent = {a: a for a in cores}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a in cores:
        for b in nbrs[a]:
            if b in cores:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    comp = {a: find(a) for a in cores}
    # min-id labels
    label = {}
    for a, c in comp.items():
        label.setdefault(c, []).append(a)
    cluster = {a: min(label[find(a)]) for a in cores}
    out = {}
    for a in ids:
        if a in cores:
            out[a] = (cluster[a], "core")
        else:
            cands = [cluster[b] for b in nbrs[a] if b in cores]
            out[a] = (min(cands), "border") if cands else (None, "noise")
    return out


@pytest.fixture(scope="module")
def pts(dataset):
    p = dataset.nodes.select("id", "lon", "lat").cache()
    p.count()
    return p


@pytest.mark.parametrize("eps_m,min_pts", [(800.0, 4), (400.0, 3), (1500.0, 8)])
def test_dbscan_matches_brute_oracle(spark, pts, eps_m, min_pts):
    rows = [(r.id, r.lon, r.lat) for r in pts.collect()]
    want = _brute_dbscan(rows, eps_m, min_pts)
    res = dbscan(pts, eps_m, min_pts)
    got = {r.id: (r.cluster, r.role) for r in res.collect()}
    unpersist_intermediates(res)
    assert set(got) == set(want)
    roles = {}
    for i, (c, role) in want.items():
        roles[role] = roles.get(role, 0) + 1
        assert got[i] == (c, role), (i, got[i], (c, role))
    # the fixture must exercise all three roles at the main setting
    if eps_m == 800.0:
        assert set(roles) == {"core", "border", "noise"}, roles


def test_dbscan_edges(spark, pts):
    # min_pts=1: every point is a core (singletons allowed)
    res = dbscan(pts, 200.0, 1)
    roles = {r.role for r in res.collect()}
    unpersist_intermediates(res)
    assert roles == {"core"}
    # microscopic eps: everything is noise
    res2 = dbscan(pts, 0.001, 3)
    roles2 = {r.role for r in res2.collect()}
    unpersist_intermediates(res2)
    assert roles2 == {"noise"}
    with pytest.raises(ValueError):
        dbscan(pts, 0.0, 3)
    with pytest.raises(ValueError):
        dbscan(pts, 10.0, 0)


def test_pair_join_no_bnlj(pts):
    pairs = eps_neighbor_pairs(pts, 500.0)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("lat0", [80.0, 89.9, -85.0])
def test_point_pairs_exact_at_high_latitude(spark, lat0):
    """Above the 70 deg grid-sizing latitude a D-wide lon cell is narrower
    than D's lon extent; the padded cover must still find every pair."""
    d = 100.0
    lon_ext = d / (M_PER_DEG * math.cos(math.radians(lat0)))
    rng = np.random.default_rng(11)
    n = 120
    lon = 10.0 + rng.uniform(0.0, 8 * lon_ext, n)
    lat = lat0 + rng.uniform(-3 * d / M_PER_DEG, 3 * d / M_PER_DEG, n)
    # a pair at 0.97 D, due east-west (the lat-80 repro: 10.000 / 10.005)
    lon[:2] = [10.0, 10.0 + 0.97 * lon_ext]
    lat[:2] = lat0
    kx = M_PER_DEG * np.cos(np.radians(lat))
    d2 = ((lon[:, None] - lon[None, :]) * kx[:, None]) ** 2 + (
        (lat[:, None] - lat[None, :]) * M_PER_DEG
    ) ** 2
    want = {(a, b) for a, b in zip(*np.nonzero(d2 <= d * d)) if a != b}
    assert (0, 1) in want and (1, 0) in want
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(lon, lat))],
        "id long, lon double, lat double",
    )
    got = {(r.a, r.b) for r in eps_neighbor_pairs(pts, d).collect()}
    assert got == want
    near = {r.id for r in within_buffer_node_node(pts, pts, d).collect()}
    assert near == {a for a, _ in want}
