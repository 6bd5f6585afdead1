"""North-rule spatial operators vs independent Python/numpy oracles."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from simple_osm_queries_spark.functions import cells as C
from simple_osm_queries_spark.operators import knn, spatial_join, tiles
from tests.cell_oracle import tile_xy_py
from tests.plan_shape import plan_nodes

# fixture geometry per FIXTURES.md §5 --------------------------------------------

BBOXES = [
    (0, 9.95, 53.55, 10.05, 53.65),           # middle
    (1, 9.90, 53.50, 10.10, 53.70),           # whole window
    (2, 9.95, 53.55, 9.96, 53.56),            # hot cell
    (3, 10.0, 53.6, 10.0, 53.6),              # degenerate (min==max)
    (4, 11.0, 54.0, 12.0, 55.0),              # empty
    (5, 9.93, 53.52, 10.02, 53.61),
]

PENTAGON = [  # convex 5-gon around the window center
    (9.98, 53.55), (10.06, 53.58), (10.03, 53.66), (9.95, 53.66), (9.92, 53.58),
]
STAR = [  # concave star (self-intersection-free, non-convex)
    (10.00, 53.52), (10.01, 53.58), (10.07, 53.58), (10.02, 53.61),
    (10.04, 53.67), (10.00, 53.62), (9.96, 53.67), (9.98, 53.61),
    (9.93, 53.58), (9.99, 53.58),
]
CROSSING = [  # crosses the 10.0 cell boundary
    (9.99, 53.54), (10.02, 53.54), (10.02, 53.57), (9.99, 53.57),
]


def _pip_oracle(x, y, ring):
    inside = False
    n = len(ring)
    for i in range(n):
        ax, ay = ring[i]
        bx, by = ring[(i + 1) % n]
        if (ay > y) != (by > y) and x < (bx - ax) * (y - ay) / (by - ay) + ax:
            inside = not inside
    return inside


@pytest.fixture(scope="module")
def points(dataset):
    return dataset.nodes.select("id", "lon", "lat", "cell_x", "cell_y").cache()


@pytest.fixture(scope="module")
def points_pd(points):
    return points.toPandas().sort_values("id").reset_index(drop=True)


def _id_qid(df):
    """Sorted (id, qid) rows: a multiset, so duplicated matches show."""
    return sorted((r.id, r.qid) for r in df.select("id", "qid").collect())


def test_bbox_join_matches_oracle(spark, points, points_pd):
    boxes = spark.createDataFrame(
        pd.DataFrame(BBOXES, columns=["qid", "min_lon", "min_lat", "max_lon", "max_lat"])
    )
    got = {
        (r.qid, r.id)
        for r in spatial_join.bbox_join(points, boxes).select("qid", "id").collect()
    }
    expected = set()
    for qid, mnx, mny, mxx, mxy in BBOXES:
        sel = points_pd[
            (points_pd.lon >= mnx) & (points_pd.lon <= mxx)
            & (points_pd.lat >= mny) & (points_pd.lat <= mxy)
        ]
        expected |= {(qid, i) for i in sel.id}
    assert got == expected
    assert any(q == 2 for q, _ in got)  # hot cell exercised
    assert not any(q == 4 for q, _ in got)  # empty box empty


@pytest.mark.parametrize("ring", [PENTAGON, STAR, CROSSING], ids=["pentagon", "star", "crossing"])
def test_point_in_polygon_matches_oracle(spark, points, points_pd, ring):
    polys = spark.createDataFrame(
        [(0, [{"lon": x, "lat": y} for x, y in ring])],
        "qid long, ring array<struct<lon:double,lat:double>>",
    )
    got = {
        r.id for r in spatial_join.point_in_polygon_join(points, polys).select("id").collect()
    }
    expected = {
        int(r.id) for r in points_pd.itertuples() if _pip_oracle(r.lon, r.lat, ring)
    }
    assert expected, "fixture polygon contains no points"
    assert got == expected


def test_point_in_polygon_literal_paths_match_oracle(points, points_pd):
    """Both literal-join strategies (unrolled codegen for small catalogs,
    numpy bitmask for larger ones) must agree with the Python oracle."""
    catalog = [(0, PENTAGON), (1, STAR), (2, CROSSING)]
    expected = {
        (qid, int(r.id))
        for qid, ring in catalog
        for r in points_pd.itertuples()
        if _pip_oracle(r.lon, r.lat, ring)
    }
    # numpy path (3 polygons > 2)
    got_np = {
        (r.qid, r.id)
        for r in spatial_join.point_in_polygon_literal_join(points, catalog)
        .select("qid", "id")
        .collect()
    }
    assert got_np == expected
    # unrolled codegen path (per polygon)
    got_jvm = set()
    for qid, ring in catalog:
        got_jvm |= {
            (r.qid, r.id)
            for r in spatial_join.point_in_polygon_literal_join(points, [(qid, ring)])
            .select("qid", "id")
            .collect()
        }
    assert got_jvm == expected


def _knn_oracle(points_pd, qlon, qlat, k):
    d2 = (points_pd.lon - qlon) ** 2 + (points_pd.lat - qlat) ** 2
    order = sorted(zip(d2, points_pd.id))
    return [(i, d) for d, i in order[:k]]


QUERY_POINTS = [
    (0, 9.951, 53.551, 5),    # hot cell
    (1, 10.05, 53.65, 1),
    (2, 9.901, 53.501, 20),   # window corner
    (3, 10.0, 53.6, 5),
    (4, 10.2, 53.8, 3),       # outside the data window
]


def _queries_df(spark):
    return spark.createDataFrame(
        pd.DataFrame(QUERY_POINTS, columns=["qid", "lon", "lat", "k"])
    )


def test_knn_brute_matches_oracle(spark, points, points_pd):
    res = knn.knn_brute(points, _queries_df(spark))
    got = {}
    for r in res.collect():
        got.setdefault(r.qid, []).append((r.rank, r.id, r.dist2))
    for qid, qlon, qlat, k in QUERY_POINTS:
        expected = _knn_oracle(points_pd, qlon, qlat, k)
        rows = sorted(got[qid])
        assert len(rows) == k
        assert [i for _, i, _ in rows] == [i for i, _ in expected]
        for (_, _, d2), (_, ed) in zip(rows, expected):
            assert d2 == pytest.approx(ed)


def test_knn_kring_exact_matches_brute(spark, points, points_pd):
    res = knn.knn_kring_exact(points, _queries_df(spark), ring=1)
    got = {}
    for r in res.collect():
        assert r.exact
        got.setdefault(r.qid, []).append((r.rank, r.id))
    for qid, qlon, qlat, k in QUERY_POINTS:
        expected = [i for i, _ in _knn_oracle(points_pd, qlon, qlat, k)]
        assert [i for _, i in sorted(got[qid])] == expected, f"qid={qid}"


def test_tile_assignment_matches_python(points, points_pd):
    z = 13
    got = {r.id: r.tile_id for r in tiles.assign_tiles(points, z).select("id", "tile_id").collect()}
    for r in points_pd.itertuples():
        tx, ty = tile_xy_py(r.lon, r.lat, z)
        assert got[r.id] == C.tile_id_py(tx, ty, z)


def test_tile_join_and_stats(spark, points, points_pd):
    z = 12
    stats = {r.tile_id: r.n for r in tiles.tile_stats(points, z).collect()}
    expected = {}
    for r in points_pd.itertuples():
        tx, ty = tile_xy_py(r.lon, r.lat, z)
        tid = C.tile_id_py(tx, ty, z)
        expected[tid] = expected.get(tid, 0) + 1
    assert stats == expected


def _knn_oracle_equirect(points_pd, qlon, qlat, k):
    import math as _m

    c = _m.cos(_m.radians(qlat))
    d2 = ((points_pd.lon - qlon) * c) ** 2 + (points_pd.lat - qlat) ** 2
    order = sorted(zip(d2.tolist(), points_pd.id.tolist()), key=lambda t: (t[0], t[1]))
    return [(i, d) for d, i in order[:k]]


def test_knn_h3_exact_matches_oracle(spark, points, points_pd):
    """kNN over real H3 cells (disc-cover candidate generation) equals the
    equirectangular brute oracle for every query, incl. the outside-window
    query that needs disc doubling."""
    res = knn.knn_h3_exact(points, _queries_df(spark), res=8)
    got = {}
    for r in res.collect():
        assert r.exact
        got.setdefault(r.qid, []).append((r.rank, r.id, r.dist2))
    for qid, qlon, qlat, k in QUERY_POINTS:
        expected = _knn_oracle_equirect(points_pd, qlon, qlat, k)
        rows = sorted(got[qid])
        assert [i for _, i, _ in rows] == [i for i, _ in expected], f"qid={qid}"
        for (_, _, d2), (_, ed) in zip(rows, expected):
            assert d2 == pytest.approx(ed)


def test_knn_h3_disc_cover_is_superset(spark):
    """The disc cover must contain every cell holding a point within the
    disc (the exactness guarantee's foundation) — checked directly against
    encoded offsets in all directions."""
    import numpy as np

    from simple_osm_queries_spark.functions import h3_encode as E
    from simple_osm_queries_spark.operators.knn import (
        _equirect_disc_sampler,
        _h3_disc_cells_col,
        h3_max_circumradius_deg,
    )

    qlon, qlat, res = 9.97, 53.57, 8
    disc = 2.0 * h3_max_circumradius_deg(res)
    df = spark.createDataFrame(pd.DataFrame({"qlon": [qlon], "qlat": [qlat]}))
    cover = set(
        df.select(_h3_disc_cells_col(
            F.col("qlon"), F.col("qlat"), res, _equirect_disc_sampler(res, disc)
        ).alias("c"))
        .collect()[0]
        .c
    )
    rng = np.random.default_rng(5)
    ang = rng.uniform(0, 2 * np.pi, 4000)
    rad = disc * np.sqrt(rng.uniform(0, 1, 4000))
    import math as _m

    lons = qlon + rad * np.cos(ang) / _m.cos(_m.radians(qlat))
    lats = qlat + rad * np.sin(ang)
    cells = set(E.lnglat_to_cell(lons, lats, res).view(np.int64).tolist())
    assert cells <= cover, f"{len(cells - cover)} cells escaped the cover"


def test_h3_polyfill_is_superset(spark):
    """Every cell containing a polygon point must be in the cover."""
    import numpy as np

    from simple_osm_queries_spark.functions import h3_encode as E
    from simple_osm_queries_spark.operators.spatial_join import h3_polyfill

    ring = PENTAGON
    cover = set(h3_polyfill(ring, 8).tolist())
    # dense interior + boundary samples of the polygon
    rng = np.random.default_rng(9)
    lons = rng.uniform(min(p[0] for p in ring), max(p[0] for p in ring), 20000)
    lats = rng.uniform(min(p[1] for p in ring), max(p[1] for p in ring), 20000)
    inside = np.array([_pip_oracle(x, y, ring) for x, y in zip(lons, lats)])
    cells = set(E.lnglat_to_cell(lons[inside], lats[inside], 8).tolist())
    assert cells <= cover, f"{len(cells - cover)} escaped"


def test_h3_polyfill_wide_latitude_span():
    """ADVICE r3 #1 regression: a ring spanning 0N..85N must not drop
    low-latitude cells (the old sampler scaled every row's lon spacing by
    one worst-case cos and missed 75% of interior cells here)."""
    import numpy as np

    from simple_osm_queries_spark.functions import h3_encode as E
    from simple_osm_queries_spark.operators.spatial_join import h3_polyfill

    rng = np.random.default_rng(7)
    for (lo0, la0, lo1, la1, res) in [
        (10, 0, 20, 85, 2),
        (10, 0, 20, 89, 2),
        (-5, -80, 5, 80, 3),
    ]:
        ring = [(lo0, la0), (lo1, la0), (lo1, la1), (lo0, la1)]
        cover = set(h3_polyfill(ring, res).tolist())
        lons = rng.uniform(lo0, lo1, 20000)
        lats = rng.uniform(la0, la1, 20000)
        cells = set(E.lnglat_to_cell(lons, lats, res).tolist())
        assert cells <= cover, (
            f"bbox=({lo0},{la0},{lo1},{la1}) res={res}: "
            f"{len(cells - cover)}/{len(cells)} cells escaped"
        )


def test_knn_h3_disc_cover_high_latitude(spark):
    """Disc-cover superset at high latitude: rows of the sample grid nearer
    the equator than the query need tighter lon spacing than the query's own
    cos provides (ADVICE r3 #5)."""
    import math as _m

    import numpy as np

    from simple_osm_queries_spark.functions import h3_encode as E
    from simple_osm_queries_spark.operators.knn import (
        _equirect_disc_sampler,
        _h3_disc_cells_col,
        h3_max_circumradius_deg,
    )

    qlon, qlat, res = 12.0, 75.0, 3
    disc = 2.0 * h3_max_circumradius_deg(res)
    df = spark.createDataFrame(pd.DataFrame({"qlon": [qlon], "qlat": [qlat]}))
    cover = set(
        df.select(_h3_disc_cells_col(
            F.col("qlon"), F.col("qlat"), res, _equirect_disc_sampler(res, disc)
        ).alias("c"))
        .collect()[0]
        .c
    )
    rng = np.random.default_rng(11)
    ang = rng.uniform(0, 2 * np.pi, 6000)
    rad = disc * np.sqrt(rng.uniform(0, 1, 6000))
    lats = qlat + rad * np.sin(ang)
    lons = qlon + rad * np.cos(ang) / np.cos(np.radians(lats))
    cells = set(E.lnglat_to_cell(lons, lats, res).view(np.int64).tolist())
    assert cells <= cover, f"{len(cells - cover)} cells escaped the cover"


def test_knn_h3_pole_query_falls_back_to_brute(spark, points, points_pd):
    """A pole-adjacent query (padded disc reaches 89.5N) routes to the exact
    brute path instead of the cover sampler; results still match the
    equirect oracle and report exact."""
    polar = spark.createDataFrame(
        [(0, 9.97, 89.8, 5), (1, 9.97, 53.57, 5)],
        "qid long, lon double, lat double, k int",
    )
    pts = points.select("id", "lon", "lat").unionByName(
        spark.createDataFrame(
            [(90001 + i, 9.0 + i * 0.3, 89.7 + 0.01 * i) for i in range(8)],
            "id long, lon double, lat double",
        )
    )
    res = knn.knn_h3(pts, polar, res=8)
    rows = res.collect()
    assert all(r.exact for r in rows)
    pts_pd = pts.select("id", "lon", "lat").toPandas()
    for qid, qlon, qlat, k in [(0, 9.97, 89.8, 5), (1, 9.97, 53.57, 5)]:
        expected = [i for i, _ in _knn_oracle_equirect(pts_pd, qlon, qlat, k)]
        got = [r.id for r in sorted((r for r in rows if r.qid == qid), key=lambda r: r.rank)]
        assert got == expected, f"qid={qid}"


KNN_PLAN_CASES = {
    "kring": lambda pts, q: knn.knn_kring(pts, q, ring=1),
    "h3_equirect": lambda pts, q: knn.knn_h3(pts, q, res=8),
    "h3_haversine": lambda pts, q: knn.knn_h3(pts, q, res=8, metric="haversine"),
}


@pytest.mark.parametrize("case", list(KNN_PLAN_CASES))
def test_knn_candidate_join_plan_shape(spark, points_pd, case):
    """Plan pin for the kNN family: the candidate join is a broadcast hash
    join (the point side is never shuffled on the cell key) and the H3
    cover UDF is evaluated exactly once. Automatic broadcasting is off for
    the test, so a BroadcastHashJoin can only come from the hint. The points
    are a local relation so the plan holds no cached fixture subplan."""
    points = spark.createDataFrame(points_pd[["id", "lon", "lat"]])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        nodes = plan_nodes(KNN_PLAN_CASES[case](points, _queries_df(spark)))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    kinds = [n for n, _ in nodes]
    assert kinds.count("BroadcastHashJoin") == 1, kinds
    for bad in (
        "SortMergeJoin", "ShuffledHashJoin", "CartesianProduct",
        "BroadcastNestedLoopJoin",
    ):
        assert bad not in kinds, bad
    if case == "kring":
        assert "ArrowEvalPython" not in kinds, kinds
    else:
        covers = sum(sec.count("_cover(") for n, sec in nodes if n == "ArrowEvalPython")
        assert covers == 1, covers


@pytest.fixture(scope="module")
def tile_frames(spark, dataset):
    """The dataset's nodes/ways/relations as local relations, so a plan
    holds only the tile operator's own stages."""
    def local(df, *cols):
        df = df.select(*cols)
        return spark.createDataFrame(df.collect(), df.schema)

    bbox = ("min_lon", "min_lat", "max_lon", "max_lat")
    return (
        local(dataset.nodes, "id", "lon", "lat", "tags"),
        local(dataset.ways, "id", "nodes", *bbox, "tags"),
        local(dataset.relations, "id", *bbox, "tags"),
    )


TILE_PLAN_COUNTED = (
    "Exchange", "Window", "FlatMapGroupsInPandas", "MapInPandas", "TakeOrderedAndProject",
    "SortMergeJoin", "BroadcastNestedLoopJoin",
)
TILE_PLAN_CASES = {
    # one Exchange: the rank windows ride the render's tile_id exchange
    "tile_vectors": (lambda n, w, r: tiles.tile_vectors(n, 13), (1, 2, 1, 0, 0, 0, 0)),
    # a dense .mvt layer: the tile's first cap members in fid order reach
    # one mapInPandas task, with no exchange and no window
    "tile_mvt-executor": (
        lambda n, w, r: tiles.tile_mvt_layers(n, w, r, 12, *tile_xy_py(9.95, 53.55, 12), 100)[1]
        .executor_frame(),
        (0, 0, 0, 1, 1, 0, 0)),
    # pixel groupBy (tile_id, px, py), then the per-tile render
    "tile_heatmap": (lambda n, w, r: tiles.tile_heatmap(n.select("lon", "lat"), 13, 64),
                     (2, 0, 1, 0, 0, 0, 0)),
    "tile_stats-perfbench": (
        lambda n, w, r: tiles.tile_stats(n.select("id", "lon", "lat"), 13).agg(
            F.sum("n").alias("total"), F.count("*").alias("tiles")),
        (2, 0, 0, 0, 0, 0, 0)),
}


@pytest.mark.parametrize("case", list(TILE_PLAN_CASES))
def test_tile_plan_shape(tile_frames, case):
    """Plan pin for the tile family: the counts of exchanges, windows,
    pandas stages, top-k sorts and the two joins a tile operator must not
    grow."""
    build, want = TILE_PLAN_CASES[case]
    kinds = [n for n, _ in plan_nodes(build(*tile_frames))]
    assert tuple(kinds.count(k) for k in TILE_PLAN_COUNTED) == want, kinds


def test_tile_route_plan_shape(spark, tile_frames):
    """Plan pin for GET /tiles/{z}/{x}/{y}.mvt (web._mvt_layers): each
    layer's driver fetch is one TakeOrderedAndProject over its filtered
    scan, with no Exchange, no pandas render and no Arrow UDF, and serving
    a tile whose layers fit tiles.MVT_DRIVER_ROWS runs one single-stage
    job per layer. A toPandas() fetch keeps the same plan but executes the
    TakeOrderedAndProject as a single-partition shuffle, a second stage,
    which the stage count below catches."""
    from simple_osm_queries_spark import web
    from simple_osm_queries_spark.sources.dataset import OsmDataset

    ds = OsmDataset(*tile_frames)
    x, y = tile_xy_py(9.95, 53.55, 12)
    layers = web._mvt_layers(ds, 12, x, y, 0.0, 100)
    assert [layer.name for layer in layers] == ["nodes", "ways", "relations"]
    for layer in layers:
        kinds = [n for n, _ in plan_nodes(layer.fetch)]
        assert kinds.count("TakeOrderedAndProject") == 1, (layer.name, kinds)
        for bad in ("Exchange", "FlatMapGroupsInPandas", "ArrowEvalPython"):
            assert bad not in kinds, (layer.name, kinds)
    sc = spark.sparkContext
    sc.setJobGroup("test_tile_route_plan_shape", "mvt route")
    try:
        body = tiles.tile_mvt(layers)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert body
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup("test_tile_route_plan_shape")
    stages = [len(tracker.getJobInfo(j).stageIds) for j in jobs]
    assert 1 <= len(stages) <= 3 and set(stages) == {1}, stages


def test_point_in_polygon_h3_matches_plain(spark, points, points_pd):
    from simple_osm_queries_spark.operators.spatial_join import (
        point_in_polygon_h3_join,
        point_in_polygon_literal_join,
    )

    catalog = [(0, PENTAGON), (1, STAR)]
    plain = _id_qid(point_in_polygon_literal_join(points, catalog))
    h3ed = _id_qid(point_in_polygon_h3_join(points, catalog, res=8))
    assert h3ed == plain and plain


def test_precomputed_cell_col_parity(spark, points):
    """The cell_col fast path (cells-CLI layout: precomputed H3 columns)
    must return exactly what the re-encode path returns, for both knn_h3
    and point_in_polygon_h3_join."""
    from simple_osm_queries_spark.operators.spatial_join import (
        point_in_polygon_h3_join,
    )

    keyed = points.withColumn("h3a", C.cell_h3(F.col("lon"), F.col("lat"), 8))
    q = _queries_df(spark)
    plain = sorted(
        (r.qid, r.rank, r.id) for r in knn.knn_h3(points, q, res=8).collect()
    )
    fast = sorted(
        (r.qid, r.rank, r.id)
        for r in knn.knn_h3(keyed, q, res=8, cell_col="h3a").collect()
    )
    assert plain == fast

    pplain = _id_qid(point_in_polygon_h3_join(points, [(0, PENTAGON)], res=8))
    pfast = _id_qid(point_in_polygon_h3_join(keyed, [(0, PENTAGON)], res=8, cell_col="h3a"))
    assert pplain == pfast and pplain


def test_point_in_polygon_h3_large_catalog(spark, points, points_pd):
    """A catalog past the unroll limits takes the numpy bitmask refine;
    must still match the plain literal join."""
    from simple_osm_queries_spark.operators.spatial_join import (
        point_in_polygon_h3_join,
        point_in_polygon_literal_join,
    )

    catalog = [(0, PENTAGON), (1, STAR), (2, CROSSING)]
    for j in range(3, 6):
        dx = 0.01 * (j - 2)
        catalog.append((j, [(x + dx, y) for x, y in PENTAGON]))
    plain = _id_qid(point_in_polygon_literal_join(points, catalog))
    h3ed = _id_qid(point_in_polygon_h3_join(points, catalog, res=8))
    assert h3ed == plain and plain


def _pip_expected(pdf, catalog):
    """Sorted (id, qid) rows: one per (point, catalog entry containing it)."""
    return sorted(
        (int(r.id), qid)
        for qid, ring in catalog
        for r in pdf.itertuples()
        if _pip_oracle(r.lon, r.lat, ring)
    )


def test_point_in_polygon_h3_repeated_qid_no_duplicates(spark):
    """Two entries sharing a qid (a multi-ring region: adjacent 0.01 degree
    squares) must give each point one row per containing entry, as the
    literal join does — a point whose cell both covers hold used to come out
    twice."""
    from simple_osm_queries_spark.operators.spatial_join import (
        point_in_polygon_h3_join,
        point_in_polygon_literal_join,
    )

    west = [(10.00, 53.60), (10.01, 53.60), (10.01, 53.61), (10.00, 53.61)]
    east = [(10.01, 53.60), (10.02, 53.60), (10.02, 53.61), (10.01, 53.61)]
    catalog = [(5, west), (5, east)]
    pdf = pd.DataFrame(
        [(i * 20 + j, 9.9985 + 0.00123 * i, 53.5995 + 0.00061 * j)
         for i in range(20) for j in range(20)],
        columns=["id", "lon", "lat"],
    )
    pts = spark.createDataFrame(pdf, "id long, lon double, lat double")
    want = _pip_expected(pdf, catalog)
    assert len(set(want)) == len(want) > 200
    assert _id_qid(point_in_polygon_literal_join(pts, catalog)) == want
    assert _id_qid(point_in_polygon_h3_join(pts, catalog, res=8)) == want


def test_literal_catalog_over_64_polygons(spark):
    """70 disjoint squares, one point in each: the hit bitmask spans two
    int64 words, so entries 64-69 are neither dropped nor aliased onto
    entries 0-5."""
    from simple_osm_queries_spark.operators.spatial_join import (
        point_in_polygon_h3_join,
        point_in_polygon_literal_join,
    )

    def square(x):
        return [(x, 53.6), (x + 0.001, 53.6), (x + 0.001, 53.601), (x, 53.601)]

    catalog = [(100 + q, square(9.9 + 0.002 * q)) for q in range(70)]
    pdf = pd.DataFrame(
        [(q, 9.9 + 0.002 * q + 0.0005, 53.6005) for q in range(70)],
        columns=["id", "lon", "lat"],
    )
    pts = spark.createDataFrame(pdf, "id long, lon double, lat double")
    want = _pip_expected(pdf, catalog)
    assert want == [(q, 100 + q) for q in range(70)]
    assert _id_qid(point_in_polygon_literal_join(pts, catalog)) == want
    assert _id_qid(point_in_polygon_h3_join(pts, catalog, res=8)) == want


PIP_PLAN_COUNTED = (
    "ArrowEvalPython", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
    "CartesianProduct", "Exchange",
)


def _ring_table(spark, catalog):
    return spark.createDataFrame(
        [(q, [{"lon": x, "lat": y} for x, y in ring]) for q, ring in catalog],
        "qid long, ring array<struct<lon:double,lat:double>>",
    )


PIP_PLAN_CASES = {
    "bbox_join": (lambda s, p: spatial_join.bbox_join(p, s.createDataFrame(
        pd.DataFrame(BBOXES, columns=["qid", "min_lon", "min_lat", "max_lon", "max_lat"]))),
        (0, 0, 1, 0, 0)),
    "point_in_polygon_join": (lambda s, p: spatial_join.point_in_polygon_join(
        p, _ring_table(s, [(0, PENTAGON), (1, STAR)])), (0, 0, 1, 0, 0)),
    # map-side partial aggregate, one exchange on qid
    "zonal_stats": (lambda s, p: spatial_join.zonal_stats(
        p, _ring_table(s, [(0, PENTAGON), (1, STAR)])), (0, 0, 1, 0, 1)),
    # unrolled: no Python at all
    "literal-1": (lambda s, p: spatial_join.point_in_polygon_literal_join(
        p, [(0, PENTAGON)]), (0, 0, 0, 0, 0)),
    # numpy bitmask: ONE evaluation of the mask UDF (asNondeterministic)
    "literal-3": (lambda s, p: spatial_join.point_in_polygon_literal_join(
        p, [(0, PENTAGON), (1, STAR), (2, CROSSING)]), (1, 0, 0, 0, 0)),
    # the cell encode, then the broadcast semi join on the cover
    "h3-1": (lambda s, p: spatial_join.point_in_polygon_h3_join(
        p, [(0, PENTAGON)], res=8), (1, 1, 0, 0, 0)),
    "h3-3": (lambda s, p: spatial_join.point_in_polygon_h3_join(
        p, [(0, PENTAGON), (1, STAR), (2, CROSSING)], res=8), (2, 1, 0, 0, 0)),
    "h3-cell_col-1": (lambda s, p: spatial_join.point_in_polygon_h3_join(
        p, [(0, PENTAGON)], res=8, cell_col="h3"), (0, 1, 0, 0, 0)),
    "h3-cell_col-3": (lambda s, p: spatial_join.point_in_polygon_h3_join(
        p, [(0, PENTAGON), (1, STAR), (2, CROSSING)], res=8, cell_col="h3"), (1, 1, 0, 0, 0)),
}


@pytest.mark.parametrize("case", list(PIP_PLAN_CASES))
def test_pip_plan_shape(spark, points_pd, case):
    """Plan pin for the point-in-polygon family: Python evaluations, the
    join kinds and the exchanges a call must not grow. Automatic
    broadcasting is off, so every broadcast comes from the operator's own
    hint; the points are a local relation (no cached fixture subplan) with
    a precomputed res-8 ``h3`` column for the cell_col cases."""
    from simple_osm_queries_spark.functions import h3_encode as E

    pdf = points_pd[["id", "lon", "lat"]].assign(
        h3=E.lnglat_to_cell(points_pd.lon.to_numpy(), points_pd.lat.to_numpy(), 8).view(np.int64)
    )
    pts = spark.createDataFrame(pdf)
    build, want = PIP_PLAN_CASES[case]
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        kinds = [n for n, _ in plan_nodes(build(spark, pts))]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert tuple(kinds.count(k) for k in PIP_PLAN_COUNTED) == want, kinds


# --- raster tile rendering (r5b: vector -> raster direction) ----------------


def test_tile_pixel_bins_matches_python_oracle(spark):
    """Pixel binning (column math) vs an independent python recompute of
    the same Web-Mercator fractional projection, point by point."""
    import math

    from simple_osm_queries_spark.functions import cells as C
    from simple_osm_queries_spark.operators import tiles as T
    from simple_osm_queries_spark.sources.datagen import node_lonlat

    ids = np.arange(0, 600)
    lon, lat = node_lonlat(ids)
    df = spark.createDataFrame(
        pd.DataFrame({"lon": lon, "lat": lat}), "lon double, lat double"
    )
    zoom, P = 14, 64
    got = {
        (r.tile_id, r.px, r.py): r.cnt
        for r in T.tile_pixel_bins(df, zoom, P).collect()
    }
    oracle: dict = {}
    n = 1 << zoom
    for lo, la in zip(lon, lat):
        fx = (lo + 180.0) / 360.0 * n
        la_c = min(max(la, -C.MAX_MERCATOR_LAT), C.MAX_MERCATOR_LAT)
        lr = math.radians(la_c)
        fy = (1.0 - math.log(math.tan(lr) + 1.0 / math.cos(lr)) / math.pi) / 2.0 * n
        tx = min(max(int(fx), 0), n - 1)
        ty = min(max(int(fy), 0), n - 1)
        px = min(max(int((fx - tx) * P), 0), P - 1)
        py = min(max(int((fy - ty) * P), 0), P - 1)
        key = (C.tile_id_py(tx, ty, zoom), px, py)
        oracle[key] = oracle.get(key, 0) + 1
    assert got == oracle


def test_tile_heatmap_renders_decodable_tiles(spark):
    """Rendered tiles: PNG decodes, intensity is monotone in bin count,
    nonzero pixels == distinct bins, per-tile point totals add up, and the
    hot-cell tile is the brightest (fixture skew made visible)."""
    from simple_osm_queries_spark.operators import tiles as T
    from simple_osm_queries_spark.sources import codecs
    from simple_osm_queries_spark.sources.datagen import node_lonlat

    ids = np.arange(0, 2000)
    lon, lat = node_lonlat(ids)
    df = spark.createDataFrame(
        pd.DataFrame({"lon": lon, "lat": lat}), "lon double, lat double"
    )
    zoom, P = 12, 64
    tiles_out = T.tile_heatmap(df, zoom, P).collect()
    bins = T.tile_pixel_bins(df, zoom, P).collect()
    by_tile: dict = {}
    for r in bins:
        by_tile.setdefault(r.tile_id, {})[(r.px, r.py)] = r.cnt
    assert len(tiles_out) == len(by_tile)
    assert sum(r.n_points for r in tiles_out) == len(ids)
    for r in tiles_out:
        img = codecs.decode_png(bytes(r.png))
        assert img.shape == (P, P, 3)
        gray = img[..., 0]
        cells = by_tile[r.tile_id]
        assert int((gray > 0).sum()) == len(cells)
        # monotone: the max-count bin is the brightest pixel (255)
        (bx, by), _ = max(cells.items(), key=lambda kv: kv[1])
        assert gray[by, bx] == 255
        assert r.zoom == zoom and (r.tile_id >> 58) == zoom
    # hot cell (ids % 100 == 0 cluster) -> that tile has the highest max
    from simple_osm_queries_spark.functions import cells as C

    hot_tx, hot_ty = tile_xy_py(9.95, 53.55, zoom)
    hot_id = C.tile_id_py(hot_tx, hot_ty, zoom)
    assert hot_id in by_tile
    assert max(by_tile[hot_id].values()) == max(
        max(v.values()) for v in by_tile.values()
    )


def test_zonal_stats_matches_oracle(spark, points, points_pd):
    """zonal_stats: per-polygon count/avg over a 3-zone catalog equals the
    brute python PIP + pandas groupby; empty zones emit no row."""
    catalog = [(0, PENTAGON), (1, STAR), (2, CROSSING)]
    polys = spark.createDataFrame(
        [(q, [{"lon": x, "lat": y} for x, y in ring]) for q, ring in catalog],
        "qid long, ring array<struct<lon:double,lat:double>>",
    )
    got = {
        r.qid: (r.n, r.mean_lon, r.sum_id)
        for r in spatial_join.zonal_stats(
            points, polys,
            values={"mean_lon": F.avg("lon"), "sum_id": F.sum("id")},
        ).collect()
    }
    expected = {}
    for q, ring in catalog:
        sel = [r for r in points_pd.itertuples() if _pip_oracle(r.lon, r.lat, ring)]
        if sel:
            expected[q] = (
                len(sel),
                sum(r.lon for r in sel) / len(sel),
                sum(int(r.id) for r in sel),
            )
    assert set(got) == set(expected) and expected
    for q, (n, ml, si) in expected.items():
        gn, gml, gsi = got[q]
        assert gn == n and gsi == si
        assert abs(gml - ml) < 1e-9

    # a polygon with no points emits no row
    far = spark.createDataFrame(
        [(9, [{"lon": 170.0 + dx, "lat": 10.0 + dy}
              for dx, dy in [(0.0, 0.0), (0.1, 0.0), (0.05, 0.1)]])],
        "qid long, ring array<struct<lon:double,lat:double>>",
    )
    assert spatial_join.zonal_stats(points, far).count() == 0
