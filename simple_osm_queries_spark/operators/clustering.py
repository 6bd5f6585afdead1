"""Distributed density clustering — DBSCAN over the point table.

The reference has no clustering at all (its closest notion is per-cell
density, /root/reference/src/osm/density.go:33-49); a spatial analytics
engine wants the standard one: DBSCAN (Ester et al., KDD'96). This is the
grid-bucketed distributed formulation, composed entirely from machinery
the engine already ships:

1. eps-neighbor pairs via the buffer family's point-pair join (each point
   keys to one eps-sized cell, the query side explodes the cells of its
   own eps-padded box — exact cover of the eps disk at every latitude;
   `buffer.point_dist2_m` refine);
2. core points = neighborhood size (INCLUDING the point itself, per the
   paper) >= ``min_pts`` — one combinable count aggregate;
3. clusters = connected components over core-core neighbor edges
   (`dedup.connected_components`: pointer-jumping min-label propagation,
   O(log diameter) rounds) — cluster id = min core id in the component;
4. border points (non-core with a core neighbor) join the MIN cluster id
   among their core neighbors — the paper leaves border assignment
   order-dependent; taking the min makes this engine's output
   deterministic and SQL-reproducible;
5. everything else is noise (cluster NULL).

Distance model: local equirectangular meters scaled at the QUERY point's
latitude (`point_dist2_m`, the buffer family's metric) — the neighbor
relation is directional at the approximation margin, exactly like
`this.buffer`; the DuckDB gate twin mirrors the same directed rule.

Scale shape: the pair join is the bucketed buffer plan (shuffles on
packed cell longs, candidate rows bounded by density x eps²); the count
and min aggregates are map-side combinable; components converge in
O(log) star-contraction rounds with bounded state. No all-pairs term
over the table — but note the inherent DBSCAN density term: pair
enumeration inside an eps-dense region is quadratic in that region's
population (true of every exact formulation; measured on the bench
generator's planted hot cluster, where eps >> local spacing makes every
point everyone's neighbor). At scale, pick eps at or below the data's
local resolution, pre-aggregate exact-duplicate coordinate stacks, or
use the per-cell count shortcut of GriDBSCAN-style variants if an
eps-supercritical region is expected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simple_osm_queries_spark.caching import track_persisted
from simple_osm_queries_spark.operators.buffer import _point_pairs
from simple_osm_queries_spark.operators.dedup import connected_components


def eps_neighbor_pairs(
    points: DataFrame,
    eps_m: float,
    id_col: str = "id",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Directed pairs (a, b), a != b, with dist(a -> b) <= eps_m under the
    query-point-scaled equirect metric — the buffer family's point-pair
    join (`buffer._point_pairs`, exact at every latitude)."""
    if eps_m <= 0:
        raise ValueError(f"eps_m must be > 0, got {eps_m}")
    return _point_pairs(points, points, eps_m, id_col, lon, lat)


def dbscan(
    points: DataFrame,
    eps_m: float,
    min_pts: int,
    id_col: str = "id",
    lon: str = "lon",
    lat: str = "lat",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id, cluster, role) for every input point. role in
    {'core', 'border', 'noise'}; ``cluster`` = min core id of the
    component (NULL for noise). ``min_pts`` counts the point itself,
    matching the original paper's |N_eps(p)| >= MinPts."""
    if min_pts < 1:
        raise ValueError(f"min_pts must be >= 1, got {min_pts}")
    pts = points.select(F.col(id_col).alias("id"), lon, lat)
    pairs = eps_neighbor_pairs(pts, eps_m, id_col="id", lon=lon, lat=lat).persist()

    # |N_eps| includes the point itself; points with zero neighbors never
    # appear in pairs — left-join the counts back so they count as 1
    # (min_pts=1 must make EVERY point a singleton core)
    ncount = pairs.groupBy("a").agg((F.count("*") + F.lit(1)).alias("n"))
    cores = (
        pts.select(F.col("id").alias("a"))
        .join(ncount, "a", "left")
        .filter(F.coalesce(F.col("n"), F.lit(1)) >= F.lit(int(min_pts)))
        .select(F.col("a").alias("id"))
        .persist()
    )
    core_a = cores.select(F.col("id").alias("a"))
    core_b = cores.select(F.col("id").alias("b"))
    core_edges = pairs.join(core_a, "a", "left_semi").join(
        core_b, "b", "left_semi"
    )

    # isolated cores (min_pts == 1, or all neighbors non-core) form
    # singleton clusters labelled by their own id
    comp = connected_components(
        core_edges.select(F.col("a").alias("id_a"), F.col("b").alias("id_b")),
        max_iter=max_iter,
        checkpoint_dir=checkpoint_dir,
    ).withColumnsRenamed({"node": "id", "comp": "cluster"})
    core_rows = (
        cores.join(comp, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("cluster"), F.col("id")).alias("cluster"),
            F.lit("core").alias("role"),
        )
        .persist()
    )

    # border: non-core with >= 1 core neighbor -> min neighboring cluster
    border_rows = (
        pairs.join(cores.select(F.col("id").alias("a")), "a", "left_anti")
        .join(
            core_rows.select(F.col("id").alias("b"), "cluster"), "b"
        )
        .groupBy("a")
        .agg(F.min("cluster").alias("cluster"))
        .select(F.col("a").alias("id"), "cluster", F.lit("border").alias("role"))
    )

    labelled = core_rows.unionByName(border_rows)
    noise = pts.select("id").join(labelled.select("id"), "id", "left_anti").select(
        "id",
        F.lit(None).cast("long").alias("cluster"),
        F.lit("noise").alias("role"),
    )
    out = labelled.unionByName(noise)
    # persisted handles release via caching.unpersist_intermediates after
    # the caller materializes (the dedup-family convention)
    return track_persisted(out, [pairs, cores, core_rows])
