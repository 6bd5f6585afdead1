"""spatial_index: full-table spatial operators reading a grid-cell index
that is rewritten by upserts between them.

Set-up generates the points and builds the index (``index.build``). Each
rotation then runs the spatial operators over a fresh read of the index
(scan, cell encode, exchange and refine dominate; web and query are
bypassed), one spatially local upsert of a modify + delete delta, and
bbox reads of the strip it touched and of an untouched strip. Each op's
output is reduced in Spark to a small checksum that the numpy oracles
reproduce from a model of the index's live rows.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import oracles as O

SIZES = {
    "full": dict(n=50_000, queries=100, delta=1_000, deletes=100),
    "tiny": dict(n=10_000, queries=20, delta=200, deletes=20),
}
LON0, LAT0, SPAN = 9.90, 53.50, 0.20
HOT_LON, HOT_LAT, HOT_SPAN = 9.95, 53.55, 0.001
K = 10
KRING_CELL = 0.004
H3_ENCODE_RES = 8
TILE_ZOOM = 13
BOX = 0.05  # bbox_join query box size, degrees
STRIP = 0.01  # partition column width of the index, degrees of lon
FILES_PER_CELL = 1  # files per partition directory of the index

SPATIAL_OPS = ["tiles.tile_stats", "spatial_join.bbox_join", "knn.knn_kring", "cells.h3_encode"]
PLAN_OPS = {"tiles.tile_stats": "tile_stats", "spatial_join.bbox_join": "bbox_join",
            "knn.knn_kring": "knn_kring"}


def gen_points(rng, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Uniform over the window, 1% packed into one hot cell."""
    hot = n // 100
    lon = np.concatenate([LON0 + SPAN * rng.random(n - hot), HOT_LON + HOT_SPAN * rng.random(hot)])
    lat = np.concatenate([LAT0 + SPAN * rng.random(n - hot), HOT_LAT + HOT_SPAN * rng.random(hot)])
    perm = rng.permutation(n)
    return lon[perm], lat[perm]


TAGS = pa.map_(pa.string(), pa.string())


def write_rows(path: str, ids, lon, lat, tags: list, files: int = 4) -> int:
    """(id, lon, lat, tags) parquet files; returns the bytes written."""
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(ids)), files)):
        pq.write_table(
            pa.table({"id": pa.array(ids[part], pa.int64()), "lon": lon[part], "lat": lat[part],
                      "tags": pa.array([tags[j] for j in part], TAGS)}),
            os.path.join(path, f"part-{i:03d}.parquet"),
        )
    return dir_bytes(path)


def dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


def dir_bytes(path: str) -> int:
    return sum(dir_files(path).values())


class SpatialIndex:
    name = "spatial_index"

    def __init__(self, ctx):
        self.ctx = ctx
        self.size = SIZES[ctx.size]
        self.idx = None
        self.cycle = 0
        self.upserts: list[dict] = []
        self.hits: dict[str, int] = {}  # op id -> rows the call returned

    # ------------------------------------------------------------ set-up

    def setup(self, rep: int) -> str | None:
        """Generate the points and their query inputs, write and load them."""
        from pyspark.sql import functions as F

        from simple_osm_queries_spark.index import build as IB

        ctx, n = self.ctx, self.size["n"]
        self.F, self.IB = F, IB
        rng = np.random.default_rng([ctx.seed, 1])
        self.lon, self.lat = gen_points(rng, n)
        self.ids = np.arange(n, dtype=np.int64)
        self.src = ctx.path(f"points-{rep}")
        write_rows(self.src, self.ids, self.lon, self.lat, [{"kind": "pt"}] * n)
        self._inputs(rng)
        loaded = ctx.spark.read.parquet(self.src).count()
        return None if loaded == n else f"loaded {loaded} of {n} points"

    def setup_once(self) -> str | None:
        """Build the pristine index the window reads and upserts."""
        from pyspark.sql import functions as F

        from simple_osm_queries_spark.functions import cells as C

        ctx, n = self.ctx, self.size["n"]
        self.alive = np.ones(n, dtype=bool)
        self.marker = np.zeros(n, dtype=np.int64)  # cycle of the row's last upsert
        self.cx = (self.lon / STRIP).astype(np.int64)
        # strips an upsert may touch: inside the window, clear of the hot cell
        hot = int(HOT_LON / STRIP)
        self.strips = [s for s in range(int(LON0 / STRIP) + 1, int((LON0 + SPAN) / STRIP) - 1)
                       if abs(s - hot) > 1]
        self.strip_rng = np.random.default_rng([ctx.seed, 2])
        self.idx = ctx.path("index")
        nodes = ctx.spark.read.parquet(self.src).withColumn("cx", C.cell_x(F.col("lon"), STRIP))
        self.build_op = ctx.tracer.new_op_id("index.build")
        t0 = time.time()
        with ctx.tracer.span("index.build", self.build_op, group=True):
            self.build_report = self.IB.build_index(
                nodes, self.idx, input_fingerprint=f"perfbench-{ctx.seed}",
                max_rows_per_band=10**9, partition_col="cx", files_per_cell=FILES_PER_CELL)
        self.build_s = time.time() - t0
        self._reopen()
        rows = self.build_report["rows"]
        return None if rows == n else f"index.build wrote {rows} rows of {n}"

    def _reopen(self) -> None:
        """Re-read the index: an upsert swaps partition directories, so a
        DataFrame listed before it would read stale files."""
        self.pts = self.IB.read_index(self.ctx.spark, self.idx)

    def _inputs(self, rng) -> None:
        self.boxes = []
        for q in range(4):
            x0, y0 = LON0 + (SPAN - BOX) * rng.random(), LAT0 + (SPAN - BOX) * rng.random()
            self.boxes.append((q, x0, y0, x0 + BOX, y0 + BOX))
        nq, half = self.size["queries"], self.size["queries"] // 2
        qlon = np.concatenate([HOT_LON + HOT_SPAN * rng.random(half),
                               LON0 + 0.02 + 0.16 * rng.random(nq - half)])
        qlat = np.concatenate([HOT_LAT + HOT_SPAN * rng.random(half),
                               LAT0 + 0.02 + 0.16 * rng.random(nq - half)])
        self.queries = list(zip(range(nq), qlon.tolist(), qlat.tolist()))
        spark = self.ctx.spark
        self.boxes_df = spark.createDataFrame(
            self.boxes, "qid long, min_lon double, min_lat double, max_lon double, max_lat double")
        self.queries_df = spark.createDataFrame(
            [(q, x, y, K) for q, x, y in self.queries], "qid long, lon double, lat double, k int")

    # ---------------------------------------------------------------- ops

    def ops(self):
        spatial = [(label, getattr(self, "op_" + label.split(".")[1])) for label in SPATIAL_OPS]
        return [("index.upsert", self.op_upsert), ("index.read", self.op_read_touched),
                ("index.read", self.op_read_untouched)] + spatial

    def points(self):
        return self.pts.select("id", "lon", "lat")

    def _live(self):
        a = self.alive.copy()
        return self.lon[a], self.lat[a], self.ids[a]

    def _per_qid(self, df):
        F = self.F
        return {int(r.qid): (int(r.n), int(r.s)) for r in df.groupBy("qid").agg(
            F.count("*").alias("n"), F.sum("id").alias("s")).collect()}

    def op_tile_stats(self):
        from simple_osm_queries_spark.operators import tiles

        F = self.F
        lon, lat, _ = self._live()
        row = tiles.tile_stats(self.points(), TILE_ZOOM).agg(
            F.sum("n").alias("total"), F.count("*").alias("tiles")).first()

        def check():
            tx, ty = O.tile_xy(lon, lat, TILE_ZOOM)
            want = (len(lon), len(np.unique(tx * (1 << TILE_ZOOM) + ty)))
            got = (row.total, row.tiles)
            return None if got == want else f"tile_stats: total/tiles {got}, want {want}"

        return self.size["n"], check

    def op_bbox_join(self):
        from simple_osm_queries_spark.operators import spatial_join

        lon, lat, ids = self._live()
        got = self._per_qid(spatial_join.bbox_join(self.points(), self.boxes_df))

        def check():
            want = {}
            for q, x0, y0, x1, y1 in self.boxes:
                m = (lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1)
                if m.any():
                    want[q] = (int(m.sum()), int(ids[m].sum()))
            return None if got == want else f"bbox_join: {got} != {want}"

        return self.size["n"], check

    def _knn_check(self, name, rows):
        lon, lat, ids = self._live()
        by_q: dict[int, list[int]] = {}
        exact: dict[int, bool] = {}
        for r in rows:
            by_q.setdefault(r.qid, []).append(r.id)
            exact[r.qid] = exact.get(r.qid, True) and bool(r.exact)
        ratio = sum(exact.values()) / max(1, len(self.queries))

        def check():
            pos = {int(i): j for j, i in enumerate(ids)}
            bad = []
            for q, x, y in self.queries:
                if q not in by_q:
                    bad.append(q)
                elif exact[q]:
                    local = [pos.get(int(i), -1) for i in by_q[q]]
                    if -1 in local or not O.knn_matches(local, lon, lat, x, y, K):
                        bad.append(q)
            return f"{name}: wrong or missing top-{K} for queries {bad[:5]}" if bad else None

        return ratio, check

    def op_knn_kring(self):
        from simple_osm_queries_spark.operators import knn

        rows = knn.knn_kring(self.points(), self.queries_df, ring=1, cell_w=KRING_CELL,
                             cell_h=KRING_CELL).select("qid", "id", "exact").collect()
        self.kring_exact_ratio, check = self._knn_check("knn_kring", rows)
        return self.size["n"], check

    def op_h3_encode(self):
        from simple_osm_queries_spark.functions import cells as C

        F = self.F
        n_live = int(self.alive.sum())
        rows = (self.points().select(C.cell_h3(F.col("lon"), F.col("lat"), H3_ENCODE_RES).alias("c"))
                .groupBy("c").count().collect())

        def check():
            total = sum(r["count"] for r in rows)
            cells = np.array([r.c for r in rows], dtype=np.int64)
            if total != n_live or not O.h3_index_valid(cells, H3_ENCODE_RES):
                return f"h3_encode: {total} rows encoded of {n_live}, or malformed cell ids"
            return None

        return self.size["n"], check

    # ------------------------------------------------------- index writes

    def op_upsert(self):
        """Modify + delete inside one seeded strip, then apply the same
        change to the oracle's model of the index."""
        from simple_osm_queries_spark.functions import cells as C
        from simple_osm_queries_spark.index import upsert as IU

        F, spark, ctx = self.F, self.ctx.spark, self.ctx
        self.cycle += 1
        c = self.cycle
        self.touched = int(self.strip_rng.choice(self.strips))
        in_strip = np.flatnonzero(self.alive & (self.cx == self.touched))
        pick = self.strip_rng.permutation(in_strip)
        d, m = self.size["delta"], self.size["deletes"]
        mod, dele = np.sort(pick[:d]), np.sort(pick[d:d + m])
        dpath, xpath = ctx.path(f"delta-{c}"), ctx.path(f"deletes-{c}")
        delta_bytes = write_rows(dpath, mod, self.lon[mod], self.lat[mod],
                                 [{"kind": "pt", "upserted": str(c)}] * len(mod), files=1)
        os.makedirs(xpath)
        pq.write_table(pa.table({"id": pa.array(dele, pa.int64())}), os.path.join(xpath, "d.parquet"))
        delta_bytes += dir_bytes(xpath)
        delta = spark.read.parquet(dpath).withColumn("cx", C.cell_x(F.col("lon"), STRIP))
        before = dir_files(self.idx)
        t0 = time.time()
        rep = IU.upsert_index(spark, self.idx, delta, f"perfbench-{ctx.seed}-{c}",
                              deletes=spark.read.parquet(xpath), partition_col="cx",
                              files_per_cell=FILES_PER_CELL)
        wall = time.time() - t0
        after = dir_files(self.idx)
        written = sum(sz for p, sz in after.items() if p not in before and "/backup-" not in p)
        stage_dirs = sum(1 for x in os.listdir(os.path.join(self.idx, "_upserts"))
                         if x.startswith("stage-"))
        self._reopen()
        self.marker[mod] = c
        self.alive[dele] = False
        self.upserts.append(dict(rep=rep, wall=wall, written=written, delta_bytes=delta_bytes,
                                 delta_rows=len(mod), stage_dirs=stage_dirs))
        return len(mod) + len(dele), None

    def _read_strip(self, strip: int):
        """bbox read of one partition strip, checked against the model."""
        F = self.F
        x0, x1 = strip * STRIP, (strip + 1) * STRIP
        m = self.alive & (self.lon >= x0) & (self.lon <= x1)
        want = (int(m.sum()), int(m.sum()), int(self.ids[m].sum()), int(self.marker[m].sum()))
        row = (self.pts.filter((F.col("lon") >= x0) & (F.col("lon") <= x1)
                       & (F.col("lat") >= LAT0) & (F.col("lat") <= LAT0 + SPAN))
               .agg(F.count("*").alias("n"), F.count_distinct("id").alias("u"),
                    F.sum("id").alias("s"),
                    F.sum(F.coalesce(F.col("tags")["upserted"].cast("long"), F.lit(0))).alias("m"))
               .first())
        got = (row.n, row.u, row.s or 0, row.m or 0)
        self.hits[self.ctx.current_op] = got[0]
        return 0, lambda: None if got == want else f"index.read strip {strip}: {got} != {want}"

    def op_read_touched(self):
        return self._read_strip(self.touched)

    def op_read_untouched(self):
        others = [s for s in self.strips if s != self.touched]
        return self._read_strip(int(others[self.cycle * 7 % len(others)]))

    # ------------------------------------------------------------ metrics

    @staticmethod
    def rows_per_s(recs) -> tuple[float, int]:
        spatial = [r for r in recs if r.kind in SPATIAL_OPS]
        busy = sum(r.t1 - r.t0 for r in spatial)
        return sum(r.rows for r in spatial) / busy if busy else 0.0, len(spatial)

    def summary(self, recs, window_s):
        ups = self.upserts
        wa = sum(u["written"] for u in ups) / max(1, sum(u["delta_bytes"] for u in ups))
        rate, n = self.rows_per_s(recs)
        return [
            f"rows_per_s = {rate:.6g} rows/s (spatial ops: input rows / op wall, n={n})",
            f"build_s = {self.build_s:.4f} s (n=1)",
            f"write_amp = {wa:.4g} bytes/byte (n={len(ups)} upserts)",
            f"upsert stage dirs left: max {max([u['stage_dirs'] for u in ups], default=0)}",
        ]

    def targeted(self, generic, recs) -> dict[str, float]:
        from harness import count_nodes, join_rows

        reader = self.ctx.reader
        out = {"batch.spatial_rows_per_s": self.rows_per_s([r for r in recs if not r.traced])[0]}
        for label, op in PLAN_OPS.items():
            g = generic.get(label)
            if not g:
                continue
            nodes = reader.plan_nodes(g["_sample"][0].op_id)
            out[f"plan.smj.{op}"] = count_nodes(nodes, "SortMergeJoin")
            out[f"plan.shj.{op}"] = count_nodes(nodes, "ShuffledHashJoin")
            if op == "knn_kring":
                out["knn_kring.candidate_rows"] = sum(join_rows(nodes))
        out["knn_kring.exact_ratio"] = self.kring_exact_ratio
        g = generic.get("cells.h3_encode")
        if g:
            cpu = statistics.fmean([r.cpu_s for r in g["_sample"]])
            out["cells.h3_encode_rows_per_cpu_s"] = self.size["n"] / cpu if cpu > 0 else 0.0
        ups = self.upserts
        if ups:
            out["upsert.rows_written_per_delta_row"] = statistics.fmean(
                [u["rep"]["rows_written"] / u["delta_rows"] for u in ups])
            out["upsert.partitions_rewritten"] = statistics.fmean(
                [u["rep"]["affected_partitions"] for u in ups])
            out["upsert.used_lookup_ratio"] = statistics.fmean(
                [float(u["rep"]["used_lookup"]) for u in ups])
            out["upsert.bytes_written_per_delta_byte"] = (
                sum(u["written"] for u in ups) / sum(u["delta_bytes"] for u in ups))
            out["upsert.leftover_stage_dirs"] = max(u["stage_dirs"] for u in ups)
        g = generic.get("index.read")
        if g:
            scanned, returned = 0.0, 0
            for r in g["_sample"]:
                nodes = reader.plan_nodes(r.op_id)
                scanned += sum(n["rows"] or 0 for n in nodes if n["name"].startswith("Scan"))
                returned += self.hits.get(r.op_id, 0)
            out["read.rows_scanned_per_row_returned"] = scanned / max(1, returned)
        b = self._build_generic()
        out.update(b)
        return out

    def _build_generic(self) -> dict[str, float]:
        """index.build runs in set-up; its span and job group come from there."""
        reader = self.ctx.reader
        tot = reader.stage_totals(reader.stage_ids_of_jobs(reader.group_jobs(self.build_op)))
        return {
            "index.build.wall_s": self.build_s,
            "index.build.exec_cpu_s": tot["cpu_s"],
            "index.build.shuffle_bytes": tot["shuffle_bytes"],
            "index.build.spill_bytes": tot["spill_bytes"],
        }
