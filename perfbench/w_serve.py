"""serve_osm: a closed-loop HTTP client replaying a seeded request list
against ``web.serve`` on a prepared node/way/relation dataset.

Many small Spark jobs: per-request driver overhead, query planning and
GeoJSON/MVT encoding dominate, and no heavy shuffle runs. Ways are short
local polylines (a few hundred metres), as road segments are. Every
response is checked after the window: query results against DuckDB over
the generated parquet, tiles and cells against numpy counts.
"""

from __future__ import annotations

import contextlib
import http.client
import json
import os
import statistics
import sys
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import oracles as O
from harness import OpRecord, union_length

SIZES = {
    "full": dict(nodes=20_000, ways=2_000, relations=300),
    "tiny": dict(nodes=3_000, ways=300, relations=50),
}
LON0, LAT0, SPAN = 9.90, 53.50, 0.20
TILE_Z = 14
# The request kinds of one cycle, each with its own seeded parameters. One
# client: with two, whether their heavy requests overlapped changed from
# run to run and doubled the spread of every latency metric. The cycle is
# short because every run pays a cold pass over it before timing.
CYCLE = ["query", "mvt", "query", "cells"]
BOX, CELLS_BOX = 0.05, 0.025  # query and /cells bbox sizes, degrees
TAGS = pa.map_(pa.string(), pa.string())
IDS = pa.list_(pa.int64())
WAY_BASE, REL_BASE = 1_000_000_000, 2_000_000_000
KINDS = {"query": "web.query", "mvt": "web.tile_mvt", "cells": "web.cells"}

QUERIES = [  # (query template, DuckDB template); {b} is "min_lon, min_lat, max_lon, max_lat"
    ("bbox({b}).nodes{{ (amenity=bench AND seats=*) OR this.ways{{ highway=primary }} }} "
     "bbox({b2}).ways{{ building=yes AND this.nodes{{ amenity=* }} }}",
     "SELECT 'node', id FROM n WHERE {nb} AND ((tag(tags,'amenity')='bench' "
     "AND tag(tags,'seats') IS NOT NULL) OR id IN (SELECT nid FROM wn JOIN w ON wn.wid=w.id "
     "WHERE tag(w.tags,'highway')='primary')) UNION ALL "
     "SELECT 'way', id FROM wb WHERE {wbb2} AND tag(tags,'building')='yes' AND id IN "
     "(SELECT wid FROM wn JOIN n ON wn.nid=n.id WHERE tag(n.tags,'amenity') IS NOT NULL)"),
    ("bbox({b}).relations{{ route=bus AND this.nodes{{ seats=* }} }}",
     "SELECT 'relation', id FROM rb WHERE {wbb} AND tag(tags,'route')='bus' AND id IN "
     "(SELECT rid FROM rn JOIN n ON rn.nid=n.id WHERE tag(n.tags,'seats') IS NOT NULL)"),
]


def _tags(keys: list[str], cols: list[np.ndarray]) -> list[dict]:
    """One tag dict per row from per-key value columns (None: no tag)."""
    return [{k: v for k, v in zip(keys, row) if v is not None} for row in zip(*cols)]


def gen_dataset(rng, s) -> dict:
    """Free nodes, short local ways (with their own nodes) and relations
    of nearby ways and nodes; tags from small fixed vocabularies."""
    nf, nw, nr = s["nodes"], s["ways"], s["relations"]
    lon, lat = LON0 + SPAN * rng.random(nf), LAT0 + SPAN * rng.random(nf)
    wl = rng.integers(3, 6, nw)
    base_lon, base_lat = LON0 + 0.01 + 0.18 * rng.random(nw), LAT0 + 0.01 + 0.18 * rng.random(nw)
    steps_lon = rng.uniform(-0.0015, 0.0015, (nw, 5)).cumsum(axis=1)
    steps_lat = rng.uniform(-0.001, 0.001, (nw, 5)).cumsum(axis=1)
    starts = nf + np.concatenate([[0], np.cumsum(wl)[:-1]])
    way_nodes = [list(range(a, a + n)) for a, n in zip(starts.tolist(), wl.tolist())]
    first = np.arange(5) < wl[:, None]  # the steps each way uses
    node_lon = np.concatenate([lon, (base_lon[:, None] + steps_lon)[first]])
    node_lat = np.concatenate([lat, (base_lat[:, None] + steps_lat)[first]])
    n_all = len(node_lon)
    amenity = np.array(["bench", "cafe", "restaurant", "waste_basket", None], dtype=object)[
        rng.choice(5, n_all, p=[0.1, 0.05, 0.05, 0.05, 0.75])]
    seats = np.array(["2", "3", "4"], dtype=object)[rng.integers(0, 3, n_all)]
    seats[(amenity != "bench") | (rng.random(n_all) >= 0.5)] = None
    natural = np.full(n_all, "tree", dtype=object)
    natural[(amenity != None) | (rng.random(n_all) >= 0.1)] = None  # noqa: E711 (elementwise)
    node_tags = _tags(["amenity", "seats", "natural"], [amenity, seats, natural])
    highway = np.array(["primary", "secondary", "residential", None], dtype=object)[
        rng.choice(4, nw, p=[0.2, 0.2, 0.2, 0.4])]
    building = np.where(rng.random(nw) < 0.3, "yes", None).astype(object)
    way_tags = _tags(["highway", "building"], [highway, building])
    # relations group ways that sit in the same 0.02-degree grid cell
    cell = (((base_lon - LON0) // 0.02) * 100 + (base_lat - LAT0) // 0.02).astype(np.int64)
    order = np.argsort(cell, kind="stable")
    free_cell = (((lon - LON0) // 0.02) * 100 + (lat - LAT0) // 0.02).astype(np.int64)
    rels = []
    for r in range(nr):
        k = int(rng.integers(0, nw))
        same = order[np.searchsorted(cell[order], cell[k]):np.searchsorted(cell[order], cell[k], "right")]
        ways = sorted(set(int(x) for x in rng.choice(same, size=min(3, len(same)), replace=False)))
        near = np.flatnonzero(free_cell == cell[k])
        nodes = sorted(set(int(x) for x in rng.choice(near, size=min(2, len(near)), replace=False))) if len(near) else []
        t = {}
        if rng.random() < 0.5:
            t["route"] = "bus"
        if rng.random() < 0.3:
            t["type"] = "multipolygon"
        rels.append((nodes, [WAY_BASE + w for w in ways], t))
    return dict(lon=node_lon, lat=node_lat, node_tags=node_tags,
                way_nodes=way_nodes, way_tags=way_tags, rels=rels)


def write_dataset(path: str, d: dict) -> None:
    os.makedirs(path, exist_ok=True)
    n = len(d["lon"])
    pq.write_table(pa.table({"id": pa.array(np.arange(n), pa.int64()), "lon": d["lon"],
                             "lat": d["lat"], "tags": pa.array(d["node_tags"], TAGS)}),
                   os.path.join(path, "nodes.parquet"))
    nw = len(d["way_nodes"])
    pq.write_table(pa.table({"id": pa.array(WAY_BASE + np.arange(nw), pa.int64()),
                             "node_ids": pa.array(d["way_nodes"], IDS),
                             "tags": pa.array(d["way_tags"], TAGS)}),
                   os.path.join(path, "ways.parquet"))
    nr = len(d["rels"])
    pq.write_table(pa.table({"id": pa.array(REL_BASE + np.arange(nr), pa.int64()),
                             "node_member_ids": pa.array([r[0] for r in d["rels"]], IDS),
                             "way_member_ids": pa.array([r[1] for r in d["rels"]], IDS),
                             "child_relation_ids": pa.array([[] for _ in d["rels"]], IDS),
                             "tags": pa.array([r[2] for r in d["rels"]], TAGS)}),
                   os.path.join(path, "relations.parquet"))


def mvt_layer_counts(blob: bytes) -> dict[str, int]:
    """Feature count per layer of a Mapbox Vector Tile (protobuf)."""

    def fields(buf):
        i = 0
        while i < len(buf):
            key, i = _varint(buf, i)
            wt = key & 7
            if wt == 0:
                val, i = _varint(buf, i)
            elif wt == 2:
                ln, i = _varint(buf, i)
                val, i = buf[i:i + ln], i + ln
            elif wt == 5:
                val, i = buf[i:i + 4], i + 4
            elif wt == 1:
                val, i = buf[i:i + 8], i + 8
            else:
                raise ValueError(f"bad wire type {wt}")
            yield key >> 3, val

    out: dict[str, int] = {}
    for num, layer in fields(blob):
        if num == 3:
            name, feats = "", 0
            for f, v in fields(layer):
                if f == 1:
                    name = bytes(v).decode()
                elif f == 2:
                    feats += 1
            out[name] = out.get(name, 0) + feats
    return out


def _varint(buf, i):
    shift = val = 0
    while True:
        b = buf[i]
        i += 1
        val |= (b & 0x7F) << shift
        if b < 0x80:
            return val, i
        shift += 7


class ServeOsm:
    name = "serve_osm"

    def __init__(self, ctx):
        self.ctx = ctx
        self.size = SIZES[ctx.size]
        self.server = None
        self.expected: dict[int, object] = {}
        self.server_spans: dict[str, tuple[float, float]] = {}

    # ------------------------------------------------------------ set-up

    def setup(self, rep: int) -> str | None:
        """Generate the dataset and the request list, write and load them."""
        ctx, spark = self.ctx, self.ctx.spark
        rng = np.random.default_rng([ctx.seed, 4])
        self.data = gen_dataset(rng, self.size)
        self.dir = ctx.path(f"osm-{rep}")
        write_dataset(self.dir, self.data)
        self.raw = [spark.read.parquet(os.path.join(self.dir, f"{t}.parquet"))
                    for t in ("nodes", "ways", "relations")]
        self.want_rows = [len(self.data["lon"]), len(self.data["way_nodes"]), len(self.data["rels"])]
        counts = [df.count() for df in self.raw]
        self.requests = self._requests(np.random.default_rng([ctx.seed, 5]))
        return None if counts == self.want_rows else f"loaded {counts} rows, want {self.want_rows}"

    def setup_once(self) -> str | None:
        """Prepare the served dataset (sources.dataset.prepare) and cache it."""
        from simple_osm_queries_spark.sources.dataset import prepare

        self.ds = prepare(*self.raw).cache()
        counts = [self.ds.nodes.count(), self.ds.ways.count(), self.ds.relations.count()]
        return None if counts == self.want_rows else f"prepared {counts} rows, want {self.want_rows}"

    def _box(self, rng, size=BOX):
        """A seeded bbox, rounded to the 6 decimals its request text carries."""
        x0, y0 = LON0 + (SPAN - size) * rng.random(), LAT0 + (SPAN - size) * rng.random()
        return tuple(round(v, 6) for v in (x0, y0, x0 + size, y0 + size))

    def _requests(self, rng) -> list[tuple[str, str, str, dict]]:
        """(kind, method, path, params) — the seeded, fixed request list."""
        out = []
        x_lo, y_hi = O.tile_xy(np.array([LON0 + 0.01]), np.array([LAT0 + 0.01]), TILE_Z)
        x_hi, y_lo = O.tile_xy(np.array([LON0 + SPAN - 0.01]), np.array([LAT0 + SPAN - 0.01]), TILE_Z)
        for i, kind in enumerate(CYCLE):
            if kind == "query":
                t = CYCLE[:i].count("query")  # each template once
                b, b2 = self._box(rng), self._box(rng)
                body = QUERIES[t][0].format(b=", ".join(f"{v:.6f}" for v in b),
                                            b2=", ".join(f"{v:.6f}" for v in b2))
                out.append((kind, "POST", "/query", dict(t=t, b=b, b2=b2, body=body)))
            elif kind == "mvt":
                x = int(rng.integers(x_lo[0], x_hi[0] + 1))
                y = int(rng.integers(y_lo[0], y_hi[0] + 1))
                out.append((kind, "GET", f"/tiles/{TILE_Z}/{x}/{y}.mvt", dict(x=x, y=y)))
            else:
                b = self._box(rng, CELLS_BOX)
                q = ",".join(f"{v:.6f}" for v in b)
                out.append((kind, "GET", f"/cells?bbox={q}&res=8", dict(b=b)))
        return out

    # ------------------------------------------------------------ serving

    def _start(self):
        from simple_osm_queries_spark import web

        if self.server is not None:
            return
        if self.ctx.trace:
            self._instrument(web)
            handler = self._traced_handler(web.make_handler(self.ds))
            self.server = web.ThreadingHTTPServer(("127.0.0.1", 0), handler)
        else:
            self.server = web.serve(self.ds, port=0)
        self.server.daemon_threads = True
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()
        self.port = self.server.server_address[1]

    def close(self):
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.thread.join(timeout=30)
            self.server = None

    def _traced_handler(self, base):
        """Sets each traced request's job group on the server thread."""
        tracer, spans = self.ctx.tracer, self.server_spans

        class Traced(base):
            def _traced(self, method):
                op = self.headers.get("X-Perfbench-Op")
                if not op:
                    return method()
                t0 = time.time()
                with tracer.span("server." + op.split("#")[0], op, group=True):
                    tracer._local.op = op
                    try:
                        method()
                    finally:
                        tracer._local.op = None
                spans[op] = (t0, time.time())

            def do_GET(self):  # noqa: N802
                self._traced(super().do_GET)

            def do_POST(self):  # noqa: N802
                self._traced(super().do_POST)

        return Traced

    def _instrument(self, web):
        """Child spans around the query and GeoJSON layers the handler calls."""
        tracer = self.ctx.tracer

        def wrap(name, fn):
            def traced(*a, **kw):
                op = getattr(tracer._local, "op", None)
                if op is None:
                    return fn(*a, **kw)
                with tracer.span(name, op):
                    return fn(*a, **kw)
            return traced

        web.parse_query = wrap("query.parse", web.parse_query)
        web.plan_query = wrap("query.plan", web.plan_query)
        web.to_geojson_capped = wrap("geojson.encode", web.to_geojson_capped)

    def _send(self, conn, req, op_id=""):
        kind, method, path, p = req
        headers = {"X-Perfbench-Op": op_id} if op_id else {}
        body = p["body"].encode() if method == "POST" else None
        conn.request(method, path, body=body, headers=headers)
        resp = conn.getresponse()
        return resp.status, resp.read()

    def _connect(self):
        return http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)

    def warmup(self) -> list[str]:
        """Each distinct request shape once."""
        self._start()
        firsts: dict = {}
        for i, req in enumerate(self.requests):
            firsts.setdefault((req[0], req[3].get("t")), i)
        conn, errors = self._connect(), []
        for i in sorted(firsts.values()):
            msg = self._check(i, *self._send(conn, self.requests[i]))
            if msg:
                errors.append(f"warm-up {msg}")
        conn.close()
        return errors

    def run_window(self, seconds: float):
        """Whole cycles of the request list: another cycle starts only if
        the last one would still end before the deadline, so every run has
        the same mix of request kinds. In a traced run every other cycle is
        traced (at least two)."""
        self._start()
        base = self.ctx.reader.persisted_rdds()
        tracer, recs = self.ctx.tracer, []
        deadline = time.time() + seconds
        conn = self._connect()
        cycles, last = 0, 0.0
        while cycles < (2 if self.ctx.trace else 1) or time.time() + last <= deadline:
            t_cycle = time.time()
            traced = self.ctx.trace and cycles % 2 == 0
            for i, req in enumerate(self.requests):
                op_id = tracer.new_op_id(KINDS[req[0]]) if traced else ""
                rec = OpRecord(KINDS[req[0]], time.time(), 0.0, traced, op_id=op_id)
                try:
                    with tracer.span(KINDS[req[0]], op_id) if traced else contextlib.nullcontext():
                        status, body = self._send(conn, req, op_id)
                    rec.check = lambda i=i, s=status, b=body: self._check(i, s, b)
                except (OSError, http.client.HTTPException) as e:
                    rec.ok = False
                    print(f"request {req[2]} failed: {e!r}", file=sys.stderr, flush=True)
                    conn.close()
                    conn = self._connect()
                rec.t1 = time.time()
                recs.append(rec)
            cycles += 1
            if traced:
                self.ctx.traced_walls.append((t_cycle, time.time()))
            last = time.time() - t_cycle
        conn.close()
        self.close()
        return recs, [(self.ctx.reader.persisted_rdds() - base, "window")]

    # ------------------------------------------------------------ oracles

    def _duck(self):
        if not hasattr(self, "con"):
            import duckdb

            con = duckdb.connect()
            d = self.dir
            con.execute("CREATE MACRO tag(t, k) AS list_extract(map_extract(t, k), 1)")
            con.execute(f"CREATE VIEW n AS SELECT * FROM '{d}/nodes.parquet'")
            con.execute(f"CREATE VIEW w AS SELECT * FROM '{d}/ways.parquet'")
            con.execute(f"CREATE VIEW r AS SELECT * FROM '{d}/relations.parquet'")
            con.execute("CREATE VIEW wn AS SELECT id AS wid, unnest(node_ids) AS nid FROM w")
            con.execute("CREATE VIEW wb AS SELECT w.id, w.tags, min(n.lon) AS x0, min(n.lat) AS y0, "
                        "max(n.lon) AS x1, max(n.lat) AS y1 FROM w JOIN wn ON wn.wid=w.id "
                        "JOIN n ON n.id=wn.nid GROUP BY w.id, w.tags")
            con.execute("CREATE VIEW rn AS SELECT id AS rid, unnest(node_member_ids) AS nid FROM r")
            con.execute("CREATE VIEW rw AS SELECT id AS rid, unnest(way_member_ids) AS wid FROM r")
            con.execute("CREATE VIEW rb AS SELECT r.id, r.tags, min(x0) AS x0, min(y0) AS y0, "
                        "max(x1) AS x1, max(y1) AS y1 FROM r JOIN ("
                        "SELECT rid, lon AS x0, lat AS y0, lon AS x1, lat AS y1 FROM rn JOIN n ON n.id=rn.nid "
                        "UNION ALL SELECT rid, x0, y0, x1, y1 FROM rw JOIN wb ON wb.id=rw.wid"
                        ") m ON m.rid=r.id GROUP BY r.id, r.tags")
            self.con = con
        return self.con

    def _expect_query(self, i, p):
        if i not in self.expected:
            b, b2 = p["b"], p["b2"]
            nb = "lon BETWEEN {0} AND {2} AND lat BETWEEN {1} AND {3}".format(*b)
            wbb = "x0 <= {2} AND x1 >= {0} AND y0 <= {3} AND y1 >= {1}".format(*b)
            wbb2 = "x0 <= {2} AND x1 >= {0} AND y0 <= {3} AND y1 >= {1}".format(*b2)
            sql = QUERIES[p["t"]][1].format(nb=nb, wbb=wbb, wbb2=wbb2)
            self.expected[i] = O.duckdb_ids(self._duck(), sql)
        return self.expected[i]

    def _check(self, i: int, status: int, body: bytes) -> str | None:
        kind, _, path, p = self.requests[i]
        if status != 200:
            return f"{path}: HTTP {status} {body[:200]!r}"
        lon, lat = self.data["lon"], self.data["lat"]
        if kind == "query":
            fc = json.loads(body)
            got = sorted((f["properties"]["@osm_type"], f["properties"]["@osm_id"])
                         for f in fc["features"])
            want = self._expect_query(i, p)
            return None if got == want else f"POST {p['body']!r}: {len(got)} features, want {len(want)}"
        if kind == "mvt":
            tx, ty = O.tile_xy(lon, lat, TILE_Z)
            n_in = int(((tx == p["x"]) & (ty == p["y"])).sum())
            got = mvt_layer_counts(body).get("nodes", 0)
            return None if got == n_in else f"{path}: {got} node features, want {n_in}"
        x0, y0, x1, y1 = p["b"]
        want = int(((lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1)).sum())
        got = sum(f["properties"]["count"] for f in json.loads(body)["features"])
        return None if got == want else f"{path}: {got} nodes counted, want {want}"

    # ------------------------------------------------------------ metrics

    GROUPS = (("query", ["web.query"]), ("tile", ["web.tile_mvt"]), ("lookup", ["web.cells"]))

    def summary(self, recs, window_s):
        from harness import describe

        self.window_s = window_s
        lines = [f"req_per_s = {len(recs) / window_s:.6g} 1/s (one closed-loop client, "
                 f"n={len(recs)})"]
        for name, labels in self.GROUPS:
            lines.append(f"{name}_ms {describe([r.ms for r in recs if r.kind in labels])}")
        return lines

    def targeted(self, generic, recs) -> dict[str, float]:
        reader = self.ctx.reader
        out = {"serve.req_per_s": len(recs) / self.window_s}
        for name, labels in self.GROUPS:
            ms = [r.ms for r in recs if r.kind in labels and not r.traced]
            if ms:
                out[f"serve.{name}_p50_ms"] = statistics.median(ms)
        parse, encode, driver, jobs = [], [], [], []
        spans_by_op: dict[str, list] = {}
        for s in self.ctx.tracer.spans:
            spans_by_op.setdefault(s.op_id, []).append(s)
        tiles = []
        for label, g in generic.items():
            for r in g["_sample"]:
                job_ids = reader.group_jobs(r.op_id)
                iv = reader.job_intervals(job_ids)
                jobs.append(len(job_ids))
                if r.op_id in self.server_spans:
                    t0, t1 = self.server_spans[r.op_id]
                    driver.append((t1 - t0 - union_length(iv)) * 1e3)
                kids = spans_by_op.get(r.op_id, [])
                if label == "web.query":
                    parse.append(sum(s.end - s.start for s in kids
                                     if s.name in ("query.parse", "query.plan")) * 1e3)
                    for s in kids:
                        if s.name == "geojson.encode":
                            inside = [(max(a, s.start), min(b, s.end)) for a, b in iv
                                      if b > s.start and a < s.end]
                            encode.append((s.end - s.start - union_length(inside)) * 1e3)
                if label == "web.tile_mvt":
                    nodes = reader.plan_nodes(r.op_id)
                    tiles.append(sum(n["rows"] or 0 for n in nodes
                                     if "Pandas" in n["name"] or "Python" in n["name"]))
        if parse:
            out["query.parse_plan_ms"] = statistics.median(parse)
        if encode:
            out["geojson.encode_ms"] = statistics.median(encode)
        if driver:
            out["web.driver_ms"] = statistics.median(driver)
        if jobs:
            out["web.jobs_per_req"] = statistics.fmean(jobs)
        if tiles:
            out["tiles.mvt_tiles_encoded_per_req"] = statistics.fmean(tiles)
        return out
