"""Single-process Python oracle implementing the reference semantics directly.

Independent of the Spark planner: plain dict/list evaluation mirroring
/root/reference/src/query/{statement,filter,location}.go and the import-time
derivations in src/index/grid_writer.go. Used by tests to check the Spark
engine's results feature-for-feature.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from simple_osm_queries_spark.functions.natural_sort import natural_key_py
from simple_osm_queries_spark.query import ast

M_PER_DEG = 111320.0


def natural_is_less_py(a: str, b: str) -> bool:
    """Python mirror of the natural-order comparator
    (``functions/natural_sort.py``, sort.go:17-29)."""
    ha, na, pa, ra = natural_key_py(a)
    hb, nb, pb, rb = natural_key_py(b)
    if ha and hb:
        if na == nb:
            if pa != pb:
                return pa
            return ra < rb  # deterministic refinement of the undefined tie
        return na < nb
    return ra < rb


@dataclass
class Feat:
    osm_type: str
    id: int
    tags: dict
    lon: float | None = None
    lat: float | None = None
    bbox: tuple | None = None  # (min_lon, min_lat, max_lon, max_lat)
    node_ids: list = field(default_factory=list)  # way members / relation node members
    node_lonlats: list = field(default_factory=list)  # way vertex coords, path order
    way_ids: list = field(default_factory=list)  # node->ways reverse / relation way members
    relation_ids: list = field(default_factory=list)  # node/way -> relations reverse
    parent_relation_ids: list = field(default_factory=list)
    child_relation_ids: list = field(default_factory=list)


@dataclass
class OracleData:
    nodes: dict
    ways: dict
    relations: dict

    @classmethod
    def build(cls, nodes_pdf, ways_pdf, relations_pdf) -> "OracleData":
        nodes = {}
        for r in nodes_pdf.itertuples():
            nodes[r.id] = Feat(
                "node", r.id, dict(r.tags), lon=r.lon, lat=r.lat,
                bbox=(r.lon, r.lat, r.lon, r.lat),
            )
        ways = {}
        for r in ways_pdf.itertuples():
            lons = [nodes[n].lon for n in r.node_ids]
            lats = [nodes[n].lat for n in r.node_ids]
            ways[r.id] = Feat(
                "way", r.id, dict(r.tags), node_ids=list(r.node_ids),
                node_lonlats=[(nodes[n].lon, nodes[n].lat) for n in r.node_ids],
                bbox=(min(lons), min(lats), max(lons), max(lats)),
            )
            for n in r.node_ids:
                if r.id not in nodes[n].way_ids:
                    nodes[n].way_ids.append(r.id)
        relations = {}
        for r in relations_pdf.itertuples():
            relations[r.id] = Feat(
                "relation", r.id, dict(r.tags),
                node_ids=list(r.node_member_ids),
                way_ids=list(r.way_member_ids),
                child_relation_ids=list(r.child_relation_ids),
            )
            for n in r.node_member_ids:
                if r.id not in nodes[n].relation_ids:
                    nodes[n].relation_ids.append(r.id)
            for w in r.way_member_ids:
                if r.id not in ways[w].relation_ids:
                    ways[w].relation_ids.append(r.id)
            for c in r.child_relation_ids:
                relations[c].parent_relation_ids.append(r.id)
        # relation bbox: union of member bboxes, children folded into parents
        # (children have smaller ids in the fixture => process ascending)
        for rid in sorted(relations):
            rel = relations[rid]
            boxes = [nodes[n].bbox for n in rel.node_ids]
            boxes += [ways[w].bbox for w in rel.way_ids]
            boxes += [relations[c].bbox for c in rel.child_relation_ids if relations[c].bbox]
            if boxes:
                rel.bbox = (
                    min(b[0] for b in boxes),
                    min(b[1] for b in boxes),
                    max(b[2] for b in boxes),
                    max(b[3] for b in boxes),
                )
        return cls(nodes, ways, relations)

    def of_type(self, object_type: str) -> dict:
        return {"node": self.nodes, "way": self.ways, "relation": self.relations}[object_type]


def _natural_cmp_py(v: str, op: str, lit: str) -> bool:
    v, lit = v.strip(), lit.strip()
    if op == "<":
        return natural_is_less_py(v, lit)
    if op == ">":
        return natural_is_less_py(lit, v)
    if op == "<=":
        return natural_is_less_py(v, lit) or v == lit
    if op == ">=":
        return natural_is_less_py(lit, v) or v == lit
    raise ValueError(op)


_ADJ = {
    ("node", "ways"): "way_ids",
    ("node", "relations"): "relation_ids",
    ("way", "nodes"): "node_ids",
    ("way", "relations"): "relation_ids",
    ("relation", "nodes"): "node_ids",
    ("relation", "ways"): "way_ids",
    ("relation", "relations"): "parent_relation_ids",
    ("relation", "child_relations"): "child_relation_ids",
}


def applies(feat: Feat, expr: ast.FilterExpr, data: OracleData) -> bool:
    if isinstance(expr, ast.TagFilter):
        v = feat.tags.get(expr.key)
        if v is None:
            return False  # filter.go:108-110: no key => false for EVERY op
        if expr.op == "=":
            return v == expr.value
        if expr.op == "!=":
            return v != expr.value
        return _natural_cmp_py(v, expr.op, expr.value)
    if isinstance(expr, ast.KeyFilter):
        return (expr.key in feat.tags) == expr.present
    if isinstance(expr, ast.Not):
        return not applies(feat, expr.expr, data)
    if isinstance(expr, ast.And):
        return applies(feat, expr.a, data) and applies(feat, expr.b, data)
    if isinstance(expr, ast.Or):
        return applies(feat, expr.a, data) or applies(feat, expr.b, data)
    if isinstance(expr, ast.SubStatement):
        stmt = expr.statement
        inner = data.of_type(ast.BASE_TYPE[stmt.query_type])
        qualifying = [f for f in inner.values() if applies(f, stmt.filter, data)]
        if expr.buffer_m is not None:
            return _any_within_buffer(feat, qualifying, expr.buffer_m)
        qset = {f.id for f in qualifying}
        adj = getattr(feat, _ADJ[(feat.osm_type, stmt.query_type)])
        return any(i in qset for i in adj)
    raise ValueError(expr)


def _dist2_m(lon_a, lat_a, lon_b, lat_b) -> float:
    kx = M_PER_DEG * math.cos(math.radians(lat_a))
    dx = (lon_a - lon_b) * kx
    dy = (lat_a - lat_b) * M_PER_DEG
    return dx * dx + dy * dy


def _pt_way_dist2_m(lon, lat, way_coords) -> float:
    kx = M_PER_DEG * math.cos(math.radians(lat))
    ky = M_PER_DEG
    best = None
    for (alon, alat), (blon, blat) in zip(way_coords, way_coords[1:]):
        ax, ay = (alon - lon) * kx, (alat - lat) * ky
        bx, by = (blon - lon) * kx, (blat - lat) * ky
        dx, dy = bx - ax, by - ay
        len2 = dx * dx + dy * dy
        t = 0.0 if len2 == 0 else max(0.0, min(1.0, -(ax * dx + ay * dy) / len2))
        cx, cy = ax + t * dx, ay + t * dy
        d2 = cx * cx + cy * cy
        best = d2 if best is None else min(best, d2)
    if best is None:  # single-vertex way
        alon, alat = way_coords[0]
        best = _dist2_m(lon, lat, alon, alat)
    return best


def _any_within_buffer(feat: Feat, qualifying: list, buffer_m: float) -> bool:
    d2max = buffer_m * buffer_m
    for q in qualifying:
        if feat.osm_type == "node" and q.osm_type == "node":
            if q.id != feat.id and _dist2_m(feat.lon, feat.lat, q.lon, q.lat) <= d2max:
                return True
        elif feat.osm_type == "node" and q.osm_type == "way":
            if _pt_way_dist2_m(feat.lon, feat.lat, q.node_lonlats) <= d2max:
                return True
        elif feat.osm_type == "way" and q.osm_type == "node":
            if _pt_way_dist2_m(q.lon, q.lat, feat.node_lonlats) <= d2max:
                return True
        elif feat.osm_type == "way" and q.osm_type == "way":
            if q.id != feat.id and _way_way_dist2_m(feat.node_lonlats, q.node_lonlats) <= d2max:
                return True
        else:
            raise ValueError(f"unsupported buffer pair {feat.osm_type}->{q.osm_type}")
    return False


def _segments(coords):
    if len(coords) < 2:
        return [(coords[0], coords[0])]
    return list(zip(coords, coords[1:]))


def _pt_seg_d2(px, py, ax, ay, bx, by) -> float:
    dx, dy = bx - ax, by - ay
    len2 = dx * dx + dy * dy
    t = 0.0 if len2 == 0 else max(0.0, min(1.0, ((px - ax) * dx + (py - ay) * dy) / len2))
    cx, cy = ax + t * dx - px, ay + t * dy - py
    return cx * cx + cy * cy


def _way_way_dist2_m(coords_a, coords_b) -> float:
    """Min segment-pair distance (meters^2): 0 on a proper crossing, else
    min of the 4 endpoint-to-segment distances per pair. Meter scaling uses
    cos(lat) of segment A's first endpoint; the crossing test runs in degree
    space (matches operators/buffer.py::seg_pair_d2_m_scalar)."""

    def ccw(a, b, c):
        return (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])

    best = None
    for sa in _segments(coords_a):
        kx = M_PER_DEG * math.cos(math.radians(sa[0][1]))
        ky = M_PER_DEG
        a1 = (sa[0][0] * kx, sa[0][1] * ky)
        a2 = (sa[1][0] * kx, sa[1][1] * ky)
        for sb in _segments(coords_b):
            b1 = (sb[0][0] * kx, sb[0][1] * ky)
            b2 = (sb[1][0] * kx, sb[1][1] * ky)
            o1, o2 = ccw(sa[0], sa[1], sb[0]), ccw(sa[0], sa[1], sb[1])
            o3, o4 = ccw(sb[0], sb[1], sa[0]), ccw(sb[0], sb[1], sa[1])
            if o1 * o2 < 0 and o3 * o4 < 0:
                return 0.0
            d2 = min(
                _pt_seg_d2(*a1, *b1, *b2),
                _pt_seg_d2(*a2, *b1, *b2),
                _pt_seg_d2(*b1, *a1, *a2),
                _pt_seg_d2(*b2, *a1, *a2),
            )
            best = d2 if best is None else min(best, d2)
    return best


def _bbox_intersects(fb: tuple, qb: ast.Bbox) -> bool:
    return (
        fb[0] <= qb.max_lon and fb[2] >= qb.min_lon and fb[1] <= qb.max_lat and fb[3] >= qb.min_lat
    )


def run_oracle(query: ast.Query, data: OracleData) -> list[tuple[str, int]]:
    out = []
    for stmt in query.statements:
        assert isinstance(stmt.location, ast.Bbox)
        feats = data.of_type(ast.BASE_TYPE[stmt.query_type])
        for f in feats.values():
            if f.bbox is None or not _bbox_intersects(f.bbox, stmt.location):
                continue
            if applies(f, stmt.filter, data):
                out.append((f.osm_type, f.id))
    return out
