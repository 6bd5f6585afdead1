"""PBF source: codec round-trips (XML-path parity), packed-varint decode vs a
pure-Python oracle, blob chunking / parallel scan, raw (uncompressed) blobs,
and an end-to-end query over PBF-imported data.

Reference parity target: /root/reference/src/osm/reader.go:40-112 (osmpbf
blob scan feeding the import handlers)."""

import random
import zlib

import numpy as np
import pytest

from simple_osm_queries_spark.query.planner import run_query
from simple_osm_queries_spark.sources import mvt
from simple_osm_queries_spark.sources import osm_pbf as P
from simple_osm_queries_spark.sources.dataset import prepare
from simple_osm_queries_spark.sources.osm_xml import parse_osm_xml, read_osm_xml


# ---------------------------------------------------------------------------
# varint / packed decode vs an independent per-byte oracle
# ---------------------------------------------------------------------------


def _oracle_decode_packed(buf: bytes, signed: bool, delta: bool) -> list[int]:
    out, pos, prev = [], 0, 0
    while pos < len(buf):
        v, shift = 0, 0
        while True:
            b = buf[pos]
            pos += 1
            v |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        if signed:
            v = (v >> 1) ^ -(v & 1)
        if delta:
            v += prev
            prev = v
        out.append(v)
    return out


@pytest.mark.parametrize("signed,delta", [(False, False), (True, False), (True, True)])
def test_packed_varint_fuzz(signed, delta):
    rng = random.Random(42)
    for trial in range(20):
        n = rng.randrange(0, 200)
        if signed:
            vals = [rng.randrange(-(2**62), 2**62) for _ in range(n)]
        else:
            vals = [rng.randrange(0, 2**63) for _ in range(n)]
        if delta:
            raw = [vals[0]] + [b - a for a, b in zip(vals, vals[1:])] if vals else []
        else:
            raw = vals
        enc = b"".join(
            mvt._varint(mvt._zigzag(v) if signed else v) for v in raw
        )
        got = P._decode_packed(memoryview(enc), signed=signed, delta=delta).tolist()
        assert got == _oracle_decode_packed(enc, signed, delta)
        assert got == vals


# ---------------------------------------------------------------------------
# round-trips
# ---------------------------------------------------------------------------


def _q9(x: float) -> int:
    # the writer's half-up nanodegree quantization (float32-quantized
    # fixture coords land on exact .5 boundaries, where banker's round(x, 9)
    # would disagree)
    import math

    return math.floor(x * 1e9 + 0.5)


def _norm_nodes(rows):
    return sorted(
        (int(i), _q9(lo), _q9(la), tuple(sorted((t or {}).items())))
        for i, lo, la, t in rows
    )


def _norm_ways(rows):
    return sorted(
        (int(i), tuple(int(x) for x in ns), tuple(sorted((t or {}).items())))
        for i, ns, t in rows
    )


def _norm_rels(rows):
    return sorted(
        (
            int(i),
            tuple(int(x) for x in a),
            tuple(int(x) for x in b),
            tuple(int(x) for x in c),
            tuple(sorted((t or {}).items())),
        )
        for i, a, b, c, t in rows
    )


def test_reference_fixture_pbf_equals_xml(spark, small_osm, tmp_path):
    n, w, r = parse_osm_xml(small_osm)
    path = str(tmp_path / "ref.osm.pbf")
    P.write_osm_pbf(
        path,
        nodes=n.itertuples(index=False),
        ways=w.itertuples(index=False),
        relations=r.itertuples(index=False),
    )
    xn, xw, xr = read_osm_xml(spark, small_osm)
    pn, pw, pr = P.read_osm_pbf(spark, path)
    assert _norm_nodes(pn.collect()) == _norm_nodes(xn.collect())
    assert pw.count() == xw.count() == 0
    assert pr.count() == xr.count() == 0


def test_generated_dataset_round_trip(spark, small_pdfs, tmp_path):
    nodes, ways, relations = small_pdfs
    path = str(tmp_path / "gen.osm.pbf")
    # small blocks force many blobs -> exercises the parallel blob scan
    P.write_osm_pbf(
        path,
        nodes=nodes[["id", "lon", "lat", "tags"]].itertuples(index=False),
        ways=ways.itertuples(index=False),
        relations=relations.itertuples(index=False),
        entities_per_block=97,
    )
    assert len([1 for t, _, _ in P.scan_blob_index(path) if t == "OSMData"]) > 8
    pn, pw, pr = P.read_osm_pbf(spark, path)
    assert _norm_nodes(pn.collect()) == _norm_nodes(
        nodes[["id", "lon", "lat", "tags"]].itertuples(index=False)
    )
    assert _norm_ways(pw.collect()) == _norm_ways(ways.itertuples(index=False))
    assert _norm_rels(pr.collect()) == _norm_rels(relations.itertuples(index=False))


def test_coordinate_quantization_nanodegrees(tmp_path):
    # granularity=1 keeps 1e-9 degrees; a value off-grid rounds to nearest
    path = str(tmp_path / "q.osm.pbf")
    P.write_osm_pbf(path, nodes=[(1, 9.1234567894, 53.9876543216, {})])
    (_, off, size), = [b for b in P.scan_blob_index(path) if b[0] == "OSMData"]
    (nid, lon, lat, tags), = P.decode_blob_at(path, off, size)[0]
    assert nid == 1 and tags == {}
    assert lon == pytest.approx(9.123456789, abs=5e-10)
    assert lat == pytest.approx(53.987654322, abs=5e-10)


def test_raw_uncompressed_blob(tmp_path):
    # hand-frame a blob that uses field 1 (raw) instead of zlib_data
    path = str(tmp_path / "z.osm.pbf")
    P.write_osm_pbf(path, nodes=[(7, 1.0, 2.0, {"a": "b"})])
    (_, off, size), = [b for b in P.scan_blob_index(path) if b[0] == "OSMData"]
    with open(path, "rb") as f:
        f.seek(off)
        blob = f.read(size)
    block = P._decompress_blob(blob)
    raw_blob = mvt._field_bytes(1, block)
    path2 = str(tmp_path / "raw.osm.pbf")
    with open(path2, "wb") as f:
        f.write(P._framed("OSMData", raw_blob))
    (nid, lon, lat, tags), = P.decode_blob_at(
        path2, *[(o, s) for _, o, s in P.scan_blob_index(path2)][0]
    )[0]
    assert (nid, lon, lat, tags) == (7, 1.0, 2.0, {"a": "b"})


def test_negative_int64_ids_round_trip(tmp_path):
    """Way and relation ids are protobuf int64: a negative id is its
    64-bit two's complement, 10 varint bytes. The reader half decodes a
    hand-encoded block (no shared encoder); the writer half round-trips
    negative ids through write_osm_pbf."""

    def ld(field, payload):  # length-delimited field, payload < 128 bytes
        return bytes([field << 3 | 2, len(payload)]) + payload

    minus7 = b"\xf9" + b"\xff" * 8 + b"\x01"  # varint of 2**64 - 7
    way = b"\x08" + minus7  # Way.id = -7, no keys, no refs
    rel = b"\x08" + b"\xf7" + b"\xff" * 8 + b"\x01"  # Relation.id = -9
    block = ld(1, ld(1, b"")) + ld(2, ld(3, way)) + ld(2, ld(4, rel))
    _, ways, rels = P.decode_primitive_block(block)
    assert ways == [(-7, [], {})]
    assert rels == [(-9, [], [], [], {})]

    path = str(tmp_path / "neg.osm.pbf")
    P.write_osm_pbf(
        path,
        nodes=[(-3, 1.0, 2.0, {}), (5, 1.5, 2.5, {})],
        ways=[(-7, [-3, 5], {"highway": "path"}), (-(2**63), [5], {})],
        relations=[(-9, [-3], [-7], [-11], {"type": "route"})],
    )
    got = [P.decode_blob_at(path, off, size) for kind, off, size in P.scan_blob_index(path)
           if kind == "OSMData"]
    assert [w for _, ws, _ in got for w in ws] == [
        (-7, [-3, 5], {"highway": "path"}), (-(2**63), [5], {})
    ]
    assert [r for _, _, rs in got for r in rs] == [(-9, [-3], [-7], [-11], {"type": "route"})]


def test_query_over_pbf_import(spark, small_pdfs, tmp_path):
    """End-to-end: PBF import -> prepare() -> query equals the direct path."""
    nodes, ways, relations = small_pdfs
    path = str(tmp_path / "e2e.osm.pbf")
    P.write_osm_pbf(
        path,
        nodes=nodes[["id", "lon", "lat", "tags"]].itertuples(index=False),
        ways=ways.itertuples(index=False),
        relations=relations.itertuples(index=False),
    )
    pn, pw, pr = P.read_osm_pbf(spark, path)
    ds = prepare(pn, pw, pr)
    q = "bbox(9.90, 53.50, 10.10, 53.70).nodes{ amenity=bench AND seats=* }"
    got = sorted(r.id for r in run_query(q, ds).collect())

    sn = spark.createDataFrame(
        nodes[["id", "lon", "lat", "tags"]],
        "id long, lon double, lat double, tags map<string,string>",
    )
    sw = spark.createDataFrame(ways, "id long, node_ids array<long>, tags map<string,string>")
    sr = spark.createDataFrame(
        relations,
        "id long, node_member_ids array<long>, way_member_ids array<long>, "
        "child_relation_ids array<long>, tags map<string,string>",
    )
    want = sorted(r.id for r in run_query(q, prepare(sn, sw, sr)).collect())
    assert got == want and len(got) > 0


def test_decode_packed_empty_and_single():
    assert P._decode_packed(memoryview(b""), signed=True).tolist() == []
    assert P._decode_packed(memoryview(mvt._varint(0)), signed=False).tolist() == [0]
    big = 2**63 - 1
    assert P._decode_packed(
        memoryview(mvt._varint(mvt._zigzag(-big))), signed=True
    ).tolist() == [-big]


def test_decode_respects_granularity_and_offsets(tmp_path):
    """Real planet files use granularity=100 + optional lat/lon offsets;
    hand-encode such a block and check degrees = 1e-9*(offset + gran*raw)."""
    st = P._StringTable()
    ids = [5]
    # raw units chosen so degrees = 1e-9*(5_000_000 + 100*raw)
    lat_raw, lon_raw = [123_456], [654_321]
    dense = (
        mvt._field_packed(1, P._sint_deltas(ids))
        + mvt._field_packed(8, P._sint_deltas(lat_raw))
        + mvt._field_packed(9, P._sint_deltas(lon_raw))
    )
    block = (
        mvt._field_bytes(1, st.encode())
        + mvt._field_bytes(2, mvt._field_bytes(2, dense))
        + mvt._field_varint(17, 100)       # granularity
        + mvt._field_varint(19, 5_000_000) # lat_offset (nanodeg)
        + mvt._field_varint(20, 7_000_000) # lon_offset
    )
    path = str(tmp_path / "g.osm.pbf")
    with open(path, "wb") as f:
        f.write(P._framed("OSMData", P._blob(block)))
    (_, off, size), = P.scan_blob_index(path)
    (nid, lon, lat, tags), = P.decode_blob_at(path, off, size)[0]
    assert nid == 5
    assert lat == pytest.approx(1e-9 * (5_000_000 + 100 * 123_456), abs=1e-12)
    assert lon == pytest.approx(1e-9 * (7_000_000 + 100 * 654_321), abs=1e-12)


def test_pbf_roundtrip_hypothesis(tmp_path):
    """Property fuzz: arbitrary ids/coords/tags (unicode, separators,
    empties) survive write->decode exactly (coords to nanodegree grid)."""
    from hypothesis import given, settings, strategies as st

    tag_text = st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), max_size=24
    )
    node = st.tuples(
        st.integers(min_value=0, max_value=2**62),
        st.floats(min_value=-179.999, max_value=179.999, allow_nan=False),
        st.floats(min_value=-89.999, max_value=89.999, allow_nan=False),
        st.dictionaries(tag_text, tag_text, max_size=4),
    )

    counter = [0]

    @settings(max_examples=40, deadline=None)
    @given(st.lists(node, min_size=1, max_size=12, unique_by=lambda n: n[0]))
    def check(nodes):
        counter[0] += 1
        path = str(tmp_path / f"fuzz{counter[0]}.osm.pbf")
        P.write_osm_pbf(path, nodes=nodes, entities_per_block=5)
        got = []
        for btype, off, size in P.scan_blob_index(path):
            if btype == "OSMData":
                got += P.decode_blob_at(path, off, size)[0]
        assert len(got) == len(nodes)
        want = {n[0]: n for n in nodes}
        for nid, lon, lat, tags in got:
            wid, wlon, wlat, wtags = want[nid]
            assert tags == wtags
            assert abs(lon - wlon) <= 5.1e-10 and abs(lat - wlat) <= 5.1e-10

    check()


@pytest.mark.parametrize("codec", ["lzma", "raw"])
def test_compression_codecs_round_trip(tmp_path, codec):
    nodes = [(i, 9.0 + i * 1e-6, 53.0 + i * 1e-6, {"k": f"v{i}"}) for i in range(50)]
    path = str(tmp_path / f"{codec}.osm.pbf")
    P.write_osm_pbf(path, nodes=nodes, compression=codec)
    (_, off, size), = [b for b in P.scan_blob_index(path) if b[0] == "OSMData"]
    got = P.decode_blob_at(path, off, size)[0]
    assert [(g[0], g[3]) for g in got] == [(n[0], n[3]) for n in nodes]
    assert got[0][1] == pytest.approx(9.0, abs=1e-9)


def test_zstd_codec_round_trip(tmp_path):
    pytest.importorskip("zstandard")
    nodes = [(1, 2.0, 3.0, {"a": "b"})]  # pragma: no cover - needs zstandard
    path = str(tmp_path / "z.osm.pbf")
    P.write_osm_pbf(path, nodes=nodes, compression="zstd")
    (_, off, size), = [b for b in P.scan_blob_index(path) if b[0] == "OSMData"]
    assert P.decode_blob_at(path, off, size)[0][0][0] == 1


def test_unknown_codec_blob_raises():
    # a blob carrying only an unknown field must raise, not return garbage
    blob = mvt._field_varint(2, 10) + mvt._field_bytes(9, b"xxxx")
    with pytest.raises(ValueError, match="no known codec"):
        P._decompress_blob(blob)


def test_malformed_varint_raises():
    # 11 continuation bytes -> shift >= 64 must raise, not wrap mod 64
    bad = bytes([0x80] * 10 + [0x01])
    with pytest.raises(ValueError, match="longer than 10 bytes"):
        P._decode_packed(memoryview(bad), signed=False)
    # truncated stream (ends mid-varint) must raise too
    with pytest.raises(ValueError, match="truncated"):
        P._decode_packed(memoryview(bytes([0x96, 0x81])), signed=False)
