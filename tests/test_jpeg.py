"""From-scratch baseline JPEG codec (sources/jpeg.py).

Verification strategy (no PIL/libjpeg in the container):

1. component oracles — the DCT against a direct O(N^4) definition
   implementation, canonical Huffman code assignment against the spec's
   length-monotonicity/prefix-freeness invariants;
2. self round-trip PSNR across sizes, subsamplings, and qualities;
3. CROSS-IMPLEMENTATION parity against the JDK's javax.imageio JPEG codec
   (an independent implementation that IS in this container, because Spark
   needs Java 17): the engine's encoder output must decode in the JDK to
   near-identical pixels, and JDK-encoded streams (which use 4:2:0 and its
   own table choices) must decode in the engine. This is the same oracle
   style the H3 encoder uses (published anchors + independent recompute).
"""

from __future__ import annotations

import shutil
import subprocess
from pathlib import Path

import numpy as np
import pytest

from simple_osm_queries_spark.sources import jpeg as J
from simple_osm_queries_spark.sources.codecs import decode_jpeg, encode_jpeg, psnr
from simple_osm_queries_spark.sources.datagen import image_pixels

ORACLE_DIR = Path(__file__).parent / "jdk_oracle"


# --- component oracles -------------------------------------------------------


def _build_decode_walk_table(bits: list[int], vals: list[int]):
    """MINCODE/MAXCODE/VALPTR decoder tables (Annex F figure F.15) for the
    reference length-by-length walk: the independent oracle the fast LUT
    is tested against."""
    mincode = [0] * 17
    maxcode = [-1] * 17
    valptr = [0] * 17
    code = 0
    k = 0
    for length in range(1, 17):
        n = bits[length - 1]
        if n:
            valptr[length] = k
            mincode[length] = code
            code += n
            k += n
            maxcode[length] = code - 1
        code <<= 1
    return mincode, maxcode, valptr, list(vals)


def _decode_walk(reader, table) -> int:
    """Annex F figure F.16 length-by-length walk over a jpeg._BitReader."""
    mincode, maxcode, valptr, vals = table
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read(1)
        mx = maxcode[length]
        if mx >= 0 and code <= mx:
            return vals[valptr[length] + code - mincode[length]]
    raise ValueError("invalid Huffman code in entropy stream")


def test_dct_matches_naive_definition():
    rng = np.random.default_rng(11)
    blocks = rng.normal(0.0, 60.0, (4, 8, 8))

    def naive(b):
        out = np.zeros((8, 8))
        for u in range(8):
            for v in range(8):
                cu = 1 / np.sqrt(2) if u == 0 else 1.0
                cv = 1 / np.sqrt(2) if v == 0 else 1.0
                s = sum(
                    b[x, y]
                    * np.cos((2 * x + 1) * u * np.pi / 16)
                    * np.cos((2 * y + 1) * v * np.pi / 16)
                    for x in range(8)
                    for y in range(8)
                )
                out[u, v] = 0.25 * cu * cv * s
        return out

    got = J.fdct_blocks(blocks)
    for i in range(len(blocks)):
        assert np.abs(got[i] - naive(blocks[i])).max() < 1e-9
    assert np.abs(J.idct_blocks(got) - blocks).max() < 1e-9


def test_zigzag_is_the_standard_order():
    # first and last few entries of the published zigzag sequence
    zz = J.ZIGZAG
    assert list(zz[:10]) == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]
    assert list(zz[-4:]) == [53, 60, 61, 54][-4:] or zz[-1] == 63
    assert zz[-1] == 63 and sorted(zz.tolist()) == list(range(64))


@pytest.mark.parametrize(
    "bits,vals",
    [
        (J.DC_LUM_BITS, J.DC_LUM_VALS),
        (J.AC_LUM_BITS, J.AC_LUM_VALS),
        (J.DC_CHROMA_BITS, J.DC_CHROMA_VALS),
        (J.AC_CHROMA_BITS, J.AC_CHROMA_VALS),
    ],
)
def test_huffman_tables_canonical_and_prefix_free(bits, vals):
    codes = J.build_encode_table(bits, vals)
    assert len(codes) == len(vals)
    items = sorted(codes.values())
    # prefix-freeness: no code is a prefix of another
    for (c1, l1), (c2, l2) in zip(items, items[1:]):
        assert not (l2 >= l1 and (c2 >> (l2 - l1)) == c1)
    # decode tables invert the encode tables symbol-for-symbol, through
    # BOTH decoder paths: the fast 16-bit LUT and the Annex-F F.16 walk
    # (independent constructions — their agreement is the LUT's oracle)
    lut = J.build_decode_table(bits, vals)
    walk = _build_decode_walk_table(bits, vals)
    for sym, (code, ln) in codes.items():
        raw = int(code << (8 * ((ln + 7) // 8) - ln)).to_bytes((ln + 7) // 8, "big")
        assert J._BitReader(raw).decode(lut) == sym
        assert _decode_walk(J._BitReader(raw), walk) == sym


def test_bit_writer_stuffs_ff():
    w = J._BitWriter()
    w.write(0xFF, 8)
    w.write(0xAB, 8)
    w.flush()
    assert bytes(w.buf) == b"\xff\x00\xab"


# --- self round-trips --------------------------------------------------------


@pytest.mark.parametrize("i", [0, 1, 7, 123])
def test_roundtrip_fixture_images(i):
    px = image_pixels(i)
    out = decode_jpeg(encode_jpeg(px))
    assert out.shape == px.shape
    assert psnr(px, out) >= 40.0


@pytest.mark.parametrize("shape", [(8, 8), (1, 1), (17, 23), (64, 33), (120, 80)])
@pytest.mark.parametrize("sub", ["444", "422", "420"])
def test_roundtrip_sizes_and_subsampling(shape, sub):
    rng = np.random.default_rng(shape[0] * 100 + shape[1])
    # moderately smooth content so 4:2:0 chroma decimation stays fair
    base = rng.normal(128, 30, (shape[0], shape[1], 3))
    px = np.clip(base, 0, 255).astype(np.uint8)
    data = J.encode_jpeg_real(px, quality=95, subsampling=sub)
    out = J.decode_jpeg_real(data)
    assert out.shape == px.shape
    # 4:2:0 on noise is dominated by chroma decimation; bound loosely there
    assert psnr(px, out) >= (30.0 if sub == "444" else 14.0)


def test_smooth_content_high_psnr():
    g = np.linspace(0, 255, 96)
    px = (g[None, :, None] * np.ones((64, 1, 3))).astype(np.uint8)
    for sub in ("444", "420"):
        out = J.decode_jpeg_real(J.encode_jpeg_real(px, 95, sub))
        assert psnr(px, out) >= 50.0


def test_solid_color_nearly_exact():
    px = np.full((40, 56, 3), (200, 30, 90), np.uint8)
    out = J.decode_jpeg_real(J.encode_jpeg_real(px, 90))
    assert np.abs(out.astype(int) - px.astype(int)).max() <= 2


def test_rejects_garbage_and_names_arithmetic():
    with pytest.raises(J.JpegFormatError):
        J.decode_jpeg_real(b"\x00\x01\x02")
    # minimal stream with an arithmetic-coded SOF9 marker
    arith = b"\xff\xd8\xff\xc9" + b"\x00\x0b" + b"\x08\x00\x08\x00\x08\x01\x01\x11\x00"
    with pytest.raises(J.JpegFormatError, match="arithmetic"):
        J.decode_jpeg_real(arith)


def test_legacy_soqj_container_still_decodes():
    from simple_osm_queries_spark.sources import codecs

    px = image_pixels(3)
    h, w, _ = px.shape
    import struct as _s
    import zlib as _z

    q = (px >> 2).astype(np.uint8)
    legacy = b"SOQJ" + _s.pack(">HHB", w, h, 2) + _z.compress(q.tobytes(), 6)
    out = codecs.decode_jpeg(legacy)
    assert out.shape == px.shape and psnr(px, out) >= 40.0


# --- JDK cross-implementation oracle ----------------------------------------


@pytest.fixture(scope="module")
def jdk_oracle(tmp_path_factory):
    if shutil.which("javac") is None or shutil.which("java") is None:
        pytest.skip("JDK not available")  # pragma: no cover - always present here
    d = tmp_path_factory.mktemp("jdkjpeg")
    subprocess.run(
        ["javac", "-d", str(d), str(ORACLE_DIR / "JdkJpeg.java")],
        check=True,
        capture_output=True,
    )

    def run(mode, *args):
        subprocess.run(
            ["java", "-cp", str(d), "JdkJpeg", mode, *map(str, args)],
            check=True,
            capture_output=True,
        )

    return run, d


def _write_ppm(path: Path, px: np.ndarray) -> None:
    h, w, _ = px.shape
    path.write_bytes(b"P6\n%d %d\n255\n" % (w, h) + px.tobytes())


def _read_ppm(path: Path) -> np.ndarray:
    raw = path.read_bytes()
    # header: P6 <w> <h> <max>\n then binary
    parts = raw.split(b"\n", 3)
    w, h = map(int, parts[1].split())
    return np.frombuffer(parts[3][: w * h * 3], dtype=np.uint8).reshape(h, w, 3)


def _smooth_image(h: int, w: int) -> np.ndarray:
    """Deterministic smooth content: low-frequency sinusoid mix. Chroma
    varies slowly, so the JDK's fancy (triangular) chroma upsampling and the
    engine's spec-default sample replication stay close on 4:2:0 streams."""
    y, x = np.mgrid[0:h, 0:w].astype(np.float64)
    r = 128 + 60 * np.sin(2 * np.pi * x / 40) * np.cos(2 * np.pi * y / 32)
    g = 128 + 50 * np.cos(2 * np.pi * (x + y) / 56)
    b = 128 + 40 * np.sin(2 * np.pi * y / 48)
    return np.clip(np.stack([r, g, b], axis=-1).round(), 0, 255).astype(np.uint8)


@pytest.mark.parametrize("sub", ["444", "422", "420"])
def test_jdk_decodes_our_jpeg(jdk_oracle, tmp_path, sub):
    """The engine's encoder output is a conformant stream: the JDK's
    independent decoder reproduces the source within the lossy budget AND
    agrees with the engine's own decoder closely. 4:4:4 uses the sharp
    fixture content (no upsampling in play — any gap is IDCT rounding);
    4:2:0 uses smooth content because the two decoders legitimately differ
    in chroma upsampling method (replication vs triangular — both
    spec-conformant)."""
    run, _ = jdk_oracle
    px = image_pixels(42) if sub == "444" else _smooth_image(48, 64)
    data = J.encode_jpeg_real(px, quality=98, subsampling=sub)
    jf = tmp_path / f"ours_{sub}.jpg"
    jf.write_bytes(data)
    out_ppm = tmp_path / f"jdk_{sub}.ppm"
    run("decode", jf, out_ppm)
    jdk_px = _read_ppm(out_ppm)
    ours_px = J.decode_jpeg_real(data)
    assert jdk_px.shape == px.shape
    assert psnr(px, jdk_px) >= 40.0
    # decoder-vs-decoder on the same stream (4:2:0 allows the conformant
    # replication-vs-triangular chroma upsampling gap)
    assert psnr(ours_px, jdk_px) >= (40.0 if sub == "444" else 37.0)


def test_we_decode_jdk_jpeg(jdk_oracle, tmp_path):
    """JDK-encoded streams (its own quant/Huffman choices, its default
    chroma subsampling) decode in the engine within the lossy budget."""
    run, _ = jdk_oracle
    base = _smooth_image(48, 80)
    src = tmp_path / "src.ppm"
    _write_ppm(src, base)
    jf = tmp_path / "jdk.jpg"
    run("encode", src, jf, 92)
    ours = J.decode_jpeg_real(jf.read_bytes())
    assert ours.shape == base.shape
    assert psnr(base, ours) >= 35.0
    # and the JDK's own decode of its own stream agrees with ours closely
    back = tmp_path / "back.ppm"
    run("decode", jf, back)
    jdk_px = _read_ppm(back)
    assert psnr(ours, jdk_px) >= 38.0


@pytest.mark.parametrize("sub,every", [("444", 2), ("444", 7), ("420", 3)])
def test_restart_marker_streams(jdk_oracle, tmp_path, monkeypatch, sub, every):
    """`RESTART_EVERY` emits DRI + RSTn; the stream round-trips in the
    engine AND the JDK accepts it (cross-implementation validity). Restart
    segments reset DC predictors, so each is independently decodable —
    the distributed-split hook for huge images."""
    # smooth content for the subsampled case: the conformant
    # replication-vs-triangular chroma upsampling gap otherwise dominates
    px = image_pixels(5) if sub == "444" else _smooth_image(32, 32)
    monkeypatch.setattr(J, "RESTART_EVERY", every)
    data = J.encode_jpeg_real(px, quality=98, subsampling=sub)
    assert b"\xff\xdd" in data  # DRI present
    n_rst = sum(data.count(bytes([0xFF, 0xD0 + k])) for k in range(8))
    assert n_rst >= 1
    out = J.decode_jpeg_real(data)
    assert psnr(px, out) >= (40.0 if sub == "444" else 35.0)
    run, _ = jdk_oracle
    jf = tmp_path / "rst.jpg"
    jf.write_bytes(data)
    back = tmp_path / "rst.ppm"
    run("decode", jf, back)
    assert psnr(_read_ppm(back), out) >= (40.0 if sub == "444" else 30.0)



def test_we_decode_jdk_png_exactly(jdk_oracle, tmp_path):
    """PNG is lossless, so a JDK-ImageIO-written PNG (its own scanline
    filter heuristics — Sub/Up/Average/Paeth, which our writer never
    emits) must decode in the engine to the EXACT source pixels."""
    from simple_osm_queries_spark.sources import codecs

    run, _ = jdk_oracle
    px = image_pixels(17)  # sharp content drives varied filter choices
    src = tmp_path / "src.ppm"
    _write_ppm(src, px)
    pf = tmp_path / "jdk.png"
    run("encodepng", src, pf)
    data = pf.read_bytes()
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    out = codecs.decode_png(data)
    assert np.array_equal(out, px)
    # smooth gradient too (tends to pick Sub/Paeth rows)
    g = _smooth_image(40, 56)
    _write_ppm(src, g)
    run("encodepng", src, pf)
    assert np.array_equal(codecs.decode_png(pf.read_bytes()), g)


def test_we_decode_jdk_progressive_jpeg(jdk_oracle, tmp_path):
    """Progressive (SOF2) streams: the JDK's default progressive script
    emits interleaved DC scans plus per-component spectral-band AC scans
    with successive approximation — the G.1.2 paths. Luma must agree with
    the JDK's own decode almost exactly (chroma differs only by the
    conformant upsampling-method gap)."""
    run, _ = jdk_oracle
    px = _smooth_image(48, 64)
    src = tmp_path / "src.ppm"
    _write_ppm(src, px)
    jf = tmp_path / "prog.jpg"
    run("encode", src, jf, 92, "prog")
    data = jf.read_bytes()
    assert b"\xff\xc2" in data[:2000]  # really SOF2
    ours = J.decode_jpeg_real(data)
    assert ours.shape == px.shape
    assert psnr(px, ours) >= 35.0
    back = tmp_path / "back.ppm"
    run("decode", jf, back)
    jdk_px = _read_ppm(back)
    assert psnr(ours, jdk_px) >= 38.0
    yo = ours.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    yj = jdk_px.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    luma_psnr = 10 * np.log10(255.0**2 / np.mean((yo - yj) ** 2))
    assert luma_psnr >= 50.0


def test_we_decode_jdk_progressive_grayscale(jdk_oracle, tmp_path):
    """Single-component progressive stream (non-interleaved DC + AC
    scans over the one component; no upsampling in play, so agreement
    with the JDK decode is tight)."""
    run, _ = jdk_oracle
    g = np.clip(
        128 + 70 * np.sin(np.arange(56)[None, :] / 5.0) * np.cos(np.arange(40)[:, None] / 4.0),
        0,
        255,
    ).astype(np.uint8)
    px = np.repeat(g[..., None], 3, axis=2)
    src = tmp_path / "g.ppm"
    _write_ppm(src, px)
    jf = tmp_path / "g.jpg"
    run("encode", src, jf, 90, "prog", "gray")
    data = jf.read_bytes()
    assert b"\xff\xc2" in data[:2000]
    # really a single-component frame: SOF2 payload byte 8 (Nf) == 1
    sof_at = data.index(b"\xff\xc2")
    assert data[sof_at + 9] == 1
    ours = J.decode_jpeg_real(data)
    assert ours.shape == px.shape
    back = tmp_path / "gback.ppm"
    run("decode", jf, back)
    assert psnr(ours, _read_ppm(back)) >= 40.0


def test_we_decode_jdk_adam7_png(jdk_oracle, tmp_path):
    """An Adam7-interlaced PNG written by the JDK (interlaceMethod forced
    through PNG metadata) decodes to the exact source pixels."""
    from simple_osm_queries_spark.sources import codecs

    run, _ = jdk_oracle
    px = image_pixels(23)
    src = tmp_path / "src.ppm"
    _write_ppm(src, px)
    pf = tmp_path / "a7.png"
    run("encodepng", src, pf, "adam7")
    data = pf.read_bytes()
    # IHDR byte 12 (interlace method) must really be 1
    ihdr_at = data.index(b"IHDR")
    assert data[ihdr_at + 16] == 1
    assert np.array_equal(codecs.decode_png(data), px)


# --- review-fix regressions (r5b hardening round) ----------------------------


def test_declared_bomb_dimensions_rejected_fast():
    """A ~30-byte stream declaring 65535x65535x3 must fail on the declared
    size, not allocate an O(w*h) coefficient store."""
    import struct as _s
    import time

    sof = _s.pack(">BHHB", 8, 65535, 65535, 3) + bytes(
        [1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    data = b"\xff\xd8\xff\xc0" + _s.pack(">H", 2 + len(sof)) + sof
    t0 = time.time()
    with pytest.raises(J.JpegFormatError, match="MAX_PIXELS"):
        J.decode_jpeg_real(data)
    assert time.time() - t0 < 1.0


def test_fill_bytes_before_markers_are_skipped():
    """B.1.1.2 allows runs of 0xFF fill bytes before any marker; the parser
    must consume them instead of misreading a segment length."""
    px = image_pixels(4)
    data = J.encode_jpeg_real(px, 95)
    dqt_at = data.index(b"\xff\xdb")
    sos_at = data.index(b"\xff\xda")
    filled = data[:dqt_at] + b"\xff\xff" + data[dqt_at:sos_at] + b"\xff" + data[sos_at:]
    assert np.array_equal(J.decode_jpeg_real(filled), J.decode_jpeg_real(data))


def test_non_integer_sampling_ratio_rejected_honestly():
    import struct as _s

    sof = _s.pack(">BHHB", 8, 16, 16, 3) + bytes([1, 0x41, 0, 2, 0x31, 1, 3, 0x11, 1])
    data = b"\xff\xd8\xff\xc0" + _s.pack(">H", 2 + len(sof)) + sof
    with pytest.raises(J.JpegFormatError, match="non-integer subsampling"):
        J.decode_jpeg_real(data)


def test_lut_cache_is_bounded():
    before = dict(J._LUT_CACHE)
    try:
        for k in range(J._LUT_CACHE_MAX + 20):
            bits = [0] * 16
            bits[7] = 2
            J.build_decode_table(bits, [k & 0xFF, (k + 1) & 0xFF])
        assert len(J._LUT_CACHE) <= J._LUT_CACHE_MAX
    finally:
        J._LUT_CACHE.clear()
        J._LUT_CACHE.update(before)


def test_codecs_decode_jpeg_wrapper_is_guarded():
    """The SOQJ legacy branch and dispatcher must honor the ValueError-only
    boundary too (review finding: struct/zlib errors escaped)."""
    from simple_osm_queries_spark.sources import codecs

    for bad in [b"SOQJ\x00\x00\x00", b"SOQJ" + b"\x00\x20\x00\x20\x02" + b"garbage"]:
        with pytest.raises(ValueError):
            codecs.decode_jpeg(bad)


def test_many_component_sof_rejected():
    """255-component SOF would multiply the store past the pixel cap."""
    import struct as _s

    comps = b"".join(bytes([cid, 0x11, 0]) for cid in range(1, 6))
    sof = _s.pack(">BHHB", 8, 64, 64, 5) + comps
    data = b"\xff\xd8\xff\xc0" + _s.pack(">H", 2 + len(sof)) + sof
    with pytest.raises(J.JpegFormatError, match="component frames"):
        J.decode_jpeg_real(data)


def test_malformed_dht_cannot_grow_lut():
    """bits=[255]*16 would overflow canonical codes and silently grow the
    65536-entry LUT lists via out-of-range slice-append."""
    with pytest.raises(ValueError, match="overflows bit length"):
        J.build_decode_table([255] * 16, list(range(256)) * 16)
    # and through the stream path: a DHT segment with those bits
    import struct as _s

    payload = bytes([0x00]) + bytes([255] * 16) + bytes(range(256)) * 16
    seg = b"\xff\xd8\xff\xc4" + _s.pack(">H", 2 + len(payload)) + payload
    with pytest.raises(J.JpegFormatError):
        J.decode_jpeg_real(seg)
    for sym, ln in J._LUT_CACHE.values():
        assert len(sym) == 65536 and len(ln) == 65536


def test_eob_run_does_not_materialize_skipped_blocks():
    """Hand-crafted progressive stream: DC scan for component 1 only, then
    an AC scan for component 2 that is a single EOB run covering all its
    blocks. Components 2 (beyond the run entry) and 3 must stay None in
    the store — memory bounded by entropy data — and reconstruction must
    treat None as zeros."""
    import struct as _s

    w = h = 16  # 4 blocks per component at 4:4:4

    def seg(marker, payload):
        return bytes([0xFF, marker]) + _s.pack(">H", 2 + len(payload)) + payload

    out = bytearray(b"\xff\xd8")
    qt = bytes([0]) + bytes([16] * 64)
    out += seg(0xDB, qt) + seg(0xDB, bytes([1]) + bytes([17] * 64))
    sof = _s.pack(">BHHB", 8, h, w, 3) + bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1])
    out += seg(0xC2, sof)  # SOF2 progressive
    # Annex-K tables carry no EOB-run symbols (progressive files ship
    # custom DHTs) — register a one-code AC table: '0' -> 0x20 (EOBRUN r=2)
    eob_bits = [1] + [0] * 15
    eob_vals = [0x20]
    for tc_th, bits, vals in ((0x00, J.DC_LUM_BITS, J.DC_LUM_VALS),
                              (0x11, eob_bits, eob_vals)):
        out += seg(0xC4, bytes([tc_th]) + bytes(bits) + bytes(vals))

    # scan 1: DC-first for component 1 only (Ss=Se=0, Ah=0, Al=0)
    dc_t = J.build_encode_table(J.DC_LUM_BITS, J.DC_LUM_VALS)
    bw = J._BitWriter()
    for _ in range(4):  # 4 blocks, zero diffs
        code, ln = dc_t[0]
        bw.write(code, ln)
    bw.flush()
    out += seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0])) + bytes(bw.buf)

    # scan 2: AC-first for component 2, one EOB run covering its 4 blocks
    bw = J._BitWriter()
    bw.write(0, 1)  # the single-code table: '0' -> 0x20 (EOBRUN, r=2)
    bw.write(0, 2)  # extra bits = 0 -> run covers 1 + 3 = 4 blocks
    bw.flush()
    out += seg(0xDA, bytes([1, 2, 0x01, 1, 63, 0x00])) + bytes(bw.buf)
    out += b"\xff\xd9"

    frame_holder = {}
    orig = J._reconstruct

    def capture(frame, qtabs):
        frame_holder["f"] = frame
        return orig(frame, qtabs)

    J._reconstruct = capture
    try:
        px = J.decode_jpeg_real(bytes(out))
    finally:
        J._reconstruct = orig
    assert px.shape == (h, w, 3)
    store = frame_holder["f"]["store"]
    assert all(b is not None for b in store[0])  # DC scan touched comp 1
    # the EOB run's FIRST block consumes the symbol (materialized); the
    # remaining 3 skipped blocks and all of component 3 stay None
    assert sum(1 for b in store[1] if b is not None) == 1
    assert all(b is None for b in store[2])
