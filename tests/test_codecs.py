import numpy as np
import pytest

from simple_osm_queries_spark.sources import codecs
from simple_osm_queries_spark.sources.datagen import image_pixels
from tests.avi_writer import encode_avi_mjpeg


@pytest.mark.parametrize("i", [0, 1, 7, 123])
def test_png_roundtrip_exact(i):
    px = image_pixels(i)
    assert np.array_equal(codecs.decode_png(codecs.encode_png(px)), px)


@pytest.mark.parametrize("i", [0, 2, 55])
def test_bmp_roundtrip_exact(i):
    px = image_pixels(i)
    assert np.array_equal(codecs.decode_bmp(codecs.encode_bmp(px)), px)


@pytest.mark.parametrize("i", [1, 4, 100])
def test_jpeg_lossy_psnr(i):
    """input_hint invariant: decoded pixels allclose, PSNR >= 40 dB for lossy."""
    px = image_pixels(i)
    out = codecs.decode_jpeg(codecs.encode_jpeg(px))
    assert out.shape == px.shape
    assert codecs.psnr(px, out) >= 40.0


def test_dispatch_matches_fmt_cycle():
    for i, fmt in [(0, "png"), (1, "jpeg"), (2, "bmp")]:
        px = image_pixels(i)
        data = codecs.encode_image(px, fmt)
        out = codecs.decode_image(data, fmt)
        if fmt == "jpeg":
            assert codecs.psnr(px, out) >= 40.0
        else:
            assert np.array_equal(out, px)


# --- GIF (from-scratch animated container, VERDICT r4 #6) -------------------


def _pal_frames(shape, seed=5):
    rng = np.random.RandomState(seed)
    return codecs.gif_palette()[rng.randint(0, 256, size=shape).astype(np.uint8)]


def test_gif_round_trip_exact_both_lzw_paths():
    frames = _pal_frames((3, 24, 17))
    for optimize in (True, False):  # dict LZW and the clear-flooded stream
        dec = codecs.decode_gif(codecs.encode_gif(frames, optimize=optimize))
        assert dec.shape == frames.shape and (dec == frames).all()


def test_gif_lzw_table_reset_path():
    # 320x320 repetitive frame: the dictionary hits 4096 entries and the
    # encoder emits CLEAR mid-stream; the decoder must resync exactly
    idx = np.tile(np.arange(8, dtype=np.uint8).reshape(1, 2, 4), (2, 160, 80))
    frames = codecs.gif_palette()[idx]
    dec = codecs.decode_gif(codecs.encode_gif(frames))
    assert (dec == frames).all()


def test_gif_quantization_is_332():
    rng = np.random.RandomState(3)
    arb = rng.randint(0, 256, size=(1, 16, 16, 3)).astype(np.uint8)
    dec = codecs.decode_gif(codecs.encode_gif(arb))
    # every channel lands on its 3-3-2 bucket midpoint
    assert (dec[0] == codecs.gif_palette()[codecs.gif_quantize(arb[0])]).all()


def _raw_gif(w, h, blocks):
    import struct as S

    out = bytearray(b"GIF89a")
    out += S.pack("<HHBBB", w, h, 0xF7, 0, 0)
    out += codecs.gif_palette().tobytes()
    for b in blocks:
        out += b
    out.append(0x3B)
    return bytes(out)


def _image_block(idx2d, left=0, top=0, interlace=False, gce=None):
    """Hand-built image descriptor (+optional GCE) with a flooded LZW body —
    exercises decoder paths our writer never emits."""
    import struct as S

    h, w = idx2d.shape
    out = bytearray()
    if gce is not None:
        disposal, transparent = gce
        flags = (disposal << 2) | (1 if transparent is not None else 0)
        out += b"\x21\xf9\x04" + S.pack("<BHB", flags, 1, transparent or 0) + b"\x00"
    out += b"\x2c" + S.pack("<HHHHB", left, top, w, h, 0x40 if interlace else 0)
    rows = idx2d
    if interlace:
        order = np.concatenate(
            [np.arange(s, h, st) for s, st in ((0, 8), (4, 8), (2, 4), (1, 2))]
        )
        rows = idx2d[order]  # stored in interlace pass order
    out.append(8)
    stream = codecs._lzw_encode_flooded(rows.reshape(-1), 8)
    for off in range(0, len(stream), 255):
        chunk = stream[off : off + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def test_gif_interlaced_image_decodes():
    rng = np.random.RandomState(11)
    idx = rng.randint(0, 256, size=(16, 9)).astype(np.uint8)
    data = _raw_gif(9, 16, [_image_block(idx, interlace=True)])
    dec = codecs.decode_gif(data)
    assert (dec[0] == codecs.gif_palette()[idx]).all()


def test_gif_subrect_transparency_and_disposal():
    """Frame composition semantics: full frame A with disposal=2 (restore
    background), then a 2x2 sub-rectangle at (1,1) with one transparent
    pixel — the transparent pixel shows the restored background."""
    pal = codecs.gif_palette()
    A, C, T = 10, 200, 77
    f1 = np.full((4, 4), A, np.uint8)
    f2 = np.array([[C, T], [C, C]], np.uint8)
    data = _raw_gif(
        4, 4,
        [
            _image_block(f1, gce=(2, None)),       # disposal 2 after frame 1
            _image_block(f2, left=1, top=1, gce=(0, T)),  # transparency
        ],
    )
    dec = codecs.decode_gif(data)
    assert dec.shape == (2, 4, 4, 3)
    assert (dec[0] == pal[A]).all()
    bg = pal[0]  # logical-screen background index 0
    expect = np.broadcast_to(bg, (4, 4, 3)).copy()
    expect[1, 1] = pal[C]
    expect[2, 1] = pal[C]
    expect[2, 2] = pal[C]
    # (1,2) was transparent -> restored background shows through
    assert (dec[1] == expect).all()


def test_gif_rejects_garbage():
    with pytest.raises(ValueError, match="not a GIF"):
        codecs.decode_gif(b"RIFFxxxx")


def test_gif_round_trip_fuzz():
    """Property fuzz over sizes (incl. 1x1 and wide/tall extremes), frame
    counts, and both LZW paths — decode(encode(frames)) must be exact for
    palette-exact inputs."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    pal = codecs.gif_palette()

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 40),
        h=st.integers(1, 40),
        n=st.integers(1, 4),
        seed=st.integers(0, 2**31 - 1),
        optimize=st.booleans(),
    )
    def run(w, h, n, seed, optimize):
        rng = np.random.RandomState(seed)
        frames = pal[rng.randint(0, 256, size=(n, h, w)).astype(np.uint8)]
        dec = codecs.decode_gif(codecs.encode_gif(frames, optimize=optimize))
        assert dec.shape == frames.shape
        assert (dec == frames).all()

    run()


# --- AVI / MJPEG (second real video container, VERDICT r4 #6) ---------------


def _smooth_frames(n, h, w, seed=3):
    y, x = np.mgrid[0:h, 0:w].astype(float)
    return np.stack(
        [
            np.clip(
                128 + 80 * np.sin(2 * np.pi * (x + 5 * t) / 40)[..., None] * np.ones(3) + 8 * t,
                0,
                255,
            ).astype(np.uint8)
            for t in range(n)
        ]
    )


def test_avi_mjpeg_roundtrip():
    frames = _smooth_frames(7, 32, 48)
    avi = encode_avi_mjpeg(frames, fps=5, quality=95)
    assert avi[:4] == b"RIFF" and avi[8:12] == b"AVI "
    out = codecs.decode_avi_mjpeg(avi)
    assert out.shape == frames.shape
    assert min(codecs.psnr(frames[i], out[i]) for i in range(len(frames))) >= 40.0


def test_avi_riff_size_fields_consistent():
    """The RIFF outer size must cover the whole body, chunk sizes must walk
    exactly to EOF — a structurally broken writer would still self-roundtrip
    through a tolerant reader, so check the framing directly."""
    import struct as _s

    avi = encode_avi_mjpeg(_smooth_frames(3, 16, 16), fps=10)
    assert _s.unpack("<I", avi[4:8])[0] == len(avi) - 8
    pos = 12
    seen = []
    while pos + 8 <= len(avi):
        tag = avi[pos : pos + 4]
        size = _s.unpack("<I", avi[pos + 4 : pos + 8])[0]
        seen.append(tag if tag != b"LIST" else avi[pos + 8 : pos + 12])
        pos += 8 + size + (size % 2)
    assert pos == len(avi)
    assert seen == [b"hdrl", b"movi", b"idx1"]


def test_avi_tolerant_parse_junk_and_rec_lists():
    """Real AVIs wrap frames in 'rec ' sub-lists and interleave non-video
    chunks ('01wb' audio, 'JUNK' padding); the reader must skip those and
    still find every video frame."""
    import struct as _s

    frames = _smooth_frames(2, 16, 24)
    plain = encode_avi_mjpeg(frames, fps=10, quality=95)
    # rebuild the movi list by hand with junk + a rec-wrapped second frame
    from simple_osm_queries_spark.sources.jpeg import encode_jpeg_real

    j0 = encode_jpeg_real(frames[0], 95, "420")
    j1 = encode_jpeg_real(frames[1], 95, "420")

    def chunk(tag, payload):
        pad = b"\x00" if len(payload) % 2 else b""
        return tag + _s.pack("<I", len(payload)) + payload + pad

    rec = chunk(b"00dc", j1)
    movi_body = (
        b"movi"
        + chunk(b"JUNK", b"\x00" * 11)
        + chunk(b"00dc", j0)
        + chunk(b"01wb", b"\x01\x02\x03\x04")
        + b"LIST"
        + _s.pack("<I", 4 + len(rec))
        + b"rec "
        + rec
    )
    body = b"AVI " + b"LIST" + _s.pack("<I", len(movi_body)) + movi_body
    data = b"RIFF" + _s.pack("<I", len(body)) + body
    out = codecs.decode_avi_mjpeg(data)
    assert out.shape == frames.shape
    assert min(codecs.psnr(frames[i], out[i]) for i in range(2)) >= 40.0
    # and the writer's own output parses identically
    assert codecs.decode_avi_mjpeg(plain).shape == frames.shape


def test_avi_no_frames_raises():
    import struct as _s

    body = b"AVI " + b"LIST" + _s.pack("<I", 4) + b"movi"
    with pytest.raises(ValueError, match="no decodable MJPEG frames"):
        codecs.decode_avi_mjpeg(b"RIFF" + _s.pack("<I", len(body)) + body)
    with pytest.raises(ValueError, match="not a RIFF"):
        codecs.decode_avi_mjpeg(b"nope")


# --- PNG full-filter decode (r5b: external-PNG compatibility) ----------------


def _png_chunk_t(tag, payload):
    import struct as _s
    import zlib as _z

    return _s.pack(">I", len(payload)) + tag + payload + _s.pack(
        ">I", _z.crc32(tag + payload) & 0xFFFFFFFF
    )


def _filtered_png(px, filters):
    """Hand-build a PNG whose row filters are forced to the given types —
    covers Sub/Average/Paeth, which our own writer never emits."""
    import struct as _s
    import zlib as _z

    h, w, _ = px.shape
    raw = bytearray()
    prev = np.zeros(w * 3, dtype=np.int32)
    for y in range(h):
        cur = px[y].reshape(-1).astype(np.int32)
        f = filters[y % len(filters)]
        raw.append(f)
        if f == 0:
            enc = cur
        elif f == 1:  # Sub
            enc = (cur - np.concatenate([np.zeros(3, np.int32), cur[:-3]])) & 0xFF
        elif f == 2:  # Up
            enc = (cur - prev) & 0xFF
        elif f == 3:  # Average
            left = np.concatenate([np.zeros(3, np.int32), cur[:-3]])
            enc = (cur - ((left + prev) >> 1)) & 0xFF
        else:  # Paeth
            left = np.concatenate([np.zeros(3, np.int32), cur[:-3]])
            upleft = np.concatenate([np.zeros(3, np.int32), prev[:-3]])
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft))
            enc = (cur - pred) & 0xFF
        raw += bytes(enc.astype(np.uint8))
        prev = cur

    ihdr = _s.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk_t(b"IHDR", ihdr)
        + _png_chunk_t(b"IDAT", _z.compress(bytes(raw)))
        + _png_chunk_t(b"IEND", b"")
    )


@pytest.mark.parametrize("filters", [[1], [3], [4], [0, 1, 2, 3, 4]])
def test_png_decode_all_filters(filters):
    px = image_pixels(9)
    assert np.array_equal(codecs.decode_png(_filtered_png(px, filters)), px)


def test_png_decode_gray_palette_alpha():
    import struct as _s
    import zlib as _z

    sig = b"\x89PNG\r\n\x1a\n"
    # grayscale (type 0)
    g = (np.arange(6 * 7) % 256).astype(np.uint8).reshape(6, 7)
    raw = b"".join(b"\x00" + g[y].tobytes() for y in range(6))
    png = sig + _png_chunk_t(b"IHDR", _s.pack(">IIBBBBB", 7, 6, 8, 0, 0, 0, 0)) + _png_chunk_t(
        b"IDAT", _z.compress(raw)
    ) + _png_chunk_t(b"IEND", b"")
    out = codecs.decode_png(png)
    assert np.array_equal(out, np.repeat(g[..., None], 3, axis=2))
    # palette (type 3)
    plte = np.arange(256 * 3, dtype=np.uint8).reshape(256, 3)
    idx = ((np.arange(5 * 4) * 37) % 256).astype(np.uint8).reshape(5, 4)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(5))
    png = sig + _png_chunk_t(b"IHDR", _s.pack(">IIBBBBB", 4, 5, 8, 3, 0, 0, 0)) + _png_chunk_t(
        b"PLTE", plte.tobytes()
    ) + _png_chunk_t(b"IDAT", _z.compress(raw)) + _png_chunk_t(b"IEND", b"")
    assert np.array_equal(codecs.decode_png(png), plte[idx])
    # RGBA (type 6) composites over black
    px = image_pixels(2)
    rgba = np.dstack([px, np.full(px.shape[:2], 128, np.uint8)])
    raw = b"".join(b"\x00" + rgba[y].tobytes() for y in range(px.shape[0]))
    png = sig + _png_chunk_t(
        b"IHDR", _s.pack(">IIBBBBB", px.shape[1], px.shape[0], 8, 6, 0, 0, 0)
    ) + _png_chunk_t(b"IDAT", _z.compress(raw)) + _png_chunk_t(b"IEND", b"")
    out = codecs.decode_png(png)
    assert np.array_equal(out, (px.astype(np.uint16) * 128 // 255).astype(np.uint8))


def test_png_rejects_named_unsupported():
    import struct as _s

    sig = b"\x89PNG\r\n\x1a\n"
    png4 = sig + _png_chunk_t(b"IHDR", _s.pack(">IIBBBBB", 4, 4, 4, 2, 0, 0, 0))
    with pytest.raises(ValueError, match="bit depth"):
        codecs.decode_png(png4)
    pal16 = sig + _png_chunk_t(b"IHDR", _s.pack(">IIBBBBB", 4, 4, 16, 3, 0, 0, 0))
    with pytest.raises(ValueError, match="not a legal combination"):
        codecs.decode_png(pal16)
    bad = sig + _png_chunk_t(b"IHDR", _s.pack(">IIBBBBB", 4, 4, 8, 7, 0, 0, 0))
    with pytest.raises(ValueError, match="color type"):
        codecs.decode_png(bad)


def _adam7_png(px):
    """Hand-build an Adam7-interlaced RGB PNG (filter 0 rows) per the spec
    pass grid."""
    import struct as _s
    import zlib as _z

    h, w, _ = px.shape
    raw = bytearray()
    for x0, y0, dx, dy in [(0,0,8,8),(4,0,8,8),(0,4,4,8),(2,0,4,4),(0,2,2,4),(1,0,2,2),(0,1,1,2)]:
        sub = px[y0::dy, x0::dx, :]
        if sub.size == 0:
            continue
        for row in sub:
            raw.append(0)
            raw += row.tobytes()
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk_t(b"IHDR", _s.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1))
        + _png_chunk_t(b"IDAT", _z.compress(bytes(raw)))
        + _png_chunk_t(b"IEND", b"")
    )


@pytest.mark.parametrize("shape", [(16, 16), (13, 9), (7, 5), (1, 1), (2, 3)])
def test_png_adam7_decode(shape):
    """Adam7 pass extraction incl. ragged sizes where later passes are
    empty or partial."""
    h, w = shape
    px = ((np.arange(h * w * 3) * 23) % 256).astype(np.uint8).reshape(h, w, 3)
    assert np.array_equal(codecs.decode_png(_adam7_png(px)), px)


# --- codec boundary hardening (r5b): untrusted bytes -> ValueError only ------


def _fuzz_cases():
    rng = np.random.RandomState(7)
    px = image_pixels(3)
    from simple_osm_queries_spark.sources import jpeg as J

    return [
        ("jpeg", J.encode_jpeg_real(px, 95), J.decode_jpeg_real),
        ("png", codecs.encode_png(px), codecs.decode_png),
        ("bmp", codecs.encode_bmp(px), codecs.decode_bmp),
        (
            "gif",
            codecs.encode_gif(
                codecs.gif_palette()[rng.randint(0, 256, (3, 8, 8)).astype(np.uint8)]
            ),
            codecs.decode_gif,
        ),
        ("avi", encode_avi_mjpeg(np.stack([px, px[::-1]]), fps=5), codecs.decode_avi_mjpeg),
    ]


@pytest.mark.parametrize("case", _fuzz_cases(), ids=lambda c: c[0])
def test_codec_truncation_raises_valueerror_only(case):
    """Web-scale ingestion feeds partial downloads: every truncation point
    must either decode (salvageable tail) or raise ValueError — never
    IndexError/StopIteration (the latter would silently terminate a
    generator-backed UDF) and never attempt a corrupt-dimension
    allocation."""
    _, data, dec = case
    for k in range(0, len(data), 5):
        try:
            dec(data[:k])
        except ValueError:
            pass


@pytest.mark.parametrize("case", _fuzz_cases(), ids=lambda c: c[0])
def test_codec_corruption_raises_valueerror_only(case):
    _, data, dec = case
    rng = np.random.RandomState(11)
    buf = bytearray(data)
    for _ in range(500):
        i = int(rng.randint(2, len(buf)))
        old = buf[i]
        buf[i] = int(rng.randint(0, 256))
        try:
            dec(bytes(buf))
        except ValueError:
            pass
        buf[i] = old


def test_sniff_format_all_containers():
    px = image_pixels(1)
    from simple_osm_queries_spark.sources import jpeg as J

    frames = np.stack([px, px])
    assert codecs.sniff_format(codecs.encode_png(px)) == "png"
    assert codecs.sniff_format(codecs.encode_bmp(px)) == "bmp"
    assert codecs.sniff_format(J.encode_jpeg_real(px, 90)) == "jpeg"
    assert codecs.sniff_format(b"SOQJ....") == "jpeg"
    assert codecs.sniff_format(
        codecs.encode_gif(codecs.gif_palette()[np.zeros((2, 4, 4), np.uint8)])
    ) == "gif"
    assert codecs.sniff_format(encode_avi_mjpeg(frames)) == "avi"
    assert codecs.sniff_format(codecs.encode_wav(np.zeros(16))) == "wav"
    assert codecs.sniff_format(b"garbage") is None


def test_decode_image_sniffs_mislabeled_rows():
    """fmt=None decodes by magic — the dirty-corpus path where the fmt
    column lies about the actual container."""
    px = image_pixels(6)
    png_bytes = codecs.encode_png(px)
    assert np.array_equal(codecs.decode_image(png_bytes, None), px)
    # a mislabeled decode fails loudly; the sniffing path succeeds
    with pytest.raises(ValueError):
        codecs.decode_image(png_bytes, "bmp")
    with pytest.raises(ValueError, match="cannot sniff"):
        codecs.decode_image(codecs.encode_wav(np.zeros(16)), None)  # audio != still image
    with pytest.raises(ValueError, match="cannot sniff"):
        codecs.decode_image(b"not an image", None)



def test_png_16bit_decode():
    """16-bit RGB and grayscale streams (big-endian samples, byte-level
    filters) decode with top-byte downconversion — incl. a Sub-filtered
    row, whose bpp is 6 bytes at 16-bit RGB."""
    import struct as _s
    import zlib as _z

    sig = b"\x89PNG\r\n\x1a\n"
    px = image_pixels(11)
    h, w, _ = px.shape
    v16 = (px.astype(np.uint16) << 8) | 0x37  # low byte must be dropped
    raw = bytearray()
    for y in range(h):
        if y % 2 == 0:
            raw.append(0)
            raw += v16[y].astype(">u2").tobytes()
        else:  # Sub filter at bpp=6
            row = v16[y].astype(">u2").tobytes()
            b = np.frombuffer(row, np.uint8).astype(np.int32)
            left = np.concatenate([np.zeros(6, np.int32), b[:-6]])
            # filter is over reconstructed bytes: recon = raw_bytes here
            # (encode: enc = b - left of the RECONSTRUCTED row = b - left)
            enc = (b - left) & 0xFF
            raw.append(1)
            raw += bytes(enc.astype(np.uint8))
    png = (
        sig
        + _png_chunk_t(b"IHDR", _s.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0))
        + _png_chunk_t(b"IDAT", _z.compress(bytes(raw)))
        + _png_chunk_t(b"IEND", b"")
    )
    assert np.array_equal(codecs.decode_png(png), px)
    # 16-bit grayscale
    g = (np.arange(5 * 6) % 256).astype(np.uint8).reshape(5, 6)
    g16 = (g.astype(np.uint16) << 8) | 0xAB
    raw = b"".join(b"\x00" + g16[y].astype(">u2").tobytes() for y in range(5))
    png = (
        sig
        + _png_chunk_t(b"IHDR", _s.pack(">IIBBBBB", 6, 5, 16, 0, 0, 0, 0))
        + _png_chunk_t(b"IDAT", _z.compress(raw))
        + _png_chunk_t(b"IEND", b"")
    )
    assert np.array_equal(codecs.decode_png(png), np.repeat(g[..., None], 3, axis=2))


def test_decode_image_unknown_label_raises_valueerror():
    """Review regression: a dirty fmt label ('gif', 'webp') must surface
    as the boundary's ValueError, not KeyError inside the UDF."""
    px = image_pixels(1)
    data = codecs.encode_png(px)
    for bad in ("gif", "webp", "tiff"):
        with pytest.raises(ValueError, match="unknown still-image format"):
            codecs.decode_image(data, bad)
