"""Multimodal plumbing: decode / verify / resize over mapInPandas, plus
frame sampling (GIF decodes for real via the from-scratch stdlib codec;
unknown containers raise; an injected decoder exercises the override)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from simple_osm_queries_spark.operators import multimodal
from simple_osm_queries_spark.sources import codecs, datagen
from tests.avi_writer import encode_avi_mjpeg


@pytest.fixture(scope="module")
def image_nodes(spark):
    return datagen.gen_nodes(spark, 60, partitions=2, with_images=True).cache()


def test_verify_invariants_all_pass(image_nodes):
    res = multimodal.verify_invariants(image_nodes)
    bad = res.filter(~F.col("pixels_ok") | ~F.col("caption_ok") | ~F.col("phash_ok")).collect()
    assert bad == []
    by_fmt = {r.fmt: r for r in res.collect()}
    assert by_fmt["png"].psnr >= 1e9  # inf clamped
    assert 40.0 <= by_fmt["jpeg"].psnr < 1e9  # genuinely lossy


def test_verify_catches_corruption(spark, image_nodes):
    corrupted = image_nodes.withColumn(
        "caption", F.when(F.col("id") == 5, F.lit("wrong")).otherwise(F.col("caption"))
    )
    res = multimodal.verify_invariants(corrupted)
    bad = [r.id for r in res.filter(~F.col("caption_ok")).collect()]
    assert bad == [5]


def test_resize(image_nodes):
    out = multimodal.resize_images(image_nodes.limit(4), 16, 8).collect()
    assert len(out) == 4
    for r in out:
        px = codecs.decode_png(bytes(r.bytes))
        assert px.shape == (8, 16, 3)
        assert r.w == 16 and r.h == 8 and r.fmt == "png"


def test_sample_frames_unknown_container_raises(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import PythonException

    df = spark.createDataFrame([("v0", b"fakevideo")], "media_id string, bytes binary")
    with pytest.raises((PythonException, Py4JJavaError), match="no built-in decoder"):
        multimodal.sample_frames(df).collect()


def test_sample_frames_decodes_real_gif(spark):
    """VERDICT r4 #6: frame sampling over a REAL public container — animated
    GIF written and read by the from-scratch stdlib codec; sampled frames
    re-encode PNG and match the source frames byte-exactly."""
    pal = codecs.gif_palette()
    rng = np.random.RandomState(9)
    media = []
    truth = {}
    for mid, nframes in [("g0", 25), ("g1", 7)]:
        frames = pal[rng.randint(0, 256, size=(nframes, 6, 5)).astype(np.uint8)]
        truth[mid] = frames
        media.append((mid, codecs.encode_gif(frames)))
    df = spark.createDataFrame(media, "media_id string, bytes binary")
    rows = multimodal.sample_frames(df, every_n=10).collect()
    got = {(r.media_id, r.frame_idx) for r in rows}
    assert got == {("g0", 0), ("g0", 10), ("g0", 20), ("g1", 0)}
    for r in rows:
        px = codecs.decode_png(bytes(r.frame_png))
        assert (px == truth[r.media_id][r.frame_idx]).all()


def test_sample_frames_with_fake_decoder(spark):
    def fake_decoder(data: bytes) -> np.ndarray:
        n = data[0]  # first byte = frame count
        frames = np.zeros((n, 4, 4, 3), dtype=np.uint8)
        for i in range(n):
            frames[i] += i
        return frames

    df = spark.createDataFrame(
        [("v0", bytes([25])), ("v1", bytes([7]))], "media_id string, bytes binary"
    )
    rows = multimodal.sample_frames(df, every_n=10, decoder=fake_decoder).collect()
    got = {(r.media_id, r.frame_idx) for r in rows}
    assert got == {("v0", 0), ("v0", 10), ("v0", 20), ("v1", 0)}
    px = codecs.decode_png(bytes([r for r in rows if r.frame_idx == 10][0].frame_png))
    assert px.shape == (4, 4, 3) and px[0, 0, 0] == 10


def test_sample_frames_decodes_mjpeg_avi(spark):
    """VERDICT r4 #6 second container: frame sampling over MJPEG-in-AVI via
    the from-scratch RIFF walk + baseline JPEG codec; sampled frames match
    the source within the JPEG lossy budget."""
    y, x = np.mgrid[0:24, 0:32].astype(float)
    truth = {}
    media = []
    for mid, nframes in [("a0", 25), ("a1", 7)]:
        frames = np.stack(
            [
                np.clip(
                    128
                    + 70 * np.sin(2 * np.pi * (x + 4 * t) / 36)[..., None] * np.ones(3)
                    + 5 * t,
                    0,
                    255,
                ).astype(np.uint8)
                for t in range(nframes)
            ]
        )
        truth[mid] = frames
        media.append((mid, encode_avi_mjpeg(frames, fps=10, quality=95)))
    df = spark.createDataFrame(media, "media_id string, bytes binary")
    rows = multimodal.sample_frames(df, every_n=10).collect()
    got = {(r.media_id, r.frame_idx) for r in rows}
    assert got == {("a0", 0), ("a0", 10), ("a0", 20), ("a1", 0)}
    for r in rows:
        px = codecs.decode_png(bytes(r.frame_png))
        assert codecs.psnr(px, truth[r.media_id][r.frame_idx]) >= 40.0


def test_dct_phash_robust_and_discriminative(spark):
    """DCT pHash: invariant to heavy re-encode (q60) and brightness shift
    (hamming <= 6 of 64), clearly separated from other images (>= 10 —
    the synthetic fixtures share generator structure, so inter-image
    distances run lower than natural photos); aHash breaks
    on the brightness shift of sharp content, pHash doesn't (the hash uses
    frequency-domain sign structure, DC excluded)."""
    from simple_osm_queries_spark.sources import jpeg as J
    from simple_osm_queries_spark.sources.datagen import image_pixels

    rows = []
    for i in [3, 17, 42]:
        px = image_pixels(i)
        reenc = J.decode_jpeg_real(J.encode_jpeg_real(px, 60))
        bright = np.clip(px.astype(int) + 30, 0, 255).astype(np.uint8)
        rows += [
            (f"orig{i}", codecs.encode_png(px), "png"),
            (f"reenc{i}", codecs.encode_png(reenc), "png"),
            (f"bright{i}", codecs.encode_png(bright), "png"),
        ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    got = {r.image_id: r.dct_phash for r in multimodal.dct_phash_images(df).collect()}

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    for i in [3, 17, 42]:
        assert ham(got[f"orig{i}"], got[f"reenc{i}"]) <= 6
        assert ham(got[f"orig{i}"], got[f"bright{i}"]) <= 6
    for i, j in [(3, 17), (17, 42), (3, 42)]:
        assert ham(got[f"orig{i}"], got[f"orig{j}"]) >= 10


def test_dct_phash_feeds_near_dup_machinery(spark):
    """dct_phash slots into the shared bucketed-Hamming join exactly like
    the stored phash / ahash columns."""
    from simple_osm_queries_spark.operators import dedup
    from simple_osm_queries_spark.sources import jpeg as J
    from simple_osm_queries_spark.sources.datagen import image_pixels

    rows = []
    for i in range(8):
        px = image_pixels(i)
        rows.append((f"a{i}", codecs.encode_png(px), "png"))
        if i < 3:  # re-encoded twins for the first three
            tw = J.decode_jpeg_real(J.encode_jpeg_real(px, 70))
            rows.append((f"b{i}", codecs.encode_png(tw), "png"))
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    hashes = multimodal.dct_phash_images(df).cache()
    pairs = dedup.phash_near_dups(
        hashes, id_col="image_id", phash_col="dct_phash",
        max_hamming=6, chunks=8,
    ).collect()
    got = {tuple(sorted((r[0], r[1]))) for r in pairs}
    # re-encoded twins must be found
    assert {("a0", "b0"), ("a1", "b1"), ("a2", "b2")} <= got
    # and the distributed join returns EXACTLY the driver-side Hamming
    # oracle over the same hashes (machinery correctness, independent of
    # how similar the synthetic fixture family happens to be)
    hv = {r.image_id: r.dct_phash for r in hashes.collect()}

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    ids = sorted(hv)
    oracle = {
        (x, y)
        for k, x in enumerate(ids)
        for y in ids[k + 1 :]
        if ham(hv[x], hv[y]) <= 6
    }
    assert got == oracle
    hashes.unpersist()


def test_dct32_matrix_orthonormal():
    from simple_osm_queries_spark.sources import jpeg as J

    m = J.dct_matrix(32)
    assert np.abs(m @ m.T - np.eye(32)).max() < 1e-12
    # the shared construction's 8-point case IS the JPEG block basis
    assert np.abs(J.dct_matrix(8) - J._DCT_M).max() == 0.0


def test_box_mean_grid_small_images_never_black():
    """Review regression: images smaller than the grid must repeat nearest
    pixels, never produce zero-filled (fake black) cells."""
    for h, w in [(16, 16), (4, 4), (1, 1), (5, 40), (40, 5)]:
        u = np.full((h, w), 100.0)
        got = multimodal._box_mean_grid(u, 32, 32)
        assert got.shape == (32, 32)
        assert np.abs(got - 100.0).max() < 1e-12


def test_phash_and_audio_custom_id_col(spark):
    """Review regression: id_col must propagate into the output schema."""
    from simple_osm_queries_spark.sources.datagen import image_pixels

    df = spark.createDataFrame(
        [(7, codecs.encode_png(image_pixels(7)), "png")],
        "doc_id long, bytes binary, fmt string",
    )
    out = multimodal.dct_phash_images(df, id_col="doc_id")
    assert out.columns == ["doc_id", "dct_phash"]
    assert out.collect()[0].doc_id == "7"
    adf = spark.createDataFrame(
        [(3, codecs.encode_wav(np.sin(np.arange(4000) / 20.0) * 0.4))],
        "clip_id long, bytes binary",
    )
    aout = multimodal.audio_features(adf, id_col="clip_id")
    assert aout.columns[0] == "clip_id"
    assert aout.collect()[0].clip_id == "3"


def test_wav_zero_rate_rejected():
    """Review regression: rate=0 in the fmt chunk must raise ValueError,
    not ZeroDivisionError later inside audio_features."""
    data = bytearray(codecs.encode_wav(np.zeros(100)))
    data[24:28] = b"\x00\x00\x00\x00"
    with pytest.raises(ValueError, match="sample rate"):
        codecs.decode_wav(bytes(data))



# --- WAV audio (r5b: third modality) -----------------------------------------


def _tone(freq, secs=0.5, rate=16000, amp=0.5):
    t = np.arange(int(secs * rate)) / rate
    return amp * np.sin(2 * np.pi * freq * t)


def test_wav_roundtrip_mono_stereo():
    sig = _tone(440)
    out, rate = codecs.decode_wav(codecs.encode_wav(sig, 16000))
    assert rate == 16000 and out.shape == (len(sig), 1)
    assert np.abs(out[:, 0] - sig).max() < 1e-4  # 16-bit quantization
    st = np.stack([_tone(440), _tone(880)], axis=1)
    out2, r2 = codecs.decode_wav(codecs.encode_wav(st, 8000))
    assert r2 == 8000 and out2.shape == st.shape
    assert np.abs(out2 - st).max() < 1e-4


def test_wav_pcm_variants_decode():
    import struct as _s

    sig = (_tone(440, 0.1) * 32767).astype("<i2")

    def wav(fmt_tag, bits, payload):
        blk = bits // 8
        fmt = _s.pack("<HHIIHH", fmt_tag, 1, 16000, 16000 * blk, blk, bits)

        def chunk(tag, p):
            return tag + _s.pack("<I", len(p)) + p + (b"\x00" if len(p) % 2 else b"")

        body = b"WAVE" + chunk(b"fmt ", fmt) + chunk(b"data", payload)
        return b"RIFF" + _s.pack("<I", len(body)) + body

    ref = sig.astype(np.float64) / 32768.0
    # 32-bit float
    out, _ = codecs.decode_wav(wav(3, 32, ref.astype("<f4").tobytes()))
    assert np.abs(out[:, 0] - ref).max() < 1e-7
    # 32-bit int
    out, _ = codecs.decode_wav(wav(1, 32, (ref * 2147483647).astype("<i4").tobytes()))
    assert np.abs(out[:, 0] - ref).max() < 1e-6
    # 8-bit unsigned
    out, _ = codecs.decode_wav(
        wav(1, 8, (ref * 127 + 128).clip(0, 255).astype(np.uint8).tobytes())
    )
    assert np.abs(out[:, 0] - ref).max() < 0.02


def test_wav_malformed_raises_valueerror_only():
    data = codecs.encode_wav(_tone(440, 0.05))
    for k in range(0, len(data), 9):
        try:
            codecs.decode_wav(data[:k])
        except ValueError:
            pass
    rng = np.random.RandomState(3)
    buf = bytearray(data)
    for _ in range(400):
        i = int(rng.randint(2, len(buf)))
        old = buf[i]
        buf[i] = int(rng.randint(0, 256))
        try:
            codecs.decode_wav(bytes(buf))
        except ValueError:
            pass
        buf[i] = old


def test_audio_features_physics(spark):
    """Feature oracle from first principles: a pure 440 Hz tone has
    spectral centroid ~440 Hz and ZCR ~2*440/rate; half-silence shows in
    silence_frac; RMS of a*sin is a/sqrt(2)."""
    tone = _tone(440, 1.0, amp=0.5)
    half = np.concatenate([tone[:8000], np.zeros(8000)])
    noise = (np.random.RandomState(1).rand(16000) - 0.5) * 0.8
    rows = [
        ("tone", codecs.encode_wav(tone)),
        ("half", codecs.encode_wav(half)),
        ("noise", codecs.encode_wav(noise)),
    ]
    df = spark.createDataFrame(rows, "media_id string, bytes binary")
    got = {r.media_id: r for r in multimodal.audio_features(df).collect()}
    t = got["tone"]
    assert t.rate == 16000 and abs(t.duration_s - 1.0) < 1e-9
    assert abs(t.rms - 0.5 / np.sqrt(2)) < 0.01
    assert abs(t.spectral_centroid_hz - 440.0) < 15.0
    assert abs(t.zcr - 2 * 440 / 16000) < 0.005
    assert t.silence_frac == 0.0
    assert 0.45 <= got["half"].silence_frac <= 0.55
    # white-ish noise: centroid far above the tone's
    assert got["noise"].spectral_centroid_hz > 2000.0


def test_wav_jdk_cross_check(tmp_path):
    """The JDK's javax.sound.sampled reads our WAV to the identical PCM."""
    import shutil
    import subprocess

    if shutil.which("javac") is None:
        pytest.skip("JDK not available")
    from pathlib import Path

    d = tmp_path / "cls"
    subprocess.run(
        ["javac", "-d", str(d),
         str(Path(__file__).parent / "jdk_oracle" / "JdkJpeg.java")],
        check=True, capture_output=True,
    )
    sig = np.stack([_tone(440, 0.2), _tone(1000, 0.2)], axis=1)
    wav = codecs.encode_wav(sig, 16000)
    wf = tmp_path / "a.wav"
    wf.write_bytes(wav)
    out = tmp_path / "a.bin"
    subprocess.run(["java", "-cp", str(d), "JdkJpeg", "wavraw", str(wf), str(out)],
                   check=True, capture_output=True)
    raw = out.read_bytes()
    header, pcm = raw.split(b"\n", 1)
    rate, ch, bits = map(int, header.split())
    assert (rate, ch, bits) == (16000, 2, 16)
    jdk = np.frombuffer(pcm, dtype="<i2").reshape(-1, 2)
    ours, r = codecs.decode_wav(wav)
    assert r == rate
    assert np.array_equal(jdk, np.clip(np.round(ours * 32768.0), -32768, 32767).astype("<i2")) or \
        np.abs(jdk - np.clip(np.round(ours * 32767.0), -32768, 32767)).max() <= 1


def test_resize_area_antialiases(spark):
    """Area resize of a fine checkerboard lands near mid-gray (the
    box-mean absorbs sub-pixel detail); nearest-neighbor keeps extremes.
    Uniform images resize exactly under both methods."""
    cb = np.indices((32, 32)).sum(axis=0) % 2 * 255
    px = np.repeat(cb[..., None], 3, axis=2).astype(np.uint8)
    uni = np.full((32, 32, 3), 77, np.uint8)
    df = spark.createDataFrame(
        [("cb", codecs.encode_png(px), "png"), ("u", codecs.encode_png(uni), "png")],
        "image_id string, bytes binary, fmt string",
    )
    area = {r.image_id: codecs.decode_png(bytes(r.bytes))
            for r in multimodal.resize_images(df, 8, 8, method="area").collect()}
    near = {r.image_id: codecs.decode_png(bytes(r.bytes))
            for r in multimodal.resize_images(df, 8, 8, method="nearest").collect()}
    assert np.abs(area["cb"].astype(int) - 127).max() <= 2
    # nearest keeps pure extremes (no averaging; stride-4 sampling of the
    # checkerboard hits a single parity, so the result is one extreme)
    assert set(np.unique(near["cb"]).tolist()) <= {0, 255}
    assert np.array_equal(area["u"], np.full((8, 8, 3), 77))
    assert np.array_equal(near["u"], np.full((8, 8, 3), 77))
    with pytest.raises(ValueError, match="unknown resize method"):
        multimodal.resize_images(df, 8, 8, method="lanczos")


def test_on_error_skip_drops_corrupt_rows(spark):
    """Dirty-corpus mode: one corrupt row among good ones is dropped under
    on_error='skip' (every codec's failures are catchable ValueErrors per
    the boundary contract); the default still raises."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import PythonException

    from simple_osm_queries_spark.sources.datagen import image_pixels

    rows = [
        ("good1", codecs.encode_png(image_pixels(1)), "png"),
        ("bad", b"\x89PNG\r\n\x1a\ngarbage", "png"),
        ("good2", codecs.encode_png(image_pixels(2)), "png"),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    for op in (
        lambda d, **kw: multimodal.ahash_images(d, **kw),
        lambda d, **kw: multimodal.dct_phash_images(d, **kw),
        lambda d, **kw: multimodal.resize_images(d, 8, 8, **kw),
    ):
        got = op(df, on_error="skip").collect()
        assert {r[0] for r in got} == {"good1", "good2"}
        with pytest.raises((PythonException, Py4JJavaError)):
            op(df).collect()
    adf = spark.createDataFrame(
        [("g", codecs.encode_wav(np.zeros(64) + 0.1)), ("b", b"RIFFxxxxWAVE")],
        "media_id string, bytes binary",
    )
    got = multimodal.audio_features(adf, on_error="skip").collect()
    assert [r.media_id for r in got] == ["g"]
    with pytest.raises((PythonException, Py4JJavaError)):
        multimodal.audio_features(adf).collect()
    with pytest.raises(ValueError, match="on_error"):
        multimodal.ahash_images(df, on_error="ignore")


def test_on_error_skip_null_bytes_and_video(spark):
    """Review regressions: NULL binary values are skippable (bytes(None)
    previously leaked TypeError past the boundary) and sample_frames joins
    the dirty-corpus rollout, skipping corrupt AND unknown containers."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import PythonException

    from simple_osm_queries_spark.sources.datagen import image_pixels

    rows = [
        ("good", codecs.encode_png(image_pixels(4)), "png"),
        ("nullrow", None, "png"),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    got = multimodal.ahash_images(df, on_error="skip").collect()
    assert [r.image_id for r in got] == ["good"]
    with pytest.raises((PythonException, Py4JJavaError), match="NULL bytes"):
        multimodal.ahash_images(df).collect()

    pal = codecs.gif_palette()
    gif = codecs.encode_gif(pal[np.zeros((3, 4, 4), np.uint8)])
    vdf = spark.createDataFrame(
        [("g", gif), ("corrupt", b"GIF89a\x01trash"), ("mp4", b"\x00\x00\x00 ftypisom"), ("nul", None)],
        "media_id string, bytes binary",
    )
    got = multimodal.sample_frames(vdf, every_n=2, on_error="skip").collect()
    assert {r.media_id for r in got} == {"g"}
    with pytest.raises((PythonException, Py4JJavaError)):
        multimodal.sample_frames(vdf).collect()
