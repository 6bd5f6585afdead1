"""Cross-family bridge: image aHash -> hamming dedup."""

import numpy as np

from simple_osm_queries_spark.operators import dedup, multimodal
from simple_osm_queries_spark.sources import codecs, datagen


def _noisy(px, seed, amp=4):
    rng = np.random.RandomState(seed)
    noise = rng.randint(-amp, amp + 1, px.shape)
    return np.clip(px.astype(np.int16) + noise, 0, 255).astype(np.uint8)


def test_ahash_content_based_near_dup(spark):
    """A re-encoded/noised copy of an image must land within small hamming
    of the original; unrelated images must not."""
    rows = []
    for i in range(6):
        px = datagen.image_pixels(i * 37)
        rows.append((f"orig{i}", codecs.encode_png(px), "png"))
        rows.append((f"noisy{i}", codecs.encode_bmp(_noisy(px, i)), "bmp"))
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    hashed = multimodal.ahash_images(df)
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.phash_near_dups(
            hashed, id_col="image_id", phash_col="ahash", max_hamming=3
        ).collect()
    }
    for i in range(6):
        a, b = sorted([f"orig{i}", f"noisy{i}"])
        assert (a, b) in pairs, f"noised copy of image {i} not detected"
    # no cross-image matches
    for (a, b) in pairs:
        assert a.lstrip("noisyorig") == b.lstrip("noisyorig")
