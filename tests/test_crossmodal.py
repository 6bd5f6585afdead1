"""Cross-modal consistency: image_caption_conflicts vs an independent
python set-based oracle (hamming + word-n-gram jaccard), stock_captions
vs a dict-based oracle, null-caption semantics, threshold edges."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from simple_osm_queries_spark.operators.crossmodal import (
    image_caption_conflicts,
    stock_captions,
)

# (id, phash, caption): three phash clusters (hamming<=2 inside), captions
# engineered so some near-image pairs agree and some conflict
ROWS = [
    (1, 0b1111000011110000, "a red car parked on the street"),
    (2, 0b1111000011110001, "a red car parked on the street"),        # img~1, caption same
    (3, 0b1111000011110011, "blue ocean waves crashing at sunset"),   # img~1/2, caption conflicts
    (4, 0b0000111100001111, "stock photo placeholder text here"),
    (5, 0b0000111100001110, "stock photo placeholder text here"),     # img~4, caption same
    (6, 0b1010101010101010, "a red car parked on the street"),        # stock caption, far image
    (7, 0b0101010101010101, "a red car parked on the street"),        # stock caption, far image
    (8, 0b1111000011110010, None),                                    # img~1-3, NULL caption
]


def _shingles(text: str, n: int = 3) -> frozenset:
    w = text.strip().lower().split()
    if len(w) <= n:
        return frozenset([" ".join(w)])
    return frozenset(" ".join(w[i : i + n]) for i in range(len(w) - n + 1))


def _oracle_conflicts(rows, max_h, max_j):
    out = {}
    for i, (ia, pa, ca) in enumerate(rows):
        for ib, pb, cb in rows[i + 1 :]:
            h = bin(pa ^ pb).count("1")
            if h > max_h or ca is None or cb is None:
                continue
            sa, sb = _shingles(ca), _shingles(cb)
            j = len(sa & sb) / len(sa | sb)
            if j <= max_j:
                out[(min(ia, ib), max(ia, ib))] = (h, j)
    return out


@pytest.fixture(scope="module")
def frame(spark):
    return spark.createDataFrame(
        ROWS, "image_id long, phash long, caption string"
    ).cache()


def test_conflicts_match_oracle(frame):
    got = {
        (r.id_a, r.id_b): (r.hamming, r.caption_jaccard)
        for r in image_caption_conflicts(
            frame, max_hamming=3, max_caption_jaccard=0.5
        ).collect()
    }
    want = _oracle_conflicts(ROWS, 3, 0.5)
    assert set(got) == set(want)
    assert want, "fixture must produce at least one conflict"
    for k, (h, j) in want.items():
        gh, gj = got[k]
        assert gh == h
        assert abs(gj - j) < 1e-12
    # the same-caption near-image pairs must NOT appear
    assert (1, 2) not in got and (4, 5) not in got
    # NULL captions never conflict
    assert not any(8 in k for k in got)


def test_conflict_threshold_edges(frame):
    # jaccard threshold 1.0 admits even identical captions
    all_pairs = image_caption_conflicts(frame, max_hamming=3, max_caption_jaccard=1.0)
    ids = {(r.id_a, r.id_b) for r in all_pairs.collect()}
    assert (1, 2) in ids
    # hamming 0 keeps only identical hashes (none in the fixture)
    with pytest.raises(AssertionError):
        # pigeonhole guard: max_hamming must stay < dedup.HAMMING_CHUNKS (4)
        image_caption_conflicts(frame, max_hamming=4)


def test_stock_captions(frame):
    got = {
        r.caption_fp: (r.n_rows, r.n_images, r.example_id)
        for r in stock_captions(frame, min_images=2).collect()
    }
    # oracle: group non-null captions, count distinct phash
    groups = {}
    for i, p, c in ROWS:
        if c is None:
            continue
        fp = hashlib.md5(c.encode()).hexdigest()
        groups.setdefault(fp, []).append((i, p))
    want = {
        fp: (len(v), len({p for _, p in v}), min(i for i, _ in v))
        for fp, v in groups.items()
        if len({p for _, p in v}) >= 2
    }
    assert got == want
    # the red-car caption spans 4 images -> flagged; the stock-photo pair too
    assert len(want) == 2
    # min_images raises the bar
    high = stock_captions(frame, min_images=4).collect()
    assert len(high) == 1 and high[0].n_images == 4


def test_conflicts_plan_no_bnlj(frame):
    df = image_caption_conflicts(frame)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
