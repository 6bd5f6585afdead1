"""Dedup operator family vs small Python oracles."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from simple_osm_queries_spark.caching import unpersist_intermediates
from simple_osm_queries_spark.operators import dedup

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),            # exact dup of 0
    (2, "the quick brown fox jumps over the lazy cat"),            # near dup of 0
    (3, "a completely different document about spark shuffles"),
    (4, "a completely different document about spark shuffles!"),  # near dup of 3
    (5, "short doc"),
    (6, "the quick brown fox jumps over the lazy dog today"),      # near dup of 0
    (7, "unrelated words entirely disjoint vocabulary here now"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(pd.DataFrame(DOCS, columns=["doc_id", "text"])).cache()


def _shingles(text, n=3):
    w = text.lower().split()
    if len(w) <= n:
        return {" ".join(w)}
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def _jaccard(a, b, n=3):
    sa, sb = _shingles(a, n), _shingles(b, n)
    return len(sa & sb) / len(sa | sb)


def test_exact_dedup(docs):
    groups = dedup.exact_dup_groups(docs, "doc_id", "text").collect()
    dup_groups = [g for g in groups if g.n > 1]
    assert len(dup_groups) == 1 and dup_groups[0].keep_id == 0 and dup_groups[0].n == 2


def test_ngram_jaccard_matches_oracle(docs):
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    texts = dict(DOCS)
    expected = {}
    for a in texts:
        for b in texts:
            if a < b:
                j = _jaccard(texts[a], texts[b])
                if j >= 0.3:
                    expected[(a, b)] = j
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert got[k] == pytest.approx(v)
    assert (0, 1) in got and got[(0, 1)] == 1.0


def test_minhash_near_dups(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard_est
        for r in dedup.minhash_near_dups(docs, num_perm=128, bands=32, threshold=0.4).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # identical docs
    # the known near-dups should surface; estimates within 0.25 of truth
    texts = dict(DOCS)
    for (a, b), est in pairs.items():
        assert est == pytest.approx(_jaccard(texts[a], texts[b]), abs=0.25)
    # disjoint docs must not pair
    assert not any(7 in p for p in pairs)


def test_minhash_signature_deterministic(docs):
    num_perm, bands = 64, 16
    sb = docs.orderBy("doc_id").select(
        dedup.minhash_sig_buckets_py(F.col("text"), num_perm=num_perm, bands=bands).alias("s")
    )
    a = [(bytes(r.s.sig), list(r.s.buckets)) for r in sb.collect()]
    b = [(bytes(r.s.sig), list(r.s.buckets)) for r in sb.collect()]
    assert a == b
    # packed little-endian uint32 per permutation, one bucket key per band
    assert all(len(sig) == num_perm * 4 for sig, _ in a)
    assert all(len(buckets) == bands for _, buckets in a)


def test_simhash_near_dups(docs):
    pairs = {(r.id_a, r.id_b): r.hamming for r in dedup.simhash_near_dups(docs, max_hamming=3).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 0
    assert all(h <= 3 for h in pairs.values())
    assert not any(7 in p for p in pairs)


def test_embedding_near_dups(spark):
    rng = np.random.RandomState(7)
    base = rng.randn(8, 64).astype(np.float32)
    base[1] = base[0] + rng.randn(64).astype(np.float32) * 0.01  # near dup of 0
    base[5] = base[4]                                            # exact dup of 4
    rows = [(i, [float(x) for x in base[i]]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup.embedding_near_dups(df, threshold=0.95).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    assert (4, 5) in pairs and pairs[(4, 5)] == pytest.approx(1.0)
    # verify precision: every reported cosine matches numpy (1e-6: Spark's
    # sequential aggregate fold vs numpy's pairwise dot differ in rounding)
    for (a, b), c in pairs.items():
        va, vb = base[a].astype(np.float64), base[b].astype(np.float64)
        expected = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        assert c == pytest.approx(expected, abs=1e-6)


def test_embedding_verify_broadcast_hint_identical(spark, monkeypatch, tmp_path):
    """The size-guarded broadcast HINT on the verify joins changes the join
    strategy only — pairs and cosines must be bit-identical to the
    shuffled-join plan (VERIFY_BROADCAST_BYTES=0 disables the hint).
    Automatic broadcasting is switched off for the test, so a
    BroadcastHashJoin in the plan can only come from the hint. The vectors
    go through parquet like the gate and bench inputs: an in-memory frame
    has no size estimate, and the guard never hints one."""
    import contextlib
    import io

    def plan_of(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    rng = np.random.RandomState(11)
    base = rng.randn(16, 64).astype(np.float32)
    base[1] = base[0] + rng.randn(64).astype(np.float32) * 0.01
    base[5] = base[4]
    base[9] = base[8] * 2.0  # colinear -> cosine exactly 1 territory
    rows = [(i, [float(x) for x in base[i]]) for i in range(16)]
    path = str(tmp_path / "vecs.parquet")
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").write.parquet(path)
    df = spark.read.parquet(path)
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        hinted = dedup.embedding_near_dups(df, threshold=0.9)
        assert "BroadcastHashJoin" in plan_of(hinted)
        monkeypatch.setattr(dedup, "VERIFY_BROADCAST_BYTES", 0)
        plain = dedup.embedding_near_dups(df, threshold=0.9)
        assert "BroadcastHashJoin" not in plan_of(plain)
        got_h = sorted((r.id_a, r.id_b, r.cosine) for r in hinted.collect())
        got_p = sorted((r.id_a, r.id_b, r.cosine) for r in plain.collect())
    finally:
        spark.conf.set(key, saved)
    assert got_h == got_p and len(got_h) >= 3


def test_ngram_jaccard_hot_shingle_cap(spark):
    """One stop-shingle shared by 50% of docs: the default max_df cap bounds
    the inverted-index self-join instead of going quadratic on that key."""
    n_docs = 200
    rows = []
    for i in range(n_docs):
        uniq = f"unique{i} token{i} word{i} extra{i}"
        if i % 2 == 0:
            rows.append((i, f"common stop shingle {uniq}"))  # hot 3-gram
        else:
            rows.append((i, uniq))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    capped = dedup.ngram_jaccard_pairs(df, threshold=0.1, max_df=10)
    got = capped.collect()
    # the hot shingle is dropped everywhere -> docs share nothing -> no pairs
    assert got == []

    # candidate volume with the cap is bounded: rebuild the capped inverted
    # index independently and count candidate pairs per shingle
    from collections import Counter

    shingle_docs = Counter()
    for i, text in rows:
        for s in _shingles(text, 3):
            shingle_docs[s] += 1
    assert max(shingle_docs.values()) == n_docs // 2  # skew is real
    surviving = {s for s, c in shingle_docs.items() if c <= 10}
    assert all(shingle_docs[s] <= 10 for s in surviving)

    # and without the cap the same fixture WOULD pair the hot half
    uncapped = dedup.ngram_jaccard_pairs(df, threshold=0.1, max_df=None).collect()
    assert len(uncapped) > 1000
    # the tracked handle must be the CACHED plan (a rebound sh would make
    # unpersist a no-op) and must actually release
    handles = getattr(capped, "_soq_persisted")
    assert handles and all(h.storageLevel.useMemory for h in handles)
    unpersist_intermediates(capped)
    assert all(not h.storageLevel.useMemory for h in handles)


def test_lsh_bands_must_divide_num_perm(docs):
    with pytest.raises(ValueError, match="must divide"):
        dedup.minhash_near_dups(docs, num_perm=64, bands=15)


def test_embedding_candidates_shuffle_excludes_vectors(spark):
    """Scale guard: the candidate explode/join/distinct must not carry the
    embedding column — vectors join back only for the cosine verify."""
    import contextlib
    import io
    import re

    rows = [(i, [float(i)] * 64) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        dedup.embedding_near_dups(df, threshold=0.5).explain("formatted")
    plan = buf.getvalue()
    # formatted explain lists each node with its Input/Output attribute sets;
    # every Exchange partitioned on candidate keys (chunk/val or id pairs)
    # must carry no vec/embedding attribute — vectors may only ride the two
    # join-back exchanges of the vecs side
    sections = re.split(r"\n\(\d+\) ", plan)
    for sec in sections:
        if not sec.startswith("Exchange"):
            continue
        keys = sec.splitlines()[0]
        carried = "".join(ln for ln in sec.splitlines() if ln.startswith("Input"))
        if "chunk" in keys or ("id_a" in keys and "id_b" in keys):
            assert "embedding" not in carried and "vec_a" not in carried, sec
    assert "Exchange" in plan  # the guard actually inspected something


def test_unpersist_intermediates_releases_storage(spark, docs):
    res = dedup.minhash_near_dups(docs, threshold=0.4)
    res.collect()
    handles = getattr(res, "_soq_persisted")
    assert handles and all(h.storageLevel.useMemory for h in handles)
    unpersist_intermediates(res)
    assert all(not h.storageLevel.useMemory for h in handles)


def test_minhash_md5_variant_matches_production(docs):
    """The SQL-checkable md5 variant (gate entry) and the production
    crc32 path find the same near-dup pairs on the fixture —
    different hash constants, same estimator."""
    kw = dict(num_perm=128, bands=32, threshold=0.4)
    prod = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_near_dups(docs, **kw).collect()
    }
    oracleable = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_near_dups(docs, shingle_hash="md5", **kw).collect()
    }
    assert prod == oracleable and (0, 1) in prod


def test_simhash_md5_variant(docs):
    """The SQL-checkable md5-60 simhash variant behaves like the production
    crc32 form on the fixture: identical docs at hamming 0, disjoint
    docs unpaired (hash constants differ, so borderline pairs may — pin the
    invariants, not the exact borderline set)."""
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_near_dups(docs, max_hamming=3, word_hash="md5").collect()
    }
    assert pairs[(0, 1)] == 0
    assert all(h <= 3 for h in pairs.values())
    assert not any(7 in p for p in pairs)
    # signature width: md5 variant packs 60 bits
    sig = docs.select(dedup.simhash_md5_col(F.col("text")).alias("s")).collect()
    assert all(0 <= r.s < (1 << 60) for r in sig)


def test_embedding_near_dups_random_vectors_bounded(spark, monkeypatch):
    """Regression for the 1M-row OOM: with the 16-bit-band defaults, random
    (non-duplicate) vectors produce near-zero candidates instead of a
    quadratic bucket blowup, while planted near-dups are still found."""
    rng = np.random.RandomState(13)
    mat = rng.randn(5000, 64).astype(np.float32)
    mat[100] = mat[7] + rng.randn(64).astype(np.float32) * 0.01  # planted dup
    rows = [(i, [float(x) for x in mat[i]]) for i in range(len(mat))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r.id_a, r.id_b) for r in dedup.embedding_near_dups(df, threshold=0.95).collect()}
    assert (7, 100) in pairs
    assert len(pairs) < 50  # random pairs don't survive

    # the hot-bucket cap bounds candidates even with degenerate short bands:
    # all-identical-direction vectors put EVERYTHING in one bucket per band
    same = [(i, [1.0 + i * 1e-9] * 64) for i in range(2000)]
    df2 = spark.createDataFrame(same, "vec_id long, embedding array<float>")
    monkeypatch.setattr(dedup, "EMBEDDING_MAX_BUCKET", 100)
    capped = dedup.embedding_near_dups(df2, threshold=0.999, sig_bits=32, chunks=4)
    assert capped.count() == 0  # every bucket over the cap -> no candidates


def _uf_components(pairs):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_vs_union_find(spark):
    import random

    rng = random.Random(99)
    # several chains/cliques/isolated pairs + a long path (tests iteration)
    pairs = [(i, i + 1) for i in range(0, 30)]            # one 31-node path
    pairs += [(100 + rng.randrange(20), 100 + rng.randrange(20)) for _ in range(40)]
    pairs += [(200, 201), (300, 301), (301, 302), (300, 302)]
    pairs = [(a, b) for a, b in pairs if a != b]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r.node: r.comp for r in dedup.connected_components(df).collect()}
    want = _uf_components(pairs)
    # oracle roots are min-of-component by construction (union by min)
    assert got == want
    assert got[30] == 0  # far end of the path reaches the min label


def test_near_dup_survivors(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.3)
    comps = {r.node: r.comp for r in dedup.connected_components(pairs).collect()}
    # component {0,1,2,6} keeps 0; {3,4} keeps 3; 5 and 7 have no pair
    assert comps == {0: 0, 1: 0, 2: 0, 6: 0, 3: 3, 4: 3}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    # same fixture through the checkpoint(reliable) path: identical labels,
    # and the checkpoint dir actually receives data
    pairs = [(i, i + 1) for i in range(0, 30)] + [(200, 201), (300, 302), (301, 302)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    ckdir = str(tmp_path / "cc_ckpt")
    got = {
        r.node: r.comp
        for r in dedup.connected_components(df, checkpoint_dir=ckdir).collect()
    }
    assert got == _uf_components(pairs)
    import os

    found = [f for _, _, fs in os.walk(ckdir) for f in fs]
    assert found, "reliable checkpoint wrote nothing"


def test_connected_components_unpersists_rounds(spark):
    # superseded rounds must release their storage: after convergence only
    # O(1) label/edge tables may remain cached (not one per round)
    jsc = spark.sparkContext._jsc.sc()
    before = len(jsc.getRDDStorageInfo())
    pairs = [(i, i + 1) for i in range(0, 30)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    labels = dedup.connected_components(df)
    labels.count()
    after = len(jsc.getRDDStorageInfo())
    # the returned labels table itself stays materialized; everything else
    # from ~8 rounds (edges + per-round labels) must be gone
    assert after - before <= 2, f"leaked {after - before} cached RDDs"


def test_connected_components_nonconvergence_raises(spark, monkeypatch):
    pairs = [(i, i + 1) for i in range(0, 40)]  # needs ~6 rounds
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    import pytest as _pytest

    monkeypatch.setattr(dedup, "CC_MAX_ITER", 2)
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(df)


def test_connected_components_long_path_graph(spark):
    """Regression (r5e): a PATH-shaped graph — the DBSCAN eps graph near
    percolation — must converge in O(log) large/small-star rounds. The old
    min-label+pointer-jump formulation moved the min one graph hop per
    round (a 3k-node snake was still unconverged at round 23 with
    compounding per-round cost); the star rewiring contracts chains
    geometrically."""
    import time

    n = 20000
    pairs = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    t0 = time.time()
    comp = dedup.connected_components(pairs)
    stats = comp.agg(
        F.count("*").alias("n"),
        F.countDistinct("comp").alias("k"),
        F.max("comp").alias("mx"),
    ).first()
    took = time.time() - t0
    assert (stats.n, stats.k, stats.mx) == (n, 1, 0)
    assert took < 120, f"path graph took {took:.0f}s — star contraction broken"
    # two disjoint chains -> two components labelled by their minima
    two = spark.range(200).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    ).filter(F.col("id_a") != 100).filter(F.col("id_b") != 100)
    comp2 = dedup.connected_components(two.filter((F.col("id_a") < 100) | (F.col("id_a") > 100)))
    ks = sorted(r.comp for r in comp2.select("comp").distinct().collect())
    assert ks == [0, 101]
