"""Deduplication operators for training-data pipelines.

Five families, each a first-class distributed operator over a documents /
embeddings table:

* exact        — md5 fingerprint groupBy (hash partitionable, one shuffle);
* ngram-jaccard— exact pairwise Jaccard over word n-gram shingles via an
                 INVERTED INDEX join (explode shingle -> self-join ->
                 count/union math). Fully SQL-expressible -> DuckDB oracle.
* minhash+LSH  — signature = per-permutation min over universal-hash of
                 crc32 shingle hashes (one fused Arrow UDF that also emits
                 the band bucket keys), bucket join -> candidate pairs ->
                 estimate; an md5 twin keeps the SQL-reproducible form;
* simhash      — 64-bit sign-of-weighted-bit-sums over crc32 word hashes
                 (one fused Arrow UDF; md5 twin for SQL), chunk-banded
                 Hamming pairs (pigeonhole: hamming<=c-1 guarantees an equal
                 chunk among c);
* embedding    — cosine near-dup with hyperplane-LSH candidates and exact
                 column-math cosine verification.

Scale notes: every candidate generator is an equi-join on a derived key
(fingerprint / shingle / band bucket), so the plans shuffle on keys with
bounded fan-out. ``max_df`` caps inverted-index hot keys (stop-shingles) —
the dedup analogue of hot-cell salting; dropped shingles are excluded from
BOTH candidate generation and the Jaccard estimate so the estimator stays
consistent.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


# shared cache-handle protocol (also used by the PBF reader)
from simple_osm_queries_spark.caching import track_persisted as _track_persisted

# --- exact -------------------------------------------------------------------


def fingerprint_col(*cols: Column) -> Column:
    return F.md5(F.concat_ws("\x1f", *cols))


def exact_dup_groups(df: DataFrame, id_col: str, *cols: str) -> DataFrame:
    """One row per duplicate group: fingerprint, group size, survivor id."""
    return (
        df.withColumn("fingerprint", fingerprint_col(*[F.col(c) for c in cols]))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n"), F.min(id_col).alias("keep_id"))
    )


# --- shingles ------------------------------------------------------------------


def words_col(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), r"\s+")


def shingles_col(text: Column, n: int) -> Column:
    """Distinct word n-gram shingles; a doc shorter than n words yields its
    whole text as one shingle."""
    w = words_col(text)
    ngrams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)),
    )
    return F.array_distinct(ngrams)


def shingles_udf(text: Column, n: int) -> Column:
    """Same shingle rule as :func:`shingles_col`, via one Arrow-batched UDF.

    Spark evaluates the nested transform/slice/concat_ws lambdas interpreted
    (~1.6 ms/doc measured); the Python tokenizer is ~30x cheaper. Token rule
    is identical (split lowercased trimmed text on \\s+), so results match
    the column form and the DuckDB oracle exactly.
    """
    import re

    ws = re.compile(r"\s+")

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _sh(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            w = ws.split(t.strip().lower()) if t else [""]
            if len(w) <= n:
                out.append([" ".join(w)])
            else:
                out.append(list({" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}))
        return pd.Series(out)

    return _sh(text)


# --- n-gram jaccard (inverted index; SQL-expressible) --------------------------

# word n-gram size of every shingle-based operator (jaccard and MinHash)
SHINGLE_N = 3


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    max_df: int | None = 1000,
) -> DataFrame:
    """All pairs of ``df`` (doc_id, text) with Jaccard(shingles_a,
    shingles_b) >= threshold over SHINGLE_N-word shingles.

    Candidates come from sharing at least one shingle (inverted index), so
    recall is exact for threshold > 0. ``max_df`` drops shingles occurring
    in more than max_df docs from index AND estimate (hot-key control) —
    ON BY DEFAULT: one stop-shingle shared by k docs contributes O(k^2)
    candidate pairs to the self-join, so an uncapped index goes quadratic
    on the hottest key at corpus scale. The cap bounds per-shingle fan-out
    at C(max_df,2) and, because dropped shingles leave BOTH the index and
    the size estimate, the Jaccard over surviving shingles stays exact.
    Pass ``max_df=None`` only for corpora known to have no hot shingles.

    Plan shape (r6 rewrite, guide §2.3/§2.4): the per-doc size ``sz`` is
    attached to every index row BEFORE the self-join (one window pass), so
    the candidate aggregate carries (inter, sz_a, sz_b) in one groupBy and
    the old post-agg joins of the O(candidate-pairs) table against
    ``sizes`` — two full shuffles of the quadratic intermediate — are gone
    (measured 26.6 s -> 13.0 s warm at 50k driver-shaped docs; the
    remaining cost is the irreducible pair-count aggregate, whose input is
    sum-of-df^2 rows on a flat-df corpus). A
    LENGTH-RATIO prefilter drops join rows whose pair cannot reach the
    threshold: jaccard <= min(sz)/max(sz) because inter <= min and
    union >= max, so requiring min >= t*max (with a 1e-9 slack so float
    rounding can only KEEP extra rows, never drop a qualifying pair —
    extras are re-filtered by the exact jaccard test) is result-identical
    and cuts the aggregate's input before the shuffle.
    """
    # persisted: the raw index feeds the hot-shingle count, the semi join
    # and the candidate-volume estimate; the sized filtered index feeds
    # both sides of the pair join
    raw = df.select(
        F.col("doc_id").alias("id"), F.explode(shingles_udf(F.col("text"), SHINGLE_N)).alias("sh")
    ).persist()
    handles = [raw]
    cnts = raw.groupBy("sh").count()
    if max_df is not None:
        kept = cnts.filter(F.col("count") <= max_df)
        sh = raw.join(kept.select("sh"), "sh", "left_semi")
    else:
        kept = cnts
        sh = raw
    from pyspark.sql import Window as _W

    sized = sh.withColumn("sz", F.count("*").over(_W.partitionBy("id"))).persist()
    handles.append(sized)
    a = sized.select(F.col("id").alias("id_a"), "sh", F.col("sz").alias("sz_a"))
    b = sized.select(F.col("id").alias("id_b"), "sh", F.col("sz").alias("sz_b"))
    t_safe = max(float(threshold) - 1e-9, 0.0)
    joined = (
        a.join(b, "sh")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.least(F.col("sz_a"), F.col("sz_b"))
                >= F.lit(t_safe) * F.greatest(F.col("sz_a"), F.col("sz_b"))
            )
        )
    )
    # SCALE-ADAPTIVE pair-aggregate partitioning (guide §2.2/§2.5): the
    # aggregate's group count ~ the inverted-index join fan-out
    # sum(df^2)/2, which on collision-heavy corpora is orders of magnitude
    # beyond the session's shuffle-partition default — each agg task then
    # builds a multi-million-entry hash table that thrashes the cache
    # (measured: 11.2 s agg at 32 partitions vs 6.3 s at 128 for an 85M-
    # group aggregate). The estimate is EXACT plan arithmetic over the
    # shingle-count table we compute anyway (one tiny agg over the cached
    # index; the same pass warms the cache for the main job), and the
    # explicit hash repartition is pinned by number so AQE does not
    # coalesce it back below the target ~1M groups/task.
    import math as _m

    est = kept.agg(F.sum(F.col("count") * F.col("count")).alias("s")).first().s or 0
    default_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    agg_parts = min(4096, max(default_parts, _m.ceil(est / 2 / 1_000_000)))
    if agg_parts > default_parts:
        joined = joined.repartition(agg_parts, "id_a", "id_b")
    out = (
        joined
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("inter"),
            F.min("sz_a").alias("sz_a"),
            F.min("sz_b").alias("sz_b"),
        )
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "inter", "sz_a", "sz_b", "jaccard")
    )
    return _track_persisted(out, handles)


# --- minhash + LSH -------------------------------------------------------------

_MH_PRIME = 4_294_967_311  # smallest prime > 2^32


def _perm_params(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic universal-hash parameters (a odd, < 2^31)."""
    params = []
    a, b = 1_103_515_245, 12_345
    x = 42
    for _ in range(num_perm):
        x = (a * x + b) % (1 << 31)
        pa = (x | 1) % (1 << 31)
        x = (a * x + b) % (1 << 31)
        pb = x % (1 << 31)
        params.append((pa, pb))
    return params


def minhash_from_hashes_udf(hashes: Column, num_perm: int = 64) -> Column:
    """Arrow-batched numpy MinHash over a materialized shingle-hash array
    (the md5 gate twin's signature step).

    Spark's higher-order array functions are interpreted (no whole-stage
    codegen), so 64 transform+array_min passes cost ~100x a vectorized
    numpy outer-min. Shingle hashing stays JVM-side; only the (num_perm x
    n_shingles) min-reduction crosses to Arrow.
    """
    params = np.array(_perm_params(num_perm), dtype=np.uint64)  # (P, 2)
    pa = params[:, 0][:, None]
    pb = params[:, 1][:, None]

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(hs: pd.Series) -> pd.Series:
        out = []
        for h in hs:
            if h is None or len(h) == 0:
                out.append([int(_MH_PRIME)] * num_perm)
                continue
            arr = np.asarray(h, dtype=np.uint64)[None, :]  # (1, S)
            mins = ((pa * arr + pb) % np.uint64(_MH_PRIME)).min(axis=1)
            out.append([int(x) for x in mins])
        return pd.Series(out)

    return _sig(hashes)


def lsh_candidate_pairs(
    signed: DataFrame,
    id_col: str = "id",
    sig_col: str = "sig",
    bands: int = 16,
    num_perm: int | None = None,
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing at least one LSH band bucket.

    ``bands`` must divide the signature length: a non-divisor would silently
    drop the trailing num_perm % bands signature entries from every bucket
    key, reducing recall with no error. Pass ``num_perm`` to validate at
    plan time (callers that built the signature know it).

    The join key is the raw band-slice string, so an external system (the
    DuckDB oracle) reproduces the bucketing exactly. The crc32 fast path
    does not come here: it joins on fused splitmix64 keys instead.
    """
    if num_perm is not None and num_perm % bands != 0:
        raise ValueError(
            f"bands={bands} must divide num_perm={num_perm} "
            f"(remainder {num_perm % bands} signature entries would be ignored)"
        )
    num_perm_col = F.size(F.col(sig_col))
    rows_per_band = (num_perm_col / bands).cast("int")

    def bucket_of(bi: Column) -> Column:
        return F.concat_ws(
            ",",
            F.transform(
                F.slice(F.col(sig_col), bi * rows_per_band + 1, rows_per_band),
                lambda v: v.cast("string"),
            ),
        )

    buckets = signed.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.struct(bi.alias("band"), bucket_of(bi).alias("bucket")),
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    a = buckets.select(F.col("id").alias("id_a"), "band", "bucket")
    b = buckets.select(F.col("id").alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


_MH_BLOCK_DOCS = 2048  # see blocking note below


def _minhash_batch(texts, n: int, pa, pb) -> np.ndarray:
    """(n_docs, num_perm) MinHash matrix for a whole Arrow batch: tokenize
    per doc (python strings — unavoidable), crc32 every shingle in one C
    pass, then the (num_perm x shingles) universal-hash matrix reduced per
    doc with minimum.reduceat — in BLOCKS of ~2k docs. Blocking matters:
    one matrix per doc pays ~40 us of numpy dispatch each (the r4 shape),
    one matrix for the whole batch blows the cache (measured 17x slower
    than blocked at 20k docs); ~2k-doc blocks keep the working set in L2
    and measured ~1.5x faster than the per-doc loop (VERDICT r4 #7)."""
    import re
    import zlib

    ws = re.compile(r"\s+")
    sh_all: list[str] = []
    lens = np.empty(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        w = ws.split(t.strip().lower()) if t else [""]
        if len(w) <= n:
            sh = {" ".join(w)}
        else:
            sh = {" ".join(w[k : k + n]) for k in range(len(w) - n + 1)}
        lens[i] = len(sh)
        sh_all.extend(sh)
    flat = np.fromiter(
        (zlib.crc32(s.encode()) for s in sh_all), dtype=np.uint64, count=len(sh_all)
    )
    starts = np.zeros(len(texts), dtype=np.int64)
    starts[1:] = np.cumsum(lens)[:-1]
    prime = np.uint64(_MH_PRIME)
    outs = []
    i = 0
    while i < len(texts):
        j = min(i + _MH_BLOCK_DOCS, len(texts))
        lo = starts[i]
        hi = starts[j - 1] + lens[j - 1]
        mat = (pa * flat[lo:hi][None, :] + pb) % prime
        outs.append(np.minimum.reduceat(mat, starts[i:j] - lo, axis=1).T)
        i = j
    return np.concatenate(outs) if len(outs) > 1 else outs[0]


def _splitmix64(z: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain mixing constants)."""
    z = z + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _band_buckets(sigs: np.ndarray, bands: int) -> np.ndarray:
    """(n_docs, bands) int64 bucket keys: per band, chain-splitmix the
    band's signature values with the band index folded in, so one long
    column is the complete LSH join key (band collisions only ever ADD
    candidates, which the jaccard filter then rejects)."""
    n_docs, num_perm = sigs.shape
    rows = num_perm // bands
    acc = np.broadcast_to(
        np.arange(1, bands + 1, dtype=np.uint64)[None, :], (n_docs, bands)
    ).copy()
    view = sigs.reshape(n_docs, bands, rows)
    for r in range(rows):
        acc = _splitmix64(acc ^ view[:, :, r].astype(np.uint64))
    return acc.view(np.int64)


def minhash_sig_buckets_py(text: Column, num_perm: int = 64, bands: int = 16) -> Column:
    """struct<sig: binary, buckets: array<long>> — the signature (packed
    little-endian uint32, num_perm values) AND its LSH band bucket keys
    from one Arrow pass. Fuses what r4 did as 16
    interpreted slice/concat/xxhash64 expressions over the signature array
    (the dominant cost of the candidate stage at 1M docs, VERDICT r4 #7)."""
    if num_perm % bands != 0:
        raise ValueError(f"bands={bands} must divide num_perm={num_perm}")
    params = np.array(_perm_params(num_perm), dtype=np.uint64)
    pa = params[:, 0][:, None]
    pb = params[:, 1][:, None]

    @F.pandas_udf("struct<sig: binary, buckets: array<long>>")
    def _sigb(texts: pd.Series) -> pd.DataFrame:
        if not len(texts):
            return pd.DataFrame({"sig": [], "buckets": []})
        mins = _minhash_batch(texts, SHINGLE_N, pa, pb)
        buckets = _band_buckets(mins, bands)
        # signature ships as packed little-endian uint32 — halves the
        # Arrow/persist/shuffle footprint vs array<long>. _MH_PRIME is
        # 2^32+15, so the 15 values in [2^32, prime) wrap on the cast;
        # both compare sides wrap identically, and the only effect on the
        # estimator is a ~2^-32 extra false-equality chance per slot
        # (far below the 1/num_perm estimator resolution).
        packed = np.ascontiguousarray(mins.astype("<u4"))
        return pd.DataFrame(
            {
                "sig": [packed[i].tobytes() for i in range(len(texts))],
                "buckets": list(buckets),
            }
        )

    return _sigb(text)


def _jaccard_est_binary(num_perm: int) -> "Column":
    """jaccard estimate over two packed-uint32 signature columns — one
    vectorized frombuffer+reshape per Arrow batch, no interpreted zip_with."""

    @F.pandas_udf(T.DoubleType())
    def _est(a: pd.Series, b: pd.Series) -> pd.Series:
        if not len(a):
            return pd.Series([], dtype=np.float64)
        va = np.frombuffer(b"".join(a), dtype=np.uint32).reshape(-1, num_perm)
        vb = np.frombuffer(b"".join(b), dtype=np.uint32).reshape(-1, num_perm)
        return pd.Series((va == vb).mean(axis=1))

    # asNondeterministic (guide §4.4): callers filter on the estimate, and
    # the pushed-down predicate would evaluate the UDF twice per pair; the
    # function is deterministic in fact, the flag only pins one evaluation
    return _est.asNondeterministic()


def md5_shingle_hashes_col(text: Column) -> Column:
    """32-bit shingle hashes from the first 8 hex chars of md5 — pure JVM
    column math AND reproducible in ANSI SQL (DuckDB:
    CAST('0x'||substr(md5(sh),1,8) AS BIGINT)), unlike crc32/xxhash64.
    Slower than the crc32 numpy path; used where an external oracle must
    recompute identical signatures."""
    return F.transform(
        shingles_col(text, SHINGLE_N),
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
    )


def minhash_near_dups(
    df: DataFrame,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    shingle_hash: str = "crc32",
) -> DataFrame:
    """MinHash-LSH near-dup pairs of ``df`` (doc_id, text) with
    signature-based Jaccard estimate over SHINGLE_N-word shingles.

    ``shingle_hash``: 'crc32' (production — whole pipeline in one Arrow
    UDF, candidates join on its fused splitmix64 band keys) or 'md5'
    (SQL-reproducible 32-bit hash, candidates join on raw band-slice
    strings; the gate twin). Both are uniform 32-bit hashes under the same
    universal-hash permutations, so estimator quality is identical; only
    the hash constants differ.
    """
    # cached: the signature table is consumed three times (bucketing + both
    # sides of the pair join); signatures are tiny (num_perm longs/doc) and
    # recomputing the tokenizer per use would triple the dominant cost
    if shingle_hash == "crc32":
        # fused fast path: signature AND band buckets in one Arrow pass;
        # candidates join on ONE precomputed long key instead of 16
        # interpreted slice/concat/xxhash64 expressions (VERDICT r4 #7)
        sb_col = minhash_sig_buckets_py(F.col("text"), num_perm, bands)
        signed = df.select(
            F.col("doc_id").alias("id"), sb_col.alias("sb")
        ).select(
            "id", F.col("sb.sig").alias("sig"), F.col("sb.buckets").alias("buckets")
        ).persist()
        bk = signed.select("id", F.explode("buckets").alias("bucket"))
        pairs = (
            bk.select(F.col("id").alias("id_a"), "bucket")
            .join(bk.select(F.col("id").alias("id_b"), "bucket"), "bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    elif shingle_hash == "md5":
        sig = minhash_from_hashes_udf(md5_shingle_hashes_col(F.col("text")), num_perm)
        signed = df.select(F.col("doc_id").alias("id"), sig.alias("sig")).persist()
        pairs = lsh_candidate_pairs(signed, "id", "sig", bands, num_perm=num_perm)
    else:
        raise ValueError(f"unknown shingle_hash {shingle_hash!r} (crc32|md5)")
    sa = signed.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = signed.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    joined = pairs.join(sa, "id_a").join(sb, "id_b")
    if shingle_hash == "crc32":
        # packed-binary signatures: vectorized equality count per Arrow
        # batch (no interpreted zip_with over 2x64-element arrays per pair)
        est_col = _jaccard_est_binary(num_perm)(F.col("sig_a"), F.col("sig_b"))
    else:
        est_col = F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                lambda eq: eq,
            )
        ) / F.lit(num_perm)
    est = (
        joined.withColumn("jaccard_est", est_col)
        .filter(F.col("jaccard_est") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard_est")
    )
    return _track_persisted(est, [signed])


# --- simhash ---------------------------------------------------------------------


# signature width of the md5 SimHash twin: 15 md5 hex chars per word hash
MD5_SIM_BITS = 60


def simhash_from_word_hashes(word_hashes: Column) -> Column:
    """Bit-vote reduction: sign of (popcount*2 - n) per bit position over
    MD5_SIM_BITS bits, packed into a long — the md5 gate twin's vote step
    over JVM word hashes.

    Vectorized across the whole Arrow batch: flatten every row's hashes
    into one array, unpack bits as a (total_words x bits) matrix, and
    add.reduceat per row — no per-row (let alone per-bit) Python loop
    (the looped form measured 23k docs/s at 1M docs; this is ~8x)."""
    shifts = np.arange(MD5_SIM_BITS, dtype=np.uint64)
    weights = np.uint64(1) << shifts

    @F.pandas_udf(T.LongType())
    def _votes(hashes: pd.Series) -> pd.Series:
        n_rows = len(hashes)
        out = np.zeros(n_rows, dtype=np.uint64)
        lens = np.fromiter(
            (0 if h is None else len(h) for h in hashes), dtype=np.int64, count=n_rows
        )
        nz = np.flatnonzero(lens)
        if len(nz):
            flat = np.concatenate(
                [np.asarray(hashes.iloc[i], dtype=np.uint64) for i in nz]
            )
            bitmat = ((flat[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
            starts = np.zeros(len(nz), dtype=np.int64)
            starts[1:] = np.cumsum(lens[nz])[:-1]
            ones = np.add.reduceat(bitmat, starts, axis=0)  # (nnz, bits)
            votes = 2 * ones - lens[nz][:, None]
            out[nz] = ((votes > 0).astype(np.uint64) * weights).sum(
                axis=1, dtype=np.uint64
            )
        return pd.Series(out.view(np.int64))

    return _votes(word_hashes)


def simhash_py(text: Column) -> Column:
    """Whole SimHash pipeline (tokenize -> crc32 word hash -> splitmix64
    widen -> bit votes) in ONE Arrow-batched pandas UDF — the production
    path (VERDICT r4 #7: the r4 form spent its time in the interpreted JVM
    word-hash transform and in shipping 20M-element hash arrays through
    Arrow; this crosses Python once with just the text column). Different
    hash constants than the md5 twin, same estimator."""
    import re
    import zlib

    @F.pandas_udf(T.LongType())
    def _sim(texts: pd.Series) -> pd.Series:
        if not len(texts):
            return pd.Series([], dtype=np.int64)
        ws = re.compile(r"\s+")
        all_words: list[str] = []
        lens = np.empty(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            w = ws.split(t.strip().lower()) if t else [""]
            lens[i] = len(w)
            all_words.extend(w)
        h = _splitmix64(
            np.fromiter(
                (zlib.crc32(w.encode()) for w in all_words),
                dtype=np.uint64,
                count=len(all_words),
            )
        )
        starts = np.zeros(len(texts), dtype=np.int64)
        starts[1:] = np.cumsum(lens)[:-1]
        weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
        packed = np.empty(len(texts), dtype=np.uint64)
        # blocked like _minhash_batch: the (words x 64) bit matrix for a
        # whole batch blows the cache; ~2k-doc blocks stay in L2
        i = 0
        while i < len(texts):
            j = min(i + _MH_BLOCK_DOCS, len(texts))
            lo = starts[i]
            hi = starts[j - 1] + lens[j - 1]
            bit_mat = np.unpackbits(
                h[lo:hi].view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            ).astype(np.int32)
            ones = np.add.reduceat(bit_mat, starts[i:j] - lo, axis=0)
            votes = 2 * ones - lens[i:j, None]
            packed[i:j] = ((votes > 0).astype(np.uint64) * weights).sum(
                axis=1, dtype=np.uint64
            )
            i = j
        return pd.Series(packed.view(np.int64))

    return _sim(text)


def simhash_md5_col(text: Column) -> Column:
    """SQL-reproducible SimHash: 60-bit word hashes from the first 15 md5
    hex chars (DuckDB: CAST('0x'||substr(md5(w),1,15) AS BIGINT)). Same
    estimator as the crc32 production form, different hash constants;
    used by the gate so the oracle can recompute identical signatures."""
    word_hashes = F.transform(
        words_col(text),
        lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long"),
    )
    return simhash_from_word_hashes(word_hashes)


def _chunk_bands(signed: DataFrame, chunks: int, width: int, *carry: str) -> DataFrame:
    """(id, *carry, chunk, val): one row per ``width``-bit chunk of the
    ``sim`` signature — the equi-join key of chunk-banded LSH candidates."""
    mask = (1 << width) - 1
    return signed.select(
        "id",
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("sim", c * width).bitwiseAND(F.lit(mask)).alias("val"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("cv"),
    ).select("id", *carry, F.col("cv.chunk").alias("chunk"), F.col("cv.val").alias("val"))


# signature chunks of the Hamming candidates: pigeonhole-complete for
# max_hamming <= HAMMING_CHUNKS - 1; tests patch it for wider searches
HAMMING_CHUNKS = 4


def hamming_pairs(
    signed: DataFrame,
    id_col: str = "id",
    sig_col: str = "sim",
    max_hamming: int = 3,
    bits: int = 64,
) -> DataFrame:
    """Pairs with Hamming(sig) <= max_hamming over a 64-bit signature column.

    Candidates: equal (bits/HAMMING_CHUNKS)-bit chunk in any of the
    HAMMING_CHUNKS positions — pigeonhole-complete for max_hamming <=
    HAMMING_CHUNKS-1. Shared by SimHash (text) and pHash (image) near-dup
    detection.

    The signature plan is persisted (the self-join would recompute its UDF
    for both sides) and the handle rides on the result — long-lived callers
    release it with ``caching.unpersist_intermediates(result)`` after
    materializing, like the rest of the dedup family.
    """
    assert max_hamming < HAMMING_CHUNKS, "pigeonhole completeness requires max_hamming < chunks"
    # persisted: the self-join consumes the signature plan TWICE, and the
    # signature usually carries the Arrow bit-vote UDF (simhash/phash) —
    # without the persist the UDF recomputes for both join sides (measured
    # ~45% of simhash_near_dups wall time at 1M docs)
    sh = signed.select(F.col(id_col).alias("id"), F.col(sig_col).alias("sim")).persist()
    chunked = _chunk_bands(sh, HAMMING_CHUNKS, bits // HAMMING_CHUNKS, "sim")
    a = chunked.select(F.col("id").alias("id_a"), F.col("sim").alias("sim_a"), "chunk", "val")
    b = chunked.select(F.col("id").alias("id_b"), F.col("sim").alias("sim_b"), "chunk", "val")
    out = (
        a.join(b, ["chunk", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .filter(F.col("hamming") <= F.lit(max_hamming))
        .select("id_a", "id_b", "hamming")
    )
    return _track_persisted(out, [sh])


def simhash_near_dups(
    df: DataFrame,
    max_hamming: int = 3,
    word_hash: str = "crc32",
) -> DataFrame:
    """Text near-dup pairs of ``df`` (doc_id, text) with Hamming(simhash)
    <= max_hamming.

    ``word_hash``: 'crc32' (production — fused single-UDF pipeline,
    VERDICT r4 #7) or 'md5' (SQL-reproducible 60-bit gate twin — see
    simhash_md5_col)."""
    if word_hash == "crc32":
        sim, bits = simhash_py(F.col("text")), 64
    elif word_hash == "md5":
        sim, bits = simhash_md5_col(F.col("text")), MD5_SIM_BITS
    else:
        raise ValueError(f"unknown word_hash {word_hash!r} (crc32|md5)")
    sh = df.select(F.col("doc_id").alias("id"), sim.alias("sim"))
    return hamming_pairs(sh, "id", "sim", max_hamming, bits=bits)


def phash_near_dups(
    df: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_hamming: int = 3,
) -> DataFrame:
    """Image near-dup pairs on a perceptual-hash column (the input_hint
    `phash: int64`): chunk-banded candidates + exact popcount verify —
    the image twin of simhash_near_dups, all integer column math."""
    sh = df.select(F.col(id_col).alias("id"), F.col(phash_col).alias("sim"))
    return hamming_pairs(sh, "id", "sim", max_hamming)


# --- embedding cosine near-dup -----------------------------------------------------


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v))


def cosine_col(a: Column, b: Column) -> Column:
    """Column-form cosine (interpreted F.aggregate folds — fine per-row
    against a literal query vector; for candidate-PAIR verification at
    volume use :func:`pairwise_cosine_udf` instead, BENCH.md r5e)."""
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def pairwise_cosine_udf() -> "F.Column":
    """Arrow-batched pairwise cosine: one numpy pass per batch (row-wise
    einsum dot + norms) instead of three interpreted F.aggregate folds per
    pair. On the gate's dyadic-rational fixture every sum is exact in
    float64 regardless of accumulation order, so this is bit-identical to
    the fold form there (and to the DuckDB twin); on arbitrary floats it
    differs only in summation order."""

    @F.pandas_udf(T.DoubleType())
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        if not len(va):
            return pd.Series([], dtype="float64")
        a = np.asarray([np.asarray(v, dtype=np.float64) for v in va])
        b = np.asarray([np.asarray(v, dtype=np.float64) for v in vb])
        dots = np.einsum("ij,ij->i", a, b)
        na = np.sqrt(np.einsum("ij,ij->i", a, a))
        nb = np.sqrt(np.einsum("ij,ij->i", b, b))
        return pd.Series(dots / (na * nb))

    # asNondeterministic (guide §4.4): the cosine threshold filter would
    # otherwise be pushed below the projection and score every pair twice
    return _cos.asNondeterministic()


# seed of the random hyperplanes of every embedding LSH signature
HYPERPLANE_SEED = 42


def _hyperplanes(dim: int, bits: int) -> np.ndarray:
    """(bits, dim) deterministic +/-1 hyperplane matrix from
    HYPERPLANE_SEED — the one planes rule shared by the signature UDF and
    query-side signatures (similarity.cosine_topk_ann)."""
    return np.random.RandomState(HYPERPLANE_SEED).choice([-1.0, 1.0], size=(bits, dim))


def hyperplane_signature_col(vec: Column, dim: int, bits: int = 32) -> Column:
    """Random-hyperplane LSH signature as a long — hyperplanes come from
    :func:`_hyperplanes` (bit, dim index).

    One numpy matmul per Arrow batch: the previous per-bit column form ran
    ``bits`` interpreted F.aggregate folds per row (measured 74k rows/s at
    1M x 64d x 32 bits; the matmul path is ~20x). Supports bits up to 64
    (bit 63 wraps into the sign via the uint64 view)."""
    planes = _hyperplanes(dim, bits)
    weights = np.uint64(1) << np.arange(bits, dtype=np.uint64)

    @F.pandas_udf(T.LongType())
    def _sig(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype="int64")
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
        pos = (mat @ planes.T) > 0
        sig = (pos.astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)
        return pd.Series(sig.view(np.int64))

    # asNondeterministic (guide §4.4): consumers equi-join and filter on
    # chunk values derived from the signature; pushed-down isnotnull/
    # equality predicates would re-run the matmul per consumer side
    return _sig.asNondeterministic()(vec)


# vector length of embedding_near_dups' input
EMBEDDING_DIM = 64
# embedding LSH buckets larger than this are dropped from candidate
# generation; tests patch it to check the cap
EMBEDDING_MAX_BUCKET = 100_000

# size guard of the embedding verify's broadcast hint (plan-size estimate of
# the (id, vector) table); tests patch it to 0 to force the shuffled joins
VERIFY_BROADCAST_BYTES = 256 * 1024 * 1024


def embedding_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    sig_bits: int = 64,
    chunks: int = 4,
) -> DataFrame:
    """Cosine >= threshold pairs: hyperplane-LSH chunk candidates, exact
    cosine verification. Approximate recall (LSH), exact precision
    (verification).

    Verify: candidate pairs re-attach both vectors via two equi-joins
    (shuffle bytes ~ |candidates| x 2 x dim); when the vector table's
    plan-size estimate fits ``VERIFY_BROADCAST_BYTES`` those joins are
    broadcast-HINTED (one JVM copy per executor, pair table not
    re-shuffled — measured verify ~2.5 -> ~0.8 s at 250k x 64-d), and
    above the guard they stay shuffled. Joins, not a gather from a
    collected numpy matrix: that form holds the whole matrix in every
    Python worker and measured 24.9 s mid-bench vs 6.8 s for the joins.

    Shuffle shape: candidate generation (chunk explode x`chunks`, the
    equi-join, and the distinct) carries ONLY (id, chunk, val) — 24 bytes a
    row — never the embedding. Vectors join back onto the deduplicated
    (id_a, id_b) pairs for the cosine verify, so shuffle bytes scale with
    candidate count, not candidate count x vector dim.

    Bucket sizing matters at scale: a band of w = sig_bits/chunks bits has
    2^w values, and RANDOM vector pairs collide per band with prob ~2^-w —
    the old 8-bit default went quadratic at 1M rows (measured: ~8e9
    candidate pairs -> executor OOM). Defaults are now 16-bit bands, and
    buckets larger than EMBEDDING_MAX_BUCKET leave candidate generation
    entirely (an oversized bucket is random collisions, not near-dups —
    the LSH analogue of ngram max_df).
    """
    sh = df.select(
        F.col(id_col).alias("id"),
        hyperplane_signature_col(F.col(vec_col), EMBEDDING_DIM, sig_bits).alias("sim"),
    )
    # NOT persisted (r6 A/B): the hyperplane matmul UDF is cheap enough
    # that recomputing it per consumer ties with cache materialization
    # (3.1 vs 3.5 s at 250k x 64-d); handles stay for interface parity.
    handles: list = []
    chunked = _chunk_bands(sh, chunks, sig_bits // chunks)
    small = (
        chunked.groupBy("chunk", "val")
        .count()
        .filter(F.col("count") <= EMBEDDING_MAX_BUCKET)
        .select("chunk", "val")
    )
    chunked = chunked.join(small, ["chunk", "val"], "left_semi")
    a = chunked.select(F.col("id").alias("id_a"), "chunk", "val")
    b = chunked.select(F.col("id").alias("id_b"), "chunk", "val")
    pairs = (
        a.join(b, ["chunk", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    va = vecs.withColumnsRenamed({"id": "id_a", "vec": "vec_a"})
    vb = vecs.withColumnsRenamed({"id": "id_b", "vec": "vec_b"})
    # broadcast-HINT the vector sides when the table is small enough (r6,
    # guide §3.1): the shuffled verify joins move ~|candidates| x 2 x dim
    # of vector payload PLUS re-shuffle the pair table twice; a broadcast
    # hash join moves the vector table once per executor instead (ONE JVM
    # copy, no per-Python-worker matrix), and the pair table streams
    # map-side. Measured at 250k x 64-d / 3.8M
    # candidate pairs: verify stage ~2.5 -> ~0.8 s (end-to-end 5.1 ->
    # 3.3 s), results identical (same join, different strategy). The size
    # guard keeps the any-scale shuffled plan when the vector table is too
    # big to broadcast or has no usable estimate.
    try:
        est = int(
            df.select(id_col, vec_col)._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # pragma: no cover — internal-API drift
        est = None
    if est is not None and est <= VERIFY_BROADCAST_BYTES:
        va, vb = F.broadcast(va), F.broadcast(vb)
    return _track_persisted(
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", pairwise_cosine_udf()(F.col("vec_a"), F.col("vec_b")))
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", "cosine"),
        handles,
    )


# --- near-dup components (pairs -> groups -> survivors) ------------------------


# rounds before connected_components gives up (2^25-diameter coverage);
# tests patch it to force the non-convergence error
CC_MAX_ITER = 25


def connected_components(pairs: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
    """(node, comp) for every node in ``pairs`` (id_a, id_b) — comp = min
    id reachable.

    The standard last step of a near-dup pipeline: candidate pairs form an
    undirected graph; each connected component is one duplicate group and
    keeps one survivor. Algorithm: alternating LARGE-STAR / SMALL-STAR
    edge rewiring (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14 — the published O(log²) bound, O(log) in practice):

    * large-star, per center v: every neighbor LARGER than v rewires to
      m = min(Γ(v) ∪ {v});
    * small-star, per center v: v and its SMALLER neighbors rewire to the
      min of that set;

    each step is one groupBy(min) + one equi-join over the edge table, and
    the edge count never grows. Iterated to a fixpoint the edges form
    stars rooted at each component's minimum id, read off as (node, comp).
    Plain min-label propagation (even with pointer-doubling shortcuts on
    the label table) moves information ONE GRAPH HOP per edge pass, so a
    path-shaped graph — the DBSCAN eps graph near percolation — needs
    O(diameter) passes (measured: a 3k-node snake still shrank by ~1
    label/round at round 23 while per-round wall time compounded); star
    rewiring contracts such chains geometrically. Every round is
    checkpointed eagerly so lineage stays flat.

    Durability: by default rounds use ``localCheckpoint`` (blocks live on
    executors — fine single-node / interactive, but a lost executor kills
    the job mid-iteration on a real cluster). Pass ``checkpoint_dir`` (an
    HDFS/object-store path at scale) to use reliable ``checkpoint()``
    instead — each round persists to storage and survives executor loss.
    Superseded rounds are unpersisted as soon as the next round
    materializes, so storage stays O(1) rounds, not O(log diameter).

    Raises RuntimeError if labels still change after CC_MAX_ITER rounds
    (a hit means pathological input that must not silently return
    half-propagated components).
    """
    spark = pairs.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _ckpt(df: DataFrame, eager: bool = True) -> DataFrame:
        # eager=False marks the plan for checkpointing and lets the NEXT
        # action over it materialize the blocks (RDD checkpointing fires at
        # the end of any job that computes the marked RDD; the star-form
        # check's groupBy consumes every partition, so nothing is left
        # uncomputed). Fusing the materialization into the check saves one
        # scheduled job per round (r6 continuation; measured below).
        if checkpoint_dir is not None:
            return df.checkpoint(eager=eager)
        return df.localCheckpoint(eager=eager)

    def _free(df: DataFrame) -> None:
        # DataFrame.unpersist() only clears cache-manager entries; a
        # checkpointed frame's blocks belong to the wrapped LogicalRDD —
        # reach it through the analyzed plan and unpersist that RDD
        try:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:  # pragma: no cover — plan shape drift: leak, don't crash
            df.unpersist()

    e = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    # all input nodes (star rewiring can drop a component's ROOT from the
    # edge table once the component is a star - it must still get a label)
    # lazy: materialized by the final labels checkpoint (the only consumer)
    nodes = _ckpt(
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct(),
        eager=False,
    )
    # ORIENTED canonical edge table: one row (a, b) with a > b per
    # undirected edge (r6, guide §2.3 "shuffle fewer bytes"): both star
    # steps are expressible on the half-sized representation — every
    # per-round shuffle (dedup, groupBy-min, join) moves half the rows of
    # the previous symmetric form (measured 7.8 s -> 4.2 s warm / 11.0 ->
    # 8.8 s cold at 1M docs / 1M pairs), and the rewired output of each
    # step is already
    # oriented (rewiring always points at a smaller node), so only the
    # small-star output needs re-canonicalization.
    # lazy: the star-form check below materializes the blocks in ITS job
    edges = _ckpt(
        e.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        eager=False,
    )

    def _labels_of(g: DataFrame) -> DataFrame:
        # (node, comp): comp = min(self, min smaller neighbor). At the star
        # fixpoint every member's single oriented edge points at the root
        # (comp=root); roots/isolated nodes appear on no `a` side
        # (comp=self). A node's LARGER neighbors can never be its min, so
        # the oriented view loses nothing.
        mn = g.groupBy(F.col("a").alias("node")).agg(F.min("b").alias("mn"))
        return nodes.join(mn, "node", "left").select(
            "node",
            F.least(F.coalesce(F.col("mn"), F.col("node")), F.col("node")).alias(
                "comp"
            ),
        )

    def _is_star_forest(g: DataFrame) -> bool:
        # EXACT fixpoint test on the oriented table (r6, replaces the r5
        # fingerprint-stability check that needed one extra confirming
        # LS+SS round): the iteration's fixpoints are precisely star
        # forests rooted at component minima, i.e. (1) no node appears on
        # both the hi and the lo side, and (2) no hi node points at two
        # hubs. One unpivot+aggregate job over the checkpointed table —
        # a violation short-circuits via limit(1). On star form, LS maps
        # every edge (m, r) to itself (the root has no smaller neighbor)
        # and SS re-emits (m, min{r}) = (m, r), so star form <=> no
        # further change — detection fires in the round that PRODUCES the
        # fixpoint instead of the round after (measured: one full round
        # saved on every converging input).
        # LOAD-BEARING for the lazy round checkpoints: the caller's
        # localCheckpoint(eager=False) blocks are materialized only by THIS
        # job, and only because the groupBy's shuffle map stage computes
        # EVERY partition of ``g`` before limit(1) runs. Keep this check a
        # full-input shuffle; an action that can prune partitions (a
        # limit/take/isEmpty straight over ``g``) would leave partitions
        # uncomputed, and the next round's read of them fails later with
        # "Checkpoint block not found".
        t = g.select(F.col("a").alias("n"), F.lit(1).alias("h")).unionByName(
            g.select(F.col("b").alias("n"), F.lit(0).alias("h"))
        )
        bad = (
            t.groupBy("n")
            .agg(F.sum("h").alias("nh"), F.min("h").alias("mn"), F.max("h").alias("mx"))
            .filter(((F.col("mn") == 0) & (F.col("mx") == 1)) | (F.col("nh") > 1))
            .limit(1)
            .count()
        )
        return bad == 0

    converged = _is_star_forest(edges)
    for _ in range(CC_MAX_ITER):
        if converged:
            break
        # LARGE-STAR: per center c, neighbors n > c rewire to
        # m(c) = min(neighbors(c) + {c}). On oriented rows: m(c) =
        # coalesce(min smaller neighbor, c) (larger neighbors are never
        # the min), and each oriented edge (a, b) is exactly center b's
        # one larger neighbor a, so LS maps (a, b) -> (a, m(b)) — already
        # oriented since m(b) <= b < a.
        mins = edges.groupBy("a").agg(F.min("b").alias("mn"))
        ls = edges.join(
            mins.select(F.col("a").alias("b"), "mn"), "b", "left"
        ).select("a", F.coalesce("mn", F.col("b")).alias("b"))
        # consumed twice inside this round (SS groupBy + SS join) — plain
        # persist; it materializes during the round-end checkpoint and its
        # lineage is one shallow groupBy+join over the checkpointed
        # previous round (checkpointing HERE too doubled per-round
        # materializations, measured r5)
        g1 = ls.persist()
        # SMALL-STAR: per center a, a and its smaller neighbors {b} rewire
        # to m = min of that set — centers are exactly the `a` side of the
        # oriented table
        minsS = g1.groupBy("a").agg(F.min("b").alias("mn"))
        ss = (
            g1.join(minsS, "a")
            .select(F.col("b").alias("x"), F.col("mn").alias("m"))
            .unionByName(
                minsS.select(F.col("a").alias("x"), F.col("mn").alias("m"))
            )
        )
        prev_edges = edges
        # lazy checkpoint + check-first ordering: the star-form check's job
        # materializes this round's blocks (one job where eager ckpt + check
        # were two); the previous round and g1 are freed only AFTER the new
        # round is materialized — their blocks feed its lineage
        edges = _ckpt(
            ss.select(
                F.greatest("x", "m").alias("a"), F.least("x", "m").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .distinct(),
            eager=False,
        )
        converged = _is_star_forest(edges)
        _free(prev_edges)
        g1.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {CC_MAX_ITER} "
            "large-star/small-star rounds; refusing to return partially "
            "contracted components"
        )
    labels = _ckpt(_labels_of(edges))
    _free(edges)
    _free(nodes)
    return labels
