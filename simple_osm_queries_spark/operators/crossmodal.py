"""Cross-modal consistency operators over image+caption tables.

The engine's target table is image+caption pairs (input_hint: image_id,
bytes, w, h, fmt, caption, phash). The dedup family finds duplicates
WITHIN one modality; the classic training-data defects live BETWEEN them:

* ``image_caption_conflicts`` — pairs whose IMAGES are near-identical
  (perceptual-hash Hamming <= ``max_hamming``) but whose CAPTIONS
  disagree (exact word-n-gram Jaccard <= ``max_caption_jaccard``).
  The "same picture, contradictory labels" detector: such pairs are
  labeling noise or spam and poison contrastive training.
* ``stock_captions`` — caption fingerprints shared by >= ``min_images``
  DISTINCT images ("image unavailable", boilerplate alt-text, SEO spam).
  The inverse defect: one label glued onto many unrelated pictures.

Physical shapes:
* conflicts = `dedup.phash_near_dups` candidate machinery (chunk-banded
  Hamming buckets, popcount verify — integer column math, no all-pairs)
  + caption shingle sets joined back per pair. Shingle arrays are
  computed ONCE per document on the base table (the interpreted
  transform lambda runs per doc, never per pair) and the pair-level
  Jaccard is `array_intersect`/`array_union` size math (JVM-native).
  Shuffle budget: the phash bucket join + two caption join-backs onto
  the (bounded) pair set.
* stock_captions = one groupBy on the caption fingerprint with an exact
  `count_distinct(phash)` — two-phase aggregate, partial-combinable.

The reference has no multimodal notion at all (its records are tagged
points, /root/reference/src/index/grid_reader.go); both operators are
engine additions demanded by the north rule's image+caption corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from simple_osm_queries_spark.operators.dedup import SHINGLE_N, phash_near_dups, shingles_col


def caption_jaccard_col(sh_a: Column, sh_b: Column) -> Column:
    """Exact Jaccard between two DISTINCT shingle arrays (as produced by
    `dedup.shingles_col`): |A ∩ B| / |A ∪ B| as a double. `shingles_col`
    never yields an empty array (a short caption becomes one whole-text
    shingle), so the union is never 0."""
    inter = F.size(F.array_intersect(sh_a, sh_b))
    uni = F.size(F.array_union(sh_a, sh_b))
    return inter.cast("double") / uni.cast("double")


def image_caption_conflicts(
    df: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    caption_col: str = "caption",
    max_hamming: int = 3,
    max_caption_jaccard: float = 0.5,
) -> DataFrame:
    """(id_a, id_b, hamming, caption_jaccard) for pairs with near-identical
    images and disagreeing captions. ``id_a < id_b``; a NULL caption never
    conflicts (its Jaccard is NULL and the filter drops the pair — flag
    null captions separately, they are a different defect). Captions
    compare as `dedup.SHINGLE_N`-word shingles.
    ``max_hamming <= dedup.HAMMING_CHUNKS - 1`` (pigeonhole completeness of
    the banded candidate generation, enforced by `dedup.hamming_pairs`)."""
    pairs = phash_near_dups(
        df.select(F.col(id_col).alias("id"), F.col(phash_col).alias("ph")),
        id_col="id",
        phash_col="ph",
        max_hamming=max_hamming,
    )
    caps = df.filter(F.col(caption_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        shingles_col(F.col(caption_col), SHINGLE_N).alias("sh"),
    )
    a = caps.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = caps.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("caption_jaccard", caption_jaccard_col(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("caption_jaccard") <= F.lit(float(max_caption_jaccard)))
        .select("id_a", "id_b", "hamming", "caption_jaccard")
    )


def stock_captions(
    df: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    caption_col: str = "caption",
    min_images: int = 2,
) -> DataFrame:
    """(caption_fp, n_rows, n_images, example_id) for caption fingerprints
    attached to >= ``min_images`` distinct images (an exact distinct
    count). ``caption_fp`` is md5(caption) — the same fingerprint rule as
    `dedup.exact_dups`, so the two reports join. NULL captions are
    excluded (the missing-label defect, not the shared-label one)."""
    df = df.filter(F.col(caption_col).isNotNull())
    n_images = F.count_distinct(F.col(phash_col))
    return (
        df.groupBy(F.md5(F.col(caption_col)).alias("caption_fp"))
        .agg(
            F.count("*").alias("n_rows"),
            n_images.alias("n_images"),
            F.min(F.col(id_col)).alias("example_id"),
        )
        .filter(F.col("n_images") >= F.lit(int(min_images)))
    )
