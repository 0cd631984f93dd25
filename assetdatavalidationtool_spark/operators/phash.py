"""Perceptual-hash (pHash) near-duplicate detection for image corpora.

The reference's uniqueness semantics are exact-key only
(`src/Services/Validator.cs:39-42` — case-insensitive set membership on
the primary key). At 10^12-image scale the interesting duplicates are
NEAR-duplicates: re-encoded / resized copies whose 64-bit perceptual
hashes differ in a handful of bits. BASELINE.json's north star names
"uniqueness on image_id/phash" and "salted aggregation for phash/fmt
skew" explicitly — this module is that operator.

Algorithm: **bit-band LSH with a pigeonhole exactness guarantee.**
Split the 64-bit hash into ``bands`` contiguous bit-bands. Two hashes
within Hamming distance ``max_hamming`` differ in at most
``max_hamming`` bit positions, so when ``max_hamming < bands`` at least
one band is bit-identical (pigeonhole). Grouping on
``(band_index, band_value)`` therefore finds EVERY pair within the
radius — this is not an approximation like MinHash banding; the final
``bit_count(a XOR b) <= max_hamming`` filter only removes false
candidates, never true pairs. Candidate enumeration is a bucket
self-join whose two sides dedupe into ONE shuffle (ReusedExchange);
the popcount predicate sits first in the join condition so the long
xor rejects most candidates before any string work. (r6 note: an
in-bucket collect_list + array-HOF enumeration was tried and measured
5.7x SLOWER than the codegen'd join — interpreted per-element lambda
overhead dwarfs the join machinery; see OPTIMIZATION_r06.md.)

Scale design (what matters at 10^12 rows):

* The only wide shuffle is the band-bucket exchange — ``bands`` rows
  per image (tiny ints, the image bytes never enter this plan); the
  mega-bucket guard's count aggregate shuffles one row per distinct
  bucket key (map-side partial aggregation).
* Hot buckets: real pHash corpora cluster (flat-color images, test
  cards share hashes; our synthetic table clusters the top byte by
  fmt/size on purpose). A bucket of b rows emits b² candidate pairs, so
  buckets above ``max_bucket_size`` are dropped via a broadcast
  anti-join BEFORE the pair join — the same cap as MinHash LSH's
  mega-bucket guard (`dedup.py::drop_hot_groups`, a window count
  there; here the per-band hot flags reuse the hot list). Dropped
  buckets are near-certain exact-duplicate clusters; route those
  through the O(n) exact uniqueness rule (`rules/uniqueness.py`)
  instead of the O(b²) pair join.
* Everything is built-in Column expressions (shift/mask/xor/bit_count)
  — JVM codegen, no Python, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import spread_small_scan


def phash_bands(
    df: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    bands: int = 4,
) -> DataFrame:
    """Explode each hash into ``bands`` (band, bval) rows.

    64 must divide evenly; band b holds bits [16*b, 16*b+15] for the
    default 4 bands. shiftrightunsigned keeps the top band correct for
    negative (sign-bit-set) hashes.
    """
    if 64 % bands != 0:
        raise ValueError(f"bands={bands} must divide 64")
    width = 64 // bands
    mask = (1 << width) - 1
    df = spread_small_scan(df)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col(phash_col), b * width)
            .bitwiseAND(F.lit(mask))
            .alias("bval"),
        )
        for b in range(bands)
    ]
    return df.select(
        F.col(id_col),
        F.col(phash_col),
        F.explode(F.array(*band_structs)).alias("bk"),
    ).select(
        id_col, phash_col, F.col("bk.band").alias("band"), F.col("bk.bval").alias("bval")
    )


def phash_neardup_pairs(
    df: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int | None = 200,
) -> DataFrame:
    """All image pairs within ``max_hamming`` bits →
    ``(image_a, image_b, hamming)``, exact under the pigeonhole
    guarantee (requires ``max_hamming < bands``), modulo pairs inside
    dropped mega-buckets (see module docstring).
    """
    if max_hamming >= bands:
        raise ValueError(
            f"pigeonhole exactness needs max_hamming < bands "
            f"(got hamming {max_hamming}, bands {bands})"
        )
    width = 64 // bands
    mask = (1 << width) - 1

    def bandv(col: F.Column, b: int) -> F.Column:
        return F.shiftrightunsigned(col, b * width).bitwiseAND(F.lit(mask))

    banded = phash_bands(df, id_col, phash_col, bands)

    hot_flags: list[str] = []
    if max_bucket_size is not None:
        # mega-bucket guard, as a count aggregate (map-side partial →
        # the exchange carries one row per distinct bucket key, not per
        # image) + broadcast anti-join, exactly as before. Additionally
        # each surviving row gets per-band hotness flags (h0..h{k-1}:
        # "is MY band-b' bucket hot?") via broadcast left joins — the
        # first-kept-shared-band predicate below needs them.
        hot = (
            banded.groupBy("band", "bval")
            .count()
            .where(F.col("count") > max_bucket_size)
            .select("band", "bval")
        )
        banded = banded.join(F.broadcast(hot), ["band", "bval"], "left_anti")
        for bi in range(bands - 1):  # only bands below the last are probed
            hb = hot.where(F.col("band") == bi).select(
                F.col("bval").alias(f"_hv{bi}"), F.lit(True).alias(f"h{bi}")
            )
            banded = banded.join(
                F.broadcast(hb),
                bandv(F.col(phash_col), bi) == F.col(f"_hv{bi}"),
                "left",
            ).drop(f"_hv{bi}")
            hot_flags.append(f"h{bi}")

    # Deduplicate emissions at the SOURCE: a pair within the radius can
    # share several bands and the old plan emitted it once per shared
    # band (3x the rows at sf1.0), leaning on the final distinct to
    # collapse them. Emit instead only from the FIRST band that is both
    # shared and kept: at band k the pair must differ in every smaller
    # band b' — or that b' bucket must be hot (dropped), in which case
    # b' could not have emitted it. Provably the same result set: any
    # pair emitted here was emitted by the old plan (same bucket, same
    # filters), and any old pair is emitted exactly once here (by its
    # smallest kept shared band). The distinct stays as the contract
    # for duplicate-id inputs, but now sees ~3x fewer rows.
    banded = banded.repartition(
        df.sparkSession.sparkContext.defaultParallelism * 4, "band", "bval"
    )
    a = banded.alias("a")
    b = banded.alias("b")
    ham = F.bit_count(
        F.col(f"a.{phash_col}").bitwiseXOR(F.col(f"b.{phash_col}"))
    )
    first_band = F.lit(True)
    for bi in range(bands - 1):
        differ = bandv(F.col(f"a.{phash_col}"), bi) != bandv(
            F.col(f"b.{phash_col}"), bi
        )
        if max_bucket_size is not None:
            differ = differ | F.coalesce(F.col(f"a.h{bi}"), F.lit(False))
        first_band = F.when(
            F.col("band") <= bi, first_band
        ).otherwise(first_band & differ)
    return (
        a.join(b, ["band", "bval"])
        # cheapest predicates first: long xor+popcount, then the
        # integer band comparison, string ids last
        .where(ham <= max_hamming)
        .where(first_band)
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("image_a"),
            F.col(f"b.{id_col}").alias("image_b"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
    )
