"""Image-corpus curation operators: quality gating and aspect-ratio
bucketing — the two metadata-level passes every large image-training
pipeline runs BEFORE any pixel is decoded.

The reference validates asset rows field-by-field (`src/Services/
Validator.cs:20-42` — per-key presence, conflicts, normalization); for
an image+caption corpus the analogous row-level screen is a metadata
gate (resolution / aspect / format / payload-size bounds), and the
analogous grouping pass is aspect bucketing (batching images of similar
shape so a training batch shares one crop geometry — the "bucketed
batching" of SDXL-style pipelines).

Both are pure Column expressions over the metadata columns of the
BASELINE.json input shape (image_id, w, h, fmt, ...) — the binary
``bytes`` column never enters either plan, so at 10^12 rows these run
in the scan stage at parquet-metadata speed: no shuffle, no Python, no
decode. Cross-engine determinism: integer comparisons plus one IEEE
double division (w/h — correctly rounded, bit-identical on any engine)
and abs/least — no transcendental functions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

# first-failing-gate order is part of the contract: a row rejected for
# several reasons reports the FIRST one in this fixed order.
# gate_reason_expr BUILDS its when-chain from this tuple (reasons whose
# inputs are disabled are skipped), so it cannot drift from the code.
GATE_ORDER = (
    "null_dims", "too_small", "too_large", "extreme_aspect", "bad_format",
    "tiny_payload", "starved_payload", "bloated_payload",
)

DEFAULT_FORMATS = ("png", "jpeg", "webp")


def image_gate(
    df: DataFrame,
    min_side: int = 64,
    max_side: int = 8192,
    max_aspect: int = 4,
    formats: Sequence[str] = DEFAULT_FORMATS,
    min_bytes: int | None = 128,
    milli_bpp_bounds: tuple[int, int] | None = None,
    id_col: str = "image_id",
) -> DataFrame:
    """Metadata quality gate → (<id_col>, passed, reject_reason).

    Gates, in report order: null/non-positive dims; min(w,h) < min_side;
    max(w,h) > max_side; aspect ratio beyond max_aspect:1 either way
    (integer cross-multiplication — no floats); format not in the
    allow-list (case-insensitive); payload below min_bytes. The payload
    gate needs an ``n_bytes`` column and is skipped when ``min_bytes``
    is None or the column is absent — measuring ``length(bytes)``
    instead would drag the binary column through the scan, defeating
    the point of a metadata gate. ``reject_reason`` is NULL for passing
    rows.

    One narrow CASE projection; the predicate pushes into the scan, so
    a downstream ``.where(passed)`` prunes row groups by the w/h/fmt
    column statistics without touching the bytes column.
    """
    has_nb = "n_bytes" in df.columns
    reason = gate_reason_expr(
        min_side=min_side,
        max_side=max_side,
        max_aspect=max_aspect,
        formats=formats,
        min_bytes=min_bytes if has_nb else None,
        milli_bpp_bounds=milli_bpp_bounds if has_nb else None,
    )
    return df.select(
        id_col,
        reason.isNull().alias("passed"),
        reason.alias("reject_reason"),
    )


def gate_reason_expr(
    min_side: int = 64,
    max_side: int = 8192,
    max_aspect: int = 4,
    formats: Sequence[str] = DEFAULT_FORMATS,
    min_bytes: int | None = 128,
    milli_bpp_bounds: tuple[int, int] | None = None,
) -> F.Column:
    """The gate as a bare Column expression (NULL = passes) — compose it
    into any projection without forcing a join back onto the metadata.

    ``milli_bpp_bounds=(low, high)`` optionally adds the compression
    sanity screen from :func:`compression_stats` per row: a payload
    below ``low`` milli-bytes-per-pixel is 'starved_payload' (truncated
    file / decoder bomb), above ``high`` is 'bloated_payload' (appended
    data / mislabeled format). Integer cross-multiplication — exact on
    any engine; needs ``n_bytes`` (off by default, like ``min_bytes``
    when the column is absent)."""
    w, h = F.col("w"), F.col("h")
    fmt_ok = F.lower(F.col("fmt")).isin(*[f.lower() for f in formats])
    conds: dict[str, F.Column] = {
        "null_dims": w.isNull() | h.isNull() | (w <= 0) | (h <= 0),
        "too_small": F.least(w, h) < min_side,
        "too_large": F.greatest(w, h) > max_side,
        "extreme_aspect": (w > h * max_aspect) | (h > w * max_aspect),
        "bad_format": ~fmt_ok | F.col("fmt").isNull(),
    }
    if min_bytes is not None:
        conds["tiny_payload"] = F.col("n_bytes") < min_bytes
    if milli_bpp_bounds is not None:
        low, high = milli_bpp_bounds
        # widen BEFORE multiplying: int32 n_bytes*1000 wraps negative
        # past ~2.1 MB under Spark's non-ANSI default (a bloated payload
        # would classify as starved), and (w*h) wraps for gigapixel dims
        # before a trailing cast can save it
        nb = F.col("n_bytes").cast("long")
        px = w.cast("long") * h
        conds["starved_payload"] = nb * 1000 < low * px
        conds["bloated_payload"] = nb * 1000 > high * px
    reason = None
    for name in GATE_ORDER:  # the tuple IS the precedence
        if name not in conds:
            continue
        reason = (F.when(conds[name], name) if reason is None
                  else reason.when(conds[name], name))
    return reason.otherwise(F.lit(None).cast("string"))


# (name, w:h ratio as a rational) — the SDXL-ish 5-bucket ladder
DEFAULT_BUCKETS = (
    ("tall_9_16", 9, 16),
    ("portrait_3_4", 3, 4),
    ("square_1_1", 1, 1),
    ("landscape_4_3", 4, 3),
    ("wide_16_9", 16, 9),
)


def aspect_buckets(
    df: DataFrame,
    buckets: Sequence[tuple[str, int, int]] = DEFAULT_BUCKETS,
) -> DataFrame:
    """Assign every image to its nearest aspect-ratio bucket →
    (image_id, bucket) — the shard key for geometry-uniform batching.

    Nearest = min |w/h − p/q| with ties broken by bucket-list order
    (strict CASE chain over ``least``). w/h is a single IEEE-754
    division of two integers — correctly rounded and therefore
    bit-identical across engines — and the bucket ratios are exact
    double literals, so assignment is deterministic everywhere. Rows
    with null/non-positive dims get bucket NULL (gate them out first).

    Still a narrow projection: the downstream
    ``repartition(bucket)``/write-partitioned-by is the only shuffle a
    real pipeline adds, and it is the intended one.
    """
    return df.select("image_id", aspect_bucket_expr(buckets).alias("bucket"))


def aspect_bucket_expr(
    buckets: Sequence[tuple[str, int, int]] = DEFAULT_BUCKETS,
) -> F.Column:
    """Aspect-bucket assignment as a bare Column expression — compose it
    into any projection (see :func:`aspect_buckets` for semantics)."""
    w, h = F.col("w"), F.col("h")
    ratio = w.cast("double") / h.cast("double")
    dists = [(name, F.abs(ratio - F.lit(p / q))) for name, p, q in buckets]
    best = F.least(*[d for _, d in dists])
    assign = F.when(w.isNull() | h.isNull() | (w <= 0) | (h <= 0), F.lit(None).cast("string"))
    for name, d in dists:
        assign = assign.when(d == best, F.lit(name))
    return assign


def shard_plan(
    df: DataFrame,
    budget_bytes: int = 1 << 30,
    n_lanes: int = 8,
    id_col: str = "image_id",
    bytes_col: str = "n_bytes",
    group_cols: Sequence[str] = ("bucket",),
    salt: str = "shard",
) -> DataFrame:
    """Plan webdataset-style tar shards over an image corpus → one row
    per shard: (*group_cols, lane, shard_id, n_images, shard_bytes).

    Training pipelines consume images as sequentially-readable shard
    archives (webdataset tars, TFRecords, Parquet row-group bundles) of
    a fixed byte budget; the planner's contract is that (a) every image
    lands in exactly one shard, (b) shards respect the grouping columns
    (e.g. the aspect bucket, so one shard feeds one batch geometry —
    SDXL-style bucketed batching), and (c) a shard's payload stays
    within ``budget_bytes`` plus at most one straddling image (the
    standard overflow rule — an image is never split).

    Mechanics mirror :func:`..text.pack_chunks`: route each image to
    one of ``n_lanes`` lanes by a stable md5 hash of its id (portable —
    the SQL mirror hashes identically), order by id within
    (group, lane), and draw a shard boundary every ``budget_bytes`` of
    exclusive running total: ``shard_id = floor(cumsum_before /
    budget)``. Deterministic on any engine, any partitioning.

    Scale: ONE shuffle — the hash exchange for the
    (group, lane)-partitioned window cumsum; the per-shard aggregate
    groups on a PREFIX EXTENSION of the window keys, so it reuses the
    exchange map-side (plan-gated, like pack_chunks). Parallelism =
    |groups| × n_lanes independent lanes — set n_lanes so that
    lanes ≈ cluster cores at 10^12 images; per-lane state is one
    BIGINT running total, nothing driver-side.
    """
    from pyspark.sql import Window

    from .sampling import _hash_bucket

    gcols = list(group_cols)
    lane = _hash_bucket(F.col(id_col), salt, n_lanes).alias("lane")
    w = (
        Window.partitionBy(*gcols, "lane")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(bytes_col).over(w), F.lit(0))
    return (
        df.select(*gcols, lane, id_col, bytes_col)
        .withColumn("shard_id", F.floor(cum_before / budget_bytes))
        .groupBy(*gcols, "lane", "shard_id")
        .agg(
            F.count("*").alias("n_images"),
            F.sum(bytes_col).alias("shard_bytes"),
        )
    )


def compression_stats(
    df: DataFrame,
    low_milli_bpp: int = 5,
    high_milli_bpp: int = 2_000,
    fmt_col: str = "fmt",
    bytes_col: str = "n_bytes",
) -> DataFrame:
    """Per-format compression sanity → (fmt, n_images, total_pixels,
    total_bytes, milli_bpp, n_under, n_over).

    Bytes-per-pixel is the cheapest decode-free corruption signal a
    curation pipeline has: an image whose payload is far smaller than
    its claimed dimensions warrant is truncated or a decoder bomb; one
    far larger hides appended data or a mislabeled format. ``n_under``
    / ``n_over`` count images outside [low, high] milli-bytes-per-pixel
    (milli = B/px × 1000), and ``milli_bpp`` is the format's aggregate
    ratio.

    Exactness: outlier predicates are pure integer cross-
    multiplications (``n_bytes*1000 < low*w*h``) and the aggregate
    ratio is one BIGINT integer division of exact sums — bit-identical
    on any engine, no float accumulation anywhere. Scale: one hash
    aggregate on fmt (a handful of groups; partial aggregation absorbs
    the volume map-side), bytes column never scanned.
    """
    # widen BEFORE multiplying (see gate_reason_expr): int32 inputs
    # would wrap at ~2.1 MB payloads / gigapixel dims
    w, h, nb = F.col("w"), F.col("h"), F.col(bytes_col).cast("long")
    px = w.cast("long") * h
    under = (nb * 1000 < F.lit(low_milli_bpp) * px).cast("int")
    over = (nb * 1000 > F.lit(high_milli_bpp) * px).cast("int")
    return (
        df.select(F.lower(F.col(fmt_col)).alias("fmt"), px.alias("px"),
                  nb.alias("nb"), under.alias("under"), over.alias("over"))
        .groupBy("fmt")
        .agg(
            F.count("*").alias("n_images"),
            F.sum("px").alias("total_pixels"),
            F.sum("nb").alias("total_bytes"),
            F.floor(F.sum("nb") * 1000 / F.sum("px")).cast("long").alias("milli_bpp"),
            F.sum("under").alias("n_under"),
            F.sum("over").alias("n_over"),
        )
    )


def exact_duplicates(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Exact byte-level duplicate groups → (digest, n_copies, canonical).

    The first dedup pass of every image corpus: identical payloads
    (same file scraped from N URLs) collapse on a content digest BEFORE
    the far costlier perceptual pass (see phash_neardup_pairs) runs on
    what remains. ``canonical`` is the lexicographically-smallest id in
    the group — a deterministic keep policy the pHash canonical query
    mirrors.

    NULL payloads are excluded — md5(NULL) is NULL and groupBy treats
    NULL digests as equal, so rows that merely LACK bytes (failed
    downloads) would otherwise be reported as exact copies of each
    other; missing payloads are the schema rule's business.

    Scale: md5 runs JVM-side in the scan stage; the shuffle carries
    (digest, id) pairs only — 48 bytes/row instead of the image payload
    — and partial aggregation collapses same-digest rows map-side. One
    hash aggregate total; the reference's exact-key analogue is the
    first-row-wins key index (ReportGenerator.cs:150-156), which DROPS
    duplicates silently — here every group is reported with its size.
    """
    return (
        df.where(F.col(bytes_col).isNotNull())
        .select(F.md5(F.col(bytes_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(
            F.count("*").alias("n_copies"),
            F.min(id_col).alias("canonical"),
        )
        .where(F.col("n_copies") > 1)
    )


# ---------------------------------------------------------------------------
# Header <-> metadata consistency: decode-free payload introspection.
# The magics/offsets mirror codecs.py exactly (PNG_SIG / STUB_MAGIC and
# the encode_png / encode_stub_lossy layouts).
# ---------------------------------------------------------------------------

# DERIVED from codecs.py (the byte-level source of truth), not
# hand-copied — a codec layout change cannot silently desynchronize
# the header screen.
from ..codecs import PNG_SIG as _PNG_SIG, STUB_MAGIC as _STUB_MAGIC

_PNG_SIG_HEX = _PNG_SIG.hex().upper()
_STUB_MAGIC_HEX = {k: v.hex().upper() for k, v in _STUB_MAGIC.items()}
# 12-byte PNG trailer: len=0 + "IEND" + CRC32("IEND") — every complete
# PNG stream ends with exactly these bytes (ISO/IEC 15948 §5.6)
import struct as _struct
import zlib as _zlib

_PNG_IEND_HEX = (
    _struct.pack(">I", 0) + b"IEND"
    + _struct.pack(">I", _zlib.crc32(b"IEND") & 0xFFFFFFFF)
).hex().upper()
# minimum payload length whose embedded dims are fully present:
# PNG = 8 sig + 4 len + 4 "IHDR" + 8 dims; stub = 4 magic + 8 dims
_MIN_HDR_LEN = {"png": 24, "stub": 12}

# first-failing-reason order, same contract as GATE_ORDER: a row with
# several problems reports the FIRST one here
HEADER_ORDER = (
    "unreadable_header", "format_mismatch", "dims_mismatch",
    "truncated_payload",
)


def _be_uint(bytes_col: F.Column, off: int, nbytes: int) -> F.Column:
    """Big-endian unsigned int from a byte slice (1-based offset).

    Substring the BINARY first, then hex only the slice: hexing the
    whole payload would materialize a 2x-payload string per row — at
    10^12 rows that is the difference between reading 24 bytes and
    re-encoding the corpus."""
    return F.conv(F.hex(F.substring(bytes_col, off, nbytes)), 16, 10).cast("long")


def _header_exprs(b: F.Column) -> tuple[F.Column, F.Column, F.Column]:
    """(hdr_fmt, hdr_w, hdr_h) Column expressions over a binary payload
    column, as :func:`header_consistency` stages them.

    Containers carry their own dimensions: PNG in the IHDR chunk
    (bytes 17-24 big-endian, after the 8-byte signature + 4-byte length
    + "IHDR"), the engine's stub-lossy formats at bytes 5-12 after
    their 4-byte magic (codecs.py::encode_stub_lossy). ``hdr_fmt`` is
    NULL for a NULL, short, or unrecognized-magic payload. Pure Column
    expressions (substring/hex/conv, inside whole-stage codegen): only
    the first 24 bytes of the payload are ever transformed."""
    magic8 = F.hex(F.substring(b, 1, 8))       # 16 hex chars, uppercase
    magic4 = F.substring(magic8, 1, 8)
    hdr_fmt = (
        F.when(magic8 == _PNG_SIG_HEX, F.lit("png"))
        .when(magic4 == _STUB_MAGIC_HEX["jpeg"], F.lit("jpeg"))
        .when(magic4 == _STUB_MAGIC_HEX["webp"], F.lit("webp"))
    )
    is_png = magic8 == _PNG_SIG_HEX
    # length guards: a payload cut INSIDE its dims field would otherwise
    # hex a partial slice into a garbage-but-non-NULL integer (conv of
    # 2 bytes -> 0), misclassifying a damaged payload as dims_mismatch
    # against perfectly good metadata. Short payload = NULL dims =
    # unreadable_header, the documented contract.
    blen = F.length(b)
    png_ok = is_png & (blen >= _MIN_HDR_LEN["png"])
    stub_ok = hdr_fmt.isNotNull() & ~is_png & (blen >= _MIN_HDR_LEN["stub"])
    hdr_w = F.when(png_ok, _be_uint(b, 17, 4)).when(stub_ok, _be_uint(b, 5, 4))
    hdr_h = F.when(png_ok, _be_uint(b, 21, 4)).when(stub_ok, _be_uint(b, 9, 4))
    return hdr_fmt, hdr_w, hdr_h


def header_consistency(
    df: DataFrame,
    bytes_col: str = "bytes",
    id_col: str = "image_id",
    check_truncation: bool = True,
) -> DataFrame:
    """Decode-free payload↔metadata screen → (<id_col>, hdr_fmt, hdr_w,
    hdr_h, consistent, reason).

    Reasons, in :data:`HEADER_ORDER` precedence (NULL = consistent):

    * ``unreadable_header`` — NULL payload, payload shorter than its
      format's header, or unrecognized magic. Catches failed downloads
      and non-image payloads before a decoder ever sees them.
    * ``format_mismatch`` — the ``fmt`` column disagrees with the
      payload's magic (case-insensitive on the column, as everywhere).
      A mislabeled format crashes or silently mis-decodes downstream
      training loaders.
    * ``dims_mismatch`` — (w, h) columns disagree with the embedded
      dimensions (null-safe: NULL column dims against parsed ones are a
      mismatch; the metadata gate's ``null_dims`` fires first in a
      composed pipeline, this screen stands alone too).
    * ``truncated_payload`` (PNG only, ``check_truncation=True``) — the
      stream does not end with the mandatory 12-byte IEND trailer; a
      cut-off transfer keeps a valid header, so only the tail betrays
      it. The stub-lossy formats carry no trailer — truncation there
      surfaces at decode (zlib error → pixel-invariant violation).

    Everything is JVM-side Column arithmetic in the scan stage — no
    zlib, no Python, no shuffle. The reference's analogue is cell-level
    conflict detection between two sources (Validator.cs:93-142); here
    the two "sources" are the metadata columns and the payload's own
    header.
    """
    b = F.col(bytes_col)
    hdr_fmt_e, hdr_w_e, hdr_h_e = _header_exprs(b)
    # stage the header parse once per row (r6): the reason CASE chain
    # referenced each hdr_* expression up to four times, re-inlining
    # the hex/substring/conv trees per reference
    hdr_fmt, hdr_w, hdr_h = F.col("hdr_fmt"), F.col("hdr_w"), F.col("hdr_h")
    unreadable = hdr_fmt.isNull() | hdr_w.isNull() | hdr_h.isNull()
    fmt_mismatch = ~F.lower(F.col("fmt")).eqNullSafe(hdr_fmt)
    dims_mismatch = ~F.col("w").cast("long").eqNullSafe(hdr_w) | ~F.col(
        "h"
    ).cast("long").eqNullSafe(hdr_h)
    reason = F.when(unreadable, "unreadable_header").when(
        fmt_mismatch, "format_mismatch"
    ).when(dims_mismatch, "dims_mismatch")
    staged_cols = [
        hdr_fmt_e.alias("hdr_fmt"), hdr_w_e.alias("hdr_w"),
        hdr_h_e.alias("hdr_h"),
    ]
    if check_truncation:
        # hex only the last 12 bytes (negative offset = from the end)
        reason = reason.when(
            (hdr_fmt == "png") & (F.col("_trailer") != _PNG_IEND_HEX),
            "truncated_payload",
        )
        staged_cols.append(F.hex(F.substring(b, -12, 12)).alias("_trailer"))
    reason = reason.otherwise(F.lit(None).cast("string"))
    # the payload is consumed by substring in the staging projection
    # right where it is read, so nothing wider than these columns
    # leaves the scan stage
    return df.select(id_col, "w", "h", "fmt", *staged_cols).select(
        id_col,
        "hdr_fmt", "hdr_w", "hdr_h",
        reason.isNull().alias("consistent"), reason.alias("reason"),
    )
