"""Similarity search over an embedding column (array<float>).

Brute-force cosine top-k is the exact baseline: dot products via
``aggregate``/``zip_with`` (JVM-side, no UDF), a broadcast of the query
block, and a per-query top-k window. The scale paths bucket first, so
the O(N·Q) scan becomes a bucket-local join: LSH buckets by
deterministic random-hyperplane signs, IVF by the nearest coarse
centroid. IVF centroids are data in one broadcast row at every
quantizer size, so the plan stays O(1) in n_cells × dim.

At 10^12 rows brute force is only for a bounded query block (the
corpus side streams once per query block, queries broadcast); the
LSH/IVF variant is the default. All three top-k functions share one
ranking tail (`_rank_topk`) and avoid Python entirely.
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from .dedup import drop_hot_groups


def _dvec(a: F.Column) -> F.Column:
    """float[] → double[] before any arithmetic: keeps accumulation in
    double on every engine (float accumulation diverges across engines
    at the 4th decimal, breaking oracle comparison)."""
    return F.transform(a, lambda x: x.cast("double"))


def _dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(_dvec(a), _dvec(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: F.Column) -> F.Column:
    return F.sqrt(F.aggregate(_dvec(a), F.lit(0.0), lambda acc, v: acc + v * v))


def _rank_topk(pairs: DataFrame, k: int) -> DataFrame:
    """The ranking tail every top-k shares. ``pairs`` holds candidate
    (query_id, q, nq) × (neighbor_id, v, nv) rows with each vector's
    norm staged once; self pairs and pairs without a cosine (a null,
    empty or wrong-dimension vector on either side) are dropped and the
    k best neighbours by (cosine desc, neighbor_id asc) kept →
    (query_id, neighbor_id, cosine, rank)."""
    sims = pairs.where(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        (_dot(F.col("q"), F.col("v")) / (F.col("nq") * F.col("nv"))).alias("_cos"),
    )
    # NULL cosines rank after every real one (DESC is NULLS LAST), so
    # dropping them after the window leaves the real ranks unchanged; a
    # filter before it is pushed below the projection and computes the
    # dot product twice
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where((F.col("rank") <= k) & F.col("_cos").isNotNull())
        .select("query_id", "neighbor_id", F.round("_cos", 4).alias("cosine"), "rank")
    )


def embedding_norms(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, dim, l2_norm) — per-vector diagnostics / stats rule input."""
    return df.select(
        F.col(id_col).alias("vec_id"),
        F.size(F.col(vec_col)).alias("dim"),
        F.round(_norm(F.col(vec_col)), 4).alias("l2_norm"),
    )


def brute_force_cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k for each query id →
    (query_id, neighbor_id, cosine, rank). Self-matches excluded.

    The query block is broadcast (bounded, driver-chosen); the corpus is
    scanned once; ties break on neighbor_id for determinism.
    """
    # norms staged per VECTOR before the pair join (r6): computing
    # _norm inside the cosine re-ran the aggregate per candidate PAIR —
    # N*Q norm evaluations instead of N+Q. Same doubles, same division
    # order, bit-identical cosines.
    corpus = df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nv"),
    )
    queries = df.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q"),
        _norm(F.col(vec_col)).alias("nq"),
    )
    return _rank_topk(corpus.crossJoin(F.broadcast(queries)), k)


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (seeded; reproducible anywhere,
    including inside an oracle SQL literal)."""
    rng = np.random.RandomState(seed)
    return [[round(float(x), 6) for x in rng.randn(dim)] for _ in range(n_planes)]


def _well_formed(vec_col: str, dim: int) -> F.Column:
    """``vec_col`` holds ``dim`` non-null elements: exactly the vectors
    whose hyperplane dots are not NULL (a null, empty, wrong-dimension
    or null-holding vector has no sign bits)."""
    v = F.col(vec_col)
    return (F.size(v) == dim) & ~F.exists(v, lambda x: x.isNull())


def _bucket_expr(vec_col: str, planes: list[list[float]]) -> F.Column:
    """Sign bits of a well-formed vector's hyperplane dots. Never NULL,
    so a join on it infers no NOT NULL filter, which would be pushed
    below the projection and compute every dot a second time."""
    bucket = None
    for p, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(_dot(F.col(vec_col), lit_plane) > 0, F.lit(2 ** p)).otherwise(
            F.lit(0)
        )
        bucket = bit if bucket is None else (bucket + bit)
    return bucket.cast("long")


def lsh_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: list[list[float]],
) -> DataFrame:
    """Sign-bucket each vector: bucket = bits of sign(v · h_p) →
    (vec_id, bucket). Vectors in the same bucket are ANN candidates;
    a per-bucket brute-force pass (or a bucket equi-join) refines.
    A malformed vector gets bucket NULL.
    All arithmetic is built-in array ops — no UDF, no shuffle here."""
    return df.select(
        F.col(id_col).alias("vec_id"),
        F.when(
            _well_formed(vec_col, len(planes[0])), _bucket_expr(vec_col, planes)
        ).alias("bucket"),
    )


def lsh_ann_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: list[list[float]],
    k: int = 5,
    max_bucket_size: int | None = 10000,
    query_ids: list | None = None,
) -> DataFrame:
    """ANN top-k within LSH buckets → (query_id, neighbor_id, cosine,
    rank). Recall < 1 by construction; the scale path for 10^12 rows
    (bucket-local joins instead of a full cross product).

    ``max_bucket_size`` drops candidate vectors in buckets above the cap
    before the pair join (``dedup.drop_hot_groups``: a window count on
    the join's own exchange — a near-duplicate cluster or degenerate
    hyperplane cell would otherwise emit O(n²) pairs).
    ``query_ids`` restricts the query side to a bounded block (the
    corpus side still streams once)."""
    # per-vector norm staged once (r6) — see brute_force_cosine_topk;
    # a malformed vector has no bucket, so it takes no part
    with_b = df.where(_well_formed(vec_col, len(planes[0]))).select(
        F.col(id_col).alias("_vid"),
        F.col(vec_col).alias("_vec"),
        _norm(F.col(vec_col)).alias("_nrm"),
        _bucket_expr(vec_col, planes).alias("bucket"),
    )
    if max_bucket_size is not None:
        with_b = drop_hot_groups(with_b, ["bucket"], max_bucket_size)
    a = with_b.select(
        F.col("_vid").alias("query_id"), F.col("_vec").alias("q"),
        F.col("_nrm").alias("nq"), "bucket"
    )
    if query_ids is not None:
        a = a.where(F.col("query_id").isin(query_ids))
    b = with_b.select(
        F.col("_vid").alias("neighbor_id"), F.col("_vec").alias("v"),
        F.col("_nrm").alias("nv"), "bucket"
    )
    return _rank_topk(a.join(b, "bucket"), k)


def ivf_centroids(dim: int, n_cells: int, seed: int = 42) -> list[list[float]]:
    """Deterministic coarse-quantizer centroids (seeded Gaussian,
    L2-normalized). Production swaps in trained k-means centroids; the
    assignment/search dataflow is identical."""
    rng = np.random.RandomState(seed)
    cents = rng.randn(n_cells, dim)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    return [[round(float(x), 6) for x in c] for c in cents]


def _centroid_row(spark, centroids: list[list[float]]) -> DataFrame:
    """The quantizer as ONE row: ``_cents`` = array<struct<cell, cv>>
    in cell order. The centroids are one JSON string parameter that the
    analyzer parses once into a ``LocalRelation``, so the plan holds
    them as one data row — O(1) expression nodes in n_cells × dim (as
    per-row expression literals a thousand-cell quantizer is minutes of
    analysis and codegen, and a quantizer that changes every k-means
    iteration is a new plan to compile every iteration) — and their
    broadcast launches no Spark job. JSON carries each double exactly
    (``repr`` round-trips)."""
    cents = json.dumps(
        [{"cell": i, "cv": [float(x) for x in c]} for i, c in enumerate(centroids)]
    )
    return spark.sql(
        "SELECT * FROM VALUES (from_json(:cents, "
        "'array<struct<cell: int, cv: array<double>>>')) AS t(_cents)",
        args={"cents": cents},
    )


def _attach(df: DataFrame, cents: DataFrame, **cols: F.Column) -> DataFrame:
    """All columns of ``df`` plus ``cols``, which read the attached
    ``_cents`` row. With a one-row build side Catalyst plans
    ``BroadcastNestedLoopJoin BuildRight``: for one build row that IS
    the broadcast hash-attach (an equi-join on a constant key folds to
    exactly this). The vector side is never shuffled, and the argmax
    is a ``transform`` over the array — per-row work O(n_cells × dim),
    plan size O(1)."""
    return df.crossJoin(F.broadcast(cents)).withColumns(cols).drop("_cents")


def _cell_dots(vec_col: str) -> F.Column:
    """(nd = −dot, cell) per centroid of the attached ``_cents`` row,
    NULL dots dropped. A null, empty or wrong-dimension vector has a
    NULL dot with every centroid, so its array is empty: it gets no
    cell, like the oracle's ``CASE WHEN d_i = greatest(...)``. In
    ascending order the nearest cell comes first, ties to the lower
    cell."""
    return F.filter(
        F.transform(
            F.col("_cents"),
            lambda s: F.struct(
                (-_dot(F.col(vec_col), s["cv"])).alias("nd"), s["cell"].alias("cell")
            ),
        ),
        lambda s: s["nd"].isNotNull(),
    )


def _nearest_cell(vec_col: str) -> F.Column:
    return F.array_min(_cell_dots(vec_col))["cell"]


def _probe_cells(vec_col: str, n_probe: int) -> F.Column:
    picked = F.slice(F.array_sort(_cell_dots(vec_col)), 1, n_probe)
    return F.transform(picked, lambda s: s["cell"])


def attach_cell(df: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """All input columns + ``cell``: the nearest centroid by dot
    product (ties → lowest cell; NULL for a malformed vector)."""
    cents = _centroid_row(df.sparkSession, centroids)
    return _attach(df, cents, cell=_nearest_cell(vec_col))


def ivf_assign(
    df: DataFrame, id_col: str, vec_col: str, centroids: list[list[float]]
) -> DataFrame:
    """(vec_id, cell) — assign each vector to its nearest centroid by
    cosine (argmax over dot products with unit centroids; the vector's
    norm is constant across cells so plain dot suffices). Ties go to
    the lowest cell; a null, empty or wrong-dimension vector gets cell
    NULL. Centroids are broadcast data (see `_attach`); the vector side
    stays in its scan stage (reference analog: the key-lookup inner
    loop, Validator.cs:94-106, done the Spark way)."""
    return attach_cell(
        df.select(F.col(id_col).alias("vec_id"), vec_col), vec_col, centroids
    ).select("vec_id", "cell")


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    k: int = 5,
    n_probe: int = 1,
    query_ids: list | None = None,
    max_cell_size: int | None = None,
) -> DataFrame:
    """IVF ANN top-k: brute-force cosine only WITHIN probed coarse cells
    → (query_id, neighbor_id, cosine, rank). The 10^12-row scale path:
    the pair join is cell-local (inverted-file pruning), so cost drops
    from O(N²) to Σ|cell|²  (×n_probe on the query side).

    * ``n_probe`` — each query searches its P nearest cells (multi-probe
      recovers the recall a single probe loses at cell boundaries; the
      dataflow is identical, the candidate set P× larger).
    * ``query_ids`` — bound the query block; the corpus (inverted file)
      still streams once.
    * ``max_cell_size`` — drop CANDIDATE vectors in cells above the cap
      (``dedup.drop_hot_groups``, a window count on the pair join's
      exchange). A mega-cell is a degenerate quantizer
      region whose pair join is |cell|²; queries assigned there still
      probe their other n_probe−1 cells.

    The corpus assignment and the probe selection both read one
    broadcast centroid row (`_attach`). A malformed vector has no cell,
    so it is never a neighbour, and as a query it probes nothing."""
    cents = _centroid_row(df.sparkSession, centroids)
    # per-vector norm staged once (r6) — see brute_force_cosine_topk
    corpus = _attach(
        df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v"),
                  _norm(F.col(vec_col)).alias("nv")),
        cents,
        cell=_nearest_cell("v"),
    )
    if max_cell_size is not None:
        corpus = drop_hot_groups(corpus, ["cell"], max_cell_size)
    q = df if query_ids is None else df.where(F.col(id_col).isin(query_ids))
    probes = _attach(
        q.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q"),
                 _norm(F.col(vec_col)).alias("nq")),
        cents,
        cell=F.explode(_probe_cells("q", n_probe)),
    )
    return _rank_topk(probes.join(corpus, "cell"), k)


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    plane_tables: list[list[list[float]]],
    threshold: float = 0.9,
    max_bucket_size: int | None = 10000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs → (id_a, id_b, cosine),
    cosine >= threshold — the embedding analog of minhash-LSH dedup.

    Multi-table LSH (L independent hyperplane tables) fixes single-table
    recall: near-identical vectors only need to share a bucket in ONE
    table. Dataflow: bucket per (table, vector) → hot-bucket window-count
    guard → bucket-local candidate pairs → DISTINCT pairs (so each pair's
    cosine is computed once, not once per agreeing table) → join the
    vectors back by id and refine with the exact cosine. At 10^12 rows
    the pair set after banding is tiny relative to the corpus, so the
    two id-joins beat carrying L copies of every vector through the
    bucket shuffle."""
    ids = df.select(F.col(id_col).alias("_vid"), F.col(vec_col).alias("_vec"))
    banded = None
    for t, planes in enumerate(plane_tables):
        part = ids.select(
            F.col("_vid"),
            F.lit(t).alias("tbl"),
            _bucket_expr("_vec", planes).alias("bucket"),
        )
        banded = part if banded is None else banded.unionByName(part)
    if max_bucket_size is not None:
        banded = drop_hot_groups(banded, ["tbl", "bucket"], max_bucket_size)

    a = banded.alias("a")
    b = banded.alias("b")
    # pinned partition counts (r6): candidate pairs are narrow and
    # compress hard, so AQE's size-based coalescing serialized the
    # distinct and the two vector-refine joins onto 1-3 tasks at
    # sf1.0 (1.8M candidate pairs, 17 s on 3 tasks). Counts derive
    # from cluster cores.
    par = df.sparkSession.sparkContext.defaultParallelism * 4
    cand = (
        a.join(b, ["tbl", "bucket"])
        .where(F.col("a._vid") < F.col("b._vid"))
        .select(F.col("a._vid").alias("id_a"), F.col("b._vid").alias("id_b"))
        .repartition(par, "id_a", "id_b")
        .dropDuplicates()
    )
    # per-vector norm staged once (r6) — an id appearing in many
    # candidate pairs pays its norm aggregate once, not per pair
    va = ids.select(F.col("_vid").alias("id_a"), F.col("_vec").alias("va"),
                    _norm(F.col("_vec")).alias("na"))
    vb = ids.select(F.col("_vid").alias("id_b"), F.col("_vec").alias("vb"),
                    _norm(F.col("_vec")).alias("nb"))
    return (
        cand.repartition(par, "id_a")
        .join(va, "id_a")
        .repartition(par, "id_b")
        .join(vb, "id_b")
        .withColumn(
            "_cos",
            _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
        )
        # filter on the UNROUNDED value, round only for display — the
        # oracle mirrors this exactly (no threshold-boundary divergence)
        .where(F.col("_cos") >= threshold)
        .select("id_a", "id_b", F.round("_cos", 4).alias("cosine"))
    )


def train_ivf_centroids(
    df: DataFrame,
    vec_col: str,
    n_cells: int,
    dim: int,
    n_iters: int = 3,
    seed: int = 42,
) -> list[list[float]]:
    """Spherical k-means (Lloyd) training of the coarse quantizer,
    fully distributed: each iteration is one scan (narrow cell
    assignment via `attach_cell`) + one hash aggregate whose output is
    n_cells × dim rows (driver-tiny). Centroids are L2-normalized and
    rounded to 6 decimals so the result is a portable literal (usable in
    oracle SQL). Empty cells keep their previous centroid; a null, empty
    or wrong-dimension vector has no cell and moves no centroid.
    Deterministic for a given (seed, data)."""
    cents = ivf_centroids(dim, n_cells, seed)
    # expression-heavy per-row work (n_cells x dim dots + posexplode):
    # make sure a small single-row-group scan doesn't serialize it on
    # one core (no-op at real scale — see spread_small_scan)
    from .dedup import spread_small_scan

    df = spread_small_scan(df.select(vec_col))
    for _ in range(n_iters):
        # the centroids change every iteration; as broadcast DATA the
        # plan stays the same across iterations, so it is compiled
        # once (as plan literals every iteration was a new plan that
        # Janino recompiled: ~5 s of codegen per iteration, measured)
        assigned = (
            attach_cell(df, vec_col, cents)
            .where(F.col("cell").isNotNull())
            .select("cell", F.posexplode(_dvec(F.col(vec_col))).alias("pos", "x"))
        )
        means = (
            assigned
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["m"]
        new_cents = [list(c) for c in cents]
        for cell, comps in by_cell.items():
            vec = np.array([comps.get(p, 0.0) for p in range(dim)])
            nrm = float(np.linalg.norm(vec)) or 1.0
            # quantize with floor(x*1e6 + 0.5)/1e6, NOT round(x, 6):
            # Python round() is banker's rounding while DuckDB round()
            # is half-away-from-zero, so the oracle mirrors this exact
            # IEEE-double formulation (contract.py _lloyd_iter_sql) and
            # both engines carry bit-identical centroids into the next
            # iteration. Residual risk (accepted, documented): a
            # last-ulp difference in the engines' AVG accumulation
            # order can still straddle a quantization boundary; with
            # 6-decimal cells on unit-norm data the window is ~1e-10
            # per component and has never been observed in testing.
            new_cents[cell] = [
                float(np.floor(x / nrm * 1e6 + 0.5) / 1e6) for x in vec
            ]
        cents = new_cents
    return cents


def ann_recall(truth: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query recall of an approximate top-k result against exact
    ground truth → (query_id, n_truth, n_hit, recall). Both inputs are
    (query_id, neighbor_id, ...) result sets.

    This is the evaluation loop every ANN deployment needs: measure the
    recall cost of the bucketed scale path on a bounded query sample
    before trusting it at 10^12 rows. Both sides carry a bounded query
    block, so every aggregate here is tiny; the expensive part is the
    inputs, not this comparison.
    """
    t = truth.select("query_id", "neighbor_id")
    a = approx.select("query_id", "neighbor_id")
    base = t.groupBy("query_id").agg(F.count("*").alias("n_truth"))
    hits = (
        t.join(a, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_truth",
            F.coalesce(F.col("n_hit"), F.lit(0).cast("long")).alias("n_hit"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0).cast("long"))
                / F.col("n_truth"),
                4,
            ).alias("recall"),
        )
    )


def crossmodal_consistency(
    pairs: DataFrame,
    pair_id: str = "pair_id",
    vec_a: str = "vec_a",
    vec_b: str = "vec_b",
    threshold: float = 0.0,
) -> DataFrame:
    """Paired-embedding cosine screen → (pair_id, cosine, status).

    The CLIP-score filter shape for an image+caption corpus: each row
    carries the image-side and caption-side embedding of ONE pair; a
    cosine below ``threshold`` marks the caption as unrelated to its
    image ('low'), the standard pre-training screen for scraped pairs.
    The cross-modal analogue of the reference's per-key value diff
    (Validator.cs compares paired field values; here the "values" are
    embeddings and equality is a similarity band).

    The status test uses the UNROUNDED cosine; rounding is display-only
    (4 dp) so results are oracle-portable. Degenerate pairs — either
    embedding NULL or all-zero (a dead encoder output, exactly what a
    consistency screen exists to catch) — would make the cosine
    NaN/NULL, and ``NaN < threshold`` is false in Spark, silently
    passing them as 'ok'; they are flagged 'invalid' with a NULL cosine
    instead. Scale: pure Column arithmetic per row (zip_with/aggregate
    in double), no shuffle at all if the pairing join upstream already
    co-located the two sides; at 10^12 pairs this is a single map stage
    over the joined table.
    """
    a, b = F.col(vec_a), F.col(vec_b)
    # stage the dot/norm aggregates once per row (r6): cosine and
    # status referenced the same HOF trees up to three times each
    c = F.col("_num") / F.col("_dd")
    bad = F.col("_dd").isNull() | (F.col("_dd") == 0)
    return pairs.select(
        F.col(pair_id),
        (_norm(a) * _norm(b)).alias("_dd"),
        _dot(a, b).alias("_num"),
    ).select(
        pair_id,
        F.when(bad, F.lit(None).cast("double"))
        .otherwise(F.round(c, 4))
        .alias("cosine"),
        F.when(bad, "invalid")
        .when(c < threshold, "low")
        .otherwise("ok")
        .alias("status"),
    )
