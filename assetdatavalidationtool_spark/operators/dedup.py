"""Deduplication operators for web-scale corpora.

All stages are built-in Column expressions (JVM-side, codegen) — no
Python in the hot path. Hash functions are md5-based so every result is
deterministic and portable across engines (the DuckDB oracles compute
the identical hashes).

Scale design notes (what changes at 10^12 documents):

* exact dedup     — one hash-aggregate on the fingerprint; map-side
  partial aggregation shrinks each partition to its distinct set first.
* n-gram jaccard  — the shingle equi-join explodes on hot shingles
  (boilerplate, templates). ``max_shingle_df`` drops shingles whose
  document frequency exceeds a cap BEFORE the join: standard stop-shingle
  filtering that bounds the join fan-out to df_cap² per shingle.
* minhash LSH     — replaces the all-pairs join with banding: documents
  agree on a band key with probability ~ jaccard^rows_per_band, so the
  join is on band buckets, not shingles. The band-bucket exchange is
  the only shuffle whose fan-in can skew; buckets above
  ``max_bucket_size`` are dropped by a window count on that same
  exchange (they're near-certain boilerplate clusters and would emit
  O(n²) candidate pairs).
"""

from __future__ import annotations

import atexit
import shutil as _shutil

from pyspark.sql import DataFrame, Window, functions as F

# auto-created connected_components checkpoint roots, swept at exit
_TEMP_CC_ROOTS: list[str] = []


@atexit.register
def _sweep_cc_roots() -> None:
    for d in _TEMP_CC_ROOTS:
        _shutil.rmtree(d, ignore_errors=True)


def _hash_to_min_labels(u, v, n: int):
    """Min-label connected components over a factorized edge list on
    the DRIVER: vectorized hooking with full pointer jumping. Each
    round hooks, for every edge whose endpoints sit in different trees,
    the larger root onto the smaller one (``np.minimum.at`` —
    unbuffered, duplicate-safe), then jumps every pointer to its root,
    so each round ends with every tree a star. Every unfinished round
    merges at least two trees (so the loop terminates); in practice
    the tree count falls geometrically (a randomly ordered 10^6-node
    chain takes 14 rounds; edge-min steps with one jump per round took
    1,700-6,100 rounds on a 10^4-node one), each round O(E) of numpy.

    Correctness invariants (each is inductive over rounds): pointers
    only decrease, so ``lbl[i] <= i`` and the pointer graph is a
    forest; pointers only follow edges, so every root is a member of
    its node's component. At the fixpoint no edge joins two trees, so
    each component is one star whose root c is a member with c <=
    every member, i.e. c IS the minimum member. Returns ``lbl`` with
    ``lbl[i]`` = smallest member index of i's component.
    """
    import numpy as np

    lbl = np.arange(n, dtype=np.int64)
    while True:
        lu, lv = lbl[u], lbl[v]
        new = lbl.copy()
        np.minimum.at(new, np.maximum(lu, lv), np.minimum(lu, lv))
        while not np.array_equal(new[new], new):
            new = new[new]
        if np.array_equal(new, lbl):
            return lbl
        lbl = new


def norm_text(c: F.Column) -> F.Column:
    """lowercase + trim + collapse whitespace — THE canonical text form,
    shared by fingerprinting and caption-boilerplate screening so their
    groupings can never drift apart (the contract oracles mirror this
    exact expression)."""
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def _tokenize(c: F.Column) -> F.Column:
    """lowercase + split on non-alphanumerics, empties dropped. NOTE: no
    whitespace-collapse pass — the ``[^a-z0-9]+`` split subsumes it
    (tokens are provably identical), and the extra regexp_replace over
    every document was the single hottest expression in the shingle
    plan (~40% of shingle build time at sf0.1)."""
    return F.filter(F.split(F.lower(c), r"[^a-z0-9]+"), lambda t: t != "")


def _parse_byte_conf(s: str) -> int:
    """'128MB' / '134217728b' / '134217728' → bytes."""
    import re as _re

    m = _re.match(r"^\s*(\d+)\s*([kmgt]?)b?\s*$", s.lower())
    if not m:
        return 128 * 1024 * 1024
    return int(m.group(1)) * {"": 1, "k": 1024, "m": 1024**2,
                              "g": 1024**3, "t": 1024**4}[m.group(2)]


def spread_small_scan(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """CPU-parallelism guard for expression-heavy per-row operators:
    a small input often arrives as ONE scan partition (single parquet
    row group), serializing tokenize/n-gram work onto one core. If the
    scan would have fewer partitions than the cluster's default
    parallelism, repartition up (the input is small by construction, so
    the shuffle is pennies); at real scale inputs already yield >= cores
    partitions and this is a no-op — no shuffle is ever added to a big
    table.

    The partition estimate comes from Catalyst's plan statistics
    (``sizeInBytes`` / ``spark.sql.files.maxPartitionBytes`` — the same
    arithmetic FileSourceScanExec uses to pack splits), NOT from
    ``df.rdd``: converting to an RDD forces a full plan analysis round
    trip per call and bypasses AQE's view of the plan."""
    if df.isStreaming:
        return df  # micro-batch partitioning is the stream's concern
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    try:
        # py4j maps scala BigInt to a Python int when it fits; str()
        # covers both that and a raw JavaObject
        size = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
        max_pb = _parse_byte_conf(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")
        )
        est_partitions = max(1, (size + max_pb - 1) // max_pb)
    except Exception:
        return df  # no stats available: leave the plan untouched
    if est_partitions < target:
        return df.repartition(target)
    return df


def drop_hot_groups(df: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Skew guard before a pair join on ``keys``: drop every row whose
    group holds more than ``cap`` rows. One hot group makes the pair
    join Σ|group|², and a group that hot is boilerplate or a degenerate
    hash/quantizer region, not a useful candidate set. A row with a null
    key is kept, as a null never names a hot group (it joins nothing).

    The count is ``count(1) OVER (PARTITION BY keys)``, so it rides the
    pair join's own exchange: the frame is computed once. A separate
    ``groupBy(keys).count()`` + broadcast ``left_anti`` is a second
    branch; Catalyst pushes the join's inferred ``isnotnull`` filters
    into the join branch only, so the two no longer match as one
    exchange and the whole upstream (scan, shingle, MinHash) runs twice.

    The cost: a hot group's rows all land in one task, which sorts them
    before dropping them (4 cores, 4 M band rows, half in four 500 k-row
    buckets: 29-34 s with the window guard + pair join vs 35-41 s with
    the anti-join). The stop-shingle guards of ``ngram_jaccard_pairs``
    and ``ngram_containment_pairs`` stay on the broadcast anti-join:
    stop shingles are common by definition, and the map-side partial
    count avoids the skew a window adds (4 cores, one sample each at
    sf0.1: ``corpus_contamination`` 2.09 s → 3.19 s with a window,
    ``dedup_ngram_jaccard`` 8.3 s → 8.5 s)."""
    n = F.count(F.lit(1)).over(Window.partitionBy(*keys))
    keep = F.col("_group_rows") <= cap
    for k in keys:
        keep = keep | F.col(k).isNull()
    return df.withColumn("_group_rows", n).where(keep).drop("_group_rows")


def fingerprint_col(c: F.Column) -> F.Column:
    return F.md5(norm_text(c))


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by content fingerprint →
    (fingerprint, n_docs, min_doc_id, max_doc_id), n_docs > 1."""
    return (
        df.select(
            fingerprint_col(F.col(text_col)).alias("fingerprint"),
            F.col(id_col).alias("_id"),
        )
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("_id").alias("min_doc_id"),
            F.max("_id").alias("max_doc_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def shingle(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document → (doc_id, shingle).

    Tokenize (split on non-alphanumerics), build n-grams with
    ``transform`` over an index sequence — a narrow, codegen'd
    transformation; no shuffle until the caller aggregates.
    """
    # tokenize-once staging: the split is materialized as ``tk`` in its
    # own projection, so the per-gram slice reads an attribute. The old
    # form re-inlined the split into every HOF slice — one full
    # re-tokenization per SHINGLE, O(n_tokens²) regex work per doc
    # (the text_repetition pathology, VERDICT r5 #1, shared by every
    # shingle consumer: jaccard, minhash, LSH, contamination).
    tk = F.col("tk")
    grams = F.when(
        F.size(tk) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(tk) - n),
            lambda i: F.concat_ws(" ", F.slice(tk, i + 1, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", tk)))
    sh = (
        spread_small_scan(df)
        .select(F.col(id_col).alias("doc_id"), _tokenize(F.col(text_col)).alias("tk"))
        .select("doc_id", F.explode(grams).alias("shingle"))
        .where(F.col("shingle") != "")
    )
    # Pin the distinct's partition count (r6): shingle rows are narrow
    # and compress hard, so AQE's size-based coalescing collapses the
    # distinct — and every downstream map-side stage that inherits its
    # partitioning (similarity joins, containment join + pair
    # aggregates) — to 1-2 tasks, serializing the CPU-heavy part of
    # every shingle consumer (measured: 3 single-task stages totalling
    # ~17 s inside corpus_contamination at sf1.0). Partition count
    # derives from the cluster's core count, not a constant.
    par = sh.sparkSession.sparkContext.defaultParallelism * 4
    return sh.repartition(par, "doc_id", "shingle").dropDuplicates()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """All-pairs n-gram Jaccard similarity >= threshold →
    (doc_a, doc_b, intersection, size_a, size_b, jaccard).

    jaccard = |A∩B| / (|A| + |B| − |A∩B|), computed from ONE
    shingle-equality join + ONE aggregate.
    """
    sh = shingle(df, id_col, text_col, n)
    if max_shingle_df is not None:
        hot = sh.groupBy("shingle").count().where(F.col("count") > max_shingle_df)
        sh = sh.join(F.broadcast(hot.select("shingle")), "shingle", "left_anti")
    # No persist: the self-join's two sides are identical subplans, so
    # Spark reuses one shuffle (ReusedExchange) — and caching a multi-TB
    # shingle explosion would be the real scale hazard. The separate
    # `sizes` aggregate re-scans the (narrow) shingle plan once more,
    # which is cheaper than pinning it in executor memory.
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))

    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("intersection"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("size_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("intersection")
                / (F.col("size_a") + F.col("size_b") - F.col("intersection")),
                4,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "intersection", "size_a", "size_b", "jaccard")
    )


def _shingle_hash(seed: int) -> F.Column:
    """Portable 32-bit-ish hash of a shingle for minhash: the first 8 hex
    chars of md5("<seed>:<shingle>") read as an integer. DuckDB mirrors
    this exactly."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), F.col("shingle"))), 1, 8), 16, 10
    ).cast("long")


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, num_hashes: int = 8
) -> DataFrame:
    """MinHash signature per document: (doc_id, mh_0 … mh_{k-1}).
    One aggregate over the shingle set — k mins computed in one pass."""
    sh = shingle(df, id_col, text_col, n)
    aggs = [F.min(_shingle_hash(s)).alias(f"mh_{s}") for s in range(num_hashes)]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int = 50,
) -> DataFrame:
    """LSH candidate pairs: band the signature, bucket-join within bands
    → distinct (doc_a, doc_b). rows_per_band = num_hashes // bands.

    ``max_bucket_size`` drops every (band, bkey) bucket above the cap
    before the pair join (:func:`drop_hot_groups`: a window count on the
    join's own exchange, so shingling and MinHash run once)."""
    rows = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes)
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh_{b * rows + r}").cast("string") for r in range(rows)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("_", *parts)).alias("bkey"),
            )
        )
    banded = sig.select(
        F.col("doc_id"), F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))

    # drop boilerplate mega-buckets before the pair join (skew guard)
    if max_bucket_size is not None:
        banded = drop_hot_groups(banded, ["band", "bkey"], max_bucket_size)

    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "bkey"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


# Pair-count bound of the driver finish: at or below it the whole pair
# table is labelled on the driver (5M pairs is a few hundred MB); above
# it the distributed star loop runs.
_DRIVER_FINISH_MAX_PAIRS = 5_000_000
# Round cap of the distributed loop (one round = small-star + large-star).
_MAX_ROUNDS = 30


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over an undirected duplicate-pair graph →
    ``(doc_id, cluster_id)`` where ``cluster_id`` is the minimum member
    id of the component. This is the step that turns near-dup PAIRS
    (from LSH / Jaccard / SimHash) into dedup GROUPS: keep one doc per
    cluster, drop the rest. Pairs with a null endpoint are dropped;
    duplicate, reversed and self-loop pairs are allowed.

    Two execution paths, chosen by the pair count:

    * **Driver finish** (``_DRIVER_FINISH_MAX_PAIRS``, 5M pairs ≈ a few
      hundred MB): one Arrow transfer + vectorized hooking and pointer
      jumping (:func:`_hash_to_min_labels`) — the broadcast-join
      principle applied to an iterative algorithm; the collect is
      bounded by the gate, exactly like the histogram/centroid collects
      elsewhere. Measured crossover: at ~200k pairs the driver finish
      is ~4x faster than the distributed path; at ~2-3M (image graph,
      string ids) pandas factorize + the result round-trip already
      lose to it.
    * **Distributed**: alternating small-star / large-star rounds
      (Kiveris et al., "Connected Components in MapReduce and Beyond",
      SoCC 2014; O(log² n) rounds) over a canonical edge table
      ``(big, small)`` with ``big >= small``. Each star step is ONE
      per-node min aggregate ``m(u) = min small over u's rows``
      (map-side partial) joined back to the edges, then a distinct.
      Small-star emits ``(small, m(big))`` per row plus ``(u, m(u))``
      per node, so afterwards every node is a ``big`` (a node without
      smaller neighbors keeps a ``(u, u)`` row); large-star emits
      ``(big, m(small))`` per edge and keeps those ``(u, u)`` rows.
      Components are preserved by both steps. The loop stops on an
      exact test observed on the large-star write: no node has two
      distinct smaller neighbors and no edge's smaller end has a
      smaller neighbor — both counts are zero iff every component is a
      star around its minimum, and then the step's output is exactly
      one ``(node, min member)`` row per node, i.e. the labels.
      Running out of ``_MAX_ROUNDS`` raises instead of returning
      partial labels.

    Lineage discipline: every step's output is CHECKPOINTED to parquet
    and re-read, so each step's logical plan has constant size. This
    is not optional hygiene — without truncation the plan for step k
    embeds step k-1's plan twice (the aggregate side and the join
    side), i.e. 2^k plan nodes: a 12-step loop OOMs the DRIVER during
    plan analysis long before any data is large (observed: java heap
    exhaustion building plan strings at k≈12). Caching does not help —
    persist stops recomputation, not plan growth. Production iterative
    graph jobs (GraphX, GraphFrames) checkpoint for exactly this
    reason. Superseded step dirs are deleted at once. The returned
    DataFrame is a clean scan of the final checkpoint — no cached RDDs
    left pinned in the session (the leak class the round-4 advice
    found in ruleset_verdicts).
    """
    import shutil
    import tempfile

    from pyspark.sql import Observation

    spark = pairs.sparkSession
    pairs_p = (
        pairs.select(F.col(src).alias("pa"), F.col(dst).alias("pb"))
        .dropna()
        .persist()
    )
    n_pairs = pairs_p.count()

    root = checkpoint_dir or tempfile.mkdtemp(prefix="spark_cc_")
    if checkpoint_dir is None:
        # The FINAL labels dir must outlive this call (the returned
        # DataFrame lazily scans it), so it cannot be deleted here —
        # without a hook every call leaks one tempdir for the process
        # lifetime (observed: 150+ dirs across a test+bench session).
        # Sweep auto-created roots at interpreter exit; caller-supplied
        # checkpoint_dir is the caller's to manage.
        _TEMP_CC_ROOTS.append(root)

    def _checkpoint(df: DataFrame, name: str) -> DataFrame:
        path = f"{root}/{name}"
        df.write.mode("overwrite").parquet(path)
        return spark.read.schema(df.schema).parquet(path)

    def _driver_finish() -> DataFrame:
        """Bounded driver finish: ONE Arrow ``toPandas`` plus a
        vectorized hash-to-min replaces every distributed round — each
        of which costs an aggregate, a join and a checkpoint round-trip
        of mostly fixed overhead at this size. Duplicate rows, reversed
        pairs and self-loops are all no-ops for hash-to-min, so the
        pair table is passed as-is (its endpoint union IS the node
        set). An empty pair table takes this path too."""
        import numpy as np
        import pandas as pd
        from pyspark.sql import types as T

        pdf = pairs_p.toPandas()
        # sort=True: code order == value order (pandas str comparison is
        # code-point order == Spark's UTF8 binary order for valid
        # UTF-8), so the min CODE per component is the min VALUE —
        # matching F.min's semantics on both long and string ids
        codes, uniq = pd.factorize(
            pd.concat([pdf.iloc[:, 0], pdf.iloc[:, 1]], ignore_index=True),
            sort=True,
        )
        m = len(pdf)
        lbl = _hash_to_min_labels(codes[:m], codes[m:], len(uniq))
        uniq = np.asarray(uniq)
        node_t = pairs_p.schema[0].dataType
        return _checkpoint(
            spark.createDataFrame(
                pd.DataFrame({"big": uniq, "small": uniq[lbl]}),
                T.StructType(
                    [
                        T.StructField("big", node_t, True),
                        T.StructField("small", node_t, True),
                    ]
                ),
            ),
            "final_driver",
        )

    def _star_loop() -> DataFrame:
        big, small, m, node = F.col("big"), F.col("small"), F.col("m"), F.col("node")
        # self-loops stay: a node whose only pair is (u, u) keeps that row
        edges = pairs_p.select(
            F.greatest("pa", "pb").alias("big"), F.least("pa", "pb").alias("small")
        )
        for step in range(2 * _MAX_ROUNDS):
            large = step % 2 == 1
            # m(u) = min of u and its smaller neighbors; mx(u) = largest
            # strictly smaller neighbor, > m(u) iff there are two of them
            mins = edges.groupBy(big.alias("node")).agg(
                F.min("small").alias("m"),
                F.max(F.when(small < big, small)).alias("mx"),
            )
            if large:
                obs_nodes = Observation(f"cc_star_nodes_{step}")
                obs_edges = Observation(f"cc_star_edges_{step}")
                mins = mins.observe(
                    obs_nodes, F.count(F.when(F.col("mx") > m, 1)).alias("n")
                )
                out = (
                    edges.join(mins, small == node)
                    .observe(
                        obs_edges,
                        F.count(F.when((big > small) & (m < small), 1)).alias("n"),
                    )
                    .where((big > small) | (m == small))
                    .select("big", m.alias("small"))
                )
            else:
                out = (
                    edges.join(mins, big == node)
                    .select(small.alias("big"), m.alias("small"))
                    .unionByName(mins.select(node.alias("big"), m.alias("small")))
                )
            edges = _checkpoint(out.dropDuplicates(), f"star_{step}")
            if step == 0:
                pairs_p.unpersist()
            else:
                shutil.rmtree(f"{root}/star_{step - 1}", ignore_errors=True)
            if large and obs_nodes.get["n"] == 0 and obs_edges.get["n"] == 0:
                return edges
        raise RuntimeError(
            f"connected_components did not converge in {_MAX_ROUNDS} rounds"
        )

    labels = _driver_finish() if n_pairs <= _DRIVER_FINISH_MAX_PAIRS else _star_loop()
    pairs_p.unpersist()
    return labels.select(
        F.col("big").alias("doc_id"), F.col("small").alias("cluster_id")
    )


def canonical_docs(
    clusters: DataFrame,
    docs: DataFrame,
    id_col: str,
    order_col: str,
) -> DataFrame:
    """Canonical-document selection per duplicate cluster →
    ``(cluster_id, kept_doc_id, kept_<order_col>, n_members)``.

    The kept doc is the cluster member with the LARGEST ``order_col``
    (e.g. ``n_chars`` — prefer the longest variant), ties broken by
    smallest id — the standard "keep best copy" dedup policy. One join
    (clusters are a tiny (id, cluster) projection of the corpus — the
    join key is the doc id, so at scale this co-partitions with the
    corpus' natural key) and one window per cluster; cluster cardinality
    is bounded by the upstream LSH bucket cap, so the window partitions
    cannot skew.
    """
    from pyspark.sql import Window

    j = clusters.join(docs.withColumnRenamed(id_col, "doc_id"), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc(order_col), F.asc("doc_id")
    )
    wc = Window.partitionBy("cluster_id")
    return (
        j.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(wc))
        .where(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("kept_doc_id"),
            F.col(order_col).alias(f"kept_{order_col}"),
            "n_members",
        )
    )


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """SimHash per document over word tokens → (doc_id, simhash).

    Token hash = first 8 hex chars of md5(token) as int; bit b
    contributes +1 if set else −1, weighted by token count; the sign
    vector packs into an int. One explode + one aggregate."""
    toks = _tokenize(F.col(text_col))
    tdf = (
        spread_small_scan(df)
        .select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("w"))
        .withColumn(
            "th", F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
        )
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("th"), b).bitwiseAND(F.lit(1)) == 1, F.col("w"))
            .otherwise(-F.col("w"))
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    agg = tdf.groupBy("doc_id").agg(*bit_sums)
    packed = None
    for b in range(bits):
        bit = F.when(F.col(f"s{b}") > 0, F.lit(2 ** b)).otherwise(F.lit(0))
        packed = bit if packed is None else (packed + bit)
    return agg.select("doc_id", packed.cast("long").alias("simhash"))


def ngram_containment_pairs(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Benchmark-contamination check: for each (corpus doc, benchmark
    doc) pair, the CONTAINMENT of the benchmark's n-gram shingle set in
    the corpus doc — |corpus ∩ bench| / |bench| — flagged at
    ``>= threshold``. Output: (doc_id, bench_id, intersection,
    bench_size, containment).

    This is the asymmetric cousin of n-gram Jaccard (`ngram_jaccard_
    pairs`): a training document that embeds a whole benchmark item
    scores ~1.0 here even when the document is long enough that its
    Jaccard similarity to the item is tiny — exactly the case decontam
    filters care about (GPT-3 appendix C / Dodge et al. 2021 use the
    same n-gram-overlap-vs-benchmark formulation).

    Scale shape: benchmark sets are small (10^3-10^5 items) next to the
    corpus (10^12 docs), so the benchmark shingle side is broadcast —
    the corpus shingle stream never shuffles; the only exchange is the
    per-pair count aggregate. The stop-shingle df cap applies to the
    CORPUS side only (boilerplate n-grams would fan out the join);
    benchmark shingles are kept complete so the containment denominator
    stays exact.
    """
    c_sh = shingle(corpus, id_col, text_col, n)
    if max_shingle_df is not None:
        hot = c_sh.groupBy("shingle").count().where(F.col("count") > max_shingle_df)
        c_sh = c_sh.join(F.broadcast(hot.select("shingle")), "shingle", "left_anti")
    b_sh = shingle(bench, id_col, text_col, n).withColumnRenamed("doc_id", "bench_id")
    b_sizes = b_sh.groupBy("bench_id").agg(F.count("*").alias("bench_size"))

    inter = (
        c_sh.join(F.broadcast(b_sh), "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("intersection"))
    )
    return (
        inter.join(F.broadcast(b_sizes), "bench_id")
        .withColumn(
            "containment",
            F.round(F.col("intersection") / F.col("bench_size"), 4),
        )
        .where(F.col("containment") >= threshold)
        .select("doc_id", "bench_id", "intersection", "bench_size", "containment")
    )
