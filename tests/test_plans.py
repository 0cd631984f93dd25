"""Physical-plan quality gates: the properties that make this engine
viable at 100 TB must hold structurally, not accidentally. Each test
asserts a plan shape (.explain("formatted")) rather than a result."""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from assetdatavalidationtool_spark.contract import QUERIES
from assetdatavalidationtool_spark.datagen import (
    generate_captions,
    generate_clips,
    generate_images,
    generate_videos,
)
from assetdatavalidationtool_spark.operators import minhash_lsh_candidates
from assetdatavalidationtool_spark.rules import (
    AudioInvariantRule,
    ReferentialRule,
    RowInvariantRule,
    RuleContext,
    UniquenessRule,
    VideoInvariantRule,
)

SF = "/root/testdata/sf0.001"


def plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def ctx(spark, tmp_path_factory):
    # write to parquet so scans are real file scans (pushdown visible)
    d = tmp_path_factory.mktemp("plandata")
    generate_images(spark, 50, partitions=2).write.parquet(str(d / "img"))
    generate_captions(spark, 50, partitions=2).write.parquet(str(d / "cap"))
    return RuleContext(
        spark=spark,
        images=spark.read.parquet(str(d / "img")),
        captions=spark.read.parquet(str(d / "cap")),
        num_buckets=8,
    )


def test_referential_scans_key_only(ctx):
    """Bytes must never be read, let alone shuffled, for a key join."""
    p = plan(ReferentialRule().violations(ctx))
    for line in p.splitlines():
        if "ReadSchema" in line:
            assert "bytes" not in line, line
            assert "image_id" in line


@pytest.fixture(scope="module")
def media_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("mediadata")
    generate_clips(spark, 8, partitions=2, n_samples=200).write.parquet(str(d / "clips"))
    generate_videos(spark, 4, partitions=2, n_frames=2, w=16, h=8).write.parquet(
        str(d / "videos"))
    return d


@pytest.mark.parametrize("rule, table, cols", [
    (RowInvariantRule(), None, ["image_id", "bytes", "fmt", "caption"]),
    (AudioInvariantRule(), "clips", ["clip_id", "bytes", "sample_rate", "n_samples"]),
    (VideoInvariantRule(), "videos", ["video_id", "bytes", "n_frames", "fps"]),
], ids=["image", "audio", "video"])
def test_row_invariant_decodes_in_scan_stage(ctx, media_dir, rule, table, cols):
    """Each per-row media UDF is a narrow transformation: zero
    exchanges, and the scan reads exactly the columns the check needs."""
    if table is not None:
        ctx = RuleContext(spark=ctx.spark, key_col=cols[0], num_buckets=8,
                          images=ctx.spark.read.parquet(str(media_dir / table)))
    p = plan(rule.checks(ctx))
    assert p.count("Exchange") == 0
    read = [l for l in p.splitlines() if "ReadSchema" in l]
    assert len(read) == 1
    assert set(re.findall(r"(\w+):", read[0].split("struct<", 1)[1])) == set(cols)


def test_uniqueness_partial_final_aggregation(ctx):
    """Hash aggregation must split partial (map-side) + final."""
    p = plan(UniquenessRule(["image_id"]).violations(ctx))
    assert p.count("HashAggregate") >= 2


def test_q1_filter_pushdown(spark):
    p = plan(QUERIES["q1_pricing_summary"].fn(spark, SF))
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert pushed and "l_shipdate" in pushed[0]
    read = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "l_comment" not in read  # column pruning


def test_top_customers_broadcasts_dimension(spark):
    p = plan(QUERIES["top_revenue_customers"].fn(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def _n_exchanges(p: str) -> int:
    # node headers only; AQEShuffleRead lines excluded
    return sum(
        1 for l in p.splitlines() if l.strip().startswith("(") and "Exchange" in l
        and "AQEShuffleRead" not in l
    )


def test_presence_single_shuffle(spark):
    """Union → collect_set groupBy must be ONE shuffle (plus AQE
    reads) — not per-source distincts, not a two-aggregate pivot."""
    p = plan(QUERIES["presence_matrix"].fn(spark, SF))
    assert _n_exchanges(p) == 1, p


def test_deltas_join_reuses_dedup_shuffle(spark):
    """Each side's first-row-wins window shuffles on the normalized key
    the full-outer join uses, so the join adds no exchange: one per
    side, and one Generate for all cells instead of a union per column."""
    p = plan(QUERIES["deltas_cell_mismatches"].fn(spark, SF))
    assert _n_exchanges(p) == 2, p
    assert "Union" not in p and "Generate" in p


def test_normalize_values_stays_codegen(spark):
    """Normalization classes are pure Column exprs — no Python eval,
    no BatchEvalPython in the plan."""
    p = plan(QUERIES["normalize_values"].fn(spark, SF))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "codegen id" in p  # formatted mode marks codegen stages with *


def test_dedup_contract_plans_carry_skew_guards(spark):
    """The VERIFIED plans (what the driver correctness-checks and the
    bench times) must be the scale-safe variants: the stop-shingle /
    mega-bucket caps appear in the physical plan — not as optional
    parameters someone remembered to pass. Stop-shingle and pHash guards
    are broadcast anti-joins; the pair-join guards are a window count
    filtered on the join's own exchange (``dedup.drop_hot_groups``)."""
    for name in ("dedup_ngram_jaccard", "phash_neardup"):
        p = plan(QUERIES[name].fn(spark, SF))
        assert "LeftAnti" in p, f"{name}: skew-guard anti-join missing from plan"
        assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, (
            f"{name}: guard should broadcast the hot-group list"
        )
    for name in ("dedup_minhash_lsh", "similarity_ivf_topk", "dedup_embedding_neardup"):
        p = plan(QUERIES[name].fn(spark, SF))
        assert re.search(r"count\(1\) windowspecdefinition\(.*AS _group_rows", p), (
            f"{name}: skew-guard window count missing from plan"
        )
        assert re.search(r"Condition : .*_group_rows#\d+L <= \d+", p), (
            f"{name}: guard should filter on the group count"
        )


def _completed_multi_task_stages(spark, group, action):
    """Sorted task counts of the stages ``action`` completed with more
    than one task, read from the status tracker of its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    stages = (st.getStageInfo(s) for j in st.getJobIdsForGroup(group)
              for s in st.getJobInfo(j).stageIds)
    return sorted(i.numCompletedTasks for i in stages
                  if i is not None and i.numCompletedTasks > 1)


def test_minhash_lsh_guard_runs_shingling_once(spark):
    """The mega-bucket guard adds no stage: with the guard on, the scan,
    shingle and MinHash stages run once each, as they do without it (a
    separate count branch ran all of them a second time)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")

    def run(cap):
        return lambda: minhash_lsh_candidates(
            docs, "doc_id", "text", max_bucket_size=cap).count()

    guarded = _completed_multi_task_stages(spark, "lsh_guard_on", run(50))
    plain = _completed_multi_task_stages(spark, "lsh_guard_off", run(None))
    assert guarded and guarded == plain


def test_jaccard_self_join_reuses_shuffle(spark):
    """ngram_jaccard_pairs dropped its persist: the self-join's two
    sides must dedupe into ONE shuffle via ReusedExchange, or the
    shingle build runs twice. AQE only materializes reuse in the FINAL
    plan, so execute first and inspect the adaptive executed plan."""
    df = QUERIES["dedup_ngram_jaccard"].fn(spark, SF)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in executed
    assert "ReusedExchange" in executed


def test_schema_binary_null_check_pushes_down(spark, tmp_path_factory):
    """A binary column with only a nullability check must NOT be read by
    the fused schema scan: its IS NULL check runs as its own branch with
    the filter pushed to parquet (row-group null_count stats skip clean
    groups), and the fused scan's ReadSchema excludes the binary column."""
    from assetdatavalidationtool_spark.datagen import generate_images
    from assetdatavalidationtool_spark.rules import RuleContext, SchemaRule
    from assetdatavalidationtool_spark.rules.schema import ColumnSpec

    path = str(tmp_path_factory.mktemp("schemaplan") / "imgs")
    generate_images(spark, 50, partitions=2).write.parquet(path)
    images = spark.read.parquet(path)
    ctx = RuleContext(spark=spark, images=images, captions=None, num_buckets=8)
    rule = SchemaRule([
        ColumnSpec("image_id", "string", nullable=False),
        ColumnSpec("bytes", "binary", nullable=False),
        ColumnSpec("w", "int", nullable=False),
    ])
    p = plan(rule.violations(ctx))
    assert "IsNull(bytes)" in p  # pushed filter on the dedicated branch
    # the fused scan (the one that projects w) must not read bytes
    fused_scans = [
        seg for seg in p.split("Scan parquet")[1:] if "ReadSchema" in seg
    ]
    fused = [s for s in fused_scans if "w:int" in s.split("ReadSchema")[1][:200]]
    assert fused and all("bytes" not in s.split("ReadSchema")[1][:200] for s in fused)
    # correctness: null w/h faults still counted once each; no bytes nulls
    imgs2 = generate_images(spark, 50, partitions=2, null_dim_ids=3)
    ctx2 = RuleContext(spark=spark, images=imgs2, captions=None, num_buckets=8)
    vio = rule.violations(ctx2).collect()
    assert sum(1 for r in vio if r["column"] == "w") == 3
    assert sum(1 for r in vio if r["column"] == "bytes") == 0


def _outside_cache(p: str) -> str:
    """The operator tree of a formatted plan minus every InMemoryRelation
    subtree: what runs per action, outside the cached materialization."""
    out, cut = [], None
    for line in p.split("\n\n")[0].splitlines():
        depth = len(line) - len(line.lstrip(" :+-"))
        if cut is not None and depth > cut:
            continue
        cut = depth if "InMemoryRelation" in line else None
        out.append(line)
    return "\n".join(out)


def test_ruleset_verdicts_reuses_persisted_violations(spark):
    """The verdict aggregate must read the violations union from ONE
    materialization: the rules execute once, inside the cached subtree
    (without persist the whole rule set executes again per action —
    measured 16.5 s -> 4.1 s at sf0.1). Outside it, verdicts are one
    aggregate over a union — no join of any kind, and no scans beyond
    the rows-per-bucket count. Plans the LAZY builder: the registered
    query collects and unpersists (its own returned plan is a
    LocalTableScan by design)."""
    from assetdatavalidationtool_spark.contract import build_ruleset_run

    res = build_ruleset_run(spark, SF)
    p = plan(res["verdicts"])
    res["violations"].unpersist()
    head = _outside_cache(p)
    assert head.count("InMemoryRelation") == 1
    # the referential full-outer join exists only inside the cache
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p
    for op in ("Join", "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert op not in head, head
    assert head.count("Scan parquet") <= 2


def test_headline_violations_plan_has_no_rdd_scans(ctx):
    """Empty violation seeds are local relations that Catalyst prunes:
    no branch of the headline rule set's violations plan scans an
    RDD-backed ``createDataFrame``, and neither does its metrics plan
    (the stats aggregates and ``DriftRule.metrics``' driver rows)."""
    import bench

    out = bench.build_ruleset(ctx.spark, ctx.images).run(ctx, persist=False)
    p = plan(out["violations"])
    assert "Scan parquet" in p
    assert "ExistingRDD" not in p
    m = plan(out["metrics"])
    assert "LocalTableScan" in m
    assert "ExistingRDD" not in m


def test_local_rows_round_trips_as_local_table_scan(spark):
    """``local_rows`` keeps every type the package passes through it,
    NULLs, zero rows, a non-nullable field and collected ``Row``s; the
    frame is a ``LocalTableScan``, and neither building nor collecting
    it starts a job."""
    from assetdatavalidationtool_spark.rules.base import local_rows

    ddl = "s string NOT NULL, l bigint, i int, d double, b boolean, x binary"
    rows = [("a", 2**40, 7, 1.5, True, b"\x00\xff"), ("", None, None, None, None, None)]
    sc = spark.sparkContext
    sc.setJobGroup("local_rows_build", "local_rows_build")
    try:
        df = local_rows(spark, rows, ddl)
        empty = local_rows(spark, [], ddl)
        again = local_rows(spark, rows[:1] + df.collect()[1:], df.schema)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("local_rows_build") == []
    assert df.schema.simpleString() == (
        "struct<s:string,l:bigint,i:int,d:double,b:boolean,x:binary>")
    assert not df.schema["s"].nullable and df.schema["l"].nullable
    assert [tuple(r) for r in df.collect()] == rows
    assert [tuple(r) for r in again.collect()] == rows
    assert empty.collect() == [] and empty.schema == df.schema
    for frame in (df, empty):
        p = plan(frame)
        assert "LocalTableScan" in p and "ExistingRDD" not in p
    # an empty seed is pruned from a union
    assert "LocalTableScan" not in plan(
        spark.range(3).selectExpr("'r' AS s").unionByName(empty.select("s")))
    with pytest.raises(ValueError, match="non-nullable"):
        local_rows(spark, [(None, 1, 1, 1.0, True, b"")], ddl)


def test_headline_key_rules_share_one_image_id_aggregate(ctx):
    """uniqueness(image_id) and referential read ONE images-side count
    per image_id: the headline violations plan holds two image_id
    exchanges (that count and the caption keys), not three."""
    import bench

    vio = bench.build_ruleset(ctx.spark, ctx.images).run(ctx, persist=False)["violations"]
    assert len(re.findall(r"Arguments: hashpartitioning\(image_id#", plan(vio))) == 2


def test_contamination_broadcasts_benchmark_side(spark):
    """The benchmark set is tiny next to the corpus (10^3-10^5 vs
    10^12), so the shingle join and both bench-size joins must
    broadcast — the corpus shingle stream may not shuffle for the
    join. The only hash exchange allowed is the per-pair aggregate."""
    p = plan(QUERIES["corpus_contamination"].fn(spark, SF))
    assert "BroadcastHashJoin" in p
    # corpus side reaches the bench join without a hash-partition
    # exchange: every hashpartitioning exchange in this plan belongs to
    # an aggregate (partial/final pair counts or the df-cap count),
    # never to a SortMergeJoin on `shingle`.
    assert "SortMergeJoin" not in p


def test_phash_neardup_scan_excludes_everything_but_keys(spark):
    """The near-dup plan moves (image_id, phash) only — at 10^12 rows
    the band exchange is the entire data volume; image bytes must not
    appear in any ReadSchema."""
    p = plan(QUERIES["phash_neardup"].fn(spark, SF))
    for line in p.splitlines():
        if "ReadSchema" in line:
            assert "bytes" not in line, line


def test_phash_self_join_reuses_shuffle(spark):
    """The band self-join's two sides are identical subplans and must
    collapse into ONE shuffle via ReusedExchange — otherwise the band
    build (the entire data volume at 10^12 rows) runs twice. The
    popcount and first-kept-shared-band predicates must sit in the
    join condition (evaluated per candidate inside the join), never in
    a post-join filter over materialized pair rows. (Predicate ORDER
    within the condition is the optimizer's to rearrange per join
    strategy, so it is deliberately not asserted.)"""
    df = QUERIES["phash_neardup"].fn(spark, SF)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    final = executed.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert "ReusedExchange" in final
    cond = [l for l in final.splitlines()
            if "Join" in l and "bit_count" in l]
    assert cond, "popcount must be part of the join condition"


def test_image_gate_and_aspect_are_scan_stage(spark):
    """Both metadata curation queries are narrow projections: zero
    exchanges — at 10^12 rows they run at parquet scan speed."""
    for name in ("image_gate", "image_aspect_buckets"):
        p = plan(QUERIES[name].fn(spark, SF))
        assert p.count("Exchange") == 0, name


def test_pack_chunks_single_lane_shuffle(spark):
    """Packing shuffles ONCE (hash partition by lane for the window
    cumsum); the bin aggregate reuses that partitioning map-side, so a
    second full exchange of the chunk volume never happens."""
    import re

    df = QUERIES["corpus_pack_bins"].fn(spark, SF)
    p = plan(df)
    # allowed: the small-scan spread repartition + the lane window
    # partition. The bin aggregate must REUSE the window's lane
    # partitioning (groupBy keys prefix-match it) — a third exchange
    # would re-shuffle the full chunk volume at 10^12 rows.
    exchanges = re.findall(r"\(\d+\) Exchange", p)
    assert 1 <= len(exchanges) <= 2, p
    # structurally: no Exchange between the Window and the aggregates
    tree = p.split("(1) ")[0]
    win_at = tree.index("Window")
    agg_at = tree.rindex("HashAggregate", 0, win_at) if "HashAggregate" in tree[:win_at] else 0
    assert "Exchange" not in tree[agg_at:win_at], tree


def test_lm_quality_broadcasts_cost_table(spark):
    """The per-token cost table is vocab-sized and must broadcast —
    a shuffled join here would re-exchange the full exploded token
    stream (corpus-sized) at 10^12 rows."""
    p = plan(QUERIES["text_lm_quality"].fn(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_shard_plan_single_lane_shuffle(spark):
    """Shard planning shuffles ONCE (hash partition by (bucket, lane)
    for the window cumsum); the shard aggregate reuses that partitioning
    map-side — a second exchange would re-shuffle the full corpus
    metadata volume at 10^12 rows."""
    import re

    p = plan(QUERIES["image_shard_plan"].fn(spark, SF))
    exchanges = re.findall(r"\(\d+\) Exchange", p)
    assert 1 <= len(exchanges) <= 2, p
    tree = p.split("(1) ")[0]
    win_at = tree.index("Window")
    agg_at = tree.rindex("HashAggregate", 0, win_at) if "HashAggregate" in tree[:win_at] else 0
    assert "Exchange" not in tree[agg_at:win_at], tree


def test_curation_pipeline_drop_join_broadcasts(spark):
    """The curation pipeline's only corpus-wide join is the drop-set
    left join, and it must broadcast: the drop set is a tiny fraction
    of the corpus, while a shuffled join would re-exchange all 10^12
    rows of gated metadata. The pair join never appears here — it sits
    behind the connected-components parquet checkpoint."""
    p = plan(QUERIES["image_curation_pipeline"].fn(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_split_tagged_single_scan_reuses_persisted_violations(ctx):
    """The clean/quarantine tagged plan must (a) read the violations
    from their ONE persisted materialization (InMemoryTableScan), never
    re-executing the rule plans, and (b) scan the input images exactly
    once — at 10^12 rows a second scan doubles the cost of the split."""
    from assetdatavalidationtool_spark.rules import (
        RuleSet,
        split_violations,
    )

    rs = RuleSet([UniquenessRule(["image_id"]), ReferentialRule()])
    res = rs.run(ctx)
    res["violations"].count()  # materialize the cache
    parts = split_violations(ctx, res["violations"])
    p = plan(parts["tagged"])
    res["violations"].unpersist()
    assert "InMemoryTableScan" in p
    # outside the cached subtree the input is scanned exactly once
    head = p.split("InMemoryRelation")[0] if "InMemoryRelation" in p else p
    assert head.count("Scan parquet") == 1
    # one join only: the per-key violation aggregate joined to the input
    assert head.count("Join") == 1


def test_exact_dup_single_aggregate_no_bytes_shuffle(spark):
    """Exact dedup is ONE hash aggregate on (digest) — the payload
    column is projected into md5 in the scan stage and never shuffles;
    the exchange carries digest+id only."""
    p = plan(QUERIES["image_exact_dup"].fn(spark, SF))
    n_exchange = sum(
        1 for l in p.splitlines() if l.strip().startswith("(") and "Exchange" in l
        and "AQEShuffleRead" not in l
    )
    assert n_exchange == 1, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_boilerplate_distinct_is_two_phase(spark):
    """count(DISTINCT id) must plan as partial-distinct aggregates (two
    exchanges max: (caption,id) then (caption)) — not a single-reducer
    distinct. Boilerplate keys are skewed by definition; the (caption,
    id) pre-aggregate IS the salting."""
    p = plan(QUERIES["image_caption_boilerplate"].fn(spark, SF))
    n_exchange = sum(
        1 for l in p.splitlines() if l.strip().startswith("(") and "Exchange" in l
        and "AQEShuffleRead" not in l
    )
    assert n_exchange <= 2, p
    # partial/final × two phases; min(string)'s immutable buffer makes
    # Spark pick SortAggregate here — either node kind satisfies the gate
    n_aggs = p.count("HashAggregate") + p.count("SortAggregate")
    assert n_aggs >= 3, p


def test_dim_quantiles_shuffles_distinct_values_only(spark):
    """The CDF walk: one exchange for the (col,val) histogram, one tiny
    re-key by col for the windows + final agg; both window frames share
    one sort. No Python, no whole-table sort."""
    p = plan(QUERIES["image_dim_quantiles"].fn(spark, SF))
    n_exchange = sum(
        1 for l in p.splitlines() if l.strip().startswith("(") and "Exchange" in l
        and "AQEShuffleRead" not in l
    )
    assert n_exchange <= 3, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # the full-row sort an exact percentile() would need must NOT appear
    # before the first aggregate: Sort nodes may only follow the histogram
    first_agg = p.find("HashAggregate")
    assert "Sort" not in p[:first_agg], p


def test_crossmodal_cosine_is_pure_column_math(spark):
    """The cosine screen adds NO exchange beyond the pairing join and
    never leaves the JVM (zip_with/aggregate in double)."""
    from assetdatavalidationtool_spark.operators.similarity import (
        crossmodal_consistency,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 0.0], [0.0, 1.0])],
        "pair_id long, vec_a array<float>, vec_b array<float>",
    )
    p = plan(crossmodal_consistency(df))
    assert "Exchange" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_bucketed_layout_makes_referential_exchange_free(spark, tmp_path_factory):
    """Write both corpus sides bucketed by the join key: the
    referential containment check (distinct keys + full-outer join)
    must then plan with ZERO Exchange nodes — the write-time shuffle
    is the last one the key ever needs. Broadcast is disabled so the
    gate proves co-location, not small-table luck."""
    from assetdatavalidationtool_spark.rules import ReferentialRule, RuleContext
    from assetdatavalidationtool_spark.sources.bucketed import (
        read_bucketed,
        write_bucketed,
    )

    d = tmp_path_factory.mktemp("buck")
    img = spark.range(0, 500).selectExpr(
        "concat('img_', id) AS image_id", "cast(id % 7 AS int) AS w"
    )
    cap = spark.range(0, 480).selectExpr(
        "concat('img_', id) AS image_id", "concat('cap ', id) AS caption"
    )
    write_bucketed(img, "t_img_b", str(d / "img"), ["image_id"], 8)
    write_bucketed(cap, "t_cap_b", str(d / "cap"), ["image_id"], 8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ctx = RuleContext(
            spark=spark,
            images=read_bucketed(spark, "t_img_b"),
            captions=read_bucketed(spark, "t_cap_b"),
            num_buckets=8,
        )
        vio = ReferentialRule().violations(ctx)
        p = plan(vio)
        assert "Exchange" not in p, p
        assert "SortMergeJoin" in p, p
        assert vio.count() == 20  # img_480..img_499 missing captions
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_img_b")
        spark.sql("DROP TABLE IF EXISTS t_cap_b")


def test_header_consistency_is_scan_stage_only(ctx):
    """The header screen is a narrow projection: zero exchanges, and
    the scan reads only the five columns it needs (never phash or
    caption) — at 10^12 rows the payload is sliced where it is read."""
    from assetdatavalidationtool_spark.rules.header import HeaderConsistencyRule

    p = plan(HeaderConsistencyRule().violations(ctx))
    assert p.count("Exchange") == 0
    read = [l for l in p.splitlines() if "ReadSchema" in l]
    assert read and "bytes" in read[0]
    assert "phash" not in read[0] and "caption" not in read[0]


def test_partition_col_bucket_filter_prunes_partitions(spark, tmp_path_factory):
    """ValidationRun(partition_col=...) turns bucket-grain filters
    (resume / canary / incremental) into PartitionFilters on the
    physical layout: the skipped buckets' files are never opened —
    'read 1/64' instead of 'scan everything and throw 63/64 away'."""
    from assetdatavalidationtool_spark.manifest import ValidationRun
    from assetdatavalidationtool_spark.rules import RuleContext

    d = tmp_path_factory.mktemp("bkt_prune")
    df = spark.range(200).select(
        F.concat(F.lit("k"), F.col("id")).alias("image_id"),
        F.col("id").alias("w"),
    )
    bkt = F.pmod(F.xxhash64(F.col("image_id")), F.lit(8)).cast("int")
    df.withColumn("bucket", bkt).write.partitionBy("bucket").parquet(
        str(d / "images")
    )
    images = spark.read.parquet(str(d / "images"))
    run = ValidationRun(spark, str(d / "out"), [], num_buckets=8,
                        partition_col="bucket")
    ctx = RuleContext(spark=spark, images=images, captions=None, num_buckets=8)
    f = run._filtered_ctx(ctx, {0, 3})
    phys = f.images._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in phys.splitlines() if "FileScan" in l)
    # the bucket predicate must be a PartitionFilter, NOT a DataFilter
    assert "DataFilters: []" in scan
    assert "PartitionFilters:" in scan and "bucket" in scan.split(
        "PartitionFilters:"
    )[1].split("]")[0]
    # identical semantics to the hash-recompute path
    expect = images.where(
        F.pmod(F.xxhash64(F.col("image_id")), F.lit(8)).isin(0, 3)
    ).count()
    assert f.images.count() == expect == 45
    # without partition_col the same filter falls back to the hash path
    run2 = ValidationRun(spark, str(d / "out2"), [], num_buckets=8)
    f2 = run2._filtered_ctx(ctx, {0, 3})
    assert f2.images.count() == expect
