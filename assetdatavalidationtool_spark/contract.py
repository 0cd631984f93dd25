"""Driver-contract query registry.

One entry per implemented operator family (SURVEY.md §2), exercised on
the driver's TPC-H-ish parquet tables. Each entry carries BOTH the
Spark dataflow (built on the engine's public modules) and the
equivalent ANSI SQL for the DuckDB oracle. Column names and float
rounding are aligned on both sides because the driver's comparator
hashes values after sorting columns by name.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from .normalize import norm_key, norm_value, normalize_ipv4, normalize_serial
from .rules.base import local_rows, read_table
from .validation import (
    column_overlap,
    conflicts,
    field_mapping_scores,
    key_presence,
    matches_all,
    missing_by_file,
)
from .validation.mapping import pick_mappings_from_rows
from .validation.conflicts import first_row_per_key


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The contract table ``name``: one parquet file, read with the
    schema of its footer (read on the driver), so no job infers it."""
    path = f"{sf_dir}/{name}.parquet"
    return read_table(spark, path,
                      from_arrow_schema(pq.read_schema(path), prefer_timestamp_ntz=True))


@dataclass
class ContractQuery:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # None → non-SQL-expressible, driver does rows-only


QUERIES: dict[str, ContractQuery] = {}


def register(name: str, sql: str | None):
    def deco(fn):
        QUERIES[name] = ContractQuery(fn=fn, sql=sql)
        return fn

    return deco


# ---------------------------------------------------------------------------
# J1 — N-way full-outer presence join (Validator.cs:67-79)
# ---------------------------------------------------------------------------
@register(
    "presence_matrix",
    """
    WITH ck AS (SELECT DISTINCT upper(trim(CAST(c_custkey AS VARCHAR))) AS key
                FROM customer WHERE trim(CAST(c_custkey AS VARCHAR)) <> ''),
         ok AS (SELECT DISTINCT upper(trim(CAST(o_custkey AS VARCHAR))) AS key
                FROM orders WHERE trim(CAST(o_custkey AS VARCHAR)) <> '')
    SELECT coalesce(ck.key, ok.key) AS key,
           ck.key IS NOT NULL AS present_customer,
           ok.key IS NOT NULL AS present_orders
    FROM ck FULL OUTER JOIN ok ON ck.key = ok.key
    """,
)
def q_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    return key_presence(
        {
            "customer": (_t(spark, sf_dir, "customer"), "c_custkey"),
            "orders": (_t(spark, sf_dir, "orders"), "o_custkey"),
        }
    )


# ---------------------------------------------------------------------------
# J2 — N-way inner presence / MatchesAll (Validator.cs:81-84)
# ---------------------------------------------------------------------------
@register(
    "matches_all",
    """
    SELECT upper(trim(CAST(c_custkey AS VARCHAR))) AS key FROM customer
    INTERSECT
    SELECT upper(trim(CAST(o_custkey AS VARCHAR))) AS key FROM orders
    """,
)
def q_matches_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return matches_all(
        {
            "customer": (_t(spark, sf_dir, "customer"), "c_custkey"),
            "orders": (_t(spark, sf_dir, "orders"), "o_custkey"),
        }
    )


# ---------------------------------------------------------------------------
# J3 — anti join / MissingByFile (Validator.cs:86-91)
# ---------------------------------------------------------------------------
@register(
    "missing_by_file",
    # TPC-H is referentially intact, so keys missing on BOTH sides are
    # planted deterministically (customers c_custkey % 7 = 3 dropped ->
    # orders referencing them are "missing from customer"; customers
    # with no orders at all are "missing from orders") — a 0-row result
    # would verify nothing.
    """
    WITH ck AS (SELECT DISTINCT upper(trim(CAST(c_custkey AS VARCHAR))) AS key
                FROM customer WHERE c_custkey % 7 <> 3),
         ok AS (SELECT DISTINCT upper(trim(CAST(o_custkey AS VARCHAR))) AS key FROM orders)
    SELECT 'customer' AS source, key FROM ok WHERE key NOT IN (SELECT key FROM ck)
    UNION ALL
    SELECT 'orders' AS source, key FROM ck WHERE key NOT IN (SELECT key FROM ok)
    """,
)
def q_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer").where(F.col("c_custkey") % 7 != 3)
    return missing_by_file(
        {
            "customer": (customer, "c_custkey"),
            "orders": (_t(spark, sf_dir, "orders"), "o_custkey"),
        }
    )


# ---------------------------------------------------------------------------
# J4/J5 — first-row-wins keyed conflict detection (Validator.cs:93-142)
# two "sources" = signup vs error event streams keyed by user_id
# ---------------------------------------------------------------------------
_CONFLICTS_SQL = """
    WITH src AS (
      SELECT 'signup' AS source, user_id, event_id, value, props
      FROM events WHERE event_type = 'signup'
      UNION ALL
      SELECT 'error' AS source, user_id, event_id, value, props
      FROM events WHERE event_type = 'error'
    ), dedup AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY source, upper(trim(CAST(user_id AS VARCHAR)))
          ORDER BY event_id) AS rn
        FROM src
        WHERE trim(CAST(user_id AS VARCHAR)) <> ''
      ) WHERE rn = 1
    ), melted AS (
      SELECT source, upper(trim(CAST(user_id AS VARCHAR))) AS key,
             'value' AS "column", CAST(value AS VARCHAR) AS v FROM dedup
      UNION ALL
      SELECT source, upper(trim(CAST(user_id AS VARCHAR))) AS key,
             'props' AS "column", props AS v FROM dedup
    )
    SELECT key, "column",
           count(DISTINCT source) AS n_sources,
           count(DISTINCT upper(trim(coalesce(v, '')))) AS n_distinct_values
    FROM melted
    GROUP BY key, "column"
    HAVING count(DISTINCT source) >= 2
       AND count(DISTINCT upper(trim(coalesce(v, '')))) > 1
"""


@register("conflicts_first_row_wins", _CONFLICTS_SQL)
def q_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return conflicts(
        {
            "signup": (ev.where(F.col("event_type") == "signup"), "user_id"),
            "error": (ev.where(F.col("event_type") == "error"), "user_id"),
        },
        order_col="event_id",
        columns=["value", "props"],
    )


# ---------------------------------------------------------------------------
# A7 — uniqueness / duplicate-key detection (ReportGenerator.cs:150-156)
# ---------------------------------------------------------------------------
@register(
    "uniqueness_dups",
    """
    SELECT CAST(o_custkey AS VARCHAR) AS key, count(*) AS cnt
    FROM orders GROUP BY o_custkey HAVING count(*) > 1
    """,
)
def q_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") > 1)
        .select(F.col("o_custkey").cast("string").alias("key"), "cnt")
    )


# ---------------------------------------------------------------------------
# A7/windows — first event per user (first-occurrence-wins dedup)
# ---------------------------------------------------------------------------
@register(
    "first_event_per_user",
    """
    SELECT user_id, event_id AS first_event_id, event_type AS first_type
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY upper(trim(CAST(user_id AS VARCHAR))) ORDER BY event_id) AS rn
      FROM events WHERE trim(CAST(user_id AS VARCHAR)) <> ''
    ) WHERE rn = 1
    """,
)
def q_first_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return first_row_per_key(ev, "user_id", "event_id").select(
        "user_id",
        F.col("event_id").alias("first_event_id"),
        F.col("event_type").alias("first_type"),
    )


# ---------------------------------------------------------------------------
# A2/A5 — aggregation: TPC-H Q1 pricing summary (per-partition verdict
# counts analog: groupBy + partial/final agg)
# ---------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# joins + top-k (O5/O7): revenue by customer within a segment, top 20
# ---------------------------------------------------------------------------
@register(
    "top_revenue_customers",
    """
    SELECT c.c_custkey AS custkey, c.c_name AS name,
           round(sum(o.o_totalprice), 2) AS revenue,
           count(*) AS n_orders
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, custkey ASC
    LIMIT 20
    """,
)
def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    # dimension side is small → broadcast (no shuffle of orders on key)
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            "revenue",
            "n_orders",
        )
        .orderBy(F.desc("revenue"), F.asc("custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# A4 sketches — per-column stats (exact variants for oracle comparability;
# the engine's StatsRule uses approx_count_distinct at scale)
# ---------------------------------------------------------------------------
@register(
    "column_stats",
    """
    SELECT 'l_quantity' AS "column", count(l_quantity) AS cnt,
           round(min(l_quantity), 4) AS min_v, round(max(l_quantity), 4) AS max_v,
           round(avg(l_quantity), 4) AS avg_v, count(DISTINCT l_quantity) AS n_distinct
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', count(l_extendedprice),
           round(min(l_extendedprice), 4), round(max(l_extendedprice), 4),
           round(avg(l_extendedprice), 4), count(DISTINCT l_extendedprice)
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', count(l_returnflag), NULL, NULL, NULL,
           count(DISTINCT l_returnflag)
    FROM lineitem
    """,
)
def q_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    parts = []
    for c, numeric in [("l_quantity", True), ("l_extendedprice", True), ("l_returnflag", False)]:
        parts.append(
            li.agg(
                F.lit(c).alias("column"),
                F.count(c).alias("cnt"),
                (F.round(F.min(c), 4) if numeric else F.lit(None)).cast("double").alias("min_v"),
                (F.round(F.max(c), 4) if numeric else F.lit(None)).cast("double").alias("max_v"),
                (F.round(F.avg(c), 4) if numeric else F.lit(None)).cast("double").alias("avg_v"),
                F.countDistinct(c).alias("n_distinct"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# F4-F7 — normalization classes (ValueNormalizer.cs:15-54) applied in-plane
# ---------------------------------------------------------------------------
@register(
    "normalize_values",
    """
    SELECT CAST(c_custkey AS VARCHAR) AS key,
           upper(regexp_replace(
             regexp_replace(regexp_replace(trim(c_name), '\\s+', ' ', 'g'),
                            '^[.\\-_]+|[.\\-_]+$', '', 'g'),
             '[\\s\\-]', '', 'g')) AS serial_norm,
           CAST(CAST(c_nationkey AS INT) AS VARCHAR) || '.' ||
           CAST(CAST(c_nationkey % 10 AS INT) AS VARCHAR) || '.0.' ||
           CAST(CAST(c_custkey % 256 AS INT) AS VARCHAR) AS ip_norm
    FROM customer
    """,
)
def q_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    # build a zero-padded dotted quad, then normalize it (octet de-zero-pad)
    quad = F.format_string(
        "%03d.%02d.000.%d",
        F.col("c_nationkey").cast("int"),
        (F.col("c_nationkey") % 10).cast("int"),
        (F.col("c_custkey") % 256).cast("int"),
    )
    return c.select(
        F.col("c_custkey").cast("string").alias("key"),
        normalize_serial(F.col("c_name")).alias("serial_norm"),
        normalize_ipv4(quad).alias("ip_norm"),
    )


# ---------------------------------------------------------------------------
# drift histograms — numeric bucket histogram of two periods side by side
# (DriftRule's aggregate; KS/PSI scalar math runs on this driver-side)
# ---------------------------------------------------------------------------
@register(
    "drift_histogram",
    """
    WITH binned AS (
      SELECT CASE WHEN l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
                  THEN 'a' ELSE 'b' END AS period,
             least(greatest(CAST(floor(l_extendedprice / 5000) AS BIGINT), 0), 19) AS bin
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    )
    SELECT bin,
           CAST(sum(CASE WHEN period = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
           CAST(sum(CASE WHEN period = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
    FROM binned GROUP BY bin
    """,
)
def q_drift_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_extendedprice").isNotNull())
    bin_col = F.least(
        F.greatest(F.floor(F.col("l_extendedprice") / 5000), F.lit(0)), F.lit(19)
    ).alias("bin")
    period = F.when(
        F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"), "a"
    ).otherwise("b")
    return (
        li.select(bin_col, period.alias("period"))
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("period") == "a", 1).otherwise(0)).alias("cnt_a"),
            F.sum(F.when(F.col("period") == "b", 1).otherwise(0)).alias("cnt_b"),
        )
    )


# ---------------------------------------------------------------------------
# A3 — field-mapping match scores (ReportGenerator.cs:170-205): baseline =
# customer, other = renamed/perturbed projection of customer
# ---------------------------------------------------------------------------
_FIELD_MAPPING_SQL = """
    WITH b AS (
      SELECT upper(trim(CAST(c_custkey AS VARCHAR))) AS key,
             c_name, CAST(c_acctbal AS VARCHAR) AS c_acctbal, c_mktsegment
      FROM (SELECT *, row_number() OVER (
              PARTITION BY upper(trim(CAST(c_custkey AS VARCHAR)))
              ORDER BY c_custkey) rn FROM customer) WHERE rn = 1
    ), o AS (
      SELECT upper(trim(CAST(c_custkey AS VARCHAR))) AS key,
             c_name AS cust_label,
             CASE WHEN c_custkey % 3 = 0 THEN '-1.0'
                  ELSE CAST(c_acctbal AS VARCHAR) END AS balance,
             CASE WHEN c_custkey % 4 = 0 THEN 'OTHER' ELSE c_mktsegment END AS segment
      FROM (SELECT *, row_number() OVER (
              PARTITION BY upper(trim(CAST(c_custkey AS VARCHAR)))
              ORDER BY c_custkey) rn FROM customer) WHERE rn = 1
    ), b_long AS (
      SELECT key, 'c_name' AS b_col, c_name AS b_val FROM b
      UNION ALL SELECT key, 'c_acctbal', c_acctbal FROM b
      UNION ALL SELECT key, 'c_mktsegment', c_mktsegment FROM b
    ), o_long AS (
      SELECT key, 'cust_label' AS o_col, cust_label AS o_val FROM o
      UNION ALL SELECT key, 'balance', balance FROM o
      UNION ALL SELECT key, 'segment', segment FROM o
    ), pairs AS (
      SELECT b_col, o_col,
        CAST(sum(CASE WHEN NOT (upper(trim(coalesce(b_val,''))) = '' AND upper(trim(coalesce(o_val,''))) = '')
                  AND upper(trim(coalesce(b_val,''))) = upper(trim(coalesce(o_val,'')))
                 THEN 1 ELSE 0 END) AS BIGINT) AS same,
        CAST(sum(CASE WHEN NOT (upper(trim(coalesce(b_val,''))) = '' AND upper(trim(coalesce(o_val,''))) = '')
                 THEN 1 ELSE 0 END) AS BIGINT) AS total
      FROM b_long JOIN o_long USING (key)
      GROUP BY b_col, o_col
    )
    SELECT b_col, o_col, same, total, round(same * 1.0 / total, 4) AS score
    FROM pairs WHERE total > 0 AND same * 1.0 / total >= 0.6
"""


# ---------------------------------------------------------------------------
# Greedy one-to-one FieldMapping (the FieldMapping-sheet variant,
# ReportGenerator.cs:168-204 — `usedOtherCols` at :177,201): baseline
# columns in header order each claim their best-scoring UNUSED other
# column (strict `>`, ties to first other col in header order). The
# fixture duplicates c_name as c_name_copy so the exclusion actually
# bites: c_name claims cust_label first, c_name_copy finds it used and
# maps nothing. Oracle = recursive CTE + lateral best-pick (sequential
# greedy is inherently iterative); Spark side computes the cols² score
# table distributed and runs the same greedy on the collected table.
# ---------------------------------------------------------------------------
_GREEDY_SQL = """
    WITH RECURSIVE b AS (
      SELECT upper(trim(CAST(c_custkey AS VARCHAR))) AS key,
             c_name, CAST(c_acctbal AS VARCHAR) AS c_acctbal, c_mktsegment,
             c_name AS c_name_copy
      FROM (SELECT *, row_number() OVER (
              PARTITION BY upper(trim(CAST(c_custkey AS VARCHAR)))
              ORDER BY c_custkey) rn FROM customer) WHERE rn = 1
    ), o AS (
      SELECT upper(trim(CAST(c_custkey AS VARCHAR))) AS key,
             c_name AS cust_label,
             CASE WHEN c_custkey % 3 = 0 THEN '-1.0'
                  ELSE CAST(c_acctbal AS VARCHAR) END AS balance,
             CASE WHEN c_custkey % 4 = 0 THEN 'OTHER' ELSE c_mktsegment END AS segment
      FROM (SELECT *, row_number() OVER (
              PARTITION BY upper(trim(CAST(c_custkey AS VARCHAR)))
              ORDER BY c_custkey) rn FROM customer) WHERE rn = 1
    ), b_long AS (
      SELECT key, 'c_name' AS b_col, c_name AS b_val FROM b
      UNION ALL SELECT key, 'c_acctbal', c_acctbal FROM b
      UNION ALL SELECT key, 'c_mktsegment', c_mktsegment FROM b
      UNION ALL SELECT key, 'c_name_copy', c_name_copy FROM b
    ), o_long AS (
      SELECT key, 'cust_label' AS o_col, cust_label AS o_val FROM o
      UNION ALL SELECT key, 'balance', balance FROM o
      UNION ALL SELECT key, 'segment', segment FROM o
    ), pairs AS (
      SELECT b_col, o_col,
        CAST(sum(CASE WHEN NOT (upper(trim(coalesce(b_val,''))) = '' AND upper(trim(coalesce(o_val,''))) = '')
                  AND upper(trim(coalesce(b_val,''))) = upper(trim(coalesce(o_val,'')))
                 THEN 1 ELSE 0 END) AS BIGINT) AS same,
        CAST(sum(CASE WHEN NOT (upper(trim(coalesce(b_val,''))) = '' AND upper(trim(coalesce(o_val,''))) = '')
                 THEN 1 ELSE 0 END) AS BIGINT) AS total
      FROM b_long JOIN o_long USING (key)
      GROUP BY b_col, o_col
    ), scores AS (
      SELECT b_col,
        CASE b_col WHEN 'c_name' THEN 1 WHEN 'c_acctbal' THEN 2
                   WHEN 'c_mktsegment' THEN 3 WHEN 'c_name_copy' THEN 4 END AS b_rank,
        o_col,
        CASE o_col WHEN 'cust_label' THEN 1 WHEN 'balance' THEN 2
                   WHEN 'segment' THEN 3 END AS o_rank,
        same * 1.0 / total AS score
      FROM pairs WHERE total > 0 AND same * 1.0 / total >= 0.6
    ), greedy AS (
      SELECT 0 AS step, CAST(NULL AS VARCHAR) AS b_col, CAST(NULL AS VARCHAR) AS o_col,
             CAST(NULL AS DOUBLE) AS score, CAST([] AS VARCHAR[]) AS used
      UNION ALL
      SELECT g.step + 1, s.b_col, s.o_col, s.score,
             CASE WHEN s.o_col IS NULL THEN g.used ELSE list_append(g.used, s.o_col) END
      FROM greedy g
      LEFT JOIN LATERAL (
        SELECT b_col, o_col, score FROM scores
        WHERE b_rank = g.step + 1 AND NOT list_contains(g.used, o_col)
        ORDER BY score DESC, o_rank ASC LIMIT 1
      ) s ON true
      WHERE g.step < 4
    )
    SELECT b_col, o_col, round(score, 4) AS score
    FROM greedy WHERE o_col IS NOT NULL
"""


@register("field_mapping_greedy", _GREEDY_SQL)
def q_field_mapping_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    baseline = c.select(
        "c_custkey",
        "c_name",
        F.col("c_acctbal").cast("string").alias("c_acctbal"),
        "c_mktsegment",
        F.col("c_name").alias("c_name_copy"),
    ).withColumn("_ord", F.col("c_custkey"))
    other = c.select(
        "c_custkey",
        F.col("c_name").alias("cust_label"),
        F.when(F.col("c_custkey") % 3 == 0, F.lit("-1.0"))
        .otherwise(F.col("c_acctbal").cast("string"))
        .alias("balance"),
        F.when(F.col("c_custkey") % 4 == 0, F.lit("OTHER"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
    ).withColumn("_ord", F.col("c_custkey"))
    scores = field_mapping_scores(
        baseline, "c_custkey", other, "c_custkey", order_col="_ord"
    )
    b_order = ["c_name", "c_acctbal", "c_mktsegment", "c_name_copy"]
    o_order = ["cust_label", "balance", "segment"]
    # cols² score table is driver-small by construction; the greedy pass
    # (inherently sequential) runs on the collected rows.
    rows = {(r["b_col"], r["o_col"]): r["score"] for r in scores.collect()}
    mapping = pick_mappings_from_rows(rows, b_order, o_order, greedy=True)
    out = [
        (b, o, round(rows[(b, o)], 4)) for b, o in mapping.items()
    ]
    return local_rows(spark, out, "b_col string, o_col string, score double")


@register("field_mapping_scores", _FIELD_MAPPING_SQL)
def q_field_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    baseline = c.select(
        "c_custkey",
        "c_name",
        F.col("c_acctbal").cast("string").alias("c_acctbal"),
        "c_mktsegment",
    ).withColumn("_ord", F.col("c_custkey"))
    other = c.select(
        "c_custkey",
        F.col("c_name").alias("cust_label"),
        F.when(F.col("c_custkey") % 3 == 0, F.lit("-1.0"))
        .otherwise(F.col("c_acctbal").cast("string"))
        .alias("balance"),
        F.when(F.col("c_custkey") % 4 == 0, F.lit("OTHER"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
    ).withColumn("_ord", F.col("c_custkey"))
    scores = field_mapping_scores(
        baseline, "c_custkey", other, "c_custkey", order_col="_ord"
    )
    return (
        scores.where(~F.col("b_col").isin("c_custkey"))
        .where(~F.col("o_col").isin("c_custkey"))
        .select("b_col", "o_col", "same", "total", F.round("score", 4).alias("score"))
    )


# ---------------------------------------------------------------------------
# J6/A4 — column-overlap suggestions (ColumnOverlapMapper.cs:10-55)
# ---------------------------------------------------------------------------
_OVERLAP_SQL = """
    WITH melted AS (
      SELECT DISTINCT 'customer' AS source, 'c_nationkey' AS "column",
             upper(trim(CAST(c_nationkey AS VARCHAR))) AS value FROM customer
      UNION SELECT DISTINCT 'customer', 'c_mktsegment', upper(trim(c_mktsegment)) FROM customer
      UNION SELECT DISTINCT 'supplier', 's_nationkey',
             upper(trim(CAST(s_nationkey AS VARCHAR))) FROM supplier
      UNION SELECT DISTINCT 'supplier', 's_name', upper(trim(s_name)) FROM supplier
    ), clean AS (
      SELECT * FROM melted WHERE value IS NOT NULL AND trim(value) <> ''
    ), sizes AS (
      SELECT source, "column", count(*) AS n FROM clean GROUP BY source, "column"
    ), pairs AS (
      SELECT a.source AS source_a, a."column" AS column_a,
             b.source AS source_b, b."column" AS column_b, count(*) AS overlap
      FROM clean a JOIN clean b ON a.value = b.value AND a.source < b.source
      GROUP BY 1, 2, 3, 4
    )
    SELECT p.source_a, p.column_a, p.source_b, p.column_b, p.overlap,
           round(p.overlap * 1.0 / greatest(sa.n, sb.n), 4) AS ratio
    FROM pairs p
    JOIN sizes sa ON sa.source = p.source_a AND sa."column" = p.column_a
    JOIN sizes sb ON sb.source = p.source_b AND sb."column" = p.column_b
    WHERE p.overlap >= 5 AND p.overlap * 1.0 / greatest(sa.n, sb.n) >= 0.05
"""


@register("column_overlap", _OVERLAP_SQL)
def q_column_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment")
    s = _t(spark, sf_dir, "supplier").select("s_nationkey", "s_name")
    return column_overlap(
        {"customer": c, "supplier": s}, use_header_normalizer=False
    )


# ===========================================================================
# Training-data pipeline operators (dedup / similarity / text analysis)
# ===========================================================================
from .operators.dedup import (  # noqa: E402
    exact_duplicates,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from .operators.similarity import (  # noqa: E402
    brute_force_cosine_topk,
    embedding_norms,
    hyperplanes,
    lsh_buckets,
)
from .operators.text import (  # noqa: E402
    LANG_MARKERS,
    fingerprint,
    language_id,
    quality_score,
    token_stats,
)

# shared SQL CTE: normalized text + tokens + 3-gram shingles (mirrors
# dedup.norm_text / dedup.shingle exactly)
_SH_CTE = """
    toks AS (
      SELECT doc_id,
             list_filter(
               string_split_regex(
                 regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                 '[^a-z0-9]+'),
               x -> x <> '') AS tk
      FROM documents {where}
    ), sh AS (
      SELECT DISTINCT doc_id,
             unnest(CASE WHEN len(tk) >= 3
               THEN list_transform(generate_series(1, len(tk) - 2),
                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
               ELSE [array_to_string(tk, ' ')] END) AS shingle
      FROM toks
    ), clean AS (SELECT doc_id, shingle FROM sh WHERE shingle <> '')
"""


@register(
    "dedup_exact",
    """
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0
    )
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
           count(*) AS n_docs, min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
    FROM all_docs
    GROUP BY 1 HAVING count(*) > 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    dup = docs.where(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    return exact_duplicates(docs.unionByName(dup), "doc_id", "text")


# Stop-shingle cap mirrored on BOTH sides so the verified/benched plan is
# the scale-safe one (df > cap shingles dropped before the pair join —
# bounds join fan-out at cap² per shingle). At the driver's sf0.01 the
# max shingle df is 7, so the cap is a no-op for values; at sf0.1 it
# drops the ~60 hottest boilerplate shingles; at 100 TB it is the
# difference between a bounded join and a quadratic blow-up.
_JACCARD_SHINGLE_DF_CAP = 20

@register(
    "dedup_ngram_jaccard",
    "WITH "
    + _SH_CTE.format(where="")
    + f"""
    , hot AS (SELECT shingle FROM clean GROUP BY shingle
              HAVING count(*) > {_JACCARD_SHINGLE_DF_CAP}),
    kept AS (SELECT c.doc_id, c.shingle FROM clean c
             LEFT JOIN hot h USING (shingle) WHERE h.shingle IS NULL),
    sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS intersection
      FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, intersection, sa.sz AS size_a, sb.sz AS size_b,
           round(intersection * 1.0 / (sa.sz + sb.sz - intersection), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(intersection * 1.0 / (sa.sz + sb.sz - intersection), 4) >= 0.2
    """,
)
def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, threshold=0.2, max_shingle_df=_JACCARD_SHINGLE_DF_CAP,
    )


_MH = "('0x' || substr(md5({seed} || ':' || shingle), 1, 8))::BIGINT"

@register(
    "dedup_minhash_signatures",
    "WITH "
    + _SH_CTE.format(where="WHERE doc_id < 100")
    + f"""
    SELECT doc_id,
           min({_MH.format(seed="'0'")}) AS mh_0,
           min({_MH.format(seed="'1'")}) AS mh_1,
           min({_MH.format(seed="'2'")}) AS mh_2,
           min({_MH.format(seed="'3'")}) AS mh_3
    FROM clean GROUP BY doc_id
    """,
)
def q_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    return minhash_signatures(docs, "doc_id", "text", n=3, num_hashes=4)


# LSH CTE chain (shingles → signatures → bands → hot-bucket drop),
# shared by the pair query and the clustering/canonical queries built on
# top of the same candidate pairs.
_LSH_CTES = (
    _SH_CTE.format(where="")
    + f"""
    , sig AS (
      SELECT doc_id,
             {', '.join(f"min({_MH.format(seed=repr(str(s)))}) AS mh_{s}" for s in range(8))}
      FROM clean GROUP BY doc_id
    ), banded AS (
      {' UNION ALL '.join(
          f"SELECT doc_id, {b} AS band, md5(mh_{2*b}::VARCHAR || '_' || mh_{2*b+1}::VARCHAR) AS bkey FROM sig"
          for b in range(4)
      )}
    ), hot AS (
      SELECT band, bkey FROM banded GROUP BY band, bkey HAVING count(*) > 50
    ), kept AS (
      SELECT bd.doc_id, bd.band, bd.bkey FROM banded bd
      LEFT JOIN hot h ON bd.band = h.band AND bd.bkey = h.bkey
      WHERE h.band IS NULL
    )"""
)

_LSH_PAIRS_SELECT = """
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM kept a
    JOIN kept b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
"""


@register("dedup_minhash_lsh", "WITH " + _LSH_CTES + _LSH_PAIRS_SELECT)
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # mega-bucket guard ON (and mirrored in the oracle): buckets above 50
    # docs are near-certain boilerplate clusters that would emit O(n²)
    # candidate pairs — the 100 TB scale hazard for banded LSH. Spark
    # counts buckets with a window on the pair join's exchange
    # (dedup.drop_hot_groups); the oracle's `hot` anti-join keeps the
    # same rows.
    return minhash_lsh_candidates(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, num_hashes=8, bands=4, max_bucket_size=50,
    )


# --- dedup clustering: LSH pairs → connected components → canonical ---
# The recursive oracle computes, for every node, the set of labels
# reachable over the symmetric edge set; min(label) per node is the
# component id — exactly what iterative min-label propagation converges
# to in the Spark operator.
_CC_CTES = (
    _LSH_CTES
    + f"""
    , pairs AS ({_LSH_PAIRS_SELECT}),
    edges AS (
      SELECT doc_a AS esrc, doc_b AS edst FROM pairs
      UNION
      SELECT doc_b AS esrc, doc_a AS edst FROM pairs
    ),
    nodes AS (SELECT DISTINCT esrc AS node FROM edges),
    reach AS (
      SELECT node, node AS lbl FROM nodes
      UNION
      SELECT e.edst AS node, r.lbl FROM reach r JOIN edges e ON e.esrc = r.node
    ),
    cc AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node)"""
)


@register(
    "dedup_clusters",
    "WITH RECURSIVE " + _CC_CTES + "\n    SELECT doc_id, cluster_id FROM cc",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import connected_components

    pairs = minhash_lsh_candidates(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, num_hashes=8, bands=4, max_bucket_size=50,
    )
    return connected_components(pairs)


@register(
    "dedup_canonical",
    "WITH RECURSIVE "
    + _CC_CTES
    + """
    , j AS (
      SELECT c.cluster_id, c.doc_id, d.n_chars
      FROM cc c JOIN documents d USING (doc_id)
    ), r AS (
      SELECT cluster_id, doc_id, n_chars,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY n_chars DESC, doc_id ASC) AS rn,
             count(*) OVER (PARTITION BY cluster_id) AS n_members
      FROM j
    )
    SELECT cluster_id, doc_id AS kept_doc_id, n_chars AS kept_n_chars, n_members
    FROM r WHERE rn = 1
    """,
)
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import canonical_docs, connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(
        docs, "doc_id", "text", n=3, num_hashes=8, bands=4, max_bucket_size=50
    )
    clusters = connected_components(pairs)
    return canonical_docs(clusters, docs.select("doc_id", "n_chars"), "doc_id", "n_chars")


# --- deterministic (stratified) hash sampling ---
_SAMPLE_HASH = "('0x' || substr(md5('sample:' || doc_id), 1, 8))::BIGINT"

@register(
    "corpus_hash_sample",
    f"""
    SELECT doc_id, lang, source, n_chars FROM documents
    WHERE (lang = 'en' AND {_SAMPLE_HASH} % 4 = 0)
       OR (lang = 'zh' AND {_SAMPLE_HASH} % 3 = 0)
       OR ((lang IS NULL OR lang NOT IN ('en', 'zh'))
           AND {_SAMPLE_HASH} % 2 = 0)
    """,
)
def q_corpus_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import stratified_hash_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    # downsample the dominant language hardest — the standard corpus
    # rebalancing move, decided by a stable hash so the subset is
    # reproducible across runs/engines/partitionings
    return stratified_hash_sample(
        docs, "doc_id", "lang", {"en": 4, "zh": 3}, default_one_in=2
    )


_SIMHASH_SQL = """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(
               string_split_regex(
                 regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                 '[^a-z0-9]+'),
               x -> x <> '')) AS tok
      FROM documents WHERE doc_id < 100
    ), tw AS (
      SELECT doc_id, tok, count(*) AS w,
             ('0x' || substr(md5(tok), 1, 8))::BIGINT AS th
      FROM toks GROUP BY doc_id, tok
    ), s AS (
      SELECT doc_id,
             {sums}
      FROM tw GROUP BY doc_id
    )
    SELECT doc_id, ({packed})::BIGINT AS simhash FROM s
""".format(
    sums=", ".join(
        f"sum(CASE WHEN (th >> {b}) & 1 = 1 THEN w ELSE -w END) AS s{b}"
        for b in range(16)
    ),
    packed=" + ".join(
        f"(CASE WHEN s{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(16)
    ),
)


@register("dedup_simhash", _SIMHASH_SQL)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    return simhash(docs, "doc_id", "text", bits=16)


@register(
    "similarity_topk",
    """
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 10
    ), s AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             list_dot_product(q.qv, e.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(q.qv, q.qv)) *
              sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS c
      FROM q, embeddings e
      WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, round(c, 4) AS cosine, rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY c DESC, neighbor_id ASC) AS rank
          FROM s)
    WHERE rank <= 5
    """,
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_cosine_topk(
        emb, "vec_id", "embedding", query_ids=list(range(10)), k=5
    )


@register(
    "embedding_norms",
    """
    SELECT vec_id, len(embedding) AS dim,
           round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 4) AS l2_norm
    FROM embeddings
    """,
)
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_norms(_t(spark, sf_dir, "embeddings"), "vec_id", "embedding")


_PLANES = hyperplanes(dim=64, n_planes=4, seed=42)
_PLANE_LITS = [
    "[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[]" for p in _PLANES
]


@register(
    "similarity_lsh_buckets",
    f"""
    WITH p AS (SELECT embedding::DOUBLE[] AS v, vec_id FROM embeddings),
    b AS (
      SELECT vec_id,
        {' + '.join(
            f"(CASE WHEN list_dot_product(v, {_PLANE_LITS[i]}) > 0 THEN {2**i} ELSE 0 END)"
            for i in range(4)
        )} AS bucket
      FROM p
    )
    SELECT bucket, count(*) AS n_vecs FROM b GROUP BY bucket
    """,
)
def q_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return (
        lsh_buckets(emb, "vec_id", "embedding", _PLANES)
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vecs"))
    )


# Bucket-local ANN top-k (operators/similarity.py::lsh_ann_topk):
# bounded query block (vec_id < 20), candidates only from the query's
# own sign bucket, hot-bucket guard wired (a window count filter in the
# plan, dedup.drop_hot_groups; cap above test-SF bucket sizes so values
# are bucket-exact — the pytest plants a hot bucket to prove the drop).
_LSH_BUCKET_CAP = 10000
_LSH_BUCKET_EXPR = " + ".join(
    f"(CASE WHEN list_dot_product(v, {_PLANE_LITS[i]}) > 0 THEN {2**i} ELSE 0 END)"
    for i in range(4)
)
_LSH_ANN_SQL = f"""
    WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (SELECT vec_id, v, {_LSH_BUCKET_EXPR} AS bucket FROM p),
    hot AS (SELECT bucket FROM b GROUP BY bucket HAVING count(*) > {_LSH_BUCKET_CAP}),
    kept AS (
      SELECT b.vec_id, b.v, b.bucket FROM b
      LEFT JOIN hot h USING (bucket) WHERE h.bucket IS NULL
    ), s AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_dot_product(q.v, c.v) /
             (sqrt(list_dot_product(q.v, q.v)) *
              sqrt(list_dot_product(c.v, c.v))) AS cos
      FROM kept q JOIN kept c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
      WHERE q.vec_id < 20
    )
    SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
          FROM s)
    WHERE rank <= 5
"""


@register("similarity_lsh_ann_topk", _LSH_ANN_SQL)
def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import lsh_ann_topk

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_ann_topk(
        emb, "vec_id", "embedding", _PLANES,
        k=5, max_bucket_size=_LSH_BUCKET_CAP, query_ids=list(range(20)),
    )


# ANN evaluation: per-query recall of the bucketed LSH path against the
# exact brute-force top-k on the same bounded query block — the number
# that decides whether the scale path is trustworthy before pointing it
# at 10^12 rows. Both sides are deterministic, so recall itself is
# oracle-exact.
def _recall_sql(ann_sql: str) -> str:
    """Recall-vs-brute-force wrapper, defined ONCE for both ANN
    families (LSH and IVF): the ground-truth `bf` CTE and the
    base/hits/recall arithmetic must stay identical or the two recall
    oracles measure different contracts."""
    return f"""
    WITH bf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY list_dot_product(q.qv, e.embedding::DOUBLE[]) /
                          (sqrt(list_dot_product(q.qv, q.qv)) *
                           sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                 e.embedding::DOUBLE[]))) DESC,
                          e.vec_id ASC) AS rank
        FROM (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id < 20) q, embeddings e
        WHERE e.vec_id <> q.query_id
      ) WHERE rank <= 5
    ), ann AS ({ann_sql}),
    base AS (SELECT query_id, count(*) AS n_truth FROM bf GROUP BY query_id),
    hits AS (
      SELECT bf.query_id, count(*) AS n_hit
      FROM bf JOIN ann ON bf.query_id = ann.query_id
                      AND bf.neighbor_id = ann.neighbor_id
      GROUP BY bf.query_id
    )
    SELECT b.query_id, b.n_truth, coalesce(h.n_hit, 0) AS n_hit,
           round(coalesce(h.n_hit, 0) * 1.0 / b.n_truth, 4) AS recall
    FROM base b LEFT JOIN hits h USING (query_id)
    """


@register("similarity_lsh_recall", _recall_sql(_LSH_ANN_SQL))
def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import ann_recall, lsh_ann_topk

    emb = _t(spark, sf_dir, "embeddings")
    truth = brute_force_cosine_topk(
        emb, "vec_id", "embedding", query_ids=list(range(20)), k=5
    )
    approx = lsh_ann_topk(
        emb, "vec_id", "embedding", _PLANES,
        k=5, max_bucket_size=_LSH_BUCKET_CAP, query_ids=list(range(20)),
    )
    return ann_recall(truth, approx)


_TOKS_SQL = """list_filter(
      string_split_regex(
        regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
        '[^a-z0-9'']+'),
      x -> x <> '')"""


@register(
    "text_token_stats",
    f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS_SQL} AS tk,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS alnum_runs,
        list_filter(string_split_regex(lower(text), '[a-z0-9]+'), x -> trim(x) <> '') AS other_runs
      FROM documents
    )
    SELECT doc_id, length(text) AS n_chars, len(tk) AS n_tokens,
           len(alnum_runs) + len(other_runs) AS n_bpe_pieces,
           round(CASE WHEN len(tk) > 0
                 THEN list_sum(list_transform(tk, x -> length(x))) * 1.0 / len(tk)
                 ELSE 0.0 END, 4) AS avg_token_len
    FROM t
    """,
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(_t(spark, sf_dir, "documents"), "doc_id", "text")


from .operators.text import STOPWORDS  # noqa: E402

_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"

# --- PII scrub / vocabulary / chunking (training-pipeline text ops) ---
from .operators.text import PII_PATTERNS  # noqa: E402

_EMAIL_RE = PII_PATTERNS["email"]
_PHONE_RE = PII_PATTERNS["phone"]

@register(
    "text_redact_pii",
    f"""
    WITH planted AS (
      SELECT doc_id,
             CASE doc_id % 100
               WHEN 0  THEN text || ' contact: user' || doc_id ||
                            '@example.com or (555) 123-4567'
               WHEN 25 THEN text || ' contact: user' || doc_id ||
                            '@example.com or 555-123-4567'
               WHEN 50 THEN text || ' contact: user' || doc_id ||
                            '@example.com or 555.123.4567'
               WHEN 75 THEN text || ' contact: user' || doc_id ||
                            '@example.com or +1 555-123-4567'
               ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
      regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                     '{_PHONE_RE}', '[PHONE]', 'g') AS text_redacted,
      len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
      len(regexp_extract_all(
            regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
            '{_PHONE_RE}')) AS n_phones
    FROM planted
    """,
)
def q_text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import redact_pii

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # plant deterministic PII on every 25th doc so the scrub is
    # non-vacuous (the synthetic corpus contains none); cycle through
    # the four common phone formats so the COUNTRY-CODE-OPTIONAL fix
    # is oracle-checked, not just the +1 form
    formats = {0: "(555) 123-4567", 25: "555-123-4567",
               50: "555.123.4567", 75: "+1 555-123-4567"}
    planted_text = F.col("text")
    for rem, phone in formats.items():
        planted_text = F.when(
            F.col("doc_id") % 100 == rem,
            F.concat(
                F.col("text"),
                F.lit(" contact: user"),
                F.col("doc_id").cast("string"),
                F.lit(f"@example.com or {phone}"),
            ),
        ).otherwise(planted_text)
    planted = docs.withColumn("text", planted_text)
    return redact_pii(planted, "doc_id", "text")


@register(
    "corpus_vocabulary",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS token FROM documents
    ), per_doc AS (
      SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token
    )
    SELECT token, count(*) AS doc_freq, CAST(sum(tf) AS BIGINT) AS total_freq
    FROM per_doc GROUP BY token
    ORDER BY doc_freq DESC, token ASC LIMIT 50
    """,
)
def q_corpus_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import corpus_vocabulary

    return corpus_vocabulary(_t(spark, sf_dir, "documents"), "doc_id", "text", top_k=50)


@register(
    "corpus_token_chunks",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS tk FROM documents
    ), n AS (
      SELECT doc_id, tk,
             CASE WHEN len(tk) <= 64 THEN 1
                  ELSE CAST(ceil((len(tk) - 64) * 1.0 / 48) AS INT) + 1 END AS nc
      FROM t
    ), c AS (
      SELECT doc_id, tk, unnest(generate_series(0, nc - 1)) AS chunk_id FROM n
    )
    SELECT doc_id, chunk_id,
           len(list_slice(tk, chunk_id * 48 + 1, chunk_id * 48 + 64)) AS n_tokens,
           array_to_string(list_slice(tk, chunk_id * 48 + 1, chunk_id * 48 + 64), ' ')
             AS chunk_text
    FROM c
    """,
)
def q_corpus_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import chunk_tokens

    return chunk_tokens(
        _t(spark, sf_dir, "documents"), "doc_id", "text", chunk_size=64, stride=48
    )


# quality CTE chain over a parameterizable doc source — shared by the
# text_quality query (over `documents`) and the corpus pipeline (over
# documents ∪ planted dups)
def _quality_ctes(docs_rel: str = "documents") -> str:
    return f"""
    qt AS (
      SELECT doc_id, text, {_TOKS_SQL} AS tk FROM {docs_rel}
    ), qr AS (
      SELECT doc_id, text,
        round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
              * 1.0 / greatest(length(text), 1), 4) AS punct_ratio,
        round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
              * 1.0 / greatest(length(text), 1), 4) AS digit_ratio,
        round(len(list_filter(tk, x -> list_contains({_STOP_SQL}, x)))
              * 1.0 / greatest(len(tk), 1), 4) AS stopword_ratio
      FROM qt
    ), qual AS (
      SELECT doc_id, punct_ratio, digit_ratio, stopword_ratio,
        round((CASE WHEN length(text) BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.4 END) * 0.4
              + least(stopword_ratio * 4.0, 1.0) * 0.3
              + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2
              + (1.0 - least(digit_ratio * 5.0, 1.0)) * 0.1, 4) AS quality
      FROM qr
    )"""


@register(
    "text_quality",
    "WITH "
    + _quality_ctes()
    + """
    SELECT doc_id, punct_ratio, digit_ratio, stopword_ratio, quality FROM qual
    """,
)
def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(_t(spark, sf_dir, "documents"), "doc_id", "text")


# --- end-to-end corpus preparation pipeline ---
# The flagship training-data flow composed from the individual
# operators: inject exact dups (same planting as dedup_exact so the
# dedup stage is non-vacuous) → quality gate → exact dedup keeping the
# smallest doc_id per fingerprint → per-language corpus stats. Portable
# rounding (floor(x*1e4+0.5)/1e4) on the avg, BIGINT cast on the sum
# (DuckDB sums BIGINT into HUGEINT).
@register(
    "corpus_dedup_pipeline",
    """
    WITH all_docs AS (
      SELECT doc_id, text, lang, n_chars FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text, lang, n_chars
      FROM documents WHERE doc_id % 50 = 0
    ), """
    + _quality_ctes("all_docs")
    + """
    , base AS (
      SELECT d.doc_id, d.lang, d.n_chars,
             md5(regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g')) AS fp
      FROM all_docs d JOIN qual q USING (doc_id)
      WHERE q.quality >= 0.75
    ), canon AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM base
      ) WHERE rn = 1
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           floor(avg(n_chars) * 10000 + 0.5) / 10000 AS avg_chars
    FROM canon GROUP BY lang
    """,
)
def q_corpus_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .operators.dedup import fingerprint_col

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "n_chars")
    dup = docs.where(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    all_docs = docs.unionByName(dup)
    qual = quality_score(all_docs, "doc_id", "text").select("doc_id", "quality")
    base = (
        all_docs.join(qual, "doc_id")
        .where(F.col("quality") >= 0.75)
        .select(
            "doc_id", "lang", "n_chars", fingerprint_col(F.col("text")).alias("fp")
        )
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    canon = base.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return canon.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.floor(F.avg("n_chars") * 10000 + F.lit(0.5)) / 10000).alias("avg_chars"),
    )


_LANG_HITS = {
    lang: f"len(list_filter(tk, x -> list_contains(["
    + ", ".join(f"'{m}'" for m in markers)
    + "], x)))"
    for lang, markers in LANG_MARKERS.items()
}
_LANG_CASE = "CASE WHEN best <= 0 THEN 'unknown' " + " ".join(
    f"WHEN h_{lang} = best THEN '{lang}'" for lang in LANG_MARKERS
) + " END"


@register(
    "text_language_id",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    h AS (
      SELECT doc_id,
        {', '.join(f"{expr} AS h_{lang}" for lang, expr in _LANG_HITS.items())}
      FROM t
    ), b AS (
      SELECT *, greatest({', '.join(f'h_{lang}' for lang in _LANG_HITS)}) AS best FROM h
    )
    SELECT doc_id, {_LANG_CASE} AS pred_lang, best AS marker_hits FROM b
    """,
)
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(_t(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "text_fingerprint",
    """
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(_t(spark, sf_dir, "documents"), "doc_id", "text")


# streaming-analog batch query: tumbling 1h windows over the event stream
@register(
    "event_hourly_windows",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# gap sessionization: one shuffle by user, two windows over one sort.
# Gap arithmetic in integer microseconds (unix_micros / epoch_us) so the
# 30-minute boundary is computed identically on every engine.
@register(
    "event_sessions",
    """
    WITH e AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM e
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           count(*) AS n_events, min(ts) AS session_start,
           max(ts) AS session_end
    FROM s GROUP BY user_id, session_seq
    """,
)
def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.events import sessionize

    return sessionize(
        _t(spark, sf_dir, "events"), "user_id", "ts", "event_id", gap_minutes=30
    )


# as-of join: for every click, the latest error of the same user at or
# before it. DuckDB's native ASOF JOIN is the oracle; the Spark side is
# the union + window-fill pattern (one shuffle). Right side deduped per
# (user, ts) in both engines so "latest" is unambiguous.
@register(
    "event_asof_error",
    """
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), errs AS (
      SELECT user_id, ts, event_id AS err_event_id, value AS err_value FROM (
        SELECT *, row_number() OVER (
          PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'error'
      ) WHERE rn = 1
    )
    SELECT c.event_id, c.user_id, c.ts, e.err_event_id, e.err_value
    FROM clicks c ASOF LEFT JOIN errs e
      ON c.user_id = e.user_id AND c.ts >= e.ts
    """,
)
def q_event_asof_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .operators.events import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    werr = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    errors = (
        ev.where(F.col("event_type") == "error")
        .withColumn("rn", F.row_number().over(werr))
        .where(F.col("rn") == 1)
        .select(
            "user_id", "ts",
            F.col("event_id").alias("err_event_id"),
            F.col("value").alias("err_value"),
        )
    )
    return asof_join(
        clicks, errors, on=["user_id"], left_ts="ts", right_ts="ts",
        payload=["err_event_id", "err_value"], suffix="",
    )


# semi-structured props: typed extraction with a PINNED schema
# (from_json("k long") — no per-batch schema inference race), then a
# plain aggregate. Extraction is JVM codegen; the string never shuffles
# (only event_type + the extracted long do). DuckDB json_extract is the
# oracle.
@register(
    "event_props_json",
    """
    WITH e AS (
      SELECT event_type,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(k) AS BIGINT) AS n_with_k,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(max(k) AS BIGINT) AS max_k,
           CAST(count(CASE WHEN k >= 50 THEN 1 END) AS BIGINT) AS n_high
    FROM e GROUP BY event_type
    """,
)
def q_event_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = F.from_json(F.col("props"), "k long").getField("k")
    return (
        _t(spark, sf_dir, "events")
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.count(F.when(F.col("k") >= 50, 1)).alias("n_high"),
        )
    )


# ---------------------------------------------------------------------------
# Deltas — baseline-vs-other cell mismatches via explicit column mapping
# (ReportGenerator.cs:208-317). Baseline = customer; other = perturbed
# projection (same derivation both engines); mapping given explicitly.
# ---------------------------------------------------------------------------
from .validation import deltas  # noqa: E402

_DELTAS_SQL = """
    WITH b AS (
      SELECT upper(trim(CAST(c_custkey AS VARCHAR))) AS key,
             c_name AS b_c_name, c_mktsegment AS b_c_mktsegment
      FROM (SELECT *, row_number() OVER (
              PARTITION BY upper(trim(CAST(c_custkey AS VARCHAR)))
              ORDER BY c_custkey) rn FROM customer) WHERE rn = 1
    ), o AS (
      SELECT upper(trim(CAST(c_custkey AS VARCHAR))) AS key,
             c_name AS o_cust_label,
             CASE WHEN c_custkey % 4 = 0 THEN 'OTHER' ELSE c_mktsegment END AS o_segment
      FROM (SELECT *, row_number() OVER (
              PARTITION BY upper(trim(CAST(c_custkey AS VARCHAR)))
              ORDER BY c_custkey) rn FROM customer
            WHERE c_custkey % 7 <> 0) WHERE rn = 1
    ), j AS (
      SELECT coalesce(b.key, o.key) AS key,
             coalesce(b_c_name, '') AS b_c_name,
             coalesce(b_c_mktsegment, '') AS b_c_mktsegment,
             coalesce(o_cust_label, '') AS o_cust_label,
             coalesce(o_segment, '') AS o_segment
      FROM b FULL OUTER JOIN o ON b.key = o.key
    ), m AS (
      SELECT key, 'c_name' AS b_col, 'other' AS source,
             b_c_name AS base_val, o_cust_label AS other_val FROM j
      UNION ALL
      SELECT key, 'c_mktsegment', 'other', b_c_mktsegment, o_segment FROM j
    )
    SELECT key, b_col, source, base_val, other_val FROM m
    WHERE upper(trim(base_val)) <> upper(trim(other_val))
      AND NOT (trim(base_val) = '' AND trim(other_val) = '')
"""


@register("deltas_cell_mismatches", _DELTAS_SQL)
def q_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    baseline = c.select(
        F.col("c_custkey"), "c_name", "c_mktsegment"
    ).withColumn("_ord", F.col("c_custkey"))
    other = (
        c.where(F.col("c_custkey") % 7 != 0)
        .select(
            F.col("c_custkey"),
            F.col("c_name").alias("cust_label"),
            F.when(F.col("c_custkey") % 4 == 0, F.lit("OTHER"))
            .otherwise(F.col("c_mktsegment"))
            .alias("segment"),
        )
        .withColumn("_ord", F.col("c_custkey"))
    )
    mapping = {"other": {"c_name": "cust_label", "c_mktsegment": "segment"}}
    out = deltas(
        baseline, "c_custkey", {"other": (other, "c_custkey")},
        order_col="_ord", mappings=mapping,
    )
    # exclude the key column itself (PK exclusion, Validator.cs:110-117)
    return out.where(F.col("b_col") != "c_custkey")


# ---------------------------------------------------------------------------
# IVF coarse quantizer — cell assignment histogram (the inverted-file
# scale path for ANN; see operators/similarity.py::ivf_topk)
# ---------------------------------------------------------------------------
from .operators.similarity import ivf_assign, ivf_centroids  # noqa: E402

_CENTS = ivf_centroids(dim=64, n_cells=4, seed=42)
_CENT_LITS = ["[" + ", ".join(repr(x) for x in c) + "]::DOUBLE[]" for c in _CENTS]
_DOTS = [f"list_dot_product(v, {lit})" for lit in _CENT_LITS]
_IVF_SQL = f"""
    WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    d AS (
      SELECT vec_id, {', '.join(f'{d} AS d{i}' for i, d in enumerate(_DOTS))}
      FROM p
    ), a AS (
      SELECT vec_id,
        CASE {' '.join(f'WHEN d{i} = greatest(d0, d1, d2, d3) THEN {i}' for i in range(4))}
        END AS cell
      FROM d
    )
    SELECT cell, count(*) AS n_vecs FROM a GROUP BY cell
"""


@register("similarity_ivf_cells", _IVF_SQL)
def q_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return (
        ivf_assign(emb, "vec_id", "embedding", _CENTS)
        .groupBy("cell")
        .agg(F.count("*").alias("n_vecs"))
    )


# ---------------------------------------------------------------------------
# Multi-probe IVF ANN top-k (operators/similarity.py::ivf_topk): bounded
# query block (vec_id < 20), each query probes its 2 nearest cells,
# candidates only from probed cells; mega-cell guard wired (a window
# count filter in the plan, dedup.drop_hot_groups; cap chosen above the
# test-SF cell sizes so values are quantizer-exact — the pytest plants a
# hot cell to prove the drop).
# ---------------------------------------------------------------------------
from .operators.similarity import ivf_topk  # noqa: E402

_IVF_CELL_CAP = 2000
_IVF_NPROBE = 2
_COS = (
    "list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * "
    "sqrt(list_dot_product(c.v, c.v)))"
)
_IVF_TOPK_SQL = f"""
    WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    d AS (
      SELECT vec_id, v, {', '.join(f'{dd} AS d{i}' for i, dd in enumerate(_DOTS))}
      FROM p
    ), corpus AS (
      SELECT vec_id, v,
        CASE {' '.join(f'WHEN d{i} = greatest(d0, d1, d2, d3) THEN {i}' for i in range(4))}
        END AS cell
      FROM d
    ), hot AS (
      SELECT cell FROM corpus GROUP BY cell HAVING count(*) > {_IVF_CELL_CAP}
    ), kept AS (
      SELECT c.vec_id, c.v, c.cell FROM corpus c
      LEFT JOIN hot h USING (cell) WHERE h.cell IS NULL
    ), qlong AS (
      {' UNION ALL '.join(
          f"SELECT vec_id, v, {i} AS cell, d{i} AS dd FROM d WHERE vec_id < 20"
          for i in range(4)
      )}
    ), qprobe AS (
      SELECT vec_id, v, cell FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY dd DESC, cell ASC) AS pr
        FROM qlong
      ) WHERE pr <= {_IVF_NPROBE}
    ), s AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_COS} AS cos
      FROM qprobe q JOIN kept c ON q.cell = c.cell AND c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
          FROM s)
    WHERE rank <= 5
"""


# Trained-quantizer IVF: spherical k-means (Lloyd) with a FIXED, small
# n_iters IS SQL-expressible by unrolling each iteration as a CTE layer:
# assign = argmin via row_number over per-cell dot products (ties →
# lower cell, matching `similarity.attach_cell`), update = one
# AVG per (cell, pos) + L2 renormalize. Portability hinges on
# train_ivf_centroids ROUNDING each trained centroid component to 6
# decimals (operators/similarity.py): that absorbs the cross-engine
# last-ulp difference in AVG accumulation order, so both engines carry
# bit-identical centroids into the next iteration.
def _lloyd_iter_sql(prev: str, out: str) -> str:
    return f"""
    a_{out} AS (
      SELECT vec_id, v, cell FROM (
        SELECT p.vec_id, p.v, c.cell,
          row_number() OVER (PARTITION BY p.vec_id
            ORDER BY list_dot_product(p.v, c.cv) DESC, c.cell ASC) AS rn
        FROM p CROSS JOIN {prev} c
      ) WHERE rn = 1
    ),
    m_{out} AS (
      SELECT cell, pos, avg(v[pos]) AS m
      FROM a_{out}, range(1, 65) t(pos)
      GROUP BY cell, pos
    ),
    n_{out} AS (SELECT cell, sqrt(sum(m*m)) AS nrm FROM m_{out} GROUP BY cell),
    u_{out} AS (
      SELECT m.cell,
             list(floor((m.m / (CASE WHEN n.nrm = 0 THEN 1 ELSE n.nrm END))
                        * 1000000 + 0.5) / 1000000
                  ORDER BY m.pos) AS cv
      FROM m_{out} m JOIN n_{out} n USING (cell)
      GROUP BY m.cell, n.nrm
    ),
    c_{out} AS (
      SELECT c.cell, coalesce(u.cv, c.cv) AS cv
      FROM {prev} c LEFT JOIN u_{out} u USING (cell)
    )"""


_IVF_TRAINED_SQL = f"""
    WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c_i0 AS (
      {' UNION ALL '.join(f"SELECT {i} AS cell, {lit} AS cv"
                          for i, lit in enumerate(_CENT_LITS))}
    ),{_lloyd_iter_sql('c_i0', 'i1')},{_lloyd_iter_sql('c_i1', 'i2')},
    afinal AS (
      SELECT vec_id, cell FROM (
        SELECT p.vec_id, c.cell,
          row_number() OVER (PARTITION BY p.vec_id
            ORDER BY list_dot_product(p.v, c.cv) DESC, c.cell ASC) AS rn
        FROM p CROSS JOIN c_i2 c
      ) WHERE rn = 1
    )
    SELECT CAST(cell AS INTEGER) AS cell, count(*) AS n_vecs
    FROM afinal GROUP BY cell ORDER BY cell
"""


@register("similarity_ivf_trained_cells", _IVF_TRAINED_SQL)
def q_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import train_ivf_centroids

    emb = _t(spark, sf_dir, "embeddings")
    cents = train_ivf_centroids(emb, "embedding", n_cells=4, dim=64, n_iters=2)
    return (
        ivf_assign(emb, "vec_id", "embedding", cents)
        .groupBy("cell")
        .agg(F.count("*").alias("n_vecs"))
        .orderBy("cell")
    )


@register("similarity_ivf_topk", _IVF_TOPK_SQL)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, "vec_id", "embedding", _CENTS,
        k=5, n_probe=_IVF_NPROBE, query_ids=list(range(20)),
        max_cell_size=_IVF_CELL_CAP,
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate dedup (multi-table LSH → exact cosine
# refine, operators/similarity.py::embedding_near_duplicates). The
# testdata embeddings have no natural near-dups (max pair cosine ≈0.51),
# so the query plants them in-plane: each vec_id < 30 gains a copy at
# id+100000 perturbed by x → x*1.0001 + 0.001 (deterministic double math,
# identical in both engines; cosine ≈ 0.9999 ≥ 0.9 while every natural
# pair stays ≤ 0.52 — like dedup_exact's planted union).
# ---------------------------------------------------------------------------
from .operators.similarity import embedding_near_duplicates  # noqa: E402

# 8 planes/table = 256 buckets: at 5k vectors that is ~20/bucket, so the
# bucket-local pair join stays ~Σ20² instead of Σ315² (4 planes measured
# 2x slower at identical 30/30 planted recall — recall comes from the
# TWO independent tables, not from coarse buckets)
_ND_N_PLANES = 8
_ND_TABLES = [hyperplanes(dim=64, n_planes=_ND_N_PLANES, seed=s) for s in (42, 43)]
_ND_PLANE_LITS = [
    ["[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[]" for p in planes]
    for planes in _ND_TABLES
]
_ND_BUCKET = [
    " + ".join(
        f"(CASE WHEN list_dot_product(v, {lits[i]}) > 0 THEN {2**i} ELSE 0 END)"
        for i in range(_ND_N_PLANES)
    )
    for lits in _ND_PLANE_LITS
]
_ND_COS = (
    "list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * "
    "sqrt(list_dot_product(b.v, b.v)))"
)
_NEARDUP_SQL = f"""
    WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    aug AS (
      SELECT vec_id, v FROM p
      UNION ALL
      SELECT vec_id + 100000, list_transform(v, x -> x * 1.0001 + 0.001)
      FROM p WHERE vec_id < 30
    ), banded AS (
      SELECT vec_id, 0 AS tbl, {_ND_BUCKET[0]} AS bucket FROM aug
      UNION ALL
      SELECT vec_id, 1 AS tbl, {_ND_BUCKET[1]} AS bucket FROM aug
    ), hot AS (
      SELECT tbl, bucket FROM banded GROUP BY tbl, bucket HAVING count(*) > 200
    ), kept AS (
      SELECT bd.vec_id, bd.tbl, bd.bucket FROM banded bd
      LEFT JOIN hot h ON bd.tbl = h.tbl AND bd.bucket = h.bucket
      WHERE h.tbl IS NULL
    ), cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM kept a JOIN kept b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    ), refined AS (
      SELECT c.id_a, c.id_b, {_ND_COS} AS cos
      FROM cand c
      JOIN aug a ON a.vec_id = c.id_a
      JOIN aug b ON b.vec_id = c.id_b
    )
    SELECT id_a, id_b, round(cos, 4) AS cosine FROM refined WHERE cos >= 0.9
"""


@register("dedup_embedding_neardup", _NEARDUP_SQL)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    planted = emb.where(F.col("vec_id") < 30).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.0001 + 0.001).alias("embedding"),
    )
    return embedding_near_duplicates(
        emb.unionByName(planted), "vec_id", "embedding",
        plane_tables=_ND_TABLES, threshold=0.9, max_bucket_size=200,
    )


# ---------------------------------------------------------------------------
# P6/F10 — filename wildcard predicate (MainForm.cs:522-535): '*'/'?'
# wildcards -> anchored case-insensitive regex, applied in-plane
# ---------------------------------------------------------------------------
from .normalize import wildcard_to_rlike  # noqa: E402

# lowercase pattern vs 'Customer#...' data: exercises the (?i) flag too
_WC_PATTERN = wildcard_to_rlike("customer#*1?5")


@register(
    "wildcard_predicate",
    f"""
    SELECT CAST(c_custkey AS VARCHAR) AS key, c_name
    FROM customer
    WHERE regexp_matches(c_name, '{_WC_PATTERN}')
    """,
)
def q_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.where(F.col("c_name").rlike(_WC_PATTERN)).select(
        F.col("c_custkey").cast("string").alias("key"), "c_name"
    )


# ---------------------------------------------------------------------------
# Engine spine — RuleSet.run verdict aggregation (rules/base.py:86-152).
# The one dataflow every user runs: rules -> violations union -> per-
# (rule, bucket) verdict table with rows_scanned / violation_count /
# pass. Reference analog: the run Summary counts
# (/root/reference/src/Services/ReportGenerator.cs:43-45), upgraded to
# partition grain. The oracle mirrors the whole spine in SQL; the only
# engine-specific piece, the xxhash64 bucket, is swapped for a portable
# modulo via RuleContext.bucket_expr (the injection point an Iceberg
# partition transform would also use). Violations are planted
# deterministically so both rule paths are non-trivially exercised:
# duplicated image rows (o_orderkey % 1000 = 1), captions dropped
# (l_orderkey % 500 = 3 -> "missing caption row"), and orphan captions
# (l_orderkey % 701 = 0, shifted by +100000000 -> "missing image row").
# ---------------------------------------------------------------------------
_RULESET_SQL = """
WITH img AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS image_id FROM orders
  UNION ALL
  SELECT CAST(o_orderkey AS VARCHAR) AS image_id FROM orders
  WHERE o_orderkey % 1000 = 1
),
cap AS (
  SELECT CAST(l_orderkey AS VARCHAR) AS image_id FROM lineitem
  WHERE l_orderkey % 500 <> 3
  UNION ALL
  SELECT CAST(l_orderkey + 100000000 AS VARCHAR) AS image_id FROM lineitem
  WHERE l_orderkey % 701 = 0
),
rows_per_bucket AS (
  SELECT CAST(image_id AS BIGINT) % 16 AS bucket,
         count(*) AS rows_scanned
  FROM img GROUP BY 1
),
dup_vio AS (
  SELECT 'uniqueness(image_id)' AS rule,
         CAST(image_id AS BIGINT) % 16 AS bucket,
         count(*) AS violation_count
  FROM (SELECT image_id FROM img GROUP BY image_id HAVING count(*) > 1)
  GROUP BY 1, 2
),
ref_vio AS (
  SELECT 'referential' AS rule,
         CAST(k AS BIGINT) % 16 AS bucket,
         count(*) AS violation_count
  FROM (
    SELECT coalesce(i.image_id, c.image_id) AS k
    FROM (SELECT DISTINCT image_id FROM img) i
    FULL OUTER JOIN (SELECT DISTINCT image_id FROM cap) c
      ON i.image_id = c.image_id
    WHERE i.image_id IS NULL OR c.image_id IS NULL
  )
  GROUP BY 1, 2
),
vio AS (SELECT * FROM dup_vio UNION ALL SELECT * FROM ref_vio),
rules AS (
  SELECT 'uniqueness(image_id)' AS rule
  UNION ALL SELECT 'referential' AS rule
)
SELECT 'contract' AS run_id,
       r.rule,
       b.bucket,
       b.rows_scanned,
       CAST(coalesce(v.violation_count, 0) AS BIGINT) AS violation_count,
       coalesce(v.violation_count, 0) = 0 AS pass
FROM rows_per_bucket b
CROSS JOIN rules r
LEFT JOIN vio v ON v.rule = r.rule AND v.bucket = b.bucket
"""


def _ruleset_inputs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The planted-violation (images, captions) pair shared by every
    verdict-spine query (ruleset_verdicts / verdict_regression /
    incremental_verdicts): duplicated image ids at %1000==1, dropped
    captions at %500==3, alien captions at %701==0."""
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("image_id")
    )
    images = orders.unionAll(
        orders.where(F.col("image_id").cast("bigint") % 1000 == 1)
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("long").alias("k")
    )
    captions = (
        li.where(F.col("k") % 500 != 3)
        .unionAll(li.where(F.col("k") % 701 == 0).select((F.col("k") + 100000000).alias("k")))
        .select(F.col("k").cast("string").alias("image_id"))
    )
    return images, captions


def build_ruleset_run(
    spark: SparkSession, sf_dir: str, caption_drop_mod: int | None = None
) -> dict:
    """LAZY RuleSet.run result for the verdict-spine query — split out
    so tests can plan-gate the uncollected verdicts DataFrame. Callers
    own the persisted ``violations`` and must unpersist it.

    ``caption_drop_mod`` simulates a DEGRADED pipeline version for the
    cross-run regression query: captions whose numeric id is divisible
    by it are dropped (more "missing caption" referential violations;
    dropped orphans also IMPROVE some buckets — both diff directions
    exercised)."""
    from .rules import ReferentialRule, RuleContext, RuleSet, UniquenessRule

    images, captions = _ruleset_inputs(spark, sf_dir)
    if caption_drop_mod is not None:
        captions = captions.where(
            F.col("image_id").cast("long") % caption_drop_mod != 0
        )
    ctx = RuleContext(
        spark=spark,
        images=images,
        captions=captions,
        num_buckets=16,
        run_id="contract",
        bucket_expr=lambda c: F.pmod(c.cast("long"), F.lit(16)),
    )
    rs = RuleSet([UniquenessRule(["image_id"]), ReferentialRule()])
    # default persist=True: the violations union feeds both the >=0 and
    # <0 bucket branches of the verdict plan; without persistence both
    # rules execute twice per action (measured 16.5 s -> ~8 s at sf0.1)
    res = rs.run(ctx)
    res["ctx"] = ctx
    return res


@register("ruleset_verdicts", _RULESET_SQL)
def q_ruleset_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Verdicts are tiny (num_buckets x rules rows) — materialize them
    # here so the cached violations can be unpersisted immediately
    # instead of leaking into the shared session for the harness's life.
    res = build_ruleset_run(spark, sf_dir)
    verdicts = res["verdicts"]
    rows = verdicts.collect()
    res["violations"].unpersist()
    return local_rows(spark, rows, verdicts.schema)


# ---------------------------------------------------------------------------
# Cross-run verdict regression (manifest.py::verdict_regression) — run A
# is the last-known-good validation, run B a degraded pipeline version
# (captions divisible by 977 dropped), and the diff classifies every
# (rule, bucket) as regressed / improved / unchanged WITHOUT re-reading
# a single data row: verdicts are rules x num_buckets rows at any table
# size, so at 10^12 images this comparison joins two ~10^4-row sides.
# The oracle mirrors the full two-run spine: the same verdict SQL as
# ruleset_verdicts, instantiated per run from one template, diffed with
# a FULL OUTER JOIN. Non-vacuous both ways at sf0.01: dropped captions
# regress "missing caption" buckets while dropped orphans improve
# "missing image" buckets.
# ---------------------------------------------------------------------------
def _ruleset_verdict_sql(cap_where: str = "") -> str:
    """The ruleset_verdicts oracle as a template: ``cap_where`` is an
    optional SQL predicate applied to the ASSEMBLED captions relation
    (mirroring build_ruleset_run's caption_drop_mod, which filters the
    final captions DataFrame after the orphan union)."""
    where = f"WHERE {cap_where}" if cap_where else ""
    return f"""
WITH img AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS image_id FROM orders
  UNION ALL
  SELECT CAST(o_orderkey AS VARCHAR) AS image_id FROM orders
  WHERE o_orderkey % 1000 = 1
),
cap AS (
  SELECT image_id FROM (
    SELECT CAST(l_orderkey AS VARCHAR) AS image_id FROM lineitem
    WHERE l_orderkey % 500 <> 3
    UNION ALL
    SELECT CAST(l_orderkey + 100000000 AS VARCHAR) AS image_id FROM lineitem
    WHERE l_orderkey % 701 = 0
  ) {where}
),
rows_per_bucket AS (
  SELECT CAST(image_id AS BIGINT) % 16 AS bucket,
         count(*) AS rows_scanned
  FROM img GROUP BY 1
),
dup_vio AS (
  SELECT 'uniqueness(image_id)' AS rule,
         CAST(image_id AS BIGINT) % 16 AS bucket,
         count(*) AS violation_count
  FROM (SELECT image_id FROM img GROUP BY image_id HAVING count(*) > 1)
  GROUP BY 1, 2
),
ref_vio AS (
  SELECT 'referential' AS rule,
         CAST(k AS BIGINT) % 16 AS bucket,
         count(*) AS violation_count
  FROM (
    SELECT coalesce(i.image_id, c.image_id) AS k
    FROM (SELECT DISTINCT image_id FROM img) i
    FULL OUTER JOIN (SELECT DISTINCT image_id FROM cap) c
      ON i.image_id = c.image_id
    WHERE i.image_id IS NULL OR c.image_id IS NULL
  )
  GROUP BY 1, 2
),
vio AS (SELECT * FROM dup_vio UNION ALL SELECT * FROM ref_vio),
rules AS (
  SELECT 'uniqueness(image_id)' AS rule
  UNION ALL SELECT 'referential' AS rule
)
SELECT r.rule,
       b.bucket,
       b.rows_scanned,
       CAST(coalesce(v.violation_count, 0) AS BIGINT) AS violation_count
FROM rows_per_bucket b
CROSS JOIN rules r
LEFT JOIN vio v ON v.rule = r.rule AND v.bucket = b.bucket
"""


_REGRESSION_SQL = f"""
WITH a AS ({_ruleset_verdict_sql()}),
     b AS ({_ruleset_verdict_sql("CAST(image_id AS BIGINT) % 977 <> 0")})
SELECT coalesce(a.rule, b.rule) AS rule,
       coalesce(a.bucket, b.bucket) AS bucket,
       a.rows_scanned AS rows_a,
       b.rows_scanned AS rows_b,
       a.violation_count AS violations_a,
       b.violation_count AS violations_b,
       CAST(coalesce(b.violation_count, 0) - coalesce(a.violation_count, 0)
            AS BIGINT) AS delta,
       CASE WHEN a.violation_count IS NULL THEN 'only_b'
            WHEN b.violation_count IS NULL THEN 'only_a'
            WHEN b.violation_count > a.violation_count THEN 'regressed'
            WHEN b.violation_count < a.violation_count THEN 'improved'
            ELSE 'unchanged' END AS status
FROM a FULL OUTER JOIN b ON a.rule = b.rule AND a.bucket = b.bucket
"""


@register("verdict_regression", _REGRESSION_SQL)
def q_verdict_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .manifest import verdict_regression

    res_a = build_ruleset_run(spark, sf_dir)
    res_b = build_ruleset_run(spark, sf_dir, caption_drop_mod=977)
    out = verdict_regression(res_a["verdicts"], res_b["verdicts"])
    rows = out.collect()
    res_a["violations"].unpersist()
    res_b["violations"].unpersist()
    return local_rows(spark, rows, out.schema)


# ---------------------------------------------------------------------------
# Engine spine, downstream half — split_violations (rules/base.py):
# violations -> per-key quarantine aggregate -> LEFT-OUTER tag of the
# input -> clean/quarantine partition. The training-pipeline complement
# of the reference's diff report: the reference only LISTS mismatches
# (ReportGenerator.cs sheets); a curation run also needs the rows safe
# to feed forward. Shares the planted-violation synth (and the portable
# bucket modulo) with ruleset_verdicts above.
# ---------------------------------------------------------------------------
_RS_SPLIT_CTES = """img AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS image_id FROM orders
  UNION ALL
  SELECT CAST(o_orderkey AS VARCHAR) AS image_id FROM orders
  WHERE o_orderkey % 1000 = 1
),
cap AS (
  SELECT CAST(l_orderkey AS VARCHAR) AS image_id FROM lineitem
  WHERE l_orderkey % 500 <> 3
  UNION ALL
  SELECT CAST(l_orderkey + 100000000 AS VARCHAR) AS image_id FROM lineitem
  WHERE l_orderkey % 701 = 0
),
vio AS (
  SELECT image_id AS key, 'uniqueness(image_id)' AS rule
  FROM img GROUP BY image_id HAVING count(*) > 1
  UNION ALL
  SELECT coalesce(i.image_id, c.image_id) AS key, 'referential' AS rule
  FROM (SELECT DISTINCT image_id FROM img) i
  FULL OUTER JOIN (SELECT DISTINCT image_id FROM cap) c
    ON i.image_id = c.image_id
  WHERE i.image_id IS NULL OR c.image_id IS NULL
),
bad AS (
  SELECT key,
         CAST(count(*) AS BIGINT) AS n_violations,
         array_to_string(list_sort(list(DISTINCT rule)), ',') AS rules_hit
  FROM vio GROUP BY key
)"""

_QUARANTINE_SQL = f"""
WITH {_RS_SPLIT_CTES}
SELECT i.image_id, b.n_violations, b.rules_hit
FROM img i JOIN bad b ON i.image_id = b.key
"""

# orphan-caption violations (keys not present in img) must NOT leak
# into the quarantine side — they have no input row to quarantine
_CLEAN_COUNT_SQL = f"""
WITH {_RS_SPLIT_CTES}
SELECT CAST(image_id AS BIGINT) % 16 AS bucket, count(*) AS clean_rows
FROM img WHERE image_id NOT IN (SELECT key FROM bad)
GROUP BY 1
"""


@register("ruleset_quarantine", _QUARANTINE_SQL)
def q_ruleset_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .rules.base import split_violations

    res = build_ruleset_run(spark, sf_dir)
    parts = split_violations(res["ctx"], res["violations"])
    q = parts["quarantine"]
    rows = q.collect()
    res["violations"].unpersist()
    return local_rows(spark, rows, q.schema)


@register("ruleset_clean_count", _CLEAN_COUNT_SQL)
def q_ruleset_clean_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .rules.base import split_violations

    res = build_ruleset_run(spark, sf_dir)
    ctx = res["ctx"]
    parts = split_violations(ctx, res["violations"])
    cc = (
        parts["clean"]
        .select(ctx.bucket_of(F.col("image_id")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("clean_rows"))
    )
    rows = cc.collect()
    res["violations"].unpersist()
    return local_rows(spark, rows, cc.schema)


# ---------------------------------------------------------------------------
# pHash near-dup — bit-band LSH, pigeonhole-exact for Hamming <= 3
# (north_star: "uniqueness on image_id/phash", "salted aggregation for
#  phash skew"; reference exact-key analogue: src/Services/Validator.cs:39-42)
# ---------------------------------------------------------------------------
# The image table is derived deterministically from `orders` with
# IDENTICAL int64 arithmetic on both engines: a 48-bit pseudo-pHash in
# three 16-bit pieces (all intermediates < 2^63 — no overflow in either
# engine), plus planted near-dup rows (XOR 0x10401 = bits {0,10,16},
# Hamming 3) every 97th key and exact-dup rows every 131st.
# pHash band-LSH pair generation, parametrized only by an upstream CTE
# named ``tbl`` with columns (image_id, phash) — reused by the raw pair
# query, the cluster queries, and the curation pipeline
_PHASH_PAIRS_FROM_TBL = """banded AS (
  SELECT image_id, phash, b.band, (phash >> (16*b.band)) & 65535 AS bval
  FROM tbl CROSS JOIN (SELECT unnest([0,1,2,3]) AS band) b
), hot AS (
  SELECT band, bval FROM banded GROUP BY band, bval HAVING count(*) > 200
), kept AS (
  SELECT bd.image_id, bd.phash, bd.band, bd.bval FROM banded bd
  LEFT JOIN hot h ON bd.band = h.band AND bd.bval = h.bval
  WHERE h.band IS NULL
), pairs AS (
  SELECT DISTINCT a.image_id AS image_a, b.image_id AS image_b,
                  a.phash AS pa, b.phash AS pb
  FROM kept a JOIN kept b ON a.band = b.band AND a.bval = b.bval
   AND a.image_id < b.image_id
), hpairs AS (
  SELECT image_a, image_b, CAST(bit_count(xor(pa, pb)) AS INT) AS hamming
  FROM pairs
  WHERE bit_count(xor(pa, pb)) <= 3
)"""

_PHASH_CTES = (
    """base AS (
  SELECT 'img_' || CAST(k AS VARCHAR) AS image_id,
         ((k*40503+11)%65536)
           + (((k*9973+12345)%65536)*65536)
           + (((k*31+7)%65536)*4294967296) AS phash,
         k
  FROM (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders)
), tbl AS (
  SELECT image_id, phash FROM base
  UNION ALL
  SELECT 'dup_' || CAST(k AS VARCHAR), xor(phash, 66561) FROM base WHERE k % 97 = 0
  UNION ALL
  SELECT 'copy_' || CAST(k AS VARCHAR), phash FROM base WHERE k % 131 = 0
), """
    + _PHASH_PAIRS_FROM_TBL
)

_PHASH_SQL = (
    "WITH "
    + _PHASH_CTES
    + "\nSELECT image_a, image_b, hamming FROM hpairs"
)

# connected components over an ``hpairs`` CTE (image twin of _CC_CTES;
# the recursive label-spread mirrors
# operators/dedup.py::connected_components)
_CC_FROM_HPAIRS = """edges AS (
      SELECT image_a AS esrc, image_b AS edst FROM hpairs
      UNION
      SELECT image_b AS esrc, image_a AS edst FROM hpairs
    ),
    nodes AS (SELECT DISTINCT esrc AS node FROM edges),
    reach AS (
      SELECT node, node AS lbl FROM nodes
      UNION
      SELECT e.edst AS node, r.lbl FROM reach r JOIN edges e ON e.esrc = r.node
    ),
    cc AS (SELECT node AS image_id, min(lbl) AS cluster_id FROM reach GROUP BY node)"""

_PHASH_CC_CTES = _PHASH_CTES + ",\n    " + _CC_FROM_HPAIRS


def _synthetic_phash(k: F.Column) -> F.Column:
    """The deterministic 64-bit phash of order key ``k`` — the value the
    DuckDB oracle derives for the same row."""
    return (
        (k * 40503 + 11) % 65536
        + ((k * 9973 + 12345) % 65536) * 65536
        + ((k * 31 + 7) % 65536) * F.lit(4294967296)
    ).cast("long")


def _phash_pairs(tbl: DataFrame) -> DataFrame:
    """(image_a, image_b, hamming): the banded Hamming <= 3 near-dup
    pairs of an (image_id, phash) table, as every pHash query builds
    them."""
    from .operators.phash import phash_neardup_pairs

    return phash_neardup_pairs(
        tbl, "image_id", "phash", max_hamming=3, bands=4, max_bucket_size=200,
    )


def _phash_clusters(tbl: DataFrame) -> DataFrame:
    """(doc_id, cluster_id): connected components of
    :func:`_phash_pairs` of ``tbl``."""
    from .operators.dedup import connected_components

    return connected_components(_phash_pairs(tbl), src="image_a", dst="image_b")


def _phash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic (image_id, phash) table with planted near/exact
    duplicates — the same rows the DuckDB oracle derives from orders."""
    k = F.col("o_orderkey").cast("long")
    base = _t(spark, sf_dir, "orders").select(
        F.concat(F.lit("img_"), k.cast("string")).alias("image_id"),
        _synthetic_phash(k).alias("phash"),
        k.alias("k"),
    )
    near = base.where(F.col("k") % 97 == 0).select(
        F.concat(F.lit("dup_"), F.col("k").cast("string")).alias("image_id"),
        F.col("phash").bitwiseXOR(F.lit(66561)).alias("phash"),
    )
    exact = base.where(F.col("k") % 131 == 0).select(
        F.concat(F.lit("copy_"), F.col("k").cast("string")).alias("image_id"),
        F.col("phash"),
    )
    return base.select("image_id", "phash").unionByName(near).unionByName(exact)


@register("phash_neardup", _PHASH_SQL)
def q_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _phash_pairs(_phash_table(spark, sf_dir))


# ---------------------------------------------------------------------------
# Benchmark contamination — n-gram containment vs a held-out set
# (asymmetric cousin of dedup_ngram_jaccard; GPT-3 appendix C-style
#  decontamination. Benchmark side = every 37th doc; corpus = the rest
#  PLUS planted contaminated docs: every other benchmark doc's text
#  embedded verbatim inside filler, id shifted by 1,000,000 — those
#  pairs score containment 1.0 by construction, so the query is
#  non-vacuous at every scale factor.)
# ---------------------------------------------------------------------------
_CONTAM_DOCS_CTE = """
    planted AS (
      SELECT doc_id + 1000000 AS doc_id,
             'filler alpha beta ' || text || ' gamma delta filler' AS text
      FROM documents WHERE doc_id % 74 = 0
    ), alldocs AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id, text FROM planted
    ),
"""

_CONTAM_SQL = (
    "WITH "
    + _CONTAM_DOCS_CTE
    + _SH_CTE.format(where="").replace("FROM documents ", "FROM alldocs ").lstrip("\n")
    + """
    , c_sh AS (SELECT doc_id, shingle FROM clean WHERE doc_id % 37 <> 0),
    b_sh AS (SELECT doc_id AS bench_id, shingle FROM clean WHERE doc_id % 37 = 0),
    hot AS (SELECT shingle FROM c_sh GROUP BY shingle HAVING count(*) > 1000),
    ckept AS (SELECT c.doc_id, c.shingle FROM c_sh c
              LEFT JOIN hot h USING (shingle) WHERE h.shingle IS NULL),
    bsz AS (SELECT bench_id, count(*) AS bench_size FROM b_sh GROUP BY bench_id),
    inter AS (
      SELECT c.doc_id, b.bench_id, count(*) AS intersection
      FROM ckept c JOIN b_sh b ON c.shingle = b.shingle
      GROUP BY 1, 2
    )
    SELECT i.doc_id, i.bench_id, i.intersection, s.bench_size,
           round(i.intersection * 1.0 / s.bench_size, 4) AS containment
    FROM inter i JOIN bsz s USING (bench_id)
    WHERE round(i.intersection * 1.0 / s.bench_size, 4) >= 0.5
    """
)


@register("corpus_contamination", _CONTAM_SQL)
def q_corpus_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import ngram_containment_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.where(F.col("doc_id") % 74 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.lit("filler alpha beta "), F.col("text"), F.lit(" gamma delta filler")
        ).alias("text"),
    )
    alldocs = docs.unionByName(planted)
    return ngram_containment_pairs(
        alldocs.where(F.col("doc_id") % 37 != 0),
        alldocs.where(F.col("doc_id") % 37 == 0),
        "doc_id", "text", n=3, threshold=0.5, max_shingle_df=1000,
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split — range-based hash assignment
# (reproducible-split contract of training pipelines; same md5-bucket
#  arithmetic as corpus_hash_sample, so the oracle mirrors it exactly)
# ---------------------------------------------------------------------------
_SPLIT_HASH = "(('0x' || substr(md5('split:' || doc_id), 1, 8))::BIGINT % 10000)"

_SPLIT_SQL = f"""
    WITH assigned AS (
      SELECT lang,
             CASE WHEN {_SPLIT_HASH} < 9000 THEN 'train'
                  WHEN {_SPLIT_HASH} < 9500 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs
    FROM assigned GROUP BY lang, split
"""


@register("corpus_split_assign", _SPLIT_SQL)
def q_corpus_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import assign_split

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    out = assign_split(docs, "doc_id")  # 0.9 / 0.05 / 0.05
    return out.groupBy("lang", "split").agg(F.count("*").alias("n_docs"))


# ---------------------------------------------------------------------------
# Repetition scoring — Gopher-style duplicate token / 2-gram fractions
# ---------------------------------------------------------------------------
_REPETITION_SQL = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
                         x -> x <> '') AS tk
      FROM documents
    ), g AS (
      SELECT doc_id, tk,
             CASE WHEN len(tk) >= 2
               THEN list_transform(generate_series(1, len(tk) - 1),
                    i -> tk[i] || ' ' || tk[i+1])
               ELSE [] END AS grams
      FROM toks
    )
    SELECT doc_id,
           CAST(len(tk) AS INT) AS n_tokens,
           CASE WHEN len(tk) > 0
             THEN round(1.0 - len(list_distinct(tk)) * 1.0 / len(tk), 4)
             ELSE 0.0 END AS dup_token_frac,
           CASE WHEN len(grams) > 0
             THEN round(1.0 - len(list_distinct(grams)) * 1.0 / len(grams), 4)
             ELSE 0.0 END AS dup_2gram_frac
    FROM g
"""


@register("text_repetition", _REPETITION_SQL)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import repetition_score

    return repetition_score(_t(spark, sf_dir, "documents"), "doc_id", "text")


# ---------------------------------------------------------------------------
# Sequence packing — chunks → fixed-budget bins (greedy per-lane cumsum)
# ---------------------------------------------------------------------------
_PACK_SQL = f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS tk FROM documents
    ), n AS (
      SELECT doc_id, tk,
             CASE WHEN len(tk) <= 64 THEN 1
                  ELSE CAST(ceil((len(tk) - 64) * 1.0 / 48) AS INT) + 1 END AS nc
      FROM t
    ), c AS (
      SELECT doc_id, tk, unnest(generate_series(0, nc - 1)) AS chunk_id FROM n
    ), ch AS (
      SELECT (('0x' || substr(md5('pack:' || doc_id), 1, 8))::BIGINT % 8) AS lane,
             doc_id, chunk_id,
             len(list_slice(tk, chunk_id * 48 + 1, chunk_id * 48 + 64)) AS n_tokens
      FROM c
    ), b AS (
      SELECT lane, n_tokens,
             COALESCE(sum(n_tokens) OVER (
               PARTITION BY lane ORDER BY doc_id, chunk_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
      FROM ch
    )
    SELECT lane, CAST(floor(cumb / 256.0) AS BIGINT) AS bin_id,
           count(*) AS n_chunks, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
    FROM b GROUP BY lane, bin_id
"""


@register("corpus_pack_bins", _PACK_SQL)
def q_corpus_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import chunk_tokens, pack_chunks

    chunks = chunk_tokens(
        _t(spark, sf_dir, "documents"), "doc_id", "text", chunk_size=64, stride=48
    )
    return pack_chunks(chunks, budget=256, n_lanes=8)


# ---------------------------------------------------------------------------
# CCNet-style LM quality tiers — unigram corpus LM, integer micro-nats
# ---------------------------------------------------------------------------
_LM_SQL = f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS token FROM documents
    ), vocab AS (
      SELECT token, count(*) AS cnt FROM toks GROUP BY token
    ), tot AS (
      SELECT sum(cnt) AS total FROM vocab
    ), cost AS (
      SELECT token,
             CAST(floor(ln(total * 1.0 / cnt) * 1e6 + 0.5) AS BIGINT) AS cost
      FROM vocab, tot
    ), per_doc AS (
      SELECT doc_id, count(*) AS n_tokens, sum(cost) AS sum_cost
      FROM toks JOIN cost USING (token) GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
           floor(sum_cost * 1.0 / n_tokens / 100 + 0.5) / 1e4 AS avg_nll,
           CAST(ntile(3) OVER (
             ORDER BY floor(sum_cost * 1.0 / n_tokens / 100 + 0.5) / 1e4, doc_id
           ) AS INT) AS ppl_bucket
    FROM per_doc
"""


@register("text_lm_quality", _LM_SQL)
def q_text_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import unigram_logprob

    return unigram_logprob(_t(spark, sf_dir, "documents"), "doc_id", "text")


# ---------------------------------------------------------------------------
# Image metadata curation — quality gate + aspect-ratio bucketing
# (deterministic (image_id, w, h, fmt, n_bytes) synthesized from orders
#  with planted violations of every gate; integer arithmetic + one IEEE
#  double division, identical on both engines)
# ---------------------------------------------------------------------------
# The synthetic image-meta expressions, defined ONCE (like _GATE_CASE
# below) and interpolated into every oracle that synthesizes the meta
# table — in-line copies would silently desynchronize the curated-
# pipeline / caption-stats oracles from the gate/aspect ones when a
# plant (e.g. the k%41 oversize) changes.
_WH_EXPRS = """CASE WHEN k % 23 = 0 THEN NULL
                  WHEN k % 41 = 0 THEN 10000
                  ELSE (k*37) % 4096 + 32 END AS w,
             (k*53) % 2048 + 48 AS h"""
_META_EXPRS = f"""{_WH_EXPRS},
             CASE k % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                        WHEN 2 THEN 'webp' WHEN 3 THEN 'gif'
                        ELSE 'PNG' END AS fmt,
             (k*11) % 100000 + 16 AS n_bytes"""

_IMAGE_META_CTE = f"""
    meta AS (
      SELECT 'img_' || CAST(k AS VARCHAR) AS image_id,
             {_META_EXPRS}
      FROM (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders)
    )
"""


def _aspect_dists(w: str = "w", h: str = "h") -> str:
    """d0..d4 distance-to-ladder-ratio projections (one per bucket of
    operators/images.py::DEFAULT_BUCKETS), shared by every aspect
    oracle; pair with _ASPECT_BUCKET_CASE in the next SELECT."""
    return f"""abs(CAST({w} AS DOUBLE)/{h} - 9.0/16.0)  AS d0,
             abs(CAST({w} AS DOUBLE)/{h} - 3.0/4.0)   AS d1,
             abs(CAST({w} AS DOUBLE)/{h} - 1.0)       AS d2,
             abs(CAST({w} AS DOUBLE)/{h} - 4.0/3.0)   AS d3,
             abs(CAST({w} AS DOUBLE)/{h} - 16.0/9.0)  AS d4"""


# nearest-bucket argmin over d0..d4; ties break toward the EARLIER
# ladder entry, matching aspect_bucket_expr's when-chain order
_ASPECT_BUCKET_CASE = """CASE WHEN d0 = least(d0,d1,d2,d3,d4) THEN 'tall_9_16'
           WHEN d1 = least(d0,d1,d2,d3,d4) THEN 'portrait_3_4'
           WHEN d2 = least(d0,d1,d2,d3,d4) THEN 'square_1_1'
           WHEN d3 = least(d0,d1,d2,d3,d4) THEN 'landscape_4_3'
           ELSE 'wide_16_9' END"""

# ungated inputs need the null/degenerate-dims guard in front
_ASPECT_BUCKET_OR_NULL = f"""CASE
      WHEN w IS NULL OR h IS NULL OR w <= 0 OR h <= 0 THEN NULL
      ELSE {_ASPECT_BUCKET_CASE} END"""

# The gate CASE, defined ONCE and interpolated into every oracle that
# gates (image_gate, curation pipeline/summary, shard plan, curated
# dedup fixture, compression stats) — five in-line copies drifted apart
# would silently break oracle parity when a threshold changes. Mirrors
# operators/images.py::gate_reason_expr with its defaults.
_GATE_CASE = """CASE
        WHEN w IS NULL OR h IS NULL OR w <= 0 OR h <= 0 THEN 'null_dims'
        WHEN least(w, h) < 64 THEN 'too_small'
        WHEN greatest(w, h) > 8192 THEN 'too_large'
        WHEN w > h * 4 OR h > w * 4 THEN 'extreme_aspect'
        WHEN fmt IS NULL OR lower(fmt) NOT IN ('png','jpeg','webp')
          THEN 'bad_format'
        WHEN n_bytes < 128 THEN 'tiny_payload'
      END"""
_GATE_PASSES = f"({_GATE_CASE}) IS NULL"

_GATE_SQL = f"""
    WITH {_IMAGE_META_CTE}, gated AS (
      SELECT image_id, {_GATE_CASE} AS reject_reason
      FROM meta
    )
    SELECT image_id, reject_reason IS NULL AS passed, reject_reason
    FROM gated
"""

_ASPECT_SQL = f"""
    WITH {_IMAGE_META_CTE}, r AS (
      SELECT image_id, w, h,
             {_aspect_dists()}
      FROM meta
    )
    SELECT image_id, {_ASPECT_BUCKET_OR_NULL} AS bucket
    FROM r
"""


def _meta_col_exprs(k: F.Column) -> tuple[F.Column, ...]:
    """The Spark twins of _META_EXPRS (w, h, fmt, n_bytes) — one
    definition shared by _image_meta_table and _curated_corpus_table so
    the synth plants cannot drift between the two fixtures."""
    w = (
        F.when(k % 23 == 0, F.lit(None).cast("long"))
        .when(k % 41 == 0, F.lit(10000).cast("long"))
        .otherwise((k * 37) % 4096 + 32)
    )
    fmt = (
        F.when(k % 5 == 0, "png")
        .when(k % 5 == 1, "jpeg")
        .when(k % 5 == 2, "webp")
        .when(k % 5 == 3, "gif")
        .otherwise("PNG")
    )
    return (
        w.alias("w"),
        ((k * 53) % 2048 + 48).alias("h"),
        fmt.alias("fmt"),
        ((k * 11) % 100000 + 16).alias("n_bytes"),
    )


def _image_meta_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of _IMAGE_META_CTE — same rows, same types."""
    k = F.col("o_orderkey").cast("long")
    return _t(spark, sf_dir, "orders").select(
        F.concat(F.lit("img_"), k.cast("string")).alias("image_id"),
        *_meta_col_exprs(k),
    )


@register("image_gate", _GATE_SQL)
def q_image_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.images import image_gate

    return image_gate(_image_meta_table(spark, sf_dir))


@register("image_aspect_buckets", _ASPECT_SQL)
def q_image_aspect_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.images import aspect_buckets

    return aspect_buckets(_image_meta_table(spark, sf_dir))


# ---------------------------------------------------------------------------
# Composed image curation pipeline — gate → aspect buckets → shard
# summary, in ONE narrow projection + ONE aggregate (the image twin of
# corpus_dedup_pipeline: proves the curation operators compose without
# intermediate joins or shuffles)
# ---------------------------------------------------------------------------
_CURATION_SQL = f"""
    WITH {_IMAGE_META_CTE}, gated AS (
      SELECT *,
        {_GATE_CASE} AS reject_reason,
        {_aspect_dists()}
      FROM meta
    ), curated AS (
      SELECT lower(fmt) AS fmt,
             {_ASPECT_BUCKET_CASE} AS bucket,
             w, h
      FROM gated WHERE reject_reason IS NULL
    )
    SELECT bucket, fmt, count(*) AS n_images,
           CAST(sum(w * h) AS BIGINT) AS sum_pixels
    FROM curated GROUP BY bucket, fmt
"""


@register("image_curation_summary", _CURATION_SQL)
def q_image_curation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.images import aspect_bucket_expr, gate_reason_expr

    meta = _image_meta_table(spark, sf_dir)
    curated = (
        meta.withColumn("reject_reason", gate_reason_expr())
        .where(F.col("reject_reason").isNull())
        .select(
            aspect_bucket_expr().alias("bucket"),
            F.lower(F.col("fmt")).alias("fmt"),
            "w",
            "h",
        )
    )
    return curated.groupBy("bucket", "fmt").agg(
        F.count("*").alias("n_images"),
        F.sum(F.col("w") * F.col("h")).alias("sum_pixels"),
    )


# ---------------------------------------------------------------------------
# pHash near-dup pairs → dedup clusters → canonical image per cluster
# (image twin of dedup_clusters / dedup_canonical: connected components
#  over the banded Hamming-pair graph, then keep the ORIGINAL variant —
#  the standard "collapse re-encodes onto the source image" policy)
# ---------------------------------------------------------------------------
@register(
    "image_phash_clusters",
    "WITH RECURSIVE " + _PHASH_CC_CTES + "\n    SELECT image_id, cluster_id FROM cc",
)
def q_image_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _phash_clusters(_phash_table(spark, sf_dir)).select(
        F.col("doc_id").alias("image_id"), "cluster_id"
    )


@register(
    "image_phash_canonical",
    "WITH RECURSIVE "
    + _PHASH_CC_CTES
    + """
    , j AS (
      SELECT cluster_id, image_id,
             CASE WHEN image_id LIKE 'img_%' THEN 1 ELSE 0 END AS orig
      FROM cc
    ), r AS (
      SELECT cluster_id, image_id,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY orig DESC, image_id ASC) AS rn,
             count(*) OVER (PARTITION BY cluster_id) AS n_members
      FROM j
    )
    SELECT cluster_id, image_id AS kept_image_id, n_members
    FROM r WHERE rn = 1
    """,
)
def q_image_phash_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import canonical_docs

    tbl = _phash_table(spark, sf_dir)
    clusters = _phash_clusters(tbl)
    attrs = tbl.select(
        "image_id",
        F.col("image_id").startswith("img_").cast("int").alias("orig"),
    )
    return canonical_docs(clusters, attrs, "image_id", "orig").select(
        "cluster_id",
        F.col("kept_doc_id").alias("kept_image_id"),
        "n_members",
    )


# ---------------------------------------------------------------------------
# Webdataset-style shard planning — gate → aspect bucket → byte-budget
# shards within (bucket, lane); the image twin of corpus_pack_bins
# ---------------------------------------------------------------------------
_SHARD_SQL = f"""
    WITH {_IMAGE_META_CTE}, gated AS (
      SELECT *,
        {_GATE_CASE} AS reject_reason,
        {_aspect_dists()}
      FROM meta
    ), curated AS (
      SELECT image_id, n_bytes,
             {_ASPECT_BUCKET_CASE} AS bucket,
             (('0x' || substr(md5('shard:' || image_id), 1, 8))::BIGINT % 8)
               AS lane
      FROM gated WHERE reject_reason IS NULL
    ), b AS (
      SELECT bucket, lane, n_bytes,
             COALESCE(sum(n_bytes) OVER (
               PARTITION BY bucket, lane ORDER BY image_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
      FROM curated
    )
    SELECT bucket, lane, CAST(floor(cumb / 1048576.0) AS BIGINT) AS shard_id,
           count(*) AS n_images, CAST(sum(n_bytes) AS BIGINT) AS shard_bytes
    FROM b GROUP BY bucket, lane, shard_id
"""


@register("image_shard_plan", _SHARD_SQL)
def q_image_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.images import aspect_bucket_expr, gate_reason_expr, shard_plan

    meta = _image_meta_table(spark, sf_dir)
    curated = (
        meta.withColumn("reject_reason", gate_reason_expr())
        .where(F.col("reject_reason").isNull())
        .select(aspect_bucket_expr().alias("bucket"), "image_id", "n_bytes")
    )
    return shard_plan(curated, budget_bytes=1 << 20, n_lanes=8)


# ---------------------------------------------------------------------------
# End-to-end image curation pipeline — metadata gate → pHash band-LSH
# near-dup pairs → connected components → keep the canonical (original-
# preferred) variant per cluster → per-aspect-bucket corpus summary.
# The image twin of corpus_dedup_pipeline: proves the whole curation
# path composes. One unified synthetic corpus carries metadata AND
# phash so every stage sees the same rows; planted near (XOR 66561,
# Hamming 3) and exact (copy) duplicates make the dedup stage
# non-vacuous, and the re-encoded 'dup_' variants switch fmt to jpeg so
# some survive gates their gif/PNG source fails (the canonical is then
# the variant — exercised, not an edge case).
# ---------------------------------------------------------------------------
_CURATED_UTBL_CTES = f"""m0 AS (
  SELECT k,
         {_META_EXPRS},
         ((k*40503+11)%65536)
           + (((k*9973+12345)%65536)*65536)
           + (((k*31+7)%65536)*4294967296) AS phash
  FROM (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders)
), utbl AS (
  SELECT 'img_' || CAST(k AS VARCHAR) AS image_id, w, h, fmt, n_bytes, phash
  FROM m0
  UNION ALL
  SELECT 'dup_' || CAST(k AS VARCHAR), w, h, 'jpeg', n_bytes + 7,
         xor(phash, 66561)
  FROM m0 WHERE k % 97 = 0
  UNION ALL
  SELECT 'copy_' || CAST(k AS VARCHAR), w, h, fmt, n_bytes, phash
  FROM m0 WHERE k % 131 = 0
), gated AS (
  SELECT * FROM utbl
  WHERE {_GATE_PASSES}
), tbl AS (SELECT image_id, phash FROM gated)"""

_PIPELINE_SQL = (
    "WITH RECURSIVE "
    + _CURATED_UTBL_CTES
    + ",\n"
    + _PHASH_PAIRS_FROM_TBL
    + ",\n    "
    + _CC_FROM_HPAIRS
    + """
    , canon AS (
      SELECT image_id,
             row_number() OVER (
               PARTITION BY cluster_id
               ORDER BY CASE WHEN image_id LIKE 'img_%' THEN 1 ELSE 0 END DESC,
                        image_id ASC) AS rn
      FROM cc
    ), drops AS (SELECT image_id FROM canon WHERE rn > 1),
    flagged AS (
      SELECT g.w, g.h, g.n_bytes,
             CASE WHEN d.image_id IS NULL THEN 1 ELSE 0 END AS keep,
             """ + _aspect_dists("g.w", "g.h") + """
      FROM gated g LEFT JOIN drops d ON g.image_id = d.image_id
    )
    SELECT """ + _ASPECT_BUCKET_CASE + """ AS bucket,
           CAST(sum(keep) AS BIGINT) AS n_kept,
           CAST(sum(1 - keep) AS BIGINT) AS n_dropped,
           CAST(sum(n_bytes * keep) AS BIGINT) AS kept_bytes
    FROM flagged GROUP BY bucket
    """
)


def _curated_corpus_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of _CURATED_UTBL_CTES's ``utbl`` — metadata and
    phash on the same deterministic rows, with planted near/exact dups."""
    k = F.col("o_orderkey").cast("long")
    m0 = _t(spark, sf_dir, "orders").select(
        k.alias("k"),
        *_meta_col_exprs(k),
        _synthetic_phash(k).alias("phash"),
    )
    base = m0.select(
        F.concat(F.lit("img_"), F.col("k").cast("string")).alias("image_id"),
        "w", "h", "fmt", "n_bytes", "phash",
    )
    near = m0.where(F.col("k") % 97 == 0).select(
        F.concat(F.lit("dup_"), F.col("k").cast("string")).alias("image_id"),
        "w", "h",
        F.lit("jpeg").alias("fmt"),
        (F.col("n_bytes") + 7).alias("n_bytes"),
        F.col("phash").bitwiseXOR(F.lit(66561)).alias("phash"),
    )
    exact = m0.where(F.col("k") % 131 == 0).select(
        F.concat(F.lit("copy_"), F.col("k").cast("string")).alias("image_id"),
        "w", "h", "fmt", "n_bytes", "phash",
    )
    return base.unionByName(near).unionByName(exact)


@register("image_curation_pipeline", _PIPELINE_SQL)
def q_image_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate → pHash near-dup clusters → canonical keep → bucket summary.

    Scale shape: the corpus-wide stages are ONE gate scan (pure CASE,
    pushed into the parquet scan), ONE band-bucket exchange for the
    pair join (phash + id only — metadata and bytes never enter it),
    and ONE broadcast left join of the drop set back onto the gated
    corpus (near-dup drop sets are a small fraction of the corpus; at
    10^12 rows swap the broadcast for a shuffle anti-join if the dup
    rate explodes). Connected components runs on the pair graph only —
    corpus-size-independent.
    """
    from pyspark.sql import Window

    from .operators.images import aspect_bucket_expr, gate_reason_expr

    gated = _curated_corpus_table(spark, sf_dir).where(
        gate_reason_expr().isNull()
    )
    cc = _phash_clusters(gated.select("image_id", "phash"))
    w_rn = Window.partitionBy("cluster_id").orderBy(
        F.desc("orig"), F.asc("doc_id")
    )
    drops = (
        cc.withColumn("orig", F.col("doc_id").startswith("img_").cast("int"))
        .withColumn("rn", F.row_number().over(w_rn))
        .where(F.col("rn") > 1)
        .select(F.col("doc_id").alias("image_id"), F.lit(1).alias("dropped"))
    )
    flagged = gated.join(F.broadcast(drops), "image_id", "left")
    keep = F.when(F.col("dropped").isNull(), 1).otherwise(0)
    return (
        flagged.select(
            aspect_bucket_expr().alias("bucket"),
            keep.alias("keep"),
            "n_bytes",
        )
        .groupBy("bucket")
        .agg(
            F.sum("keep").alias("n_kept"),
            F.sum(1 - F.col("keep")).alias("n_dropped"),
            F.sum(F.col("n_bytes") * F.col("keep")).alias("kept_bytes"),
        )
    )


# ---------------------------------------------------------------------------
# Compression sanity — bytes-per-pixel by format over gate-passed rows
# (decode-free truncation / decoder-bomb screen; integer-exact)
# ---------------------------------------------------------------------------
_COMPRESSION_SQL = f"""
    WITH {_IMAGE_META_CTE}, gated AS (
      SELECT * FROM meta
      WHERE {_GATE_PASSES}
    )
    SELECT lower(fmt) AS fmt, count(*) AS n_images,
           CAST(sum(w * h) AS BIGINT) AS total_pixels,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           CAST(floor(sum(n_bytes) * 1000.0 / sum(w * h)) AS BIGINT)
             AS milli_bpp,
           CAST(sum(CASE WHEN n_bytes * 1000 < 5 * w * h THEN 1 ELSE 0 END)
             AS BIGINT) AS n_under,
           CAST(sum(CASE WHEN n_bytes * 1000 > 2000 * w * h THEN 1 ELSE 0 END)
             AS BIGINT) AS n_over
    FROM gated GROUP BY lower(fmt)
"""


@register("image_compression_stats", _COMPRESSION_SQL)
def q_image_compression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.images import compression_stats, gate_reason_expr

    gated = _image_meta_table(spark, sf_dir).where(gate_reason_expr().isNull())
    return compression_stats(gated)


# ---------------------------------------------------------------------------
# IVF ANN recall vs brute-force ground truth — completes the ANN
# evaluation pair (similarity_lsh_recall measures the hyperplane-LSH
# index; this measures the multi-probe IVF index with the same truth
# set and the same recall contract)
# ---------------------------------------------------------------------------
@register("similarity_ivf_recall", _recall_sql(_IVF_TOPK_SQL))
def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import ann_recall, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    truth = brute_force_cosine_topk(
        emb, "vec_id", "embedding", query_ids=list(range(20)), k=5
    )
    approx = ivf_topk(
        emb, "vec_id", "embedding", _CENTS,
        k=5, n_probe=_IVF_NPROBE, query_ids=list(range(20)),
        max_cell_size=_IVF_CELL_CAP,
    )
    return ann_recall(truth, approx)


# ---------------------------------------------------------------------------
# Cross-modal caption quality by image geometry — the pair-level signal
# none of the single-side queries covers: per aspect bucket, how well
# captioned are the images (empty / too-short captions are the #1 drop
# reason in image-text corpora after dedup). Captions derive from
# o_orderpriority repeated k%7 times (every 7th pair is caption-less,
# so n_empty is non-vacuous; k%7==1 repeats give 2-token captions for
# n_short). One
# narrow projection + one aggregate — caption tokenisation is the same
# split used by every text query (proven cross-engine), and avg uses
# the portable floor(x*1e4+0.5)/1e4 rounding.
# ---------------------------------------------------------------------------
_CAPTION_STATS_SQL = f"""
    WITH m AS (
      SELECT {_WH_EXPRS},
             trim(repeat(o_orderpriority || ' ', CAST(k % 7 AS INT)))
               AS caption
      FROM (SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderpriority
            FROM orders)
    ), t AS (
      SELECT w, h,
             len(list_filter(
               string_split_regex(
                 regexp_replace(lower(trim(caption)), '\\s+', ' ', 'g'),
                 '[^a-z0-9'']+'),
               x -> x <> '')) AS n_toks,
             {_aspect_dists()}
      FROM m
    ), b AS (
      SELECT {_ASPECT_BUCKET_OR_NULL} AS bucket,
             n_toks
      FROM t
    )
    SELECT bucket, count(*) AS n_pairs,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN n_toks = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_empty,
           CAST(sum(CASE WHEN n_toks BETWEEN 1 AND 2 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_short,
           floor(avg(n_toks) * 10000 + 0.5) / 10000 AS avg_tokens
    FROM b GROUP BY bucket
"""


# ---------------------------------------------------------------------------
# Exact byte-level duplicate groups — the FIRST dedup pass of an image
# corpus (content digest before any perceptual compare). Payloads derive
# from orders with planted collisions: every 131st key shares one of 3
# payloads; everything else is unique. md5 hashes raw UTF-8 bytes on
# both engines, so the digests (and the min-id canonical policy) match
# bit-for-bit.
# ---------------------------------------------------------------------------
_EXACT_DUP_SQL = """
    WITH imgs AS (
      SELECT 'img_' || CAST(k AS VARCHAR) AS image_id,
             CASE WHEN k % 131 = 0 THEN 'dup_' || CAST(k % 3 AS VARCHAR)
                  ELSE 'uniq_' || CAST(k AS VARCHAR) END AS payload
      FROM (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders)
    )
    SELECT md5(payload) AS digest,
           CAST(count(*) AS BIGINT) AS n_copies,
           min(image_id) AS canonical
    FROM imgs GROUP BY 1 HAVING count(*) > 1
"""


@register("image_exact_dup", _EXACT_DUP_SQL)
def q_image_exact_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.images import exact_duplicates

    k = F.col("o_orderkey").cast("long")
    payload = F.when(
        k % 131 == 0, F.concat(F.lit("dup_"), (k % 3).cast("string"))
    ).otherwise(F.concat(F.lit("uniq_"), k.cast("string")))
    imgs = _t(spark, sf_dir, "orders").select(
        F.concat(F.lit("img_"), k.cast("string")).alias("image_id"),
        F.encode(payload, "UTF-8").alias("bytes"),
    )
    return exact_duplicates(imgs)


# ---------------------------------------------------------------------------
# Boilerplate captions — captions shared verbatim across many DISTINCT
# images ("click to enlarge"-class template text; the standard LAION-
# style screen). Two boilerplate strings are planted (one with extra
# whitespace + mixed case to exercise the shared normalization); all
# other captions are unique per image and must NOT appear.
# ---------------------------------------------------------------------------
_BOILERPLATE_SQL = """
    WITH caps AS (
      SELECT 'img_' || CAST(k AS VARCHAR) AS image_id,
             CASE WHEN k % 17 = 0 THEN 'Click  Here to Download'
                  WHEN k % 23 = 0 THEN 'image may contain text'
                  ELSE 'photo of item ' || CAST(k AS VARCHAR) END AS caption
      FROM (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders)
    ), n AS (
      SELECT regexp_replace(lower(trim(caption)), '\\s+', ' ', 'g') AS caption,
             image_id
      FROM caps
    )
    SELECT caption,
           CAST(count(DISTINCT image_id) AS BIGINT) AS n_images,
           min(image_id) AS sample_id
    FROM n GROUP BY caption HAVING count(DISTINCT image_id) >= 5
"""


@register("image_caption_boilerplate", _BOILERPLATE_SQL)
def q_image_caption_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import boilerplate_captions

    k = F.col("o_orderkey").cast("long")
    caption = (
        F.when(k % 17 == 0, F.lit("Click  Here to Download"))
        .when(k % 23 == 0, F.lit("image may contain text"))
        .otherwise(F.concat(F.lit("photo of item "), k.cast("string")))
    )
    caps = _t(spark, sf_dir, "orders").select(
        F.concat(F.lit("img_"), k.cast("string")).alias("image_id"),
        caption.alias("caption"),
    )
    return boilerplate_captions(caps, min_images=5)


# ---------------------------------------------------------------------------
# Exact per-column distribution quantiles via a value-histogram CDF —
# integer arithmetic end to end (smallest value whose cum*100 >=
# total*q), so Spark and the oracle agree bit-for-bit with no float
# interpolation. Profiles the image meta columns the gate rules read.
# ---------------------------------------------------------------------------
_DIM_QUANTILES_SQL = f"""
    WITH {_IMAGE_META_CTE}, m AS (
      SELECT 'w' AS col_name, w AS val FROM meta WHERE w IS NOT NULL
      UNION ALL
      SELECT 'h', h FROM meta WHERE h IS NOT NULL
      UNION ALL
      SELECT 'n_bytes', n_bytes FROM meta WHERE n_bytes IS NOT NULL
    ), hist AS (
      SELECT col_name, val, count(*) AS n FROM m GROUP BY 1, 2
    ), c AS (
      SELECT col_name, val,
             sum(n) OVER (PARTITION BY col_name ORDER BY val
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum,
             sum(n) OVER (PARTITION BY col_name) AS total,
             count(*) OVER (PARTITION BY col_name) AS nd
      FROM hist
    )
    SELECT col_name,
           CAST(max(total) AS BIGINT) AS n_values,
           CAST(max(nd) AS BIGINT) AS n_distinct,
           CAST(min(CASE WHEN cum*100 >= total*50 THEN val END) AS BIGINT) AS p50,
           CAST(min(CASE WHEN cum*100 >= total*90 THEN val END) AS BIGINT) AS p90,
           CAST(min(CASE WHEN cum*100 >= total*99 THEN val END) AS BIGINT) AS p99
    FROM c GROUP BY 1
"""


@register("image_dim_quantiles", _DIM_QUANTILES_SQL)
def q_image_dim_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.stats import value_quantiles

    return value_quantiles(
        _image_meta_table(spark, sf_dir), ["w", "h", "n_bytes"]
    )


# ---------------------------------------------------------------------------
# Cross-modal pair consistency (CLIP-score filter shape): even vec_ids
# play the image embedding, vec_id+1 the caption embedding of the same
# pair; cosine below 0 flags the caption as unrelated. Status is
# computed on the UNROUNDED cosine on both engines (identical
# left-to-right double accumulation), rounding is display-only.
# ---------------------------------------------------------------------------
_CROSSMODAL_SQL = """
    WITH a AS (
      SELECT vec_id // 2 AS pair_id, embedding::DOUBLE[] AS va
      FROM embeddings WHERE vec_id % 2 = 0
    ), b AS (
      SELECT vec_id // 2 AS pair_id, embedding::DOUBLE[] AS vb
      FROM embeddings WHERE vec_id % 2 = 1
    ), s AS (
      SELECT a.pair_id,
             sqrt(list_dot_product(va, va)) *
               sqrt(list_dot_product(vb, vb)) AS dd,
             list_dot_product(va, vb) AS num
      FROM a JOIN b USING (pair_id)
    )
    SELECT pair_id,
           CASE WHEN dd IS NULL OR dd = 0 THEN NULL
                ELSE round(num / dd, 4) END AS cosine,
           CASE WHEN dd IS NULL OR dd = 0 THEN 'invalid'
                WHEN num / dd < 0.0 THEN 'low' ELSE 'ok' END AS status
    FROM s
"""


@register("crossmodal_consistency", _CROSSMODAL_SQL)
def q_crossmodal_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import crossmodal_consistency

    emb = _t(spark, sf_dir, "embeddings")
    a = emb.where(F.col("vec_id") % 2 == 0).select(
        F.floor(F.col("vec_id") / 2).cast("long").alias("pair_id"),
        F.col("embedding").alias("vec_a"),
    )
    b = emb.where(F.col("vec_id") % 2 == 1).select(
        F.floor(F.col("vec_id") / 2).cast("long").alias("pair_id"),
        F.col("embedding").alias("vec_b"),
    )
    return crossmodal_consistency(a.join(b, "pair_id"), threshold=0.0)


@register("image_caption_stats", _CAPTION_STATS_SQL)
def q_image_caption_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.images import aspect_bucket_expr
    from .operators.text import _token_count

    k = F.col("o_orderkey").cast("long")
    m = _t(spark, sf_dir, "orders").select(
        F.when(k % 23 == 0, F.lit(None).cast("long"))
        .when(k % 41 == 0, F.lit(10000).cast("long"))
        .otherwise((k * 37) % 4096 + 32)
        .alias("w"),
        ((k * 53) % 2048 + 48).alias("h"),
        F.expr(
            "trim(repeat(concat(o_orderpriority, ' '), "
            "CAST(CAST(o_orderkey AS BIGINT) % 7 AS INT)))"
        ).alias("caption"),
    )
    # r6: regexp_count instead of size(split-filter) — identical token
    # count (see operators.text._token_count), no array materialization
    t = m.select(
        aspect_bucket_expr().alias("bucket"),
        _token_count(F.col("caption")).alias("n_toks"),
    )
    return t.groupBy("bucket").agg(
        F.count("*").alias("n_pairs"),
        F.sum("n_toks").alias("total_tokens"),
        F.sum((F.col("n_toks") == 0).cast("int")).alias("n_empty"),
        F.sum(((F.col("n_toks") >= 1) & (F.col("n_toks") <= 2)).cast("int")).alias("n_short"),
        (F.floor(F.avg("n_toks") * 10000 + F.lit(0.5)) / 10000).alias("avg_tokens"),
    )


# ---------------------------------------------------------------------------
# Header <-> metadata consistency — decode-free payload introspection
# (operators/images.py::header_consistency, rules/header.py). The
# fixture BUILDS real container headers (PNG signature + IHDR dims +
# IEND trailer; the engine's stub-lossy magics + big-endian dims) from
# orders keys in BOTH engines, plants four fault families (k%13 wrong
# embedded dims, k%19 wrong magic, k%31 missing PNG trailer, k%23 NULL
# width -> NULL payload; 'gif' rows carry an unrecognized magic), and
# each side must PARSE the bytes back — the oracle re-parses hex text
# with its own substring/cast arithmetic, it never re-derives the
# answer from k. NULL propagation matters: the SQL uses `||` (NULL in
# -> NULL out, matching Spark's concat), never DuckDB's NULL-skipping
# concat().
# ---------------------------------------------------------------------------
# Derived from the operator's constants (themselves derived from
# codecs.py) — the fixture cannot desynchronize from the parser it
# exercises. PNG header = signature + IHDR chunk length (13) + tag.
from .operators.images import _PNG_IEND_HEX as _PNG_IEND
from .operators.images import _PNG_SIG_HEX as _FIX_PNG_SIG
from .operators.images import _STUB_MAGIC_HEX as _FIX_STUB

_PNG_HDR_HEX = _FIX_PNG_SIG + "0000000D49484452"
_STUB_JPEG, _STUB_WEBP = _FIX_STUB["jpeg"], _FIX_STUB["webp"]
_HEADER_CONSISTENCY_SQL = f"""
    WITH meta AS (
      SELECT k, 'img_' || CAST(k AS VARCHAR) AS image_id,
             {_META_EXPRS}
      FROM (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders)
    ), planted AS (
      SELECT *,
        CASE WHEN k % 19 = 0 THEN 'jpeg'
             WHEN lower(fmt) IN ('png','jpeg','webp') THEN lower(fmt)
             ELSE 'gif' END AS hfmt,
        CASE WHEN k % 13 = 0 THEN w + 1 ELSE w END AS hw
      FROM meta
    ), built AS (
      SELECT image_id, w, h, fmt,
        CASE hfmt
          WHEN 'png' THEN '{_PNG_HDR_HEX}'
            || lpad(to_hex(hw), 8, '0') || lpad(to_hex(h), 8, '0')
            || CASE WHEN k % 31 = 0 THEN '' ELSE '{_PNG_IEND}' END
          WHEN 'jpeg' THEN '{_STUB_JPEG}'
            || lpad(to_hex(hw), 8, '0') || lpad(to_hex(h), 8, '0') || '08'
          WHEN 'webp' THEN '{_STUB_WEBP}'
            || lpad(to_hex(hw), 8, '0') || lpad(to_hex(h), 8, '0') || '08'
          ELSE '474946383961' END AS hx
      FROM planted
    ), parsed AS (
      SELECT image_id, w, h, fmt, hx,
        CASE WHEN substring(hx, 1, 16) = '89504E470D0A1A0A' THEN 'png'
             WHEN substring(hx, 1, 8) = '{_STUB_JPEG}' THEN 'jpeg'
             WHEN substring(hx, 1, 8) = '{_STUB_WEBP}' THEN 'webp' END AS hdr_fmt
      FROM built
    ), dims AS (
      SELECT *,
        CASE WHEN hdr_fmt = 'png'
               THEN CAST('0x' || substring(hx, 33, 8) AS BIGINT)
             WHEN hdr_fmt IS NOT NULL
               THEN CAST('0x' || substring(hx, 9, 8) AS BIGINT) END AS hdr_w,
        CASE WHEN hdr_fmt = 'png'
               THEN CAST('0x' || substring(hx, 41, 8) AS BIGINT)
             WHEN hdr_fmt IS NOT NULL
               THEN CAST('0x' || substring(hx, 17, 8) AS BIGINT) END AS hdr_h
      FROM parsed
    ), reasons AS (
      SELECT *,
        CASE WHEN hdr_fmt IS NULL OR hdr_w IS NULL OR hdr_h IS NULL
               THEN 'unreadable_header'
             WHEN lower(fmt) IS DISTINCT FROM hdr_fmt THEN 'format_mismatch'
             WHEN (w IS DISTINCT FROM hdr_w) OR (h IS DISTINCT FROM hdr_h)
               THEN 'dims_mismatch'
             WHEN hdr_fmt = 'png' AND right(hx, 24) <> '{_PNG_IEND}'
               THEN 'truncated_payload' END AS reason
      FROM dims
    )
    SELECT image_id, hdr_fmt, hdr_w, hdr_h,
           reason IS NULL AS consistent, reason
    FROM reasons
"""


def _header_fixture_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of _HEADER_CONSISTENCY_SQL's ``built`` CTE: rows
    with REAL binary payloads whose embedded headers carry the planted
    faults. Exercises unhex/concat construction so the operator's
    substring/hex/conv parse runs against genuine bytes."""
    k = F.col("o_orderkey").cast("long")
    meta = _t(spark, sf_dir, "orders").select(
        k.alias("k"),
        F.concat(F.lit("img_"), k.cast("string")).alias("image_id"),
        *_meta_col_exprs(k),
    )
    kk = F.col("k")
    planted = meta.select(
        "*",
        F.when(kk % 19 == 0, "jpeg")
        .when(F.lower(F.col("fmt")).isin("png", "jpeg", "webp"), F.lower(F.col("fmt")))
        .otherwise("gif")
        .alias("hfmt"),
        F.when(kk % 13 == 0, F.col("w") + 1).otherwise(F.col("w")).alias("hw"),
    )

    def hex8(c: F.Column) -> F.Column:
        return F.lpad(F.hex(c), 8, "0")

    dims_hex = F.concat(hex8(F.col("hw")), hex8(F.col("h")))
    hx = (
        F.when(
            F.col("hfmt") == "png",
            F.concat(
                F.lit(_PNG_HDR_HEX),
                dims_hex,
                F.when(kk % 31 == 0, F.lit("")).otherwise(F.lit(_PNG_IEND)),
            ),
        )
        .when(F.col("hfmt") == "jpeg", F.concat(F.lit(_STUB_JPEG), dims_hex, F.lit("08")))
        .when(F.col("hfmt") == "webp", F.concat(F.lit(_STUB_WEBP), dims_hex, F.lit("08")))
        .otherwise(F.lit("474946383961"))
    )
    return planted.select(
        "image_id", "w", "h", "fmt", F.unhex(hx).alias("bytes")
    )


@register("image_header_consistency", _HEADER_CONSISTENCY_SQL)
def q_image_header_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.images import header_consistency

    return header_consistency(_header_fixture_table(spark, sf_dir))


# ---------------------------------------------------------------------------
# Incremental re-validation (manifest.py::ValidationRun.run
# incremental_from) — run A validates the base table and records
# per-bucket input fingerprints; run B validates a day-2 table whose
# captions changed in EXACTLY ONE bucket (keys divisible by 977 in
# bucket 0 dropped — non-empty at every test SF) and inherits A's materialized results for the 15
# unchanged buckets. The oracle computes run B's verdicts FROM SCRATCH
# on the day-2 table: inheritance must be invisible in the results —
# only the manifest lineage and the work done differ (the query body
# raises if the expected 2x15 buckets were NOT inherited, so a silent
# fall-back to full recompute cannot masquerade as a pass).
# ---------------------------------------------------------------------------
_INCREMENTAL_SQL = """
WITH img AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS image_id FROM orders
  UNION ALL
  SELECT CAST(o_orderkey AS VARCHAR) AS image_id FROM orders
  WHERE o_orderkey % 1000 = 1
),
cap0 AS (
  SELECT CAST(l_orderkey AS VARCHAR) AS image_id FROM lineitem
  WHERE l_orderkey % 500 <> 3
  UNION ALL
  SELECT CAST(l_orderkey + 100000000 AS VARCHAR) AS image_id FROM lineitem
  WHERE l_orderkey % 701 = 0
),
cap AS (
  SELECT image_id FROM cap0
  WHERE NOT (CAST(image_id AS BIGINT) % 977 = 0
             AND CAST(image_id AS BIGINT) % 16 = 0)
),
rows_per_bucket AS (
  SELECT CAST(image_id AS BIGINT) % 16 AS bucket,
         count(*) AS rows_scanned
  FROM img GROUP BY 1
),
dup_vio AS (
  SELECT 'uniqueness(image_id)' AS rule,
         CAST(image_id AS BIGINT) % 16 AS bucket,
         count(*) AS violation_count
  FROM (SELECT image_id FROM img GROUP BY image_id HAVING count(*) > 1)
  GROUP BY 1, 2
),
ref_vio AS (
  SELECT 'referential' AS rule,
         CAST(k AS BIGINT) % 16 AS bucket,
         count(*) AS violation_count
  FROM (
    SELECT coalesce(i.image_id, c.image_id) AS k
    FROM (SELECT DISTINCT image_id FROM img) i
    FULL OUTER JOIN (SELECT DISTINCT image_id FROM cap) c
      ON i.image_id = c.image_id
    WHERE i.image_id IS NULL OR c.image_id IS NULL
  )
  GROUP BY 1, 2
),
vio AS (SELECT * FROM dup_vio UNION ALL SELECT * FROM ref_vio),
rules AS (
  SELECT 'uniqueness(image_id)' AS rule
  UNION ALL SELECT 'referential' AS rule
)
SELECT 'B' AS run_id,
       r.rule,
       b.bucket,
       b.rows_scanned,
       CAST(coalesce(v.violation_count, 0) AS BIGINT) AS violation_count,
       coalesce(v.violation_count, 0) = 0 AS pass
FROM rows_per_bucket b
CROSS JOIN rules r
LEFT JOIN vio v ON v.rule = r.rule AND v.bucket = b.bucket
"""


@register("incremental_verdicts", _INCREMENTAL_SQL)
def q_incremental_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .manifest import ValidationRun
    from .rules import ReferentialRule, UniquenessRule

    images, captions = _ruleset_inputs(spark, sf_dir)
    k = F.col("image_id").cast("long")
    captions_day2 = captions.where(~((k % 977 == 0) & (k % 16 == 0)))

    def rules():
        return [UniquenessRule(["image_id"]), ReferentialRule()]

    bexpr = lambda c: F.pmod(c.cast("long"), F.lit(16))  # noqa: E731
    out = tempfile.mkdtemp(prefix="avt_incremental_")
    try:
        ValidationRun(
            spark, out, rules(), num_buckets=16, run_id="A",
            bucket_expr=bexpr,
        ).run(images, captions, record_fingerprints=True)
        run_b = ValidationRun(
            spark, out, rules(), num_buckets=16, run_id="B",
            bucket_expr=bexpr,
        )
        summary = run_b.run(images, captions_day2, incremental_from="A")
        # self-audit: results matching the oracle is necessary but not
        # sufficient — a broken fingerprint diff that silently recomputed
        # everything would also match. Inheritance must actually happen.
        if summary["buckets_inherited"] != 2 * 15:
            raise AssertionError(
                f"expected 2 rules x 15 unchanged buckets inherited, "
                f"got {summary['buckets_inherited']}"
            )
        verd = run_b.verdicts().select(
            F.col("run_id").cast("string").alias("run_id"),
            F.col("rule").cast("string").alias("rule"),
            F.col("bucket").cast("long").alias("bucket"),
            F.col("rows_scanned").cast("long").alias("rows_scanned"),
            F.col("violation_count").cast("long").alias("violation_count"),
            (F.col("violation_count") == 0).alias("pass"),
        )
        rows = verd.collect()
        return local_rows(spark, rows, verd.schema)
    finally:
        shutil.rmtree(out, ignore_errors=True)


# ---------------------------------------------------------------------------
# Registry order (r6). The driver's correctness gate audits the FIRST 50
# registry entries; rounds 1-5 registered the newest query families last,
# so the 21 entries below position 50 (every image_*, corpus_contamination/
# split/pack, text_repetition, text_lm_quality, similarity_ivf_recall,
# incremental_verdicts) accumulated five rounds of local-mirror evidence but
# zero driver rows (VERDICT r5, "Next round" #2). Re-order so the
# never-driver-audited entries come first; the 50 long-audited ones keep
# their relative order behind them and stay pinned by the local oracle
# mirror (tests/test_contract.py covers all 71). Names, functions and
# oracle SQL are untouched — this is purely registration order.
# ---------------------------------------------------------------------------
_R6_AUDIT_FIRST = [
    "corpus_contamination", "corpus_split_assign", "text_repetition",
    "corpus_pack_bins", "text_lm_quality", "image_gate",
    "image_aspect_buckets", "image_curation_summary", "image_phash_clusters",
    "image_phash_canonical", "image_shard_plan", "image_curation_pipeline",
    "image_compression_stats", "similarity_ivf_recall", "image_exact_dup",
    "image_caption_boilerplate", "image_dim_quantiles",
    "crossmodal_consistency", "image_caption_stats",
    "image_header_consistency", "incremental_verdicts",
]
assert set(_R6_AUDIT_FIRST) <= set(QUERIES), "registry drift vs audit list"
_reordered = {n: QUERIES[n] for n in _R6_AUDIT_FIRST}
_reordered.update({n: q for n, q in QUERIES.items() if n not in _reordered})
QUERIES.clear()
QUERIES.update(_reordered)
