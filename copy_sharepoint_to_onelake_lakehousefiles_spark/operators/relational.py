"""Relational operator library (SURVEY.md §2.2: projection/filter, joins of
every flavor, aggregation, windows, sort/limit/top-k, set ops, scalar funcs,
JSON funcs).

The reference hand-rolls these in driver Python (semi-join NB:118-130,
anti-join NB:132-144, filter+project NB:161-183, count NB:240); here each is a
declarative DataFrame plan so Catalyst applies pushdown, pruning, partial
aggregation and broadcast selection automatically.

Scale notes (100 TB posture) are in each docstring: the dimension side of
every star join is broadcast explicitly; big-big joins shuffle on their join
key only; aggregates rely on partial (map-side) aggregation.

Float discipline for the DuckDB oracle: every float aggregate is rounded in
BOTH dialects (sum→2dp, avg→4/6dp) so last-ulp association differences can't
flip the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..registry import materialize, query
from ..tables import epoch_seconds, load

def REVENUE():
    # lazy: F.col needs an active session in classic PySpark
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@query(
    "q01_pricing_summary",
    oracle="""
SELECT l_returnflag,
       l_linestatus,
       round(sum(l_quantity), 2)                                       AS sum_qty,
       round(sum(l_extendedprice), 2)                                  AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)               AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4)                                       AS avg_qty,
       round(avg(l_extendedprice), 4)                                  AS avg_price,
       round(avg(l_discount), 6)                                       AS avg_disc,
       count(*)                                                        AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → filter → hash agg → (sort).

    Scale: filter + column pruning push to the parquet scan; partial
    aggregation means the shuffle carries ≤ (#flags × #statuses) rows per
    input partition regardless of input size.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(REVENUE()), 2).alias("sum_disc_price"),
            F.round(F.sum(REVENUE() * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q02_top_customers_by_revenue",
    oracle="""
SELECT c_custkey,
       c_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(DISTINCT o_orderkey)                        AS n_orders
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q02_top_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big equi-join + broadcast dim join + hash agg + global top-k.

    Scale shape: lineitem is PRE-AGGREGATED to order grain before the join —
    the join input shrinks ~4× and the count-distinct disappears (each order
    is one row, so n_orders is a plain count). Customer broadcasts; top-k is
    TakeOrderedAndProject (no global sort materialization).
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    per_order = li.groupBy("l_orderkey").agg(F.sum(REVENUE()).alias("order_rev"))
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum("order_rev"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "q03_regional_revenue",
    oracle="""
SELECT r_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(DISTINCT o_orderkey)                        AS n_orders,
       count(*)                                          AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY r_name
""",
)
def q03_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: fact⋈fact then a chain of broadcast dim joins.

    Scale: lineitem pre-aggregates to order grain (revenue + lineitem count
    per order) BEFORE the join — count-distinct becomes a plain count and
    the only big shuffle carries one row per order. nation/region/customer
    broadcast (no shuffle).
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00"))
    )
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(REVENUE()).alias("order_rev"), F.count(F.lit(1)).alias("n_li")
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum("order_rev"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("n_li").alias("n_lineitems"),
        )
    )


@query(
    "q04_customers_with_big_orders",
    oracle="""
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_totalprice > 450000
)
""",
)
def q04_customers_with_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join — the reference's existence check over the permission
    collection (NB:118-130: any grantedToIdentitiesV2[].application.id ==
    appId?) expressed as EXISTS.

    Scale: semi-join shuffles only the join key + dedups on the build side.
    """
    c = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 450000)
    return c.join(big, c.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "q05_customers_without_urgent_orders",
    oracle="""
SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS acctbal
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
)
""",
)
def q05_customers_without_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join — the reference's conditional-insert guard (NB:132-144:
    POST the permission only if no existing grant matches) as NOT EXISTS.
    This is the idempotency primitive the copy planner reuses (plans/copy_plan).
    """
    c = load(spark, sf_dir, "customer")
    urgent = load(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return c.join(urgent, c.c_custkey == urgent.o_custkey, "left_anti").select(
        "c_custkey",
        "c_mktsegment",
        F.round("c_acctbal", 2).alias("acctbal"),
    )


@query(
    "q06_top3_orders_per_customer",
    oracle="""
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
WHERE rn <= 3
""",
)
def q06_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via row_number window; deterministic tie-break on key.

    Scale: one shuffle on the partition key; no global sort. (A groupBy +
    min_by/max_by top-1 variant avoids the sort entirely for k=1.)
    """
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            F.col("rn").cast("bigint").alias("rn"),
        )
    )


@query(
    "q07_running_customer_totals",
    oracle="""
SELECT o_custkey,
       o_orderkey,
       round(sum(o_totalprice) OVER w, 2)            AS running_total,
       round(coalesce(lag(o_totalprice) OVER w, 0), 2) AS prev_price,
       rank() OVER w                                  AS order_seq
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def q07_running_customer_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum + lag + rank over one window definition (shared shuffle)."""
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w.rowsBetween(W.unboundedPreceding, 0)), 2).alias(
            "running_total"
        ),
        F.round(F.coalesce(F.lag("o_totalprice").over(w), F.lit(0.0)), 2).alias("prev_price"),
        F.rank().over(w).cast("bigint").alias("order_seq"),
    )


@query(
    "q08_rollup_region_nation",
    oracle="""
SELECT r_name,
       n_name,
       count(*)                  AS n_customers,
       round(sum(c_acctbal), 2)  AS total_balance
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
)
def q08_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (grouping-sets family; Catalyst Expand operator).

    Scale: Expand multiplies rows ×(levels) before the partial agg — still one
    shuffle keyed on the grouping columns.
    """
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
        )
    )


@query(
    "q09_distinct_counts_by_status",
    oracle="""
SELECT o_orderstatus,
       count(DISTINCT o_custkey)     AS n_customers,
       count(*)                      AS n_orders,
       round(sum(o_totalprice), 2)   AS total_value,
       round(max(o_totalprice), 2)   AS max_value,
       round(min(o_totalprice), 2)   AS min_value
FROM orders
GROUP BY o_orderstatus
""",
)
def q09_distinct_counts_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (two-phase: dedup shuffle then agg).

    Scale: for dashboards at 100 TB swap countDistinct →
    approx_count_distinct (HLL, single pass, mergeable) — kept exact here for
    oracle parity.
    """
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_value"),
        F.round(F.max("o_totalprice"), 2).alias("max_value"),
        F.round(F.min("o_totalprice"), 2).alias("min_value"),
    )


@query(
    "q10_segment_set_ops",
    oracle="""
SELECT 'rich_building' AS tag, c_custkey FROM (
  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
  INTERSECT
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
)
UNION ALL
SELECT 'rich_not_building' AS tag, c_custkey FROM (
  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
  EXCEPT
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
)
""",
)
def q10_segment_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL (Catalyst rewrites the first two to
    semi/anti joins — same primitive the reference's grant check uses)."""
    c = load(spark, sf_dir, "customer")
    rich = c.where(F.col("c_acctbal") > 5000).select("c_custkey")
    building = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    both = rich.intersect(building).select(F.lit("rich_building").alias("tag"), "c_custkey")
    only = rich.exceptAll(building).distinct().select(
        F.lit("rich_not_building").alias("tag"), "c_custkey"
    )
    return both.unionByName(only)


@query(
    "q11_json_event_metrics",
    oracle="""
SELECT event_type,
       count(*)                                                        AS n_events,
       round(avg(CAST(regexp_extract(props, '"k": (-?\\d+)', 1) AS BIGINT)), 4) AS avg_k,
       max(CAST(regexp_extract(props, '"k": (-?\\d+)', 1) AS BIGINT))  AS max_k,
       round(sum(value), 2)                                            AS total_value
FROM events
GROUP BY event_type
""",
)
def q11_json_event_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload extraction (events.props is a JSON string — the same
    dynamic-document shape as the reference's Graph responses, NB:210) +
    aggregation. Spark side uses get_json_object; oracle uses a regexp so the
    check does not depend on DuckDB's JSON extension.
    """
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg(F.get_json_object("props", "$.k").cast("bigint")), 4).alias("avg_k"),
        F.max(F.get_json_object("props", "$.k").cast("bigint")).alias("max_k"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "q194_variant_json_analytics",
    oracle="""
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(regexp_extract(props, '"k": (-?\\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
       max(CAST(regexp_extract(props, '"k": (-?\\d+)', 1) AS BIGINT))      AS max_k,
       count(*) AS n_missing_null,
       1 AS stored_as_variant
FROM events
GROUP BY event_type
""",
)
def q194_variant_json_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT analytics (r8 — Spark 4's VariantType, the
    open-lakehouse semi-structured column type): the JSON payload is parsed
    ONCE into a binary variant (``parse_json``), stored to parquet in the
    variant physical encoding (metadata/value binary pair — the round trip
    through ``materialize`` proves the storage path, pinned by the
    ``stored_as_variant`` flag), and fields are extracted with
    ``variant_get`` path expressions; ``try_variant_get`` of an absent
    path yields NULL, not an error. The oracle recomputes the same
    aggregates from the raw JSON strings with a regexp (q11's convention).

    Scale: parse once / extract many beats re-parsing JSON strings per
    predicate — variant decode is a JVM-side columnar operation and the
    parquet encoding prunes like any other column, unlike
    ``get_json_object`` over repeated text."""
    e = load(spark, sf_dir, "events").select("event_type", "props")
    stored = materialize(
        e.select("event_type", F.parse_json("props").alias("pv"))
    )
    is_var = int(dict(stored.dtypes)["pv"] == "variant")
    return stored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.variant_get("pv", "$.k", "bigint")).alias("sum_k"),
        F.max(F.variant_get("pv", "$.k", "bigint")).alias("max_k"),
        F.count(
            F.when(F.try_variant_get("pv", "$.missing", "bigint").isNull(), 1)
        ).alias("n_missing_null"),
        F.lit(is_var).cast("int").alias("stored_as_variant"),
    )


@query(
    "q12_monthly_revenue",
    oracle="""
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
       round(sum(o_totalprice), 2)                            AS revenue,
       count(*)                                               AS n_orders
FROM orders
GROUP BY 1
""",
)
def q12_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc bucketing; month emitted as a string in both dialects so the
    value hash is representation-independent."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd").alias("month")
        )
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "q13_shipped_within_60d",
    oracle="""
SELECT o_orderpriority,
       count(*)                                          AS n_lineitems,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
           AND l_shipdate >= o_orderdate
           AND l_shipdate <  o_orderdate + INTERVAL 60 DAY
GROUP BY o_orderpriority
""",
)
def q13_shipped_within_60d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range predicate on top of an equi-join: Catalyst keys the shuffle on
    the equi part (orderkey) and evaluates the date-band residual in-place —
    no O(n²) theta join at scale."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate < F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
    )
    return (
        li.join(o, cond)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.round(F.sum(REVENUE()), 2).alias("revenue"),
        )
    )


@query(
    "q15_pivot_flag_status",
    oracle="""
SELECT l_returnflag,
       round(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2) AS qty_f,
       round(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 2) AS qty_o,
       count(*) FILTER (WHERE l_linestatus = 'F')                  AS cnt_f,
       count(*) FILTER (WHERE l_linestatus = 'O')                  AS cnt_o
FROM lineitem
GROUP BY l_returnflag
""",
)
def q15_pivot_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (explicit list keeps it one pass —
    no extra distinct-values job — which is the 100 TB-safe form)."""
    li = load(spark, sf_dir, "lineitem")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("qty"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    return piv.select(
        "l_returnflag",
        F.col("F_qty").alias("qty_f"),
        F.col("O_qty").alias("qty_o"),
        F.col("F_cnt").alias("cnt_f"),
        F.col("O_cnt").alias("cnt_o"),
    )


@query(
    "q16_nation_revenue_ranks",
    oracle="""
SELECT n_name,
       revenue,
       rank() OVER (ORDER BY revenue DESC)       AS rnk,
       dense_rank() OVER (ORDER BY revenue DESC) AS drnk,
       ntile(4) OVER (ORDER BY revenue DESC)     AS quartile
FROM (
  SELECT n_name, round(sum(o_totalprice), 2) AS revenue
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY n_name
)
""",
)
def q16_nation_revenue_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank/ntile over an aggregated (small) input — the global
    window is fine because it runs on ≤ #nations rows, not the fact table."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    agg = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    w = W.orderBy(F.col("revenue").desc())
    return agg.select(
        "n_name",
        "revenue",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
    )


@query(
    "q17_document_paths",
    oracle="""
SELECT doc_id,
       upper(lang)                                          AS lang_up,
       concat_ws('/', 'corpus', source, lang,
                 'doc_' || CAST(doc_id AS VARCHAR) || '.txt') AS dest_path,
       length(text)                                         AS text_len,
       len(string_split(text, ' '))                         AS n_tokens,
       string_split(text, ' ')[1]                           AS first_word,
       substr(text, 1, 16)                                  AS prefix16
FROM documents
WHERE doc_id < 200
""",
)
def q17_document_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string functions — the reference's path construction
    (lakehouse_dest_path, NB:254-263) and '//'→'/' normalization (NB:290)
    as pure column expressions (no UDF)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.where(F.col("doc_id") < 200).select(
        "doc_id",
        F.upper("lang").alias("lang_up"),
        F.regexp_replace(
            F.concat_ws(
                "/",
                F.lit("corpus"),
                F.col("source"),
                F.col("lang"),
                F.concat(F.lit("doc_"), F.col("doc_id").cast("string"), F.lit(".txt")),
            ),
            "//+",
            "/",
        ).alias("dest_path"),
        F.length("text").cast("bigint").alias("text_len"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        toks.getItem(0).alias("first_word"),
        F.substring("text", 1, 16).alias("prefix16"),
    )


@query(
    "q18_segment_balance_profile",
    oracle="""
SELECT c_mktsegment,
       count(*)                                              AS n_customers,
       count(*) FILTER (WHERE c_acctbal > 5000)              AS n_rich,
       count(*) FILTER (WHERE c_acctbal < 0)                 AS n_negative,
       round(avg(CASE WHEN c_acctbal > 0 THEN c_acctbal END), 4) AS avg_positive_bal,
       round(100.0 * count(*) FILTER (WHERE c_acctbal > 5000) / count(*), 4) AS pct_rich
FROM customer
GROUP BY c_mktsegment
""",
)
def q18_segment_balance_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (CASE WHEN / FILTER) in one pass."""
    c = load(spark, sf_dir, "customer")
    rich = F.when(F.col("c_acctbal") > 5000, 1).otherwise(0)
    return c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(rich).alias("n_rich"),
        F.sum(F.when(F.col("c_acctbal") < 0, 1).otherwise(0)).alias("n_negative"),
        F.round(F.avg(F.when(F.col("c_acctbal") > 0, F.col("c_acctbal"))), 4).alias(
            "avg_positive_bal"
        ),
        F.round(100.0 * F.sum(rich) / F.count(F.lit(1)), 4).alias("pct_rich"),
    )


@query(
    "q19_math_profile",
    oracle="""
SELECT l_returnflag,
       round(sum(sqrt(l_quantity)), 2)            AS sum_sqrt_qty,
       round(sum(ln(l_extendedprice)), 2)         AS sum_ln_price,
       round(sum(abs(l_discount - 0.05)), 4)      AS sum_abs_disc_dev,
       round(sum(pow(l_tax, 2)), 6)               AS sum_tax_sq,
       CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_floor_qty,
       CAST(sum(CAST(ceil(l_quantity) AS BIGINT)) AS BIGINT)  AS sum_ceil_qty,
       CAST(sum(CAST(l_linenumber % 3 AS BIGINT)) AS BIGINT)  AS sum_mod3
FROM lineitem
GROUP BY l_returnflag
""",
)
def q19_math_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar math functions (sqrt/ln/abs/pow/floor/ceil/mod) — all JVM-side
    codegen'd expressions."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum(F.sqrt("l_quantity")), 2).alias("sum_sqrt_qty"),
        F.round(F.sum(F.log("l_extendedprice")), 2).alias("sum_ln_price"),
        F.round(F.sum(F.abs(F.col("l_discount") - 0.05)), 4).alias("sum_abs_disc_dev"),
        F.round(F.sum(F.pow("l_tax", F.lit(2))), 6).alias("sum_tax_sq"),
        F.sum(F.floor("l_quantity").cast("bigint")).alias("sum_floor_qty"),
        F.sum(F.ceil("l_quantity").cast("bigint")).alias("sum_ceil_qty"),
        F.sum((F.col("l_linenumber") % 3).cast("bigint")).alias("sum_mod3"),
    )


@query(
    "q33_cube_priority_status",
    oracle="""
SELECT o_orderpriority,
       o_orderstatus,
       count(*)                    AS n_orders,
       round(sum(o_totalprice), 2) AS total_value
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
""",
)
def q33_cube_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE — all 2^k grouping combinations in one pass (Catalyst Expand)."""
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_value"),
    )


@query(
    "q34_grouping_sets",
    oracle="""
SELECT r_name, c_mktsegment, count(*) AS n_customers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name), (c_mktsegment), ())
""",
)
def q34_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL API (same Catalyst plan as the
    DataFrame rollup/cube family; demonstrates the spark.sql entry point)."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("_gs_customer")
    load(spark, sf_dir, "nation").createOrReplaceTempView("_gs_nation")
    load(spark, sf_dir, "region").createOrReplaceTempView("_gs_region")
    return spark.sql(
        """
        SELECT r_name, c_mktsegment, count(*) AS n_customers
        FROM _gs_customer
        JOIN _gs_nation ON c_nationkey = n_nationkey
        JOIN _gs_region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name), (c_mktsegment), ())
        """
    )


@query(
    "q35_above_segment_average",
    oracle="""
SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS acctbal
FROM customer c
WHERE c_acctbal > (
  SELECT avg(c2.c_acctbal) FROM customer c2
  WHERE c2.c_mktsegment = c.c_mktsegment
)
""",
)
def q35_above_segment_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (Catalyst decorrelates to agg + join —
    one shuffle on the correlation key, not a per-row subplan)."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("_sub_customer")
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS acctbal
        FROM _sub_customer c
        WHERE c_acctbal > (
          SELECT avg(c2.c_acctbal) FROM _sub_customer c2
          WHERE c2.c_mktsegment = c.c_mktsegment
        )
        """
    )


@query(
    "q37_event_time_profile",
    oracle="""
SELECT event_type,
       hour(ts)                                                       AS hr,
       count(*)                                                       AS n_events,
       round(avg(CAST(regexp_extract(props, '"k": (-?\\d+)', 1) AS BIGINT)), 4) AS avg_k,
       min(date_diff('day', TIMESTAMP '2024-01-01 00:00:00', ts))     AS min_day_idx,
       max(date_diff('day', TIMESTAMP '2024-01-01 00:00:00', ts))     AS max_day_idx
FROM events
GROUP BY event_type, hour(ts)
""",
)
def q37_event_time_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp scalar functions (hour, day arithmetic) + from_json: props
    is parsed with an explicit schema (from_json) rather than per-key string
    extraction — the declared-schema form SURVEY §1.3 mandates for payloads."""
    e = load(spark, sf_dir, "events")
    k = F.from_json("props", "k BIGINT").getField("k")
    day_idx = F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
    return e.groupBy("event_type", F.hour("ts").cast("bigint").alias("hr")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg(k), 4).alias("avg_k"),
        F.min(day_idx).cast("bigint").alias("min_day_idx"),
        F.max(day_idx).cast("bigint").alias("max_day_idx"),
    )


@query(
    "q38_approx_distinct",
    oracle="""
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT)  AS exact_parts,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
       1 AS parts_within_5pct,
       1 AS orders_within_5pct
FROM lineitem
GROUP BY l_returnflag
""",
)
def q38_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) beside the exact count — the
    100 TB cardinality path (single pass, mergeable sketches, no dedup
    shuffle).

    Oracle promotion (r3, derived-bound-flag pattern): the raw HLL estimate
    is engine-specific and can never hash-match an ANSI twin, so the hashed
    output carries the EXACT counts plus a deterministic accuracy flag
    (|est − exact| · 20 ≤ exact, i.e. within 5%) computed from the real
    sketch; the oracle asserts the flag is 1. The driver gate now verifies
    the sketch's accuracy contract instead of skipping it."""
    li = load(spark, sf_dir, "lineitem")
    within = lambda est, exact: (  # noqa: E731
        (F.abs(est - exact) * 20 <= exact).cast("int")
    )
    agg = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        "exact_orders",
        within(F.col("approx_parts"), F.col("exact_parts")).alias("parts_within_5pct"),
        within(F.col("approx_orders"), F.col("exact_orders")).alias("orders_within_5pct"),
    )


@query(
    "q39_price_percentiles",
    oracle="""
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 4)  AS median_price,
       round(quantile_cont(o_totalprice, 0.9), 4)  AS p90_price,
       round(quantile_cont(o_totalprice, 0.99), 4) AS p99_price,
       round(avg(o_totalprice), 4)                 AS mean_price
FROM orders
GROUP BY o_orderstatus
""",
)
def q39_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    quantile_cont). At 100 TB switch to approx_percentile (t-digest sketch,
    single pass, mergeable) — exact kept here for oracle parity.

    r12: ONE percentile(col, array(...)) aggregate instead of three — the
    three separate calls each built and sorted their own per-group value
    buffer (3× the aggregation state and 3× the sort); the array form
    computes all three quantiles from one buffer. Same exact-interpolation
    algorithm on the same values → identical doubles."""
    o = load(spark, sf_dir, "orders")
    pct = F.expr("percentile(o_totalprice, array(0.5, 0.9, 0.99))")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            pct.alias("__pct"),
            F.round(F.avg("o_totalprice"), 4).alias("mean_price"),
        )
        .select(
            "o_orderstatus",
            F.round(F.col("__pct").getItem(0), 4).alias("median_price"),
            F.round(F.col("__pct").getItem(1), 4).alias("p90_price"),
            F.round(F.col("__pct").getItem(2), 4).alias("p99_price"),
            "mean_price",
        )
    )


@query(
    "q47_customer_order_fill",
    oracle="""
SELECT c_custkey,
       c_mktsegment,
       coalesce(n_orders, 0)             AS n_orders,
       round(coalesce(total_spend, 0), 2) AS total_spend,
       CASE WHEN n_orders IS NULL THEN 1 ELSE 0 END AS is_inactive
FROM customer
LEFT JOIN (
  SELECT o_custkey, count(*) AS n_orders, sum(o_totalprice) AS total_spend
  FROM orders WHERE o_orderpriority = '1-URGENT'
  GROUP BY o_custkey
) o ON c_custkey = o_custkey
""",
)
def q47_customer_order_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join with null-fill — aggregate BEFORE the join (the
    join-then-agg form shuffles the fact table; agg-then-join shuffles one
    row per customer)."""
    c = load(spark, sf_dir, "customer")
    per_cust = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("o_totalprice").alias("total_spend"))
    )
    j = c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left")
    return j.select(
        "c_custkey",
        "c_mktsegment",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.round(F.coalesce("total_spend", F.lit(0.0)), 2).alias("total_spend"),
        F.when(F.col("n_orders").isNull(), 1).otherwise(0).alias("is_inactive"),
    )


@query(
    "q48_rolling_7day_revenue",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS day_idx,
         sum(o_totalprice) AS revenue
  FROM orders
  GROUP BY 1
)
SELECT day_idx,
       round(revenue, 2) AS revenue,
       round(sum(revenue) OVER (ORDER BY day_idx
                                RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS rolling_7d,
       count(*) OVER (ORDER BY day_idx
                      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS days_in_window
FROM daily
""",
)
def q48_rolling_7day_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window (value-based frame, not row-based): 7-day rolling
    revenue over a sparse daily series — days with no orders correctly
    shrink the window, which rowsBetween(-6, 0) would get wrong.

    SCALE PIN (VERDICT r10 #3): the unpartitioned Window's input is the
    PER-DAY aggregate, calendar-bounded at ANY data scale (one row per
    order day, ~2.4k rows for 7 years), never the fact table — Spark's
    `WindowExec: No Partition Defined` warning here is expected and safe.
    tests/test_plan_audit.py::test_q48_window_sits_above_day_aggregate
    pins the plan shape."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("bigint")
        .alias("day_idx")
    ).agg(F.sum("o_totalprice").alias("revenue"))
    w = W.orderBy("day_idx").rangeBetween(-6, 0)
    return daily.select(
        "day_idx",
        F.round("revenue", 2).alias("revenue"),
        F.round(F.sum("revenue").over(w), 2).alias("rolling_7d"),
        F.count(F.lit(1)).over(w).alias("days_in_window"),
    )


@query(
    "q49_user_name_resolution",
    oracle="""
SELECT u.user_id,
       coalesce(c.c_name, s.s_name, 'unknown-' || CAST(u.user_id AS VARCHAR)) AS display_name,
       CASE WHEN c.c_name IS NOT NULL THEN 'customer'
            WHEN s.s_name IS NOT NULL THEN 'supplier'
            ELSE 'default' END AS resolved_from,
       u.n_events
FROM (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id) u
LEFT JOIN customer c ON c.c_custkey = u.user_id
LEFT JOIN supplier s ON s.s_suppkey = u.user_id
""",
)
def q49_user_name_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized lookup with fallback chain — the reference's
    resolve_app_name (NB:78-107: try servicePrincipals, then applications,
    else default, dict-cached) as two broadcast LEFT joins + coalesce. The
    'cache' is the broadcast itself: each executor holds the dim table once,
    every probe is an in-memory hash lookup."""
    ev = load(spark, sf_dir, "events")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    u = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    j = u.join(F.broadcast(c), c.c_custkey == u.user_id, "left").join(
        F.broadcast(s), s.s_suppkey == u.user_id, "left"
    )
    return j.select(
        "user_id",
        F.coalesce(
            "c_name", "s_name", F.concat(F.lit("unknown-"), F.col("user_id").cast("string"))
        ).alias("display_name"),
        F.when(F.col("c_name").isNotNull(), "customer")
        .when(F.col("s_name").isNotNull(), "supplier")
        .otherwise("default")
        .alias("resolved_from"),
        "n_events",
    )


@query(
    "q53_monthly_trend_cte",
    oracle="""
WITH monthly AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
         sum(o_totalprice) AS revenue,
         count(*) AS n_orders
  FROM orders
  GROUP BY 1
)
SELECT month,
       round(revenue, 2) AS revenue,
       n_orders,
       round(revenue - lag(revenue) OVER (ORDER BY month), 2)        AS mom_delta,
       round(avg(revenue) OVER (ORDER BY month
                                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS rev_3mo_avg
FROM monthly
""",
)
def q53_monthly_trend_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end path: a CTE + window query submitted as SQL text —
    Catalyst produces the identical plan to the DataFrame form, so the engine
    exposes both surfaces interchangeably (SURVEY §3 lifecycle)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("_cte_orders")
    return spark.sql(
        """
        WITH monthly AS (
          SELECT date_format(date_trunc('month', o_orderdate), 'yyyy-MM') AS month,
                 sum(o_totalprice) AS revenue,
                 count(*) AS n_orders
          FROM _cte_orders
          GROUP BY 1
        )
        SELECT month,
               round(revenue, 2) AS revenue,
               n_orders,
               round(revenue - lag(revenue) OVER (ORDER BY month), 2)        AS mom_delta,
               round(avg(revenue) OVER (ORDER BY month
                                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS rev_3mo_avg
        FROM monthly
        """
    )


@query(
    "q63_approx_percentiles",
    oracle="""
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 2)  AS exact_median,
       round(quantile_cont(o_totalprice, 0.95), 2) AS exact_p95,
       1 AS median_within_1pct,
       1 AS p95_within_1pct
FROM orders
GROUP BY o_orderstatus
""",
)
def q63_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (single-pass mergeable sketch — the 100 TB
    percentile path) checked against the exact value.

    Oracle promotion (r3, derived-bound-flag pattern — see q38): the sketch
    estimate is engine-specific, so the hashed output carries the exact
    interpolated percentiles (Spark `percentile` ≡ DuckDB quantile_cont, the
    q39 equivalence) plus a flag that the approx estimate lands within 1% of
    exact; the oracle asserts the flag."""
    o = load(spark, sf_dir, "orders")
    within = lambda est, exact: (  # noqa: E731
        (F.abs(est - exact) * 100 <= exact).cast("int")
    )
    agg = o.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("em"),
        F.expr("approx_percentile(o_totalprice, 0.5, 10000)").alias("am"),
        F.expr("percentile(o_totalprice, 0.95)").alias("ep"),
        F.expr("approx_percentile(o_totalprice, 0.95, 10000)").alias("ap"),
    )
    return agg.select(
        "o_orderstatus",
        F.round(F.col("em"), 2).alias("exact_median"),
        F.round(F.col("ep"), 2).alias("exact_p95"),
        within(F.col("am"), F.col("em")).alias("median_within_1pct"),
        within(F.col("ap"), F.col("ep")).alias("p95_within_1pct"),
    )


@query(
    "q64_yoy_reconciliation",
    oracle="""
WITH y95 AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS spend_95
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
  GROUP BY o_custkey
),
y96 AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS spend_96
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY o_custkey
)
SELECT coalesce(y95.o_custkey, y96.o_custkey) AS custkey,
       coalesce(spend_95, 0) AS spend_95,
       coalesce(spend_96, 0) AS spend_96,
       CASE WHEN y95.o_custkey IS NULL THEN 'new'
            WHEN y96.o_custkey IS NULL THEN 'churned'
            ELSE 'retained' END AS cohort
FROM y95 FULL OUTER JOIN y96 ON y95.o_custkey = y96.o_custkey
""",
)
def q64_yoy_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join — year-over-year customer reconciliation (the
    new/churned/retained cohort split that only an outer join expresses).
    Both inputs pre-aggregate to one row per customer before joining."""
    o = load(spark, sf_dir, "orders")

    def year_spend(y: int, alias: str) -> DataFrame:
        return (
            o.where(
                (F.col("o_orderdate") >= F.lit(f"{y}-01-01 00:00:00"))
                & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01 00:00:00"))
            )
            .groupBy("o_custkey")
            .agg(F.round(F.sum("o_totalprice"), 2).alias(alias))
        )

    y95 = year_spend(1995, "spend_95").withColumnRenamed("o_custkey", "k95")
    y96 = year_spend(1996, "spend_96").withColumnRenamed("o_custkey", "k96")
    j = y95.join(y96, y95.k95 == y96.k96, "full_outer")
    return j.select(
        F.coalesce("k95", "k96").alias("custkey"),
        F.coalesce("spend_95", F.lit(0.0)).alias("spend_95"),
        F.coalesce("spend_96", F.lit(0.0)).alias("spend_96"),
        F.when(F.col("k95").isNull(), "new")
        .when(F.col("k96").isNull(), "churned")
        .otherwise("retained")
        .alias("cohort"),
    )


@query(
    "q65_unpivot_quantities",
    oracle="""
SELECT l_returnflag, 'qty_f' AS status_col, round(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2) AS qty
FROM lineitem GROUP BY l_returnflag
UNION ALL
SELECT l_returnflag, 'qty_o' AS status_col, round(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 2) AS qty
FROM lineitem GROUP BY l_returnflag
""",
)
def q65_unpivot_quantities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the wide pivot of q15 reshaped back to long form with
    the built-in unpivot operator — wide↔long is a single Expand, no joins."""
    li = load(spark, sf_dir, "lineitem")
    wide = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .select("l_returnflag", F.col("F").alias("qty_f"), F.col("O").alias("qty_o"))
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["qty_f", "qty_o"],
        variableColumnName="status_col",
        valueColumnName="qty",
    )


@query(
    "q67_percentile_ranks",
    oracle="""
WITH m AS (
  SELECT c_custkey, c_acctbal,
         row_number() OVER (ORDER BY c_acctbal, c_custkey) AS rnk,
         count(*) OVER () AS n
  FROM customer
  WHERE c_mktsegment = 'MACHINERY'
)
SELECT c_custkey,
       round(c_acctbal, 2) AS acctbal,
       (CASE WHEN n = 1 THEN 0
             ELSE ((rnk - 1) * 2000000 + (n - 1)) // ((n - 1) * 2) END
       ) / 1000000.0 AS pct_rank,
       ((rnk * 2000000 + n) // (n * 2)) / 1000000.0 AS cume,
       CAST(CASE WHEN rnk <= (n % 100) * ((n // 100) + 1)
                 THEN (rnk + (n // 100)) // ((n // 100) + 1)
                 ELSE (n % 100)
                      + (rnk - (n % 100) * ((n // 100) + 1) + (n // 100) - 1)
                        // (n // 100)
            END AS BIGINT) AS percentile_bucket
FROM m
""",
)
def q67_percentile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / ntile — the relative-standing trio
    (quality-score percentile filtering in a training pipeline is exactly
    this shape: keep docs above the p-th percentile).

    Scale: NO global window — the rank comes from the two-pass
    partition-offset scheme in :func:`..operators.ranking.global_row_number`
    (range-partition, broadcast cumulative offsets, rank locally), so the
    plan has no single-partition sort. percent_rank/cume_dist/ntile are
    then closed-form in (rank, n): the order key (c_acctbal, c_custkey)
    is unique, so rank()==row_number(), cume_dist = rank/n, and ANSI
    ntile(100) assigns the first n%100 buckets ceil(n/100) rows. All three
    are emitted via SCALED-INTEGER half-up arithmetic (the q96/q76
    pattern) so Spark and DuckDB agree bit-for-bit."""
    from .ranking import global_row_number

    c = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "MACHINERY")
    ranked = global_row_number(
        c.select("c_custkey", "c_acctbal"), ["c_acctbal", "c_custkey"], rank_name="rnk"
    )
    n1 = c.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    r = ranked.crossJoin(F.broadcast(n1))
    pct_rank = (
        F.expr(
            "CASE WHEN __n = 1 THEN 0 "
            "ELSE ((rnk - 1) * 2000000 + (__n - 1)) div ((__n - 1) * 2) END"
        )
        / 1000000.0
    )
    cume = F.expr("(rnk * 2000000 + __n) div (__n * 2)") / 1000000.0
    bucket = F.expr(
        "CAST(CASE WHEN rnk <= (__n % 100) * ((__n div 100) + 1) "
        "THEN (rnk + (__n div 100)) div ((__n div 100) + 1) "
        "ELSE (__n % 100) + (rnk - (__n % 100) * ((__n div 100) + 1) "
        "+ (__n div 100) - 1) div (__n div 100) END AS BIGINT)"
    )
    return r.select(
        "c_custkey",
        F.round("c_acctbal", 2).alias("acctbal"),
        pct_rank.alias("pct_rank"),
        cume.alias("cume"),
        bucket.alias("percentile_bucket"),
    )


@query(
    "q68_collect_status_sets",
    oracle="""
SELECT o_custkey,
       array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
       CAST(len(list(DISTINCT o_orderstatus)) AS BIGINT)             AS n_statuses,
       count(*)                                                      AS n_orders
FROM orders
GROUP BY o_custkey
""",
)
def q68_collect_status_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation (collect_set) — emitted as a SORTED joined string so
    the set is order-canonical in both engines."""
    o = load(spark, sf_dir, "orders")
    statuses = F.sort_array(F.collect_set("o_orderstatus"))
    return o.groupBy("o_custkey").agg(
        F.array_join(statuses, ",").alias("statuses"),
        F.size(statuses).cast("bigint").alias("n_statuses"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "q69_biggest_order_per_status",
    oracle="""
SELECT o_orderstatus,
       (max({'p': o_totalprice, 'k': o_orderkey})).k           AS top_orderkey,
       round((max({'p': o_totalprice, 'k': o_orderkey})).p, 2) AS top_price,
       round((min({'p': o_totalprice, 'k': o_orderkey})).p, 2) AS bottom_price
FROM orders
GROUP BY o_orderstatus
""",
)
def q69_biggest_order_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax via struct max — the deterministic form of max_by: the struct
    compares lexicographically (price, then key) so ties can't flip between
    engines; one hash aggregation, no window, no join."""
    o = load(spark, sf_dir, "orders")
    s = F.struct(F.col("o_totalprice"), F.col("o_orderkey"))
    return o.groupBy("o_orderstatus").agg(
        F.max(s).getField("o_orderkey").alias("top_orderkey"),
        F.round(F.max(s).getField("o_totalprice"), 2).alias("top_price"),
        F.round(F.min(s).getField("o_totalprice"), 2).alias("bottom_price"),
    )


@query(
    "q82_binational_volume",
    oracle="""
SELECT sn.n_name                                    AS supp_nation,
       cn.n_name                                    AS cust_nation,
       CAST(year(l.l_shipdate) AS INT)              AS ship_year,
       CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
       count(*)                                     AS n_lines
FROM lineitem l
JOIN orders o    ON l.l_orderkey = o.o_orderkey
JOIN customer c  ON o.o_custkey = c.c_custkey
JOIN nation cn   ON c.c_nationkey = cn.n_nationkey
JOIN supplier s  ON l.l_suppkey = s.s_suppkey
JOIN nation sn   ON s.s_nationkey = sn.n_nationkey
WHERE sn.n_name < cn.n_name
GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
HAVING count(*) >= 5
""",
)
def q82_binational_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between (supplier nation, customer
    nation) pairs by ship year. The fact table joins four broadcast dims
    (nation twice under different roles); the only fact-sized shuffle is the
    final group-by — the canonical star-join plan AQE should produce.
    Revenue accumulates in DECIMAL so the sum is exact (double addition is
    order-dependent across shuffle partitioning; the last cent flipped
    between engines), then casts to double on output."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    cn = n.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation"))
    sn = n.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation"))
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cnk"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("snk"))
        .where(F.col("supp_nation") < F.col("cust_nation"))
    )
    return (
        j.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("ship_year")
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .where(F.col("n_lines") >= 5)
    )


@query(
    "q83_important_parts",
    oracle="""
SELECT l_partkey,
       round(sum(l_extendedprice * l_quantity), 2) AS part_value
FROM lineitem
GROUP BY l_partkey
HAVING sum(l_extendedprice * l_quantity) >
       (SELECT 1.5 * sum(l_extendedprice * l_quantity) / count(DISTINCT l_partkey)
        FROM lineitem)
""",
)
def q83_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose inventory value exceeds 1.5× the mean
    per-part value — an uncorrelated scalar subquery (scale-factor-robust,
    unlike an absolute share threshold). Expressed in Spark SQL so
    Catalyst plans the total as a one-row SubqueryExec broadcast into the
    HAVING filter (no nested-loop join, no driver collect)."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("__li83")
    return spark.sql(
        """
        SELECT l_partkey,
               round(sum(l_extendedprice * l_quantity), 2) AS part_value
        FROM __li83
        GROUP BY l_partkey
        HAVING sum(l_extendedprice * l_quantity) >
               (SELECT 1.5 * sum(l_extendedprice * l_quantity) / count(DISTINCT l_partkey)
                FROM __li83)
        """
    )


@query(
    "q84_large_orders",
    oracle="""
SELECT c.c_name, o.o_orderkey, o.o_totalprice,
       round(q.total_qty, 2) AS total_qty
FROM (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 100
) q
JOIN orders o   ON q.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
""",
)
def q84_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity crosses a threshold,
    re-joined to their customer. The HAVING pre-aggregation shrinks the fact
    table BEFORE any join touches it — filter-early is the whole point of
    this plan at scale."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    q = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("tq"))
        .where(F.col("tq") > 100)
    )
    return (
        q.join(o, q.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "o_totalprice",
            F.round("tq", 2).alias("total_qty"),
        )
    )


@query(
    "q85_rich_inactive_customers",
    oracle="""
SELECT substr(c_name, 1, 9)        AS name_prefix,
       count(*)                    AS n_custs,
       round(sum(c_acctbal), 2)    AS total_bal
FROM customer c
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
GROUP BY substr(c_name, 1, 9)
""",
)
def q85_rich_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no
    high-value orders —
    scalar average subquery + anti join, grouped by a name prefix. The anti
    join probes orders with only its join key (column pruning); the average
    is a SubqueryExec scalar, not a driver round-trip."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("__c85")
    load(spark, sf_dir, "orders").createOrReplaceTempView("__o85")
    return spark.sql(
        """
        SELECT substr(c_name, 1, 9)        AS name_prefix,
               count(*)                    AS n_custs,
               round(sum(c_acctbal), 2)    AS total_bal
        FROM __c85 c
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM __c85 WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM __o85 o
                          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        GROUP BY substr(c_name, 1, 9)
        """
    )


@query(
    "q86_batch_sessions",
    oracle="""
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sess AS (
  SELECT user_id, ts, value,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id, session_id,
       count(*)                                         AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S')           AS session_start,
       CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS duration_sec,
       round(sum(value), 2)                             AS session_value
FROM sess
GROUP BY user_id, session_id
""",
)
def q86_batch_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization via lag + cumulative sum (gap > 30 min starts a
    new session) — the window-function twin of the streaming session_window
    (q41). One shuffle keyed by user_id; both windows reuse the same sort —
    Catalyst plans a single Window operator chain, no second exchange."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # epoch_seconds, not cast("long"): ts is TIMESTAMP_NTZ, which Spark 4
    # refuses to cast to a numeric.
    gap = epoch_seconds("ts") - F.lag(epoch_seconds("ts")).over(w)
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0).alias("is_new"),
    )
    sess = marked.select(
        "user_id",
        "ts",
        "value",
        F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("session_id"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        (F.max(epoch_seconds("ts")) - F.min(epoch_seconds("ts")))
        .cast("bigint")
        .alias("duration_sec"),
        F.round(F.sum("value"), 2).alias("session_value"),
    )


@query(
    "q87_cohort_retention",
    oracle="""
WITH firsts AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id, f.cohort_day,
         date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
  FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(day_offset AS INT)          AS day_offset,
       count(*)                         AS n_users
FROM activity
GROUP BY cohort_day, day_offset
""",
)
def q87_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen day, counted on
    each subsequent active day offset. Two shuffles total (first-seen agg,
    final rollup); the firsts table is user-cardinality — broadcast when it
    fits, else it co-partitions with events on user_id."""
    e = load(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("cohort_day"))
    activity = (
        e.join(F.broadcast(firsts), "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("ts").cast("date"), F.col("cohort_day")).alias("day_offset"),
        )
        .distinct()
    )
    return activity.groupBy(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        F.col("day_offset").cast("int").alias("day_offset"),
    ).agg(F.count(F.lit(1)).alias("n_users"))


@query(
    "q88_map_roundtrip",
    oracle="""
WITH daily AS (
  SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         count(*) AS n
  FROM events GROUP BY event_type, CAST(ts AS DATE)
)
SELECT event_type,
       count(*)        AS n_days,
       min(day)        AS first_day,
       max(n)          AS peak_day_events,
       sum(n)          AS total_events
FROM daily
GROUP BY event_type
""",
)
def q88_map_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType round-trip: per event type, build a day→count map
    (map_from_entries over collected structs), then interrogate it with map
    functions (map_keys / map_values / cardinality) and explode back to
    verify nothing was lost. The oracle computes the same scalars directly —
    equality proves the map construction/inspection is faithful.
    Scale: the map is per-GROUP (bounded by days-per-type), never
    corpus-wide; collect_list feeds map_from_entries inside one agg."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    mapped = daily.groupBy("event_type").agg(
        F.map_from_entries(F.collect_list(F.struct("day", "n"))).alias("m")
    )
    return mapped.select(
        "event_type",
        F.cardinality("m").cast("bigint").alias("n_days"),
        F.array_min(F.map_keys("m")).alias("first_day"),
        F.array_max(F.map_values("m")).alias("peak_day_events"),
        F.expr("aggregate(map_values(m), cast(0 as bigint), (acc, v) -> acc + v)").alias(
            "total_events"
        ),
    )


@query(
    "q89_token_lambda_stats",
    oracle="""
SELECT doc_id,
       len(list_filter(string_split(text, ' '), t -> length(t) > 5))      AS n_long,
       list_aggregate(list_transform(string_split(text, ' '),
                                     t -> length(t)), 'sum')              AS total_chars,
       CASE WHEN len(list_filter(string_split(text, ' '),
                                 t -> t IN ('the','a','of','and','to','in'))) > 0
            THEN 1 ELSE 0 END                                             AS has_stopword,
       CASE WHEN len(list_filter(string_split(text, ' '),
                                 t -> length(t) >= 2)) = len(string_split(text, ' '))
            THEN 1 ELSE 0 END                                             AS all_ge2
FROM documents
WHERE doc_id < 200
""",
)
def q89_token_lambda_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order lambda coverage in one query: filter (n_long), transform
    + aggregate (total_chars), exists (has_stopword), forall (all_ge2) —
    all array-local, zero shuffles beyond the scan, full codegen."""
    d = load(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    toks = "split(text, ' ')"
    return d.select(
        "doc_id",
        F.expr(f"size(filter({toks}, t -> length(t) > 5))").cast("bigint").alias("n_long"),
        F.expr(f"aggregate(transform({toks}, t -> length(t)), 0, (acc, x) -> acc + x)")
        .cast("bigint")
        .alias("total_chars"),
        F.expr(
            f"case when exists({toks}, t -> t IN ('the','a','of','and','to','in')) "
            "then 1 else 0 end"
        )
        .cast("int")
        .alias("has_stopword"),
        F.expr(f"case when forall({toks}, t -> length(t) >= 2) then 1 else 0 end")
        .cast("int")
        .alias("all_ge2"),
    )


@query(
    "q90_scd2_segments",
    oracle="""
WITH updates AS (
  SELECT c_custkey, 'PREMIUM' AS new_segment
  FROM customer WHERE c_acctbal > 9000
)
SELECT c.c_custkey,
       c.c_mktsegment            AS segment,
       1                         AS version,
       CASE WHEN u.c_custkey IS NOT NULL THEN 0 ELSE 1 END AS is_current
FROM customer c LEFT JOIN updates u USING (c_custkey)
UNION ALL
SELECT c_custkey, new_segment, 2, 1 FROM updates
""",
)
def q90_scd2_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: apply a deterministic update set
    (high-balance customers move to PREMIUM) by closing the old version
    (is_current=0) and appending version 2 — the union-based SCD2 pattern
    that a MERGE with WHEN MATCHED/NOT MATCHED executes on a real lakehouse
    table (``DeltaTable.merge`` is the atomic write-path twin)."""
    c = load(spark, sf_dir, "customer")
    updates = c.where(F.col("c_acctbal") > 9000).select(
        "c_custkey", F.lit("PREMIUM").alias("new_segment")
    )
    closed = (
        c.join(updates.select("c_custkey", F.lit(1).alias("u")), "c_custkey", "left")
        .select(
            "c_custkey",
            F.col("c_mktsegment").alias("segment"),
            F.lit(1).cast("int").alias("version"),
            F.when(F.col("u").isNotNull(), 0).otherwise(1).cast("int").alias("is_current"),
        )
    )
    fresh = updates.select(
        "c_custkey",
        F.col("new_segment").alias("segment"),
        F.lit(2).cast("int").alias("version"),
        F.lit(1).cast("int").alias("is_current"),
    )
    return closed.unionByName(fresh)


@query(
    "q98_weighted_mean_udaf",
    oracle="""
SELECT event_type,
       round(sum(value * CAST(json_extract_string(props, '$.k') AS BIGINT))
             / sum(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS wmean
FROM events
WHERE json_extract_string(props, '$.k') IS NOT NULL
GROUP BY event_type
""",
)
def q98_weighted_mean_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF surface: per-type weighted mean of `value` (weight = the
    JSON `props.k` field) computed by a GROUPED_AGG @pandas_udf — a real
    user-defined aggregate running through Arrow, verified against the
    algebraic sum(w·x)/sum(w) oracle. At 100 TB prefer that algebraic form
    (builtin partial aggregation); the UDAF exists for aggregation logic
    builtins can't express (see functions/vectors.weighted_mean_udaf)."""
    from ..functions.vectors import weighted_mean_udaf

    e = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    src = e.where(k.isNotNull()).select("event_type", "value", k.alias("w"))
    wmean = weighted_mean_udaf()
    return src.groupBy("event_type").agg(
        F.round(wmean(F.col("value"), F.col("w")), 4).alias("wmean")
    )


@query(
    "q100_point_in_time_join",
    oracle="""
WITH dim AS (
  SELECT c_custkey, c_mktsegment AS segment,
         TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
         CASE WHEN c_acctbal > 9000 THEN TIMESTAMP '2024-01-15 00:00:00' END AS valid_to
  FROM customer
  UNION ALL
  SELECT c_custkey, 'PREMIUM', TIMESTAMP '2024-01-15 00:00:00', NULL
  FROM customer WHERE c_acctbal > 9000
)
SELECT d.segment,
       CAST(count(*) AS BIGINT)               AS n_events,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM events e
JOIN dim d
  ON d.c_custkey = e.user_id
 AND e.ts >= d.valid_from
 AND (d.valid_to IS NULL OR e.ts < d.valid_to)
GROUP BY d.segment
""",
)
def q100_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME (temporal) join: each event joins the SCD2 dimension
    VERSION that was valid at the event's timestamp — the correctness-critical
    lookup for training-data assembly (joining today's dimension onto
    historical facts leaks the future). The dimension is q90's segment
    history given [valid_from, valid_to) intervals.

    Scale: an EQUI join on the dimension key with the interval check as a
    residual predicate — never a range-only join; the dimension (few versions
    per key) broadcasts."""
    c = load(spark, sf_dir, "customer")
    v1_end = F.lit("2024-01-15 00:00:00").cast("timestamp")
    dim = (
        c.select(
            "c_custkey",
            F.col("c_mktsegment").alias("segment"),
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("valid_from"),
            F.when(F.col("c_acctbal") > 9000, v1_end).alias("valid_to"),
        )
        .unionByName(
            c.where(F.col("c_acctbal") > 9000).select(
                "c_custkey",
                F.lit("PREMIUM").alias("segment"),
                v1_end.alias("valid_from"),
                F.lit(None).cast("timestamp").alias("valid_to"),
            )
        )
    )
    e = load(spark, sf_dir, "events")
    j = e.join(
        F.broadcast(dim),
        (F.col("c_custkey") == F.col("user_id"))
        & (F.col("ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
    )
    return j.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


@query(
    "q102_late_orders_by_priority",
    oracle="""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority
""",
)
def q102_late_orders_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with ≥1 item shipped >30 days after the order
    date, counted per priority. The correlated EXISTS compiles to a LEFT SEMI
    join on the order key with the date comparison as a residual — one keyed
    shuffle, no subquery re-execution."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )


@query(
    "q103_priority_mix_by_status",
    oracle="""
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate
GROUP BY l_linestatus
""",
)
def q103_priority_mix_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per line status, how many joined lines belong to
    high- vs low-priority orders (two conditional sums in ONE aggregation
    pass over the join — not two filtered scans)."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    j = o.join(li, (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy("l_linestatus").agg(
        F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
        F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
    )


@query(
    "q104_last_shipper_per_order",
    oracle="""
SELECT l1.l_suppkey, CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS n_blocking
FROM lineitem l1
WHERE EXISTS (
  SELECT 1 FROM lineitem l2
  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
AND NOT EXISTS (
  SELECT 1 FROM lineitem l3
  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_shipdate > l1.l_shipdate)
GROUP BY l1.l_suppkey
""",
)
def q104_last_shipper_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the supplier holding the LAST ship date of each
    multi-supplier order ('who blocked the order'), via EXISTS (another
    supplier participated) + NOT EXISTS (no later-shipped line) — a
    left-semi and a left-anti join on the same key, the hardest correlated
    pattern in the TPC-H suite, both with residual non-equi predicates."""
    li = load(spark, sf_dir, "lineitem")
    l1, l2, l3 = li.alias("l1"), li.alias("l2"), li.alias("l3")
    multi = l1.join(
        l2,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    )
    last = multi.alias("l1").join(
        l3,
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l3.l_shipdate") > F.col("l1.l_shipdate")),
        "left_anti",
    )
    return last.groupBy(F.col("l_suppkey")).agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_blocking")
    )


N_HIST_BUCKETS = 20


@query(
    "q105_price_histogram",
    oracle=f"""
WITH b AS (
  SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem
)
SELECT LEAST(CAST(floor((l_extendedprice - lo) / ((hi - lo) / {N_HIST_BUCKETS}.0) ) AS BIGINT),
             {N_HIST_BUCKETS - 1}) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       round(min(l_extendedprice), 2) AS lo_price,
       round(max(l_extendedprice), 2) AS hi_price
FROM lineitem, b
GROUP BY 1
""",
)
def q105_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of extended price: global min/max (one scalar
    row, broadcast) → bucket index by integer floor → one hash aggregation.
    The profiling primitive behind range-partition boundary picking and skew
    detection; at 100 TB the min/max come from footer stats for free."""
    li = load(spark, sf_dir, "lineitem")
    b = li.agg(
        F.min("l_extendedprice").alias("lo"), F.max("l_extendedprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / float(N_HIST_BUCKETS)
    bucket = F.least(
        F.floor((F.col("l_extendedprice") - F.col("lo")) / width).cast("bigint"),
        F.lit(N_HIST_BUCKETS - 1).cast("bigint"),
    )
    return (
        li.crossJoin(F.broadcast(b))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.min("l_extendedprice"), 2).alias("lo_price"),
            F.round(F.max("l_extendedprice"), 2).alias("hi_price"),
        )
    )


@query(
    "q106_order_gap_analysis",
    oracle="""
WITH seq AS (
  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
         lead(o_orderdate) OVER w                    AS next_date,
         first_value(o_totalprice) OVER w            AS first_price,
         nth_value(o_totalprice, 2) OVER w           AS second_price,
         row_number() OVER w                         AS rn
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT o_custkey,
       CAST(date_diff('day', o_orderdate, next_date) AS BIGINT) AS days_to_next,
       round(first_price, 2)  AS first_price,
       round(second_price, 2) AS second_price
FROM seq
WHERE rn = 1 AND next_date IS NOT NULL
""",
)
def q106_order_gap_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function completeness: lead (gap to the next order),
    first_value / nth_value over an unbounded frame, computed in ONE window
    pass per customer and filtered to each customer's first order. (lag /
    running sums live in q07; rank family in q16/q67.)"""
    o = load(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    wo = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        "o_orderdate",
        F.lead("o_orderdate").over(wo).alias("next_date"),
        F.first("o_totalprice").over(w).alias("first_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
        F.row_number().over(wo).alias("rn"),
    )
    return seq.where((F.col("rn") == 1) & F.col("next_date").isNotNull()).select(
        "o_custkey",
        F.datediff("next_date", "o_orderdate").cast("bigint").alias("days_to_next"),
        F.round("first_price", 2).alias("first_price"),
        F.round("second_price", 2).alias("second_price"),
    )


@query(
    "q108_event_funnel",
    oracle="""
WITH steps AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END)     AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END)    AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events
  GROUP BY user_id
),
flags AS (
  SELECT user_id,
         CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END AS s1,
         CASE WHEN t_view IS NOT NULL AND t_click > t_view THEN 1 ELSE 0 END AS s2,
         CASE WHEN t_view IS NOT NULL AND t_click > t_view
                   AND t_purchase > t_click THEN 1 ELSE 0 END AS s3
  FROM steps
)
SELECT CAST(sum(s1) AS BIGINT) AS n_view,
       CAST(sum(s2) AS BIGINT) AS n_view_click,
       CAST(sum(s3) AS BIGINT) AS n_view_click_purchase,
       round(CAST(sum(s3) AS DOUBLE) / sum(s1), 4) AS conversion
FROM flags
""",
)
def q108_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED funnel (view → click → purchase): a user advances a step only
    if the next event type FIRST occurs after the previous step's first
    occurrence. One conditional-min aggregation per user (single shuffle),
    then a scalar rollup — no joins, no explosion; the standard product-
    analytics funnel in two hash aggregations."""
    e = load(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    steps = e.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    s1 = F.when(F.col("t_view").isNotNull(), 1).otherwise(0)
    s2 = F.when(F.col("t_view").isNotNull() & (F.col("t_click") > F.col("t_view")), 1).otherwise(0)
    s3 = F.when(
        F.col("t_view").isNotNull()
        & (F.col("t_click") > F.col("t_view"))
        & (F.col("t_purchase") > F.col("t_click")),
        1,
    ).otherwise(0)
    flags = steps.select(s1.alias("s1"), s2.alias("s2"), s3.alias("s3"))
    return flags.agg(
        F.sum("s1").cast("bigint").alias("n_view"),
        F.sum("s2").cast("bigint").alias("n_view_click"),
        F.sum("s3").cast("bigint").alias("n_view_click_purchase"),
        F.round(F.sum("s3").cast("double") / F.sum("s1"), 4).alias("conversion"),
    )


@query(
    "q110_robust_price_stats",
    oracle="""
WITH c AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
),
med AS (
  SELECT l_returnflag,
         CAST(quantile_cont(cents, 0.5) * 2 AS BIGINT) AS med2
  FROM c GROUP BY l_returnflag
),
dev AS (
  SELECT l.l_returnflag, m.med2,
         CAST(quantile_cont(abs(2 * l.cents - m.med2), 0.5) * 2 AS BIGINT) AS mad4
  FROM c l JOIN med m ON l.l_returnflag = m.l_returnflag
  GROUP BY l.l_returnflag, m.med2
)
SELECT d.l_returnflag,
       ((d.med2 + 1) // 2) / 100.0 AS med_price,
       ((d.mad4 + 2) // 4) / 100.0 AS mad,
       CAST(sum(CASE WHEN 20000 * abs(2 * l.cents - d.med2) > 44478 * d.mad4
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM c l JOIN dev d ON l.l_returnflag = d.l_returnflag
GROUP BY d.l_returnflag, d.med2, d.mad4
""",
)
def q110_robust_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier statistics per return flag: exact median, MAD (median
    absolute deviation), and the count beyond 3 robust sigmas (1.4826·MAD) —
    the outlier screen that, unlike q45's z-scores, a few extreme values
    cannot drag. Three passes by necessity (median and MAD are holistic);
    the tiny per-group stats broadcast back onto the fact table each time.

    Numeric determinism: prices are 2-decimal, so everything runs in EXACT
    integer units — cents, then half-cents for the median (even-N medians
    are midpoints, i.e. ±0.5 cent: med2 = 2·median is always integral),
    then quarter-cents for the MAD (mad4 = 4·MAD). Display rounding is
    half-up integer division and the 3·1.4826 threshold is the integer
    comparison 20000·dev > 44478·mad4 — no float round() anywhere, because
    interpolated medians land on exact .5 boundaries where Spark and DuckDB
    round() disagree (caught at sf0.001 by the strict repr gate)."""
    li = load(spark, sf_dir, "lineitem")
    c = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    med = c.groupBy("l_returnflag").agg(
        F.expr("CAST(percentile(cents, 0.5) * 2 AS BIGINT)").alias("med2")
    )
    dev = (
        c.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag", "med2")
        .agg(
            F.expr(
                "CAST(percentile(abs(2 * cents - med2), 0.5) * 2 AS BIGINT)"
            ).alias("mad4")
        )
    )
    is_out = F.expr("20000 * abs(2 * cents - med2) > 44478 * mad4")
    return (
        c.join(F.broadcast(dev), "l_returnflag")
        .groupBy("l_returnflag", "med2", "mad4")
        .agg(F.sum(F.when(is_out, 1).otherwise(0)).cast("bigint").alias("n_outliers"))
        .select(
            "l_returnflag",
            (F.expr("(med2 + 1) div 2") / 100.0).alias("med_price"),
            (F.expr("(mad4 + 2) div 4") / 100.0).alias("mad"),
            "n_outliers",
        )
    )


@query(
    "q111_event_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
)
SELECT event_type AS from_type, next_type AS to_type,
       CAST(count(*) AS BIGINT) AS n
FROM seq
WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
""",
)
def q111_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavior model: counts of consecutive event-type
    transitions per user (the Markov transition matrix driving
    next-action prediction features). One window pass to pair each event
    with its successor, one aggregation over the 5×5 type space."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    )
    return (
        seq.where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@query(
    "q112_supplier_diversity",
    oracle="""
SELECT p_brand, p_type, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_size IN (1, 5, 9, 13)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type
""",
)
def q112_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct suppliers per (brand, type) for selected
    part sizes, EXCLUDING a blacklist subquery (NOT IN → left-anti join; the
    lineitem bridge stands in for partsupp). The part dim broadcasts; the
    anti-join side is a handful of keys."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").where(F.col("p_size").isin(1, 5, 9, 13))
    bad = (
        load(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(bad), "l_suppkey", "left_anti")
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("n_supp"))
    )


@query(
    "q113_top_volume_suppliers",
    oracle="""
WITH shipped AS (
  SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey, l_partkey
),
threshold AS (
  SELECT l_partkey, 0.5 * sum(qty) AS half_qty FROM shipped GROUP BY l_partkey
)
SELECT s.s_suppkey, s.s_name, CAST(count(*) AS BIGINT) AS n_dominant_parts
FROM shipped sh
JOIN threshold t ON sh.l_partkey = t.l_partkey
JOIN supplier s ON s.s_suppkey = sh.l_suppkey
WHERE sh.qty > t.half_qty
GROUP BY s.s_suppkey, s.s_name
""",
)
def q113_top_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped MORE THAN HALF of a part's
    1996 volume ('dominant supplier' per part) — aggregate, re-aggregate to
    a per-part threshold, then a same-key join back: the 'compare each group
    member to a group-level statistic' pattern (here via self-join; q45 does
    the window flavor)."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    shipped = li.groupBy("l_suppkey", "l_partkey").agg(F.sum("l_quantity").alias("qty"))
    threshold = shipped.groupBy("l_partkey").agg(
        (0.5 * F.sum("qty")).alias("half_qty")
    )
    s = load(spark, sf_dir, "supplier")
    return (
        shipped.join(threshold, "l_partkey")
        .where(F.col("qty") > F.col("half_qty"))
        .join(F.broadcast(s), shipped.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dominant_parts"))
    )
