"""Relational queries: filters, joins, aggregates, top-k (SURVEY.md
§2.4 J1-J3, §2.5 A-family, §2.6 T-family) on the star-schema tables.

Plans to expect (verified via .explain): parquet scans with
PushedFilters + pruned ReadSchema, broadcast hash joins for the dim
tables, partial hash aggregation before every shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import rounding
from ..operators import joins
from ..tables import load_table
from .registry import register


@register(
    "q1_pricing_summary",
    bench=True,
    doc="A1/A2-shaped scan+aggregate (TPC-H Q1 pattern): partial hash agg, "
    "filter pushed to parquet.",
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                   AS sum_qty,
       round(sum(l_extendedprice), 2)                              AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
       round(avg(l_quantity), 4)                                   AS avg_qty,
       round(avg(l_discount), 4)                                   AS avg_disc,
       count(*)                                                    AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '2001-09-01'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.filter(F.to_date("l_shipdate") <= F.lit("2001-09-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    bench=True,
    doc="3-way join + agg + top-k (TPC-H Q3 pattern); customer side "
    "broadcast, deterministic tie-break on orderkey.",
    oracle="""
SELECT o.o_orderkey,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       CAST(o.o_orderdate AS DATE)::VARCHAR                  AS orderdate
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND CAST(o.o_orderdate AS DATE) < DATE '2000-03-15'
  AND CAST(l.l_shipdate AS DATE)  > DATE '2000-03-15'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue DESC, o.o_orderkey ASC
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir).filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, "orders", sf_dir).filter(
        F.to_date("o_orderdate") < F.lit("2000-03-15").cast("date")
    )
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.to_date("l_shipdate") > F.lit("2000-03-15").cast("date")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select(
            "o_orderkey",
            "revenue",
            # ISO string, not DATE: keeps both engines' pandas dtypes
            # identical for the driver's value hash.
            F.date_format(F.to_date("o_orderdate"), "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@register(
    "q5_region_revenue",
    bench=True,
    doc="6-way join (TPC-H Q5 pattern): dims broadcast, one shuffle per "
    "fact co-group; revenue per nation within a region.",
    oracle="""
SELECT n.n_name AS nation,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
GROUP BY n.n_name
""",
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(
        F.to_date("o_orderdate") >= F.lit("1996-01-01").cast("date")
    )
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@register(
    "enrichment_join_5way",
    bench=True,
    doc="J1: base LEFT JOIN slim enrichment sides on one key with "
    "coalesce defaults (bulid_final_dataset.py:145-333 shape).",
    oracle="""
WITH ord AS (
  SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_spent
  FROM orders GROUP BY o_custkey
), ev AS (
  SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
)
SELECT c.c_custkey,
       coalesce(n.n_name, '')  AS nation,
       coalesce(r.r_name, '')  AS region,
       coalesce(o.n_orders, 0) AS n_orders,
       coalesce(o.total_spent, 0.0) AS total_spent,
       coalesce(e.n_events, 0) AS n_events
FROM customer c
LEFT JOIN ord o ON c.c_custkey = o.o_custkey
LEFT JOIN ev  e ON c.c_custkey = e.user_id
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
""",
)
def enrichment_join_5way(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = (
        load_table(spark, "orders", sf_dir)
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
        )
    )
    e = (
        load_table(spark, "events", sf_dir)
        .groupBy(F.col("user_id").alias("c_custkey"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    base = joins.enrichment_join(
        c,
        {
            "orders": (o, {"n_orders": F.lit(0), "total_spent": F.lit(0.0)}),
            "events": (e, {"n_events": F.lit(0)}),
        },
        key="c_custkey",
    )
    out = (
        base.join(F.broadcast(n), base.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey, "left")
        .select(
            "c_custkey",
            F.coalesce("n_name", F.lit("")).alias("nation"),
            F.coalesce("r_name", F.lit("")).alias("region"),
            "n_orders",
            "total_spent",
            "n_events",
        )
    )
    return out


@register(
    "checkpoint_anti_join",
    doc="J3/S9: resume = left-anti join of base against processed keys "
    "(enhance_fields_of_study.py:347-356).",
    oracle="""
SELECT o.o_orderkey
FROM orders o
ANTI JOIN (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_quantity >= 45) done
  ON o.o_orderkey = done.l_orderkey
""",
)
def checkpoint_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    done = (
        load_table(spark, "lineitem", sf_dir)
        .filter(F.col("l_quantity") >= 45)
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return joins.checkpoint_anti_join(o, done, "o_orderkey").select("o_orderkey")


@register(
    "semi_join_open_orders",
    doc="left-semi join: orders having at least one late-shipped line.",
    oracle="""
SELECT o.o_orderkey, o.o_totalprice
FROM orders o
SEMI JOIN (SELECT l_orderkey FROM lineitem WHERE CAST(l_shipdate AS DATE) > DATE '2001-06-01') l
  ON o.o_orderkey = l.l_orderkey
""",
)
def semi_join_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    late = (
        load_table(spark, "lineitem", sf_dir)
        .filter(F.to_date("l_shipdate") > F.lit("2001-06-01").cast("date"))
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return joins.semi_join(o, late, "o_orderkey").select("o_orderkey", "o_totalprice")


@register(
    "global_topk_customers",
    doc="T1: global sort + limit with total tie-break.",
    oracle="""
SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
FROM customer
ORDER BY c_acctbal DESC, c_custkey ASC
LIMIT 10
""",
)
def global_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    return (
        c.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
        .limit(10)
        .select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"))
    )


@register(
    "topk_per_group",
    doc="T2: top-3 orders by totalprice per priority (window rank, "
    "tie-break orderkey).",
    oracle="""
SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS totalprice, rank
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
)
WHERE rank <= 3
""",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


@register(
    "having_filter",
    doc="Group-filter pattern (TPC-H Q18 shape): customers whose total "
    "order value exceeds a threshold — HAVING over a hash aggregate.",
    oracle="""
SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_spent
FROM orders
GROUP BY o_custkey
HAVING sum(o_totalprice) > 1500000
""",
)
def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
            F.sum("o_totalprice").alias("_raw"),
        )
        .filter(F.col("_raw") > 1500000)
        .drop("_raw")
    )


@register(
    "rollup_totals",
    doc="ROLLUP hierarchy aggregate: per (lang, source), per lang, and "
    "grand total in one pass (partial-agg friendly; NULL markers for "
    "the rollup levels match across engines).",
    oracle="""
SELECT lang, source, count(*) AS n, round(avg(n_chars), 4) AS avg_chars
FROM documents
GROUP BY ROLLUP (lang, source)
""",
)
def rollup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.rollup("lang", "source").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.avg("n_chars"), 4).alias("avg_chars")
    )


@register(
    "scd2_user_value_history",
    doc="SCD2 history build: each user's purchase-value changes become "
    "validity intervals via lead() — valid_to = next change's ts, open "
    "intervals NULL. One keyed window, no self-join.",
    oracle="""
WITH p AS (
  SELECT user_id, epoch_us(ts) AS tus, value, event_id
  FROM events WHERE event_type = 'purchase'
),
h AS (
  SELECT user_id, value, tus AS valid_from,
         lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS valid_to
  FROM p
)
SELECT user_id, value, valid_from, valid_to FROM h
""",
)
def scd2_user_value_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    # events.ts is epoch NANOS in Spark but DuckDB timestamps carry
    # microseconds — validity bounds cross the oracle boundary as epoch
    # micros (ts div 1000)
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.expr("ts div 1000").alias("valid_from"), "value", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return p.select(
        "user_id",
        "value",
        "valid_from",
        F.lead("valid_from").over(w).alias("valid_to"),
    )


@register(
    "incremental_upsert",
    doc="Keyed incremental merge (SCD1 upsert): updates win over base "
    "via full-outer join + coalesce — the batch MERGE INTO shape for "
    "snapshot maintenance.",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderkey % 3 <> 0
),
updates AS (
  SELECT o_orderkey, (floor(o_totalprice * 1.1::DOUBLE * 100.0 + 0.5) / 100.0) AS o_totalprice,
         'U' AS o_orderstatus
  FROM orders WHERE o_orderkey % 2 = 0
)
SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
       coalesce(u.o_totalprice, b.o_totalprice) AS o_totalprice,
       coalesce(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
       (CASE WHEN u.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL THEN 'updated'
             WHEN u.o_orderkey IS NOT NULL THEN 'inserted'
             ELSE 'unchanged' END) AS merge_action
FROM base b FULL OUTER JOIN updates u ON b.o_orderkey = u.o_orderkey
""",
)
def incremental_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    base = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    updates = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        rounding.stable_round(F.col("o_totalprice") * 1.1, 2).alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
    )
    b = base.alias("b")
    u = updates.alias("u")
    joined = b.join(u, F.col("b.o_orderkey") == F.col("u.o_orderkey"), "full_outer")
    return joined.select(
        F.coalesce(F.col("u.o_orderkey"), F.col("b.o_orderkey")).alias("o_orderkey"),
        F.coalesce(F.col("u.o_totalprice"), F.col("b.o_totalprice")).alias(
            "o_totalprice"
        ),
        F.coalesce(F.col("u.o_orderstatus"), F.col("b.o_orderstatus")).alias(
            "o_orderstatus"
        ),
        F.when(
            F.col("u.o_orderkey").isNotNull() & F.col("b.o_orderkey").isNotNull(),
            F.lit("updated"),
        )
        .when(F.col("u.o_orderkey").isNotNull(), F.lit("inserted"))
        .otherwise(F.lit("unchanged"))
        .alias("merge_action"),
    )


@register(
    "dq_constraint_report",
    doc="Deequ-style declarative data-quality constraints evaluated in "
    "ONE aggregate pass: completeness, uniqueness, range, and "
    "set-membership each become a metric column, then unpivoted to a "
    "(constraint, metric, passed) report.",
    oracle="""
WITH m AS (
  SELECT round(avg(CASE WHEN o_custkey IS NOT NULL THEN 1.0 ELSE 0.0 END), 6) AS completeness_custkey,
         round(count(DISTINCT o_orderkey)::DOUBLE / count(*), 6) AS uniqueness_orderkey,
         round(avg(CASE WHEN o_totalprice > 0 THEN 1.0 ELSE 0.0 END), 6) AS range_totalprice,
         round(avg(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1.0 ELSE 0.0 END), 6) AS membership_status
  FROM orders
)
SELECT 'completeness_custkey' AS constraint, completeness_custkey AS metric,
       (completeness_custkey >= 1.0) AS passed FROM m
UNION ALL
SELECT 'uniqueness_orderkey', uniqueness_orderkey, uniqueness_orderkey >= 1.0 FROM m
UNION ALL
SELECT 'range_totalprice', range_totalprice, range_totalprice >= 1.0 FROM m
UNION ALL
SELECT 'membership_status', membership_status, membership_status >= 1.0 FROM m
""",
)
def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    m = orders.agg(
        F.round(
            F.avg(F.when(F.col("o_custkey").isNotNull(), 1.0).otherwise(0.0)), 6
        ).alias("completeness_custkey"),
        F.round(
            F.countDistinct("o_orderkey").cast("double") / F.count(F.lit(1)), 6
        ).alias("uniqueness_orderkey"),
        F.round(F.avg(F.when(F.col("o_totalprice") > 0, 1.0).otherwise(0.0)), 6).alias(
            "range_totalprice"
        ),
        F.round(
            F.avg(
                F.when(F.col("o_orderstatus").isin("O", "F", "P"), 1.0).otherwise(0.0)
            ),
            6,
        ).alias("membership_status"),
    )
    metrics = ["completeness_custkey", "uniqueness_orderkey", "range_totalprice",
               "membership_status"]
    # stack() unpivots the single 1-row aggregate — one scan, one job
    # (a union of per-metric selects would re-run the aggregate per
    # branch on this un-persisted frame)
    pairs = ", ".join(f"'{name}', {name}" for name in metrics)
    return m.select(
        F.expr(f"stack({len(metrics)}, {pairs}) AS (constraint, metric)")
    ).withColumn("passed", F.col("metric") >= 1.0)


@register(
    "q10_returned_items",
    doc="Returned-item reporting (TPC-H Q10 pattern): customers whose "
    "returned lineitems cost the most — 4-way join with the dims "
    "broadcast, one fact shuffle, top-20 with a total tie-break.",
    oracle="""
SELECT c.c_custkey, c.c_name, n.n_name AS nation,
       (floor((sum(floor(l.l_extendedprice * 100 + 0.5)::BIGINT
                 * floor((1 - l.l_discount) * 100 + 0.5)::BIGINT) / 10000.0) * 100.0 + 0.5) / 100.0)
         AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c.c_custkey ASC
LIMIT 20
""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_returnflag") == "R")
    n = load_table(spark, "nation", sf_dir)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            # exact integer cents x discount-percent sum + one stable
            # final rounding — small per-customer groups land on
            # half-cent boundaries often enough that a float sum plus
            # engines' differing round(double) flips totals AND the
            # top-20 cut (the q7 lesson)
            rounding.stable_round(
                F.sum(
                    F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
                    * F.floor((1 - F.col("l_discount")) * 100 + 0.5).cast("long")
                )
                / 10000.0,
                2,
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register(
    "q7_nation_volume",
    doc="Cross-nation trade volume (TPC-H Q7 pattern): supplier nation "
    "x customer nation x ship-year revenue over a 6-way join with TWO "
    "broadcast nation aliases; same-nation trade excluded.",
    oracle="""
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       year(CAST(l.l_shipdate AS DATE)) AS l_year,
       (floor((sum(floor(l.l_extendedprice * 100 + 0.5)::BIGINT
                 * floor((1 - l.l_discount) * 100 + 0.5)::BIGINT) / 10000.0) * 100.0 + 0.5) / 100.0)
         AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
WHERE ns.n_name <> nc.n_name
GROUP BY ns.n_name, nc.n_name, l_year
""",
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    ns = nation.select(
        F.col("n_nationkey").alias("_ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = nation.select(
        F.col("n_nationkey").alias("_nc_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(ns), s.s_nationkey == F.col("_ns_key"))
        .join(F.broadcast(nc), c.c_nationkey == F.col("_nc_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year(F.to_date("l_shipdate")).cast("long").alias("l_year"),
        )
        .agg(
            # revenue summed in exact integer (cents x discount-percent)
            # units: float summation order can park a group total a ulp
            # either side of a half-cent and flip the 2dp rounding
            # between engines; the integer sum is order-independent.
            rounding.stable_round(
                F.sum(
                    F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
                    * F.floor((1 - F.col("l_discount")) * 100 + 0.5).cast("long")
                )
                / 10000.0,
                2,
            ).alias("revenue")
        )
    )


@register(
    "q14_promo_revenue",
    doc="Promotion revenue share (TPC-H Q14 pattern): conditional "
    "aggregation over a part-broadcast join — the CASE-inside-SUM "
    "idiom, one row out.",
    oracle="""
SELECT (floor((100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                   THEN floor(l.l_extendedprice * 100 + 0.5)::BIGINT
                        * floor((1 - l.l_discount) * 100 + 0.5)::BIGINT
                   ELSE 0 END)
        / sum(floor(l.l_extendedprice * 100 + 0.5)::BIGINT
              * floor((1 - l.l_discount) * 100 + 0.5)::BIGINT)) * 10000.0 + 0.5) / 10000.0) AS promo_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
""",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    # same exact-integer revenue units as q7/q10: order-independent
    # sums, one stable final rounding
    disc = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long") * F.floor(
        (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("long")
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0).cast("long"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            rounding.stable_round(
                100.0 * F.sum(promo) / F.sum(disc), 4
            ).alias("promo_pct")
        )
    )


@register(
    "q6_forecast_revenue",
    doc="Forecast revenue change (TPC-H Q6 pattern): pure filter-"
    "aggregate whose three predicates all push to the parquet scan — "
    "the filter-pushdown showcase, one row out. Exact integer revenue "
    "units as q7/q10/q14.",
    oracle="""
SELECT round(sum(floor(l_extendedprice * 100 + 0.5)::BIGINT
                 * floor(l_discount * 100 + 0.5)::BIGINT) / 10000.0, 2) AS revenue,
       count(*)::BIGINT AS n_items
FROM lineitem
WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
  AND CAST(l_shipdate AS DATE) <  DATE '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    rev = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long") * F.floor(
        F.col("l_discount") * 100 + 0.5
    ).cast("long")
    return (
        li.filter(
            (F.to_date("l_shipdate") >= F.lit("1997-01-01").cast("date"))
            & (F.to_date("l_shipdate") < F.lit("1998-01-01").cast("date"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(rev) / 10000.0, 2).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )


@register(
    "q19_disjunctive_revenue",
    doc="Disjunctive-predicate revenue (TPC-H Q19 pattern): OR-of-ANDs "
    "across brand/size/quantity bands over a part-broadcast join — "
    "the complex-predicate planning case. Exact integer revenue units.",
    oracle="""
SELECT round(sum(floor(l.l_extendedprice * 100 + 0.5)::BIGINT
                 * floor((1 - l.l_discount) * 100 + 0.5)::BIGINT) / 10000.0, 2)
         AS revenue,
       count(*)::BIGINT AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50 AND l.l_quantity BETWEEN 20 AND 40)
""",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    rev = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long") * F.floor(
        (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("long")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(F.sum(rev) / 10000.0, 2).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )


@register(
    "customer_rfm_segments",
    doc="RFM segmentation (the BI staple): per-customer recency / "
    "frequency / monetary quartiles via ntile(4) with deterministic "
    "tie-breaks, aggregated to segment-cell counts. One orders "
    "aggregation + three rank windows over the customer frame. NOTE "
    "the exact-equal-quartile ntile needs a global sort of the "
    "customer frame; at 1e9 customers swap in percentile-threshold "
    "assignment (1-row quantile broadcast + comparison) — the "
    "boundary-tie semantics differ slightly, which is why the exact "
    "form is the oracle-checked one.",
    oracle="""
WITH cust AS (
  SELECT o_custkey,
         max(CAST(o_orderdate AS DATE)) AS last_order,
         count(*)::BIGINT AS n_orders,
         sum(floor(o_totalprice * 100 + 0.5)::BIGINT) AS cents
  FROM orders GROUP BY o_custkey
),
q AS (
  SELECT o_custkey,
         ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS r_q,
         ntile(4) OVER (ORDER BY n_orders DESC, o_custkey) AS f_q,
         ntile(4) OVER (ORDER BY cents DESC, o_custkey) AS m_q
  FROM cust
)
SELECT r_q, f_q, m_q, count(*)::BIGINT AS n_customers
FROM q GROUP BY r_q, f_q, m_q
""",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    cust = o.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_order"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")).alias(
            "cents"
        ),
    )
    q = cust.select(
        "o_custkey",
        F.ntile(4)
        .over(Window.orderBy(F.col("last_order").desc(), F.col("o_custkey")))
        .alias("r_q"),
        F.ntile(4)
        .over(Window.orderBy(F.col("n_orders").desc(), F.col("o_custkey")))
        .alias("f_q"),
        F.ntile(4)
        .over(Window.orderBy(F.col("cents").desc(), F.col("o_custkey")))
        .alias("m_q"),
    )
    return q.groupBy(
        F.col("r_q").cast("long").alias("r_q"),
        F.col("f_q").cast("long").alias("f_q"),
        F.col("m_q").cast("long").alias("m_q"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))


@register(
    "customer_rfm_segments_approx",
    doc="Scale-safe RFM twin: quartile assignment by comparing each "
    "customer to mergeable-sketch percentile boundaries instead of "
    "ntile's global sort. percentile_approx at accuracy 100000 is "
    "EXACT below 1e5 customers (this gate's regime, and it matches "
    "DuckDB quantile_disc element-for-element — verified across n, "
    "both pick the ceil(p*n)-ranked element) and degrades to a "
    "bounded-memory GK sketch above, where ntile would need a "
    "single-partition sort of every customer. Boundary-tie semantics "
    "differ from ntile on purpose: values equal to a boundary land in "
    "the lower-valued (higher-numbered) quartile, so bucket sizes are "
    "only approximately equal — that is the documented trade for the "
    "one-pass 1-row-broadcast plan shape.",
    oracle="""
WITH cust AS (
  SELECT o_custkey,
         date_diff('day', DATE '1970-01-01', max(CAST(o_orderdate AS DATE)))::BIGINT
           AS rec_days,
         count(*)::BIGINT AS n_orders,
         sum(floor(o_totalprice * 100 + 0.5)::BIGINT) AS cents
  FROM orders GROUP BY o_custkey
),
b AS (
  SELECT quantile_disc(rec_days, [0.25, 0.5, 0.75]) AS rb,
         quantile_disc(n_orders, [0.25, 0.5, 0.75]) AS fb,
         quantile_disc(cents,    [0.25, 0.5, 0.75]) AS mb
  FROM cust
)
SELECT r_q, f_q, m_q, count(*)::BIGINT AS n_customers FROM (
  SELECT (1 + (rec_days <= rb[3])::INT + (rec_days <= rb[2])::INT
            + (rec_days <= rb[1])::INT)::BIGINT AS r_q,
         (1 + (n_orders <= fb[3])::INT + (n_orders <= fb[2])::INT
            + (n_orders <= fb[1])::INT)::BIGINT AS f_q,
         (1 + (cents <= mb[3])::INT + (cents <= mb[2])::INT
            + (cents <= mb[1])::INT)::BIGINT AS m_q
  FROM cust CROSS JOIN b
) GROUP BY r_q, f_q, m_q
""",
)
def customer_rfm_segments_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    cust = o.groupBy("o_custkey").agg(
        F.datediff(F.max(F.to_date("o_orderdate")), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("rec_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")).alias("cents"),
    )
    pcts = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    acc = F.lit(100_000)
    b = cust.agg(
        F.percentile_approx("rec_days", pcts, acc).alias("rb"),
        F.percentile_approx("n_orders", pcts, acc).alias("fb"),
        F.percentile_approx("cents", pcts, acc).alias("mb"),
    )

    def quart(v: str, bnd: str):
        # desc semantics: above the 75th percentile -> quartile 1
        return (
            F.lit(1)
            + (F.col(v) <= F.col(bnd)[2]).cast("int")
            + (F.col(v) <= F.col(bnd)[1]).cast("int")
            + (F.col(v) <= F.col(bnd)[0]).cast("int")
        ).cast("bigint")

    return (
        cust.crossJoin(F.broadcast(b))
        .select(
            quart("rec_days", "rb").alias("r_q"),
            quart("n_orders", "fb").alias("f_q"),
            quart("cents", "mb").alias("m_q"),
        )
        .groupBy("r_q", "f_q", "m_q")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    )


@register(
    "supplier_pareto",
    doc="Supply-concentration Pareto curve: suppliers ranked by exact "
    "integer-cents revenue, bucketed into deciles, with each decile's "
    "per-mille share of total revenue — the 80/20 sourcing-risk "
    "report. The rank window runs over the supplier frame (not "
    "lineitems).",
    oracle="""
WITH srev AS (
  SELECT l_suppkey,
         sum(floor(l_extendedprice * 100 + 0.5)::BIGINT
             * floor((1 - l_discount) * 100 + 0.5)::BIGINT) AS units
  FROM lineitem GROUP BY l_suppkey
),
ranked AS (
  SELECT l_suppkey, units,
         ntile(10) OVER (ORDER BY units DESC, l_suppkey) AS decile
  FROM srev
),
tot AS (SELECT sum(units) AS _t FROM srev)
SELECT decile::BIGINT AS decile,
       count(*)::BIGINT AS n_suppliers,
       (sum(units) * 1000 // max(tot._t))::BIGINT AS revenue_share_permille
FROM ranked CROSS JOIN tot
GROUP BY decile
""",
)
def supplier_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    units = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long") * F.floor(
        (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("long")
    srev = li.groupBy("l_suppkey").agg(F.sum(units).alias("units"))
    ranked = srev.select(
        "units",
        F.ntile(10)
        .over(Window.orderBy(F.col("units").desc(), F.col("l_suppkey")))
        .cast("long")
        .alias("decile"),
    )
    # corpus-wide sums promote to decimal(38,0): a long `sum(units) *
    # 1000` wraps (non-ANSI) or throws (ANSI) past ~sf40 while DuckDB's
    # BIGINT sum promotes to HUGEINT; Spark decimal `div` matches
    # hugeint `//` exactly (probed beyond int64)
    tot = srev.agg(F.sum(F.col("units").cast("decimal(38,0)")).alias("_t"))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
            F.expr(
                "cast(sum(cast(units as decimal(38,0))) * 1000"
                " div max(_t) as bigint)"
            ).alias("revenue_share_permille"),
        )
    )


@register(
    "supplier_pareto_approx",
    doc="Scale-safe Pareto twin: decile assignment by comparing each "
    "supplier's revenue to mergeable-sketch percentile boundaries "
    "(percentile_approx, exact below 1e5 suppliers and element-"
    "identical to DuckDB quantile_disc there) instead of ntile(10)'s "
    "global sort — the same boundary-ladder trade as "
    "customer_rfm_segments_approx: values equal to a boundary land in "
    "the lower decile, bucket sizes only approximately equal, one "
    "1-row broadcast and zero global windows at any supplier count.",
    oracle="""
WITH srev AS (
  SELECT l_suppkey,
         sum(floor(l_extendedprice * 100 + 0.5)::BIGINT
             * floor((1 - l_discount) * 100 + 0.5)::BIGINT) AS units
  FROM lineitem GROUP BY l_suppkey
),
b AS (
  SELECT quantile_disc(units, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS db,
         sum(units) AS _t
  FROM srev
)
SELECT decile, count(*)::BIGINT AS n_suppliers,
       (sum(units) * 1000 // max(_t))::BIGINT AS revenue_share_permille
FROM (
  SELECT units, _t,
         (1 + (units <= db[9])::INT + (units <= db[8])::INT
            + (units <= db[7])::INT + (units <= db[6])::INT
            + (units <= db[5])::INT + (units <= db[4])::INT
            + (units <= db[3])::INT + (units <= db[2])::INT
            + (units <= db[1])::INT)::BIGINT AS decile
  FROM srev CROSS JOIN b
) GROUP BY decile
""",
)
def supplier_pareto_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    units = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long") * F.floor(
        (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("long")
    srev = li.groupBy("l_suppkey").agg(F.sum(units).alias("units"))
    pcts = F.array(*[F.lit(p / 10.0) for p in range(1, 10)])
    b = srev.agg(
        F.percentile_approx("units", pcts, F.lit(100_000)).alias("db"),
        # decimal(38,0): see supplier_pareto's overflow note
        F.sum(F.col("units").cast("decimal(38,0)")).alias("_t"),
    )
    decile = F.lit(1)
    for i in range(8, -1, -1):
        decile = decile + (F.col("units") <= F.col("db")[i]).cast("int")
    return (
        srev.crossJoin(F.broadcast(b))
        .select("units", "_t", decile.cast("bigint").alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
            F.expr(
                "cast(sum(cast(units as decimal(38,0))) * 1000"
                " div max(_t) as bigint)"
            ).alias("revenue_share_permille"),
        )
    )


@register(
    "brand_price_dispersion",
    doc="Retail-price dispersion per brand: mean, sample stddev, and "
    "the coefficient of variation — the catalog-consistency check "
    "(a brand whose CV explodes is mixing product classes). One keyed "
    "aggregation, engine-stable rounding.",
    oracle="""
SELECT p_brand,
       count(*)::BIGINT AS n_parts,
       (floor(avg(p_retailprice) * 100.0 + 0.5) / 100.0) AS mean_price,
       (floor(stddev_samp(p_retailprice) * 100.0 + 0.5) / 100.0) AS sd_price,
       (floor((stddev_samp(p_retailprice) / avg(p_retailprice)) * 10000.0 + 0.5) / 10000.0) AS cv
FROM part
GROUP BY p_brand
""",
)
def brand_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.rounding import stable_round

    p = load_table(spark, "part", sf_dir)
    return p.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        stable_round(F.avg("p_retailprice"), 2).alias("mean_price"),
        stable_round(F.stddev_samp("p_retailprice"), 2).alias("sd_price"),
        stable_round(
            F.stddev_samp("p_retailprice") / F.avg("p_retailprice"), 4
        ).alias("cv"),
    )


@register(
    "nation_share_of_region",
    doc="Percent-of-parent rollup: each nation's revenue share within "
    "its region (window-over-aggregate, per-mille integer shares, "
    "exact integer-cents revenue units). The share window runs over "
    "the nation-level frame.",
    oracle="""
WITH nrev AS (
  SELECT n.n_regionkey, n.n_name AS nation,
         sum(floor(l.l_extendedprice * 100 + 0.5)::BIGINT
             * floor((1 - l.l_discount) * 100 + 0.5)::BIGINT) AS units
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n   ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_regionkey, n.n_name
)
SELECT r.r_name AS region, nrev.nation,
       (floor(nrev.units / 10000.0 * 100.0 + 0.5) / 100.0) AS revenue,
       (nrev.units * 1000 // sum(nrev.units) OVER (PARTITION BY nrev.n_regionkey))::BIGINT
         AS share_permille
FROM nrev JOIN region r ON nrev.n_regionkey = r.r_regionkey
""",
)
def nation_share_of_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.rounding import stable_round

    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    units = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long") * F.floor(
        (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("long")
    nrev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_regionkey", F.col("n_name").alias("nation"))
        # decimal(38,0): per-nation sums are corpus-scale (total/25) and
        # the share multiplies by 1000 — see supplier_pareto's note
        .agg(F.sum(units.cast("decimal(38,0)")).alias("units"))
    )
    w = Window.partitionBy("n_regionkey")
    return (
        nrev.join(F.broadcast(r), nrev.n_regionkey == r.r_regionkey)
        .select(
            F.col("r_name").alias("region"),
            "nation",
            stable_round(F.col("units") / 10000.0, 2).alias("revenue"),
            F.expr(
                "cast(units * 1000 div (sum(units) over"
                " (partition by n_regionkey)) as bigint)"
            ).alias("share_permille"),
        )
    )


@register(
    "tax_incidence_by_flag",
    doc="Effective tax incidence by return flag and line status: "
    "charged tax in exact integer basis-point units over the "
    "integer-cents base — covers the one lineitem column (l_tax) no "
    "other gate reads. One keyed aggregation.",
    oracle="""
SELECT l_returnflag, l_linestatus,
       count(*)::BIGINT AS n_items,
       (floor(sum(floor(l_extendedprice * 100 + 0.5)::BIGINT
                  * floor(l_tax * 10000 + 0.5)::BIGINT) / 1000000.0 * 100.0 + 0.5)
        / 100.0) AS tax_charged,
       (sum(floor(l_tax * 10000 + 0.5)::BIGINT) * 100 // count(*))::BIGINT
         AS avg_tax_bp_x100
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
)
def tax_incidence_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.rounding import stable_round

    li = load_table(spark, "lineitem", sf_dir)
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    tax_bp = F.floor(F.col("l_tax") * 10000 + 0.5).cast("long")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        stable_round(F.sum(cents * tax_bp) / 1000000.0, 2).alias("tax_charged"),
        F.expr(
            "cast(sum(cast(floor(l_tax * 10000 + 0.5) as bigint)) * 100"
            " div count(*) as bigint)"
        ).alias("avg_tax_bp_x100"),
    )


@register(
    "order_status_mix_by_year",
    doc="Order-status mix per order year: counts and per-mille shares "
    "— the fulfillment-health trend view. One aggregation + a year-"
    "keyed share join.",
    oracle="""
WITH y AS (
  SELECT year(CAST(o_orderdate AS DATE))::BIGINT AS order_year,
         o_orderstatus, count(*)::BIGINT AS n_orders
  FROM orders GROUP BY 1, 2
),
tot AS (SELECT order_year, sum(n_orders)::BIGINT AS _t FROM y GROUP BY 1)
SELECT y.order_year, y.o_orderstatus, y.n_orders,
       (y.n_orders * 1000 // t._t)::BIGINT AS share_permille
FROM y JOIN tot t USING (order_year)
""",
)
def order_status_mix_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    y = o.groupBy(
        F.year(F.to_date("o_orderdate")).cast("long").alias("order_year"),
        "o_orderstatus",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    tot = y.groupBy("order_year").agg(F.sum("n_orders").alias("_t"))
    return y.join(F.broadcast(tot), "order_year").select(
        "order_year",
        "o_orderstatus",
        "n_orders",
        F.expr("cast(n_orders * 1000 div _t as bigint)").alias("share_permille"),
    )


@register(
    "q4_priority_late_ship",
    doc="TPC-H Q4 pattern (order priority checking): per priority, "
    "count of orders with AT LEAST ONE lineitem shipped after the "
    "order date — EXISTS as a left-semi equi-join (never a row-"
    "multiplying inner join + distinct), date window pushed to both "
    "scans.",
    oracle="""
SELECT o.o_orderpriority, count(*)::BIGINT AS n_late_orders
FROM orders o
WHERE CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE)
  )
GROUP BY o.o_orderpriority
""",
)
def q4_priority_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).filter(
        (F.to_date("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.to_date("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.to_date("l_shipdate") > F.to_date("o_orderdate")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_late_orders")
    )


@register(
    "q12_priority_mix_by_flag",
    doc="TPC-H Q12 pattern (shipping-mode priority mix, l_returnflag "
    "standing in for the absent l_shipmode): per flag, counts of "
    "high- vs low-priority orders among 1996 shipments — one "
    "broadcast-side join + conditional aggregation.",
    oracle="""
SELECT l.l_returnflag,
       sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l.l_shipdate AS DATE) < DATE '1997-01-01'
GROUP BY l.l_returnflag
""",
)
def q12_priority_mix_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.to_date("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.to_date("l_shipdate") < F.lit("1997-01-01").cast("date"))
    )
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


@register(
    "q13_customer_order_distribution",
    doc="TPC-H Q13 pattern: distribution of per-customer order counts "
    "INCLUDING zero-order customers (the left outer join is the "
    "point — an inner join silently drops the c_count=0 bucket). "
    "Outer join + two aggregations.",
    oracle="""
WITH per_cust AS (
  SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON o.o_custkey = c.c_custkey
   AND o.o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c.c_custkey
)
SELECT c_count, count(*)::BIGINT AS custdist
FROM per_cust GROUP BY c_count
""",
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir).select("c_custkey")
    o = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    per_cust = (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("bigint").alias("custdist")
    )


@register(
    "q18_large_volume_orders",
    doc="TPC-H Q18 pattern (large-volume customers): orders whose "
    "total quantity exceeds a threshold, with customer attribution — "
    "the group-then-semi-join shape (HAVING feeds a semi join, so the "
    "big lineitem table is aggregated exactly once).",
    oracle="""
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > 220
)
SELECT c.c_name, o.o_orderkey,
       CAST(o.o_orderdate AS DATE)::VARCHAR AS orderdate,
       round(o.o_totalprice, 2) AS totalprice,
       round(b.total_qty, 2) AS total_qty
FROM big b
JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
""",
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 220)
    )
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    return (
        big.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "o_orderkey",
            F.to_date("o_orderdate").cast("string").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            F.round("total_qty", 2).alias("total_qty"),
        )
    )


@register(
    "q15_top_supplier",
    doc="TPC-H Q15 pattern (top supplier): quarterly revenue per "
    "supplier, then the supplier(s) achieving the MAXIMUM — the "
    "max-over-aggregate shape done as one revenue aggregation + a "
    "broadcast 1-row max + an equality filter (the view is never "
    "recomputed). Revenue in exact integer cent x percent units so "
    "max-equality is bit-exact across engines.",
    oracle="""
WITH rev AS (
  SELECT l_suppkey,
         sum(floor(l_extendedprice * 100 + 0.5)::BIGINT
             * floor((1 - l_discount) * 100 + 0.5)::BIGINT) AS rev_units
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
    AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
  GROUP BY l_suppkey
),
mx AS (SELECT max(rev_units) AS m FROM rev)
SELECT s.s_suppkey, s.s_name,
       (floor((r.rev_units / 10000.0) * 100.0 + 0.5) / 100.0) AS total_revenue
FROM rev r JOIN mx ON r.rev_units = mx.m
JOIN supplier s ON s.s_suppkey = r.l_suppkey
""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.to_date("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.to_date("l_shipdate") < F.lit("1996-04-01").cast("date"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
            * F.floor((1 - F.col("l_discount")) * 100 + 0.5).cast("long")
        ).alias("rev_units")
    )
    mx = rev.agg(F.max("rev_units").alias("_m"))
    s = load_table(spark, "supplier", sf_dir)
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("rev_units") == F.col("_m"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            rounding.stable_round(F.col("rev_units") / 10000.0, 2).alias(
                "total_revenue"
            ),
        )
    )


@register(
    "q22_dormant_rich_customers",
    doc="TPC-H Q22 pattern (global-sales-opportunity): customers with "
    "above-average account balance (avg over POSITIVE balances — a "
    "broadcast 1-row scalar subquery) and NO orders (anti join). "
    "Per market segment: count + total balance. The anti join is the "
    "shape a NOT EXISTS must plan as; never a nested loop.",
    oracle="""
WITH cutoff AS (
  SELECT avg(c_acctbal) AS m FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_mktsegment,
       count(*)::BIGINT AS numcust,
       round(sum(c.c_acctbal), 2) AS totacctbal
FROM customer c CROSS JOIN cutoff
WHERE c.c_acctbal > cutoff.m
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c.c_mktsegment
""",
)
def q22_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    cutoff = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("_m")
    )
    o = load_table(spark, "orders", sf_dir).select("o_custkey")
    rich = c.crossJoin(F.broadcast(cutoff)).filter(F.col("c_acctbal") > F.col("_m"))
    dormant = rich.join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
    return dormant.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("numcust"),
        F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
    )


@register(
    "monthly_revenue_moving_avg",
    doc="Monthly order revenue with a 3-month trailing moving average "
    "and month-over-month delta — the explicit-ROWS-frame sliding "
    "window over an ordered aggregate (the frame runs over the TINY "
    "months table, not the fact rows, so the global window is ~100 "
    "rows at any scale). Revenue summed in integer cents.",
    oracle="""
WITH monthly AS (
  SELECT (year(CAST(o_orderdate AS DATE)) * 100
          + month(CAST(o_orderdate AS DATE)))::BIGINT AS ym,
         sum(floor(o_totalprice * 100 + 0.5)::BIGINT) AS rev_cents
  FROM orders GROUP BY ym
)
SELECT ym,
       (floor((rev_cents / 100.0) * 100.0 + 0.5) / 100.0) AS revenue,
       (floor((avg(rev_cents) OVER (ORDER BY ym
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) / 100.0) * 100.0 + 0.5) / 100.0)
         AS moving_avg_3m,
       coalesce(rev_cents - lag(rev_cents) OVER (ORDER BY ym), 0)::BIGINT
         AS delta_cents
FROM monthly
""",
)
def monthly_revenue_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, "orders", sf_dir)
    monthly = o.groupBy(
        (
            F.year(F.to_date("o_orderdate")) * 100 + F.month(F.to_date("o_orderdate"))
        )
        .cast("bigint")
        .alias("ym")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")).alias(
            "rev_cents"
        )
    )
    w3 = Window.orderBy("ym").rowsBetween(-2, Window.currentRow)
    wl = Window.orderBy("ym")
    return monthly.select(
        "ym",
        rounding.stable_round(F.col("rev_cents") / 100.0, 2).alias("revenue"),
        rounding.stable_round(F.avg("rev_cents").over(w3) / 100.0, 2).alias(
            "moving_avg_3m"
        ),
        F.coalesce(
            F.col("rev_cents") - F.lag("rev_cents").over(wl), F.lit(0)
        )
        .cast("bigint")
        .alias("delta_cents"),
    )


@register(
    "ship_latency_by_priority",
    doc="Order-to-ship latency distribution per order priority: exact "
    "median/p90 days between order date and each lineitem's ship "
    "date — the fulfillment-SLA view (urgent orders should ship "
    "faster; the synthetic data's answer is the oracle's business). "
    "One fact-dim join + percentile aggregation on integer day "
    "diffs.",
    oracle="""
SELECT o.o_orderpriority,
       count(*)::BIGINT AS n_lines,
       quantile_cont(date_diff('day', CAST(o.o_orderdate AS DATE),
                               CAST(l.l_shipdate AS DATE)), 0.5) AS median_days,
       quantile_cont(date_diff('day', CAST(o.o_orderdate AS DATE),
                               CAST(l.l_shipdate AS DATE)), 0.9) AS p90_days,
       max(date_diff('day', CAST(o.o_orderdate AS DATE),
                     CAST(l.l_shipdate AS DATE)))::BIGINT AS max_days
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
""",
)
def ship_latency_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    days = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn("_d", days)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.expr("percentile(_d, 0.5)").alias("median_days"),
            F.expr("percentile(_d, 0.9)").alias("p90_days"),
            F.max("_d").cast("bigint").alias("max_days"),
        )
    )


@register(
    "discount_depth_by_type",
    doc="Pricing analytics per part type: realized revenue vs the "
    "retail baseline (sum extendedprice*(1-discount) over sum "
    "retailprice*quantity) as an integer per-mille ratio, plus line "
    "counts and mean discount — the discount-depth report a pricing "
    "team reads per catalog segment. One fact-dim join, exact "
    "integer cent x percent units end to end.",
    oracle="""
SELECT p.p_type,
       count(*)::BIGINT AS n_lines,
       round(avg(l.l_discount), 4) AS avg_discount,
       ((1000 * sum(floor(l.l_extendedprice * 100 + 0.5)::BIGINT
                    * floor((1 - l.l_discount) * 100 + 0.5)::BIGINT))
        // sum(floor(p.p_retailprice * 100 + 0.5)::BIGINT
               * floor(l.l_quantity + 0.5)::BIGINT * 100))::BIGINT
         AS realized_vs_retail_permille
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_type
""",
)
def discount_depth_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir).select("p_partkey", "p_type", "p_retailprice")
    realized = F.sum(
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
        * F.floor((1 - F.col("l_discount")) * 100 + 0.5).cast("long")
    )
    retail = F.sum(
        F.floor(F.col("p_retailprice") * 100 + 0.5).cast("long")
        * F.floor(F.col("l_quantity") + 0.5).cast("long")
        * F.lit(100)
    )
    agg = (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.round(F.avg("l_discount"), 4).alias("avg_discount"),
            realized.alias("_real"),
            retail.alias("_retail"),
        )
    )
    return agg.select(
        "p_type",
        "n_lines",
        "avg_discount",
        F.expr("cast(1000 * _real div _retail as bigint)").alias(
            "realized_vs_retail_permille"
        ),
    )
