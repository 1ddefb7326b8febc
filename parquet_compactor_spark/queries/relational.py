"""Core relational operators: filter, aggregate, join, window, sort, set ops.

Coverage map: SURVEY.md §2B (Projections/filters, Joins, Aggregations,
Window functions, Sorts/limits, Set ops). The reference itself is a
single-table ETL job (parquet_compactor.py:295-328) — this module is the
query surface the north star requires, expressed Catalyst-first:

- filters are plain ``F.col`` predicates → parquet predicate pushdown;
- small-dimension joins are explicitly ``F.broadcast`` (region/nation/
  customer-scale dims stay map-side at any fact-table scale);
- aggregations use built-in hash aggregates (partial + final, map-side
  combine is automatic);
- windows partition by high-cardinality keys (custkey) so state is bounded
  per partition at 100 TB.

All computed columns aliased to match the oracle SQL exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from parquet_compactor_spark.registry import load, register


# --------------------------------------------------------------------------
# Aggregations
# --------------------------------------------------------------------------


@register(
    "q_agg_pricing",
    oracle="""
    SELECT
        l_returnflag,
        l_linestatus,
        ROUND(SUM(l_quantity), 2)                                    AS sum_qty,
        ROUND(SUM(l_extendedprice), 2)                               AS sum_base_price,
        ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
        ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        ROUND(AVG(l_quantity), 4)                                    AS avg_qty,
        ROUND(AVG(l_extendedprice), 4)                               AS avg_price,
        ROUND(AVG(l_discount), 4)                                    AS avg_disc,
        COUNT(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-shaped pricing summary (flagship). Scan→filter→hash-agg; "
    "filter pushed to parquet, partial aggregation map-side.",
)
def q_agg_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q_filter_pushdown",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6-shaped selective scan: every predicate is pushdown-able "
    "(range on timestamp + doubles) so the parquet reader row-group-skips.",
)
def q_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "q_agg_distinct",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*)                    AS n_customers,
           COUNT(DISTINCT c_nationkey) AS n_nations,
           ROUND(SUM(c_acctbal), 2)    AS total_acctbal
    FROM customer
    GROUP BY c_mktsegment
    """,
    doc="Distinct aggregation: Catalyst expands COUNT DISTINCT into a "
    "two-stage expand+agg, still fully parallel.",
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
    )


@register(
    "q_rollup",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           COUNT(*)                  AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="Hierarchical rollup (GROUPING SETS): subtotals + grand total in one "
    "pass via Expand; no driver-side looping.",
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --------------------------------------------------------------------------
# Joins
# --------------------------------------------------------------------------


@register(
    "q_join_broadcast",
    oracle="""
    SELECT n.n_name,
           r.r_name,
           COUNT(*)                 AS n_customers,
           ROUND(AVG(c.c_acctbal), 4) AS avg_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
    doc="Star-schema dim join: nation/region are broadcast (map-side hash "
    "join, zero shuffle of the fact side) — the only plan that survives a "
    "100 TB fact table.",
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
        )
    )


@register(
    "q_join_multiway",
    oracle="""
    SELECT n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
    doc="Multiway fact⋈fact⋈dim join (TPC-H Q5 shape): lineitem⋈orders is a "
    "shuffle join on orderkey (both sides large); customer is fact-"
    "proportional (sf×150k rows) so it is deliberately NOT force-broadcast "
    "— AQE may still choose broadcast at small SF, but at 100 TB an "
    "explicit hint would be an OOM, not an optimization. Only the "
    "constant-size nation dim carries the broadcast hint. AQE re-sizes the "
    "shuffle and splits skewed keys at runtime.",
)
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@register(
    "q_semi_join",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    GROUP BY c.c_mktsegment
    """,
    doc="Left-semi join (EXISTS): customers with ≥1 urgent order. Semi join "
    "never duplicates the probe side — safe at any orders-per-customer skew.",
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "q_anti_join",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    """,
    doc="Left-anti join (NOT EXISTS): customers with no orders.",
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "q_range_join",
    oracle="""
    SELECT e1.event_id,
           COUNT(e2.event_id) AS n_prior_events
    FROM events e1
    LEFT JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts >= e1.ts - INTERVAL 1 HOUR
     AND e2.ts <  e1.ts
    GROUP BY e1.event_id
    """,
    doc="Range (theta) self-join: per event, how many events the same user "
    "fired in the preceding hour. Equi-key on user_id keeps the join "
    "hash-partitioned; the time range is a residual predicate — at scale "
    "this stays one shuffle on user_id (band-bucketing would bound worst-"
    "case skew further).",
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    e1 = e.select(
        F.col("event_id"), F.col("user_id").alias("u1"), F.col("ts").alias("ts1")
    )
    e2 = e.select(F.col("user_id").alias("u2"), F.col("ts").alias("ts2"))
    joined = e1.join(
        e2,
        (F.col("u1") == F.col("u2"))
        & (F.col("ts2") >= F.col("ts1") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("ts2") < F.col("ts1")),
        "left",
    )
    return joined.groupBy("event_id").agg(F.count("ts2").alias("n_prior_events"))


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------


@register(
    "q_window_topn",
    oracle="""
    SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS total_price, rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS rn
        FROM orders
    )
    WHERE rn <= 3
    """,
    doc="Per-group top-N via row_number window; deterministic tie-break on "
    "orderkey. Partitioned by custkey → per-partition state is O(orders per "
    "customer), never global.",
)
def q_window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
            "rn",
        )
    )


@register(
    "q_window_running",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS running_total
    FROM orders
    """,
    doc="Running (cumulative) sum per customer ordered by orderdate; "
    "ROWS frame + orderkey tie-break makes it deterministic.",
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@register(
    "q_window_lag",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(o_totalprice - LAG(o_totalprice, 1, 0.0) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ), 2) AS delta_vs_prev
    FROM orders
    """,
    doc="LAG window: per-customer order-to-order price delta.",
)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.col("o_totalprice") - F.lag("o_totalprice", 1, 0.0).over(w), 2
        ).alias("delta_vs_prev"),
    )


# --------------------------------------------------------------------------
# Sorts / limits / top-k
# --------------------------------------------------------------------------


@register(
    "q_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS total_price
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    doc="Global top-k: Spark plans ORDER BY+LIMIT as TakeOrderedAndProject "
    "(per-partition heap + driver merge of k rows) — no global sort.",
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total_price"))
    )


# --------------------------------------------------------------------------
# Set operations
# --------------------------------------------------------------------------


@register(
    "q_union_dedup",
    oracle="""
    SELECT nationkey FROM (
        SELECT c_nationkey AS nationkey FROM customer
        UNION
        SELECT s_nationkey AS nationkey FROM supplier
    )
    """,
    doc="UNION (deduplicating): nation keys present among customers or "
    "suppliers. unionByName → hash-distinct.",
)
def q_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


@register(
    "q_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    doc="INTERSECT: nation keys with both customers and suppliers.",
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "q_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    doc="EXCEPT: nation keys with customers but no suppliers.",
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)


@register(
    "q_full_outer_join",
    oracle="""
    WITH rich AS (
        SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 8000
    ),
    urgent AS (
        SELECT o_custkey, COUNT(*) AS n_orders FROM orders
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY o_custkey
    )
    SELECT COALESCE(r.c_custkey, u.o_custkey) AS custkey,
           (r.c_custkey IS NOT NULL)          AS has_customer,
           (u.o_custkey IS NOT NULL)          AS has_orders,
           ROUND(COALESCE(r.c_acctbal, 0.0), 2) AS acctbal,
           COALESCE(u.n_orders, 0)            AS n_orders
    FROM rich r FULL OUTER JOIN urgent u ON r.c_custkey = u.o_custkey
    """,
    doc="FULL OUTER join of two genuinely-partial sides (high-balance "
    "customers vs urgent-order counts): unmatched rows survive from both "
    "sides with coalesced keys. Full outer cannot broadcast either side "
    "(both are preserved) — it is a shuffle join by construction, which "
    "is exactly the right plan at any scale.",
)
def q_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 8000)
        .select("c_custkey", "c_acctbal")
    )
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return c.join(o, c.c_custkey == o.o_custkey, "full_outer").select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.col("c_custkey").isNotNull().alias("has_customer"),
        F.col("o_custkey").isNotNull().alias("has_orders"),
        F.round(F.coalesce("c_acctbal", F.lit(0.0)), 2).alias("acctbal"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
    )


@register(
    "q_salted_agg",
    oracle="""
    SELECT event_type,
           COUNT(*)              AS n,
           ROUND(SUM(value), 2)  AS total_value
    FROM events
    GROUP BY event_type
    """,
    doc="Skew-proof two-stage aggregation: a deterministic salt "
    "(event_id % 16) splits each hot group key into 16 sub-groups for "
    "the first (partial) aggregation, then a second tiny aggregation "
    "removes the salt. At 100 TB a single scorching key (one event_type "
    "holding half the data) lands on 16 reducers instead of one; the "
    "oracle is the plain GROUP BY, proving the decomposition is exact.",
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    partial = (
        e.withColumn("_salt", F.col("event_id") % 16)
        .groupBy("event_type", "_salt")
        .agg(F.count(F.lit(1)).alias("_n"), F.sum("value").alias("_sum"))
    )
    return partial.groupBy("event_type").agg(
        F.sum("_n").alias("n"),
        F.round(F.sum("_sum"), 2).alias("total_value"),
    )


@register(
    "q_ship_priority",
    oracle="""
    SELECT l.l_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1995-03-15'
      AND l.l_shipdate > DATE '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, orderdate, l.l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3-shaped (shipping priority; the fixture carries "
    "o_orderpriority in place of dbgen's o_shippriority): "
    "segment-filtered customer keys "
    "semi-reduce orders, date predicates push to both fact scans, and "
    "the final top-10 is a TakeOrderedAndProject heap — never a global "
    "sort. The selective dimension (filtered customers) stays hinted "
    "to AQE rather than force-broadcast, mirroring the "
    "q_join_multiway discipline (reference workload shape: TPC-H "
    "dbgen; no reference-engine counterpart — north-star parity).",
)
def q_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1995-03-15"
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1995-03-15"
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(
            F.desc("revenue"), F.asc("orderdate"), F.asc("l_orderkey")
        )
        .limit(10)
    )


@register(
    "q_multiset_setops",
    oracle="""
    WITH a AS (SELECT l_quantity FROM lineitem WHERE l_orderkey % 7 = 0),
         b AS (SELECT l_quantity FROM lineitem WHERE l_orderkey % 3 = 0)
    SELECT 'intersect_all' AS op, l_quantity
    FROM (SELECT l_quantity FROM a INTERSECT ALL SELECT l_quantity FROM b)
    UNION ALL
    SELECT 'except_all' AS op, l_quantity
    FROM (SELECT l_quantity FROM a EXCEPT ALL SELECT l_quantity FROM b)
    """,
    doc="Multiset set operations: INTERSECT ALL keeps min(multiplicity) "
    "copies and EXCEPT ALL subtracts occurrence counts — the bag "
    "semantics q_intersect/q_except's DISTINCT forms erase. Spark "
    "plans both as aggregate-count + generate (no distinct collapse), "
    "shuffling only the compared column.",
)
def q_multiset_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_orderkey") % 7 == 0).select("l_quantity")
    b = li.filter(F.col("l_orderkey") % 3 == 0).select("l_quantity")
    ia = a.intersectAll(b).select(
        F.lit("intersect_all").alias("op"), "l_quantity"
    )
    ea = a.exceptAll(b).select(F.lit("except_all").alias("op"), "l_quantity")
    return ia.unionByName(ea)


@register(
    "q_promo_revenue",
    oracle="""
    SELECT ROUND(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                   THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
                 / SUM(l.l_extendedprice * (1 - l.l_discount)), 4)
               AS promo_share_pct,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= DATE '1995-09-01'
      AND l.l_shipdate <  DATE '1995-10-01'
    """,
    doc="TPC-H Q14-shaped (promotion effect): one month of lineitem "
    "joined to part, promo share as a conditional-sum ratio. The month "
    "predicate pushes to the fact scan (row-group pruning carries it at "
    "100 TB); part is fact-proportional so its join stays unhinted for "
    "AQE, and both sums partial-aggregate into a single scalar row "
    "(reference workload shape: TPC-H dbgen; no reference-engine "
    "counterpart — north-star parity).",
)
def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-09-01") & (F.col("l_shipdate") < "1995-10-01")
    )
    p = load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_share_pct"),
            F.round(F.sum(rev), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q_nation_revenue",
    oracle="""
    SELECT n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate <  DATE '1997-01-01'
    GROUP BY n.n_name
    """,
    doc="TPC-H Q5-shaped (local-supplier volume, fixture-adapted to the "
    "customer->nation path): a 5-table join tree where the constant "
    "dims (nation, region — 25/5 rows at any SF) carry explicit "
    "broadcast hints, the fact-proportional customer join is left to "
    "AQE, the year predicate pushes to the orders scan, and revenue "
    "partial-aggregates per nation. The join-ordering discipline is "
    "q_join_multiway's, one fact deeper.",
)
def q_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load(spark, sf_dir, "lineitem")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
