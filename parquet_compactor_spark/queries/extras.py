"""Coverage extras: statistical aggregates, arg-extremes, ranking windows,
regex predicates, null-handling scalars, subquery forms, cross join.

Same conventions as the rest of the surface: JVM-side expressions, every
computed column aliased identically in Spark and oracle SQL, floats
rounded on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_compactor_spark.registry import load, register


@register(
    "q_stats_agg",
    oracle="""
    SELECT l_returnflag,
           ROUND(stddev_samp(l_extendedprice), 2) AS price_stddev,
           ROUND(var_samp(l_quantity), 4)         AS qty_var,
           ROUND(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
           ROUND(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Statistical aggregates: stddev/variance/correlation/covariance — "
    "single-pass partial-aggregatable moments.",
)
def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("price_stddev"),
        F.round(F.var_samp("l_quantity"), 4).alias("qty_var"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("qty_price_covar"),
    )


@register(
    "q_arg_extremes",
    oracle="""
    SELECT c_mktsegment,
           arg_max(c_name, c_acctbal) AS richest_customer,
           ROUND(MAX(c_acctbal), 2)   AS max_bal,
           arg_min(c_name, c_acctbal) AS poorest_customer,
           ROUND(MIN(c_acctbal), 2)   AS min_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
    doc="Argument extremes (max_by/min_by ≡ arg_max/arg_min): the value of "
    "one column at another's extreme — single-pass, no self-join.",
)
def q_arg_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.max_by("c_name", "c_acctbal").alias("richest_customer"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        F.min_by("c_name", "c_acctbal").alias("poorest_customer"),
        F.round(F.min("c_acctbal"), 2).alias("min_bal"),
    )


@register(
    "q_window_ranks",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus,
           RANK()         OVER w AS price_rank,
           DENSE_RANK()   OVER w AS price_dense_rank,
           NTILE(4)       OVER w AS price_quartile,
           ROUND(PERCENT_RANK() OVER w, 4) AS price_pct_rank
    FROM orders
    WHERE o_orderkey % 100 = 0
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
    """,
    doc="Ranking window family: rank/dense_rank/ntile/percent_rank with "
    "deterministic tie-break.",
)
def q_window_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.percent_rank().over(w), 4).alias("price_pct_rank"),
    )


@register(
    "q_window_first_last",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(FIRST_VALUE(o_totalprice) OVER w, 2) AS first_price,
           ROUND(LAST_VALUE(o_totalprice)  OVER w, 2) AS last_price,
           COUNT(*) OVER (PARTITION BY o_custkey)     AS n_orders
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    doc="first_value/last_value over a full-partition ROWS frame (the "
    "frame makes last_value well-defined) + partition-wide count.",
)
def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wc = Window.partitionBy("o_custkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.first("o_totalprice").over(w), 2).alias("first_price"),
        F.round(F.last("o_totalprice").over(w), 2).alias("last_price"),
        F.count(F.lit(1)).over(wc).alias("n_orders"),
    )


@register(
    "q_rlike_filter",
    oracle="""
    SELECT p_name, p_brand, p_type
    FROM part
    WHERE regexp_matches(p_name, '^(small|large) (widget|bolt)$')
      AND p_brand SIMILAR TO 'Brand#1[0-9]'
    """,
    doc="Regex predicates (rlike ≡ regexp_matches/SIMILAR TO) pushed into "
    "the scan filter.",
)
def q_rlike_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    return p.filter(
        F.col("p_name").rlike(r"^(small|large) (widget|bolt)$")
        & F.col("p_brand").rlike(r"^Brand#1[0-9]$")
    ).select("p_name", "p_brand", "p_type")


@register(
    "q_null_handling",
    oracle="""
    SELECT COALESCE(NULLIF(o_orderstatus, 'O'), 'open')      AS status_label,
           COUNT(*)                                          AS n_orders,
           COUNT(NULLIF(o_orderstatus, 'O'))                 AS n_non_open,
           ROUND(SUM(CASE WHEN o_orderstatus = 'O'
                          THEN o_totalprice END), 2)         AS open_revenue
    FROM orders
    GROUP BY 1
    """,
    doc="Null-handling scalars: nullif/coalesce/null-skipping COUNT and "
    "SUM-over-partial-CASE (NULL-producing branch).",
)
def q_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    status = F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("open"))
    return o.groupBy(status.alias("status_label")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.nullif(F.col("o_orderstatus"), F.lit("O"))).alias("n_non_open"),
        F.round(
            F.sum(F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice"))), 2
        ).alias("open_revenue"),
    )


@register(
    "q_in_subquery",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
    GROUP BY o_orderpriority
    """,
    doc="IN-subquery predicate (Catalyst rewrites to left-semi join).",
)
def q_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    o.createOrReplaceTempView("_orders_in")
    c.createOrReplaceTempView("_customer_in")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM _orders_in
        WHERE o_custkey IN (SELECT c_custkey FROM _customer_in WHERE c_acctbal > 9000)
        GROUP BY o_orderpriority
        """
    )


@register(
    "q_cross_join",
    oracle="""
    SELECT a.r_name AS from_region, b.r_name AS to_region
    FROM region a CROSS JOIN region b
    WHERE a.r_regionkey <> b.r_regionkey
    """,
    doc="Cartesian product of a tiny dimension (5x5) — the only place a "
    "cross join belongs; anything larger must be blocked or broadcast.",
)
def q_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "region")
    a = r.select(F.col("r_regionkey").alias("ka"), F.col("r_name").alias("from_region"))
    b = r.select(F.col("r_regionkey").alias("kb"), F.col("r_name").alias("to_region"))
    return (
        a.crossJoin(b)
        .filter(F.col("ka") != F.col("kb"))
        .select("from_region", "to_region")
    )


@register(
    "q_outer_join",
    oracle="""
    SELECT COALESCE(n.n_name, 'NO_NATION') AS nation,
           COUNT(s.s_suppkey)              AS n_suppliers,
           ROUND(SUM(s.s_acctbal), 2)      AS total_bal
    FROM nation n
    FULL OUTER JOIN supplier s ON s.s_nationkey = n.n_nationkey
    GROUP BY COALESCE(n.n_name, 'NO_NATION')
    """,
    doc="Full outer join: nations with/without suppliers, null-side "
    "handling via coalesce and null-skipping aggregates.",
)
def q_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation")
    s = load(spark, sf_dir, "supplier")
    return (
        n.join(s, s.s_nationkey == n.n_nationkey, "full_outer")
        .groupBy(F.coalesce(F.col("n_name"), F.lit("NO_NATION")).alias("nation"))
        .agg(
            F.count("s_suppkey").alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
        )
    )


@register(
    "q_having",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 12 AND SUM(o_totalprice) > 50000
    """,
    doc="HAVING: post-aggregation predicate (Catalyst plans it as a filter "
    "above the final aggregate — no second pass).",
)
def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("_rev"),
        )
        .filter((F.col("n_orders") >= 12) & (F.col("_rev") > 50000))
        .select("o_custkey", "n_orders", F.round("_rev", 2).alias("revenue"))
    )


@register(
    "q_conditional_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT CASE WHEN l_quantity > 25 THEN l_partkey END) AS parts_bulk,
           COUNT(DISTINCT CASE WHEN l_discount >= 0.05 THEN l_suppkey END) AS supps_discounted
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Conditional distinct counting: COUNT(DISTINCT CASE ...) — "
    "filtered distincts in one pass via Expand.",
)
def q_conditional_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct(
            F.when(F.col("l_quantity") > 25, F.col("l_partkey"))
        ).alias("parts_bulk"),
        F.countDistinct(
            F.when(F.col("l_discount") >= 0.05, F.col("l_suppkey"))
        ).alias("supps_discounted"),
    )


@register(
    "q_regr_slope",
    oracle="""
    SELECT user_id,
           ROUND(regr_slope(value, epoch_us(ts)) * 86400000000, 4) AS value_per_day,
           COUNT(*) AS n_events
    FROM events
    GROUP BY user_id
    HAVING COUNT(*) >= 2
    """,
    doc="Linear-regression slope per user (value trend per day): "
    "covar_pop/var_pop moments — single-pass, partial-aggregatable.",
)
def q_regr_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    # regr_slope semantics: BOTH moments over rows where BOTH operands
    # are non-null. A bare var_pop(x) would include rows whose value is
    # NULL (x never is), skewing the denominator the moment a fixture
    # carries NULL values — masking x to the same pair set keeps the
    # rewrite exactly regr_slope (pinned by the hostile-data sweep).
    x = F.when(
        F.col("value").isNotNull(), F.unix_micros(F.col("ts")).cast("double")
    )
    slope = F.covar_pop(F.col("value"), x) / F.var_pop(x)
    return (
        e.groupBy("user_id")
        .agg(
            F.round(slope * 86400000000, 4).alias("value_per_day"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .filter(F.col("n_events") >= 2)
    )


@register(
    "q_asof_join",
    oracle="""
    WITH purchases AS (
        SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT e.event_id,
           e.user_id,
           ROUND(p.value, 2) AS value_asof
    FROM (SELECT * FROM events WHERE event_type = 'click') e
    ASOF LEFT JOIN purchases p
      ON e.user_id = p.user_id AND p.ts <= e.ts
    """,
    doc="As-of join (operator Spark lacks natively): for each click, the "
    "user's most recent purchase value at-or-before it. Implemented as "
    "tag→union→one window pass per key (functions/asof.py) — one shuffle "
    "on user_id, vs the naive range-join that shuffles candidate pairs. "
    "Oracle: DuckDB's native ASOF JOIN.",
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.functions.asof import asof_join

    e = load(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    joined = asof_join(clicks, purchases, on="user_id", ts="ts", value_cols=["value"])
    return joined.select(
        "event_id", "user_id", F.round("value_asof", 2).alias("value_asof")
    )


@register(
    "q_union_all",
    oracle="""
    SELECT side, COUNT(*) AS n
    FROM (
        SELECT 'customer' AS side, c_nationkey AS nationkey FROM customer
        UNION ALL
        SELECT 'supplier' AS side, s_nationkey AS nationkey FROM supplier
    )
    GROUP BY side
    """,
    doc="UNION ALL (no dedup — zero shuffle for the union itself).",
)
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(
        F.lit("customer").alias("side"), F.col("c_nationkey").alias("nationkey")
    )
    s = load(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("side"), F.col("s_nationkey").alias("nationkey")
    )
    return c.unionByName(s).groupBy("side").agg(F.count(F.lit(1)).alias("n"))


@register(
    "q_null_safe_join",
    oracle="""
    WITH sparse AS (
        SELECT event_id,
               CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END AS k,
               value
        FROM events
    ),
    dim AS (
        SELECT DISTINCT CASE WHEN event_type = 'view' THEN NULL
                             ELSE event_type END AS k
        FROM events
    )
    SELECT s.event_id, s.k, (d.k IS NOT DISTINCT FROM s.k) AS matched
    FROM sparse s JOIN dim d ON s.k IS NOT DISTINCT FROM d.k
    """,
    doc="Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys match "
    "each other instead of silently dropping — the semantics needed when "
    "NULL is a real category (unknown segment, missing label). Spark's "
    "eqNullSafe keeps this a hash join (null-safe equality is still an "
    "equi-key); a coalesce-to-sentinel workaround would corrupt real "
    "sentinel values.",
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    sparse = e.select(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, None)
        .otherwise(F.col("event_type"))
        .alias("k"),
        "value",
    )
    dim = (
        e.select(
            F.when(F.col("event_type") == "view", None)
            .otherwise(F.col("event_type"))
            .alias("k")
        )
        .distinct()
        .withColumnRenamed("k", "dk")
    )
    return (
        sparse.join(F.broadcast(dim), sparse.k.eqNullSafe(F.col("dk")))
        .select("event_id", "k", F.col("dk").eqNullSafe(F.col("k")).alias("matched"))
    )


@register(
    "q_percent_of_total",
    oracle="""
    SELECT c_custkey,
           c_mktsegment,
           ROUND(c_acctbal, 2) AS acctbal,
           ROUND(c_acctbal / SUM(c_acctbal) OVER (PARTITION BY c_mktsegment), 6)
               AS share_of_segment,
           ROUND(c_acctbal / SUM(c_acctbal) OVER (), 6) AS share_of_total
    FROM customer
    WHERE c_acctbal > 0
    """,
    doc="Ratio-to-report: each row's share of its group total and of the "
    "grand total (the BI percent-of-total primitive). The per-segment "
    "share is one shuffle on the segment key; the grand-total share is "
    "DELIBERATELY NOT an empty-partition window (which funnels every "
    "row into one partition) — the grand total is a partial-agg scalar "
    "crossJoined back (1-row broadcast), so nothing ever concentrates.",
)
def q_percent_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    w_seg = Window.partitionBy("c_mktsegment")
    grand = c.agg(F.sum("c_acctbal").alias("_grand"))
    return (
        c.crossJoin(F.broadcast(grand))
        .select(
            "c_custkey",
            "c_mktsegment",
            F.round("c_acctbal", 2).alias("acctbal"),
            F.round(F.col("c_acctbal") / F.sum("c_acctbal").over(w_seg), 6).alias(
                "share_of_segment"
            ),
            F.round(F.col("c_acctbal") / F.col("_grand"), 6).alias("share_of_total"),
        )
    )


@register(
    "q_asof_nearest",
    oracle="""
    WITH c AS (
        SELECT user_id, event_id AS click_id, ts AS cts
        FROM events WHERE event_type = 'click'
    ),
    p AS (
        SELECT user_id, MIN(event_id) AS purchase_id, ts AS pts
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, ts
    ),
    cand AS (
        SELECT c.click_id, c.user_id,
               p.purchase_id,
               ABS(epoch_us(c.cts) - epoch_us(p.pts)) AS d
        FROM c JOIN p ON c.user_id = p.user_id
    )
    SELECT click_id, user_id, purchase_id, d AS gap_us
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY click_id
                                       ORDER BY d, purchase_id) AS rn
          FROM cand)
    WHERE rn = 1
    """,
    doc="Nearest-direction as-of join: each click paired with the "
    "temporally CLOSEST purchase by the same user, either direction "
    "(ties → lowest purchase id). Spark form: union + two window passes "
    "(last-prior and first-following) sharing ONE key exchange "
    "(functions/asof.py:asof_join_nearest) — the oracle's all-pairs "
    "ranking is the semantics, never the plan: pair count is O(clicks × "
    "purchases-per-user) and dies at scale.",
)
def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.functions.asof import asof_join_nearest

    e = load(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts")
    )
    return asof_join_nearest(
        clicks, purchases, on="user_id", ts="ts", right_id="purchase_id"
    ).select("click_id", "user_id", "purchase_id", "gap_us")


@register(
    "q_cume_dist",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority,
           ROUND(CUME_DIST() OVER w, 4) AS price_cume_dist,
           CASE WHEN CUME_DIST() OVER w >= 0.9 THEN 'top decile'
                ELSE 'rest' END AS price_band
    FROM orders
    WHERE o_orderkey % 50 = 0
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
    """,
    doc="Empirical CDF position per group, in the BANDED two-pass form: a "
    "naive CUME_DIST() OVER (PARTITION BY o_orderpriority) puts every row "
    "of a 5-value key in one task — a giant-partition window at 100x. "
    "Instead rows are banded by price range (ties share a value, hence a "
    "band, so banding never splits a tie group); the per-row count of "
    "values <= v is a RANGE-frame count within the bounded (priority, "
    "band) partition, plus a prefix offset from the TINY per-band totals "
    "(|priorities| x |bands| aggregate rows) broadcast back onto the "
    "stream. cume_dist = (offset + within-band count) / priority total — "
    "exact integer arithmetic, identical to the analytic form. Same "
    "segmented-prefix shape as q_max_concurrency's sweep.",
)
def q_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 0)
    rows = o.select("o_orderkey", "o_orderpriority", "o_totalprice").withColumn(
        "band", F.floor(F.col("o_totalprice") / F.lit(5000.0))
    )
    # Within-band rank: RANGE frame so every tied value counts all its
    # peers (cume_dist semantics). Partitions are (priority, price-band) —
    # bounded by the band width, never by total row count.
    w_in = (
        Window.partitionBy("o_orderpriority", "band")
        .orderBy("o_totalprice")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = rows.withColumn("le_in_band", F.count(F.lit(1)).over(w_in))
    # Tiny per-band totals -> prefix offsets + per-priority grand totals.
    band_tot = rows.groupBy("o_orderpriority", "band").agg(
        F.count(F.lit(1)).alias("band_n")
    )
    w_off = (
        Window.partitionBy("o_orderpriority")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = band_tot.select(
        "o_orderpriority",
        "band",
        F.coalesce(F.sum("band_n").over(w_off), F.lit(0)).alias("offset"),
        F.sum("band_n")
        .over(Window.partitionBy("o_orderpriority"))
        .alias("pri_n"),
    )
    cd = (F.col("offset") + F.col("le_in_band")) / F.col("pri_n")
    return (
        ranked.join(F.broadcast(offsets), ["o_orderpriority", "band"])
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round(cd, 4).alias("price_cume_dist"),
            F.when(cd >= 0.9, "top decile").otherwise("rest").alias("price_band"),
        )
    )
