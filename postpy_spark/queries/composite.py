"""Composite analytical queries — TPC-H-shaped multi-operator pipelines and
time-series rollups.  These exercise operator COMPOSITION (join trees +
aggregation + windows in one plan), which is what postpy users actually ran
against PostgreSQL; single-operator contract queries live in the other
modules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from postpy_spark.io import load_table
from postpy_spark.registry import query


@query(
    "tpch_q3_shape",
    oracle="""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    """,
    group="B2",
)
def tpch_q3_shape_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority shape (TPC-H Q3): selective dim filter → two fact
    joins → grouped revenue.  Catalyst pushes both date predicates into the
    scans.  No hard broadcast() on customer — it scales linearly with SF,
    so a literal hint would force an OOM build side at 1000×+; AQE's
    size-based choice broadcasts it at every tier where that is safe
    (plan pinned at test scale by tests/test_plan_shapes.py::
    test_tpch_scaling_dims_broadcast_by_size_not_hint)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@query(
    "tpch_q10_shape",
    oracle="""
    SELECT c_custkey, c_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    """,
    group="B2",
)
def tpch_q10_shape_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item reporting shape (TPC-H Q10): revenue lost to returns
    per customer."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp_ntz"))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
    )


@query(
    "tpch_q18_shape",
    oracle="""
    WITH big AS (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING SUM(l_quantity) > 150
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           ROUND(SUM(l_quantity), 2) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    """,
    group="B2",
)
def tpch_q18_shape_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume-customer shape (TPC-H Q18): semi-join against a
    HAVING-filtered aggregate subquery, then re-aggregate."""
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 150)
        .select("l_orderkey")
    )
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi")
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
    )


@query(
    "win_range_frame",
    oracle="""
    SELECT event_id, user_id,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
                          RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
               AS n_last_hour,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts
                          RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW), 4)
               AS value_last_hour
    FROM events
    """,
    group="B4",
)
def win_range_frame_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window (value-based, not row-based): per-user trailing
    1-hour event count/sum.  Spark's rangeBetween needs a numeric order key;
    ordering by epoch MICROseconds (exact via the decimal cast — a double
    cast would lose sub-second precision) with a 3.6e9 frame matches
    DuckDB's INTERVAL RANGE frame exactly."""
    e = load_table(spark, sf_dir, "events")
    us = (
        F.col("ts").cast("timestamp").cast("decimal(20,6)") * 1_000_000
    ).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.round(F.sum("value").over(w), 4).alias("value_last_hour"),
    )


@query(
    "rollup_time_multires",
    oracle="""
    WITH base AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)  AS day_start,
               CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
               event_type, value
        FROM events
    )
    SELECT day_start, hour_start, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM base
    GROUP BY ROLLUP (day_start, hour_start), event_type
    """,
    group="C",
)
def rollup_time_multires_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: hour + day + grand totals
    per event_type in ONE pass via ROLLUP over truncated timestamps (the
    continuous-aggregate pattern, batch form)."""
    e = load_table(spark, sf_dir, "events")
    e.select(
        F.date_trunc("day", "ts").alias("day_start"),
        F.date_trunc("hour", "ts").alias("hour_start"),
        "event_type",
        "value",
    ).createOrReplaceTempView("_pp_events_multires")
    # ROLLUP over the time hierarchy with event_type as a constant group key
    # needs the SQL path (DataFrame rollup() can't mix plain keys into every
    # grouping set).
    return spark.sql(
        """
        SELECT day_start, hour_start, event_type,
               COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
        FROM _pp_events_multires
        GROUP BY ROLLUP (day_start, hour_start), event_type
        """
    )


@query(
    "scalar_subquery",
    oracle="""
    SELECT c_custkey,
           (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey)            AS n_orders,
           (SELECT ROUND(MAX(o_totalprice), 2) FROM orders o
             WHERE o.o_custkey = c.c_custkey)                                         AS best_order
    FROM customer c
    """,
    group="B2",
)
def scalar_subquery_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries — Catalyst decorrelates both into
    aggregate left joins (PG pull-up parity, SURVEY.md §4.1)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("_pp_cust_ss")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_pp_ord_ss")
    return spark.sql(
        """
        SELECT c_custkey,
               (SELECT COUNT(*) FROM _pp_ord_ss o WHERE o.o_custkey = c.c_custkey)  AS n_orders,
               (SELECT ROUND(MAX(o_totalprice), 2) FROM _pp_ord_ss o
                 WHERE o.o_custkey = c.c_custkey)                                   AS best_order
        FROM _pp_cust_ss c
        """
    )


@query(
    "join_lateral",
    oracle="""
    SELECT c_custkey, t.o_orderkey AS best_orderkey, t.o_totalprice AS best_price
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
    """,
    group="B2",
)
def join_lateral_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL with ORDER BY + LIMIT 1 (PostgreSQL's idiomatic
    top-1-per-group); Spark 4 plans it as a lateral join."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("_pp_cust_lat")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_pp_ord_lat")
    return spark.sql(
        """
        SELECT c_custkey, t.o_orderkey AS best_orderkey, t.o_totalprice AS best_price
        FROM _pp_cust_lat c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM _pp_ord_lat o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
        """
    )


@query(
    "recursive_cte",
    oracle="""
    WITH RECURSIVE months(m) AS (
        SELECT 1 UNION ALL SELECT m + 1 FROM months WHERE m < 12
    )
    SELECT m, COUNT(o_orderkey) AS n_orders
    FROM months LEFT JOIN orders
      ON YEAR(o_orderdate) = 1996 AND MONTH(o_orderdate) = m
    GROUP BY m
    """,
    group="B5",
)
def recursive_cte_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (new in Spark 4): a generated month ladder outer-joined
    to data — the series-generation idiom PostgreSQL users reach for."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_pp_ord_rec")
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
            SELECT 1 UNION ALL SELECT m + 1 FROM months WHERE m < 12
        )
        SELECT m, COUNT(o_orderkey) AS n_orders
        FROM months LEFT JOIN _pp_ord_rec
          ON YEAR(o_orderdate) = 1996 AND MONTH(o_orderdate) = m
        GROUP BY m
        """
    )


@query(
    "ts_gapfill",
    oracle="""
    WITH ph AS (
        SELECT user_id, date_trunc('hour', ts) AS h,
               ROUND(SUM(value), 4) AS v_sum, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    spans AS (SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM ph GROUP BY 1),
    grid AS (
        SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        FROM spans
    )
    SELECT g.user_id, g.h,
           COALESCE(ph.n, 0) AS n_events,
           last_value(ph.v_sum IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
           ph.v_sum IS NULL AS gap
    FROM grid g LEFT JOIN ph ON g.user_id = ph.user_id AND g.h = ph.h
    """,
    group="C",
)
def ts_gapfill_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap-fill + LOCF: densify each user's hourly series
    over its own [min, max] span (sequence + explode builds the grid
    WITHOUT a driver loop), left-join the observed hours, carry the last
    observation forward per user.  Scale: grid join is a hash join on
    (user, hour); the LOCF window partitions per user over hours — bounded
    by the time span, not event count."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h"), "value"
    )
    ph = e.groupBy("user_id", "h").agg(
        F.round(F.sum("value"), 4).alias("v_sum"),
        F.count(F.lit(1)).alias("n"),
    )
    spans = ph.groupBy("user_id").agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = spans.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    joined = grid.join(ph, ["user_id", "h"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "h",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        F.last("v_sum", ignorenulls=True).over(w).alias("v_filled"),
        F.col("v_sum").isNull().alias("gap"),
    )


@query(
    "agg_histogram",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bin,
           COUNT(*)                      AS n,
           ROUND(MIN(o_totalprice), 2)   AS lo,
           ROUND(MAX(o_totalprice), 2)   AS hi
    FROM orders GROUP BY 1
    """,
    group="B3",
)
def agg_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram binning — one groupBy on a computed bin key
    (map-side partial agg; no sort, no window)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.floor(F.col("o_totalprice") / 50000).cast("bigint").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@query(
    "tpch_q4_shape",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 20 DAY)
    GROUP BY o_orderpriority
    """,
    group="B2",
)
def tpch_q4_shape_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): EXISTS-correlated
    subquery → left-semi join on the fact table, then a tiny aggregate.
    The date filter prunes orders BEFORE the semi join (pushdown)."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp_ntz"))
    )
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        l,
        (o.o_orderkey == l.l_orderkey)
        & (l.l_shipdate > o.o_orderdate + F.expr("INTERVAL 20 DAY")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@query(
    "tpch_q7_shape",
    oracle="""
    SELECT supp_nation, cust_nation, yr, ROUND(SUM(volume), 4) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(YEAR(l_shipdate) AS BIGINT) AS yr,
               l_extendedprice * (1 - l_discount) AS volume
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
           OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
    ) GROUP BY 1, 2, 3
    """,
    group="B2",
)
def tpch_q7_shape_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): two broadcast nation dims with a
    cross-pair predicate, fact-fact joins on keys, yearly rollup."""
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    j = (
        s.join(l, s.s_suppkey == l.l_suppkey)
        .join(o, o.o_orderkey == l.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
    )
    return (
        j.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("yr"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "yr")
        .agg(F.round(F.sum("volume"), 4).alias("revenue"))
    )


@query(
    "tpch_q14_shape",
    oracle="""
    SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / SUM(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
    group="B3",
)
def tpch_q14_shape_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): conditional aggregate ratio over
    a month slice; part joins broadcast, the shipdate filter prunes at the
    parquet scan."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "tpch_q19_shape",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 21)
       OR (p_brand = 'Brand#12' AND p_size BETWEEN 10 AND 30
           AND l_quantity >= 10 AND l_quantity <= 40)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 20 AND 50
           AND l_quantity >= 20 AND l_quantity <= 50)
    """,
    group="B2",
)
def tpch_q19_shape_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates): the
    OR-of-ANDs rides the broadcast hash join as a residual; Catalyst
    extracts the common p_partkey equi-key so no nested loop appears."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = l.join(p, l.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 21))
        | ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(10, 40))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(20, 50)
           & F.col("l_quantity").between(20, 50))
    )
    return j.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "revenue"
        )
    )


@query(
    "events_transitions",
    oracle="""
    WITH o AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS prev_type
        FROM events
    )
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n
    FROM o WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
    group="B4",
)
def events_transitions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (Markov view of user behavior): one
    lag window per user + one aggregate.  The window partitions per user;
    the transition matrix is |types|² — tiny at any scale."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = e.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    return o.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n"))


@query(
    "cohort_retention",
    oracle="""
    WITH d AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events GROUP BY 1, 2
    ),
    firsts AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY 1)
    SELECT f.cohort_day,
           DATE_DIFF('day', f.cohort_day, d.day) AS day_offset,
           COUNT(DISTINCT d.user_id) AS active_users
    FROM d JOIN firsts f ON d.user_id = f.user_id
    GROUP BY 1, 2
    """,
    group="B3",
)
def cohort_retention_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-active day, counted
    on each later active day.  Two aggregates + one equi join; the firsts
    frame is per-user (small) and broadcastable at any corpus scale."""
    e = load_table(spark, sf_dir, "events")
    d = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).distinct()
    firsts = d.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        d.join(firsts, "user_id")
        .select(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).cast("bigint").alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


@query(
    "events_funnel",
    oracle="""
    WITH clicks AS (
        SELECT user_id, MIN(ts) AS first_click
        FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    conv AS (
        SELECT c.user_id, MIN(e.ts) AS conv_ts
        FROM clicks c JOIN events e
          ON e.user_id = c.user_id AND e.event_type = 'purchase'
         AND e.ts > c.first_click
         AND e.ts <= c.first_click + INTERVAL 1 HOUR
        GROUP BY 1
    )
    SELECT COUNT(*)                        AS n_clickers,
           COUNT(conv.user_id)             AS n_converted,
           ROUND(CAST(COUNT(conv.user_id) AS DOUBLE) / COUNT(*), 6) AS conv_rate
    FROM clicks LEFT JOIN conv ON clicks.user_id = conv.user_id
    """,
    group="B2",
)
def events_funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step funnel (first click → purchase within 1h): per-user firsts
    aggregate, keyed interval join for the conversion step, left join for
    the rate.  All equi-keyed; the firsts frame is per-user-sized."""
    e = load_table(spark, sf_dir, "events")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    conv = (
        clicks.join(
            purch,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") > F.col("first_click"))
            & (F.col("p_ts") <= F.col("first_click") + F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy("user_id")
        .agg(F.min("p_ts").alias("conv_ts"))
        .select(F.col("user_id").alias("c_user"))
    )
    j = clicks.join(conv, clicks.user_id == conv.c_user, "left")
    return j.agg(
        F.count(F.lit(1)).alias("n_clickers"),
        F.count("c_user").alias("n_converted"),
        F.round(F.count("c_user").cast("double") / F.count(F.lit(1)), 6).alias(
            "conv_rate"
        ),
    )


@query(
    "dq_check",
    oracle="""
    SELECT 'lineitem_orphans' AS check_name,
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS n_bad
    UNION ALL
    SELECT 'orders_null_custkey',
           (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
    UNION ALL
    SELECT 'orders_dup_pk',
           (SELECT COUNT(*) FROM
             (SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1))
    UNION ALL
    SELECT 'lineitem_nonpositive_qty',
           (SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0)
    UNION ALL
    SELECT 'customer_bad_nation_fk',
           (SELECT COUNT(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey))
    """,
    group="A",
)
def dq_check_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit (the validation postpy users ran as SQL checks):
    referential integrity via anti joins (broadcast where the parent is
    dim-sized), PK uniqueness, null/domain rules — each check one scan or
    one join, unioned into a (check_name, n_bad) report."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")

    def one(name, bad_rows):
        return bad_rows.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).alias("n_bad"),
        )

    checks = [
        one("lineitem_orphans", l.join(o, l.l_orderkey == o.o_orderkey, "left_anti")),
        one("orders_null_custkey", o.filter(F.col("o_custkey").isNull())),
        one("orders_dup_pk", o.groupBy("o_orderkey").count().filter("count > 1")),
        one("lineitem_nonpositive_qty", l.filter(F.col("l_quantity") <= 0)),
        one(
            "customer_bad_nation_fk",
            c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left_anti"),
        ),
    ]
    out = checks[0]
    for ch in checks[1:]:
        out = out.unionByName(ch)
    return out


@query(
    "tpch_q22_shape",
    oracle="""
    WITH rich AS (
        SELECT * FROM customer
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                           WHERE c_acctbal > 0)
    )
    SELECT c_nationkey % 7 AS cntry_band,
           COUNT(*) AS n_cust,
           ROUND(SUM(c_acctbal), 2) AS total_bal
    FROM rich r
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = r.c_custkey)
    GROUP BY 1
    """,
    group="B2",
)
def tpch_q22_shape_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): scalar subquery
    (above-positive-average balance) + NOT EXISTS anti join (customers who
    never ordered) + banded aggregate.  The scalar lands as a broadcast
    one-row join; the anti join shuffles on the key."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    avg_pos = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    rich = c.join(F.broadcast(avg_pos)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    never = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return never.groupBy((F.col("c_nationkey") % 7).alias("cntry_band")).agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@query(
    "tpch_q17_shape",
    oracle="""
    WITH half_avg AS (
        SELECT l_partkey, 0.5 * AVG(l_quantity) AS threshold
        FROM lineitem GROUP BY l_partkey
    )
    SELECT p_brand,
           ROUND(SUM(l_extendedprice) / 7.0, 4) AS avg_yearly,
           COUNT(*) AS n_small
    FROM lineitem l
    JOIN half_avg h ON l.l_partkey = h.l_partkey
    JOIN part p     ON p.p_partkey = l.l_partkey
    WHERE l.l_quantity < h.threshold
    GROUP BY p_brand
    """,
    group="B2",
)
def tpch_q17_shape_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): the correlated
    per-part AVG subquery decorrelated into one groupBy on l_partkey joined
    back to the fact — both sides hash-partition on l_partkey so the join
    is co-located with the aggregate's own shuffle; the part dim
    broadcasts.  The avg threshold compares exactly cross-engine because
    l_quantity is small-integer (double sums are exact below 2^53).

    Scale note: the per-part aggregate's map-side partial MIN/SUM collapses
    the fact before the shuffle; no window over the whole fact table."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    half_avg = l.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.5).alias("threshold")
    )
    return (
        l.join(half_avg, "l_partkey")
        .filter(F.col("l_quantity") < F.col("threshold"))
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


@query(
    "tpch_q21_shape",
    oracle="""
    WITH le AS (
        SELECT l_orderkey, l_suppkey,
               CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                    THEN 1 ELSE 0 END AS late
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        WHERE o_orderstatus = 'F'
    ),
    per_os AS (
        SELECT l_orderkey, l_suppkey, MAX(late) AS sup_late
        FROM le GROUP BY l_orderkey, l_suppkey
    ),
    per_o AS (
        SELECT l_orderkey, COUNT(*) AS n_supp, SUM(sup_late) AS n_late
        FROM per_os GROUP BY l_orderkey
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM per_os
    JOIN per_o   USING (l_orderkey)
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE sup_late = 1 AND n_supp >= 2 AND n_late = 1
    GROUP BY s_name
    """,
    group="B2",
)
def tpch_q21_shape_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting), adapted to this
    schema's columns: "late" is l_shipdate > o_orderdate + 60 days (the
    testdata has no receipt/commit dates).  The original's EXISTS (another
    supplier on the order) + NOT EXISTS (no OTHER supplier late) double
    correlation is decorrelated into two stacked aggregates — per
    (order, supplier) lateness, then per-order supplier/late-supplier
    counts — joined back; a supplier qualifies when it is late, shares the
    order, and is the ONLY late supplier.  The second aggregate reuses the
    first's hash partitioning (orderkey prefix); supplier broadcasts."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    le = l.join(o, l.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
        ).cast("int").alias("late"),
    )
    per_os = le.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("late").alias("sup_late")
    )
    per_o = per_os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("sup_late").alias("n_late")
    )
    qual = (
        per_os.filter(F.col("sup_late") == 1)
        .join(per_o, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
    )
    return (
        qual.join(s, qual.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "tpch_q15_shape",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    group="B2",
)
def tpch_q15_shape_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): quarterly revenue per supplier, then
    the MAX-equality scalar subquery as a broadcast one-row join (ties kept,
    like the original).  Equality compares the ROUNDED revenue on both
    engines so the scalar max selection is stable cross-engine."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    revenue = l.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "total_revenue"
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("_mx"))
    return (
        revenue.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_mx"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "tpch_q8_shape",
    oracle="""
    SELECT yr,
           ROUND(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                 / SUM(volume), 6) AS mkt_share,
           ROUND(SUM(volume), 4) AS total_volume
    FROM (
        SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
               l_extendedprice * (1 - l_discount) AS volume,
               n2.n_name AS supp_nation
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region    ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    )
    GROUP BY yr
    """,
    group="B2",
)
def tpch_q8_shape_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): the full 8-relation star —
    fact chain lineitem→orders shuffled on keys, every dimension (part
    filtered, supplier, customer, nation×2, region) broadcast, then a
    conditional-share rollup by year.  The share divides two co-grouped
    sums, so no second pass over the data."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select(
        "p_partkey"
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey", "l_extendedprice", "l_discount"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select(
        "r_regionkey"
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    j = (
        l.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        j.select(
            F.year("o_orderdate").cast("bigint").alias("yr"),
            vol.alias("volume"),
            "supp_nation",
        )
        .groupBy("yr")
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(0.0))
                / F.sum("volume"),
                6,
            ).alias("mkt_share"),
            F.round(F.sum("volume"), 4).alias("total_volume"),
        )
    )


@query(
    "tpch_q6_shape",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    group="B2",
)
def tpch_q6_shape_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-revenue-change shape (TPC-H Q6): pure scan→filter→global agg.
    The cheapest TPC-H query and the purest pushdown test: all three
    predicates reach the parquet scan (PushedFilters), only 4 columns are
    read (ReadSchema), and the aggregate is a two-phase partial/final with
    no shuffle beyond the single-row exchange."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return l.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "tpch_q12_shape",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
    group="B2",
)
def tpch_q12_shape_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-modes-and-priority shape (TPC-H Q12, adapted: this schema
    has no l_shipmode/commitdate, so "late" is shipdate ≥ orderdate+60d and
    the grouping dim is l_linestatus).  Exercises a fact-fact join with a
    correlated-column residual predicate (shipdate vs orderdate crosses the
    join, so it can't push below it) plus conditional aggregation."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    ).select("l_orderkey", "l_shipdate", "l_linestatus")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "tpch_q13_shape",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderstatus <> 'F'
        GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
    group="B2",
)
def tpch_q13_shape_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-distribution shape (TPC-H Q13): LEFT join with the filter in
    the ON clause (NOT the WHERE — moving it there would drop order-less
    customers), then a two-level aggregation.  The second groupBy is over
    the already-tiny (c_count, n) frame, so its shuffle is trivial; the
    first aggregates on the join key, so AQE can reuse the join exchange."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderstatus"
    )
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderstatus") != "F"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "events_anomaly_zscore",
    oracle="""
    WITH s AS (
        SELECT user_id,
               AVG(value)         AS mu,
               STDDEV_SAMP(value) AS sigma,
               COUNT(*)           AS n
        FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, e.event_type,
           ROUND(e.value, 4) AS value,
           ROUND((e.value - s.mu) / s.sigma, 4) AS z
    FROM events e JOIN s USING (user_id)
    WHERE s.n >= 5 AND s.sigma > 0
      AND ABS(ROUND((e.value - s.mu) / s.sigma, 4)) > 3
    """,
    group="B3",
)
def events_anomaly_zscore_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity anomaly detection (data-quality / outlier triage): events
    whose value sits more than 3 sample standard deviations from the
    user's mean.  One partial-agg shuffle to user grain, stats joined back
    on the same key (co-located with the aggregate's partitioning) — the
    scan stays one pass + one broadcast-able stats frame.  The threshold
    compares the ROUNDED z so the cut is cross-engine reproducible."""
    e = load_table(spark, sf_dir, "events")
    s = e.groupBy("user_id").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
        F.count(F.lit(1)).alias("n"),
    )
    z = F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 4)
    return (
        e.join(s, "user_id")
        .filter((F.col("n") >= 5) & (F.col("sigma") > 0) & (F.abs(z) > 3))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.round("value", 4).alias("value"),
            z.alias("z"),
        )
    )


@query(
    "skyline_pareto",
    oracle="""
    WITH pts AS (
        SELECT o_totalprice AS price,
               MIN(DATE_DIFF('second', TIMESTAMP '1970-01-01 00:00:00',
                             o_orderdate)) AS d
        FROM orders GROUP BY o_totalprice
    ),
    w AS (
        SELECT price, d,
               MIN(d) OVER (ORDER BY price
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS prevmin
        FROM pts
    )
    SELECT price, CAST(d AS BIGINT) AS d_epoch
    FROM w WHERE prevmin IS NULL OR d < prevmin
    """,
    group="B4",
)
def skyline_pareto_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D SKYLINE (Pareto frontier): orders where no other order is both
    cheaper-or-equal AND earlier-or-equal (minimize price, minimize date) —
    the classic OLAP skyline operator (Börzsönyi et al., ICDE 2001).

    Scale path: the textbook formulation is a NOT EXISTS self-join (O(n²))
    or a one-task global window.  Here: (1) per-price min-date pre-agg
    (dominated-within-price rows die in a keyed shuffle), (2) the global
    exclusive running-min over price order via the range-partitioned
    two-phase scheme (ranking.global_running_max on the negated value — no
    single-task stage), (3) a point survives iff it achieves the inclusive
    running min AND is the first point doing so, where "first" is a cheap
    KEYED window partitioned by date (equal-date later points are
    dominated).  Equivalent to the oracle's exclusive-window form."""
    from postpy_spark.operators.ranking import global_running_max

    o = load_table(spark, sf_dir, "orders")
    epoch = F.expr(
        "CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 1000000 AS BIGINT)"
    )
    pts = (
        o.select(F.col("o_totalprice").alias("price"), epoch.alias("d"))
        .groupBy("price")
        .agg(F.min("d").alias("d"))
        .withColumn("negd", -F.col("d"))
    )
    r = global_running_max(pts, ["price"], "negd", "runmax")
    w_first = Window.partitionBy("d").orderBy("price")
    return (
        r.withColumn("rn_d", F.row_number().over(w_first))
        .filter((F.col("negd") == F.col("runmax")) & (F.col("rn_d") == 1))
        .select("price", F.col("d").cast("bigint").alias("d_epoch"))
    )


@query(
    "events_window_funnel",
    oracle="""
    WITH s1 AS (
        SELECT user_id, MIN(ts) FILTER (WHERE event_type = 'view') AS t1
        FROM events GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN s1 USING (user_id)
        WHERE e.event_type = 'click' AND s1.t1 IS NOT NULL
          AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 1 DAY
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN s1 USING (user_id) JOIN s2 USING (user_id)
        WHERE e.event_type = 'purchase'
          AND e.ts > s2.t2 AND e.ts <= s1.t1 + INTERVAL 1 DAY
        GROUP BY e.user_id
    )
    SELECT CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
                     WHEN s2.t2 IS NOT NULL THEN 2
                     WHEN s1.t1 IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
    GROUP BY 1
    """,
    group="B4",
)
def events_window_funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """windowFunnel (ClickHouse-style): deepest greedily-matched prefix of
    view → click → purchase within 1 day of the FIRST view (the anchor),
    histogrammed over users.  Greedy-anchored semantics ≡ the oracle's
    chained-min CTEs (first view, then first qualifying click, then first
    qualifying purchase).

    Scale: ONE shuffle — collect each user's event structs, sort in-array,
    and fold with the aggregate() HOF (JVM-side, no UDF).  The chained-min
    formulation the oracle uses would be three self-join shuffles over the
    full event stream; per-user arrays are session-sized, the standard
    sessionization memory bound."""
    DAY = 86_400_000_000  # µs
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    g = (
        e.select(
            "user_id",
            F.struct(
                us.alias("t"),
                F.col("event_type").alias("y"),
                F.col("event_id").alias("i"),
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("s")).alias("seq"))
    )
    init = F.struct(
        F.lit(0).alias("d"),
        F.lit(0).cast("long").alias("t1"),
        F.lit(0).cast("long").alias("tp"),
    )

    def step(acc, x):
        d, t1, tp = acc["d"], acc["t1"], acc["tp"]
        t, y = x["t"], x["y"]
        in_win = (t > tp) & (t <= t1 + F.lit(DAY))
        return (
            F.when(
                (d == 0) & (y == "view"),
                F.struct(F.lit(1).alias("d"), t.alias("t1"), t.alias("tp")),
            )
            .when(
                (d == 1) & (y == "click") & in_win,
                F.struct(F.lit(2).alias("d"), t1.alias("t1"), t.alias("tp")),
            )
            .when(
                (d == 2) & (y == "purchase") & in_win,
                F.struct(F.lit(3).alias("d"), t1.alias("t1"), t.alias("tp")),
            )
            .otherwise(acc)
        )

    return (
        g.select(F.aggregate("seq", init, step)["d"].alias("depth"))
        .groupBy("depth")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .select(F.col("depth").cast("bigint").alias("depth"), "n_users")
    )


# Exact cross-engine money arithmetic for the round-7 TPC-H shapes: prices
# carry 2 decimals and discounts 2 decimals, so ROUND(x*100) is an exact
# integer recovery; "cost4"/"v4" values are dollars*10^4 BIGINTs (cents x
# (100 - discount_pct)), and the derived per-unit supply cost uses integer
# floor division — every operation after the initial recovery is integer
# math, so the driver hash cannot see float noise.  DuckDB mirrors use //
# (integer floor div) which equals Spark's `div` for positive operands.
_EXT_CENTS = "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
_DISC_PCT = "CAST(ROUND(l_discount * 100) AS BIGINT)"
_QTY_INT = "CAST(l_quantity AS BIGINT)"


def _ps_cost4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived partsupp analog: (partkey, suppkey, min unit cost in
    dollars*10^4) from lineitem — the testdata has no partsupp table, so
    the supplier's best observed unit price stands in for ps_supplycost."""
    l = load_table(spark, sf_dir, "lineitem")
    cost4 = F.expr(f"({_EXT_CENTS} * 100) div {_QTY_INT}")
    return (
        l.select(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
            cost4.alias("c4"),
        )
        .groupBy("partkey", "suppkey")
        .agg(F.min("c4").alias("cost4"))
    )


_PS_COST4_SQL = """
        SELECT l_partkey AS partkey, l_suppkey AS suppkey,
               MIN((CAST(ROUND(l_extendedprice * 100) AS BIGINT) * 100)
                   // CAST(l_quantity AS BIGINT)) AS cost4
        FROM lineitem GROUP BY 1, 2
"""


@query(
    "tpch_q2_shape",
    oracle=f"""
    WITH ps AS ({_PS_COST4_SQL}),
    eu AS (
        SELECT s_suppkey, s_name, s_acctbal, n_name
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
                      JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    ),
    cand AS (
        SELECT p.p_partkey, e.s_name, e.n_name, e.s_acctbal, ps.cost4
        FROM ps JOIN part p ON p.p_partkey = ps.partkey
                JOIN eu e ON e.s_suppkey = ps.suppkey
        WHERE p.p_size < 15 AND p.p_type = 'LARGE'
    ),
    mn AS (SELECT p_partkey, MIN(cost4) AS min4 FROM cand GROUP BY 1)
    SELECT c.p_partkey, c.s_name, c.n_name, c.s_acctbal,
           CAST(c.cost4 AS BIGINT) AS cost4
    FROM cand c JOIN mn ON c.p_partkey = mn.p_partkey AND c.cost4 = mn.min4
    """,
    group="B2",
)
def tpch_q2_shape_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): the correlated MIN subquery
    over the region-restricted supplier pool, decorrelated into a per-part
    MIN aggregate joined back on (partkey, cost) equality — exact because
    cost4 is integer.  Supplier/nation/region dims broadcast; the derived
    partsupp aggregates before any join, so the min-join is co-partitioned
    on partkey.  Ties (two suppliers at the min) surface as multiple rows,
    matching the SQL."""
    ps = _ps_cost4(spark, sf_dir)
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") < 15) & (F.col("p_type") == "LARGE")
    )
    eu = (
        s.join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cand = (
        ps.join(p, ps.partkey == p.p_partkey)
        .join(eu, ps.suppkey == F.col("s_suppkey"))
        .select("p_partkey", "s_name", "n_name", "s_acctbal", "cost4")
    )
    mn = (
        cand.groupBy("p_partkey")
        .agg(F.min("cost4").alias("min4"))
        .withColumnRenamed("p_partkey", "mn_partkey")
    )
    return cand.join(
        mn,
        (F.col("p_partkey") == F.col("mn_partkey"))
        & (F.col("cost4") == F.col("min4")),
    ).select(
        "p_partkey", "s_name", "n_name", "s_acctbal",
        F.col("cost4").cast("bigint").alias("cost4"),
    )


@query(
    "tpch_q9_shape",
    oracle=f"""
    WITH ps AS ({_PS_COST4_SQL})
    SELECT n.n_name AS nation,
           CAST(YEAR(o.o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM({_EXT_CENTS} * (100 - {_DISC_PCT})
                    - ps.cost4 * {_QTY_INT}) AS BIGINT) AS profit4
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN ps         ON ps.partkey = l.l_partkey AND ps.suppkey = l.l_suppkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
    group="B2",
)
def tpch_q9_shape_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year): the classic
    5-way star around lineitem plus the derived partsupp for unit cost.
    Profit is computed entirely in integer dollars*10^4.  part filter is
    pushed to the scan and the dim broadcasts; the ps join co-partitions
    with lineitem on (partkey, suppkey)."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey")
    )
    ps = _ps_cost4(spark, sf_dir)
    amount4 = F.expr(
        f"{_EXT_CENTS} * (100 - {_DISC_PCT})"
    ) - F.col("cost4") * F.expr(_QTY_INT)
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(
            ps,
            (l.l_partkey == ps.partkey) & (l.l_suppkey == ps.suppkey),
        )
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(F.sum(amount4).cast("bigint").alias("profit4"))
    )


@query(
    "tpch_q5_shape",
    oracle=f"""
    SELECT n_name AS nation,
           CAST(SUM({_EXT_CENTS} * (100 - {_DISC_PCT})) AS BIGINT) AS revenue4
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1
    """,
    group="B2",
)
def tpch_q5_shape_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local-supplier volume) — the last of the 22 TPC-H
    query shapes (Q1 is the flagship agg_groupby): the 6-relation star
    whose distinguishing feature is the CORRELATED dimension predicate
    c_nationkey = s_nationkey (customer and supplier must share a
    nation), expressed as a residual on the supplier join so the planner
    keeps both hash joins.  Date filter pushes to the orders scan,
    region/nation/customer/supplier broadcast, revenue in integer
    dollars*10^4 (the money landmine)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", "n_name"
    )
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    ).select("r_regionkey")
    rev4 = F.expr(f"{_EXT_CENTS} * (100 - {_DISC_PCT})")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(rev4).cast("bigint").alias("revenue4"))
    )


@query(
    "tpch_q11_shape",
    oracle=f"""
    WITH ln AS (
        SELECT l_partkey,
               {_EXT_CENTS} * (100 - {_DISC_PCT}) AS v4
        FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
                      JOIN nation ON n_nationkey = s_nationkey
        WHERE n_name IN ('NATION_3', 'NATION_7')
    ),
    per AS (SELECT l_partkey, CAST(SUM(v4) AS BIGINT) AS value4
            FROM ln GROUP BY 1),
    tot AS (SELECT CAST(SUM(v4) AS BIGINT) AS total4 FROM ln)
    SELECT per.l_partkey AS partkey, per.value4
    FROM per, tot WHERE per.value4 * 1000 > tot.total4
    """,
    group="B3",
)
def tpch_q11_shape_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): per-part value within a nation
    subset, kept when above a fraction of the GLOBAL value — the
    HAVING-vs-global-scalar-subquery pattern.  The global total is a 1-row
    aggregate broadcast-crossed into the per-part frame (the same
    whitelisted 1-row BNLJ as text_tfidf's corpus size); integer compare
    via value4*1000 > total4 avoids any float fraction."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7")
    )
    ln = (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "l_partkey",
            F.expr(f"{_EXT_CENTS} * (100 - {_DISC_PCT})").alias("v4"),
        )
    )
    per = ln.groupBy("l_partkey").agg(F.sum("v4").cast("bigint").alias("value4"))
    tot = ln.agg(F.sum("v4").cast("bigint").alias("total4"))
    return (
        per.crossJoin(broadcast(tot))
        .filter(F.col("value4") * 1000 > F.col("total4"))
        .select(F.col("l_partkey").alias("partkey"), "value4")
    )


@query(
    "tpch_q16_shape",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    ok_supp AS (SELECT s_suppkey FROM supplier WHERE s_suppkey % 13 <> 0)
    SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM ps JOIN part ON p_partkey = l_partkey
            JOIN ok_supp ON ok_supp.s_suppkey = ps.l_suppkey
    WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 16, 25, 36, 49)
    GROUP BY 1, 2, 3
    """,
    group="B3",
)
def tpch_q16_shape_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier count by part attributes): distinct
    (part, supplier) pairs from the fact, an exclusion list on the
    supplier side (Q16's NOT IN complaints subquery — here a deterministic
    key predicate), and COUNT(DISTINCT) per part attribute triple.  The
    distinct-pair aggregate collapses the fact before any join; part and
    the supplier filter broadcast."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    )
    ok = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_suppkey") % 13 != 0
    ).select("s_suppkey")
    ps = l.select("l_partkey", "l_suppkey").distinct()
    return (
        ps.join(p, ps.l_partkey == p.p_partkey)
        .join(ok, ps.l_suppkey == F.col("s_suppkey"))
        .groupBy("p_brand", "p_type", F.col("p_size").cast("bigint").alias("p_size"))
        .agg(F.count_distinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


@query(
    "tpch_q20_shape",
    oracle="""
    WITH q AS (
        SELECT l_partkey, l_suppkey, SUM(l_quantity) AS sq
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
        GROUP BY 1, 2
    ),
    tot AS (SELECT l_partkey, SUM(sq) AS tq FROM q GROUP BY 1),
    wid AS (SELECT p_partkey FROM part WHERE p_name LIKE '%widget%'),
    excess AS (
        SELECT DISTINCT q.l_suppkey
        FROM q JOIN tot ON tot.l_partkey = q.l_partkey
               JOIN wid ON wid.p_partkey = q.l_partkey
        WHERE q.sq * 2 > tot.tq
    )
    SELECT s.s_suppkey, s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN excess e ON e.l_suppkey = s.s_suppkey
    WHERE n.n_regionkey IN (SELECT r_regionkey FROM region
                            WHERE r_name IN ('ASIA', 'EUROPE'))
    """,
    group="B2",
)
def tpch_q20_shape_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (suppliers with dominant share): nested semi-join
    chain — suppliers shipping >50% of a widget part's 1996 volume, then
    restricted to two regions.  Both aggregates partition on l_partkey (the
    share compare is a co-located join, not a window); the part/region
    filters broadcast; the final supplier restriction is a semi join on the
    DISTINCT excess-supplier set.  Quantities are integer-valued doubles,
    so SUM and the 2x compare are exact below 2^53."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    q = l.groupBy("l_partkey", "l_suppkey").agg(F.sum("l_quantity").alias("sq"))
    tot = q.groupBy("l_partkey").agg(F.sum("sq").alias("tq"))
    wid = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey")
    )
    excess = (
        q.join(tot, "l_partkey")
        .join(wid, F.col("l_partkey") == F.col("p_partkey"))
        .filter(F.col("sq") * 2 > F.col("tq"))
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name").isin("ASIA", "EUROPE")
    )
    return (
        s.join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(excess, s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "n_name")
    )


@query(
    "events_attribution",
    oracle="""
    WITH e AS (
        SELECT user_id, ts, event_id, event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                            > 1800000000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM e
    ),
    per_session AS (
        SELECT user_id, sid,
               MAX(CASE WHEN new_s = 1 THEN event_type END) AS channel,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN cents
                             ELSE 0 END) AS BIGINT) AS purchase_cents,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS has_purchase
        FROM s GROUP BY user_id, sid
    )
    SELECT channel,
           COUNT(*) AS n_sessions,
           CAST(SUM(has_purchase) AS BIGINT) AS sessions_with_purchase,
           CAST(SUM(purchase_cents) AS BIGINT) AS attributed_cents
    FROM per_session GROUP BY channel
    """,
    group="B4",
)
def events_attribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch marketing attribution: sessionize each user's events at
    a 30-minute gap, credit every session's purchase revenue to the
    session's FIRST event type (the acquisition channel).  The channel is
    recovered WITHOUT a second window: the session-opening row is exactly
    the row whose gap flag is 1, so one lag window (per user) + two hash
    aggregates cover it.  Revenue is exact integer cents on both sides
    (the float-sum-order / HUGEINT landmines).  Gap rule is strict '>' —
    an event at exactly prev+30min continues the session."""
    gap_us = 30 * 60 * 1_000_000
    e = load_table(spark, sf_dir, "events")
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id", "ts", "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.when(
            F.lag(t_us).over(w).isNull()
            | ((t_us - F.lag(t_us).over(w)) > gap_us),
            1,
        ).otherwise(0).alias("new_s"),
    )
    ws = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = flagged.withColumn("sid", F.sum("new_s").over(ws))
    per_session = sess.groupBy("user_id", "sid").agg(
        F.max(F.when(F.col("new_s") == 1, F.col("event_type"))).alias("channel"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("cents")).otherwise(0)
        ).alias("purchase_cents"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("has_purchase"),
    )
    return per_session.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("has_purchase").cast("long").alias("sessions_with_purchase"),
        F.sum("purchase_cents").cast("long").alias("attributed_cents"),
    )


@query(
    "ts_resample_ohlc",
    oracle="""
    WITH b AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               value, ts, event_id
        FROM events
    ),
    r AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY event_type, day
                                  ORDER BY ts, event_id) AS rn_a,
               ROW_NUMBER() OVER (PARTITION BY event_type, day
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM b
    )
    SELECT event_type, day,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           COUNT(*) AS n
    FROM r GROUP BY 1, 2
    """,
    group="B4",
)
def ts_resample_ohlc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample the event stream into daily OHLC bars per event type (the
    financial resample).  Spark side needs NO window: open/close are
    `min_by`/`max_by` on a (ts, event_id) struct key inside ONE hash
    aggregate — partial aggregation map-side, a single shuffle on the
    bar key, scale-safe under skew.  The oracle spells the same semantics
    with row_number because DuckDB's arg_min is single-key; the
    (ts, event_id) tiebreak makes first/last deterministic in both.
    Values pass through unrounded — singletons and min/max are bit-stable
    across engines (no float-sum-order hazard)."""
    e = load_table(spark, sf_dir, "events")
    key = F.struct("ts", "event_id")
    return (
        e.select(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            "value", "ts", "event_id",
        )
        .groupBy("event_type", "day")
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "win_running_distinct",
    oracle="""
    SELECT event_id, user_id,
           COUNT(DISTINCT event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS n_types_seen
    FROM events
    """,
    group="B4",
)
def win_running_distinct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count over a window — the aggregate Spark's window
    functions don't support directly.  For a bounded domain (5 event
    types) the right rewrite is size(collect_set) over the running frame:
    one window, one shuffle, per-row state capped at |domain|.  For
    high-cardinality domains use the two-window first-seen-flag form
    (row_number=1 per (key,value) → running sum) — same result, state-free,
    at the cost of a second shuffle.  DuckDB runs the native DISTINCT
    window as the oracle."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.size(F.collect_set("event_type").over(w)).cast("bigint").alias("n_types_seen"),
    )


@query(
    "events_dau_wau",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
        FROM events
    ),
    d AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY day)
    SELECT d.day, d.dau,
           (SELECT COUNT(DISTINCT u2.user_id) FROM ud u2
            WHERE u2.day BETWEEN d.day - 6 AND d.day) AS wau
    FROM d
    """,
    group="B4",
)
def events_dau_wau_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily/weekly active users — the rolling-distinct aggregate.  A
    distinct count is not sum-decomposable, so a rolling window can't
    reuse daily partials; instead MANUFACTURE the frame: each (user, day)
    pair is exploded to the 7 target days it contributes to, and WAU is a
    plain count-distinct per target day.  Explode factor = window length
    (bounded, chosen), shuffles stay key-partitioned, no correlated
    scan per day — that per-day rescan is exactly what the oracle's
    subquery does and what doesn't scale."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"), "user_id"
    ).distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day"),
    )
    wau = contrib.groupBy("day").agg(F.countDistinct("user_id").alias("wau"))
    dau = ud.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    return dau.join(wau, "day").select("day", "dau", "wau")


@query(
    "events_top_paths",
    oracle="""
    WITH e AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                            > 1800000000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM e
    ),
    seqs AS (
        SELECT user_id, sid, list(event_type ORDER BY ts, event_id) AS seq
        FROM s GROUP BY 1, 2
    ),
    paths AS (
        SELECT seq[i+1] || '>' || seq[i+2] || '>' || seq[i+3] AS path
        FROM seqs, UNNEST(range(LEN(seq) - 2)) u(i)
        WHERE LEN(seq) >= 3
    ),
    c AS (SELECT path, COUNT(*) AS n FROM paths GROUP BY 1),
    r AS (
        SELECT path, n,
               CAST(ROW_NUMBER() OVER (ORDER BY n DESC, path) AS BIGINT) AS rank
        FROM c
    )
    SELECT path, n, rank FROM r WHERE rank <= 10
    """,
    group="B4",
)
def events_top_paths_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 3-step behavior paths within sessions (the product-analytics
    'common journeys' query): 30-min sessionization → per-session ordered
    type sequence (one array_sort on a collected struct — the ordering
    rides INSIDE the aggregate, no extra window) → sliding 3-grams via a
    transform() HOF (narrow) → count.  The final rank window runs over
    ≤ |event_types|³ aggregated rows (125 here) — bounded, whitelisted.
    Ties rank deterministically by path string on both engines."""
    gap_us = 30 * 60 * 1_000_000
    e = load_table(spark, sf_dir, "events")
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(
            F.lag(t_us).over(w).isNull() | ((t_us - F.lag(t_us).over(w)) > gap_us), 1
        ).otherwise(0).alias("new_s"),
    )
    ws = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = flagged.withColumn("sid", F.sum("new_s").over(ws))
    seqs = (
        sess.groupBy("user_id", "sid")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("ev")
        )
        .select(F.transform("ev", lambda x: x["event_type"]).alias("seq"))
        .filter(F.size("seq") >= 3)
    )
    seq = F.col("seq")
    paths = seqs.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("seq") - 2),
                lambda i: F.concat_ws(
                    ">",
                    F.element_at(seq, i),
                    F.element_at(seq, i + 1),
                    F.element_at(seq, i + 2),
                ),
            )
        ).alias("path")
    )
    c = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n"))
    wr = Window.orderBy(F.col("n").desc(), F.col("path"))
    return (
        c.withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rank") <= 10)
    )


@query(
    "ts_interpolate_linear",
    oracle="""
    WITH ph AS (
        SELECT user_id, date_trunc('hour', ts) AS h,
               ROUND(SUM(value), 4) AS v_sum
        FROM events GROUP BY 1, 2
    ),
    spans AS (SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM ph GROUP BY 1),
    grid AS (
        SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        FROM spans
    ),
    j AS (
        SELECT g.user_id, g.h,
               date_diff('hour', TIMESTAMP '1990-01-01 00:00:00', g.h) AS eh,
               ph.v_sum AS v
        FROM grid g LEFT JOIN ph ON g.user_id = ph.user_id AND g.h = ph.h
    ),
    ctx AS (
        SELECT user_id, h, v,
               last_value(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
               last_value(CASE WHEN v IS NOT NULL THEN eh END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY h
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peh,
               first_value(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY h
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
               first_value(CASE WHEN v IS NOT NULL THEN eh END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY h
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS neh,
               eh
        FROM j
    )
    SELECT user_id, h,
           CASE
               WHEN v IS NOT NULL THEN v
               WHEN pv IS NULL THEN nv
               WHEN nv IS NULL THEN pv
               ELSE CAST((2 * (CAST(ROUND(pv * 10000) AS BIGINT) * (neh - eh)
                               + CAST(ROUND(nv * 10000) AS BIGINT) * (eh - peh))
                          + (neh - peh)) // (2 * (neh - peh)) AS DOUBLE) / 10000
           END AS v_interp,
           v IS NOT NULL AS observed
    FROM ctx
    """,
    group="C",
)
def ts_interpolate_linear_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap-fill with LINEAR interpolation (the
    `interpolate()` companion to ts_gapfill's LOCF): densify each user's
    hourly series, then fill every missing hour from the straight line
    between its nearest observed neighbours (edges clamp to the nearest
    single neighbour).  The hour index is an epoch-hour BIGINT and the
    interpolation runs in 1e-4 FIXED POINT (4dp neighbour values × exact
    integer hour weights, round-half-up integer divide) — a float lerp +
    ROUND diverges across engines on half-boundary doubles, the
    cross-engine rounding landmine this repo documents.

    Scale (r15 restructure, guide §2.3/§2.4): the old shape densified the
    grid FIRST — spans aggregate → hour explode → (user, hour) hash join
    of the grid against the observations → TWO whole-grid window passes
    (ascending + descending running frames) to find each grid row's
    neighbours.  But every gap hour's neighbours are just its bracketing
    CONSECUTIVE observed anchors, so one ``lead()`` window over the
    OBSERVED rows carries all four neighbour values, and the dense grid is
    generated ON the anchor pair with the interpolation computed in place.
    The dense grid — the largest frame in the query, span-sized not
    event-sized — now flows through a narrow explode+project only: never
    a join, never a window, never an exchange.  Plan: 6 Exchanges / 3
    window sorts / 1 join → 3 Exchanges / 1 window sort / 0 joins
    (plans/r15/ts_interpolate_linear_*.txt); the spans aggregate and grid
    join disappear.  Rows identical: the fixed-point lerp arithmetic is
    byte-for-byte the same expression over the same (pv, nv, peh, neh)
    values and observed hours output their own ``v``.

    An hour whose ``SUM(value)`` is NULL stays on the grid but is a gap,
    not an anchor, as in the oracle: the neighbour values and hours come
    from ``lag``/``lead`` IGNORE NULLS over the hourly rows, a NULL first
    or last hour clamps to its one observed neighbour, and a user with no
    non-NULL hour gets NULL everywhere.

    The interpolation runs in 1e-4 FIXED POINT (4dp neighbour values ×
    exact integer hour weights, round-half-up integer divide) — a float
    lerp + ROUND diverges across engines on half-boundary doubles, the
    cross-engine rounding landmine this repo documents."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h"), "value"
    )
    anchor = F.lit("1990-01-01 00:00:00").cast("timestamp_ntz")
    ph = (
        e.groupBy("user_id", "h")
        .agg(F.round(F.sum("value"), 4).alias("v"))
        .withColumn(
            "oeh",
            F.when(
                F.col("v").isNotNull(), F.timestamp_diff("HOUR", anchor, F.col("h"))
            ),
        )
    )
    w = Window.partitionBy("user_id").orderBy("h")

    def skip_nulls(fn: str, c: str):
        return F.expr(f"{fn}({c}) IGNORE NULLS").over(w)

    nxt = ph.select(
        "user_id",
        "h",
        "v",
        F.coalesce("v", skip_nulls("lag", "v")).alias("pv"),
        F.coalesce("oeh", skip_nulls("lag", "oeh")).alias("peh"),
        skip_nulls("lead", "v").alias("nv"),
        skip_nulls("lead", "oeh").alias("neh"),
        F.lead("h").over(w).alias("nh"),
    )
    # one grid row per hour in [h, nh): the hourly row itself plus its gap
    # hours; the LAST row per user (nh null) emits just itself, so the
    # union over rows is exactly the sequence(min(h), max(h)) grid.
    g = nxt.select(
        "user_id",
        "v",
        "pv",
        "peh",
        "nv",
        "neh",
        F.explode(
            F.sequence(
                "h",
                F.coalesce(
                    F.col("nh") - F.expr("INTERVAL 1 HOUR"), F.col("h")
                ),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("h"),
    ).withColumn("eh", F.timestamp_diff("HOUR", anchor, F.col("h")))
    observed = F.col("v").isNotNull() & (F.col("eh") == F.col("peh"))
    scaled = g.select(
        "user_id",
        "h",
        observed.alias("observed"),
        "v",
        "pv",
        "nv",
        (
            F.round(F.col("pv") * 10000).cast("bigint") * (F.col("neh") - F.col("eh"))
            + F.round(F.col("nv") * 10000).cast("bigint") * (F.col("eh") - F.col("peh"))
        ).alias("num"),
        (F.col("neh") - F.col("peh")).alias("den"),
    )
    interp = (
        F.when(F.col("observed"), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(F.expr("(2 * num + den) div (2 * den)").cast("double") / 10000)
    )
    return scaled.select(
        "user_id", "h", interp.alias("v_interp"), "observed"
    )


@query(
    "ts_ewma",
    oracle="""
    WITH w AS (
        SELECT event_id, user_id,
               list(CAST(value AS DOUBLE)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS vals
        FROM events
    )
    SELECT event_id, user_id,
           CAST(len(vals) AS BIGINT) AS n,
           ROUND(list_reduce(vals, (acc, x) -> acc * 0.7 + x)
                 / ((1 - POWER(0.7, len(vals))) / 0.3), 6) AS ewma
    FROM w
    """,
    group="B4",
)
def ts_ewma_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha=0.3) per user over the
    last 20 observations — the debiased form (pandas ewm adjust=True):
    numerator is the fold ``acc*(1-a) + x`` over the frame in order, the
    denominator is the closed-form geometric mass ``(1-(1-a)^n)/a``.  Both
    engines run the IDENTICAL fold order, so the doubles agree bit-for-bit
    before the final ROUND.

    Scale: a bounded 20-row window frame — one sort per user partition and
    O(frame) state per row; no per-user series materialization.  The fold
    is a JVM higher-order function (aggregate), not a Python UDF."""
    w20 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    e = load_table(spark, sf_dir, "events")
    vals = F.collect_list(F.col("value")).over(w20)
    out = e.select("event_id", "user_id", vals.alias("vals"))
    num = F.aggregate(
        F.col("vals"), F.lit(0.0), lambda acc, x: acc * F.lit(0.7) + x
    )
    n = F.size("vals")
    den = (F.lit(1.0) - F.pow(F.lit(0.7), n.cast("double"))) / F.lit(0.3)
    return out.select(
        "event_id",
        "user_id",
        n.cast("bigint").alias("n"),
        F.round(num / den, 6).alias("ewma"),
    )


@query(
    "graph_triangle_count",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
    ),
    deg AS (
        SELECT node, COUNT(*) AS d FROM (
            SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
        ) GROUP BY node
    ),
    tri AS (
        SELECT COUNT(*) AS t
        FROM e e1 JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
                  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
    ),
    agg AS (
        SELECT (SELECT COUNT(*) FROM deg)                    AS n_nodes,
               (SELECT COUNT(*) FROM e)                      AS n_edges,
               (SELECT t FROM tri)                           AS n_triangles,
               (SELECT SUM(d * (d - 1) / 2) FROM deg)        AS wedges
    )
    SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges,
           CAST(n_triangles AS BIGINT) AS n_triangles,
           ROUND(3.0 * n_triangles / wedges, 6) AS global_clustering
    FROM agg
    """,
    group="B2",
)
def graph_triangle_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + global clustering coefficient on the
    market-basket graph (parts are adjacent iff some order contains both).
    The Spark plan uses DEGREE ORIENTATION (Chiba–Nishizeki / the
    Suri–Vassilvitskii MapReduce scheme): every undirected edge is
    directed from its lower (degree, id) endpoint, out-neighbour pairs are
    enumerated per source, and a pair closes a triangle iff the oriented
    edge between the two heads exists — out-degrees are bounded by
    O(sqrt(m)), so the pair-enumeration join cannot blow up on a hub node
    the way the naive u<v<w three-way self-join can.  The oracle counts
    the same triangles with the naive canonical join (fine at oracle sf).

    Scale: deg is node-sized and broadcast onto the edge list; the
    pair-enumeration and closure joins are hash joins on (src) and
    (head, head).  The edge list and its orientation are consumed by
    FOUR plan subtrees (degrees, both pair sides, closure, edge count),
    so both are materialized once with an eager ``localCheckpoint`` —
    without it Catalyst re-derives the co-order self-join per subtree
    (measured 8x in the physical plan).  One row out."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")).distinct()
    a, b = op.alias("a"), op.alias("b")
    e = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orientation key: rank(n) = (deg, id) packed into one BIGINT
    r = (F.col("d") * F.lit(1_000_000_000) + F.col("node")).alias("r")
    rk = deg.select("node", r)
    eo = (
        e.join(rk.withColumnRenamed("node", "u").withColumnRenamed("r", "ru"), "u")
        .join(rk.withColumnRenamed("node", "v").withColumnRenamed("r", "rv"), "v")
        .select(
            F.when(F.col("ru") < F.col("rv"), F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(F.col("ru") < F.col("rv"), F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.greatest("ru", "rv").alias("rdst"),
        )
        .localCheckpoint()
    )
    x, y = eo.alias("x"), eo.alias("y")
    pairs = x.join(
        y,
        (F.col("x.src") == F.col("y.src")) & (F.col("x.rdst") < F.col("y.rdst")),
    ).select(F.col("x.dst").alias("h1"), F.col("y.dst").alias("h2"))
    closed = pairs.join(
        eo.select(F.col("src").alias("h1"), F.col("dst").alias("h2")),
        ["h1", "h2"],
        "left_semi",
    )
    tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("wedges"),
    )
    edges_n = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        stats.crossJoin(edges_n)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            F.round(F.lit(3.0) * F.col("n_triangles") / F.col("wedges"), 6).alias(
                "global_clustering"
            ),
        )
    )


@query(
    "stat_crosstab_chi2",
    oracle="""
    WITH cells AS (
        SELECT event_type AS et, dayofweek(ts) AS dow, COUNT(*) AS obs
        FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT et, SUM(obs) AS rtot FROM cells GROUP BY et),
    ct AS (SELECT dow, SUM(obs) AS ctot FROM cells GROUP BY dow),
    tot AS (SELECT SUM(obs) * 1.0 AS n FROM cells)
    SELECT ROUND(SUM((cells.obs - rt.rtot * 1.0 * ct.ctot / tot.n)
                     * (cells.obs - rt.rtot * 1.0 * ct.ctot / tot.n)
                     / (rt.rtot * 1.0 * ct.ctot / tot.n)), 4)  AS chi2,
           CAST((COUNT(DISTINCT cells.et) - 1)
                * (COUNT(DISTINCT cells.dow) - 1) AS BIGINT)    AS dof,
           CAST(MAX(tot.n) AS BIGINT)                           AS n
    FROM cells
    JOIN rt USING (et) JOIN ct USING (dow) CROSS JOIN tot
    """,
    group="B3",
)
def stat_crosstab_chi2_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test on the event_type ×
    day-of-week contingency table — "is activity mix independent of
    weekday?".  The raw scan reduces to ≤ |types|·7 CELLS in one partial
    aggregate; marginals and the statistic are computed on that tiny
    frame (broadcast joins), so the data passes once no matter the
    scale.  Spark's dayofweek is 1-based Sunday, DuckDB's 0-based —
    aligned by subtracting 1 Spark-side."""
    e = load_table(spark, sf_dir, "events")
    cells = (
        e.select(
            F.col("event_type").alias("et"),
            (F.dayofweek("ts") - 1).alias("dow"),
        )
        .groupBy("et", "dow")
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    rt = cells.groupBy("et").agg(F.sum("obs").alias("rtot"))
    ct = cells.groupBy("dow").agg(F.sum("obs").alias("ctot"))
    tot = cells.agg((F.sum("obs") * 1.0).alias("n"))
    exp = F.col("rtot") * 1.0 * F.col("ctot") / F.col("n")
    return (
        cells.join(F.broadcast(rt), "et")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                F.sum((F.col("obs") - exp) * (F.col("obs") - exp) / exp), 4
            ).alias("chi2"),
            (
                (F.countDistinct("et") - 1) * (F.countDistinct("dow") - 1)
            ).cast("bigint").alias("dof"),
            F.max("n").cast("bigint").alias("n"),
        )
    )


@query(
    "stat_ttest_welch",
    oracle="""
    WITH g AS (
        SELECT event_type,
               AVG(value)       AS m,
               VAR_SAMP(value)  AS v,
               COUNT(*) * 1.0   AS n
        FROM events
        WHERE event_type IN ('purchase', 'click')
        GROUP BY event_type
    ),
    w AS (
        SELECT a.m AS m1, a.v AS v1, a.n AS n1,
               b.m AS m2, b.v AS v2, b.n AS n2
        FROM g a JOIN g b
          ON a.event_type = 'purchase' AND b.event_type = 'click'
    )
    SELECT ROUND((m1 - m2) / SQRT(v1 / n1 + v2 / n2), 4)          AS t_stat,
           ROUND((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
                 / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                    + (v2 / n2) * (v2 / n2) / (n2 - 1)), 2)       AS df_welch,
           CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2
    FROM w
    """,
    group="B3",
)
def stat_ttest_welch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test between purchase and
    click event values — the A/B-test primitive.  ONE conditional
    aggregate pass reduces the scan to two (mean, var, n) triples; the
    statistic and Welch-Satterthwaite df are arithmetic on a 1-row
    frame.  Identical expression trees on both engines so IEEE ops
    agree before the final rounding."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    g = e.groupBy("event_type").agg(
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
        (F.count(F.lit(1)) * 1.0).alias("n"),
    )
    a = g.filter(F.col("event_type") == "purchase").select(
        F.col("m").alias("m1"), F.col("v").alias("v1"), F.col("n").alias("n1")
    )
    b = g.filter(F.col("event_type") == "click").select(
        F.col("m").alias("m2"), F.col("v").alias("v2"), F.col("n").alias("n2")
    )
    w = a.crossJoin(F.broadcast(b))
    se1 = F.col("v1") / F.col("n1")
    se2 = F.col("v2") / F.col("n2")
    return w.select(
        F.round((F.col("m1") - F.col("m2")) / F.sqrt(se1 + se2), 4).alias("t_stat"),
        F.round(
            (se1 + se2) * (se1 + se2)
            / (se1 * se1 / (F.col("n1") - 1) + se2 * se2 / (F.col("n2") - 1)),
            2,
        ).alias("df_welch"),
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
    )


@query(
    "stat_trend_by_group",
    oracle="""
    SELECT event_type,
           ROUND(regr_slope(value,
                 date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts)
                 * 1.0) * 86400, 6)            AS slope_per_day,
           ROUND(regr_r2(value,
                 date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts)
                 * 1.0), 6)                    AS r2,
           regr_count(value,
                 date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts)
                 * 1.0)                        AS n
    FROM events GROUP BY event_type
    """,
    group="B3",
)
def stat_trend_by_group_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group linear time trend (value drift per day) — the grouped
    companion to the global agg_regr: regr_slope/regr_r2 are
    partial-aggregable moments, so the scan reduces in ONE hash
    aggregate regardless of group count.  x is integer epoch-seconds
    (built from unix_micros — TIMESTAMP_NTZ never casts to double)
    made double identically on both engines."""
    e = load_table(spark, sf_dir, "events")
    x = (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1000000)).cast(
        "bigint"
    ) * 1.0
    return e.groupBy("event_type").agg(
        F.round(F.regr_slope(F.col("value"), x) * 86400, 6).alias("slope_per_day"),
        F.round(F.regr_r2(F.col("value"), x), 6).alias("r2"),
        F.regr_count(F.col("value"), x).alias("n"),
    )


@query(
    "agg_histogram_equidepth",
    oracle="""
    WITH t AS (
        SELECT o_totalprice,
               NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
        FROM orders
    )
    SELECT CAST(decile AS BIGINT)        AS decile,
           COUNT(*)                      AS n,
           ROUND(MIN(o_totalprice), 2)   AS lo,
           ROUND(MAX(o_totalprice), 2)   AS hi
    FROM t GROUP BY decile
    """,
    group="B3",
)
def agg_histogram_equidepth_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (decile boundaries) — the partner of the
    equi-width agg_histogram, and the optimizer's-statistics shape.
    Deciles come from the DISTRIBUTED ranked path (range exchange +
    offset prefix sum, operators/ranking.py), never a one-task global
    NTILE window; the tiebreak on o_orderkey makes bucket edges
    deterministic cross-engine."""
    from postpy_spark.operators.ranking import global_row_number, ntile_expr

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked = global_row_number(
        o, ["o_totalprice", "o_orderkey"], rn_col="_rn", total_col="_n"
    )
    return (
        ranked.withColumn("decile", ntile_expr(F.col("_rn"), F.col("_n"), 10))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@query(
    "ts_seasonal_profile",
    oracle="""
    WITH g AS (SELECT AVG(value) AS gmean FROM events)
    SELECT dayofweek(ts)                       AS dow,
           CAST(hour(ts) AS BIGINT)            AS hod,
           COUNT(*)                            AS n,
           ROUND(AVG(value), 4)                AS baseline,
           ROUND(AVG(value) / MAX(g.gmean), 4) AS seasonal_factor
    FROM events CROSS JOIN g
    GROUP BY 1, 2
    """,
    group="B3",
)
def ts_seasonal_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal baseline profile: mean value per (day-of-week,
    hour-of-day) slot and its ratio to the global mean — the lookup
    table a seasonal-adjusted anomaly detector joins against (the
    per-entity zscore op covers the non-seasonal case).  One aggregate
    to ≤168 slots + a broadcast 1-row global mean; dayofweek origins
    aligned Spark-side."""
    e = load_table(spark, sf_dir, "events")
    g = e.agg(F.avg("value").alias("gmean"))
    return (
        e.crossJoin(F.broadcast(g))
        .groupBy(
            (F.dayofweek("ts") - 1).alias("dow"),
            F.hour("ts").cast("bigint").alias("hod"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).alias("baseline"),
            F.round(F.avg("value") / F.max("gmean"), 4).alias("seasonal_factor"),
        )
    )


@query(
    "dq_entropy_profile",
    oracle="""
    WITH stacked AS (
        SELECT 'lang' AS col_name, lang AS val FROM documents
        UNION ALL
        SELECT 'source' AS col_name, source AS val FROM documents
    ),
    counts AS (
        SELECT col_name, val, COUNT(*) AS n
        FROM stacked WHERE val IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT col_name, SUM(n) * 1.0 AS t FROM counts GROUP BY 1)
    SELECT counts.col_name,
           ROUND(-SUM((n / t) * LOG2(n / t)), 6)   AS entropy_bits,
           CAST(COUNT(*) AS BIGINT)                AS n_distinct,
           ROUND(MAX(n) / MAX(t), 6)               AS top_share
    FROM counts JOIN tot USING (col_name)
    GROUP BY counts.col_name
    """,
    group="B3",
)
def dq_entropy_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profiling: Shannon entropy (bits), distinct
    count and modal share for each categorical column — the "is this
    column informative / degenerate?" check a pipeline runs before
    training.  stack() unpivots the columns in the scan projection (no
    extra pass per column); everything after is value-count-sized."""
    d = load_table(spark, sf_dir, "documents")
    stacked = d.select(
        F.expr("stack(2, 'lang', lang, 'source', source) AS (col_name, val)")
    )
    counts = (
        stacked.filter(F.col("val").isNotNull())
        .groupBy("col_name", "val")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = counts.groupBy("col_name").agg((F.sum("n") * 1.0).alias("t"))
    p = F.col("n") / F.col("t")
    return (
        counts.join(F.broadcast(tot), "col_name")
        .groupBy("col_name")
        .agg(
            F.round(-F.sum(p * F.log2(p)), 6).alias("entropy_bits"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.round(F.max("n") / F.max("t"), 6).alias("top_share"),
        )
    )


@query(
    "join_existence_flags",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                   AND o.o_orderpriority = '1-URGENT')    AS has_urgent,
           EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                   AND o.o_totalprice > 200000)           AS has_big
    FROM customer c
    """,
    group="B2",
)
def join_existence_flags_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N correlated EXISTS predicates as ONE mark join: instead of one
    semi join per flag (N shuffles of the fact side), the fact table
    reduces to per-key boolean aggregates in a single pass and joins
    once — the classic rewrite for wide "has_X" feature vectors at
    scale."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    flags = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderpriority") == "1-URGENT").alias("has_urgent"),
        F.max(F.col("o_totalprice") > 200000).alias("has_big"),
    )
    return c.join(flags, c.c_custkey == flags.o_custkey, "left").select(
        "c_custkey",
        "c_mktsegment",
        F.coalesce("has_urgent", F.lit(False)).alias("has_urgent"),
        F.coalesce("has_big", F.lit(False)).alias("has_big"),
    )


@query(
    "win_ratio_to_report",
    oracle="""
    WITH agg AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               o_orderpriority                                AS priority,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT)                                AS revenue_cents
        FROM orders GROUP BY 1, 2
    )
    SELECT month, priority, revenue_cents,
           ROUND(revenue_cents * 1.0
                 / SUM(revenue_cents) OVER (PARTITION BY month), 6) AS share
    FROM agg
    """,
    group="B4",
)
def win_ratio_to_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total analytics (Oracle's RATIO_TO_REPORT): each
    (month, priority)'s fraction of its month's revenue.  The window
    runs over the AGGREGATED frame (months × priorities — tiny), never
    the raw scan; revenue is exact BIGINT cents so the ratio is
    deterministic cross-engine."""
    o = load_table(spark, sf_dir, "orders")
    agg = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("revenue_cents")
    )
    w = Window.partitionBy("month")
    return agg.select(
        "month",
        "priority",
        "revenue_cents",
        F.round(F.col("revenue_cents") * 1.0 / F.sum("revenue_cents").over(w), 6)
        .alias("share"),
    )


@query(
    "agg_weighted_stats",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 4)
               AS w_mean,
           ROUND(SQRT(SUM(l_extendedprice * l_extendedprice * l_quantity)
                      / SUM(l_quantity)
                      - (SUM(l_extendedprice * l_quantity) / SUM(l_quantity))
                        * (SUM(l_extendedprice * l_quantity) / SUM(l_quantity))),
                 2)                                        AS w_std,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT)
               AS total_weight_centi
    FROM lineitem GROUP BY l_returnflag
    """,
    group="B3",
)
def agg_weighted_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-weighted mean / population std per group via moment
    sums (Σwx, Σwx², Σw) — everything partial-aggregable, one shuffle.
    The std rounds at 2 (not 4): it is a difference of large
    near-equal moments, so the last float digits carry cancellation
    noise; the mean has no cancellation and keeps 4."""
    l = load_table(spark, sf_dir, "lineitem")
    swx = F.sum(F.col("l_extendedprice") * F.col("l_quantity"))
    swx2 = F.sum(
        F.col("l_extendedprice") * F.col("l_extendedprice") * F.col("l_quantity")
    )
    sw = F.sum("l_quantity")
    mean = swx / sw
    return l.groupBy("l_returnflag").agg(
        F.round(mean, 4).alias("w_mean"),
        F.round(F.sqrt(swx2 / sw - mean * mean), 2).alias("w_std"),
        F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
        .cast("long")
        .alias("total_weight_centi"),
    )


@query(
    "join_scd2_pointintime",
    oracle="""
    WITH dim AS (
        SELECT c_custkey AS key, c_mktsegment AS segment,
               TIMESTAMP '2020-01-01 00:00:00' AS valid_from,
               CASE WHEN c_custkey % 3 = 0
                    THEN TIMESTAMP '2024-01-15 00:00:00' END AS valid_to
        FROM customer
        UNION ALL
        SELECT c_custkey, 'UPGRADED',
               TIMESTAMP '2024-01-15 00:00:00', CAST(NULL AS TIMESTAMP)
        FROM customer WHERE c_custkey % 3 = 0
    )
    SELECT e.event_id, e.user_id, d.segment, d.valid_from
    FROM events e JOIN dim d
      ON e.user_id = d.key
     AND e.ts >= d.valid_from
     AND (d.valid_to IS NULL OR e.ts < d.valid_to)
    """,
    group="B2",
)
def join_scd2_pointintime_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against a type-2 SCD dimension: each event
    joins the dimension version VALID AT ITS OWN TIMESTAMP (no time-
    travel leakage — the training-data staple).  The equi key carries
    the hash join; the validity interval is a residual predicate that
    keeps exactly one version per event because SCD2 intervals
    partition time.  Never a quadratic interval pairing, never an asof
    sort — per-key version counts are small by construction."""
    c = load_table(spark, sf_dir, "customer")
    v1 = c.select(
        F.col("c_custkey").alias("key"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("2020-01-01 00:00:00").cast("timestamp_ntz").alias("valid_from"),
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.lit("2024-01-15 00:00:00").cast("timestamp_ntz"),
        ).alias("valid_to"),
    )
    v2 = c.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("key"),
        F.lit("UPGRADED").alias("segment"),
        F.lit("2024-01-15 00:00:00").cast("timestamp_ntz").alias("valid_from"),
        F.lit(None).cast("timestamp_ntz").alias("valid_to"),
    )
    dim = v1.unionByName(v2)
    e = load_table(spark, sf_dir, "events")
    return e.join(
        dim,
        (e.user_id == dim.key)
        & (e.ts >= dim.valid_from)
        & (dim.valid_to.isNull() | (e.ts < dim.valid_to)),
    ).select("event_id", "user_id", "segment", "valid_from")


@query(
    "fn_winsorize",
    oracle="""
    WITH b AS (
        SELECT event_type,
               quantile_cont(value, 0.05) AS lo,
               quantile_cont(value, 0.95) AS hi
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           ROUND(e.value, 4)                              AS value,
           ROUND(LEAST(GREATEST(e.value, b.lo), b.hi), 4) AS clipped,
           (e.value < b.lo OR e.value > b.hi)             AS was_clipped
    FROM events e JOIN b USING (event_type)
    """,
    group="D",
)
def fn_winsorize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (clip at per-group exact p05/p95) — the outlier
    tamer applied before training-statistics jobs.  One exact-percentile
    aggregate reduces the scan to |groups| rows of bounds; the bounds
    broadcast back onto the same scan.  Spark's percentile() and
    DuckDB's quantile_cont share linear interpolation, so bounds agree
    to float precision."""
    e = load_table(spark, sf_dir, "events")
    b = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return e.join(F.broadcast(b), "event_type").select(
        "event_id",
        "event_type",
        F.round("value", 4).alias("value"),
        F.round(clipped, 4).alias("clipped"),
        ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))).alias(
            "was_clipped"
        ),
    )


@query(
    "graph_label_propagation",
    oracle="""
    SELECT c_custkey - c_custkey % 5 AS community,
           COUNT(*)                  AS size,
           MIN(c_custkey)            AS min_member
    FROM customer GROUP BY 1
    """,
    group="D",
)
def graph_label_propagation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by label propagation
    (operators/graph.py::label_propagation) on a planted topology: 5-node
    cliques (keys sharing floor(k/5)) bridged pairwise inside each decade
    by one (k%10==4, k+1) edge.  Majority voting must keep each CLIQUE a
    community despite the bridge — connected components would merge the
    decade — so the converged labels have the closed form
    ``community = k - k%5``, which is the SQL oracle: an exact gate on an
    iterative algorithm.  Edges: per-clique self-join (|clique|²=25,
    bounded) + bridge projection; iterations as documented on the
    operator."""
    from postpy_spark.operators.graph import label_propagation

    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    grp = c.withColumn("g", F.col("c_custkey") - F.col("c_custkey") % 5)
    a, b = grp.alias("a"), grp.alias("b")
    clique = a.join(b, "g").filter(F.col("a.c_custkey") < F.col("b.c_custkey")).select(
        F.col("a.c_custkey").alias("id_a"), F.col("b.c_custkey").alias("id_b")
    )
    bridge = c.filter(F.col("c_custkey") % 10 == 4).select(
        F.col("c_custkey").alias("id_a"), (F.col("c_custkey") + 1).alias("id_b")
    )
    # cliques homogenize in ~3 rounds; the fixpoint check cadence is
    # operators/fixpoint.py's
    labels = label_propagation(clique.unionByName(bridge), n_iter=8)
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).alias("size"), F.min("node").alias("min_member")
    )


@query(
    "events_attribution_linear",
    oracle="""
    WITH e AS (
        SELECT user_id, ts, event_id, event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                            > 1800000000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM e
    ),
    per_session AS (
        SELECT user_id, sid,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN cents
                             ELSE 0 END) AS BIGINT)                 AS purchase_cents,
               SUM(CASE WHEN event_type <> 'purchase' THEN 1
                        ELSE 0 END)                                 AS n_touches
        FROM s GROUP BY user_id, sid
    ),
    credited AS (
        SELECT s.event_type AS channel,
               (p.purchase_cents * 1000000) // p.n_touches AS credit_ucents
        FROM s JOIN per_session p USING (user_id, sid)
        WHERE s.event_type <> 'purchase'
          AND p.n_touches > 0 AND p.purchase_cents > 0
    )
    SELECT channel,
           COUNT(*)                                 AS n_touches,
           ROUND(CAST(SUM(credit_ucents) AS BIGINT) / 100000000.0, 2)
               AS attributed_dollars
    FROM credited GROUP BY channel
    """,
    group="B4",
)
def events_attribution_linear_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution (companion to the first-touch
    events_attribution): each converting session's purchase revenue is
    split equally across its non-purchase touches.  Same single
    sessionize window; the per-session rollup joins BACK on
    (user_id, sid) — co-partitioned with the window's own hash
    distribution, so no extra full shuffle of the events.  Credits are
    EXACT integer micro-cents (floor division): the per-channel sum is
    then order-free, where a float credit sum flips the rounded total
    across partial-sum orders."""
    gap_us = 30 * 60 * 1_000_000
    e = load_table(spark, sf_dir, "events")
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id", "ts", "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.when(
            F.lag(t_us).over(w).isNull() | ((t_us - F.lag(t_us).over(w)) > gap_us),
            1,
        ).otherwise(0).alias("new_s"),
    )
    ws = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = flagged.withColumn("sid", F.sum("new_s").over(ws))
    per_session = sess.groupBy("user_id", "sid").agg(
        F.sum(F.when(F.col("event_type") == "purchase", F.col("cents")).otherwise(0))
        .cast("long")
        .alias("purchase_cents"),
        F.sum(F.when(F.col("event_type") != "purchase", 1).otherwise(0)).alias(
            "n_touches"
        ),
    )
    credited = (
        sess.filter(F.col("event_type") != "purchase")
        .join(per_session, ["user_id", "sid"])
        .filter((F.col("n_touches") > 0) & (F.col("purchase_cents") > 0))
        .select(
            F.col("event_type").alias("channel"),
            # exact integer micro-cents (floor div) — a float credit sum
            # flips the rounded total across partial-sum orders (seen at
            # sf0.1); integer sums are order-free on both engines
            F.expr("purchase_cents * 1000000L div n_touches").alias(
                "credit_ucents"
            ),
        )
    )
    return credited.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.round(F.sum("credit_ucents").cast("long") / 100000000.0, 2).alias(
            "attributed_dollars"
        ),
    )


@query(
    "ml_woe_encoding",
    oracle="""
    WITH lab AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pos
        FROM events GROUP BY user_id
    ),
    feat AS (
        SELECT c.c_mktsegment AS segment, lab.pos
        FROM lab JOIN customer c ON lab.user_id = c.c_custkey
    ),
    seg AS (
        SELECT segment,
               COUNT(*)                    AS n_users,
               CAST(SUM(pos) AS BIGINT)    AS n_pos,
               CAST(SUM(1 - pos) AS BIGINT) AS n_neg
        FROM feat GROUP BY segment
    ),
    tot AS (SELECT SUM(n_pos) * 1.0 AS tp, SUM(n_neg) * 1.0 AS tn FROM seg)
    SELECT segment, n_users, n_pos, n_neg,
           ROUND(LN(((n_pos + 0.5) / (tot.tp + 0.5))
                    / ((n_neg + 0.5) / (tot.tn + 0.5))), 6) AS woe
    FROM seg CROSS JOIN tot
    """,
    group="D",
)
def ml_woe_encoding_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence encoding of a categorical feature against a
    binary label (did the user ever purchase?) — the classic
    credit-scoring / feature-engineering transform.  Label and feature
    each reduce in one aggregate; WOE is arithmetic on the |segments|
    frame with 0.5 Laplace smoothing so empty cells stay finite.
    Totals ride the whitelisted broadcast-1-row pattern."""
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    lab = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("pos")
    )
    feat = lab.join(c, lab.user_id == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"), "pos"
    )
    seg = feat.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(1 - F.col("pos")).cast("long").alias("n_neg"),
    )
    tot = seg.agg(
        (F.sum("n_pos") * 1.0).alias("tp"), (F.sum("n_neg") * 1.0).alias("tn")
    )
    return seg.crossJoin(F.broadcast(tot)).select(
        "segment",
        "n_users",
        "n_pos",
        "n_neg",
        F.round(
            F.log(
                ((F.col("n_pos") + 0.5) / (F.col("tp") + 0.5))
                / ((F.col("n_neg") + 0.5) / (F.col("tn") + 0.5))
            ),
            6,
        ).alias("woe"),
    )


@query("agg_kmv_setops", oracle=None, group="B3")
def agg_kmv_setops_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-style KMV set-operation estimates
    (operators/sketch.py::kmv_set_estimates): distinct-user cardinality
    of two overlapping event slices (first 20 days vs last 20 days of
    the month), their union, intersection and Jaccard — all from two
    256-hash sketches, never a re-scan.  Rows-only (xxhash64 is
    engine-specific); the ±3σ accuracy and exact-merge contracts are
    pytest-pinned."""
    from postpy_spark.operators import sketch as SK

    e = load_table(spark, sf_dir, "events")
    day = F.dayofmonth("ts")
    a = SK.kmv_build(e.filter(day <= 20), "user_id", k=256)
    b = SK.kmv_build(e.filter(day > 10), "user_id", k=256)
    return SK.kmv_set_estimates(a, b, k=256)


@query(
    "embed_centroid_drift",
    oracle="""
    WITH d AS (SELECT LEN(embedding) AS dim FROM embeddings LIMIT 1),
    x AS (
        SELECT CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END AS s,
               i.idx,
               CAST(embedding[i.idx] AS DOUBLE) AS val
        FROM embeddings
        CROSS JOIN (SELECT UNNEST(range(1, (SELECT dim FROM d) + 1)) AS idx) i
    ),
    m AS (SELECT s, idx, AVG(val) AS mu FROM x GROUP BY s, idx),
    j AS (
        SELECT a.mu AS ma, b.mu AS mb
        FROM m a JOIN m b USING (idx)
        WHERE a.s = 0 AND b.s = 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS dim,
           ROUND(SUM(ma * mb)
                 / (SQRT(SUM(ma * ma)) * SQRT(SUM(mb * mb))), 6) AS cos_drift,
           ROUND(SQRT(SUM(ma * ma)), 6) AS l2_a,
           ROUND(SQRT(SUM(mb * mb)), 6) AS l2_b
    FROM j
    """,
    group="D",
)
def embed_centroid_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift between two corpus slices (even vs
    odd vec_id — stand-ins for train vs serve batches): cosine between
    the slice CENTROIDS, the cheap first-order drift alarm a feature
    store runs per ingest.  One posexplode + per-(slice, dim) partial
    aggregate — the reduce is dimension-bounded (2·d rows), the corpus
    passes once, and nothing ever materializes a d×d matrix (that's
    embed_pca's job).  Spark's 0-based posexplode aligns to DuckDB's
    1-based subscripts via pos+1."""
    em = load_table(spark, sf_dir, "embeddings")
    x = em.select(
        (F.col("vec_id") % 2).alias("s"),
        F.posexplode("embedding").alias("pos", "v"),
    ).select("s", (F.col("pos") + 1).alias("idx"), F.col("v").cast("double").alias("val"))
    m = x.groupBy("s", "idx").agg(F.avg("val").alias("mu"))
    a = m.filter(F.col("s") == 0).select("idx", F.col("mu").alias("ma"))
    b = m.filter(F.col("s") == 1).select("idx", F.col("mu").alias("mb"))
    j = a.join(b, "idx")
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("dim"),
        F.round(
            F.sum(F.col("ma") * F.col("mb"))
            / (
                F.sqrt(F.sum(F.col("ma") * F.col("ma")))
                * F.sqrt(F.sum(F.col("mb") * F.col("mb")))
            ),
            6,
        ).alias("cos_drift"),
        F.round(F.sqrt(F.sum(F.col("ma") * F.col("ma"))), 6).alias("l2_a"),
        F.round(F.sqrt(F.sum(F.col("mb") * F.col("mb"))), 6).alias("l2_b"),
    )


@query(
    "sql_scalar_udf",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount), 4)                  AS net,
           ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6)   AS gross
    FROM lineitem WHERE l_quantity > 45
    """,
    group="B6",
)
def sql_scalar_udf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar UDFs (Spark 4 `CREATE TEMPORARY FUNCTION …
    RETURN <expr>`) — the PostgreSQL `CREATE FUNCTION … LANGUAGE SQL`
    parity surface.  The body INLINES into the plan at analysis time
    (plain expression, whole-stage codegen, pushdown-friendly) — unlike
    a Python UDF there is no serialization boundary, which is why this
    is the right way to package reusable business expressions at
    100 TB.  The oracle writes the expressions inline, proving the
    inlining is semantics-preserving.  Rounding is at the arithmetic's
    exact decimal width (4 = 2+2, 6 = 2+2+2 — see project_expr)."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION pp_net(price DOUBLE, disc DOUBLE) "
        "RETURNS DOUBLE RETURN price * (1 - disc)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION pp_gross(net DOUBLE, tax DOUBLE) "
        "RETURNS DOUBLE RETURN net * (1 + tax)"
    )
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_pp_li_sqludf")
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber,
               ROUND(pp_net(l_extendedprice, l_discount), 4)                AS net,
               ROUND(pp_gross(pp_net(l_extendedprice, l_discount), l_tax), 6) AS gross
        FROM _pp_li_sqludf WHERE l_quantity > 45
        """
    )


@query(
    "stat_mad_outliers",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_type, e.value, med.med,
               ABS(e.value - med.med) AS adev
        FROM events e JOIN med USING (event_type)
    ),
    mad AS (
        SELECT event_type, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT dev.event_type,
           ROUND(MAX(dev.med), 4)   AS median,
           ROUND(MAX(mad.mad), 4)   AS mad,
           CAST(SUM(CASE WHEN dev.adev > 3 * 1.4826 * mad.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev JOIN mad USING (event_type)
    GROUP BY dev.event_type
    """,
    group="B3",
)
def stat_mad_outliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via Median Absolute Deviation — the
    heavy-tail-safe alternative to the z-score op (a single extreme
    value drags mean AND stddev, masking itself; the median/MAD pair is
    50%-breakdown robust).  Two exact-percentile aggregates with the
    per-group results broadcast back between passes; 1.4826 scales MAD
    to σ-equivalents under normality."""
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(F.percentile("value", F.lit(0.5)).alias("med"))
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(F.percentile("adev", F.lit(0.5)).alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.max("med"), 4).alias("median"),
            F.round(F.max("mad"), 4).alias("mad"),
            F.sum(
                F.when(F.col("adev") > 3 * 1.4826 * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


@query(
    "events_activity_streaks",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    isl AS (
        SELECT user_id, d,
               d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                        AS INTEGER) AS island
        FROM days
    ),
    streaks AS (
        SELECT user_id, island, COUNT(*) AS len,
               MIN(d) AS streak_start
        FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(MAX(len) AS BIGINT)   AS longest_streak,
           CAST(COUNT(*) AS BIGINT)   AS n_streaks,
           MIN(streak_start)          AS first_day
    FROM streaks GROUP BY user_id
    """,
    group="B4",
)
def events_activity_streaks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-day activity streaks (gaps-and-islands via the
    date-minus-row_number trick): the calendar twin of the time-gap
    sessionize ops — islands form in DATE space, so a user active at
    23:59 and 00:01 is on a streak even though sessionize would split.
    Distinct user-days first (one aggregate) shrinks the window input
    to ≤ users×days rows; the island window partitions per user."""
    e = load_table(spark, sf_dir, "events")
    days = e.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn(
        "island", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    streaks = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len"), F.min("d").alias("streak_start")
    )
    return streaks.groupBy("user_id").agg(
        F.max("len").cast("bigint").alias("longest_streak"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.min("streak_start").alias("first_day"),
    )


@query(
    "join_null_skew_routed",
    oracle="""
    WITH e AS (
        SELECT event_id,
               CASE WHEN event_type IN ('view', 'click', 'error')
                    THEN NULL ELSE user_id END AS cust_ref
        FROM events
    )
    SELECT e.event_id, e.cust_ref, c.c_mktsegment
    FROM e LEFT JOIN customer c ON e.cust_ref = c.c_custkey
    """,
    group="B2",
)
def join_null_skew_routed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-skew-routed outer join: ~60% of the fact rows carry a NULL
    join key (unattributed events — the real-world shape of optional
    foreign keys).  A naive left join hashes every NULL into ONE
    reducer — the classic silent straggler.  Routing: null-keyed rows
    BYPASS the join entirely (their output is known: all dim columns
    NULL) and union back around it, so the shuffle carries only keyed
    rows.  Result identical to the plain LEFT JOIN oracle; the bypass
    is plan-pinned (no null rows enter the exchange)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(
            F.col("event_type").isin("view", "click", "error"), F.lit(None)
        )
        .otherwise(F.col("user_id"))
        .alias("cust_ref"),
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    keyed = e.filter(F.col("cust_ref").isNotNull()).join(
        c, F.col("cust_ref") == F.col("c_custkey"), "left"
    ).select("event_id", "cust_ref", "c_mktsegment")
    nulls = e.filter(F.col("cust_ref").isNull()).select(
        "event_id", "cust_ref", F.lit(None).cast("string").alias("c_mktsegment")
    )
    return keyed.unionByName(nulls)


@query(
    "events_pareto_gini",
    oracle="""
    WITH per_user AS (
        SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT n,
               ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS rn,
               SUM(n) OVER (ORDER BY n DESC, user_id
                            ROWS UNBOUNDED PRECEDING) AS cum_n,
               (SELECT SUM(n) FROM per_user) AS total,
               (SELECT COUNT(*) FROM per_user) AS n_users
        FROM per_user
    )
    SELECT CAST(MIN(CASE WHEN cum_n * 1.0 / total >= 0.8 THEN rn END)
                AS BIGINT)                                    AS users_for_80pct,
           CAST(MAX(n_users) AS BIGINT)                       AS n_users,
           ROUND(2.0 * SUM(cum_n * 1.0 / total) / MAX(n_users)
                 - 1.0 - 1.0 / MAX(n_users), 6)               AS gini
    FROM ranked
    """,
    group="B4",
)
def events_pareto_gini_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity concentration: how many top users produce 80% of events,
    plus the Gini coefficient from the Lorenz curve.  With users ranked
    by activity DESC the cumulative shares are the COMPLEMENT of the
    ascending Lorenz curve, so the discrete form is
    2·Σcumshare/n − 1 − 1/n  (one-user-owns-all → 1−1/n, uniform → 0);
    the ascending-form 1 − 2·Σ/n + 1/n would negate the sign (r7 advice).
    Sign pinned on a concentrated synthetic distribution in
    tests/test_composite_units.py.  The ranking runs on the distributed
    ranked path
    (operators/ranking.py) over the per-USER aggregate — users-sized,
    never a one-task window on raw events."""
    from postpy_spark.operators.ranking import global_row_number

    e = load_table(spark, sf_dir, "events")
    per_user = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("_negn", -F.col("n"))  # desc key pre-negated (plain
        # ascending names only on the bucketed ranking path)
    )
    ranked = global_row_number(
        per_user,
        ["_negn", "user_id"],
        rn_col="rn",
        total_col="n_users",
    ).drop("_negn")
    tot = per_user.agg(F.sum("n").alias("total"))
    # cum_n via the distributed prefix sum over the rn order — no global
    # one-task window even on this users-sized frame
    from postpy_spark.operators.ranking import global_running_sum

    cum = global_running_sum(ranked, ["rn"], "n", sum_col="cum_n").crossJoin(
        F.broadcast(tot)
    )
    share = F.col("cum_n") * 1.0 / F.col("total")
    return cum.agg(
        F.min(F.when(share >= 0.8, F.col("rn"))).cast("bigint").alias(
            "users_for_80pct"
        ),
        F.max("n_users").cast("bigint").alias("n_users"),
        F.round(
            2.0 * F.sum(share) / F.max("n_users") - 1.0 - 1.0 / F.max("n_users"), 6
        ).alias("gini"),
    )


@query(
    "ts_change_point",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, AVG(value) AS m, COUNT(*) AS n
        FROM events GROUP BY 1
    ),
    c AS (
        SELECT d, m, n,
               SUM(m * n) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cum_mn,
               SUM(n) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)     AS cum_n,
               SUM(m * n) OVER ()                                    AS tot_mn,
               SUM(n) OVER ()                                        AS tot_n,
               ROW_NUMBER() OVER (ORDER BY d)                        AS rn,
               COUNT(*) OVER ()                                      AS days
        FROM daily
    ),
    scored AS (
        SELECT d,
               ROUND(ABS(cum_mn / cum_n
                         - (tot_mn - cum_mn) / (tot_n - cum_n)), 6) AS shift
        FROM c WHERE rn < days
    )
    SELECT d AS change_day, shift
    FROM scored ORDER BY shift DESC, change_day LIMIT 1
    """,
    group="B4",
)
def ts_change_point_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-point detection (binary segmentation, one split): the day
    whose before/after weighted-mean gap is largest.  The raw scan
    reduces to one DAILY aggregate (≤ a few hundred rows at any data
    volume — days, not events), and every cumulative runs on that
    bounded frame, so the windows here are days-sized by construction
    (the only place a plain running window is the right call)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.avg("value").alias("m"), F.count(F.lit(1)).alias("n")
    )
    w_run = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = daily.select(
        "d",
        F.sum(F.col("m") * F.col("n")).over(w_run).alias("cum_mn"),
        F.sum("n").over(w_run).alias("cum_n"),
        F.sum(F.col("m") * F.col("n")).over(w_all).alias("tot_mn"),
        F.sum("n").over(w_all).alias("tot_n"),
        F.row_number().over(Window.orderBy("d")).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("days"),
    )
    scored = c.filter(F.col("rn") < F.col("days")).select(
        F.col("d").alias("change_day"),
        F.round(
            F.abs(
                F.col("cum_mn") / F.col("cum_n")
                - (F.col("tot_mn") - F.col("cum_mn"))
                / (F.col("tot_n") - F.col("cum_n"))
            ),
            6,
        ).alias("shift"),
    )
    return scored.orderBy(F.col("shift").desc(), "change_day").limit(1)


@query(
    "graph_bfs_levels",
    oracle="""
    SELECT c_custkey - c_custkey % 10 AS root,
           CAST(c_custkey % 10 AS BIGINT) AS level,
           COUNT(*) AS n
    FROM customer GROUP BY 1, 2
    """,
    group="D",
)
def graph_bfs_levels_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS levels by iterative frontier expansion — the
    third exact-gated iterative algorithm next to connected components
    and label propagation: on the planted path topology (k → k+1 inside
    each decade) the BFS level from each decade head has the closed
    form ``k % 10``, which is the SQL oracle.  Per iteration ONE
    frontier-to-edges join + anti-join against visited (both keyed
    shuffles); frontier state never exceeds the node set, and the loop
    exits on an aggregate-only empty-frontier check."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    edges = (
        c.filter(F.col("c_custkey") % 10 < 9)
        .select(
            F.col("c_custkey").alias("src"),
            (F.col("c_custkey") + 1).alias("dst"),
        )
    )
    roots = c.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("node"),
        F.col("c_custkey").alias("root"),
        F.lit(0).cast("bigint").alias("level"),
    )
    visited = roots
    frontier = roots
    for level in range(1, 11):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(
                F.col("dst").alias("node"),
                "root",
                F.lit(level).cast("bigint").alias("level"),
            )
            .join(visited.select("node"), "node", "left_anti")
            .dropDuplicates(["node"])
        )
        nxt = nxt.localCheckpoint(eager=False)
        if nxt.limit(1).count() == 0:
            break
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited.groupBy("root", "level").agg(F.count(F.lit(1)).alias("n"))


@query(
    "dq_observe_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT)                                  AS n_rows,
           CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_negative,
           CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_user,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)   AS total_cents
    FROM events
    """,
    group="A",
)
def dq_observe_metrics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-flight data-quality metrics via ``df.observe`` (the Spark
    Observation API): the invariants piggyback on a query the pipeline
    was running ANYWAY — here a pass-through projection — so row counts,
    violation counts and control totals cost ZERO extra scans, where
    dq_check pays one scan per audit.  This is how a 100 TB ingest job
    self-audits: observe on the write path, alert on the metrics map.
    The oracle recomputes the same metrics relationally."""
    from pyspark.sql import Observation

    e = load_table(spark, sf_dir, "events")
    obs = Observation()
    observed = e.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias("n_negative"),
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0)).alias(
            "n_null_user"
        ),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
    )
    observed.write.format("noop").mode("overwrite").save()  # the "real" job
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                int(m["n_negative"]),
                int(m["n_null_user"]),
                int(m["total_cents"]),
            )
        ],
        "n_rows BIGINT, n_negative BIGINT, n_null_user BIGINT, total_cents BIGINT",
    )


@query(
    "stat_moments_shape",
    oracle="""
    WITH v AS (
        SELECT event_type, value / 100.0 AS x FROM events
    ),
    m AS (
        SELECT event_type,
               COUNT(*) * 1.0   AS n,
               SUM(x)           AS s1,
               SUM(x * x)       AS s2,
               SUM(x * x * x)   AS s3,
               SUM(x * x * x * x) AS s4
        FROM v GROUP BY event_type
    )
    SELECT event_type,
           ROUND((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
                 / POWER(s2 / n - (s1 / n) * (s1 / n), 1.5), 4)  AS skewness,
           ROUND((s4 / n - 4 * (s1 / n) * (s3 / n)
                  + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                  - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                 / ((s2 / n - (s1 / n) * (s1 / n))
                    * (s2 / n - (s1 / n) * (s1 / n))) - 3, 4)    AS excess_kurtosis,
           CAST(n AS BIGINT) AS n
    FROM m
    """,
    group="B3",
)
def stat_moments_shape_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness + excess kurtosis per group from RAW MOMENT
    SUMS (Σx..Σx⁴) — one partial-aggregable pass, and the reason to
    avoid the built-ins here: Spark's kurtosis() and DuckDB's kurtosis()
    pick different bias corrections, so the portable form is the
    explicit central-moment algebra, identical expression trees on both
    engines.  Values are pre-scaled by 1/100 (skewness and kurtosis are
    scale-invariant) so Σx⁴ keeps ~9 digits of float headroom against
    partial-sum-order noise at any data volume; rounded at 4."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", (F.col("value") / 100.0).alias("x")
    )
    m = e.groupBy("event_type").agg(
        (F.count(F.lit(1)) * 1.0).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
        F.sum(F.col("x") * F.col("x") * F.col("x")).alias("s3"),
        F.sum(F.col("x") * F.col("x") * F.col("x") * F.col("x")).alias("s4"),
    )
    mu = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - mu * mu
    m3 = F.col("s3") / F.col("n") - 3 * mu * (F.col("s2") / F.col("n")) + 2 * mu * mu * mu
    m4 = (
        F.col("s4") / F.col("n")
        - 4 * mu * (F.col("s3") / F.col("n"))
        + 6 * mu * mu * (F.col("s2") / F.col("n"))
        - 3 * mu * mu * mu * mu
    )
    return m.select(
        "event_type",
        F.round(m3 / F.pow(m2, 1.5), 4).alias("skewness"),
        F.round(m4 / (m2 * m2) - 3, 4).alias("excess_kurtosis"),
        F.col("n").cast("bigint").alias("n"),
    )


@query(
    "join_spatial_grid",
    oracle="""
    WITH pts AS (
        SELECT event_id, value AS x, user_id * 1.0 AS y FROM events
    ),
    boxes AS (
        SELECT n_nationkey AS box_id,
               n_nationkey * 15.0 AS xlo, n_nationkey * 15.0 + 40 AS xhi,
               n_nationkey * 5.0  AS ylo, n_nationkey * 5.0 + 25  AS yhi
        FROM nation
    )
    SELECT b.box_id,
           COUNT(p.event_id)                 AS n_points,
           ROUND(COALESCE(SUM(p.x), 0), 4)   AS sum_x
    FROM boxes b LEFT JOIN pts p
      ON p.x >= b.xlo AND p.x < b.xhi AND p.y >= b.ylo AND p.y < b.yhi
    GROUP BY b.box_id
    """,
    group="B2",
)
def join_spatial_grid_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial (point-in-rectangle) join via GRID BINNING — the 2-D
    sibling of join_interval_overlap: a keyless spatial theta join
    becomes an equi-join by snapping geometry to a fixed grid.  Each
    point lands in exactly ONE cell; each rectangle explodes to the
    cells it covers (sequence × sequence) — so every candidate pair
    surfaces exactly once and needs NO distinct.  The equi-join on
    (cx, cy) carries the hash shuffle; exact containment is a residual
    predicate.  At 100 TB this is how geo joins run without a spatial
    index: pick the cell size near the median rectangle size so the
    per-rectangle explosion stays O(1)."""
    W, H = 50.0, 25.0
    e = load_table(spark, sf_dir, "events")
    pts = e.select(
        "event_id",
        F.col("value").alias("x"),
        (F.col("user_id") * 1.0).alias("y"),
        F.floor(F.col("value") / W).alias("cx"),
        F.floor(F.col("user_id") / H).alias("cy"),
    )
    n = load_table(spark, sf_dir, "nation")
    boxes = n.select(
        F.col("n_nationkey").alias("box_id"),
        (F.col("n_nationkey") * 15.0).alias("xlo"),
        (F.col("n_nationkey") * 15.0 + 40).alias("xhi"),
        (F.col("n_nationkey") * 5.0).alias("ylo"),
        (F.col("n_nationkey") * 5.0 + 25).alias("yhi"),
    )
    cells = boxes.select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("xlo") / W), F.floor((F.col("xhi") - 1e-9) / W)
            )
        ).alias("cx"),
    ).select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("ylo") / H), F.floor((F.col("yhi") - 1e-9) / H)
            )
        ).alias("cy"),
    )
    hits = pts.join(F.broadcast(cells), ["cx", "cy"]).filter(
        (F.col("x") >= F.col("xlo"))
        & (F.col("x") < F.col("xhi"))
        & (F.col("y") >= F.col("ylo"))
        & (F.col("y") < F.col("yhi"))
    )
    agg = hits.groupBy("box_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.sum("x"), 4).alias("sum_x"),
    )
    # LEFT-join semantics of the oracle: empty boxes report 0
    return (
        boxes.select("box_id")
        .join(agg, "box_id", "left")
        .select(
            "box_id",
            F.coalesce("n_points", F.lit(0)).cast("bigint").alias("n_points"),
            F.coalesce("sum_x", F.lit(0.0)).alias("sum_x"),
        )
    )


def _join_cardinality_est(a: DataFrame, b: DataFrame, k: int = 256) -> DataFrame:
    """Shared KMV join-cardinality estimator (production path for
    stat_join_cardinality_est and the closed-form path
    stat_cardinality_planted hash-checks exactly): two KMV sketches +
    two counts → |A⋈B| ≈ d(A∩B) · (|A|/dA) · (|B|/dB).  Inputs are
    single-column frames named ``key``."""
    from postpy_spark.operators import sketch as SK

    sa, sb = SK.kmv_build(a, "key", k=k), SK.kmv_build(b, "key", k=k)
    setops = SK.kmv_set_estimates(sa, sb, k=k)
    counts = (
        a.agg(F.count(F.lit(1)).alias("n_a"))
        .crossJoin(b.agg(F.count(F.lit(1)).alias("n_b")))
        .crossJoin(
            SK.kmv_estimate(sa, k=k).select(F.col("est").alias("d_a"))
        )
        .crossJoin(
            SK.kmv_estimate(sb, k=k).select(F.col("est").alias("d_b"))
        )
    )
    return setops.crossJoin(F.broadcast(counts)).select(
        "intersect_est",
        "n_a",
        "n_b",
        "d_a",
        "d_b",
        F.round(
            F.col("intersect_est").cast("double")
            * (F.col("n_a").cast("double") / F.col("d_a").cast("double"))
            * (F.col("n_b").cast("double") / F.col("d_b").cast("double"))
        )
        .cast("bigint")
        .alias("join_card_est"),
    )


@query("stat_join_cardinality_est", oracle=None, group="B3")
def stat_join_cardinality_est_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight equi-join cardinality estimate WITHOUT running the
    join — the planner's question ("will orders ⋈ events explode?")
    answered from two KMV sketches + two counts: |A⋈B| ≈ d(A∩B) ·
    (|A|/dA) · (|B|/dB) under the uniform-multiplicity assumption
    (documented; heavy-hitter keys need the CMS op on top).  Sketch
    inputs are k-row frames, so the estimate costs two scans and NO
    shuffle of either table against the other.  Rows-only; pytest pins
    the estimate within 2× of the true join count;
    stat_cardinality_planted is the sql-hash-checked exact twin."""
    e = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("key")
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key")
    )
    return _join_cardinality_est(e, o, k=256)


@query(
    "stat_cardinality_planted",
    oracle="""
    WITH a AS (SELECT o_orderkey % 30 AS key
               FROM orders WHERE o_orderkey <= 600),
         b AS (SELECT (o_orderkey % 30) + 15 AS key
               FROM orders WHERE o_orderkey <= 900),
         st AS (SELECT
            CAST((SELECT COUNT(*) FROM (SELECT DISTINCT key FROM a
                  INTERSECT SELECT DISTINCT key FROM b)) AS BIGINT) AS i,
            CAST((SELECT COUNT(*) FROM a) AS BIGINT)             AS n_a,
            CAST((SELECT COUNT(*) FROM b) AS BIGINT)             AS n_b,
            CAST((SELECT COUNT(DISTINCT key) FROM a) AS BIGINT)  AS d_a,
            CAST((SELECT COUNT(DISTINCT key) FROM b) AS BIGINT)  AS d_b)
    SELECT i AS intersect_est, n_a, n_b, d_a, d_b,
           CAST(ROUND(CAST(i AS DOUBLE)
                * (CAST(n_a AS DOUBLE) / CAST(d_a AS DOUBLE))
                * (CAST(n_b AS DOUBLE) / CAST(d_b AS DOUBLE)))
                AS BIGINT)                                       AS join_card_est
    FROM st
    """,
    group="B3",
)
def stat_cardinality_planted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-oracle attestation of the KMV-based join-cardinality
    estimator (stat_join_cardinality_est is rows-only — the (k-1)/u_(k)
    estimator depends on xxhash64 values): both planted sides have < k =
    256 distinct keys over FIXED key ranges (byte-identical input at
    every sf tier), so every sketch holds EVERY distinct hash —
    kmv_estimate returns the exact distinct counts, the theta-sketch
    union holds all |A∪B| hashes with exact in-both membership flags
    (intersect_est = round(|A∪B| · |A∩B|/|A∪B|) = |A∩B|; the two double
    roundings stay within ulps of the integer), and join_card_est
    reduces to the same ROUND(i · n_a/d_a · n_b/d_b) arithmetic the
    oracle states over exact COUNT aggregates — both engines evaluate
    the identical IEEE expression tree.  Pins sketch build, theta-union,
    membership join, and the multiplicity-scaling formula exactly; the
    2×-band pytest on the production query covers the estimating
    regime."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") <= 600).select(
        (F.col("o_orderkey") % 30).alias("key")
    )
    b = o.filter(F.col("o_orderkey") <= 900).select(
        ((F.col("o_orderkey") % 30) + 15).alias("key")
    )
    return _join_cardinality_est(a, b, k=256)


@query(
    "events_basket_lift",
    oracle="""
    WITH e AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                            > 1800000000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, event_type,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM e
    ),
    baskets AS (SELECT DISTINCT user_id, sid, event_type FROM s),
    n AS (SELECT COUNT(*) * 1.0 AS n_baskets
          FROM (SELECT DISTINCT user_id, sid FROM baskets)),
    item AS (SELECT event_type, COUNT(*) AS supp FROM baskets GROUP BY 1),
    pair AS (
        SELECT a.event_type AS item_a, b.event_type AS item_b,
               COUNT(*) AS supp_ab
        FROM baskets a JOIN baskets b
          ON a.user_id = b.user_id AND a.sid = b.sid
         AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT item_a, item_b, supp_ab,
           ROUND(supp_ab / n.n_baskets, 6) AS support,
           ROUND((supp_ab / n.n_baskets)
                 / ((ia.supp / n.n_baskets) * (ib.supp / n.n_baskets)),
                 4)                        AS lift
    FROM pair
    JOIN item ia ON ia.event_type = pair.item_a
    JOIN item ib ON ib.event_type = pair.item_b
    CROSS JOIN n
    """,
    group="B3",
)
def events_basket_lift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence with LIFT over session baskets — the
    association-rule primitive (a-priori's first level): sessions become
    item sets, pair support counts ride a within-basket self-join that
    is |basket-distinct-items|²-bounded per basket (≤ |event_types| —
    never row-fanout), and lift normalizes by independent supports.
    One sessionize window + one distinct + bounded joins."""
    gap_us = 30 * 60 * 1_000_000
    e = load_table(spark, sf_dir, "events")
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(
            F.lag(t_us).over(w).isNull() | ((t_us - F.lag(t_us).over(w)) > gap_us),
            1,
        ).otherwise(0).alias("new_s"),
    )
    ws = w.rowsBetween(Window.unboundedPreceding, 0)
    baskets = (
        flagged.withColumn("sid", F.sum("new_s").over(ws))
        .select("user_id", "sid", "event_type")
        .distinct()
    )
    n = baskets.select("user_id", "sid").distinct().agg(
        (F.count(F.lit(1)) * 1.0).alias("n_baskets")
    )
    item = baskets.groupBy("event_type").agg(F.count(F.lit(1)).alias("supp"))
    a, b = baskets.alias("a"), baskets.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.sid") == F.col("b.sid"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("item_a"),
            F.col("b.event_type").alias("item_b"),
        )
        .agg(F.count(F.lit(1)).alias("supp_ab"))
    )
    ia = item.select(F.col("event_type").alias("item_a"), F.col("supp").alias("sa"))
    ib = item.select(F.col("event_type").alias("item_b"), F.col("supp").alias("sb"))
    return (
        pair.join(F.broadcast(ia), "item_a")
        .join(F.broadcast(ib), "item_b")
        .crossJoin(F.broadcast(n))
        .select(
            "item_a",
            "item_b",
            "supp_ab",
            F.round(F.col("supp_ab") / F.col("n_baskets"), 6).alias("support"),
            F.round(
                (F.col("supp_ab") / F.col("n_baskets"))
                / (
                    (F.col("sa") / F.col("n_baskets"))
                    * (F.col("sb") / F.col("n_baskets"))
                ),
                4,
            ).alias("lift"),
        )
    )


@query(
    "stat_benford",
    oracle="""
    WITH digits AS (
        SELECT CAST(FLOOR(o_totalprice
                    / POWER(10, FLOOR(LOG10(o_totalprice)))) AS BIGINT) AS d
        FROM orders WHERE o_totalprice > 0
    ),
    obs AS (SELECT d, COUNT(*) AS n FROM digits GROUP BY d),
    tot AS (SELECT SUM(n) * 1.0 AS t FROM obs)
    SELECT obs.d,
           CAST(obs.n AS BIGINT)                          AS n,
           ROUND(obs.n / tot.t, 6)                        AS observed_p,
           ROUND(LOG10(1.0 + 1.0 / obs.d), 6)             AS benford_p
    FROM obs CROSS JOIN tot
    """,
    group="B3",
)
def stat_benford_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit profile of order amounts — the
    fraud/data-fabrication screen: observed first-digit frequencies next
    to the log10(1 + 1/d) expectation.  First digit extraction is pure
    column math (no string ops), the scan reduces to 9 rows in one
    partial aggregate.  (TPC-H prices are synthetic-uniform, so the
    profile VISIBLY deviates — which is exactly what the op should
    report on fabricated data.)"""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digits = o.select(
        F.floor(
            F.col("o_totalprice") / F.pow(10.0, F.floor(F.log10("o_totalprice")))
        )
        .cast("bigint")
        .alias("d")
    )
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    tot = obs.agg((F.sum("n") * 1.0).alias("t"))
    return obs.crossJoin(F.broadcast(tot)).select(
        "d",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n") / F.col("t"), 6).alias("observed_p"),
        F.round(F.log10(1.0 + 1.0 / F.col("d")), 6).alias("benford_p"),
    )


@query(
    "ml_ols_normal_eq",
    oracle="""
    WITH v AS (
        SELECT CAST(hour(ts) AS DOUBLE)      AS x1,
               CAST(dayofweek(ts) AS DOUBLE) AS x2,
               value / 100.0                 AS y
        FROM events
    ),
    m AS (
        SELECT COUNT(*) * 1.0 AS n,
               SUM(x1) AS sx1, SUM(x2) AS sx2, SUM(y) AS sy,
               SUM(x1 * x1) AS sx11, SUM(x2 * x2) AS sx22,
               SUM(x1 * x2) AS sx12,
               SUM(x1 * y)  AS sx1y, SUM(x2 * y) AS sx2y,
               SUM(y * y)   AS syy
        FROM v
    ),
    c AS (
        SELECT n,
               sx11 - sx1 * sx1 / n AS s11,
               sx22 - sx2 * sx2 / n AS s22,
               sx12 - sx1 * sx2 / n AS s12,
               sx1y - sx1 * sy / n  AS s1y,
               sx2y - sx2 * sy / n  AS s2y,
               syy - sy * sy / n    AS syy_c,
               sx1 / n AS m1, sx2 / n AS m2, sy / n AS my
        FROM m
    )
    SELECT ROUND((s1y * s22 - s2y * s12) / (s11 * s22 - s12 * s12), 6) AS b_hour,
           ROUND((s2y * s11 - s1y * s12) / (s11 * s22 - s12 * s12), 6) AS b_dow,
           ROUND(my - (s1y * s22 - s2y * s12) / (s11 * s22 - s12 * s12) * m1
                    - (s2y * s11 - s1y * s12) / (s11 * s22 - s12 * s12) * m2,
                 6)                                                    AS intercept,
           ROUND(((s1y * s22 - s2y * s12) / (s11 * s22 - s12 * s12) * s1y
                  + (s2y * s11 - s1y * s12) / (s11 * s22 - s12 * s12) * s2y)
                 / syy_c, 6)                                           AS r2,
           CAST(n AS BIGINT)                                           AS n
    FROM c
    """,
    group="B3",
)
def ml_ols_normal_eq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature OLS (value ~ hour + day-of-week) solved by the
    NORMAL EQUATIONS in closed form — "ML training as one aggregate":
    all ten raw sums come out of a single partial-aggregable pass, the
    2×2 solve is scalar algebra on one row (Cramer), and nothing beyond
    the sums ever shuffles.  The one-pass trick is Sij = Σxixj −
    ΣxiΣxj/n; y pre-scaled 1/100 for summation headroom (coefficients
    scale linearly).  dayofweek origins aligned Spark-side (−1), as in
    the other weekday ops; pytest pins the solution against
    numpy.linalg.lstsq."""
    e = load_table(spark, sf_dir, "events")
    v = e.select(
        F.hour("ts").cast("double").alias("x1"),
        (F.dayofweek("ts") - 1).cast("double").alias("x2"),
        (F.col("value") / 100.0).alias("y"),
    )
    m = v.agg(
        (F.count(F.lit(1)) * 1.0).alias("n"),
        F.sum("x1").alias("sx1"), F.sum("x2").alias("sx2"), F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("sx11"),
        F.sum(F.col("x2") * F.col("x2")).alias("sx22"),
        F.sum(F.col("x1") * F.col("x2")).alias("sx12"),
        F.sum(F.col("x1") * F.col("y")).alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).alias("sx2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    s11 = F.col("sx11") - F.col("sx1") * F.col("sx1") / n
    s22 = F.col("sx22") - F.col("sx2") * F.col("sx2") / n
    s12 = F.col("sx12") - F.col("sx1") * F.col("sx2") / n
    s1y = F.col("sx1y") - F.col("sx1") * F.col("sy") / n
    s2y = F.col("sx2y") - F.col("sx2") * F.col("sy") / n
    syy_c = F.col("syy") - F.col("sy") * F.col("sy") / n
    det = s11 * s22 - s12 * s12
    b1 = (s1y * s22 - s2y * s12) / det
    b2 = (s2y * s11 - s1y * s12) / det
    b0 = F.col("sy") / n - b1 * (F.col("sx1") / n) - b2 * (F.col("sx2") / n)
    return m.select(
        F.round(b1, 6).alias("b_hour"),
        F.round(b2, 6).alias("b_dow"),
        F.round(b0, 6).alias("intercept"),
        F.round((b1 * s1y + b2 * s2y) / syy_c, 6).alias("r2"),
        n.cast("bigint").alias("n"),
    )


@query(
    "events_interval_union",
    oracle="""
    WITH iv AS (
        SELECT user_id,
               epoch_us(ts)             AS s,
               epoch_us(ts) + 300000000 AS e
        FROM events
    ),
    flag AS (
        SELECT user_id, s, e,
               CASE WHEN s > COALESCE(MAX(e) OVER (
                        PARTITION BY user_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        -9223372036854775808)
                    THEN 1 ELSE 0 END AS new_island
        FROM iv
    ),
    isl AS (
        SELECT user_id, s, e,
               SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                                     ROWS UNBOUNDED PRECEDING) AS island
        FROM flag
    ),
    merged AS (
        SELECT user_id, island, MIN(s) AS ms, MAX(e) AS me
        FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT)                    AS n_intervals,
           CAST(CAST(SUM(me - ms) AS BIGINT) // 60000000 AS BIGINT) AS active_minutes
    FROM merged GROUP BY user_id
    """,
    group="B4",
)
def events_interval_union_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval UNION (coverage) per user: each event opens a 5-minute
    activity window; overlapping/touching windows merge and the op
    reports merged-interval count and total covered minutes — the
    utilization/uptime primitive (machine busy-time, user active-time,
    SLA coverage).  Islands split where a start exceeds the RUNNING MAX
    of prior ends (not lag(e) — an interval swallowed by a longer
    predecessor must not reopen); one per-user window + two hash
    aggregates, exact integer epoch-µs arithmetic throughout."""
    e = load_table(spark, sf_dir, "events")
    iv = e.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
        (F.unix_micros(F.col("ts").cast("timestamp")) + 300_000_000).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "e")
    prior_max_e = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flag = iv.withColumn(
        "new_island",
        F.when(
            F.col("s") > F.coalesce(prior_max_e, F.lit(-(1 << 63))), 1
        ).otherwise(0),
    )
    isl = flag.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = isl.groupBy("user_id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.expr("sum(me - ms) div 60000000").cast("bigint").alias(
            "active_minutes"
        ),
    )


@query(
    "dq_skew_report",
    oracle="""
    WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM events),
    k AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM events GROUP BY user_id
    )
    SELECT user_id, n_rows, ROUND(n_rows * 1.0 / t.total, 6) AS share
    FROM k CROSS JOIN t
    ORDER BY n_rows DESC, user_id LIMIT 10
    """,
    group="B3",
)
def dq_skew_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight key-skew diagnostic (operators/skew.py::skew_stats): the
    heaviest join/group keys with their share of total rows — the number
    you read BEFORE deciding to salt a join or rely on AQE skew-split
    (the soak's planted hot user shows up here at share≈0.20).  ONE hash
    aggregate + TakeOrdered top-10; the total is a driver-side scalar
    (the count the caller already pays), key tie-break pins the boundary
    row set."""
    from postpy_spark.operators.skew import skew_stats

    e = load_table(spark, sf_dir, "events")
    return skew_stats(e, ["user_id"], top=10)


@query(
    "ts_autocorr",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY CAST(ts AS DATE)
    ),
    lags AS (SELECT unnest(range(1, 8)) AS k),
    p AS (
        SELECT l.k, a.x AS x, b.x AS y
        FROM lags l
        JOIN daily a ON TRUE
        JOIN daily b ON b.d = a.d + INTERVAL (l.k) DAY
    ),
    s AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM p GROUP BY k
    )
    SELECT CAST(k AS BIGINT) AS lag_days, m AS n_pairs,
           ROUND(CAST(m * sxy - sx * sy AS DOUBLE)
                 / SQRT(CAST(m * sxx - sx * sx AS DOUBLE)
                        * CAST(m * syy - sy * sy AS DOUBLE)), 6) AS acf
    FROM s ORDER BY lag_days
    """,
    group="B4",
)
def ts_autocorr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of the daily event-count series — the
    weekly-seasonality / burstiness screen (an ACF spike at lag 7 is the
    human-weekly signature; flat ACF on a series that should have one
    flags synthetic or shuffled data).  Pairs are DAY-OFFSET pairs
    (missing days drop the pair, both engines identically), every sum is
    exact BIGINT over the days-bounded daily frame, and the Pearson
    numerator stays integer — the ONLY float ops are the final sqrt and
    one division, rounded at 6 (the two variance factors are cast to
    DOUBLE before multiplying: their int64 product would overflow).
    Scale shape: one corpus-sized hash aggregate to days, then
    everything runs on the ~|days| frame."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    a = daily.select(
        F.explode(F.sequence(F.lit(1), F.lit(7))).alias("k"), "d", "x"
    )
    b = daily.select(F.col("d").alias("bd"), F.col("x").alias("y"))
    p = a.join(b, F.col("bd") == F.date_add(F.col("d"), F.col("k")))
    s = p.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return (
        s.select(
            F.col("k").cast("bigint").alias("lag_days"),
            F.col("m").alias("n_pairs"),
            F.round(num / den, 6).alias("acf"),
        )
        .orderBy("lag_days")
    )


# ---------------------------------------------------------------------------
# Round-10 additions: exact-oracle connected components, two-sample KS test,
# PSI drift report
# ---------------------------------------------------------------------------


@query(
    "graph_connected_components",
    oracle="""
    WITH RECURSIVE t AS (
        SELECT doc_id, list_distinct(
            list_transform(range(GREATEST(LEN(norm) - 4, 1)), i -> norm[i+1:i+5])
        ) AS grams
        FROM (SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
              FROM documents WHERE doc_id < 120)
    ),
    e AS (
        SELECT a.doc_id AS ea, b.doc_id AS eb
        FROM t a JOIN t b ON a.doc_id < b.doc_id
        WHERE CAST(LEN(list_intersect(a.grams, b.grams)) AS DOUBLE)
              / LEN(list_distinct(list_concat(a.grams, b.grams))) >= 0.25
    ),
    u AS (SELECT ea AS s, eb AS d FROM e UNION SELECT eb, ea FROM e),
    reach(node, x) AS (
        SELECT s, s FROM (SELECT DISTINCT s FROM u)
        UNION
        SELECT r.node, u.d FROM reach r JOIN u ON u.s = r.x
    )
    SELECT node, CAST(MIN(x) AS BIGINT) AS component
    FROM reach GROUP BY node
    """,
    group="B2",
)
def graph_connected_components_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the char-5-gram Jaccard near-dup graph
    (bounded doc subset) — the EXACT-oracle attestation of the iterative
    min-label + pointer-doubling CC loop (operators/dedup.py::
    connected_components) that dedup_clusters can only gate rows-only:
    the DuckDB twin recomputes the same edge set and floods min-reachable
    ids through a recursive CTE, so every (node, component) value is
    hash-compared.  Component id = min doc_id in the component on both
    sides.

    Scale: the edge generation computes the SAME exact jaccard via a
    shared-gram equi-join — explode (doc, gram), self-join on gram, count
    shared grams per pair, so |A∩B| = cnt and |A∪B| = |A|+|B|−cnt with
    identical integer operands and identical double division (r14
    optimization round 2: the prior doc×doc theta join evaluated
    ``array_intersect`` over ~200-gram string arrays per pair — measured
    2.9 → 1.0 s, edge set exceptAll-identical; pairs sharing zero grams
    never appear and cannot pass the 0.25 threshold).  The 100 TB path
    banding-LSHes first — dedup_fuzzy_minhash.  The CC loop itself is the
    production operator — per iteration one message join + union-min
    aggregate plus a shortcut self-join, O(log diameter) rounds, lineage
    truncated via localCheckpoint, and it RAISES if the iteration budget
    exhausts rather than returning silently-wrong labels."""
    from postpy_spark.operators import dedup

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    norm = dedup.normalize_text(F.col("text"))
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.length(norm) - 5, F.lit(0))),
            lambda i: F.substring(norm, i + 1, 5),
        )
    )
    # materialize (doc_id, |grams|, grams) ONCE (lazy checkpoint) before
    # exploding: the gram transform's lambda references ``norm`` — an outer
    # EXPRESSION, re-evaluated per element (the HOF-no-CSE landmine) — and
    # without the materialization the interpreted projection on the join's
    # broadcast-build side re-derived the whole transform PER GENERATED ROW
    # (~25k rows × ~300 elements × a 300-char regex each ≈ minutes; jstack
    # showed the task pinned in RegExpReplace.nullSafeEval under
    # ArrayTransform.eval).  Doc-count-sized state, same budget as the CC
    # edge checkpoint below.
    t = (
        d.select("doc_id", grams.alias("grams"))
        .select("doc_id", F.size("grams").alias("n"), "grams")
        .localCheckpoint(eager=False)
    )
    g = t.select("doc_id", "n", F.explode("grams").alias("gram"))
    x = g.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"), "gram")
    y = g.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"), "gram")
    shared = (
        x.join(y, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    jac = F.col("cnt").cast("double") / (F.col("na") + F.col("nb") - F.col("cnt"))
    pairs = shared.filter(jac >= 0.25).select("id_a", "id_b")
    return dedup.connected_components(pairs, pairs_unique=True).select(
        F.col("node").cast("bigint").alias("node"),
        F.col("component").cast("bigint").alias("component"),
    )


@query(
    "stat_ks_test",
    oracle="""
    WITH s AS (
        SELECT l_returnflag AS f, l_extendedprice AS v
        FROM lineitem WHERE l_returnflag IN ('R', 'A')
    ),
    g AS (
        SELECT v,
               CAST(SUM(CASE WHEN f = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS a_cnt,
               CAST(SUM(CASE WHEN f = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS b_cnt
        FROM s GROUP BY v
    ),
    c AS (
        SELECT v,
               CAST(SUM(a_cnt) OVER (ORDER BY v) AS BIGINT) AS ca,
               CAST(SUM(b_cnt) OVER (ORDER BY v) AS BIGINT) AS cb
        FROM g
    ),
    tot AS (
        SELECT CAST(SUM(a_cnt) AS BIGINT) AS na, CAST(SUM(b_cnt) AS BIGINT) AS nb
        FROM g
    ),
    d AS (
        SELECT v, ABS(ca * nb - cb * na) AS idiff, na, nb
        FROM c CROSS JOIN tot
    )
    SELECT CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           ROUND(CAST(idiff AS DOUBLE) / (CAST(na AS DOUBLE) * nb), 6) AS ks_stat,
           v AS ks_at
    FROM d ORDER BY idiff DESC, v ASC LIMIT 1
    """,
    group="B3",
)
def stat_ks_test_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the RETURNED ('R')
    and ACCEPTED ('A') price distributions: D = max_x |F_R(x) - F_A(x)|,
    plus the location of the maximum gap (min such value on ties) — the
    standard distribution-shift detector for data-pipeline monitoring.

    Exactness discipline: the ECDF gap is kept in INTEGER arithmetic
    (|ca*nb - cb*na| over exact cumulative counts) and divided by na*nb
    exactly once at the end, so there is no float summation anywhere and
    the single rounded division is bit-stable across engines (the
    ROUND(SUM(float)) flake class from CLAUDE.md cannot occur).

    Scale: the ECDF needs a GLOBAL cumulative sum ordered by value — the
    classic one-task ``SUM OVER (ORDER BY)`` trap.  Both running counts
    ride ONE range-partitioned two-phase prefix-sum pass
    (operators/ranking.py::global_running_sum on a packed combined
    counter), then the argmax is an ordinary aggregate.  The oracle uses
    the plain window form (fine at DuckDB sf)."""
    from postpy_spark.operators.ranking import global_running_sum

    li = load_table(spark, sf_dir, "lineitem")
    s = li.filter(F.col("l_returnflag").isin("R", "A")).select(
        F.col("l_returnflag").alias("f"), F.col("l_extendedprice").alias("v")
    )
    g = s.groupBy("v").agg(
        F.sum(F.when(F.col("f") == "R", 1).otherwise(0)).cast("bigint").alias("a_cnt"),
        F.sum(F.when(F.col("f") == "A", 1).otherwise(0)).cast("bigint").alias("b_cnt"),
    )
    # pack both counters into one bigint (counts < 2^31 per engine run) so a
    # single prefix-sum pass carries them; unpack after.  At sf where a
    # single flag-count nears 2^31 rows the pack widens to two passes.
    packed = g.withColumn("packed", F.col("a_cnt") * F.lit(2**31) + F.col("b_cnt"))
    c = global_running_sum(packed, ["v"], "packed", "cpack")
    c = c.select(
        "v",
        (F.col("cpack") / F.lit(2**31)).cast("bigint").alias("ca"),
        (F.col("cpack") % F.lit(2**31)).cast("bigint").alias("cb"),
    )
    tot = g.agg(
        F.sum("a_cnt").cast("bigint").alias("na"),
        F.sum("b_cnt").cast("bigint").alias("nb"),
    )
    d = c.crossJoin(broadcast(tot)).select(
        "v", "na", "nb",
        F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na")).alias("idiff"),
    )
    top = d.groupBy("na", "nb").agg(
        F.max(F.struct(F.col("idiff"), (-F.col("v")).alias("negv"))).alias("m")
    )
    return top.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round(
            F.col("m.idiff").cast("double")
            / (F.col("na").cast("double") * F.col("nb")),
            6,
        ).alias("ks_stat"),
        (-F.col("m.negv")).alias("ks_at"),
    )


@query(
    "stat_auc_roc",
    oracle="""
    WITH s AS (
        SELECT l_extendedprice AS v,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem WHERE l_returnflag IN ('R', 'A')
    ),
    g AS (
        SELECT v,
               CAST(SUM(y) AS BIGINT) AS p_cnt,
               CAST(SUM(1 - y) AS BIGINT) AS n_cnt
        FROM s GROUP BY v
    ),
    c AS (
        SELECT v, p_cnt, n_cnt,
               CAST(SUM(n_cnt) OVER (ORDER BY v) AS BIGINT) AS cum_n
        FROM g
    ),
    tot AS (
        SELECT CAST(SUM(p_cnt) AS BIGINT) AS np,
               CAST(SUM(n_cnt) AS BIGINT) AS nn,
               CAST(SUM(p_cnt * (2 * (cum_n - n_cnt) + n_cnt)) AS BIGINT)
                   AS u2
        FROM c
    )
    SELECT np AS n_pos, nn AS n_neg,
           ROUND(CAST(u2 AS DOUBLE) / (2.0 * np * nn), 6) AS auc,
           ROUND(CAST(u2 - np * nn AS DOUBLE) / (CAST(np AS DOUBLE) * nn), 6)
               AS gini
    FROM tot
    """,
    group="B3",
)
def stat_auc_roc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC (and Gini = 2·AUC−1) of price as a ranking score for the
    RETURNED ('R') vs ACCEPTED ('A') class — the standard model-eval /
    feature-screening statistic, computed distributed via the
    Mann-Whitney rank-sum identity with exact tie correction:
    AUC = Σ_v [p_v·N_<(v) + ½·p_v·n_v] / (P·N), where p_v/n_v are the
    per-distinct-value class counts and N_<(v) the negatives strictly
    below v.  No per-row rank is ever materialized — ties collapse into
    the per-value GROUP first, so the window length is |distinct scores|,
    not |rows|.

    Exactness discipline (stat_ks_test's): everything stays in INTEGER
    arithmetic — 2U = Σ p_v·(2·N_<(v) + n_v) is an exact bigint — and
    the single rounded division happens once at the end, so the
    ROUND(SUM(float)) flake class cannot occur.  The bigint path is
    exact while P·N < 2⁶³ (≈3·10⁹ rows per class); past that tier the
    two SUMs widen to decimal(38,0) — a type annotation, not a redesign.

    Scale: per-value counts are one partial-aggregating groupBy; the
    cumulative negative count rides the SAME range-partitioned two-phase
    prefix sum as stat_ks_test (operators/ranking.py::global_running_sum
    — no one-task global window); the final reduction is a scalar
    aggregate.  The oracle uses the plain window form (fine at DuckDB
    sf)."""
    from postpy_spark.operators.ranking import global_running_sum

    li = load_table(spark, sf_dir, "lineitem")
    s = li.filter(F.col("l_returnflag").isin("R", "A")).select(
        F.col("l_extendedprice").alias("v"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    g = s.groupBy("v").agg(
        F.sum("y").cast("bigint").alias("p_cnt"),
        F.sum(1 - F.col("y")).cast("bigint").alias("n_cnt"),
    )
    c = global_running_sum(g, ["v"], "n_cnt", "cum_n")
    tot = c.agg(
        F.sum("p_cnt").cast("bigint").alias("np"),
        F.sum("n_cnt").cast("bigint").alias("nn"),
        F.sum(
            F.col("p_cnt")
            * (2 * (F.col("cum_n") - F.col("n_cnt")) + F.col("n_cnt"))
        ).cast("bigint").alias("u2"),
    )
    return tot.select(
        F.col("np").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        F.round(
            F.col("u2").cast("double")
            / (F.lit(2.0) * F.col("np") * F.col("nn")),
            6,
        ).alias("auc"),
        F.round(
            (F.col("u2") - F.col("np") * F.col("nn")).cast("double")
            / (F.col("np").cast("double") * F.col("nn")),
            6,
        ).alias("gini"),
    )


@query(
    "stat_psi_drift",
    oracle="""
    WITH b AS (
        SELECT CASE WHEN value < 5 THEN 0 WHEN value < 10 THEN 1
                    WHEN value < 20 THEN 2 WHEN value < 35 THEN 3
                    WHEN value < 50 THEN 4 WHEN value < 75 THEN 5
                    WHEN value < 100 THEN 6 WHEN value < 150 THEN 7
                    WHEN value < 250 THEN 8 ELSE 9 END AS bucket,
               CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS is_ref
        FROM events
    ),
    g AS (
        SELECT bucket,
               CAST(SUM(is_ref) AS BIGINT) AS n_ref,
               CAST(SUM(1 - is_ref) AS BIGINT) AS n_cur
        FROM b GROUP BY bucket
    ),
    tot AS (
        SELECT CAST(SUM(n_ref) AS BIGINT) AS tr, CAST(SUM(n_cur) AS BIGINT) AS tc
        FROM g
    )
    SELECT CAST(bucket AS BIGINT) AS bucket, n_ref, n_cur,
           ROUND((GREATEST(n_ref * 1.0 / tr, 0.0001)
                  - GREATEST(n_cur * 1.0 / tc, 0.0001))
                 * LN(GREATEST(n_ref * 1.0 / tr, 0.0001)
                      / GREATEST(n_cur * 1.0 / tc, 0.0001)), 6) AS psi_term
    FROM g CROSS JOIN tot
    """,
    group="B3",
)
def stat_psi_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift report between the first and second
    half of the event window, per value bucket — the standard
    feature-drift monitor for ML data pipelines (PSI = sum over buckets of
    (p - q) * ln(p/q), with the conventional 1e-4 floor on empty-bucket
    proportions).

    Emitted PER-BUCKET (bucket, n_ref, n_cur, psi_term) rather than as the
    scalar sum: every psi_term is a single float expression over exact
    integer counts — no float SUM exists on either engine, so the rounded
    values are bit-stable (the attribution-sum flake class).  Consumers
    sum the 10 terms; bucket edges are fixed literals, so the double
    comparisons branch identically in Spark and DuckDB (quantile-derived
    edges would put values at the edge into different buckets on
    last-ulp percentile differences).

    Scale: one projection + one 10-group hash aggregate over events;
    the totals join is a broadcast of one row."""
    e = load_table(spark, sf_dir, "events")
    edges = [5, 10, 20, 35, 50, 75, 100, 150, 250]
    bucket = F.lit(9)
    for i in range(len(edges) - 1, -1, -1):
        bucket = F.when(F.col("value") < edges[i], i).otherwise(bucket)
    b = e.select(
        bucket.alias("bucket"),
        F.when(F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp_ntz"), 1)
        .otherwise(0)
        .alias("is_ref"),
    )
    g = b.groupBy("bucket").agg(
        F.sum("is_ref").cast("bigint").alias("n_ref"),
        F.sum(1 - F.col("is_ref")).cast("bigint").alias("n_cur"),
    )
    tot = g.agg(
        F.sum("n_ref").cast("bigint").alias("tr"),
        F.sum("n_cur").cast("bigint").alias("tc"),
    )
    p = F.greatest(F.col("n_ref") * F.lit(1.0) / F.col("tr"), F.lit(0.0001))
    q = F.greatest(F.col("n_cur") * F.lit(1.0) / F.col("tc"), F.lit(0.0001))
    return g.crossJoin(broadcast(tot)).select(
        F.col("bucket").cast("bigint").alias("bucket"),
        "n_ref",
        "n_cur",
        F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
    )


@query(
    "graph_pagerank",
    oracle="""
    WITH src_nodes AS (SELECT DISTINCT c_custkey % 200 AS u FROM customer),
    js AS (SELECT * FROM (VALUES (1), (2), (3), (4)) AS t(j)),
    edges AS (
        SELECT u AS src, (u * 7 + 13 * j) % 200 AS dst
        FROM src_nodes CROSS JOIN js
        WHERE j <= 1 + u % 4
    ),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src),
    we AS (SELECT e.src, e.dst, CAST(12 // g.d AS BIGINT) AS w
           FROM edges e JOIN deg g ON g.src = e.src),
    a0 AS (SELECT node, CAST(1 AS BIGINT) AS a FROM nodes),
    a1 AS (
        SELECT n.node, CAST(36 + 17 * COALESCE(SUM(p.a * w.w), 0) AS BIGINT) AS a
        FROM nodes n LEFT JOIN we w ON w.dst = n.node
                     LEFT JOIN a0 p ON p.node = w.src
        GROUP BY n.node
    ),
    a2 AS (
        SELECT n.node, CAST(8640 + 17 * COALESCE(SUM(p.a * w.w), 0) AS BIGINT) AS a
        FROM nodes n LEFT JOIN we w ON w.dst = n.node
                     LEFT JOIN a1 p ON p.node = w.src
        GROUP BY n.node
    ),
    a3 AS (
        SELECT n.node, CAST(2073600 + 17 * COALESCE(SUM(p.a * w.w), 0) AS BIGINT) AS a
        FROM nodes n LEFT JOIN we w ON w.dst = n.node
                     LEFT JOIN a2 p ON p.node = w.src
        GROUP BY n.node
    ),
    a4 AS (
        SELECT n.node, CAST(497664000 + 17 * COALESCE(SUM(p.a * w.w), 0) AS BIGINT) AS a
        FROM nodes n LEFT JOIN we w ON w.dst = n.node
                     LEFT JOIN a3 p ON p.node = w.src
        GROUP BY n.node
    )
    SELECT CAST(node AS BIGINT) AS node, a AS rank_scaled FROM a4
    """,
    group="B2",
)
def graph_pagerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (β = 17/20, 4 iterations) over a deterministic
    directed graph derived from customer keys — the EXACT-oracle
    attestation of the iterative rank loop (operators/graph.py::
    pagerank_exact), the third exactly-attested iterative graph algorithm
    next to connected components and the planted-PCA path.

    Floats can never hash-match across engines on an iterative Σ (partial-
    sum order wobbles the last bits), so the damped iteration is rewritten
    in integer-rational form: pr_t = a_t / (n·20^t·12^t) turns
    pr ← 3/(20n) + (17/20)·Σ pr(u)/d(u) into the BIGINT recurrence
    a ← 3·20^t·12^(t+1) + 17·Σ a(u)·(12/d(u)), exact on both engines
    (out-degrees 1..4 by construction all divide 12; numerators < 2^40).

    Graph: node u = c_custkey % 200; edges u → (7u + 13j) % 200 for
    j = 1..(1 + u%4).  7 is invertible mod 200, so in-degree ≤ 4 and the
    numerators stay bounded; dangling (in-edge-only) nodes at small sf
    receive teleport + inflow and contribute nothing — identical on both
    engines.

    Scale: per iteration ONE state-to-edges join (shuffle keyed on src,
    reusable partitioning) + one groupBy(dst) + a left join back to the
    node frame; lineage checkpoint every 2 rounds.  The double-precision
    production operator (operators/graph.py::pagerank) shares the plan
    shape; this query pins its iteration structure exactly."""
    from postpy_spark.operators.graph import pagerank_exact

    c = load_table(spark, sf_dir, "customer")
    u = c.select((F.col("c_custkey") % 200).alias("u")).distinct()
    j = u.sparkSession.range(1, 5).select(F.col("id").alias("j"))
    edges = (
        u.crossJoin(broadcast(j))
        .filter(F.col("j") <= 1 + F.col("u") % 4)
        .select(
            F.col("u").alias("src"),
            ((F.col("u") * 7 + 13 * F.col("j")) % 200).alias("dst"),
        )
    )
    return pagerank_exact(edges, n_iter=4, deg_lcm=12).select(
        F.col("node").cast("bigint").alias("node"), "rank_scaled"
    )


@query("ml_logreg_irls", oracle=None, group="B3")
def ml_logreg_irls_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary logistic regression P(value > 60 | hour, day-of-week) fit by
    distributed IRLS (operators/linalg.py::logreg_irls) — the GLM sibling
    of ml_ols_normal_eq: per Newton step ONE JVM-side weighted-moment
    aggregate (w and the working response are column expressions of the
    broadcast-as-literal current β); the driver solves only the 3×3
    system.  8 iterations = 8 scans + 8 scalar aggregates; nothing
    data-sized leaves the executors.

    Rows-only BY DESIGN: the fit is iterative float (no SQL oracle can
    reproduce partial-sum order); pytest gates the coefficients against
    an independent numpy IRLS on the identical extracted matrix (≤1e-6
    per-coefficient) and pins log-loss below the null-model deviance.
    Output: one row (intercept, b_hour, b_dow, log_loss, n)."""
    from postpy_spark.operators.linalg import logreg_irls

    e = load_table(spark, sf_dir, "events")
    v = e.select(
        F.hour("ts").cast("double").alias("x1"),
        (F.dayofweek("ts") - 1).cast("double").alias("x2"),
        (F.col("value") > 60).cast("double").alias("y"),
    )
    beta, _ = logreg_irls(v, ["x1", "x2"], "y", n_iter=8)
    eta = F.lit(beta[0]) + F.lit(beta[1]) * F.col("x1") + F.lit(beta[2]) * F.col("x2")
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
    p = F.least(F.greatest(p, F.lit(1e-12)), F.lit(1.0 - 1e-12))
    ll = F.col("y") * F.log(p) + (F.lit(1.0) - F.col("y")) * F.log(F.lit(1.0) - p)
    return v.agg(
        F.round(F.lit(beta[0]), 6).alias("intercept"),
        F.round(F.lit(beta[1]), 6).alias("b_hour"),
        F.round(F.lit(beta[2]), 6).alias("b_dow"),
        F.round(-F.avg(ll), 6).alias("log_loss"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )


@query(
    "ml_logreg_planted",
    oracle="""
    WITH c AS (
        SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS x,
               CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS y
        FROM orders
    ),
    t AS (
        SELECT x, CAST(SUM(y) AS BIGINT) AS k, CAST(COUNT(*) AS BIGINT) AS m
        FROM c GROUP BY x
    ),
    f AS (
        SELECT
            (SELECT LN(CAST(k AS DOUBLE) / (m - k)) FROM t WHERE x = 0) AS b0,
            (SELECT LN(CAST(k AS DOUBLE) / (m - k)) FROM t WHERE x = 1) AS b1x,
            (SELECT CAST(SUM(m) AS BIGINT) FROM t) AS n
    )
    SELECT ROUND(b0, 6) + 0.0 AS intercept,
           ROUND(b1x - b0, 6) + 0.0 AS b_status_f,
           n
    FROM f
    """,
    group="B3",
)
def ml_logreg_planted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-oracle attestation of the IRLS machinery: with a SINGLE
    binary feature the logistic MLE is saturated and has a closed form —
    intercept = ln(k0/(m0−k0)), slope = the 2×2 log-odds-ratio — which the
    oracle computes from exact integer cell counts while the Spark side
    runs the REAL distributed Newton loop (operators/linalg.py::
    logreg_irls, 12 iterations).  Newton's quadratic convergence puts the
    iterate within ~1e-12 of the MLE (measured 7e-13 at sf0.01), far
    inside the 6-decimal rounding both sides apply; `+ 0.0` guards the
    IEEE −0.0 repr hazard on the near-zero slope.  ml_logreg_irls (the
    multi-feature fit) stays rows-only by design; this pins the same code
    path's aggregate + solve loop bit-comparably."""
    from postpy_spark.operators.linalg import logreg_irls

    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        (F.col("o_orderstatus") == "F").cast("double").alias("x"),
        (F.col("o_totalprice") > 150000).cast("double").alias("y"),
    )
    beta, n = logreg_irls(v, ["x"], "y", n_iter=12)
    return spark.range(1).select(
        (F.round(F.lit(beta[0]), 6) + 0.0).alias("intercept"),
        (F.round(F.lit(beta[1]), 6) + 0.0).alias("b_status_f"),
        F.lit(n).cast("bigint").alias("n"),
    )
