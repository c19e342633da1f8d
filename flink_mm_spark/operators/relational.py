"""Relational operator surface (SURVEY.md §2.1–§2.5).

The reference's relational repertoire (scans S1–S12, transforms P1–P4, joins
J1–J3, aggregations A1–A7) plus the standard relational operators it lacks
(windows, sorts/top-k, set ops, rollup, semi/anti joins) expressed directly
on DataFrames so Catalyst plans them: predicate pushdown and column pruning
reach the parquet scan, small dims broadcast, aggregation is partial+final
automatically (the reference hand-writes this as combineGroup at
kmeans/KMeansBlock.java:46-70).

Float determinism: every SUM over doubles first casts the addend to
DECIMAL(18,6). Decimal aggregation is exact and order-independent, so Spark
and the DuckDB oracle produce bit-identical results regardless of partition
or shuffle order; the final cast back to DOUBLE is deterministic. Scale 6
matters: the money columns are 2-decimal values, so 3-factor products carry
up to 6 decimals — rounding those to 4 decimals lands exactly on .5 ties
where Spark (HALF_UP) and DuckDB (half-even) disagree; at scale 6 the cast
is exact and there is no tie to round.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_mm_spark.registry import register
from flink_mm_spark.session import keep_latest
from flink_mm_spark.sources.tables import table


def dsum(col: Column | str) -> Column:
    """Order-independent exact sum of a double column (see module doc)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(18,6)")).cast("double")


# ---------------------------------------------------------------------------
# Aggregations (A1/A2 keyed agg with automatic partial+final; A4 global sum)
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_price,
      CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: grouped multi-aggregate over lineitem.

    Exercises scan → pushed filter → hash agg (partial+final, the Catalyst
    built-in for the reference's explicit combineGroup pattern, SURVEY A2).
    """
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
            ).alias("sum_charge"),
            (dsum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
            (dsum("l_extendedprice") / F.count(F.lit(1))).alias("avg_price"),
            (dsum("l_discount") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "global_stats",
    oracle="""
    SELECT
      COUNT(value) AS cnt,
      CAST(MIN(value) AS DOUBLE) AS min_v,
      CAST(MAX(value) AS DOUBLE) AS max_v,
      CAST(MIN(CASE WHEN value > 0 THEN value END) AS DOUBLE) AS positive_min,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v,
      CAST(SUM(CAST(value * value AS DECIMAL(24,8))) AS DOUBLE) AS sum_sq
    FROM events
    """,
)
def global_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoubleStatistics global aggregate (SURVEY A3/F-stats).

    The reference computes count/min/max/positiveMin/sum/sumOfSquare with a
    custom accumulator flatMapped over matrix blocks (damds/Statistics.java:
    11-47); here it is one whole-stage-codegen aggregate over the scan.
    """
    ev = table(spark, sf_dir, "events")
    v = F.col("value")
    return ev.agg(
        F.count(v).alias("cnt"),
        F.min(v).cast("double").alias("min_v"),
        F.max(v).cast("double").alias("max_v"),
        F.min(F.when(v > 0, v)).cast("double").alias("positive_min"),
        dsum(v).alias("sum_v"),
        F.sum((v * v).cast("decimal(24,8)")).cast("double").alias("sum_sq"),
    )


@register(
    "rollup_sales",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INTEGER) AS gid,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
      COUNT(*) AS cnt
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation with grouping id (beyond-reference agg surface)."""
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("int").alias("gid"),
        dsum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "orders_by_priority",
    oracle="""
    SELECT
      o_orderpriority,
      COUNT(*) AS order_count,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def orders_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple grouped count+sum with a pushed-down timestamp filter."""
    o = table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            dsum("o_totalprice").alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Joins (J1 equi-join, J2 broadcast join, plus semi/anti beyond reference)
# ---------------------------------------------------------------------------


@register(
    "shipping_priority",
    oracle="""
    SELECT
      l_orderkey,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      o_orderdate
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style 3-way join + agg + top-k (SURVEY J1 + A1 + top-k).

    customer is far smaller than lineitem at every scale factor, so it is
    broadcast; the orders⋈lineitem join shuffles on orderkey, which AQE can
    skew-split at scale. Revenue summed as decimal for a deterministic
    top-10 cutoff; l_orderkey tie-break makes ordering total.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING"))
        .join(o.filter(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")),
              F.col("c_custkey") == F.col("o_custkey"))
        .join(li.filter(F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp")),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "local_supplier_volume",
    oracle="""
    SELECT
      n_name,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 6-way star join (SURVEY J1/J2).

    region/nation/supplier/customer are all broadcast-joined against the
    lineitem⋈orders fact spine — the Spark analogue of the reference's
    withBroadcastSet replicated joins (mm/MatrixMultiply.java:113).
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


@register(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (beyond-reference join surface; SURVEY §2.3 'absent' row)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "suppliers_with_large_lineitems",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE EXISTS (
      SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_quantity > 45
    )
    ORDER BY s_suppkey
    """,
)
def suppliers_with_large_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (beyond-reference join surface)."""
    s = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem")
    return (
        s.join(
            li.filter(F.col("l_quantity") > 45),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Windows, sorts/top-k, set ops, distinct (SURVEY §2.5 — absent in reference,
# provided by Catalyst built-ins)
# ---------------------------------------------------------------------------


@register(
    "top_customers_per_nation",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal, rnk
    FROM (
      SELECT c_custkey, c_nationkey, c_acctbal,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
             ) AS INTEGER) AS rnk
      FROM customer
    )
    WHERE rnk <= 3
    ORDER BY c_nationkey, rnk
    """,
)
def top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window function: per-group top-3 by account balance."""
    from pyspark.sql.window import Window

    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        c.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("c_custkey", "c_nationkey", "c_acctbal", "rnk")
        .orderBy("c_nationkey", "rnk")
    )


@register(
    "running_order_totals",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_total
    FROM orders
    WHERE o_custkey <= 50
    ORDER BY o_custkey, o_orderkey
    """,
)
def running_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-sum window (cumulative frame) over each customer's orders."""
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        o.filter(F.col("o_custkey") <= 50)
        .withColumn("running_total", F.sum(F.col("o_totalprice").cast("decimal(18,6)")).over(w).cast("double"))
        .select("o_custkey", "o_orderkey", "running_total")
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "distinct_part_types",
    oracle="""
    SELECT DISTINCT p_brand, p_type FROM part ORDER BY p_brand, p_type
    """,
)
def distinct_part_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (shuffle dedup on the grouping key)."""
    p = table(spark, sf_dir, "part")
    return p.select("p_brand", "p_type").distinct().orderBy("p_brand", "p_type")


@register(
    "nation_set_ops",
    oracle="""
    SELECT n_nationkey, 'both' AS src FROM (
      SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
      INTERSECT
      SELECT DISTINCT s_nationkey FROM supplier
    )
    UNION ALL
    SELECT n_nationkey, 'customer_only' AS src FROM (
      SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
      EXCEPT
      SELECT DISTINCT s_nationkey FROM supplier
    )
    ORDER BY src, n_nationkey
    """,
)
def nation_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL set operations."""
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("n_nationkey")).distinct()
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("n_nationkey")).distinct()
    both = c.intersect(s).withColumn("src", F.lit("both"))
    cust_only = c.exceptAll(s).withColumn("src", F.lit("customer_only"))
    return both.unionAll(cust_only).orderBy("src", "n_nationkey")


@register(
    "top_orders_by_price",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)
def top_orders_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k (TakeOrderedAndProject — no full sort at scale)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Per-record transforms (P1–P4) and quantization (F12)
# ---------------------------------------------------------------------------


@register(
    "clamp_small_values",
    oracle="""
    WITH pmin AS (
      SELECT CAST(MIN(CASE WHEN value > 0 THEN value END) * 4096 AS DOUBLE) AS p
      FROM events
    )
    SELECT event_id,
           CAST(CASE WHEN value >= 0 AND value < p THEN p ELSE value END AS DOUBLE)
             AS clamped
    FROM events, pmin
    ORDER BY event_id
    """,
)
def clamp_small_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 clamp: values in [0, positiveMin) → positiveMin.

    Mirrors the reference's changeZeroDistancesToPostiveMin
    (damds/Distances.java:162-171) as a scalar-subquery + CASE transform;
    the threshold is scaled up so the clamp actually fires on this data.
    """
    ev = table(spark, sf_dir, "events")
    pmin = ev.agg(
        (F.min(F.when(F.col("value") > 0, F.col("value"))) * 4096).cast("double").alias("p")
    )
    return (
        ev.crossJoin(F.broadcast(pmin))
        .withColumn(
            "clamped",
            F.when(
                (F.col("value") >= 0) & (F.col("value") < F.col("p")), F.col("p")
            ).otherwise(F.col("value")).cast("double"),
        )
        .select("event_id", "clamped")
        .orderBy("event_id")
    )


@register(
    "quantize_roundtrip",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(FLOOR(l_discount * 32767) AS SMALLINT) AS q,
           CAST(CAST(FLOOR(l_discount * 32767) AS SMALLINT) * (1.0 / 32767.0) AS DOUBLE)
             AS dequantized
    FROM lineitem
    WHERE l_orderkey <= 100
    ORDER BY l_orderkey, l_linenumber
    """,
)
def quantize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 int16 quantization: encode v*32767 to SMALLINT, decode by 1/32767.

    The reference stores distance/weight matrices quantized to int16
    (damds/DAMDSUtils.java:8-9, damds/Distances.java:166-168); FLOOR rather
    than banker's/half-up ROUND keeps both engines bit-identical.
    """
    li = table(spark, sf_dir, "lineitem")
    q = F.floor(F.col("l_discount") * 32767).cast("smallint")
    return (
        li.filter(F.col("l_orderkey") <= 100)
        .select(
            "l_orderkey",
            "l_linenumber",
            q.alias("q"),
            (q * (1.0 / 32767.0)).cast("double").alias("dequantized"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# Time-series / events (pre-streaming batch semantics; streaming variants in
# flink_mm_spark.streaming)
# ---------------------------------------------------------------------------


@register(
    "events_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation over the events table.

    Same F.window plan works under Structured Streaming with a watermark
    (see streaming module); epoch-aligned hourly tumbling ≡ date_trunc.
    """
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").getField("start").alias("window_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("sum_value"),
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "events_json_props",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the props column (string/JSON functions)."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.filter(k.isNotNull())
        .groupBy("event_type")
        .agg(F.sum(k.cast("bigint")).alias("sum_k"), F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


@register(
    "cube_order_stats",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping combinations in one
    shuffle (SURVEY §2.4 'absent in reference → free via Catalyst')."""
    o = table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("total"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@register(
    "quantity_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25,
           ROUND(quantile_cont(l_quantity, 0.50), 6) AS p50,
           ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def quantity_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (sort-based within group).

    Uses Spark's exact ``percentile`` (not percentile_approx) so the result
    hash-matches quantile_cont. At 100 TB the approx sketch is the right
    default; exact stays available for audit queries like this one.
    """
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_quantity, 0.25)"), 6).alias("p25"),
            F.round(F.expr("percentile(l_quantity, 0.50)"), 6).alias("p50"),
            F.round(F.expr("percentile(l_quantity, 0.75)"), 6).alias("p75"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "monthly_revenue_trend",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT month, revenue,
           ROUND(revenue - lag(revenue) OVER (ORDER BY month), 6) AS delta
    FROM m ORDER BY month
    """,
)
def monthly_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc + month-over-month delta via lag window (date/scalar
    function surface + ordered window, SURVEY §2.5/§2.6 extensions)."""
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    m = o.groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month")).agg(
        dsum("o_totalprice").alias("revenue")
    )
    w = Window.orderBy("month")
    return (
        m.withColumn("delta", F.round(F.col("revenue") - F.lag("revenue").over(w), 6))
        .orderBy("month")
    )


@register(
    "salted_event_totals",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def salted_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof aggregation: salt → partial agg → final agg.

    event_type has a handful of distinct values — at 100 TB a plain
    groupBy(event_type) funnels the whole table into ~5 reducers. Salting
    the key (16-way here) spreads the partial aggregation across
    5×16 reducers; the final agg combines 80 tiny rows. Decimal partials
    keep the two-phase sum bit-identical to the single-phase oracle. (For
    ad-hoc queries AQE's skew handling covers joins; salting is the
    explicit pattern for known-skewed aggregation keys.)
    """
    e = table(spark, sf_dir, "events")
    salted = e.withColumn("salt", (F.pmod(F.col("event_id"), F.lit(16))).cast("int"))
    partial = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("ps"),
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("pn").alias("n"),
            F.sum("ps").cast("double").alias("total"),
        )
        .orderBy("event_type")
    )


@register(
    "economy_revenue_share",
    oracle="""
    SELECT
      ROUND(CAST(100.0 * SUM(CASE WHEN p_type = 'ECONOMY'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                 ELSE CAST(0 AS DECIMAL(18,6)) END)
           / SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 6) AS economy_share,
      COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
)
def economy_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation over a broadcast fact-dim join (TPC-H Q14
    shape): revenue share of one part type, exact via decimal ratio."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    zero = F.lit(0).cast("decimal(18,6)")
    j = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    return j.agg(
        # rounded: the double promotion order of 100·a/b differs between
        # engines by one ulp at sf0.1
        F.round(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "ECONOMY", rev).otherwise(zero))
                / F.sum(rev)
            ).cast("double"),
            6,
        ).alias("economy_share"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "orders_with_returns",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
    )
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def orders_with_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS → left-semi join (TPC-H Q4 shape): orders having at
    least one returned lineitem, counted by priority."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderpriority")
    )


@register(
    "customer_order_gaps",
    oracle="""
    WITH seq AS (
      SELECT o_custkey, o_orderdate,
             lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
      FROM orders
    )
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           CAST(MAX(date_diff('day', prev, o_orderdate)) AS BIGINT) AS max_gap_days
    FROM seq
    GROUP BY o_custkey
    HAVING COUNT(*) >= 8
    ORDER BY o_custkey
    """,
)
def customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer inter-order gaps: partitioned lag window + date
    arithmetic + HAVING (windows shuffle once on the partition key)."""
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        "o_orderdate",
        F.lag("o_orderdate").over(w).alias("prev"),
    )
    return (
        seq.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.max(F.datediff(F.col("o_orderdate"), F.col("prev"))).cast("long").alias("max_gap_days"),
        )
        .filter(F.col("n_orders") >= 8)
        .orderBy("o_custkey")
    )


@register(
    "user_sessions_batch",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST(value AS DECIMAL(18,6)) AS dv
      FROM events
    ),
    seq AS (
      SELECT user_id, event_id, us, dv,
             CASE WHEN us - lag(us) OVER w > 30 * 60 * 1000000 OR
                       lag(us) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    sess AS (
      SELECT user_id, us, dv,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM seq
    )
    SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
           COUNT(*) AS n_events,
           CAST(MIN(us) AS BIGINT) AS start_us,
           CAST(MAX(us) - MIN(us) AS BIGINT) AS dur_us,
           CAST(SUM(dv) AS DOUBLE) AS sum_value
    FROM sess
    GROUP BY user_id, sess_id
    ORDER BY user_id, sess_id
    """,
)
def user_sessions_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): 30-min inactivity gap per
    user via lag + running sum — the batch twin of the streaming
    ``session_window`` aggregate, exactly oracle-checkable. Session math
    runs on epoch-microsecond integers so both engines see identical
    values. One shuffle on user_id serves both windows and the final agg.
    """
    from pyspark.sql.window import Window

    e = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.col("value").cast("decimal(18,6)").alias("dv"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    new_sess = F.when(
        (F.col("us") - F.lag("us").over(w) > 30 * 60 * 1_000_000)
        | F.lag("us").over(w).isNull(),
        1,
    ).otherwise(0)
    sess = e.withColumn(
        "sess_id",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return (
        sess.groupBy("user_id", "sess_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("us").cast("long").alias("start_us"),
            (F.max("us") - F.min("us")).cast("long").alias("dur_us"),
            F.sum("dv").cast("double").alias("sum_value"),
        )
        .orderBy("user_id", "sess_id")
    )


@register(
    "event_followups_range_join",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
    )
    SELECT a.event_type AS lead_type, b.event_type AS follow_type,
           COUNT(*) AS n_pairs
    FROM e a JOIN e b
      ON a.user_id = b.user_id
     AND b.us > a.us AND b.us <= a.us + 5 * 60 * 1000000
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def event_followups_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) self-join: events followed by another event from the
    same user within 5 minutes, counted by type transition.

    The reference has no theta/range joins (SURVEY §2.3 'absent'); here the
    equi-part (user_id) is the shuffle key and the range predicate filters
    within each user's partition — the standard band-join shape. Skewed
    users are the risk at scale: AQE skew-join splits them, or pre-bucket
    time into coarse intervals and join on (user, bucket) to bound the
    per-key cross product.
    """
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    a = e.select(
        F.col("user_id").alias("ua"), F.col("us").alias("us_a"), F.col("event_type").alias("lead_type")
    )
    b = e.select(
        F.col("user_id").alias("ub"), F.col("us").alias("us_b"), F.col("event_type").alias("follow_type")
    )
    return (
        a.join(
            b,
            (F.col("ua") == F.col("ub"))
            & (F.col("us_b") > F.col("us_a"))
            & (F.col("us_b") <= F.col("us_a") + 5 * 60 * 1_000_000),
        )
        .groupBy("lead_type", "follow_type")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("lead_type", "follow_type")
    )


@register(
    "asof_click_purchase",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
    ),
    clicks AS (SELECT user_id, event_id, us FROM e WHERE event_type = 'click'),
    -- collapse same-microsecond purchases to the max event_id so the ASOF
    -- match is total (mirrors the Spark side's event_id tie-break)
    purchases AS (SELECT user_id, MAX(event_id) AS p_event, us AS p_us
                  FROM e WHERE event_type = 'purchase' GROUP BY user_id, us)
    SELECT c.user_id, c.event_id,
           CAST(p.p_event AS BIGINT) AS prior_purchase_event,
           CAST(c.us - p.p_us AS BIGINT) AS gap_us
    FROM clicks c
    ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.us >= p.p_us
    ORDER BY c.user_id, c.event_id
    """,
)
def asof_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click matched to the same user's most recent prior
    (or simultaneous) purchase, NULL when none.

    Spark lacks a native ASOF JOIN; the scalable formulation is the
    union-and-carry pattern: union both streams ordered by time per user,
    then ``last(purchase, ignoreNulls)`` over an unbounded-preceding window
    carries the latest purchase forward to each click — ONE shuffle on
    user_id, no range-join blowup, works at any key cardinality. The DuckDB
    oracle uses its native ASOF JOIN, proving the rewrite's semantics.
    """
    from pyspark.sql.window import Window

    e = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    both = e.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "event_id",
        "us",
        F.when(F.col("event_type") == "purchase", F.struct("us", "event_id")).alias("p"),
        F.col("event_type").alias("et"),
    )
    # purchases sort before simultaneous clicks so "ts >= purchase ts" holds
    order = [F.col("us"), F.when(F.col("et") == "purchase", 0).otherwise(1), F.col("event_id")]
    w = Window.partitionBy("user_id").orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    carried = both.withColumn("last_p", F.last("p", ignorenulls=True).over(w))
    return (
        carried.filter(F.col("et") == "click")
        .select(
            "user_id",
            "event_id",
            F.col("last_p.event_id").cast("long").alias("prior_purchase_event"),
            (F.col("us") - F.col("last_p.us")).cast("long").alias("gap_us"),
        )
        .orderBy("user_id", "event_id")
    )


@register("approx_distinct_users", oracle=None)  # HLL sketch ≠ DuckDB's → rows-only
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) vs exact, per event_type.

    The sketch path is the 100 TB default for distinct counts: fixed-size
    state (vs a full hash table), mergeable partials, one narrow shuffle.
    Deterministic for a given input (hash-based, no RNG) but implementation
    -specific, so it is rows-only checked; the ≤2% relative-error contract
    vs the exact count is asserted in tests/test_relational_extra.py.
    The sketch *algorithm* is exactly value-graded by its portable twin
    ``hll_distinct_exact`` below.
    """
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .orderBy("event_type")
    )


# --- exactly-graded HyperLogLog twin ---------------------------------------

# SQL-replayable HLL: the sketch math is re-expressed so every intermediate
# is an integer (exact in any engine) and the single float step is one IEEE
# multiply+divide on identical inputs (bit-deterministic):
#
# - base hash: first 15 hex digits of md5(user_id) → 60 bits, parsed
#   identically by Spark (conv(_,16,10)) and DuckDB (CAST('0x…' AS BIGINT)).
# - register index = h & (m-1); the remaining w = h >> p bits feed the
#   geometric variable rho = trailing_zeros(w)+1. Instead of materializing
#   rho (log2 on arbitrary ints is float-fragile), each element keeps
#   lowbit = w & -w — a power of two MONOTONE in rho — so the register
#   aggregate is MAX(lowbit), pure int64 math.
# - the harmonic denominator Σ 2^-rho_j is scaled by 2^(p+51)=2^56 so each
#   register contributes the exact integer 2^55 / maxv (integer division of
#   powers of two) and each empty register contributes 2^56; the scaled sum
#   fits int64 (≤ 32·2^56 = 2^61).
# - estimate = alpha_32 · m² · 2^56 / harmonic_scaled = (0.697 · 2^66) /
#   harmonic — two IEEE double ops on bit-identical operands, so even the
#   DOUBLE column hashes identically cross-engine.
HLL_P = 5
HLL_M = 1 << HLL_P  # 32 registers: raw-HLL regime for n ≳ 2.5m = 80
_HLL_LOW = 1 << (60 - HLL_P)  # 2^55: lowbit stand-in for the w == 0 case
_HLL_EMPTY = 1 << (61 - HLL_P)  # 2^56: scaled 2^-0 of an empty register
_HLL_ALPHA = 0.697  # Flajolet et al. alpha_32
_HLL_NUM = float(1 << 66)  # m² · 2^56 = 2^66, exactly representable

_HLL_ORACLE = f"""
WITH h AS (
  SELECT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM events
),
b AS (
  SELECT event_type, h & {HLL_M - 1} AS idx,
         CASE WHEN (h >> {HLL_P}) = 0 THEN {_HLL_LOW}
              ELSE (h >> {HLL_P}) & -(h >> {HLL_P}) END AS v
  FROM h
),
regs AS (SELECT event_type, idx, MAX(v) AS maxv FROM b GROUP BY 1, 2),
agg AS (
  SELECT event_type,
         COUNT(*) AS registers_used,
         SUM({_HLL_LOW} // maxv) AS hp
  FROM regs GROUP BY 1
),
ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_users FROM events GROUP BY 1)
SELECT a.event_type,
       CAST(a.registers_used AS BIGINT) AS registers_used,
       CAST(a.hp + ({HLL_M} - a.registers_used) * {_HLL_EMPTY} AS BIGINT) AS harmonic_scaled,
       ROUND(CAST({_HLL_ALPHA} AS DOUBLE) * {_HLL_NUM!r}
             / CAST(a.hp + ({HLL_M} - a.registers_used) * {_HLL_EMPTY} AS DOUBLE), 4) AS est_users,
       ex.exact_users AS exact_users
FROM agg a JOIN ex USING (event_type)
ORDER BY event_type
"""


@register("hll_distinct_exact", oracle=_HLL_ORACLE)
def hll_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A complete HyperLogLog sketch, exactly graded (the twin that upgrades
    ``approx_distinct_users`` from rows-only to a value-hashed oracle).

    Same register/estimator math as approx_count_distinct (HyperLogLog,
    Flajolet et al. 2007) over a portable md5-derived hash family that DuckDB
    replays bit-for-bit — see the constants block above for how every sketch
    intermediate is kept integer-exact. The plan is the production sketch
    shape: one partial+final aggregate to (event_type, register) — m=32
    fixed-size state per group — then an m-row rollup per key; at 100 TB the
    shuffle carries ≤ keys·m 16-byte rows, exactly like the built-in HLL++.
    The production path stays ``approx_count_distinct`` (bias-corrected,
    dense/sparse encodings); this twin grades the algorithm family. Raw-HLL
    regime (no linear-counting branch): valid for n ≳ 2.5·m = 80, satisfied
    by every event_type at the grading scale (n = 150/type at sf0.01).
    """
    e = table(spark, sf_dir, "events")
    h = F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    base = e.select(F.col("event_type"), h.alias("h")).select(
        "event_type",
        F.col("h").bitwiseAND(F.lit(HLL_M - 1)).alias("idx"),
        F.shiftright("h", HLL_P).alias("w"),
    )
    v = F.when(F.col("w") == 0, F.lit(_HLL_LOW)).otherwise(
        F.col("w").bitwiseAND(-F.col("w"))
    )
    regs = (
        base.select("event_type", "idx", v.alias("v"))
        .groupBy("event_type", "idx")
        .agg(F.max("v").alias("maxv"))
    )
    agg = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("registers_used"),
        F.sum(F.expr(f"{_HLL_LOW} DIV maxv")).alias("hp"),
    )
    harm = F.col("hp") + (F.lit(HLL_M) - F.col("registers_used")) * F.lit(_HLL_EMPTY)
    exact = e.groupBy("event_type").agg(F.countDistinct("user_id").alias("exact_users"))
    return (
        agg.join(exact, "event_type")
        .select(
            "event_type",
            F.col("registers_used").cast("long").alias("registers_used"),
            harm.cast("long").alias("harmonic_scaled"),
            F.round(F.lit(_HLL_ALPHA) * F.lit(_HLL_NUM) / harm.cast("double"), 4).alias(
                "est_users"
            ),
            "exact_users",
        )
        .orderBy("event_type")
    )


@register(
    "event_type_pivot",
    oracle="""
    SELECT user_id % 100 AS user_bucket,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
    FROM events
    GROUP BY 1 ORDER BY 1
    """,
)
def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: event_type values become count columns per user bucket.

    The explicit value list keeps the plan single-pass (no distinct-values
    pre-query) — required at scale, where an unlisted pivot would scan the
    table twice. Compiles to one hash aggregate with conditional counts.
    """
    e = table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        e.withColumn("user_bucket", F.col("user_id") % 100)
        .groupBy("user_bucket")
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
    )
    return out.select(
        "user_bucket", *[F.col(t).cast("long").alias(t) for t in types]
    ).orderBy("user_bucket")


@register(
    "order_price_unpivot",
    oracle="""
    SELECT o_orderkey, metric, CAST(v AS DOUBLE) AS v
    FROM (
      SELECT o_orderkey,
             CAST(o_totalprice AS DOUBLE) AS total_price,
             CAST(o_custkey AS DOUBLE) AS cust_key
      FROM orders WHERE o_orderkey < 200
    )
    UNPIVOT (v FOR metric IN (total_price, cust_key))
    ORDER BY o_orderkey, metric
    """,
)
def order_price_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide metric columns to (key, metric, value) rows —
    the inverse of ``event_type_pivot``, a pure narrow transform (no
    shuffle; check the plan has only Expand over the scan)."""
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 200)
        .select(
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("total_price"),
            F.col("o_custkey").cast("double").alias("cust_key"),
        )
    )
    return o.unpivot(
        "o_orderkey", ["total_price", "cust_key"], "metric", "v"
    ).orderBy("o_orderkey", "metric")


# --- mergeable histogram sketch + quantile estimation -----------------------

HIST_WIDTH = 2048.0  # 64 buckets cover l_extendedprice's [900, 105000] range
HIST_BUCKETS = 64
_HIST_QS = [("p50", 0.5), ("p95", 0.95), ("p99", 0.99)]


def _hist_oracle() -> str:
    qvals = ", ".join(f"('{l}', CAST({q} AS DOUBLE))" for l, q in _HIST_QS)
    return f"""
    WITH p AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM p),
    b AS (
      SELECT LEAST(CAST(FLOOR(v / {HIST_WIDTH}) AS BIGINT), {HIST_BUCKETS - 1}) AS bucket,
             COUNT(*) AS cnt
      FROM p GROUP BY 1
    ),
    c AS (
      SELECT bucket, cnt,
             SUM(cnt) OVER (ORDER BY bucket) AS cum,
             COALESCE(SUM(cnt) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
      FROM b
    ),
    q AS (SELECT * FROM (VALUES {qvals}) t(label, q)),
    t AS (SELECT q.label, CAST(CEIL(q.q * CAST(n.n AS DOUBLE)) AS BIGINT) AS target FROM q, n),
    hit AS (
      SELECT t.label, t.target, c.bucket, c.cnt, c.cum_prev
      FROM t JOIN c ON c.cum >= t.target AND c.cum_prev < t.target
    ),
    r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM p),
    ex AS (SELECT t.label, r.v AS exact FROM t JOIN r ON r.rn = t.target)
    SELECT h.label,
           h.target AS target_rank,
           CAST(h.bucket AS INTEGER) AS bucket,
           ROUND(CAST(h.bucket AS DOUBLE) * {HIST_WIDTH}
                 + {HIST_WIDTH} * ((CAST(h.target AS DOUBLE) - CAST(h.cum_prev AS DOUBLE))
                                   / CAST(h.cnt AS DOUBLE)), 6) AS est,
           ROUND(ex.exact, 6) AS exact
    FROM hit h JOIN ex ON ex.label = h.label
    ORDER BY h.label
    """


@register("histogram_quantiles", oracle=_hist_oracle())
def histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable equi-width histogram sketch with quantile estimation,
    exactly graded next to the exact rank answer.

    The sketch is the 100 TB shape for percentile monitoring: ONE scan with
    map-side partial counts into {HIST_BUCKETS} fixed buckets (bounded,
    mergeable state — the same contract as t-digest/KLL but exactly
    replayable), a 64-row cumulative pass, and linear interpolation inside
    the boundary bucket. The ``exact`` column is the true rank-target value
    via a global ROW_NUMBER — deliberately the anti-pattern the sketch
    replaces (a single-partition sort), kept here as the audit twin so the
    driver grades BOTH the sketch mechanics and its error against truth.
    All estimate arithmetic is identically-ordered IEEE doubles over
    integer counts; the exact value is a data value picked by integer rank
    (tie-order-independent), so every column hash-matches DuckDB.
    """
    from pyspark.sql.window import Window

    li = table(spark, sf_dir, "lineitem")
    p = li.select(F.col("l_extendedprice").cast("double").alias("v"))
    nrow = p.agg(F.count(F.lit(1)).cast("long").alias("n"))
    b = (
        p.select(
            F.least(
                F.floor(F.col("v") / F.lit(HIST_WIDTH)).cast("long"),
                F.lit(HIST_BUCKETS - 1),
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("bucket")
    c = b.select(
        "bucket",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.coalesce(
            F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
        ).alias("cum_prev"),
    )
    qs = spark.createDataFrame(_HIST_QS, "label string, q double")
    t = qs.crossJoin(F.broadcast(nrow)).select(
        "label", F.ceil(F.col("q") * F.col("n").cast("double")).cast("long").alias("target")
    )
    hit = t.join(
        F.broadcast(c),
        (F.col("cum") >= F.col("target")) & (F.col("cum_prev") < F.col("target")),
    )
    r = p.withColumn("rn", F.row_number().over(Window.orderBy("v")))
    ex = r.join(F.broadcast(t), F.col("rn") == F.col("target")).select(
        "label", F.round("v", 6).alias("exact")
    )
    est = (F.col("bucket").cast("double") * F.lit(HIST_WIDTH)) + F.lit(HIST_WIDTH) * (
        (F.col("target").cast("double") - F.col("cum_prev").cast("double"))
        / F.col("cnt").cast("double")
    )
    return (
        hit.select(
            "label",
            F.col("target").alias("target_rank"),
            F.col("bucket").cast("int").alias("bucket"),
            F.round(est, 6).alias("est"),
        )
        .join(ex, "label")
        .orderBy("label")
    )


@register(
    "user_funnel_full_outer",
    oracle="""
    WITH c AS (SELECT user_id, COUNT(*) AS n_clicks
               FROM events WHERE event_type = 'click' GROUP BY 1),
    p AS (SELECT user_id, COUNT(*) AS n_purchases
          FROM events WHERE event_type = 'purchase' GROUP BY 1)
    SELECT COALESCE(c.user_id, p.user_id) AS user_id,
           CAST(COALESCE(c.n_clicks, 0) AS BIGINT) AS n_clicks,
           CAST(COALESCE(p.n_purchases, 0) AS BIGINT) AS n_purchases,
           CASE WHEN c.user_id IS NULL THEN 'purchase_only'
                WHEN p.user_id IS NULL THEN 'click_only'
                ELSE 'both' END AS funnel_state
    FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
    ORDER BY 1
    """,
)
def user_funnel_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: per-user click vs purchase funnel reconciliation —
    completes the engine's join-type surface (inner/broadcast/semi/anti/
    left/as-of/interval/full-outer all graded or deferred-graded).

    Shape note: full outer cannot broadcast either side (both sides'
    unmatched rows must survive), so Spark plans a shuffle sort-merge join
    on the key — correct and AQE-skew-splittable at any scale; the inputs
    here are already user_id-keyed aggregates, so the join carries one row
    per user per side.
    """
    e = table(spark, sf_dir, "events")
    c = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    j = c.join(p, "user_id", "full_outer")
    return j.select(
        "user_id",
        F.coalesce("n_clicks", F.lit(0)).cast("long").alias("n_clicks"),
        F.coalesce("n_purchases", F.lit(0)).cast("long").alias("n_purchases"),
        F.when(F.col("n_clicks").isNull(), "purchase_only")
        .when(F.col("n_purchases").isNull(), "click_only")
        .otherwise("both")
        .alias("funnel_state"),
    ).orderBy("user_id")


@register(
    "events_minutely_gapfill",
    oracle="""
    WITH m AS (
      SELECT date_trunc('minute', ts) AS minute, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1
    ),
    r AS (SELECT MIN(minute) AS lo, MAX(minute) AS hi FROM m),
    grid AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS minute FROM r
    )
    SELECT epoch_us(g.minute) AS minute_us,
           CAST(COALESCE(m.n, 0) AS BIGINT) AS n,
           COALESCE(m.sum_value, 0.0) AS sum_value,
           CAST(CASE WHEN m.minute IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_gap
    FROM grid g LEFT JOIN m ON m.minute = g.minute
    ORDER BY 1
    """,
)
def events_minutely_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification: per-minute rollup LEFT-joined onto a
    generated minute grid (``sequence`` + explode), zero-filling silent
    minutes — the resample/gap-fill primitive monitoring pipelines need
    (an aggregation alone cannot SHOW a silent minute).

    Scale shape: the rollup is one partial+final aggregate, PERSISTED so
    the grid-bounds aggregate and the join side reuse it instead of
    re-scanning the corpus (the rollup is minutes-sized, cheap to cache);
    the grid is generated (minutes-between-min-and-max rows — bounded by
    calendar time, not corpus size: a YEAR is 526k rows) and the
    grid⋈rollup join is an equi-join on the minute key that AQE broadcasts
    while the grid is small. Timestamps are graded as epoch-microsecond
    integers (CLAUDE.md timestamp rule).
    """
    e = table(spark, sf_dir, "events")
    m = keep_latest(
        "gapfill_minutes",
        e.groupBy(F.date_trunc("minute", "ts").alias("minute")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        ),
    )
    grid = (
        m.agg(F.min("minute").alias("lo"), F.max("minute").alias("hi"))
        .select(
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 MINUTE"))
            ).alias("minute")
        )
    )
    j = grid.join(m, "minute", "left")
    return j.select(
        F.unix_micros("minute").alias("minute_us"),
        F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        F.when(F.col("n").isNull(), 1).otherwise(0).cast("int").alias("is_gap"),
    ).orderBy("minute_us")


# --- exactly-graded count-min sketch ---------------------------------------

# Frequency estimation completes the sketch trio (HLL = cardinality,
# histogram = quantiles, count-min = frequency). Count-min is
# order-independent by construction — counters are plain sums — so unlike
# Misra-Gries/Space-Saving (merge-order-dependent) it replays exactly in
# SQL: the same portable md5-derived hash family as the HLL twin maps each
# token to one column per hash row, counters aggregate per (row, col), and
# a point query reads MIN over rows of its counter — all int64.
CM_D = 4  # hash rows
CM_W = 64  # counters per row
CM_PROBES = ["scan", "join", "window", "merge"]  # point-queried tokens

_CM_COL = (
    "CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || t), 1, 15)) AS BIGINT)"
    f" & {CM_W - 1}"
)

_CM_ORACLE = f"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
  FROM documents
),
rows_ AS (SELECT unnest(range(0, {CM_D})) AS r),
cells AS (
  SELECT r, {_CM_COL} AS col, COUNT(*) AS cnt
  FROM toks, rows_ GROUP BY 1, 2
),
probes AS (SELECT unnest([{", ".join(repr(p) for p in CM_PROBES)}]) AS t),
lookups AS (
  SELECT probes.t, rows_.r, {_CM_COL} AS col
  FROM probes, rows_
),
est AS (
  SELECT l.t, CAST(MIN(c.cnt) AS BIGINT) AS est_count
  FROM lookups l JOIN cells c ON c.r = l.r AND c.col = l.col
  GROUP BY 1
),
exact AS (
  SELECT t, COUNT(*) AS exact_count FROM toks
  WHERE t IN ({", ".join(repr(p) for p in CM_PROBES)}) GROUP BY 1
)
SELECT est.t AS token, est.est_count, exact.exact_count
FROM est JOIN exact ON exact.t = est.t
ORDER BY token
"""


@register("count_min_exact", oracle=_CM_ORACLE)
def count_min_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A complete count-min sketch (Cormode & Muthukrishnan), exactly
    graded: token frequencies over the documents corpus estimated from a
    4x64 counter matrix and point-queried for fixed probe tokens, next
    to the true counts.

    Scale shape: ONE token explode fans out to CM_D hash rows (a 4-way
    row multiply, pure JVM md5/bit math), then a partial+final aggregate
    onto (row, col) — the sketch is d·w counters TOTAL regardless of
    corpus size (vs the unbounded exact token table), mergeable by
    addition across any partitioning, which is why count-min is the
    100 TB shape for heavy-hitter monitoring. Estimates upper-bound truth
    (est >= exact always; over-count = hash collisions), asserted in
    tests/test_relational_extra.py. Every value is an int64 count —
    hash-exact in DuckDB via the shared portable md5 hash family.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("t")
    )
    rows = spark.range(CM_D).select(F.col("id").cast("int").alias("r"))
    col_expr = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.col("r").cast("string"), F.col("t"))), 1, 15),
        16,
        10,
    ).cast("long").bitwiseAND(F.lit(CM_W - 1))
    cells = (
        toks.crossJoin(F.broadcast(rows))
        .select("r", col_expr.alias("col"))
        .groupBy("r", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    probes = spark.createDataFrame([(p,) for p in CM_PROBES], "t string")
    lookups = probes.crossJoin(F.broadcast(rows)).select(
        "t", "r", col_expr.alias("col")
    )
    est = (
        lookups.join(F.broadcast(cells), ["r", "col"])
        .groupBy("t")
        .agg(F.min("cnt").cast("long").alias("est_count"))
    )
    exact = (
        toks.filter(F.col("t").isin(CM_PROBES))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return (
        est.join(exact, "t")
        .select(F.col("t").alias("token"), "est_count", "exact_count")
        .orderBy("token")
    )
