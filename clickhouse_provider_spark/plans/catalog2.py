"""Catalog batch 2: wider analytic surface — cube/grouping sets, value-
range window frames, ranking, sessionization (the stream-analytics
pattern), ordered string aggregation, date parts, subquery forms.

Same cross-engine exactness rules as catalog.py (decimal sums, µs
timestamps, total orders under LIMIT).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from clickhouse_provider_spark.plans.catalog import (
    D18_6,
    as_double,
    dec,
    register,
    ts_us,
)


@register(
    "cube_sales",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag) AS g_flag, grouping(l_linestatus) AS g_status,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
    doc="Full CUBE with grouping indicators (2^k grouping sets in one "
    "pass: Spark expands via Expand + single shuffle).",
    tags=("analytics",),
)
def q_cube_sales(spark, t):
    return (
        t["lineitem"]
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.count(F.lit(1)).alias("n"),
            as_double(F.sum(dec("l_quantity"))).alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "g_flag", "g_status", "n", "sum_qty")
    )


@register(
    "grouping_sets_mixed",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    doc="Explicit GROUPING SETS (status-only, priority-only, grand total) "
    "— the subtotal shapes ClickHouse serves via WITH TOTALS/ROLLUP.",
    tags=("analytics",),
)
def q_grouping_sets_mixed(spark, t):
    t["orders"].createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "user_sessions",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  OR lag(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), s AS (
      SELECT user_id, event_id, ts_us,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_id
      FROM e
    )
    SELECT user_id, session_id, count(*) AS n_events,
           min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
           max(ts_us) - min(ts_us) AS duration_us
    FROM s GROUP BY user_id, session_id
    """,
    doc="Sessionization (30-min inactivity gap) via lag + running sum — "
    "the batch form of a session-window operator (batch entry only). "
    "Scale: one shuffle on user_id; windows stream within partitions.",
    tags=("analytics", "window", "streaming-analog"),
)
def q_user_sessions(spark, t):
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    e = (
        t["events"]
        .select("user_id", "event_id", ts_us().alias("ts_us"))
        .withColumn("prev_ts", F.lag("ts_us").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_ts").isNull() | (F.col("ts_us") - F.col("prev_ts") > 1_800_000_000),
                1,
            ).otherwise(0),
        )
        .withColumn("session_id", F.sum("new_session").over(run).cast("bigint"))
    )
    return e.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
        (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
    )


@register(
    "range_frame_window",
    oracle="""
    SELECT user_id, event_id, ts_us,
           count(*) OVER (PARTITION BY user_id ORDER BY ts_us
                          RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             AS events_last_hour
    FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events)
    """,
    doc="Value-based RANGE frame: per-event trailing-hour activity count "
    "(the moving-window metric class). Count over a range frame is "
    "tie-safe (peers share the frame).",
    tags=("analytics", "window"),
)
def q_range_frame_window(spark, t):
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, W.currentRow)
    )
    return (
        t["events"]
        .select("user_id", "event_id", ts_us().alias("ts_us"))
        .withColumn("events_last_hour", F.count(F.lit(1)).over(w))
    )


@register(
    "rank_dense_percent",
    oracle="""
    SELECT c_custkey, c_nationkey,
           rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    """,
    doc="Ranking family (rank / dense_rank / ntile) under a total order.",
    tags=("analytics", "window"),
)
def q_rank_dense_percent(spark, t):
    w = W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return t["customer"].select(
        "c_custkey",
        "c_nationkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@register(
    "first_last_window",
    oracle="""
    SELECT DISTINCT l_orderkey,
           first_value(l_partkey) OVER w AS first_part,
           last_value(l_partkey) OVER (PARTITION BY l_orderkey
                                       ORDER BY l_linenumber, l_partkey
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND UNBOUNDED FOLLOWING) AS last_part,
           count(*) OVER (PARTITION BY l_orderkey) AS n_lines
    FROM lineitem
    WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey)
    """,
    doc="first/last_value with explicit full frame (the default frame "
    "truncates last_value at CURRENT ROW — classic trap, made explicit). "
    "Ordering includes l_partkey: the synthetic lineitem duplicates "
    "l_linenumber within an order, and first/last of the ORDER BY column "
    "itself stays deterministic under residual ties.",
    tags=("analytics", "window"),
)
def q_first_last_window(spark, t):
    w = W.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        t["lineitem"]
        .select(
            "l_orderkey",
            F.first("l_partkey").over(w).alias("first_part"),
            F.last("l_partkey").over(full).alias("last_part"),
            F.count(F.lit(1)).over(W.partitionBy("l_orderkey")).alias("n_lines"),
        )
        .distinct()
    )


@register(
    "ordered_string_agg",
    oracle="""
    SELECT n_regionkey,
           array_to_string(list(n_name ORDER BY n_name), ',') AS nations,
           count(*) AS n
    FROM nation GROUP BY n_regionkey
    """,
    doc="Ordered string aggregation: collect_list is unordered in a "
    "distributed engine, so determinism requires array_sort before join "
    "(same reason the oracle needs ORDER BY inside list()).",
    tags=("analytics",),
)
def q_ordered_string_agg(spark, t):
    return (
        t["nation"]
        .groupBy("n_regionkey")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "date_parts",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS y,
           CAST(quarter(o_orderdate) AS INT) AS q,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders GROUP BY 1, 2
    """,
    doc="Calendar decomposition (year/quarter) aggregation.",
    tags=("analytics",),
)
def q_date_parts(spark, t):
    return (
        t["orders"]
        .groupBy(
            F.year("o_orderdate").cast("int").alias("y"),
            F.quarter("o_orderdate").cast("int").alias("q"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            as_double(F.sum(dec("o_totalprice"))).alias("total"),
        )
    )


@register(
    "in_subquery_nations",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
    """,
    doc="IN-subquery (compiles to a semi join on the subquery result).",
    tags=("analytics", "subquery"),
)
def q_in_subquery_nations(spark, t):
    asia = t["nation"].filter(F.col("n_regionkey") == 2).select("n_nationkey")
    return (
        t["customer"]
        .join(asia, F.col("c_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("c_custkey", "c_name")
    )


@register(
    "cross_join_dims",
    oracle="""
    SELECT r_name, t.event_type, count(*) AS n
    FROM region CROSS JOIN (SELECT DISTINCT event_type FROM events) t
    GROUP BY 1, 2
    """,
    doc="Cross join of tiny dimensions (the calendar×dim scaffold shape).",
    tags=("analytics", "join"),
)
def q_cross_join_dims(spark, t):
    types = t["events"].select("event_type").distinct()
    return (
        t["region"]
        .crossJoin(types)
        .groupBy("r_name", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "null_handling",
    oracle="""
    SELECT coalesce(nullif(event_type, 'click'), 'was_click') AS et,
           count(*) AS n,
           count(CASE WHEN value > 50 THEN 1 END) AS n_big
    FROM events GROUP BY 1
    """,
    doc="NULL-surface: nullif/coalesce/conditional count.",
    tags=("analytics",),
)
def q_null_handling(spark, t):
    et = F.coalesce(F.nullif(F.col("event_type"), F.lit("click")), F.lit("was_click"))
    return (
        t["events"]
        .groupBy(et.alias("et"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("value") > 50, 1)).alias("n_big"),
        )
    )


@register(
    "regex_classify",
    oracle="""
    SELECT regexp_extract(p_type, '^([A-Z]+)', 1) AS type_head,
           count(*) AS n, count(DISTINCT p_brand) AS n_brands
    FROM part GROUP BY 1
    """,
    doc="Regex extraction + grouping (JVM codegen; same RE2-compatible "
    "pattern semantics in both engines).",
    tags=("analytics", "string"),
)
def q_regex_classify(spark, t):
    return (
        t["part"]
        .groupBy(F.regexp_extract("p_type", "^([A-Z]+)", 1).alias("type_head"))
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("p_brand").alias("n_brands"))
    )


@register(
    "tumbling_event_counts",
    oracle="""
    SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS window_start_us,
           event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    doc="Tumbling 1-hour windows per event type (batch entry only; "
    "F.window is epoch-aligned like DuckDB time_bucket; emitted as "
    "epoch-µs to sidestep timestamp unit differences). A streaming form "
    "would add only a watermark.",
    tags=("analytics", "window", "streaming-analog"),
)
def q_tumbling_event_counts(spark, t):
    ev = t["events"].withColumn(
        "event_time", F.timestamp_micros(F.expr("ts DIV 1000"))
    )
    return (
        ev.groupBy(F.window("event_time", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            as_double(F.sum(dec("value", D18_6))).alias("sum_value"),
        )
        .select(
            F.unix_micros("w.start").alias("window_start_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "approx_distinct_users",
    # Raw HLL++ estimates are engine-specific, so the sketch value itself
    # can never hash-match a DuckDB oracle. What IS cross-engine checkable:
    # the exact count plus the CLAIM the sketch makes — that its estimate
    # lands within the error bound. The Spark side computes the real
    # approx_count_distinct (rsd=0.01) and emits whether it is within 5%
    # (5 sigma) of exact; the oracle asserts that claim is always true. A
    # sketch regression (wrong hashing, wrong merge) breaks the boolean →
    # hash mismatch.
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users_exact,
           true AS approx_within_5pct
    FROM events GROUP BY event_type
    """,
    doc="approx_count_distinct (HyperLogLog++, rsd=0.01) per event type — "
    "the approximate-aggregate class, oracle-graded via its error bound "
    "(estimate within 5% of exact; raw sketch values are engine-specific "
    "by design). Scale: constant-size sketch per group vs. the exact "
    "expand+dedup.",
    tags=("analytics", "approx"),
)
def q_approx_distinct_users(spark, t):
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users_exact"),
            F.approx_count_distinct("user_id", 0.01).alias("_approx"),
        )
        .select(
            "event_type",
            "n_users_exact",
            (
                F.abs(F.col("_approx") - F.col("n_users_exact"))
                <= 0.05 * F.col("n_users_exact")
            ).alias("approx_within_5pct"),
        )
    )
