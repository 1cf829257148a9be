"""Round-7 batch 12: the last aggregate-family tails.

- ``quantile_timing`` — ClickHouse ``quantileTiming`` analog: a
  deterministic TIERED-BUCKET quantile for latency-like values (exact
  1-unit buckets below 1024, 16-wide buckets to 65536, clamped above) —
  unlike sampling/sketch quantiles the result is a pure function of the
  multiset, so it is cross-engine exact by construction and mergeable
  (bounded bucket-count state) — the serving-layer latency percentile at
  100 TB;
- ``covar_corr_matrix`` — ClickHouse ``covarPop``/``covarSamp``/
  ``corrMatrix`` analog: the pairwise covariance/correlation matrix of
  the lineitem measures, one output row per pair, every statistic
  combined from exact decimal moments (catalog_stats discipline).

Exactness rules as catalog10/11 (decimal moments, mirrored expression
shapes, integer bucket arithmetic).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from clickhouse_provider_spark.plans.catalog import as_double, dec, register

#: timing tiers: exact below SMALL, STEP-wide to BIG, clamped at BIG
_SMALL, _STEP, _BIG = 1024, 16, 65536


@register(
    "quantile_timing",
    oracle=f"""
    WITH v AS (
      SELECT event_type,
             CAST(floor(value * 100.0) AS BIGINT) AS t  -- value in "cs"
      FROM events
    ), b AS (
      SELECT event_type,
             CASE WHEN t < {_SMALL} THEN t
                  WHEN t < {_BIG} THEN (t // {_STEP}) * {_STEP}
                  ELSE {_BIG} END AS bucket,
             count(*) AS cnt
      FROM v GROUP BY 1, 2
    ), c AS (
      SELECT event_type, bucket, cnt,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
             sum(cnt) OVER (PARTITION BY event_type) AS n
      FROM b
    )
    SELECT event_type, CAST(max(n) AS BIGINT) AS n,
           min(CASE WHEN 2 * cum >= n THEN bucket END) AS p50_bucket,
           min(CASE WHEN 10 * cum >= 9 * n THEN bucket END) AS p90_bucket,
           min(CASE WHEN 100 * cum >= 99 * n THEN bucket END) AS p99_bucket
    FROM c GROUP BY event_type
    """,
    doc="ClickHouse quantileTiming analog over value*100 (centi-units, "
    "a latency-like integer domain): tiered deterministic buckets — "
    "exact 1-unit resolution below 1024, 16-wide buckets to 65536, "
    "clamped above (the ClickHouse timing tradeoff: full accuracy for "
    "small latencies, bounded state for the tail). The quantile is the "
    "smallest bucket whose cumulative count reaches ceil(q*n), compared "
    "in integers (2*cum >= n etc.) so no float appears anywhere — "
    "cross-engine exact AND mergeable: per-group state is <= 3620 "
    "bucket counts, the AggregatingMergeTree-style rollup shape. Scale: "
    "one combiner groupBy to buckets, a tiny per-group window.",
    tags=("analytics", "stats", "approx", "serving"),
)
def q_quantile_timing(spark, t):
    v = t["events"].select(
        "event_type",
        F.floor(F.col("value") * F.lit(100.0)).cast("long").alias("t"),
    )
    bucket = (
        F.when(F.col("t") < _SMALL, F.col("t"))
        .when(F.col("t") < _BIG, F.expr(f"(t DIV {_STEP}) * {_STEP}"))
        .otherwise(F.lit(_BIG))
    )
    b = v.groupBy("event_type", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    c = b.select(
        "event_type",
        "bucket",
        "cnt",
        F.sum("cnt")
        .over(W.partitionBy("event_type").orderBy("bucket"))
        .alias("cum"),
        F.sum("cnt").over(W.partitionBy("event_type")).alias("n"),
    )
    def pick(mult_cum: int, mult_n: int, name: str) -> F.Column:
        return F.min(
            F.when(
                F.lit(mult_cum) * F.col("cum") >= F.lit(mult_n) * F.col("n"),
                F.col("bucket"),
            )
        ).alias(name)

    return c.groupBy("event_type").agg(
        F.max("n").alias("n"),
        pick(2, 1, "p50_bucket"),
        pick(10, 9, "p90_bucket"),
        pick(100, 99, "p99_bucket"),
    )


_PAIRS = [
    ("l_quantity", "l_extendedprice"),
    ("l_quantity", "l_discount"),
    ("l_extendedprice", "l_discount"),
]

_PAIR_SQL = """
      SELECT '{x}|{y}' AS pair, count(*) AS n,
             CAST(sum(CAST({x} AS DECIMAL(12,2))) AS DOUBLE) AS sx,
             CAST(sum(CAST({y} AS DECIMAL(12,2))) AS DOUBLE) AS sy,
             CAST(sum(CAST(CAST({x} AS DECIMAL(12,2))
                           * CAST({x} AS DECIMAL(12,2)) AS DECIMAL(24,4))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(CAST({y} AS DECIMAL(12,2))
                           * CAST({y} AS DECIMAL(12,2)) AS DECIMAL(24,4))) AS DOUBLE) AS syy,
             CAST(sum(CAST(CAST({x} AS DECIMAL(12,2))
                           * CAST({y} AS DECIMAL(12,2)) AS DECIMAL(24,4))) AS DOUBLE) AS sxy
      FROM lineitem
"""


@register(
    "covar_corr_matrix",
    oracle="""
    WITH m AS (
    """
    + "      UNION ALL".join(_PAIR_SQL.format(x=x, y=y) for x, y in _PAIRS)
    + """
    )
    SELECT pair, n,
           (sxy - sx * sy / n) / n AS covar_pop,
           (sxy - sx * sy / n) / nullif(n - 1.0, 0.0) AS covar_samp,
           (n * sxy - sx * sy)
             / nullif(sqrt(greatest(n * sxx - sx * sx, 0.0))
                      * sqrt(greatest(n * syy - sy * sy, 0.0)), 0.0)
             AS corr
    FROM m
    """,
    doc="ClickHouse covarPop / covarSamp / corrMatrix analog: the "
    "pairwise covariance + correlation matrix of the lineitem measures "
    "(quantity, price, discount), one row per unordered pair. Exact "
    "decimal moments per pair (values are exactly 2dp; scaled sums stay "
    "far below 2^53 per the catalog10 export rule), combined with "
    "expression shapes mirrored token-for-token. Scale: the three "
    "moment sets reduce in ONE pass over the fact table "
    "(combiner-friendly partial sums), then a 3-row projection.",
    tags=("analytics", "stats"),
)
def q_covar_corr_matrix(spark, t):
    # ONE pass over the fact table (round 14, guide §1.2-1): the three
    # pair frames used to run three separate full-scan aggregations
    # unioned together — but the 3 pairs share their per-column moments,
    # so a single aggregate computes the 10 distinct sums (count, 3
    # linear, 3 squared, 3 cross — decimal, exact, identical values in
    # any grouping of the scan) and a 1-row explode fans them out to the
    # same 3 output rows. Plan: 3× (scan + HashAggregate) → 1×.
    # Round 15 (VERDICT r14 task 3 — the one-pass form regressed 0.78×
    # in both r14 runs): the single aggregate serializes all 10 decimal
    # partial sums into the scan's task count, and the driver testdata
    # scans are ONE task — the old 3-scan union got 3 parallel tasks for
    # the same total work, which is exactly why one-pass measured slower
    # locally. spread_scan (guide §2.5; the r14 #3/#4 remedy) hash-
    # repartitions the narrow 3-measure projection (keyed on the measures
    # themselves: the query reads no other column) only when the scan
    # under-splits, so the partial aggregation runs on all
    # cores locally and the repartition is a NO-OP on well-split
    # production scans — keeping the structural 3-scans→1 win at scale.
    from clickhouse_provider_spark.operators import spread_scan

    measures = sorted({c for xy in _PAIRS for c in xy})
    li = spread_scan(t["lineitem"].select(*measures), *measures)
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in measures:
        dc = dec(F.col(c))
        aggs.append(as_double(F.sum(dc)).alias(f"s|{c}"))
        aggs.append(
            as_double(F.sum((dc * dc).cast(T.DecimalType(24, 4)))).alias(
                f"ss|{c}|{c}"
            )
        )
    for x, y in _PAIRS:
        dx, dy = dec(F.col(x)), dec(F.col(y))
        aggs.append(
            as_double(F.sum((dx * dy).cast(T.DecimalType(24, 4)))).alias(
                f"ss|{x}|{y}"
            )
        )
    pair_structs = [
        F.struct(
            F.lit(f"{x}|{y}").alias("pair"),
            F.col("n").alias("n"),
            F.col(f"s|{x}").alias("sx"),
            F.col(f"s|{y}").alias("sy"),
            F.col(f"ss|{x}|{x}").alias("sxx"),
            F.col(f"ss|{y}|{y}").alias("syy"),
            F.col(f"ss|{x}|{y}").alias("sxy"),
        )
        for x, y in _PAIRS
    ]
    m = (
        li.agg(*aggs)
        .select(F.explode(F.array(*pair_structs)).alias("m"))
        .select("m.pair", "m.n", "m.sx", "m.sy", "m.sxx", "m.syy", "m.sxy")
    )
    n = F.col("n")
    sx, sy = F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return m.select(
        "pair",
        "n",
        ((sxy - sx * sy / n) / n).alias("covar_pop"),
        ((sxy - sx * sy / n) / F.nullif(n - F.lit(1.0), F.lit(0.0))).alias(
            "covar_samp"
        ),
        (
            (n * sxy - sx * sy)
            / F.nullif(
                F.sqrt(F.greatest(n * sxx - sx * sx, F.lit(0.0)))
                * F.sqrt(F.greatest(n * syy - sy * sy, F.lit(0.0))),
                F.lit(0.0),
            )
        ).alias("corr"),
    )


@register(
    "skew_salted_topk_revenue",
    oracle="""
    SELECT o_custkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
             AS revenue,
           count(*) AS n_orders
    FROM orders GROUP BY o_custkey
    ORDER BY revenue DESC, o_custkey LIMIT 10
    """,
    doc="Skew-safe aggregation on the oracle-checked surface: top-10 "
    "customers by revenue computed through layout.salted_aggregate — "
    "phase 1 groups by (custkey, random 16-way salt) so a power-law hot "
    "key spreads across reducers, phase 2 merges the partials — against "
    "a plain GROUP BY oracle. Decimal partials merge exactly in any "
    "order, so salting is value-invisible (the equivalence the oracle "
    "hash proves). At 100 TB this is the difference between one reducer "
    "owning a billion-row key and 16 sharing it; AQE skew-join handles "
    "joins, salting handles aggregations.",
    tags=("analytics", "layout", "serving"),
)
def q_skew_salted_topk_revenue(spark, t):
    from clickhouse_provider_spark import layout
    from clickhouse_provider_spark.plans.catalog import dec as _dec

    agg = layout.salted_aggregate(
        t["orders"],
        "o_custkey",
        lambda df: [
            F.sum(_dec(F.col("o_totalprice"))).alias("revenue_dec"),
            F.count(F.lit(1)).alias("count_orders"),
        ],
        n_salts=16,
    )
    return (
        agg.select(
            "o_custkey",
            as_double(F.col("revenue_dec")).alias("revenue"),
            F.col("count_orders").alias("n_orders"),
        )
        .orderBy(F.col("revenue").desc(), "o_custkey")
        .limit(10)
    )
