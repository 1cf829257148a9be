"""Catalog batch 6: temporal operators Spark lacks as built-ins (as-of
join, binned range join, hierarchical hypertable rollup), ClickHouse-parity
behavioral analytics (windowFunnel / retention — functions the reference's
serving DB offers its consumers over the produced tables), and deterministic
hash sampling for corpus rebalancing.

Differential-test design notes:

- ``asof_last_purchase``'s oracle uses DuckDB's NATIVE ``ASOF LEFT JOIN`` —
  a completely different algorithm (sort-probe) from our union+window plan,
  so agreement is strong evidence of correct point-in-time semantics.
  Determinism holds because (user_id, ts) is duplicate-free in the testdata
  at every SF (verified 0.001/0.01/0.1).
- ``range_join_1h_windows``'s oracle is a plain inequality join (DuckDB
  IEJoin); ours is the bin-and-equi-join rewrite. Same-result ⇒ the rewrite
  is semantics-preserving, while the Spark plan contains NO
  BroadcastNestedLoopJoin/CartesianProduct (asserted in tests).
- ``hypertable_rollup_1h1d1w``'s oracle computes every resolution DIRECTLY
  from raw rows; Spark re-aggregates coarser levels from finer ones.
  Decimal sums make both paths bit-equal.
- Sampling entries share exact md5-prefix thresholds with their oracles
  (md5 is bit-identical across engines; fixed-width lowercase-hex compare
  equals numeric compare).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clickhouse_provider_spark.operators.sampling import (
    fraction_to_hex_threshold,
    hash_fraction_sample,
    reservoir_per_group,
)
from clickhouse_provider_spark.operators.temporal import (
    asof_join,
    hypertable_rollup,
    range_join_binned,
)
from clickhouse_provider_spark.plans.catalog import (
    D18_6,
    as_double,
    dec,
    register,
    ts_us,
)

HOUR_US = 3_600_000_000
DAY_US = 86_400_000_000
WEEK_US = 7 * DAY_US

_STRATA = {"click": 0.1, "view": 0.1, "error": 0.5, "purchase": 1.0, "signup": 0.25}
_SALT = "s5"
_RSALT = "r5"


def _events_us(t):
    return t["events"].select(
        "event_id", "user_id", ts_us().alias("ts_us"), "event_type", "value"
    )


@register(
    "asof_last_purchase",
    oracle="""
    WITH c AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT user_id, epoch_us(ts) AS ts_us, value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id, c.user_id, c.ts_us,
           p.ts_us AS last_purchase_ts_us,
           p.value AS last_purchase_value
    FROM c ASOF LEFT JOIN p
      ON c.user_id = p.user_id AND c.ts_us >= p.ts_us
    """,
    doc="Point-in-time (as-of) join: each click gets the user's most recent "
    "prior-or-simultaneous purchase. Spark side: operators/temporal.asof_join "
    "(tag → union → last(ignorenulls) over a per-key window) — ONE shuffle on "
    "user_id, no per-key cross join; oracle is DuckDB's native ASOF LEFT "
    "JOIN, an independent algorithm. The ClickHouse serving layer exposes "
    "the same operator as ASOF JOIN to consumers of the reference's tables.",
    tags=("analytics", "temporal"),
)
def q_asof_last_purchase(spark, t):
    e = _events_us(t)
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_us"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us", "value"
    )
    return asof_join(
        clicks,
        purchases,
        key="user_id",
        left_ts="ts_us",
        right_ts="ts_us",
        value_cols=["value"],
        tiebreak="event_id",
    ).select(
        "event_id",
        "user_id",
        "ts_us",
        F.col("matched_ts").alias("last_purchase_ts_us"),
        F.col("matched_value").alias("last_purchase_value"),
    )


@register(
    "range_join_1h_windows",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS interval_id, epoch_us(ts) AS start_us,
             epoch_us(ts) + {HOUR_US} AS end_us
      FROM events WHERE event_type = 'purchase'
    ), e AS (
      SELECT epoch_us(ts) AS ts_us, CAST(value AS DECIMAL(18,6)) AS v
      FROM events
    )
    SELECT p.interval_id, count(*) AS n_events,
           CAST(sum(e.v) AS DOUBLE) AS sum_value
    FROM p JOIN e ON e.ts_us >= p.start_us AND e.ts_us < p.end_us
    GROUP BY p.interval_id
    """,
    doc="Interval join (events within the hour after each purchase) via the "
    "bin-and-equi-join rewrite (operators/temporal.range_join_binned): "
    "intervals explode into covered hour-bins, events hash to one bin, then "
    "a plain shuffled equi-join + exact range filter — the plan has NO "
    "BroadcastNestedLoopJoin (guarded in tests/test_temporal.py), where a "
    "naive inequality join would be O(|L|x|R|). Oracle: DuckDB IEJoin on "
    "the raw inequality.",
    tags=("analytics", "temporal"),
)
def q_range_join_1h_windows(spark, t):
    e = _events_us(t).select("ts_us", dec("value", D18_6).alias("v"))
    iv = (
        _events_us(t)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("interval_id"),
            F.col("ts_us").alias("start_us"),
            (F.col("ts_us") + HOUR_US).alias("end_us"),
        )
    )
    joined = range_join_binned(
        e, "ts_us", iv, "start_us", "end_us", bin_width_us=HOUR_US
    )
    return joined.groupBy("interval_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        as_double(F.sum("v")).alias("sum_value"),
    )


@register(
    "hypertable_rollup_1h1d1w",
    oracle=f"""
    SELECT 'hour' AS resolution,
           (epoch_us(ts) // {HOUR_US}) * {HOUR_US} AS bucket_us, event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 'day', (epoch_us(ts) // {DAY_US}) * {DAY_US}, event_type,
           count(*), CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 'week', (epoch_us(ts) // {WEEK_US}) * {WEEK_US}, event_type,
           count(*), CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
    FROM events GROUP BY 2, 3
    """,
    doc="Multi-resolution continuous aggregate (hour/day/week x event_type) "
    "computed HIERARCHICALLY (operators/temporal.hypertable_rollup): raw "
    "rows shuffle once into hour buckets; day re-aggregates hour's output, "
    "week re-aggregates day's — at 100 TB the coarser levels touch ~1/3600th "
    "of the data. Decimal sums keep the hierarchical path bit-equal to the "
    "oracle's direct per-resolution aggregation (TimescaleDB "
    "continuous-aggregate / ClickHouse materialized-view-cascade shape).",
    tags=("analytics", "temporal"),
)
def q_hypertable_rollup(spark, t):
    e = _events_us(t).select("ts_us", "event_type", dec("value", D18_6).alias("v"))
    return hypertable_rollup(
        e,
        "ts_us",
        ["event_type"],
        F.col("v"),
        [("hour", HOUR_US), ("day", DAY_US), ("week", WEEK_US)],
    )


def _strata_sql_pred(key_sql: str, stratum_sql: str, salt: str) -> str:
    parts = []
    for stratum, frac in _STRATA.items():
        if frac >= 1.0:
            parts.append(f"{stratum_sql} = '{stratum}'")
        else:
            thr = fraction_to_hex_threshold(frac)
            parts.append(
                f"({stratum_sql} = '{stratum}' AND "
                f"substr(md5('{salt}' || CAST({key_sql} AS VARCHAR)), 1, 8) < '{thr}')"
            )
    return " OR ".join(parts)


@register(
    "sample_stratified",
    oracle=f"""
    SELECT event_id, event_type FROM events
    WHERE {_strata_sql_pred("event_id", "event_type", _SALT)}
    """,
    doc="Deterministic per-class Bernoulli sampling by md5-prefix threshold "
    "(operators/sampling.hash_fraction_sample): downsample dominant classes "
    "(click/view 10%), keep rare ones (purchase 100%) — corpus rebalancing. "
    "Map-only: zero shuffle (guarded in tests), reproducible across runs, "
    "engines, and partitionings; md5 is bit-identical in Spark and DuckDB.",
    tags=("llm", "sampling"),
)
def q_sample_stratified(spark, t):
    return hash_fraction_sample(
        t["events"],
        key_col="event_id",
        salt=_SALT,
        fractions=_STRATA,
        stratum_col="event_type",
    ).select("event_id", "event_type")


@register(
    "sample_reservoir",
    oracle=f"""
    SELECT event_type, event_id, sample_rank FROM (
      SELECT event_type, event_id,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY substr(md5('{_RSALT}' || CAST(event_id AS VARCHAR)), 1, 8),
                        event_id
             ) AS sample_rank
      FROM events
    ) WHERE sample_rank <= 20
    """,
    doc="Deterministic k-per-group sample (k=20 per event_type) as top-k by "
    "hash order (operators/sampling.reservoir_per_group) — a seeded "
    "reservoir's distribution with exact reproducibility. One shuffle on "
    "the group key; shuffle volume bounded by k x partitions per group "
    "when pre-ranked per partition.",
    tags=("llm", "sampling"),
)
def q_sample_reservoir(spark, t):
    return reservoir_per_group(
        t["events"].select("event_type", "event_id"),
        group_col="event_type",
        key_col="event_id",
        salt=_RSALT,
        k=20,
    ).select("event_type", "event_id", F.col("sample_rank").cast("long").alias("sample_rank"))


@register(
    "window_funnel",
    oracle=f"""
    WITH s AS (
      SELECT user_id, min(epoch_us(ts)) AS t1
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t2
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'click' AND epoch_us(e.ts) >= s.t1
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= c.t2
      GROUP BY e.user_id
    )
    SELECT s.user_id, s.t1, c.t2, p.t3,
           CASE
             WHEN p.t3 IS NOT NULL AND p.t3 - s.t1 <= {7 * DAY_US}
                  AND c.t2 - s.t1 <= {7 * DAY_US} THEN 3
             WHEN c.t2 IS NOT NULL AND c.t2 - s.t1 <= {7 * DAY_US} THEN 2
             ELSE 1
           END AS level
    FROM s LEFT JOIN c ON s.user_id = c.user_id
           LEFT JOIN p ON s.user_id = p.user_id
    """,
    doc="Greedy 3-stage funnel (signup -> first later click -> first later "
    "purchase, 7-day window) — the ClickHouse windowFunnel() shape the "
    "reference's serving DB offers (greedy first-match chain, documented "
    "deviation: windowFunnel searches all chains). Spark side: three keyed "
    "aggregations + left joins on user_id; each stage's input shrinks, AQE "
    "co-partitions the joins.",
    tags=("analytics", "behavioral"),
)
def q_window_funnel(spark, t):
    e = _events_us(t).select("user_id", "ts_us", "event_type")
    win = 7 * DAY_US
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(F.col("ts_us") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts_us") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t3"))
    )
    return (
        s.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "t1",
            "t2",
            "t3",
            F.when(
                F.col("t3").isNotNull()
                & (F.col("t3") - F.col("t1") <= win)
                & (F.col("t2") - F.col("t1") <= win),
                F.lit(3),
            )
            .when(
                F.col("t2").isNotNull() & (F.col("t2") - F.col("t1") <= win),
                F.lit(2),
            )
            .otherwise(F.lit(1))
            .cast("int")
            .alias("level"),
        )
    )


@register(
    "retention_cohorts",
    oracle=f"""
    WITH s AS (
      SELECT user_id, min(epoch_us(ts)) // {DAY_US} AS cohort_day
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), a AS (
      SELECT e.user_id, s.cohort_day,
             (epoch_us(e.ts) // {DAY_US}) - s.cohort_day AS dd
      FROM events e JOIN s ON e.user_id = s.user_id
    )
    SELECT cohort_day, count(DISTINCT user_id) AS n_users,
           count(DISTINCT CASE WHEN dd = 1 THEN user_id END) AS d1_users,
           count(DISTINCT CASE WHEN dd = 3 THEN user_id END) AS d3_users,
           count(DISTINCT CASE WHEN dd = 7 THEN user_id END) AS d7_users
    FROM a GROUP BY cohort_day
    """,
    doc="Cohort retention (ClickHouse retention() shape): users grouped by "
    "first-signup day; distinct actives at day +1/+3/+7. Spark side: one "
    "keyed join (signup day broadcast-sized per user) + one aggregation "
    "with multiple conditional count-distincts (Expand-based, single "
    "logical shuffle).",
    tags=("analytics", "behavioral"),
)
def q_retention_cohorts(spark, t):
    e = _events_us(t).select("user_id", "ts_us")
    s = (
        _events_us(t)
        .filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.expr(f"min(ts_us) DIV {DAY_US}").alias("cohort_day"))
    )
    a = e.join(s, "user_id").select(
        "user_id",
        "cohort_day",
        (F.expr(f"ts_us DIV {DAY_US}") - F.col("cohort_day")).alias("dd"),
    )
    return a.groupBy("cohort_day").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(F.when(F.col("dd") == 1, F.col("user_id"))).alias("d1_users"),
        F.countDistinct(F.when(F.col("dd") == 3, F.col("user_id"))).alias("d3_users"),
        F.countDistinct(F.when(F.col("dd") == 7, F.col("user_id"))).alias("d7_users"),
    )


@register(
    "scd2_intervals",
    oracle="""
    SELECT user_id,
           CAST(row_number() OVER w AS BIGINT) AS version,
           value,
           epoch_us(ts) AS valid_from_us,
           lead(epoch_us(ts)) OVER w AS valid_to_us
    FROM events WHERE event_type = 'purchase'
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    """,
    doc="SCD-2 dimension builder: each user's purchase-value history as "
    "versioned validity intervals (valid_to = next change's ts, NULL for "
    "the open current row) via lead() — the warehouse pattern that turns "
    "a change stream into a point-in-time-joinable dimension (the as-of "
    "join and the binned range join both consume this shape). One shuffle "
    "on user_id; windows stream within partitions.",
    tags=("analytics", "temporal"),
)
def q_scd2_intervals(spark, t):
    from pyspark.sql.window import Window as W

    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        _events_us(t)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "ts_us", "value")
        .select(
            "user_id",
            F.row_number().over(w).cast("long").alias("version"),
            "value",
            F.col("ts_us").alias("valid_from_us"),
            F.lead("ts_us").over(w).alias("valid_to_us"),
        )
    )


@register(
    "sliding_event_counts",
    oracle=f"""
    SELECT ((epoch_us(ts) // {HOUR_US // 4}) - t.k) * {HOUR_US // 4} AS window_start_us,
           event_type, count(*) AS n
    FROM events CROSS JOIN (SELECT unnest(range(4)) AS k) t
    WHERE epoch_us(ts) < ((epoch_us(ts) // {HOUR_US // 4}) - t.k) * {HOUR_US // 4} + {HOUR_US}
    GROUP BY 1, 2
    """,
    doc="Sliding (hopping) windows: 1-hour windows every 15 minutes per "
    "event_type, via Spark's native window(slideDuration) — each event "
    "expands to len/slide=4 epoch-aligned windows before a single "
    "aggregation shuffle (the Expand shape streaming uses for hopping "
    "windows; batch entry only). Oracle derives the "
    "same 4 aligned windows per event with a range(4) cross join — "
    "including negative-start windows for events within 45 min of the "
    "epoch, which Spark's window() emits (an earlier slot>=0 clause "
    "silently dropped them; caught by the degenerate-events fixture).",
    tags=("analytics", "temporal", "streaming-analog"),
)
def q_sliding_event_counts(spark, t):
    e = _events_us(t).withColumn("event_time", F.timestamp_micros(F.col("ts_us")))
    return (
        e.groupBy(F.window("event_time", "1 hour", "15 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "event_type",
            "n",
        )
    )


@register(
    "token_budget_selection",
    oracle=r"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
             n_chars
      FROM documents
    ), c AS (
      SELECT doc_id, source, n_tokens,
             CAST(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM d
    )
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM c WHERE cum_tokens <= 800
    """,
    doc="Token-budget corpus selection: per source domain, take documents "
    "in priority order (longest first, doc_id tiebreak) until the "
    "cumulative whitespace-token count hits the 800-token budget — the mixing "
    "step that caps each domain's contribution to a training corpus. "
    "Exact-integer running sum over one window shuffle on source; at "
    "100 TB the priority order comes from a quality score and the budget "
    "per domain from the mixture weights, same plan.",
    tags=("llm", "curation"),
)
def q_token_budget_selection(spark, t):
    from pyspark.sql.window import Window as W

    d = t["documents"].select(
        "doc_id",
        "source",
        F.regexp_count(F.col("text"), F.lit(r"\S+")).cast("long").alias("n_tokens"),
        "n_chars",
    )
    w = (
        W.partitionBy("source")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        d.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= 800)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


@register(
    "window_funnel_exact",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events
    ), s1 AS (
      SELECT *, max(CASE WHEN event_type = 'signup' THEN ts_us END) OVER w AS start_1
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), s2 AS (
      SELECT *, max(CASE WHEN event_type = 'click' THEN start_1 END) OVER w AS start_2
      FROM s1 WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), s3 AS (
      SELECT *, max(CASE WHEN event_type = 'purchase' THEN start_2 END) OVER w AS start_3
      FROM s2 WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), r AS (
      SELECT user_id,
        max(CASE WHEN event_type = 'signup'
                  AND ts_us - start_1 <= {7 * DAY_US} THEN 1 ELSE 0 END) AS r1,
        max(CASE WHEN event_type = 'click'
                  AND ts_us - start_2 <= {7 * DAY_US} THEN 1 ELSE 0 END) AS r2,
        max(CASE WHEN event_type = 'purchase'
                  AND ts_us - start_3 <= {7 * DAY_US} THEN 1 ELSE 0 END) AS r3
      FROM s3 GROUP BY user_id
    )
    SELECT user_id,
           CAST(CASE WHEN r3 = 1 THEN 3 WHEN r2 = 1 THEN 2 ELSE 1 END AS INT) AS level
    FROM r WHERE r1 = 1 OR r2 = 1 OR r3 = 1
    """,
    doc="EXACT windowFunnel (signup -> click -> purchase, 7-day window): "
    "unlike the greedy `window_funnel` entry (documented deviation: "
    "earliest-event chaining misses chains a later start enables), "
    "operators/temporal.funnel_levels computes per event the OPTIMAL "
    "chain start via composed window maxima — start_k is monotone in row "
    "order, so 'latest stage-(k-1) chain start at-or-before e' is one "
    "max-window column per stage. ClickHouse windowFunnel default-mode "
    "semantics, one shuffle on user_id, N-1 window columns over one sort.",
    tags=("analytics", "behavioral"),
)
def q_window_funnel_exact(spark, t):
    e = _events_us(t).select("user_id", "event_id", "ts_us", "event_type")
    from clickhouse_provider_spark.operators.temporal import funnel_levels

    return funnel_levels(
        e,
        key="user_id",
        ts="ts_us",
        order_col="event_id",
        stage_conds=[
            F.col("event_type") == "signup",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ],
        window_us=7 * DAY_US,
    )


@register(
    "window_funnel_strict_increase",
    # Same window-recurrence oracle as window_funnel_exact, with the
    # carry read over a RANGE ... 1 PRECEDING frame on ts_us: rows with
    # equal timestamps are excluded from the previous-stage prefix —
    # the OPTIMAL-CHAIN strict-increase semantics (adjacent chain events
    # need strictly increasing timestamps; the answer is the maximal
    # reachable level over ALL chains). Deliberately NOT ClickHouse's
    # greedy slot scan, which can answer LOWER on timestamp-backtracking
    # streams (s@0,s@22,s@19,c@22: optimal 2, ClickHouse 1 — the later
    # s@22 overwrites slot 0); the ClickHouse-faithful machine is the
    # sibling entry window_funnel_strict_increase_scan. q_k = per-row
    # best k-chain start over strictly earlier ts; s_k = running max of
    # completions for the level check (extending an earlier completion
    # by the current row preserves strict increase).
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events
    ), s1 AS (
      SELECT *,
        max(CASE WHEN event_type = 'signup' THEN ts_us END) OVER wr AS s_1,
        max(CASE WHEN event_type = 'signup' THEN ts_us END) OVER wq AS q_1
      FROM e WINDOW
        wr AS (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wq AS (PARTITION BY user_id ORDER BY ts_us
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), s2 AS (
      SELECT *,
        max(CASE WHEN event_type = 'click' THEN q_1 END) OVER wr AS s_2,
        max(CASE WHEN event_type = 'click' THEN q_1 END) OVER wq AS q_2
      FROM s1 WINDOW
        wr AS (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wq AS (PARTITION BY user_id ORDER BY ts_us
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), s3 AS (
      SELECT *,
        max(CASE WHEN event_type = 'purchase' THEN q_2 END) OVER wr AS s_3
      FROM s2 WINDOW
        wr AS (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), r AS (
      SELECT user_id,
        max(CASE WHEN event_type = 'signup'
                  AND ts_us - s_1 <= {7 * DAY_US} THEN 1 ELSE 0 END) AS r1,
        max(CASE WHEN event_type = 'click'
                  AND ts_us - s_2 <= {7 * DAY_US} THEN 1 ELSE 0 END) AS r2,
        max(CASE WHEN event_type = 'purchase'
                  AND ts_us - s_3 <= {7 * DAY_US} THEN 1 ELSE 0 END) AS r3
      FROM s3 GROUP BY user_id
    )
    SELECT user_id,
           CAST(CASE WHEN r3 = 1 THEN 3 WHEN r2 = 1 THEN 2 ELSE 1 END AS INT) AS level
    FROM r WHERE r1 = 1 OR r2 = 1 OR r3 = 1
    """,
    doc="OPTIMAL-CHAIN strict-increase funnel: same composed-maxima "
    "recurrence as window_funnel_exact, but the previous-stage carry "
    "reads a strictly-earlier-ts RANGE frame, so same-timestamp events "
    "cannot chain; the level is the maximal one reachable by ANY "
    "strictly increasing chain (brute-force property-tested). NOT "
    "ClickHouse's strict_increase, whose greedy slot scan forgets viable "
    "chain starts on backtracking timestamps and can answer lower "
    "(divergence pinned in tests/test_funnel_property.py); the faithful "
    "machine is window_funnel_strict_increase_scan. Still one shuffle on "
    "user_id; the strict carry adds one range-frame window column per "
    "stage over the same sorted partition. (The other ClickHouse modes — "
    "strict_order / strict_deduplication — are order-dependent early-exit "
    "scans: see window_funnel_strict_order / window_funnel_strict_dedup, "
    "operators/temporal.funnel_levels_scan.)",
    tags=("analytics", "behavioral"),
)
def q_window_funnel_strict_increase(spark, t):
    e = _events_us(t).select("user_id", "event_id", "ts_us", "event_type")
    from clickhouse_provider_spark.operators.temporal import funnel_levels

    return funnel_levels(
        e,
        key="user_id",
        ts="ts_us",
        order_col="event_id",
        stage_conds=[
            F.col("event_type") == "signup",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ],
        window_us=7 * DAY_US,
        strict_increase=True,
    )


@register(
    "window_funnel_strict_order",
    # The oracle replays ClickHouse's single-slot scan as a recursive CTE:
    # per user the recursion walks rows in (ts_us, event_id) order carrying
    # (f1, f2) = chain-first timestamps of filled slots, `started`, and a
    # stop flag — stop_kind 1 = early exit (a non-matching event after the
    # chain started, or a stage event whose predecessor slot is empty,
    # returning the old prefix level), stop_kind 2 = completion (level 3).
    # Final answer = lvl of each user's last emitted state (arg_max by rn).
    # A genuinely independent encoding of the same machine the Spark side
    # runs (sequential pandas scan vs set-based recursion).
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT user_id, epoch_us(ts) AS ts_us,
             CASE event_type WHEN 'signup' THEN 1 WHEN 'click' THEN 2
                  WHEN 'purchase' THEN 3 ELSE 0 END AS stage,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events
    ), scan AS (
      SELECT user_id, 0 AS rn, CAST(NULL AS BIGINT) AS f1,
             CAST(NULL AS BIGINT) AS f2, FALSE AS started,
             FALSE AS stopped, 0 AS lvl
      FROM (SELECT DISTINCT user_id FROM e)
      UNION ALL
      SELECT user_id, rn, f1n, f2n, started_n,
             stop_kind > 0,
             CASE WHEN stop_kind = 2 THEN 3
                  WHEN stop_kind = 1 THEN old_lvl
                  WHEN f2n IS NOT NULL THEN 2
                  WHEN f1n IS NOT NULL THEN 1 ELSE 0 END
      FROM (
        SELECT user_id, rn, stop_kind,
               CASE WHEN stop_kind > 0 THEN f1
                    WHEN stage = 1 THEN ts_us ELSE f1 END AS f1n,
               CASE WHEN stop_kind > 0 THEN f2
                    WHEN stage = 2 AND f1 IS NOT NULL
                         AND ts_us - f1 <= {7 * DAY_US} THEN f1
                    ELSE f2 END AS f2n,
               (started OR stage = 1) AS started_n,
               CASE WHEN f2 IS NOT NULL THEN 2
                    WHEN f1 IS NOT NULL THEN 1 ELSE 0 END AS old_lvl
        FROM (
          SELECT s.user_id, e.rn, e.stage, e.ts_us, s.f1, s.f2, s.started,
                 CASE WHEN e.stage = 0 AND s.started THEN 1
                      WHEN e.stage = 2 AND s.started AND s.f1 IS NULL THEN 1
                      WHEN e.stage = 3 AND s.started AND s.f2 IS NULL THEN 1
                      WHEN e.stage = 3 AND s.f2 IS NOT NULL
                           AND e.ts_us - s.f2 <= {7 * DAY_US} THEN 2
                      ELSE 0 END AS stop_kind
          FROM scan s JOIN e ON e.user_id = s.user_id AND e.rn = s.rn + 1
          WHERE NOT s.stopped
        )
      )
    )
    SELECT user_id, CAST(lvl AS INT) AS level
    FROM (SELECT user_id, arg_max(lvl, rn) AS lvl FROM scan GROUP BY user_id)
    WHERE lvl >= 1
    """,
    doc="windowFunnel in ClickHouse's strict_order mode ('don't allow "
    "interventions of other events'): the whole scan aborts at the first "
    "non-matching event after the chain starts (signup,click,X,purchase "
    "dies at X with level 2 — no chain restart after X), and an "
    "out-of-order stage event with an unfilled predecessor slot ends the "
    "scan at the current level; repeats of an already-matched stage are "
    "NOT interventions (signup,click,click,purchase still reaches 3). "
    "operators/temporal.funnel_levels_scan — a faithful port of "
    "ClickHouse's getEventLevel slot scan via applyInPandas: one shuffle "
    "on user_id, Arrow-batched linear scan per key with early exit, "
    "constant state. Differentially tested against a plain-python port "
    "(tests/test_funnel_property.py); oracle = the same machine as a "
    "recursive CTE.",
    tags=("analytics", "behavioral"),
)
def q_window_funnel_strict_order(spark, t):
    e = _events_us(t).select("user_id", "event_id", "ts_us", "event_type")
    from clickhouse_provider_spark.operators.temporal import funnel_levels_scan

    return funnel_levels_scan(
        e,
        key="user_id",
        ts="ts_us",
        order_col="event_id",
        stage_conds=[
            F.col("event_type") == "signup",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ],
        window_us=7 * DAY_US,
        strict_order=True,
    )


@register(
    "window_funnel_strict_dedup",
    # Same recursive-CTE replay of ClickHouse's slot scan, dedup variant
    # over a 4-stage funnel: a repeat of an already-matched stage k (k>=2;
    # stage-1 repeats just refresh slot 0, which ClickHouse handles BEFORE
    # the dedup check) stops the scan returning k-1 — ClickHouse's
    # `return events_list[i].second - 1`, which can be LOWER than the
    # level already reached (the repeat voids stage k's match). stop_kind
    # 2 = completion (level 4). Non-matching events are never stored in
    # non-strict_order modes, so e filters stage > 0 before numbering.
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT user_id, ts_us, stage,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts_us, event_id) AS rn
      FROM (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               CASE event_type WHEN 'signup' THEN 1 WHEN 'view' THEN 2
                    WHEN 'click' THEN 3 WHEN 'purchase' THEN 4
                    ELSE 0 END AS stage
        FROM events
      ) WHERE stage > 0
    ), scan AS (
      SELECT user_id, 0 AS rn, CAST(NULL AS BIGINT) AS f1,
             CAST(NULL AS BIGINT) AS f2, CAST(NULL AS BIGINT) AS f3,
             FALSE AS stopped, 0 AS lvl
      FROM (SELECT DISTINCT user_id FROM e)
      UNION ALL
      SELECT user_id, rn, f1n, f2n, f3n,
             stop_kind > 0,
             CASE WHEN stop_kind = 2 THEN 4
                  WHEN stop_kind = 1 THEN ret_lvl
                  WHEN f3n IS NOT NULL THEN 3
                  WHEN f2n IS NOT NULL THEN 2
                  WHEN f1n IS NOT NULL THEN 1 ELSE 0 END
      FROM (
        SELECT user_id, rn, stop_kind, ret_lvl,
               CASE WHEN stop_kind > 0 THEN f1
                    WHEN stage = 1 THEN ts_us ELSE f1 END AS f1n,
               CASE WHEN stop_kind > 0 THEN f2
                    WHEN stage = 2 AND f1 IS NOT NULL
                         AND ts_us - f1 <= {7 * DAY_US} THEN f1
                    ELSE f2 END AS f2n,
               CASE WHEN stop_kind > 0 THEN f3
                    WHEN stage = 3 AND f2 IS NOT NULL
                         AND ts_us - f2 <= {7 * DAY_US} THEN f2
                    ELSE f3 END AS f3n
        FROM (
          SELECT s.user_id, e.rn, e.stage, e.ts_us, s.f1, s.f2, s.f3,
                 CASE WHEN e.stage = 2 AND s.f2 IS NOT NULL THEN 1
                      WHEN e.stage = 3 AND s.f3 IS NOT NULL THEN 1
                      WHEN e.stage = 4 AND s.f3 IS NOT NULL
                           AND e.ts_us - s.f3 <= {7 * DAY_US} THEN 2
                      ELSE 0 END AS stop_kind,
                 e.stage - 1 AS ret_lvl
          FROM scan s JOIN e ON e.user_id = s.user_id AND e.rn = s.rn + 1
          WHERE NOT s.stopped
        )
      )
    )
    SELECT user_id, CAST(lvl AS INT) AS level
    FROM (SELECT user_id, arg_max(lvl, rn) AS lvl FROM scan GROUP BY user_id)
    WHERE lvl >= 1
    """,
    doc="windowFunnel in ClickHouse's strict_deduplication mode over a "
    "4-stage funnel (signup→view→click→purchase, 7-day window): a repeat "
    "of an already-matched stage k interrupts the scan and returns k-1 "
    "(ClickHouse's documented 'repeating event interrupts further "
    "processing'; the return value is the level just below the "
    "duplicated stage, which can undercut the level already reached — "
    "signup,click,click,purchase on a 3-stage funnel yields 1, not 2). "
    "Stage-1 repeats never trigger it. Same applyInPandas slot scan as "
    "window_funnel_strict_order; oracle = the machine as a recursive "
    "CTE over the stage>0 event subsequence.",
    tags=("analytics", "behavioral"),
)
def q_window_funnel_strict_dedup(spark, t):
    e = _events_us(t).select("user_id", "event_id", "ts_us", "event_type")
    from clickhouse_provider_spark.operators.temporal import funnel_levels_scan

    return funnel_levels_scan(
        e,
        key="user_id",
        ts="ts_us",
        order_col="event_id",
        stage_conds=[
            F.col("event_type") == "signup",
            F.col("event_type") == "view",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ],
        window_us=7 * DAY_US,
        strict_deduplication=True,
    )


@register(
    "window_funnel_strict_increase_scan",
    # ClickHouse-FAITHFUL strict_increase: recursive-CTE replay of the
    # default-mode slot scan (no early exit except completion) with the
    # strict-increase gate — an advance from slot k-1 additionally needs
    # ts strictly greater than slot k-1's LAST event time, so the state
    # carries (chain_first, last_ts) per lead slot: (f1,l1),(f2,l2).
    # Stage-1 events ALWAYS overwrite slot 0 — which is exactly what
    # makes this machine diverge from the optimal-chain recurrence of
    # window_funnel_strict_increase on backtracking timestamps
    # (s@0,s@22,s@19,c@22: this answers 1, the recurrence 2; divergence
    # pinned in tests/test_funnel_property.py). Non-matching events are
    # never stored in non-strict_order modes, so e filters stage > 0.
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT user_id, ts_us, stage,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts_us, event_id) AS rn
      FROM (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               CASE event_type WHEN 'signup' THEN 1 WHEN 'click' THEN 2
                    WHEN 'purchase' THEN 3 ELSE 0 END AS stage
        FROM events
      ) WHERE stage > 0
    ), scan AS (
      SELECT user_id, 0 AS rn,
             CAST(NULL AS BIGINT) AS f1, CAST(NULL AS BIGINT) AS l1,
             CAST(NULL AS BIGINT) AS f2, CAST(NULL AS BIGINT) AS l2,
             FALSE AS stopped, 0 AS lvl
      FROM (SELECT DISTINCT user_id FROM e)
      UNION ALL
      SELECT user_id, rn, f1n, l1n, f2n, l2n,
             completed,
             CASE WHEN completed THEN 3
                  WHEN f2n IS NOT NULL THEN 2
                  WHEN f1n IS NOT NULL THEN 1 ELSE 0 END
      FROM (
        SELECT user_id, rn, completed,
               CASE WHEN stage = 1 THEN ts_us ELSE f1 END AS f1n,
               CASE WHEN stage = 1 THEN ts_us ELSE l1 END AS l1n,
               CASE WHEN adv2 THEN f1 ELSE f2 END AS f2n,
               CASE WHEN adv2 THEN ts_us ELSE l2 END AS l2n
        FROM (
          SELECT s.user_id, e.rn, e.stage, e.ts_us,
                 s.f1, s.l1, s.f2, s.l2,
                 (e.stage = 2 AND s.f1 IS NOT NULL
                   AND e.ts_us - s.f1 <= {7 * DAY_US}
                   AND e.ts_us > s.l1) AS adv2,
                 (e.stage = 3 AND s.f2 IS NOT NULL
                   AND e.ts_us - s.f2 <= {7 * DAY_US}
                   AND e.ts_us > s.l2) AS completed
          FROM scan s JOIN e ON e.user_id = s.user_id AND e.rn = s.rn + 1
          WHERE NOT s.stopped
        )
      )
    )
    SELECT user_id, CAST(lvl AS INT) AS level
    FROM (SELECT user_id, arg_max(lvl, rn) AS lvl FROM scan GROUP BY user_id)
    WHERE lvl >= 1
    """,
    doc="windowFunnel in ClickHouse's ACTUAL strict_increase mode "
    "(signup→click→purchase, 7-day window): the greedy single-slot scan "
    "where every stage-1 event refreshes slot 0 and an advance needs ts "
    "strictly greater than the predecessor slot's last event time — the "
    "faithful counterpart to window_funnel_strict_increase's optimal-"
    "chain recurrence, which can answer HIGHER on backtracking "
    "timestamps. operators/temporal.funnel_levels_scan(strict_increase="
    "True): one shuffle on user_id, Arrow-batched linear scan per key, "
    "constant state; differentially tested against a plain-python port "
    "of ClickHouse getEventLevel (tests/test_funnel_property.py); "
    "oracle = the same machine as a recursive CTE carrying "
    "(chain_first, last_ts) per lead slot.",
    tags=("analytics", "behavioral"),
)
def q_window_funnel_strict_increase_scan(spark, t):
    e = _events_us(t).select("user_id", "event_id", "ts_us", "event_type")
    from clickhouse_provider_spark.operators.temporal import funnel_levels_scan

    return funnel_levels_scan(
        e,
        key="user_id",
        ts="ts_us",
        order_col="event_id",
        stage_conds=[
            F.col("event_type") == "signup",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ],
        window_us=7 * DAY_US,
        strict_increase=True,
    )
