"""ClickHouse statistical-aggregate family (round 7) — the analytics tails
next to catalog_stats' corr/percentiles:

- series deltas / bounds: ``deltaSum``, ``boundingRatio``;
- interval sweeps: ``maxIntersections(Position)``, ``intervalLengthSum``;
- windowed series: ``groupArrayMovingSum/Avg``, exponential time-decayed
  average (``exponentialTimeDecayedAvg`` shape);
- hypothesis tests: ``studentTTest`` / ``welchTTest``,
  ``mannWhitneyUTest``, ``rankCorr`` (Spearman);
- association / information: ``cramersV``, per-group Shannon entropy;
- ``simpleLinearRegression``, ``uniqUpTo``, ``quantileExactWeighted``.

Exactness rules (plans/catalog.py rules + two new ones):

- Every mean/variance/correlation/t-statistic is combined from EXACT
  decimal moments (sums, sums of squares, rank sums) with the SAME
  double-expression shape on both engines — float ops on identical
  operands are IEEE-deterministic, and sqrt/division are exactly rounded,
  so results are bit-identical (catalog_stats precedent).
- ``ln``/``log2`` are NOT cross-engine stable (measured: JVM Math.log and
  DuckDB's libm differ in the last ulp on ~3-30% of inputs), so no raw
  logarithm reaches a hashed column: the entropy entry grades per-group
  RANKS of the entropy (a 1-ulp perturbation cannot reorder values that
  differ by more than 1 ulp; groups with identical count-multisets get
  bit-identical entropies WITHIN each engine via a fixed-order fold, and
  their rank tie is broken by the group key).
- Order-sensitive float folds (chi-square cell terms) run as explicit
  sorted-array left folds on both engines (Spark ``aggregate`` on a
  sorted array, DuckDB ``list_reduce`` over ``list(... ORDER BY ...)``)
  — the llm_catalog ``list_dot_product`` precedent generalized.

Reference anchor: the reference exposes its analytics through ClickHouse
(README.md:176-267 DDL + query layer); these are the ClickHouse aggregate
functions a user of that stack reaches for next, re-expressed Spark-first
(windows + decimal aggregation, no UDFs, no driver loops).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from clickhouse_provider_spark.plans.catalog import as_double, dec, register, ts_us

D18_6 = T.DecimalType(18, 6)
D19_0 = T.DecimalType(19, 0)
D10_1 = T.DecimalType(10, 1)
DAY_US = 86_400_000_000
MIN_US = 60_000_000


def _events_us(t):
    return t["events"].withColumn("ts_us", ts_us())


# --------------------------------------------------------------------------
# series deltas / bounds
# --------------------------------------------------------------------------


@register(
    "delta_sum_increases",
    oracle="""
    WITH e AS (
      SELECT event_type, epoch_us(ts) AS ts_us, event_id, value FROM events
    ), d AS (
      SELECT event_type,
             value - lag(value) OVER (PARTITION BY event_type
                                      ORDER BY ts_us, event_id) AS delta
      FROM e
    )
    SELECT event_type,
           CAST(sum(CASE WHEN delta > 0
                         THEN CAST(delta AS DECIMAL(18,6)) END) AS DOUBLE)
             AS delta_sum,
           CAST(coalesce(sum(CASE WHEN delta > 0 THEN 1 END), 0) AS BIGINT)
             AS n_increases
    FROM d GROUP BY event_type
    """,
    doc="ClickHouse deltaSum analog: sum of positive steps between "
    "consecutive values in (ts, event_id) order per series. The lag "
    "difference is an exact double op on identical operands; each "
    "positive delta is cast to DECIMAL(18,6) (a double is never an exact "
    "decimal midpoint, so nearest-rounding agrees cross-engine) and "
    "summed order-free. Scale: one shuffle on the series key, one sorted "
    "pass — the window never materializes more than a partition.",
    tags=("analytics", "stats", "timeseries"),
)
def q_delta_sum_increases(spark, t):
    w = W.partitionBy("event_type").orderBy("ts_us", "event_id")
    d = _events_us(t).withColumn("delta", F.col("value") - F.lag("value").over(w))
    pos = F.col("delta") > 0
    return d.groupBy("event_type").agg(
        as_double(F.sum(F.when(pos, dec(F.col("delta"), D18_6)))).alias("delta_sum"),
        F.coalesce(F.sum(F.when(pos, F.lit(1))), F.lit(0)).alias("n_increases"),
    )


@register(
    "bounding_ratio",
    oracle="""
    WITH e AS (
      SELECT event_type, epoch_us(ts) AS ts_us, event_id, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts_us, event_id) AS rn_a,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts_us DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT event_type,
           max(CASE WHEN rn_d = 1 THEN ts_us END)
             - max(CASE WHEN rn_a = 1 THEN ts_us END) AS x_span_us,
           max(CASE WHEN rn_d = 1 THEN value END)
             - max(CASE WHEN rn_a = 1 THEN value END) AS y_delta,
           (max(CASE WHEN rn_d = 1 THEN value END)
             - max(CASE WHEN rn_a = 1 THEN value END))
             / nullif((max(CASE WHEN rn_d = 1 THEN ts_us END)
                 - max(CASE WHEN rn_a = 1 THEN ts_us END)) / 86400000000.0, 0.0)
             AS ratio_per_day
    FROM e GROUP BY event_type
    """,
    doc="ClickHouse boundingRatio analog: (last y - first y) / (x span) "
    "per series, here scaled to per-day slope. First/last row picked by "
    "row_number over the (ts, event_id) total order (arg_min/arg_max with "
    "a deterministic tie-break); the subtraction and division are "
    "identical-operand double ops. Scale: two window ranks + one agg over "
    "the series key partition.",
    tags=("analytics", "stats", "timeseries"),
)
def q_bounding_ratio(spark, t):
    e = _events_us(t)
    wa = W.partitionBy("event_type").orderBy("ts_us", "event_id")
    wd = W.partitionBy("event_type").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    d = e.withColumn("rn_a", F.row_number().over(wa)).withColumn(
        "rn_d", F.row_number().over(wd)
    )
    first_ts = F.max(F.when(F.col("rn_a") == 1, F.col("ts_us")))
    last_ts = F.max(F.when(F.col("rn_d") == 1, F.col("ts_us")))
    first_v = F.max(F.when(F.col("rn_a") == 1, F.col("value")))
    last_v = F.max(F.when(F.col("rn_d") == 1, F.col("value")))
    return d.groupBy("event_type").agg(
        (last_ts - first_ts).alias("x_span_us"),
        (last_v - first_v).alias("y_delta"),
        (
            (last_v - first_v)
            / F.nullif((last_ts - first_ts) / F.lit(86400000000.0), F.lit(0.0))
        ).alias("ratio_per_day"),
    )


# --------------------------------------------------------------------------
# interval sweeps
# --------------------------------------------------------------------------

_INTERVALS_SQL = """
      SELECT event_type, event_id, epoch_us(ts) AS s,
             epoch_us(ts) + CAST(floor(value) AS BIGINT) * 60000000 AS e
      FROM events
"""


def _intervals(t):
    """[start, end) interval per event: duration = floor(value) minutes.

    floor (not cast) — Spark's double→int cast truncates while DuckDB's
    rounds, so floor is the only portable integerization.
    """
    return _events_us(t).select(
        "event_type",
        "event_id",
        F.col("ts_us").alias("s"),
        (
            F.col("ts_us") + F.floor("value").cast("long") * F.lit(MIN_US)
        ).alias("e"),
    )


@register(
    "max_intersections",
    oracle=f"""
    WITH iv AS ({_INTERVALS_SQL}),
    pts AS (
      SELECT event_type, s AS pos, 1 AS delta FROM iv WHERE e > s
      UNION ALL
      SELECT event_type, e AS pos, -1 AS delta FROM iv WHERE e > s
    ), run AS (
      SELECT event_type, pos,
             sum(delta) OVER (PARTITION BY event_type
                              ORDER BY pos, delta) AS n_open
      FROM pts
    )
    SELECT event_type, CAST(max(n_open) AS BIGINT) AS max_concurrent,
           min(CASE WHEN n_open = mx THEN pos END) AS first_peak_pos_us
    FROM (SELECT *, max(n_open) OVER (PARTITION BY event_type) AS mx FROM run)
    GROUP BY event_type
    """,
    doc="ClickHouse maxIntersections + maxIntersectionsPosition analog: "
    "peak number of concurrently open [start, end) intervals per series "
    "and the earliest position where the peak occurs. Sweep line as a "
    "window: +1/-1 boundary points, running sum ordered by (pos, delta) "
    "— ends sort before starts at the same position, so touching "
    "intervals do not intersect, and the default peers-inclusive RANGE "
    "frame makes tie groups see the same prefix sum on both engines. All "
    "integer arithmetic. Scale: 2n boundary rows, one shuffle on the "
    "series key, one sorted pass.",
    tags=("analytics", "stats", "timeseries"),
)
def q_max_intersections(spark, t):
    iv = _intervals(t).filter(F.col("e") > F.col("s"))
    pts = iv.select(
        "event_type", F.col("s").alias("pos"), F.lit(1).alias("delta")
    ).unionAll(
        iv.select("event_type", F.col("e").alias("pos"), F.lit(-1).alias("delta"))
    )
    # default frame with orderBy = RANGE UNBOUNDED PRECEDING..CURRENT ROW:
    # peers share one prefix value (deterministic under ties) cross-engine
    run = pts.withColumn(
        "n_open",
        F.sum("delta").over(W.partitionBy("event_type").orderBy("pos", "delta")),
    )
    run = run.withColumn("mx", F.max("n_open").over(W.partitionBy("event_type")))
    return run.groupBy("event_type").agg(
        F.max("n_open").alias("max_concurrent"),
        F.min(F.when(F.col("n_open") == F.col("mx"), F.col("pos"))).alias(
            "first_peak_pos_us"
        ),
    )


@register(
    "interval_length_sum",
    oracle=f"""
    WITH iv AS ({_INTERVALS_SQL}),
    o AS (
      SELECT event_type, event_id, s, e,
             max(e) OVER (PARTITION BY event_type ORDER BY s, e, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_e
      FROM iv WHERE e > s
    ), isl AS (
      SELECT event_type, s, e,
             sum(CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY event_type ORDER BY s, e, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM o
    ), per AS (
      SELECT event_type, island, max(e) - min(s) AS len
      FROM isl GROUP BY event_type, island
    )
    SELECT event_type, CAST(sum(len) AS BIGINT) AS union_len_us,
           count(*) AS n_islands
    FROM per GROUP BY event_type
    """,
    doc="ClickHouse intervalLengthSum analog: total length of the UNION of "
    "[start, end) intervals per series (overlaps merged). Classic "
    "islands-and-gaps: running max of interval ends marks island starts, "
    "a running count assigns island ids, islands aggregate to "
    "max(end)-min(start). Pure integer window arithmetic. Scale: one "
    "shuffle + one sorted pass per series; islands never materialize "
    "beyond two window columns.",
    tags=("analytics", "stats", "timeseries"),
)
def q_interval_length_sum(spark, t):
    iv = _intervals(t).filter(F.col("e") > F.col("s"))
    ws = W.partitionBy("event_type").orderBy("s", "e", "event_id")
    o = iv.withColumn(
        "prev_max_e",
        F.max("e").over(ws.rowsBetween(W.unboundedPreceding, -1)),
    )
    isl = o.withColumn(
        "island",
        F.sum(
            F.when(
                F.col("prev_max_e").isNull() | (F.col("s") > F.col("prev_max_e")), 1
            ).otherwise(0)
        ).over(ws.rowsBetween(W.unboundedPreceding, 0)),
    )
    per = isl.groupBy("event_type", "island").agg(
        (F.max("e") - F.min("s")).alias("len")
    )
    return per.groupBy("event_type").agg(
        F.sum("len").alias("union_len_us"), F.count(F.lit(1)).alias("n_islands")
    )


# --------------------------------------------------------------------------
# windowed series: moving aggregates + exponential decay
# --------------------------------------------------------------------------

_DAILY_SQL = """
      SELECT event_type, epoch_us(ts) // 86400000000 AS day_idx,
             sum(CAST(value AS DECIMAL(18,6))) AS day_sum_dec
      FROM events GROUP BY 1, 2
"""


def _daily(t):
    return (
        _events_us(t)
        .groupBy(
            "event_type",
            F.floor(F.col("ts_us") / F.lit(DAY_US)).alias("day_idx"),
        )
        .agg(F.sum(dec(F.col("value"), D18_6)).alias("day_sum_dec"))
    )


@register(
    "moving_window_aggs",
    oracle=f"""
    WITH d AS ({_DAILY_SQL})
    SELECT event_type, day_idx,
           CAST(day_sum_dec AS DOUBLE) AS day_sum,
           CAST(sum(day_sum_dec) OVER w3 AS DOUBLE) AS moving_sum_3d,
           CAST(sum(day_sum_dec) OVER w3 AS DOUBLE) / 3.0 AS moving_avg_3d
    FROM d
    WINDOW w3 AS (PARTITION BY event_type ORDER BY day_idx
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    doc="ClickHouse groupArrayMovingSum(3) / groupArrayMovingAvg(3) analog "
    "over per-day sums: a 3-row moving frame per series, one output row "
    "per array slot. Matches ClickHouse's always-divide-by-window-size "
    "average (ramp-up rows divide by 3, not by the rows seen). Decimal "
    "window sums are exact regardless of the engine's frame evaluation "
    "order. Scale: daily pre-aggregation shrinks the window input to "
    "|series|x|days| rows.",
    tags=("analytics", "stats", "timeseries"),
)
def q_moving_window_aggs(spark, t):
    w3 = (
        W.partitionBy("event_type").orderBy("day_idx").rowsBetween(-2, 0)
    )
    d = _daily(t)
    msum = F.sum("day_sum_dec").over(w3)
    return d.select(
        "event_type",
        "day_idx",
        as_double(F.col("day_sum_dec")).alias("day_sum"),
        as_double(msum).alias("moving_sum_3d"),
        (as_double(msum) / F.lit(3.0)).alias("moving_avg_3d"),
    )


@register(
    "exp_time_decayed_avg",
    oracle=f"""
    WITH d AS ({_DAILY_SQL}),
    r AS (
      SELECT event_type, day_idx, day_sum_dec,
             day_idx - min(day_idx) OVER (PARTITION BY event_type) AS di
      FROM d
    ), c AS (
      -- scale-0 accumulator: micro-units * 2^di, all DECIMAL(..,0). A
      -- scale-0 decimal->double cast is ONE rounding on both engines
      -- (DuckDB's scaled-int128 path needs no 10^-scale division), so the
      -- export is bit-identical even when the sum exceeds 2^53
      SELECT event_type, day_idx, di,
             sum(CAST(CAST(day_sum_dec AS DECIMAL(13,6)) * 1000000
                      AS DECIMAL(19,0))
                 * CAST(power(2.0, di) AS DECIMAL(19,0)))
               OVER (PARTITION BY event_type ORDER BY di) AS w_cum
      FROM r
    )
    SELECT event_type, day_idx,
           CAST(w_cum AS DOUBLE)
             / ((power(2.0, di + 1) - 1.0) * 1000000.0) AS ema_halflife_1d
    FROM c
    """,
    doc="exponentialTimeDecayedAvg analog (half-life = 1 day) over daily "
    "sums: ema_d = sum_i(x_i*2^-(d-i)) / sum_i(2^-(d-i)). Rescaled by 2^d "
    "both numerator and denominator become EXACT: 2^di is an exactly "
    "representable double (power() must return it), the decimal products "
    "x_i*2^di accumulate exactly in any order, and the common 2^-d factor "
    "cancels — ema_d = W_d / (2^(d+1)-1) with both operands bit-identical "
    "cross-engine. W_d accumulates as a SCALE-0 decimal (micro-units x "
    "2^di): a scale-0 decimal->double export is a single rounding on both "
    "engines even past 2^53, whereas a fractional scale makes DuckDB "
    "round twice (int128->double, then /10^scale). Exponent bounded by "
    "the series' day span (DECIMAL(19,0) holds 2^di for spans <= 59 days; "
    "longer spans need per-window rescaling — the streaming form keeps a "
    "running (W, S) pair instead). "
    "Scale: |series|x|days| rows after pre-aggregation; one window pass.",
    tags=("analytics", "stats", "timeseries"),
)
def q_exp_time_decayed_avg(spark, t):
    d = _daily(t).withColumn(
        "di",
        F.col("day_idx") - F.min("day_idx").over(W.partitionBy("event_type")),
    )
    micro = (
        F.col("day_sum_dec").cast(T.DecimalType(13, 6)) * F.lit(1000000)
    ).cast(D19_0)
    w_cum = F.sum(
        micro * F.pow(F.lit(2.0), F.col("di")).cast(D19_0)
    ).over(W.partitionBy("event_type").orderBy("di"))
    return d.select(
        "event_type",
        "day_idx",
        (
            as_double(w_cum)
            / (
                (F.pow(F.lit(2.0), F.col("di") + F.lit(1)) - F.lit(1.0))
                * F.lit(1000000.0)
            )
        ).alias("ema_halflife_1d"),
    )


# --------------------------------------------------------------------------
# hypothesis tests
# --------------------------------------------------------------------------

_MOMENTS_SQL = """
      SELECT count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS s,
             CAST(sum(CAST(CAST(value AS DECIMAL(12,2))
                           * CAST(value AS DECIMAL(12,2))
                           AS DECIMAL(24,4))) AS DOUBLE) AS ss
      FROM events WHERE event_type = '{et}'
"""


def _moments(t, et: str):
    """(n, sum, sum-of-squares) of `value` for one event_type, with the
    sums exact (decimal) and exported as doubles.

    Decimal widths are deliberately NARROW: a decimal->double cast is a
    single correct rounding in Spark (BigDecimal) but DuckDB converts the
    scaled int128 to double FIRST and divides by 10^scale after — two
    roundings. The casts agree exactly when the underlying scaled integer
    stays below 2^53, so sums are kept at scale 2/4 (value is exactly
    2dp), bounding the scaled sum far under 2^53."""
    v = dec(F.col("value"))  # DECIMAL(12,2): value is exactly 2dp in data
    return (
        t["events"]
        .filter(F.col("event_type") == et)
        .agg(
            F.count(F.lit(1)).alias("n"),
            as_double(F.sum(v)).alias("s"),
            as_double(F.sum((v * v).cast(T.DecimalType(24, 4)))).alias("ss"),
        )
    )


@register(
    "ttest_student_welch",
    oracle=f"""
    WITH x AS ({_MOMENTS_SQL.format(et="click")}),
    y AS ({_MOMENTS_SQL.format(et="view")}),
    m AS (
      SELECT x.n AS nx, y.n AS ny,
             x.s / x.n AS mx, y.s / y.n AS my,
             (x.n * x.ss - x.s * x.s) / nullif(x.n * (x.n - 1.0), 0.0) AS vx,
             (y.n * y.ss - y.s * y.s) / nullif(y.n * (y.n - 1.0), 0.0) AS vy
      FROM x, y
    )
    SELECT nx, ny, mx AS mean_x, my AS mean_y,
           (mx - my) / nullif(sqrt(greatest((((nx - 1.0) * vx
                                + (ny - 1.0) * vy)
                             / nullif(nx + ny - 2.0, 0.0))
                            * (1.0 / nx + 1.0 / ny), 0.0)), 0.0)
             AS t_student,
           (mx - my) / nullif(sqrt(greatest(vx / nx + vy / ny, 0.0)), 0.0)
             AS t_welch,
           ((vx / nx + vy / ny) * (vx / nx + vy / ny))
             / nullif((vx / nx) * (vx / nx) / nullif(nx - 1.0, 0.0)
                + (vy / ny) * (vy / ny) / nullif(ny - 1.0, 0.0), 0.0)
             AS df_welch
    FROM m
    """,
    doc="ClickHouse studentTTest + welchTTest analog between the 'click' "
    "and 'view' value samples: t statistics and the Welch-Satterthwaite "
    "df, combined from exact decimal moments with expression shapes "
    "mirrored token-for-token in the oracle (IEEE ops on identical "
    "operands; sqrt and division are exactly rounded, so the doubles are "
    "bit-identical). p-values need the incomplete beta function — out of "
    "exact-arithmetic scope, documented (compare |t| against fixed "
    "critical values downstream). Scale: two single-row aggregations; "
    "the moments are combiner-friendly partial sums.",
    tags=("analytics", "stats", "tests"),
)
def q_ttest_student_welch(spark, t):
    x = _moments(t, "click").select(
        F.col("n").alias("nx"), F.col("s").alias("sx"), F.col("ss").alias("sxx")
    )
    y = _moments(t, "view").select(
        F.col("n").alias("ny"), F.col("s").alias("sy"), F.col("ss").alias("syy")
    )
    m = x.crossJoin(y).select(
        "nx",
        "ny",
        (F.col("sx") / F.col("nx")).alias("mx"),
        (F.col("sy") / F.col("ny")).alias("my"),
        (
            (F.col("nx") * F.col("sxx") - F.col("sx") * F.col("sx"))
            / F.nullif(F.col("nx") * (F.col("nx") - F.lit(1.0)), F.lit(0.0))
        ).alias("vx"),
        (
            (F.col("ny") * F.col("syy") - F.col("sy") * F.col("sy"))
            / F.nullif(F.col("ny") * (F.col("ny") - F.lit(1.0)), F.lit(0.0))
        ).alias("vy"),
    )
    nx, ny = F.col("nx"), F.col("ny")
    vx, vy = F.col("vx"), F.col("vy")
    mx, my = F.col("mx"), F.col("my")
    sp2 = ((nx - F.lit(1.0)) * vx + (ny - F.lit(1.0)) * vy) / F.nullif(
        nx + ny - F.lit(2.0), F.lit(0.0)
    )
    vxn, vyn = vx / nx, vy / ny
    return m.select(
        "nx",
        "ny",
        mx.alias("mean_x"),
        my.alias("mean_y"),
        (
            (mx - my)
            / F.nullif(
                F.sqrt(
                    F.greatest(
                        sp2 * (F.lit(1.0) / nx + F.lit(1.0) / ny), F.lit(0.0)
                    )
                ),
                F.lit(0.0),
            )
        ).alias("t_student"),
        (
            (mx - my)
            / F.nullif(F.sqrt(F.greatest(vxn + vyn, F.lit(0.0))), F.lit(0.0))
        ).alias("t_welch"),
        (
            ((vxn + vyn) * (vxn + vyn))
            / F.nullif(
                vxn * vxn / F.nullif(nx - F.lit(1.0), F.lit(0.0))
                + vyn * vyn / F.nullif(ny - F.lit(1.0), F.lit(0.0)),
                F.lit(0.0),
            )
        ).alias("df_welch"),
    )


@register(
    "mann_whitney_u",
    oracle="""
    WITH s AS (
      SELECT event_type, value FROM events
      WHERE event_type IN ('click', 'view')
    ), r AS (
      SELECT event_type, value,
             rank() OVER (ORDER BY value) AS rmin,
             count(*) OVER (PARTITION BY value) AS tie_n
      FROM s
    ), ranked AS (
      SELECT event_type,
             CAST(rmin + (tie_n - 1) / 2.0 AS DECIMAL(20,1)) AS avg_rank
      FROM r
    ), agg AS (
      SELECT count(*) FILTER (event_type = 'click') AS nx,
             count(*) FILTER (event_type = 'view') AS ny,
             CAST(sum(avg_rank) FILTER (event_type = 'click') AS DOUBLE) AS rx
      FROM ranked
    ), ties AS (
      SELECT coalesce(sum(tn * tn * tn - tn), 0) AS tie3
      FROM (SELECT count(*) AS tn FROM s GROUP BY value)
    )
    SELECT nx, ny,
           rx - nx * (nx + 1) / 2.0 AS u_x,
           nx * CAST(ny AS DOUBLE) - (rx - nx * (nx + 1) / 2.0) AS u_y,
           ((rx - nx * (nx + 1) / 2.0) - nx * CAST(ny AS DOUBLE) / 2.0)
             / nullif(sqrt(greatest((nx * CAST(ny AS DOUBLE) / 12.0)
                    * ((nx + ny + 1.0)
                       - tie3 / nullif((nx + ny) * (nx + ny - 1.0), 0.0)),
                    0.0)), 0.0)
             AS z_tie_corrected
    FROM agg, ties
    """,
    doc="ClickHouse mannWhitneyUTest analog on 'click' vs 'view' values: "
    "U statistics from midrank sums and the tie-corrected normal z. "
    "Midranks are half-integers (rank() + (ties-1)/2) summed exactly as "
    "DECIMAL(20,1); the tie term sum(t^3-t) is exact bigint; the z "
    "composition mirrors the oracle token-for-token. Scale: midranks "
    "come from the distinct-collapse two-pass rank "
    "(operators/ranking.py) — one combiner groupBy over the raw rows, a "
    "window over distinct values only, one join back; the raw relation "
    "is never globally sorted.",
    tags=("analytics", "stats", "tests"),
)
def q_mann_whitney_u(spark, t):
    from clickhouse_provider_spark.operators.ranking import grouped_midrank

    s = t["events"].filter(F.col("event_type").isin("click", "view"))
    # distinct-collapse two-pass midrank with BUCKETED cumulative counts
    # (operators/ranking.py): same half-integer values as a single global
    # rank window, but no stage ever serializes the distinct-value
    # relation into one task (distinct doubles grow with data — the same
    # 100x hazard ks_test_2samp's ECDF had)
    ranked = grouped_midrank(
        s.select("event_type", "value"),
        "value",
        [],
        "ar",
        bucket=F.floor(F.col("value") / F.lit(16.0)),
    ).select(
        "event_type", F.col("ar").cast(T.DecimalType(20, 1)).alias("avg_rank")
    )
    agg = ranked.agg(
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "click", F.lit(1))), F.lit(0)
        ).alias("nx"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "view", F.lit(1))), F.lit(0)
        ).alias("ny"),
        as_double(
            F.sum(F.when(F.col("event_type") == "click", F.col("avg_rank")))
        ).alias("rx"),
    )
    ties = (
        s.groupBy("value")
        .agg(F.count(F.lit(1)).alias("tn"))
        .agg(
            F.coalesce(
                F.sum(
                    F.col("tn") * F.col("tn") * F.col("tn") - F.col("tn")
                ),
                F.lit(0),
            ).alias("tie3")
        )
    )
    nx, ny = F.col("nx"), F.col("ny")
    rx, tie3 = F.col("rx"), F.col("tie3")
    ux = rx - nx * (nx + F.lit(1)) / F.lit(2.0)
    nxy = nx * ny.cast("double")
    return agg.crossJoin(ties).select(
        "nx",
        "ny",
        ux.alias("u_x"),
        (nxy - ux).alias("u_y"),
        (
            (ux - nxy / F.lit(2.0))
            / F.nullif(
                F.sqrt(F.greatest(
                    (nxy / F.lit(12.0))
                    * (
                        (nx + ny + F.lit(1.0))
                        - tie3
                        / F.nullif(
                            (nx + ny) * (nx + ny - F.lit(1.0)), F.lit(0.0)
                        )
                    ),
                    F.lit(0.0),
                )),
                F.lit(0.0),
            )
        ).alias("z_tie_corrected"),
    )


@register(
    "spearman_rank_corr",
    oracle="""
    WITH r AS (
      SELECT l_returnflag,
             CAST(rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
                  + (count(*) OVER (PARTITION BY l_returnflag, l_quantity)
                     - 1) / 2.0 AS DECIMAL(10,1)) AS rq,
             CAST(rank() OVER (PARTITION BY l_returnflag
                               ORDER BY l_extendedprice)
                  + (count(*) OVER (PARTITION BY l_returnflag, l_extendedprice)
                     - 1) / 2.0 AS DECIMAL(10,1)) AS rp
      FROM lineitem
    ), m AS (
      SELECT l_returnflag, count(*) AS n,
             CAST(sum(rq) AS DOUBLE) AS sx, CAST(sum(rp) AS DOUBLE) AS sy,
             CAST(sum(rq * rq) AS DOUBLE) AS sxx,
             CAST(sum(rp * rp) AS DOUBLE) AS syy,
             CAST(sum(rq * rp) AS DOUBLE) AS sxy
      FROM r GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           (n * sxy - sx * sy)
             / nullif(sqrt(greatest(n * sxx - sx * sx, 0.0))
                      * sqrt(greatest(n * syy - sy * sy, 0.0)), 0.0)
             AS spearman_rho
    FROM m
    """,
    doc="ClickHouse rankCorr analog (Spearman rho with midranks) between "
    "quantity and price per return flag: two window midranks, then the "
    "price_qty_corr exact-moment Pearson on the ranks. Midranks are "
    "half-integers held as DECIMAL(10,1) so every moment is exact; the "
    "final combination mirrors the oracle. Scale: two distinct-collapse "
    "rank passes (operators/ranking.py) — the 6M-row sort a per-group "
    "window would serialize becomes two combiner groupBys + joins.",
    tags=("analytics", "stats", "tests"),
)
def q_spearman_rank_corr(spark, t):
    base = t["lineitem"].select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    # Round 14 restructure (guide §2.3/§2.4 — shuffle fewer bytes, drop
    # redundant passes): the old plan joined the 600k-row relation back
    # to BOTH rank relations (quantity ranks via a join whose subtree
    # was then re-evaluated inside the price-rank collapse, plus a
    # 600k x 594k sort-merge join for the near-unique price ranks —
    # measured 12.5 s of executor CPU across 4 lineitem scans). The
    # five rank moments the correlation needs never require that second
    # join-back: after attaching the (tiny, broadcast) quantity midranks
    # once, collapse by (flag, price) CARRYING the quantity-rank partial
    # sums, compute the price midrank on that collapsed relation with
    # the bucketed two-level prefix sum, and fold everything in one
    # aggregate:
    #   sx  = Σ_rows rq        = Σ_prices Σrq          (decimal, exact)
    #   sxx = Σ_rows rq²       = Σ_prices Σrq²         (decimal, exact)
    #   sy  = Σ_rows rp        = Σ_prices cnt·rp       (decimal, exact)
    #   syy = Σ_rows rp²       = Σ_prices cnt·(rp·rp)  (decimal, exact)
    #   sxy = Σ_rows rq·rp     = Σ_prices rp·Σrq       (decimal, exact)
    # Every partial sum/product stays inside decimal precision bounds
    # (cnt cast to decimal(10,1) keeps the widest product at (32,3) —
    # under the 38-digit cap, so no rounding ever fires), decimal
    # addition is exact in any grouping, and the final as_double casts
    # see the same exact values — so rho is bit-identical to the
    # row-level formulation and the oracle. Quantity (150 distinct per
    # flag) keeps the cheap per-flag window; the near-unique price rank
    # runs as the bucketed prefix sum (3 flags × ~27 buckets — trivially
    # inside the broadcast-offsets bound).
    from clickhouse_provider_spark.operators.ranking import (
        bucketed_cumsum,
        value_midranks,
    )

    rq_ranks = value_midranks(
        base, "l_quantity", ["l_returnflag"], "rq_d"
    ).select(
        "l_returnflag",
        "l_quantity",
        F.col("rq_d").cast(D10_1).alias("rq"),
    )
    a = base.join(
        F.broadcast(rq_ranks), ["l_returnflag", "l_quantity"]
    ).select("l_returnflag", "l_extendedprice", "rq")
    g = a.groupBy("l_returnflag", "l_extendedprice").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.sum("rq").alias("_sq"),
        F.sum(F.col("rq") * F.col("rq")).alias("_sqq"),
    )
    # Round 15 (VERDICT r14 task 2, guide §8 "decide with small rows"):
    # left to compute its own offsets, bucketed_cumsum evaluates its
    # input lineage twice — and here that lineage is the expensive
    # collapse above (scan + midrank join + 594k-group decimal
    # aggregate). The per-(flag, bucket) _cnt subtotals it needs have a
    # provably equal CHEAP source: the broadcast midrank join is 1:1
    # (rq_ranks carries exactly one row per (flag, quantity) of base,
    # built from base itself), so sum(_cnt) over a bucket = base's raw
    # row count in that bucket — one narrow 2-column scan + a ~3x27-row
    # count aggregate, computed off the critical path as the broadcast
    # future. The expensive collapse is then evaluated ONCE (under the
    # window join); executed plan drops from 4 lineitem scans to 3
    # cheap-by-width ones (plans/r15/spearman_rank_corr_*.txt).
    # Counted under the ranked side's filter: the midrank join is an
    # inner equi-join, so rows with a NULL flag or quantity never reach
    # ``g`` and must not reach the totals either.
    totals = (
        base.filter(
            F.col("l_returnflag").isNotNull() & F.col("l_quantity").isNotNull()
        )
        .groupBy(
            "l_returnflag",
            F.floor(F.col("l_extendedprice") / F.lit(4096.0)).alias("_bkt"),
        )
        .agg(F.count(F.lit(1)).alias("_bw0"))
    )
    g2 = bucketed_cumsum(
        g,
        "l_extendedprice",
        "_cnt",
        bucket=F.floor(F.col("l_extendedprice") / F.lit(4096.0)),
        group_cols=["l_returnflag"],
        out_col="_cum",
        bucket_totals=totals,
    )
    # identical midrank arithmetic to value_midranks: cum - cnt + 1 +
    # (cnt-1)/2.0 as a double (exact half-integers), then decimal(10,1)
    rp = (
        F.col("_cum")
        - F.col("_cnt")
        + F.lit(1)
        + (F.col("_cnt") - F.lit(1)) / F.lit(2.0)
    ).cast(D10_1)
    cntd = F.col("_cnt").cast(D10_1)
    r = g2.select(
        "l_returnflag",
        "_cnt",
        "_sq",
        "_sqq",
        rp.alias("rp"),
    )
    m = r.groupBy("l_returnflag").agg(
        F.sum("_cnt").alias("n"),
        as_double(F.sum("_sq")).alias("sx"),
        as_double(F.sum(cntd * F.col("rp"))).alias("sy"),
        as_double(F.sum("_sqq")).alias("sxx"),
        as_double(F.sum(cntd * (F.col("rp") * F.col("rp")))).alias("syy"),
        as_double(F.sum(F.col("rp") * F.col("_sq"))).alias("sxy"),
    )
    n = F.col("n")
    rho = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.nullif(
        F.sqrt(F.greatest(n * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0)))
        * F.sqrt(F.greatest(n * F.col("syy") - F.col("sy") * F.col("sy"), F.lit(0.0))),
        F.lit(0.0),
    )
    return m.select("l_returnflag", "n", rho.alias("spearman_rho"))


# --------------------------------------------------------------------------
# regression / association / information
# --------------------------------------------------------------------------


@register(
    "simple_linear_regression",
    oracle=f"""
    WITH d AS ({_DAILY_SQL}),
    r AS (
      SELECT event_type,
             day_idx - min(day_idx) OVER (PARTITION BY event_type) AS x,
             CAST(day_sum_dec AS DECIMAL(18,6)) AS y
      FROM d
    ), m AS (
      SELECT event_type, count(*) AS n,
             sum(x) AS sx, sum(x * x) AS sxx,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(y * CAST(x AS DECIMAL(10,0))) AS DOUBLE) AS sxy
      FROM r GROUP BY event_type
    )
    SELECT event_type, n,
           (n * sxy - sx * sy)
             / nullif(n * CAST(sxx AS DOUBLE) - sx * CAST(sx AS DOUBLE), 0.0)
             AS slope_per_day,
           (sy - (n * sxy - sx * sy)
                   / nullif(n * CAST(sxx AS DOUBLE) - sx * CAST(sx AS DOUBLE), 0.0)
                   * sx)
             / n AS intercept
    FROM m
    """,
    doc="ClickHouse simpleLinearRegression analog: per series, least-"
    "squares slope/intercept of daily value sums over the 0-based day "
    "index. x moments are exact integers, y moments exact decimals; the "
    "slope/intercept combination mirrors the oracle token-for-token. "
    "Scale: daily pre-aggregation then a 5-sum combiner-friendly agg — "
    "the canonical map-side-reducible regression.",
    tags=("analytics", "stats"),
)
def q_simple_linear_regression(spark, t):
    d = _daily(t).withColumn(
        "x",
        F.col("day_idx") - F.min("day_idx").over(W.partitionBy("event_type")),
    )
    y = F.col("day_sum_dec").cast(D18_6)
    m = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        as_double(F.sum(y)).alias("sy"),
        as_double(F.sum(y * F.col("x").cast(T.DecimalType(10, 0)))).alias("sxy"),
    )
    n, sx = F.col("n"), F.col("sx")
    sxx, sy, sxy = F.col("sxx"), F.col("sy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / F.nullif(
        n * sxx.cast("double") - sx * sx.cast("double"), F.lit(0.0)
    )
    return m.select(
        "event_type",
        "n",
        slope.alias("slope_per_day"),
        ((sy - slope * sx) / n).alias("intercept"),
    )


@register(
    "uniq_up_to",
    oracle="""
    SELECT event_type,
           least(count(DISTINCT user_id), 11) AS uniq_up_to_10,
           least(count(DISTINCT user_id), 101) AS uniq_up_to_100,
           count(DISTINCT user_id) AS uniq_exact
    FROM events GROUP BY event_type
    """,
    doc="ClickHouse uniqUpTo(N) analog: exact distinct count saturating at "
    "N+1 (ClickHouse's 'more than N' marker), for N=10 and 100, next to "
    "the exact count. Scale: uniqUpTo exists precisely because the state "
    "is bounded at N+1 values per group — at 100 TB this is the "
    "'has at least N distinct' gate that avoids a full distinct count; "
    "Spark's partial-aggregate distinct gives the same bounded-work "
    "behavior per task.",
    tags=("analytics", "stats", "approx"),
)
def q_uniq_up_to(spark, t):
    cd = F.countDistinct("user_id")
    return t["events"].groupBy("event_type").agg(
        F.least(cd, F.lit(11)).alias("uniq_up_to_10"),
        F.least(cd, F.lit(101)).alias("uniq_up_to_100"),
        cd.alias("uniq_exact"),
    )


@register(
    "quantile_exact_weighted",
    oracle="""
    WITH g AS (
      SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
             sum(CAST(floor(l_quantity) AS BIGINT)) AS w
      FROM lineitem GROUP BY 1, 2
    ), c AS (
      SELECT l_returnflag, price, w,
             sum(w) OVER (PARTITION BY l_returnflag ORDER BY price) AS cw,
             sum(w) OVER (PARTITION BY l_returnflag) AS tw
      FROM g
    )
    SELECT l_returnflag, CAST(max(tw) AS BIGINT) AS total_weight,
           CAST(min(CASE WHEN 2 * cw >= tw THEN price END) AS DOUBLE)
             AS weighted_median_price
    FROM c GROUP BY l_returnflag
    """,
    doc="ClickHouse quantileExactWeighted(0.5) analog: weighted median of "
    "price with quantity weights — collapse to per-value weights, "
    "cumulative weight in value order, first value whose doubled "
    "cumulative weight reaches the total. All integer/decimal "
    "comparisons; no interpolation, matching ClickHouse's lower-value "
    "convention. Scale: per-value collapse bounds the data, then the "
    "cumulative weight runs as a two-level bucketed prefix sum "
    "(operators/ranking.bucketed_cumsum) so no stage serializes into "
    "|groups| tasks; 2*cw >= tw avoids any fractional target.",
    tags=("analytics", "stats"),
)
def q_quantile_exact_weighted(spark, t):
    from pyspark.sql.window import Window as W

    # Crossing-bucket pruning (round 14, guide §1.2-1 "don't compute
    # things you throw away"): the weighted median needs the per-price
    # cumulative weight ONLY inside the single bucket where 2*cum first
    # reaches the total — every earlier bucket's prices all have
    # 2*cw < tw (cw <= that bucket's inclusive prefix, which is below
    # tw/2 by minimality of the crossing bucket), every later bucket's
    # prices are strictly larger than the crossing bucket's qualifying
    # prices (the bucket fn is monotone in price), and the crossing
    # bucket always contains a qualifying price (its last price has
    # cw = the crossing prefix >= tw/2). The old plan collapsed ALL
    # ~594k near-unique (flag, price) pairs and ran the full two-level
    # prefix sum over them (measured: 2 scans + a 594k-group decimal
    # hash aggregate + 594k-row windows ~= 2.0-2.8 s at sf0.1); this
    # plan aggregates one scan to |flags| x ~27 bucket subtotals, finds
    # the crossing bucket with exact integer sums, and only the ~1/27
    # of rows in that bucket pay the per-price collapse + window. All
    # weight sums are longs (exact in any grouping), the decimal price
    # and the 2*cw >= tw test are untouched, so every value is identical
    # to the full-cumsum formulation and the oracle.
    li = t["lineitem"]
    bkt = F.floor(dec("l_extendedprice").cast("double") / F.lit(4096.0))
    w_expr = F.floor("l_quantity").cast("long")

    sub = li.groupBy("l_returnflag", bkt.alias("_bkt")).agg(
        F.sum(w_expr).alias("bw")
    )
    wb = W.partitionBy("l_returnflag").orderBy("_bkt")
    marked = sub.select(
        "l_returnflag",
        "_bkt",
        "bw",
        F.sum("bw").over(wb).alias("_cum"),
        F.sum("bw").over(W.partitionBy("l_returnflag")).alias("tw"),
    )
    # the crossing bucket: min bucket whose inclusive prefix reaches
    # tw/2; its exclusive prefix (= _cum - bw) is the offset every
    # in-bucket cumulative continues from
    cross = (
        marked.filter(F.lit(2) * F.col("_cum") >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(F.min("_bkt").alias("_bstar"))
    )
    off = (
        marked.join(cross, "l_returnflag")
        .filter(F.col("_bkt") == F.col("_bstar"))
        .select(
            F.col("l_returnflag").alias("_f"),
            "_bstar",
            "tw",
            (F.col("_cum") - F.col("bw")).alias("_off"),
        )
    )
    cand = li.join(
        F.broadcast(off),
        (li["l_returnflag"] == off["_f"]) & (bkt == off["_bstar"]),
    ).select(
        F.col("_f").alias("l_returnflag"),
        dec("l_extendedprice").alias("price"),
        w_expr.alias("w"),
        "_off",
        "tw",
    )
    g2 = cand.groupBy("l_returnflag", "price", "_off", "tw").agg(
        F.sum("w").alias("pw")
    )
    # the in-bucket window is |flags| tasks over ~1/|buckets| of the
    # distinct prices each — bounded by construction, no bucketed
    # machinery needed
    wl = W.partitionBy("l_returnflag").orderBy("price")
    c2 = g2.withColumn("cw", F.col("_off") + F.sum("pw").over(wl))
    return c2.groupBy("l_returnflag").agg(
        F.max("tw").alias("total_weight"),
        as_double(
            F.min(F.when(F.lit(2) * F.col("cw") >= F.col("tw"), F.col("price")))
        ).alias("weighted_median_price"),
    )


@register(
    "cramers_v",
    oracle="""
    WITH cells AS (
      SELECT l_returnflag AS f, l_linestatus AS s, count(*) AS o
      FROM lineitem GROUP BY 1, 2
    ), tot AS (
      SELECT f, s, o,
             sum(o) OVER (PARTITION BY f) AS r,
             sum(o) OVER (PARTITION BY s) AS c,
             sum(o) OVER () AS n
      FROM cells
    ), terms AS (
      SELECT f, s, n,
             (CAST(o AS DOUBLE) - (r * c) / CAST(n AS DOUBLE))
               * (CAST(o AS DOUBLE) - (r * c) / CAST(n AS DOUBLE))
               / ((r * c) / CAST(n AS DOUBLE)) AS term
      FROM tot
    ), folded AS (
      SELECT CAST(max(n) AS BIGINT) AS n,
             count(DISTINCT f) AS k, count(DISTINCT s) AS m,
             list_reduce(list(term ORDER BY f, s), (a, b) -> a + b) AS chi2
      FROM terms
    )
    SELECT n, k, m, chi2,
           sqrt(chi2 / nullif(n * CAST(least(k - 1, m - 1) AS DOUBLE), 0.0))
             AS cramers_v
    FROM folded
    """,
    doc="ClickHouse cramersV analog over the returnflag x linestatus "
    "contingency table: chi-square from exact cell/marginal counts, "
    "normalized to [0,1]. The per-cell terms are identical-operand double "
    "ops, and the chi-square sum runs as a FIXED-ORDER left fold on both "
    "engines (Spark aggregate over the (f,s)-sorted array, DuckDB "
    "list_reduce over list(... ORDER BY f, s)) since float addition is "
    "not associative. Scale: |cells| = k*m rows after one count shuffle — "
    "the fold input is tiny by construction.",
    tags=("analytics", "stats", "tests"),
)
def q_cramers_v(spark, t):
    cells = (
        t["lineitem"]
        .groupBy(F.col("l_returnflag").alias("f"), F.col("l_linestatus").alias("s"))
        .agg(F.count(F.lit(1)).alias("o"))
    )
    # grand total via agg + broadcast, not sum() OVER () — the global
    # window compiles to a single-partition WindowExec even over the
    # bounded cells relation (tests/test_plan_audit.py flags it)
    grand = cells.agg(F.sum("o").alias("n"))
    tot = cells.select(
        "f",
        "s",
        "o",
        F.sum("o").over(W.partitionBy("f")).alias("r"),
        F.sum("o").over(W.partitionBy("s")).alias("c"),
    ).crossJoin(F.broadcast(grand))
    e = (F.col("r") * F.col("c")) / F.col("n").cast("double")
    term = (
        (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
    )
    terms = tot.select("f", "s", "n", term.alias("term"))
    folded = terms.agg(
        F.max("n").alias("n"),
        F.countDistinct("f").alias("k"),
        F.countDistinct("s").alias("m"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("f", "s", "term"))),
                lambda x: x["term"],
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("chi2"),
    )
    return folded.select(
        "n",
        "k",
        "m",
        "chi2",
        F.sqrt(
            F.col("chi2")
            / F.nullif(
                F.col("n")
                * F.least(F.col("k") - F.lit(1), F.col("m") - F.lit(1)).cast(
                    "double"
                ),
                F.lit(0.0),
            )
        ).alias("cramers_v"),
    )


@register(
    "entropy_rank_profile",
    oracle="""
    WITH c AS (
      SELECT epoch_us(ts) // 86400000000 AS day_idx, event_type,
             count(*) AS cnt
      FROM events GROUP BY 1, 2
    ), h AS (
      SELECT day_idx, CAST(sum(cnt) AS BIGINT) AS n_events,
             count(*) AS n_types,
             log2(CAST(sum(cnt) AS DOUBLE))
               - list_reduce(
                   list(cnt * log2(CAST(cnt AS DOUBLE)) ORDER BY event_type),
                   (a, b) -> a + b) / sum(cnt) AS ent
      FROM c GROUP BY day_idx
    )
    SELECT day_idx, n_events, n_types,
           rank() OVER (ORDER BY ent DESC, day_idx) AS entropy_rank
    FROM h
    """,
    doc="Shannon entropy of the per-day event-type mix, graded by RANK: "
    "JVM Math.log and DuckDB's libm differ in the last ulp (measured on "
    "this container), so the raw entropy is not cross-engine hashable — "
    "but a <=1-ulp perturbation cannot reorder entropies that differ by "
    "more than 1 ulp, days with identical count-multisets get bit-equal "
    "entropies within each engine (fixed-order fold), and their rank tie "
    "breaks on day_idx. H = log2(n) - sum(c*log2 c)/n, folded in "
    "event_type order on both engines. Scale: state per day is |types| "
    "counts; the fold input never exceeds the type cardinality.",
    tags=("analytics", "stats", "llm"),
)
def q_entropy_rank_profile(spark, t):
    c = (
        _events_us(t)
        .groupBy(
            F.floor(F.col("ts_us") / F.lit(DAY_US)).alias("day_idx"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    h = c.groupBy("day_idx").agg(
        F.sum("cnt").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        (
            F.log2(F.sum("cnt").cast("double"))
            - F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "event_type",
                                (
                                    F.col("cnt")
                                    * F.log2(F.col("cnt").cast("double"))
                                ).alias("term"),
                            )
                        )
                    ),
                    lambda x: x["term"],
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            / F.sum("cnt")
        ).alias("ent"),
    )
    return h.select(
        "day_idx",
        "n_events",
        "n_types",
        F.rank().over(W.orderBy(F.col("ent").desc(), "day_idx")).alias(
            "entropy_rank"
        ),
    )
