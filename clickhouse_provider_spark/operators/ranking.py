"""Distributed (mid)ranking — the scale path for rank statistics.

A plain ``rank() OVER (ORDER BY value)`` funnels the whole relation into
ONE task (Spark compiles a global window to a single partition), and a
per-group window parallelizes only as far as the group count. Rank
statistics (Mann-Whitney, Spearman) don't need a per-ROW sort though —
midranks are a function of the VALUE-level counts alone, so the rank pass
can collapse to distinct values first:

1. ``groupBy(group, value).count()`` — one combiner-friendly shuffle over
   the raw data; output is |distinct values| rows;
2. per-group running sum over the distinct values — a window whose input
   is the collapsed relation (for quantized/bounded-cardinality metrics,
   orders of magnitude smaller than the data; the common case for rank
   statistics), giving ``min_rank = cum - count + 1`` and
   ``avg_rank = min_rank + (count - 1)/2``;
3. join the per-value midrank back to the rows (plain equi-join; skipped
   entirely by callers that can aggregate on the collapsed relation).

The raw relation is never globally sorted: it pays one aggregation
shuffle and one join shuffle, both fully parallel. Midranks come out as
the same half-integers as the window formulation, so swapping this in
under an oracle-checked entry changes the PLAN, never the values.

Why not range-repartition + per-partition prefix offsets (the classic
two-pass rank for near-unique keys)? ``repartitionByRange`` picks its
boundaries by SAMPLING at execution time, so ``spark_partition_id()`` is
not stable across the two jobs that scheme needs (the offset job and the
rank job can see different partitionings — observed as wrong ranks, and
also breaks under task retry). A sound implementation must pin the
boundaries (persist the repartitioned relation, or compute explicit
boundary values first); for value-collapsible statistics the
distinct-collapse form is both simpler and cheaper, so it is the one
shipped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def value_midranks(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    out_col: str = "avg_rank",
    bucket: "F.Column | None" = None,
) -> DataFrame:
    """Midrank per DISTINCT value within each group: one row per
    (group, value) with its tie count and midrank. The collapsed relation
    callers can aggregate directly (rank-sum statistics never need the
    join back).

    The cumulative tie-count pass defaults to a window over the collapsed
    relation; for UNGROUPED callers that window is global — a single-task
    sort whose input (|distinct values|) grows with the data. Pass
    ``bucket`` (a coarse monotone fn of ``value_col``, see
    :func:`bucketed_cumsum`) to run it as the distributed two-level
    prefix sum instead — identical half-integer midranks (integer tie
    counts sum exactly in any decomposition).

    ``bucket`` composes with ``group_cols`` since round 14: a grouped
    window parallelizes only as far as |groups|, so a LOW-group-count
    rank over a HIGH-cardinality value column (spearman's price midrank:
    3 flags × ~600k distinct prices) serialized ~200k-row sorts into 3
    tasks — the bucketed two-level prefix sum runs the same exact
    arithmetic across |groups| × |buckets| tasks instead (bucketed_cumsum
    has supported group_cols all along; this function simply stopped
    rejecting the combination — the ADVICE-r10 concern was *silently
    ignoring* ``bucket``, and honoring it is the non-surprising
    behavior). The broadcast-offsets bound (|groups| × |buckets| must be
    driver-small) is the caller's obligation, as documented on
    :func:`bucketed_cumsum`."""
    group_cols = list(group_cols or [])
    g = df.groupBy(*group_cols, value_col).agg(F.count(F.lit(1)).alias("_cnt"))
    if bucket is not None:
        g = bucketed_cumsum(
            g,
            value_col,
            "_cnt",
            bucket=bucket,
            group_cols=group_cols,
            out_col="_cum",
        )
        cum = F.col("_cum")
    else:
        w = W.partitionBy(*group_cols).orderBy(value_col) if group_cols else W.orderBy(
            value_col
        )
        cum = F.sum("_cnt").over(w)
    return (
        g.withColumn(
            out_col,
            cum
            - F.col("_cnt")
            + F.lit(1)
            + (F.col("_cnt") - F.lit(1)) / F.lit(2.0),
        )
        .withColumnRenamed("_cnt", "tie_count")
        .drop("_cum")
    )


def grouped_midrank(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    out_col: str = "avg_rank",
    bucket: "F.Column | None" = None,
) -> DataFrame:
    """Append ``out_col`` = midrank of ``value_col`` within each group
    (global when ``group_cols`` is empty/None), via the distinct-collapse
    two-pass rank. Values are identical to
    ``rank() OVER (PARTITION BY group ORDER BY value)`` plus tie-count
    averaging — only the physical plan differs. ``bucket`` as in
    :func:`value_midranks`."""
    group_cols = list(group_cols or [])
    ranks = value_midranks(df, value_col, group_cols, out_col, bucket).drop(
        "tie_count"
    )
    return df.join(ranks, [*group_cols, value_col])


def bucketed_cumsum(
    df: DataFrame,
    order_col: str,
    val_col: str | list[str],
    bucket: "F.Column",
    group_cols: list[str] | None = None,
    out_col: str | list[str] = "cum",
    broadcast_offsets: bool = True,
    bucket_totals: DataFrame | None = None,
) -> DataFrame:
    """Distributed running sum of ``val_col`` in ``order_col`` order within
    each group — the two-level prefix-sum that replaces a per-group
    cumulative window (whose parallelism is capped at |groups|):

    1. per-(group, bucket) subtotals — tiny parallel aggregate (``bucket``
       must be a monotone non-decreasing function of ``order_col``, e.g. a
       coarse range bucket);
    2. running sum over buckets per group — a window over |buckets| rows;
    3. local running sum within each (group, bucket) partition + the
       bucket's prefix offset — parallel across |groups| x |buckets|
       partitions.

    ``val_col``/``out_col`` may be parallel lists to compute several
    running sums in one pass (e.g. a two-sample ECDF's cx and cy) — the
    bucketing, offset window, and join are shared, so k columns cost the
    same shuffles as one.

    Exact integer/decimal arithmetic throughout (same values as the
    single-window cumsum, any input order). Rows must be unique per
    (group, order_col) — pre-aggregate first, as rank statistics already
    do.

    CONTRACT (broadcast bound): the offsets relation is
    |groups| x |buckets| rows; with ``broadcast_offsets=True`` (default)
    it is force-``F.broadcast()``-ed — callers MUST then pass a coarse
    ``bucket`` fn and group columns whose product cardinality is
    driver-small (thousands, not millions). That bound is the caller's
    obligation, not a property this operator can check without an action;
    a high-cardinality caller passes ``broadcast_offsets=False`` to take
    a plain shuffle join instead (values identical; step 3's window
    re-shuffles on (group, bucket) regardless, so the extra exchange is
    the only cost). Both shipped callers (quantile_exact_weighted's
    per-flag price buckets, ks_test_2samp's value-range buckets) satisfy
    the broadcast bound by construction.

    NULL keys (ADVICE r10): rows whose ``bucket`` expression (or, within
    a bucket, whose ``order_col``) evaluates to NULL are EXCLUDED from
    the output — the offsets equi-join on ``_bkt`` is null-dropping,
    matching SQL window semantics only for non-NULL sort keys. An
    all-NULL ``val_col`` bucket contributes 0 (not NULL) to later
    buckets' offsets in both the grouped window path (SUM ignores NULLs)
    and the ungrouped fold (explicit coalesce below) — the same totals
    the single-window formulation produces. NULL ``val_col`` rows carry
    the running total of prior non-NULL values, except that rows preceded
    by NO non-NULL value at all get 0 where SQL's window yields NULL (see
    the inline note at the local-sum step).

    DUAL-EVALUATION CONTROL (round 15, VERDICT r14 task 2): by default
    the offsets aggregation and the join+window pass are two independent
    subtrees, so ``df``'s lineage is evaluated TWICE — on an idle local
    cluster the copies run as concurrent jobs and the duplication is
    nearly free, but an expensive input pays double the work at scale.
    The remedy is ``bucket_totals``, value-identical (pinned in
    test_round15_pins.py against the window formulation): the caller
    supplies the per-(group, bucket) subtotal relation from a CHEAPER
    equivalent source (guide §8 — decide with small rows). Schema:
    ``[*group_cols, "_bkt", "_bw0".."_bw{k-1}"]`` with ``_bw{i}`` = the
    sum of ``val_cols[i]`` over exactly the rows of ``df`` that land in
    that bucket (the caller's proof obligation — e.g. when ``df`` is a
    count-collapse of a raw relation, raw row counts per bucket). The
    expensive lineage is then evaluated ONCE (under the window), and the
    offsets subtree is the caller's cheap scan, running concurrently as
    the broadcast future. Every (group, bucket) of ``df`` with non-NULL
    group keys must have exactly ONE totals row: a missing key or a
    duplicated key fails the query (``raise_error`` inside the plan — no
    extra job), where an inner offsets join would silently drop or fan
    out rows.

    Spearman's caller uses ``bucket_totals`` (see plans/catalog10.py):
    REPS=7 idle-host A/B r14-dual vs totals: 2.768 → 2.596 s median
    (2.483 → 2.397 s min), with the executed plan's expensive collapse
    evaluated once.
    """
    group_cols = list(group_cols or [])
    val_cols = [val_col] if isinstance(val_col, str) else list(val_col)
    out_cols = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(val_cols) != len(out_cols):
        raise ValueError("val_col and out_col lists must be parallel")
    # enforce the NULL-key contract AT THE SOURCE: a NULL bucket row must
    # be fully excluded, not merely dropped by the offsets equi-join —
    # NULL sorts first in both offset passes, so an unfiltered NULL
    # bucket's subtotal would silently leak into every real bucket's
    # offset while its own rows vanish (caught by
    # tests/test_round10_pins.py::test_bucketed_cumsum_null_bucket_rows_excluded)
    b = df.withColumn("_bkt", bucket).filter(F.col("_bkt").isNotNull())
    checked = bucket_totals is not None
    if checked:
        need = [*group_cols, "_bkt"] + [f"_bw{i}" for i in range(len(val_cols))]
        missing = [c for c in need if c not in bucket_totals.columns]
        if missing:
            raise ValueError(
                f"bucket_totals is missing required columns {missing}"
            )
        # same NULL-key contract as the source-side filter above: a NULL
        # _bkt subtotal would sort first and leak into every offset
        sub = bucket_totals.select(*need).filter(F.col("_bkt").isNotNull())
        # NULL group keys never match an offsets row (the self-derived
        # path drops them in its equi-join too); filtered here so the
        # missing-key check below sees only rows that can match
        for c in group_cols:
            b = b.filter(F.col(c).isNotNull())
    else:
        sub = b.groupBy(*group_cols, "_bkt").agg(
            *[F.sum(v).alias(f"_bw{i}") for i, v in enumerate(val_cols)]
        )
    k = len(val_cols)
    if group_cols:
        wb = W.partitionBy(*group_cols).orderBy("_bkt")
        if checked:  # _dup: the group's totals hold some bucket twice
            wg = W.partitionBy(*group_cols)
            dup = F.count(F.lit(1)).over(wg) > F.size(F.collect_set("_bkt").over(wg))
        offsets = sub.select(
            *group_cols,
            "_bkt",
            *[
                (F.sum(f"_bw{i}").over(wb) - F.col(f"_bw{i}")).alias(f"_off{i}")
                for i in range(k)
            ],
            *([dup.alias("_dup")] if checked else []),
        )
    else:
        # ungrouped: the bucket subtotals are BOUNDED (caller contract), so
        # compute their exclusive prefix sums in ONE single-row aggregate —
        # sort_array + an array fold — instead of a global window, which
        # would be an Exchange SinglePartition + an (accurately) warning
        # WindowExec. Same exact arithmetic: the fold adds the per-bucket
        # sums in ascending _bkt order, each bucket's offset taken BEFORE
        # its own subtotal is folded in.
        sum_dts = [sub.schema[f"_bw{i}"].dataType for i in range(k)]
        bkt_dt = sub.schema["_bkt"].dataType.simpleString()
        out_t = (
            "array<struct<_bkt:" + bkt_dt + ","
            + ",".join(f"_off{i}:{dt.simpleString()}" for i, dt in enumerate(sum_dts))
            + ">>"
        )
        packed = sub.agg(
            F.sort_array(
                F.collect_list(F.struct("_bkt", *[f"_bw{i}" for i in range(k)]))
            ).alias("_a")
        )
        fold = F.aggregate(
            F.col("_a"),
            F.struct(
                *[F.lit(0).cast(dt).alias(f"s{i}") for i, dt in enumerate(sum_dts)],
                F.array().cast(out_t).alias("out"),
            ),
            lambda acc, x: F.struct(
                # coalesce: an all-NULL-val bucket's subtotal is NULL and
                # must add 0, not poison every later bucket's offset —
                # mirrors SUM-over-window's NULL-ignoring fold
                *[
                    (acc[f"s{i}"] + F.coalesce(x[f"_bw{i}"], F.lit(0).cast(dt)))
                    .cast(dt)
                    .alias(f"s{i}")
                    for i, dt in enumerate(sum_dts)
                ],
                F.array_append(
                    acc["out"],
                    F.struct(
                        x["_bkt"].alias("_bkt"),
                        *[acc[f"s{i}"].alias(f"_off{i}") for i in range(k)],
                    ),
                ).alias("out"),
            ),
        )
        if checked:
            dup = F.size(F.array_distinct(F.col("_a._bkt"))) < F.size("_a")
        offsets = packed.select(
            F.explode(fold["out"]).alias("_o"),
            *([dup.alias("_dup")] if checked else []),
        ).select(
            "_o._bkt",
            *[f"_o._off{i}" for i in range(k)],
            *(["_dup"] if checked else []),
        )
    wl = W.partitionBy(*group_cols, "_bkt").orderBy(order_col)
    # offsets is |groups|x|buckets| rows — BOUNDED by the documented caller
    # contract above, so broadcast by default: the alternative is a full
    # shuffle of the collapsed relation just to meet a few-KB table, and
    # step 3's window re-shuffles on (group, bucket) anyway. A caller whose
    # group product is NOT driver-small opts out via broadcast_offsets.
    if checked:
        # caller-supplied totals: a left join keeps the rows whose key has
        # no totals row, and the filter fails the query on them or on a
        # duplicated key (a filter is never pruned away, unlike a check
        # folded into an output column the caller might not read)
        offsets = offsets.withColumn("_hit", F.lit(True))
        if broadcast_offsets:
            offsets = F.broadcast(offsets)
        out = (
            b.join(offsets, [*group_cols, "_bkt"], "left")
            .filter(
                F.when(
                    F.col("_hit").isNull(),
                    F.raise_error(F.lit(
                        "bucketed_cumsum: bucket_totals has no row for a"
                        " (group, bucket) key of the input"
                    )),
                )
                .when(
                    F.col("_dup"),
                    F.raise_error(F.lit(
                        "bucketed_cumsum: bucket_totals has more than one row"
                        " for a (group, bucket) key"
                    )),
                )
                .otherwise(F.lit(True))
            )
            .drop("_hit", "_dup")
        )
    else:
        if broadcast_offsets:
            offsets = F.broadcast(offsets)
        out = b.join(offsets, [*group_cols, "_bkt"])
    for i, (v, o) in enumerate(zip(val_cols, out_cols)):
        # coalesce the local window sum as well: a NULL-val row carries the
        # running total of prior non-NULL values (its bucket's local prefix
        # may be all-NULL). One deliberate divergence from the SQL window:
        # rows preceded by NO non-NULL value anywhere get 0 here where SQL
        # yields NULL — indistinguishable from a legitimate 0 offset without
        # extra state, and unreachable for the shipped count-valued callers.
        out = out.withColumn(
            o, F.col(f"_off{i}") + F.coalesce(F.sum(v).over(wl), F.lit(0))
        )
    return out.drop("_bkt", *[f"_off{i}" for i in range(len(val_cols))])
