"""Dataflow operators: the reference's pipeline operators (SURVEY.md §2A)
and the LLM-data-pipeline layer (dedup / similarity / text / multimodal)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def checkpoint(df: DataFrame, track: list | None = None) -> DataFrame:
    """``df.localCheckpoint(eager=True)``, appended to ``track`` when one
    is given, for :func:`release` to free."""
    df = df.localCheckpoint(eager=True)
    if track is not None:
        track.append(df)
    return df


def checkpoint_rdd(df: DataFrame):
    """The JVM RDD holding a ``localCheckpoint`` frame's blocks, or None
    when ``df`` is not a checkpoint."""
    plan = df._jdf.queryExecution().analyzed()  # noqa: SLF001
    if plan.getClass().getSimpleName() != "LogicalRDD":
        return None
    rdd = plan.rdd()
    return rdd if rdd.isCheckpointed() else None


def release(track: list[DataFrame]) -> None:
    """Free every intermediate an operator handed back through ``track=``:
    unpersist the persisted frames and drop the blocks of local
    checkpoints. ``df.unpersist()`` alone leaves a checkpoint's RDD
    cached until the context cleaner happens to collect it.

    Call only after the last action that reads them: a frame derived
    from a released checkpoint can no longer be computed."""
    for df in track:
        df.unpersist()
        rdd = checkpoint_rdd(df)
        if rdd is not None:
            rdd.unpersist(False)


def spread_scan(df: DataFrame, *key_cols: str, n: int | None = None) -> DataFrame:
    """Raise the map-side parallelism of an UNDER-partitioned input.

    The optimization-guide remedy for unsplittable/under-split inputs
    (spark_optimization_guide §2.5 "input skew": one huge unsplittable
    file → "repartition immediately after the read"): when the plan's
    scan yields fewer partitions than the session's parallelism, every
    map-side operator downstream (explode, hash, Arrow kernel, partial
    aggregate) runs on that handful of tasks no matter how many cores
    exist. The driver testdata is exactly this shape — each table is ONE
    parquet file with ONE row group, so every scan is a single task.

    Scale-adaptive by construction: at production scale a table scan has
    hundreds of splits, ``cur >= target`` holds, and this is a no-op —
    no extra exchange ever appears in big-data plans. Only when the
    input genuinely under-splits does it insert one hash repartition
    (on ``key_cols`` — pass a near-unique key; hash repartition avoids
    the local sort a round-robin ``repartition(n)`` pays for determinism
    under retries, SPARK-23207/38388).

    Checking the partition count converts the plan to an RDD (no job);
    callers apply this to base scans / tiny projections, where that is
    cheap.
    """
    sc = df.sparkSession.sparkContext
    target = int(n or sc.defaultParallelism)
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover — exotic plans: skip, never fail
        return df
    if cur >= target or not key_cols:
        return df if cur >= target else df.repartition(target)
    return df.repartition(target, *key_cols)
