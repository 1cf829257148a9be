"""Table maintenance jobs: small-file compaction, Z-order layout, and
column statistics — the background half of a MergeTree-like store
(reference: ClickHouse delegates these to background merges + the
``ORDER BY`` clause + ``optimize_skip_unused_shards``-style stats; here
they are explicit Spark jobs a scheduler runs off the ingest path).

Why each exists at 100 TB:

- **Compaction**: streaming ingest (micro-batch appends) leaves thousands
  of small files per partition; scan cost becomes file-open-bound, not
  byte-bound. Compaction rewrites ONLY buckets whose file count exceeds a
  threshold — O(recent buckets), never the table.
- **Reorg repair**: rolls every table back below a fork height, dropping
  the buckets above it unread and filtering the one boundary bucket.
- **Z-order**: a sort on ``(height, ...)`` gives tight parquet min/max
  stats on height only; queries filtering a *secondary* column (account,
  timestamp) still touch every file. Interleaving the bits of both
  columns' rank cells (Morton order) makes every output file a small
  hyper-rectangle in the key space, so min/max pruning works on ALL
  z-ordered columns at once.
- **Stats (ANALYZE analog)**: Catalyst's CBO joins/reorders by size and
  distinct-count estimates; a sidecar of per-column stats (and
  ``ANALYZE TABLE`` when the table is catalog-registered) feeds it and
  doubles as the pruning manifest for external planners.

Compaction and reorg repair only choose rows; the bucket rewrite itself is
``storage._replace_buckets``, the one staged swap shared with
``storage.merge_table`` and ``storage.upsert_table``, and the bucket width
is the warehouse's ``storage.DEFAULT_BUCKET``.
"""

from __future__ import annotations

import json
import math
import os
from glob import glob

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_provider_spark import storage
from clickhouse_provider_spark.operators import transactions as TX

MAX_FILES_PER_BUCKET = 4  # compaction threshold
TARGET_FILE_BYTES = 128 * 1024 * 1024  # cluster-friendly scan unit


# ---------------------------------------------------------------------------
# compaction
# ---------------------------------------------------------------------------


def bucket_file_stats(path: str) -> dict[str, dict]:
    """File count + bytes per ``height_bucket=*`` partition dir."""
    out = {}
    for bdir in sorted(glob(os.path.join(path, "height_bucket=*"))):
        parts = [
            f
            for f in glob(os.path.join(bdir, "*"))
            if not os.path.basename(f).startswith(("_", "."))
        ]
        out[os.path.basename(bdir)] = {
            "files": len(parts),
            "bytes": sum(os.path.getsize(f) for f in parts),
        }
    return out


def compact_table(spark: SparkSession, warehouse: str, name: str) -> dict[str, dict]:
    """Rewrite only the height buckets with more than
    ``MAX_FILES_PER_BUCKET`` part files, each into
    ``ceil(bytes / TARGET_FILE_BYTES)`` sorted files.

    Row-preserving (dedup is :func:`storage.merge_table`'s job). Each
    crowded bucket is swapped in by ``storage._replace_buckets``, so a
    crash at any point leaves the bucket's original files live or under
    ``_old_*``. Returns per-bucket before/after stats.
    """
    path = os.path.join(warehouse, name)
    report = {}
    for bucket, s in bucket_file_stats(path).items():
        if s["files"] <= MAX_FILES_PER_BUCKET:
            continue
        n_out = max(1, math.ceil(s["bytes"] / TARGET_FILE_BYTES))
        rows = spark.read.option("basePath", path).parquet(os.path.join(path, bucket))
        b = int(bucket.rsplit("=", 1)[1])
        storage._replace_buckets(spark, warehouse, name, rows.repartition(n_out), [b])
        report[bucket] = {"before": s, "after": bucket_file_stats(path)[bucket]}
    return report


# ---------------------------------------------------------------------------
# chain-reorg repair
# ---------------------------------------------------------------------------


def reorg_repair(
    spark: SparkSession,
    warehouse: str,
    fork_height: int,
    tables: list[str] | None = None,
) -> dict[str, dict]:
    """Roll every table back to the state strictly below ``fork_height``.

    The reference's answer to a chain reorganization is the continuity
    assert + operator intervention (prev_hash mismatch panics,
    main.rs:161-170, transactions.rs:185-191); re-ingest then relies on
    ReplacingMergeTree to absorb the overlap — but rows from orphaned
    blocks (same sort key never re-written, e.g. a receipt that only
    existed on the dead fork) would survive forever. This job is the
    explicit repair: delete everything at/above the fork so re-ingest
    from ``fork_height`` reconstructs exactly the canonical chain, and
    the resume watermark (max(block_height), SURVEY §2A #3) lands at
    ``fork_height - 1`` automatically.

    100 TB shape: height-bucket partitioning makes this O(affected
    buckets), never a table scan —

    - buckets fully above the fork are dropped unread (dropped-row counts
      come from parquet footers),
    - the single boundary bucket is filtered and swapped in; a fork on a
      bucket edge leaves no boundary bucket, and a boundary bucket with
      no surviving rows is dropped — both through the one staged swap,
      ``storage._replace_buckets``,
    - buckets below the fork are untouched (their files keep their
      inodes — asserted in tests/test_maintenance.py).

    Returns per-table ``{"rows_dropped", "buckets_dropped",
    "buckets_rewritten"}``.
    """
    fork_bucket = fork_height // storage.DEFAULT_BUCKET
    report = {}
    for name in tables or list(storage.PARTITION_HEIGHT):
        path = os.path.join(warehouse, name)
        if not os.path.isdir(path):
            continue
        live = storage.live_buckets(path)
        doomed = sorted(b for b in live if b >= fork_bucket)
        before = sum(_footer_rows(live[b]) for b in doomed)
        kept = None
        if fork_height % storage.DEFAULT_BUCKET and fork_bucket in live:
            kept = (
                spark.read.option("basePath", path)
                .parquet(live[fork_bucket])
                .filter(F.col(storage.PARTITION_HEIGHT[name]) < fork_height)
            )
        storage._replace_buckets(spark, warehouse, name, kept, doomed)
        rewritten = [b for b in doomed if os.path.isdir(live[b])]
        report[name] = {
            "rows_dropped": before - sum(_footer_rows(live[b]) for b in rewritten),
            "buckets_dropped": len(doomed) - len(rewritten),
            "buckets_rewritten": len(rewritten),
        }
    return report


def detect_fork(
    spark: SparkSession, warehouse: str, bucket: int = TX.CONTINUITY_BUCKET
) -> int | None:
    """Lowest block height whose ``prev_block_hash`` does not match the
    stored previous block's hash — the fork point to hand to
    :func:`reorg_repair` (detection half of the reference's continuity
    assert, transactions.rs:185-191, turned from a panic into a queryable
    fact). Returns None when the stored chain is consistent.

    The minimum of ``operators.transactions.link_violations`` over the
    stored blocks table: its bucketed two-phase check runs against the
    full table at any scale, and a missing height surfaces too."""
    links = storage.read_table(spark, warehouse, "blocks").select(
        "block_height", "block_hash", F.col("prev_block_hash").alias("prev_hash")
    )
    return (
        TX.link_violations(links, bucket)
        .agg(F.min("block_height"))
        .collect()[0][0]
    )


def _footer_rows(bucket_dir: str) -> int:
    """Row count from parquet footers — no data pages read."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob(os.path.join(bucket_dir, "*.parquet"))
    )


# ---------------------------------------------------------------------------
# Z-order layout
# ---------------------------------------------------------------------------


def zorder_key(
    cols: list[str],
    bounds: dict[str, tuple[float, float]],
    bits: int = 8,
) -> F.Column:
    """Morton (Z-curve) key over numeric columns, pure JVM expressions.

    Each column is quantised into ``2**bits`` cells between its bounds
    (``width_bucket``), then the cell bits are interleaved:
    bit *i* of column *j* lands at position ``i * k + j``. Sorting by the
    result clusters rows that are close in EVERY dimension, so parquet
    min/max stats stay tight on all of them simultaneously.

    NULLs map to cell 0 (they sort first, same as ClickHouse's
    ``ORDER BY`` NULLS FIRST default).
    """
    n = 1 << bits
    cells = []
    for c in cols:
        lo, hi = bounds[c]
        if not hi > lo:  # constant column: single cell
            cells.append(F.lit(0).cast("long"))
            continue
        cell = (
            F.width_bucket(
                F.col(c).cast("double"), F.lit(float(lo)), F.lit(float(hi)), F.lit(n)
            )
            - 1
        )
        cells.append(
            F.coalesce(
                F.least(F.lit(n - 1), F.greatest(F.lit(0), cell)).cast("long"),
                F.lit(0).cast("long"),
            )
        )
    k = len(cells)
    z = F.lit(0).cast("long")
    for bit in range(bits):
        for j, cell in enumerate(cells):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(cell, bit).bitwiseAND(F.lit(1)), bit * k + j)
            )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int,
    bloom_cols: list[str] | None = None,
) -> dict[str, tuple[float, float]]:
    """Write ``df`` as ``num_files`` files range-partitioned and sorted by
    the Z-order key of ``cols``.

    Bounds come from one min/max aggregate over the input (a single
    column-pruned pass; at scale, read them from the stats sidecar
    instead). Returns the bounds used, for reuse by query-side pruning.
    """
    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c).cast("double")).alias(f"__min_{c}"),
                 F.max(F.col(c).cast("double")).alias(f"__max_{c}")]
    row = df.agg(*aggs).collect()[0]
    bounds = {c: (row[f"__min_{c}"], row[f"__max_{c}"]) for c in cols}
    z = zorder_key(cols, bounds)
    writer = (
        df.withColumn("__z", z)
        # rangeExchange on __z: each output file owns a contiguous Z range
        # == a small hyper-rectangle of the key space
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
    )
    storage.with_skip_indexes(writer, bloom_cols).parquet(path)
    return bounds


def files_overlapping(path: str, col: str, lo, hi) -> tuple[int, int]:
    """(files whose [min,max] for ``col`` overlaps [lo,hi], total files) —
    read from parquet footers, i.e. exactly the stats a scan planner uses
    for file-level pruning."""
    import pyarrow.parquet as pq

    total = hit = 0
    files = sorted(
        set(glob(os.path.join(path, "*.parquet")) + glob(os.path.join(path, "part-*")))
    )  # a part-*.parquet file matches both globs — don't double-count it
    for f in files:
        if os.path.basename(f).startswith(("_", ".")):
            continue
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        if col not in idx:
            continue
        total += 1

        def _decode(v):
            # pyarrow surfaces string/binary column stats as bytes; decode
            # so comparisons against str lo/hi don't raise TypeError
            return v.decode("utf-8", "surrogateescape") if isinstance(v, bytes) else v

        fmin, fmax = None, None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[col]).statistics
            if st is None or not st.has_min_max:
                fmin, fmax = None, None
                break
            smin, smax = _decode(st.min), _decode(st.max)
            fmin = smin if fmin is None else min(fmin, smin)
            fmax = smax if fmax is None else max(fmax, smax)
        if fmin is None or (fmax >= lo and fmin <= hi):
            hit += 1  # unknown stats ⇒ cannot prune ⇒ counts as touched
    return hit, total


# ---------------------------------------------------------------------------
# stats / ANALYZE analog
# ---------------------------------------------------------------------------


def analyze_table(spark: SparkSession, warehouse: str, name: str) -> dict:
    """Compute table + per-column stats and persist them as a
    ``_stats.json`` sidecar next to the data (the parquet-dir analog of
    ``ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS``).

    One pass: count / min / max / null-count / approx NDV per column.
    Catalyst's CBO reads catalog stats, not sidecars — for tables
    registered via ``saveAsTable`` run ``ANALYZE TABLE`` directly; this
    sidecar serves path-based tables and external planners (and the
    maintenance jobs above, which use it to skip untouched buckets).
    """
    path = os.path.join(warehouse, name)
    df = spark.read.parquet(path)
    cols = [
        f.name
        for f in df.schema.fields
        if f.name != "height_bucket"
        and f.dataType.typeName() in {
            "long", "integer", "double", "float", "string", "timestamp", "date",
        }
    ]
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        aggs += [
            F.min(c).alias(f"min__{c}"),
            F.max(c).alias(f"max__{c}"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"nulls__{c}"),
            F.approx_count_distinct(c).alias(f"ndv__{c}"),
        ]
    row = df.agg(*aggs).collect()[0].asDict()
    stats = {
        "table": name,
        "rows": row["__rows"],
        "columns": {
            c: {
                "min": str(row[f"min__{c}"]),
                "max": str(row[f"max__{c}"]),
                "nulls": row[f"nulls__{c}"],
                "approx_ndv": row[f"ndv__{c}"],
            }
            for c in cols
        },
    }
    with open(os.path.join(path, "_stats.json"), "w") as fh:
        json.dump(stats, fh, indent=1)
    return stats
