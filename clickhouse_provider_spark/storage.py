"""Table storage: the ClickHouse MergeTree layout re-expressed as
partitioned + sorted + bloom-filtered Parquet (reference DDL README.md:
117-331; SURVEY.md §2B #29-#34, §4).

Mapping of each storage-level mechanism:

- ``ORDER BY`` sort keys      → height-bucket partition dirs +
  sortWithinPartitions: range scans prune whole buckets (partition
  pruning) and row groups (parquet min/max on the sorted key)
- ``minmax`` skip index       → parquet column statistics (automatic)
- ``bloom_filter`` skip index → adaptive parquet bloom filters, sized to
  the data (`with_skip_indexes`, shared by every writer here and in
  maintenance.py): each column chunk keeps the smallest of 10 candidate
  filters (1 MB down by halves) whose capacity at fpp 0.01 covers the
  distinct values it saw, so small chunks carry KB filters, not 1 MB
- ``set(0)`` index            → dictionary encoding + stats (automatic on
  low-cardinality strings)
- ``ReplacingMergeTree``      → append-only writes + dedup-on-read view
  (`read_table`): last-write-wins on the sort key, exactly the reference's
  crash-replay idempotency (SAFE_CATCH_UP_OFFSET re-ingest collapses)
- LZ4 transport               → zstd parquet pages (session default)

A table's schema is kept once in a ``_schema.json`` sidecar, so a table
written only from empty frames (no parquet files) still reads, as empty.

The bucket width is a property of the warehouse, not of a call: every
writer and rewriter stamps ``height_bucket`` through
:func:`with_height_bucket`, which reads ``DEFAULT_BUCKET`` when it runs.
Every rewrite of existing buckets (:func:`merge_table`,
:func:`upsert_table`, and ``maintenance.compact_table`` /
``reorg_repair``) goes through one staged swap, :func:`_replace_buckets`.

At 100 TB: bucket size keeps per-partition data at file-count sanity;
writes of a height range touch only their buckets, and the dedup view's
window shuffles only within identical sort keys (replay overlap), never
the full table.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from glob import glob

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window as W

from clickhouse_provider_spark.schemas import BLOOM_COLUMNS, SORT_KEYS

DEFAULT_BUCKET = 100_000  # blocks per partition dir

# column whose bucket partitions the table (first sort-key height column)
PARTITION_HEIGHT = {
    "actions": "block_height",
    "events": "block_height",
    "data": "block_height",
    "transactions": "tx_block_height",
    "account_txs": "tx_block_height",
    "block_txs": "block_height",
    "receipt_txs": "tx_block_height",
    "blocks": "block_height",
}


#: per-table schema record; the underscore prefix keeps it out of
#: parquet partition discovery
SCHEMA_SIDECAR = "_schema.json"

#: candidate filters per bloom column in adaptive mode, 1 MB down by
#: halves: parquet's default of 5 stops at 64 KB, 10 reaches 2 KB
BLOOM_CANDIDATES = 10


def with_skip_indexes(
    writer: DataFrameWriter, table_or_cols: str | list[str] | None
) -> DataFrameWriter:
    """Put the ``bloom_filter`` skip indexes on ``writer``: a parquet bloom
    filter per column of ``schemas.BLOOM_COLUMNS[table]`` (or of an
    explicit column list), sized to each chunk's distinct values.

    Without a size hint parquet-mr allocates its 1 MB maximum for every
    bloom column of every file. Adaptive mode keeps ``BLOOM_CANDIDATES``
    filters while writing and stores the smallest whose capacity covers
    the chunk. It is a file-wide option: parquet-mr ignores it with a
    ``#col`` suffix."""
    cols = table_or_cols
    if isinstance(cols, str):
        cols = BLOOM_COLUMNS.get(cols, [])
    if not cols:
        return writer
    writer = writer.option("parquet.bloom.filter.adaptive.enabled", "true")
    for col in cols:
        writer = writer.option(f"parquet.bloom.filter.enabled#{col}", "true").option(
            f"parquet.bloom.filter.candidates.number#{col}", str(BLOOM_CANDIDATES)
        )
    return writer


def with_height_bucket(df: DataFrame, name: str) -> DataFrame:
    """``df`` with the ``height_bucket`` partition column of table
    ``name``: its partition height divided by ``DEFAULT_BUCKET``."""
    return df.withColumn(
        "height_bucket", (F.col(PARTITION_HEIGHT[name]) / DEFAULT_BUCKET).cast("long")
    )


def write_table(df: DataFrame, warehouse: str, name: str, mode: str = "append") -> str:
    """Append rows in MergeTree-like layout. Idempotency comes from the
    dedup-on-read view, not the write (matching the reference: re-inserts
    during catch-up are absorbed by ReplacingMergeTree merges)."""
    path = os.path.join(warehouse, name)
    writer = (
        with_height_bucket(df, name)
        .sortWithinPartitions(*SORT_KEYS[name])
        .write.mode(mode)
        .partitionBy("height_bucket")
    )
    with_skip_indexes(writer, name).parquet(path)
    _record_schema(df, path)
    return path


def _record_schema(df: DataFrame, path: str) -> None:
    """Keep ``df``'s schema next to the table, once per table: a write of
    an empty frame leaves no parquet file to infer it from. Written to a
    temp name and renamed, so concurrent writers never leave half a file."""
    sidecar = os.path.join(path, SCHEMA_SIDECAR)
    if os.path.exists(sidecar):
        return
    os.makedirs(path, exist_ok=True)
    tmp = f"{sidecar}.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        fh.write(df.schema.json())
    os.replace(tmp, sidecar)


def _scan(spark: SparkSession, path: str) -> DataFrame:
    """The table's raw parquet scan; an empty frame of the recorded
    schema when the table has no data files yet."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        sidecar = os.path.join(path, SCHEMA_SIDECAR)
        if exc.getCondition() != "UNABLE_TO_INFER_SCHEMA" or not os.path.exists(sidecar):
            raise
        with open(sidecar) as fh:
            schema = StructType.fromJson(json.load(fh))
        return spark.read.schema(schema).parquet(path)


def read_table(spark: SparkSession, warehouse: str, name: str) -> DataFrame:
    """Dedup-on-read view with ReplacingMergeTree semantics: one survivor
    per sort key (row_number over the key — at scale the window shuffles
    by sort-key hash; only genuinely duplicated keys carry >1 row). A
    table written only from empty frames reads as empty."""
    path = os.path.join(warehouse, name)
    df = _scan(spark, path).drop("height_bucket")
    key = SORT_KEYS[name]
    w = W.partitionBy(*key).orderBy(*key)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def live_buckets(path: str) -> dict[int, str]:
    """The table's ``height_bucket=N`` partition dirs, by bucket number."""
    return {
        int(d.rsplit("=", 1)[1]): d
        for d in glob(os.path.join(path, "height_bucket=*"))
        if os.path.isdir(d)
    }


def _replace_buckets(
    spark: SparkSession,
    warehouse: str,
    name: str,
    rows: DataFrame | None,
    buckets: list[int],
) -> None:
    """Replace the listed buckets of table ``name`` with ``rows``: the one
    staged swap behind every bucket rewrite.

    ``rows`` carries ``height_bucket`` and is already partitioned the way
    the caller wants its files. It is sorted by the table's sort key and
    written once to a ``_``-prefixed staging dir inside the table dir,
    which parquet partition discovery skips. Then each listed bucket is
    swapped in by two same-dir renames: the live bucket to ``_old_<b>_*``,
    the staged one to ``height_bucket=<b>``. A listed bucket with no
    staged rows (or ``rows`` None) is dropped. Backups are removed only
    after every bucket is in place, so a crash at any point leaves each
    bucket's original files either live or under ``_old_*`` — never
    deleted before their replacement is in place. Staged rows outside
    ``buckets`` raise before any live bucket is touched."""
    path = os.path.join(warehouse, name)
    tag = uuid.uuid4().hex[:8]
    staging = os.path.join(path, f"_staging_{tag}")
    if rows is not None:
        writer = (
            rows.sortWithinPartitions("height_bucket", *SORT_KEYS[name])
            .write.mode("overwrite")
            .partitionBy("height_bucket")
        )
        with_skip_indexes(writer, name).parquet(staging)
        _record_schema(rows.drop("height_bucket"), path)
    staged = live_buckets(staging)
    stray = sorted(set(staged) - set(buckets))
    if stray:
        shutil.rmtree(staging)
        raise ValueError(f"{name}: rows staged for unlisted buckets {stray}")
    old = []
    for b in buckets:
        live = os.path.join(path, f"height_bucket={b}")
        if os.path.isdir(live):
            old.append(os.path.join(path, f"_old_{b}_{tag}"))
            os.rename(live, old[-1])
        if b in staged:
            os.rename(staged[b], live)
    for d in old:
        shutil.rmtree(d)
    shutil.rmtree(staging, ignore_errors=True)


def merge_table(spark: SparkSession, warehouse: str, name: str) -> int:
    """The MergeTree background-merge analog (OPTIMIZE FINAL): physically
    collapse sort-key duplicates and re-sort/compact each height bucket,
    so dedup-on-read becomes a no-op and small replay files disappear.

    At scale this runs per height-bucket (only buckets touched by recent
    writes need merging — a metadata check on file counts/mtimes), exactly
    like MergeTree merging recent parts; here the testable core is the
    full rewrite. Returns the number of physically removed duplicate rows.

    Every bucket goes through :func:`_replace_buckets`, so readers never
    observe a half-written bucket and a crashed merge keeps every original
    file, live or under ``_old_*``.
    """
    path = os.path.join(warehouse, name)
    before = _scan(spark, path).count()
    merged = with_height_bucket(read_table(spark, warehouse, name), name)
    _replace_buckets(
        spark, warehouse, name, merged.repartition("height_bucket"), list(live_buckets(path))
    )
    return before - _scan(spark, path).count()


def upsert_table(spark: SparkSession, warehouse: str, name: str, new_rows: DataFrame) -> None:
    """Partition-scoped MERGE: last-write-wins upsert keyed on the sort
    key, rewriting ONLY the height buckets the incoming rows touch.

    This is the Delta-MERGE analog on plain parquet: at 100 TB an ingest
    batch touches a handful of recent buckets, so the rewrite cost is
    O(batch's bucket span), never the table. New rows win over stored rows
    on sort-key collisions (ReplacingMergeTree "latest version" rule). The
    touched buckets are swapped in by :func:`_replace_buckets`.
    """
    path = os.path.join(warehouse, name)
    stamped = with_height_bucket(new_rows, name).withColumn("__pref", F.lit(0))
    buckets = [r["height_bucket"] for r in stamped.select("height_bucket").distinct().collect()]
    if not buckets:
        return
    live = live_buckets(path)
    touched = [live[b] for b in buckets if b in live]
    merged = stamped
    if touched:
        old = spark.read.option("basePath", path).parquet(*touched)
        merged = stamped.unionByName(old.withColumn("__pref", F.lit(1)))
    w = W.partitionBy(*SORT_KEYS[name]).orderBy("__pref")  # new rows (pref 0) win
    winners = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__pref")
    )
    _replace_buckets(spark, warehouse, name, winners.repartition("height_bucket"), buckets)


def ingest_batch(blocks: DataFrame, warehouse: str, mode: str = "append") -> dict[str, str]:
    """Full batch ingest: both pipeline modes → all 8 tables (the
    reference runs them as two daemons over the same stream)."""
    from clickhouse_provider_spark.operators import release
    from clickhouse_provider_spark.operators.actions import extract_tables
    from clickhouse_provider_spark.operators.transactions import assemble

    paths = {}
    # the operators' cached intermediates and the fixpoint's checkpoints;
    # the persisted mapping's lineage ends at those checkpoints, so they
    # are released only after the last write
    track: list[DataFrame] = []
    act = extract_tables(blocks, track=track)
    txs = assemble(blocks, track=track)
    try:
        for name, df in {**act, **{k: v for k, v in txs.items() if k != "incomplete"}}.items():
            paths[name] = write_table(df, warehouse, name, mode=mode)
    finally:
        release(track)
    return paths
