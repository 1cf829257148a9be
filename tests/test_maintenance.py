"""Maintenance jobs: small-file compaction (bucket-scoped), reorg repair,
Z-order layout (multi-column file pruning), the ANALYZE-analog stats
sidecar, and the bucket swap every rewrite shares. Multi-bucket tables
narrow ``storage.DEFAULT_BUCKET`` with ``monkeypatch``."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from clickhouse_provider_spark import maintenance, storage
from tests import fixture_chain as FC


@pytest.fixture(scope="module")
def blocks(spark):
    from clickhouse_provider_spark.schemas import BLOCK_SCHEMA

    return spark.read.schema(BLOCK_SCHEMA).json(
        spark.sparkContext.parallelize(FC.chain_jsonl(), 2)
    )


@pytest.fixture(scope="module")
def fragmented(spark, blocks, tmp_path_factory):
    """Simulate streaming ingest: 5 separate appends → many small files."""
    wh = str(tmp_path_factory.mktemp("frag_wh"))
    from clickhouse_provider_spark.operators.actions import extract_tables

    events = extract_tables(blocks)["events"]
    for _ in range(5):
        storage.write_table(events, wh, "events", mode="append")
    return wh


def test_compaction_reduces_files_preserves_rows(spark, fragmented):
    before_rows = spark.read.parquet(f"{fragmented}/events").count()
    before = maintenance.bucket_file_stats(f"{fragmented}/events")
    assert any(s["files"] > 4 for s in before.values()), "fixture not fragmented"
    report = maintenance.compact_table(spark, fragmented, "events")
    assert report, "no bucket was compacted"
    for b, r in report.items():
        assert r["after"]["files"] < r["before"]["files"]
        assert r["after"]["files"] <= 4 or r["after"]["bytes"] > maintenance.TARGET_FILE_BYTES
    after_rows = spark.read.parquet(f"{fragmented}/events").count()
    assert after_rows == before_rows  # row-preserving (dedup is merge_table's job)


def test_compaction_skips_healthy_buckets(spark, fragmented):
    """A second run finds nothing above threshold — O(dirty buckets) cost."""
    report = maintenance.compact_table(spark, fragmented, "events")
    assert report == {}


def test_zorder_prunes_both_columns(spark, tmp_path):
    """The point of Z-order: a linear sort on x gives file-level pruning on
    x only; Z-order on (x, y) prunes on BOTH. Compare footer-stat overlap
    for a 5%-selective y predicate under each layout."""
    n = 200_000
    df = (
        spark.range(n)
        .select(
            (F.hash(F.col("id")) % 10_000).alias("x"),
            (F.hash(F.col("id") * 7 + 3) % 10_000).alias("y"),
        )
        .filter((F.col("x") >= 0) & (F.col("y") >= 0))
    )
    linear = str(tmp_path / "linear")
    zordered = str(tmp_path / "zordered")
    (
        df.repartitionByRange(16, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(linear)
    )
    maintenance.write_zordered(df, zordered, ["x", "y"], num_files=16)

    lo, hi = 4000, 4500  # ~5% of the y domain
    lin_hit, lin_total = maintenance.files_overlapping(linear, "y", lo, hi)
    z_hit, z_total = maintenance.files_overlapping(zordered, "y", lo, hi)
    assert lin_hit == lin_total, "x-sorted layout can't prune on y"
    assert z_hit < z_total / 2, f"z-order should prune most files: {z_hit}/{z_total}"
    # and the z-ordered layout still prunes on x too
    zx_hit, _ = maintenance.files_overlapping(zordered, "x", lo, hi)
    assert zx_hit < z_total


def test_zorder_preserves_rows(spark, tmp_path):
    df = spark.range(1000).select(
        F.col("id").alias("x"), (999 - F.col("id")).alias("y")
    )
    path = str(tmp_path / "z")
    maintenance.write_zordered(df, path, ["x", "y"], num_files=4)
    out = spark.read.parquet(path)
    assert out.count() == 1000
    assert out.agg(F.sum("x")).collect()[0][0] == sum(range(1000))


@pytest.fixture()
def multi_bucket_wh(spark, tmp_path_factory, monkeypatch):
    """A blocks table spanning 3 height buckets (10-block buckets) so the
    repair exercises drop-whole-bucket, rewrite-boundary, and untouched."""
    monkeypatch.setattr(storage, "DEFAULT_BUCKET", 10)
    wh = str(tmp_path_factory.mktemp("reorg_wh"))
    rows = [
        (h, f"Hash{h}", f"Hash{h-1}", 1_700_000_000_000_000_000 + h)
        for h in range(100, 130)
    ]
    df = spark.createDataFrame(
        rows, "block_height long, block_hash string, prev_block_hash string, block_timestamp long"
    )
    storage.write_table(df, wh, "blocks")
    return wh


def test_reorg_repair_partition_pruned_rollback(spark, multi_bucket_wh):
    wh = multi_bucket_wh
    path = f"{wh}/blocks"
    untouched = sorted(glob.glob(f"{path}/height_bucket=10/*.parquet"))
    inodes_before = [os.stat(f).st_ino for f in untouched]
    report = maintenance.reorg_repair(spark, wh, fork_height=115)
    r = report["blocks"]
    # heights 100-114 survive, 115-129 dropped
    left = spark.read.parquet(path)
    assert left.count() == 15
    assert left.agg(F.max("block_height")).collect()[0][0] == 114
    assert r["rows_dropped"] == 15
    assert r["buckets_dropped"] == 1  # bucket 12 (120-129) dropped whole
    assert r["buckets_rewritten"] == 1  # bucket 11 (110-119) filtered
    # bucket 10 (100-109) untouched: same files, same inodes (no rewrite)
    after = sorted(glob.glob(f"{path}/height_bucket=10/*.parquet"))
    assert [os.stat(f).st_ino for f in after] == inodes_before
    # resume watermark lands just below the fork → re-ingest starts at 115
    assert (
        storage.read_table(spark, wh, "blocks").agg(F.max("block_height")).collect()[0][0]
        == 114
    )


def test_reorg_repair_then_reingest_is_canonical(spark, multi_bucket_wh):
    """Orphaned rows that ReplacingMergeTree-style dedup could never expel
    (sort key unique to the dead fork) are gone after repair + re-ingest."""
    wh = multi_bucket_wh
    maintenance.reorg_repair(spark, wh, fork_height=115)
    # canonical chain rewrites 115+ with different hashes
    rows = [
        (h, f"Canon{h}", f"Canon{h-1}", 1_700_000_000_000_000_000 + h)
        for h in range(115, 130)
    ]
    storage.write_table(
        spark.createDataFrame(
            rows,
            "block_height long, block_hash string, prev_block_hash string, block_timestamp long",
        ),
        wh,
        "blocks",
    )
    view = storage.read_table(spark, wh, "blocks")
    assert view.count() == 30
    hashes = {r["block_hash"] for r in view.filter(F.col("block_height") >= 115).collect()}
    assert hashes == {f"Canon{h}" for h in range(115, 130)}  # no orphans


def test_reorg_repair_fork_on_bucket_edge_drops_whole_bucket(
    spark, multi_bucket_wh
):
    """fork_height exactly on a bucket boundary: the edge bucket holds no
    surviving rows, so it must be rename-dropped, not rewritten to an
    empty directory."""
    wh = multi_bucket_wh
    report = maintenance.reorg_repair(spark, wh, fork_height=120)
    r = report["blocks"]
    assert r["buckets_dropped"] == 1 and r["buckets_rewritten"] == 0
    assert r["rows_dropped"] == 10
    left = spark.read.parquet(f"{wh}/blocks")
    assert left.count() == 20
    assert left.agg(F.max("block_height")).collect()[0][0] == 119
    # no lingering empty partition dir
    assert not glob.glob(f"{wh}/blocks/height_bucket=12*")


def test_detect_fork_finds_lowest_violation_and_repair_clears_it(
    spark, tmp_path_factory, monkeypatch
):
    """Detection half of the reorg story: a consistent chain reports None;
    after a fork (blocks 115+ replaced by an orphan branch whose first
    block doesn't link to stored 114), detect_fork returns the fork
    height — across a bucket boundary too — and reorg_repair at that
    height restores consistency."""
    wh = str(tmp_path_factory.mktemp("fork_wh"))
    good = [
        (h, f"Hash{h}", f"Hash{h-1}", 1_700_000_000_000_000_000 + h)
        for h in range(100, 115)
    ]
    orphan = [
        (h, f"Orph{h}", f"Orph{h-1}" if h > 115 else "HashDEAD", 0)
        for h in range(115, 125)
    ]
    schema = "block_height long, block_hash string, prev_block_hash string, block_timestamp long"
    monkeypatch.setattr(storage, "DEFAULT_BUCKET", 10)
    storage.write_table(spark.createDataFrame(good + orphan, schema), wh, "blocks")
    assert maintenance.detect_fork(spark, wh, bucket=10) == 115
    maintenance.reorg_repair(spark, wh, fork_height=115)
    assert maintenance.detect_fork(spark, wh, bucket=10) is None
    # boundary case: violation exactly at a bucket edge (120) is seen by
    # the boundary lag, not the within-bucket one
    wh2 = str(tmp_path_factory.mktemp("fork_wh2"))
    rows = [
        (h, f"Hash{h}", f"Hash{h-1}" if h != 120 else "HashDEAD", 0)
        for h in range(100, 130)
    ]
    storage.write_table(spark.createDataFrame(rows, schema), wh2, "blocks")
    assert maintenance.detect_fork(spark, wh2, bucket=10) == 120
    # the same break through the pure within-bucket path (one bucket)
    assert maintenance.detect_fork(spark, wh2) == 120
    # a missing height at a bucket edge: 120 absent, so bucket 12 opens
    # at 121, whose prev_hash names a block the table does not hold
    wh3 = str(tmp_path_factory.mktemp("fork_wh3"))
    gap = [(h, f"Hash{h}", f"Hash{h-1}", 0) for h in range(100, 130) if h != 120]
    storage.write_table(spark.createDataFrame(gap, schema), wh3, "blocks")
    assert maintenance.detect_fork(spark, wh3, bucket=10) == 121


def test_analyze_stats_sidecar(spark, fragmented):
    stats = maintenance.analyze_table(spark, fragmented, "events")
    path = f"{fragmented}/events/_stats.json"
    assert os.path.exists(path)
    assert stats["rows"] == spark.read.parquet(f"{fragmented}/events").count()
    bh = stats["columns"]["block_height"]
    assert int(bh["min"]) <= int(bh["max"])
    assert bh["nulls"] == 0
    assert bh["approx_ndv"] >= 1


def test_files_overlapping_string_stats(spark, tmp_path):
    """String-column footer stats surface as bytes from pyarrow; the helper
    must decode before comparing against str bounds (no TypeError)."""
    p = str(tmp_path / "strtab")
    spark.createDataFrame(
        [("apple",), ("banana",), ("cherry",)], "name string"
    ).coalesce(1).write.parquet(p)
    hit, total = maintenance.files_overlapping(p, "name", "b", "bz")
    assert (hit, total) == (1, 1)
    hit, total = maintenance.files_overlapping(p, "name", "x", "z")
    assert (hit, total) == (0, 1)


def _blocks_frame(spark, heights, tag="Hash"):
    return spark.createDataFrame(
        [(h, f"{tag}{h}", f"{tag}{h-1}", 1_700_000_000_000_000_000 + h) for h in heights],
        "block_height long, block_hash string, prev_block_hash string, block_timestamp long",
    )


#: every bucket rewrite, over the 100-129 blocks table below
REWRITES = {
    "merge": lambda spark, wh: storage.merge_table(spark, wh, "blocks"),
    "upsert": lambda spark, wh: storage.upsert_table(
        spark, wh, "blocks", _blocks_frame(spark, range(110, 115), tag="New")
    ),
    "compact": lambda spark, wh: maintenance.compact_table(spark, wh, "blocks"),
    "reorg": lambda spark, wh: maintenance.reorg_repair(spark, wh, fork_height=115),
}


@pytest.mark.parametrize("rewrite", sorted(REWRITES))
def test_failed_swap_keeps_every_original_file(spark, tmp_path, monkeypatch, rewrite):
    """A failure while a staged bucket is renamed into place raises and
    loses no stored row: the table dir stays, and every original parquet
    file is still in its live bucket or in an ``_old_*`` backup."""
    monkeypatch.setattr(storage, "DEFAULT_BUCKET", 10)
    wh = str(tmp_path)
    table = os.path.join(wh, "blocks")
    # five appends: duplicates for merge, more than four files per bucket
    # for compact
    for _ in range(5):
        storage.write_table(_blocks_frame(spark, range(100, 130)), wh, "blocks")
    originals = {os.path.basename(f) for f in glob.glob(f"{table}/height_bucket=*/*.parquet")}
    assert originals

    rename = os.rename

    def fail_into_live(src, dst):
        if os.path.basename(dst).startswith("height_bucket=") or dst == table:
            raise OSError(f"injected: {src} -> {dst}")
        return rename(src, dst)

    monkeypatch.setattr(os, "rename", fail_into_live)
    with pytest.raises(OSError, match="injected"):
        REWRITES[rewrite](spark, wh)
    monkeypatch.setattr(os, "rename", rename)
    assert os.path.isdir(table)
    kept = {
        os.path.basename(f)
        for pattern in ("height_bucket=*", "_old_*")
        for f in glob.glob(f"{table}/{pattern}/*.parquet")
    }
    assert originals <= kept, sorted(originals - kept)
