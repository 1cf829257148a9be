"""Storage semantics: MergeTree-like layout + replay idempotency
(SURVEY.md §5 test #4: ingest [0,N], re-ingest a tail window, tables
unchanged through the dedup view — the SAFE_CATCH_UP_OFFSET scenario)."""

import glob

import pytest
from pyspark.sql import functions as F

from clickhouse_provider_spark import storage
from tests import fixture_chain as FC


@pytest.fixture(scope="module")
def blocks(spark):
    from clickhouse_provider_spark.schemas import BLOCK_SCHEMA

    return spark.read.schema(BLOCK_SCHEMA).json(
        spark.sparkContext.parallelize(FC.chain_jsonl(), 2)
    )


@pytest.fixture(scope="module")
def warehouse(tmp_path_factory, blocks):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    storage.ingest_batch(blocks, wh)
    return wh


ALL_TABLES = ["actions", "events", "data", "transactions", "account_txs", "block_txs", "receipt_txs", "blocks"]


def test_all_tables_written(spark, warehouse):
    for name in ALL_TABLES:
        assert storage.read_table(spark, warehouse, name).count() > 0, name


def test_partition_layout(warehouse):
    # height 100-104 with bucket 100k → single bucket dir per table
    dirs = glob.glob(f"{warehouse}/actions/height_bucket=*")
    assert [d.rsplit("=", 1)[1] for d in dirs] == ["0"]


def test_replay_idempotent(spark, blocks, warehouse):
    before = {
        name: storage.read_table(spark, warehouse, name).count() for name in ALL_TABLES
    }
    # re-ingest the last 3 blocks (catch-up replay window)
    tail = blocks.filter(F.col("block.header.height") >= 102)
    storage.ingest_batch(tail, warehouse)  # append duplicates
    for name in ALL_TABLES:
        raw = spark.read.parquet(f"{warehouse}/{name}").count()
        deduped = storage.read_table(spark, warehouse, name).count()
        assert deduped == before[name], f"{name}: dedup view changed by replay"
        if name in ("blocks", "data"):
            assert raw > before[name]  # duplicates really were appended


def test_dedup_view_content_stable(spark, blocks, warehouse):
    """Dedup is last-write-wins on the sort key: values, not just counts."""
    rows = storage.read_table(spark, warehouse, "blocks").orderBy("block_height").collect()
    assert [r["block_height"] for r in rows] == [100, 101, 102, 103, 104]
    assert rows[0]["block_hash"] == "Hash100"


def test_merge_collapses_duplicates(spark, blocks, warehouse):
    """OPTIMIZE-FINAL analog: after a replay appended duplicates, merge
    physically removes them; content through the view is unchanged and
    raw count == deduped count afterwards."""
    before_view = storage.read_table(spark, warehouse, "blocks").orderBy("block_height").collect()
    removed = storage.merge_table(spark, warehouse, "blocks")
    assert removed > 0  # test_replay_idempotent appended duplicates
    raw = spark.read.parquet(f"{warehouse}/blocks").count()
    view = storage.read_table(spark, warehouse, "blocks")
    assert raw == view.count() == len(before_view)
    assert view.orderBy("block_height").collect() == before_view


def test_upsert_partition_scoped(spark, blocks, tmp_path_factory, monkeypatch):
    """MERGE analog: updated rows replace same-key rows, only touched
    buckets rewritten, untouched buckets byte-identical."""
    from pyspark.sql import functions as F

    wh = str(tmp_path_factory.mktemp("upsert_wh"))
    base = storage.ingest_batch(blocks, wh, mode="overwrite")
    assert "blocks" in base
    # bucket the table finely so block 104 lives in its own partition
    raw = (
        spark.read.parquet(f"{wh}/blocks")
        .drop("height_bucket")
        .localCheckpoint(eager=True)  # materialize before deleting the source
    )
    import shutil

    shutil.rmtree(f"{wh}/blocks")
    monkeypatch.setattr(storage, "DEFAULT_BUCKET", 2)
    storage.write_table(raw, wh, "blocks", mode="overwrite")
    untouched_dir = f"{wh}/blocks/height_bucket=50"  # heights 100-101
    before_files = sorted(
        p.name for p in __import__("pathlib").Path(untouched_dir).glob("*.parquet")
    )
    # upsert: new version of block 104 + brand-new block 105
    updated = raw.filter(F.col("block_height") == 104).withColumn(
        "author_id", F.lit("replacement.near")
    )
    new = raw.filter(F.col("block_height") == 104).withColumn(
        "block_height", F.lit(105).cast("long")
    )
    storage.upsert_table(spark, wh, "blocks", updated.unionByName(new))
    view = storage.read_table(spark, wh, "blocks")
    assert view.count() == 6  # 100..105, no duplicate 104
    assert view.filter(F.col("block_height") == 104).first()["author_id"] == "replacement.near"
    after_files = sorted(
        p.name for p in __import__("pathlib").Path(untouched_dir).glob("*.parquet")
    )
    assert after_files == before_files  # untouched bucket not rewritten


def test_pruned_range_scan(spark, warehouse):
    """Height filter must reach the parquet scan (partition + row-group
    pruning at scale)."""
    df = storage.read_table(spark, warehouse, "actions").filter(
        (F.col("block_height") >= 101) & (F.col("block_height") <= 101)
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")  # noqa: SLF001
    assert "PushedFilters" in plan
    assert "block_height" in plan.split("PushedFilters")[1][:200]


def test_upsert_into_nonexistent_table(spark, blocks, tmp_path_factory, monkeypatch):
    """First-ever write through upsert_table: the table root doesn't exist
    yet — the bucket swap must create it instead of FileNotFoundError."""
    from clickhouse_provider_spark.operators.transactions import block_rows

    wh = str(tmp_path_factory.mktemp("upsert_fresh_wh"))
    rows = block_rows(blocks)
    monkeypatch.setattr(storage, "DEFAULT_BUCKET", 2)
    storage.upsert_table(spark, wh, "blocks", rows)
    got = storage.read_table(spark, wh, "blocks")
    assert got.count() == 5
    assert {r["block_height"] for r in got.select("block_height").collect()} == {100, 101, 102, 103, 104}


def _persistent_rdd_ids(spark, checkpointed: bool) -> set:
    """Persisted RDDs of the session: local checkpoints, or the rest."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()  # noqa: SLF001
    return {k for k in rdds.keys() if rdds[k].rdd().isCheckpointed() == checkpointed}


def test_ingest_batch_releases_its_caches(spark, blocks, tmp_path_factory):
    """The operators persist their shared intermediates for the table
    writes, and the receipt fixpoint checkpoints every round; a commit
    releases both before it returns, so repeated commits grow neither
    the session's cache nor its checkpointed blocks."""
    wh = str(tmp_path_factory.mktemp("cache_wh"))
    cached = _persistent_rdd_ids(spark, checkpointed=False)
    checkpoints = _persistent_rdd_ids(spark, checkpointed=True)
    for _ in range(2):
        storage.ingest_batch(blocks, wh)
        assert _persistent_rdd_ids(spark, checkpointed=False) - cached == set()
        assert _persistent_rdd_ids(spark, checkpointed=True) - checkpoints == set()


def test_repeated_commit_reuses_compiled_code(spark, blocks, tmp_path_factory):
    """The same commit run twice compiles its classes once: the codegen
    cache (session.CODEGEN_CACHE_ENTRIES) holds a commit's working set,
    where Spark's default of 100 entries evicted it within the commit.

    Whole-stage classes are named without their stage id for this test,
    which changes their source, so the first commit compiles them anew
    even when earlier tests in this JVM ran the same plans."""
    from clickhouse_provider_spark.session import codegen_stats

    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
    try:
        compiled = []
        for i in range(2):
            before, _ = codegen_stats(spark)
            storage.ingest_batch(blocks, str(tmp_path_factory.mktemp(f"codegen_wh{i}")))
            compiled.append(codegen_stats(spark)[0] - before)
    finally:
        spark.conf.unset("spark.sql.codegen.useIdInClassName")
    first, second = compiled
    assert first > 0
    assert second < first / 10, compiled


def test_empty_table_reads_empty(spark, blocks, tmp_path_factory):
    """A write of an empty frame leaves no parquet file; the table still
    reads, as 0 rows with the written columns and types."""
    from clickhouse_provider_spark.operators.transactions import block_rows

    wh = str(tmp_path_factory.mktemp("empty_wh"))
    empty = block_rows(blocks).limit(0)
    storage.write_table(empty, wh, "blocks")
    assert not glob.glob(f"{wh}/blocks/**/*.parquet", recursive=True)
    got = storage.read_table(spark, wh, "blocks")
    assert got.count() == 0
    assert got.dtypes == empty.dtypes


def test_serving_over_a_block_without_transactions(spark, blocks, tmp_path_factory):
    """Block 104 has no transactions or receipts: every table but blocks
    is written empty, and serving calls answer with no rows."""
    from clickhouse_provider_spark.plans import serving

    wh = str(tmp_path_factory.mktemp("cold_wh"))
    storage.ingest_batch(blocks.filter(F.col("block.header.height") == 104), wh)
    assert serving.tx_by_hash(spark, wh, "T1").count() == 0
    assert serving.events_by_name(spark, wh, "nft_mint").count() == 0
    assert storage.read_table(spark, wh, "blocks").count() == 1
