"""The ``bloom_filter`` skip indexes as written: every table writer puts a
data-sized parquet bloom filter on each ``BLOOM_COLUMNS`` column chunk.

Footers are read with parquet-mr itself (``ParquetFileReader.
readBloomFilter``), the reader Spark's scan uses to prune row groups."""

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from clickhouse_provider_spark import maintenance, storage
from clickhouse_provider_spark.schemas import BLOOM_COLUMNS
from tests import fixture_chain as FC

#: parquet-mr's filter size when none is derived from the data
DEFAULT_FILTER_BYTES = 1 << 20


@pytest.fixture(scope="module")
def blocks(spark):
    from clickhouse_provider_spark.schemas import BLOCK_SCHEMA

    return spark.read.schema(BLOCK_SCHEMA).json(
        spark.sparkContext.parallelize(FC.chain_jsonl(), 2)
    )


@pytest.fixture(scope="module")
def outputs(spark, blocks, tmp_path_factory):
    """The (table dir, table) pairs each table writer wrote."""
    root = tmp_path_factory.mktemp("skip_idx")
    ingested = str(root / "ingest")
    storage.ingest_batch(blocks, ingested)
    out = {"ingest_batch": [(os.path.join(ingested, t), t) for t in BLOOM_COLUMNS]}

    merged = str(root / "merge")
    storage.ingest_batch(blocks, merged)
    storage.ingest_batch(blocks.filter(F.col("block.header.height") >= 102), merged)
    storage.merge_table(spark, merged, "actions")
    out["merge_table"] = [(os.path.join(merged, "actions"), "actions")]

    actions = storage.read_table(spark, ingested, "actions")
    storage.upsert_table(spark, str(root / "upsert"), "actions", actions)
    out["upsert_table"] = [(str(root / "upsert" / "actions"), "actions")]

    events = storage.read_table(spark, ingested, "events")
    for _ in range(5):
        storage.write_table(events, str(root / "compact"), "events")
    assert maintenance.compact_table(spark, str(root / "compact"), "events")
    out["compact_table"] = [(str(root / "compact" / "events"), "events")]

    reorged = str(root / "reorg")
    storage.ingest_batch(blocks, reorged)
    report = maintenance.reorg_repair(spark, reorged, fork_height=103, tables=["actions"])
    assert report["actions"]["buckets_rewritten"] == 1
    out["reorg_repair"] = [(os.path.join(reorged, "actions"), "actions")]

    zordered = str(root / "zorder")
    maintenance.write_zordered(
        actions, zordered, ["block_height", "receipt_index"], num_files=2,
        bloom_cols=BLOOM_COLUMNS["actions"],
    )
    out["write_zordered"] = [(zordered, "actions")]
    return out


def _bloom_chunks(spark, table_dir: str, cols: list[str]):
    """(where, chunk values, bloom filter or None, fully dictionary-encoded)
    for every ``cols`` column chunk of the table's data files."""
    jvm = spark._jvm  # noqa: SLF001
    conf = spark._jsc.hadoopConfiguration()  # noqa: SLF001
    files = sorted(glob.glob(f"{table_dir}/**/*.parquet", recursive=True))
    assert files, table_dir
    for f in files:
        data = pq.ParquetFile(f)
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                jvm.org.apache.hadoop.fs.Path(f), conf
            )
        )
        try:
            for rg, block in enumerate(reader.getRowGroups()):
                for chunk in block.getColumns():
                    col = chunk.getPath().toDotString()
                    if col not in cols:
                        continue
                    values = data.read_row_group(rg, columns=[col]).column(0).to_pylist()
                    stats = chunk.getEncodingStats()
                    fully_dict = (
                        stats is not None
                        and stats.hasDictionaryEncodedPages()
                        and not stats.hasNonDictionaryEncodedPages()
                    )
                    yield f"{f}[{rg}].{col}", values, reader.readBloomFilter(chunk), fully_dict
        finally:
            reader.close()


@pytest.mark.parametrize(
    "writer",
    ["ingest_batch", "merge_table", "upsert_table", "compact_table", "reorg_repair",
     "write_zordered"],
)
def test_bloom_filters_present_sound_and_sized(spark, outputs, writer):
    binary = spark._jvm.org.apache.parquet.io.api.Binary  # noqa: SLF001
    filters = 0
    for table_dir, table in outputs[writer]:
        for where, values, bf, fully_dict in _bloom_chunks(spark, table_dir, BLOOM_COLUMNS[table]):
            # parquet-mr writes no filter for a fully dictionary-encoded
            # chunk: the dictionary already answers membership
            if bf is None:
                assert fully_dict, f"{where}: no bloom filter"
                continue
            filters += 1
            assert bf.getBitsetSize() < DEFAULT_FILTER_BYTES, f"{where}: not sized to the data"
            for v in {v for v in values if v is not None}:
                assert bf.findHash(bf.hash(binary.fromString(v))), f"{where}: false negative {v!r}"
    # fixture-sized chunks are often fully dictionary-encoded; the check
    # is void unless some chunk carries a filter
    assert filters, f"{writer}: no chunk carries a bloom filter"
