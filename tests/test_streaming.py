"""End-to-end Structured Streaming tests: the fixture chain dropped as one
file per block, consumed with maxFilesPerTrigger=1 (so cross-batch state is
genuinely exercised: T1 spans 4 micro-batches)."""

import json

import pytest
from pyspark.sql import functions as F

from clickhouse_provider_spark import storage
from clickhouse_provider_spark.streaming import (
    run_actions_stream,
    run_transactions_stream,
)
from tests import fixture_chain as FC


@pytest.fixture(scope="module")
def src_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("blockdrops")
    for b in FC.make_chain():
        h = b["block"]["header"]["height"]
        (d / f"block-{h:012d}.json").write_text(json.dumps(b))
    return str(d)


def test_actions_stream(spark, src_dir, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh_act"))
    ckpt = str(tmp_path_factory.mktemp("ckpt_act"))
    q = run_actions_stream(spark, src_dir, wh, ckpt, max_files_per_trigger=1)
    q.awaitTermination(120)
    acts = storage.read_table(spark, wh, "actions")
    assert acts.count() == 11  # 3(R1) + 5(R4) + 1 each (R2, R3, R5)
    idx = {r["receipt_id"]: r["receipt_index"] for r in acts.select("receipt_id", "receipt_index").distinct().collect()}
    # per-shard order: outcomes first, then chunk data receipts
    assert idx == {"R1": 0, "R4": 2, "R2": 0, "R3": 0, "R5": 1}
    assert storage.read_table(spark, wh, "data").count() == 4
    assert storage.read_table(spark, wh, "events").count() == 3


def test_transactions_stream_cross_batch(spark, src_dir, tmp_path_factory):
    """One block per micro-batch. The file source happens to deliver these
    fixtures OUT of height order (identical mtimes) — which the state model
    must tolerate: unmapped outcomes wait in state until their seed block
    arrives (stronger than the reference's ordered-stream panic)."""
    wh = str(tmp_path_factory.mktemp("wh_tx"))
    ckpt = str(tmp_path_factory.mktemp("ckpt_tx"))
    q = run_transactions_stream(spark, src_dir, wh, ckpt, max_files_per_trigger=1)
    q.awaitTermination(240)
    txs = {r["transaction_hash"]: r for r in storage.read_table(spark, wh, "transactions").collect()}
    assert set(txs) == {"T1", "T2", "T3"}
    assert txs["T1"]["last_block_height"] == 103  # completed 3 batches after submission
    blob = json.loads(txs["T1"]["transaction"])
    assert [r["receipt"]["receipt_id"] for r in blob["receipts"]] == ["R1", "R2", "R3"]
    assert [d["receipt_id"] for d in blob["data_receipts"]] == ["DR1"]
    bt = storage.read_table(spark, wh, "block_txs")
    assert bt.filter(F.col("transaction_hash") == "T1").count() == 4
    rt = {r["receipt_id"]: r["transaction_hash"] for r in storage.read_table(spark, wh, "receipt_txs").collect()}
    assert rt["DR2a"] == "T3" and "DR2b" not in rt
    assert storage.read_table(spark, wh, "blocks").count() == 5
