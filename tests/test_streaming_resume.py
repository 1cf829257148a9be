"""Resume semantics: a transactions stream stopped after a prefix of the
chain must, when restarted with the same checkpoint + state dir on the
grown directory, produce exactly the full-chain result (the reference's
restart path: max(block_height) resume + TxCache rebuild via catch-up
replay — ours is checkpoint offsets + persisted state versions)."""

import json

import pytest
from pyspark.sql import functions as F

from clickhouse_provider_spark import storage
from clickhouse_provider_spark.streaming import run_transactions_stream
from tests import fixture_chain as FC


def test_stop_and_resume(spark, tmp_path_factory):
    src = tmp_path_factory.mktemp("resume_drops")
    wh = str(tmp_path_factory.mktemp("resume_wh"))
    ckpt = str(tmp_path_factory.mktemp("resume_ckpt"))
    chain = FC.make_chain()

    # phase 1: only blocks 100-102 exist → T2 completes, T1/T3 pending
    for b in chain[:3]:
        h = b["block"]["header"]["height"]
        (src / f"block-{h:012d}.json").write_text(json.dumps(b))
    q = run_transactions_stream(spark, str(src), wh, ckpt, max_files_per_trigger=1)
    q.awaitTermination(180)
    assert {r["transaction_hash"] for r in storage.read_table(spark, wh, "transactions").collect()} == {"T2"}

    # phase 2: the chain grows; restart with the SAME checkpoint + state
    for b in chain[3:]:
        h = b["block"]["header"]["height"]
        (src / f"block-{h:012d}.json").write_text(json.dumps(b))
    q2 = run_transactions_stream(spark, str(src), wh, ckpt, max_files_per_trigger=1)
    q2.awaitTermination(180)

    txs = {r["transaction_hash"]: r for r in storage.read_table(spark, wh, "transactions").collect()}
    assert set(txs) == {"T1", "T2", "T3"}
    assert txs["T1"]["last_block_height"] == 103
    blob = json.loads(txs["T1"]["transaction"])
    assert [r["receipt"]["receipt_id"] for r in blob["receipts"]] == ["R1", "R2", "R3"]
    # block_txs complete across the restart boundary
    bt = storage.read_table(spark, wh, "block_txs")
    assert bt.filter(F.col("transaction_hash") == "T1").count() == 4
    assert storage.read_table(spark, wh, "blocks").count() == 5


def test_crash_replay_microbatch(spark, tmp_path_factory):
    """Crash-replay of a router micro-batch: after a failed attempt has
    already published state v=N, the replay of batch N must read state
    from v<N (never its own prior output — that self-overwrite wedged the
    stream), clean up a leftover staging dir, and keep two versions. The
    replayed unit appends must not emit any transaction twice."""
    import os

    from clickhouse_provider_spark.schemas import BLOCK_SCHEMA
    from clickhouse_provider_spark.streaming.keyed_assembly import (
        KeyedRouter,
        run_keyed_assembler,
    )

    wh = str(tmp_path_factory.mktemp("replay_wh"))
    units = os.path.join(wh, "_tx_units")
    os.makedirs(units)
    state = str(tmp_path_factory.mktemp("replay_state"))
    chain = FC.make_chain()

    def bdf(bs):
        return spark.read.schema(BLOCK_SCHEMA).json(
            spark.sparkContext.parallelize([json.dumps(b) for b in bs], 1)
        )

    router = KeyedRouter(spark, wh, units, state)
    router.process_batch(bdf(chain[:3]), 0)
    router.process_batch(bdf(chain[3:]), 1)
    # leftover staging dir from a hypothetical crash mid-publish
    os.makedirs(os.path.join(state, "_staging_v=1", "routing"), exist_ok=True)
    # crash-replay: v=1 exists from the "failed" attempt; replay batch 1
    router.process_batch(bdf(chain[3:]), 1)

    q = run_keyed_assembler(
        spark, wh, checkpoint=str(tmp_path_factory.mktemp("replay_asm"))
    )
    q.awaitTermination(240)
    txs = {r["transaction_hash"]: r for r in storage.read_table(spark, wh, "transactions").collect()}
    assert set(txs) == {"T1", "T2", "T3"}
    assert txs["T1"]["last_block_height"] == 103
    blob = json.loads(txs["T1"]["transaction"])
    assert [r["receipt"]["receipt_id"] for r in blob["receipts"]] == ["R1", "R2", "R3"]
    # each transaction emitted once: the assembler dropped the replayed
    # units by their dedup keys (raw files, not the dedup-on-read view)
    raw = spark.read.parquet(os.path.join(wh, "transactions"))
    assert sorted(r["transaction_hash"] for r in raw.collect()) == ["T1", "T2", "T3"]
    # published versions are complete (all four parts present), pruned to 2
    versions = sorted(d for d in os.listdir(state) if d.startswith("v="))
    assert versions == ["v=0", "v=1"]
    for v in versions:
        assert sorted(os.listdir(os.path.join(state, v))) == [
            "consume_wait", "data_wait", "outcome_wait", "routing",
        ]
    assert not [d for d in os.listdir(state) if d.startswith("_staging")]
