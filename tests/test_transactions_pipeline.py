"""Tests for the batch tx-assembly fixpoint on the fixture chain.

Ground truth (tests/fixture_chain.py):
- T1: submitted 100, receipts R1(101)→R2(102, consumes D1)→R3(103) ⇒
  complete at 103, spans blocks {100,101,102,103}
- T2: submitted 101, R4 executes 101 (consumes D0) ⇒ complete at 101
- T3: submitted 102, R5 executes 103 (consumes D2) ⇒ complete at 103
"""

import json

import pytest
from pyspark.sql import functions as F

from clickhouse_provider_spark.operators import transactions as TX
from tests import fixture_chain as FC


@pytest.fixture(scope="module")
def blocks(spark):
    from clickhouse_provider_spark.schemas import BLOCK_SCHEMA

    df = spark.read.schema(BLOCK_SCHEMA).json(
        spark.sparkContext.parallelize(FC.chain_jsonl(), 2)
    )
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def out(blocks):
    t = TX.assemble(blocks)
    return {k: v.cache() for k, v in t.items()}


def test_receipt_to_tx_closure(blocks):
    m = TX.receipt_to_tx(TX.tx_seeds(blocks), TX.outcome_units(blocks))
    got = {(r["receipt_id"], r["tx_hash"]) for r in m.collect()}
    assert got == {
        ("R1", "T1"),
        ("R2", "T1"),
        ("R3", "T1"),
        ("R4", "T2"),
        ("R5", "T3"),
    }


def test_all_txs_complete(out):
    assert out["incomplete"].count() == 0
    rows = {r["transaction_hash"]: r for r in out["transactions"].collect()}
    assert set(rows) == {"T1", "T2", "T3"}
    assert rows["T1"]["tx_block_height"] == 100
    assert rows["T1"]["last_block_height"] == 103
    assert rows["T2"]["tx_block_height"] == 101
    assert rows["T2"]["last_block_height"] == 101
    assert rows["T3"]["last_block_height"] == 103
    assert rows["T1"]["signer_id"] == "alice.near"


def test_transaction_json_blob(out):
    tx1 = json.loads(
        out["transactions"].filter(F.col("transaction_hash") == "T1").first()["transaction"]
    )
    assert tx1["transaction"]["hash"] == "T1"
    assert tx1["transaction"]["signer_id"] == "alice.near"
    # receipts in processing order R1, R2, R3 with stamped block info
    rids = [r["receipt"]["receipt_id"] for r in tx1["receipts"]]
    assert rids == ["R1", "R2", "R3"]
    heights = [r["execution_outcome"]["block_height"] for r in tx1["receipts"]]
    assert heights == [101, 102, 103]
    # gas_profile scrubbed everywhere (reference types.rs:29)
    assert "gas_profile" not in json.dumps(tx1)
    # attached data receipt D1 (consumed by R2)
    assert [d["receipt_id"] for d in tx1["data_receipts"]] == ["DR1"]
    # actions rendered as parsed objects
    fc = tx1["receipts"][0]["receipt"]["receipt"]["Action"]["actions"][1]
    assert fc["FunctionCall"]["method_name"] == "ft_transfer"
    # tx-level outcome present
    assert tx1["execution_outcome"]["block_height"] == 100


def test_block_txs(out):
    rows = out["block_txs"].collect()
    by_tx = {}
    for r in rows:
        by_tx.setdefault(r["transaction_hash"], []).append(r)
    assert sorted(r["block_height"] for r in by_tx["T1"]) == [100, 101, 102, 103]
    assert sorted(r["block_height"] for r in by_tx["T2"]) == [101]
    assert sorted(r["block_height"] for r in by_tx["T3"]) == [102, 103]
    t1_100 = next(r for r in by_tx["T1"] if r["block_height"] == 100)
    assert t1_100["block_hash"] == "Hash100" and t1_100["tx_block_height"] == 100


def test_receipt_txs(out):
    rows = {r["receipt_id"]: r["transaction_hash"] for r in out["receipt_txs"].collect()}
    assert rows == {
        "R1": "T1",
        "R2": "T1",
        "R3": "T1",
        "DR1": "T1",
        "R4": "T2",
        "DR0": "T2",
        "R5": "T3",
        "DR2a": "T3",  # first promise-resume copy wins (DR2b dropped)
    }


def test_account_txs(out):
    rows = out["account_txs"].collect()
    by_tx = {}
    for r in rows:
        by_tx.setdefault(r["transaction_hash"], set()).add(r["account_id"])
    # T1: signer + receivers + args accounts + event accounts
    assert "alice.near" in by_tx["T1"]  # signer
    assert {"contract.near", "vault.near", "sink.near"} <= by_tx["T1"]  # receivers
    assert "dana.near" in by_tx["T1"]  # args receiver_id
    assert "owner.near" not in by_tx["T1"]  # args_owner_id is NOT a scanned key
    # EVENT_JSON contributes from ALL data elements (strict 4-field events)
    assert "collector.near" in by_tx["T1"]
    assert "second-ignored.near" in by_tx["T1"]
    assert "gallery.near" not in by_tx["T1"]  # authorized_id not in key list
    # invalid account id from BAD_ACCOUNT_ARGS filtered
    assert not any(a == "INVALID!" for a in by_tx["T2"])
    # numeric user_id (all-digit names validate!) must NOT become an
    # account — only JSON-string values count (transactions.rs:527)
    assert "31415926" not in by_tx["T2"]
    assert {"bob.near", "factory.near"} <= by_tx["T2"]
    assert {"carol.near", "yield.near", "dana.near"} <= by_tx["T3"]


def test_blocks_table(out):
    rows = {r["block_height"]: r for r in out["blocks"].collect()}
    assert set(rows) == {100, 101, 102, 103, 104}
    b101 = rows[101]
    assert b101["prev_block_hash"] == "Hash100"
    assert b101["chunks_included"] == 2
    assert b101["protocol_version"] == 73
    assert rows[104]["author_id"] == "validator2.near"


def test_chain_violations(blocks, spark):
    assert TX.chain_violations(blocks).count() == 0
    # corrupt the chain: block 103 with wrong prev_hash
    from clickhouse_provider_spark.schemas import BLOCK_SCHEMA

    bad = [json.dumps(b) for b in FC.make_chain()]
    doc = json.loads(bad[3])
    doc["block"]["header"]["prev_hash"] = "WRONG"
    bad[3] = json.dumps(doc)
    bad_df = spark.read.schema(BLOCK_SCHEMA).json(spark.sparkContext.parallelize(bad, 2))
    v = TX.chain_violations(bad_df).collect()
    assert len(v) == 1 and v[0]["block_height"] == 103


def test_duplicate_data_violations(blocks, spark):
    assert TX.data_receipt_violations(blocks).count() == 0  # both promise_resume
    assert TX.mapping_violations(
        TX.receipt_to_tx(TX.tx_seeds(blocks), TX.outcome_units(blocks))
    ).count() == 0


def test_incomplete_when_tail_missing(blocks, spark):
    """Drop block 103 → T1 and T3 must be withheld as incomplete, T2 still
    emitted (mirrors TxCache holding pending txs across the batch edge)."""
    from clickhouse_provider_spark.schemas import BLOCK_SCHEMA

    partial = spark.read.schema(BLOCK_SCHEMA).json(
        spark.sparkContext.parallelize(FC.chain_jsonl()[:3], 2)
    )
    t = TX.assemble(partial)
    assert {r["transaction_hash"] for r in t["transactions"].collect()} == {"T2"}
    assert {r["tx_hash"] for r in t["incomplete"].collect()} == {"T1", "T3"}


def test_gcd_spawned_receipt_completes_tx(spark):
    """A tx whose receipt chain traverses a GlobalContractDistribution
    receipt completes: the reference processes GCD execution outcomes in
    transactions mode (receipt into receipts list, pending cleared,
    spawned ids extend pending — transactions.rs:327-352); only Data
    receipts take the buffered path. Regression: filtering outcome_units
    to Action-only left such txs permanently incomplete."""
    from clickhouse_provider_spark.schemas import BLOCK_SCHEMA

    r10 = FC.action_receipt("R10", "dev.near", "global.near", "dev.near", [FC.A_DEPLOY])
    gcd = FC.gcd_receipt("G1")
    r11 = FC.action_receipt("R11", "global.near", "user.near", "dev.near", [FC.A_TRANSFER])
    chain = [
        FC.block(200, [FC.shard(0, transactions=[FC.chunk_tx("T10", "dev.near", "global.near", [FC.A_DEPLOY], ["R10"])])]),
        FC.block(201, [FC.shard(0, outcomes=[
            {"tx_hash": "T10", "receipt": r10,
             "execution_outcome": FC.outcome("R10", {"SuccessValue": FC.b64("")}, ["G1"], block_hash="Hash201")},
            {"tx_hash": "T10", "receipt": gcd,
             "execution_outcome": FC.outcome("G1", {"SuccessValue": FC.b64("")}, ["R11"], block_hash="Hash201")},
        ])]),
        FC.block(202, [FC.shard(0, outcomes=[
            {"tx_hash": "T10", "receipt": r11,
             "execution_outcome": FC.outcome("R11", {"SuccessValue": FC.b64("")}, [], block_hash="Hash202")},
        ])]),
    ]
    df = spark.read.schema(BLOCK_SCHEMA).json(
        spark.sparkContext.parallelize([json.dumps(b) for b in chain], 1)
    )
    out = TX.assemble(df)
    assert out["incomplete"].count() == 0
    rows = {r["transaction_hash"]: r for r in out["transactions"].collect()}
    assert set(rows) == {"T10"}
    assert rows["T10"]["last_block_height"] == 202
    blob = json.loads(rows["T10"]["transaction"])
    assert [r["receipt"]["receipt_id"] for r in blob["receipts"]] == ["R10", "G1", "R11"]
    assert {r["receipt_id"] for r in out["receipt_txs"].collect()} == {"R10", "G1", "R11"}


def test_long_promise_chain_maps_every_receipt(spark):
    """The closure runs to convergence: a 52-receipt promise chain
    R1→…→R52 executed in one block maps every receipt to its tx, so the
    tx completes with all 52 receipts (a round cap below the chain's
    depth would leave the tail unmapped and emit the tx without it)."""
    from clickhouse_provider_spark.schemas import BLOCK_SCHEMA

    n = 52
    outcomes = [
        {
            "tx_hash": "T52",
            "receipt": FC.action_receipt(
                f"R{i}", "alice.near", "bob.near", "alice.near", [FC.A_TRANSFER]
            ),
            "execution_outcome": FC.outcome(
                f"R{i}",
                {"SuccessValue": FC.b64("")},
                [f"R{i + 1}"] if i < n else [],
                block_hash="Hash300",
            ),
        }
        for i in range(1, n + 1)
    ]
    chain = [
        FC.block(300, [FC.shard(
            0,
            transactions=[FC.chunk_tx("T52", "alice.near", "bob.near", [FC.A_TRANSFER], ["R1"])],
            outcomes=outcomes,
        )])
    ]
    df = spark.read.schema(BLOCK_SCHEMA).json(
        spark.sparkContext.parallelize([json.dumps(b) for b in chain], 1)
    )
    out = TX.assemble(df)
    assert out["incomplete"].count() == 0
    assert out["receipt_txs"].count() == n
    (row,) = out["transactions"].collect()
    blob = json.loads(row["transaction"])
    assert [r["receipt"]["receipt_id"] for r in blob["receipts"]] == [
        f"R{i}" for i in range(1, n + 1)
    ]


def test_chain_violations_bucket_boundary(spark):
    """The bucketed continuity check must catch a violation exactly at a
    bucket boundary (first block of a bucket vs last of the previous)."""
    from clickhouse_provider_spark.schemas import BLOCK_SCHEMA

    docs = [json.dumps(b) for b in FC.make_chain()]
    doc = json.loads(docs[2])  # block 102
    doc["block"]["header"]["prev_hash"] = "WRONG"
    docs[2] = json.dumps(doc)
    df = spark.read.schema(BLOCK_SCHEMA).json(spark.sparkContext.parallelize(docs, 2))
    # bucket=2 puts 102 at a bucket boundary (100-101 | 102-103 | 104)
    v = TX.chain_violations(df, bucket=2).collect()
    assert len(v) == 1 and v[0]["block_height"] == 102
    # and with a bucket size spanning everything (pure within-bucket path)
    v2 = TX.chain_violations(df, bucket=1_000_000).collect()
    assert len(v2) == 1 and v2[0]["block_height"] == 102
