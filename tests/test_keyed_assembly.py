"""Keyed-state transaction assembly (applyInPandasWithState): the
fixture chain's transactions through the router → unit-log →
keyed-assembler path, and the batch fixpoint's results on random chains."""

import json
import os

import pytest
from pyspark.sql import functions as F

from clickhouse_provider_spark import storage
from clickhouse_provider_spark.streaming import run_transactions_stream
from clickhouse_provider_spark.streaming.keyed_assembly import (
    run_keyed_assembler,
    run_keyed_router,
)
from tests import fixture_chain as FC


PROVIDER = "spark.sql.streaming.stateStore.providerClass"
STATE_STORES = "org.apache.spark.sql.execution.streaming.state."


@pytest.fixture(
    scope="module",
    params=["HDFSBackedStateStoreProvider", "RocksDBStateStoreProvider"],
    ids=["hdfs", "rocksdb"],
)
def keyed_out(request, spark, tmp_path_factory):
    """The fixture chain drained through the router and the assembler,
    with the assembler's per-tx state on the default HDFS-backed store
    and on RocksDB (larger-than-memory state); the session's provider is
    restored afterwards."""
    src = tmp_path_factory.mktemp("keyed_drops")
    for b in FC.make_chain():
        h = b["block"]["header"]["height"]
        (src / f"block-{h:012d}.json").write_text(json.dumps(b))
    wh = str(tmp_path_factory.mktemp("wh_keyed"))
    prev = spark.conf.get(PROVIDER, None)
    spark.conf.set(PROVIDER, STATE_STORES + request.param)
    try:
        # router: one block per micro-batch → cross-batch routing state
        # is genuinely exercised (T1 spans 4 batches)
        q1 = run_keyed_router(
            spark, str(src), wh,
            checkpoint=str(tmp_path_factory.mktemp("ckpt_router")),
            max_files_per_trigger=1,
        )
        q1.awaitTermination(240)
        # assembler: small file batches → per-key state crosses batches
        q2 = run_keyed_assembler(
            spark, wh,
            checkpoint=str(tmp_path_factory.mktemp("ckpt_asm")),
            max_files_per_trigger=2,
        )
        q2.awaitTermination(240)
    finally:
        if prev is None:
            spark.conf.unset(PROVIDER)
        else:
            spark.conf.set(PROVIDER, prev)
    return wh


def test_keyed_transactions_match_relational(spark, keyed_out):
    txs = {
        r["transaction_hash"]: r
        for r in storage.read_table(spark, keyed_out, "transactions").collect()
    }
    assert set(txs) == {"T1", "T2", "T3"}
    assert txs["T1"]["last_block_height"] == 103
    blob = json.loads(txs["T1"]["transaction"])
    assert [r["receipt"]["receipt_id"] for r in blob["receipts"]] == ["R1", "R2", "R3"]
    assert [d["receipt_id"] for d in blob["data_receipts"]] == ["DR1"]


def test_keyed_block_and_receipt_txs(spark, keyed_out):
    bt = storage.read_table(spark, keyed_out, "block_txs")
    assert bt.filter(F.col("transaction_hash") == "T1").count() == 4
    rt = {
        r["receipt_id"]: r["transaction_hash"]
        for r in storage.read_table(spark, keyed_out, "receipt_txs").collect()
    }
    assert rt["DR2a"] == "T3" and "DR2b" not in rt
    assert storage.read_table(spark, keyed_out, "blocks").count() == 5


def test_keyed_account_txs(spark, keyed_out):
    at = storage.read_table(spark, keyed_out, "account_txs")
    by_tx = {}
    for r in at.collect():
        by_tx.setdefault(r["transaction_hash"], set()).add(r["account_id"])
    assert {"bob.near", "factory.near"} <= by_tx["T2"]
    assert "31415926" not in by_tx["T2"]  # JSON-string gate holds here too
    assert {"carol.near", "yield.near", "dana.near"} <= by_tx["T3"]


def test_unit_log_replay_is_idempotent(spark, keyed_out, tmp_path_factory):
    """Duplicate the whole unit log (at-least-once append replay) into a
    fresh assembler: the dedup set must absorb the duplicates and the
    re-emitted complete txs must collapse in the dedup-on-read view."""
    import shutil

    units_src = os.path.join(keyed_out, "_tx_units")
    wh2 = str(tmp_path_factory.mktemp("wh_keyed_replay"))
    units2 = os.path.join(wh2, "_tx_units")
    os.makedirs(units2)
    n = 0
    # mtime order: replays must preserve append (block) order — the
    # completion gate is only sound when each block's units arrive in order
    for f in sorted(
        os.listdir(units_src),
        key=lambda f: os.path.getmtime(os.path.join(units_src, f)),
    ):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(units_src, f), os.path.join(units2, f"a{n}.parquet"))
            shutil.copy(os.path.join(units_src, f), os.path.join(units2, f"b{n}.parquet"))
            n += 1
    # blocks table needed by the fan-out stage
    shutil.copytree(os.path.join(keyed_out, "blocks"), os.path.join(wh2, "blocks"))
    q = run_keyed_assembler(
        spark, wh2,
        checkpoint=str(tmp_path_factory.mktemp("ckpt_asm2")),
        max_files_per_trigger=3,
    )
    q.awaitTermination(240)
    txs = storage.read_table(spark, wh2, "transactions")
    assert {r["transaction_hash"] for r in txs.collect()} == {"T1", "T2", "T3"}
    assert txs.count() == 3  # no duplicate survivors


def test_state_ttl_expires_incomplete_to_dead_letter(spark, tmp_path_factory):
    """A tx whose completion gate can never fire (seed+map, exec missing)
    must be evicted once untouched past the reorg-horizon TTL, its buffered
    units surfaced in the expired_tx_units dead-letter — state stays
    bounded on a long-running stream instead of accumulating forever."""
    import time

    UNITS = "tx_hash string, kind string, dedup_key string, n_deps long, unit_json string"
    wh = str(tmp_path_factory.mktemp("wh_ttl"))
    units = os.path.join(wh, "_tx_units")
    os.makedirs(units)
    ckpt = str(tmp_path_factory.mktemp("ckpt_ttl"))
    spark.createDataFrame(
        [("TXP", "seed", "s:TXP", 0, '{"dangling":1}'), ("TXP", "map", "m:R9", 0, None)],
        UNITS,
    ).coalesce(1).write.mode("append").parquet(units)
    # NOTE on termination (round 15): with a ProcessingTime state TTL the
    # availableNow query does NOT self-terminate — registered timers keep
    # scheduling no-data micro-batches to evaluate timeouts, forever (a
    # TTL'd assembler is a long-running daemon by design; measured: two
    # full awaitTermination(120) burns = 240 s of this test's former
    # 254 s wall, 300+ idle jobs). So wait for each phase's OBSERVABLE
    # done-condition, then stop the query explicitly.
    def _await(q, done, timeout=120):
        t0 = time.time()
        while time.time() - t0 < timeout and not done():
            time.sleep(0.25)
        ok = done()
        q.stop()
        q.awaitTermination(60)
        assert ok, "phase condition not reached before timeout"

    q = run_keyed_assembler(spark, wh, checkpoint=ckpt, state_ttl_ms=500)
    # phase-1 done: the data batch committed (a progress entry exists
    # whose no-new-data successor ran, i.e. the last progress consumed 0
    # rows after the 2-unit batch)
    _await(
        q,
        lambda: (p := q.lastProgress) is not None
        and p["numInputRows"] == 0
        and p["batchId"] >= 1,
    )
    time.sleep(1.5)  # let the horizon pass
    # a subsequent batch triggers timeout evaluation for stale keys (micro-
    # batch gaps here exceed the 500 ms TTL, so expiry may also fire on a
    # trailing in-run batch — either way the horizon semantics hold)
    spark.createDataFrame([("TXQ", "map", "m:R10", 0, None)], UNITS).coalesce(
        1
    ).write.mode("append").parquet(units)
    q = run_keyed_assembler(spark, wh, checkpoint=ckpt, state_ttl_ms=500)
    # phase-2 done: the dead-letter table exists with committed rows
    dead_dir = os.path.join(wh, "expired_tx_units")
    _await(
        q,
        lambda: os.path.isdir(dead_dir)
        and any(f.endswith(".parquet") for f in os.listdir(dead_dir)),
    )
    dead = spark.read.parquet(os.path.join(wh, "expired_tx_units")).collect()
    assert {r["tx_hash"] for r in dead} >= {"TXP"}
    # only buffered payload units surface (map units carry no payload)
    assert {r["kind"] for r in dead if r["tx_hash"] == "TXP"} == {"seed"}
    # no transactions emitted for the dangling tx
    assert not os.path.exists(os.path.join(wh, "transactions"))


def test_out_of_order_unit_files_never_emit_partial_tx(spark, tmp_path_factory):
    """Reorder regression (round-4 divergence): the unit-log file source
    orders by modification time with unspecified tie-breaking, so appends
    can be CONSUMED out of append order. With the old count gate
    (n_exec == n_mapped) the order [b100, b102, b103, b101] fires T1's
    completion after b103 — 2 maps {R1,R3} vs 2 execs {R2,R3} — emitting
    the tx blob as [R2,R3] (receipt R1 silently missing, the failure mode
    the reference hard-panics on, transactions.rs:332-342). The set gate
    must hold the tx open until mapped ids == executed ids."""
    import json as _json
    import shutil
    import time

    src = tmp_path_factory.mktemp("reorder_drops")
    for b in FC.make_chain():
        h = b["block"]["header"]["height"]
        (src / f"block-{h:012d}.json").write_text(_json.dumps(b))
    wh = str(tmp_path_factory.mktemp("wh_reorder"))
    # one block per router batch, one append (up to UNIT_SHARDS part files)
    # per batch; order the appends afterwards by hand
    q1 = run_keyed_router(
        spark, str(src), wh,
        checkpoint=str(tmp_path_factory.mktemp("ckpt_router_ro")),
        max_files_per_trigger=1,
    )
    q1.awaitTermination(240)
    units_src = os.path.join(wh, "_tx_units")
    # group part files by append job (the UUID shared by all part files of
    # one write), ordered by each job's earliest mtime
    by_job: dict[str, list[str]] = {}
    for f in os.listdir(units_src):
        if f.endswith(".parquet"):
            job = f.split("-", 2)[2].rsplit("-", 1)[0]  # part-NNNNN-<uuid>-cNNN
            by_job.setdefault(job, []).append(f)
    appends = sorted(
        by_job.values(),
        key=lambda fs: min(os.path.getmtime(os.path.join(units_src, f)) for f in fs),
    )
    assert len(appends) == 5  # one per block
    # pathological consumption order: move block 101's append (index 1,
    # holding T1's map(R2)+exec(R1)) to the END via explicit mtimes
    order = [appends[0], appends[2], appends[3], appends[4], appends[1]]
    wh2 = str(tmp_path_factory.mktemp("wh_reorder2"))
    units2 = os.path.join(wh2, "_tx_units")
    os.makedirs(units2)
    now = time.time()
    for i, group in enumerate(order):
        for f in group:
            dst = os.path.join(units2, f)
            shutil.copy(os.path.join(units_src, f), dst)
            os.utime(dst, (now + 10 * i, now + 10 * i))  # distinct mtimes
    shutil.copytree(os.path.join(wh, "blocks"), os.path.join(wh2, "blocks"))
    q2 = run_keyed_assembler(
        spark, wh2,
        checkpoint=str(tmp_path_factory.mktemp("ckpt_asm_ro")),
        max_files_per_trigger=1,  # every append its own micro-batch
    )
    q2.awaitTermination(240)
    raw = spark.read.parquet(os.path.join(wh2, "transactions"))
    t1_rows = raw.filter(F.col("transaction_hash") == "T1").collect()
    # exactly one emission, with the COMPLETE receipt list — a partial
    # [R2,R3] emission would appear here even though dedup-on-read hides it
    assert len(t1_rows) == 1
    blob = json.loads(t1_rows[0]["transaction"])
    assert [r["receipt"]["receipt_id"] for r in blob["receipts"]] == ["R1", "R2", "R3"]
    assert {r["transaction_hash"] for r in raw.collect()} == {"T1", "T2", "T3"}


def test_random_chain_streaming_matches_batch_fixpoint(spark, tmp_path_factory):
    """Differential over a generated chain (tests/random_chain.py): the
    streaming router→assembler→fan-out path must produce row-identical
    fan-out tables to the batch fixpoint (operators/transactions.assemble)
    on a closed random receipt forest — random spawn depths, cross-block
    executions, and data receipts that can arrive AFTER their consumer."""
    import json as _json

    from clickhouse_provider_spark.operators import transactions as TX
    from clickhouse_provider_spark.schemas import BLOCK_SCHEMA
    from tests.random_chain import make_random_chain

    chain = make_random_chain(seed=7, n_blocks=16)
    src = tmp_path_factory.mktemp("rand_chain")
    for b in chain:
        h = b["block"]["header"]["height"]
        (src / f"block-{h:012d}.json").write_text(_json.dumps(b))
    # batch side reads the SAME files: the RDD-based json reader re-encodes
    # raw-captured JSON strings (e.g. status.Failure source bytes) compactly
    # while the file scan preserves source spacing — a parser-path nuance
    # that would diff the blobs even though the assembly is identical
    blocks_df = spark.read.schema(BLOCK_SCHEMA).json(str(src))
    batch = TX.assemble(blocks_df)
    assert batch["incomplete"].count() == 0  # generator guarantees closure
    n_txs = batch["transactions"].count()
    assert n_txs >= 5  # non-trivial instance
    wh = str(tmp_path_factory.mktemp("wh_rand"))
    q1 = run_keyed_router(
        spark, str(src), wh,
        checkpoint=str(tmp_path_factory.mktemp("ckpt_rr")),
        max_files_per_trigger=4,
    )
    q1.awaitTermination(300)
    q2 = run_keyed_assembler(
        spark, wh,
        checkpoint=str(tmp_path_factory.mktemp("ckpt_ra")),
        max_files_per_trigger=4,
    )
    q2.awaitTermination(300)
    for name in ("transactions", "account_txs", "block_txs", "receipt_txs"):
        a = sorted(map(tuple, batch[name].collect()))
        s = sorted(map(tuple, storage.read_table(spark, wh, name).collect()))
        assert a == s, f"{name}: batch {len(a)} rows vs streaming {len(s)}"


def test_completed_tombstone_blocks_replayed_tail(spark, keyed_out, tmp_path_factory):
    """Replaying the unit log into the SAME assembler checkpoint after the
    txs already completed must emit nothing: the per-key tombstone swallows
    replayed units instead of rebuilding (and re-satisfying) the gate."""
    import shutil

    units_dir = os.path.join(keyed_out, "_tx_units")
    raw_before = spark.read.parquet(os.path.join(keyed_out, "transactions")).count()
    ckpt = str(tmp_path_factory.mktemp("ckpt_asm_tomb"))
    # first pass through a fresh checkpoint: emits every tx once
    q = run_keyed_assembler(spark, keyed_out, checkpoint=ckpt, max_files_per_trigger=3)
    q.awaitTermination(240)
    raw_mid = spark.read.parquet(os.path.join(keyed_out, "transactions")).count()
    assert raw_mid > raw_before  # fresh checkpoint re-emitted (expected)
    # replay the whole log as new files through the SAME checkpoint: the
    # tombstoned keys must swallow everything — zero new emissions
    for i, f in enumerate(sorted(os.listdir(units_dir))):
        if f.endswith(".parquet"):
            shutil.copy(
                os.path.join(units_dir, f), os.path.join(units_dir, f"replay{i}.parquet")
            )
    q = run_keyed_assembler(spark, keyed_out, checkpoint=ckpt, max_files_per_trigger=3)
    q.awaitTermination(240)
    raw_after = spark.read.parquet(os.path.join(keyed_out, "transactions")).count()
    assert raw_after == raw_mid  # tombstones held: no re-emission
    # logical view still exactly the 3 txs
    assert storage.read_table(spark, keyed_out, "transactions").count() == 3


def _checkpointed_rdds(spark) -> set:
    rdds = spark.sparkContext._jsc.getPersistentRDDs()  # noqa: SLF001
    return {k for k in rdds.keys() if rdds[k].rdd().isCheckpointed()}


def test_router_batch_releases_its_checkpoints(spark, tmp_path_factory):
    """The router checkpoints its fixpoint rounds and carried state every
    micro-batch; each batch releases them once its state is published,
    so a long-running router holds no checkpoint blocks between batches."""
    from clickhouse_provider_spark.schemas import BLOCK_SCHEMA
    from clickhouse_provider_spark.streaming.keyed_assembly import KeyedRouter

    wh = str(tmp_path_factory.mktemp("wh_router_release"))
    units = os.path.join(wh, "_tx_units")
    os.makedirs(units)
    router = KeyedRouter(spark, wh, units, os.path.join(wh, "_router_state"))
    chain = FC.make_chain()
    before = _checkpointed_rdds(spark)
    for batch_id, part in enumerate((chain[:3], chain[3:])):
        rows = spark.sparkContext.parallelize([json.dumps(b) for b in part], 1)
        router.process_batch(spark.read.schema(BLOCK_SCHEMA).json(rows), batch_id)
        assert _checkpointed_rdds(spark) - before == set()


@pytest.fixture(scope="module")
def observed_drain(spark, tmp_path_factory):
    """One transactions-stream drain of the fixture chain, two block files
    per router batch, with the session's checkpointed RDDs and state-store
    provider read before and after it."""
    src = tmp_path_factory.mktemp("observed_drops")
    for b in FC.make_chain():
        h = b["block"]["header"]["height"]
        (src / f"block-{h:012d}.json").write_text(json.dumps(b))
    wh = str(tmp_path_factory.mktemp("wh_observed"))
    prev = spark.conf.get(PROVIDER, None)
    # the session's default, set explicitly so the pin does not depend on
    # what an earlier test left behind
    spark.conf.set(PROVIDER, STATE_STORES + "HDFSBackedStateStoreProvider")
    try:
        before = (_checkpointed_rdds(spark), spark.conf.get(PROVIDER))
        q = run_transactions_stream(
            spark, str(src), wh,
            str(tmp_path_factory.mktemp("ckpt_observed")),
            max_files_per_trigger=2,
        )
        q.awaitTermination(240)
        after = (_checkpointed_rdds(spark), spark.conf.get(PROVIDER))
    finally:
        if prev is None:
            spark.conf.unset(PROVIDER)
        else:
            spark.conf.set(PROVIDER, prev)
    txs = {r["transaction_hash"] for r in storage.read_table(spark, wh, "transactions").collect()}
    assert txs == {"T1", "T2", "T3"}
    return before, after


def test_assembler_batches_release_their_checkpoints(observed_drain):
    """Each assembler batch checkpoints its emitted units and releases
    them after its last write, so a drain leaves no checkpoint blocks."""
    (ckpts_before, _), (ckpts_after, _) = observed_drain
    assert ckpts_after - ckpts_before == set()


def test_drain_keeps_the_session_state_store_provider(observed_drain):
    """A transactions stream runs on the session's state store; it never
    switches the provider for every later stateful query in the JVM."""
    (_, provider_before), (_, provider_after) = observed_drain
    assert provider_after == provider_before
