"""Keyed-state streaming transaction assembly: the reference's TxCache
(transactions.rs:569-575) as an ``applyInPandasWithState`` operator, the
pandas form of ``mapGroupsWithState`` that the package's other stateful
streams (sessionize, funnel, heavy_hitters, enrich) use too.

Two chained streaming stages connected by a parquet unit log:

**Stage 1 — router** (foreachBatch + versioned parquet state): the
INCREMENTAL receipt→tx correlation. State carries exactly the reference's
TxCache relations: ``routing`` = receipt_id→tx_hash for receipts mapped
but not yet executed (tx_hash_for_receipt with remove-on-use,
transactions.rs:584-595), ``outcome_wait`` = outcomes that arrived before
their mapping (out-of-order tolerance), ``data_wait``/``consume_wait`` =
unmatched data receipts / data dependencies (insert_data_receipt,
transactions.rs:612-654). Each batch calls the batch path's closure,
``operators.transactions.spawn_closure``, over the BATCH's (plus
waiting) outcomes only, started from routing ∪ the batch's seed pairs —
the incremental query is the batch query over the new data, and the
pairs the closure adds are the batch's new mappings. Cost ∝ batch size +
one hash join against routing, never the total in-flight history.
Emits tx_hash-tagged unit rows:

    seed  — the chunk transaction payload        (registers the tx)
    map   — receipt_id r belongs to tx T          (raises expected count)
    exec  — r's execution outcome (+ #data deps)  (raises executed count)
    data  — a matched data dependency             (raises data count)

**Stage 2 — keyed assembler** (keyed by tx_hash): per-tx state =
counters (mapped/executed/data-deps) + the buffered unit payloads + a
dedup set (unit log appends replay at-least-once). The completion gate
is SET equality: {mapped receipt_ids} == {executed receipt_ids},
nonempty, with the seed present and every data dep matched
(n_data == n_deps) — the completeness gate of transactions.rs:354-369
per key. Set (not count) equality matters: the unit-log file source
orders by modification time with unspecified tie-breaking, so appends
can be CONSUMED out of order. A count gate (n_exec == n_mapped) fires
early under reorder — e.g. consuming {seed+map(R1)}, {map(R3)+exec(R2)+
data}, {exec(R3)} before {map(R2)+exec(R1)} gives 2 maps vs 2 execs and
emits the tx without R1. The set gate is reorder-proof because the
router co-files map(child) with exec(parent) and map(seed receipts)
with the seed (per tx per append, see the sharded-append note in
KeyedRouter): any S with mapped(S) == executed(S) ⊇ seeds and closed
under spawn-children equals the full receipt closure. On fire the tx's
units are emitted downstream and the key's state collapses to a compact
tombstone (buffers dropped, ``n_mapped = COMPLETED``) — replay
protection: units for an already-emitted tx (partial re-read of old
unit-log files) are swallowed rather than rebuilding dangling state
that could never complete. Per-batch work is proportional to units
arriving for touched keys; untouched in-flight txs sit in the state
store and are never re-walked.

**Stage 3 — fan-out** (foreachBatch over the assembler's output): rebuild
the typed relations from the emitted units and run the SAME
``operators.transactions.fan_out`` the batch path uses → identical 5-table
results by construction.

Crash-safety: router state uses the atomic-rename versioned protocol
(streaming/state.py); replayed unit appends are absorbed by the
assembler's dedup set; re-emitted complete txs collapse in the
dedup-on-read warehouse view.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

from clickhouse_provider_spark import operators, storage
from clickhouse_provider_spark.operators import checkpoint, release
from clickhouse_provider_spark.operators import transactions as TX
from clickhouse_provider_spark.schemas import BLOCK_SCHEMA
from clickhouse_provider_spark.sources import block_stream
from clickhouse_provider_spark.streaming.state import VersionedState

#: sentinel n_mapped marking a key whose tx was already emitted — a compact
#: tombstone (one counts tuple, no buffered units) kept so that partial
#: replays of older unit-log files are swallowed instead of rebuilding
#: dangling per-tx state that could never satisfy the completion gate
COMPLETED = -1

UNITS_SCHEMA = "tx_hash string, kind string, dedup_key string, n_deps long, unit_json string"
EMITTED_SCHEMA = "tx_hash string, kind string, unit_json string"

ROUTING_SCHEMA = "receipt_id string, tx_hash string"
#: files per router append: the batch's units are hash-partitioned by
#: tx_hash into this many shards (see the sharded-append note in
#: KeyedRouter._route)
UNIT_SHARDS = 8

CONSUME_SCHEMA = (
    "tx_hash string, block_height long, shard_pos int, pos int, "
    "dep_pos int, data_id string"
)


def _unit_schemas(spark: SparkSession) -> dict[str, StructType]:
    """Schemas for JSON round-tripping unit payloads, derived from the
    operators themselves (no hand-maintained copies)."""
    empty = spark.createDataFrame([], BLOCK_SCHEMA)
    seed = TX.tx_seeds(empty).schema
    ex = TX.outcome_units(empty).schema
    data_receipt = TX.data_receipt_units(empty).schema["receipt"].dataType
    consumed = (
        StructType.fromDDL(
            "block_height long, shard_pos int, pos int, dep_pos int, receipt_id string"
        ).add("receipt", data_receipt)
    )
    return {"seed": seed, "exec": ex, "data": consumed}


class KeyedRouter:
    """Stage 1: block batches → tx_hash-tagged unit log + TxCache state."""

    def __init__(
        self, spark: SparkSession, warehouse: str, units_dir: str, state_dir: str
    ):
        self.spark = spark
        self.warehouse = warehouse
        self.units_dir = units_dir
        self.state = VersionedState(spark, state_dir)

    def _read(self, part: str, batch_id: int, default: DataFrame) -> DataFrame:
        df = self.state.read(part, batch_id)
        return df if df is not None else default

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # the batch's checkpoints; the published state's lineage ends at
        # them, so they are released only after the publish
        track: list[DataFrame] = []
        try:
            self._route(batch_df, batch_id, track)
        finally:
            release(track)

    def _route(self, batch_df: DataFrame, batch_id: int, track: list) -> None:
        spark = self.spark
        seeds_b = TX.tx_seeds(batch_df)
        outs_b = TX.outcome_units(batch_df)
        data_b = TX.data_receipt_units(batch_df)
        storage.write_table(TX.block_rows(batch_df), self.warehouse, "blocks")

        routing = self._read(
            "routing", batch_id, spark.createDataFrame([], ROUTING_SCHEMA)
        )
        outs_all = checkpoint(
            self._read("outcome_wait", batch_id, outs_b.limit(0)).unionByName(outs_b),
            track,
        )
        data_wait = self._read("data_wait", batch_id, data_b.limit(0))
        consume_wait = self._read(
            "consume_wait", batch_id, spark.createDataFrame([], CONSUME_SCHEMA)
        )

        # the batch closure, started from carried routing ∪ this batch's
        # seed pairs; spawns only from THIS batch's (plus waiting)
        # outcomes — cost ∝ new arrivals, not history
        seed_map = TX.seed_pairs(seeds_b)
        mapping, added = TX.spawn_closure(
            routing.unionByName(seed_map), TX.spawn_edges(outs_all), track
        )
        new_maps = seed_map.union(added)

        mapped_exec = checkpoint(outs_all.join(mapping, "receipt_id"), track)
        outcome_wait2 = outs_all.join(mapping, "receipt_id", "left_anti")
        routing2 = mapping.join(
            mapped_exec.select("receipt_id"), "receipt_id", "left_anti"
        )

        # data-dependency matching (insert_data_receipt semantics)
        consume_new = mapped_exec.select(
            "tx_hash",
            "block_height",
            "shard_pos",
            "pos",
            F.posexplode("input_data_ids").alias("dep_pos", "data_id"),
        ).select(*StructType.fromDDL(CONSUME_SCHEMA).fieldNames())
        consumes_all = checkpoint(consume_wait.unionByName(consume_new), track)
        data_all = checkpoint(TX.dedup_data_units(data_wait.unionByName(data_b)), track)
        matched = consumes_all.join(
            data_all.select("data_id", "receipt_id", "receipt"), "data_id"
        )
        consume_wait2 = consumes_all.join(
            data_all.select("data_id"), "data_id", "left_anti"
        )
        data_wait2 = data_all.join(
            consumes_all.select("data_id"), "data_id", "left_anti"
        )

        # unit emissions (at-least-once appends; assembler dedups)
        def unit(df, kind, dedup, n_deps, payload):
            return df.select(
                F.col("tx_hash"),
                F.lit(kind).alias("kind"),
                dedup.alias("dedup_key"),
                n_deps.cast("long").alias("n_deps"),
                payload.alias("unit_json"),
            )

        seed_units = unit(
            seeds_b, "seed", F.concat(F.lit("s:"), "tx_hash"), F.lit(0),
            F.to_json(F.struct(*seeds_b.columns)),
        )
        map_units = unit(
            new_maps, "map", F.concat(F.lit("m:"), "receipt_id"), F.lit(0),
            F.lit(None).cast("string"),
        )
        exec_units = unit(
            mapped_exec, "exec", F.concat(F.lit("e:"), "receipt_id"),
            F.size("input_data_ids"),
            F.to_json(F.struct(*outs_b.columns)),
        )
        data_units = unit(
            matched, "data", F.concat(F.lit("d:"), "data_id"), F.lit(0),
            F.to_json(
                F.struct(
                    "block_height", "shard_pos", "pos", "dep_pos",
                    "receipt_id", "receipt",
                )
            ),
        )
        # Sharded WAL append: hash-partition the batch's units by tx_hash
        # into ``UNIT_SHARDS`` files (Spark HashPartitioning =
        # pmod(hash(tx_hash), N)), one file per non-empty shard. The
        # completion gate (n_exec == n_mapped) is only sound at block
        # boundaries PER TX (the reference processes per block,
        # transactions.rs:354-369): a mid-block split between exec(R2) and
        # map(R3) of the SAME tx would fire the gate early and emit a
        # partial tx. Sharding by tx_hash preserves exactly that: every
        # unit of a given tx from this append lands in ONE file, so no
        # assembler micro-batch boundary (file granularity,
        # maxFilesPerTrigger) can split a tx's per-block unit group. Units
        # of different txs may land in different files — the gate is
        # per-key, so their relative order is irrelevant. This replaces
        # the earlier single-writer coalesce(1) append (an ingest
        # bottleneck: one task serialized every unit of every block).
        (
            seed_units.unionByName(map_units)
            .unionByName(exec_units)
            .unionByName(data_units)
            .repartition(UNIT_SHARDS, F.col("tx_hash"))
            .write.mode("append")
            .parquet(self.units_dir)
        )

        self.state.publish(
            {
                "routing": routing2,
                "outcome_wait": outcome_wait2,
                "data_wait": data_wait2,
                "consume_wait": consume_wait2,
            },
            batch_id,
        )


# one state tuple per tx_hash: the TxCache pending-transaction entry
ASSEMBLE_STATE_SCHEMA = (
    "n_mapped long, n_exec long, n_deps long, n_data long, has_seed boolean, "
    "kinds array<string>, jsons array<string>, seen array<string>"
)


def _make_assemble_fn(ttl_ms: int | None = None):
    """The stage-2 state function (module doc), optionally with a
    reorg-horizon TTL: a GroupState processing-time timeout, so the
    runtime itself tracks each key's last activity."""

    def _assemble_fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            vals = state.get
            n_mapped, kinds, jsons = vals[0], vals[5], vals[6]
            state.remove()
            if n_mapped != COMPLETED and kinds:
                # incomplete past the reorg horizon: surface, don't swallow
                yield pd.DataFrame(
                    {
                        "tx_hash": key[0],
                        "kind": [f"expired_{k}" for k in kinds],
                        "unit_json": list(jsons),
                    }
                )
            else:
                yield pd.DataFrame(columns=["tx_hash", "kind", "unit_json"])
            return
        if state.exists:
            n_mapped, n_exec, n_deps, n_data, has_seed, kinds, jsons, seen = state.get
            if n_mapped == COMPLETED:  # tombstone: swallow replayed tail units
                for _ in pdfs:
                    pass
                if ttl_ms is not None:
                    state.setTimeoutDuration(ttl_ms)  # replay extends horizon
                yield pd.DataFrame(columns=["tx_hash", "kind", "unit_json"])
                return
            kinds, jsons, seen_set = list(kinds), list(jsons), set(seen)
        else:
            n_mapped = n_exec = n_deps = n_data = 0
            has_seed = False
            kinds, jsons, seen_set = [], [], set()
        for pdf in pdfs:
            for r in pdf.itertuples(index=False):
                if r.dedup_key in seen_set:
                    continue  # unit-log replay (at-least-once appends)
                seen_set.add(r.dedup_key)
                if r.kind == "map":
                    n_mapped += 1
                elif r.kind == "exec":
                    n_exec += 1
                    n_deps += int(r.n_deps)
                    kinds.append("exec")
                    jsons.append(r.unit_json)
                elif r.kind == "data":
                    n_data += 1
                    kinds.append("data")
                    jsons.append(r.unit_json)
                elif r.kind == "seed":
                    has_seed = True
                    kinds.append("seed")
                    jsons.append(r.unit_json)
        # reorder-proof SET gate (module doc): mapped ids == executed ids,
        # derived from the dedup keys ("m:<id>" / "e:<id>"); the count
        # comparison alone fires early when unit-log files are consumed
        # out of append order (mtime ties in the file source).
        complete = False
        if has_seed and n_mapped > 0 and n_exec == n_mapped and n_data == n_deps:
            mapped_ids = {k[2:] for k in seen_set if k.startswith("m:")}
            executed_ids = {k[2:] for k in seen_set if k.startswith("e:")}
            complete = mapped_ids == executed_ids
        if complete:
            out = pd.DataFrame(
                {"tx_hash": key[0], "kind": kinds, "unit_json": jsons}
            )
            state.update((COMPLETED, 0, 0, 0, True, [], [], []))  # tombstone
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            yield out
        else:
            state.update(
                (n_mapped, n_exec, n_deps, n_data, has_seed, kinds, jsons,
                 sorted(seen_set))
            )
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            yield pd.DataFrame(columns=["tx_hash", "kind", "unit_json"])

    return _assemble_fn


def run_keyed_router(
    spark: SparkSession,
    src_path: str,
    warehouse: str,
    checkpoint: str,
    units_dir: str | None = None,
    state_dir: str | None = None,
    max_files_per_trigger: int = 100,
    available_now: bool = True,
):
    units_dir = units_dir or os.path.join(warehouse, "_tx_units")
    os.makedirs(units_dir, exist_ok=True)
    router = KeyedRouter(
        spark, warehouse, units_dir, state_dir or os.path.join(warehouse, "_router_state")
    )
    writer = (
        block_stream(spark, src_path, max_files_per_trigger)
        .writeStream.foreachBatch(router.process_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_keyed_assembler(
    spark: SparkSession,
    warehouse: str,
    checkpoint: str,
    units_dir: str | None = None,
    max_files_per_trigger: int = 100,
    available_now: bool = True,
    state_ttl_ms: int | None = None,
):
    """Stage 2+3: unit log → keyed completion → fan_out → 4 tables.

    ``state_ttl_ms``: reorg horizon after which an untouched key is
    evicted — a still-incomplete tx's buffered units land in the
    ``expired_tx_units`` dead-letter table (they were unreachable anyway:
    their completion gate can no longer fire), a completed tx's tombstone
    is dropped. Without it, per-key state grows with stream lifetime —
    fine for bounded replays/tests, wrong for a months-long tail at 100 TB.
    """
    units_dir = units_dir or os.path.join(warehouse, "_tx_units")
    os.makedirs(units_dir, exist_ok=True)
    schemas = _unit_schemas(spark)

    emitted = (
        spark.readStream.schema(UNITS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(units_dir)
        .groupBy("tx_hash")
        .applyInPandasWithState(
            _make_assemble_fn(state_ttl_ms),
            outputStructType=EMITTED_SCHEMA,
            stateStructType=ASSEMBLE_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.NoTimeout
                if state_ttl_ms is None
                else GroupStateTimeout.ProcessingTimeTimeout
            ),
        )
    )

    def write_complete(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # the batch's checkpoint and fan_out's caches, released after the
        # last write (the dead-letter append included); ``checkpoint`` in
        # this scope is the query's checkpoint path
        track: list[DataFrame] = []
        try:
            batch_df = operators.checkpoint(batch_df, track)
            expired = batch_df.filter(F.col("kind").startswith("expired_"))
            if not expired.isEmpty():
                # dead-letter: plain append (diagnostic relation, not a
                # MergeTree table)
                expired.withColumn(
                    "kind", F.regexp_replace("kind", "^expired_", "")
                ).write.mode("append").parquet(
                    os.path.join(warehouse, "expired_tx_units")
                )
                batch_df = batch_df.filter(~F.col("kind").startswith("expired_"))
                if batch_df.isEmpty():
                    return
            seeds_c = (
                batch_df.filter(F.col("kind") == "seed")
                .select(F.from_json("unit_json", schemas["seed"]).alias("u"))
                .select("u.*")
            )
            m_units = (
                batch_df.filter(F.col("kind") == "exec")
                .select("tx_hash", F.from_json("unit_json", schemas["exec"]).alias("u"))
                .select("tx_hash", "u.*")
            )
            consumed = (
                batch_df.filter(F.col("kind") == "data")
                .select("tx_hash", F.from_json("unit_json", schemas["data"]).alias("u"))
                .select("tx_hash", "u.*")
            )
            block_info = storage.read_table(spark, warehouse, "blocks").select(
                "block_height", "block_hash", "block_timestamp"
            )
            out = TX.fan_out(seeds_c, m_units, consumed, block_info, track=track)
            for name in ("transactions", "account_txs", "block_txs", "receipt_txs"):
                storage.write_table(out[name], warehouse, name)
        finally:
            release(track)

    writer = (
        emitted.writeStream.foreachBatch(write_complete)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
