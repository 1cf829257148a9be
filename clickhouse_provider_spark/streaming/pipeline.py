"""Streaming pipelines (reference: the two daemon loops, src/main.rs:
136-175; SURVEY.md §2A #4, M4).

**Actions mode** is stateless per block → a plain foreachBatch over the
block file stream; each micro-batch runs the same extract_tables DAG and
appends in MergeTree layout. Exactly-once = checkpoint offsets + the
dedup-on-read view absorbing any replayed batch (the reference gets the
same property from max(block_height) resume + ReplacingMergeTree).

**Transactions mode** is the stateful one. The reference carries TxCache
(pending txs + receipt routing + buffered data receipts) in process
memory; the streaming port carries the *same three relations* as
versioned parquet state between micro-batches:

    state_seeds     — seed rows of still-incomplete transactions
    state_outcomes  — executed receipts belonging to incomplete txs
    state_data      — data receipts not yet consumed by an emitted tx

Each micro-batch unions state with the batch's new units, reruns the
relational assembly (operators.transactions.assemble_from_parts — the
closure fixpoint only re-walks incomplete txs + new arrivals), appends
completed txs to the tables, and writes state version N+1. State size is
bounded by in-flight transactions (the reference's TxCache bound), not
history. Receipts that arrive with no known transaction (the reference's
catch-up warn/panic, transactions.rs:263-275) land in a ``skipped``
dead-letter table instead of killing the stream.

Restart semantics: state versions are keyed by batch_id and published
ATOMICALLY — all parts are written to a staging dir and renamed into
``v=<batch_id>`` in one filesystem move, so a version is either complete
or invisible. A batch reads the greatest version STRICTLY BELOW its own
batch_id: on crash-replay of batch N (whose failed attempt may have left
a complete or partial ``v=N``), the replay re-reads v<N — never its own
prior output — recomputes, and atomically replaces v=N. Re-appended
table rows are collapsed by the dedup-on-read view — idempotent end to
end, for clean restarts AND mid-batch crashes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_provider_spark import storage
from clickhouse_provider_spark.operators import release
from clickhouse_provider_spark.operators import transactions as TX
from clickhouse_provider_spark.operators.actions import extract_tables
from clickhouse_provider_spark.sources import block_stream
from clickhouse_provider_spark.streaming.state import VersionedState


def run_actions_stream(
    spark: SparkSession,
    src_path: str,
    warehouse: str,
    checkpoint: str,
    max_files_per_trigger: int = 100,
    available_now: bool = True,
    sink=None,
):
    """Actions-mode daemon: block files → actions/events/data appends.

    With ``sink`` (an ``sinks.ExternalSink``), each micro-batch's tables
    are inserted into the external DB with retry/backoff instead of the
    parquet warehouse — the reference's deployment shape (click.rs)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        track: list[DataFrame] = []
        try:
            for name, df in extract_tables(batch_df, track=track).items():
                if sink is not None:
                    sink.insert_with_retry(df, name)
                else:
                    storage.write_table(df, warehouse, name)
        finally:
            release(track)

    stream = block_stream(spark, src_path, max_files_per_trigger)
    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


class TransactionsStream:
    """Stateful transactions-mode daemon (see module doc)."""

    STATE_PARTS = ("seeds", "outcomes", "data")

    def __init__(self, spark: SparkSession, warehouse: str, state_dir: str):
        self.spark = spark
        self.warehouse = warehouse
        self.state = VersionedState(spark, state_dir)

    # crash-safe state versioning: see streaming/state.py (read strictly
    # below batch_id, atomic rename publish, keep-two prune)

    def _read_state(self, part: str, batch_id: int) -> DataFrame | None:
        return self.state.read(part, batch_id)

    def _publish_state(self, parts: dict[str, DataFrame], batch_id: int) -> None:
        self.state.publish(parts, batch_id)

    # -- the micro-batch ----------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        new_seeds = TX.tx_seeds(batch_df)
        new_outcomes = TX.outcome_units(batch_df)
        new_data = TX.data_receipt_units(batch_df)
        blocks_rows = TX.block_rows(batch_df)

        seeds = _union(self._read_state("seeds", batch_id), new_seeds)
        outcomes = _union(self._read_state("outcomes", batch_id), new_outcomes)
        data_units = TX.dedup_data_units(
            _union(self._read_state("data", batch_id), new_data)
        )

        # blocks table first: spanned-block info for cross-batch txs comes
        # from the table (the reference re-reads nothing — its state holds
        # BlockInfo; ours lives in the already-written blocks table)
        storage.write_table(blocks_rows, self.warehouse, "blocks")
        block_info = storage.read_table(self.spark, self.warehouse, "blocks").select(
            "block_height", "block_hash", "block_timestamp"
        )

        # track= (ADVICE r10): assemble_from_parts persists four shared
        # intermediates and checkpoints its fixpoint per call; a
        # long-running stream must release them per batch or the cache
        # grows without bound.
        track: list[DataFrame] = []
        out = TX.assemble_from_parts(
            seeds, outcomes, data_units, block_info, track=track
        )
        incomplete_keys = out["incomplete"].select("tx_hash").cache()
        track.append(incomplete_keys)
        incomplete_keys.count()

        for name in ("transactions", "account_txs", "block_txs", "receipt_txs"):
            storage.write_table(out[name], self.warehouse, name)

        # Outcomes with no transaction mapping yet: the reference's ordered
        # stream makes these a catch-up warn/panic (transactions.rs:263-275);
        # a distributed source may legitimately deliver blocks out of order,
        # so we RETAIN them in state until their seed/parent arrives and
        # surface the current unresolved set as a diagnostic table.
        # ``mapping`` is the fixpoint already computed (and persisted) inside
        # assemble_from_parts — exactly one receipt→tx closure per batch.
        mapping = out["mapping"]
        unmapped = outcomes.join(mapping, "receipt_id", "left_anti")
        unmapped.select("receipt_id", "block_height").write.mode("overwrite").parquet(
            os.path.join(self.warehouse, "unresolved_receipts")
        )

        # next state: units of incomplete txs + not-yet-mapped outcomes +
        # unconsumed data receipts
        state_seeds = seeds.join(incomplete_keys, "tx_hash", "left_semi")
        state_outcomes = outcomes.join(
            mapping.join(incomplete_keys, "tx_hash", "left_semi").select("receipt_id"),
            "receipt_id",
            "left_semi",
        ).unionByName(unmapped)
        consumed = (
            out["receipt_txs"]
            .select(F.col("receipt_id"))
            .join(data_units.select("receipt_id"), "receipt_id", "left_semi")
        )
        state_data = data_units.join(consumed, "receipt_id", "left_anti")

        self._publish_state(
            {"seeds": state_seeds, "outcomes": state_outcomes, "data": state_data},
            batch_id,
        )
        release(track)  # publish was the last consuming action


def _union(state: DataFrame | None, new: DataFrame) -> DataFrame:
    if state is None:
        return new
    return state.unionByName(new, allowMissingColumns=True)


def run_transactions_stream(
    spark: SparkSession,
    src_path: str,
    warehouse: str,
    checkpoint: str,
    state_dir: str | None = None,
    max_files_per_trigger: int = 100,
    available_now: bool = True,
    engine: str = "keyed",
):
    """Transactions-mode daemon: block files → 5 explorer tables with
    cross-batch tx state.

    ``engine="keyed"`` (default) routes through the incremental
    router → unit-log → keyed-assembler path (keyed_assembly.py): per-batch
    cost ∝ new arrivals for touched tx keys, matching the reference's
    per-block TxCache update. ``engine="legacy"`` keeps this module's
    original relational shape — union state with the batch and rerun the
    assembly fixpoint — whose per-batch cost grows with total in-flight
    history; it remains as a fallback (no pandas/Arrow worker dependency,
    single-query operational surface) and as the differential-testing twin.
    """
    if engine == "keyed":
        from clickhouse_provider_spark.streaming.keyed_assembly import (
            run_keyed_transactions,
        )

        return run_keyed_transactions(
            spark,
            src_path,
            warehouse,
            checkpoint,
            state_dir=state_dir,
            max_files_per_trigger=max_files_per_trigger,
            available_now=available_now,
        )
    assembler = TransactionsStream(
        spark, warehouse, state_dir or os.path.join(warehouse, "_tx_state")
    )
    stream = block_stream(spark, src_path, max_files_per_trigger)
    writer = (
        stream.writeStream.foreachBatch(assembler.process_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
