"""Streaming pipelines (reference: the two daemon loops, src/main.rs:
136-175; SURVEY.md §2A #4, M4).

**Actions mode** is stateless per block → a plain foreachBatch over the
block file stream; each micro-batch runs the same extract_tables DAG and
appends in MergeTree layout. Exactly-once = checkpoint offsets + the
dedup-on-read view absorbing any replayed batch (the reference gets the
same property from max(block_height) resume + ReplacingMergeTree).

**Transactions mode** is the stateful one. The reference carries TxCache
(pending txs + receipt routing + buffered data receipts) in process
memory; :func:`run_transactions_stream` chains the two streaming queries
of ``streaming/keyed_assembly.py``:

    router     — foreachBatch over the block files: writes the blocks
                 table, correlates the batch's receipts to their
                 transactions against versioned parquet routing state
                 (streaming/state.py) and appends tx_hash-keyed units to
                 a parquet unit log
    assembler  — applyInPandasWithState keyed by tx_hash over the unit
                 log: holds each transaction's units until its completion
                 gate fires, then fans the complete transactions out with
                 the batch path's ``operators.transactions.fan_out``

Per-batch work is proportional to the batch's arrivals for touched
transactions, not to the in-flight history. Restarts resume both queries
from their checkpoints; the router reads the greatest state version
strictly below its batch id and publishes atomically, the assembler
drops replayed units by their dedup keys, and re-appended table rows
collapse in the dedup-on-read view.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from clickhouse_provider_spark import storage
from clickhouse_provider_spark.operators import release
from clickhouse_provider_spark.operators.actions import extract_tables
from clickhouse_provider_spark.sources import block_stream
from clickhouse_provider_spark.streaming.keyed_assembly import (
    run_keyed_assembler,
    run_keyed_router,
)


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


def run_transactions_stream(
    spark: SparkSession,
    src_path: str,
    warehouse: str,
    checkpoint: str,
    state_dir: str | None = None,
    max_files_per_trigger: int = 100,
    available_now: bool = True,
):
    """Transactions-mode daemon: block files → the 5 explorer tables with
    cross-batch tx state (module doc). Both queries run under ONE
    checkpoint root (``<checkpoint>/router`` and ``<checkpoint>/assembler``)
    so stop/resume restarts both from where they left off; ``state_dir``
    is the router's state (default ``<warehouse>/_router_state``).

    With ``available_now`` the router drains fully before the assembler
    starts (the assembler's file source only batches files that exist when
    it plans); continuous mode runs both queries concurrently. Returns the
    assembler's query with the router's attached as ``.router_query`` —
    ``stop()``/``awaitTermination`` on the returned handle govern the
    sink-side stage, the attribute the source-side one.
    """
    q1 = run_keyed_router(
        spark,
        src_path,
        warehouse,
        checkpoint=os.path.join(checkpoint, "router"),
        state_dir=state_dir,
        max_files_per_trigger=max_files_per_trigger,
        available_now=available_now,
    )
    if available_now:
        q1.awaitTermination()
    q2 = run_keyed_assembler(
        spark,
        warehouse,
        checkpoint=os.path.join(checkpoint, "assembler"),
        max_files_per_trigger=max_files_per_trigger,
        available_now=available_now,
    )
    q2.router_query = q1
    return q2
