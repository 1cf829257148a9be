"""Structured Streaming wrappers for both pipeline modes."""

from clickhouse_provider_spark.streaming.keyed_assembly import (
    run_keyed_assembler,
    run_keyed_router,
)
from clickhouse_provider_spark.streaming.pipeline import (
    run_actions_stream,
    run_transactions_stream,
)

__all__ = [
    "run_actions_stream",
    "run_transactions_stream",
    "run_keyed_router",
    "run_keyed_assembler",
]
