"""clickhouse_provider_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of fastnear/clickhouse-provider.

The reference (/root/reference, Rust, v2.7.0) is a streaming ETL pipeline
that flattens NEAR blockchain blocks into 8 wide ClickHouse tables and
delegates the analytic query surface to ClickHouse's MergeTree engine.
This package re-expresses both halves Spark-first:

- ``sources``    — block-JSON readers (batch + streaming) with the declared
                   nested StructType (reference: fastnear-primitives structs).
- ``operators``  — the dataflow operators (SURVEY.md §2A): explode chains,
                   projections, JSON extraction, the stateful tx-assembly,
                   plus the LLM-data-pipeline layer (dedup / similarity /
                   text analysis / multimodal).
- ``functions``  — pure column functions (utf8-or-base64, base58, event
                   parsing, length caps).
- ``plans``      — the serving-layer query surface (SURVEY.md §2C) as
                   DataFrame builders over the produced tables.
- ``streaming``  — the two pipeline daemons as Structured Streaming
                   queries: the stateless actions stream and the keyed
                   transactions stream (router + applyInPandasWithState
                   assembler), which reuse the batch operators per
                   micro-batch.

Everything here is built on the public Apache Spark / PySpark API.
"""

from clickhouse_provider_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
