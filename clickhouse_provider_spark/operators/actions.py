"""Actions-mode extraction: block stream → `actions` / `events` / `data`
wide tables (reference extract_rows, src/actions.rs:341-670; operator map
SURVEY.md §2A #7-#21, #27).

Everything is a declarative explode/when/from_json DAG — stateless per
block, embarrassingly parallel, whole-stage-codegen end to end (the one
Pandas UDF, base58 of sha256, runs only on DeployContract rows).

The one cross-record computation is ``receipt_index`` (reference
actions.rs:348,619-622,660-662): a block-scoped ordinal over Action
receipts from receipt_execution_outcomes and Data receipts from
chunk.receipts, in (shard, outcomes-then-chunk, position) order,
*skipping* GlobalContractDistribution and non-counted kinds. Computed with
row_number over a per-block window on the unified receipt-unit stream
before the tables split — windows partition by block_height, so the state
per task is one block's receipts (thousands at most) at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from clickhouse_provider_spark import schemas
from clickhouse_provider_spark.functions import (
    EVENT_LOG_PREFIX,
    account_id_valid,
    b64_field_as_text,
    base58_sha256,
    cap_token_ids,
    limit_length,
    parse_u128,
    utf8_or_base64,
)

# ---------------------------------------------------------------------------
# receipt units
# ---------------------------------------------------------------------------


def receipt_units(blocks: DataFrame) -> DataFrame:
    """Unified per-receipt stream with the block-scoped ``receipt_index``.

    Emits one row per *countable* receipt unit (reference counting rule):
    - phase 0: Action receipts from shard.receipt_execution_outcomes
      (actions.rs:349-350,619-622) — carry tx_hash + execution outcome
    - phase 1: Data receipts from shard.chunk.receipts (actions.rs:630-662)
    GlobalContractDistribution receipts and Action receipts inside chunks
    are not counted and produce no rows (actions.rs:627,641-643).
    """
    hdr = F.col("block.header")
    base = blocks.select(
        hdr["height"].alias("block_height"),
        hdr["hash"].alias("block_hash"),
        hdr["timestamp"].alias("block_timestamp"),
        F.posexplode("shards").alias("shard_pos", "shard"),
    )

    outcome_units = base.select(
        "block_height",
        "block_hash",
        "block_timestamp",
        "shard_pos",
        F.lit(0).alias("phase"),
        F.posexplode("shard.receipt_execution_outcomes").alias("pos", "u"),
    ).select(
        "block_height",
        "block_hash",
        "block_timestamp",
        "shard_pos",
        "phase",
        "pos",
        F.col("u.tx_hash").alias("tx_hash"),
        F.col("u.receipt").alias("receipt"),
        F.col("u.execution_outcome.outcome").alias("outcome"),
    )

    chunk_units = base.select(
        "block_height",
        "block_hash",
        "block_timestamp",
        "shard_pos",
        F.lit(1).alias("phase"),
        F.posexplode("shard.chunk.receipts").alias("pos", "r"),
    ).select(
        "block_height",
        "block_hash",
        "block_timestamp",
        "shard_pos",
        "phase",
        "pos",
        F.lit(None).cast("string").alias("tx_hash"),
        F.col("r").alias("receipt"),
        F.lit(None).cast(schemas.OUTCOME).alias("outcome"),
    )

    units = outcome_units.unionByName(chunk_units)
    countable = units.filter(
        ((F.col("phase") == 0) & F.col("receipt.receipt.Action").isNotNull())
        | ((F.col("phase") == 1) & F.col("receipt.receipt.Data").isNotNull())
    )
    w = W.partitionBy("block_height").orderBy("shard_pos", "phase", "pos")
    return countable.withColumn(
        "receipt_index", (F.row_number().over(w) - 1).cast("int")
    )


def validate_units(blocks: DataFrame) -> DataFrame:
    """Runtime-assertion analog (SURVEY §5: assertions → dead-letter rows
    instead of panics): Data receipts must never appear in outcomes
    (reference unreachable!, actions.rs:624-626)."""
    hdr = F.col("block.header")
    return (
        blocks.select(
            hdr["height"].alias("block_height"),
            F.explode("shards").alias("shard"),
        )
        .select("block_height", F.explode("shard.receipt_execution_outcomes").alias("u"))
        .filter(F.col("u.receipt.receipt.Data").isNotNull())
        .select(
            "block_height",
            F.col("u.receipt.receipt_id").alias("receipt_id"),
            F.lit("data_receipt_in_outcomes").alias("violation"),
        )
    )


# ---------------------------------------------------------------------------
# status / common projections
# ---------------------------------------------------------------------------


def _status(col: F.Column) -> F.Column:
    """ExecutionStatusView → 2-valued enum (reference actions.rs:369-374:
    Unknown|Failure → FAILURE, SuccessValue|SuccessReceiptId → SUCCESS; the
    bare-string 'Unknown' variant nulls the struct → FAILURE branch)."""
    return F.when(
        col["SuccessValue"].isNotNull() | col["SuccessReceiptId"].isNotNull(),
        F.lit("SUCCESS"),
    ).otherwise(F.lit("FAILURE"))


def _return_value_int(status: F.Column) -> F.Column:
    """SuccessValue bytes → JSON string literal → u128 (reference
    extract_return_value_int, actions.rs:291-298)."""
    txt = F.unbase64(status["SuccessValue"]).cast("string")
    digits = F.regexp_extract(txt, r'^"([0-9]+)"$', 1)
    return parse_u128(F.when(digits != "", digits))


# ---------------------------------------------------------------------------
# actions table
# ---------------------------------------------------------------------------


def _action_kind(parsed: F.Column, raw: F.Column) -> F.Column:
    """Variant dispatch: struct fields first, then the bare-string unit
    variant (serde serializes ActionView::CreateAccount as "CreateAccount")."""
    expr = F.lit(None).cast("string")
    for field, kind in reversed(schemas.ACTION_KINDS):
        expr = F.when(parsed[field].isNotNull(), F.lit(kind)).otherwise(expr)
    return F.when(raw == '"CreateAccount"', F.lit("CREATE_ACCOUNT")).otherwise(expr)


def extract_actions(units: DataFrame) -> DataFrame:
    """Action-outcome units → 37-column `actions` rows (reference
    FullActionRow, actions.rs:48-92,466-615)."""
    act = (
        units.filter((F.col("phase") == 0) & F.col("receipt.receipt.Action").isNotNull())
        .select(
            "block_height",
            "block_hash",
            "block_timestamp",
            "tx_hash",
            "receipt_index",
            F.col("receipt.receipt_id").alias("receipt_id"),
            F.col("receipt.predecessor_id").alias("predecessor_id"),
            F.col("receipt.receiver_id").alias("account_id"),
            F.col("receipt.receipt.Action").alias("a"),
            F.col("outcome.status").alias("st"),
            F.col("outcome.gas_burnt").alias("gas_burnt"),
            F.col("outcome.tokens_burnt").alias("tokens_burnt_str"),
            F.posexplode("receipt.receipt.Action.actions").alias("action_index", "raw_action"),
        )
        .withColumn("av", F.from_json("raw_action", schemas.ACTION_VIEW))
    )

    fc = F.col("av.FunctionCall")
    args_txt = F.unbase64(fc["args"]).cast("string")  # null unless valid utf8? cast keeps bytes; from_json fails on mojibake
    parsed_args = F.from_json(args_txt, schemas.ARGS_DATA)
    # serde gate: any present account-typed field failing AccountId
    # validation voids the whole ArgsData (reference extract_args_data →
    # serde_json::from_slice::<ArgsData>().ok()? , actions.rs:267-278)
    acct_fields = [
        "account_id",
        "args_new_account_id",
        "args_owner_id",
        "receiver_id",
        "sender_id",
        "nft_contract_id",
    ]
    args_ok = F.lit(True)
    for fld in acct_fields:
        v = parsed_args[fld]
        args_ok = args_ok & (v.isNull() | account_id_valid(v))
    args = F.when(parsed_args.isNotNull() & args_ok, parsed_args)

    perm = F.col("av.AddKey.access_key.permission.FunctionCall")
    kind = _action_kind(F.col("av"), F.col("raw_action"))

    return act.select(
        "block_height",
        "block_hash",
        "block_timestamp",
        F.col("tx_hash").alias("transaction_hash"),
        "receipt_id",
        "receipt_index",
        F.col("action_index").cast("int").alias("action_index"),
        F.col("a.signer_id").alias("signer_id"),
        F.col("a.signer_public_key").alias("signer_public_key"),
        "predecessor_id",
        "account_id",
        _status(F.col("st")).alias("status"),
        kind.alias("action"),
        # exact input serialization of the ActionView (actions.rs:506 uses
        # serde re-serialization; we keep the source bytes — same content)
        F.col("raw_action").alias("action_json"),
        F.coalesce(F.col("a.input_data_ids"), F.array().cast("array<string>")).alias(
            "input_data_ids"
        ),
        b64_field_as_text(F.col("st.SuccessValue")).alias("status_success_value"),
        F.col("st.SuccessReceiptId").alias("status_success_receipt"),
        F.col("st.Failure").alias("status_failure"),
        base58_sha256(F.col("av.DeployContract.code")).alias("contract_hash"),
        F.coalesce(F.col("av.AddKey.public_key"), F.col("av.DeleteKey.public_key")).alias(
            "public_key"
        ),
        perm["receiver_id"].alias("access_key_contract_id"),
        # Transfer/Stake/FunctionCall only — NonrefundableStorageTransfer
        # deliberately excluded (commented out in reference, actions.rs:545-547)
        parse_u128(
            F.coalesce(fc["deposit"], F.col("av.Transfer.deposit"), F.col("av.Stake.stake"))
        ).alias("deposit"),
        parse_u128(F.col("a.gas_price")).alias("gas_price"),
        fc["gas"].alias("attached_gas"),
        F.col("gas_burnt"),
        parse_u128(F.col("tokens_burnt_str")).alias("tokens_burnt"),
        fc["method_name"].alias("method_name"),
        F.when(fc.isNotNull(), utf8_or_base64(F.unbase64(fc["args"]))).alias("args"),
        args["account_id"].alias("args_account_id"),
        args["args_new_account_id"].alias("args_new_account_id"),
        args["args_owner_id"].alias("args_owner_id"),
        args["receiver_id"].alias("args_receiver_id"),
        args["sender_id"].alias("args_sender_id"),
        limit_length(args["token_id"]).alias("args_token_id"),
        parse_u128(args["amount"]).alias("args_amount"),
        parse_u128(args["balance"]).alias("args_balance"),
        args["nft_contract_id"].alias("args_nft_contract_id"),
        limit_length(args["nft_token_id"]).alias("args_nft_token_id"),
        _return_value_int(F.col("st")).alias("return_value_int"),
    )


# ---------------------------------------------------------------------------
# events table
# ---------------------------------------------------------------------------


def extract_events(units: DataFrame) -> DataFrame:
    """Per-log rows with EVENT_JSON parsing (reference actions.rs:400-462;
    parse: actions.rs:300-339). Only the FIRST element of event.data is
    kept; header fields are 64-byte-capped; token_ids filtered to ≤64 bytes
    then truncated to 4 — deliberately lossy, replicated exactly."""
    ev = (
        units.filter((F.col("phase") == 0) & F.col("receipt.receipt.Action").isNotNull())
        .select(
            "block_height",
            "block_hash",
            "block_timestamp",
            "tx_hash",
            "receipt_index",
            F.col("receipt.receipt_id").alias("receipt_id"),
            F.col("receipt.predecessor_id").alias("predecessor_id"),
            F.col("receipt.receiver_id").alias("account_id"),
            F.col("receipt.receipt.Action.signer_id").alias("signer_id"),
            F.col("receipt.receipt.Action.signer_public_key").alias("signer_public_key"),
            F.col("outcome.status").alias("st"),
            F.posexplode("outcome.logs").alias("log_index", "log"),
        )
        .withColumn(
            "evt",
            F.when(
                F.col("log").startswith(EVENT_LOG_PREFIX),
                F.from_json(
                    F.expr(f"substring(log, {len(EVENT_LOG_PREFIX) + 1})"),
                    schemas.EVENT_JSON,
                ),
            ),
        )
        .withColumn(
            # first data object only (actions.rs:408-412); empty data array
            # → no data fields (parse_event sets data=None when get(0) fails)
            "d",
            F.when(F.size("evt.data") >= 1, F.element_at("evt.data", 1)),
        )
    )
    return ev.select(
        "block_height",
        "block_hash",
        "block_timestamp",
        F.col("tx_hash").alias("transaction_hash"),
        "receipt_id",
        "receipt_index",
        F.col("log_index").cast("int").alias("log_index"),
        "signer_id",
        "signer_public_key",
        "predecessor_id",
        "account_id",
        _status(F.col("st")).alias("status"),
        "log",
        limit_length(F.col("evt.version")).alias("version"),
        limit_length(F.col("evt.standard")).alias("standard"),
        limit_length(F.col("evt.event")).alias("event"),
        F.col("d.account_id").alias("data_account_id"),
        F.col("d.owner_id").alias("data_owner_id"),
        F.col("d.old_owner_id").alias("data_old_owner_id"),
        F.col("d.new_owner_id").alias("data_new_owner_id"),
        F.col("d.liquidation_account_id").alias("data_liquidation_account_id"),
        F.col("d.authorized_id").alias("data_authorized_id"),
        F.coalesce(cap_token_ids(F.col("d.token_ids")), F.array().cast("array<string>")).alias(
            "data_token_ids"
        ),
        limit_length(F.col("d.token_id")).alias("data_token_id"),
        F.col("d.position").alias("data_position"),
        parse_u128(F.col("d.amount")).alias("data_amount"),
    )


# ---------------------------------------------------------------------------
# data table
# ---------------------------------------------------------------------------


def extract_data(units: DataFrame) -> DataFrame:
    """Data receipts from chunks → 9-column `data` rows (reference
    FullDataRow, actions.rs:126-137,644-665)."""
    return units.filter(
        (F.col("phase") == 1) & F.col("receipt.receipt.Data").isNotNull()
    ).select(
        "block_height",
        "block_hash",
        "block_timestamp",
        F.col("receipt.receipt_id").alias("receipt_id"),
        "receipt_index",
        F.col("receipt.predecessor_id").alias("predecessor_id"),
        F.col("receipt.receiver_id").alias("account_id"),
        F.col("receipt.receipt.Data.data_id").alias("data_id"),
        b64_field_as_text(F.col("receipt.receipt.Data.data")).alias("data"),
    )


def extract_tables(blocks: DataFrame, track: list | None = None) -> dict[str, DataFrame]:
    """Full actions-mode fan-out: one pass over the unified receipt units,
    three projections. ``units`` is persisted — all three tables are
    separate write actions over it, and without the persist each one
    re-explodes the block tree. Pass ``track`` (a list) to receive it and
    unpersist after the writes (same contract as
    ``transactions.assemble_from_parts``)."""
    units = receipt_units(blocks).persist()
    if track is not None:
        track.append(units)
    return {
        "actions": extract_actions(units),
        "events": extract_events(units),
        "data": extract_data(units),
    }
