"""Transactions-mode assembly: correlate every receipt execution with its
originating transaction across block boundaries, then fan out the 5
explorer tables (reference src/transactions.rs:175-441,524-675; SURVEY.md
§2A #22-#26,#28 — the reference's one genuinely stateful computation).

The reference threads a mutable TxCache (receipt_id→tx_hash map + pending
transactions) through a strictly ordered block stream. Batch-first Spark
re-expression: the receipt→tx relation is the **transitive closure of the
spawn graph** seeded by chunk transactions —

    M₀ = {(r, tx) : r ∈ tx.outcome.receipt_ids}            (pass-1 seed)
    Mᵢ₊₁ = Mᵢ ∪ {(child, tx) : (r, tx) ∈ Mᵢ,
                   child ∈ outcome(r).receipt_ids}          (pass-2 routing)

iterated to fixpoint (NEAR receipt DAGs are shallow — depth ≈ promise-chain
length, so a handful of joins; each join shuffles on uniformly-hashed
receipt ids, no skew). :func:`spawn_closure` is the one implementation of
that iteration: backfill runs it from the seed pairs (:func:`receipt_to_tx`),
and the streaming router (streaming/keyed_assembly.py) runs it per
micro-batch from its carried routing state ∪ the batch's seed pairs — the
incremental query is the batch query over the new data. Every per-tx
property the reference accumulates imperatively is then a groupBy over the
mapped units:

- pending_receipt_ids empty  ⇔  every mapped receipt has an outcome row
  (and every consumed data_id has a data receipt) — the completeness gate
- blocks list  ⇔  sorted distinct {tx block} ∪ {outcome blocks}
- receipts/data_receipts arrays  ⇔  collect_list sorted by processing
  order (block, shard, position)

The streaming form (streaming/keyed_assembly.py) carries the TxCache
relations in versioned state, completes transactions in a keyed-state
assembler and writes them through the shared :func:`fan_out`; the
reference's catch-up/panic policy (#23) maps to the ``incomplete`` output
instead of a panic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from clickhouse_provider_spark import schemas
from clickhouse_provider_spark.functions import account_id_valid
from clickhouse_provider_spark.operators import checkpoint

POTENTIAL_ACCOUNT_ARGS = [  # reference transactions.rs:21-41
    "receiver_id",
    "account_id",
    "sender_id",
    "new_account_id",
    "predecessor_account_id",
    "contract_id",
    "owner_id",
    "token_owner_id",
    "nft_contract_id",
    "token_account_id",
    "creator_id",
    "referral_id",
    "previous_owner_id",
    "seller_id",
    "buyer_id",
    "user_id",
    "beneficiary_id",
    "staking_pool_account_id",
    "owner_account_id",
]

POTENTIAL_EVENTS_ARGS = [  # reference transactions.rs:43-54
    "account_id",
    "owner_id",
    "old_owner_id",
    "new_owner_id",
    "payer_id",
    "farmer_id",
    "validator_id",
    "liquidation_account_id",
    "contract_id",
    "nft_contract_id",
]

EVENT_PREFIX = "EVENT_JSON:"


# ---------------------------------------------------------------------------
# building blocks
# ---------------------------------------------------------------------------


def block_rows(blocks: DataFrame) -> DataFrame:
    """`blocks` table (reference BlockRow, transactions.rs:106-118,197-208)
    — emitted per block regardless of transactions."""
    h = F.col("block.header")
    return blocks.select(
        h["height"].alias("block_height"),
        h["hash"].alias("block_hash"),
        h["timestamp"].alias("block_timestamp"),
        h["prev_height"].alias("prev_block_height"),
        h["epoch_id"].alias("epoch_id"),
        h["chunks_included"].alias("chunks_included"),
        h["prev_hash"].alias("prev_block_hash"),
        F.col("block.author").alias("author_id"),
        h["signature"].alias("signature"),
        h["latest_protocol_version"].alias("protocol_version"),
    )


CONTINUITY_BUCKET = 1_000_000  # heights per continuity partition


def chain_violations(blocks: DataFrame, bucket: int = CONTINUITY_BUCKET) -> DataFrame:
    """Chain-continuity assertion over raw blocks (reference asserts
    prev_hash linkage, transactions.rs:185-191 / main.rs:161-170); see
    :func:`link_violations`."""
    h = F.col("block.header")
    return link_violations(
        blocks.select(
            h["height"].alias("block_height"),
            h["hash"].alias("block_hash"),
            h["prev_hash"].alias("prev_hash"),
        ),
        bucket,
    )


def link_violations(links: DataFrame, bucket: int = CONTINUITY_BUCKET) -> DataFrame:
    """The continuity check as a relation over ``(block_height,
    block_hash, prev_hash)`` rows: rows where a block's prev_hash does
    not match the previous stored block's hash. A missing height also
    surfaces (its successor's prev_hash can't match the hash of the
    block before the gap). Shared by :func:`chain_violations` (raw
    blocks) and ``maintenance.detect_fork`` (the stored blocks table).

    Fully parallel at 100 TB: the lag window is partitioned by height
    bucket (never a single-task global sort); bucket boundaries are
    checked over the tiny per-bucket summary relation (one row per
    non-empty bucket, so its ordered window is a bounded single task
    over ~n_blocks/bucket rows)."""
    df = links.withColumn("bucket", F.floor(F.col("block_height") / F.lit(bucket)))

    w = W.partitionBy("bucket").orderBy("block_height")
    within = (
        df.withColumn("expected", F.lag("block_hash").over(w))
        .filter(F.col("expected").isNotNull() & (F.col("expected") != F.col("prev_hash")))
        .select("block_height", "prev_hash", F.col("expected").alias("actual_prev_hash"))
    )

    summary = df.groupBy("bucket").agg(
        F.min_by(F.struct("block_height", "prev_hash"), "block_height").alias("first"),
        F.max_by(F.struct("block_height", "block_hash"), "block_height").alias("last"),
    )
    # one row per non-empty bucket — a deliberately single-partition window
    # over a provably tiny relation (~n_blocks/bucket rows); bucket % 1 is a
    # constant partition key Catalyst won't fold away
    wb = W.partitionBy(F.col("bucket") % F.lit(1)).orderBy("bucket")
    boundary = (
        summary.withColumn("prev_last", F.lag("last").over(wb))
        .filter(
            F.col("prev_last").isNotNull()
            & (F.col("prev_last.block_hash") != F.col("first.prev_hash"))
        )
        .select(
            F.col("first.block_height").alias("block_height"),
            F.col("first.prev_hash").alias("prev_hash"),
            F.col("prev_last.block_hash").alias("actual_prev_hash"),
        )
    )
    return within.unionByName(boundary)


def tx_seeds(blocks: DataFrame) -> DataFrame:
    """Pass-1 seed: one row per chunk transaction (reference
    transactions.rs:216-243): opens the pending transaction and registers
    its outcome's receipt_ids."""
    h = F.col("block.header")
    return (
        blocks.select(
            h["height"].alias("tx_block_height"),
            h["hash"].alias("tx_block_hash"),
            h["timestamp"].alias("tx_block_timestamp"),
            F.posexplode("shards").alias("shard_pos", "shard"),
        )
        .select(
            "tx_block_height",
            "tx_block_hash",
            "tx_block_timestamp",
            "shard_pos",
            F.posexplode("shard.chunk.transactions").alias("pos", "t"),
        )
        .select(
            "tx_block_height",
            "tx_block_hash",
            "tx_block_timestamp",
            "shard_pos",
            "pos",
            F.col("t.transaction.hash").alias("tx_hash"),
            F.col("t.transaction.signer_id").alias("signer_id"),
            F.col("t.transaction").alias("transaction"),
            F.col("t.outcome.execution_outcome").alias("tx_outcome"),
            F.coalesce(
                F.col("t.outcome.execution_outcome.outcome.receipt_ids"),
                F.array().cast("array<string>"),
            ).alias("seed_receipt_ids"),
        )
    )


def outcome_units(blocks: DataFrame) -> DataFrame:
    """Pass-2 stream: every non-Data receipt execution outcome with its
    spawned receipt_ids and processing-order key.

    Keeps GlobalContractDistribution outcomes alongside Action outcomes —
    the reference pushes GCD receipts into the tx's receipts list, clears
    them from pending and extends pending with their spawned ids
    (transactions.rs:327-352); only Data receipts take the separate
    buffered path. (Actions-mode drops GCD — actions.rs:627 — which is a
    different, deliberate rule in operators/actions.py.)"""
    h = F.col("block.header")
    return (
        blocks.select(
            h["height"].alias("block_height"),
            h["hash"].alias("block_hash"),
            h["timestamp"].alias("block_timestamp"),
            F.posexplode("shards").alias("shard_pos", "shard"),
        )
        .select(
            "block_height",
            "block_hash",
            "block_timestamp",
            "shard_pos",
            F.posexplode("shard.receipt_execution_outcomes").alias("pos", "u"),
        )
        .filter(F.col("u.receipt.receipt.Data").isNull())
        .select(
            "block_height",
            "block_hash",
            "block_timestamp",
            "shard_pos",
            "pos",
            F.col("u.receipt.receipt_id").alias("receipt_id"),
            F.col("u.receipt").alias("receipt"),
            F.col("u.execution_outcome").alias("execution_outcome"),
            F.coalesce(
                F.col("u.execution_outcome.outcome.receipt_ids"),
                F.array().cast("array<string>"),
            ).alias("spawned_receipt_ids"),
            F.coalesce(
                F.col("u.receipt.receipt.Action.input_data_ids"),
                F.array().cast("array<string>"),
            ).alias("input_data_ids"),
        )
    )


def data_receipt_units(blocks: DataFrame) -> DataFrame:
    """Buffered data receipts keyed by data_id (reference
    insert_data_receipt, transactions.rs:612-654). Duplicate data_id →
    FIRST in processing order wins (the reference keeps the old receipt
    and requires both to be promise_resume; the is-promise-resume pair
    invariant is surfaced by data_receipt_violations)."""
    h = F.col("block.header")
    dr = (
        blocks.select(
            h["height"].alias("block_height"),
            F.posexplode("shards").alias("shard_pos", "shard"),
        )
        .select("block_height", "shard_pos", F.posexplode("shard.chunk.receipts").alias("pos", "r"))
        .filter(F.col("r.receipt.Data").isNotNull())
        .select(
            "block_height",
            "shard_pos",
            "pos",
            F.col("r.receipt.Data.data_id").alias("data_id"),
            F.col("r.receipt_id").alias("receipt_id"),
            F.col("r").alias("receipt"),
            F.col("r.receipt.Data.is_promise_resume").alias("is_promise_resume"),
        )
    )
    return dedup_data_units(dr)


def dedup_data_units(dr: DataFrame) -> DataFrame:
    """First copy per data_id in processing order (also used by streaming
    after unioning carried-over state with a new batch)."""
    w = W.partitionBy("data_id").orderBy("block_height", "shard_pos", "pos")
    return dr.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")


def data_receipt_violations(blocks: DataFrame) -> DataFrame:
    """Dead-letter analog of the duplicate-data_id assertion (reference
    transactions.rs:632-640): duplicates with different receipt_ids where
    either copy is not promise_resume."""
    h = F.col("block.header")
    dr = (
        blocks.select(h["height"].alias("block_height"), F.explode("shards").alias("shard"))
        .select("block_height", F.explode("shard.chunk.receipts").alias("r"))
        .filter(F.col("r.receipt.Data").isNotNull())
        .select(
            F.col("r.receipt.Data.data_id").alias("data_id"),
            F.col("r.receipt_id").alias("receipt_id"),
            F.col("r.receipt.Data.is_promise_resume").alias("is_promise_resume"),
        )
    )
    agg = dr.groupBy("data_id").agg(
        F.countDistinct("receipt_id").alias("n_receipts"),
        F.min(F.col("is_promise_resume").cast("int")).alias("all_resume"),
    )
    return agg.filter((F.col("n_receipts") > 1) & (F.col("all_resume") == 0)).select(
        "data_id", "n_receipts", F.lit("duplicate_data_id_not_promise_resume").alias("violation")
    )


def seed_pairs(seeds: DataFrame) -> DataFrame:
    """M₀ (module doc): distinct (receipt_id, tx_hash) for every receipt
    a chunk transaction's outcome registers."""
    return seeds.select(
        F.explode("seed_receipt_ids").alias("receipt_id"), "tx_hash"
    ).distinct()


def spawn_edges(outcomes: DataFrame) -> DataFrame:
    """The spawn graph: (receipt_id, child_id) for every receipt an
    execution outcome spawns."""
    return outcomes.select(
        "receipt_id", F.explode("spawned_receipt_ids").alias("child_id")
    )


def spawn_closure(
    start: DataFrame, spawns: DataFrame, track: list | None = None
) -> tuple[DataFrame, DataFrame]:
    """The transitive-closure fixpoint (module doc): extend the
    (receipt_id, tx_hash) mapping ``start`` along ``spawns``
    (:func:`spawn_edges`) until no new pair appears. Returns the full
    mapping and the pairs added to ``start``.

    Each round is one shuffle join frontier⋈spawns on receipt_id;
    localCheckpoint cuts the growing lineage. Rounds = receipt-DAG depth
    (promise chains), independent of data volume. The loop terminates:
    the left-anti join against the mapping means every round that does
    not stop adds at least one new pair, out of the finite set of
    (spawned receipt, tx) pairs.

    ``track`` (a list) receives every checkpoint made here, the returned
    relations included; free them with ``operators.release`` once the
    last action over them has run (their lineage ends at them)."""
    mapping = checkpoint(start, track)
    frontier = mapping
    added = mapping.limit(0)
    while True:
        children = checkpoint(
            frontier.join(spawns, "receipt_id")
            .select(F.col("child_id").alias("receipt_id"), "tx_hash")
            .distinct()
            .join(mapping, ["receipt_id", "tx_hash"], "left_anti"),
            track,
        )
        if children.isEmpty():
            return mapping, added
        mapping = checkpoint(mapping.union(children), track)
        added = added.union(children)
        frontier = children


def receipt_to_tx(
    seeds: DataFrame, outcomes: DataFrame, track: list | None = None
) -> DataFrame:
    """(receipt_id, tx_hash) for every receipt reachable from a seed
    transaction: :func:`spawn_closure` from the seed pairs. ``track``: as
    there."""
    return spawn_closure(seed_pairs(seeds), spawn_edges(outcomes), track)[0]


def mapping_violations(mapping: DataFrame) -> DataFrame:
    """A receipt must map to exactly one transaction (reference
    insert_receipt_to_tx assert, transactions.rs:596-606)."""
    return (
        mapping.groupBy("receipt_id")
        .agg(F.countDistinct("tx_hash").alias("n_txs"))
        .filter(F.col("n_txs") > 1)
        .select("receipt_id", "n_txs", F.lit("receipt_maps_to_multiple_txs").alias("violation"))
    )


# ---------------------------------------------------------------------------
# account extraction (reference transactions.rs:393-406,524-567)
# ---------------------------------------------------------------------------


def _json_string_value(json_col: str, key: str) -> F.Column:
    """Value of top-level ``key`` ONLY when serialized as a JSON string —
    the reference's ``value.as_str()`` gate (transactions.rs:527).
    get_json_object/from_json stringify numbers ("user_id": 12345 →
    '12345'), and NEAR's grammar accepts all-digit names, so numeric
    values must not produce accounts. schema_of_variant exposes the
    serialized type JVM-side."""
    v = F.expr(f"try_variant_get({json_col}, '$.{key}')")
    return F.when(
        F.schema_of_variant(v) == "STRING",
        F.expr(f"try_variant_get({json_col}, '$.{key}', 'string')"),
    )


def _accounts_from_units(mapped_outcomes: DataFrame) -> DataFrame:
    """(tx_hash, account_id) candidates from receipts: receiver +
    FunctionCall-args keys + EVENT_JSON data keys, all AccountId-validated
    and accepted only when the JSON value is a string (reference
    transactions.rs:527)."""
    receivers = mapped_outcomes.select(
        "tx_hash", F.col("receipt.receiver_id").alias("account_id")
    )

    args_txt = F.unbase64(
        F.from_json(F.col("raw_action"), schemas.ACTION_VIEW)["FunctionCall"]["args"]
    ).cast("string")
    args_accounts = (
        mapped_outcomes.select(
            "tx_hash",
            F.explode(
                F.coalesce(
                    F.col("receipt.receipt.Action.actions"), F.array().cast("array<string>")
                )
            ).alias("raw_action"),
        )
        .select("tx_hash", args_txt.alias("args"))
        .filter(F.col("args").isNotNull())
        .select("tx_hash", F.expr("try_parse_json(args)").alias("vargs"))
        .select(
            "tx_hash",
            F.explode(
                F.array(
                    *[_json_string_value("vargs", k) for k in POTENTIAL_ACCOUNT_ARGS]
                )
            ).alias("account_id"),
        )
    )

    event_schema = "version string, standard string, event string, data array<string>"
    ev = (
        mapped_outcomes.select(
            "tx_hash",
            F.explode(
                F.coalesce(F.col("execution_outcome.outcome.logs"), F.array().cast("array<string>"))
            ).alias("log"),
        )
        .filter(F.col("log").startswith(EVENT_PREFIX))
        .select(
            "tx_hash",
            F.from_json(F.expr(f"substring(log, {len(EVENT_PREFIX) + 1})"), event_schema).alias("e"),
        )
        # EventJson requires all four fields (non-Option struct,
        # transactions.rs:57-63) — partial events contribute nothing
        .filter(
            F.col("e.version").isNotNull()
            & F.col("e.standard").isNotNull()
            & F.col("e.event").isNotNull()
            & F.col("e.data").isNotNull()
        )
        .select("tx_hash", F.explode("e.data").alias("d"))  # ALL data elements
        .select("tx_hash", F.expr("try_parse_json(d)").alias("vd"))
        .select(
            "tx_hash",
            F.explode(
                F.array(*[_json_string_value("vd", k) for k in POTENTIAL_EVENTS_ARGS])
            ).alias("account_id"),
        )
    )

    return (
        receivers.unionByName(args_accounts)
        .unionByName(ev)
        .filter(account_id_valid(F.col("account_id")))
        .distinct()
    )


# ---------------------------------------------------------------------------
# assembly
# ---------------------------------------------------------------------------


def _parsed_actions(arr: F.Column) -> F.Column:
    return F.transform(
        F.coalesce(arr, F.array().cast("array<string>")),
        lambda s: F.from_json(s, schemas.ACTION_VIEW),
    )


def _improved_outcome(eo: F.Column, block_timestamp: F.Column, block_height: F.Column) -> F.Column:
    """ImprovedExecutionOutcome (reference types.rs:14-38): stamp block
    info, scrub metadata.gas_profile."""
    return F.struct(
        eo["block_hash"].alias("block_hash"),
        block_timestamp.alias("block_timestamp"),
        block_height.alias("block_height"),
        eo["id"].alias("id"),
        eo["outcome"]
        .withField("metadata.gas_profile", F.lit(None).cast("string"))
        .alias("outcome"),
    )


def assemble(blocks: DataFrame, track: list | None = None) -> dict[str, DataFrame]:
    """Full transactions-mode fan-out. Returns the 5 tables plus the
    ``incomplete`` relation (txs whose receipt closure isn't finished in
    this batch — the reference would keep them in TxCache). ``track``:
    see :func:`assemble_from_parts`."""
    out = assemble_from_parts(
        tx_seeds(blocks),
        outcome_units(blocks),
        data_receipt_units(blocks),
        block_rows(blocks).select("block_height", "block_hash", "block_timestamp"),
        track=track,
    )
    out["blocks"] = block_rows(blocks)
    return out


def assemble_from_parts(
    seeds: DataFrame,
    outcomes: DataFrame,
    data_units: DataFrame,
    block_info: DataFrame,
    track: list | None = None,
) -> dict[str, DataFrame]:
    """Assembly over pre-extracted relations (:func:`assemble` extracts
    them from blocks; the bench times this half over materialized parts).
    ``block_info``: (block_height, block_hash, block_timestamp) for every
    block a tx may span.

    Shared intermediates (the receipt→tx mapping, the consumed-data
    relation, the complete-tx seed slice, and :func:`fan_out`'s correlated
    units) are persisted MEMORY_AND_DISK: every returned table is a
    separate action over them.

    Cache lifecycle (ADVICE r10, same contract as
    ``dedup.jaccard_pairs``): pass ``track`` (a list) to receive every
    persisted intermediate and every checkpoint of the
    :func:`receipt_to_tx` fixpoint, and free them with
    ``operators.release`` after the consuming actions — long-running
    callers (``storage.ingest_batch`` per commit, the bench loop) MUST,
    or the CacheManager accumulates four cached plans and the block
    manager a few checkpoints per batch for the life of the session.
    One-shot batch callers may omit ``track``; their caches die with the
    session."""
    # persist() returns the fixpoint's last checkpoint itself, which
    # receipt_to_tx has already put on ``track``
    mapping = receipt_to_tx(seeds, outcomes, track=track).persist()

    mapped = outcomes.join(mapping, "receipt_id", "left")

    # data-receipt consumption: consumer's input_data_ids → data_id
    consume = mapped.select(
        "tx_hash",
        "block_height",
        "shard_pos",
        "pos",
        F.col("receipt_id").alias("consumer_receipt_id"),
        F.posexplode("input_data_ids").alias("dep_pos", "data_id"),
    )
    consumed_data = consume.join(
        data_units.select("data_id", "receipt_id", "receipt"), "data_id", "left"
    ).persist()
    if track is not None:
        track.append(consumed_data)

    # completeness: every mapped receipt has an outcome; every consumed
    # data_id has a data receipt
    mapped_counts = mapping.groupBy("tx_hash").agg(F.count("*").alias("n_mapped"))
    outcome_counts = (
        mapped.filter(F.col("tx_hash").isNotNull())
        .groupBy("tx_hash")
        .agg(F.count("*").alias("n_executed"))
    )
    missing_data = (
        consumed_data.filter(F.col("receipt_id").isNull())
        .select("tx_hash")
        .distinct()
        .withColumn("missing_data", F.lit(True))
    )
    completeness = (
        mapped_counts.join(outcome_counts, "tx_hash", "left")
        .join(missing_data, "tx_hash", "left")
        .withColumn(
            "complete",
            (F.col("n_mapped") > 0)  # a tx with no receipts never completes
            & (F.coalesce(F.col("n_executed"), F.lit(0)) == F.col("n_mapped"))
            & F.col("missing_data").isNull(),
        )
    )

    complete_txs = seeds.join(
        completeness.filter("complete").select("tx_hash"), "tx_hash", "left_semi"
    ).persist()
    if track is not None:
        track.append(complete_txs)
    incomplete = seeds.join(
        completeness.filter("complete").select("tx_hash"), "tx_hash", "left_anti"
    ).select("tx_hash", "tx_block_height", "signer_id")

    out = fan_out(
        complete_txs,
        mapped.filter(F.col("tx_hash").isNotNull()),
        consumed_data,
        block_info,
        track=track,
    )
    out["incomplete"] = incomplete
    return out


def fan_out(
    complete_txs: DataFrame,
    mapped_units: DataFrame,
    consumed_data: DataFrame,
    block_info: DataFrame,
    track: list | None = None,
) -> dict[str, DataFrame]:
    """The 4-table fan-out over already-correlated units of COMPLETE txs
    (reference commit path, transactions.rs:354-441). Shared by the batch
    assembly (:func:`assemble_from_parts`) and the keyed-state streaming
    assembler — both produce the same relations; the receipt→tx closure
    is :func:`spawn_closure` in both, only the completion gate differs
    (one relational pass here, per-key state there).

    ``complete_txs``: tx_seeds rows filtered to complete transactions.
    ``mapped_units``: outcome_units columns + ``tx_hash`` (complete or
    not — filtered here by the join against complete seeds).
    ``consumed_data``: one row per (consumer, data_id) dependency with the
    consumer's sort key (block_height, shard_pos, pos, dep_pos), the
    matched data receipt's ``receipt_id``/``receipt`` (null when missing).
    ``track``: receives the persisted correlated units, as in
    :func:`assemble_from_parts`.
    """
    done = complete_txs.select(
        "tx_hash", "tx_block_height", "tx_block_hash", "tx_block_timestamp", "signer_id"
    )

    # the outputs all hang off these relations — persist so each output
    # action reuses them instead of re-running the upstream subgraph per
    # table (measured ~2x on the full fan-out)
    m = mapped_units.join(done, "tx_hash", "inner").persist()
    if track is not None:
        track.append(m)

    # ---- receipt_txs: action receipts + attached data receipts ----------
    receipt_txs = m.select(
        "receipt_id",
        F.col("tx_hash").alias("transaction_hash"),
        "signer_id",
        "tx_block_height",
        "tx_block_timestamp",
    ).unionByName(
        consumed_data.filter(F.col("receipt_id").isNotNull())
        .join(done, "tx_hash", "inner")
        .select(
            "receipt_id",
            F.col("tx_hash").alias("transaction_hash"),
            "signer_id",
            "tx_block_height",
            "tx_block_timestamp",
        )
    )

    # ---- block_txs: one row per (tx, spanned block) ---------------------
    spanned = (
        m.select("tx_hash", "block_height")
        .unionByName(
            complete_txs.select("tx_hash", F.col("tx_block_height").alias("block_height"))
        )
        .distinct()
    )
    block_txs = (
        spanned.join(block_info, "block_height")
        .join(done, "tx_hash")
        .select(
            "block_height",
            "block_hash",
            "block_timestamp",
            F.col("tx_hash").alias("transaction_hash"),
            "signer_id",
            "tx_block_height",
        )
    )

    # ---- account_txs ----------------------------------------------------
    accounts = _accounts_from_units(m).unionByName(
        complete_txs.select("tx_hash", F.col("signer_id").alias("account_id"))
    ).distinct()
    account_txs = accounts.join(done, "tx_hash").select(
        "account_id",
        F.col("tx_hash").alias("transaction_hash"),
        "signer_id",
        "tx_block_height",
        "tx_block_timestamp",
    )

    # ---- transactions: the assembled TransactionView JSON ---------------
    last_heights = m.groupBy("tx_hash").agg(F.max("block_height").alias("last_block_height"))

    receipt_structs = m.select(
        "tx_hash",
        F.struct(
            F.col("block_height"),
            F.col("shard_pos"),
            F.col("pos"),
            F.struct(
                _improved_outcome(
                    F.col("execution_outcome"), F.col("block_timestamp"), F.col("block_height")
                ).alias("execution_outcome"),
                # render raw action strings as parsed objects in the JSON
                # blob (reference embeds serde-serialized ActionViews)
                F.col("receipt")
                .withField(
                    "receipt.Action.actions",
                    _parsed_actions(F.col("receipt.receipt.Action.actions")),
                )
                .alias("receipt"),
            ).alias("v"),
        ).alias("s"),
    )
    receipts_arr = receipt_structs.groupBy("tx_hash").agg(
        F.transform(
            F.array_sort(F.collect_list("s")), lambda s: s["v"]
        ).alias("receipts")
    )

    data_structs = (
        consumed_data.filter(F.col("receipt_id").isNotNull())
        .select(
            "tx_hash",
            F.struct(
                F.col("block_height"), F.col("shard_pos"), F.col("pos"), F.col("dep_pos"),
                F.col("receipt").alias("v"),
            ).alias("s"),
        )
        .groupBy("tx_hash")
        .agg(F.transform(F.array_sort(F.collect_list("s")), lambda s: s["v"]).alias("data_receipts"))
    )

    from pyspark.sql import types as T

    empty_data = F.array().cast(T.ArrayType(schemas.RECEIPT_VIEW))
    tx_view = (
        complete_txs.join(receipts_arr, "tx_hash")  # complete ⇒ ≥1 receipt
        .join(data_structs, "tx_hash", "left")
        .join(last_heights, "tx_hash")
        .withColumn(
            "transaction_view",
            F.struct(
                F.col("transaction")
                .withField("actions", _parsed_actions(F.col("transaction.actions")))
                .alias("transaction"),
                _improved_outcome(
                    F.col("tx_outcome"), F.col("tx_block_timestamp"), F.col("tx_block_height")
                ).alias("execution_outcome"),
                F.col("receipts"),
                F.coalesce(F.col("data_receipts"), empty_data).alias("data_receipts"),
            ),
        )
    )

    transactions = tx_view.select(
        F.col("tx_hash").alias("transaction_hash"),
        "signer_id",
        "tx_block_height",
        "tx_block_hash",
        "tx_block_timestamp",
        F.to_json("transaction_view").alias("transaction"),
        F.col("last_block_height"),
    )

    return {
        "transactions": transactions,
        "account_txs": account_txs,
        "block_txs": block_txs,
        "receipt_txs": receipt_txs,
    }


