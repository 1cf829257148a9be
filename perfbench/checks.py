"""Output checks against the generator's ground truth and stored oracles.

Checks work on plain Python snapshots of what the program produced, so
the self-test can feed them a deliberately wrong snapshot. Each check
returns a list of failure messages; an empty list means the output is
correct.
"""

from __future__ import annotations

import hashlib
import os

from chaingen import Truth

#: tables whose dedup-on-read view is checked against the raw files:
#: one per operator family plus the blocks table
KEYED_TABLES = ("actions", "transactions", "blocks")


def snapshot_warehouse(spark, warehouse: str, raw_counts: bool) -> dict:
    """Collect what the checks need from a produced warehouse."""
    from pyspark.sql import functions as F

    from clickhouse_provider_spark import storage
    from clickhouse_provider_spark.schemas import SORT_KEYS

    def rows(name, *cols):
        return [tuple(r) for r in storage.read_table(spark, warehouse, name).select(*cols).collect()]

    snap = {
        "transactions": rows("transactions", "transaction_hash", "signer_id", "tx_block_height"),
        "receipt_txs": rows("receipt_txs", "receipt_id", "transaction_hash"),
        "block_txs": rows("block_txs", "block_height", "transaction_hash"),
        "blocks": sorted(r[0] for r in rows("blocks", "block_height")),
        "actions": storage.read_table(spark, warehouse, "actions").count(),
        "valid_events": storage.read_table(spark, warehouse, "events")
        .filter(F.col("event").isNotNull())
        .count(),
        "data": storage.read_table(spark, warehouse, "data").count(),
        "keys": {},
        "dead_letters": {
            name: spark.read.parquet(path).count()
            for name in ("unresolved_receipts", "expired_tx_units")
            if os.path.isdir(path := os.path.join(warehouse, name))
        },
    }
    for name in KEYED_TABLES if raw_counts else ():
        view = storage.read_table(spark, warehouse, name)
        rows, distinct = view.agg(
            F.count(F.lit(1)), F.count_distinct(F.struct(*SORT_KEYS[name]))
        ).first()
        snap["keys"][name] = {
            "raw": spark.read.parquet(os.path.join(warehouse, name)).count(),
            "rows": rows,
            "distinct": distinct,
        }
    return snap


def check_warehouse(snap: dict, truth: Truth, expect_replay: bool) -> list[str]:
    """Tables against the truth; with ``expect_replay`` also the dedup
    view against the raw files of a replayed ingest."""
    errs = []
    want_txs = {h: (t["signer"], t["height"]) for h, t in truth.txs.items()}
    got_txs = {h: (s, b) for h, s, b in snap["transactions"]}
    if len(snap["transactions"]) != len(got_txs):
        errs.append("transactions: a hash appears more than once")
    if got_txs != want_txs:
        missing = set(want_txs) - set(got_txs)
        extra = set(got_txs) - set(want_txs)
        wrong = {h for h in set(want_txs) & set(got_txs) if want_txs[h] != got_txs[h]}
        errs.append(
            f"transactions: {len(missing)} missing, {len(extra)} unexpected, "
            f"{len(wrong)} with a wrong signer or height"
        )
    got_rtx = dict(snap["receipt_txs"])
    if len(got_rtx) != len(snap["receipt_txs"]) or got_rtx != truth.receipt_tx:
        errs.append(
            f"receipt_txs: {len(snap['receipt_txs'])} rows, "
            f"{sum(1 for r, t in truth.receipt_tx.items() if got_rtx.get(r) != t)} "
            f"of {len(truth.receipt_tx)} receipts unmapped or mapped wrongly"
        )
    want_btx = {(b, h) for h, t in truth.txs.items() for b in t["blocks"]}
    if set(snap["block_txs"]) != want_btx or len(snap["block_txs"]) != len(want_btx):
        errs.append(f"block_txs: {len(snap['block_txs'])} rows, want {len(want_btx)}")
    want_blocks = list(range(truth.first_height, truth.last_height + 1))
    if snap["blocks"] != want_blocks:
        errs.append(f"blocks: {len(snap['blocks'])} rows, want {len(want_blocks)}")
    for name, want in (
        ("actions", truth.executed_actions),
        ("valid_events", truth.valid_events),
        ("data", truth.data_receipts),
    ):
        if snap[name] != want:
            errs.append(f"{name}: {snap[name]} rows, want {want}")
    for name, rows in snap["dead_letters"].items():
        if rows:
            errs.append(f"dead-letter table {name} holds {rows} rows")
    for name, k in snap["keys"].items():
        if k["rows"] != k["distinct"]:
            errs.append(f"{name}: read_table yields {k['rows']} rows for {k['distinct']} sort keys")
    if expect_replay:
        if not snap["keys"]:
            errs.append("replay check: no raw counts collected")
        elif all(k["raw"] == k["rows"] for k in snap["keys"].values()):
            errs.append("replay check: raw files hold no duplicate sort keys")
    return errs


def _ordered(rows: list[dict], cols: tuple) -> bool:
    keys = [tuple(r[c] for c in cols) for r in rows]
    return keys == sorted(keys)


def check_call(call: dict, truth: Truth) -> list[str]:
    """One serving call's rows against the truth or its properties.

    ``call``: {"fn": name, "args": {...}, "rows": [dict, ...]}."""
    fn, a, rows = call["fn"], call["args"], call["rows"]
    where = f"{fn}({', '.join(f'{k}={v}' for k, v in a.items())})"
    if fn == "tx_by_hash":
        t = truth.txs[a["tx_hash"]]
        ok = len(rows) == 1 and (rows[0]["signer_id"], rows[0]["tx_block_height"]) == (
            t["signer"],
            t["height"],
        )
    elif fn == "receipt_to_tx_lookup":
        ok = [r["transaction_hash"] for r in rows] == [truth.receipt_tx[a["receipt_id"]]]
    elif fn == "block_transactions":
        want = {h for h, t in truth.txs.items() if a["block_height"] in t["blocks"]}
        got = [r["transaction_hash"] for r in rows]
        ok = len(got) == len(want) and set(got) == want
    elif fn == "account_history":
        got = [(r["tx_block_height"], r["transaction_hash"]) for r in rows]
        signed = [s for s in truth.signed_by(a["account_id"]) if s[0] > a["after_height"]]
        if len(got) == a["limit"]:
            signed = [s for s in signed if s <= got[-1]]
        ok = (
            len(got) <= a["limit"]
            and got == sorted(got)
            and all(r["account_id"] == a["account_id"] and r["tx_block_height"] > a["after_height"] for r in rows)
            and set(signed) <= set(got)
        )
    elif fn == "account_actions_range":
        heights = truth.account_action_heights.get(a["account_id"], [])
        n = sum(1 for h in heights if a["from_height"] <= h <= a["to_height"])
        ok = (
            len(rows) == min(n, a["limit"])
            and _ordered(rows, ("block_height", "receipt_index", "action_index"))
            and all(
                r["account_id"] == a["account_id"]
                and a["from_height"] <= r["block_height"] <= a["to_height"]
                for r in rows
            )
        )
    elif fn == "events_by_name":
        ok = (
            len(rows) == min(truth.events_by_name[a["event"]], a["limit"])
            and _ordered(rows, ("block_height", "account_id", "receipt_index", "log_index"))
            and all(r["event"] == a["event"] for r in rows)
        )
    elif fn == "method_call_stats":
        got = {r["method_name"]: [r["n_calls"], int(r["total_gas_burnt"]), r["n_contracts"]] for r in rows}
        want = {m: [c, g, len(accts)] for m, (c, g, accts) in truth.method_calls.items()}
        ok = got == want
    elif fn == "per_block_counts":
        counts = truth.block_tx_counts()
        got = {r["block_height"]: r["num_transactions"] for r in rows}
        want = {h: counts.get(h, 0) for h in range(truth.first_height, truth.last_height + 1)}
        ok = len(rows) == len(want) and got == want
    elif fn == "latest_block":
        ok = [r["block_height"] for r in rows] == [truth.last_height]
    else:
        return [f"{where}: no check for this function"]
    return [] if ok else [f"{where}: wrong result ({len(rows)} rows)"]


def value_hash(pdf) -> str:
    """Order-insensitive value hash of a result, using the repository's
    DuckDB-parity normalisation."""
    from tools.parity import canon

    cols, rows = canon(pdf)
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return h.hexdigest()
