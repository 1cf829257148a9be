"""Seeded NEAR-shaped chain generator with its ground truth.

The program under test only ever sees the block files this module writes;
the ground truth is computed here, from the generator's own bookkeeping,
never by running the program.

Shape of a chain (``seed``, ``n_blocks``, ``txs_per_block``):

- block 0 is a fixed, empty block (no chunks' transactions, no receipts)
  whatever the seed: a warehouse built from it alone is the cold-start
  warehouse of the benchmark's known-fault reads;
- every other block until ``n_blocks - MAX_SPAN - 1`` opens about
  ``txs_per_block`` transactions spread over ``SHARDS`` shards;
- each transaction's root receipt executes 0-2 blocks after the
  transaction, and receipts spawn children (depth <= 3, fan-out <= 2)
  that execute 1-2 blocks after their parent, so receipt trees cross
  block boundaries;
- a quarter of the receipts consume a data receipt that lands one block
  before, in the same block as, or one block after its consumer;
- function calls carry JSON args naming other accounts, and outcomes log
  valid NEP-141/NEP-171 ``EVENT_JSON`` lines, malformed ``EVENT_JSON``
  lines and plain lines.

Every transaction finishes within ``MAX_SPAN`` blocks of its opening
block, and all its receipts land inside the chain, so a batch ingest of
the whole chain completes every transaction.

Run as a script to write a chain and its truth to a directory::

    python3 perfbench/chaingen.py --seed 1 --blocks 200 --txs 20 --out /tmp/chain
"""

from __future__ import annotations

import argparse
import base64
import hashlib
import json
import os
import random
from collections import Counter, defaultdict
from dataclasses import dataclass, field

START_HEIGHT = 100_000_000
SHARDS = 2
#: blocks from a transaction's opening to its last receipt or data receipt
#: (root +2, three child levels +2 each, data receipt +1)
MAX_SPAN = 9
N_SIGNERS = 40
CONTRACTS = [f"app{i}.near" for i in range(6)]
METHODS = ["ft_transfer", "nft_mint", "swap", "claim", "stake_more"]
EVENTS = [("nep141", "ft_transfer"), ("nep171", "nft_mint"), ("nep171", "nft_transfer")]


def b64(text: str) -> str:
    return base64.b64encode(text.encode()).decode()


def _hash(*parts) -> str:
    return hashlib.sha256(":".join(map(str, parts)).encode()).hexdigest()[:44]


@dataclass
class Truth:
    """What a correct pipeline must produce, from the generator's books."""

    first_height: int
    last_height: int
    #: tx hash -> {"signer", "height", "blocks"}
    txs: dict = field(default_factory=dict)
    #: receipt id (action receipts and consumed data receipts) -> tx hash
    receipt_tx: dict = field(default_factory=dict)
    executed_actions: int = 0
    logs: int = 0
    valid_events: int = 0
    events_by_name: Counter = field(default_factory=Counter)
    data_receipts: int = 0
    #: method -> [calls, gas burnt summed per action row, {contracts}]
    method_calls: dict = field(default_factory=dict)
    #: receiver account -> height of each action row it executed
    account_action_heights: dict = field(default_factory=lambda: defaultdict(list))

    def to_json(self) -> dict:
        return {
            "first_height": self.first_height,
            "last_height": self.last_height,
            "txs": {
                h: {**t, "blocks": sorted(t["blocks"])} for h, t in self.txs.items()
            },
            "receipt_tx": self.receipt_tx,
            "executed_actions": self.executed_actions,
            "logs": self.logs,
            "valid_events": self.valid_events,
            "events_by_name": dict(self.events_by_name),
            "data_receipts": self.data_receipts,
            "method_calls": {
                m: [c, g, sorted(a)] for m, (c, g, a) in self.method_calls.items()
            },
        }

    def block_tx_counts(self) -> Counter:
        counts = Counter()
        for t in self.txs.values():
            counts.update(t["blocks"])
        return counts

    def signed_by(self, account: str) -> list[tuple[int, str]]:
        return sorted(
            (t["height"], h) for h, t in self.txs.items() if t["signer"] == account
        )


def _fn_call(method: str, args: dict, gas: int, deposit: str = "0") -> str:
    return json.dumps(
        {
            "FunctionCall": {
                "method_name": method,
                "args": b64(json.dumps(args)),
                "gas": gas,
                "deposit": deposit,
            }
        }
    )


def _transfer(amount: int) -> str:
    return json.dumps({"Transfer": {"deposit": str(amount)}})


def _outcome(rid, status, receipt_ids, logs, gas, block_hash):
    return {
        "id": rid,
        "block_hash": block_hash,
        "outcome": {
            "status": status,
            "gas_burnt": gas,
            "tokens_burnt": str(gas * 100_000),
            "logs": logs,
            "receipt_ids": receipt_ids,
            "executor_id": "executor.near",
            "metadata": {"version": 3, "gas_profile": None},
        },
    }


def _block(height: int, shards: list[dict]) -> dict:
    ts = 1_700_000_000_000_000_000 + (height - START_HEIGHT) * 1_000_000_000
    return {
        "block": {
            "author": f"validator{height % 4}.near",
            "header": {
                "height": height,
                "hash": f"B{height}",
                "prev_hash": f"B{height - 1}",
                "prev_height": height - 1,
                "timestamp": ts,
                "timestamp_nanosec": str(ts),
                "epoch_id": "E1",
                "chunks_included": len(shards),
                "signature": f"sig{height}",
                "latest_protocol_version": 73,
            },
        },
        "shards": shards,
    }


def generate(seed: int, n_blocks: int, txs_per_block: int) -> tuple[list[dict], Truth]:
    """Blocks (as JSON-ready dicts, ascending height) and their truth."""
    if n_blocks < MAX_SPAN + 3:
        raise ValueError(f"a chain needs at least {MAX_SPAN + 3} blocks")
    rng = random.Random(seed)
    signers = [f"user{i}.near" for i in range(N_SIGNERS)]
    # skewed signer popularity: a few hot accounts, a long tail
    weights = [1.0 / (i + 1) for i in range(N_SIGNERS)]
    truth = Truth(START_HEIGHT, START_HEIGHT + n_blocks - 1)
    # per block index, per shard: chunk txs, chunk receipts, outcomes
    sched = [
        [{"txs": [], "receipts": [], "outcomes": []} for _ in range(SHARDS)]
        for _ in range(n_blocks)
    ]
    counter = Counter()

    def new_id(kind: str) -> str:
        counter[kind] += 1
        return _hash(seed, kind, counter[kind])

    def logs_for(receiver: str) -> list[str]:
        out = []
        for _ in range(rng.choice([0, 0, 1, 1, 2])):
            roll = rng.random()
            if roll < 0.6:
                standard, event = rng.choice(EVENTS)
                data = [
                    {
                        "old_owner_id": receiver,
                        "new_owner_id": rng.choice(signers),
                        "amount": str(rng.randint(1, 10**6)),
                    }
                ]
                out.append(
                    "EVENT_JSON:"
                    + json.dumps(
                        {"standard": standard, "version": "1.0.0", "event": event, "data": data}
                    )
                )
                truth.valid_events += 1
                truth.events_by_name[event] += 1
            elif roll < 0.75:
                out.append('EVENT_JSON:{"standard":"nep141","event":')
            else:
                out.append(f"log line {rng.randint(0, 999)}")
        truth.logs += len(out)
        return out

    def receipt(tx_hash, signer, rid, predecessor, eb, depth, opened):
        """Schedule action receipt ``rid`` of ``tx_hash`` at block index ``eb``."""
        receiver = rng.choice(CONTRACTS)
        input_data_ids = []
        if rng.random() < 0.25:
            data_id = new_id("data")
            dr_id = new_id("dr")
            input_data_ids.append(data_id)
            db = min(max(eb + rng.choice([-1, 0, 1]), opened), n_blocks - 1)
            sched[db][rng.randrange(SHARDS)]["receipts"].append(
                {
                    "predecessor_id": "system",
                    "receiver_id": receiver,
                    "receipt_id": dr_id,
                    "receipt": {
                        "Data": {
                            "data_id": data_id,
                            "data": b64(f"payload-{data_id[:8]}"),
                            "is_promise_resume": False,
                        }
                    },
                    "priority": 0,
                }
            )
            truth.receipt_tx[dr_id] = tx_hash
            truth.data_receipts += 1
        children = []
        if depth < 3 and rng.random() < 0.4:
            children = [new_id("r") for _ in range(rng.randint(1, 2))]
        actions, methods = [], []
        for _ in range(rng.randint(1, 3)):
            if rng.random() < 0.7:
                method = rng.choice(METHODS)
                args = {"receiver_id": rng.choice(signers), "amount": str(rng.randint(1, 10**9))}
                actions.append(_fn_call(method, args, gas=rng.randint(10**12, 3 * 10**14)))
                methods.append(method)
            else:
                actions.append(_transfer(rng.randint(1, 10**24)))
        gas = rng.randint(10**11, 10**13)
        if children:
            status = {"SuccessReceiptId": children[0]}
        elif rng.random() < 0.1:
            status = {"Failure": {"ActionError": {"index": 0, "kind": "FunctionCallError"}}}
        else:
            status = {"SuccessValue": b64('"ok"')}
        height = START_HEIGHT + eb
        sched[eb][rng.randrange(SHARDS)]["outcomes"].append(
            {
                "tx_hash": tx_hash,
                "receipt": {
                    "predecessor_id": predecessor,
                    "receiver_id": receiver,
                    "receipt_id": rid,
                    "receipt": {
                        "Action": {
                            "signer_id": signer,
                            "signer_public_key": f"ed25519:{signer}",
                            "gas_price": "100000000",
                            "input_data_ids": input_data_ids,
                            "output_data_receivers": [],
                            "is_promise_yield": False,
                            "actions": actions,
                        }
                    },
                    "priority": 0,
                },
                "execution_outcome": _outcome(
                    rid, status, children, logs_for(receiver), gas, f"B{height}"
                ),
            }
        )
        truth.receipt_tx[rid] = tx_hash
        truth.txs[tx_hash]["blocks"].add(height)
        truth.executed_actions += len(actions)
        truth.account_action_heights[receiver] += [height] * len(actions)
        for method in methods:
            stats = truth.method_calls.setdefault(method, [0, 0, set()])
            stats[0] += 1
            stats[1] += gas
            stats[2].add(receiver)
        for child in children:
            receipt(tx_hash, signer, child, receiver, eb + rng.randint(1, 2), depth + 1, opened)

    for b in range(1, n_blocks - MAX_SPAN - 1):
        n = max(0, txs_per_block + rng.randint(-txs_per_block // 4, txs_per_block // 4))
        for _ in range(n):
            tx_hash = new_id("tx")
            rid = new_id("r")
            signer = rng.choices(signers, weights)[0]
            height = START_HEIGHT + b
            truth.txs[tx_hash] = {"signer": signer, "height": height, "blocks": {height}}
            args = {"receiver_id": rng.choice(signers), "amount": str(rng.randint(1, 10**9))}
            sched[b][rng.randrange(SHARDS)]["txs"].append(
                {
                    "transaction": {
                        "hash": tx_hash,
                        "signer_id": signer,
                        "public_key": f"ed25519:{signer}",
                        "nonce": counter["tx"],
                        "receiver_id": rng.choice(CONTRACTS),
                        "actions": [_fn_call(rng.choice(METHODS), args, gas=3 * 10**14)],
                        "signature": f"sig-{tx_hash[:12]}",
                        "priority_fee": 0,
                    },
                    "outcome": {
                        "execution_outcome": _outcome(
                            tx_hash, {"SuccessReceiptId": rid}, [rid], [], 2 * 10**12, f"B{height}"
                        )
                    },
                }
            )
            receipt(tx_hash, signer, rid, signer, b + rng.randint(0, 2), 0, b)

    blocks = []
    for b, shards in enumerate(sched):
        out_shards = []
        for sid, s in enumerate(shards):
            chunk = (
                {"transactions": s["txs"], "receipts": s["receipts"]}
                if s["txs"] or s["receipts"]
                else None
            )
            out_shards.append(
                {"shard_id": sid, "chunk": chunk, "receipt_execution_outcomes": s["outcomes"]}
            )
        blocks.append(_block(START_HEIGHT + b, out_shards))
    return blocks, truth


def write_blocks(blocks: list[dict], directory: str, blocks_per_file: int) -> list[str]:
    """JSONL block files named by first height, ``blocks_per_file`` each."""
    os.makedirs(directory, exist_ok=True)
    paths = []
    for i in range(0, len(blocks), blocks_per_file):
        part = blocks[i : i + blocks_per_file]
        path = os.path.join(directory, f"{part[0]['block']['header']['height']:012d}.jsonl")
        with open(path, "w") as fh:
            for blk in part:
                fh.write(json.dumps(blk, separators=(",", ":")) + "\n")
        paths.append(path)
    return paths


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--blocks", type=int, default=200)
    ap.add_argument("--txs", type=int, default=20)
    ap.add_argument("--blocks-per-file", type=int, default=50)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    blocks, truth = generate(args.seed, args.blocks, args.txs)
    write_blocks(blocks, os.path.join(args.out, "blocks"), args.blocks_per_file)
    with open(os.path.join(args.out, "truth.json"), "w") as fh:
        json.dump(truth.to_json(), fh)
    print(f"{len(blocks)} blocks, {len(truth.txs)} transactions -> {args.out}")


if __name__ == "__main__":
    main()
