"""Multi-seed streaming-vs-batch differential sweep for the keyed
transaction assembler (VERDICT r11 task 3: prove the cross-implementation
equivalences hold beyond the single pinned seed, or document divergence).

The pinned gate test (tests/test_keyed_assembly.py::
test_random_chain_streaming_matches_batch_fixpoint) runs ONE generated
chain (seed=7, 16 blocks). This sweep runs the same differential over
many seeds and chain lengths: the streaming router -> unit-log -> keyed
assembler path (streaming/pipeline.run_transactions_stream) must produce
row-identical fan-out tables to the batch fixpoint
(operators/transactions.assemble) on every closed random receipt forest.
Results land in bisect/PROP_SWEEP_r12.md.

Usage: python tools/assembly_sweep.py [seeds...] (default 1 2 3 11 23 42)
"""

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clickhouse_provider_spark import storage  # noqa: E402
from clickhouse_provider_spark.operators import transactions as TX  # noqa: E402
from clickhouse_provider_spark.schemas import BLOCK_SCHEMA  # noqa: E402
from clickhouse_provider_spark.session import get_spark  # noqa: E402
from clickhouse_provider_spark.streaming.pipeline import (  # noqa: E402
    run_transactions_stream,
)
from tests.random_chain import make_random_chain  # noqa: E402


def one_case(spark, seed: int, n_blocks: int, workdir: str) -> dict:
    src = os.path.join(workdir, "src")
    os.makedirs(src)
    chain = make_random_chain(seed=seed, n_blocks=n_blocks)
    for b in chain:
        h = b["block"]["header"]["height"]
        with open(os.path.join(src, f"block-{h:012d}.json"), "w") as f:
            f.write(json.dumps(b))
    blocks_df = spark.read.schema(BLOCK_SCHEMA).json(src)
    batch = TX.assemble(blocks_df)
    incomplete = batch["incomplete"].count()
    n_txs = batch["transactions"].count()
    wh = os.path.join(workdir, "wh")
    run_transactions_stream(
        spark, src, wh,
        checkpoint=os.path.join(workdir, "ckpt"),
        max_files_per_trigger=4,
    ).awaitTermination(300)
    mismatches = []
    for name in ("transactions", "account_txs", "block_txs", "receipt_txs"):
        a = sorted(map(tuple, batch[name].collect()))
        s = sorted(map(tuple, storage.read_table(spark, wh, name).collect()))
        if a != s:
            mismatches.append(f"{name}: batch {len(a)} vs streaming {len(s)}")
    return {
        "seed": seed,
        "n_blocks": n_blocks,
        "n_txs": n_txs,
        "incomplete": incomplete,
        "ok": not mismatches,
        "mismatches": mismatches,
    }


def main():
    seeds = [int(s) for s in sys.argv[1:]] or [1, 2, 3, 11, 23, 42]
    spark = get_spark(app_name="assembly_sweep", shuffle_partitions=8)
    results = []
    for seed in seeds:
        for n_blocks in (8, 24):
            wd = tempfile.mkdtemp(prefix=f"asw_{seed}_{n_blocks}_")
            try:
                r = one_case(spark, seed, n_blocks, wd)
            finally:
                shutil.rmtree(wd, ignore_errors=True)
            print(json.dumps(r), flush=True)
            results.append(r)
    bad = [r for r in results if not r["ok"]]
    print(json.dumps({"cases": len(results), "failed": len(bad)}))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
