"""Scale probe: how do the headline plans behave as data grows?

Replicates the fact tables (lineitem / orders / events) K× with shifted
keys — DataFrame-side, so the probe measures the real plans over genuinely
larger inputs — and times a representative query set at each factor. A plan
that "would still work at 1000 executors reading 100 TB" must scale ~O(n)
here (shuffle-bound aggs/joins) with efficiency time(k)/(k·time(1)) staying
near or below 1; super-linear growth flags a plan that degenerates
(all-pairs join, driver collect, broadcast flipping to shuffle with a
too-big dim).

Usage: python tools/scale_probe.py [factors ...]   (default: 1 2 4)
Prints one JSON line: {"factors": [...], "queries": {name: {k: sec}},
"efficiency": {name: {k: time_k / (k * time_1)}}}.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from clickhouse_provider_spark.plans import CATALOG
from clickhouse_provider_spark.session import get_spark, load_tables

#: shuffle-heavy representatives: scan+agg, multiway join, join+window agg,
#: events time-bucket agg, LSH self-join
PROBE_QUERIES = [
    "q1_pricing_summary",
    "q5_regional_revenue",
    "q18_large_volume_customers",
    "daily_counts",
    "dedup_lsh_pairs",
    # temporal operators (round 5): union+window as-of, bin-explode
    # interval join — both must stay ~O(n) or the rewrite has degenerated
    "asof_last_purchase",
    "range_join_1h_windows",
    # sequence analytics (round 5 batch 7): per-key ordered-string build —
    # the collect_list agg must stay linear in events-per-key
    "seq_match_user_paths",
    # round-6 flagships (VERDICT r5 ask: measure the "sound at 100×"
    # plan-audit claims): PQ ANN (codebook train + ADC + rerank must stay
    # linear in corpus size), single-shuffle exact funnel, 3-grain rollup
    "similarity_pq_topk",
    "window_funnel_exact",
    "hypertable_rollup_1h1d1w",
    # round-6 approx family: the sketch sides must stay combiner-bound
    # (constant per-group state) while their exact grading sides grow
    "approx_topk_heavy_hitters",
    "uniq_state_merge_rollup",
    "quantile_state_merge_rollup",
    # round-7 operators with explicit scale claims: distinct-collapse rank
    # (no global sort), bucketed prefix-sum weighted median, quantized
    # k-means (broadcast + dim-major combiner shuffle), gram-explode
    # boilerplate sweep, value-collapse KS
    "spearman_rank_corr",
    "quantile_exact_weighted",
    "semantic_cluster_kmeans",
    "boilerplate_ngrams",
    "ks_test_2samp",
    # round-8 batch 13: trigram multiset distance (the explode-heaviest of
    # the batch — |text| grams per doc, two combiner groupBys), bitmap set
    # algebra (distinct-collapse + per-day set ops), retention windows
    # (conditional agg, one shuffle), capped per-group sorted capture,
    # text-feature logistic score (map-only + one groupBy).
    # knn_label_accuracy is deliberately NOT probed: its eval-query set is
    # derived from the corpus (vec_id % 20), so the brute-force pair count
    # grows k² BY CONSTRUCTION — a production eval keeps |queries| fixed
    # while only candidates grow (linear), and that path is already probed
    # via similarity_pq_topk.
    "ngram_string_distance",
    "bitmap_set_ops",
    "retention_aggregate",
    "group_array_sorted",
    "quality_logistic_score",
    # round-9: the repaired scale paths (LSH-candidate cluster stats,
    # bucketed-prefix-sum ECDF/midranks) + the new batch-14 operators
    # (anchored span dedup, BM25 postings path, real-decode mapInPandas)
    "dedup_cluster_stats",
    "mann_whitney_u",
    "substring_dup_ratio",
    "bm25_topk",
    "multimodal_decode_pixel_stats",
    # round-10: PNG decode (zlib + per-row unfilter inside mapInPandas —
    # must stay exactly linear, it's pure map work)
    "multimodal_decode_png_stats",
    # round-10 batch 15: SimHash hub clustering (signature-only verify +
    # path-compressed CC — rounds must stay ~log of chain depth) and the
    # k-row retrieval fusion (must be flat: both inputs are top-10s)
    "dedup_simhash_clusters",
    "hybrid_rrf_topk",
    # round-11: filtered ANN (probe-side semi-join must keep cost
    # ∝ matching vectors, not corpus) and composed IVF-PQ (prune must
    # hold the ADC scan to nprobe/n_cells of the corpus).
    # semantic_dedup_prune is deliberately NOT probed, same class as
    # knn_label_accuracy: its catalog entry fixes n_cells=8, so k-fold
    # replication grows every cell k× and the within-cell pair space k²
    # BY CONSTRUCTION — production scales n_cells with the corpus to
    # hold |cell| (and thus the per-cell quadratic term) constant, which
    # a fixed-entry replay cannot express.
    "similarity_filtered_ann_eval",
    "similarity_ivfpq_adc",
    # training-sequence packing: bucketed prefix sum must stay ~O(n)
    # (the offsets window is ≤4096 rows by construction at any factor)
    "sequence_packing_bins",
]


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def scaled_tables(spark, base: dict, k: int) -> dict:
    """Fact tables replicated k× with shifted join/group keys (dims kept):
    orderkeys/event ids move into disjoint ranges per replica so join
    fan-outs and group cardinalities grow realistically instead of
    multiplying duplicate keys."""
    if k == 1:
        return base
    t = dict(base)
    okey_span = 10_000_000_000
    rep = lambda: spark.range(k).select(F.col("id").alias("_r"))  # noqa: E731
    t["lineitem"] = (
        base["lineitem"]
        .crossJoin(rep())
        .withColumn("l_orderkey", F.col("l_orderkey") + F.col("_r") * okey_span)
        .drop("_r")
    )
    t["orders"] = (
        base["orders"]
        .crossJoin(rep())
        .withColumn("o_orderkey", F.col("o_orderkey") + F.col("_r") * okey_span)
        .drop("_r")
    )
    t["events"] = (
        base["events"]
        .crossJoin(rep())
        .withColumn("event_id", F.col("event_id") + F.col("_r") * okey_span)
        # shift replicas past the base span (~30 days) so their time ranges
        # are DISJOINT: the scaled workload is "k× more history at the same
        # event density", and time-bucket groups grow k×. (A sub-span shift
        # would instead densify the same window — interval-join and as-of
        # outputs would then grow ~k² by construction, measuring a different
        # workload than data growth.)
        .withColumn("ts", F.col("ts") + F.col("_r") * F.lit(40 * 86_400_000_000_000))
        .drop("_r")
    )
    t["documents"] = (
        base["documents"]
        .crossJoin(rep())
        .withColumn("doc_id", F.col("doc_id") + F.col("_r") * okey_span)
        # perturb text per replica: exact k-fold duplicates would grow the
        # near-dup pair count quadratically by construction (every bucket
        # holds k copies of each doc) — a different workload than "corpus got
        # k× bigger with the same dup structure"
        .withColumn(
            "text", F.concat("text", F.lit(" replica-"), F.col("_r").cast("string"))
        )
        .drop("_r")
    )
    t["embeddings"] = (
        base["embeddings"]
        .crossJoin(rep())
        # distinct ids per replica: the PQ/IVF paths key codebook seeding
        # and probe joins on vec_id, so id collisions would collapse work
        .withColumn("vec_id", F.col("vec_id") + F.col("_r") * okey_span)
        .drop("_r")
    )
    # part doubles as a FACT for the string-function entries (trigram
    # distance explodes |p_name| grams per part), so it scales too —
    # p_brand kept so group cardinality stays fixed like the other dims
    t["part"] = (
        base["part"]
        .crossJoin(rep())
        .withColumn("p_partkey", F.col("p_partkey") + F.col("_r") * okey_span)
        .drop("_r")
    )
    # register views so SQL-built plans see the scaled relations too
    for name in ("lineitem", "orders", "events", "documents", "embeddings",
                 "part"):
        t[name].createOrReplaceTempView(name)
    return t


#: blocks at factor 1 for the keyed-assembly replay (see below); each tx
#: submits in one block and its receipt executes in the next, so every tx
#: crosses block state — the worst case for the assembler.
ASSEMBLY_BASE_BLOCKS = int(os.environ.get("SPARK_GRAFT_PROBE_BLOCKS", "400"))


def make_block(height: int, txs_per_block: int) -> dict:
    """One synthetic block (tests/fixture_chain.py shapes): each tx
    submits at ``height`` and its receipt executes in the NEXT block
    (cross-block state exercised for every tx); receipts carry 2 actions +
    an EVENT_JSON log."""
    from tests import fixture_chain as FC

    submitted = [
        FC.chunk_tx(f"T{height}_{i}", f"user{i}.near", "app.near", [FC.A_FT_CALL], [f"R{height}_{i}"])
        for i in range(txs_per_block)
    ]
    executing = []
    if height > 100:  # receipts of the previous block's txs
        for i in range(txs_per_block):
            rid = f"R{height - 1}_{i}"
            executing.append(
                {
                    "tx_hash": f"T{height - 1}_{i}",
                    "receipt": FC.action_receipt(
                        rid, f"user{i}.near", "app.near", f"user{i}.near", [FC.A_FT_CALL, FC.A_TRANSFER]
                    ),
                    "execution_outcome": FC.outcome(
                        rid,
                        {"SuccessValue": FC.b64('"1"')},
                        [],
                        logs=[FC.VALID_EVENT_LOG],
                        block_hash=f"Hash{height}",
                    ),
                }
            )
    return FC.block(height, [FC.shard(0, transactions=submitted, outcomes=executing)])


def probe_keyed_assembly(spark, k: int) -> float:
    """Replay the crown-jewel stateful tx assembly (batch fixpoint,
    operators/transactions.assemble) over ASSEMBLY_BASE_BLOCKS*k synthetic
    blocks (:func:`make_block`: every receipt lands one block after its
    tx). The assembler is the one operator whose cost is
    NOT a scan/shuffle composition over the test tables, so it gets its
    own input generator instead of scaled_tables."""
    import json as _json

    from clickhouse_provider_spark.operators.transactions import assemble
    from clickhouse_provider_spark.schemas import BLOCK_SCHEMA

    n_blocks = ASSEMBLY_BASE_BLOCKS * k
    lines = [_json.dumps(make_block(100 + i, 5)) for i in range(n_blocks)]
    blocks = spark.read.schema(BLOCK_SCHEMA).json(
        spark.sparkContext.parallelize(lines, 32)
    )
    blocks = blocks.localCheckpoint(eager=True)  # time the DAG, not parsing
    samples = []
    for _ in range(2):
        start = time.perf_counter()
        out = assemble(blocks)
        for name in ("transactions", "account_txs", "block_txs",
                     "receipt_txs", "blocks"):
            _force(out[name])
        samples.append(time.perf_counter() - start)
    return round(min(samples), 3)


def probe_streaming_assembly(spark, k: int) -> float:
    """End-to-end STREAMING replay of the keyed assembly with state forced
    onto the RocksDB state store provider: blocks land as JSON files in a
    drop directory, the router → unit-log → keyed-assembler pipeline
    (streaming/pipeline.run_transactions_stream) drains them with
    availableNow triggers, and the timing covers the full source → RocksDB
    state → fan-out-tables path. Every tx leaves a completed-tombstone key
    in state, so state cardinality grows linearly with k — the probe
    measures whether per-batch cost stays ∝ arriving units (it must; the
    assembler only touches keys present in the batch) rather than ∝ total
    state. Enabled by SPARK_GRAFT_PROBE_STREAMING=1 (needs scratch dirs +
    a streaming teardown per factor, so it is opt-in)."""
    import shutil
    import tempfile

    from clickhouse_provider_spark.streaming.pipeline import run_transactions_stream

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    n_blocks = ASSEMBLY_BASE_BLOCKS * k
    root = tempfile.mkdtemp(prefix=f"probe_stream_x{k}_")
    try:
        src = os.path.join(root, "blocks_src")
        os.makedirs(src)
        # 16 drop files per factor: file-source listing overhead stays
        # constant while per-file payload grows with k
        per_file = max(1, n_blocks // 16)
        fi = 0
        for lo in range(0, n_blocks, per_file):
            with open(os.path.join(src, f"blocks_{fi:05d}.json"), "w") as f:
                for i in range(lo, min(lo + per_file, n_blocks)):
                    f.write(json.dumps(make_block(100 + i, 5)) + "\n")
            fi += 1
        start = time.perf_counter()
        q = run_transactions_stream(
            spark,
            src,
            warehouse=os.path.join(root, "wh"),
            checkpoint=os.path.join(root, "ckpt"),
            max_files_per_trigger=4,  # several batches -> real incremental
            available_now=True,
        )
        q.awaitTermination()
        return round(time.perf_counter() - start, 3)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def main() -> None:
    factors = [int(a) for a in sys.argv[1:]] or [1, 2, 4]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # comma-separated subset for targeted high-factor runs (16x/32x on the
    # heaviest plans would take hours over the full list)
    subset = os.environ.get("SPARK_GRAFT_PROBE_QUERIES")
    probe_queries = (
        [q.strip() for q in subset.split(",") if q.strip()]
        if subset
        else PROBE_QUERIES
    )
    unknown = [q for q in probe_queries if q not in CATALOG]
    assert not unknown, f"unknown probe queries: {unknown}"
    with_assembly = os.environ.get("SPARK_GRAFT_PROBE_ASSEMBLY", "1") != "0"
    with_streaming = os.environ.get("SPARK_GRAFT_PROBE_STREAMING") == "1"
    spark = get_spark(app_name="scale_probe")
    timings: dict[str, dict[int, float]] = {n: {} for n in probe_queries}
    if with_assembly:
        timings["keyed_assembly_replay"] = {}
    if with_streaming:
        timings["streaming_assembly_rocksdb"] = {}
    for k in factors:
        base = load_tables(spark, sf_dir)  # fresh views per factor
        t = scaled_tables(spark, base, k)
        for name in probe_queries:
            _force(CATALOG[name].build(spark, t))  # warm (codegen, listing)
            samples = []
            for _ in range(2):  # min-of-2: single runs are sandbox-noisy
                start = time.perf_counter()
                _force(CATALOG[name].build(spark, t))
                samples.append(time.perf_counter() - start)
            timings[name][k] = round(min(samples), 3)
        if with_assembly:
            timings["keyed_assembly_replay"][k] = probe_keyed_assembly(spark, k)
        if with_streaming:
            timings["streaming_assembly_rocksdb"][k] = (
                probe_streaming_assembly(spark, k)
            )
    base_factor = factors[0]
    efficiency = {
        n: {
            k: round(ts[k] / ((k / base_factor) * ts[base_factor]), 2)
            for k in factors
            if k != base_factor and ts.get(base_factor)
        }
        for n, ts in timings.items()
    }
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "factors": factors,
                "queries": timings,
                "efficiency": efficiency,  # <1: sublinear, ~1: linear, >1: degenerating
            }
        )
    )


if __name__ == "__main__":
    main()
