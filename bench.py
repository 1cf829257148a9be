"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Execution is forced with the noop sink (full pipeline runs, nothing
collected to the driver). A warmup query first touches every table so JVM /
code-gen / file-listing warmup isn't billed to the first query.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from clickhouse_provider_spark.plans import CATALOG
from clickhouse_provider_spark.session import codegen_stats, get_spark, load_tables

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "replacing_dedup",
    "running_total",
    "daily_counts",
    "json_props_stats",
    "above_avg_orders",
    "chain_continuity",
    "dedup_exact",
    "dedup_minhash_signatures",
    "dedup_lsh_pairs",
    "similarity_topk",
    "text_token_stats",
    "q6_forecast_revenue",
    "q10_returned_revenue",
    "q19_disjunctive",
    "user_sessions",
    "tumbling_event_counts",
    # catalog-4 heavies: the most expensive join/agg shapes in the repo
    "q8_market_share",
    "q9_product_profit",
    "q18_large_volume_customers",
    "q21_waiting_suppliers",
    # catalog-6 temporal operators (round 5): custom join/rollup plans
    "asof_last_purchase",
    "range_join_1h_windows",
    "hypertable_rollup_1h1d1w",
    # round-5 flagships: single-shuffle exact funnel, PQ ANN (ADC + rerank)
    "window_funnel_exact",
    "similarity_pq_topk",
    # catalog-7 sequence analytics (one combiner-friendly shuffle each)
    # + the map-only scrub path (regex redaction inside the scan stage)
    "seq_match_user_paths",
    "argmax_latest_event",
    "pii_scrub_props",
    # round-6: the approx-aggregate flagships (SpaceSaving topK analog,
    # uniqState/uniqMerge HLL-partial and quantileState/KLL rollups) and
    # the windowFunnel strict modes + sequenceNextNode
    "approx_topk_heavy_hitters",
    "uniq_state_merge_rollup",
    "quantile_state_merge_rollup",
    "window_funnel_strict_increase",
    "window_funnel_strict_order",
    "seq_next_node",
    # round-7 mode tails: the strict-dedup funnel scan (early-exit batch
    # Python path), backward sequenceNextNode, weighted SpaceSaving,
    # LTTB + adaptive histogram (time-series rendering pair)
    "window_funnel_strict_dedup",
    # round-12: the ClickHouse-faithful greedy strict_increase machine
    # (VERDICT r11 task 1 resolution — sibling of the optimal-chain
    # window_funnel_strict_increase above)
    "window_funnel_strict_increase_scan",
    "seq_next_node_backward",
    "topk_weighted",
    "lttb_downsample",
    "histogram_adaptive",
    # round-7 statistical family: interval sweep lines, rank statistics
    # (two sorts/group), chi-square fold, and the weighted median
    "max_intersections",
    "interval_length_sum",
    "spearman_rank_corr",
    "mann_whitney_u",
    "cramers_v",
    "quantile_exact_weighted",
    # round-7 LLM curation: 8-gram boilerplate sweep (explode-heavy) and
    # the 2-round quantized k-means (broadcast join + dim-major shuffle)
    "boilerplate_ngrams",
    "semantic_cluster_kmeans",
    # round-7 batch 11+: distribution tests (value-collapse windows),
    # higher moments, ANN recall eval, cluster-balanced curation, and
    # the sparkbar/mixture serving pair
    "ks_test_2samp",
    "skew_kurtosis",
    "similarity_recall_eval",
    "dedup_cluster_stats",
    "sparkbar_render",
    "exp_time_decayed_avg",
    "mixture_sampling_temperature",
    "cluster_balanced_selection",
    "quantile_timing",
    "covar_corr_matrix",
    "skew_salted_topk_revenue",
    # round-8 batch 13: the scalar-function families (URL parse, trigram
    # multiset distance — the explode-heaviest of the batch, bitmap set
    # algebra on a distinct self-join) + the two LLM evals
    "url_functions",
    "ngram_string_distance",
    "bitmap_set_ops",
    "geohash_encode",
    "quality_logistic_score",
    "knn_label_accuracy",
    # round-9 batch 14: real-decode multimodal path (Arrow mapInPandas),
    # ExactSubstr-style anchored span dedup, BM25 lexical retrieval
    "multimodal_decode_pixel_stats",
    "substring_dup_ratio",
    "bm25_topk",
    # round-10: stdlib PNG decode (zlib inflate + unfilter in the Arrow
    # batch path — the heaviest per-row Python work in the repo, worth
    # watching), and dedup_cluster_stats stays above under its new
    # hub-edge candidate graph
    "multimodal_decode_png_stats",
    # round-10 batch 15: lexical+dense fusion (two TakeOrdered inputs +
    # k-row join) and the SimHash hub-edge clustering (signature-only
    # verify — the text column never shuffles)
    "hybrid_rrf_topk",
    "dedup_simhash_clusters",
    # round-11 batch 16/17: predicate-filtered ANN (in-probe vs
    # post-filter recall/cost eval), the composed IVF-PQ pipeline (cell
    # prune → ADC compressed scan → exact rerank), and SemDeDup-style
    # within-cell semantic dedup (the Σ|cell|² pair space)
    "similarity_filtered_ann_eval",
    "similarity_ivfpq_adc",
    "semantic_dedup_prune",
    # round-11 batch 17b: training-sequence packing (global running
    # offset via the two-level bucketed prefix sum — no global window)
    "sequence_packing_bins",
]

#: samples per query (round-robin passes); median reported. One sample per
#: query (rounds 1-2) made r-over-r deltas indistinguishable from sandbox
#: noise — e.g. +100% on a plan whose code hadn't changed.
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def release_leaked_blocks(spark) -> None:
    """Free executor-memory blocks a finished query left behind — called
    BETWEEN timed regions, never inside one (round 15, VERDICT r14 task
    4). Several operators localCheckpoint/persist intermediates whose
    lifetime is one query (LSH signatures, jaccard shingle caches, CC
    edges); nothing ever unpersists them inside the bench process, so
    blocks accumulate across queries and passes and the resulting GC
    pressure lands on whichever allocation-heavy query runs next. That
    contamination measured as a phantom 20-26% "regression" of the
    UNTOUCHED md5-heavy kernels (dedup_minhash_signatures /
    dedup_lsh_pairs) in the r14 family context, while the same queries
    in isolation matched r13 exactly. Measurement hygiene only: what
    each query computes, and the timed region, are unchanged — this
    also enforces the no-cross-query-caching rule mechanically (a query
    depending on a neighbor's cached state would now fail, not
    silently speed up)."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc  # noqa: SLF001
    for rdd in jsc.getPersistentRDDs().values():
        rdd.unpersist()


def _round_no(p: Path) -> int:
    return int("".join(filter(str.isdigit, p.stem)) or 0)


def current_round(here: Path | None = None) -> int:
    """Round being built, so re-runs within a round overwrite the same
    BENCH_full_r{N}.json instead of minting new ones. PROGRESS.jsonl's
    last record is authoritative (the driver stamps every heartbeat with
    the round number and keeps writing even when it skips its end-of-round
    BENCH_r{N}.json — round 7's never landed, which made the old
    newest-BENCH_r+1 logic clobber the committed r07 snapshot from round
    8). Fallback: newest driver BENCH_r{N}.json + 1. ``here`` overrides
    the repo root for tests (tests/test_bench_cli.py pins the malformed-
    tail fallbacks, incl. the valid-JSON-but-not-an-object TypeError row
    from ADVICE r9)."""
    here = here or Path(__file__).resolve().parent
    progress = here / "PROGRESS.jsonl"
    try:
        last = progress.read_text().strip().rsplit("\n", 1)[-1]
        # TypeError: last line is valid JSON but not an object (bare
        # number/string/list) — fall back to the BENCH_r*.json scan like
        # any other malformed tail
        return int(json.loads(last)["round"])
    except (OSError, ValueError, KeyError, IndexError, TypeError):
        pass
    rounds = [_round_no(p) for p in here.glob("BENCH_r*.json")]
    return (max(rounds) if rounds else 0) + 1


def previous_round() -> tuple[str | None, dict[str, float]]:
    """Per-query seconds from the newest prior bench artifact, so every
    round's output carries r-over-r deltas ("which queries regressed").

    Prefers the in-repo BENCH_full_r{N}.json snapshots (complete output —
    bench.py writes one each run) over the driver's BENCH_r{N}.json, whose
    2,000-char stdout tail can truncate away the queries dict (it did in
    round 5)."""
    here = Path(__file__).resolve().parent
    cur = current_round()
    candidates = sorted(
        list(here.glob("BENCH_full_r*.json")) + list(here.glob("BENCH_r*.json")),
        # newest round first; within a round, full file before driver tail
        key=lambda p: (-_round_no(p), 0 if "full" in p.stem else 1),
    )
    for p in candidates:
        if "full" in p.stem and _round_no(p) >= cur:
            continue  # this run's own (or a stale future) snapshot
        try:
            data = json.loads(p.read_text())
            # the driver records bench stdout under "parsed"
            q = (data.get("parsed") or data).get("queries")
            if isinstance(q, dict):
                return p.name, {k: float(v) for k, v in q.items()}
        except (ValueError, OSError, AttributeError):
            continue
    return None, {}


def bench_ingest(spark, n_replicas: int | None = None) -> dict:
    """Pipeline-half throughput: the actions-mode extraction DAG
    (block JSON → actions/events/data rows, reference actions.rs:341-670)
    over the fixture chain replicated to ``n_replicas`` height-shifted
    copies, executed JVM-side to the noop sink. The reference publishes no
    throughput figures (BASELINE.md), so this records OUR blocks/s and
    rows/s so regressions in the streaming-transform half show up
    round-over-round — the query section only covers the serving half.

    Replication happens as DataFrame ops (explode a replica index and
    shift block.header.height), so the measured work is the real
    extraction plan over n_replicas × 5 distinct blocks.

    Round 11 (VERDICT r10 task 7): default scale raised 10k → 100k
    blocks so blocks/s reflects steady-state, not ramp-up. Cross-round
    comparisons across the scale change are apples-to-oranges on `sec`
    but fine on blocks_per_sec (same plan; ±15% host-noise caveat,
    bisect/BENCH_DRIFT_r09.md, still applies)."""
    from pyspark.sql import functions as F

    from clickhouse_provider_spark.operators import actions as ACT
    from clickhouse_provider_spark.schemas import BLOCK_SCHEMA

    n_replicas = n_replicas or int(os.environ.get("SPARK_GRAFT_INGEST_REPLICAS", "20000"))
    fixture = Path(__file__).resolve().parent / "fixtures" / "blocks.jsonl"
    if not fixture.exists():
        return {}
    base = spark.read.schema(BLOCK_SCHEMA).json(str(fixture))
    n_base = base.count()
    blocks = (
        base.crossJoin(
            spark.range(n_replicas).select((F.col("id") * 10).alias("_shift"))
        )
        .withColumn(
            "block",
            F.col("block").withField(
                "header",
                F.col("block.header").withField(
                    "height", F.col("block.header.height") + F.col("_shift")
                ),
            ),
        )
        .drop("_shift")
        .repartition(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
        .localCheckpoint(eager=True)  # materialize inputs: time ONLY the DAG
    )
    n_blocks = n_base * n_replicas

    def one_pass() -> tuple[float, int]:
        tables = {k: df.persist() for k, df in ACT.extract_tables(blocks).items()}
        start = time.perf_counter()
        for df in tables.values():
            force(df)  # populates the cache: timed work = extraction + persist
        elapsed = time.perf_counter() - start
        rows = sum(df.count() for df in tables.values())  # served from cache
        for df in tables.values():
            df.unpersist()
        return elapsed, rows

    # warmup + min-of-REPS, same discipline as the query section: a single
    # cold pass is dominated by whole-stage-codegen COMPILATION of the
    # extraction DAG (measured: ~1.6k blocks/s cold vs ~7k warm on the
    # same plan), which is what masqueraded as round-over-round ingest
    # "variance" through r6
    one_pass()
    samples = [one_pass() for _ in range(max(3, REPS))]
    elapsed, rows = min(samples)
    secs = sorted(s for s, _ in samples)
    # min AND median recorded (VERDICT r12 task 4): a single-shot number
    # cannot distinguish a real regression from host variance — the
    # r11→r12 ingest row swung 5.24→1.08-1.40 s on a byte-identical path
    # (variance source analysis: bisect/INGEST_VARIANCE_r13.md)
    return {
        "blocks": n_blocks,
        "rows_out": rows,
        "sec": round(elapsed, 3),
        "sec_samples": [round(s, 3) for s, _ in samples],
        "sec_median": round(secs[len(secs) // 2], 3),
        "blocks_per_sec": round(n_blocks / elapsed, 1),
        "rows_per_sec": round(rows / elapsed, 1),
    }


def bench_assembly(spark, n_replicas: int | None = None) -> dict:
    """Throughput of the OTHER pipeline half (VERDICT r10 task 7): the
    batch transactions-mode assembly — receipt→tx closure fixpoint,
    completeness accounting, 4-table fan-out (reference
    transactions.rs:216-441) — which the extraction bench above never
    exercises.

    Raw block replication would be WRONG here: the assembly correlates
    by tx_hash / receipt_id / data_id, and 20k copies of the same ids
    would cross-link into a dense bipartite blowup no real chain has. So
    the fixture's extracted PARTS are replicated with per-replica salted
    ids (concat '#rep' onto every top-level join key, heights shifted)
    — each replica is an independent, correctly-shaped receipt DAG, and
    the measured work is the real assembly plan at n_replicas × the
    fixture's tx count. Inputs are materialized first; timed work is
    assembly only."""
    from pyspark.sql import functions as F

    from clickhouse_provider_spark.operators import release
    from clickhouse_provider_spark.operators import transactions as TX
    from clickhouse_provider_spark.schemas import BLOCK_SCHEMA

    n_replicas = n_replicas or int(
        os.environ.get(
            "SPARK_GRAFT_ASSEMBLY_REPLICAS",
            os.environ.get("SPARK_GRAFT_INGEST_REPLICAS", "20000"),
        )
    )
    fixture = Path(__file__).resolve().parent / "fixtures" / "blocks.jsonl"
    if not fixture.exists():
        return {}
    base = spark.read.schema(BLOCK_SCHEMA).json(str(fixture))
    n_base = base.count()
    n_cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    rep = spark.range(n_replicas).select(F.col("id").alias("_rep"))
    _sfx = F.concat(F.lit("#"), F.col("_rep").cast("string"))

    def salt(c):
        return F.concat(F.col(c), _sfx)

    def salt_arr(c):
        return F.transform(F.col(c), lambda x: F.concat(x, _sfx))

    shift = F.col("_rep") * 10
    seeds = (
        TX.tx_seeds(base)
        .crossJoin(rep)
        .withColumn("tx_hash", salt("tx_hash"))
        .withColumn("seed_receipt_ids", salt_arr("seed_receipt_ids"))
        .withColumn("tx_block_height", F.col("tx_block_height") + shift)
        .drop("_rep")
    )
    outs = (
        TX.outcome_units(base)
        .crossJoin(rep)
        .withColumn("receipt_id", salt("receipt_id"))
        .withColumn("spawned_receipt_ids", salt_arr("spawned_receipt_ids"))
        .withColumn("input_data_ids", salt_arr("input_data_ids"))
        .withColumn("block_height", F.col("block_height") + shift)
        .drop("_rep")
    )
    data = (
        TX.data_receipt_units(base)
        .crossJoin(rep)
        .withColumn("data_id", salt("data_id"))
        .withColumn("receipt_id", salt("receipt_id"))
        .withColumn("block_height", F.col("block_height") + shift)
        .drop("_rep")
    )
    binfo = (
        TX.block_rows(base)
        .select("block_height", "block_hash", "block_timestamp")
        .crossJoin(rep)
        .withColumn("block_height", F.col("block_height") + shift)
        .drop("_rep")
    )
    parts = [
        df.repartition(n_cpus).localCheckpoint(eager=True)
        for df in (seeds, outs, data, binfo)
    ]
    n_txs = parts[0].count()

    def one_pass() -> tuple[float, int]:
        track = []  # release ALL of assemble_from_parts' persists per pass
        out = TX.assemble_from_parts(*parts, track=track)
        tables = {k: df.persist() for k, df in out.items()}
        start = time.perf_counter()
        for df in tables.values():
            force(df)
        elapsed = time.perf_counter() - start
        rows = sum(df.count() for df in tables.values())
        release(list(tables.values()) + track)
        return elapsed, rows

    one_pass()  # codegen warmup, same discipline as the extraction half
    samples = [one_pass() for _ in range(max(3, REPS))]
    elapsed, rows = min(samples)
    secs = sorted(s for s, _ in samples)
    n_blocks = n_base * n_replicas
    return {
        "blocks": n_blocks,
        "txs_in": n_txs,
        "rows_out": rows,
        "sec": round(elapsed, 3),
        "sec_samples": [round(s, 3) for s, _ in samples],
        "sec_median": round(secs[len(secs) // 2], 3),
        "blocks_per_sec": round(n_blocks / elapsed, 1),
        "txs_per_sec": round(n_txs / elapsed, 1),
    }


def run_identity() -> dict:
    """The fields that tell two snapshots apart, and key the overwrite
    guard (:func:`snapshot_path`):

    - ``provenance``: which harness ran the bench (VERDICT r12 task 8,
      default fixed r13→r14). The gate run committed as
      BENCH_full_r{N}.json sets ``SPARK_GRAFT_BENCH_PROVENANCE``; the
      official per-round re-run (BENCH_r{N}.json) does not, so the
      default is 'unlabeled', a label no gate run uses.
    - ``spark_cpus``: the cores the session ran on, ``SPARK_GRAFT_CPUS``
      (32 when unset, as in ``session.get_spark``), which sizes
      ``local[N]`` and the shuffle partitions; ``host.cpus`` is the
      machine's count and can differ.
    """
    return {
        "provenance": os.environ.get("SPARK_GRAFT_BENCH_PROVENANCE", "unlabeled"),
        "spark_cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
    }


def safe_suffix(text: str) -> str:
    """``text`` reduced to ``[A-Za-z0-9_.-]`` (anything else becomes
    ``_``), so a provenance label cannot leave the repo root or form an
    awkward filename."""
    return re.sub(r"[^A-Za-z0-9_.-]", "_", text)


def snapshot_path(full: Path, out: dict) -> Path:
    """Where a run's ``BENCH_full`` snapshot goes. A run may only
    overwrite a snapshot with the same provenance AND the same Spark core
    count; otherwise it writes a sibling named after both, so an 8-core
    run cannot replace a 32-core snapshot and both runs survive on disk.
    Unreadable or legacy files (no provenance) keep the old overwrite
    behavior; a snapshot without a core count counts as a different key."""
    try:
        existing = json.loads(full.read_text())
    except (OSError, ValueError):
        return full
    if not isinstance(existing, dict) or existing.get("provenance") is None:
        return full
    key = (out["provenance"], out["spark_cpus"])
    if (existing["provenance"], existing.get("spark_cpus")) == key:
        return full
    suffix = safe_suffix(f"_{out['provenance']}_c{out['spark_cpus']}")
    return full.with_name(full.stem + suffix + full.suffix)


def host_fingerprint() -> dict:
    """CPU identity + a ~1 s pure-Python spin calibration (see the
    snapshot comment in main). The spin is deliberately single-threaded
    interpreter arithmetic: it tracks the same frequency/steal/thermal
    state that moves single-query wall times, and is independent of the
    JVM warmup effects documented in bisect/INGEST_VARIANCE_r13.md."""
    model = ""
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.lower().startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    iters = 0
    x = 0
    deadline = time.perf_counter() + 1.0
    while time.perf_counter() < deadline:
        for _ in range(10_000):
            x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        iters += 10_000
    return {
        "cpu_model": model,
        "cpus": os.cpu_count(),
        "spin_score": iters,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")
    tables = load_tables(spark, sf_dir)

    for df in tables.values():  # warmup: schema + file listing
        df.limit(1).count()

    names = [n for n in HEADLINE if n in CATALOG]
    extra = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if extra:
        names = [n.strip() for n in extra.split(",") if n.strip() in CATALOG]

    # JIT/codegen warmup: run every headline plan once at the smallest SF
    # so measured times reflect execution, not first-compilation of each
    # plan shape (disable with SPARK_GRAFT_BENCH_COLD=1)
    if not os.environ.get("SPARK_GRAFT_BENCH_COLD"):
        small = load_tables(spark, "/root/testdata/sf0.001")
        for name in names:
            force(CATALOG[name].build(spark, small))
        release_leaked_blocks(spark)  # drop the warmup's leaked blocks
        load_tables(spark, sf_dir)  # restore views

    # Round-robin passes (q1..qN, q1..qN, ...) rather than back-to-back
    # repeats: transient contention then hits one *pass*, not one query's
    # whole sample set, so the median absorbs it.
    samples: dict[str, list[float]] = {n: [] for n in names}
    # per sample: classes compiled and seconds spent compiling them, read
    # from the JVM's codegen counters outside the timed region
    codegen: dict[str, dict[str, list]] = {
        n: {"compiles": [], "compile_s": []} for n in names
    }
    for _ in range(max(1, REPS)):
        for name in names:
            compiles0, compile_s0 = codegen_stats(spark)
            start = time.perf_counter()
            force(CATALOG[name].build(spark, tables))
            samples[name].append(time.perf_counter() - start)
            compiles1, compile_s1 = codegen_stats(spark)
            codegen[name]["compiles"].append(compiles1 - compiles0)
            codegen[name]["compile_s"].append(round(compile_s1 - compile_s0, 3))
            # between timed regions: drop blocks the query leaked so the
            # next measurement starts from a clean executor heap (see
            # release_leaked_blocks — fixes the phantom md5-kernel
            # regression; documented in OPTIMIZATION_r15.md)
            release_leaked_blocks(spark)

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2

    timings = {n: round(median(xs), 3) for n, xs in samples.items()}
    mins = {n: round(min(xs), 3) for n, xs in samples.items()}
    spreads = {n: round(max(xs) - min(xs), 3) for n, xs in samples.items()}

    # Local-iteration escape hatch (round 14): per-query A/B runs only
    # need the queries dict; the pipeline halves add minutes per run.
    # The driver never sets this, so official runs are unchanged.
    if os.environ.get("SPARK_GRAFT_BENCH_QUERIES_ONLY"):
        ingest: dict = {"skipped": True}
        assembly: dict = {"skipped": True}
    else:
        ingest = bench_ingest(spark)
        assembly = bench_assembly(spark)

    total = round(sum(timings.values()), 3)
    prev_name, prev = previous_round()
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,  # per-query MEDIAN of REPS samples
        "queries_min": mins,
        "queries_spread": spreads,  # max - min across samples
        "queries_codegen": codegen,  # per sample, outside the timed total
        "reps": max(1, REPS),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "ingest": ingest,  # pipeline-half throughput (actions-mode DAG)
        "assembly": assembly,  # tx-assembly half (closure + fan-out)
        **run_identity(),
        # host fingerprint (VERDICT r13 task 5): round-over-round bench
        # deltas have repeatedly been dominated by HOST drift (judge's
        # controlled A/B measured the same code 1.31x slower across
        # rounds). Every snapshot carries the cpu model/count and a 1-s
        # single-core spin calibration so cross-round comparisons can be
        # normalized from artifacts alone: spin_score is iterations of a
        # fixed arithmetic loop per second — higher = faster host state.
        "host": host_fingerprint(),
    }
    if prev:
        out["prev_round"] = prev_name
        out["deltas_vs_prev"] = {
            n: round(t - prev[n], 3) for n, t in timings.items() if n in prev
        }
    # Durable full snapshot: the driver keeps only a 2,000-char stdout tail
    # (round 5 lost the medians dict to it), so persist the complete output
    # in-repo where previous_round() — and the judge — can always read it.
    # Local iteration runs (often concurrent with pytest, so their timings
    # are polluted) must not clobber the committed round snapshot: set
    # SPARK_GRAFT_BENCH_NO_PERSIST=1 to keep the run stdout-only.
    # A restricted run (SPARK_GRAFT_BENCH_QUERIES) is never the round
    # artifact either — don't let an A/B iteration clobber the snapshot.
    if not os.environ.get("SPARK_GRAFT_BENCH_NO_PERSIST") and not os.environ.get(
        "SPARK_GRAFT_BENCH_QUERIES"
    ):
        # Gate-artifact protection (VERDICT r14 task 8): in round 14 the
        # per-round re-run clobbered the committed gate snapshot in the
        # working tree, as both harnesses share the filename; in round 15
        # an 8-core run replaced the 32-core one. See snapshot_path.
        full = snapshot_path(
            Path(__file__).resolve().parent / f"BENCH_full_r{current_round():02d}.json",
            out,
        )
        try:
            full.write_text(json.dumps(out, indent=1) + "\n")
        except OSError:
            pass  # read-only checkout: stdout still carries everything
    print(json.dumps(out))


if __name__ == "__main__":
    main()
