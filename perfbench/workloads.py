"""The benchmark's workloads. Each one takes a :class:`Ctx` and returns a
:class:`Result`; ``run.py`` turns results into the printed JSON.

A run attempts whole rounds of one fixed set of operations and repeats
rounds until ``--seconds`` have passed (at least one round), so the share
of failed operations is the same in every run.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass, field

import chaingen
import checks
import probe

# -- sizes -----------------------------------------------------------------

BACKFILL_BLOCKS = 48
BACKFILL_TXS_PER_BLOCK = 20
BLOCKS_PER_FILE = 20
#: second commit restarts this many blocks before the first one ended
#: (longer than any transaction's span, chaingen.MAX_SPAN)
REPLAY_OVERLAP = 16
#: serving calls per round: (per point-lookup kind, per scan kind); the
#: first of each kind is a warm-up call
BACKFILL_READS = (5, 2)

TAIL_BLOCKS = 24
TAIL_TXS_PER_BLOCK = 20
#: the backlog is drained in one micro-batch per daemon: on this size of
#: host each daemon's per-batch cost is mostly fixed, and a run must stay
#: within about a minute
TAIL_FILES_PER_TRIGGER = 24

CATALOG_QUERIES = (
    "dedup_cluster_stats",
    "dedup_simhash_clusters",
    "dedup_lsh_pairs",
    "spearman_rank_corr",
    "similarity_pq_topk",
    "similarity_ivfpq_adc",
    "q5_regional_revenue",
    "q21_waiting_suppliers",
)

LOOKUPS = ("tx_by_hash", "receipt_to_tx_lookup", "block_transactions", "account_history")
SCANS = ("account_actions_range", "events_by_name", "method_call_stats",
         "per_block_counts", "latest_block")
#: serving calls against a warehouse that holds only the chain's first
#: block; they fail today (read_table cannot read a table with no data
#: files) and are kept as a fixed class of known-failing operations
COLD_START_READS = {
    "tx_by_hash": {"tx_hash": "none"},
    "account_actions_range": {"account_id": "app0.near", "from_height": chaingen.START_HEIGHT,
                              "to_height": chaingen.START_HEIGHT},
    "events_by_name": {"event": "ft_transfer"},
}
TABLES = ("actions", "events", "data", "transactions", "account_txs",
          "block_txs", "receipt_txs", "blocks")


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    trace: bool
    tmp: str
    tracer: probe.Tracer
    counters: probe.SparkCounters
    py4j: probe.Py4jCounter
    #: perf_counter() at the end of warm-up, set by the workload
    timed_from: float | None = None


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    metrics: dict = field(default_factory=dict)  # name -> (value, unit)
    layers: dict = field(default_factory=dict)  # name -> value
    snapshot: dict | None = None  # what the warehouse checks saw
    diag: dict = field(default_factory=dict)  # raw timings for the env line


def _rounds(ctx: Ctx):
    """Round numbers until the run's measuring time is used (>= 1)."""
    start = time.perf_counter()
    n = 0
    while n == 0 or time.perf_counter() - start < ctx.seconds:
        yield n
        n += 1


def _dir_mb(paths) -> float:
    total = 0
    for p in paths:
        for root, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6


# -- ingest ----------------------------------------------------------------


def ingest(ctx: Ctx, blocks_df, warehouse: str, layers: dict, split: bool) -> None:
    """One commit through ``storage.ingest_batch``. With ``split`` (traced
    runs only) it makes the same public calls ``ingest_batch`` makes, and
    first forces each operator output to the ``noop`` sink so operator
    time and write time can be told apart."""
    from clickhouse_provider_spark import storage
    from clickhouse_provider_spark.operators.actions import extract_tables
    from clickhouse_provider_spark.operators.transactions import assemble

    tr, sc = ctx.tracer, ctx.counters
    if not split:
        with sc.phase("ingest_batch"), tr.span("storage.ingest_batch"):
            storage.ingest_batch(blocks_df, warehouse)
        return
    with tr.span("storage.ingest_batch.split"):
        with sc.phase("actions"), tr.span("actions.extract_tables"):
            act = extract_tables(blocks_df)
        with sc.phase("transactions.fixpoint"), tr.span("transactions.assemble"):
            txs = assemble(blocks_df)
        frames = [("actions", n, df) for n, df in act.items()] + [
            ("transactions", n, df)
            for n, df in txs.items()
            if n not in ("incomplete", "mapping")
        ]
        for layer, name, df in frames:
            with sc.phase(layer), tr.span(f"{layer}.noop", table=name):
                df.write.format("noop").mode("overwrite").save()
            with sc.phase("storage.write"), tr.span("storage.write_table", table=name):
                storage.write_table(df, warehouse, name)
    # row counts, outside every span
    for layer, name, df in frames:
        if layer == "actions" or name == "transactions":
            key = "actions.rows_out" if layer == "actions" else "transactions.txs_out"
            layers[key] = layers.get(key, 0) + df.count()


def _storage_layers(layers: dict, warehouse: str) -> None:
    """Parquet files and bytes of the 8 tables a round wrote."""
    paths = [os.path.join(warehouse, t) for t in TABLES]
    layers["storage.files_written"] = sum(
        f.endswith(".parquet") for p in paths for _, _, fs in os.walk(p) for f in fs)
    layers["storage.bytes_written"] = _dir_mb(paths) * 1e6


def _ingest_layers(ctx: Ctx, layers: dict, warehouse: str, input_bytes: float) -> None:
    """``input_bytes``: size of the block files one commit is given."""
    tr, sc = ctx.tracer, ctx.counters
    layers["actions.extract_s"] = tr.total("actions.extract_tables") + tr.total("actions.noop")
    layers["transactions.assemble_s"] = tr.total("transactions.assemble") + tr.total("transactions.noop")
    layers["transactions.fixpoint_jobs"] = sc.get("transactions.fixpoint")["jobs"]
    # write_table after the noop pass materialised the operators' cached
    # intermediates: sort, bucket and parquet write of each table
    layers["storage.write_s"] = tr.total("storage.write_table")
    _storage_layers(layers, warehouse)
    # measured on the unsplit ingest_batch commit
    layers["sources.block_bytes_read_ratio"] = sc.get("ingest_batch")["inputBytes"] / input_bytes
    for p in ("actions", "transactions", "storage.write"):
        layers.update(probe.phase_metrics(p, sc.get(p)))


# -- serving ---------------------------------------------------------------


def _serving_call(ctx: Ctx, warehouse: str, fn: str, args: dict) -> tuple[list, float]:
    """Rows of one serving call and its latency in ms (the counters' reads
    of the status store stay outside the timed part)."""
    from clickhouse_provider_spark.plans import serving

    with ctx.counters.phase(f"serving.{fn}"), ctx.tracer.span(f"serving.{fn}"):
        t = time.perf_counter()
        with ctx.tracer.span("storage.read_table"):
            df = getattr(serving, fn)(ctx.spark, warehouse, **args)
        rows = [r.asDict() for r in df.collect()]
        return rows, (time.perf_counter() - t) * 1000


def _read_plan(rng: random.Random, truth: chaingen.Truth, per_lookup: int,
               per_scan: int) -> list[tuple[str, dict]]:
    """The fixed mix of serving calls of one round, in a seeded order."""
    hashes = sorted(truth.txs)
    receipts = sorted(truth.receipt_tx)
    accounts = sorted({t["signer"] for t in truth.txs.values()})
    contracts = sorted(truth.account_action_heights)
    lo, hi = truth.first_height, truth.last_height
    events = sorted(truth.events_by_name)
    plan = []
    for _ in range(per_lookup):
        plan += [
            ("tx_by_hash", {"tx_hash": rng.choice(hashes)}),
            ("receipt_to_tx_lookup", {"receipt_id": rng.choice(receipts)}),
            ("block_transactions", {"block_height": rng.randint(lo, hi)}),
            ("account_history", {"account_id": rng.choice(accounts),
                                 "after_height": rng.randint(lo, (lo + hi) // 2), "limit": 50}),
        ]
    for _ in range(per_scan):
        start = rng.randint(lo, hi - 10)
        plan += [
            ("account_actions_range", {"account_id": rng.choice(contracts),
                                       "from_height": start, "to_height": start + 20, "limit": 100}),
            ("events_by_name", {"event": rng.choice(events), "limit": 100}),
            ("method_call_stats", {"from_height": lo}),
            ("per_block_counts", {}),
            ("latest_block", {}),
        ]
    rng.shuffle(plan)
    return plan


def _serve(ctx: Ctx, warehouse: str, truth, rng, res: Result, lat: dict, reads) -> None:
    """A closed loop of one client's serving calls, each checked. The
    first call of each function compiles its plan shape, up to twice as
    slow as later ones, so it is left out of the latencies."""
    warm = set()
    for fn, args in _read_plan(rng, truth, *reads):
        rows, ms = _serving_call(ctx, warehouse, fn, args)
        if fn in warm:
            lat.setdefault(fn, []).append(ms)
        warm.add(fn)
        lat.setdefault("rows_returned", []).append(len(rows))
        res.attempted += 1
        res.errors += checks.check_call({"fn": fn, "args": args, "rows": rows}, truth)


def _serving_layers(ctx: Ctx, lat: dict, layers: dict) -> None:
    for fn in LOOKUPS + SCANS:
        layers[f"serving.{fn}.p50_ms"] = statistics.median(lat[fn])
    total: dict = {}
    for fn in LOOKUPS + SCANS:
        for k, v in ctx.counters.get(f"serving.{fn}").items():
            total[k] = total.get(k, 0) + v
    layers["serving.files_scanned_per_call"] = total["files_read"] / total["calls"]
    layers["serving.jobs_per_call"] = total["jobs"] / total["calls"]
    layers["serving.rows_scanned_per_row_returned"] = total["inputRecords"] / max(
        1, sum(lat["rows_returned"]))
    layers["storage.read_table_s"] = ctx.tracer.total("storage.read_table")
    layers.update(probe.phase_metrics("serving", total))


def _read_metrics(lat: dict) -> dict:
    """Median point lookup, and the mean over scan kinds of each kind's
    median (the kinds differ several-fold in cost, so a median over all
    scans would jump between kinds)."""
    lookups = [x for fn in LOOKUPS for x in lat[fn]]
    return {"serving.lookup_p50_ms": statistics.median(lookups),
            "serving.scan_mean_ms": statistics.mean(statistics.median(lat[fn]) for fn in SCANS)}


# -- workloads -------------------------------------------------------------


def backfill_serve(ctx: Ctx, prep: dict) -> Result:
    """Catch-up indexer (two replaying commits) then explorer reads."""
    from pyspark.errors import AnalysisException

    from clickhouse_provider_spark import sources, storage

    spark, truth, blocks_dir = ctx.spark, prep["truth"], prep["blocks_dir"]
    res = Result()
    h0 = truth.first_height
    mid = h0 + BACKFILL_BLOCKS // 2
    cold = os.path.join(ctx.tmp, "cold")
    with ctx.counters.phase("session.warmup"), ctx.tracer.span("session.warmup"):
        # warm-up ingest of the chain's first block; it is also the
        # cold-start warehouse of the known-fault reads
        storage.ingest_batch(sources.read_blocks(spark, blocks_dir, h0, h0), cold)
    ctx.timed_from = time.perf_counter()
    commits, lat, layers = [], {}, res.layers
    rng = random.Random(ctx.seed)
    for rnd in _rounds(ctx):
        wh = os.path.join(ctx.tmp, f"wh{rnd}")
        # a traced run splits the first commit into its layers and keeps
        # the second as one ingest_batch call
        for i, (lo, hi) in enumerate(((None, mid), (mid - REPLAY_OVERLAP, None))):
            t = time.perf_counter()
            ingest(ctx, sources.read_blocks(spark, blocks_dir, lo, hi), wh, layers,
                   split=ctx.trace and i == 0)
            commits.append(time.perf_counter() - t)
            res.attempted += 1
        _serve(ctx, wh, truth, rng, res, lat, BACKFILL_READS)
        for fn, args in COLD_START_READS.items():
            res.attempted += 1
            try:
                _serving_call(ctx, cold, fn, args)
            except AnalysisException as exc:  # the known fault, counted
                if "UNABLE_TO_INFER_SCHEMA" not in str(exc):
                    raise
                res.failed += 1
    t_end = time.perf_counter()
    n_rounds = rnd + 1
    # checks (outside the measured time)
    t = time.perf_counter()
    res.snapshot = snap = checks.snapshot_warehouse(spark, wh, raw_counts=True)
    res.errors += checks.check_warehouse(snap, truth, expect_replay=True)
    res.layers["check_s"] = time.perf_counter() - t
    res.layers["round_s"] = (t_end - ctx.timed_from) / n_rounds
    res.metrics.update(
        round_s=(res.layers["round_s"], "s"),
        blocks_per_s=(n_rounds * BACKFILL_BLOCKS / sum(commits), "blocks/s"),
        commit_p50_s=(statistics.median(commits), "s"),
        warehouse_mb=(_dir_mb(os.path.join(wh, t) for t in TABLES), "MB"),
    )
    res.layers.update(_read_metrics(lat))
    res.diag["commits_s"] = commits
    res.diag.update(_read_metrics(lat))
    if ctx.trace:
        # each commit is handed the whole block directory
        _ingest_layers(ctx, layers, wh, prep["input_bytes"])
        _serving_layers(ctx, lat, layers)
    return res


def _batches(query) -> list[dict]:
    """Progress reports of the micro-batches that read input."""
    return [p for p in query.recentProgress if p["numInputRows"] > 0]


def _last_commit(query) -> float:
    """Epoch seconds at which the query's last micro-batch ended."""
    from datetime import datetime

    last = query.recentProgress[-1]
    start = datetime.fromisoformat(last["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + last["durationMs"]["triggerExecution"] / 1000


def _router_wait_rows(spark, state_dir: str) -> dict:
    from clickhouse_provider_spark.streaming.state import VersionedState

    state = VersionedState(spark, state_dir)
    out = {}
    for part in ("outcome_wait", "data_wait", "consume_wait", "routing"):
        df = state.read(part, 1 << 62)
        out[part] = df.count() if df is not None else 0
    return out


def tail_stream(ctx: Ctx, prep: dict) -> Result:
    """Both daemons drain a backlog of one file per block in fixed-size
    micro-batches (availableNow): the actions stream, then the keyed
    transactions stream (router, then assembler)."""
    from clickhouse_provider_spark.streaming import pipeline

    spark, truth = ctx.spark, prep["truth"]
    res = Result()
    ctx.timed_from = time.perf_counter()
    walls = {"actions": [], "tx": [], "drain": []}
    batch_s = {"actions": [], "router": [], "assembler": []}
    state_rows = state_bytes = 0
    for rnd in _rounds(ctx):
        wh = os.path.join(ctx.tmp, f"wh{rnd}")
        ck = os.path.join(ctx.tmp, f"ck{rnd}")
        # the two daemons follow the same block drop concurrently, as the
        # reference runs them
        t, t_wall = time.perf_counter(), time.time()
        with ctx.counters.phase("streaming"), ctx.tracer.span("streaming.drain"):
            q = pipeline.run_actions_stream(
                spark, prep["blocks_dir"], wh, os.path.join(ck, "actions"),
                max_files_per_trigger=TAIL_FILES_PER_TRIGGER)
            q2 = pipeline.run_transactions_stream(
                spark, prep["blocks_dir"], wh, os.path.join(ck, "tx"),
                max_files_per_trigger=TAIL_FILES_PER_TRIGGER)
            q2.awaitTermination()
            walls["tx"].append(time.perf_counter() - t)
            q.awaitTermination()
            walls["drain"].append(time.perf_counter() - t)
        walls["actions"].append(_last_commit(q) - t_wall)
        for name, query in (("actions", q), ("router", q2.router_query), ("assembler", q2)):
            for p in _batches(query):
                batch_s[name].append(p["durationMs"]["triggerExecution"] / 1000)
                res.attempted += 1
        for p in _batches(q2):
            for op in p.get("stateOperators", []):
                state_rows = max(state_rows, op["numRowsTotal"])
                state_bytes = max(state_bytes, op["memoryUsedBytes"])
    n_rounds = rnd + 1
    res.layers["round_s"] = (time.perf_counter() - ctx.timed_from) / n_rounds
    t = time.perf_counter()
    res.snapshot = snap = checks.snapshot_warehouse(spark, wh, raw_counts=False)
    res.errors += checks.check_warehouse(snap, truth, expect_replay=False)
    waits = _router_wait_rows(spark, os.path.join(wh, "_router_state"))
    res.errors += [f"router state {k} holds {v} rows after the drain" for k, v in waits.items() if v]
    res.layers["check_s"] = time.perf_counter() - t
    all_batches = batch_s["actions"] + batch_s["router"] + batch_s["assembler"]
    res.diag["batches_s"] = batch_s
    res.metrics.update(
        round_s=(res.layers["round_s"], "s"),
        blocks_per_s=(n_rounds * TAIL_BLOCKS / sum(walls["drain"]), "blocks/s"),
        commit_p50_s=(statistics.median(all_batches), "s"),
        warehouse_mb=(_dir_mb(os.path.join(wh, t) for t in TABLES), "MB"),
    )
    layers = res.layers
    layers["tail.actions_blocks_per_s"] = n_rounds * TAIL_BLOCKS / sum(walls["actions"])
    layers["tail.tx_blocks_per_s"] = n_rounds * TAIL_BLOCKS / sum(walls["tx"])
    layers["tail.actions_batch_p50_s"] = statistics.median(batch_s["actions"])
    for name, xs in batch_s.items():
        layers[f"streaming.{name}.batch_s"] = statistics.median(xs)
    layers["streaming.assembler.state_rows"] = state_rows
    layers["streaming.assembler.state_bytes"] = state_bytes
    layers["streaming.unit_log_files"] = sum(
        1 for f in os.listdir(os.path.join(wh, "_tx_units")) if f.endswith(".parquet"))
    if ctx.trace:
        streaming = ctx.counters.get("streaming")
        layers.update(probe.phase_metrics("streaming", streaming))
        # both daemons read every block file; this also counts their
        # parquet reads of state, unit log and blocks table
        layers["sources.block_bytes_read_ratio"] = streaming["inputBytes"] / prep["input_bytes"]
        _storage_layers(layers, wh)
    return res


def catalog(ctx: Ctx, prep: dict) -> Result:
    """The analytic serving half: each query built, then collected."""
    from clickhouse_provider_spark.plans import CATALOG
    from clickhouse_provider_spark.session import load_tables

    spark = ctx.spark
    res = Result()
    tables = load_tables(spark, prep["sf_dir"])
    with ctx.counters.phase("session.warmup"), ctx.tracer.span("session.warmup"):
        for name in CATALOG_QUERIES:
            CATALOG[name].build(spark, tables).toPandas()
    order = list(CATALOG_QUERIES)
    random.Random(ctx.seed).shuffle(order)
    ctx.timed_from = time.perf_counter()
    build, execute, pycalls, hashes = {}, {}, {}, {}
    for _ in _rounds(ctx):
        for name in order:
            with ctx.tracer.span(f"catalog.{name}"):
                ctx.py4j.n = 0
                with ctx.counters.phase(f"catalog.{name}.build"):
                    t = time.perf_counter()
                    df = CATALOG[name].build(spark, tables)
                    t_built = time.perf_counter()
                with ctx.counters.phase(f"catalog.{name}.exec"):
                    pdf = df.toPandas()
                    t_done = time.perf_counter()
                pycalls.setdefault(name, []).append(ctx.py4j.n)
            build.setdefault(name, []).append(t_built - t)
            execute.setdefault(name, []).append(t_done - t_built)
            hashes[name] = checks.value_hash(pdf)
            res.attempted += 1
    res.layers["round_s"] = (time.perf_counter() - ctx.timed_from) / len(build[order[0]])
    want = prep["oracle_hashes"]
    res.errors += [f"catalog {n}: value hash differs from the DuckDB oracle"
                   for n, h in hashes.items() if want.get(n) != h]
    per_query = {n: statistics.median(build[n]) + statistics.median(execute[n]) for n in order}
    res.metrics["catalog_total_s"] = (sum(per_query.values()), "s")
    res.metrics["query_p50_s"] = (statistics.median(per_query.values()), "s")
    for n in order:
        layers = res.layers
        layers[f"catalog.{n}.build_s"] = statistics.median(build[n])
        layers[f"catalog.{n}.exec_s"] = statistics.median(execute[n])
        if ctx.trace:
            b = ctx.counters.get(f"catalog.{n}.build")
            e = ctx.counters.get(f"catalog.{n}.exec")
            layers[f"catalog.{n}.build_jobs"] = b["jobs"] / b["calls"]
            layers[f"catalog.{n}.py4j_calls"] = statistics.median(pycalls[n])
            layers[f"catalog.{n}.shuffle_bytes"] = (b["shuffleWriteBytes"] + e["shuffleWriteBytes"]) / b["calls"]
            layers[f"catalog.{n}.spill_bytes"] = (
                b["memoryBytesSpilled"] + b["diskBytesSpilled"] + e["memoryBytesSpilled"] + e["diskBytesSpilled"]
            ) / b["calls"]
    return res
