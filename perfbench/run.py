"""Same-host benchmark of the chain pipeline and its serving surface.

    python3 perfbench/run.py --workload backfill_serve --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (see README.md):

- ``backfill_serve``: two replaying ``ingest_batch`` commits of a seeded
  chain, then a closed loop of explorer reads (``plans.serving``);
- ``tail_stream``: the actions and keyed transactions daemons drain a
  backlog of one file per block in fixed-size micro-batches;
- ``catalog``: eight catalog queries built and collected, checked against
  stored DuckDB oracle hashes; needs ``SPARK_GRAFT_SF_DIR`` (an ``sf0.1``
  table directory).

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. The line before it
records the environment. A traced run also writes its spans to
``.bench_results/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: driver heap for local[nproc]; the session's own default (48g) does not
#: fit a small host
DRIVER_MEM = "3g"
WORKLOADS = ("backfill_serve", "tail_stream", "catalog")


def pin_environment(tmp: str) -> None:
    """Set before the JVM starts: python workers inherit this env."""
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    for var, sub in (("SPARK_LOCAL_DIRS", "local"), ("SPARK_WAREHOUSE_DIR", "warehouse"),
                     ("TMPDIR", "py")):
        os.environ[var] = os.path.join(tmp, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    # a fixed heap: the JVM's adaptive heap sizing otherwise makes GC work
    # and peak memory differ from run to run; no perf-data file in /tmp
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_SUBMIT_OPTS"), f"-Xms{DRIVER_MEM}", "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']}") if p)
    os.environ.pop("SPARK_MASTER", None)
    os.environ["SPARK_UI"] = "false"


def environment(spark) -> dict:
    model = "unknown"
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.lower().startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except OSError:
        commit = None
    return {
        "nproc": int(os.environ["SPARK_GRAFT_CPUS"]),
        "cpu_model": model,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "driver_mem": DRIVER_MEM,
        "git_commit": commit,
    }


def prepare(workload: str, seed: int, tmp: str) -> dict:
    """Seeded inputs, written before the session starts."""
    import chaingen
    import workloads as W

    if workload == "catalog":
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
        if not sf_dir or not os.path.isdir(sf_dir):
            raise SystemExit("catalog needs SPARK_GRAFT_SF_DIR=<sf0.1 table directory>")
        with open(os.path.join(HERE, "oracle_hashes.json")) as fh:
            hashes = json.load(fh)[os.path.basename(os.path.normpath(sf_dir))]
        return {"sf_dir": sf_dir, "oracle_hashes": hashes}
    if workload == "backfill_serve":
        blocks, truth = chaingen.generate(seed, W.BACKFILL_BLOCKS, W.BACKFILL_TXS_PER_BLOCK)
        per_file = W.BLOCKS_PER_FILE
    else:
        blocks, truth = chaingen.generate(seed, W.TAIL_BLOCKS, W.TAIL_TXS_PER_BLOCK)
        per_file = 1
    blocks_dir = os.path.join(tmp, "blocks")
    paths = chaingen.write_blocks(blocks, blocks_dir, per_file)
    return {"truth": truth, "blocks_dir": blocks_dir,
            "input_bytes": sum(os.path.getsize(p) for p in paths)}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its python workers)."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
    if proc.stdin:
        proc.stdin.close()  # the launcher exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def declared(workload: str) -> dict[str, str] | None:
    """Per-layer metric names and units BENCHMARK.json declares, when it
    lists ``workload``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if workload not in {w["name"] for w in bench["workloads"]}:
        return None
    return {m["name"]: m["unit"] for m in bench["per_layer"]}


def main() -> int:
    ap = argparse.ArgumentParser(description="chain pipeline benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    tmp = os.path.join(ROOT, ".bench_tmp", f"{args.workload}-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(tmp)
    spark = None
    try:
        pin_environment(tmp)
        t_gen = time.perf_counter()
        prep = prepare(args.workload, args.seed, tmp)
        gen_s = time.perf_counter() - t_gen

        import probe
        import workloads as W

        tracer = probe.Tracer(bool(args.trace))
        with tracer.span("session.start"):
            from clickhouse_provider_spark.session import get_spark

            t = time.perf_counter()
            spark = get_spark(app_name=f"perfbench-{args.workload}")
            start_s = time.perf_counter() - t
        ctx = W.Ctx(spark=spark, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
                    tmp=tmp, tracer=tracer,
                    counters=probe.SparkCounters(spark, bool(args.trace)),
                    py4j=probe.Py4jCounter(bool(args.trace)))
        res = getattr(W, args.workload)(ctx, prep)
        setup_s = ctx.timed_from - T_PROCESS - gen_s
        rss = probe.jvm_peak_rss_mb(spark)
        env = environment(spark)
        ctx.py4j.close()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_tmp"))
        except OSError:
            pass

    for e in res.errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    if args.trace:
        layers = {"session.start_s": start_s,
                  "session.warmup_s": tracer.total("session.warmup"),
                  "traced.round_s": res.layers["round_s"],
                  **res.layers}
        units = declared(args.workload)
        # every declared layer metric; a workload that did none of a
        # layer's work reports 0 for it
        metrics = ({n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in units.items()}
                   if units else {n: {"value": float(v), "unit": ""} for n, v in layers.items()})
        out_dir = os.path.join(ROOT, ".bench_results")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json"))
    else:
        e2e = {"setup_s": (setup_s, "s"), "jvm_peak_rss_mb": (rss, "MB"), **res.metrics}
        metrics = {n: {"value": float(v), "unit": u} for n, (v, u) in e2e.items()}
    for n, m in metrics.items():
        print(f"{n:45s} {m['value']:14.4f} {m['unit']}", file=sys.stderr)
    print(json.dumps({"env": env, "generate_s": gen_s, "setup_s": setup_s,
                      "round_s": res.layers.get("round_s"), "check_s": res.layers.get("check_s"), **res.diag,
                      "wall_s": time.perf_counter() - T_PROCESS}))
    print(json.dumps({"correct": not res.errors, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
