"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[N]`` (single JVM); the configuration is
chosen so the same logical plans scale to a multi-executor cluster:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting) —
  replaces hand-tuning ``spark.sql.shuffle.partitions`` per query at scale.
- Arrow-backed Pandas UDF transfer on — every Python-side operator in this
  package is Arrow-batched, never row-at-a-time.
- UTC session timezone — the reference stores nanosecond UTC timestamps
  (reference README.md:121 ``DateTime64(9,'UTC')``).
- Driver heap (``spark.driver.memory``) from ``SPARK_DRIVER_MEM`` when it
  is set; otherwise a quarter of the host's memory, capped at 48g
  (:func:`driver_memory`). A quarter is the JVM's own default maximum heap
  (``-XX:MaxRAMPercentage=25``), and like the JVM it reads the cgroup
  memory limit instead of physical memory when one is set, so the default
  heap never outgrows the machine or container it runs in.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: cgroup v2 and v1 memory-limit files; "max" or a near-2^63 value: no limit
_CGROUP_MEMORY_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def host_memory_bytes() -> int:
    """Memory this process may use: physical memory, or the cgroup memory
    limit when one is set below it."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in _CGROUP_MEMORY_LIMITS:
        try:
            with open(path) as f:
                limit = f.read().strip()
        except OSError:
            continue
        if limit.isdigit():
            total = min(total, int(limit))
    return total


def driver_memory(host_bytes: int | None = None) -> str:
    """The ``spark.driver.memory`` value: ``SPARK_DRIVER_MEM`` when set,
    else a quarter of ``host_bytes`` (default :func:`host_memory_bytes`)
    in MiB, capped at 48g — so hosts with 192 GB or more get exactly 48g."""
    override = os.environ.get("SPARK_DRIVER_MEM")
    if override:
        return override
    if host_bytes is None:
        host_bytes = host_memory_bytes()
    return f"{min(host_bytes // 4 // 2**20, 48 * 1024)}m"


def get_spark(
    app_name: str = "clickhouse_provider_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]``.
    """
    # Activate the vendored protobuf shim (if any) BEFORE the gateway JVM
    # launches: python workers inherit PYTHONPATH from the JVM environment,
    # captured at JVM launch, so a shim activated here reaches workers and
    # transformWithStateInPandas' state protocol can initialize. No-op when
    # protobuf is properly installed (real clusters) or no bundle exists.
    from clickhouse_provider_spark.vendor import ensure_protobuf

    ensure_protobuf()
    # Driver JVM thread stack (round 15): Structured Streaming's stream
    # execution thread intermittently dies with a java.lang
    # .StackOverflowError whose entire 1024-frame dump is
    # java.util.regex backtracking (observed ~50% of runs on the
    # continuous semantic-curation rollover path — the regex recursion
    # depth scales with the matched string, and the JVM default ~1 MB
    # thread stack sits right at the edge). -Xss must be set BEFORE the
    # gateway JVM launches; builder confs apply too late for driver
    # JVM options in local mode, so inject via SPARK_SUBMIT_OPTS (a
    # no-op when the JVM is already up or the caller set their own).
    if "-Xss" not in os.environ.get("SPARK_SUBMIT_OPTS", ""):
        os.environ["SPARK_SUBMIT_OPTS"] = (
            os.environ.get("SPARK_SUBMIT_OPTS", "") + " -Xss16m"
        ).strip()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Push IN filters with up to ~1k values down to parquet instead of
        # the min/max range rewrite: the curation loops prune their
        # doc_id/band_hash/cell_id-sorted state scans with bounded IN
        # lists (round 14 — the operators cap their lists at the same
        # 1024, falling back to joins/full reads above it), and a range
        # rewrite over scattered ids prunes nothing.
        .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
        # Parquet TIMESTAMP(NANOS) (events.ts) reads as LongType nanoseconds —
        # the engine's canonical timestamp form, mirroring the reference's
        # DateTime64(9,'UTC') ns precision (reference README.md:121) which
        # exceeds Spark's µs TimestampType. Queries derive µs timestamps via
        # timestamp_micros(ns DIV 1000) when calendar semantics are needed.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", driver_memory())
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/tmp"))
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/spark-warehouse"),
        )
    )
    if master or not os.environ.get("SPARK_MASTER"):
        builder = builder.master(master or f"local[{cpus}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Runtime-settable confs the public query contract depends on. The harness
# (and any downstream user) may hand us a *vanilla* SparkSession built with
# plain ``SparkSession.builder.getOrCreate()`` — ``get_spark()``'s builder
# confs never apply there, so anything load-bearing for reading the testdata
# must be (re)applied at runtime on the caller's session.
_REQUIRED_RUNTIME_CONFS = {
    # events.parquet stores INT64 TIMESTAMP(NANOS); without this a vanilla
    # session throws [PARQUET_TYPE_ILLEGAL] on read. ns-as-long is also the
    # engine's canonical timestamp form (reference README.md:121
    # DateTime64(9,'UTC')).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Timestamp→string canonicalisation must agree with the UTC oracle.
    "spark.sql.session.timeZone": "UTC",
}


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Apply the engine's load-bearing runtime confs to *any* session.

    Tolerates confs a given Spark build doesn't support (older/newer
    versions): ``load_tables`` has an explicit-schema fallback for the one
    table that strictly needs ``nanosAsLong``.
    """
    for key, value in _REQUIRED_RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - conf unsupported on this build
            pass


def _nanos_as_long_schema(path: str):
    """Derive a Spark read schema from a parquet file's Arrow schema with
    timestamp[ns] columns mapped to LongType — the fallback read path when
    ``spark.sql.legacy.parquet.nanosAsLong`` cannot be set on the session.
    """
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import from_arrow_type

    target = path
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet"))) or sorted(
            glob.glob(os.path.join(path, "part-*"))
        )
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {path}")
        target = parts[0]
    arrow_schema = pq.read_schema(target)
    fields = []
    for field in arrow_schema:
        import pyarrow as pa

        if pa.types.is_timestamp(field.type) and field.type.unit == "ns":
            spark_type = T.LongType()
        else:
            spark_type = from_arrow_type(field.type)
        fields.append(T.StructField(field.name, spark_type, field.nullable))
    return T.StructType(fields)


def _read_parquet(spark: SparkSession, path: str):
    try:
        return spark.read.parquet(path)
    except Exception as exc:  # AnalysisException on ns timestamps
        if "PARQUET_TYPE_ILLEGAL" not in str(exc):
            raise
        return spark.read.schema(_nanos_as_long_schema(path)).parquet(path)


def _normalize_ts_ns(df):
    """Normalize the events ``ts`` column to canonical ns-LongType regardless
    of the parquet physical encoding.

    The testdata is driver-owned and has shipped ``ts`` as INT64
    TIMESTAMP(NANOS) (read as LongType via ``nanosAsLong``) in some rounds and
    as plain ``timestamp[us]`` (read as TIMESTAMP / TIMESTAMP_NTZ) in others.
    Every consumer in this package — ``ts_us()`` (plans/catalog.py), the
    window/session queries, the bench — assumes LongType nanoseconds, matching
    the reference's ns-precision DateTime64(9,'UTC') (reference README.md:121)
    which exceeds Spark's µs TimestampType. So we introspect the *read* dtype:

    - LongType                      → passthrough (INT64-nanos / nanosAsLong)
    - TimestampType / TIMESTAMP_NTZ → ``unix_micros(ts) * 1000`` (session tz
      is UTC, so NTZ wall-clock == UTC instant, same as DuckDB ``epoch_us``)

    DuckDB oracles use ``epoch_us(ts)`` which is encoding-agnostic, so the two
    sides agree under every encoding.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if "ts" not in df.columns:
        return df
    dt = df.schema["ts"].dataType
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        ns = (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)).cast(
            "long"
        )
        return df.withColumn("ts", ns)
    return df  # LongType nanos (canonical) or anything else: leave intact


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, "object"]:
    """Register every testdata parquet table as a temp view and return the
    DataFrames. Filters/projections against these views push down to the
    parquet scan (verify with ``df.explain('formatted')`` → PushedFilters)
    — with one deliberate exception: predicates on the events table's
    canonical ns ``ts`` filter post-scan, because ``ts`` is a derived
    column under timestamp-encoded testdata (:func:`_normalize_ts_ns`),
    exactly as they did under the original ``ts DIV 1000`` expression form
    (an expression filter never reached the scan either). Pushdown on
    every other events column (user_id, event_type, …) is unaffected. At
    100 TB, time pruning comes from time-bucketed PARTITIONING of the
    produced tables (storage.py), not events.parquet row-group stats.

    Works on a *vanilla* SparkSession: load-bearing confs are applied at
    runtime here (see :func:`ensure_runtime_confs`).
    """
    ensure_runtime_confs(spark)
    names = [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = _read_parquet(spark, path)
        if name == "events":
            df = _normalize_ts_ns(df)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
