"""SparkSession construction + runtime configuration + table loading.

Scale posture: these configs are what we'd ship to a 1000-executor
cluster — AQE on (runtime re-plan, skew-join splitting, partition
coalescing), broadcast threshold sized for dimension tables, shuffle
partitions tuned per deployment. On local[32] test runs the same code
path is exercised with smaller numbers.

One way to read a table: fixture and session-store reads go through
:func:`read_parquet`, which infers a path's schema once per
(applicationId, absolute path) — an inferred read runs a footer job,
about 100 ms against 17 ms with a schema — and passes it on every later
read. Only the ``StructType`` is remembered, so files are still listed
on every read. Fixture tables are immutable within an application (the
``store`` contract); their schemas are not pinned as constants because
``events.ts`` ships as TIMESTAMP(NANOS) or TIMESTAMP(MICROS). Every
other engine-written store is read with its writer's schema, so two
reads of an engine table infer: the first :func:`read_parquet` of a
path, and ``storage.compact_partitioned``, whose input can be any
partitioned store. (``schema_infer``'s onboarding reads exist to
discover the schema of a user's own file.)
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Tables materialized by the test-data generator (TESTDATA.md).
TABLES = (
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
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Runtime-settable confs every query needs regardless of who built the
# session (the verify driver builds its own SparkSession, so these are
# (re-)applied on each entry point rather than only at build time).
_RUNTIME_CONFS = {
    # Deterministic timestamp arithmetic for oracle (DuckDB) parity.
    "spark.sql.session.timeZone": "UTC",
    # The fixture parquet files carry TIMESTAMP(NANOS) — Spark only
    # reads those as raw int64 nanoseconds.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime re-planning: partition coalescing + skew-join handling.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # coalescePartitions.parallelismFirst stays at Spark's default
    # (true). Setting it false (advisory-size coalescing, the
    # production-docs suggestion) was measured in a paired A/B at 32
    # cores and rejected: it cuts the small-shuffle stage latency that
    # dominates the 1–2 s query class (source_overlap variant probe
    # 1.91→1.16 s with 8 reduce partitions) but SERIALIZES post-shuffle
    # CPU-heavy verify stages (containment_dedup_pairs ×2.11 paired —
    # its candidate-pair array_intersect coalesced onto one task). Net
    # negative at this grain (pairs: history/BENCH_AB_r15/aqe_parfirst.json).
    # Let AQE rewrite a sort-merge join to a shuffled-hash join when
    # every post-shuffle partition's build side fits comfortably in a
    # task (guide §3.1 — default 0 disables the rewrite). Decided at
    # RUNTIME from measured partition sizes, not planner estimates, so
    # it is scale-adaptive: big-data joins with large partitions keep
    # sort-merge; the narrow keyed self-joins of the dedup family
    # (20-triple Hamming probes, band keys) skip two O(n log n) sorts.
    # Paired A/B of 64m vs 0 (rewrite off): history/BENCH_AB_r15/shj_config*.json.
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs (idempotent). Call at every entry point."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime-settable in this deployment — builder set it
    return spark


def get_spark(app_name: str = "via_spark", master: str | None = None) -> SparkSession:
    """Build (or get) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset so the
    same helper serves tests, bench, and cluster submission (where the
    master comes from spark-submit and this arg stays None).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.ui.enabled", "false")
        # progress bars write \r[Stage ...] to stdout, which pollutes the
        # tail-of-stdout the bench driver parses its JSON line from
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # dimension tables (region/nation/supplier/rules) stay broadcast-able
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())


#: (applicationId, absolute path) → inferred schema; holds one
#: application's entries only (see :func:`read_parquet`)
_SCHEMAS: dict[tuple[str, str], StructType] = {}
_SCHEMAS_LOCK = threading.Lock()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema inferred once per
    (applicationId, absolute path) and passed on every later read.

    A new applicationId (a new session in the same process) drops the
    earlier application's entries, so the memo stays bounded by the
    paths one session reads.
    """
    key = (spark.sparkContext.applicationId, os.path.abspath(path))
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        if _SCHEMAS and next(iter(_SCHEMAS))[0] != key[0]:
            _SCHEMAS.clear()
        _SCHEMAS[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table; runtime confs applied first.

    The engine's canonical event-time representation is int64 epoch
    NANOSECONDS (the reference ingests OTel ``timeUnixNano``,
    app/services/ingestion_service.py:52). Fixture generations have
    shipped ``events.ts`` both as TIMESTAMP(NANOS) (read as long via
    ``nanosAsLong``) and as TIMESTAMP(MICROS) (read as timestamp_ntz);
    normalize here so every consumer sees the same long-ns column.
    Operators that range-filter on ``ts`` should prefer
    :func:`events_in_window`, which pushes the predicate to the parquet
    scan BEFORE this conversion.
    """
    configure(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = _events_ts_to_ns(df)
    return df


def _events_ts_to_ns(df: DataFrame) -> DataFrame:
    """Replace a timestamp-typed ``ts`` with canonical int64 epoch-ns."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType, TimestampType

    t = df.schema["ts"].dataType
    if isinstance(t, (TimestampType, TimestampNTZType)):
        # The NTZ -> TS cast is value-preserving ONLY under a UTC session
        # tz. configure() swallows conf.set failures, so verify the conf
        # actually took rather than silently shifting every timestamp by
        # the local offset.
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        if tz != "UTC":
            raise RuntimeError(
                f"events ts normalization requires spark.sql.session.timeZone"
                f"=UTC (got {tz!r}); set it at session build time"
            )
        ns = F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
        df = df.withColumn("ts", ns.cast("long"))
    return df


def events_in_window(
    spark: SparkSession,
    sf_dir: str,
    lo_ns: int | None = None,
    hi_ns: int | None = None,
) -> DataFrame:
    """events table filtered to ``ts ∈ [lo_ns, hi_ns]`` with the range
    predicate applied on the RAW parquet column (so it reaches the scan
    as PushedFilters / row-group skipping) and ``ts`` then normalized to
    long ns. A filter placed after the ns conversion would wrap ``ts``
    in an expression Catalyst cannot push into the source."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType, TimestampType

    configure(spark)
    df = read_parquet(spark, f"{sf_dir}/events.parquet")
    t = df.schema["ts"].dataType
    if isinstance(t, (TimestampType, TimestampNTZType)):
        # Micros-typed column: values are whole microseconds, so the ns
        # bounds round INWARD — ceil for the lower bound (floor would
        # admit rows up to 999 ns below lo_ns), floor for the upper.
        if lo_ns is not None:
            lo_us = -(-lo_ns // 1000)
            df = df.where(F.col("ts") >= F.timestamp_micros(F.lit(lo_us)))
        if hi_ns is not None:
            df = df.where(F.col("ts") <= F.timestamp_micros(F.lit(hi_ns // 1000)))
        return _events_ts_to_ns(df)
    if lo_ns is not None:
        df = df.where(F.col("ts") >= F.lit(lo_ns))
    if hi_ns is not None:
        df = df.where(F.col("ts") <= F.lit(hi_ns))
    return df


def nopush(cond):
    """Pin a filter WHERE IT IS WRITTEN (pushdown barrier).

    Catalyst pushes deterministic predicates through Project and
    Repartition nodes toward the scan — usually a win, but fatal for a
    filter over EXPENSIVE DERIVED columns placed above a ``spread()``:
    the push inlines the whole derivation (from_json(to_json(...)),
    tokenize) into the predicate BELOW the widening exchange, so the
    heavy expression runs twice — once per surviving row in the wide
    stage, and once per input row in the narrow pre-exchange stage
    (serially, on the single scan task). Measured on otel_roundtrip:
    2.9 s of the 3.0 s wall was the duplicated parse on one core.

    OR-ing an always-false NON-DETERMINISTIC term onto the condition
    makes the predicate non-pushable as a whole (a disjunction is not
    split into conjuncts, and non-deterministic predicates may not be
    reordered) while changing no row's outcome: ``cond OR false ≡
    cond`` under SQL ternary logic, including the NULL→drop case.
    ``spark_partition_id() < 0`` is the cheapest such term (constant
    per row, flagged non-deterministic by Spark).
    """
    from pyspark.sql import functions as F

    return cond | (F.spark_partition_id() < F.lit(0))


def spread(df: DataFrame, target: int | None = None) -> DataFrame:
    """Widen a NARROW scan before an expensive projection — gated.

    A single-file fixture parquet is one split = one task, so a heavy
    per-row projection (simhash, shingling, JSON render) would run on a
    single core. Repartitioning fixes that locally — but an unconditional
    ``repartition(n)`` is a 100×-scale killer: on a multi-split cluster
    scan it forces a full exchange down to exactly ``n`` partitions.

    This helper repartitions ONLY when the input scan is narrower than
    the session's parallelism (or the explicit ``target``); an
    already-parallel scan passes through with no Exchange. Filters still
    push through the Repartition node to the scan
    (PushPredicateThroughNonJoin), so pushdown is unaffected either way.
    Asserted in tests/test_plans.py::test_spread_gate.

    The gate estimates the scan's split count from optimizer stats
    instead of calling ``df.rdd.getNumPartitions()`` (r15, VERDICT r14
    #5): the RDD conversion compiled a SEPARATE physical plan and
    materialized its RDD lineage on the driver at EVERY call — ~45
    call sites paid tens of ms each per query build. The estimate
    mirrors Spark's own file-split packing (`FilePartition`): each
    file is charged ``openCostInBytes`` on top of its bytes, and the
    split size is ``min(maxPartitionBytes, max(openCost,
    charged/defaultParallelism))``. The gate only needs to know which
    side of ``n`` the count falls on — fixture-sized inputs (one
    split) widen exactly as before; cluster-scale scans pass through
    (and skip the file-list fetch entirely on the fast path).
    """
    spark = df.sparkSession
    n = target or spark.sparkContext.defaultParallelism
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    max_split = _size_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
    )
    if size >= n * max_split:
        return df  # ≥ n splits on bytes alone — already parallel
    open_cost = _size_bytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
    )
    charged = size + open_cost * max(len(df.inputFiles()), 1)
    split = min(max_split, max(open_cost, charged // max(n, 1)))
    est_parts = max(1, -(-charged // max(split, 1)))
    if est_parts < n:
        return df.repartition(n)
    return df


_SIZE_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _size_bytes(v: str) -> int:
    """Spark byte-size conf string ('128m', '134217728b', '1g') → bytes."""
    s = v.strip().lower().removesuffix("b")
    if s and s[-1] in _SIZE_SUFFIX:
        return int(s[:-1]) * _SIZE_SUFFIX[s[-1]]
    return int(s)
