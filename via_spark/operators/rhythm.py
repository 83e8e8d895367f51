"""Tier-1 rhythm anomaly detection (the reference's flagship query).

Semantics parity with ``app/services/rhythm_analysis_service.py:32-109``:

* recent window  = points with ``ts`` in ``[now - window_sec, now]``
  (inclusive both ends — reference Range(gte, lte) at
  ``app/services/qdrant_service.py:140``)
* baseline       = newest ``sample_size`` (10 000) points with
  ``ts < now - window_sec`` (``app/services/qdrant_service.py:147-157``)
* baseline stats = duration-normalized: ``duration = max(1, newest-oldest)``,
  ``scale = window_sec/duration``, per hash ``mean = count*scale``,
  ``std = max(1.5, sqrt(mean))`` — requires >= 2 baseline points, else no
  stats at all (``rhythm_analysis_service.py:37-38``)
* novelty (J1)   = recent hash absent from baseline AND count >= 2
* frequency (J2) = recent hash present AND count > mean + 2.5*std AND count >= 3
* representative payload (J4): the reference keeps the *last* scroll row
  per hash (unstable insertion order); we pin a deterministic tiebreak —
  earliest ts, then smallest event_id (SURVEY.md §7.4 decision 1).

Determinism: ``now`` is an explicit parameter (default: max ts in the
table), never wall-clock — SURVEY.md §7.4 decision 2.

Scale notes (100 TB posture):
* Three predicate-pushed parquet reads over a date-partitioned tier1:
  the window twice (per-hash counts; per-hash first rows, a
  WindowGroupLimit cut before the shuffle) and the baseline once — its
  newest-10k top-k runs once, for the per-hash counts and the global
  bounds alike, and keeps the stats side O(1) in history size.
* All joins key on ``rhythm_hash``; the stats side is <= 10k rows
  post-aggregation, so Spark broadcast-joins it (no shuffle of the
  recent side beyond its own aggregations).
* One detection row carries its tier2 cluster too (``end_ts``,
  ``sample_logs``), so promotion adds no pass over the window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from via_spark.functions.text import rhythm_hash, template
from via_spark.session import events_in_window, spread

HISTORICAL_SAMPLE_SIZE = 10_000
NOVELTY_MIN_COUNT = 2
FREQUENCY_MIN_COUNT = 3
FREQUENCY_STD_DEV_FACTOR = 2.5
DEFAULT_WINDOW_SEC = 86_400  # one day of the fixture's 30-day stream
SAMPLE_LOGS_MAX = 5  # tier2 ``sample_logs`` width (A3)

#: the anomaly row: what ``find_rhythm_anomalies`` returns
ANOMALY_COLUMNS = (
    "rhythm_hash", "service", "severity", "body", "ts",
    "anomaly_type", "anomaly_context", "r_count",
)


def _round1(col: Column) -> Column:
    """Half-up round to 1 decimal, as a double — identical in Spark and
    DuckDB (``floor(x*10 + 0.5)/10``), unlike printf tie-breaking."""
    return F.floor(col * 10 + F.lit(0.5)) / 10


def tier1_from_events(
    spark: SparkSession,
    sf_dir: str,
    lo_ns: int | None = None,
    hi_ns: int | None = None,
) -> DataFrame:
    """The fixture `events` table viewed as a tier1 log store.

    Mapping (FIXTURES.md §B): service := 'svc_' || user_id,
    severity := event_type, body := event_type || ' value=' ||
    printf('%.2f', value) || ' ' || props, ts := epoch seconds.
    ``ts`` reaches this function as canonical int64 nanoseconds
    whichever way the fixture generation encoded it — current
    generations ship TIMESTAMP(MICROS) (normalized by the reader),
    earlier ones shipped TIMESTAMP(NANOS) read as long via nanosAsLong;
    tests/test_plans.py::test_tier1_identical_on_both_ts_encodings pins
    the equivalence. Integer division keeps the sec conversion exact.

    The read goes through :func:`via_spark.session.events_in_window`,
    the canonical raw-events reader: when ``lo_ns``/``hi_ns`` bounds are
    given they are applied on the RAW parquet column BEFORE the ns
    normalization, so the range predicate reaches the scan as
    PushedFilters on either fixture ``ts`` encoding (int64 NANOS *or*
    TIMESTAMP(MICROS)) — asserted by
    tests/test_plans.py::test_events_in_window_pushdown_both_encodings.

    The fixture is one small parquet file = one scan split, so the
    template/sha256 projection goes through the gated ``spread`` helper
    (repartitions only when the scan is narrower than the session
    parallelism — a multi-split cluster scan passes through untouched);
    Catalyst still pushes the time-range filters through the Repartition
    node down to the scan (PushPredicateThroughNonJoin), so ts_ns
    row-group skipping is preserved.
    """
    ev = spread(events_in_window(spark, sf_dir, lo_ns, hi_ns))
    body = F.concat_ws(
        " ",
        F.concat(F.col("event_type"), F.lit(" value="), F.format_string("%.2f", "value")),
        F.col("props"),
    )
    df = ev.select(
        F.col("event_id"),
        F.col("ts").alias("ts_ns"),  # raw column kept for parquet pushdown
        F.expr("ts div 1000000000").alias("ts"),
        F.concat(F.lit("svc_"), F.col("user_id").cast("string")).alias("service"),
        F.col("event_type").alias("severity"),
        body.alias("body"),
    )
    tmpl = template(F.col("body"))
    return df.withColumn("template", tmpl).withColumn(
        "rhythm_hash", rhythm_hash("service", "severity", F.col("template"))
    )


def current_now(tier1: DataFrame) -> int:
    """Deterministic 'now': the newest ts in the store.

    An EMPTY store pins now=0 so every downstream window/baseline
    expression stays well-typed and evaluates to an empty result — a
    detector over no data finds nothing, rather than TypeError-ing on
    a None timestamp (tested over schema-only fixtures in
    tests/test_storage.py::test_all_queries_survive_empty_tables).
    """
    newest = tier1.agg(F.max("ts")).collect()[0][0]
    return 0 if newest is None else newest


def recent_window(tier1: DataFrame, now: int, window_sec: int) -> DataFrame:
    """S6: time-range scan, inclusive both ends (``ts`` epoch-seconds).

    The predicate is written against the RAW int64-nanosecond column so
    it pushes down to the parquet scan (row-group min/max skipping); a
    filter on the derived ``ts div 1e9`` column would not. Equivalence:
    ``ts >= a  <=>  ts_ns >= a*1e9`` and ``ts <= b  <=>  ts_ns < (b+1)*1e9``
    for non-negative epochs under truncating division.
    """
    if "ts_ns" in tier1.columns:
        lo = (now - window_sec) * 1_000_000_000
        hi = (now + 1) * 1_000_000_000 - 1
        return tier1.where(F.col("ts_ns").between(lo, hi))
    return tier1.where(F.col("ts").between(now - window_sec, now))


def baseline_sample(tier1: DataFrame, now: int, window_sec: int,
                    sample_size: int = HISTORICAL_SAMPLE_SIZE) -> DataFrame:
    """S7/K3: newest ``sample_size`` points strictly before the window.

    Deterministic tiebreak (ts desc, event_id desc) — the reference's
    scroll order is engine-arbitrary at equal ts. Same raw-nanos
    pushdown trick as ``recent_window``. Spark plans the
    orderBy+limit as TakeOrderedAndProject (partition-local top-k +
    merge), so this never globally sorts the history at scale.
    """
    cond = (
        F.col("ts_ns") < (now - window_sec) * 1_000_000_000
        if "ts_ns" in tier1.columns
        else F.col("ts") < now - window_sec
    )
    return (
        tier1.where(cond)
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(sample_size)
    )


def baseline_stats(baseline: DataFrame, window_sec: int) -> DataFrame:
    """A2: duration-normalized per-hash mean/std over the baseline sample.

    One pass over the sample: count/min/max per hash, then the global
    bounds as a window over those (at most ``sample_size``) per-hash
    rows, so the sample's top-k runs once. Returns empty (no rows) when
    the sample has < 2 points, matching the reference's early-return of
    ``{}``.
    """
    per_hash = baseline.groupBy("rhythm_hash").agg(
        F.count(F.lit(1)).alias("hist_count"),
        F.min("ts").alias("oldest_ts"),
        F.max("ts").alias("newest_ts"),
    )
    whole = Window.partitionBy()
    scaling_factor = F.lit(float(window_sec)) / F.greatest(
        F.lit(1).cast("long"),
        F.max("newest_ts").over(whole) - F.min("oldest_ts").over(whole),
    )
    return (
        per_hash.select(
            "rhythm_hash",
            "hist_count",
            scaling_factor.alias("scaling_factor"),
            F.sum("hist_count").over(whole).alias("n_points"),
        )
        .where(F.col("n_points") >= 2)
        .withColumn("mean", F.col("hist_count") * F.col("scaling_factor"))
        .withColumn("std_dev", F.greatest(F.lit(1.5), F.sqrt(F.col("mean"))))
        .select("rhythm_hash", "mean", "std_dev")
    )


def group_summary(rows: DataFrame, *keys: str) -> DataFrame:
    """One row per ``keys`` group of ``rows``: ``r_count``, ``end_ts``,
    the representative payload (J4: earliest ts, then smallest
    event_id — the pinned deterministic tiebreak; its ``ts`` is the
    group's first) and ``sample_logs``, the first
    :data:`SAMPLE_LOGS_MAX` rows' JSON (the reference's ``full_log_json``,
    F9) in that order.

    The first rows per group are a WindowGroupLimit (cut before the
    shuffle); the collect runs over the window's output, which is
    already partitioned by ``keys``, so it adds no exchange."""
    w = Window.partitionBy(*keys).orderBy(F.col("ts").asc(), F.col("event_id").asc())
    firsts = (
        rows.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= SAMPLE_LOGS_MAX)
        .groupBy(*keys)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "ts", "event_id",
                        F.to_json(
                            F.struct("event_id", "ts", "service", "severity", "body")
                        ).alias("log_json"),
                        "service", "severity", "body",
                    )
                )
            ).alias("_firsts")
        )
    )
    counts = rows.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("r_count"), F.max("ts").alias("end_ts")
    )
    rep = F.col("_firsts")[0]
    return counts.join(firsts, list(keys)).select(
        *keys,
        *[rep[c].alias(c) for c in ("service", "severity", "body", "ts")],
        "r_count",
        "end_ts",
        F.col("_firsts")["log_json"].alias("sample_logs"),
    )


def anomaly_summary(
    spark: SparkSession,
    sf_dir: str,
    window_sec: int = DEFAULT_WINDOW_SEC,
    now: int | None = None,
    rules: DataFrame | None = None,
    sample_size: int = HISTORICAL_SAMPLE_SIZE,
    novelty_min_count: int = NOVELTY_MIN_COUNT,
    frequency_min_count: int = FREQUENCY_MIN_COUNT,
    std_dev_factor: float = FREQUENCY_STD_DEV_FACTOR,
    tier1: DataFrame | None = None,
) -> DataFrame:
    """Entry point 2 of the reference, as one declarative DataFrame plan.

    Output: one row per anomalous rhythm_hash with the
    :data:`ANOMALY_COLUMNS` — the representative payload,
    ``anomaly_type`` ('novelty' | 'frequency'), the reference's
    human-readable ``anomaly_context`` string and ``r_count`` — plus
    ``end_ts`` and ``sample_logs``, so the same row is also the hash's
    tier2 cluster (``promote.detect_and_promote`` writes it as a
    projection, with no second pass over the window).

    ``rules``: optional DataFrame with column ``rhythm_hash`` —
    suppressed/patched hashes are anti-joined away (J3/P5).
    Sensitivity knobs (sample_size / min counts / std factor) default to
    the reference constants; variants exist so the detection joins can be
    exercised on fixtures without planted anomalies.
    """
    if tier1 is None:
        from via_spark import store

        tier1 = store.tier1(spark, sf_dir)
    if now is None:
        now = current_now(tier1)

    stats = baseline_stats(baseline_sample(tier1, now, window_sec, sample_size), window_sec)
    hashed = group_summary(recent_window(tier1, now, window_sec), "rhythm_hash")
    if rules is not None:
        hashed = hashed.join(
            F.broadcast(rules.select("rhythm_hash").distinct()), "rhythm_hash", "left_anti"
        )

    joined = hashed.join(F.broadcast(stats), "rhythm_hash", "left")

    threshold = F.col("mean") + F.col("std_dev") * F.lit(std_dev_factor)
    is_novel = F.col("mean").isNull() & (F.col("r_count") >= novelty_min_count)
    is_freq = (
        F.col("mean").isNotNull()
        & (F.col("r_count") > threshold)
        & (F.col("r_count") >= frequency_min_count)
    )

    novelty_ctx = F.concat(
        F.lit("New pattern seen "), F.col("r_count").cast("string"), F.lit(" times.")
    )
    freq_ctx = F.concat(
        F.lit("Count "),
        F.col("r_count").cast("string"),
        F.lit(" breached threshold of "),
        F.format_string("%.1f", _round1(threshold)),
        F.lit(" (normalized μ="),
        F.format_string("%.1f", _round1(F.col("mean"))),
        F.lit(", σ="),
        F.format_string("%.1f", _round1(F.col("std_dev"))),
        F.lit(")"),
    )

    return (
        joined.where(is_novel | is_freq)
        .select(
            "rhythm_hash",
            "service",
            "severity",
            "body",
            "ts",
            F.when(is_novel, F.lit("novelty")).otherwise(F.lit("frequency")).alias("anomaly_type"),
            F.when(is_novel, novelty_ctx).otherwise(freq_ctx).alias("anomaly_context"),
            "r_count",
            "end_ts",
            "sample_logs",
        )
    )


def find_rhythm_anomalies(spark: SparkSession, sf_dir: str, **params) -> DataFrame:
    """The anomaly rows (:data:`ANOMALY_COLUMNS`) of
    :func:`anomaly_summary`, which takes the same ``params``."""
    return anomaly_summary(spark, sf_dir, **params).select(*ANOMALY_COLUMNS)
