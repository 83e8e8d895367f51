"""Event-time window aggregations as batch operators (T5 extension).

The reference only has processing-time tumbling analysis (T2); this
module adds the full Spark window family over the tier1 view, each
oracle-checkable:

* tumbling  — covered by ``streaming.pipeline.windowed_hash_counts``
* sliding   — ``sliding_hash_counts`` (120 s window, 60 s slide: every
  event lands in exactly two windows)
* session   — ``session_hash_counts`` (gap-based ``session_window``;
  the SQL oracle reproduces it with the gaps-and-islands pattern:
  a new session starts when the gap from the previous event ≥ gap)

All windows align to the epoch (Spark default) and are emitted as
epoch-second longs, so no session timezone can shift a boundary.

Scale posture: windowed aggs shuffle once on (window, key); in
streaming form their state is bounded by watermark horizon × keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from via_spark.operators import rhythm
from via_spark import store

SLIDE_WINDOW = "120 seconds"
SLIDE_STEP = "60 seconds"
SESSION_GAP_SEC = 86_400  # 1 day — the fixture stream is sparse per hash


def sliding_hash_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hash counts in sliding event-time windows."""
    t1 = store.tier1(spark, sf_dir)
    win = F.window(F.timestamp_seconds(F.col("ts")), SLIDE_WINDOW, SLIDE_STEP)
    return (
        t1.groupBy(win.alias("win"), F.col("rhythm_hash"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").cast("long").alias("window_start"),
            "rhythm_hash",
            "n",
        )
    )


def session_hash_counts(
    spark: SparkSession, sf_dir: str, gap_sec: int = SESSION_GAP_SEC
) -> DataFrame:
    """Per-hash session windows: events within ``gap_sec`` (INCLUSIVE —
    Spark merges touching intervals, an event at exactly prev + gap
    joins the session) chain into one session; start/end/size each."""
    t1 = store.tier1(spark, sf_dir)
    sw = F.session_window(F.timestamp_seconds(F.col("ts")), f"{gap_sec} seconds")
    return (
        t1.groupBy(sw.alias("sw"), F.col("rhythm_hash"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("rhythm_hash", "session_start", "session_end", "n")
    )


def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: per-hash counts at THREE
    granularities (minute/hour/day) in one pass — the multi-resolution
    rollup a time-series store materializes incrementally. One explode
    over the granularity list, one shuffle on (granularity, bucket,
    key); at scale each granularity partition is written to its own
    rollup table and refreshed per trigger."""
    t1 = store.tier1(spark, sf_dir)
    grans = F.array(F.lit(60), F.lit(3600), F.lit(86400))
    return (
        t1.select("rhythm_hash", "ts", F.explode(grans).alias("gran_sec"))
        .withColumn("bucket_start", (F.col("ts") - F.col("ts") % F.col("gran_sec")))
        .groupBy("gran_sec", "bucket_start", "rhythm_hash")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def range_containment_join(spark: SparkSession, sf_dir: str,
                           gap_sec: int = SESSION_GAP_SEC) -> DataFrame:
    """Range join: assign every event to the session interval that
    contains it (event.ts BETWEEN session.start AND session.end for the
    same hash). The equi-key (rhythm_hash) carries the join; the range
    predicate filters within key groups — the plan Spark picks for
    mixed equi+range conditions (no cross product)."""
    t1 = store.tier1(spark, sf_dir)
    sessions = session_hash_counts(spark, sf_dir, gap_sec).withColumnRenamed(
        "rhythm_hash", "s_hash"
    )
    return (
        t1.join(
            sessions,
            (F.col("rhythm_hash") == F.col("s_hash"))
            & F.col("ts").between(F.col("session_start"), F.col("session_end")),
        )
        .select(
            "event_id", "rhythm_hash", "ts", "session_start", "session_end",
            F.col("n").alias("session_size"),
        )
    )


def user_sessions(
    spark: SparkSession, sf_dir: str, gap_sec: int = 21_600
) -> DataFrame:
    """Per-user gap sessionization with EXPLICIT session ids
    (gaps-and-islands): a new session starts when the gap from the
    user's previous event exceeds ``gap_sec``. Complements
    ``session_hash_counts`` — session_window only yields aggregates,
    while this form assigns a stable (user_id, session_id) key that
    joins back to rows (funnels, per-session features).

    Scale posture: both windows partition by user_id (bounded frames
    per key, never data-wide); the rollup is one hash agg on
    (user_id, session_id). Skewed power users are the known hazard —
    AQE skew handling splits them at the shuffle.
    """
    from via_spark.session import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.expr("ts div 1000000000").alias("sec")
    )
    return sessionize_over(ev, gap_sec)


def sessionize_over(ev: DataFrame, gap_sec: int) -> DataFrame:
    """Core gaps-and-islands sessionization over any
    (user_id, event_id, sec) frame — property-tested against a pure
    Python model in tests/test_properties.py."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    prev = F.lag("sec").over(w)
    is_new = (prev.isNull() | ((F.col("sec") - prev) > gap_sec)).cast("int")
    sid = F.sum(is_new).over(
        Window.partitionBy("user_id")
        .orderBy("sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn("session_id", sid)
        .groupBy("user_id", "session_id")
        .agg(
            F.min("sec").alias("session_start"),
            F.max("sec").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            (F.max("sec") - F.min("sec")).alias("duration_sec"),
        )
    )


def user_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2-shaped state timeline per user (value-change
    gaps-and-islands, oracle ✔): consecutive same-``event_type`` runs
    collapsed into validity intervals — run ordinal, state, first/last
    event second, and run size.

    Complements ``user_sessions`` (which breaks on TIME gaps): here a
    new island starts when the VALUE changes, which is the
    run-length-encoded behavior timeline — dwell-time per state, state
    flap-rate, and the build step every slowly-changing-dimension
    (type-2) table derives its effective_from/effective_to from.

    Determinism: events ordered by (sec, event_id) within user — the
    same total order ``sessionize_over`` pins.

    Scale posture: identical to ``user_sessions`` — every window
    partitions by user_id (bounded frames per key, never data-wide),
    the rollup is one hash agg on (user_id, run_id); AQE splits skewed
    power users at the shuffle.
    """
    from via_spark.session import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("ts div 1000000000").alias("sec"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    is_new = (
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type"))
    ).cast("int")
    run = F.sum(is_new).over(
        Window.partitionBy("user_id")
        .orderBy("sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn("run_id", run)
        .groupBy("user_id", "run_id", "event_type")
        .agg(
            F.min("sec").alias("from_sec"),
            F.max("sec").alias("to_sec"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def interval_overlap_pairs(spark: SparkSession, sf_dir: str,
                           gap_sec: int = 21_600) -> DataFrame:
    """Interval-overlap join (the OVERLAPS analogue of
    ``range_containment_join``, which pins CONTAINMENT semantics):
    user sessions × hot days — for every (session, above-mean-traffic
    day) pair whose spans intersect, the exact overlap in seconds.
    The shape behind "which user sessions ran during an incident
    window" forensics.

    Semantics pinned: sessions are closed [start, end] second spans
    (overlap computed on the half-open [start, end+1)); hot days are
    the calendar days whose event count strictly exceeds the truncated
    mean daily count (data-derived, non-vacuous at every SF).

    Scale posture: NO theta-join anywhere — each session explodes to
    its covered day buckets (bounded by session length, gap_sec keeps
    sessions short) and equi-joins the broadcast hot-day table on the
    bucket key; the generic form (both sides large) buckets both sides
    the same way. Sessionization itself is the per-user bounded-frame
    machinery of ``user_sessions``.
    """
    from via_spark.session import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.expr("ts div 1000000000").alias("sec")
    )
    sess = sessionize_over(ev, gap_sec)
    daily = ev.groupBy(F.expr("sec div 86400").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    thr = daily.agg(F.expr("sum(n) div count(n)").alias("mean_n"))
    hot = (
        daily.crossJoin(F.broadcast(thr))
        .where(F.col("n") > F.col("mean_n"))
        .select("day", F.col("n").alias("day_events"))
    )
    return interval_overlap_over(sess, hot)


def interval_overlap_over(sess: DataFrame, hot: DataFrame) -> DataFrame:
    """Core bucketed overlap join over ANY (user_id, session_id,
    session_start, session_end) × (day, day_events) frames —
    property-tested against a brute-force pure-Python model in
    tests/test_properties.py."""
    exploded = sess.select(
        "user_id",
        "session_id",
        "session_start",
        "session_end",
        F.explode(
            F.sequence(
                F.expr("session_start div 86400"),
                F.expr("session_end div 86400"),
            )
        ).alias("day"),
    )
    return exploded.join(F.broadcast(hot), "day").select(
        "user_id",
        "session_id",
        "day",
        "day_events",
        F.expr(
            "least(session_end + 1, (day + 1) * 86400)"
            " - greatest(session_start, day * 86400)"
        ).alias("overlap_sec"),
    )


# --- round-10 additions ---

SURVIVAL_LADDER = (0, 60, 300, 900, 1800, 3600, 7200, 14400)


def session_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-duration survival curve: S(t) = fraction of sessions
    lasting at least ``t`` seconds, on the pinned ladder — the
    engagement-decay view (Kaplan–Meier without censoring: every
    session here is complete by construction, since the gap rule closes
    it). Reads as 'half my sessions die inside X minutes', the number
    session-timeout and prefetch policies are tuned against.

    Exactness: survivors are exact counts over the session rollup;
    ``surv_micro = n_surv·1e6 div n``. One pinned integer ladder in
    both engines.

    Scale posture: rides sessionize_over (per-user windows, one hash
    agg); the curve is |ladder| conditional sums in ONE pass over the
    |sessions|-row rollup crossed with the broadcast ladder.
    """
    sessions = user_sessions(spark, sf_dir).select("duration_sec")
    ladder = F.explode(
        F.array(*[F.lit(t).cast("long") for t in SURVIVAL_LADDER])
    ).alias("t_sec")
    return (
        sessions.select("duration_sec", ladder)
        .groupBy("t_sec")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum((F.col("duration_sec") >= F.col("t_sec")).cast("long")).alias(
                "n_surviving"
            ),
        )
        .select(
            "t_sec",
            "n_sessions",
            "n_surviving",
            F.expr("n_surviving * 1000000L div n_sessions").alias("surv_micro"),
        )
    )
