"""Time-series operators over the event stream: rate-of-change, gap-fill
with LOCF, moving aggregates, and histogram binning.

These extend the hypertable family (``operators.windows``) with the
classic time-series-store toolkit (TimescaleDB / InfluxDB capability
class; the reference's rhythm cadence — ``rhythm_analysis_service.py``
— is the 60 s special case of the bucketing used here):

* ``hourly_rate_of_change`` — delta vs previous bucket (LAG window)
* ``gapfill_locf``          — dense bucket grid + last-observation-
  carried-forward interpolation
* ``moving_avg_daily``      — trailing 7-day RANGE-frame moving average
* ``value_histogram``       — fixed-width value binning per series

Determinism: every aggregate is integer or fixed-point-BIGINT (the
repo-wide ``floor(x*1e6)`` convention), so distributed reduction order
can never change a result and each query is hash-exact vs DuckDB.

Scale posture (100 TB):
* Bucketing is a single hash aggregation on (series, bucket) — map-side
  partial agg, one shuffle; never a global sort.
* LAG / moving-average windows partition by series (bounded frames per
  key) — no data-wide ``Window.orderBy()`` anywhere.
* The gap-fill grid is generated (series × bucket sequence), not read:
  grid size = |series| × |buckets|, independent of row count; the
  series list and bucket bounds reduce to tiny broadcast sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from via_spark.session import load_table

HOUR = 3_600
DAY = 86_400
FIX = 1_000_000  # repo-wide fixed-point scale


def _events_sec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events with exact epoch-second ts (raw int64-ns div — pushdown-safe)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "event_type",
        "value",
        F.expr("ts div 1000000000").alias("sec"),
    )


def rate_of_change_over(ev: DataFrame, bucket_sec: int = HOUR) -> DataFrame:
    """Core rate-of-change over ANY (event_type, sec) frame: bucketed
    counts with delta vs the previous OBSERVED bucket (LAG over the
    series partition). First bucket of each series has NULL prev/delta
    — standard rate-of-change semantics."""
    hourly = (
        ev.withColumn("hour_start", F.col("sec") - F.col("sec") % bucket_sec)
        .groupBy("event_type", "hour_start")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("hour_start")
    return hourly.select(
        "event_type",
        "hour_start",
        "n",
        F.lag("n").over(w).alias("prev_n"),
        (F.col("n") - F.lag("n").over(w)).alias("delta"),
    )


def hourly_rate_of_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type hourly event counts with delta vs the previous observed
    hour — ``rate_of_change_over`` applied to the events stream."""
    return rate_of_change_over(_events_sec(spark, sf_dir))


def gapfill_locf_over(ev: DataFrame, bucket_sec: int = HOUR) -> DataFrame:
    """Core gap-fill over ANY (event_type, sec, value) frame: dense
    bucket grid per series over the frame's full span, with per-bucket
    fixed-point value sums and LOCF interpolation.

    Empty buckets get ``n = 0`` and ``filled_fix`` carried forward from
    the newest earlier observed bucket (NULL before the first
    observation). The grid is GENERATED — ``sequence()`` over the
    global [min, max] bucket bounds (one broadcast row) crossed with
    the distinct series keys — so its size is |series| × |buckets| no
    matter how many raw rows exist.
    """
    hourly = (
        ev.withColumn("hour_start", F.col("sec") - F.col("sec") % bucket_sec)
        .groupBy("event_type", "hour_start")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum(F.floor(F.col("value") * FIX).cast("long")).alias("sum_fix"),
        )
    )
    bounds = ev.agg(
        (F.min("sec") - F.min("sec") % bucket_sec).alias("lo"),
        (F.max("sec") - F.max("sec") % bucket_sec).alias("hi"),
    )
    grid_hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.lit(bucket_sec))).alias("hour_start")
    )
    series = ev.select("event_type").distinct()
    grid = F.broadcast(series).crossJoin(F.broadcast(grid_hours))
    joined = grid.join(hourly, ["event_type", "hour_start"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "event_type",
        "hour_start",
        F.coalesce("n_obs", F.lit(0)).alias("n"),
        F.last("sum_fix", ignorenulls=True).over(w).alias("filled_fix"),
    )


def gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly grid + LOCF over the events stream —
    ``gapfill_locf_over`` applied to (event_type, sec, value)."""
    return gapfill_locf_over(_events_sec(spark, sf_dir))


def moving_avg_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily order revenue with a trailing 7-day moving average
    (RANGE frame on the integer day, so calendar gaps are honored —
    a day window, not a row window). Fixed-point arithmetic end to end:
    ``mavg_fix`` is the integer-div mean of the in-frame day sums.

    The unpartitioned window here is NOT the data-wide-window
    anti-pattern: its input is the per-day aggregate, whose cardinality
    is calendar days (~2.4k for the 7-year fixture; bounded by time,
    not by data volume), already reduced by a map-side-partial hash
    agg. At 100 TB the same plan holds — the window sees O(days) rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.select(
            # o_orderdate is TIMESTAMP (ms) — integer epoch-day via
            # unix_date(cast to date); the session is pinned UTC.
            F.unix_date(F.col("o_orderdate").cast("date")).cast("long").alias("day"),
            F.floor(F.col("o_totalprice") * FIX).cast("long").alias("p_fix"),
        )
        .groupBy("day")
        .agg(F.sum("p_fix").alias("revenue_fix"))
    )
    w = Window.orderBy("day").rangeBetween(-6, 0)
    return daily.select(
        "day",
        "revenue_fix",
        F.sum("revenue_fix").over(w).alias("msum_fix"),
        F.count(F.lit(1)).over(w).alias("days_in_frame"),
    ).select(
        "day",
        "revenue_fix",
        F.expr("msum_fix div days_in_frame").alias("mavg_fix"),
        "days_in_frame",
    )


def cube_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over (status, priority): every combination of
    subtotal levels in one pass (Spark expands to a single Expand +
    hash-agg — one shuffle for all 4 grouping sets)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * FIX).cast("long")).alias(
                "revenue_fix"
            ),
        )
    )


def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of ``value`` per event_type (width 5.0).
    Bin id is ``floor(value / 5.0)`` — one deterministic IEEE divide,
    identical in Spark and DuckDB; empty bins are absent (sparse
    histogram), which keeps output size bounded by data, not domain."""
    ev = _events_sec(spark, sf_dir)
    return (
        ev.withColumn("bin", F.floor(F.col("value") / 5.0).cast("long"))
        .groupBy("event_type", "bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * FIX).cast("long")).alias("sum_fix"),
        )
    )


def purchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gaps: for every purchase, the seconds since
    that user's PREVIOUS purchase (LAG over the user partition; first
    purchase has NULL gap). The event-type filter runs before the
    window, so state per user is one row — the standard
    'time-since-last-X' telemetry query."""
    ev = _events_sec(spark, sf_dir)
    purchases = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    ).select("event_id", "user_id", F.expr("ts div 1000000000").alias("sec"))
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    return purchases.select(
        "user_id",
        "event_id",
        "sec",
        (F.col("sec") - F.lag("sec").over(w)).alias("gap_sec"),
    )


def conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel: users who did view → click → purchase
    IN THAT ORDER (each later stage strictly after the user's earliest
    qualifying prior stage — the standard product-analytics funnel with
    first-touch semantics). Output is one row per stage with the count
    of users who reached it; counts are non-increasing by construction.

    Scale posture: each stage is filter → hash agg on user_id → equi
    shuffle join on user_id; state per user is one timestamp per stage.
    No windows, no collect_list of event histories — the funnel depth
    bounds the number of joins, not the event volume.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").alias("ns")
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ns").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ns") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ns").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ns") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ns").alias("t3"))
    )

    def stage(df: DataFrame, idx: int, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("users")).select(
            F.lit(idx).alias("stage_idx"), F.lit(name).alias("stage"), "users"
        )

    return (
        stage(v, 1, "view")
        .unionByName(stage(c, 2, "view>click"))
        .unionByName(stage(p, 3, "view>click>purchase"))
    )


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix (long form): customers grouped by the
    month of their FIRST order; for every later month in which a cohort
    member ordered again, the count of distinct active customers at
    that month offset. Offset 0 row = cohort size.

    Scale posture: distinct (customer, month) pairs first — one hash
    agg that collapses order volume to at most |customers| × |months|
    rows — then a min-agg and one equi-join on customer, then the final
    (cohort, offset) hash agg. Never a window over raw orders.
    """
    o = load_table(spark, sf_dir, "orders")
    om = o.select(
        "o_custkey",
        F.trunc(F.col("o_orderdate").cast("date"), "month").alias("m"),
    ).distinct()
    coh = om.groupBy("o_custkey").agg(F.min("m").alias("cohort_month"))
    return (
        om.join(coh, "o_custkey")
        .select(
            "cohort_month",
            F.months_between("m", "cohort_month").cast("int").alias("month_offset"),
            "o_custkey",
        )
        .groupBy("cohort_month", "month_offset")
        .agg(F.count(F.lit(1)).alias("active_customers"))
    )


def weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct active users + event volume per 7-day epoch-aligned
    window — the standard activity rollup of a training-data /
    analytics pipeline (WAU).

    Buckets are epoch-aligned (``day div 7``), not ISO weeks: the
    bucket function is a pure integer expression, identical in every
    engine and free of calendar/locale semantics — week boundaries land
    on the same instant on Spark, DuckDB and a 1000-executor cluster.

    Scale posture: one hash aggregation keyed (week, user) collapses
    raw volume map-side before the distinct count — Spark plans
    count(DISTINCT) as a two-phase partial/final agg, so the shuffle
    carries at most |weeks| x |users| rows, never raw events.
    """
    ev = load_table(spark, sf_dir, "events")
    week_start = F.date_from_unix_date(
        (F.expr("ts div 1000000000 div 604800") * 7).cast("int")
    )
    return (
        ev.select(week_start.alias("week_start"), "user_id")
        .groupBy("week_start")
        .agg(
            F.countDistinct("user_id").alias("active_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the windowed
    distinct-count every growth/activity dashboard needs. Exact,
    without a distinct-over-window (which Spark cannot express and
    which would hold per-row state anyway):

    1. collapse events to distinct (day, user) pairs — one hash agg
       that bounds everything downstream by |days| x |users|;
    2. join each pair to the days it contributes to (a 7-row generated
       offset list, broadcast — never a shuffle);
    3. count distinct users per target day.
    """
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.expr("ts div 1000000000 div 86400").alias("day"), "user_id")
    return rolling_distinct_over(du)


def rolling_distinct_over(du: DataFrame, window_days: int = 7) -> DataFrame:
    """Core trailing-window distinct count over any (day, user_id)
    frame (as-of days with no activity in the trailing window are
    absent, and days beyond the newest activity day are trimmed) —
    property-tested against a pure Python model."""
    du = du.distinct()
    days = du.select(
        F.explode(
            F.sequence(F.col("day"), F.col("day") + (window_days - 1))
        ).alias("as_of_day"),
        "user_id",
    )
    bounds = du.agg(F.max("day").alias("max_day"))
    return (
        days.crossJoin(F.broadcast(bounds))
        .where(F.col("as_of_day") <= F.col("max_day"))
        .groupBy("as_of_day")
        .agg(F.countDistinct("user_id").alias("active_users_7d"))
        .select(
            F.date_from_unix_date(F.col("as_of_day").cast("int")).alias("as_of_date"),
            "active_users_7d",
        )
    )


def event_type_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral transition counts: for each consecutive pair
    of events of one user (ordered by time), count (prev_type → type)
    — the Markov-chain table behind next-action analysis.

    Scale posture: the LAG window partitions by user (bounded frames
    per key); the rollup is one hash agg on the 5x5 type pair space.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.expr("ts div 1000000000").alias("sec")
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    prev = F.lag("event_type").over(w)
    return (
        ev.withColumn("prev_type", prev)
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def label_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between the older and newer half of the event
    stream (split at the median-ish midpoint ts): per event_type, the
    share of traffic in each half and their ratio — the monitoring
    table that catches a feed whose label mix silently shifts.

    Ratios are pure divisions of exact BIGINT counts (no logarithms —
    engines' libm implementations differ in final ulps; a PSI consumer
    can apply ln to the shipped shares), so parity is bit-exact.

    Scale posture: one pushdown-friendly scan per half is avoided — a
    single scan with a conditional aggregation (sum of CASE) keyed by
    event_type; the midpoint is a 1-row min/max reduction.
    """
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.expr("ts div 1000000000")).alias("lo"),
        F.max(F.expr("ts div 1000000000")).alias("hi"),
    )
    ev = ev.select("event_type", F.expr("ts div 1000000000").alias("sec")).crossJoin(
        F.broadcast(bounds)
    )
    in_b = (F.col("sec") * 2 > F.col("lo") + F.col("hi")).cast("long")
    per = ev.groupBy("event_type").agg(
        F.sum(1 - in_b).alias("n_a"),
        F.sum(in_b).alias("n_b"),
    )
    tot = per.agg(F.sum("n_a").alias("tot_a"), F.sum("n_b").alias("tot_b"))
    share_a = F.col("n_a").cast("double") / F.col("tot_a").cast("double")
    share_b = F.col("n_b").cast("double") / F.col("tot_b").cast("double")
    return (
        per.crossJoin(F.broadcast(tot))
        .withColumn("share_a", share_a)
        .withColumn("share_b", share_b)
        .withColumn(
            "share_ratio",
            F.when(F.col("share_a") == 0.0, F.lit(None).cast("double")).otherwise(
                F.col("share_b") / F.col("share_a")
            ),
        )
        .select("event_type", "n_a", "n_b", "share_a", "share_b", "share_ratio")
    )


def behavior_trigrams(spark: SparkSession, sf_dir: str, k: int = 50) -> DataFrame:
    """Sequential pattern mining (order-3): the corpus-wide top-k
    event-type trigrams over each user's time-ordered event stream —
    the "what do users do in threes" table behind funnel design and
    next-action models.

    Ordering is pinned (ts, then event_id) so consecutive-event
    semantics are deterministic; sequences do NOT cross user
    boundaries.

    Scale posture: one window partitioned by user (users are the
    parallel unit) producing two LAGs, one hash agg on the trigram
    string, and a TakeOrderedAndProject heap for the top-k.
    """
    from pyspark.sql import Window

    # NULL event_type is excluded BEFORE the window on both engines:
    # concat_ws skips NULLs while the oracle's || propagates them, so
    # parity must not depend on the fixture never containing one.
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    tri = (
        ev.select(
            "user_id",
            F.lag("event_type", 2).over(w).alias("e1"),
            F.lag("event_type", 1).over(w).alias("e2"),
            F.col("event_type").alias("e3"),
        )
        .where(F.col("e1").isNotNull())
        .select(F.concat_ws(">", "e1", "e2", "e3").alias("trigram"))
    )
    return (
        tri.groupBy("trigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("trigram").asc())
        .limit(k)
    )


def timed_conversion_funnel(
    spark: SparkSession, sf_dir: str, max_gap_sec: int = 3600
) -> DataFrame:
    """Time-bounded funnel: view → click → purchase where each later
    stage must land within ``max_gap_sec`` of the user's prior stage
    time (first-touch semantics, strict > then ≤ gap) — the attribution
    window every product funnel actually uses; the unbounded variant is
    :func:`conversion_funnel`.

    Scale posture: identical to conversion_funnel — per-stage filter →
    min-agg → equi-join on user_id; the gap test is one range predicate
    on the joined pair, and funnel depth bounds the join count.
    """
    gap_ns = int(max_gap_sec) * 1_000_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").alias("ns")
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ns").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where((F.col("ns") > F.col("t1")) & (F.col("ns") <= F.col("t1") + gap_ns))
        .groupBy("user_id")
        .agg(F.min("ns").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where((F.col("ns") > F.col("t2")) & (F.col("ns") <= F.col("t2") + gap_ns))
        .groupBy("user_id")
        .agg(F.min("ns").alias("t3"))
    )

    def stage(df: DataFrame, idx: int, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("users")).select(
            F.lit(idx).alias("stage_idx"), F.lit(name).alias("stage"), "users"
        )

    return (
        stage(v, 1, "view")
        .unionByName(stage(c, 2, "view>click"))
        .unionByName(stage(p, 3, "view>click>purchase"))
    )


def event_type_share_drift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day mix drift: each event type's share of daily volume
    and its delta vs the previous day — the derivative the label_drift
    report takes between two static snapshots, here as a continuous
    daily series (the monitoring curve a pipeline alerts on).

    Scale posture: one hash agg on (day, type); shares and LAG deltas
    window over the tiny aggregate only. Shares are division-only
    doubles; the delta is one subtraction of two such doubles.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy(
        F.expr("ts div 1000000000 div 86400").cast("long").alias("day_num"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"))
    day_tot = F.sum("n").over(
        Window.partitionBy("day_num").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    shared = agg.withColumn(
        "share", F.col("n").cast("double") / day_tot.cast("double")
    )
    wlag = Window.partitionBy("event_type").orderBy("day_num")
    return shared.select(
        "day_num",
        "event_type",
        "n",
        "share",
        (F.col("share") - F.lag("share", 1).over(wlag)).alias("share_delta"),
    )


def hourly_value_p95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed tail percentile: the exact discrete p95 of
    ``value`` per hour — the SLO-style latency band chart. Hours are
    epoch-integer buckets (no timezone semantics to diverge on).

    The band is the rank-based discrete p95 over fixed-point values
    (stats.rank_quantile: smallest v with 100·cum ≥ 95·n, pure
    integer arithmetic — no interpolated double anywhere in the
    contract, so the emitted band is engine-exact by construction).

    Scale posture: one hash agg builds the per-hour value histogram;
    the cumulative window runs over the histogram partitioned by hour,
    so parallelism follows the bucket count and no global sort exists.
    """
    from via_spark.operators.stats import rank_quantile

    ev = load_table(spark, sf_dir, "events")
    vfix = F.floor(F.col("value") * 1_000_000).cast("long")
    buck = ev.select(
        F.expr("ts div 1000000000 div 3600").cast("long").alias("hour_num"),
        F.col("value"),
    )
    return rank_quantile(buck, ["hour_num"], vfix, 95).select(
        "hour_num", "p95_fix", "n"
    )


# half-life decay: daily granularity, weights below 2^-DECAY_CAP are
# exactly zero (pinned; oracle mirrors). At a 1-day half-life an event
# 20 days old carries < 1e-6 of a fresh event's weight.
DECAY_CAP = 20


def half_life_decay_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed activity per event type at a 1-day
    half-life: the recency-weighted counterpart of a plain count, the
    score a freshness-sensitive ranker or trending-topics feed keeps
    per key (reference capability class: the rhythm baseline's "recent
    window vs history" contrast — rhythm_analysis_service.py — as a
    smooth decay instead of a hard cutoff).

    Each event contributes ``2^-age_days`` (age in whole epoch days vs
    the corpus's newest event). Exactness: the half-life is pinned to
    one DAY and the decay base to 2 BECAUSE that makes every weight a
    power of two — the per-type sums are computed as BIGINTs of
    ``2^(CAP-age)`` (zero beyond ``DECAY_CAP`` = 20 days, where the
    true weight is < 1e-6 of a fresh event's), so distributed
    reduction order can never change a bit. The human-readable
    ``decayed_count``/``decayed_value`` are ONE correctly-rounded IEEE
    division of that exact integer by a pinned constant (``2^CAP``,
    resp. ``100·2^CAP``), so even the doubles are engine-identical
    bit for bit.

    Scale posture: one tiny agg derives the anchor day (1-row
    broadcast), then ONE hash agg keyed by event_type with map-side
    partials — the same single-shuffle shape as a plain count. BIGINT
    headroom: each row contributes ≤ 2^20 (count) / ≤ 2^34 (value at
    fix=100, value < 16k), so overflow needs > 2^28 rows per type even
    in the value sum's worst case at 100 TB — and the count sum only
    beyond 2^43 rows per type.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.expr("ts div 1000000000 div 86400").cast("long")
    anchor = ev.agg(F.max(day).alias("anchor_day"))
    return (
        ev.select(F.col("event_type"), day.alias("day"), F.col("value"))
        .crossJoin(F.broadcast(anchor))
        .withColumn("age", F.col("anchor_day") - F.col("day"))
        .withColumn(
            "w_fix",
            F.expr(
                f"CASE WHEN age <= {DECAY_CAP}"
                f" THEN shiftleft(1L, {DECAY_CAP} - age) ELSE 0L END"
            ),
        )
        .withColumn(
            "vw_fix", F.floor(F.col("value") * 100).cast("long") * F.col("w_fix")
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("w_fix").alias("decayed_count_fix"),
            F.sum("vw_fix").alias("decayed_value_fix"),
        )
        .select(
            "event_type",
            "n_events",
            "decayed_count_fix",
            "decayed_value_fix",
            (F.col("decayed_count_fix").cast("double") / F.lit(float(1 << DECAY_CAP)))
            .alias("decayed_count"),
            (
                F.col("decayed_value_fix").cast("double")
                / F.lit(float(100 * (1 << DECAY_CAP)))
            ).alias("decayed_value"),
        )
    )


def hour_of_week_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal baseline: event volume and mean value per (event_type,
    day-of-week, hour-of-day) cell — the 7×24 rhythm grid an anomaly
    detector normalizes against before calling a Monday-09:00 spike
    "abnormal" (the calendar-folded counterpart of
    ``hypertable_rollup``'s linear time buckets).

    Calendar semantics are PURE INTEGER (same rule as
    ``weekly_active_users``): dow = ``(epoch_day + 4) % 7`` (0 =
    Sunday — epoch day 0 was a Thursday), hour = UTC hour — identical
    on every engine and every executor, no locale/timezone surface.
    The mean derives from the exact fixed-point sum
    (``floor(value·1e6)`` BIGINTs), so parity is bit-for-bit.

    Scale posture: one stateless projection into one map-side-combined
    hash agg onto a ≤ |types|·168-cell grid — the cheapest family in
    the repo; composes with any time-range scan pushdown.
    """
    ev = load_table(spark, sf_dir, "events")
    vfix = F.floor(F.col("value") * F.lit(1_000_000)).cast("long")
    return (
        ev.select(
            "event_type",
            F.expr("(ts div 1000000000 div 86400 + 4) % 7").alias("dow"),
            F.expr("(ts div 1000000000 div 3600) % 24").alias("hour"),
            vfix.alias("vfix"),
        )
        .groupBy("event_type", "dow", "hour")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("vfix").alias("sum_value_fix"),
        )
        .select(
            "event_type",
            "dow",
            "hour",
            "n_events",
            "sum_value_fix",
            (
                F.col("sum_value_fix").cast("double")
                / (F.col("n_events").cast("double") * F.lit(1_000_000.0))
            ).alias("mean_value"),
        )
    )


def user_activity_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-concentration profile per user: how spread each
    user's activity is across event types, as order-0 whole-bit
    entropy over their type distribution — the bot/spam shape detector
    (single-type hammering compresses to 0 bits; organic users sit in
    a band; same whole-bit integer quantization as
    ``char_entropy_bits``, so no float log anywhere).

    Scale posture: one (user, type) hash agg with map-side partials,
    a partitioned window over each user's ≤ |types|-row histogram —
    never the event stream — and a per-user rollup. All integer until
    the final division.
    """
    ev = load_table(spark, sf_dir, "events")
    hist = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    n = F.sum("cnt").over(Window.partitionBy("user_id"))
    scored = hist.withColumn("n", n).select(
        "user_id",
        "cnt",
        "n",
        (
            F.col("cnt")
            * (F.length(F.expr("bin(n div cnt)")) - F.lit(1)).cast("long")
        ).alias("bits"),
    )
    return scored.groupBy("user_id").agg(
        F.max("n").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("distinct_types"),
        F.sum("bits").alias("entropy_bits"),
    ).select(
        "user_id",
        "n_events",
        "distinct_types",
        "entropy_bits",
        (F.col("entropy_bits").cast("double") / F.col("n_events").cast("double"))
        .alias("mean_bits_per_event"),
    )


def cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence lift over user-days (oracle ✔): for
    every unordered type pair, how much more (or less) often the two
    types appear in the SAME user's SAME day than independence
    predicts — ``lift = n_ud·c_ab / (c_a·c_b)``, the association
    measure behind market-basket and behavior-bundle analysis. Lift
    is deliberately the rational form, not PMI: ``ln()`` ulp agreement
    across engines is not a contract worth betting determinism on
    (same doctrine as ``value_drift_tvd``), and the numerator
    ``n_ud·c_ab`` is an exact BIGINT before the ONE division.

    Scale posture: the fact table reduces to DISTINCT (user, day,
    type) in one hash agg; the pair join is keyed on (user, day) with
    fanout bounded by |types|² per key — never a global cross product
    — and everything after is |types|²-sized with margins and the
    user-day total broadcast back.
    """
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id",
        F.expr("ts div 1000000000 div 86400").cast("long").alias("day"),
        "event_type",
    ).distinct()
    n_ud = ud.select("user_id", "day").distinct().agg(
        F.count(F.lit(1)).alias("n_user_days")
    )
    margins = ud.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    a = ud.select("user_id", "day", F.col("event_type").alias("type_a"))
    b = ud.select("user_id", "day", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, ["user_id", "day"])
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    return (
        pairs.join(
            F.broadcast(margins.select(F.col("event_type").alias("type_a"), F.col("c").alias("c_a"))),
            "type_a",
        )
        .join(
            F.broadcast(margins.select(F.col("event_type").alias("type_b"), F.col("c").alias("c_b"))),
            "type_b",
        )
        .crossJoin(F.broadcast(n_ud))
        .select(
            "type_a",
            "type_b",
            "c_ab",
            "c_a",
            "c_b",
            "n_user_days",
            (
                (F.col("n_user_days") * F.col("c_ab")).cast("double")
                / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
            ).alias("lift"),
        )
    )


def interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-arrival cadence profile (oracle ✔): the gaps (in
    whole seconds) between a user's consecutive events of the same
    type, summarized per event type as rank-based discrete p50/p95
    plus the exact mean — the cadence fingerprint that separates
    heartbeat-like types (tight p95) from bursty ones (p95 ≫ p50), and
    the baseline a "did this feed stall" monitor alarms against.

    All-integer doctrine: gaps are BIGINT second differences from a
    lag over (user, type) ordered by (ts, event_id) — the event_id
    tiebreak pins same-second ordering so both engines see identical
    gap multisets; quantiles are discrete ranks over the per-(type,
    gap) histogram (min g with 100·cum ≥ k·n); the mean is one
    division of an exact BIGINT sum.

    Scale posture: the lag window partitions by (user_id, event_type)
    — per-user-per-type event counts bound the frame (same class as
    sessionization); the quantile windows run over the gap HISTOGRAM,
    never the event stream.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.expr("ts div 1000000000").cast("long").alias("ts_s"),
    )
    wl = Window.partitionBy("user_id", "event_type").orderBy("ts_s", "event_id")
    gaps = (
        ev.withColumn("prev_s", F.lag("ts_s").over(wl))
        .where(F.col("prev_s").isNotNull())
        .select("event_type", (F.col("ts_s") - F.col("prev_s")).alias("gap_s"))
    )
    hist = gaps.groupBy("event_type", "gap_s").agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("gap_s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    c = hist.withColumn("cum", F.sum("c").over(wcum)).withColumn(
        "n", F.sum("c").over(wall)
    )
    return (
        c.groupBy("event_type")
        .agg(
            F.max("n").alias("n_gaps"),
            F.sum(F.col("gap_s") * F.col("c")).alias("gap_sum"),
            F.min(
                F.when(F.lit(100) * F.col("cum") >= F.lit(50) * F.col("n"), F.col("gap_s"))
            ).alias("p50_gap_s"),
            F.min(
                F.when(F.lit(100) * F.col("cum") >= F.lit(95) * F.col("n"), F.col("gap_s"))
            ).alias("p95_gap_s"),
        )
        .select(
            "event_type",
            F.col("n_gaps").cast("long").alias("n_gaps"),
            "p50_gap_s",
            "p95_gap_s",
            (
                F.col("gap_sum").cast("double") / F.col("n_gaps").cast("double")
            ).alias("mean_gap_s"),
        )
    )


def daily_trend_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily-volume trend (oracle ✔): the least-squares slope
    of events-per-day against the day index, in EXACT rational form —
    ``slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)`` where x = epoch day
    and y = that day's event count. The is-this-feed-growing-or-
    decaying detector, reported as the exact BIGINT numerator and
    denominator (their signs and ratios rank types with no float
    anywhere) plus the one-division double.

    Determinism doctrine: all five sums are BIGINT aggregations of the
    per-(type, day) count table; numerator and denominator are exact
    integer cross-products (same shape as ``value_drift_tvd``'s TVD
    numerator); the double is a single division of exactly-cast
    BIGINTs. Day indexes are rebased to the corpus minimum (in-plan
    broadcast) so the Σx² magnitudes stay far below 2⁶³ at any
    realistic day span.

    Scale posture: one hash agg to (type, day) counts — everything
    after is days-sized; the rebase anchor broadcasts; no windows.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("ts div 1000000000 div 86400").cast("long").alias("day"),
    )
    daily = ev.groupBy("event_type", "day").agg(F.count(F.lit(1)).alias("y"))
    anchor = daily.agg(F.min("day").alias("day0"))
    rebased = daily.crossJoin(F.broadcast(anchor)).select(
        "event_type", (F.col("day") - F.col("day0")).alias("x"), "y"
    )
    sums = rebased.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return sums.select(
        "event_type",
        F.col("n_days").cast("long").alias("n_days"),
        (F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")).alias(
            "slope_num"
        ),
        (F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")).alias(
            "slope_den"
        ),
        (
            (F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
        ).alias("slope_per_day"),
    )


def seasonal_zscore_outliers(
    spark: SparkSession, sf_dir: str, z_threshold: float = 3.0
) -> DataFrame:
    """Seasonally adjusted outliers (oracle ✔): events whose value is
    more than 3σ from their (event_type, hour-of-week) CELL baseline —
    the deseasonalized sibling of ``value_zscore_by_type``. A value
    normal for Monday-9am can be wildly anomalous for Sunday-3am; the
    global z-score averages that structure away, the 168-cell baseline
    keeps it (same grid as ``hour_of_week_profile``).

    Exactness: cell moments come from fixed-point BIGINT sums and
    DECIMAL(38) squares (identical integers in both engines); the z
    and the 3σ gate are one pinned double chain over those integers —
    the threshold comparison uses the same expression tree in the
    oracle, so membership never diverges.

    Scale posture: one hash agg to ≤ types·168 cell moments, broadcast
    back onto the fact scan — no window over events, no second
    shuffle; the output is the outlier set only.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.expr("(ts div 1000000000 div 3600) % 168").cast("int").alias("how"),
    )
    vfix = F.floor(F.col("value") * F.lit(1_000_000)).cast("long")
    mom = (
        ev.select("event_type", "how", vfix.alias("vfix"))
        .groupBy("event_type", "how")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("vfix").alias("s_fix"),
            F.sum(
                F.col("vfix").cast("decimal(19,0)") * F.col("vfix").cast("decimal(19,0)")
            ).alias("ss_fix"),
        )
    )
    joined = ev.join(F.broadcast(mom), ["event_type", "how"])
    nd = F.col("n").cast("double")
    mean = F.col("s_fix").cast("double") / nd
    var = F.col("ss_fix").cast("double") / nd - mean * mean
    z = (vfix.cast("double") - mean) / F.sqrt(var)
    return (
        joined.where((var > 0) & (F.abs(z) > F.lit(float(z_threshold))))
        .select(
            "event_id",
            "event_type",
            "how",
            "value",
            (mean / F.lit(1_000_000.0)).alias("cell_mean"),
            F.col("n").cast("long").alias("cell_n"),
            (F.floor(z * F.lit(1_000_000.0) + F.lit(0.5)) / F.lit(1_000_000.0)).alias(
                "zscore"
            ),
        )
    )


EWMA_WINDOW_DAYS = 20  # dyadic alpha=1/2 truncated at 20 taps (tail weight 2^-20)


def ewma_daily_counts(spark: SparkSession, sf_dir: str,
                      window_days: int = EWMA_WINDOW_DAYS) -> DataFrame:
    """Exponentially weighted moving average of daily event counts per
    event type — the classic trend smoother, with alpha pinned to the
    DYADIC 1/2 so every weight is a power of two and the whole
    computation stays in exact integer arithmetic:
    ``ewma(d) = Σ_j count(d-j) · 2^(W-1-j) / 2^W`` for j in [0, W),
    emitted as floor 1e-6 fixed point. (IEEE pow/exp are not
    correctly-rounded, so a float alpha could differ in the last ulp
    between engines; dyadic weights are shiftleft's.)

    Scale posture: the heavy pass is the per-(type, day) hash agg over
    the raw events — the fact is scanned and aggregated ONCE; smoothing
    is a RANGE-frame window over that TINY daily table (collect the
    ≤ W in-frame (day, count) pairs, weight them array-locally) — a
    band self-join would re-plan the daily agg as a second full fact
    scan. Truncation at W taps bounds the numerator at count_max·2^W —
    no overflow for any realistic daily count.
    """
    daily = (
        _events_sec(spark, sf_dir)
        .groupBy("event_type", F.expr("sec div 86400").alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rangeBetween(-(window_days - 1), 0)
    )
    return (
        daily.withColumn(
            "pairs", F.collect_list(F.struct("day", "cnt")).over(w)
        )
        .withColumn(
            "num",
            F.expr(
                "aggregate(pairs, 0L, (acc, p) -> acc + p.cnt *"
                f" shiftleft(1L, {window_days - 1}"
                " - cast(day - p.day as int)))"
            ),
        )
        .select(
            "event_type",
            "day",
            "cnt",
            F.expr(f"num * 1000000 div {1 << window_days}").alias("ewma_fix"),
        )
    )


# CUSUM dials, pinned (fixture-calibrated so alarm/no-alarm both occur):
# slack = mean/16 absorbs ordinary fluctuation, threshold = mean/4
CUSUM_SLACK_DIV = 16
CUSUM_H_DIV = 4


def cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM changepoint detection (Page 1954) over per-type
    daily counts: S_t = max(0, S_{t-1} + (x_t − mean − slack)); report
    each type's max statistic and the FIRST day the threshold was
    crossed (null when never) — the classic "did this feed's rate
    shift, and when" monitor.

    Exactness: deviations are 1e-6 fixed-point integers against a
    truncating-division mean, so the recursion is pure BIGINT in both
    engines (the oracle runs it as a recursive CTE; Spark runs it as
    an array-local fold).

    Scale posture: ONE events scan — the per-type mean attaches via a
    partition window over the daily agg (a second agg branch would
    re-scan the fact); the fold then runs over each type's collected
    (day, count) sequence, bounded by CALENDAR length like the
    moving-average family, not by data volume.
    """
    daily = (
        _events_sec(spark, sf_dir)
        .groupBy("event_type", F.expr("sec div 86400").alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("event_type")
    enriched = daily.select(
        "event_type",
        "day",
        "cnt",
        F.expr(
            "sum(cnt) over (partition by event_type) * 1000000"
            " div count(cnt) over (partition by event_type)"
        ).alias("mean_fix"),
        F.count(F.lit(1)).over(w).alias("n_days"),
    )
    folded = (
        enriched.groupBy("event_type", "mean_fix", "n_days")
        .agg(F.array_sort(F.collect_list(F.struct("day", "cnt"))).alias("seq"))
        .select(
            "event_type",
            "n_days",
            "mean_fix",
            F.expr(
                f"""aggregate(
  seq,
  named_struct('s', 0L, 'mx', 0L, 'alarm', -1L),
  (acc, p) -> named_struct(
    's', greatest(0L, acc.s + (p.cnt * 1000000 - mean_fix
                               - mean_fix div {CUSUM_SLACK_DIV})),
    'mx', greatest(acc.mx,
        greatest(0L, acc.s + (p.cnt * 1000000 - mean_fix
                              - mean_fix div {CUSUM_SLACK_DIV}))),
    'alarm', if(acc.alarm >= 0, acc.alarm,
        if(greatest(0L, acc.s + (p.cnt * 1000000 - mean_fix
                                 - mean_fix div {CUSUM_SLACK_DIV}))
           > mean_fix div {CUSUM_H_DIV}, p.day, -1L))))"""
            ).alias("st"),
        )
    )
    return folded.select(
        "event_type",
        "n_days",
        "mean_fix",
        F.col("st.mx").alias("max_cusum"),
        F.when(F.col("st.alarm") < 0, F.lit(None).cast("long"))
        .otherwise(F.col("st.alarm"))
        .alias("alarm_day"),
    )


def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend estimator per event type (Sen 1968): the
    median of all pairwise slopes of the (day, daily count) series —
    the outlier-resistant alternative to the OLS fit in
    ``daily_trend_slopes`` (one corrupted day moves OLS arbitrarily but
    shifts a median by at most one order statistic).

    Exactness: each pairwise slope is truncated to 1e-6 fixed point
    (``(c2-c1)*1e6 div (d2-d1)`` — truncating div ≡ DuckDB ``//`` on
    both signs, verified), and the reported statistic is the LOWER
    median (rank ``(n+1) div 2``) of those integers — a k-th order
    statistic, well-defined under ties, no float ordering anywhere.

    Scale posture: the only fact scan is the per-(type, day) hash agg;
    the O(d²) pair expansion is ARRAY-LOCAL over each type's collected
    daily series (d is bounded by the calendar span, not the row
    count — a year is ~365 taps → ≤66k pairs per series), so no
    self-join shuffle exists in the plan. Median = element_at on the
    array-sorted slopes, also local.
    """
    daily = (
        _events_sec(spark, sf_dir)
        .groupBy("event_type", F.expr("sec div 86400").alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return theil_sen_over(daily)


def theil_sen_over(daily: DataFrame) -> DataFrame:
    """Core Theil–Sen over ANY (event_type, day, cnt) frame —
    property-tested against a pure-Python model in
    tests/test_properties.py."""
    return (
        daily.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.array_sort(F.collect_list(F.struct("day", "cnt"))).alias("seq"),
        )
        .withColumn(
            "slopes",
            F.expr(
                "array_sort(flatten(transform(seq, (p, i) ->"
                " transform(slice(seq, i + 2, size(seq)),"
                " q -> (q.cnt - p.cnt) * 1000000L div (q.day - p.day)))))"
            ),
        )
        .select(
            "event_type",
            "n_days",
            F.expr("size(slopes)").cast("long").alias("n_pairs"),
            F.expr(
                "if(size(slopes) = 0, cast(null as long),"
                " element_at(slopes, cast((size(slopes) + 1) div 2 as int)))"
            ).alias("slope_fix"),
        )
    )


def linear_interp_gapfill(spark: SparkSession, sf_dir: str,
                          bucket_sec: int = HOUR) -> DataFrame:
    """Dense hourly grid with LINEAR interpolation between the nearest
    observed buckets — the companion to ``gapfill_locf`` for series
    where a staircase fill biases downstream rates (TimescaleDB's
    ``interpolate()`` vs ``locf()`` pair).

    Empty buckets get ``n = 0`` and
    ``filled_fix = (prev·(next_h − h) + next·(h − prev_h)) div
    (next_h − prev_h)`` over the 1e-6 fixed-point bucket sums — pure
    BIGINT, truncating div, identical in both engines. Buckets before
    the first or after the last observation stay NULL (no
    extrapolation).

    Scale posture: same generated-grid shape as ``gapfill_locf_over``
    (|series| × |buckets| rows regardless of fact size, broadcast
    grid sides); the prev/next lookups are two bounded ignore-nulls
    window passes over the same series partition — no extra shuffle
    beyond the one the grid join already does.
    """
    return linear_interp_over(_events_sec(spark, sf_dir), bucket_sec)


def linear_interp_over(ev: DataFrame, bucket_sec: int = HOUR) -> DataFrame:
    """Core linear-interpolation gap-fill over ANY (event_type, sec,
    value) frame — property-tested against a pure-Python model in
    tests/test_properties.py."""
    hourly = (
        ev.withColumn("hour_start", F.col("sec") - F.col("sec") % bucket_sec)
        .groupBy("event_type", "hour_start")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum(F.floor(F.col("value") * FIX).cast("long")).alias("sum_fix"),
        )
    )
    bounds = ev.agg(
        (F.min("sec") - F.min("sec") % bucket_sec).alias("lo"),
        (F.max("sec") - F.max("sec") % bucket_sec).alias("hi"),
    )
    grid_hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.lit(bucket_sec))).alias("hour_start")
    )
    series = ev.select("event_type").distinct()
    grid = F.broadcast(series).crossJoin(F.broadcast(grid_hours))
    joined = grid.join(hourly, ["event_type", "hour_start"], "left")
    wb = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_h = F.when(F.col("sum_fix").isNotNull(), F.col("hour_start"))
    return (
        joined.withColumn("prev_fix", F.last("sum_fix", ignorenulls=True).over(wb))
        .withColumn("prev_h", F.last(obs_h, ignorenulls=True).over(wb))
        .withColumn("next_fix", F.first("sum_fix", ignorenulls=True).over(wf))
        .withColumn("next_h", F.first(obs_h, ignorenulls=True).over(wf))
        .select(
            "event_type",
            "hour_start",
            F.coalesce("n_obs", F.lit(0)).alias("n"),
            F.expr(
                "case when sum_fix is not null then sum_fix"
                " when prev_fix is null or next_fix is null"
                " then cast(null as long)"
                " else (prev_fix * (next_h - hour_start)"
                "       + next_fix * (hour_start - prev_h))"
                "      div (next_h - prev_h) end"
            ).alias("filled_fix"),
        )
    )


# Holt dials, pinned dyadic so the recursion is exact BIGINT:
# alpha = 1/2 (level), beta = 1/4 (trend)
HOLT_BETA_DEN = 4


def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double-exponential) smoothing over per-type daily
    counts, with the one-step-ahead forecast — the trend-aware upgrade
    of ``ewma_daily_counts``: EWMA lags a ramp by design; Holt's trend
    term tracks it.

    Recursion (Holt 1957), alpha = 1/2 and beta = 1/4 pinned DYADIC so
    every step is exact BIGINT in 1e-6 fixed point (truncating ``div``
    ≡ DuckDB ``//`` on both signs — the trend term CAN go negative):
    ``l_t = (x_t + l_{t-1} + b_{t-1}) div 2``;
    ``b_t = (l_t − l_{t-1}) div 4 + 3·b_{t-1} div 4``;
    init ``l_1 = x_1, b_1 = 0``. Output per type: final level/trend and
    ``forecast_fix = l_T + b_T`` (the T+1 prediction). The oracle runs
    the identical recursion as a recursive CTE.

    Scale posture: one events scan into the per-(type, day) hash agg;
    the fold is array-local over each type's collected daily series
    (O(days) scalar state — bounded by calendar span, not row count),
    exactly the CUSUM machinery.
    """
    daily = (
        _events_sec(spark, sf_dir)
        .groupBy("event_type", F.expr("sec div 86400").alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return holt_over(daily)


def holt_over(daily: DataFrame) -> DataFrame:
    """Core Holt fold over ANY (event_type, day, cnt) frame —
    property-tested against a pure-Python model in
    tests/test_properties.py."""
    folded = (
        daily.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.max("day").alias("last_day"),
            F.array_sort(F.collect_list(F.struct("day", "cnt"))).alias("seq"),
        )
        .withColumn(
            "st",
            F.expr(
                """aggregate(
  slice(seq, 2, size(seq)),
  named_struct('l', seq[0].cnt * 1000000L, 'b', 0L),
  (acc, p) -> named_struct(
    'l', (p.cnt * 1000000L + acc.l + acc.b) div 2,
    'b', ((p.cnt * 1000000L + acc.l + acc.b) div 2 - acc.l) div 4
         + (3 * acc.b) div 4))"""
            ),
        )
    )
    return folded.select(
        "event_type",
        "n_days",
        "last_day",
        F.col("st.l").alias("level_fix"),
        F.col("st.b").alias("trend_fix"),
        (F.col("st.l") + F.col("st.b")).alias("forecast_fix"),
    )


# --- round-10 additions ---


def ks_two_sample_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov–Smirnov two-sample drift per event type: the exact KS
    statistic between the value distribution of the FIRST and SECOND half
    of the time range — the binless companion to value_drift_tvd (TVD
    sees only mass moved between its fixed bins; KS catches any CDF
    divergence, at any value, without choosing a bin width).

    Exactness: with cumulative counts c_a, c_b over the pooled sorted
    values, ``D = max |c_a/n_a − c_b/n_b| = max |c_a·n_b − c_b·n_a| /
    (n_a·n_b)`` — the numerator is an exact BIGINT window maximum and the
    single division happens once per type, truncated to 1e-6
    (``ks_micro``). The split point ``(min_sec + max_sec + 1) div 2`` is
    itself integer arithmetic. Types absent from either half report NULL
    (no distribution to compare).

    Scale posture: one events scan → per-(type, value) hash agg (the
    pooled-step compression: the windows run over DISTINCT values, not
    rows), one per-type window sort over those steps, one per-type agg.
    The BIGINT numerator holds to ~9e18, i.e. n_a·n_b per type up to
    ~3e9 rows per half; beyond that this report runs on the stratified-
    sample tier like every exact-order-statistic op.
    """
    ev = _events_sec(spark, sf_dir).where(F.col("value").isNotNull())
    bounds = ev.agg(
        F.expr("(min(sec) + max(sec) + 1) div 2").alias("split_sec")
    )
    steps = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.floor(F.col("value") * F.lit(1_000_000.0)).cast("long").alias("v_fix"),
            (F.col("sec") < F.col("split_sec")).cast("long").alias("is_a"),
        )
        .groupBy("event_type", "v_fix")
        .agg(
            F.sum("is_a").alias("na_v"),
            F.sum(F.lit(1) - F.col("is_a")).alias("nb_v"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("v_fix")
    wt = Window.partitionBy("event_type")
    cum = steps.select(
        "event_type",
        F.sum("na_v").over(w).alias("cum_a"),
        F.sum("nb_v").over(w).alias("cum_b"),
        F.sum("na_v").over(wt).alias("n_a"),
        F.sum("nb_v").over(wt).alias("n_b"),
    )
    return cum.groupBy("event_type").agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.when(
            (F.max("n_a") > 0) & (F.max("n_b") > 0),
            F.expr("max(abs(cum_a * n_b - cum_b * n_a)) * 1000000L div (max(n_a) * max(n_b))"),
        ).alias("ks_micro"),
    )


def dense_daily_counts(ev: DataFrame) -> DataFrame:
    """Dense per-type daily count series over the frame's full span:
    (event_type, day, cnt) with gap days present as cnt = 0 — the
    regular-spacing precondition every lag-based statistic (ACF, STL,
    Fano) needs. Same generated-grid shape as gapfill_locf_over:
    ``sequence()`` over one broadcast bounds row × the distinct series
    keys, so grid size is |series| × |days| no matter the row count."""
    daily = (
        ev.groupBy("event_type", F.expr("sec div 86400").alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    bounds = ev.agg(
        F.expr("min(sec) div 86400").alias("lo"),
        F.expr("max(sec) div 86400").alias("hi"),
    )
    days = bounds.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    series = ev.select("event_type").distinct()
    grid = F.broadcast(series).crossJoin(F.broadcast(days))
    return grid.join(daily, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("cnt")
    )


ACF_MAX_LAG = 7


def acf_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the per-type daily count series at
    lags 1..7 — the periodicity detector (a weekly rhythm shows as an
    ACF peak at lag 7) behind seasonal model selection, complementing
    the assumed-period operators (seasonal_zscore_outliers pins dow,
    hour_of_week_profile pins the week).

    Exactness: with S = Σx and n days, centered values are scaled to
    integers ``c_t = n·x_t − S`` so
    ``r_k = Σ c_t·c_{t+k} / Σ c_t²`` needs no float mean; both sums are
    exact BIGINTs and ``acf_micro = num·1e6 div den`` is one signed
    truncating division (Spark div ≡ DuckDB // on negatives, verified).
    Constant series (den = 0) report NULL.

    Scale posture: one events scan → per-(type, day) hash agg; the
    series is ARRAY-LOCAL per type (theil_sen doctrine — length is
    calendar-bounded, not row-bounded) and each lag's product sum is a
    local fold; the lag explode is 7 rows per type. BIGINT bound:
    |c_t| ≤ n·max_day_count, so den ≤ n³·max² — holds past 1e5 daily
    events on a 3-year span; beyond that the counts rescale first.
    """
    return acf_over(dense_daily_counts(_events_sec(spark, sf_dir)))


def acf_over(dense: DataFrame) -> DataFrame:
    """Core ACF over ANY dense (event_type, day, cnt) frame —
    property-tested against a pure-Python model in tests/test_operator_models.py."""
    series = (
        dense.groupBy("event_type")
        .agg(F.array_sort(F.collect_list(F.struct("day", "cnt"))).alias("seq"))
        .select(
            "event_type",
            F.expr("transform(seq, p -> p.cnt)").alias("xs"),
        )
        .select(
            "event_type",
            F.expr("size(xs)").cast("long").alias("n_days"),
            F.expr(
                "transform(xs, x -> size(xs) * x"
                " - aggregate(xs, 0L, (a, v) -> a + v))"
            ).alias("cen"),
        )
        .withColumn("den", F.expr("aggregate(cen, 0L, (a, c) -> a + c * c)"))
    )
    lags = F.explode(F.array(*[F.lit(k) for k in range(1, ACF_MAX_LAG + 1)])).alias("lag")
    return (
        series.select("event_type", "n_days", "cen", "den", lags)
        .where(F.col("n_days") > F.col("lag"))
        .select(
            "event_type",
            F.col("lag").cast("int").alias("lag"),
            "n_days",
            # signed truncating division, parity-verified on negatives
            F.expr(
                "if(den > 0,"
                " aggregate(transform(sequence(1, size(cen) - lag),"
                "   i -> element_at(cen, cast(i as int))"
                "      * element_at(cen, cast(i + lag as int))),"
                "  0L, (a, p) -> a + p) * 1000000L div den,"
                " cast(null as long))"
            ).alias("acf_micro"),
        )
    )


STL_HALF = 3  # centered 7-day trend window


def stl_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition of the per-type daily count
    series (the moving-average STL shape, Cleveland's step 1-2 without
    the loess): trend = centered 7-day mean, seasonal = per-day-of-week
    mean of the detrended series, residual = remainder — the
    decomposition behind 'is Monday low because Mondays are low, or is
    something wrong'. Complements seasonal_zscore_outliers (which
    assumes the dow pattern) by MEASURING the pattern against trend.

    Exactness: every component is 1e-6 fixed point derived from BIGINT
    count sums — ``trend_micro = (Σ 7-window cnt)·1e6 div 7`` (NULL at
    the edges where the window is partial), ``seasonal_micro =
    Σ detrended div n_dow``, ``resid_micro = cnt·1e6 − trend − seasonal``
    — with truncating division only (signed parity verified). Day-of-week
    is ``(day + 4) % 7`` (epoch day 0 = Thursday; Monday = 0) — pure
    integer arithmetic, no calendar functions.

    Scale posture: the dense grid is |types| × |days| (generated,
    broadcast sides); the trend is one bounded rows-frame window per
    type; the seasonal means are a 7·|types|-row hash agg joined back
    broadcast. Nothing scales with raw event rows except the first
    daily hash agg.
    """
    return stl_over(dense_daily_counts(_events_sec(spark, sf_dir)))


def stl_over(dense: DataFrame) -> DataFrame:
    """Core decomposition over ANY dense (event_type, day, cnt) frame —
    property-tested against a pure-Python model in tests/test_operator_models.py."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-STL_HALF, STL_HALF)
    )
    trended = dense.select(
        "event_type",
        "day",
        "cnt",
        F.when(
            F.count(F.lit(1)).over(w) == 2 * STL_HALF + 1,
            (F.sum("cnt").over(w) * F.lit(1_000_000)).cast("long"),
        ).alias("win_sum_micro"),
    ).withColumn(
        "trend_micro", F.expr(f"win_sum_micro div {2 * STL_HALF + 1}")
    ).withColumn("dow", F.expr("(day + 4) % 7")).withColumn(
        "detr_micro", F.col("cnt") * F.lit(1_000_000) - F.col("trend_micro")
    )
    seasonal = (
        trended.where(F.col("detr_micro").isNotNull())
        .groupBy("event_type", "dow")
        .agg(F.expr("sum(detr_micro) div count(1)").alias("seasonal_micro"))
    )
    return (
        trended.join(F.broadcast(seasonal), ["event_type", "dow"], "left")
        .select(
            "event_type",
            "day",
            F.col("dow").cast("int").alias("dow"),
            "cnt",
            "trend_micro",
            "seasonal_micro",
            (
                F.col("cnt") * F.lit(1_000_000)
                - F.col("trend_micro")
                - F.col("seasonal_micro")
            ).alias("resid_micro"),
        )
    )


def fano_burstiness_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (index of dispersion, variance/mean) of the per-type
    daily count series — the burstiness scalar: 1 under Poisson arrivals,
    > 1 for bursty traffic, < 1 for regular/rate-limited flows. The
    single-number companion to the shape-level operators
    (interarrival_profile, acf_daily_counts).

    Exactness: over the DENSE daily series (gap days are real zeros),
    ``var/mean = (n·Σx² − S²) / (n·S)`` — both sides exact BIGINTs from
    count sums, one truncating division to 1e-6. Types with S = 0 cannot
    exist (a type only appears by having events).

    Scale posture: one events scan → daily hash agg → |types|-row agg
    over the generated dense grid. BIGINT bound: n·Σx² ≤ days²·max²·…
    holds to ~3e9 events/day on a 10-year span.
    """
    return fano_over(dense_daily_counts(_events_sec(spark, sf_dir)))


def fano_over(dense: DataFrame) -> DataFrame:
    """Core Fano factor over ANY dense (event_type, day, cnt) frame."""
    return dense.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.expr("sum(cnt) * 1000000L div count(1)").alias("mean_micro"),
        F.expr(
            "(count(1) * sum(cnt * cnt) - sum(cnt) * sum(cnt)) * 1000000L"
            " div (count(1) * sum(cnt))"
        ).alias("fano_micro"),
    )


def markov_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov next-event prediction, evaluated honestly:
    train transition counts on the FIRST time half, predict argmax
    next-type per current type, score top-1 accuracy on the SECOND half
    — the sequence-model baseline every session-prediction feature is
    judged against (event_type_transition_matrix reports the full
    matrix; this turns it into a measured capability with a temporal
    holdout, the ks_two_sample_drift split idiom).

    Determinism: transitions order by (sec, event_id) per user (the
    sessionize total order); a transition belongs to the half its
    TARGET event falls in; argmax ties break on type asc;
    ``acc_micro = hits·1e6 div n_test``. Types never seen in training
    predict NULL and score their misses (pinned: no silent drop).

    Scale posture: one events scan → per-user LAG window (bounded
    partitions) → two hash aggs over |types|²-sized frames; the model
    (≤ |types|² rows) broadcasts back onto the test rollup.
    """
    base = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.expr("ts div 1000000000").alias("sec")
    )
    return markov_over(base)


def markov_over(base: DataFrame) -> DataFrame:
    """Core Markov holdout eval over ANY (user_id, event_id, event_type,
    sec) frame — planted-sequence tested in tests/test_operator_models.py."""
    bounds = base.agg(F.expr("(min(sec) + max(sec) + 1) div 2").alias("split_sec"))
    w = Window.partitionBy("user_id").orderBy(F.col("sec").asc(), F.col("event_id").asc())
    trans = (
        base.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .crossJoin(F.broadcast(bounds))
        .select(
            "prev_type",
            F.col("event_type").alias("next_type"),
            (F.col("sec") < F.col("split_sec")).alias("is_train"),
        )
    )
    model = (
        trans.where(F.col("is_train"))
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("prev_type").orderBy(
                    F.col("c").desc(), F.col("next_type").asc()
                )
            ),
        )
        .where(F.col("_rn") == 1)
        .select("prev_type", F.col("next_type").alias("predicted_type"))
    )
    test = trans.where(~F.col("is_train"))
    return (
        test.join(F.broadcast(model), "prev_type", "left")
        .groupBy("prev_type")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.max("predicted_type").alias("predicted_type"),
            F.sum(
                # NULL prediction (type unseen in training) scores a
                # miss, not a NULL — coalesce BEFORE the sum
                F.coalesce(
                    (F.col("next_type") == F.col("predicted_type")).cast("long"),
                    F.lit(0).cast("long"),
                )
            ).alias("n_hits"),
        )
        .select(
            "prev_type",
            "n_test",
            "predicted_type",
            "n_hits",
            F.expr("n_hits * 1000000L div n_test").alias("acc_micro"),
        )
    )


def mann_whitney_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney rank-sum drift per event type between the two time
    halves — the LOCATION-shift detector beside ks_two_sample_drift's
    any-divergence view (KS fires on variance or shape changes too; a
    one-sided U says 'the second half's values are systematically
    larger'), reported with Cliff's delta oriented as SECOND-half
    dominance: ``δ = 1 − 2U_a/(n_a·n_b) ∈ [−1, 1]`` (+1 = every
    second-half value exceeds every first-half value).

    Exactness: U is computed from TIE-AWARE midranks ×2 so every rank
    is an integer (``2·midrank = 2·cum_before + (ties + 1)``): with
    per-value counts the pooled 2·rank-sum of side A is
    ``Σ na_v·(2·cum_before(v) + tie(v) + 1)`` — exact BIGINTs, so
    ``u2 = 2·U_a`` is exact and ``delta_micro = (2·u2 − 2·n_a·n_b)·1e6
    div (2·n_a·n_b)`` needs one signed truncating division. Types
    missing a side report NULL.

    Scale posture: identical to KS — per-(type, value) hash agg (the
    windows see distinct values, not rows), one per-type window sort,
    one per-type agg.
    """
    ev = _events_sec(spark, sf_dir).where(F.col("value").isNotNull())
    bounds = ev.agg(F.expr("(min(sec) + max(sec) + 1) div 2").alias("split_sec"))
    steps = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.floor(F.col("value") * F.lit(1_000_000.0)).cast("long").alias("v_fix"),
            (F.col("sec") < F.col("split_sec")).cast("long").alias("is_a"),
        )
        .groupBy("event_type", "v_fix")
        .agg(
            F.sum("is_a").alias("na_v"),
            F.sum(F.lit(1) - F.col("is_a")).alias("nb_v"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("v_fix")
    wt = Window.partitionBy("event_type")
    cum = steps.select(
        "event_type",
        "na_v",
        "nb_v",
        (
            F.coalesce(
                F.sum(F.col("na_v") + F.col("nb_v")).over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            )
        ).alias("cum_before"),
        F.sum("na_v").over(wt).alias("n_a"),
        F.sum("nb_v").over(wt).alias("n_b"),
    )
    return cum.groupBy("event_type").agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        # 2*rank-sum of A over pooled midranks, minus 2*na(na+1)/2 => 2U
        F.when(
            (F.max("n_a") > 0) & (F.max("n_b") > 0),
            F.expr(
                "sum(na_v * (2 * cum_before + (na_v + nb_v) + 1))"
                " - max(n_a) * (max(n_a) + 1)"
            ),
        ).alias("u2"),
        F.when(
            (F.max("n_a") > 0) & (F.max("n_b") > 0),
            F.expr(
                "(2 * max(n_a) * max(n_b)"
                " - 2 * (sum(na_v * (2 * cum_before + (na_v + nb_v) + 1))"
                "        - max(n_a) * (max(n_a) + 1))) * 1000000L"
                " div (2 * max(n_a) * max(n_b))"
            ),
        ).alias("cliffs_delta_micro"),
    )


def forecast_baseline_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step-ahead backtest of the three standard forecast baselines
    over the per-type dense daily series — naive (yesterday),
    seasonal-naive (same weekday last week), drift (yesterday plus the
    average historical slope) — scored on the SAME evaluation days
    (t ≥ 7, where all three are defined), in 1e-6 MAE. This is the
    yardstick every fancier forecaster (holt_linear_forecast) must
    beat; M-competition practice says report it first.

    Exactness: naive/seasonal errors are integer count differences;
    the drift prediction is ``x_{t−1}·1e6 + (x_{t−1} − x_0)·1e6 div
    (t−1)`` (one truncating division before the absolute difference);
    MAEs are exact sums with one final division. ``best_method`` is the
    argmin with the pinned tie order naive < seasonal < drift.

    Scale posture: dense grid (|types| × |days|, generated), three LAG/
    FIRST window expressions over ONE per-type pass, one hash agg.
    """
    dense = dense_daily_counts(_events_sec(spark, sf_dir))
    w = Window.partitionBy("event_type").orderBy("day")
    t0 = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    scored = dense.select(
        "event_type",
        "cnt",
        F.lag("cnt", 1).over(w).alias("prev1"),
        F.lag("cnt", 7).over(w).alias("prev7"),
        F.first("cnt").over(t0).alias("x0"),
        (F.row_number().over(w) - 1).cast("long").alias("t"),
    ).where(F.col("t") >= 7)
    errs = scored.select(
        "event_type",
        (F.abs(F.col("cnt") - F.col("prev1")) * F.lit(1_000_000)).alias("e_naive"),
        (F.abs(F.col("cnt") - F.col("prev7")) * F.lit(1_000_000)).alias("e_seasonal"),
        F.abs(
            F.col("cnt") * F.lit(1_000_000)
            - (
                F.col("prev1") * F.lit(1_000_000)
                # average slope over the t-1 steps from x_0 to x_{t-1}
                + F.expr("(prev1 - x0) * 1000000L div (t - 1)")
            )
        ).alias("e_drift"),
    )
    return (
        errs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_eval"),
            F.expr("sum(e_naive) div count(1)").alias("mae_naive_micro"),
            F.expr("sum(e_seasonal) div count(1)").alias("mae_seasonal_micro"),
            F.expr("sum(e_drift) div count(1)").alias("mae_drift_micro"),
        )
        .withColumn(
            "best_method",
            F.expr(
                "case"
                " when mae_naive_micro <= mae_seasonal_micro"
                "  and mae_naive_micro <= mae_drift_micro then 'naive'"
                " when mae_seasonal_micro <= mae_drift_micro then 'seasonal'"
                " else 'drift' end"
            ),
        )
    )


def runs_test_randomness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test per event type: is the daily count
    series RANDOM around its median, or does it cluster (fewer runs =
    regime-y/level-shifted, more runs = oscillating)? The nonparametric
    serial-dependence check beside acf_daily_counts (ACF sees linear
    lag correlation; the runs count reacts to ANY above/below-median
    clustering, including nonlinear regimes CUSUM-style shifts create).

    Exactness: the median is the pinned LOWER order statistic of the
    dense daily counts ((n+1) div 2 — the discrete-threshold doctrine);
    above/at-or-below flags, run boundaries, n₁/n₂ and the observed run
    count are exact integers; the expected count under randomness,
    ``1 + 2·n₁·n₂/(n₁+n₂)``, is one truncating division to 1e-6, and
    ``ratio_micro = n_runs·1e12 div expected_micro`` (≈1e6 ⇒ random).
    Degenerate constant series (n₁ or n₂ = 0) report NULL.

    Scale posture: dense grid → one per-type window sort for the
    median, one LAG pass for run boundaries, two hash aggs. Same
    calendar-bounded envelope as the rest of the daily family.
    """
    dense = dense_daily_counts(_events_sec(spark, sf_dir))
    w = Window.partitionBy("event_type").orderBy(F.col("cnt").asc(), F.col("day").asc())
    wt = Window.partitionBy("event_type")
    med = (
        dense.select(
            "event_type",
            "cnt",
            F.row_number().over(w).cast("long").alias("rn"),
            F.count(F.lit(1)).over(wt).alias("n"),
        )
        .where(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("cnt").alias("median_cnt"))
    )
    wd = Window.partitionBy("event_type").orderBy("day")
    flagged = (
        dense.join(F.broadcast(med), "event_type")
        .withColumn("above", (F.col("cnt") > F.col("median_cnt")).cast("long"))
        .withColumn(
            "new_run",
            (
                F.lag("above").over(wd).isNull()
                | (F.lag("above").over(wd) != F.col("above"))
            ).cast("long"),
        )
    )
    return flagged.groupBy("event_type").agg(
        F.sum("above").alias("n_above"),
        F.sum(F.lit(1) - F.col("above")).alias("n_below"),
        F.sum("new_run").alias("n_runs"),
        F.expr(
            "if(sum(above) > 0 and sum(1 - above) > 0,"
            " 1000000L + 2 * sum(above) * sum(1 - above) * 1000000L"
            "   div (sum(above) + sum(1 - above)),"
            " cast(null as long))"
        ).alias("expected_micro"),
        F.expr(
            "if(sum(above) > 0 and sum(1 - above) > 0,"
            " sum(new_run) * 1000000000000L"
            "   div (1000000L + 2 * sum(above) * sum(1 - above) * 1000000L"
            "        div (sum(above) + sum(1 - above))),"
            " cast(null as long))"
        ).alias("ratio_micro"),
    )


def growth_accounting_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting (the classic new/retained/resurrected/
    churning user decomposition): for every active day of every user —
    new (first-ever active day), retained (also active the previous
    day), resurrected (returning after a gap ≥ 2 days) — plus
    ``n_churning``, the users active this day whose NEXT activity is
    more than one day away (or absent — right-censored at the end of
    the data, deterministic). new + retained + resurrected = that
    day's active users, the identity growth dashboards audit.

    Scale posture: events collapse to distinct (day, user) first (one
    hash agg bounds everything by |users|·|days|); the three state
    signals are one per-user ordered window pass (min/lag/lead share
    the user_id exchange); the report is a |days|-row agg.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.expr("ts div 1000000000 div 86400").alias("day"), "user_id"
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    lab = (
        du.withColumn("first_day", F.min("day").over(Window.partitionBy("user_id")))
        .withColumn("prev_day", F.lag("day").over(w))
        .withColumn("next_day", F.lead("day").over(w))
    )
    return (
        lab.groupBy("day")
        .agg(
            F.sum((F.col("day") == F.col("first_day")).cast("long")).alias("n_new"),
            F.sum(
                (
                    (F.col("day") != F.col("first_day"))
                    & (F.col("prev_day") == F.col("day") - 1)
                ).cast("long")
            ).alias("n_retained"),
            F.sum(
                (
                    (F.col("day") != F.col("first_day"))
                    & (F.col("prev_day") < F.col("day") - 1)
                ).cast("long")
            ).alias("n_resurrected"),
            F.sum(
                (
                    F.col("next_day").isNull()
                    | (F.col("next_day") > F.col("day") + 1)
                ).cast("long")
            ).alias("n_churning"),
        )
        .select(
            F.col("day").cast("long").alias("day"),
            "n_new", "n_retained", "n_resurrected", "n_churning",
        )
    )


def type_hour_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and hour-of-day — the
    one-number answer to "is traffic mix time-dependent?" (0 nats =
    schedule-free mix; approaching min(H(type), H(hour)) = types run
    on fixed schedules). Both marginal entropies ride along so the
    normalized dependence is one division away.

    Exactness: each cell's ``ln(c_xy·N / (c_x·c_y))`` (and the
    marginals' ``ln(N/c)``) runs one pinned double chain floored to
    the 1e-6 grid; the N-weighted sums are then pure BIGINT with one
    truncating division — identical in both engines.

    Scale posture: one (type, hour) hash agg (≤ |types|·24 cells),
    marginals re-aggregated from the cells, total broadcast — no
    second pass over events.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = ev.select(
        "event_type",
        (F.expr("ts div 1000000000 div 3600") % 24).cast("int").alias("hour"),
    ).groupBy("event_type", "hour").agg(F.count(F.lit(1)).cast("long").alias("c_xy"))
    mx = cells.groupBy("event_type").agg(F.sum("c_xy").alias("c_x"))
    my = cells.groupBy("hour").agg(F.sum("c_xy").alias("c_y"))
    tot = cells.agg(F.sum("c_xy").alias("n_events"))
    lng = (
        "cast(floor(ln(cast(c_xy as double) * cast(n_events as double)"
        " / (cast(c_x as double) * cast(c_y as double))) * 1000000) as long)"
    )
    joined = (
        cells.join(mx, "event_type").join(my, "hour").crossJoin(F.broadcast(tot))
        .withColumn("term", F.expr(f"c_xy * ({lng})"))
    )
    hx = mx.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.expr(
                "c_x * cast(floor(ln(cast(n_events as double)"
                " / cast(c_x as double)) * 1000000) as long)"
            )
        ).alias("hx_sum")
    )
    hy = my.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.expr(
                "c_y * cast(floor(ln(cast(n_events as double)"
                " / cast(c_y as double)) * 1000000) as long)"
            )
        ).alias("hy_sum")
    )
    return (
        joined.agg(
            F.sum("term").alias("mi_sum"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.countDistinct("event_type").cast("long").alias("n_types"),
            F.countDistinct("hour").cast("long").alias("n_hours"),
        )
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            F.col("n_events").cast("long").alias("n_events"),
            "n_types",
            "n_hours",
            "n_cells",
            F.expr("mi_sum div n_events").alias("mi_micro"),
            F.expr("hx_sum div n_events").alias("h_type_micro"),
            F.expr("hy_sum div n_events").alias("h_hour_micro"),
        )
    )
