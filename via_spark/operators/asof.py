"""As-of (point-in-time) join — a composition of built-in operators.

Spark has no native ASOF JOIN; this implements the standard scalable
composition: tag both sides, union, then a per-key ``last(ignorenulls)``
running window ordered by time carries the most recent right-side
payload forward onto every left row. One shuffle on (key), no
per-row Python, no range-explosion — the plan is a union + window,
both whole-stage-codegen operators.

Semantics (pinned, matching DuckDB's ``ASOF LEFT JOIN`` inclusive
form): each left row gets the right row with the greatest
``ts_right <= ts_left`` for the same key; a right row AT the left
timestamp matches; left rows before any right row get NULLs.
Determinism: right rows are pre-deduplicated to one per (key, ts)
(greatest tiebreak id wins) and right sorts before left at equal ts.
The payload travels as ONE struct carried by a single
``last(ignorenulls)`` — so a legitimately-NULL field inside the matched
right row stays NULL instead of being back-filled from an older row
(per-column carries would mix columns of different right rows, which
would diverge from DuckDB's ASOF row semantics).

Scale posture (100 TB): the union-window form is how production Spark
does point-in-time joins (feature stores, trade/quote alignment): state
per window partition is one carried payload, the sort is per-key within
the single shuffle, and skewed keys split under AQE. The alternative
(range join + top-1) explodes candidate pairs; this never does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    payload_cols: list[str],
    tiebreak: str,
) -> DataFrame:
    """Left as-of join: latest right payload with right.ts <= left.ts.

    ``left`` keeps all its columns; ``payload_cols`` from ``right``
    arrive prefixed ``asof_`` (NULL when no prior right row exists).
    ``tiebreak`` is a right-side column deduplicating equal (key, ts).
    """
    w_dedup = Window.partitionBy(key, ts).orderBy(F.col(tiebreak).desc())
    r = (
        right.withColumn("_rn", F.row_number().over(w_dedup))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )

    left_cols = [c for c in left.columns]
    payload_type = StructType(
        [StructField(c, r.schema[c].dataType, True) for c in payload_cols]
    )
    r_tagged = r.select(
        F.col(key),
        F.col(ts),
        F.lit(1).alias("_is_right"),
        F.struct(*[F.col(c) for c in payload_cols]).alias("_payload"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left_cols if c not in (key, ts)],
    )
    l_tagged = left.select(
        F.col(key),
        F.col(ts),
        F.lit(0).alias("_is_right"),
        F.lit(None).cast(payload_type).alias("_payload"),
        *[F.col(c) for c in left_cols if c not in (key, ts)],
    )
    unioned = r_tagged.unionByName(l_tagged)

    # right rows sort before left rows at equal ts → inclusive match;
    # the whole payload struct is carried by ONE last(ignorenulls), so
    # all asof_* fields come from the SAME matched right row
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("_is_right").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "*", F.last(F.col("_payload"), ignorenulls=True).over(w).alias("_carr")
    )
    return carried.where(F.col("_is_right") == 0).select(
        *[F.col(c) for c in left_cols],
        *[F.col("_carr")[c].alias(f"asof_{c}") for c in payload_cols],
    )


def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every event: the user's most recent prior-or-same purchase
    (timestamp + value) — the time-since-last-conversion shape."""
    from via_spark.session import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("ts div 1000000000").alias("ts_sec"),
        "event_type",
        "value",
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts_sec", "event_id", F.col("value").alias("purchase_value")
    )
    joined = asof_join(
        ev.drop("value"),
        purchases,
        key="user_id",
        ts="ts_sec",
        payload_cols=["purchase_value", "event_id"],
        tiebreak="event_id",
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts_sec",
        "event_type",
        F.col("asof_event_id").alias("last_purchase_event"),
        F.col("asof_purchase_value").alias("last_purchase_value"),
    )


# --- round-10 additions ---


def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: every PURCHASE event credits
    the same user's latest at-or-before NON-purchase event, and purchase
    value rolls up per touching event type — the conversion-credit
    report every funnel analysis ends in. (asof_last_purchase runs the
    same as-of shape the other way: events looking back at purchases.
    The credit stays inside the events stream because the fixture's
    TPC-H order dates predate its event era — a cross-table as-of would
    be vacuously unattributed, the class of fixture blind spot the
    verify doctrine screens for.)

    Semantics pinned: inclusive as-of (a same-second touch attributes,
    right-before-left tiebreak inside asof_join); purchases with no
    prior touch land in the ``asof_event_type NULL`` group (reported,
    not dropped — unattributed conversions are a real number people ask
    for). Value is exact fixed-point; the share is a division-only
    double of two exact BIGINTs (the daily_revenue_share doctrine —
    correctly-rounded division of identical integers is bit-identical
    cross-engine).

    Scale posture: rides asof_join — one union + one per-user window
    pass, no range join, no per-purchase scan of the event history; the
    rollup is an |event_types|-row agg with a broadcast scalar attach.
    """
    per = attributed_purchases(spark, sf_dir).groupBy("asof_event_type").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("value_fix").alias("value_fix"),
    )
    total = per.agg(F.sum("value_fix").alias("total_fix"))
    return per.crossJoin(F.broadcast(total)).select(
        "asof_event_type",
        "n_purchases",
        "value_fix",
        (
            F.col("value_fix").cast("double") / F.col("total_fix").cast("double")
        ).alias("value_share"),
    )


def attributed_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared last-touch core: every purchase event with its latest
    at-or-before non-purchase touch (type + touch second) attached via
    asof_join — attribution_last_touch rolls it up by credited type,
    conversion_lag_profile by touch-to-purchase latency."""
    from via_spark.operators.relational import fixed6
    from via_spark.session import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("ts div 1000000000").alias("sec"),
        "event_type",
        "event_id",
        "value",
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "sec",
        F.col("event_id").alias("purchase_id"),
        fixed6(F.col("value")).alias("value_fix"),
    )
    touches = ev.where(F.col("event_type") != "purchase").select(
        "user_id", "sec", "event_type", "event_id"
    )
    return asof_join(
        purchases, touches, key="user_id", ts="sec",
        payload_cols=["event_type", "sec"], tiebreak="event_id",
    )


def conversion_lag_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Touch-to-conversion latency per credited touch type: over the
    last-touch attribution frame, the distribution of
    ``purchase_sec − touch_sec`` — median and p95 as all-integer
    DISCRETE rank thresholds (the ship_lag_profile idiom: smallest lag
    whose cumulative count reaches 50 % / 95 %), plus the mean from
    exact sums. The 'how stale can a touch be and still convert'
    number that sets attribution windows.

    Unattributed purchases (NULL touch) have no lag and are excluded
    here by construction; attribution_last_touch reports their mass.

    Scale posture: rides attributed_purchases (union + per-user
    window); the profile is a per-(type, lag) hash agg, a window over
    that agg's ≤ |types|·|lags| rows, and one final agg.
    """
    att = attributed_purchases(spark, sf_dir).where(
        F.col("asof_event_type").isNotNull()
    )
    lags = att.select(
        F.col("asof_event_type").alias("touch_type"),
        (F.col("sec") - F.col("asof_sec")).alias("lag_sec"),
    )
    per = lags.groupBy("touch_type", "lag_sec").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = (
        Window.partitionBy("touch_type")
        .orderBy("lag_sec")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("touch_type")
    cum = per.select(
        "touch_type",
        "lag_sec",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(wt).alias("n"),
        F.sum(F.col("c") * F.col("lag_sec")).over(wt).alias("lag_sum"),
    )
    return cum.groupBy("touch_type").agg(
        F.max("n").alias("n_conversions"),
        F.min(
            F.when(F.lit(100) * F.col("cum") >= F.lit(50) * F.col("n"), F.col("lag_sec"))
        ).alias("p50_lag_sec"),
        F.min(
            F.when(F.lit(100) * F.col("cum") >= F.lit(95) * F.col("n"), F.col("lag_sec"))
        ).alias("p95_lag_sec"),
        F.expr("max(lag_sum) div max(n)").alias("mean_lag_sec"),
    )


ATTRIBUTION_WINDOW_SEC = 86_400  # 1-day lookback (pinned)


def attribution_linear_window(spark: SparkSession, sf_dir: str,
                              window_sec: int = ATTRIBUTION_WINDOW_SEC) -> DataFrame:
    """Multi-touch LINEAR attribution: every purchase splits its value
    equally across ALL the user's non-purchase touches in the pinned
    lookback window — the fairness-spectrum counterpart to
    attribution_last_touch (last-touch over-credits the final click;
    linear is the other standard the two-model comparison every
    marketing-mix review starts with). Purchases with no in-window
    touch land in the NULL group at full value.

    Exactness: per-pair credit is ``value_fix div n_touches`` with the
    REMAINDER assigned to the newest touch (pinned), so per-purchase
    credits sum exactly to value_fix and the grand total is conserved
    to the unit — no 1/n rational leaks. Shares are division-only
    doubles of exact BIGINTs.

    Scale posture: the purchase×touch pairing is an equi-join on
    (user_id, day-bucket) with each purchase probing its own and the
    previous bucket (complete for a 1-bucket window by construction —
    the interval_overlap_pairs blocking argument), then an exact
    in-window filter; never a data-wide theta join. Credit rollup is
    one hash agg + broadcast totals.
    """
    from via_spark.operators.relational import fixed6
    from via_spark.session import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("ts div 1000000000").alias("sec"),
        "event_type",
        "event_id",
        "value",
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("sec").alias("p_sec"),
        F.col("event_id").alias("purchase_id"),
        fixed6(F.col("value")).alias("value_fix"),
    )
    touches = ev.where(F.col("event_type") != "purchase").select(
        "user_id", F.col("sec").alias("t_sec"), "event_type",
        F.col("event_id").alias("touch_id"),
        F.expr(f"sec div {window_sec}").alias("bucket"),
    )
    probes = purchases.select(
        "*",
        F.explode(
            F.array(
                F.expr(f"p_sec div {window_sec}"),
                F.expr(f"p_sec div {window_sec} - 1"),
            )
        ).alias("bucket"),
    )
    pairs = (
        probes.join(touches, ["user_id", "bucket"])
        .where(
            (F.col("t_sec") <= F.col("p_sec"))
            & (F.col("t_sec") > F.col("p_sec") - F.lit(window_sec))
        )
        .select("purchase_id", "value_fix", "event_type", "t_sec", "touch_id")
    )
    from pyspark.sql import Window

    wp = Window.partitionBy("purchase_id")
    wr = Window.partitionBy("purchase_id").orderBy(
        F.col("t_sec").desc(), F.col("touch_id").desc()
    )
    credited = pairs.select(
        "purchase_id",
        "event_type",
        (
            F.expr("value_fix div count(1) over (partition by purchase_id)")
            + F.when(
                F.row_number().over(wr) == 1,
                F.col("value_fix") % F.count(F.lit(1)).over(wp),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("credit_fix"),
    )
    unattributed = (
        purchases.join(
            pairs.select("purchase_id").distinct(), "purchase_id", "left_anti"
        )
        .select(
            F.lit(None).cast("string").alias("event_type"),
            F.col("value_fix").alias("credit_fix"),
        )
    )
    per = (
        credited.select("event_type", "credit_fix")
        .unionByName(unattributed)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_credits"),
            F.sum("credit_fix").alias("credit_fix"),
        )
    )
    total = per.agg(F.sum("credit_fix").alias("total_fix"))
    return per.crossJoin(F.broadcast(total)).select(
        "event_type",
        "n_credits",
        "credit_fix",
        (
            F.col("credit_fix").cast("double") / F.col("total_fix").cast("double")
        ).alias("credit_share"),
    )


NEAREST_TOLERANCE_SEC = 3600


def asof_nearest_event(
    spark: SparkSession, sf_dir: str, tolerance_sec: int = NEAREST_TOLERANCE_SEC
) -> DataFrame:
    """Nearest-direction as-of join (pandas ``merge_asof
    direction='nearest'`` semantics): for every purchase event, the
    user's temporally NEAREST non-purchase event within
    ``tolerance_sec`` — backward or forward, ties to backward (pinned).
    ``asof_last_purchase`` carries only the backward side; attribution
    and context-window features often want whichever side is closer.

    Same scale shape as the backward as-of: one user-keyed ordered
    window pass carries the previous non-purchase (sec, event_id) via
    ``last(ignorenulls)`` over the preceding frame and the next via
    ``first(ignorenulls)`` over the following frame — no range join,
    no candidate explosion; the carried payload is one struct so both
    fields come from the SAME neighboring row.
    """
    from via_spark.session import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("ts div 1000000000").alias("sec"),
        "event_type",
    )
    is_other = F.col("event_type") != "purchase"
    payload = F.when(is_other, F.struct(F.col("sec").alias("o_sec"),
                                        F.col("event_id").alias("o_id")))
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    carried = ev.withColumn(
        "prev", F.last(payload, ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        )
    ).withColumn(
        "nxt", F.first(payload, ignorenulls=True).over(
            w.rowsBetween(1, Window.unboundedFollowing)
        )
    )
    gap_b = F.col("sec") - F.col("prev.o_sec")
    gap_f = F.col("nxt.o_sec") - F.col("sec")
    take_b = F.col("prev").isNotNull() & (
        F.col("nxt").isNull() | (gap_b <= gap_f)
    )
    return (
        carried.where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            F.when(take_b, F.col("prev.o_id")).otherwise(F.col("nxt.o_id"))
            .alias("nearest_event_id"),
            F.when(take_b, gap_b).otherwise(gap_f).cast("long").alias("gap_sec"),
            F.when(take_b, F.lit("backward")).otherwise(F.lit("forward"))
            .alias("direction"),
        )
        .where(F.col("gap_sec") <= tolerance_sec)
    )
