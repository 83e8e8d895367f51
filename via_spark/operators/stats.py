"""Distribution statistics: exact percentiles + the approximate scale
paths (HLL distinct counts, quantile sketches).

Beyond-reference capability: a training-data pipeline profiles its
corpus constantly (value distributions, cardinalities). Three tiers:

* ``value_percentiles`` — EXACT linear-interpolated percentiles
  (``F.percentile``); oracle-checked against DuckDB ``quantile_cont``
  (both engines implement the same a + (b-a)·frac interpolation and
  agree bit-for-bit).
* ``approx_distinct_hashes`` — HyperLogLog++ cardinality
  (``approx_count_distinct``): O(1) memory per group at any scale; the
  test bounds its error against the exact count.
* ``approx_value_quantiles`` — Greenwald-Khanna quantile sketch
  (``percentile_approx``): mergeable, single-pass; test-bounded against
  the exact percentiles.

Scale posture (100 TB): the exact percentile needs a per-group sort —
fine for bounded groups, wrong for billions of rows per group; the
sketch variants are the 100 TB path (mergeable partial states, fixed
memory), which is why both live side by side with the error contract
under test.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from via_spark.session import load_table, spread

PCTS = [0.25, 0.5, 0.75, 0.95]


def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-event-type percentiles of ``value`` (oracle ✔).

    One scalar column per percentile (p25/p50/p75/p95) rather than one
    array column: same values, but a flat shape every downstream consumer
    (including pandas-based canonicalizers) can sort and hash."""
    ev = load_table(spark, sf_dir, "events")
    aggs = [
        F.percentile("value", p).alias(f"p{int(p * 100)}") for p in PCTS
    ]
    return ev.groupBy("event_type").agg(
        *aggs,
        F.count(F.lit(1)).alias("n"),
    )


def approx_distinct_hashes(spark: SparkSession, sf_dir: str, rsd: float = 0.02) -> DataFrame:
    """HLL++ distinct rhythm-hash cardinality per service — the O(1)
    memory path for cardinality profiling of unbounded streams."""
    from via_spark import store
    from via_spark.operators import rhythm

    t1 = store.tier1(spark, sf_dir)
    return t1.groupBy("severity").agg(
        F.approx_count_distinct("rhythm_hash", rsd).alias("approx_hashes"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def approx_value_quantiles(spark: SparkSession, sf_dir: str,
                           accuracy: int = 1000) -> DataFrame:
    """GK-sketch quantiles — mergeable single-pass alternative to the
    exact sort-based percentile."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.percentile_approx("value", PCTS, accuracy).alias("approx_pcts")
    )


MAD_K = 3.0

_MAD_SCHEMA = (
    "event_id long, event_type string, value double, med double, mad double"
)


def _quantile_cont(sorted_vals, q: float) -> float:
    """DuckDB/Spark's linear interpolation a + (b-a)*frac, reproduced
    verbatim so the pandas path is bit-identical to the SQL engines."""
    p = (len(sorted_vals) - 1) * q
    lo = int(p // 1)
    frac = p - lo
    if frac == 0.0:
        return float(sorted_vals[lo])
    return float(sorted_vals[lo] + (sorted_vals[lo + 1] - sorted_vals[lo]) * frac)


def _mad_outlier_batch(pdf):
    import numpy as np

    v = pdf["value"].to_numpy(dtype="float64")
    med = _quantile_cont(np.sort(v), 0.5)
    dev = np.abs(v - med)
    mad = _quantile_cont(np.sort(dev), 0.5)
    out = pdf.loc[dev > MAD_K * mad, ["event_id", "event_type", "value"]].copy()
    out["med"] = med
    out["mad"] = mad
    return out


def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outliers: |value − median| > 3·MAD, computed as
    ONE grouped-map ``applyInPandas`` stage (§2.11's grouped Arrow
    surface, oracle-checked like everything else).

    Why pandas here and not two percentile aggregations: the built-in
    form needs groupBy(median) + join + groupBy(MAD) + join — three
    shuffles of the events. The grouped map does median, MAD and the
    filter in ONE shuffle, inside Arrow batches, with the interpolation
    formula reproduced bit-for-bit (``_quantile_cont``). State per
    group is its row list — bounded groups (event types) by design;
    billion-row groups would use the sketch path (approx_value_quantiles).
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return ev.groupBy("event_type").applyInPandas(_mad_outlier_batch, _MAD_SCHEMA)


# correlation matrix fixed-point input scale (1e-3 quantization: the
# correlation computed is EXACT for the quantized values, identical in
# any engine — no float accumulation anywhere)
CORR_SCALE = 1_000
CORR_COLUMNS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def column_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation of lineitem's numeric measures in
    ONE aggregation pass — the profiling matrix a pipeline reads before
    feature selection or anomaly baselining.

    Exactness: each value is quantized to 1e-3 fixed-point BIGINT; all
    sums and cross-products accumulate as DECIMAL(38,0) (exact, no
    overflow until 1e38), so both engines hold identical integers and
    the final correlation is one pinned double expression over them.

    Scale posture: a single global agg with map-side partials (no
    shuffle beyond the 1-row combine); the 6-row unpivot happens on the
    1-row result. Column count bounds cost, not row count.
    """
    li = load_table(spark, sf_dir, "lineitem")
    fix = {
        c: F.floor(F.col(c) * CORR_SCALE).cast("decimal(19,0)") for c in CORR_COLUMNS
    }
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in CORR_COLUMNS:
        aggs.append(F.sum(fix[c]).alias(f"s_{c}"))
        aggs.append(F.sum(fix[c] * fix[c]).alias(f"ss_{c}"))
    pairs = []
    for i, a in enumerate(CORR_COLUMNS):
        for b in CORR_COLUMNS[i + 1:]:
            aggs.append(F.sum(fix[a] * fix[b]).alias(f"sp_{a}__{b}"))
            pairs.append((a, b))
    one = li.agg(*aggs)
    rows = []
    for a, b in pairs:
        num = (
            F.col("n").cast("double") * F.col(f"sp_{a}__{b}").cast("double")
            - F.col(f"s_{a}").cast("double") * F.col(f"s_{b}").cast("double")
        )
        var_a = (
            F.col("n").cast("double") * F.col(f"ss_{a}").cast("double")
            - F.col(f"s_{a}").cast("double") * F.col(f"s_{a}").cast("double")
        )
        var_b = (
            F.col("n").cast("double") * F.col(f"ss_{b}").cast("double")
            - F.col(f"s_{b}").cast("double") * F.col(f"s_{b}").cast("double")
        )
        corr = F.when(
            (var_a <= 0) | (var_b <= 0), F.lit(0.0)
        ).otherwise(num / (F.sqrt(var_a) * F.sqrt(var_b)))
        rows.append(
            F.struct(
                F.lit(a).alias("col_a"), F.lit(b).alias("col_b"), corr.alias("corr")
            )
        )
    return one.select(F.explode(F.array(*rows)).alias("r")).select(
        "r.col_a", "r.col_b", "r.corr"
    )


def value_zscore_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature standardization: each event's value as a
    z-score against its event_type's mean/std — the normalization step
    before thresholding or model features. Mean and variance derive
    from exact fixed-point sums (1e-6 values, DECIMAL(38) squares), so
    the group moments are identical integers in any engine; the z is
    one pinned double chain, rounded half-up to 1e-6.

    Scale posture: one hash agg per event_type for the moments, then a
    broadcast join back — no window over the fact table, no second
    shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    vfix = F.floor(F.col("value") * F.lit(1_000_000)).cast("long")
    mom = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vfix).alias("s_fix"),
        F.sum(vfix.cast("decimal(19,0)") * vfix.cast("decimal(19,0)")).alias("ss_fix"),
    )
    joined = ev.select("event_id", "event_type", "value").join(
        F.broadcast(mom), "event_type"
    )
    nd = F.col("n").cast("double")
    mean = F.col("s_fix").cast("double") / nd
    var = F.col("ss_fix").cast("double") / nd - mean * mean
    z = (vfix.cast("double") - mean) / F.sqrt(var)
    return joined.select(
        "event_id",
        "event_type",
        "value",
        F.when(var <= 0, F.lit(0.0))
        .otherwise(F.floor(z * F.lit(1_000_000.0) + F.lit(0.5)) / F.lit(1_000_000.0))
        .alias("zscore"),
    )


SKEW_KEYS = (
    ("orders", "o_custkey"),
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_partkey"),
)


def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-health diagnostics: for each candidate join/agg key, the
    exact distribution of per-key row counts — key cardinality, max and
    exact p50/p99 bucket sizes, and the max/mean skew ratio. The report
    a pipeline reads BEFORE picking salting or AQE-skew settings; a
    p99≪max row screams "one hot key", the case every 100 TB join plan
    has to survive.

    Exactness at scale: per-key counts are one hash agg; the percentile
    math runs on the COUNT-OF-COUNTS histogram (one row per distinct
    bucket size — tiny), cumulated with a window over that histogram,
    never over keys; p50/p99 are integer-threshold picks (smallest
    count with 2·cum ≥ n_keys / 100·cum ≥ 99·n_keys).
    """
    from pyspark.sql import Window

    outs = []
    for table, key in SKEW_KEYS:
        t = load_table(spark, sf_dir, table)
        per_key = t.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
        hist = per_key.groupBy("cnt").agg(F.count(F.lit(1)).alias("n_keys_at"))
        wcum = Window.orderBy("cnt").rowsBetween(Window.unboundedPreceding, 0)
        wall = Window.orderBy("cnt").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        c = (
            hist.withColumn("cum", F.sum("n_keys_at").over(wcum))
            .withColumn("n_keys", F.sum("n_keys_at").over(wall))
            .withColumn("n_rows", F.sum(F.col("cnt") * F.col("n_keys_at")).over(wall))
            .withColumn("max_cnt", F.max("cnt").over(wall))
        )
        stats = c.agg(
            F.first("n_keys").alias("n_keys"),
            F.first("n_rows").alias("n_rows"),
            F.first("max_cnt").alias("max_cnt"),
            F.min(
                F.when(F.lit(2) * F.col("cum") >= F.col("n_keys"), F.col("cnt"))
            ).alias("p50_cnt"),
            F.min(
                F.when(
                    F.lit(100) * F.col("cum") >= F.lit(99) * F.col("n_keys"),
                    F.col("cnt"),
                )
            ).alias("p99_cnt"),
        ).select(
            F.lit(f"{table}.{key}").alias("join_key"),
            "n_keys",
            "n_rows",
            "max_cnt",
            "p50_cnt",
            "p99_cnt",
            (
                F.col("max_cnt").cast("double")
                * F.col("n_keys").cast("double")
                / F.col("n_rows").cast("double")
            ).alias("skew_ratio"),
        )
        outs.append(stats)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def rank_quantile(
    df: DataFrame, group_cols: list[str], vfix: Column, pct: int
) -> DataFrame:
    """Rank-based discrete ``pct``-th percentile per group: the
    smallest fixed-point value whose cumulative count reaches ``pct`` %
    of the group (min v with 100·|{x ≤ v}| ≥ pct·n), as
    column ``p{pct}_fix`` beside the group size ``n`` — pure INTEGER
    arithmetic end to end.

    Why not ``percentile(v, 0.95)`` + floor: the interpolated double
    can land on either side of an integer when 0.95·(n−1) is near one
    (Spark and DuckDB round the position differently by an ulp), so a
    floored threshold could differ by 1 between engines and flip
    membership of rows sitting exactly at the boundary. The discrete
    rank definition never produces a double at all.

    Scale posture: one hash agg builds the per-(group, distinct value)
    HISTOGRAM; the cumulative window runs over that histogram (same
    shape join_key_skew_report pins), never over the fact table; the
    per-group sort underneath is inherent to any exact percentile.
    """
    from pyspark.sql import Window

    hist = df.groupBy(*group_cols, vfix.alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    wcum = (
        Window.partitionBy(*group_cols)
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy(*group_cols)
    c = hist.withColumn("cum", F.sum("c").over(wcum)).withColumn(
        "n", F.sum("c").over(wall)
    )
    return (
        c.where(F.lit(100) * F.col("cum") >= F.lit(pct) * F.col("n"))
        .groupBy(*group_cols)
        .agg(F.min("v").alias(f"p{pct}_fix"), F.max("n").alias("n"))
    )


def above_p95_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier mining: events whose value exceeds their event_type's
    exact p95 — the per-group heavy-tail filter.

    The threshold is the rank-based discrete p95 over FIXED-POINT
    values (see rank_quantile — all-integer, so membership can
    never ride on a cross-engine double ulp), broadcast back onto the
    fact scan; the filter compares bigints in codegen. No window ever
    touches the fact table.
    """
    ev = load_table(spark, sf_dir, "events")
    vfix = F.floor(F.col("value") * 1_000_000).cast("long")
    thr = rank_quantile(ev, ["event_type"], vfix, 95).select(
        "event_type", "p95_fix"
    )
    return (
        ev.join(F.broadcast(thr), "event_type")
        .where(vfix > F.col("p95_fix"))
        .select("event_id", "event_type", "value", "p95_fix")
    )


def daily_priority_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL window-function breadth: each priority's percent_rank and
    cume_dist of revenue WITHIN its order day — both functions have
    identical textbook definitions in Spark and DuckDB (unlike ntile's
    remainder rule, which is why quality_deciles pins its own formula).

    Scale posture: the windows run over the (day, priority) AGGREGATE
    (≤ |days|·|priorities| rows), never the fact table; partitioning by
    day keeps every partition tiny.
    """
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    agg = o.groupBy(
        F.to_date("o_orderdate").alias("day"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 1_000_000).cast("long")).alias(
            "rev_fix"
        )
    )
    w = Window.partitionBy("day").orderBy(F.col("rev_fix").asc())
    return agg.select(
        "day",
        "priority",
        "rev_fix",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


#: value-drift histogram bins (fixed count; edges from the per-type
#: min/max anchor so the binning is deterministic and data-derived).
DRIFT_BINS = 16


def value_drift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day value-distribution drift per event type as TOTAL
    VARIATION DISTANCE over a fixed 16-bin histogram (oracle ✔) — the
    drift monitor a feature pipeline runs before trusting today's data
    against yesterday's model.

    TVD = ½·Σ_b |p_b − q_b| is computed in exact cross-multiplied
    integer form: Σ_b |c_b(d)·N(d−1) − c_b(d−1)·N(d)| is a BIGINT sum
    (order-independent — no float accumulation can diverge between
    engines or executors), divided ONCE by 2·N(d)·N(d−1) at the end.
    PSI's log-ratio would hinge on ln() ulp agreement across engines;
    TVD is rational arithmetic end to end, same determinism doctrine
    as the fixed-point dots.

    Bins: ((vfix − min)·16) div (max − min + 1) against the per-type
    min/max anchor (in-plan broadcast, never collected) — identical
    integer quantization to the z-order day axis.

    Scale posture: histogram counts are one (type, day, bin) hash agg;
    consecutive days align by the same union-merge shape as
    ``kmv_retention_overlap`` (bin rows shuffle, never event rows);
    output is ≤ types·days rows.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("ts div 1000000000 div 86400").alias("day"),
        F.floor(F.col("value") * 1_000_000).cast("long").alias("vfix"),
    )
    anchor = ev.groupBy("event_type").agg(
        F.min("vfix").alias("vmin"), F.max("vfix").alias("vmax")
    )
    binned = (
        ev.join(F.broadcast(anchor), "event_type")
        .withColumn(
            "bin",
            F.expr(f"((vfix - vmin) * {DRIFT_BINS}) div (vmax - vmin + 1)").cast(
                "int"
            ),
        )
        .groupBy("event_type", "day", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = binned.groupBy("event_type", "day").agg(F.sum("c").alias("n"))
    pairs = totals.alias("t").join(
        totals.select(
            "event_type",
            (F.col("day") + 1).alias("day"),
            F.col("n").alias("n_prev"),
        ),
        ["event_type", "day"],
    ).select("event_type", "day", F.col("n").alias("n_curr"), "n_prev")

    curr = binned.select(
        "event_type", "day", "bin", F.col("c").alias("c_curr"), F.lit(0).alias("c_prev")
    )
    prev = binned.select(
        "event_type",
        (F.col("day") + 1).alias("day"),
        "bin",
        F.lit(0).alias("c_curr"),
        F.col("c").alias("c_prev"),
    )
    both = (
        curr.unionByName(prev)
        .groupBy("event_type", "day", "bin")
        .agg(F.sum("c_curr").alias("c_curr"), F.sum("c_prev").alias("c_prev"))
    )
    terms = both.join(pairs, ["event_type", "day"]).withColumn(
        "term",
        F.abs(
            F.col("c_curr") * F.col("n_prev") - F.col("c_prev") * F.col("n_curr")
        ),
    )
    return (
        terms.groupBy("event_type", "day", "n_curr", "n_prev")
        .agg(F.sum("term").alias("num"))
        .select(
            "event_type",
            "day",
            F.col("n_curr").cast("long").alias("n_curr"),
            F.col("n_prev").cast("long").alias("n_prev"),
            (
                F.col("num").cast("double")
                / (
                    F.lit(2.0)
                    * F.col("n_curr").cast("double")
                    * F.col("n_prev").cast("double")
                )
            ).alias("tvd"),
        )
    )


def join_output_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planned-join output-cardinality report (oracle ✔): for the
    orders(o_custkey) ⋈ events(user_id) enrichment join, the EXACT
    output row count and where it concentrates — per matched key the
    two side counts and their product, the top 20 keys by output
    contribution, and each key's skew flag (key output vs the
    per-matched-key mean). ``join_key_skew_report`` profiles one
    side's key histogram; this is the other half a 100 TB join plan
    needs: output size = Σ_k a_k·b_k is a property of the PAIR of
    histograms, and a key that looks mild on each side alone (10⁴ ×
    10⁴) still detonates the output (10⁸ rows from one key).

    All counts and products are BIGINT-exact; the one DOUBLE is the
    final skew ratio, a single division of exactly-representable
    integers (same doctrine as ``value_drift_tvd``).

    Scale posture: the planner never executes the join — each side
    collapses to a per-key hash agg (distinct-key-sized), the two
    histograms equi-join on the key (tiny ⋈ tiny), the global total
    is an in-plan broadcast scalar, and top-20 plans as
    TakeOrderedAndProject. Cost is two scans + one distinct-key join
    regardless of how catastrophic the planned join itself would be.
    """
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    left = orders.groupBy(F.col("o_custkey").alias("join_key")).agg(
        F.count(F.lit(1)).alias("n_left")
    )
    right = events.groupBy(F.col("user_id").alias("join_key")).agg(
        F.count(F.lit(1)).alias("n_right")
    )
    matched = left.join(right, "join_key").select(
        "join_key",
        "n_left",
        "n_right",
        (F.col("n_left") * F.col("n_right")).alias("key_output"),
    )
    totals = matched.agg(
        F.sum("key_output").alias("total_output"),
        F.count(F.lit(1)).alias("n_matched_keys"),
    )
    return (
        matched.crossJoin(F.broadcast(totals))
        .select(
            "join_key",
            "n_left",
            "n_right",
            "key_output",
            "total_output",
            "n_matched_keys",
            (
                F.col("key_output").cast("double")
                * F.col("n_matched_keys").cast("double")
                / F.col("total_output").cast("double")
            ).alias("skew_ratio"),
        )
        .orderBy(F.col("key_output").desc(), F.col("join_key").asc())
        .limit(20)
    )


def contingency_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell chi-square independence audit of event_type × hour-of-
    day (oracle ✔) — the "is behavior type independent of time" gate a
    pipeline runs before trusting a stratified sample or a time-based
    split. Each of the ≤ types·24 cells carries its observed count,
    margins, the exact integer deviation ``dev = n·obs − rt·ct``
    (BIGINT — its sign and magnitude rank cells with no float in the
    loop), the expected count, and the cell's chi-square contribution
    ``dev²/(n·rt·ct)``, algebraically identical to the textbook
    (obs−exp)²/exp.

    Determinism doctrine: every count is one hash agg; ``dev`` is
    exact integer cross-multiplication (same shape as
    ``value_drift_tvd``'s numerator); the two DOUBLE columns are pure
    per-row expressions over exactly-cast BIGINTs with identical
    expression trees in the DuckDB oracle — no float accumulation
    anywhere (the corpus-level chi-square TOTAL is deliberately NOT a
    column: summing 120 doubles is executor-order-dependent; consumers
    sum the exact ``dev`` ranking instead, or the contributions
    client-side).

    Scale posture: one events scan into a (type, hour) hash agg; the
    margins are re-aggregations of that ≤ types·24-row frame,
    broadcast back. Nothing downstream of the first agg ever sees an
    event row.
    """
    cells = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("(ts div 1000000000 div 3600) % 24").cast("int").alias("hour"),
        )
        .groupBy("event_type", "hour")
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    row_tot = cells.groupBy("event_type").agg(F.sum("obs").alias("row_total"))
    col_tot = cells.groupBy("hour").agg(F.sum("obs").alias("col_total"))
    n_tot = cells.agg(F.sum("obs").alias("n_total"))
    return (
        cells.join(F.broadcast(row_tot), "event_type")
        .join(F.broadcast(col_tot), "hour")
        .crossJoin(F.broadcast(n_tot))
        .withColumn(
            "dev",
            F.col("n_total") * F.col("obs")
            - F.col("row_total") * F.col("col_total"),
        )
        .select(
            "event_type",
            "hour",
            "obs",
            "row_total",
            "col_total",
            "n_total",
            "dev",
            (
                F.col("row_total").cast("double")
                * F.col("col_total").cast("double")
                / F.col("n_total").cast("double")
            ).alias("expected"),
            (
                F.col("dev").cast("double")
                * F.col("dev").cast("double")
                / (
                    F.col("n_total").cast("double")
                    * F.col("row_total").cast("double")
                    * F.col("col_total").cast("double")
                )
            ).alias("contribution"),
        )
    )


def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust statistics per event type (oracle ✔): clip
    ``value`` to the rank-based discrete [p1, p99] and report the
    clipped mean beside the raw mean and the clip counts — the
    "is my average one fat-finger away from garbage" report every
    metrics pipeline needs before trusting a mean at scale.

    All-integer doctrine: clip bounds are discrete rank thresholds
    (min v with 100·cum ≥ k·n — same shape as ``rank_quantile``,
    never an interpolated double); clipping clamps fixed-point
    BIGINTs; both means are ONE division of a BIGINT sum (no float
    accumulation — the sum of clamped int64 values is exact and
    order-independent across executors and engines).

    Scale posture: one hash agg builds the per-(type, value)
    histogram; BOTH thresholds and BOTH sums come from that histogram
    (weight each distinct value by its count) — the fact table is
    scanned once and nothing row-sized survives the first agg; the
    thresholds broadcast back onto histogram rows, not onto events.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 1_000_000).cast("long").alias("vfix"),
    )
    hist = ev.groupBy("event_type", "vfix").agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("vfix")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    c = hist.withColumn("cum", F.sum("c").over(wcum)).withColumn(
        "n", F.sum("c").over(wall)
    )
    bounds = (
        c.groupBy("event_type")
        .agg(
            F.min(
                F.when(
                    F.lit(100) * F.col("cum") >= F.lit(1) * F.col("n"), F.col("vfix")
                )
            ).alias("lo_fix"),
            F.min(
                F.when(
                    F.lit(100) * F.col("cum") >= F.lit(99) * F.col("n"), F.col("vfix")
                )
            ).alias("hi_fix"),
        )
    )
    clipped = hist.join(F.broadcast(bounds), "event_type").withColumn(
        "wfix",
        F.greatest(F.col("lo_fix"), F.least(F.col("hi_fix"), F.col("vfix"))),
    )
    fix = 1_000_000.0
    return (
        clipped.groupBy("event_type", "lo_fix", "hi_fix")
        .agg(
            F.sum("c").alias("n"),
            F.sum(F.col("vfix") * F.col("c")).alias("raw_sum"),
            F.sum(F.col("wfix") * F.col("c")).alias("win_sum"),
            F.sum(F.when(F.col("vfix") < F.col("lo_fix"), F.col("c")).otherwise(F.lit(0))).alias("n_clipped_low"),
            F.sum(F.when(F.col("vfix") > F.col("hi_fix"), F.col("c")).otherwise(F.lit(0))).alias("n_clipped_high"),
        )
        .select(
            "event_type",
            "n",
            (F.col("lo_fix").cast("double") / fix).alias("lo_clip"),
            (F.col("hi_fix").cast("double") / fix).alias("hi_clip"),
            (
                F.col("raw_sum").cast("double")
                / (F.col("n").cast("double") * F.lit(fix))
            ).alias("mean_raw"),
            (
                F.col("win_sum").cast("double")
                / (F.col("n").cast("double") * F.lit(fix))
            ).alias("mean_winsorized"),
            F.col("n_clipped_low").cast("long").alias("n_clipped_low"),
            F.col("n_clipped_high").cast("long").alias("n_clipped_high"),
        )
    )


def ship_lag_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment-latency profile (oracle ✔): per order priority, the
    rank-based discrete p50/p95 and exact mean of the order-to-ship
    lag in whole days — the SLA distribution behind "does URGENT
    actually ship faster", and the percentile form of the fixed 60-day
    cutoff the late-shipment filter hardcodes.

    All-integer: the lag is a date difference in days (BIGINT),
    quantiles are discrete ranks over the per-(priority, lag)
    histogram, the mean is one division of an exact BIGINT sum.

    Scale posture: the lineitem⋈orders join shuffles on the order key
    — the one genuinely fact-sized shuffle here, co-partitionable by
    bucketing both tables on the key at ingest; everything after the
    (priority, lag) hash agg is histogram-sized.
    """
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate", "o_orderpriority"
    )
    lags = li.join(o, "l_orderkey").select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("long")
        .alias("lag_days"),
    )
    hist = lags.groupBy("priority", "lag_days").agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("priority")
        .orderBy("lag_days")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("priority")
    c = hist.withColumn("cum", F.sum("c").over(wcum)).withColumn(
        "n", F.sum("c").over(wall)
    )
    return (
        c.groupBy("priority")
        .agg(
            F.max("n").alias("n_lineitems"),
            F.sum(F.col("lag_days") * F.col("c")).alias("lag_sum"),
            F.min(
                F.when(
                    F.lit(100) * F.col("cum") >= F.lit(50) * F.col("n"),
                    F.col("lag_days"),
                )
            ).alias("p50_lag_days"),
            F.min(
                F.when(
                    F.lit(100) * F.col("cum") >= F.lit(95) * F.col("n"),
                    F.col("lag_days"),
                )
            ).alias("p95_lag_days"),
        )
        .select(
            "priority",
            F.col("n_lineitems").cast("long").alias("n_lineitems"),
            "p50_lag_days",
            "p95_lag_days",
            (
                F.col("lag_sum").cast("double") / F.col("n_lineitems").cast("double")
            ).alias("mean_lag_days"),
        )
    )


# --- round-10 additions ---

# Benford first-digit probabilities log10(1 + 1/d), d = 1..9, in 1e-6
# micro units. The nine integers sum to exactly 1_000_000 and are PINNED
# constants in both engines — no transcendental log is evaluated at query
# time (same doctrine as the whole-bit surprisal quantization).
BENFORD_MICRO = (301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757)


def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals (fraud/synthetic-
    data screening: naturally-occurring money amounts follow
    P(d) = log10(1+1/d); fabricated ones usually don't).

    Per digit 1..9: observed count, observed share (1e-6 fixed), the
    pinned Benford expectation, the deviation, and one chi-square-style
    statistic ``sum(dev² div expected)`` attached to every row. Exactness:
    the first digit comes from the decimal rendering of the 1e-6
    fixed-point BIGINT (identical strings in both engines — totals are
    ≥ 1, so the fix never has leading zeros); shares and the statistic
    are pure BIGINT arithmetic with ONE truncating division each, and the
    statistic is share-based (n-independent) so it cannot overflow at any
    corpus size. Missing digits contribute their full expected mass, the
    textbook definition.

    Scale posture: one orders scan → 9-group hash agg; everything after
    is 9-row arithmetic with the total and the statistic attached through
    broadcast scalar cross joins.
    """
    from via_spark.operators.relational import fixed6

    o = load_table(spark, sf_dir, "orders")
    observed = (
        o.select(
            F.substring(fixed6(F.col("o_totalprice")).cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    total = observed.agg(F.sum("n_obs").alias("n_total"))
    digits = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    expected = F.element_at(
        F.array(*[F.lit(x).cast("long") for x in BENFORD_MICRO]), F.col("digit")
    )
    per = (
        digits.join(F.broadcast(observed), "digit", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("long").alias("n_obs"),
            expected.alias("benford_micro"),
            F.expr("coalesce(n_obs, 0L) * 1000000L div n_total").alias("share_micro"),
        )
        .withColumn("dev_micro", F.col("share_micro") - F.col("benford_micro"))
    )
    chi = per.agg(
        F.sum(F.expr("dev_micro * dev_micro div benford_micro")).alias("chi2_micro")
    )
    return per.crossJoin(F.broadcast(chi)).select(
        "digit", "n_obs", "share_micro", "benford_micro", "dev_micro", "chi2_micro"
    )


def quartiles_over(
    vals: DataFrame, key: str, fix_col: str, tiebreak: str
) -> DataFrame:
    """Exact per-``key`` quartiles of ``fix_col`` as PINNED order
    statistics (the all-integer discrete-threshold doctrine): q1 at rank
    ``greatest(1, (n+1) div 4)``, q3 at rank ``least(n, 3*(n+1) div 4)``
    over the ascending fixed-point order. Both are k-th order statistics —
    well-defined under ties, no interpolation, no float ordering. Returns
    one row per key: (key, n, q1_fix, q3_fix).

    Property-tested against a pure-Python model in tests/test_operator_models.py.

    Scale posture: one window pass per key (row_number + count over the
    same partitioning — one sort), then a per-key hash agg over the ≤2
    surviving rank-hit rows. Per-key sorts are the EXACT tier; unbounded
    keys at 100 TB take the mergeable-sketch path (hash_sample_quantile_
    report) instead — same pairing as value_percentiles vs
    approx_value_quantiles.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(F.col(fix_col).asc(), F.col(tiebreak).asc())
    wt = Window.partitionBy(key)
    ranked = vals.select(
        key,
        fix_col,
        tiebreak,
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    q1r = F.greatest(F.lit(1).cast("long"), F.expr("(n + 1) div 4"))
    q3r = F.least(F.col("n"), F.expr("3 * (n + 1) div 4"))
    return (
        ranked.where((F.col("rn") == q1r) | (F.col("rn") == q3r))
        .groupBy(key)
        .agg(
            F.max("n").alias("n"),
            F.min(F.when(F.col("rn") == q1r, F.col(fix_col))).alias("q1_fix"),
            F.max(F.when(F.col("rn") == q3r, F.col(fix_col))).alias("q3_fix"),
        )
    )


def iqr_outlier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier audit per event type: exact order-statistic
    quartiles of ``value`` (see :func:`quartiles_over`), then counts of
    points beyond the 1.5·IQR fences. The doubled-fence comparison
    ``2·v_fix < 2·q1_fix − 3·iqr_fix`` keeps every bound a BIGINT — no
    halves, no floats, no division at all (complements mad_outliers'
    median-based spread and above_p95_events' one-sided tail).

    Scale posture: the quartile pass is one per-type window sort; the
    fence count joins the 5-row quartile frame back BROADCAST and is one
    hash agg — two scans of events total, the sort pass dominating.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            "event_id",
            F.floor(F.col("value") * F.lit(1_000_000.0)).cast("long").alias("v_fix"),
        )
    )
    q = quartiles_over(ev, "event_type", "v_fix", "event_id").withColumn(
        "iqr_fix", F.col("q3_fix") - F.col("q1_fix")
    )
    return (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.max("q1_fix").alias("q1_fix"),
            F.max("q3_fix").alias("q3_fix"),
            F.max("iqr_fix").alias("iqr_fix"),
            F.sum(
                (
                    F.lit(2) * F.col("v_fix")
                    < F.lit(2) * F.col("q1_fix") - F.lit(3) * F.col("iqr_fix")
                ).cast("long")
            ).alias("n_low"),
            F.sum(
                (
                    F.lit(2) * F.col("v_fix")
                    > F.lit(2) * F.col("q3_fix") + F.lit(3) * F.col("iqr_fix")
                ).cast("long")
            ).alias("n_high"),
        )
    )


def fd_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freedman–Diaconis auto-binned histogram of ``value`` — the
    statistically-principled bin width ``2·IQR/n^(1/3)`` instead of
    value_histogram's fixed bucket size, so the resolution adapts to the
    corpus without a hand-tuned knob.

    Exactness: IQR comes from exact GLOBAL order statistics (rank
    q1/q3 over rank.global_row_number — range partition + broadcast
    offsets, never a single-partition window); the cube root is the
    INTEGER cube root via a bounded monotone scan
    (``size(filter(sequence(1, cap), x -> x³ ≤ n))``, cap³ bounds the
    supported corpus and overflows nothing), and the width
    ``greatest(1, 2·iqr_fix div icbrt)`` plus every bin edge is BIGINT.

    Scale posture: one stats pass (the global-rank shuffle), then one
    binning pass — broadcast 1-row stats frame, hash agg keyed by bin.
    """
    from via_spark.operators.rank import global_row_number

    icbrt_cap = 200_000  # cap³ = 8e15 rows — far beyond any real corpus
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.floor(F.col("value") * F.lit(1_000_000.0)).cast("long").alias("v_fix"),
    ).where(F.col("v_fix").isNotNull())
    ranked = global_row_number(
        ev, [F.col("v_fix").asc(), F.col("event_id").asc()], out="rn", total="n"
    )
    q1r = F.greatest(F.lit(1).cast("long"), F.expr("(n + 1) div 4"))
    q3r = F.least(F.col("n"), F.expr("3 * (n + 1) div 4"))
    quart = (
        ranked.where((F.col("rn") == q1r) | (F.col("rn") == q3r))
        .agg(
            F.max("n").alias("n"),
            F.min(F.when(F.col("rn") == q1r, F.col("v_fix"))).alias("q1_fix"),
            F.max(F.when(F.col("rn") == q3r, F.col("v_fix"))).alias("q3_fix"),
        )
    )
    lo = ev.agg(F.min("v_fix").alias("min_fix"))
    stats = (
        quart.crossJoin(F.broadcast(lo))
        .withColumn(
            "icbrt",
            F.expr(
                f"size(filter(sequence(1L, {icbrt_cap}L),"
                " x -> x * x * x <= n))"
            ).cast("long"),
        )
        .withColumn(
            "width_fix",
            F.greatest(
                F.lit(1).cast("long"),
                F.expr("2 * (q3_fix - q1_fix) div icbrt"),
            ),
        )
        .select("min_fix", "width_fix")
    )
    return (
        ev.crossJoin(F.broadcast(stats))
        .withColumn("bin", F.expr("(v_fix - min_fix) div width_fix"))
        .groupBy("bin", "width_fix", "min_fix")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            "bin",
            (F.col("min_fix") + F.col("bin") * F.col("width_fix")).alias("bin_lo_fix"),
            "width_fix",
            "n_rows",
        )
    )


# Cumulative Poisson(1) CDF in 1e-6 micro units (Σ_{j≤k} e⁻¹/j! for
# k = 0..7; mass above 7 is 1e-5 and maps to weight 8). PINNED integer
# thresholds — the inverse-CDF table both engines share, so no engine
# evaluates exp() at query time.
POISSON1_CDF_MICRO = (
    367_879, 735_759, 919_699, 981_012, 996_340, 999_406, 999_917, 999_990
)
BOOTSTRAP_REPS = 32


def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence interval for the per-source mean
    document token count — THE bootstrap that works on unbounded data:
    instead of resampling n-of-n (which needs global coordination),
    every row independently takes a Poisson(1) weight per replicate
    (Chamandy et al., Google 2012), so the resample is a single
    streaming pass and replicates merge associatively.

    Determinism: the replicate weight is the pinned inverse-CDF lookup
    on ``hash48(doc_id:rep) mod 1e6`` (the repo-wide sha256-prefix
    idiom) against POISSON1_CDF_MICRO — no RNG state, identical in both
    engines and under any partitioning. Replicate means are
    ``Σ(w·x)·1e6 div Σw`` BIGINT divisions; the CI is the 2nd / 31st
    ORDER STATISTIC of the 32 replicate means (≈ the central 94 %),
    array-local per source. Replicates whose Σw = 0 (probability
    e^(−n·source)) drop out; the ranks then read 2nd and (m−1)th.

    Scale posture: one documents scan × 32 replicate explode → one
    (source, rep) hash agg → |sources|·32 rows collapse array-locally.
    At 100 TB the explode is the textbook Poisson-bootstrap plan: no
    per-replicate shuffle of the corpus, weights computed inline
    (spread: the 32-replicate sha256 weight projection is the dominant
    map stage — a single-split fixture scan would serialize it).
    """
    d = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        "source",
        F.size(tokens_of_text()).cast("long").alias("x"),
    )
    reps = F.explode(
        F.array(*[F.lit(r) for r in range(1, BOOTSTRAP_REPS + 1)])
    ).alias("rep")
    cdf = F.array(*[F.lit(t).cast("long") for t in POISSON1_CDF_MICRO])
    weighted = (
        d.select("doc_id", "source", "x", reps)
        .withColumn(
            "u",
            F.conv(
                F.substring(
                    F.sha2(
                        F.concat_ws(":", F.col("doc_id").cast("string"), F.col("rep").cast("string")),
                        256,
                    ),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("long")
            % F.lit(1_000_000),
        )
        .withColumn("w", F.size(F.filter(cdf, lambda t: F.col("u") >= t)).cast("long"))
    )
    rep_means = (
        weighted.groupBy("source", "rep")
        .agg(
            F.sum(F.col("w") * F.col("x")).alias("wx"),
            F.sum("w").alias("sw"),
        )
        .where(F.col("sw") > 0)
        .select("source", F.expr("wx * 1000000L div sw").alias("rep_mean_micro"))
    )
    ci = (
        rep_means.groupBy("source")
        .agg(F.array_sort(F.collect_list("rep_mean_micro")).alias("ms"))
        .select(
            "source",
            F.expr("size(ms)").cast("long").alias("n_reps"),
            # <3 surviving replicates (possible for a 1-doc source: the
            # deterministic Poisson weights can zero out all but a couple
            # of reps) would make element_at hit index 0 (error) or
            # invert the interval (hi < lo at size 2) — emit NULL bounds.
            F.expr("CASE WHEN size(ms) >= 3 THEN element_at(ms, 2) END").alias(
                "boot_lo_micro"
            ),
            F.expr(
                "CASE WHEN size(ms) >= 3"
                " THEN element_at(ms, cast(size(ms) - 1 as int)) END"
            ).alias("boot_hi_micro"),
        )
    )
    point = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("sum(x) * 1000000L div count(1)").alias("mean_micro"),
    )
    return point.join(F.broadcast(ci), "source").select(
        "source", "n_docs", "mean_micro", "n_reps", "boot_lo_micro", "boot_hi_micro"
    )


def tokens_of_text():
    """The pinned whitespace tokenizer applied to the ``text`` column —
    thin local alias so stats.py doesn't re-import at module level (the
    canonical definition is functions/text.tokens)."""
    from via_spark.functions.text import tokens

    return tokens(F.col("text"))
