"""Deterministic mergeable sketches with MEASURED error — the
oracle-checkable counterparts of stats.py's engine-native sketches.

Beyond-reference capability, same rationale as ``ann_recall_report``:
at 100 TB nobody runs exact ``COUNT(DISTINCT)`` or exact semi-joins as
a pre-filter; they run sketches. The repo's standing rule is that the
accuracy of every approximate path is measured against the exact
baseline, never assumed. Spark's own HLL++/Bloom implementations are
engine-internal (their estimates can't be replayed in another engine),
so stats.py bounds them with tests. The two operators here instead pin
a fully deterministic sketch construction — sha256-derived hashes,
integer arithmetic, identical in DuckDB SQL — so the *measured error
itself* is an oracle-checked driver query. The family:
``kmv_distinct_report`` (cardinality), ``kmv_retention_overlap``
(theta-sketch set algebra over per-day audiences),
``hash_sample_quantile_report`` (bottom-k-hash sampled quantiles,
sampling error isolated), ``bloom_semi_join_fpr`` and
``bloom_sizing_curve`` (membership pre-filter accuracy and its
m-sizing law). The two anchors in detail:

* ``kmv_distinct_report`` — K-Minimum-Values cardinality estimator
  (Bar-Yossef et al., RANDOM 2002): per group keep the k smallest
  48-bit value hashes; estimate = (k-1) · 2^48 / kth_min. Mergeable
  (union of KMV sets then re-cut = KMV of the union), O(k) memory per
  group at any scale. The report carries the exact distinct count and
  the relative error side by side.
* ``bloom_semi_join_fpr`` — a Bloom filter over the build side's join
  keys (m bits, k sha256-derived positions) probed by the full probe
  side, scored against the exact semi-join: true members, bloom
  positives, false positives, and the measured FPR per group. This is
  the pre-filter that turns a shuffle semi-join into a broadcast
  bitmap test at scale; the FPR report is what tells an operator the
  m/k trade-off actually achieved on their keys.

Scale posture (100 TB): KMV — one distinct-project shuffle on
(group, hash48) then a bounded per-group head (row_number ≤ k over
values already deduped; the window input per group is the group's
distinct-hash count, never the event stream). Bloom — the bit-set is
≤ m rows after one distinct-project, broadcast to the probe side; the
probe side streams once with no shuffle (explode ×k_hash, broadcast
hash-join, one group-agg). Neither ever materializes a cross product;
both sketches are unions of per-partition partial states, which is
exactly the property that makes them cluster-mergeable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from via_spark.session import load_table

#: 48-bit hash space: 12 hex chars of sha256 — wide enough that hash
#: collisions are negligible at fixture scale, narrow enough that the
#: estimator numerator (k-1)·2^48 stays exactly representable in a
#: DOUBLE (63·2^48 < 2^53), so Spark and DuckDB divide identical
#: numbers and produce bit-identical estimates.
HASH_BITS = 48
HASH_SPACE = float(2**HASH_BITS)
KMV_K = 64

#: Sized so the measured FPR is a real, visible number at fixture
#: scale: at sf0.01 the build side sets ~1.3k keys × 3 positions in
#: 16384 bits (fill ≈ 0.21 → FPR ≈ 1 %); at sf0.1 the same m is
#: deliberately under-sized (fill ≈ 0.9) and the report SHOWS the
#: filter degrading — the m-must-scale-with-n lesson, measured.
BLOOM_M = 16384
BLOOM_K = 3
BLOOM_BUILD_PRIORITY = "1-URGENT"


def _hash48(col: Column) -> Column:
    """Deterministic 48-bit uniform hash of a string column: the first
    12 hex chars of sha256, as BIGINT. DuckDB mirror:
    ``('0x' || substr(sha256(x), 1, 12))::BIGINT``."""
    return F.conv(F.substring(F.sha2(col, 256), 1, 12), 16, 10).cast("long")


def kmv_distinct_report(
    spark: SparkSession, sf_dir: str, k: int = KMV_K
) -> DataFrame:
    """Per-day K-Minimum-Values distinct-user estimate vs the exact
    count, with the measured relative error (oracle ✔) — the daily
    active-users number, sketched.

    Grouping is the UTC epoch day (same raw-int64 ``ts div`` idiom as
    ``hour_of_week_profile``): daily cardinalities genuinely vary, so
    the report exercises the estimator across different n rather than
    one repeated value.

    Small-cardinality exactness: when a group has fewer than ``k``
    distinct hashes the KMV set IS the distinct set and the estimate
    is the (exact) hash count; the estimator formula only engages at
    ``n ≥ k``.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("ts div 1000000000 div 86400").alias("day"),
        F.col("user_id").cast("string").alias("uid"),
    )
    hashed = ev.select("day", _hash48(F.col("uid")).alias("uh")).distinct()
    w = Window.partitionBy("day").orderBy(F.col("uh").asc())
    heads = (
        hashed.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_head"), F.max("uh").alias("kth_min"))
    )
    exact = ev.groupBy("day").agg(
        F.count_distinct(F.col("uid")).alias("exact_distinct")
    )
    est = F.when(
        F.col("n_head") < k, F.col("n_head").cast("double")
    ).otherwise(
        F.lit(float((k - 1) * 2**HASH_BITS)) / F.col("kth_min").cast("double")
    )
    return (
        exact.join(heads, "day")
        .withColumn("kmv_estimate", est)
        .select(
            "day",
            "exact_distinct",
            F.lit(int(k)).alias("k"),
            "kmv_estimate",
            (
                F.abs(F.col("kmv_estimate") - F.col("exact_distinct").cast("double"))
                / F.col("exact_distinct").cast("double")
            ).alias("rel_error"),
        )
    )


def bloom_positions(
    key: Column, m: int = BLOOM_M, k_hash: int = BLOOM_K
) -> Column:
    """The canonical Bloom position family: for a key, the array of
    its k probe positions ``_hash48(concat(i, ':', key)) % m``. Every
    Bloom surface (the semi-join report, the streaming bit store,
    their tests) expands positions through this one definition — same
    single-source contract as :func:`cm_probes`."""
    return F.array(
        *[
            (_hash48(F.concat(F.lit(f"{i}:"), key.cast("string"))) % m).alias("pos")
            for i in range(k_hash)
        ]
    )


def bloom_semi_join_fpr(
    spark: SparkSession, sf_dir: str, m: int = BLOOM_M, k_hash: int = BLOOM_K
) -> DataFrame:
    """Bloom-filter semi-join accuracy report, grouped by nation
    (oracle ✔): a Bloom filter over the distinct custkeys of URGENT
    orders (the build side) probed by every customer, scored against
    the exact has-an-urgent-order semi-join.

    The build side is the urgent subset (not all orders) because in
    this fixture every customer has SOME order — the urgent cut
    leaves ~14 % of customers as genuine negatives, so the
    false-positive rate is a real measurement, not vacuously zero.
    Per nation: customers probed, exact members, bloom positives,
    false positives, and the measured FPR over the true negatives.

    Bloom membership uses the standard k-fold construction
    (:func:`bloom_positions`): positions ``sha256(i ':' key) mod m``
    for i < k_hash; positive iff every probed position is set. A key
    whose k positions collide still probes correctly (each position is
    tested independently).
    """
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == BLOOM_BUILD_PRIORITY)
        .select("o_custkey")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    bits = (
        orders.select(
            F.explode(bloom_positions(F.col("o_custkey"), m, k_hash)).alias("pos")
        )
        .distinct()
        .withColumn("set_bit", F.lit(1))
    )
    probes = cust.select(
        "c_custkey",
        "c_nationkey",
        F.explode(bloom_positions(F.col("c_custkey"), m, k_hash)).alias("pos"),
    )
    probed = (
        probes.join(F.broadcast(bits), "pos", "left")
        .groupBy("c_custkey", "c_nationkey")
        .agg(F.min(F.coalesce("set_bit", F.lit(0))).alias("bloom_positive"))
    )
    exact = orders.select(F.col("o_custkey").alias("c_custkey")).distinct().withColumn(
        "is_member", F.lit(1)
    )
    scored = probed.join(exact, "c_custkey", "left").select(
        "c_nationkey",
        "bloom_positive",
        F.coalesce("is_member", F.lit(0)).alias("is_member"),
    )
    agg = scored.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("is_member").alias("n_members"),
        F.sum("bloom_positive").alias("n_bloom_positive"),
        F.sum(
            F.when((F.col("bloom_positive") == 1) & (F.col("is_member") == 0), 1).otherwise(0)
        ).alias("n_false_positive"),
    )
    return (
        agg.join(F.broadcast(nation), agg.c_nationkey == nation.n_nationkey)
        .select(
            "n_name",
            "n_customers",
            "n_members",
            "n_bloom_positive",
            "n_false_positive",
            F.when(
                F.col("n_customers") == F.col("n_members"), F.lit(0.0)
            ).otherwise(
                F.col("n_false_positive").cast("double")
                / (F.col("n_customers") - F.col("n_members")).cast("double")
            ).alias("fpr"),
        )
    )


def kmv_retention_overlap(
    spark: SparkSession, sf_dir: str, k: int = KMV_K
) -> DataFrame:
    """Day-over-day audience overlap estimated from KMV sketches beside
    the exact numbers (oracle ✔) — theta-sketch-style set algebra on
    consecutive-day active-user sets: for each (day, day+1) pair, the
    union's k smallest hashes form the union sample; members present in
    BOTH days' k-min sets estimate the Jaccard; union cardinality comes
    from the union sample's kth min. Exact union/intersection/Jaccard
    ride along so the estimation error is a queryable fact.

    This is the at-scale form of next-day retention: the exact answer
    needs the full distinct user sets per day pair; the sketch answer
    needs k hashes per day and merges losslessly (the merge-exactness
    test pins that), so a year of daily sketches answers any pair.

    Determinism: the same 48-bit sha256-prefix hash as
    ``kmv_distinct_report``; every cut is a rank filter under a
    per-pair window ordered by (hash asc).
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("ts div 1000000000 div 86400").alias("day"),
        F.col("user_id").cast("string").alias("uid"),
    )
    hashed = ev.select("day", _hash48(F.col("uid")).alias("uh")).distinct()

    days = hashed.select("day").distinct()
    pairs = days.select(F.col("day").alias("day_a")).join(
        F.broadcast(days.select(F.col("day").alias("day_b"))),
        F.col("day_b") == F.col("day_a") + 1,
    )

    wk = Window.partitionBy("day").orderBy(F.col("uh").asc())
    kmin = (
        hashed.withColumn("_rn", F.row_number().over(wk))
        .where(F.col("_rn") <= k)
        .select("day", "uh")
    )

    def _pair_union(side: DataFrame) -> DataFrame:
        """(day_a, day_b, uh, in_a, in_b) over the pair's hash union."""
        a = side.join(
            F.broadcast(pairs), side.day == F.col("day_a")
        ).select("day_a", "day_b", "uh", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
        b = side.join(
            F.broadcast(pairs), side.day == F.col("day_b")
        ).select("day_a", "day_b", "uh", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
        return (
            a.unionByName(b)
            .groupBy("day_a", "day_b", "uh")
            .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
        )

    exact = _pair_union(hashed).groupBy("day_a", "day_b").agg(
        F.count(F.lit(1)).alias("exact_union"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("exact_intersection"),
    )

    wp = Window.partitionBy("day_a", "day_b").orderBy(F.col("uh").asc())
    sk_union = _pair_union(kmin)
    cut = sk_union.withColumn("_rn", F.row_number().over(wp)).where(F.col("_rn") <= k)
    sk = (
        cut.groupBy("day_a", "day_b")
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.max("uh").alias("theta"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("matches"),
        )
        .join(
            sk_union.groupBy("day_a", "day_b").agg(
                F.count(F.lit(1)).alias("n_union_hashes")
            ),
            ["day_a", "day_b"],
        )
    )
    est_union = F.when(
        F.col("n_union_hashes") < k, F.col("n_union_hashes").cast("double")
    ).otherwise(
        F.lit(float((k - 1) * 2**HASH_BITS)) / F.col("theta").cast("double")
    )
    return (
        exact.join(sk, ["day_a", "day_b"])
        .withColumn("kmv_union", est_union)
        .withColumn(
            "kmv_jaccard",
            F.col("matches").cast("double") / F.col("m").cast("double"),
        )
        .select(
            "day_a",
            "day_b",
            F.lit(int(k)).alias("k"),
            "exact_union",
            "exact_intersection",
            (
                F.col("exact_intersection").cast("double")
                / F.col("exact_union").cast("double")
            ).alias("exact_jaccard"),
            "kmv_union",
            "kmv_jaccard",
            (F.col("kmv_jaccard") * F.col("kmv_union")).alias("kmv_intersection"),
        )
    )


#: Bottom-k-by-hash sample size for the quantile report.
QSAMPLE_M = 256


def hash_sample_quantile_report(
    spark: SparkSession, sf_dir: str, m: int = QSAMPLE_M
) -> DataFrame:
    """Per-event-type p50/p95 of ``value`` from a bottom-``m``-by-hash
    uniform row sample, beside the exact quantiles and the measured
    absolute error (oracle ✔).

    The sample is the ``m`` rows with the smallest 48-bit hash of
    their event_id — a deterministic uniform sample that, like the KMV
    set, is a mergeable bounded state: per-partition bottom-m sets
    union and re-cut losslessly, so at 100 TB the sample costs one
    group-limit pass while the exact side needs the full per-group
    histogram. Both sides use the rank-based discrete quantile (pure
    integer arithmetic — no interpolated double can diverge between
    engines), so the report's error columns measure SAMPLING error
    only, which is the number that tells you whether m is big enough
    for your tail.
    """
    from via_spark.operators.stats import rank_quantile

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 1_000_000).cast("long").alias("vfix"),
    )
    ws = Window.partitionBy("event_type").orderBy(
        _hash48(F.col("event_id").cast("string")).asc(), F.col("event_id").asc()
    )
    sample = (
        ev.withColumn("_rn", F.row_number().over(ws))
        .where(F.col("_rn") <= m)
        .select("event_type", "vfix")
    )

    def q(df: DataFrame, pct: int) -> DataFrame:
        return rank_quantile(df, ["event_type"], F.col("vfix"), pct)

    parts = [
        q(ev, 50).withColumnRenamed("n", "n_rows"),
        q(ev, 95).drop("n"),
        q(sample, 50).withColumnRenamed("p50_fix", "s50_fix")
        .withColumnRenamed("n", "sample_m"),
        q(sample, 95).withColumnRenamed("p95_fix", "s95_fix").drop("n"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.join(p, "event_type")
    fix = 1_000_000.0
    return out.select(
        "event_type",
        "n_rows",
        "sample_m",
        (F.col("p50_fix").cast("double") / fix).alias("p50_exact"),
        (F.col("s50_fix").cast("double") / fix).alias("p50_sample"),
        (
            F.abs(F.col("s50_fix") - F.col("p50_fix")).cast("double") / fix
        ).alias("p50_abs_err"),
        (F.col("p95_fix").cast("double") / fix).alias("p95_exact"),
        (F.col("s95_fix").cast("double") / fix).alias("p95_sample"),
        (
            F.abs(F.col("s95_fix") - F.col("p95_fix")).cast("double") / fix
        ).alias("p95_abs_err"),
    )


#: The sizing sweep: same build/probe population as
#: bloom_semi_join_fpr, three filter sizes spanning under- to
#: well-provisioned at fixture scale.
BLOOM_SIZES = (4096, 16384, 65536)


def bloom_sizing_curve(
    spark: SparkSession, sf_dir: str, sizes: tuple = BLOOM_SIZES, k_hash: int = BLOOM_K
) -> DataFrame:
    """The Bloom m-sizing law, measured (oracle ✔): the SAME build set
    (URGENT-order custkeys) and probe population (all customers) as
    ``bloom_semi_join_fpr``, evaluated at three filter sizes in one
    pass — one row per m with the achieved fill and false-positive
    rate. The curve is what turns "size m to n" folklore into the
    number an operator reads before provisioning a semi-join
    pre-filter at 100 TB.

    One pass: the k_hash 48-bit hashes per key are computed once;
    each (key, hash) row explodes across the sizes with pos = h mod m,
    so adding a size costs a modulo, not a scan.
    """
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == BLOOM_BUILD_PRIORITY)
        .select("o_custkey")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")

    def hashes(key: Column) -> Column:
        return F.array(
            *[
                _hash48(F.concat(F.lit(f"{i}:"), key.cast("string")))
                for i in range(k_hash)
            ]
        )

    m_arr = F.array(*[F.lit(int(m)) for m in sizes])
    bits = (
        orders.select(F.explode(hashes(F.col("o_custkey"))).alias("h"))
        .select(F.explode(m_arr).alias("m"), "h")
        .select("m", (F.col("h") % F.col("m")).alias("pos"))
        .distinct()
        .withColumn("set_bit", F.lit(1))
    )
    probes = (
        cust.select("c_custkey", F.explode(hashes(F.col("c_custkey"))).alias("h"))
        .select("c_custkey", F.explode(m_arr).alias("m"), "h")
        .select("c_custkey", "m", (F.col("h") % F.col("m")).alias("pos"))
    )
    probed = (
        probes.join(F.broadcast(bits), ["m", "pos"], "left")
        .groupBy("c_custkey", "m")
        .agg(F.min(F.coalesce("set_bit", F.lit(0))).alias("bloom_positive"))
    )
    members = orders.distinct().select(
        F.col("o_custkey").alias("c_custkey"), F.lit(1).alias("is_member")
    )
    n_keys = orders.distinct().agg(F.count(F.lit(1)).alias("n_keys"))
    scored = probed.join(members, "c_custkey", "left").select(
        "m",
        "bloom_positive",
        F.coalesce("is_member", F.lit(0)).alias("is_member"),
    )
    fill = bits.groupBy("m").agg(F.count(F.lit(1)).alias("n_set_bits"))
    return (
        scored.groupBy("m")
        .agg(
            F.count(F.lit(1)).alias("n_probed"),
            F.sum("is_member").cast("long").alias("n_members"),
            F.sum("bloom_positive").cast("long").alias("n_bloom_positive"),
            F.sum(
                F.when(
                    (F.col("bloom_positive") == 1) & (F.col("is_member") == 0), 1
                ).otherwise(0)
            ).cast("long").alias("n_false_positive"),
        )
        .join(F.broadcast(fill), "m")
        .crossJoin(F.broadcast(n_keys))
        .select(
            "m",
            F.lit(int(k_hash)).alias("k_hash"),
            F.col("n_keys").cast("long").alias("n_keys"),
            "n_probed",
            "n_members",
            "n_bloom_positive",
            "n_false_positive",
            (
                F.col("n_set_bits").cast("double") / F.col("m").cast("double")
            ).alias("fill_fraction"),
            F.when(
                F.col("n_probed") == F.col("n_members"), F.lit(0.0)
            ).otherwise(
                F.col("n_false_positive").cast("double")
                / (F.col("n_probed") - F.col("n_members")).cast("double")
            ).alias("fpr"),
        )
    )


#: Count-Min geometry: d hash rows × w counters. At fixture scale the
#: overestimate is a real, visible number (heavy keys share counters);
#: both are operator dials and the report measures what they achieve.
CM_DEPTH = 4
CM_WIDTH = 256


def cm_probes(key: Column, depth: int = CM_DEPTH, width: int = CM_WIDTH) -> Column:
    """The canonical Count-Min probe family: for a string key, the
    array of (row_i, pos) structs — row i probes position
    ``_hash48(concat(i, ':', key)) % width``. Every CM surface (the
    batch report, the streaming partial-merge store, their tests) MUST
    expand probes through this one definition, or estimates stop being
    comparable across surfaces."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("row_i"),
                (_hash48(F.concat(F.lit(f"{i}:"), key)) % width).alias("pos"),
            )
            for i in range(depth)
        ]
    )


def cm_frequency_report(
    spark: SparkSession, sf_dir: str, depth: int = CM_DEPTH, width: int = CM_WIDTH
) -> DataFrame:
    """Count-Min frequency estimates vs exact per-user event counts,
    with the measured overestimate (oracle ✔) — the third leg of the
    sketch triad: KMV answers "how many distinct", Bloom answers "is
    it a member", Count-Min answers "how often", all in bounded
    memory with their errors measured, never assumed.

    Construction (Cormode & Muthukrishnan 2005): d×w counter matrix;
    counter[i][sha256(i ':' key) mod w] accumulates every key's count;
    estimate = min over the d rows. Counters are plain sums, so
    per-partition partials merge by addition — the mergeable-state
    property the whole family is built on. Count-Min errors are
    ONE-SIDED: estimate ≥ exact always (the planted test pins it),
    and the report's overestimate column is the collision cost the
    (d, w) geometry actually pays on this key distribution.

    Scale posture: exact counts are one hash agg; the counter matrix
    is a ≤ d·w-row aggregate (broadcast back); the estimate join
    touches d rows per distinct key — no shuffle ever carries more
    than the distinct-key frame.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("uid")
    )
    exact = ev.groupBy("uid").agg(F.count(F.lit(1)).alias("exact_count"))
    keyed = exact.select(
        "uid", "exact_count", F.explode(cm_probes(F.col("uid"), depth, width)).alias("rp")
    ).select("uid", "exact_count", "rp.row_i", "rp.pos")
    counters = keyed.groupBy("row_i", "pos").agg(
        F.sum("exact_count").alias("counter")
    )
    est = (
        keyed.join(F.broadcast(counters), ["row_i", "pos"])
        .groupBy("uid", "exact_count")
        .agg(F.min("counter").alias("cm_estimate"))
    )
    return est.select(
        F.col("uid").cast("long").alias("user_id"),
        "exact_count",
        F.lit(int(depth)).alias("depth"),
        F.lit(int(width)).alias("width"),
        F.col("cm_estimate").cast("long").alias("cm_estimate"),
        (F.col("cm_estimate") - F.col("exact_count")).cast("long").alias("overestimate"),
        (
            (F.col("cm_estimate") - F.col("exact_count")).cast("double")
            / F.col("exact_count").cast("double")
        ).alias("rel_overestimate"),
    )


def kmv_rolling_distinct(
    spark: SparkSession, sf_dir: str, k: int = KMV_K, window_days: int = 7
) -> DataFrame:
    """Trailing-7-day distinct users from MERGED per-day KMV sketches,
    beside the exact rolling distinct and the measured relative error
    (oracle ✔) — the sketch-algebra answer to the rolling-window
    COUNT(DISTINCT): build each day's bottom-k ONCE, then any as-of
    day's window is union-the-sketches-and-recut, never a rescan of
    the events. ``rolling_7d_active_users`` is the exact counterpart;
    at 100 TB the exact side re-touches every (day, user) pair per
    window while the sketch side touches ≤ 7·k rows per as-of day —
    this report prices that trade on real data.

    The merge is the KMV losslessness property executed at query
    grain: union of the seven daily bottom-k sets, dedup (the same
    user hashing identically on multiple days), re-cut to the k
    smallest — identical to the sketch of the union, which is what the
    streaming store (``merge_kmv_partials``) exploits batch-wise.

    Small-window exactness: under k merged hashes the union IS the
    distinct set and the estimate is exact, same contract as
    ``kmv_distinct_report``.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("ts div 1000000000 div 86400").alias("day"),
        F.col("user_id").cast("string").alias("uid"),
    )
    hashed = ev.select("day", _hash48(F.col("uid")).alias("uh")).distinct()
    wd = Window.partitionBy("day").orderBy(F.col("uh").asc())
    daily_heads = (
        hashed.withColumn("_rn", F.row_number().over(wd))
        .where(F.col("_rn") <= k)
        .select("day", "uh")
    )
    bounds = hashed.agg(F.max("day").alias("max_day"))
    spread_heads = (
        daily_heads.select(
            F.explode(
                F.sequence(F.col("day"), F.col("day") + (window_days - 1))
            ).alias("as_of_day"),
            "uh",
        )
        .crossJoin(F.broadcast(bounds))
        .where(F.col("as_of_day") <= F.col("max_day"))
        .select("as_of_day", "uh")
        .distinct()
    )
    wa = Window.partitionBy("as_of_day").orderBy(F.col("uh").asc())
    merged = (
        spread_heads.withColumn("_rn", F.row_number().over(wa))
        .where(F.col("_rn") <= k)
        .groupBy("as_of_day")
        .agg(F.count(F.lit(1)).alias("n_head"), F.max("uh").alias("kth_min"))
    )
    exact = (
        ev.distinct()
        .select(
            F.explode(
                F.sequence(F.col("day"), F.col("day") + (window_days - 1))
            ).alias("as_of_day"),
            "uid",
        )
        .crossJoin(F.broadcast(bounds))
        .where(F.col("as_of_day") <= F.col("max_day"))
        .groupBy("as_of_day")
        .agg(F.count_distinct("uid").alias("exact_rolling_distinct"))
    )
    est = F.when(
        F.col("n_head") < k, F.col("n_head").cast("double")
    ).otherwise(
        F.lit(float((k - 1) * 2**HASH_BITS)) / F.col("kth_min").cast("double")
    )
    return (
        exact.join(merged, "as_of_day")
        .withColumn("kmv_estimate", est)
        .select(
            "as_of_day",
            "exact_rolling_distinct",
            F.lit(int(k)).alias("k"),
            "kmv_estimate",
            (
                F.abs(
                    F.col("kmv_estimate")
                    - F.col("exact_rolling_distinct").cast("double")
                )
                / F.col("exact_rolling_distinct").cast("double")
            ).alias("rel_error"),
        )
    )


#: p sized so the fixture's per-day cardinality (~130 distinct users)
#: sits ABOVE the 2.5·m linear-counting threshold (2.5·32 = 80): the
#: raw estimator is in its valid regime and the measured error is a
#: real accuracy number (~7% mean at sf0.01, inside the 1.04/sqrt(m)
#: theory band) rather than the correction-regime bias it would show
#: at m=256. Production at real cardinalities raises p.
HLL_P = 5
HLL_M = 1 << HLL_P
HLL_W = HASH_BITS - HLL_P  # rank window: remaining 43 hash bits



def hll_register_rows(
    frame: DataFrame, key: str = "day", value: str = "uid", p: int = HLL_P
) -> DataFrame:
    """(key, value) observations → (key, reg, rank) HLL register rows —
    THE pinned register definition every HLL surface (the batch report,
    the streaming partial store, their tests) expands through: register
    = low ``p`` bits of the 48-bit sha256-prefix hash, rank = leading
    zeros of the remaining ``48-p`` bits + 1 via binary-string length
    (integer-exact; never floor(log2))."""
    w_bits = HASH_BITS - p
    m = 1 << p
    return (
        frame.select(F.col(key).alias("day"), _hash48(F.col(value)).alias("uh"))
        .select(
            "day",
            F.col("uh").bitwiseAND(F.lit(m - 1)).alias("reg"),
            F.shiftright("uh", p).alias("w"),
        )
        .select(
            "day",
            "reg",
            F.when(F.col("w") == 0, F.lit(w_bits + 1))
            .otherwise(F.lit(w_bits + 1) - F.length(F.bin("w")))
            .cast("int")
            .alias("rank"),
        )
    )


def hll_distinct_report(
    spark: SparkSession, sf_dir: str, p: int = HLL_P
) -> DataFrame:
    """Per-day HyperLogLog distinct-user estimate vs the exact count,
    with the measured relative error (oracle ✔) — the industry-standard
    distinct sketch beside the repo's KMV form: registers are mergeable
    by MAX (idempotent, replay-safe for free), fixed 2^p·6-bit state vs
    KMV's k hashes, and union = register-wise max.

    Register math is integer-exact cross-engine: register = low ``p``
    bits of the 48-bit sha256-prefix hash, rank = leading zeros of the
    remaining ``W = 48-p`` bits + 1 computed as ``W - length(bin(w)) + 1``
    (binary-string length, never floor(log2) — a float log at an exact
    power of two is an off-by-one coin flip). The harmonic denominator
    is deterministic in DOUBLE no matter the add order: every term is
    a power of two in [2^-41, 1] and the running sum spans < 53
    mantissa bits, so each partial sum is exactly representable.

    The raw (uncorrected) estimator is reported deliberately: the
    small-range linear-counting correction needs ln(), and this repo's
    oracle contract avoids cross-engine libm ulp coin flips (same
    reasoning as cooccurrence_lift's rational lift instead of PMI).
    ``zero_registers`` is emitted so a consumer CAN apply
    m·ln(m/V) downstream; ``HLL_P`` is sized so the fixture exercises
    the raw estimator in its VALID regime (see the constant's note) and
    rel_error is a genuine accuracy measurement.

    Scale posture (100 TB): one hash agg to (day, register) maxima
    (map-side partial max), one day-grain agg — state is 2^p rows per
    day regardless of cardinality; the exact side exists only for the
    error column and drops at production scale.
    """
    m = 1 << p
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("ts div 1000000000 div 86400").alias("day"),
        F.col("user_id").cast("string").alias("uid"),
    )
    per_reg = (
        hll_register_rows(ev, key="day", value="uid", p=p)
        .groupBy("day", "reg")
        .agg(F.max("rank").alias("m_rank"))
    )
    # alpha_m from the canonical formula, as the same literal-arithmetic
    # expression the oracle uses (IEEE ops -> identical double)
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(float(m)))
    per_day = per_reg.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("registers_hit"),
        F.sum(
            F.lit(1.0) / F.expr("cast(shiftleft(1L, m_rank) as double)")
        ).alias("inv_sum_hit"),
    )
    exact = ev.groupBy("day").agg(
        F.count_distinct(F.col("uid")).alias("exact_distinct")
    )
    est = (
        alpha
        * F.lit(float(m))
        * F.lit(float(m))
        / (F.col("inv_sum_hit") + (F.lit(float(m)) - F.col("registers_hit")))
    )
    return (
        per_day.join(exact, "day")
        .select(
            "day",
            "exact_distinct",
            "registers_hit",
            (F.lit(m) - F.col("registers_hit")).cast("long").alias("zero_registers"),
            est.alias("hll_estimate"),
            (
                F.abs(est - F.col("exact_distinct").cast("double"))
                / F.col("exact_distinct").cast("double")
            ).alias("rel_error"),
        )
    )


def hll_union_report(spark: SparkSession, sf_dir: str, p: int = HLL_P) -> DataFrame:
    """Corpus vocabulary from MERGED per-source HLL sketches vs exact
    (oracle ✔) — sketch ALGEBRA as a query: each source stores one
    register set over its distinct token trigrams (the mergeable state
    a federated ingest keeps per feed), and the corpus-wide distinct
    vocabulary is answered by register-wise MAX across sources — never
    by rescanning or re-shuffling the gram streams. One output row per
    source plus the ``__corpus__`` union row; because sources SHARE
    grams (the span-dedup families measure exactly that), the union is
    visibly less than the per-source sum — the sketch sees through
    cross-source duplication.

    The first pick for this report (weekly user unions) measured
    nicely but was DEGENERATE on the fixture: 150 total users saturate
    every weekly union to the same register set. Gram vocabularies per
    source (~1.3k) and their corpus union (~20k) vary for real and sit
    far above the 2.5·m linear-counting threshold.

    Merge losslessness: max is associative, so the union registers are
    provably identical to hashing the whole corpus directly — pinned by
    tests/test_sketch.py::test_hll_union_merge_losslessness.

    Scale posture: per-source state is <= 2^p rows regardless of
    volume; the union re-agg touches <= 2^p · sources rows; the exact
    side exists only for the error column.
    """
    m = 1 << p
    from via_spark.functions.text import tokens  # the pinned tokenizer

    d = load_table(spark, sf_dir, "documents")
    # docs under 3 tokens carry no trigrams (same out-of-grain rule as
    # shingled_documents); tokens() is used instead of an inline regex
    # literal — a '\\s+' embedded in F.expr costs one escaping level in
    # the SQL parser and silently becomes the regex 's+'
    t = d.select("source", tokens(F.col("text")).alias("toks")).where(
        F.size("toks") >= 3
    )
    grams = t.select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 2),"
                " i -> concat_ws(' ', slice(toks, i, 3)))"
            )
        ).alias("gram"),
    )
    per_src_regs = (
        hll_register_rows(grams, key="source", value="gram", p=p)
        .withColumnRenamed("day", "scope")
        .groupBy("scope", "reg")
        .agg(F.max("rank").alias("m_rank"))
    )
    union_regs = per_src_regs.groupBy("reg").agg(
        F.max("m_rank").alias("m_rank")
    ).select(F.lit("__corpus__").alias("scope"), "reg", "m_rank")
    all_regs = per_src_regs.unionByName(union_regs)
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(float(m)))
    per_scope = all_regs.groupBy("scope").agg(
        F.count(F.lit(1)).cast("long").alias("registers_hit"),
        F.sum(
            F.lit(1.0) / F.expr("cast(shiftleft(1L, m_rank) as double)")
        ).alias("inv_sum_hit"),
    )
    ex_src = grams.groupBy("source").agg(
        F.count_distinct("gram").alias("exact_distinct")
    ).select(F.col("source").alias("scope"), "exact_distinct")
    ex_union = grams.agg(
        F.count_distinct("gram").alias("exact_distinct")
    ).select(F.lit("__corpus__").alias("scope"), "exact_distinct")
    exact = ex_src.unionByName(ex_union)
    est = (
        alpha
        * F.lit(float(m))
        * F.lit(float(m))
        / (F.col("inv_sum_hit") + (F.lit(float(m)) - F.col("registers_hit")))
    )
    return (
        per_scope.join(exact, "scope")
        .select(
            "scope",
            "exact_distinct",
            "registers_hit",
            est.alias("hll_estimate"),
            (
                F.abs(est - F.col("exact_distinct").cast("double"))
                / F.col("exact_distinct").cast("double")
            ).alias("rel_error"),
        )
    )
