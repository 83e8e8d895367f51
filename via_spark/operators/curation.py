"""Training-data curation operators (beyond-reference, M6 family).

The four knobs every large-scale LLM data pipeline turns between raw
corpus and training mix, each as a declarative oracle-checked query:

* ``stratified_sample`` — deterministic per-stratum downsampling
  (domain mixing): keep a row iff a cross-engine-stable content hash
  falls under the stratum's rate cutoff. No RNG — the sample is a pure
  function of the data, so reruns, retries and the DuckDB oracle all
  agree exactly. Hex-string comparison keeps it engine-portable
  (both engines emit lowercase-hex sha256).
* ``quality_deciles`` — corpus-wide quality binning: global rank of the
  fixed-point quality score (``rank.global_row_number`` — no
  single-partition funnel) → decile = ((rank-1)·10) div n + 1, exact
  integer arithmetic.
* ``benchmark_contamination`` — decontamination: which corpus docs
  share shingles with a benchmark set (here: the deterministic pseudo
  benchmark doc_id < 10). The join key is the 64-bit shingle hash, not
  the shingle text — at 100 TB you join on 8 bytes, not n-grams; hash
  collisions only over-flag, never under-flag, the right direction for
  decontamination.
* ``pii_scrub_documents`` — PII masking (emails, IPv4) with per-doc
  mask counts. The fixture corpus is PII-free, so the query plants one
  deterministic email + IP per row first — every row exercises the
  scrubber, and the oracle plants identically.

Scale posture: sampling and scrubbing are stateless per-row projections
(whole-stage codegen, no shuffle); deciles shuffle (doc_id, score)
pairs only; contamination shuffles (hash, id) pairs with the benchmark
side small enough to broadcast in a real deployment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from via_spark.operators import textstats
from via_spark.operators.dedup import shingled_documents
from via_spark.operators.rank import global_row_number
from via_spark.session import load_table

# domain-mixing rates per event_type stratum (pinned; oracle mirrors)
SAMPLE_RATES: dict[str, float] = {
    "view": 0.01,
    "click": 0.05,
    "signup": 0.5,
    "purchase": 0.5,
    "error": 1.0,
}

BENCH_MAX_ID = 10

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def hex_cutoff(rate: float) -> str:
    """Rate → 16-hex cutoff: keep iff sha256-prefix < cutoff. A rate
    ≥ 1.0 returns 'g', which every hex string sorts below."""
    if rate >= 1.0:
        return "g"
    return format(int(rate * 16**16), "016x")


def stratified_sample(
    spark: SparkSession, sf_dir: str, rates: dict[str, float] | None = None
) -> DataFrame:
    """Deterministic stratified sample of events by event_type."""
    rates = rates or SAMPLE_RATES
    ev = load_table(spark, sf_dir, "events")
    h = F.substring(F.sha2(F.col("event_id").cast("string"), 256), 1, 16)
    cutoff = F.lit("0" * 16)  # unknown stratum → rate 0 (pinned)
    for etype, rate in sorted(rates.items()):
        cutoff = F.when(F.col("event_type") == etype, F.lit(hex_cutoff(rate))).otherwise(cutoff)
    return ev.where(h < cutoff).select("event_id", "event_type", "user_id", "value")


def quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, quality_fix, decile): corpus-wide quality bins, decile 1
    = best. Exact global ranking via range-partitioned row numbers."""
    q = textstats.doc_quality_scores(spark, sf_dir).select("doc_id", "quality_fix")
    # total=n rides along from the rank's own per-partition counts, so
    # the quality-score subplan is evaluated once, not once per branch
    ranked = global_row_number(
        q, [F.col("quality_fix").desc(), F.col("doc_id").asc()], "rank", total="n"
    )
    return ranked.select(
        "doc_id",
        "quality_fix",
        (F.expr("((rank - 1) * 10) div n").cast("int") + 1).alias("decile"),
    )


def benchmark_contamination(
    spark: SparkSession, sf_dir: str, bench_max_id: int = BENCH_MAX_ID
) -> DataFrame:
    """For each contaminated corpus doc: its most-overlapping benchmark
    doc and the shared distinct-shingle count (ties → smallest bench id).
    """
    sh = shingled_documents(spark, sf_dir)
    hashed = sh.select(
        "doc_id",
        F.explode(
            F.transform(F.col("sh"), lambda s: F.substring(F.sha2(s, 256), 1, 16))
        ).alias("h"),
    ).distinct()
    bench = hashed.where(F.col("doc_id") < bench_max_id).select(
        F.col("doc_id").alias("bench_id"), "h"
    )
    corpus = hashed.where(F.col("doc_id") >= bench_max_id)
    overlap = (
        corpus.join(bench, "h")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("shared_shingles").desc(), F.col("bench_id").asc()
    )
    return (
        overlap.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("doc_id", "bench_id", "shared_shingles")
    )


def pii_scrub_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plant one deterministic email + IPv4 per document, then mask
    both PII classes and count the masks (emails first, so the planted
    domain's dots can't be half-eaten by the IP pass)."""
    d = load_table(spark, sf_dir, "documents")
    salted = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"), F.lit(".7"),
    )
    t = d.select("doc_id", salted.alias("salted"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("salted"), EMAIL_RE, "[EMAIL]"), IPV4_RE, "[IP]"
    )
    return t.select(
        "doc_id",
        F.regexp_count(F.col("salted"), F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("salted"), F.lit(IPV4_RE)).cast("long").alias("n_ips"),
        scrubbed.alias("scrubbed"),
    )


def _delete_keys(name):
    """SymSpell distance-1 key set: the string itself + every
    single-character deletion. Two strings within edit distance 1 are
    GUARANTEED to share a key (identity covers insert/delete pairs,
    same-position deletes cover substitutions); distance-2 collisions
    (e.g. transpositions) are removed by the exact levenshtein verify."""
    idx = F.sequence(F.lit(0), F.length(name) - 1)
    deletes = F.transform(
        idx,
        lambda i: F.concat(
            name.substr(F.lit(1), i), name.substr(i + 2, F.length(name))
        ),
    )
    return F.array_union(F.array(name), deletes)


def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: customer-name pairs within edit distance 1,
    via the SymSpell deletion-key equi-join — never all-pairs. The key
    join is complete for distance ≤ 1; candidates are verified with the
    exact levenshtein both engines implement identically.

    Scale: keys per name = O(len); candidates come from an equi-join on
    the key (AQE-skew-splittable); verify touches candidate pairs only —
    the same candidates-then-verify shape as the dedup family, applied
    to entity strings instead of documents."""
    from via_spark.session import spread

    # spread: the delete-key explode + xxhash projection is the heavy
    # map stage (O(len) keys per name) — gated widen off a single-split
    # fixture scan, no-op on a parallel cluster scan
    c = spread(load_table(spark, sf_dir, "customer")).select(
        "c_custkey", F.lower(F.col("c_name")).alias("name")
    )
    # candidate generation shuffles (id, 8-byte key hash) ONLY — the
    # name payload attaches AFTER pair-dedup, so the widest shuffle
    # carries 16 bytes/row instead of strings. A hash collision can
    # only ADD a candidate, which the exact levenshtein verify kills.
    # Alias self-join over ONE keyed frame (r14): two differently-
    # renamed projections planned two independent Exchanges, each
    # re-running the key derivation; the literal-same plan on both
    # sides dedups them into one Exchange + ReusedExchange (guide §2.4).
    keyed = c.select(
        "c_custkey",
        F.explode(
            F.transform(_delete_keys(F.col("name")), lambda k: F.xxhash64(k))
        ).alias("kh"),
    )
    cand = (
        keyed.alias("a")
        .join(keyed.alias("b"), F.col("a.kh") == F.col("b.kh"))
        .where(F.col("a.c_custkey") < F.col("b.c_custkey"))
        .select(
            F.col("a.c_custkey").alias("key_a"),
            F.col("b.c_custkey").alias("key_b"),
        )
        .dropDuplicates(["key_a", "key_b"])
    )
    named = (
        cand.join(
            c.select(F.col("c_custkey").alias("key_a"), F.col("name").alias("name_a")),
            "key_a",
        )
        .join(
            c.select(F.col("c_custkey").alias("key_b"), F.col("name").alias("name_b")),
            "key_b",
        )
    )
    return (
        named.withColumn("dist", F.levenshtein("name_a", "name_b"))
        .where(F.col("dist") <= 1)
        .select("key_a", "key_b", "name_a", "name_b", "dist")
    )


def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data prep funnel as ONE declarative query:
    documents → keep the canonical doc of each near-dup cluster →
    keep quality deciles 1-8 → deterministic 50% hash sample →
    emit (doc_id, lang, decile, n_tokens). Every stage is an
    already-oracle-checked operator; the funnel proves they compose
    into the pipeline a real corpus build runs, with Catalyst free to
    fuse the filters into the shared scans."""
    from via_spark.operators.graph import dedup_clusters

    clusters = dedup_clusters(spark, sf_dir).where(
        F.col("doc_id") == F.col("cluster_rep")
    )
    deciles = quality_deciles(spark, sf_dir).where(F.col("decile") <= 8)
    toks = textstats.token_count_documents(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    kept = (
        d.join(clusters.select("doc_id"), "doc_id")
        .join(deciles.select("doc_id", "decile"), "doc_id")
        .join(toks.select("doc_id", "n_ws_tokens"), "doc_id")
    )
    h = F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 16)
    return kept.where(h < F.lit(hex_cutoff(0.5))).select(
        "doc_id", "lang", "decile", F.col("n_ws_tokens").alias("n_tokens")
    )


def source_mix_allocation(
    spark: SparkSession, sf_dir: str, budget_fraction: float = 1.0
) -> DataFrame:
    """Curation planning: per-source corpus share and the deterministic
    downsampling rate that rebalances the mix toward uniform — the
    'how much of each source do we keep' table computed before a
    stratified_sample pass executes it.

    rate = min(1, target_share / share) with target_share = 1/n_sources;
    planned_docs = floor(n_docs · rate). All ratios derive from exact
    BIGINT counts with an identical operation order in Spark and the
    oracle, so the doubles are bit-equal.

    Scale posture: one hash agg keyed by source, then a 1-row broadcast
    of (total, n_sources) — no second pass over the corpus.
    """
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = per.agg(
        F.sum("n_docs").alias("total"), F.count(F.lit(1)).alias("n_sources")
    )
    share = F.col("n_docs").cast("double") / F.col("total").cast("double")
    rate = F.least(
        F.lit(1.0),
        F.lit(budget_fraction)
        * (F.lit(1.0) / F.col("n_sources").cast("double"))
        / F.col("share"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .withColumn("share", share)
        .withColumn("sampling_rate", rate)
        .withColumn(
            "planned_docs",
            F.floor(F.col("n_docs").cast("double") * F.col("sampling_rate")).cast("long"),
        )
        .select("source", "n_docs", "share", "sampling_rate", "planned_docs")
    )


def source_rebalanced_sample(
    spark: SparkSession, sf_dir: str, budget_fraction: float = 0.5
) -> DataFrame:
    """EXECUTE the source-mix plan: deterministically downsample each
    source at the rate ``source_mix_allocation`` computed, by keeping a
    document iff its sha256 fraction falls under the rate — the
    planning table and the sampling pass as one composed, reproducible
    query (re-running it on the same corpus keeps the same documents).

    The cutoff is derived IN-QUERY from the data-dependent rate:
    ``lpad(hex(floor(rate·16^12)))`` compared against the id hash's
    12-hex prefix — integer/string ops with identical semantics in both
    engines (a rate ≥ 1 keeps everything explicitly: its cutoff would
    need 13 hex digits and lpad would truncate it).

    Scale posture: the rates table is sources-sized and broadcast; the
    keep predicate is per-row hashing — one scan, no second pass.
    """
    rates = source_mix_allocation(spark, sf_dir, budget_fraction).select(
        "source", "sampling_rate"
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    h12 = F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 12)
    cutoff = F.lpad(
        F.lower(F.hex(F.floor(F.col("sampling_rate") * F.lit(float(16**12))).cast("long"))),
        12,
        "0",
    )
    keep = (F.col("sampling_rate") >= 1.0) | (h12 < cutoff)
    return (
        d.join(F.broadcast(rates), "source")
        .where(keep)
        .select("doc_id", "source", "sampling_rate")
    )


def per_source_cap_sample(
    spark: SparkSession, sf_dir: str, cap: int = 50
) -> DataFrame:
    """Domain cap: keep at most ``cap`` documents per source, chosen by
    the deterministic sha256 shuffle order (so the survivors are a
    reproducible pseudorandom sample, not a length- or id-biased one) —
    the standard guard against one domain dominating a crawl mix.

    Scale posture: one window partitioned by source with a rank
    predicate Spark executes as WindowGroupLimit — only ``cap`` rows
    per source survive the shuffle, so output (and downstream cost) is
    bounded by |sources|·cap regardless of corpus size.
    """
    d = load_table(spark, sf_dir, "documents")
    key = F.sha2(F.concat(F.lit("cap:"), F.col("doc_id").cast("string")), 256)
    w = Window.partitionBy("source").orderBy(key.asc(), F.col("doc_id").asc())
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= cap)
        .select("doc_id", "source", F.col("rk").cast("long").alias("sample_rank"))
    )


def leakage_safe_split(
    spark: SparkSession, sf_dir: str, test_rate: float = 0.2
) -> DataFrame:
    """Near-dup-aware train/test split: the split decision hashes the
    doc's dedup CLUSTER representative, so every member of a near-dup
    cluster lands on the SAME side — the guard against test-set
    leakage through near-duplicates that a plain per-doc hash split
    cannot give (the public Lee et al. "Deduplicating Training Data"
    motivation).

    Scale posture: one equi-join of docs against the persisted cluster
    label table (store.cluster_labels in production); the split is the
    usual deterministic sha256 cutoff on the representative id.
    """
    from via_spark.operators.graph import dedup_clusters

    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_rep")
    h = F.substring(F.sha2(F.col("cluster_rep").cast("string"), 256), 1, 16)
    return clusters.select(
        "doc_id",
        "cluster_rep",
        F.when(h < F.lit(hex_cutoff(test_rate)), F.lit("test"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


SPAN_N = 8
SPAN_MIN_DOCS = 3


def repeated_span_scrub(
    spark: SparkSession, sf_dir: str, n: int = SPAN_N,
    min_docs: int = SPAN_MIN_DOCS,
) -> DataFrame:
    """Boilerplate SPAN removal (the RefinedWeb/Gopher line-dedup step
    adapted to token streams): delete every token covered by some
    n-gram that occurs in >= ``min_docs`` DISTINCT documents, then
    reassemble each document from its surviving tokens in order.
    Headers, footers, license blurbs, and navigation chrome repeat
    verbatim across pages; span-level removal scrubs them from
    otherwise-unique documents that whole-document dedup keeps.

    Output per document (ALL documents, scrubbed or not): token count,
    tokens removed, and the scrubbed text ('' when everything was
    boilerplate).

    Scale posture: grams are xxhash64'd before any shuffle (the text
    payload never moves; same collision posture as dup_ngram_stats —
    negligible below ~10^12 distinct grams, and the oracle groups raw
    gram strings so a collision would surface as a value mismatch).
    Cross-document visibility is one hash agg on the gram hash; the
    hot-gram set joins back by equi-join on that hash (AQE-splittable,
    never a document self-join); coverage union and reassembly are
    per-document local, bounded by document length.
    """
    from via_spark.functions.text import tokens
    from via_spark.session import spread

    # spread() widens the narrow single-split fixture scan before the
    # explode-heavy branches (gated: an already-parallel cluster scan
    # passes through with no Exchange)
    d = spread(load_table(spark, sf_dir, "documents"))
    base = d.select("doc_id", tokens(F.col("text")).alias("toks")).withColumn(
        "n_tokens", F.size("toks")
    )
    # 1-based gram positions to mirror SQL list indexing exactly; only
    # the gram (hash, position) rows ever shuffle — tokens stay inside
    # their document array end to end
    grams = (
        base.where(F.col("n_tokens") >= n)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {n - 1}),"
                    f" i -> struct(i AS pos,"
                    f" xxhash64(concat_ws(' ', slice(toks, i, {n}))) AS gh))"
                )
            ).alias("s"),
        )
        .select("doc_id", "s.pos", "s.gh")
    )
    hot = (
        grams.select("doc_id", "gh")
        .distinct()
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("gh")
    )
    # per-doc covered-position SET (span union), one array per doc —
    # reassembly then filters the token array in place (indexed
    # lambda), no token explode, no per-position anti-join
    cov = (
        grams.join(hot, "gh")
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(pos, pos + {n - 1})")).alias("pos"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("cov"))
    )
    kept = F.filter(
        F.col("toks"), lambda x, i: ~F.array_contains(F.col("cov"), i + F.lit(1))
    )
    return (
        base.join(cov, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce(F.size("cov"), F.lit(0)).cast("long").alias("n_removed"),
            F.when(F.col("cov").isNull(), F.concat_ws(" ", F.col("toks")))
            .otherwise(F.concat_ws(" ", kept))
            .alias("scrubbed_text"),
        )
    )


MIXTURE_BUDGET_DOCS = 100_000


def temperature_mixture_weights(
    spark: SparkSession, sf_dir: str, budget_docs: int = MIXTURE_BUDGET_DOCS
) -> DataFrame:
    """Temperature-scaled source sampling weights (the multilingual
    standard, XLM-R/mT5 family, at tau = 0.5): w_i ∝ n_i^0.5 — between
    proportional sampling (tau = 1, big sources dominate) and uniform
    (tau = 0, small sources oversampled into repetition). Emits each
    source's corpus share, its temperature weight, and its planned doc
    count under ``budget_docs``.

    Exactness: tau is pinned to 0.5 BECAUSE sqrt is correctly rounded
    under IEEE 754 while pow is not — sqrt(n) is the identical double
    in any engine. Each weight becomes fixed-point
    floor(1e9·sqrt(n_docs)) so the normalizing denominator is an exact
    BIGINT sum (order-independent); the emitted weight is one pinned
    double division and planned_docs is pure integer arithmetic
    (budget·w_fix div denom).

    Scale posture: one hash agg keyed by source, then a 1-row broadcast
    of the denominator — no second pass over the corpus (same shape as
    source_mix_allocation).
    """
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w_fix = F.floor(
        F.sqrt(F.col("n_docs").cast("double")) * F.lit(1_000_000_000.0)
    ).cast("long")
    wtab = per.withColumn("w_fix", w_fix)
    tot = wtab.agg(
        F.sum("n_docs").alias("total_docs"), F.sum("w_fix").alias("denom")
    )
    return (
        wtab.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            (F.col("n_docs").cast("double") / F.col("total_docs").cast("double"))
            .alias("share"),
            "w_fix",
            (F.col("w_fix").cast("double") / F.col("denom").cast("double"))
            .alias("temp_weight"),
            # 64-bit integer div end to end: budget·w_fix ≈ 1e5·2e12 ≈
            # 2e17 < 2^63, but far beyond double's 2^53 exact range —
            # float division here would corrupt the last digits
            F.expr(f"CAST(({int(budget_docs)}L * w_fix) div denom AS BIGINT)")
            .alias("planned_docs"),
        )
    )


WEIGHTED_SAMPLE_K = 100  # pinned sample size (oracle mirrors)
# priority scale: h(40-bit) * 2^20 < 2^60 — safe BIGINT headroom
_WSAMPLE_SCALE = 1 << 20


def weighted_doc_sample(
    spark: SparkSession, sf_dir: str, k: int = WEIGHTED_SAMPLE_K
) -> DataFrame:
    """Deterministic weight-proportional document sample: the top-k
    docs by hash-clock priority, weight = document length — the
    "sample k docs, long docs proportionally more likely" primitive a
    curation pipeline uses for eval-set carving and costed human
    review. This is the integer-rational form of the
    Efraimidis–Spirakis weighted-reservoir scheme (priority ∝
    clock/weight, smallest k win); the clock is the 40-bit prefix of
    ``sha256(doc_id)``, so the sample is a pure function of the data —
    reruns, retries, and the DuckDB oracle all select the identical
    set, and adding new docs never reshuffles the priorities of
    existing ones (the stability property reservoir schemes exist for).

    Exactness: priority = ``(h·2^20) div weight`` — 64-bit integer
    arithmetic end to end (h < 2^40, scaled < 2^60), ties broken by
    doc_id; no double ever enters the ordering.

    Scale posture: stateless per-row projection (whole-stage codegen)
    into a global top-k, which plans as ``TakeOrderedAndProject`` —
    per-partition heaps of k rows, no global sort, no single-partition
    funnel. One pass, no shuffle beyond the k-row partial results.
    """
    d = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 10), 16, 10
    ).cast("long")
    return (
        d.select(
            "doc_id",
            "source",
            "n_chars",
            h.alias("h"),
            F.greatest(F.col("n_chars"), F.lit(1)).cast("long").alias("w"),
        )
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.expr(f"CAST((h * {_WSAMPLE_SCALE}L) div w AS BIGINT)").alias(
                "priority"
            ),
        )
        .orderBy("priority", "doc_id")
        .limit(int(k))
    )


DATA_BUDGET_MULT = 2  # token budget = 2x the corpus (the data-constrained case)
REPEAT_CAP_MILLI = 4_000  # at most 4 epochs per source (milli-epoch fixed point)


def source_repeat_factors(
    spark: SparkSession,
    sf_dir: str,
    budget_mult: int = DATA_BUDGET_MULT,
    repeat_cap_milli: int = REPEAT_CAP_MILLI,
) -> DataFrame:
    """Data-constrained epoch planning: when the training budget EXCEEDS
    the corpus (here: pinned at ``budget_mult`` = 2x total tokens), how
    many epochs each source repeats for — the published data-constrained
    scaling recipe (Muennighoff et al. 2023: repeat up to ~4 epochs,
    beyond which marginal value decays) composed with the tau=0.5
    temperature mix of :func:`temperature_mixture_weights`. Emits per
    source: available tokens, its milli-share of the target mix, the
    target token count, the repeat factor in milli-epochs (capped), the
    effective tokens actually deliverable, and the deficit the cap
    leaves unfilled — the number a pipeline operator reads to decide
    where new data acquisition pays off.

    Exactness: sqrt-damped weights ride the same correctly-rounded-sqrt
    fixed point as the mixture op; everything after is 64-bit integer
    arithmetic in a pinned evaluation order — shares at milli precision
    (``w_fix·1000 div denom``), target = ``budget·share_milli div
    1000``, repeat = ``target·1000 div n_tokens`` capped. Headroom:
    ``budget·share_milli`` stays under 2^63 below ~9e15 corpus tokens
    (petabytes of text), far past the 100 TB design point.

    Scale posture: one hash agg keyed by source over per-row token
    counts (map-side partials), then a 1-row broadcast of the corpus
    totals — the token counting is the only corpus-wide pass.
    """
    from via_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    per = (
        d.select("source", F.size(tokens(F.col("text"))).cast("long").alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").alias("n_tokens"))
        .withColumn(
            "w_fix",
            F.floor(
                F.sqrt(F.col("n_tokens").cast("double")) * F.lit(1_000_000_000.0)
            ).cast("long"),
        )
    )
    tot = per.agg(
        F.sum("n_tokens").alias("total_tokens"), F.sum("w_fix").alias("denom")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .withColumn("share_milli", F.expr("CAST((w_fix * 1000L) div denom AS BIGINT)"))
        .withColumn("budget", F.expr(f"{int(budget_mult)}L * total_tokens"))
        .withColumn(
            "target_tokens", F.expr("CAST((budget * share_milli) div 1000 AS BIGINT)")
        )
        .withColumn(
            "repeat_milli",
            F.expr(
                f"least({int(repeat_cap_milli)}L,"
                " CAST((target_tokens * 1000L) div n_tokens AS BIGINT))"
            ),
        )
        .withColumn(
            "effective_tokens",
            F.expr("CAST((n_tokens * repeat_milli) div 1000 AS BIGINT)"),
        )
        .withColumn(
            "deficit_tokens", F.expr("greatest(0L, target_tokens - effective_tokens)")
        )
        .select(
            "source",
            "n_tokens",
            "share_milli",
            "target_tokens",
            "repeat_milli",
            "effective_tokens",
            "deficit_tokens",
        )
    )


def neardup_quality_confound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-before-filter diagnostic: per quality decile, how much
    near-duplicate mass sits there — boilerplate families often score
    WELL on surface quality signals, so filtering before dedup keeps N
    copies of the same "good" text while a dedup-first pipeline keeps
    one. Emits per decile: doc count, near-dup cluster members
    (cluster_size > 1), the docs a canonical dedup pass would actually
    drop (non-representatives), and both as shares — the table a
    pipeline owner reads to decide stage order.

    Exactness: counts are exact integers off the materialized cluster
    labels and the exact global decile ranking; each share is ONE
    correctly-rounded division of those integers — engine-identical.

    Scale posture: one doc_id equi-join between two corpus-keyed
    tables (the flat label parquet and the decile ranking — both
    already computed once and store-served/rank-partitioned), then a
    10-key hash agg. No new corpus pass, no window.
    """
    from via_spark.operators.graph import dedup_clusters

    dec = quality_deciles(spark, sf_dir).select("doc_id", "decile")
    cl = dedup_clusters(spark, sf_dir)
    dup = F.sum(F.when(F.col("cluster_size") > 1, 1).otherwise(0))
    drop = F.sum(F.when(F.col("doc_id") != F.col("cluster_rep"), 1).otherwise(0))
    return (
        dec.join(cl, "doc_id")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            dup.alias("n_dup_members"),
            drop.alias("n_would_drop"),
        )
        .select(
            "decile",
            "n_docs",
            "n_dup_members",
            "n_would_drop",
            (F.col("n_dup_members").cast("double") / F.col("n_docs").cast("double"))
            .alias("dup_share"),
            (F.col("n_would_drop").cast("double") / F.col("n_docs").cast("double"))
            .alias("drop_share"),
        )
    )


PER_SOURCE_SAMPLE_K = 10  # pinned per-group sample size (oracle mirrors)


def weighted_sample_per_source(
    spark: SparkSession, sf_dir: str, k: int = PER_SOURCE_SAMPLE_K
) -> DataFrame:
    """Per-source deterministic weighted sample: within every source,
    the k docs with smallest hash-clock priority (same integer-rational
    Efraimidis–Spirakis scheme as :func:`weighted_doc_sample`, weight =
    length) — the per-domain carve a curation pipeline uses when the
    review budget is allocated per source rather than globally. Same
    stability property: priorities never change as the corpus grows.

    Scale posture: per-group top-k rides ``row_number`` over
    (source, priority) which Spark plans as ``WindowGroupLimit`` — a
    k-row heap per source pushed below the rank shuffle, never a full
    per-source sort materialization.
    """
    d = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 10), 16, 10
    ).cast("long")
    pri = d.select(
        "doc_id",
        "source",
        "n_chars",
        h.alias("h"),
        F.greatest(F.col("n_chars"), F.lit(1)).cast("long").alias("w"),
    ).select(
        "doc_id",
        "source",
        "n_chars",
        F.expr(f"CAST((h * {_WSAMPLE_SCALE}L) div w AS BIGINT)").alias("priority"),
    )
    win = Window.partitionBy("source").orderBy(
        F.col("priority").asc(), F.col("doc_id").asc()
    )
    return (
        pri.withColumn("_rn", F.row_number().over(win))
        .where(F.col("_rn") <= int(k))
        .select("doc_id", "source", "n_chars", "priority")
    )


SPAN_AUDIT_K = 50  # pinned audit size (oracle mirrors)


def boilerplate_span_audit(
    spark: SparkSession,
    sf_dir: str,
    n: int = SPAN_N,
    min_docs: int = SPAN_MIN_DOCS,
    k: int = SPAN_AUDIT_K,
) -> DataFrame:
    """What :func:`repeated_span_scrub` would actually remove: the
    top-k hot n-grams by distinct-document spread, with total
    occurrence counts — the audit a pipeline owner reads BEFORE
    enabling span scrubbing (is the 'boilerplate' navigation chrome,
    or load-bearing common phrases?). Same n/min_docs as the scrub, so
    the table describes the scrub's exact removal set.

    Scale posture: distinct-doc and occurrence counts shuffle only
    (16-hex sha key, doc_id) pairs — gram STRINGS join back for
    display on the hot keys alone (a min_docs-filtered, k-capped set);
    final cut is a TakeOrderedAndProject heap. Keying by sha256 (not
    xxhash64) keeps the audit value-exact against the oracle;
    collisions would only merge two display rows, and the oracle
    would catch that as a mismatch.
    """
    from via_spark.functions.text import tokens as _tokens
    from via_spark.session import nopush, spread

    d = spread(load_table(spark, sf_dir, "documents"))
    grams = (
        d.select("doc_id", _tokens(F.col("text")).alias("toks"))
        # nopush: keep the tokenize out of the single-task scan stage
        .where(nopush(F.size("toks") >= n))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {n - 1}),"
                    f" i -> concat_ws(' ', slice(toks, i, {n})))"
                )
            ).alias("gram"),
        )
        .withColumn("key", F.substring(F.sha2(F.col("gram"), 256), 1, 16))
    )
    stats = grams.groupBy("key").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occurrences"),
    ).where(F.col("n_docs") >= min_docs)
    display = grams.select("key", "gram").groupBy("key").agg(
        F.min("gram").alias("gram")
    )
    return (
        stats.join(display, "key")
        .select("gram", "n_docs", "n_occurrences")
        .orderBy(F.col("n_docs").desc(), F.col("gram").asc())
        .limit(int(k))
    )


def length_quality_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diagnostic cross-tab: document count per (length decile ×
    quality decile) cell — the one-screen answer to "are my long
    documents the good ones?" that decides whether a length filter
    silently implements a quality filter (decile 1 = longest / best).

    Exactness: both decile assignments ride the exact range-partitioned
    global ranker; cell counts are integers.

    Scale posture: two global_row_number passes (range partition +
    broadcast offsets, no corpus-wide window) joined on doc_id, then
    one hash agg onto a ≤100-row grid.
    """
    q = quality_deciles(spark, sf_dir).select(
        "doc_id", F.col("decile").alias("quality_decile")
    )
    toks = textstats.token_count_documents(spark, sf_dir).select(
        "doc_id", "n_ws_tokens"
    )
    ranked = global_row_number(
        toks,
        [F.col("n_ws_tokens").desc(), F.col("doc_id").asc()],
        "rank",
        total="n",
    )
    lengths = ranked.select(
        "doc_id",
        (F.expr("((rank - 1) * 10) div n").cast("int") + 1).alias("length_decile"),
    )
    return (
        lengths.join(q, "doc_id")
        .groupBy("length_decile", "quality_decile")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# Gopher-style per-rule bands, calibrated to the fixture corpus so every
# rule has both passing and failing documents (the published absolute
# thresholds — 50..100k words etc., Rae et al. 2021 "Scaling Language
# Models" App. A — are vacuous on the short synthetic fixture docs; the
# rule STRUCTURE is what this operator pins). All bands compare exact
# integers (ratios cross-multiplied), never floats.
GOPHER_RULES = (
    ("word_count", "n BETWEEN 30 AND 60"),
    ("mean_word_len", "chars*10 BETWEEN 40*n AND 46*n"),
    ("stopword_hits", "stop >= 2"),
    ("unique_ratio", "uniq*2 >= n"),
    ("top_token_share", "top*10 <= n"),
)


def gopher_rule_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule audit: for each document-quality rule,
    how many documents pass and fail, plus an ``all_rules`` row for the
    conjunctive filter a pipeline would actually apply. The per-rule
    breakdown is what you read BEFORE turning the filter on — it shows
    which rule does the cutting.

    Scale posture: one documents scan (spread: the per-doc signal
    expressions are the heavy map work — a single-split fixture scan
    would serialize them); the five per-doc signals are array-local
    expressions over the pinned tokenizer; the top-token count walks
    the SORTED array once (longest equal-run — O(n log n), r14; the
    r13 per-distinct-element recount was O(len²) interpreted HOF evals
    and measured 2.5× slower for identical output); the rule booleans
    explode into (rule, fail) pairs AFTER the per-doc signals collapse
    to five ints, so the shuffle carries 6 tiny rows per doc.
    """
    from via_spark.functions.text import tokens
    from via_spark.session import spread

    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", tokens(F.col("text")).alias("toks"))
    # max token frequency = longest run of equals in the sorted array;
    # empty arrays keep the r13 NULL (array_max over empty) semantics
    top = F.when(F.size("toks") == 0, F.lit(None).cast("long")).otherwise(
        F.aggregate(
            F.array_sort(F.col("toks")),
            F.struct(
                F.lit("").alias("prev"),
                F.lit(0).cast("long").alias("run"),
                F.lit(0).cast("long").alias("best"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1).cast("long"))
                .alias("run"),
                F.greatest(
                    acc["best"],
                    F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                        F.lit(1).cast("long")
                    ),
                ).alias("best"),
            ),
            lambda acc: acc["best"],
        )
    )
    sig = toks.select(
        "doc_id",
        F.size("toks").alias("n"),
        F.aggregate(
            F.col("toks"),
            F.lit(0).cast("long"),
            lambda acc, t: acc + F.length(t),
        ).alias("chars"),
        F.size(
            F.filter(
                F.col("toks"),
                lambda x: x.isin(*textstats.STOPWORDS["en"]),
            )
        ).alias("stop"),
        F.size(F.array_distinct(F.col("toks"))).alias("uniq"),
        top.alias("top"),
    )
    passes = sig.select(
        F.col("n").between(30, 60).alias("word_count"),
        (F.col("chars") * 10).between(40 * F.col("n"), 46 * F.col("n")).alias(
            "mean_word_len"
        ),
        (F.col("stop") >= 2).alias("stopword_hits"),
        (F.col("uniq") * 2 >= F.col("n")).alias("unique_ratio"),
        (F.col("top") * 10 <= F.col("n")).alias("top_token_share"),
    )
    rule_names = [r for r, _ in GOPHER_RULES]
    pairs = passes.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("rule"), F.col(r).alias("ok"))
                    for r in rule_names
                ],
                F.struct(
                    F.lit("all_rules").alias("rule"),
                    F.expr(" AND ".join(rule_names)).alias("ok"),
                ),
            )
        ).alias("p")
    )
    return pairs.groupBy(F.col("p.rule").alias("rule")).agg(
        F.sum(F.when(F.col("p.ok"), 1).otherwise(0)).cast("long").alias("n_pass"),
        F.sum(F.when(F.col("p.ok"), 0).otherwise(1)).cast("long").alias("n_fail"),
    )


def dsir_importance_weights(spark: SparkSession, sf_dir: str,
                            target_lang: str = "en",
                            n_buckets: int = 64) -> DataFrame:
    """DSIR-style hashed-n-gram importance weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    score every document by how much its hashed-unigram distribution
    looks like the target domain (here: the ``target_lang`` slice)
    versus the rest of the corpus. High-weight raw docs are the ones
    importance resampling would pull into the training mix.

    Per-token score = floor(log2( (t_b/T) / (r_b/R) )) over the token's
    hash bucket b, add-one smoothed — computed EXACTLY as
    ``bitlen(((t_b << 16) · R) div (r_b · T)) - 17`` (integer
    shift/divide; both engines lack correctly-rounded transcendental
    log — the same whole-bit quantization as unigram_surprisal_scores).
    Ratios below 2^-16 clamp to -17 (the quotient underflows to 0);
    the shift order keeps every intermediate < 2^63 up to ~1e13 corpus
    tokens — past that, widen the ONE 64-row computation to
    decimal(38,0), nothing at data grain changes.

    Scale posture: the score depends only on the bucket, so it is
    computed ONCE in the ``n_buckets``-row bucket frame (scalar totals
    attached by broadcast) — the per-token join is against a tiny
    broadcast of precomputed ints, and tokens collapse straight back
    to per-doc sums in one hash agg, same plan family as surprisal.
    """
    from via_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        (F.col("lang") == target_lang).alias("is_target"),
        F.explode(tokens(F.col("text"))).alias("t"),
    ).select(
        "doc_id",
        "is_target",
        (
            F.conv(F.substring(F.sha2(F.col("t"), 256), 1, 12), 16, 10)
            .cast("long") % n_buckets
        ).alias("b"),
    )
    buckets = tok.groupBy("b").agg(
        (F.sum(F.when(F.col("is_target"), 1).otherwise(0)) + 1).alias("t_b"),
        (F.sum(F.when(F.col("is_target"), 0).otherwise(1)) + 1).alias("r_b"),
    )
    # totals attach via an unpartitioned window over the 64-row bucket
    # frame, NOT a second agg of the same subtree (which Spark would
    # re-plan as another full documents scan)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    bucket_bits = (
        buckets.withColumn("t_tot", F.sum("t_b").over(wall))
        .withColumn("r_tot", F.sum("r_b").over(wall))
        .withColumn("q", F.expr("(t_b << 16) * r_tot div (r_b * t_tot)"))
        .select(
            "b",
            F.when(F.col("q") == 0, F.lit(-17).cast("long"))
            .otherwise(F.length(F.expr("bin(q)")).cast("long") - 17)
            .alias("bits"),
        )
    )
    return (
        tok.join(F.broadcast(bucket_bits), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("bits").alias("weight_bits"),
        )
    )


def k_anonymity_audit(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """k-anonymity audit over the documents metadata (Sweeney 2002):
    per quasi-identifier combination (lang, source), the group size,
    whether it violates k, and the size a k-anonymized release would
    publish (suppressed groups publish 0) — the privacy gate a corpus
    with user-contributed metadata runs before release.

    Scale posture: ONE hash agg on the QI key with map-side combine;
    the flags are per-row projections of the exact group count. The QI
    choice generalizes — any column tuple works; (lang, source) is the
    fixture's non-vacuous pair (both violating and safe groups exist
    at k=3).
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("group_size"))
        .select(
            "lang",
            "source",
            "group_size",
            (F.col("group_size") < k).alias("violates_k"),
            F.when(F.col("group_size") < k, F.lit(0).cast("long"))
            .otherwise(F.col("group_size"))
            .alias("published_size"),
        )
    )


def l_diversity_audit(spark: SparkSession, sf_dir: str, l: int = 2,
                      bucket: int = 500) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007) — the k-anonymity
    companion (``k_anonymity_audit``): a group can satisfy k yet leak
    its sensitive attribute when every member shares one value.  Per
    quasi-identifier group (lang, source): the group size, the number
    of DISTINCT sensitive values (length bucket ``n_chars div 500`` —
    the fixture's non-degenerate stand-in for a sensitive column), and
    the l=2 violation flag.

    Scale posture: ONE hash agg on the QI key; count_distinct expands
    to the standard two-phase partial-distinct aggregate (map-side
    dedup on (QI, sens) before the shuffle), so the wire carries at
    most |QI × sens-bucket| rows regardless of corpus size.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "lang", "source", F.expr(f"n_chars div {bucket}").alias("sens")
        )
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.count_distinct("sens").alias("distinct_sensitive"),
        )
        .select(
            "lang",
            "source",
            "group_size",
            "distinct_sensitive",
            (F.col("distinct_sensitive") < l).alias("violates_l"),
        )
    )


# --- round-10 additions ---

SN_WINDOW = 3  # sorted-neighborhood width (pairs per row = w)


def sorted_neighborhood_pairs(
    spark: SparkSession, sf_dir: str, w: int = SN_WINDOW, max_dist: int = 1
) -> DataFrame:
    """Entity resolution, blocking strategy #2: the sorted-neighborhood
    method (Hernández–Stolfo 1995) — sort customer names once, compare
    each name only to its ``w`` successors in sort order, verify with
    exact levenshtein ≤ ``max_dist``. The classic alternative to
    fuzzy_name_pairs' SymSpell deletion keys: SN's candidate count is a
    FIXED w·n (predictable cost, no key fan-out, catches prefix-locality
    typos of any edit distance), while SymSpell is complete for d ≤ 1
    but explodes keys on long strings. Production ER runs both and
    unions (multi-pass blocking); the recall relationship is pinned in
    tests/test_operator_models.py (SN ⊆ SymSpell at d ≤ 1, measured recall).

    Scale posture: ONE global sort via rank.global_row_number (range
    partition + broadcast offsets), then candidates come from an
    equi-join of rank against rank+offset (w tiny offsets exploded on
    one side) — no window over data, no all-pairs; levenshtein runs on
    candidate pairs only.
    """
    from via_spark.operators.rank import global_row_number

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.lower(F.col("c_name")).alias("name")
    )
    ranked = global_row_number(
        c, [F.col("name").asc(), F.col("c_custkey").asc()], out="rn"
    )
    a = ranked.select(
        F.col("c_custkey").alias("key_a"), F.col("name").alias("name_a"),
        F.col("rn"),
        F.explode(
            F.array(*[F.lit(i).cast("long") for i in range(1, w + 1)])
        ).alias("off"),
    ).select(
        "key_a", "name_a", (F.col("rn") + F.col("off")).alias("rn_b")
    )
    b = ranked.select(
        F.col("c_custkey").alias("key_b"), F.col("name").alias("name_b"),
        F.col("rn").alias("rn_b"),
    )
    return (
        a.join(b, "rn_b")
        .withColumn("lev", F.levenshtein(F.col("name_a"), F.col("name_b")))
        .where(F.col("lev") <= max_dist)
        .select("key_a", "key_b", "name_a", "name_b", "lev")
    )


T_CLOSENESS_T_MICRO = 250_000  # pinned t = 0.25 (Li et al.'s example regime)


def t_closeness_audit(
    spark: SparkSession, sf_dir: str, bucket: int = 500,
    t_micro: int = T_CLOSENESS_T_MICRO,
) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the third
    rung of the release-gate ladder after k_anonymity_audit (group
    sizes) and l_diversity_audit (distinct sensitive values): a group
    can satisfy both and still leak by DISTRIBUTION (all-large lengths
    in one group). Per QI group (lang, source): the ordered Earth
    Mover's Distance between the group's sensitive-value distribution
    (the same ``n_chars div bucket`` stand-in l-diversity uses) and the
    global one, and the ``emd > t`` violation flag.

    Exactness: for ordered discrete values the EMD is the mean absolute
    cumulative-share gap, ``Σ|cum_g/n_g − cum/n| / (m−1)`` — cross-
    multiplied to BIGINTs: ``Σ|cum_g·n − cum·n_g| · 1e6 div
    ((m−1)·n_g·n)``, one truncating division per group. Groups see the
    COMPLETE global value grid (absent values as zero counts), else
    cumulative gaps would skip exactly the rows where mass is missing.
    A single global value (m = 1) reports NULL. BIGINT bound: n·n_g ≤
    9e12 before the ·1e6 — the share-based form takes over past ~3e9
    total rows, same envelope note as the KS family.

    Scale posture: one documents scan → (QI, sens) and (sens) hash
    aggs; the grid is |groups| × m with the m-row global side broadcast
    (m is the bucketed-domain size, a constant); one window per group
    over m rows; one final agg.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "lang", "source", F.expr(f"n_chars div {bucket}").alias("sens")
    )
    return t_closeness_over(d, t_micro)


def t_closeness_over(d: DataFrame, t_micro: int = T_CLOSENESS_T_MICRO) -> DataFrame:
    """Core ordered-EMD audit over ANY (lang, source, sens) frame —
    planted-distribution tested in tests/test_operator_models.py."""
    per = d.groupBy("lang", "source", "sens").agg(F.count(F.lit(1)).alias("c_g"))
    w_glob = Window.orderBy("sens").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    glob = (
        d.groupBy("sens").agg(F.count(F.lit(1)).alias("c"))
        # m rows total — the single-partition window is over the
        # bucketed VALUE DOMAIN, a constant, never data-sized
        .select(
            "sens",
            F.sum("c").over(w_glob).alias("cum"),
            F.sum("c").over(
                Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ).alias("n"),
            F.count(F.lit(1)).over(
                Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ).alias("m"),
        )
    )
    groups = per.groupBy("lang", "source").agg(F.sum("c_g").alias("n_g"))
    grid = groups.crossJoin(F.broadcast(glob))
    joined = grid.join(per, ["lang", "source", "sens"], "left").select(
        "lang", "source", "sens", "n_g", "cum", "n", "m",
        F.coalesce(F.col("c_g"), F.lit(0).cast("long")).alias("c_g"),
    )
    w_g = Window.partitionBy("lang", "source").orderBy("sens").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = joined.select(
        "lang", "source", "n_g", "cum", "n", "m",
        F.sum("c_g").over(w_g).alias("cum_g"),
    )
    return (
        cum.groupBy("lang", "source")
        .agg(
            F.max("n_g").alias("group_size"),
            F.expr(
                "if(max(m) > 1,"
                " sum(abs(cum_g * n - cum * n_g)) * 1000000L"
                " div ((max(m) - 1) * max(n_g) * max(n)),"
                " cast(null as long))"
            ).alias("emd_micro"),
        )
        .select(
            "lang",
            "source",
            "group_size",
            "emd_micro",
            (F.col("emd_micro") > F.lit(t_micro)).alias("violates_t"),
        )
    )
