"""Deduplication operators for training-data pipelines (SURVEY.md §7.2 M6).

Beyond-reference capability (BASELINE.json north star): the dedup
family a large-scale LLM data pipeline needs, built on the M3
primitives. Five strategies, cheapest-first:

* exact        — hash-groupBy on normalized text (lower + single-space)
* MinHash+LSH  — shingle → 8-hash MinHash signature → 4 bands of 2 →
                 band-bucket join → exact-Jaccard verify
* SimHash      — 64-bit fingerprint, 4×16-bit block index → block-bucket
                 join → Hamming ≤ 3 verify (pigeonhole: any pair within
                 Hamming 3 shares at least one of 4 intact blocks, so
                 the blocked candidate set is EXACTLY complete)
* n-gram Jaccard — exact token-trigram Jaccard on LSH candidates
* embedding cosine — sign-LSH bucket (first 8 dims) → in-bucket exact
                 cosine ≥ threshold

Determinism: MinHash uses lexicographic-min of per-permutation sha256
prefixes (numeric min of the 256-bit value) — no platform hash; cosine
goes through the fixed-point BIGINT path (operators.vector). Every
query here has a DuckDB oracle.

Scale posture (100 TB): no operator compares all pairs — candidates
come from equi-join buckets (band key / simhash block / sign bucket),
i.e. shuffle-on-key joins Catalyst can plan and AQE can skew-split;
signatures are narrow per-row projections computed in one scan. The
verify step touches only candidate pairs. At 1000 executors the band
join IS the algorithm — identical plan, bigger key space.
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from via_spark.functions.text import tokens
from via_spark.functions.vector import dot_fix, with_cosine
from via_spark.operators.vector import simhash_documents
from via_spark.session import load_table, nopush, spread

MINHASH_K = 8          # signature length
MINHASH_BANDS = 4      # bands of 2 rows each
SHINGLE_N = 3          # token trigrams
JACCARD_THRESHOLD = 0.5
SIMHASH_MAX_HAMMING = 3
EMB_COS_THRESHOLD = 0.4


def normalized_text(text: Column) -> Column:
    """Exact-dedup normalization: lowercase, whitespace collapsed."""
    return F.array_join(tokens(text), " ")


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup projection: content hash, group size, canonical flag
    (min doc_id per hash). Downstream keeps ``is_canonical``."""
    d = load_table(spark, sf_dir, "documents")
    hashed = d.select(
        "doc_id", F.sha2(normalized_text(F.col("text")), 256).alias("text_hash")
    )
    w = Window.partitionBy("text_hash")
    return hashed.select(
        "doc_id",
        "text_hash",
        F.count(F.lit(1)).over(w).alias("group_size"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_canonical"),
    )


def _shingles(toks: Column, n: int = SHINGLE_N) -> Column:
    """Distinct space-joined token n-grams (empty if < n tokens)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(-1))),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
            ),
        )
    )


def shingled_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from via_spark.session import nopush

    d = spread(load_table(spark, sf_dir, "documents"))
    return (
        d.withColumn("toks", tokens(F.col("text")))
        # nopush: pushed below the spread() exchange this filter inlines
        # the whole tokenize into the single-task scan stage and runs it
        # a second time (see session.nopush); short docs are too rare
        # for the early drop to pay for the duplicated pass at any scale
        .where(nopush(F.size("toks") >= SHINGLE_N))
        .select("doc_id", _shingles(F.col("toks")).alias("sh"))
    )


def _minhash_sig(sh: Column, k: int = MINHASH_K) -> list[Column]:
    """k MinHash components: lexicographic min over shingles of
    sha256(i ':' shingle)[:16] — a 64-bit permutation per i."""
    return [
        F.array_min(
            F.transform(
                sh, lambda s: F.substring(F.sha2(F.concat(F.lit(f"{i}:"), s), 256), 1, 16)
            )
        ).alias(f"mh_{i}")
        for i in range(k)
    ]


def minhash_bands(docs_sh: DataFrame) -> DataFrame:
    """doc → (band index, band key) rows; same key ⇒ candidate pair.

    Output carries ONLY (doc_id, band, band_key): the shingle arrays —
    i.e. the corpus text, ~8× — stay OUT of the LSH shuffle and are
    joined back for the verify step on candidate pairs alone."""
    sig = docs_sh.select("doc_id", *_minhash_sig(F.col("sh")))
    rows_per_band = MINHASH_K // MINHASH_BANDS
    bands = F.array(
        *[
            F.concat_ws(
                "|", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
            )
            for b in range(MINHASH_BANDS)
        ]
    )
    return sig.select("doc_id", F.posexplode(bands).alias("band", "band_key"))


# Hot-bucket cap (the public CCNet / BigQuery-dedup trick): a
# (band, band_key) bucket shared by m docs yields m(m-1)/2 candidate
# pairs — one boilerplate template on 1% of a 10B-doc corpus would put
# ~5·10¹⁵ pairs in a single bucket and sink the stage no matter how AQE
# splits it, because the blow-up is in the JOIN OUTPUT, not the input
# skew. Band keys over the cap are dropped from candidate generation
# (docs agreeing on a band shared by thousands are near-certain
# boilerplate; identical text is already handled by dedup_exact
# upstream) and surfaced by :func:`hot_band_keys` for audit. The
# default is far above any fixture bucket (max ≈ dup-cluster size ≈ 5),
# so it is semantically inert at test scale — and the oracle mirrors
# it, so if it ever fires the driver compare still matches.
BAND_KEY_CAP = 5000


def capped_bands(bands: DataFrame, band_cap: int | None = BAND_KEY_CAP) -> DataFrame:
    """Drop (band, band_key) buckets larger than ``band_cap``.

    The frequency count is a window over the same (band, band_key)
    hash partitioning the candidate self-join shuffles on, so the cap
    costs one count pass over already-co-located rows."""
    if band_cap is None:
        return bands
    w = Window.partitionBy("band", "band_key")
    return (
        bands.withColumn("_bn", F.count(F.lit(1)).over(w))
        .where(F.col("_bn") <= band_cap)
        .drop("_bn")
    )


def hot_band_keys(
    spark: SparkSession, sf_dir: str, band_cap: int = BAND_KEY_CAP
) -> DataFrame:
    """Audit view of the buckets :func:`capped_bands` drops: every
    (band, band_key) with more than ``band_cap`` member docs and its
    size — the 'logged count' side of the cap."""
    bands = minhash_bands(shingled_documents(spark, sf_dir))
    return (
        bands.groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > band_cap)
    )


def jaccard(a_sh: Column, b_sh: Column) -> Column:
    """Exact Jaccard of two DISTINCT shingle arrays:
    |A∩B| / (|A| + |B| - |A∩B|) — integer counts, one rounded division."""
    inter = F.size(F.array_intersect(a_sh, b_sh))
    return inter / (F.size(a_sh) + F.size(b_sh) - inter)


def dedup_minhash_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = JACCARD_THRESHOLD,
    band_cap: int | None = BAND_KEY_CAP,
) -> DataFrame:
    """MinHash+LSH near-dup pairs with exact-Jaccard verification.

    Shape: the band self-join shuffles (doc_id, band, band_key) rows
    only — with hot buckets dropped by :func:`capped_bands` so one
    boilerplate template can't make the join output quadratic; the
    shingle arrays are joined back onto the (deduplicated) candidate
    PAIRS for the exact-Jaccard verify. The shingled frame is cached —
    one computed copy serves band derivation and both verify joins (at
    cluster scale: a persisted signatures/shingles table). The CAPPED
    BANDS are cached too (r14): the r13 plan re-derived the 8-way
    sha256 MinHash signatures + the cap window once PER JOIN SIDE —
    the signature pass is the chain's dominant per-row cost, and the
    cache (a persisted signature table at cluster scale) halves it."""
    sh = shingled_documents(spark, sf_dir).cache()
    bands = capped_bands(minhash_bands(sh), band_cap).cache()
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    cand = (
        a.join(b, ["band", "band_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    verify = cand.join(
        sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a"
    ).join(
        sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b"
    )
    return (
        verify.withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# Incremental dedup split: doc_id % MOD == BATCH_RESIDUE models today's
# arriving batch (20%), everything else the already-ingested corpus —
# deterministic, lazy, and identical in the DuckDB oracle.
INCREMENTAL_MOD = 5
INCREMENTAL_BATCH_RESIDUE = 4


def incremental_minhash_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = JACCARD_THRESHOLD,
    band_cap: int | None = BAND_KEY_CAP,
) -> DataFrame:
    """Incremental (batch-vs-corpus) near-dup detection — the shape a
    daily ingest pipeline actually runs: today's batch is banded and
    joined against the STORED band table of the existing corpus, so
    cost scales with |batch| × bucket width, not |corpus|²; the corpus
    is never re-shuffled against itself.

    The fixture has no arrival dimension, so the split is pinned by
    residue: ``doc_id % 5 == 4`` plays today's batch (20%), the rest
    the stored corpus. Output: one row per (new doc, matched corpus
    doc) pair passing the exact-Jaccard verify — the lookup an ingest
    gate does before admitting a document.

    Scale posture: identical plan to ``dedup_minhash_pairs`` except the
    self-join becomes corpus⋈batch — the stored side is a persisted
    (doc_id, band, band_key) signature table maintained by ingest, and
    the batch side is small, so Spark broadcast-joins it when it fits;
    the hot-bucket cap applies exactly as in the self-join case.
    """
    sh = shingled_documents(spark, sf_dir).cache()
    # cached for the same reason as the self-join form (r14): the
    # corpus and batch sides both derive from the banded frame, and
    # only the cache stops the sha256 signature pass running twice
    bands = capped_bands(minhash_bands(sh), band_cap).cache()
    is_batch = F.col("doc_id") % INCREMENTAL_MOD == INCREMENTAL_BATCH_RESIDUE
    corpus = bands.where(~is_batch).select(
        F.col("doc_id").alias("corpus_doc"), "band", "band_key"
    )
    batch = bands.where(is_batch).select(
        F.col("doc_id").alias("new_doc"), "band", "band_key"
    )
    cand = (
        corpus.join(batch, ["band", "band_key"])
        .select("new_doc", "corpus_doc")
        .dropDuplicates(["new_doc", "corpus_doc"])
    )
    verify = cand.join(
        sh.select(F.col("doc_id").alias("new_doc"), F.col("sh").alias("sh_a")), "new_doc"
    ).join(
        sh.select(F.col("doc_id").alias("corpus_doc"), F.col("sh").alias("sh_b")),
        "corpus_doc",
    )
    return (
        verify.withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .where(F.col("jaccard") >= threshold)
        .select("new_doc", "corpus_doc", "jaccard")
    )


# Generalized pigeonhole keys for 64-bit fingerprints (r11): the old
# 4×16-bit block join is complete for Hamming ≤ 3, but its key space
# is FIXED at 4·2^16 — per-key occupancy (and the quadratic-per-key
# candidate volume) grows linearly with the corpus, which the r11
# 100× store probe measured as phash's 7.3× time per 3.33× data step.
# With B = 6 blocks (widths 11,11,11,11,10,10), any pair within
# Hamming ≤ 3 has ≥ 3 intact blocks, so joining on every C(6,3) = 20
# TRIPLE of block values is exactly as complete — and each key now
# carries ~32 bits of fingerprint, so occupancy stays ≪ 1 until
# corpora of billions. Cost shifts from Σ occ² (quadratic) to a flat
# 20-probe explode (linear). A pair may match several triples: the
# canonical-triple filter (``_canonical_sid``, r12) keeps exactly the
# lowest intact one, so the join emits each pair exactly once.
_HB_WIDTHS = (11, 11, 11, 11, 10, 10)
_HB_OFFSETS = (0, 11, 22, 33, 44, 54)
_HB_TRIPLES = tuple(itertools.combinations(range(6), 3))


def _hb_key(h: Column, sid: int, triple: tuple[int, int, int]) -> Column:
    k = F.lit(sid).cast("long")
    for i in triple:
        k = k * F.lit(1 << 11) + (
            F.shiftrightunsigned(h, _HB_OFFSETS[i]).bitwiseAND(
                F.lit((1 << _HB_WIDTHS[i]) - 1)
            )
        )
    return k


def hamming_block_keys(h: Column) -> Column:
    """All 20 triple-of-blocks join keys of a 64-bit fingerprint —
    complete for Hamming ≤ 3 (pigeonhole: ≤ 3 differing bits touch
    ≤ 3 blocks, leaving an intact triple)."""
    return F.array(
        *[_hb_key(h, sid, t) for sid, t in enumerate(_HB_TRIPLES)]
    )


def _signed64(v: int) -> int:
    """Python int → the signed 64-bit value Spark's LongType stores
    (bit 63 set ⇒ negative two's-complement literal)."""
    return v - (1 << 64) if v >= (1 << 63) else v


# Per-triple bit masks over the full 64-bit fingerprint: triple t is
# "intact" for a pair iff (h_a XOR h_b) AND _HB_MASKS[t] == 0.
_HB_MASKS = tuple(
    _signed64(
        sum(((1 << _HB_WIDTHS[i]) - 1) << _HB_OFFSETS[i] for i in t)
    )
    for t in _HB_TRIPLES
)


def _canonical_sid(xor: Column) -> Column:
    """Lowest triple id whose three blocks are all intact in ``xor``
    (the per-pair XOR of two fingerprints). A pair within the triple
    join matches once per intact triple — up to 20 rows for identical
    fingerprints; keeping only the row whose join key's sid equals
    this canonical sid makes the join emit each pair EXACTLY once,
    replacing the old post-join dropDuplicates shuffle (and its up-to-
    20× duplicated verify rows) with a map-side filter (r12, VERDICT
    r11 'What's wrong #2': the 20-triple rewrite's 1.85× constant
    factor)."""
    expr = F.when(xor.bitwiseAND(F.lit(_HB_MASKS[0])) == 0, F.lit(0))
    for sid in range(1, len(_HB_MASKS)):
        expr = expr.when(xor.bitwiseAND(F.lit(_HB_MASKS[sid])) == 0, F.lit(sid))
    return expr.otherwise(F.lit(-1))


# SQL-string twins of hamming_block_keys / _canonical_sid: a single
# F.expr parse instead of ~300 py4j Column calls — the Column builders
# cost ~0.8 s of DRIVER time per query build at 20 triples × 3 blocks
# (measured r12), which dwarfed the join's executor time at fixture
# scale. Semantics identical (same masks, same key packing); the
# Column forms above remain the readable spec and the property tests
# pin the two paths to the same output.
def _hb_keys_sql(h: str) -> str:
    """SQL for the 20-element triple-key array of fingerprint ``h``."""
    keys = []
    for sid, t in enumerate(_HB_TRIPLES):
        k = f"CAST({sid} AS BIGINT)"
        for i in t:
            blk = (
                f"(shiftrightunsigned({h}, {_HB_OFFSETS[i]}) & "
                f"{(1 << _HB_WIDTHS[i]) - 1})"
            )
            k = f"({k} * 2048 + {blk})"
        keys.append(k)
    return "array(" + ", ".join(keys) + ")"


def _canonical_sid_sql(xor: str) -> str:
    """SQL CASE form of :func:`_canonical_sid` over the xor expr."""
    whens = "".join(
        f" WHEN (({xor}) & CAST({m} AS BIGINT)) = 0 THEN {sid}"
        for sid, m in enumerate(_HB_MASKS)
    )
    return f"CASE{whens} ELSE -1 END"


def hamming_pairs_over(
    hashed: DataFrame,
    h_col: str,
    max_hamming: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exactly-once Hamming-≤``max_hamming`` pairs (≤ 3 complete) over
    a (id, 64-bit fingerprint) frame: 20-probe triple-of-blocks
    equi-join, canonical-triple filter (no dedup shuffle), xor+popcount
    verify. Output: (doc_a, doc_b, hamming), doc_a < doc_b, one row per
    qualifying pair. Shared core of ``dedup_simhash_pairs`` and
    ``multimodal.phash_pairs_over``."""
    if max_hamming > 3:
        raise ValueError(
            "hamming_pairs_over is pigeonhole-complete only for "
            f"max_hamming <= 3 (20-triple scheme); got {max_hamming}"
        )
    # ONE physical shuffle of the 20·N-row probe table (r15). The r14
    # alias self-join intended "one Exchange + ReusedExchange", but
    # under AQE the reuse NEVER fires for this shape (VERDICT r14 #3,
    # root-caused this round): AQE rewrites each side's cached-relation
    # child into its own TableCacheQueryStage instance BEFORE the
    # join-side exchanges are canonicalized for the stage cache, so the
    # two exchanges no longer compare equal and both materialize
    # (executed-plan evidence: plans/r15/dedup_simhash_pairs_before.txt,
    # two ShuffleQueryStages; with AQE off the same plan gets a
    # ReusedExchange). Fix: pre-shuffle the exploded frame BY THE JOIN
    # KEY and cache it — the cache materialization pays the single
    # hashpartitioning(bk) exchange, the cached partitioning satisfies
    # both join sides' clustering requirement, and the join itself
    # plans EXCHANGE-FREE over two InMemoryTableScans (guide §2.4; at
    # cluster scale this is the persisted, bucketed signature table a
    # dedup pipeline maintains). The SHUFFLE_HASH hint keeps the
    # sort-free strategy: the planner would otherwise BROADCAST the
    # exploded side from stale cached-table stats — a ~240MB build of
    # 10M rows at the 100× probe, fatal at 100 TB (r14 §7). Trade,
    # disclosed: an exchange-free join has no shuffle stage for AQE to
    # skew-split; per-key occupancy of the 20-triple key space is ≪ 1
    # by construction until multi-billion-row corpora (see the triple
    # scheme's header), so candidate skew is bounded by design, not by
    # AQE.
    blocks = (
        hashed.select(
            F.col(id_col).alias("doc_id"),
            F.col(h_col).alias("h64"),
            F.expr(f"explode({_hb_keys_sql(h_col)})").alias("bk"),
        )
        .repartition(F.col("bk"))
        .cache()
    )
    joined = blocks.alias("a").join(
        blocks.alias("b").hint("shuffle_hash"),
        F.col("a.bk") == F.col("b.bk"),
    )
    return (
        joined.where(F.col("a.doc_id") < F.col("b.doc_id"))
        # the join key's triple id (bk = sid·2^33 + blocks) must be the
        # pair's canonical intact triple — each pair survives exactly once
        .where(
            F.expr(
                "shiftrightunsigned(a.bk, 33) = "
                f"({_canonical_sid_sql('a.h64 ^ b.h64')})"
            )
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("CAST(bit_count(a.h64 ^ b.h64) AS INT)").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def dedup_simhash_pairs(
    spark: SparkSession, sf_dir: str, max_hamming: int = SIMHASH_MAX_HAMMING
) -> DataFrame:
    """SimHash near-dup pairs: triple-of-blocks bucket join (complete
    for Hamming ≤ 3 — see ``hamming_block_keys``), exact verify.

    The fingerprint frame is cached: both sides of the self-join (and
    the block explosion) reuse one computed copy instead of re-running
    the sha256 vote aggregation per reference — at cluster scale this
    is a persisted signatures table, computed once per corpus.

    Verify cost: one xor + 64-bit popcount per candidate row, and the
    canonical-triple filter (``_canonical_sid``) means each pair is a
    candidate exactly ONCE — no post-join distinct shuffle, no
    duplicated verify rows (the r11 version paid up to 20 rows per
    identical pair plus a dropDuplicates exchange).
    """
    sh = simhash_documents(spark, sf_dir).cache()
    packed = sh.select(
        "doc_id",
        F.shiftleft(
            F.conv(F.substring("simhash", 1, 8), 16, 10).cast("long"), 32
        )
        .bitwiseOR(F.conv(F.substring("simhash", 9, 8), 16, 10).cast("long"))
        .alias("h64"),
    )
    return hamming_pairs_over(packed, "h64", max_hamming)


def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, threshold: float = 0.2
) -> DataFrame:
    """Exact n-gram Jaccard at a looser threshold over LSH candidates —
    the 'verify' stage exposed as its own operator."""
    return dedup_minhash_pairs(spark, sf_dir, threshold=threshold)


def _sign_bucket(emb: Column, dims: int = 8, offset: int = 0) -> Column:
    """Sign-LSH bucket: concat of sign bits of ``dims`` elements
    starting at ``offset`` (deterministic hyperplanes = axis planes;
    distinct offsets give the independent hash tables of an
    OR-construction). ``try_element_at``: a vector narrower than
    ``offset + dims`` pads '0' sign bits (NULL ≥ 0 is not true) —
    exactly DuckDB's out-of-range ``embedding[i]`` NULL → ELSE '0'
    behavior, so the adaptive wide bucket works on any dimension
    without erroring under ANSI mode. Pad bits are shared by every
    vector, so they never split a bucket."""
    return F.concat(
        *[
            F.when(F.try_element_at(emb, F.lit(offset + i + 1)) >= 0, F.lit("1"))
            .otherwise(F.lit("0"))
            for i in range(dims)
        ]
    )


# Adaptive sign-LSH sizing: the bucket space must GROW with the corpus
# for per-bucket occupancy — and with it the quadratic-per-bucket
# candidate volume — to stay constant. bits = clamp(len(bin(N div
# OCC)), MIN, MAX) ≈ log2(N / OCC) + 1, computed INSIDE the plan from a
# 1-row count agg (the repo's broadcast scalar-attach pattern), so the
# query builders stay pure-lazy plan builders and the dial tracks any
# corpus size with no config change — at sf0.1 (N=2000) it lands on the
# historical bits=8; at 10x it lands on 12, the measured sweet spot
# (history/SCALEUP_STAGED_r9.json "bits_dial_ab": FIXED 8 bits = 36x wall at
# 10x corpus; bits=12 = 2.5x). Higher bits trade recall for cost — the
# standard LSH dial, measured by ann_recall_report.
SIGN_TARGET_OCCUPANCY = 8
MIN_SIGN_BITS = 4
MAX_SIGN_BITS = 24


def adaptive_sign_frame(e0: DataFrame, cols: list[str]) -> DataFrame:
    """Attach (bucket, bits) adaptively: bucket = the first ``bits``
    sign bits of the embedding, bits from the corpus-count formula
    above. One count-only scan (column-pruned) broadcast to every row;
    the join key stays a plain string equi-key."""
    nb = e0.agg(
        F.least(
            F.lit(MAX_SIGN_BITS),
            F.greatest(
                F.lit(MIN_SIGN_BITS),
                F.length(
                    F.bin(
                        F.expr(
                            f"greatest(count(1) div {SIGN_TARGET_OCCUPANCY}, 1)"
                        )
                    )
                ),
            ),
        )
        .cast("int")
        .alias("bits")
    )
    wide = _sign_bucket(F.col("embedding"), dims=MAX_SIGN_BITS)
    return (
        e0.withColumn("_b_wide", wide)
        .crossJoin(F.broadcast(nb))
        .withColumn("bucket", F.expr("substring(_b_wide, 1, bits)"))
        .select(*cols, "bucket", "bits")
    )


# Hamming-1 neighborhood of the variable-length prefix (i = 0 keeps the
# exact bucket; i = 1..bits flips bit i). The static probe_buckets()
# unrolled for a column-valued ``bits``.
_VARIABLE_PROBES = """
transform(sequence(0, bits), i ->
  CASE WHEN i = 0 THEN bucket
  ELSE concat(substring(bucket, 1, cast(i - 1 as int)),
              CASE substring(bucket, cast(i as int), 1)
                   WHEN '0' THEN '1' ELSE '0' END,
              substring(bucket, cast(i + 1 as int)))
  END)
"""

# DIRECTIONAL Hamming-1 probes for SELF-join pair pipelines (r13): a
# Hamming-1 pair differs at exactly one bit, so only the side holding
# '0' there needs to probe (flipping 0 -> 1 reaches the partner; the
# '1' side flipping its OWN zeros can never reach back). Exploding the
# self bucket plus the ~bits/2 zero-bit flips instead of all bits+1
# probes halves the probe shuffle and the pre-verify join volume while
# producing the IDENTICAL unordered candidate set: same-bucket pairs
# surface from both self-probes (keep vec_a < vec_b), cross-bucket
# pairs from exactly one directed flip (keep both orientations,
# canonicalize with least/greatest afterwards — still no distinct).
# Batch-vs-corpus probes (incremental/gate) keep the full neighborhood:
# there only the batch side explodes, so direction cannot be traded.
_DIRECTIONAL_PROBES = """
filter(
  transform(sequence(0, bits), i ->
    CASE WHEN i = 0 THEN named_struct('pb', bucket, 'self', true)
         WHEN substring(bucket, cast(i as int), 1) = '0'
         THEN named_struct(
                'pb',
                concat(substring(bucket, 1, cast(i - 1 as int)), '1',
                       substring(bucket, cast(i + 1 as int))),
                'self', false)
         ELSE null END),
  p -> p is not null)
"""


def neardup_embedding_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = EMB_COS_THRESHOLD,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via multi-probe sign-LSH: one
    side explodes to its bucket's Hamming-1 neighborhood, the other
    joins on its exact bucket — pairs whose buckets differ by one sign
    bit become candidates instead of being silently unseen. Still an
    equi-join, never all-pairs. Parity with the oracle is exact because
    both implement the same probed algorithm.

    The bucket width ``bits`` (bucket space = 2^bits) is sized
    adaptively from the corpus count inside the plan (see
    SIGN_TARGET_OCCUPANCY above), so per-bucket occupancy — and the
    quadratic-per-bucket candidate volume — stays constant as the
    corpus grows. Reference capability being scaled:
    app/services/qdrant_service.py:79 (cosine near-neighbor search).

    No pair dedup is needed: a candidate pair at Hamming distance ≤ 1
    matches EXACTLY one directional probe, so the explode can never
    emit a (vec_a, vec_b) twice — property-tested
    (test_dedup_skew::test_probe_join_emits_each_pair_once); the r9
    ``dropDuplicates`` shuffled the full candidate set for nothing.
    """
    # self-norms are per-VECTOR, so compute them once on the N-row scan
    # side, never per candidate: the 64-dim dots are higher-order-function
    # expressions (outside whole-stage codegen), and at 10x data the
    # per-pair na/nb dots were 2/3 of a measured ~39us/candidate verify.
    # spread(): the self-dot + probe explode are per-row-heavy map work
    # that a single-split scan would serialize (gated — no-op on an
    # already-parallel cluster scan)
    e0 = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding",
        dot_fix("embedding", "embedding").alias("n_fix"),
    )
    return neardup_pairs_over(e0, threshold)


def neardup_pairs_over(e0: DataFrame, threshold: float = EMB_COS_THRESHOLD) -> DataFrame:
    """:func:`neardup_embedding_pairs` over a caller-supplied
    (vec_id, embedding, n_fix) frame — the store builders pass their
    exact-duplicate-collapsed representative set through the identical
    probed-LSH plan (graph.embedding_clusters_compute), so the pair
    pipeline itself never special-cases the caller."""
    return neardup_scored_candidates(e0).where(F.col("score") >= threshold)


def neardup_scored_candidates(e0: DataFrame) -> DataFrame:
    """Every unordered LSH candidate pair with its exact cosine,
    PRE-threshold: (vec_a < vec_b, score). The verify stage of
    :func:`neardup_pairs_over` (which adds the threshold cut). Each
    unordered pair appears exactly once by the directional probe
    construction, so candidate counts need no distinct."""
    e = adaptive_sign_frame(e0, ["vec_id", "embedding", "n_fix"])
    a = e.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"),
        F.col("n_fix").alias("na_fix"),
        F.explode(F.expr(_DIRECTIONAL_PROBES)).alias("p"),
    ).select(
        "vec_a", "emb_a", "na_fix",
        F.col("p.pb").alias("bucket"), F.col("p.self").alias("is_self"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"),
        F.col("n_fix").alias("nb_fix"), "bucket",
    )
    cand = a.join(b, "bucket").where(
        (~F.col("is_self")) | (F.col("vec_a") < F.col("vec_b"))
    )
    return (
        with_cosine(cand, "emb_a", "emb_b", na="na_fix", nb="nb_fix")
        .select(
            F.least("vec_a", "vec_b").alias("vec_a"),
            F.greatest("vec_a", "vec_b").alias("vec_b"),
            "score",
        )
    )


def incremental_embedding_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = EMB_COS_THRESHOLD,
) -> DataFrame:
    """Incremental (batch-vs-corpus) embedding near-dup detection —
    the semantic-dedup twin of ``incremental_minhash_pairs`` and the
    batch-queryable form of the streaming embedding gate
    (streaming.pipeline.embedding_gate_process_batch): today's batch
    explodes its Hamming-1 sign-LSH probes and joins the stored
    corpus's exact buckets, so cost is |batch| × occupancy, never
    |corpus|². The fixture has no arrival dimension, so the split is
    the pinned residue ``vec_id % 5 == 4`` (20% batch) — identical to
    the MinHash incremental convention.

    ``bits`` is the same adaptive occupancy dial as the self-join pair
    query, sized from the FULL table count (corpus + full batch, the
    PRE-admission total — the same N the streaming gate sizes from,
    flagged rows included). Each
    (new, corpus) candidate matches exactly one probe, so no pair
    dedup. Output: (new_vec, corpus_vec, score).
    """
    # spread(): the self-dot + probe explode are per-row-heavy map work
    # a single-split scan would serialize (gated — no-op on an
    # already-parallel cluster scan); same fix as the self-join family
    e0 = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding",
        dot_fix("embedding", "embedding").alias("n_fix"),
    )
    e = adaptive_sign_frame(e0, ["vec_id", "embedding", "n_fix"])
    is_batch = F.col("vec_id") % INCREMENTAL_MOD == INCREMENTAL_BATCH_RESIDUE
    batch = e.where(is_batch).select(
        F.col("vec_id").alias("new_vec"), F.col("embedding").alias("emb_a"),
        F.col("n_fix").alias("na_fix"),
        F.explode(F.expr(_VARIABLE_PROBES)).alias("bucket"),
    )
    corpus = e.where(~is_batch).select(
        F.col("vec_id").alias("corpus_vec"), F.col("embedding").alias("emb_b"),
        F.col("n_fix").alias("nb_fix"), "bucket",
    )
    return (
        with_cosine(
            batch.join(corpus, "bucket"), "emb_a", "emb_b", na="na_fix", nb="nb_fix"
        )
        .where(F.col("score") >= threshold)
        .select("new_vec", "corpus_vec", "score")
    )


def gate_health_report(
    spark: SparkSession, sf_dir: str, threshold: float = EMB_COS_THRESHOLD,
) -> DataFrame:
    """One-row health readout of the embedding ingest gate (r12
    staged; VERDICT r11 next-round #6b) — the batch-queryable mirror
    of GATE_SOAK's checks over the same deterministic corpus/batch
    split as ``incremental_embedding_pairs`` (vec_id % 5 == 4 batch).
    The candidate chain is EXACTLY the gate's
    (streaming.pipeline.embedding_gate_process_batch): batch probes
    explode the Hamming-1 neighborhood of the adaptive-bits prefix and
    join (a) the corpus's exact buckets and (b) LOWER-ID batch peers;
    a batch vector with any match ≥ threshold is flagged, the rest
    admit.

    Columns: n_corpus, n_batch, n_flagged_vs_corpus, n_flagged_vs_peer
    (distinct flagged ids per source; a vector can appear in both),
    n_flagged (union), n_admitted, state_rows_after (= corpus +
    admitted — GATE_SOAK's "state rows == distinct admitted content"
    bound in batch form), admit_rate_micro (truncating; 1e6 when the
    batch is empty), max_flag_score (0.0 when nothing flagged).

    Scale posture: |batch| × occupancy probe joins (never |corpus|²)
    + three 1-row aggs attached by broadcast scalar crossJoins.
    """
    # spread(): the self-dot + probe explode are per-row-heavy map work
    # a single-split scan would serialize (gated — no-op on an
    # already-parallel cluster scan); same fix as the self-join family
    e0 = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding",
        dot_fix("embedding", "embedding").alias("n_fix"),
    )
    e = adaptive_sign_frame(e0, ["vec_id", "embedding", "n_fix"])
    is_batch = F.col("vec_id") % INCREMENTAL_MOD == INCREMENTAL_BATCH_RESIDUE
    probes = e.where(is_batch).select(
        F.col("vec_id").alias("new_vec"), F.col("embedding").alias("emb_a"),
        F.col("n_fix").alias("na_fix"),
        F.explode(F.expr(_VARIABLE_PROBES)).alias("bucket"),
    )

    def flags(side: DataFrame, peer: bool) -> DataFrame:
        cand = probes.join(side, "bucket")
        if peer:
            cand = cand.where(F.col("matched_vec") < F.col("new_vec"))
        return (
            with_cosine(cand, "emb_a", "emb_b", na="na_fix", nb="nb_fix")
            .where(F.col("score") >= threshold)
            .select("new_vec", "score")
        )

    corpus = e.where(~is_batch).select(
        F.col("vec_id").alias("matched_vec"), F.col("embedding").alias("emb_b"),
        F.col("n_fix").alias("nb_fix"), "bucket",
    )
    peers = e.where(is_batch).select(
        F.col("vec_id").alias("matched_vec"), F.col("embedding").alias("emb_b"),
        F.col("n_fix").alias("nb_fix"), "bucket",
    )
    fc = flags(corpus, peer=False)
    fp = flags(peers, peer=True)
    counts = e.agg(
        F.coalesce(F.sum((~is_batch).cast("long")), F.lit(0).cast("long"))
        .alias("n_corpus"),
        F.coalesce(F.sum(is_batch.cast("long")), F.lit(0).cast("long"))
        .alias("n_batch"),
    )
    agg_c = fc.agg(F.countDistinct("new_vec").alias("n_flagged_vs_corpus"))
    agg_p = fp.agg(F.countDistinct("new_vec").alias("n_flagged_vs_peer"))
    agg_u = fc.unionByName(fp).agg(
        F.countDistinct("new_vec").alias("n_flagged"),
        F.max("score").alias("mx"),
    )
    return (
        counts.crossJoin(F.broadcast(agg_c))
        .crossJoin(F.broadcast(agg_p))
        .crossJoin(F.broadcast(agg_u))
        .select(
            "n_corpus",
            "n_batch",
            "n_flagged_vs_corpus",
            "n_flagged_vs_peer",
            "n_flagged",
            (F.col("n_batch") - F.col("n_flagged")).alias("n_admitted"),
            (
                F.col("n_corpus") + F.col("n_batch") - F.col("n_flagged")
            ).alias("state_rows_after"),
            F.expr(
                "CASE WHEN n_batch = 0 THEN 1000000L "
                "ELSE (n_batch - n_flagged) * 1000000L div n_batch END"
            ).alias("admit_rate_micro"),
            F.coalesce(F.col("mx"), F.lit(0.0).cast("double")).alias(
                "max_flag_score"
            ),
        )
    )


def gate_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag-count-vs-threshold curve of the embedding ingest gate
    (r12 staged) — the dial-picking companion to ``gate_health_report``
    exactly as ``dedup_threshold_sweep`` is to the MinHash family: for
    each threshold_pct in 20..80, how many batch vectors the gate
    would flag (distinct, corpus OR lower-id peer match) and the
    resulting admit rate. One candidate-scoring pass (the probed LSH
    chain, unfiltered), then a 7-way conditional distinct count —
    the sweep costs one query, not seven.

    Scale posture: |batch| × occupancy candidates scored once; the
    explode multiplies candidate rows by 7 before a 7-row hash agg;
    n_batch attaches by broadcast scalar. Zero-flag thresholds stay in
    the output (conditional agg, no post-filter drop).
    """
    # spread(): the self-dot + probe explode are per-row-heavy map work
    # a single-split scan would serialize (gated — no-op on an
    # already-parallel cluster scan); same fix as the self-join family
    e0 = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding",
        dot_fix("embedding", "embedding").alias("n_fix"),
    )
    e = adaptive_sign_frame(e0, ["vec_id", "embedding", "n_fix"])
    is_batch = F.col("vec_id") % INCREMENTAL_MOD == INCREMENTAL_BATCH_RESIDUE
    probes = e.where(is_batch).select(
        F.col("vec_id").alias("new_vec"), F.col("embedding").alias("emb_a"),
        F.col("n_fix").alias("na_fix"),
        F.explode(F.expr(_VARIABLE_PROBES)).alias("bucket"),
    )
    corpus = e.where(~is_batch).select(
        F.col("vec_id").alias("matched_vec"), F.col("embedding").alias("emb_b"),
        F.col("n_fix").alias("nb_fix"), "bucket",
    )
    peers = e.where(is_batch).select(
        F.col("vec_id").alias("matched_vec"), F.col("embedding").alias("emb_b"),
        F.col("n_fix").alias("nb_fix"), "bucket",
    )
    cand = probes.join(corpus, "bucket").unionByName(
        probes.join(peers, "bucket").where(F.col("matched_vec") < F.col("new_vec"))
    )
    scored = with_cosine(cand, "emb_a", "emb_b", na="na_fix", nb="nb_fix").select(
        "new_vec", "score"
    )
    n_batch = e.agg(
        F.coalesce(F.sum(is_batch.cast("long")), F.lit(0).cast("long"))
        .alias("n_batch")
    )
    t = F.explode(
        F.array(*[F.lit(p) for p in SWEEP_THRESHOLDS])
    ).alias("threshold_pct")
    return (
        scored.select("new_vec", "score", t)
        .groupBy("threshold_pct")
        .agg(
            F.countDistinct(
                F.when(
                    F.col("score") >= F.col("threshold_pct") / F.lit(100.0),
                    F.col("new_vec"),
                )
            ).alias("n_flagged")
        )
        .crossJoin(F.broadcast(n_batch))
        .select(
            F.col("threshold_pct").cast("int").alias("threshold_pct"),
            F.col("n_flagged").cast("long").alias("n_flagged"),
            F.expr(
                "CASE WHEN n_batch = 0 THEN 1000000L "
                "ELSE (n_batch - n_flagged) * 1000000L div n_batch END"
            ).alias("admit_rate_micro"),
        )
    )


def exact_dup_family_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate family census over the embedding column (r11
    staged) — the collapse diagnostic for the cluster-store builders:
    how much of the corpus is byte-identical vectors (re-encodes,
    mirror crawls, replayed shards), and therefore how much work the
    exact-collapse in graph.embedding_clusters_compute removes before
    LSH ever runs (a family of f copies costs f map rows collapsed vs
    C(f,2) within-bucket candidates uncollapsed).

    One row: n_vectors, n_distinct, n_multi_families (families ≥ 2),
    largest_family, collapsed_share_micro = (n − distinct)·1e6 div n.

    Scale posture: one shuffle on the embedding value (the same key
    the collapse groups by), then a 1-row agg."""
    e = load_table(spark, sf_dir, "embeddings").select("embedding")
    fam = e.groupBy("embedding").agg(F.count(F.lit(1)).alias("f"))
    return fam.agg(
        F.sum("f").cast("long").alias("n_vectors"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum((F.col("f") > 1).cast("long")).alias("n_multi_families"),
        F.max("f").cast("long").alias("largest_family"),
        F.expr(
            "(sum(f) - count(1)) * 1000000L div sum(f)"
        ).alias("collapsed_share_micro"),
    )


def minhash_band_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-bucket occupancy histogram of the MinHash LSH space (r11
    staged) — the text twin of ``embedding_bucket_occupancy``: per
    band, how many buckets hold how many documents. The raw
    (UNCAPPED) distribution is the point: the hot-bucket cap
    (``capped_bands``) exists because boilerplate-heavy corpora grow
    pathological buckets, and this is the view that shows them before
    the cap hides the cost. Output: (band, occupancy, n_buckets).

    Scale posture: one shuffle on (band, band_key) — the exact key the
    pair join uses — then a |bands|·|distinct occupancies| agg."""
    bands = minhash_bands(shingled_documents(spark, sf_dir))
    per = bands.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).cast("long").alias("occupancy")
    )
    return (
        per.groupBy("band", "occupancy")
        .agg(F.count(F.lit(1)).cast("long").alias("n_buckets"))
        .select(F.col("band").cast("long").alias("band"), "occupancy", "n_buckets")
    )


def ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-occupancy census (r11 staged): vectors per coarse cell
    under the deterministic-sample quantizer ``ivf_assigned`` — the
    balance diagnostic behind ann_ivf_topk's recall/cost trade (probe
    cost is Σ of probed cell sizes; one overfull cell quietly turns
    nprobe=8 into a corpus scan). share_micro = cell share of the
    corpus in 1e-6 units (exact integer division).

    Scale posture: one broadcast assignment pass (N·n_centroids fixed
    dots), then a |centroids|-row agg with a broadcast 1-row total."""
    e = load_table(spark, sf_dir, "embeddings")
    _, cells = ivf_assigned(e)
    per = cells.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    total = per.agg(F.sum("n_vectors").alias("n_total"))
    return per.crossJoin(F.broadcast(total)).select(
        "cid",
        "n_vectors",
        F.expr("n_vectors * 1000000L div n_total").alias("share_micro"),
    )


IVF_CENTROIDS = 16
# 8 of 16 cells: tuned against the measured multi-query recall floor in
# tests/test_vector.py — the fixture's near-random embeddings are the
# adversarial case for IVF (true neighbors spread ~uniformly over
# cells, so recall ≈ fraction probed); nprobe=4 measured mean
# recall@10 = 0.68 over 5 queries, nprobe=8 = 0.90. Real clustered
# embeddings with trained centroids reach the same recall at far
# smaller probe fractions — nprobe stays THE per-query quality dial.
IVF_NPROBE = 8


def ivf_assigned(e: DataFrame, n_centroids: int = IVF_CENTROIDS) -> tuple[DataFrame, DataFrame]:
    """IVF 'train' + 'assign' without a model runtime: the coarse
    quantizer is a deterministic corpus sample (vec_id < n_centroids);
    every vector is assigned to its argmax-dot cell. Dots are exact
    fixed-point BIGINTs, so the assignment is bit-reproducible.
    Returns (centroids(cid, cemb), cells(vec_id, label, embedding, cid)).

    At cluster scale the assignment is a stored signatures column,
    computed once per corpus snapshot in a single broadcast pass."""
    cent = e.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cdot").desc(), F.col("cid").asc())
    cells = (
        e.crossJoin(F.broadcast(cent))
        .withColumn("cdot", dot_fix("embedding", "cemb"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("vec_id", "label", "embedding", "cid")
    )
    return cent, cells


def ann_ivf_topk(
    spark: SparkSession, sf_dir: str, query_id: int = 0, k: int = 10,
    n_centroids: int = IVF_CENTROIDS, nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """IVF-style ANN: probe the query's ``nprobe`` best cells, exact
    cosine re-rank inside them (the inverted-file candidate bound that
    makes billion-vector search tractable; ann_lsh_topk is the
    hyperplane-bucket alternative, knn_cosine_topk the exact baseline).
    """
    e = load_table(spark, sf_dir, "embeddings")
    cent, cells = ivf_assigned(e, n_centroids)
    q = e.where(F.col("vec_id") == query_id).select(
        F.col("embedding").alias("q_emb"),
        dot_fix("embedding", "embedding").alias("nb_fix"),
    )
    probes = (
        cent.crossJoin(F.broadcast(q))
        .withColumn("qdot", dot_fix("cemb", "q_emb"))
        .orderBy(F.col("qdot").desc(), F.col("cid").asc())
        .limit(nprobe)
        .select("cid")
    )
    cand = (
        cells.join(F.broadcast(probes), "cid")
        .where(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(q))
    )
    return (
        with_cosine(cand, "embedding", "q_emb", nb="nb_fix")
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(k)
        .select("vec_id", "label", "score")
    )


def _flip_bit(b: Column, i: int) -> Column:
    """Flip the '0'/'1' character at 0-based position ``i``."""
    flipped = F.when(F.substring(b, i + 1, 1) == "0", F.lit("1")).otherwise(F.lit("0"))
    return F.concat(b.substr(F.lit(1), F.lit(i)), flipped,
                    b.substr(F.lit(i + 2), F.length(b)))


def probe_buckets(q_bucket: Column, bits: int = 8, radius: int = 2) -> Column:
    """Multi-probe LSH: the query's bucket plus every bucket within
    Hamming distance ``radius`` — the standard recall lever (probing
    neighbors costs probe-count joins, not a wider scan). radius=2 over
    8 bits → 37 probes."""
    if not 0 <= radius <= 2:
        raise ValueError(f"probe radius {radius} unsupported (0..2)")
    probes = [q_bucket]
    if radius >= 1:
        for i in range(bits):
            probes.append(_flip_bit(q_bucket, i))
    if radius >= 2:
        for i in range(bits):
            for j in range(i + 1, bits):
                probes.append(_flip_bit(_flip_bit(q_bucket, i), j))
    return F.array(*probes)


LSH_TABLES = 5


def ann_lsh_topk(
    spark: SparkSession, sf_dir: str, query_id: int = 0, k: int = 10,
    probe_radius: int = 2, n_tables: int = LSH_TABLES,
) -> DataFrame:
    """ANN scale path: sign-LSH bucket prefilter with MULTI-PROBE and
    an OR-construction of ``n_tables`` independent hash tables (table t
    hashes dims [8t, 8t+8)); a vector is a candidate when ANY table
    places it within Hamming ``probe_radius`` of the query's bucket.
    Exact cosine re-rank inside the candidate set (V1's brute-force is
    the exact baseline).

    Both dials are the standard production LSH recall levers: probing
    neighbors costs probe-count key lookups, extra tables cost one more
    stored signature column each — never a wider scan. On the fixture's
    near-random embeddings (sign bits carry little cosine signal — the
    adversarial case for any LSH) 5 tables at radius 2 measure
    recall@10 = 0.9 vs exact; structured real-world embeddings sit far
    above that. Measured in
    tests/test_vector.py::test_ann_variants_recall_vs_exact.

    Execution shape (fully LAZY since r9 — no driver-side point lookup;
    the former memoized-eager-job contract exception is retired): the
    query row's probe keys are a 1-row subquery exploded against the
    literal flip-mask set (all masks of popcount <= radius), and the
    corpus filters through ONE broadcast left-semi hash join keyed on
    (table, bucket) — a ~200-row hash table probed once per corpus
    bucket row, the join form of the previous InSet literal plan. The
    query embedding attaches through the standard 1-row broadcast
    cross join, so building this DataFrame runs ZERO Spark jobs
    (pinned by tests/test_vector.py::test_ann_lsh_build_is_lazy).

    Scale posture (100 TB): one corpus scan (the per-table bucket
    explosion is pipelined into the semi-join probe, never
    materialized); candidates alone reach the dedup shuffle and the
    top-k; the probe side is O(n_tables x probes) rows regardless of
    corpus size."""
    if not 0 <= probe_radius <= 2:
        raise ValueError(f"probe radius {probe_radius} unsupported (0..2)")
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding",
        *[
            _sign_bucket(F.col("embedding"), offset=8 * t).alias(f"bucket{t}")
            for t in range(n_tables)
        ],
    )
    q = e.where(F.col("vec_id") == query_id)
    masks = [m for m in range(256) if bin(m).count("1") <= probe_radius]
    probes = (
        q.select(
            F.posexplode(
                F.array(*[F.col(f"bucket{t}") for t in range(n_tables)])
            ).alias("tbl", "qb")
        )
        .select("tbl", F.explode(F.array(*[F.lit(m) for m in masks])).alias("mask"), "qb")
        .select(
            "tbl",
            F.lpad(
                F.bin(
                    F.conv(F.col("qb"), 2, 10).cast("long").bitwiseXOR(F.col("mask"))
                ),
                8,
                "0",
            ).alias("bkey"),
        )
    )
    exploded = e.select(
        "vec_id", "label", "embedding",
        F.posexplode(
            F.array(*[F.col(f"bucket{t}") for t in range(n_tables)])
        ).alias("tbl", "bkey"),
    )
    cand = (
        exploded.join(F.broadcast(probes), ["tbl", "bkey"], "left_semi")
        .where(F.col("vec_id") != query_id)
        .dropDuplicates(["vec_id"])
        .crossJoin(F.broadcast(q.select(
            F.col("embedding").alias("q_emb"),
            dot_fix("embedding", "embedding").alias("nb_fix"),
        )))
    )
    return (
        with_cosine(cand, "embedding", "q_emb", nb="nb_fix")
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(k)
        .select("vec_id", "label", "score")
    )


def shingle_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, sh) with the pinned trigram shingles —
    the frame-level form of :func:`shingled_documents` for callers that
    bring their own documents (streaming micro-batches, ad-hoc
    frames). Docs shorter than SHINGLE_N tokens drop out (they carry no
    signature; exact dedup upstream owns them)."""
    return (
        docs.withColumn("toks", tokens(F.col("text")))
        .where(F.size("toks") >= SHINGLE_N)
        .select("doc_id", _shingles(F.col("toks")).alias("sh"))
    )


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-source contamination matrix: for every source pair, the
    distinct token-trigram shingles they share and the shingle-set
    Jaccard — the mirror-site / syndication detector a corpus owner
    reads before trusting per-source dedup rates (two "different"
    sources with high overlap are one source twice; reference
    capability class: the dedup family's cross-doc candidates, lifted
    to the source level).

    Exactness: shared counts are exact integers over distinct
    (source, shingle-hash) pairs; Jaccard is one correctly-rounded
    division of exact integers.

    Scale posture: the shuffle key is the 16-hex shingle hash and each
    hash group holds at most |sources| rows, so the self-join's output
    is bounded by |sources|^2 per hash — never quadratic in documents
    or shingles; hash collisions only over-count overlap (the
    conservative direction). The per-source totals are a sources-sized
    broadcast. Output is |sources| choose 2 rows regardless of corpus
    size.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    sh = (
        d.withColumn("toks", tokens(F.col("text")))
        # nopush: keep the tokenize out of the single-task scan stage
        .where(nopush(F.size("toks") >= SHINGLE_N))
        .select("source", F.explode(_shingles(F.col("toks"))).alias("s"))
    )
    # cached (r15): the tokenize→shingle→sha256→distinct subtree feeds
    # THREE consumers (per-source totals + both self-join sides); the
    # r14 plan re-derived it per consumer, measured as a ×1.7 paired
    # regression (VERDICT r14 #1). One computed copy — at cluster scale
    # a persisted per-source shingle-hash table — serves all three
    # (guide §2.4).
    hs = sh.select(
        "source", F.substring(F.sha2(F.col("s"), 256), 1, 16).alias("h")
    ).distinct().cache()
    per = hs.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = hs.alias("a"), hs.alias("b")
    pair = (
        a.join(b, "h")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
    )
    pa = per.select(F.col("source").alias("source_a"), F.col("n_sh").alias("n_a"))
    pb = per.select(F.col("source").alias("source_b"), F.col("n_sh").alias("n_b"))
    return (
        pair.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a",
            "source_b",
            "shared_shingles",
            "n_a",
            "n_b",
            (
                F.col("shared_shingles").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("shared_shingles")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )


def minhash_jaccard_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration table for the MinHash estimator: for every LSH
    candidate pair, the estimated Jaccard (matching signature
    components / k) next to the exact n-gram Jaccard and the signed
    error — the table that justifies trusting the k=8 estimate as a
    pre-filter (its bias/variance is MEASURED on the corpus, not
    assumed from theory). E[est] = true Jaccard per the MinHash
    property; this query shows the realized spread at this k.

    Exactness: est_matches is an integer; ``est_jaccard`` divides by
    the constant k=8 (a power of two — exact in binary), the exact
    Jaccard is one correctly-rounded division of integer counts, and
    the error is one subtraction of those two doubles — every step
    engine-identical.

    Scale posture: same candidate generation as the dedup pass (band
    equi-join, hot-bucket cap); the signature table adds k 16-hex
    columns per doc and joins on candidate PAIRS only — the shingle
    arrays still never enter the LSH shuffle.
    """
    sh = shingled_documents(spark, sf_dir).cache()
    # same cached banded frame as dedup_minhash_pairs (identical
    # canonical plan → one shared InMemoryRelation per session): the
    # sha256 signature pass runs once, not once per join side (r14)
    bands = capped_bands(minhash_bands(sh), BAND_KEY_CAP).cache()
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    cand = (
        a.join(b, ["band", "band_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # cached: sig_a and sig_b attach by DIFFERENT keys, so without the
    # cache the 8-way sha256 signature projection would run twice (r14)
    sig = sh.select("doc_id", *_minhash_sig(F.col("sh"))).cache()
    sig_a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(MINHASH_K)],
    )
    sig_b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(MINHASH_K)],
    )
    matches = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(MINHASH_K)
    )
    ver = (
        cand.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .select("doc_a", "doc_b", matches.cast("long").alias("est_matches"))
        .join(
            sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
            "doc_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
            "doc_b",
        )
    )
    est = F.col("est_matches").cast("double") / F.lit(float(MINHASH_K))
    return ver.select(
        "doc_a",
        "doc_b",
        "est_matches",
        est.alias("est_jaccard"),
        jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"),
        (est - jaccard(F.col("sh_a"), F.col("sh_b"))).alias("est_error"),
    )


PREFIX_DUP_TOKENS = 16  # prefix fingerprint length for containment dups


def prefix_dup_groups(
    spark: SparkSession, sf_dir: str, k: int = PREFIX_DUP_TOKENS
) -> DataFrame:
    """Exact PREFIX-duplicate groups: documents sharing their first
    ``k`` tokens verbatim — the "same article, different tail"
    containment case (truncated mirrors, pagination variants) that
    whole-document hashing misses and shingle Jaccard only catches
    when the shared head dominates the length. One group row per
    distinct prefix fingerprint: member count, canonical (smallest)
    doc id, and whether the group is a duplicate cluster. Zero-token
    documents are excluded (pinned).

    Exactness: the fingerprint is ``sha256`` over the space-joined
    first-``k`` token slice — byte-identical across engines.

    Scale posture: a stateless projection into one map-side-combined
    hash agg on the fingerprint; group rows are vocabulary-of-prefixes
    sized. The downstream join back to members (when resolving) is an
    equi-join on the fingerprint, never all-pairs.
    """
    d = load_table(spark, sf_dir, "documents")
    keyed = (
        d.select("doc_id", tokens(F.col("text")).alias("toks"))
        .where(F.size("toks") > 0)
        .select(
            "doc_id",
            F.sha2(F.concat_ws(" ", F.slice("toks", 1, int(k))), 256).alias(
                "prefix_key"
            ),
        )
    )
    return keyed.groupBy("prefix_key").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("canonical_doc_id"),
    ).select(
        "prefix_key",
        "n_docs",
        "canonical_doc_id",
        (F.col("n_docs") > 1).alias("is_dup_group"),
    )


def ann_recall_report(
    spark: SparkSession, sf_dir: str, n_queries: int = 5, k: int = 10,
    n_centroids: int = IVF_CENTROIDS, nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """Recall@k of the IVF probe path MEASURED against the exact
    baseline, per query, as a first-class driver query — the number a
    pipeline owner reads before trusting approximate retrieval for
    dedup or eval-set mining (the repo's standing rule: recall of
    every approximate path is measured, never assumed — this elevates
    the measurement from the test suite into the oracle-checked
    surface).

    For each of the first ``n_queries`` stored vectors: the exact
    cosine top-``k`` (self excluded), the IVF top-``k`` probing
    ``nprobe`` of ``n_centroids`` cells, and their overlap.
    Deterministic end to end: fixed-point BIGINT dots, pinned
    (score desc, vec_id asc) tie-breaks.

    Scale posture: the batched form of both sides — queries broadcast
    (Q rows), the corpus streams once through the exact side and once
    through the cell-pruned candidate side; every per-query cut is a
    rank-filter under a (query_id)-partitioned window; the recall join
    touches 2·Q·k id pairs.
    """
    e = load_table(spark, sf_dir, "embeddings")
    cent, cells = ivf_assigned(e, n_centroids)
    q = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        dot_fix("embedding", "embedding").alias("nb_fix"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )

    def _scored(cand: DataFrame) -> DataFrame:
        cand = cand.where(F.col("vec_id") != F.col("query_id"))
        return (
            with_cosine(cand, "embedding", "q_emb", nb="nb_fix")
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k)
            .select("query_id", "vec_id")
        )

    exact = _scored(e.crossJoin(F.broadcast(q)))
    wp = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("cid").asc()
    )
    probes = (
        cent.crossJoin(F.broadcast(q))
        .withColumn("qdot", dot_fix("cemb", "q_emb"))
        .withColumn("_rn", F.row_number().over(wp))
        .where(F.col("_rn") <= nprobe)
        .select("query_id", "cid")
    )
    ivf = _scored(
        cells.join(F.broadcast(probes), "cid").join(F.broadcast(q), "query_id")
    )
    overlap = exact.join(ivf, ["query_id", "vec_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    return (
        q.select("query_id")
        .join(overlap, "query_id", "left")
        .select(
            "query_id",
            F.lit(int(k)).alias("k"),
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            (
                F.coalesce("n_overlap", F.lit(0)).cast("double") / F.lit(float(k))
            ).alias("recall_at_k"),
        )
    )


def gram_novelty_by_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document shingle novelty (oracle ✔): for each document (in
    doc_id order — the corpus's ingest order), the fraction of its
    distinct token trigrams that NO earlier document contains. The
    marginal-content view of dedup: a doc can be far from any single
    neighbor (no near-dup pair fires) yet contribute almost nothing
    new because its grams are scattered across the corpus — exactly
    the redundancy class n-gram language-model dedup (CCNet, Gopher)
    targets and pairwise Jaccard cannot see.

    Novelty needs no pairwise comparison at all: a gram's FIRST
    document is ``min(doc_id)`` over the gram's postings, so
    ``n_novel(d) = |{g : first_doc(g) = d}|`` falls out of regrouping
    the first-occurrence table — two hash aggs and a doc-sized join,
    never a gram-keyed join back onto the exploded stream and never a
    doc×doc product. Docs under 3 tokens carry no shingles and are
    out of grain (same rule as ``shingled_documents``).

    Scale posture (100 TB): the exploded gram stream shuffles once
    into per-gram min-doc (map-side partial min), once into per-doc
    gram counts; everything after is doc-count-sized. This is the
    streaming-friendly form of "what does one more source add" —
    the same aggregates fold incrementally as new docs arrive.
    """
    # cached (r15): the two aggregation branches (per-doc counts,
    # per-gram first-doc) otherwise each re-run the tokenize→shingle
    # derivation — their exchanges differ (doc_id vs g), so no stage
    # reuse bridges them. Same canonical plan as the MinHash chain's
    # cached shingle frame → one shared session IMR, no extra memory.
    grams = shingled_documents(spark, sf_dir).cache().select(
        "doc_id", F.explode("sh").alias("g")
    )
    n_grams = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    novel = (
        grams.groupBy("g")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        n_grams.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            (
                F.coalesce("n_novel", F.lit(0)).cast("double")
                / F.col("n_grams").cast("double")
            ).alias("novelty_rate"),
        )
    )


def source_marginal_utility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal utility per source (oracle ✔): aggregate the per-doc
    shingle novelty over ``documents.source`` — how much genuinely new
    content each source adds to the corpus in ingest order, the number
    that prices "should we keep paying for this feed". Sums of the
    per-doc BIGINT counts with one final division; a source whose
    ``novelty_rate`` collapses toward 0 is re-delivering content the
    corpus already has even if its documents are not near-dups of any
    single earlier document.

    Scale posture: rides ``gram_novelty_by_doc``'s two-hash-agg shape;
    the source join touches the doc-sized aggregate against a pruned
    2-column documents scan, then one ≤ |sources|-row agg.
    """
    per_doc = gram_novelty_by_doc(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        per_doc.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_grams").alias("n_grams"),
            F.sum("n_novel").alias("n_novel"),
        )
        .select(
            "source",
            "n_docs",
            "n_grams",
            "n_novel",
            (
                F.col("n_novel").cast("double") / F.col("n_grams").cast("double")
            ).alias("novelty_rate"),
        )
    )


#: containment threshold as an exact rational (9/10) — thresholding is
#: all-integer (10·|A∩B| ≥ 9·|A|) so no engine's float ulp can move a
#: boundary pair; 0.9·m via floats would (IEEE 0.9·30 = 27.000…0004,
#: ceil = 28 — off by one vs exact arithmetic).
CONTAINMENT_NUM, CONTAINMENT_DEN = 9, 10


def containment_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup pairs (oracle ✔): ordered pairs
    (doc_a, doc_b) where at least 9/10 of doc_a's distinct token
    trigrams also occur in doc_b — the truncated-mirror / pagination /
    quote-expansion class that symmetric Jaccard MISSES by
    construction (a snippet fully inside a 100× longer doc has
    Jaccard ≈ |A|/|B| ≈ 0.01, so MinHash bands never bucket them).

    Candidates come from the prefix filter (Vernica et al., SIGMOD'10):
    sort each doc's shingles by global document frequency (rarest
    first), keep the first ``m − ⌈t·m⌉ + 1``, and equi-join those
    prefix shingles against the full posting list. COMPLETE by
    pigeonhole: containment ≥ t means doc_a has at most ``m − ⌈t·m⌉``
    shingles outside doc_b, which is fewer than the prefix — so some
    prefix shingle must be in doc_b and the pair surfaces. The prefix
    length uses exact integer ceiling ``(9·m + 9) div 10``; the final
    gate is ``10·|A∩B| ≥ 9·|A|``.

    Scale posture: never all-pairs — candidates are an equi-join on
    shingle keys, and candidate volume is Σ_prefix df(g), which
    rare-first ordering actively minimizes (the filter's entire
    point: common boilerplate grams never generate candidates because
    they never land in a prefix). Document frequencies are one hash
    agg; the per-doc rank window runs over doc-bounded shingle sets;
    verify joins the shingle arrays onto DEDUPLICATED candidate pairs
    only, same shape as :func:`dedup_minhash_pairs`.
    """
    t_num, t_den = CONTAINMENT_NUM, CONTAINMENT_DEN
    sh = shingled_documents(spark, sf_dir).cache()
    grams = sh.select("doc_id", F.explode("sh").alias("g"))
    df_cnt = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df_cnt"))
    wr = Window.partitionBy("doc_id").orderBy(
        F.col("df_cnt").asc(), F.col("g").asc()
    )
    prefix = (
        grams.join(df_cnt, "g")
        .withColumn("_r", F.row_number().over(wr))
        .join(sh.select("doc_id", F.size("sh").alias("m")), "doc_id")
        .where(
            F.col("_r")
            <= F.col("m") - F.expr(f"({t_num} * m + {t_den - 1}) div {t_den}") + 1
        )
        .select(F.col("doc_id").alias("doc_a"), "g")
    )
    cand = (
        prefix.join(grams.select(F.col("doc_id").alias("doc_b"), "g"), "g")
        .where(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    verify = cand.join(
        sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a"
    ).join(
        sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b"
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        verify.withColumn("n_overlap", inter.cast("long"))
        .where(
            F.lit(t_den) * F.col("n_overlap")
            >= F.lit(t_num) * F.size("sh_a").cast("long")
        )
        .select(
            "doc_a",
            "doc_b",
            F.size("sh_a").cast("long").alias("n_a"),
            F.size("sh_b").cast("long").alias("n_b"),
            "n_overlap",
            (
                F.col("n_overlap").cast("double")
                / F.size("sh_a").cast("double")
            ).alias("containment"),
        )
    )


#: vocabulary-growth checkpoint spacing (docs per checkpoint)
VOCAB_CHECKPOINT = 50


def vocab_growth_curve(
    spark: SparkSession, sf_dir: str, step: int = VOCAB_CHECKPOINT
) -> DataFrame:
    """Vocabulary growth (Heaps-law) curve (oracle ✔): at every
    ``step``-doc checkpoint of the corpus in doc_id order, the exact
    cumulative number of distinct token trigrams seen so far beside
    the cumulative gram occurrences — the saturation curve that tells
    a data buyer whether the next tranche of a source still grows the
    vocabulary or just re-spends tokens on known content (the
    corpus-level integral of ``gram_novelty_by_doc``).

    Same no-pairwise machinery as the novelty op: a gram's first
    occurrence is ``min(doc_id)`` over its postings, so distinct-seen
    at checkpoint d is ONE cumulative sum over the per-checkpoint
    first-occurrence counts. Occurrences cumulate the same way. Both
    windows run over the ≤ |corpus|/step checkpoint rows, never the
    gram stream.

    Scale posture: two hash aggs on the exploded gram stream (per-gram
    min-doc; per-checkpoint counts), then window arithmetic over
    checkpoint-count-sized frames. At 100 TB the checkpoint grain is
    the dial — the heavy work is identical to the novelty op and
    shares its incremental-fold property.
    """
    grams = shingled_documents(spark, sf_dir).select(
        "doc_id", F.explode("sh").alias("g")
    )
    ck = F.expr(f"(doc_id div {int(step)}) * {int(step)}").alias("checkpoint")
    occ = grams.groupBy(ck).agg(F.count(F.lit(1)).alias("occ"))
    first = (
        grams.groupBy("g")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy(ck)
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    w = (
        Window.orderBy("checkpoint")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        occ.join(first, "checkpoint", "left")
        .select(
            "checkpoint",
            F.col("occ"),
            F.coalesce("new_types", F.lit(0)).alias("new_types"),
        )
        .withColumn("cum_occurrences", F.sum("occ").over(w))
        .withColumn("cum_types", F.sum("new_types").over(w))
        .select(
            "checkpoint",
            F.col("new_types").cast("long").alias("new_types"),
            F.col("cum_types").cast("long").alias("cum_types"),
            F.col("cum_occurrences").cast("long").alias("cum_occurrences"),
            (
                F.col("cum_types").cast("double")
                / F.col("cum_occurrences").cast("double")
            ).alias("type_token_ratio"),
        )
    )


SPAN_ANCHOR_N = 8      # anchor gram width == the minimum detectable span
SPAN_MIN_TOKENS = 12   # report pairs whose longest shared span reaches this


def shared_span_pairs(
    spark: SparkSession,
    sf_dir: str,
    anchor_n: int = SPAN_ANCHOR_N,
    min_span: int = SPAN_MIN_TOKENS,
) -> DataFrame:
    """Exact-substring dedup at SPAN grain (oracle ✔): for every
    document pair sharing a verbatim token run of at least ``min_span``
    tokens, the length of their LONGEST shared run — the Lee et al.
    2022 "Deduplicating Training Data Makes Language Models Better"
    substring class that fixed-n ``dup_ngram_stats`` only approximates
    (a 90-token verbatim quote and nine scattered trigrams look the
    same to a fixed-n counter; they are very different curation
    problems).

    Algorithm (exact, no suffix array needed): any shared run of
    length ``s >= anchor_n`` contains a shared ``anchor_n``-gram at
    every one of its ``s - anchor_n + 1`` offsets, all with the SAME
    position difference ``pa - pb`` — so after an equi-join of gram
    occurrences on the gram hash, the longest run per (pair, diff) is
    ``anchor_n + L - 1`` where L is the longest consecutive-position
    streak, recovered with the classic ``pos - row_number()`` run-group
    trick. No chunking, so spans can never straddle an artificial
    boundary; runs are exact to the token.

    Scale posture (100 TB): documents NEVER self-join — the pair space
    comes from the gram-hash equi-join (shuffle on a 64-bit key,
    AQE-splittable), and only pairs already sharing a full
    ``anchor_n``-gram survive to the window stage, whose partition key
    (doc_a, doc_b, diff) is the candidate-pair grain, not the corpus
    grain. Gram payloads shuffle as xxhash64 values, never as text.
    Boilerplate grams shared by thousands of docs quadratically
    inflate the candidate join exactly as in ``dedup_minhash_pairs``;
    at corpus scale run ``boilerplate_span_audit`` / the scrub first,
    or cap postings per gram (a recall dial this fixture doesn't need).
    """
    # gated spread: the single-split fixture scan widens so the
    # tokenize+gram+hash projection parallelizes (cluster scans keep
    # their partitioning)
    d = spread(load_table(spark, sf_dir, "documents"))
    # nopush: pushed below the spread() exchange this filter would
    # inline the tokenize into the single-task scan stage and run it
    # a second time there (see session.nopush)
    t = d.select("doc_id", tokens(F.col("text")).alias("toks")).where(
        nopush(F.size("toks") >= anchor_n)
    )
    occ = t.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(toks) - {anchor_n - 1}),"
                f" i -> xxhash64(concat_ws(' ', slice(toks, i, {anchor_n}))))"
            )
        ).alias("p0", "gh"),
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "gh")
    # alias self-join over ONE occurrence frame (r14): the two-renamed-
    # projection form planned two Exchanges, each re-running tokenize +
    # gram-hash explode; the literal-same plan on both sides dedups
    # them into one Exchange + ReusedExchange (guide §2.4)
    aligned = (
        occ.alias("a")
        .join(occ.alias("b"), F.col("a.gh") == F.col("b.gh"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.p").alias("pa"),
            (F.col("a.p") - F.col("b.p")).alias("diff"),
        )
        .distinct()
    )
    w = Window.partitionBy("doc_a", "doc_b", "diff").orderBy("pa")
    runs = (
        aligned.withColumn("grp", F.col("pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diff", "grp")
        .agg((F.count(F.lit(1)) + F.lit(anchor_n - 1)).alias("span"))
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(F.max("span").cast("long").alias("longest_span_tokens"))
        .where(F.col("longest_span_tokens") >= min_span)
    )


def span_dup_token_stats(
    spark: SparkSession,
    sf_dir: str,
    anchor_n: int = SPAN_ANCHOR_N,
    min_span: int = SPAN_MIN_TOKENS,
) -> DataFrame:
    """Per-source span-duplication budget (oracle ✔): what fraction of
    each source's TOKENS sits inside a verbatim shared run of at least
    ``min_span`` tokens — the Lee et al. 2022 headline number ("N% of
    the corpus is in duplicated substrings") at the grain a curation
    plan spends: tokens, not pairs. ``shared_span_pairs`` answers
    "which pairs"; this answers "how much is there to cut, and from
    whose budget".

    Same aligned-run recovery as :func:`shared_span_pairs`; each
    qualifying run then projects a CLOSED token interval into BOTH
    documents, per-doc intervals merge with the classic
    gaps-and-islands running-max (overlapping spans from different
    partners must not double-count a token), and island lengths roll
    up doc → source. All integer arithmetic plus one final division.

    Scale posture (100 TB): identical candidate shape to
    shared_span_pairs (gram-hash equi-join, never doc×doc); the
    interval-merge window partitions by doc_id — corpus-parallel,
    bounded by spans-per-doc, no global sort.
    """
    # gated spread: the single-split fixture scan widens so the
    # tokenize+gram+hash projection parallelizes (cluster scans keep
    # their partitioning)
    d = spread(load_table(spark, sf_dir, "documents"))
    t = d.select("doc_id", "source", tokens(F.col("text")).alias("toks"))
    # nopush (size filter) + alias self-join over ONE occurrence frame
    # (r14): same two fixes as shared_span_pairs — keep the tokenize out
    # of the single-task scan stage, and dedup the two candidate-side
    # Exchanges into one Exchange + ReusedExchange (guide §2.4)
    occ = (
        t.where(nopush(F.size("toks") >= anchor_n))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {anchor_n - 1}),"
                    f" i -> xxhash64(concat_ws(' ', slice(toks, i, {anchor_n}))))"
                )
            ).alias("p0", "gh"),
        )
        .select("doc_id", (F.col("p0") + 1).alias("p"), "gh")
    )
    aligned = (
        occ.alias("a")
        .join(occ.alias("b"), F.col("a.gh") == F.col("b.gh"))
        .where(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.p").alias("pa"),
            (F.col("a.p") - F.col("b.p")).alias("diff"),
        )
        .distinct()
    )
    w = Window.partitionBy("doc_a", "doc_b", "diff").orderBy("pa")
    runs = (
        aligned.withColumn("grp", F.col("pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diff", "grp")
        .agg(
            F.min("pa").alias("a_start"),
            (F.count(F.lit(1)) + F.lit(anchor_n - 1)).alias("span"),
        )
        .where(F.col("span") >= min_span)
    )
    # doc_a != doc_b (not <) above, so every run already appears once
    # from each document's perspective — project each doc's own interval
    intervals = runs.select(
        F.col("doc_a").alias("doc_id"),
        F.col("a_start").alias("lo"),
        (F.col("a_start") + F.col("span") - 1).alias("hi"),
    ).distinct()
    iw = Window.partitionBy("doc_id").orderBy("lo", "hi")
    islands = (
        intervals.withColumn(
            "prev_hi",
            F.max("hi").over(iw.rowsBetween(Window.unboundedPreceding, -1)),
        )
        .withColumn(
            "new_island",
            F.when(
                F.col("prev_hi").isNull() | (F.col("lo") > F.col("prev_hi")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("island", F.sum("new_island").over(iw))
        .groupBy("doc_id", "island")
        .agg((F.max("hi") - F.min("lo") + 1).alias("ilen"))
        .groupBy("doc_id")
        .agg(F.sum("ilen").alias("covered"))
    )
    per_doc = t.select("doc_id", "source", F.size("toks").alias("n_toks")).join(
        islands, "doc_id", "left"
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
            F.sum(F.coalesce("covered", F.lit(0))).cast("long").alias("dup_span_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "dup_span_tokens",
            (
                F.col("dup_span_tokens").cast("double")
                / F.col("total_tokens").cast("double")
            ).alias("dup_token_ratio"),
        )
    )


def span_scrub_plan(
    spark: SparkSession,
    sf_dir: str,
    anchor_n: int = SPAN_ANCHOR_N,
    min_span: int = SPAN_MIN_TOKENS,
) -> DataFrame:
    """Span-grain scrub PLAN (oracle ✔): the "act" step after
    :func:`shared_span_pairs` (detect) and :func:`span_dup_token_stats`
    (measure) — for every verbatim shared run of >= ``min_span``
    tokens, the canonical copy stays with the LOWEST doc_id (the same
    keep-min rule as ``dedup_exact``) and every other doc gets a cut
    interval. Output: one row per merged cut interval
    (doc_id, cut_lo, cut_hi, cut_tokens), 1-based token positions,
    overlapping cuts from different partners already UNIONed per doc —
    directly executable against the token stream.

    Pairwise keep-lowest is the public Lee et al. 2022 greedy
    approximation of remove-all-but-one-occurrence: a doc cuts a region
    iff SOME lower doc carries the same run, so at least one copy (the
    globally lowest doc_id's) always survives.

    Scale posture (100 TB): identical candidate shape to
    shared_span_pairs (gram-hash equi-join, never doc×doc); cuts merge
    in a doc-partitioned window, bounded by spans-per-doc.
    """
    # gated spread: the single-split fixture scan widens so the
    # tokenize+gram+hash projection parallelizes (cluster scans keep
    # their partitioning)
    d = spread(load_table(spark, sf_dir, "documents"))
    # nopush (size filter) + alias self-join over ONE occurrence frame
    # (r14) — same two fixes as shared_span_pairs
    t = d.select("doc_id", tokens(F.col("text")).alias("toks")).where(
        nopush(F.size("toks") >= anchor_n)
    )
    occ = t.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(toks) - {anchor_n - 1}),"
                f" i -> xxhash64(concat_ws(' ', slice(toks, i, {anchor_n}))))"
            )
        ).alias("p0", "gh"),
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "gh")
    # keep-lowest: only the HIGHER doc of a pair accrues cut intervals,
    # so orient the join low -> high and track the HIGH side's positions
    aligned = (
        occ.alias("a")
        .join(occ.alias("b"), F.col("a.gh") == F.col("b.gh"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.p").alias("pb"),
            (F.col("b.p") - F.col("a.p")).alias("diff"),
        )
        .distinct()
    )
    w = Window.partitionBy("doc_a", "doc_b", "diff").orderBy("pb")
    cuts = (
        aligned.withColumn("grp", F.col("pb") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diff", "grp")
        .agg(
            F.min("pb").alias("lo"),
            (F.count(F.lit(1)) + F.lit(anchor_n - 1)).alias("span"),
        )
        .where(F.col("span") >= min_span)
        .select(
            F.col("doc_b").alias("doc_id"),
            "lo",
            (F.col("lo") + F.col("span") - 1).alias("hi"),
        )
        .distinct()
    )
    iw = Window.partitionBy("doc_id").orderBy("lo", "hi")
    return (
        cuts.withColumn(
            "prev_hi",
            F.max("hi").over(iw.rowsBetween(Window.unboundedPreceding, -1)),
        )
        .withColumn(
            "new_island",
            F.when(
                F.col("prev_hi").isNull() | (F.col("lo") > F.col("prev_hi")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("island", F.sum("new_island").over(iw))
        .groupBy("doc_id", "island")
        .agg(F.min("lo").alias("cut_lo"), F.max("hi").alias("cut_hi"))
        .select(
            "doc_id",
            "cut_lo",
            "cut_hi",
            (F.col("cut_hi") - F.col("cut_lo") + 1).cast("long").alias("cut_tokens"),
        )
    )


def incremental_span_pairs(
    spark: SparkSession,
    sf_dir: str,
    anchor_n: int = SPAN_ANCHOR_N,
    min_span: int = SPAN_MIN_TOKENS,
) -> DataFrame:
    """Incremental (batch-vs-corpus) SPAN dedup (oracle ✔) — the ingest
    form of :func:`shared_span_pairs`, completing the span family the
    way ``incremental_minhash_pairs`` completes MinHash: today's batch
    joins the STORED corpus gram-posting table, so cost scales with
    |batch| x postings width, never |corpus|²; the corpus is never
    re-self-joined. Same pinned residue split (doc_id % 5 == 4 plays
    the batch) as the MinHash incremental.

    Output: one row per (new doc, corpus doc) pair sharing a verbatim
    run of >= ``min_span`` tokens, with the longest such run — the
    lookup an ingest gate does before admitting a document whose text
    verbatim-quotes the corpus.

    Scale posture: the stored side is the persisted (gh, doc, pos)
    posting table ingest maintains; the batch side is small, so the
    gram join broadcasts it when it fits; run recovery windows
    partition by the candidate pair exactly as in the self-join form.
    """
    # gated spread: the single-split fixture scan widens so the
    # tokenize+gram+hash projection parallelizes (cluster scans keep
    # their partitioning)
    d = spread(load_table(spark, sf_dir, "documents"))
    # nopush: keep the tokenize out of the single-task scan stage (r14)
    t = d.select("doc_id", tokens(F.col("text")).alias("toks")).where(
        nopush(F.size("toks") >= anchor_n)
    )
    occ = t.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(toks) - {anchor_n - 1}),"
                f" i -> xxhash64(concat_ws(' ', slice(toks, i, {anchor_n}))))"
            )
        ).alias("p0", "gh"),
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "gh")
    is_batch = F.col("doc_id") % INCREMENTAL_MOD == INCREMENTAL_BATCH_RESIDUE
    corpus = occ.where(~is_batch).select(
        F.col("doc_id").alias("corpus_doc"), F.col("p").alias("pc"), "gh"
    )
    batch = occ.where(is_batch).select(
        F.col("doc_id").alias("new_doc"), F.col("p").alias("pn"), "gh"
    )
    aligned = (
        batch.join(corpus, "gh")
        .select(
            "new_doc", "corpus_doc", "pn", (F.col("pn") - F.col("pc")).alias("diff")
        )
        .distinct()
    )
    w = Window.partitionBy("new_doc", "corpus_doc", "diff").orderBy("pn")
    runs = (
        aligned.withColumn("grp", F.col("pn") - F.row_number().over(w))
        .groupBy("new_doc", "corpus_doc", "diff", "grp")
        .agg((F.count(F.lit(1)) + F.lit(anchor_n - 1)).alias("span"))
    )
    return (
        runs.groupBy("new_doc", "corpus_doc")
        .agg(F.max("span").cast("long").alias("longest_span_tokens"))
        .where(F.col("longest_span_tokens") >= min_span)
    )


# --- round-10 additions ---

DENSITY_TAU = 0.2      # neighbor similarity floor (looser than the 0.4 dup cut)
DENSITY_MIN_PTS = 2    # neighbors below this => semantic outlier


def lsh_density_outliers(
    spark: SparkSession, sf_dir: str,
    tau: float = DENSITY_TAU, min_pts: int = DENSITY_MIN_PTS,
) -> DataFrame:
    """Density-based semantic outlier labels over the embedding corpus
    (the DBSCAN core-point test, LSH-bucketed): a vector is an OUTLIER
    when fewer than ``min_pts`` other vectors sit within cosine ≥ τ of
    it among its multi-probe sign-LSH candidates — the curation filter
    that flags mislabeled/garbage embeddings no near-DUP threshold
    catches (an outlier has no neighbors at ANY dup cut).

    Candidates come from the SAME Hamming-1 bucket join
    as neardup_embedding_pairs — never all-pairs — so the density is
    computed over the LSH neighborhood, the deliberate scale semantics
    (a vector's true neighbors outside every probed bucket are the
    algorithm's known recall dial, measured by ann_recall_report). The
    oracle implements the identical probed algorithm, so parity is
    exact, not approximate.

    Scale posture: one embeddings scan → directional probe explode →
    bucket equi-join → exact fixed-point verify → per-vec hash agg
    joined back broadcast-from-agg. The bucket space is 2^bits, so
    per-bucket occupancy — and with it candidate volume, which is
    quadratic per bucket — stays constant only if ``bits`` grows with
    log2 of the corpus (measured in history/SCALEUP_STAGED_r9.json: at
    10× corpus under FIXED bits the candidate set grows ~100×); the
    plan sizes it adaptively (see SIGN_TARGET_OCCUPANCY). No pair
    dedup: each candidate pair matches exactly one probe (see
    neardup_embedding_pairs).
    """
    # per-vector self-norm on the scan side, never per candidate — see
    # neardup_embedding_pairs (same measured 2/3-of-verify saving);
    # spread() parallelizes the self-dot + probe explode map work off a
    # single-split scan (gated)
    e0 = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", "embedding",
        dot_fix("embedding", "embedding").alias("n_fix"),
    )
    e = adaptive_sign_frame(e0, ["vec_id", "label", "embedding", "n_fix"])
    a = e.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"),
        F.col("n_fix").alias("na_fix"),
        F.explode(F.expr(_DIRECTIONAL_PROBES)).alias("p"),
    ).select(
        "vec_a", "emb_a", "na_fix",
        F.col("p.pb").alias("bucket"), F.col("p.self").alias("is_self"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"),
        F.col("n_fix").alias("nb_fix"), "bucket",
    )
    # The candidate relation is SYMMETRIC (hamming(bucket_a, bucket_b)
    # <= 1 is direction-free and all rows share the same bits), and so
    # is the cosine — so verify each unordered pair ONCE and credit
    # both endpoints afterwards. The per-candidate 64-dim fixed-point
    # dot is an interpreted higher-order expression (outside codegen)
    # and dominates the 100x wall; the DIRECTIONAL probe set (see
    # _DIRECTIONAL_PROBES: same-bucket pairs keep vec_a < vec_b; a
    # directed flip emits its cross-bucket pair exactly once in either
    # orientation) halves it with token-identical output (r13).
    cand = (
        a.join(b, "bucket")
        .where((~F.col("is_self")) | (F.col("vec_a") < F.col("vec_b")))
        .where(F.col("vec_a") != F.col("vec_b"))
    )
    neighbor_ends = (
        with_cosine(cand, "emb_a", "emb_b", na="na_fix", nb="nb_fix")
        .where(F.col("score") >= F.lit(tau))
        .select(F.explode(F.array("vec_a", "vec_b")).alias("vec"))
    )
    counts = neighbor_ends.groupBy(F.col("vec").alias("vec_a")).agg(
        F.count(F.lit(1)).alias("n_neighbors")
    )
    return (
        e.join(counts, e.vec_id == counts.vec_a, "left")
        .select(
            "vec_id",
            "label",
            F.coalesce(F.col("n_neighbors"), F.lit(0).cast("long")).alias("n_neighbors"),
            (
                F.coalesce(F.col("n_neighbors"), F.lit(0).cast("long"))
                < F.lit(min_pts)
            ).alias("is_outlier"),
        )
    )


# --- round-10 staged additions, batch 2 (adaptive-dial diagnostics) ---

RECALL_SAMPLE_N = 200  # probe sample for the linear-cost pair-recall estimate


def embedding_bucket_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Occupancy histogram of the ADAPTIVE sign-LSH bucket space — the
    scale diagnostic behind the ``bits`` dial: (bits, occupancy,
    n_buckets), occupancy ascending. Healthy = mass concentrated near
    SIGN_TARGET_OCCUPANCY with no giant bucket; a fat tail here is the
    early warning that candidate volume (quadratic per bucket) is about
    to blow up — the measured failure mode of the r9 fixed-8-bit
    queries (history/SCALEUP_STAGED_r9.json). One scan + two hash aggs; output
    is <= max-occupancy rows.
    """
    e = adaptive_sign_frame(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        ["vec_id"],
    )
    per_bucket = e.groupBy("bits", "bucket").agg(
        F.count(F.lit(1)).alias("occupancy")
    )
    return (
        per_bucket.groupBy("bits", "occupancy")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
        .select(
            F.col("bits").cast("int").alias("bits"),
            F.col("occupancy").cast("long").alias("occupancy"),
            F.col("n_buckets").cast("long").alias("n_buckets"),
        )
    )


def neardup_lsh_recall_report(
    spark: SparkSession, sf_dir: str, threshold: float = EMB_COS_THRESHOLD,
    sample_n: int = RECALL_SAMPLE_N,
) -> DataFrame:
    """Measured pair recall of the adaptive multi-probe sign-LSH against
    the EXACT cosine-threshold ground truth, restricted to pairs
    touching a deterministic probe sample (vec_id < ``sample_n``) — the
    repo's standing rule (recall of every approximate path is measured,
    never assumed; see ann_recall_report) applied to the near-dup pair
    join the dial now sizes.

    Scale posture: the exact side is sample x corpus — LINEAR in the
    corpus (the sample broadcasts), never all-pairs; the LSH side is
    the production pair query filtered to the sample. Output is ONE
    row: (bits, n_sample_pairs, n_hit, recall_micro); recall_micro =
    hit*1e6 div true (NULL when no true pair exists).
    """
    # norms precomputed per SIDE, not per pair: dot_fix is a
    # higher-order-function expression (interpreted, no codegen), and
    # the r11 form evaluated both self-norms once per CANDIDATE ROW —
    # |sample|× redundant for the corpus norm, |corpus|× for the
    # sample norm. Same values (same expression over the same vector),
    # one third the HOF evaluations (r12). spread(): the |corpus| ×
    # |sample| pair dots are the heavy map stage — a single-split scan
    # would serialize them (gated, no-op on a parallel cluster scan).
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding",
        dot_fix("embedding", "embedding").alias("nb_fix"),
    )
    s = e.where(F.col("vec_id") < sample_n).select(
        F.col("vec_id").alias("s_id"), F.col("embedding").alias("s_emb"),
        F.col("nb_fix").alias("na_fix"),
    )
    cand = e.crossJoin(F.broadcast(s)).where(F.col("vec_id") != F.col("s_id"))
    truth = (
        with_cosine(cand, "s_emb", "embedding", na="na_fix", nb="nb_fix")
        .where(F.col("score") >= F.lit(threshold))
        .select(
            F.least("s_id", "vec_id").alias("vec_a"),
            F.greatest("s_id", "vec_id").alias("vec_b"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    lsh = neardup_embedding_pairs(spark, sf_dir, threshold).where(
        (F.col("vec_a") < sample_n) | (F.col("vec_b") < sample_n)
    )
    hit = truth.join(lsh.select("vec_a", "vec_b"), ["vec_a", "vec_b"], "left_semi")
    nb = e.agg(
        F.least(
            F.lit(MAX_SIGN_BITS),
            F.greatest(
                F.lit(MIN_SIGN_BITS),
                F.length(
                    F.bin(
                        F.expr(
                            f"greatest(count(1) div {SIGN_TARGET_OCCUPANCY}, 1)"
                        )
                    )
                ),
            ),
        )
        .cast("int")
        .alias("bits")
    )
    counts = truth.agg(F.count(F.lit(1)).alias("n_sample_pairs")).crossJoin(
        F.broadcast(hit.agg(F.count(F.lit(1)).alias("n_hit")))
    )
    return (
        counts.crossJoin(F.broadcast(nb))
        .select(
            "bits",
            F.col("n_sample_pairs").cast("long").alias("n_sample_pairs"),
            F.col("n_hit").cast("long").alias("n_hit"),
            F.expr(
                "CASE WHEN n_sample_pairs > 0"
                " THEN n_hit * 1000000L div n_sample_pairs END"
            ).alias("recall_micro"),
        )
    )


SWEEP_THRESHOLDS = (20, 30, 40, 50, 60, 70, 80)


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-count-vs-threshold curve over the verified MinHash
    candidates — the number a pipeline owner reads to PICK the dedup
    threshold (too low deletes paraphrases, too high keeps mirrors):
    for each threshold_pct in 20..80, how many candidate pairs would
    the dedup keep. One verify pass at the loosest cut (0.2), then a
    7-way conditional count — the sweep costs one query, not seven.

    Scale posture: rides the production banded-LSH candidate chain
    (hot-band capped, never all-pairs); the sweep explode multiplies
    the <= |candidates| verified rows by 7 BEFORE a tiny hash agg.
    Zero-count thresholds stay in the output (conditional agg, no
    post-filter drop).
    """
    pairs = dedup_minhash_pairs(spark, sf_dir, threshold=0.2)
    t = F.explode(
        F.array(*[F.lit(p) for p in SWEEP_THRESHOLDS])
    ).alias("threshold_pct")
    return (
        pairs.select("jaccard", t)
        .groupBy("threshold_pct")
        .agg(
            F.sum(
                (F.col("jaccard") >= F.col("threshold_pct") / F.lit(100.0))
                .cast("long")
            ).alias("n_pairs")
        )
        .select(
            F.col("threshold_pct").cast("int").alias("threshold_pct"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
        )
    )


def neardup_source_flow_matrix(
    spark: SparkSession, sf_dir: str, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Source×source near-duplicate flow: verified MinHash pairs
    labeled with both endpoints' sources, canonicalized (src_a ≤
    src_b), counted, and expressed as a share of all pairs. The
    cross-source cells answer the curation question
    ``near_duplicate_rate_by_source`` can't: WHICH sources duplicate
    into which (mirror sites, syndication) vs within themselves.

    Exact: pair counts are integers; ``share_micro = n·1e6 div total``.

    Scale posture: reuses the banded-LSH verified pairs (never
    all-pairs); the two source lookups are doc_id-keyed joins of a
    2-column projection; the matrix is at most |sources|² rows and the
    grand total a 1-row broadcast.
    """
    pairs = dedup_minhash_pairs(spark, sf_dir, threshold).select("doc_a", "doc_b")
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    labeled = pairs.join(
        src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_1")),
        "doc_a",
    ).join(
        src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_2")),
        "doc_b",
    )
    counts = (
        labeled.select(
            F.least("src_1", "src_2").alias("src_a"),
            F.greatest("src_1", "src_2").alias("src_b"),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    total = counts.agg(F.sum("n_pairs").alias("total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "src_a",
        "src_b",
        "n_pairs",
        F.expr("n_pairs * 1000000L div total").alias("share_micro"),
    )
