"""Tier-2 forensic queries — the reference's entry point 3 end-to-end.

Capability parity (semantics, not code) with
``app/services/forensic_analysis_service.py:17-96``:

* **cluster search** (`POST /analysis/tier2/clusters`, `:17-74`):
  optional time range (P1) + optional ``text_filter`` that becomes BOTH
  a full-text all-terms predicate (P3) AND the dense query vector
  (F6); grouped best-hit-per-rhythm_hash (V2/W1); global re-sort +
  limit (K1/A5); response shaping (P8).
* **zero-vector search** (V3, `:25`): with no text filter the
  reference's query vector is all-zeros and result order is
  engine-noise; this engine pins the documented deterministic order —
  ``count`` desc, then ``rhythm_hash`` (SURVEY.md §7.4 decision 4).
* **triage / recommend** (`POST /analysis/tier2/triage`, `:75-96`, V4):
  Qdrant average_vector strategy ``q = 2*avg(pos) - avg(neg)`` over the
  example clusters' embeddings, examples excluded, top-50.
* **federation** (S8/S9/V5): a time window prunes the date-partitioned
  tier2; no fan-out code exists because the partitioned table IS the
  federation.

The tier2 input is built from the fixture by the SAME detection →
promotion pipeline the driver verifies (promotion_rollup), and cluster
bodies are embedded with the deterministic hashing-trick embedder
(functions.embed) — so every query here is value-exact against its
DuckDB oracle, including the vector scores.

Scale posture (100 TB): every scored path builds ONE query row — the
dense 384-dim BIGINT query vector and its squared norm, from the
literal text (one-row relation) or from one global aggregate over the
example rows (triage) — and broadcasts it; each candidate row is scored
where it lies by folding its own token dims against it (no explode, no
shuffle on ``(hash, dim)``, no join on ``dim``): a sort of the row's
dims and one linear fold, O(t log t) in its t tokens. The tokenizer,
dims, query vector and fold are SQL strings, so a build makes no
Python lambda. The only
shuffle left is the per-hash canonical dedup; the top-k cut is a heap.
Nothing here collects to the driver.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from via_spark.functions.embed import EMBED_DIM, token_dim_sql
from via_spark.functions.text import tokens, tokens_sql
from via_spark.functions.vector import cosine_sql
from via_spark.operators import promote, rhythm

# default tier2-building variant: sensitive novelty detection so the
# anomaly-free fixture still yields clusters (15 at sf0.01)
TIER2_VARIANT = dict(sample_size=2000, novelty_min_count=1)
DEFAULT_TEXT_FILTER = "error"


def tier2_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine-built tier2 (detection → rollup), one row per cluster.

    Served from the session-scoped parquet store (``store.tier2``) —
    the reference's tier2 is a stored collection, and the text-search
    plan references this frame in three branches, so an inline rebuild
    executes the whole detection pipeline once per branch. NOT
    ``.cache()``: that pins the subplan's shuffle layout and disables
    AQE partition coalescing inside it, which measured ~5× slower; the
    parquet store has neither problem."""
    from via_spark import store

    return store.tier2(spark, sf_dir, **TIER2_VARIANT)


def _canonical_per_hash(c: DataFrame) -> DataFrame:
    """One canonical row per rhythm_hash (count desc, start_ts asc).

    A stored tier2 appends one row per hash per analysis run
    (write_tier2 mode=append); the reference's ``search_groups`` /
    ``group_by=rhythm_hash`` dedups groups in every forensic path
    (``forensic_analysis_service.py:63-65``). Deduping BEFORE the
    scoring step also keeps multi-run bodies from double-counting
    into one hash's vector."""
    w = Window.partitionBy("rhythm_hash").orderBy(
        F.col("count").desc(), F.col("start_ts").asc(),
        # full tiebreak chain: two runs can tie on (count, start_ts) —
        # without it the canonical row would be partition-order noise
        F.col("end_ts").asc(), F.col("anomaly_type").asc(),
        F.col("anomaly_context").asc(), F.col("body").asc(),
    )
    return (
        c.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def _dims(text: str) -> str:
    """SQL text: the hashing-trick dimension of every token of the text
    column ``text``, in token order (a dim repeats once per occurrence:
    its tf)."""
    return f"transform({tokens_sql(f'`{text}`')}, t -> {token_dim_sql('t')})"


def _query(rel: DataFrame) -> DataFrame:
    """One-row query frame from a one-row ``rel`` whose ``_p`` holds
    (d, c) pairs — dim ``d`` gains weight ``c``: ``_q`` is the dense
    EMBED_DIM BIGINT weight vector, ``_qn2`` its squared norm."""
    q = (
        f"transform(sequence(0, {EMBED_DIM - 1}), i -> "
        "aggregate(_p, 0L, (a, p) -> a + IF(p.d = i, p.c, 0L)))"
    )
    return rel.select(F.expr(q).alias("_q")).select(
        "_q", F.expr("aggregate(_q, 0L, (a, x) -> a + x * x)").alias("_qn2")
    )


def _text_query(spark: SparkSession, text: str) -> DataFrame:
    """The query frame of a literal text (each token weighs 1)."""
    pairs = F.expr(f"transform({_dims('_text')}, d -> named_struct('d', d, 'c', 1L))")
    return _query(
        spark.range(1, numPartitions=1)
        .select(F.lit(text).alias("_text"))
        .select(pairs.alias("_p"))
    )


# One fold over the row's sorted dims: ``dot = Σ_tokens q[dim]`` and
# ``n = Σ_dim tf²`` (the r-th token of a run of equal dims adds
# r² − (r−1)² = 2r − 1), finished as the cosine against ``_qn2``.
_RUN = "IF(s.p = d, s.r + 1, 1L)"
_SCORE = (
    "aggregate(array_sort(_dims), named_struct('p', -1, 'r', 0L, 'n', 0L, 'dot', 0L), "
    f"(s, d) -> named_struct('p', d, 'r', {_RUN}, 'n', s.n + 2 * {_RUN} - 1, "
    "'dot', s.dot + _q[d]), "
    f"s -> {cosine_sql('s.dot', 's.n', '_qn2')})"
)


def _scored(cand: DataFrame, query: DataFrame, score: str = "score") -> DataFrame:
    """``cand`` rows whose body has tokens, each with the exact cosine
    of its tf vector against the one-row ``query`` frame.

    ``dot`` and ``n2`` are exact BIGINT sums in one fold over the row's
    own dims; doubles appear only in the fold's final cosine, the same
    division the DuckDB oracles run on the same integers, so scores are
    bit-identical. A zero dot scores 0.0 in both: the oracles test the
    dot, the cosine the norms, and a zero norm forces a zero dot."""
    return (
        # filter on tokens, not _dims: the filter is pushed below the
        # projection, so a _dims predicate would hash every token twice
        cand.where(F.size(tokens(F.col("body"))) > 0)
        .withColumn("_dims", F.expr(_dims("body")))
        .crossJoin(F.broadcast(query))
        .select(*cand.columns, F.expr(_SCORE).alias(score))
    )


def cluster_search_over(
    spark: SparkSession,
    c: DataFrame,
    text_filter: str | None = DEFAULT_TEXT_FILTER,
    start_ts: int | None = None,
    end_ts: int | None = None,
    limit: int = 100,
) -> DataFrame:
    """Entry point 3 'clusters' over ANY tier2 DataFrame (the stored
    date-partitioned table via promote.read_tier2, or the inline
    pipeline): filter → score → best-per-hash → top-k.

    Output (P8): cluster_id, incident_count, service, severity,
    anomaly_type, body, score.
    """
    if start_ts is not None and end_ts is not None:
        c = c.where(F.col("start_ts").between(start_ts, end_ts))

    if text_filter is None:
        # V3: zero query vector — pinned deterministic order
        c = _canonical_per_hash(c)
        shaped = c.select(
            F.col("rhythm_hash").alias("cluster_id"),
            F.col("count").alias("incident_count"),
            "service", "severity", "anomaly_type", "body",
            F.lit(0.0).alias("score"),
        )
        return shaped.orderBy(
            F.col("incident_count").desc(), F.col("cluster_id").asc()
        ).limit(limit)

    # P3: every filter term must appear in the body token stream.
    # Filter BEFORE the per-hash dedup: a hash whose only matching body
    # lives in a non-canonical run must stay searchable — the canonical
    # row is then chosen among the MATCHING runs.
    terms = [t for t in text_filter.lower().split() if t]
    toks = tokens(F.col("body"))
    for t in terms:
        c = c.where(F.array_contains(toks, t))
    c = _canonical_per_hash(c)

    scored = _scored(c, _text_query(spark, text_filter))
    # V2/W1: one hit per rhythm_hash — guaranteed by the upfront
    # _canonical_per_hash dedup, so no second per-group window is needed
    return (
        scored.select(
            F.col("rhythm_hash").alias("cluster_id"),
            F.col("count").alias("incident_count"),
            "service", "severity", "anomaly_type", "body", "score",
        )
        .orderBy(F.col("score").desc(), F.col("cluster_id").asc())
        .limit(limit)
    )


def cluster_search(
    spark: SparkSession,
    sf_dir: str,
    text_filter: str | None = DEFAULT_TEXT_FILTER,
    start_ts: int | None = None,
    end_ts: int | None = None,
    limit: int = 100,
) -> DataFrame:
    """Driver-facing wrapper: entry point 3 over the fixture-built tier2."""
    return cluster_search_over(
        spark, tier2_clusters(spark, sf_dir), text_filter, start_ts, end_ts, limit
    )


def triage_over(
    spark: SparkSession,
    c: DataFrame,
    positive: Sequence[str] | None = None,
    negative: Sequence[str] | None = None,
    limit: int = 50,
) -> DataFrame:
    """V4 recommend over ANY tier2 DataFrame with explicit example
    cluster ids (rhythm hashes) — the API-facing form."""
    positive, negative = list(positive or ()), list(negative or ())
    if not positive:
        return c.sparkSession.createDataFrame(
            [],
            "cluster_id string, incident_count long, service string, "
            "severity string, anomaly_type string, score double",
        )
    marked = c.sparkSession.range(1, numPartitions=1).select(
        F.inline(F.array(*[
            F.struct(F.lit(h).alias("rhythm_hash"), F.lit(pos).alias("is_pos"))
            for hs, pos in ((positive, True), (negative, False)) for h in hs
        ]))
    )
    return _triage_core(c, marked, len(positive), max(len(negative), 1), limit)


def triage(
    spark: SparkSession,
    sf_dir: str,
    n_pos: int = 2,
    n_neg: int = 1,
    limit: int = 50,
) -> DataFrame:
    """Entry point 3 'triage' (V4): average_vector recommendation over
    cluster embeddings.

    Example selection is deterministic from the data: the ``n_pos``
    lexicographically-smallest rhythm hashes are positive examples, the
    next ``n_neg`` negative (a UI would pass ids; the driver query
    needs a pinned choice). ``q = 2*n_neg*sum(pos) - n_pos*sum(neg)``
    per dimension (the rational form of 2*avg(pos) - avg(neg)).
    """
    c = tier2_clusters(spark, sf_dir)
    ranked = c.select("rhythm_hash").orderBy("rhythm_hash").limit(n_pos + n_neg)
    w = Window.orderBy("rhythm_hash")
    marked = ranked.withColumn("_rn", F.row_number().over(w)).select(
        "rhythm_hash", (F.col("_rn") <= n_pos).alias("is_pos")
    )
    return _triage_core(c, marked, n_pos, n_neg, limit)


def _triage_core(
    c: DataFrame, marked: DataFrame, n_pos: int, n_neg: int, limit: int
) -> DataFrame:
    """Score every canonical cluster but the examples against
    ``q = 2·n_neg·Σ pos − n_pos·Σ neg`` (per listing: a repeated id
    counts once per listing, an id may be both, an unknown id adds
    nothing). The query is ONE global aggregate over the example rows'
    dims, broadcast to the candidates."""
    c = _canonical_per_hash(c)
    coef = f"CAST(IF(is_pos, {2 * n_neg}, {-n_pos}) AS BIGINT)"
    examples = c.join(F.broadcast(marked), "rhythm_hash").agg(
        F.expr(
            f"flatten(collect_list(transform({_dims('body')}, "
            f"d -> named_struct('d', d, 'c', {coef}))))"
        ).alias("_p")
    )
    cand = c.join(F.broadcast(marked.select("rhythm_hash")), "rhythm_hash", "left_anti")
    return (
        _scored(cand, _query(examples))
        .select(
            F.col("rhythm_hash").alias("cluster_id"),
            F.col("count").alias("incident_count"),
            "service", "severity", "anomaly_type", "score",
        )
        .orderBy(F.col("score").desc(), F.col("cluster_id").asc())
        .limit(limit)
    )


def cluster_search_zero_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3 as its own named query (no text filter → pinned ordering)."""
    return cluster_search(spark, sf_dir, text_filter=None)


# the driver query's pinned window: [now - 14 d, now - 7 d] — wide enough
# to span several daily partitions of the 30-day fixture, narrow enough
# that most partitions are pruned away
WINDOWED_LO_DAYS = 14
WINDOWED_HI_DAYS = 7


def clusters_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/V5 driver-facing proof: a time-windowed scan of the
    DATE-PARTITIONED tier2 daily store through ``promote.read_tier2``.

    The reference federates a windowed cluster search across its daily
    collections by enumerating partition names
    (``app/services/qdrant_service.py:38-42``); here the window's
    ``event_date`` bounds become Catalyst PartitionFilters on the
    partitioned parquet table (asserted by
    tests/test_plans.py::test_clusters_windowed_partition_pruning), and
    the exact ``start_ts`` range applies inside the surviving days.
    ``sample_logs`` is newline-flattened for the pandas-canonicalizing
    driver compare, as in ``promotion_rollup_flat``.
    """
    from via_spark import store

    t1 = store.tier1(spark, sf_dir)
    now = rhythm.current_now(t1)
    path = store.tier2_daily_path(spark, sf_dir, **TIER2_VARIANT)
    df = promote.read_tier2(
        spark,
        path,
        start_ts=now - WINDOWED_LO_DAYS * 86400,
        end_ts=now - WINDOWED_HI_DAYS * 86400,
    )
    return df.select(
        "entity_type",
        "rhythm_hash",
        "start_ts",
        "end_ts",
        "count",
        "service",
        "severity",
        "anomaly_type",
        "anomaly_context",
        "body",
        F.array_join("sample_logs", "\n").alias("sample_logs"),
        F.col("event_date").cast("date").alias("event_date"),
    )


# --- round-10 additions ---

HYBRID_CUT_N = 100

def hybrid_tier2_search(
    spark: SparkSession,
    sf_dir: str,
    text: str = DEFAULT_TEXT_FILTER,
    k: int = 50,
    cut_n: int = HYBRID_CUT_N,
) -> DataFrame:
    """The reference's multi-vector hybrid end-to-end over tier2
    (QDRANT-FEATURES.md:45-47: each tier2 point stores a dense
    ``log_dense_vector`` AND a sparse ``bm25_vector``; one query fuses
    both): the payload text FILTER narrows the candidate set first
    (QDRANT-FEATURES.md:49-51 — filter before vector work), then the
    dense leg (deterministic hashing-trick embedding, the repo's
    log_dense_vector stand-in — same scoring as cluster_search) and the
    sparse leg (BM25 over the cluster body, k1/b/IDF as search.py) rank
    the SAME filtered candidates; Reciprocal Rank Fusion (rrf_k=60)
    merges them. The registered ``hybrid_rrf`` fuses dense+sparse over
    DOCUMENTS; this is the tier2 forensic-store form the reference
    actually serves.

    Corpus statistics for BM25 (N, df, avgdl) are computed over the
    filtered candidate set — the set both legs rank — so the two legs
    see one consistent corpus; exact BIGINT score_fix, float-free ranks.

    Scale posture: the filter prunes first; each leg cuts to its exact
    global top-``cut_n`` (TakeOrderedAndProject heap); everything after
    the cuts touches <= 2*cut_n rows (the hybrid_rrf contract). Dense
    dots fold each candidate's dims against the broadcast query row;
    BM25 stats reduce to ONE broadcast row.
    """
    from via_spark.operators.search import RRF_K, bm25_scored

    c = tier2_clusters(spark, sf_dir)
    terms = [t for t in text.lower().split() if t]
    toks = tokens(F.col("body"))
    for t in terms:
        c = c.where(F.array_contains(toks, t))
    c = _canonical_per_hash(c)

    # dense leg — hashing-trick cosine against the query text
    dense = _scored(
        c.select("rhythm_hash", "body"), _text_query(spark, text), "dense_score"
    )

    # sparse leg — BM25 over the cluster bodies
    sparse = bm25_scored(
        c.select("rhythm_hash", F.col("body").alias("text")), terms
    ).select("rhythm_hash", "score_fix")

    wd = Window.orderBy(F.col("dense_score").desc(), F.col("rhythm_hash").asc())
    dcut = (
        dense.orderBy(F.col("dense_score").desc(), F.col("rhythm_hash").asc())
        .limit(cut_n)
        .withColumn("rank_dense", F.row_number().over(wd).cast("int"))
        .select("rhythm_hash", "rank_dense")
    )
    ws = Window.orderBy(F.col("score_fix").desc(), F.col("rhythm_hash").asc())
    scut = (
        sparse.orderBy(F.col("score_fix").desc(), F.col("rhythm_hash").asc())
        .limit(cut_n)
        .withColumn("rank_sparse", F.row_number().over(ws).cast("int"))
        .select("rhythm_hash", "rank_sparse")
    )
    fused = dcut.join(scut, "rhythm_hash", "full_outer").withColumn(
        "rrf",
        F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_dense")), F.lit(0.0))
        + F.coalesce(
            F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_sparse")), F.lit(0.0)
        ),
    )
    return (
        fused.join(c, "rhythm_hash")
        .select(
            F.col("rhythm_hash").alias("cluster_id"),
            "rank_dense",
            "rank_sparse",
            "rrf",
            F.col("count").alias("incident_count"),
            "service",
            "severity",
            "anomaly_type",
            "body",
        )
        .orderBy(F.col("rrf").desc(), F.col("cluster_id").asc())
        .limit(k)
    )


def clusters_windowed_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1's federated failure tolerance closed as a documented query
    OPTION: the reference fans a windowed cluster search across its
    per-day collections with ``asyncio.gather(...,
    return_exceptions=True)`` and silently SKIPS failed days
    (``app/services/forensic_analysis_service.py:55-60``) — partial
    results beat a failed query for an on-call operator. The registered
    ``forensic_clusters_windowed`` deliberately deviates (a failed
    partition fails the scan, SCALE.md); this variant restores the
    reference semantics with ``ignoreCorruptFiles`` on the
    date-partitioned tier2 read: a day whose parquet is corrupt
    contributes nothing instead of failing the union — exactly the
    per-collection skip, expressed as a Spark read option rather than
    an application-level gather.

    On a healthy store the result is IDENTICAL to
    forensic_clusters_windowed (the shared oracle proves it); the
    planted-corruption test (tests/test_operator_models.py) proves the skip:
    corrupt one day file -> this query returns the surviving days,
    the strict one throws.

    The read passes tier2's STATIC schema (``promote.TIER2_SCHEMA``,
    pinned next to the writers), which is what makes the
    tolerance real: schema inference would read every footer through
    the session-level merge path, where a corrupt footer fails the
    inference job before the per-read ``ignoreCorruptFiles`` option
    ever applies; with the schema supplied, corrupt files are skipped
    at scan time. A production reader of a store it didn't write should
    do the same (schema from the catalog, not from footers).
    """
    from via_spark import store

    t1 = store.tier1(spark, sf_dir)
    now = rhythm.current_now(t1)
    path = store.tier2_daily_path(spark, sf_dir, **TIER2_VARIANT)
    start_ts = now - WINDOWED_LO_DAYS * 86400
    end_ts = now - WINDOWED_HI_DAYS * 86400
    # same window predicates as promote.read_tier2 (the canonical
    # definition), applied over the tolerant read
    df = (
        spark.read.schema(promote.TIER2_SCHEMA)
        .option("ignoreCorruptFiles", "true")
        .parquet(path)
        .where(
            F.col("event_date")
            >= promote.event_date(F.lit(start_ts).cast("long"))
        )
        .where(F.col("start_ts") >= start_ts)
        .where(
            F.col("event_date") <= promote.event_date(F.lit(end_ts).cast("long"))
        )
        .where(F.col("start_ts") <= end_ts)
    )
    return df.select(
        "entity_type",
        "rhythm_hash",
        "start_ts",
        "end_ts",
        "count",
        "service",
        "severity",
        "anomaly_type",
        "anomaly_context",
        "body",
        F.array_join("sample_logs", "\n").alias("sample_logs"),
        F.col("event_date").cast("date").alias("event_date"),
    )
