"""Full-text BM25 scoring and hybrid dense+sparse fusion (F7, V6).

Capability parity (semantics, not code) with the reference:
* F7 sparse BM25 — the reference delegates to the fastembed
  ``Qdrant/bm25`` encoder with server-side IDF
  (``app/services/qdrant_service.py:23,80,124``); this engine computes
  BM25 natively with the public defaults k1=1.2, b=0.75 and the Qdrant
  IDF form ``ln(1 + (N - df + 0.5)/(df + 0.5))``, entirely as DataFrame
  expressions (no per-row Python).
* V6 hybrid search — the reference's collection supports dense + sparse
  + full-text in one query (``QDRANT-FEATURES.md:17-19,45-47``); this
  engine fuses the dense-cosine ranking and the BM25 ranking with
  Reciprocal Rank Fusion (rrf_k=60, the public default) — rank math is
  pure integers, so fusion is exactly deterministic.

Determinism: tf/df/dl are exact integers; avgdl is a ratio of exact
integers; the single transcendental (ln in IDF) is floored to a 1e-6
grid immediately, and each per-term score is floored to 1e-9
fixed-point BIGINT before summing — Spark and the DuckDB oracle agree
bit-for-bit.

Scale posture (100 TB): tf is a per-row higher-order function (no
explode shuffle); the corpus statistics (N, sum dl, per-term df) reduce
to ONE broadcast row regardless of corpus size; scoring is then an
embarrassingly-parallel projection + TakeOrderedAndProject top-k. The
per-term df aggregation is a single pass computing all terms at once.
"""

from __future__ import annotations

from functools import reduce
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from via_spark.functions.text import tokens
from via_spark.functions.vector import dot_fix, with_cosine
from via_spark.session import load_table, spread

K1 = 1.2
B = 0.75
RRF_K = 60
IDF_GRID = 1_000_000.0     # idf floored to 1e-6 (neutralizes ln ULP skew)
SCORE_FIX = 1_000_000_000.0  # per-term score fixed-point scale

DEFAULT_TERMS = ("hash", "merge", "spark")


def _with_tf(d: DataFrame, terms: Sequence[str]) -> DataFrame:
    """tokens + doc length + per-term tf, all per-row computation
    (gated ``spread`` widens a single-split scan; no-op when already
    parallel)."""
    d = spread(d).withColumn("toks", tokens(F.col("text"))).withColumn("dl", F.size("toks"))
    for i, t in enumerate(terms):
        d = d.withColumn(f"tf_{i}", F.size(F.filter(F.col("toks"), lambda x: x == F.lit(t))))
    return d


def _idf(n_docs: Column, df_c: Column) -> Column:
    raw = F.log(F.lit(1) + (n_docs - df_c + F.lit(0.5)) / (df_c + F.lit(0.5)))
    return F.floor(raw * F.lit(IDF_GRID)) / F.lit(IDF_GRID)


def bm25_scored(d: DataFrame, terms: Sequence[str]) -> DataFrame:
    """Documents + ``score_fix`` (exact BIGINT BM25, 1e-9 units)."""
    d = _with_tf(d, terms)
    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("int")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    d = d.crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    term_fix = [
        F.floor(
            _idf(F.col("n_docs"), F.col(f"df_{i}"))
            * (F.col(f"tf_{i}") * F.lit(K1 + 1))
            / (F.col(f"tf_{i}") + F.lit(K1) * (F.lit(1 - B) + F.lit(B) * F.col("dl") / avgdl))
            * F.lit(SCORE_FIX)
        ).cast("long")
        for i in range(len(terms))
    ]
    return d.withColumn("score_fix", reduce(lambda a, b: a + b, term_fix))


def bm25_topk(
    spark: SparkSession, sf_dir: str, terms: Sequence[str] = DEFAULT_TERMS, k: int = 50
) -> DataFrame:
    """F7: top-k documents by BM25 over the pinned query terms."""
    d = load_table(spark, sf_dir, "documents")
    return (
        bm25_scored(d, terms)
        .where(F.col("score_fix") > 0)
        .orderBy(F.col("score_fix").desc(), F.col("doc_id").asc())
        .limit(k)
        .select(
            "doc_id",
            "score_fix",
            (F.col("score_fix").cast("double") / F.lit(SCORE_FIX)).alias("score"),
        )
    )


def _dual_ranks(cand: DataFrame, cut_n: int) -> DataFrame:
    """Exact global top-``cut_n`` ranks under BOTH orderings — dense
    (``dense_score`` desc) and sparse (``score_fix`` desc), ties broken
    by ``doc_id`` asc — from ONE pass over the scored candidate frame.

    Each row is tagged twice (explode of two sort-key structs) and
    ranked per tag with ``row_number() ... WHERE r <= cut_n``, which
    Catalyst plans as WindowGroupLimit: every input partition forwards
    at most ``cut_n`` rows per tag into the 2-partition final rank, so
    the exchange carries ≤ 2·cut_n·num_partitions rows no matter the
    corpus size. The scoring subplan (BM25 + 384-dim dots) therefore
    runs ONCE with no ``persist()`` — the previous two-heap form either
    cached the full scored corpus for the session (never unpersisted;
    ADVICE r9) or recomputed the scoring pass per ranking.

    Returns one row per doc appearing in either cut:
    ``(doc_id, rank_dense, rank_sparse)`` with the missing side NULL —
    the same frame the old full-outer join of the two cuts produced.
    """
    tagged = cand.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit("d").alias("tag"),
                    F.col("dense_score").alias("sk_d"),
                    F.lit(None).cast("long").alias("sk_s"),
                ),
                F.struct(
                    F.lit("s").alias("tag"),
                    F.lit(None).cast("double").alias("sk_d"),
                    F.col("score_fix").alias("sk_s"),
                ),
            )
        ).alias("t"),
    ).select("doc_id", "t.tag", "t.sk_d", "t.sk_s")
    # within a tag the foreign sort key is all-NULL (a tie), so the
    # effective order is exactly the old per-cut order: score desc,
    # doc_id asc
    w = Window.partitionBy("tag").orderBy(
        F.desc_nulls_last("sk_d"), F.desc_nulls_last("sk_s"), F.asc("doc_id")
    )
    return (
        tagged.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= cut_n)
        .groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("tag") == "d", F.col("r"))).alias("rank_dense"),
            F.max(F.when(F.col("tag") == "s", F.col("r"))).alias("rank_sparse"),
        )
    )


def hybrid_rrf(
    spark: SparkSession,
    sf_dir: str,
    terms: Sequence[str] = DEFAULT_TERMS,
    query_id: int = 0,
    k: int = 50,
    cut_n: int = 1000,
) -> DataFrame:
    """V6: hybrid dense+sparse search via Reciprocal Rank Fusion.

    Candidate set = documents with a stored embedding (doc_id = vec_id).
    Each ranking is CUT to its exact global top-``cut_n`` first and both
    cuts come from ONE pass over the scored frame (``_dual_ranks``:
    tagged WindowGroupLimit — per-partition heaps, no global sort, no
    persist), then fusion runs over the union of the two cuts:
    rrf = 1/(60+rank_dense) + 1/(60+rank_sparse), with a missing side
    contributing 0 (rank NULL). Top-k of the fused set is returned.

    Scale: this is the standard retrieval shape — candidate generation
    is one scoring pass over the corpus feeding per-partition top-N
    heaps; every operator after the cuts touches at most 2·cut_n rows,
    a CONSTANT independent of corpus size. Ranks within a cut equal
    global ranks, so for k ≤ cut_n the fused top-k is exact whenever a
    result appears in at least one cut — the same contract as a
    distributed retrieval engine's per-shard page merge. The oracle
    mirrors the cut semantics exactly. For exact global ranks over the
    FULL candidate set (no cut), see ``rank.global_row_number``.
    """
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    # the query vector's self-norm is constant per query — fold it into
    # the 1-row broadcast side instead of re-deriving it per corpus row
    q = emb.where(F.col("vec_id") == query_id).select(
        F.col("embedding").alias("q_emb"),
        dot_fix("embedding", "embedding").alias("nb_fix"),
    )

    joined = (
        bm25_scored(docs, terms)
        .join(emb, F.col("doc_id") == F.col("vec_id"))
        .crossJoin(F.broadcast(q))
    )
    cand = with_cosine(joined, "embedding", "q_emb", out="dense_score", nb="nb_fix").select(
        "doc_id", "score_fix", "dense_score"
    )
    ranks = _dual_ranks(cand, cut_n)
    contrib = lambda c: F.coalesce(  # noqa: E731 — absent side contributes 0
        F.lit(1.0) / (F.lit(RRF_K) + F.col(c)), F.lit(0.0)
    )
    return (
        ranks.withColumn("rrf", contrib("rank_dense") + contrib("rank_sparse"))
        .orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(k)
        .select("doc_id", "rank_dense", "rank_sparse", "rrf")
    )


def tfidf_top_terms(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Top-``k`` TF-IDF terms per document over the pinned tokenizer.

    IDF is fixed-point integer — ``idf_fp = (n_docs * 2^20) div df`` —
    so ``score_fp = tf * idf_fp`` is exact BIGINT in both engines (a
    float ``ln`` IDF would rank identically but hash differently in the
    last bit across libms). Monotonicity in (tf, 1/df) is all a ranking
    needs; the BM25 scorer above keeps the reference's float form.

    Scale posture: tf is one (doc, term) hash agg; df reuses tf's
    output (one more agg on term); n_docs reduces to a 1-row broadcast.
    The per-doc top-k rides WindowGroupLimit — only k rows per doc
    survive the rank shuffle. Nothing is quadratic in corpus size.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    tok = docs.select("doc_id", F.explode("toks").alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score_fp", F.col("tf") * F.expr("(n_docs * 1048576) div df"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_fp").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("doc_id", "term", "tf", "df", "score_fp", "rnk")
    )


def chunk_bm25_topk(
    spark: SparkSession, sf_dir: str, terms: Sequence[str] = DEFAULT_TERMS,
    k: int = 25,
) -> DataFrame:
    """RAG retrieval at CHUNK granularity: BM25 over the chunked corpus
    (textstats.chunk_documents), returning the top-k chunks — what a
    retrieval pipeline actually serves, since whole documents overflow
    a context window. Corpus statistics (N, avgdl, df) are computed at
    chunk level, which is the correct IDF base for chunk retrieval.

    Scale posture: inherits bm25_scored's shape — chunk fan-out is a
    per-row generate, stats reduce to ONE broadcast row, scoring is a
    projection, and the cut is a TakeOrderedAndProject heap.
    """
    from via_spark.operators.textstats import chunk_documents

    chunks = chunk_documents(spark, sf_dir).select(
        "doc_id", "chunk_id", F.col("chunk_text").alias("text")
    )
    return (
        bm25_scored(chunks, terms)
        .where(F.col("score_fix") > 0)
        .orderBy(F.col("score_fix").desc(), F.col("doc_id").asc(), F.col("chunk_id").asc())
        .limit(k)
        .select(
            "doc_id",
            "chunk_id",
            "score_fix",
            (F.col("score_fix").cast("double") / F.lit(SCORE_FIX)).alias("score"),
        )
    )


# --- round-10 additions ---

OVERLAP_CUTS = (5, 10, 20, 50)


def ranker_overlap_report(
    spark: SparkSession,
    sf_dir: str,
    terms: Sequence[str] = DEFAULT_TERMS,
    query_id: int = 0,
    cut_n: int = 1000,
) -> DataFrame:
    """Retriever-complementarity diagnostic: for the pinned hybrid query
    (BM25 terms + dense query vector, the hybrid_rrf pairing), the
    top-k set overlap between the sparse and dense rankings at k = 5,
    10, 20, 50 — low overlap is the empirical justification for fusion
    (the two retrievers surface different documents), high overlap means
    one ranker suffices. The set-level companion to hybrid_rrf, which
    fuses the rankings this report compares.

    Exactness: ranks are exact within the global top-``cut_n`` cuts
    (single-pass tagged WindowGroupLimit, same ranks as hybrid_rrf);
    ``jaccard_micro = inter·1e6 div (|dense@k| + |sparse@k| − inter)``
    is pure BIGINT. The union uses the ACTUAL per-cut list sizes
    (min(k, candidates)), not 2k — when the BM25 candidate pool is
    smaller than k, assuming full lists overstates the union and
    understates jaccard. NULL when both lists are empty.

    Scale posture: identical to hybrid_rrf — ONE scoring pass feeds
    both rankings via ``_dual_ranks`` (no persist, no cache leak), and
    the overlap agg runs on ≤ 2·cut_n rows crossed with 4 cut levels.
    """
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == query_id).select(
        F.col("embedding").alias("q_emb"),
        dot_fix("embedding", "embedding").alias("nb_fix"),
    )
    joined = (
        bm25_scored(docs, terms)
        .join(emb, F.col("doc_id") == F.col("vec_id"))
        .crossJoin(F.broadcast(q))
    )
    cand = with_cosine(joined, "embedding", "q_emb", out="dense_score", nb="nb_fix").select(
        "doc_id", "score_fix", "dense_score"
    )
    ranks = _dual_ranks(cand, cut_n)
    cuts = F.explode(
        F.array(*[F.lit(c).cast("long") for c in OVERLAP_CUTS])
    ).alias("k")
    return (
        ranks.select("rank_dense", "rank_sparse", cuts)
        .groupBy("k")
        .agg(
            F.sum(
                ((F.col("rank_dense") <= F.col("k")) & (F.col("rank_sparse") <= F.col("k")))
                .cast("long")
            ).alias("n_common"),
            F.sum((F.col("rank_dense") <= F.col("k")).cast("long")).alias("n_dense"),
            F.sum((F.col("rank_sparse") <= F.col("k")).cast("long")).alias("n_sparse"),
        )
        .select(
            "k",
            "n_common",
            F.expr(
                "CASE WHEN n_dense + n_sparse > n_common THEN"
                " n_common * 1000000L div (n_dense + n_sparse - n_common) END"
            ).alias("jaccard_micro"),
        )
    )
