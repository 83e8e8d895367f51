"""Vector-search operators (SURVEY.md §2.9) over the embeddings fixture.

Capability parity (semantics, not code) with the reference's Tier-2
search surface:
* V1 filtered k-NN      — ``app/services/forensic_analysis_service.py:25-33``
* V2 grouped top-1      — ``app/services/forensic_analysis_service.py:45-53``
  (Qdrant ``search_groups(group_by=..., group_size=1)``)
* V4 recommend          — ``app/services/forensic_analysis_service.py:75-96``
  (Qdrant 'average_vector' strategy: ``q = 2*avg(pos) - avg(neg)``,
  examples excluded from results)
* F3 simhash fingerprint — ``app/services/ingestion_service.py:31-39``

Spark has no ANN index; these are EXACT brute-force scores over the
filtered set — a correctness superset of Qdrant's approximate HNSW
(SURVEY.md §2.9 preamble). The LSH-bucketed scale path lives in
``via_spark.operators.dedup`` / ``ann_lsh`` (M6).

Determinism & oracle parity: every per-element float product is floored
to fixed-point BIGINT before summation, so the reduction is exact and
order-independent — Spark and DuckDB produce bit-identical scores no
matter how partitions reduce. The only double math (sqrt, division) runs
on identical integer inputs with IEEE-pinned correctly-rounded ops.

Scale posture (100 TB): scoring is a narrow projection over a
column-pruned scan (embedding + keys only); top-k plans as
TakeOrderedAndProject (partition-local heap, no global sort); the
grouped top-1 uses WindowGroupLimit (Spark ≥3.5) so only one row per
group survives the shuffle; the recommend query vector is a 1-row
broadcast, never a collect.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from via_spark.functions.simhash import simhash_hex_arrow
from via_spark.functions.text import tokens
from via_spark.functions.vector import FIX9, cosine_from_fix, dot_fix, with_cosine
from via_spark.session import load_table, spread

FIX6 = 1_000_000.0      # per-element scale for recommend's rational query vector


def _scored(e: DataFrame, query_id: int) -> DataFrame:
    q = e.where(F.col("vec_id") == query_id).select(
        F.col("embedding").alias("q_emb"),
        dot_fix("embedding", "embedding").alias("nb_fix"),
    )
    return with_cosine(e.crossJoin(F.broadcast(q)), "embedding", "q_emb", nb="nb_fix")


def knn_cosine_topk(
    spark: SparkSession, sf_dir: str, query_id: int = 0, k: int = 25
) -> DataFrame:
    """V1: exact cosine top-k neighbors of one stored vector (self
    excluded); deterministic (score desc, vec_id asc) order."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        _scored(e, query_id)
        .where(F.col("vec_id") != query_id)
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(k)
        .select("vec_id", "label", "score")
    )


def quantized_vec(emb: Column) -> Column:
    """O6 scalar INT8 quantization: symmetric per-vector scale
    s = 127 / max|x|, q_i = floor(x_i · s) — exact BIGINT output, so
    quantized dots are bit-reproducible across engines (same IEEE
    multiply + floor on both sides). Zero vectors quantize to zeros."""
    maxabs = F.array_max(F.transform(emb, lambda x: F.abs(x.cast("double"))))
    s = F.when(maxabs == 0, F.lit(0.0)).otherwise(F.lit(127.0) / maxabs)
    # The scale rides in via array_repeat, which evaluates ``s`` ONCE per
    # row — putting ``s`` in the lambda body would re-run the O(d)
    # array_max for EVERY element (O(d²)/row; Spark does no common-
    # subexpression elimination inside higher-order-function lambdas).
    scales = F.array_repeat(s, F.size(emb))
    return F.zip_with(emb, scales, lambda x, sv: F.floor(x.cast("double") * sv).cast("long"))


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot of two quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def ann_quantized_topk(
    spark: SparkSession, sf_dir: str, query_id: int = 0, k: int = 10,
    oversample: int = 3,
) -> DataFrame:
    """O6 parity: INT8-quantized candidate ranking + full-precision
    rescore — the reference's scalar-quantization + oversampling shape
    (``qdrant_service.py:84-90``, ``QDRANT-FEATURES.md:27-34``).

    Rank ALL candidates by the cheap quantized dot, keep the top
    ``oversample·k`` (TakeOrderedAndProject heap), then exact-cosine
    re-rank only those. At 100 TB the quantized column is 4× smaller
    than the float vectors and is the only thing the first pass reads.
    """
    e = load_table(spark, sf_dir, "embeddings")
    # the query's quantized form is computed ONCE on the broadcast side
    q = e.where(F.col("vec_id") == query_id).select(
        F.col("embedding").alias("q_emb"),
        quantized_vec(F.col("embedding")).alias("q_qvec"),
        dot_fix("embedding", "embedding").alias("nb_fix"),
    )
    cand = (
        e.where(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(q))
        .withColumn("qdot", int_dot(quantized_vec(F.col("embedding")), F.col("q_qvec")))
        .orderBy(F.col("qdot").desc(), F.col("vec_id").asc())
        .limit(oversample * k)
    )
    return (
        with_cosine(cand, "embedding", "q_emb", nb="nb_fix")
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(k)
        .select("vec_id", "label", "qdot", "score")
    )


def grouped_knn_top1(
    spark: SparkSession, sf_dir: str, query_id: int = 0, limit: int = 100
) -> DataFrame:
    """V2: best-scoring vector per ``label`` group (search_groups with
    group_size=1), top ``limit`` groups by that best score."""
    e = load_table(spark, sf_dir, "embeddings")
    w = Window.partitionBy("label").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        _scored(e, query_id)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .orderBy(F.col("score").desc(), F.col("label").asc())
        .limit(limit)
        .select("label", "vec_id", "score")
    )


def recommend_average_vector(
    spark: SparkSession,
    sf_dir: str,
    positive: Sequence[int] = (0, 1),
    negative: Sequence[int] = (2,),
    k: int = 50,
) -> DataFrame:
    """V4: Qdrant average_vector recommendation, exactly rational.

    ``q = avg(pos) + (avg(pos) - avg(neg)) = 2*avg(pos) - avg(neg)``.
    Multiplying through by ``n_pos*n_neg`` keeps the query vector in
    exact BIGINT space: ``qn_d = 2*n_neg*sum_pos_d - n_pos*sum_neg_d``
    over per-element FIX6 fixed-point values. Candidates score by
    cosine(q, x); example ids are excluded; top-k by (score, vec_id).
    """
    positive, negative = list(positive), list(negative)
    n_pos, n_neg = len(positive), len(negative)
    e = load_table(spark, sf_dir, "embeddings")

    ex = e.select(
        "vec_id", F.posexplode("embedding").alias("dim", "val")
    ).withColumn("v_fix", F.floor(F.col("val").cast("double") * F.lit(FIX6)).cast("long"))
    ps = ex.where(F.col("vec_id").isin(positive)).groupBy("dim").agg(F.sum("v_fix").alias("ps"))
    ns = ex.where(F.col("vec_id").isin(negative)).groupBy("dim").agg(F.sum("v_fix").alias("ns"))
    qd = (
        ps.join(ns, "dim", "full")
        .select(
            "dim",
            (
                F.lit(2 * n_neg) * F.coalesce(F.col("ps"), F.lit(0))
                - F.lit(n_pos) * F.coalesce(F.col("ns"), F.lit(0))
            ).alias("qn"),
        )
    )
    qrow = qd.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "qn"))), lambda s: s["qn"]
        ).alias("qvec")
    ).select(
        "qvec",
        F.aggregate(
            F.transform(F.col("qvec"), lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("nq_fix"),
    )

    cand = e.where(~F.col("vec_id").isin(positive + negative)).crossJoin(F.broadcast(qrow))
    x_fix = lambda x: F.floor(x.cast("double") * F.lit(FIX6)).cast("long")  # noqa: E731
    return (
        cand.withColumn(
            "d_fix",
            F.aggregate(
                F.zip_with(F.col("embedding"), F.col("qvec"), lambda x, qn: x_fix(x) * qn),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
        .withColumn(
            "nx_fix",
            F.aggregate(
                F.transform(F.col("embedding"), lambda x: x_fix(x) * x_fix(x)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
        .withColumn("score", cosine_from_fix("d_fix", "nq_fix", "nx_fix"))
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(k)
        .select("vec_id", "label", "score")
    )


def simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: 64-bit simhash fingerprint (hex) of every document's token
    stream. Token-less documents are dropped (pinned edge semantics)."""
    # gated spread: widen the single-split fixture scan before the
    # expensive fingerprint projection; no-op on a multi-split scan
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.withColumn("toks", tokens(F.col("text"))).where(F.size("toks") > 0)
    # simhash_hex_arrow (r15): Arrow twin of the pinned fingerprint —
    # bit-identical hex (integer-only logic, parity test + every
    # consumer's oracle), replacing the interpreted 64-bit-vote HOF
    # that was the ~40 s cold wall of the Hamming family at the 100×
    # dial (guide §4.2). simhash_hex remains the native reference.
    return toks.select(
        "doc_id", simhash_hex_arrow(F.col("toks")).alias("simhash")
    )


def embedding_centroids_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label elementwise centroid of the embedding column, flat
    (label, dim, n, sum_fix, centroid) — the 'train' half of an IVF
    coarse quantizer (ivf_assigned's sampled quantizer is the
    no-training alternative), and the class-prototype table of a
    curation pipeline.

    Scale posture: posexplode → ONE hash agg keyed (label, dim) with
    map-side partial sums; the shuffle carries |labels| x dim rows, not
    vectors. Sums are exact fixed-point BIGINTs (dot_fix's scale), so
    the centroid is bit-reproducible across engines.
    """
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("dim", "x"))
    return (
        ex.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("x").cast("double") * F.lit(FIX9)).cast("long")
            ).alias("sum_fix"),
        )
        .withColumn(
            "centroid",
            F.col("sum_fix").cast("double") / (F.col("n").cast("double") * F.lit(FIX9)),
        )
    )


def knn_batch_topk(
    spark: SparkSession, sf_dir: str, n_queries: int = 8, k: int = 3
) -> DataFrame:
    """Batched exact k-NN: the top-k cosine neighbors for EACH of the
    first ``n_queries`` stored vectors in ONE plan — the bulk-serving
    shape (offline recommendation backfill, eval-set retrieval) where
    launching one job per query would be n scans instead of one.

    Scale posture: the query block broadcasts (n_queries rows), the
    corpus streams through once, and the per-query cut is a
    WindowGroupLimit — k rows per query survive the rank shuffle, so
    output is n_queries x k regardless of corpus size.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        dot_fix("embedding", "embedding").alias("nb_fix"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    cand = e.crossJoin(F.broadcast(q)).where(F.col("vec_id") != F.col("query_id"))
    return (
        with_cosine(cand, "embedding", "q_emb", nb="nb_fix")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "label", "rank", "score")
    )


def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QA rollup: exact fixed-point squared-norm stats per
    label — the check that a corpus (or one shard of it) is actually
    unit-normalized before cosine machinery assumes it.

    Scale posture: the squared norm is a per-row expression; the rollup
    is one hash agg keyed by label carrying BIGINTs. The mean derives
    from the exact sum, so parity is bit-for-bit.
    """
    e = load_table(spark, sf_dir, "embeddings")
    n2 = dot_fix("embedding", "embedding")
    return (
        e.select("label", n2.alias("n2_fix"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("n2_fix").alias("min_n2_fix"),
            F.max("n2_fix").alias("max_n2_fix"),
            F.sum("n2_fix").alias("sum_n2_fix"),
        )
        .withColumn(
            "mean_norm2",
            F.col("sum_n2_fix").cast("double")
            / (F.col("n").cast("double") * F.lit(FIX9)),
        )
    )


def retrieval_label_precision(
    spark: SparkSession, sf_dir: str, n_queries: int = 8, k: int = 3
) -> DataFrame:
    """Retrieval EVAL as a query: for each of the batched kNN queries,
    the fraction of its top-k neighbors sharing the query's label
    (label-precision@k) — quality measurement runs inside the engine,
    on the same plan machinery it evaluates, instead of in a driver
    script.

    Scale posture: composes knn_batch_topk (broadcast query block +
    per-query WindowGroupLimit) with one broadcast join against the
    query labels and one k-bounded agg per query.
    """
    e = load_table(spark, sf_dir, "embeddings")
    topk = knn_batch_topk(spark, sf_dir, n_queries, k)
    q_labels = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("query_label")
    )
    return (
        topk.join(F.broadcast(q_labels), "query_id")
        .groupBy("query_id", "query_label")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum((F.col("label") == F.col("query_label")).cast("long")).alias("n_match"),
        )
        .withColumn(
            "precision",
            F.col("n_match").cast("double") / F.col("k").cast("double"),
        )
    )


def centroid_similarity_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding centroids
    (label_a < label_b) — the class-confusability matrix a curation
    pipeline reads to find label pairs worth merging or re-annotating.

    Determinism: centroid components are single exact double divisions
    of fixed-point BIGINT sums (embedding_centroids_by_label's pinned
    expression), so they are bit-identical across engines; the pair dot
    and norms then go back through the fixed-point floor-sum trick
    (order-independent BIGINT sums), and the final cosine is one
    deterministic double expression.

    Scale posture: the corpus is touched once by the centroid agg
    (shuffle carries |labels|·dim rows); the pair join and norms run on
    that tiny flat table (broadcast self-join on dim), so cost is
    |labels|²·dim regardless of corpus size.
    """
    cen = embedding_centroids_by_label(spark, sf_dir).select(
        "label", "dim", "centroid"
    )
    p9 = lambda x, y: F.floor(x * y * F.lit(FIX9)).cast("long")  # noqa: E731
    norms = cen.groupBy("label").agg(
        F.sum(p9(F.col("centroid"), F.col("centroid"))).alias("norm_fix")
    )
    a = cen.select(
        F.col("label").alias("label_a"), "dim", F.col("centroid").alias("ca")
    )
    b = cen.select(
        F.col("label").alias("label_b"),
        F.col("dim").alias("dim_b"),
        F.col("centroid").alias("cb"),
    )
    dots = (
        a.join(
            F.broadcast(b),
            (F.col("dim") == F.col("dim_b")) & (F.col("label_a") < F.col("label_b")),
        )
        .groupBy("label_a", "label_b")
        .agg(F.sum(p9(F.col("ca"), F.col("cb"))).alias("dot_fix"))
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("norm_fix").alias("na_fix"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("norm_fix").alias("nb_fix"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            "dot_fix",
            cosine_from_fix("dot_fix", "na_fix", "nb_fix").alias("cos_sim"),
        )
    )


DRIFT_SPLIT_MOD = 2  # vec_id parity plays old/new corpus halves


def embedding_drift_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift report: per label, the cosine between the
    label's centroid over the OLD corpus half and over the NEW half —
    the check a pipeline runs after re-embedding or after a new ingest
    wave ("did this label's representation move?"). The fixture has no
    arrival dimension, so the halves are pinned by vec_id parity
    (production splits by ingest date/model version).

    Determinism: same machinery as centroid_similarity_matrix — exact
    fixed-point per-half centroid sums, one pinned double division per
    component, fixed-point pair dot/norms, deterministic cosine.

    Scale posture: one posexplode agg per half keyed (label, dim); the
    drift join runs on the tiny flat centroids.
    """
    e = load_table(spark, sf_dir, "embeddings")

    def half_centroids(residue: int, tag: str):
        ex = e.where(F.col("vec_id") % DRIFT_SPLIT_MOD == residue).select(
            "label", F.posexplode("embedding").alias("dim", "x")
        )
        return (
            ex.groupBy("label", "dim")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.floor(F.col("x").cast("double") * F.lit(FIX9)).cast("long")
                ).alias("s_fix"),
            )
            .select(
                "label",
                "dim",
                (
                    F.col("s_fix").cast("double")
                    / (F.col("n").cast("double") * F.lit(FIX9))
                ).alias(f"c_{tag}"),
            )
        )

    old = half_centroids(0, "old")
    new = half_centroids(1, "new")
    p9 = lambda x, y: F.floor(x * y * F.lit(FIX9)).cast("long")  # noqa: E731
    j = old.join(new, ["label", "dim"])
    return (
        j.groupBy("label")
        .agg(
            F.sum(p9(F.col("c_old"), F.col("c_new"))).alias("dot_fix"),
            F.sum(p9(F.col("c_old"), F.col("c_old"))).alias("na_fix"),
            F.sum(p9(F.col("c_new"), F.col("c_new"))).alias("nb_fix"),
        )
        .select(
            "label",
            cosine_from_fix("dot_fix", "na_fix", "nb_fix").alias("drift_cos"),
        )
    )


def hard_negatives(
    spark: SparkSession, sf_dir: str, n_queries: int = 8, k: int = 3
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each of the
    first ``n_queries`` vectors, the top-k most-similar vectors with a
    DIFFERENT label — the highest-value negatives for a triplet/InfoNCE
    batch (public standard practice in dense-retrieval training).

    Scale posture: identical plan to knn_batch_topk (broadcast query
    block, one corpus pass, per-query WindowGroupLimit) plus one
    label-inequality predicate evaluated before the rank shuffle.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("embedding").alias("q_emb"),
        dot_fix("embedding", "embedding").alias("nb_fix"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    cand = e.crossJoin(F.broadcast(q)).where(F.col("label") != F.col("query_label"))
    return (
        with_cosine(cand, "embedding", "q_emb", nb="nb_fix")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "query_label", "vec_id", "label", "rank", "score")
    )


def matryoshka_recall_report(
    spark: SparkSession, sf_dir: str, n_queries: int = 5, k: int = 10, d: int = 16
) -> DataFrame:
    """Recall@k of truncated-dimension (Matryoshka-style) retrieval vs
    the full-dimension exact baseline, per query (oracle ✔).

    Modern embedding models (MRL — Kusupati et al., NeurIPS 2022) are
    trained so a prefix of the vector is itself a usable embedding;
    retrieval over the first ``d`` of ``dim`` coordinates cuts compute
    and shuffle width by dim/d. Whether that holds for a GIVEN corpus
    is an empirical question — this report measures it, elevating the
    check into the oracle-verified surface exactly like
    ``dedup.ann_recall_report`` does for IVF.

    For each of the first ``n_queries`` stored vectors: exact cosine
    top-k over the full vectors, cosine top-k over ``slice(embedding,
    1, d)``, and their overlap. Deterministic end to end: fixed-point
    BIGINT dots on both sides, (score desc, vec_id asc) tie-breaks.

    Scale posture: both sides are the batched-broadcast kNN shape —
    queries broadcast (Q rows), the corpus streams once per side;
    per-query cuts are rank-filters under a (query_id)-partitioned
    window; the overlap join touches 2·Q·k id pairs. The truncated
    side projects the slice BEFORE scoring, so at a real 100 TB scan
    the narrow column is what crosses the wire.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )

    def _topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
        queries = queries.withColumn("nb_fix", dot_fix("q_emb", "q_emb"))
        cand = corpus.crossJoin(F.broadcast(queries)).where(
            F.col("vec_id") != F.col("query_id")
        )
        return (
            with_cosine(cand, "embedding", "q_emb", nb="nb_fix")
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k)
            .select("query_id", "vec_id")
        )

    exact = _topk(e, q)
    trunc = _topk(
        e.withColumn("embedding", F.slice("embedding", 1, d)),
        q.withColumn("q_emb", F.slice("q_emb", 1, d)),
    )
    overlap = exact.join(trunc, ["query_id", "vec_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    return (
        q.select("query_id")
        .join(overlap, "query_id", "left")
        .select(
            "query_id",
            F.lit(int(d)).alias("d"),
            F.lit(int(k)).alias("k"),
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            (
                F.coalesce("n_overlap", F.lit(0)).cast("double") / F.lit(float(k))
            ).alias("recall_at_k"),
        )
    )


#: LCM(1..10): every reciprocal rank 1/r for r <= 10 is the exact
#: integer 2520/r over this common denominator, so the MRR numerator
#: sums as BIGINTs and only ONE final division produces a double —
#: no float accumulation order to diverge across engines or executors
#: (same no-ln/no-float-sum contract as cooccurrence_lift).
MRR_LCM = 2520


def retrieval_mrr_report(
    spark: SparkSession, sf_dir: str, n_queries: int = 16, k: int = 10
) -> DataFrame:
    """Retrieval eval #2 (oracle ✔): Mean Reciprocal Rank of the first
    same-label neighbor over the batched kNN — the ranking-quality
    complement of retrieval_label_precision's set-quality view (a
    system returning the right label at rank 10 and one at rank 1 have
    the same precision@10; MRR separates them).

    Exact-rational form: reciprocal rank = (LCM/r)/LCM with
    LCM(1..k) = 2520 for k = 10, so per-query values and the corpus
    MRR are each a single division of exact integers — bit-identical
    cross-engine. Queries with NO same-label neighbor in the top-k
    score 0 (rank NULL in the output), the standard MRR convention.

    Scale posture: rides knn_batch_topk (broadcast query block, one
    corpus pass, per-query WindowGroupLimit); everything after is
    n_queries-sized, and the 1-row MRR summary attaches through the
    standard broadcast scalar cross join.
    """
    if k > 10:
        raise ValueError("MRR_LCM covers ranks 1..10; widen the LCM for larger k")
    e = load_table(spark, sf_dir, "embeddings")
    topk = knn_batch_topk(spark, sf_dir, n_queries, k)
    q_labels = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("query_label")
    )
    firsts = (
        topk.join(F.broadcast(q_labels), "query_id")
        .where(F.col("label") == F.col("query_label"))
        .groupBy("query_id")
        .agg(F.min("rank").alias("first_match_rank"))
    )
    per_q = (
        q_labels.join(F.broadcast(firsts), "query_id", "left")
        .withColumn(
            "rr_scaled",
            F.coalesce(
                F.expr(f"{MRR_LCM}L div first_match_rank"),
                F.lit(0).cast("long"),
            ),
        )
    )
    summary = per_q.agg(
        (
            F.sum("rr_scaled").cast("double")
            / (F.lit(float(MRR_LCM)) * F.count(F.lit(1)).cast("double"))
        ).alias("mrr")
    )
    return (
        per_q.crossJoin(F.broadcast(summary))
        .select(
            "query_id",
            "query_label",
            "first_match_rank",
            (F.col("rr_scaled").cast("double") / F.lit(float(MRR_LCM))).alias(
                "reciprocal_rank"
            ),
            "mrr",
        )
    )


def embedding_separability_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label Fisher-style separability (oracle ✔): between-class
    scatter n_c·|μ_c − μ|² against within-class scatter
    Σᵢ|xᵢ|² − n_c·|μ_c|² — the embedding-QA number that says whether a
    label is a real cluster (ratio high) or noise (ratio ~ its share of
    variance). Reported per label deliberately: no float sum ever
    crosses label rows, so there is no accumulation order to diverge.

    Exact-arithmetic contract: every sum that crosses rows is integer —
    per-(label, dim) fixed-point component sums (BIGINT), per-label
    Σ floor(x²·1e9) (BIGINT), and the dim-sums of SQUARED integers in
    DECIMAL(38,0) (DuckDB HUGEINT) where a BIGINT would overflow:
    |μ_c − μ|² rides Σ_d (N·sum_cd − n_c·gsum_d)², scales canceling in
    one pinned final expression. The only floats are correctly-rounded
    integer→double conversions and a fixed multiplication/division
    sequence mirrored token-for-token in the oracle.

    Scale posture: posexplode → ONE hash agg keyed (label, dim)
    (map-side partial sums; |labels|·dim rows shuffle, never vectors),
    the global sums broadcast back, everything after is label-grain.
    """
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("dim", "x"))
    per_ld = ex.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n_c"),
        F.sum(
            F.floor(F.col("x").cast("double") * F.lit(FIX9)).cast("long")
        ).alias("sum_fix"),
        F.sum(
            F.floor(
                F.col("x").cast("double") * F.col("x").cast("double") * F.lit(FIX9)
            ).cast("long")
        ).alias("ss_fix"),
    )
    glob = per_ld.groupBy("dim").agg(
        F.sum("sum_fix").alias("gsum_fix"), F.sum("n_c").alias("n_total")
    )
    joined = per_ld.join(F.broadcast(glob), "dim")
    dec19 = "decimal(19,0)"
    diff = (
        F.col("n_total").cast(dec19) * F.col("sum_fix").cast(dec19)
        - F.col("n_c").cast(dec19) * F.col("gsum_fix").cast(dec19)
    )
    per_label = joined.groupBy("label").agg(
        F.first("n_c").alias("n_c"),
        F.first("n_total").alias("n_total"),
        F.sum("ss_fix").alias("ss_fix_sum"),
        F.sum(
            (F.col("sum_fix").cast(dec19) * F.col("sum_fix").cast(dec19)).cast(
                "decimal(38,0)"
            )
        ).alias("musq_num"),
        # re-narrow before squaring: decimal(38)×decimal(38) hits
        # Spark's precision cap; |diff| <= ~3e13 fits 19 digits
        F.sum(
            (diff.cast(dec19) * diff.cast(dec19)).cast("decimal(38,0)")
        ).alias("diff_sq_sum"),
    )
    n_c_d = F.col("n_c").cast("double")
    n_t_d = F.col("n_total").cast("double")
    within = (
        F.col("ss_fix_sum").cast("double") / F.lit(FIX9)
        - F.col("musq_num").cast("double") / (n_c_d * F.lit(FIX9) * F.lit(FIX9))
    )
    between = F.col("diff_sq_sum").cast("double") / (
        n_c_d * n_t_d * n_t_d * F.lit(FIX9) * F.lit(FIX9)
    )
    return per_label.select(
        "label",
        F.col("n_c").cast("long").alias("n_vectors"),
        within.alias("within_ss"),
        between.alias("between_ss"),
        (between / within).alias("separability"),
    )


# --- SemDeDup: k-means coarse clustering + within-cluster near-dup ---------

SEMDEDUP_ITERS = 2    # assignment passes (recenters between = ITERS-1)
SEMDEDUP_TAU = 0.3    # within-cluster dup cosine (fixture-calibrated; real
                      # corpora run 0.9+ — the fixture's random-ish vectors
                      # top out near 0.51, see test calibration)
# Adaptive k (the embedding-LSH ``bits`` dial applied to k-means).
# TWO-LEVEL k-means (r11; replaces the flat √N dial whose 100× store
# probe measured the 30×→100× step at 6.7× time for 3.33× data — the
# N^1.5 total the flat trade cannot beat). Costs: level-1 assignment
# N·k1, level-2 sub-split N·k2, within-cell pair scan N²/(k1·k2).
# With k1 = k2 = k the sum 2N·k + N²/k² is minimized at k = N^(1/3):
# total ~3·N^(4/3), vs flat k-means' best 2·N^1.5. Both dials are the
# power of two at the corpus count's bit length // 3 — integer ops
# only, exactly mirrorable in DuckDB (no IEEE cbrt, whose rounding
# could cross a boundary differently per engine). The clamps bound the
# broadcasts: k1 rows of centroids, k1·k2 ≈ N^(2/3) sub-seed rows
# (~65k rows × 64 dims ≈ 17 MB at 16M vectors — still broadcastable).
SEMDEDUP_MIN_K = 4
SEMDEDUP_MAX_K = 4096
# Sign-LSH bucket level ABOVE the two-level k-means (r12; VERDICT r11
# "What's wrong #3": any L-level k-means tree has build cost
# ≥ N^(1+1/(L+1)) — the two-level form's N^(4/3) step measured 4.4×
# per 3.33× data at the 100× probe, over the ≤3.8× bar. A sign-LSH
# coarse partition costs O(N) — no centroid dots — and with expected
# occupancy ~SEMDEDUP_BKT_TARGET the per-bucket two-level k-means does
# constant work per vector: the whole build goes near-linear. Below
# the target (both test fixtures) bits = 0 → ONE bucket → the chain
# (seeds, Lloyd, subsplit, cluster ids) is bit-identical to the
# un-bucketed r11 form.
SEMDEDUP_BKT_TARGET = 4096
SEMDEDUP_MAX_BITS = 16


def _semdedup_bits(n: int) -> int:
    """Bucket-bit dial: 0 below the target occupancy, else the bit
    length of n // target (integer ops only — mirrored by the oracle's
    CASE WHEN n < target THEN 0 ELSE length(bin(n // target)) END)."""
    if n < SEMDEDUP_BKT_TARGET:
        return 0
    return min(SEMDEDUP_MAX_BITS, (n // SEMDEDUP_BKT_TARGET).bit_length())


def _semdedup_bucket(bits: int) -> Column:
    """Sign-LSH bucket id: bit i is the sign (≥ 0) of embedding
    dimension (7·i + 1) mod 64 + 1 (stride-7 walk — gcd(7,64)=1 visits
    distinct dims; avoids any leading-dims bias). NULL / out-of-range
    elements contribute a 0 bit (try_element_at ≡ DuckDB's NULL on
    out-of-range [i], and NULL ≥ 0 is not true in either engine)."""
    if bits == 0:
        return F.lit(0).cast("long")
    col = F.lit(0)
    for i in range(bits):
        dim = (7 * i + 1) % 64 + 1
        col = col + F.when(
            F.try_element_at("embedding", F.lit(dim)) >= 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    return col.cast("long")


def _semdedup_kn(eb: DataFrame) -> DataFrame:
    """Per-bucket k dial (bkt, kk): the power of two at the BUCKET
    count's bit length // 3 (≈ occupancy^(1/3)), clamped — the r11
    global ``_semdedup_k12`` formula applied per bucket, in-plan
    (conv(cnt,10,2) length ≡ bit_length ≡ DuckDB length(bin(cnt)))."""
    return (
        eb.groupBy("bkt")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "kk",
            F.expr(
                f"least({SEMDEDUP_MAX_K}, greatest({SEMDEDUP_MIN_K}, "
                "shiftleft(1, length(conv(cnt, 10, 2)) div 3)))"
            ).cast("int"),
        )
        .select("bkt", "kk")
    )


def _semdedup_assign(e: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment by exact fixed-point cosine, within
    each vector's own bucket (equi-join on bkt — ONE bucket's ≤ kk
    centroids per vector, never the global k1 crossJoin); ties break
    to the lowest centroid id (pinned, engine-stable)."""
    s = with_cosine(e.join(F.broadcast(cents), "bkt"), "embedding", "c")
    w = Window.partitionBy("vec_id").orderBy(
        F.col("score").desc(), F.col("cid").asc()
    )
    return (
        s.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        # na_fix rides along: the pair scan reuses the per-vector norm
        # instead of recomputing it for every candidate pair
        .select("vec_id", "embedding", "bkt", "cid", "na_fix")
    )


def _semdedup_recenter(assigned: DataFrame) -> DataFrame:
    """Per-cluster elementwise mean, exact: fixed-1e6 integer sums,
    truncating integer division (``div`` ≡ DuckDB ``//``), one
    correctly-rounded int→double conversion per dimension."""
    ex = assigned.select(
        "bkt", "cid", F.posexplode("embedding").alias("dim", "x")
    )
    dims = ex.groupBy("bkt", "cid", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("x").cast("double") * F.lit(FIX6)).cast("long")
        ).alias("s"),
    )
    return (
        dims.withColumn(
            "cval", F.expr("s div n").cast("double") / F.lit(FIX6)
        )
        .groupBy("bkt", "cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cval"))),
                lambda p: p.cval,
            ).alias("c")
        )
    )


def _semdedup_seed_hash() -> Column:
    """Deterministic seed order: first 48 bits of sha256(vec_id) as a
    BIGINT — identical to DuckDB's ('0x'||substr(sha256(v),1,12))."""
    return F.conv(
        F.substring(F.sha2(F.col("vec_id").cast("string"), 256), 1, 12), 16, 10
    ).cast("long")


def _semdedup_lloyd(eb: DataFrame, kn: DataFrame, iters: int) -> DataFrame:
    """Hash-seeded Lloyd loop over a bucketed corpus: ``iters``
    assignment passes with a recenter between each, every step keyed
    by (bkt, cid). Seeds are the first kk members of each bucket in
    seed-hash order. Runs inside the one-time store materialization,
    so lineage truncation between passes is legitimate (and essential
    — the unrolled plan would otherwise re-evaluate every earlier pass
    for each consumer of the next one). Returns (vec_id, embedding,
    bkt, cid, na_fix)."""
    wseed = Window.partitionBy("bkt").orderBy("h", "vec_id")
    cents = (
        eb.join(F.broadcast(kn), "bkt")
        .withColumn("h", _semdedup_seed_hash())
        .withColumn("rn", F.row_number().over(wseed))
        .where(F.col("rn") <= F.col("kk"))
        .select(
            "bkt",
            (F.col("rn") - 1).alias("cid"),
            F.transform("embedding", lambda x: x.cast("double")).alias("c"),
        )
    )
    assigned = None
    for i in range(iters):
        assigned = _semdedup_assign(eb, cents).localCheckpoint()
        if i < iters - 1:
            cents = _semdedup_recenter(assigned).localCheckpoint()
    return assigned


def _semdedup_subsplit(assigned: DataFrame, kn: DataFrame) -> DataFrame:
    """Level-2 Voronoi split of each coarse cell around its first
    ``kk`` members in seed-hash order (one nearest-sub-seed pass —
    i.e. the first assignment pass of a per-cell k-means; cells with
    ≤ kk members become singletons). One corpus equi-join on
    (bkt, cid) against a Σ_b kk_b²-row sub-seed table; ties break to
    the lowest scid (pinned). Returns the input plus ``scid``."""
    wcell = Window.partitionBy("bkt", "cid").orderBy("h", "vec_id")
    subs = (
        assigned.join(F.broadcast(kn), "bkt")
        .withColumn("h", _semdedup_seed_hash())
        .withColumn("rn", F.row_number().over(wcell))
        .where(F.col("rn") <= F.col("kk"))
        .select(
            "bkt",
            "cid",
            (F.col("rn") - 1).alias("scid"),
            F.transform("embedding", lambda x: x.cast("double")).alias("sc"),
        )
        .withColumn("nsc_fix", dot_fix("sc", "sc"))
    )
    s = with_cosine(
        assigned.join(F.broadcast(subs), ["bkt", "cid"]), "embedding", "sc",
        na="na_fix", nb="nsc_fix",
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("score").desc(), F.col("scid").asc()
    )
    return (
        s.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "embedding", "bkt", "cid", "scid", "na_fix")
    )


def semdedup_compute(spark: SparkSession, sf_dir: str,
                     k: int | None = None, iters: int = SEMDEDUP_ITERS,
                     tau: float = SEMDEDUP_TAU) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): k-means coarse
    cells over the embedding column, then within each cell mark every
    vector that has a LOWER-id neighbor above the ``tau`` cosine — the
    semantic near-duplicates a curation pass would drop. Output:
    (vec_id, cluster, is_dup).

    Every arithmetic step is engine-exact: hash-seeded centroids (no
    RNG), fixed-point dot products, truncating-division centroids —
    so the full iterative pipeline is DuckDB-oracle-checkable.

    The production path (``k=None``, the only value the session store
    serves) is BUCKETED TWO-LEVEL (r12): a sign-LSH coarse partition
    into 2^bits buckets (bits sized for ~SEMDEDUP_BKT_TARGET expected
    occupancy — O(N), no centroid dots), then WITHIN each bucket a
    Lloyd loop with kk ≈ occupancy^(1/3) cells and a nearest-sub-seed
    split into kk sub-cells (``_semdedup_subsplit``); the dup scan
    joins within (bkt, cid, scid) only. Per-bucket work is constant at
    the target occupancy, so the whole build is near-linear — vs the
    un-bucketed two-level form's N^(4/3), whose r11 100× store probe
    measured the 30×→100× step at 4.4× time for 3.33× data (any
    L-level k-means tree is ≥ N^(1+1/(L+1)); the LSH level breaks the
    bound because bucketing costs no per-centroid comparisons). Final
    cluster id = bkt·2^24 + cid·kk_b + scid (< 2^24 within a bucket
    since kk ≤ 4096). Below the target occupancy bits = 0 → one
    bucket → the chain degenerates to exactly the r11 two-level form
    (both test fixtures; same ids, same is_dup). An EXPLICIT ``k``
    keeps the flat single-level single-bucket form — the pinned path
    for planted-fixture tests.

    Scale posture: each pass is one corpus scan against a (bkt)- or
    (bkt, cid)-keyed seed table (Σ_b kk_b ≈ N/target^(2/3) rows —
    broadcast here; at extreme N Spark can shuffle-join the same
    plan); recentering shuffles (bkt, cid, dim) partial sums, not
    vectors; the pair scan is confined to sub-cells of ~occupancy^(1/3)
    vectors — never all-pairs. LSH-boundary near-dups are out of scope
    by construction, exactly as k-means-cell-boundary near-dups are in
    Abbas et al.'s original (locality-confined scan is the algorithm).
    The count action is legitimate here: this is the once-per-dataset
    store fixpoint, not a lazy builder. Like production k-means, the
    loop materializes once into the session store
    (store.semdedup_labels) and every consumer reads the flat parquet.
    """
    e = spread(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    if k is None:
        bits = _semdedup_bits(e.count())
        eb = e.withColumn("bkt", _semdedup_bucket(bits))
        kn = _semdedup_kn(eb).localCheckpoint()
        assigned = _semdedup_subsplit(_semdedup_lloyd(eb, kn, iters), kn)
        cell = ["bkt", "cid", "scid"]
        cluster = (
            F.col("bkt") * F.lit(1 << 24)
            + F.col("cid") * F.col("kk")
            + F.col("scid")
        ).alias("cluster")
        assigned = assigned.join(F.broadcast(kn), "bkt")
    else:
        eb = e.withColumn("bkt", F.lit(0).cast("long"))
        kn = spark.range(1).select(
            F.lit(0).cast("long").alias("bkt"), F.lit(k).cast("int").alias("kk")
        )
        assigned = _semdedup_lloyd(eb, kn, iters)
        cell = ["bkt", "cid"]
        cluster = F.col("cid").alias("cluster")
    a = assigned.select(
        *cell, F.col("vec_id").alias("va"),
        F.col("embedding").alias("emb_a"), F.col("na_fix").alias("norm_a"),
    )
    b = assigned.select(
        *cell, F.col("vec_id").alias("vb"),
        F.col("embedding").alias("emb_b"), F.col("na_fix").alias("norm_b"),
    )
    # the cell equi-join leaves only k1·k2 distinct keys — rebalance
    # the BOUNDED candidate-pair set across all cores before the
    # per-pair dot (round-robin on pair identity, not a keyed shuffle)
    pairs = (
        a.join(b, cell)
        .where(F.col("va") < F.col("vb"))
        .repartition(F.col("va"), F.col("vb"))
    )
    dup = (
        with_cosine(pairs, "emb_a", "emb_b", na="norm_a", nb="norm_b")
        .where(F.col("score") >= tau)
        .select("vb")
        .distinct()
    )
    return (
        assigned.join(dup, assigned.vec_id == dup.vb, "left")
        .select(
            "vec_id",
            cluster,
            F.col("vb").isNotNull().alias("is_dup"),
        )
    )


def semdedup_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup label table, served from the session store (the
    iterative k-means runs ONCE per dataset; consumers scan the flat
    parquet — same contract as dedup_clusters)."""
    from via_spark import store

    return store.semdedup_labels(
        spark, sf_dir, None, SEMDEDUP_ITERS, SEMDEDUP_TAU
    )


def semdedup_bucket_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket balance of the r12 sign-LSH level above SemDeDup's
    k-means (r12 staged): (bkt, n_vectors, kk, share_micro, bits) —
    the skew readout for the one heuristic stage of the bucketed
    build. Real embeddings correlate signs, so a hot bucket is the
    expected failure mode; this query shows it (share_micro ≫ the
    uniform 10^6/2^bits) together with the kk dial the hot bucket will
    get (its damage bound is its own N_b^(4/3) term — SCALE.md r12).

    Lazy-builder contract: the store fixpoint computes ``bits`` from a
    driver-side count (eager allowed there); here the SAME formula
    runs in-plan from a 1-row count agg (broadcast scalar attach), and
    the bucket comes from masking the full SEMDEDUP_MAX_BITS-wide sign
    value with (1 << bits) - 1 — identical arithmetic to
    ``_semdedup_bucket``'s Python-side term sum.

    Scale posture: one corpus scan → ≤ 2^bits-row hash agg; the count
    attaches by broadcast.
    """
    e = load_table(spark, sf_dir, "embeddings").select("embedding")
    nb = e.agg(
        F.expr(
            f"CASE WHEN count(1) < {SEMDEDUP_BKT_TARGET} THEN 0 "
            f"ELSE least({SEMDEDUP_MAX_BITS}, "
            f"length(bin(count(1) div {SEMDEDUP_BKT_TARGET}))) END"
        )
        .cast("int")
        .alias("bits"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )
    wide = F.lit(0)
    for i in range(SEMDEDUP_MAX_BITS):
        dim = (7 * i + 1) % 64 + 1
        wide = wide + F.when(
            F.try_element_at("embedding", F.lit(dim)) >= 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    return (
        e.crossJoin(F.broadcast(nb))
        .select(
            (wide.cast("long").bitwiseAND(
                F.expr("shiftleft(CAST(1 AS BIGINT), bits) - 1")
            )).alias("bkt"),
            "bits",
            "n_total",
        )
        .groupBy("bkt", "bits", "n_total")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
        .select(
            "bkt",
            "n_vectors",
            F.expr(
                f"CAST(least({SEMDEDUP_MAX_K}, greatest({SEMDEDUP_MIN_K}, "
                "shiftleft(1, length(conv(n_vectors, 10, 2)) div 3))) AS INT)"
            ).alias("kk"),
            F.expr("n_vectors * 1000000L div n_total").alias("share_micro"),
            "bits",
        )
    )


SEMDEDUP_SAMPLE_N = 200  # probe sample for the containment estimate


def semdedup_containment_report(
    spark: SparkSession, sf_dir: str, tau: float = SEMDEDUP_TAU,
    sample_n: int = SEMDEDUP_SAMPLE_N,
) -> DataFrame:
    """Measured pair containment of the SemDeDup cells against the
    EXACT cosine-≥-tau ground truth, restricted to pairs touching a
    deterministic probe sample (vec_id < ``sample_n``) — the standing
    measured-accuracy rule (ann_recall_report,
    neardup_lsh_recall_report) applied to the one approximation
    SemDeDup makes: a true near-dup pair is only ever MARKED if both
    endpoints land in the same (bkt, cid, scid) cell. Containment is
    the fraction that do — the ceiling on SemDeDup's dup recall at
    this tau, and the number that says whether the r12 sign-LSH
    bucket level (or the k-means split under it) is cutting real
    neighborhoods.

    One row: (n_true_pairs, n_contained, containment_micro;
    NULL containment when no true pair exists).

    Scale posture: the exact side is sample × corpus with the sample
    broadcast — linear, never all-pairs; the containment side is two
    hash joins against the persisted label store.
    """
    # per-SIDE norm precompute — see neardup_lsh_recall_report (r12):
    # dot_fix is an interpreted HOF; self-norms per candidate row were
    # |sample|×/|corpus|× redundant. Same values, 3× fewer HOF evals.
    # spread() keeps the pair map stage off a single-split scan (gated).
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding", dot_fix("embedding", "embedding").alias("nb_fix"),
    )
    s = e.where(F.col("vec_id") < sample_n).select(
        F.col("vec_id").alias("s_id"), F.col("embedding").alias("s_emb"),
        F.col("nb_fix").alias("na_fix"),
    )
    cand = e.crossJoin(F.broadcast(s)).where(F.col("vec_id") != F.col("s_id"))
    truth = (
        with_cosine(cand, "s_emb", "embedding", na="na_fix", nb="nb_fix")
        .where(F.col("score") >= F.lit(tau))
        .select(
            F.least("s_id", "vec_id").alias("vec_a"),
            F.greatest("s_id", "vec_id").alias("vec_b"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    labels = semdedup_assignments(spark, sf_dir)
    la = labels.select(F.col("vec_id").alias("vec_a"), F.col("cluster").alias("cl_a"))
    lb = labels.select(F.col("vec_id").alias("vec_b"), F.col("cluster").alias("cl_b"))
    return (
        truth.join(la, "vec_a")
        .join(lb, "vec_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_true_pairs"),
            F.sum((F.col("cl_a") == F.col("cl_b")).cast("long"))
            .cast("long")
            .alias("n_contained"),
        )
        .select(
            F.coalesce("n_true_pairs", F.lit(0).cast("long")).alias(
                "n_true_pairs"
            ),
            F.coalesce("n_contained", F.lit(0).cast("long")).alias(
                "n_contained"
            ),
            F.expr(
                "CASE WHEN coalesce(n_true_pairs, 0L) = 0 THEN NULL "
                "ELSE coalesce(n_contained, 0L) * 1000000L "
                "div n_true_pairs END"
            ).alias("containment_micro"),
        )
    )


def semdedup_cell_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Occupancy histogram of the two-level SemDeDup cells (r11 staged)
    — the k-means twin of ``embedding_bucket_occupancy``: how many
    final (cid, scid) cells hold how many vectors. The health readout
    for the N^(1/3) dial: a healthy split shows mass near N/(k1·k2);
    one giant cell means the pair scan inside it is quietly quadratic
    again (the regime the two-level rewrite exists to prevent).

    Scale posture: one scan of the persisted label store → |cells|-row
    hash agg → |distinct sizes|-row agg. Output: (cell_size, n_cells,
    n_vectors), sorted nowhere (driver compare sorts)."""
    labels = semdedup_assignments(spark, sf_dir)
    per = labels.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("cell_size")
    )
    return per.groupBy("cell_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("cell_size").cast("long").alias("n_vectors"),
    )


def semdedup_cell_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell label purity of the two-level SemDeDup split (r11
    staged): each final cell's majority ``label`` and its share — the
    quality twin of ``semdedup_cell_occupancy`` (that one says the
    cells are BALANCED; this one says they are MEANINGFUL — a split
    whose cells mix labels at random dedups across semantic
    boundaries). Majority ties break to the lowest label (pinned).
    Output: (cluster, cell_size, majority_label, purity_micro).

    Scale posture: label-store scan ⋈ a 2-column embeddings
    projection, one (cluster, label) hash agg, one WindowGroupLimit
    top-1 per cluster."""
    labels = semdedup_assignments(spark, sf_dir).select("vec_id", "cluster")
    lab = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    per = (
        labels.join(lab, "vec_id")
        .groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("n").desc(), F.col("label").asc()
    )
    size = per.groupBy("cluster").agg(F.sum("n").alias("cell_size"))
    return (
        per.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .join(size, "cluster")
        .select(
            "cluster",
            F.col("cell_size").cast("long").alias("cell_size"),
            F.col("label").alias("majority_label"),
            F.expr("n * 1000000L div cell_size").alias("purity_micro"),
        )
    )


# --- round-10 additions ---

# 1/log2(i+1) in 1e-6 micro units for ranks 1..10 — the nDCG discount
# table as PINNED integers (no transcendental log at query time; the
# whole-bit-surprisal doctrine applied to ranking metrics), and its
# prefix sums (the ideal-DCG ladder for 1..10 relevant documents).
NDCG_DISC_MICRO = (
    1_000_000, 630_930, 500_000, 430_677, 386_853,
    356_207, 333_333, 315_465, 301_030, 289_065,
)
NDCG_IDCG_MICRO = (
    1_000_000, 1_630_930, 2_130_930, 2_561_607, 2_948_460,
    3_304_667, 3_638_000, 3_953_465, 4_254_495, 4_543_560,
)


def retrieval_ndcg_report(
    spark: SparkSession, sf_dir: str, n_queries: int = 16, k: int = 10
) -> DataFrame:
    """Retrieval eval #3: nDCG@10 per query over the batched exact kNN
    (binary relevance = same-label neighbor), with the corpus mean
    attached — the position-weighted ranking metric that MRR (first hit
    only) and precision@k (set only) both miss: a ranker returning all
    relevant docs at ranks 6-10 and one at ranks 1-5 have equal
    precision and similar MRR, but very different nDCG.

    Exactness: DCG is a BIGINT sum of pinned integer discounts; the
    ideal DCG is ``NDCG_IDCG_MICRO[min(k, n_rel)]`` where n_rel counts
    the query's same-label corpus neighbors (self excluded); the single
    truncating division yields ``ndcg_micro``, and the mean over
    scoreable queries (n_rel > 0) is a second integer division.

    Scale posture: rides knn_batch_topk (broadcast query block, one
    corpus pass, WindowGroupLimit); label counts are one |labels|-row
    agg broadcast back; everything after is n_queries-sized.
    """
    if k != len(NDCG_DISC_MICRO):
        raise ValueError("discount table pins k = 10; extend NDCG_DISC_MICRO first")
    e = load_table(spark, sf_dir, "embeddings")
    topk = knn_batch_topk(spark, sf_dir, n_queries, k)
    q_labels = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("query_label")
    )
    label_counts = e.groupBy("label").agg(F.count(F.lit(1)).alias("n_label"))
    disc = F.element_at(
        F.array(*[F.lit(x).cast("long") for x in NDCG_DISC_MICRO]), F.col("rank")
    )
    dcg = (
        topk.join(F.broadcast(q_labels), "query_id")
        .groupBy("query_id", "query_label")
        .agg(
            F.sum(
                F.when(F.col("label") == F.col("query_label"), disc).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("dcg_micro")
        )
    )
    idcg_arr = F.array(*[F.lit(x).cast("long") for x in NDCG_IDCG_MICRO])
    per = (
        dcg.join(
            F.broadcast(label_counts), dcg.query_label == label_counts.label
        )
        .withColumn("n_rel", F.least(F.lit(k).cast("long"), F.col("n_label") - 1))
        .withColumn(
            "idcg_micro",
            F.when(
                F.col("n_rel") > 0,
                F.element_at(idcg_arr, F.col("n_rel").cast("int")),
            ),
        )
        .withColumn("ndcg_micro", F.expr("dcg_micro * 1000000L div idcg_micro"))
        .select(
            "query_id", "query_label", "n_rel", "dcg_micro", "idcg_micro", "ndcg_micro"
        )
    )
    mean = per.agg(
        F.expr("sum(ndcg_micro) div count(ndcg_micro)").alias("mean_ndcg_micro")
    )
    return per.crossJoin(F.broadcast(mean))


def quantization_error_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured INT8 quantization error per label: relative L2
    reconstruction error of the round trip through quantized_vec (the
    same symmetric per-vector scale ann_quantized_topk ranks with) —
    the 'is 4× compression costing me recall' number, reported beside
    the ranking-level checks (ann_recall_report) so the error is
    attributable to quantization rather than inferred from rank churn.

    Determinism: reconstruction is ``q / s`` with the SAME
    ``s = 127/max|x|`` double both engines derive, every residual
    product floored to 1e-9 fixed point before summation (dot_fix
    discipline — order-independent exact BIGINT sums), and
    ``relerr_micro = err_fix·1e6 div norm_fix`` one truncating
    division. Zero vectors (s undefined) report NULL and are excluded
    from the means.

    Scale posture: pure per-row array arithmetic over one embeddings
    scan + one |labels|-row hash agg. At 100 TB this runs as the
    validation pass of the quantized-index build it audits.
    """
    e = load_table(spark, sf_dir, "embeddings")
    maxabs = F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double"))))
    s = F.lit(127.0) / F.col("maxabs")
    scales = F.array_repeat(s, F.size(F.col("embedding")))
    resid = F.zip_with(
        F.col("embedding"),
        F.zip_with(
            F.col("embedding"), scales,
            lambda x, sv: F.floor(x.cast("double") * sv).cast("double") / sv,
        ),
        lambda x, xhat: x.cast("double") - xhat,
    )
    per = (
        e.withColumn("maxabs", maxabs)
        .withColumn("norm_fix", dot_fix("embedding", "embedding"))
        .withColumn("resid", F.when(F.col("maxabs") > 0, resid))
        .withColumn("err_fix", dot_fix("resid", "resid"))
        .select(
            "vec_id",
            "label",
            F.expr(
                "if(norm_fix > 0 and err_fix is not null,"
                " err_fix * 1000000L div norm_fix, cast(null as long))"
            ).alias("relerr_micro"),
        )
    )
    return per.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.count("relerr_micro").alias("n_scored"),
        F.expr("sum(relerr_micro) div count(relerr_micro)").alias("mean_relerr_micro"),
        F.max("relerr_micro").alias("max_relerr_micro"),
    )


SEMANTIC_CONTAM_TAU = 0.4  # same cut as the embedding near-dup family


def semantic_contamination(
    spark: SparkSession, sf_dir: str, bench_max_id: int = 10,
    tau: float = SEMANTIC_CONTAM_TAU,
) -> DataFrame:
    """Embedding-level decontamination: for every corpus vector, its
    maximum exact cosine against the benchmark block (vec_id <
    ``bench_max_id``, the same deterministic pseudo-benchmark
    benchmark_contamination uses at SHINGLE level) and the ≥ τ flag —
    the semantic leak detector paraphrased eval items evade shingle
    matching with (the SemDeDup/decontamination argument applied to
    eval hygiene).

    Determinism: exact fixed-point dots; best-match ties break on
    smallest bench id (argmax via the pinned (score desc, bench_id)
    order). Scale posture: the benchmark block broadcasts, the corpus
    streams through ONE scan, and the per-vector argmax is a
    WindowGroupLimit — identical envelope to knn_batch_topk with the
    roles reversed (many corpus rows, few queries).
    """
    e = load_table(spark, sf_dir, "embeddings")
    bench = e.where(F.col("vec_id") < bench_max_id).select(
        F.col("vec_id").alias("bench_id"),
        F.col("embedding").alias("b_emb"),
        dot_fix("embedding", "embedding").alias("nb_fix"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("bench_id").asc()
    )
    cand = e.where(F.col("vec_id") >= bench_max_id).crossJoin(F.broadcast(bench))
    return (
        with_cosine(cand, "embedding", "b_emb", out="cos", nb="nb_fix")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "vec_id",
            "label",
            "bench_id",
            F.col("cos").alias("best_cos"),
            (F.col("cos") >= F.lit(tau)).alias("contaminated"),
        )
    )
