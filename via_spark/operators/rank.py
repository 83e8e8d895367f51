"""Exact global ranking without a single-partition funnel.

``Window.orderBy`` with no ``partitionBy`` funnels every row through ONE
partition (Spark even warns about it) — correct at test scale, a
bottleneck at 100 TB. This module computes the SAME exact global
``row_number`` scalably:

1. ``repartitionByRange`` on the total order → partition *i* holds rows
   that sort strictly before partition *i+1* (the order columns must
   form a total order — include a unique tiebreak column).
2. ``sortWithinPartitions`` + ``monotonically_increasing_id`` → each
   row's (partition id, offset-within-partition) pair, derived from the
   id's documented layout (pid << 33 | local row offset). The
   nondeterministic id keeps Catalyst from reordering it across the
   sort, so the offset follows the sorted order.
3. Per-partition counts (one row per partition) → cumulative offsets via
   a window over O(num_partitions) rows — the only "global" step, and
   it is O(partitions), not O(data).
4. Broadcast the offsets back; global rank = local offset + partition
   offset + 1.

Cost model: the counts branch and the main branch each evaluate the
range-partitioned subplan (Spark reuses identical exchanges where the
plans canonicalize equal), so worst case is two parallel shuffles of the
ranked columns — still strictly better at scale than one shuffle that
funnels everything through a single partition. Rankings that only need
a bounded prefix should prefer a top-N cut (TakeOrderedAndProject), as
``search.hybrid_rrf`` does; this operator is for when the FULL exact
ranking is the product (percentile assignment, corpus-wide ordering).

Oracle-checked through the ``global_value_rank`` driver row against
DuckDB ``row_number() OVER (ORDER BY ...)``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from via_spark.operators.sketch import _hash48
from via_spark.session import load_table

_PID_SHIFT = 33
_LOCAL_MASK = (1 << _PID_SHIFT) - 1


def global_row_number(
    df: DataFrame,
    order: list[Column],
    out: str = "rank",
    num_partitions: int | None = None,
    total: str | None = None,
) -> DataFrame:
    """Append ``out`` = exact 1-based global row_number over ``order``.

    ``order`` must be a total order (tie-break on a unique column) so the
    rank is well-defined independent of partition boundaries. The rank is
    a BIGINT — this operator exists for corpus-wide orderings, where an
    int would overflow past 2^31 rows.

    ``total``: optionally also attach the total row count under this
    column name — it falls out of the per-partition counts the offsets
    already need, so callers (e.g. decile binning) get n without a
    second pass over the input.
    """
    spark = df.sparkSession
    npart = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = (
        df.repartitionByRange(npart, *order)
        .sortWithinPartitions(*order)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftrightunsigned("_mid", _PID_SHIFT))
        .withColumn("_loc", F.col("_mid").bitwiseAND(F.lit(_LOCAL_MASK)))
    )
    counts = ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid",
        F.coalesce(F.sum("_n").over(w), F.lit(0)).alias("_off"),
        F.sum("_n").over(
            Window.orderBy("_pid").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("_tot"),
    )
    ranked = (
        ranged.join(F.broadcast(offsets), "_pid")
        .withColumn(out, (F.col("_loc") + F.col("_off") + 1).cast("long"))
    )
    if total is not None:
        ranked = ranked.withColumn(total, F.col("_tot"))
    return ranked.drop("_mid", "_pid", "_loc", "_off", "_tot")


def global_value_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: exact global rank of every event by
    (value desc, event_id asc) — the full-corpus ordering a percentile
    or curriculum-sampling pipeline needs, computed without any
    single-partition funnel."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    return global_row_number(
        ev, [F.col("value").desc(), F.col("event_id").asc()], "rank"
    ).select("event_id", "value", "rank")


def global_prefix_sum(
    df: DataFrame,
    order: list[Column],
    value: Column | str,
    out: str = "prefix_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``out`` = exact EXCLUSIVE global prefix sum of ``value``
    over the total order ``order`` (the sum of all strictly-earlier
    rows; first row gets 0) — same range-partition + broadcast-offsets
    machinery as :func:`global_row_number`, generalized from counts to
    sums. ``value`` must be integer-typed for exactness.

    The only cross-partition step is a cumulative sum over
    O(num_partitions) per-partition totals; within partitions the
    running sum is a bounded window keyed by the partition id.
    """
    val = F.col(value) if isinstance(value, str) else value
    spark = df.sparkSession
    npart = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = (
        df.withColumn("_v", val.cast("long"))
        .repartitionByRange(npart, *order)
        .sortWithinPartitions(*order)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftrightunsigned("_mid", _PID_SHIFT))
        .withColumn("_loc", F.col("_mid").bitwiseAND(F.lit(_LOCAL_MASK)))
    )
    local = Window.partitionBy("_pid").orderBy("_loc").rowsBetween(
        Window.unboundedPreceding, -1
    )
    totals = ranged.groupBy("_pid").agg(F.sum("_v").alias("_pt"))
    w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_pid", F.coalesce(F.sum("_pt").over(w), F.lit(0)).alias("_off")
    )
    return (
        ranged.withColumn("_run", F.coalesce(F.sum("_v").over(local), F.lit(0)))
        .join(F.broadcast(offsets), "_pid")
        .withColumn(out, (F.col("_run") + F.col("_off")).cast("long"))
        .drop("_v", "_mid", "_pid", "_loc", "_run", "_off")
    )


def token_budget_shards(
    spark: SparkSession, sf_dir: str, budget_tokens: int = 8192
) -> DataFrame:
    """Pre-training shard packing: lay the corpus out as one contiguous
    token stream (doc_id order) and assign each document to the shard
    its START offset falls in (``start div budget``) — how a training
    pipeline materializes fixed-token-budget shards/sequences from a
    document table.

    Scale posture: the start offsets come from
    :func:`global_prefix_sum` — exact, with no single-partition window
    over the corpus; everything else is per-row arithmetic.
    """
    from via_spark.operators.textstats import token_count_documents

    toks = token_count_documents(spark, sf_dir).select("doc_id", "n_ws_tokens")
    with_start = global_prefix_sum(
        toks, [F.col("doc_id").asc()], "n_ws_tokens", "start_offset"
    )
    return with_start.select(
        "doc_id",
        F.col("n_ws_tokens").alias("n_tokens"),
        "start_offset",
        F.expr(f"start_offset div {budget_tokens}").alias("shard_id"),
    )


TOKEN_SHARD_BUDGET = 1024  # spans use sequence-length-sized shards


def token_shard_spans(
    spark: SparkSession, sf_dir: str, budget_tokens: int = TOKEN_SHARD_BUDGET
) -> DataFrame:
    """Boundary-splitting shard packing: where :func:`token_budget_shards`
    assigns each document to the shard its START falls in (documents
    never split), this emits what a sequence-packing loader actually
    materializes — for every (document, shard) it touches, the
    doc-local token span [tok_start, tok_end) that lands in that shard,
    so a document straddling shard boundaries is SPLIT across them and
    every shard holds exactly ``budget_tokens`` tokens (except the
    last). Zero-token documents produce no span (pinned).

    Exactness: pure 64-bit integer arithmetic over the exact exclusive
    prefix sums — first shard = ``start div B``, last = ``(end-1) div
    B``, span = clamp of [start, end) to the shard's [s·B, (s+1)·B).

    Scale posture: offsets ride :func:`global_prefix_sum` (range
    partition + broadcast offsets — no corpus-wide window); the span
    explode generates (spans-per-doc) = O(n_tokens/B + 1) rows per doc
    with per-row arithmetic only, no join and no extra shuffle.
    """
    from via_spark.operators.textstats import token_count_documents

    b = int(budget_tokens)
    toks = token_count_documents(spark, sf_dir).select("doc_id", "n_ws_tokens")
    ws = global_prefix_sum(toks, [F.col("doc_id").asc()], "n_ws_tokens", "start_offset")
    return (
        ws.where(F.col("n_ws_tokens") > 0)
        .select(
            "doc_id",
            F.col("n_ws_tokens").alias("n"),
            F.col("start_offset").alias("s"),
            F.explode(
                F.sequence(
                    F.expr(f"start_offset div {b}"),
                    F.expr(f"(start_offset + n_ws_tokens - 1) div {b}"),
                )
            ).alias("shard_id"),
        )
        .select(
            "doc_id",
            "shard_id",
            (F.greatest(F.col("s"), F.col("shard_id") * b) - F.col("s"))
            .alias("tok_start"),
            (F.least(F.col("s") + F.col("n"), (F.col("shard_id") + 1) * b) - F.col("s"))
            .alias("tok_end"),
        )
    )


def value_quantile_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of the events ``value`` column: each row
    mapped to its exact corpus quantile q = (rank-1)/(n-1) ∈ [0,1] —
    the rank-based feature transform (uniformization) a curation
    pipeline applies before mixing heterogeneous score columns.

    Scale posture: the rank and the total both come from ONE
    global_row_number pass (range partition + broadcast offsets); the
    quantile is per-row arithmetic on exact BIGINTs.
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    ranked = global_row_number(
        ev, [F.col("value").asc(), F.col("event_id").asc()], "rank", total="n"
    )
    q = F.when(F.col("n") == 1, F.lit(0.0)).otherwise(
        (F.col("rank") - 1).cast("double") / (F.col("n") - 1).cast("double")
    )
    return ranked.select("event_id", "value", q.alias("q"))


def corpus_shuffle_positions(
    spark: SparkSession, sf_dir: str, epoch: int = 0
) -> DataFrame:
    """Reproducible global corpus shuffle: every document gets an exact
    1-based position in a pseudorandom order keyed by
    sha256("epoch-{epoch}:" + doc_id) — the deterministic permutation a
    training pipeline needs so every re-run (and every epoch, via the
    salt) reads the corpus in the same "random" order with no RNG state
    to checkpoint.

    Scale posture: the order key is a per-row projection and the exact
    position comes from global_row_number (range partition + broadcast
    offsets) — no single-partition window, no driver collect. A
    downstream writer can range-write by ``pos`` to materialize the
    shuffled corpus.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    keyed = d.withColumn(
        "shuffle_key",
        F.sha2(
            F.concat(F.lit(f"epoch-{epoch}:"), F.col("doc_id").cast("string")), 256
        ),
    )
    return global_row_number(
        keyed, [F.col("shuffle_key").asc(), F.col("doc_id").asc()], "pos"
    ).select("doc_id", "shuffle_key", "pos")


def mixture_interleave_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional source interleave: a global reading order in which
    each source's documents appear evenly spread according to the
    source's share of the corpus — the deterministic "mixture schedule"
    behind multi-source training (each source s with n_s docs places its
    r-th doc at fractional position (2r−1)/(2n_s), and the global order
    sorts those fractions; ties break by source, doc_id).

    Determinism: the fraction is one double division of exact integers
    (identical in DuckDB); within a source the order is the sha256
    shuffle key, so the interleave is also reproducibly "random" within
    each source.

    Scale posture: per-source ranks come from one window partitioned by
    source (sources are the parallel unit; a pathological single-source
    corpus should use global_row_number filtered per source instead);
    the global position again goes through global_row_number — no
    single-partition funnel.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    key = F.sha2(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")), 256)
    wsrc = Window.partitionBy("source").orderBy(key.asc(), F.col("doc_id").asc())
    ranked = d.select(
        "doc_id",
        "source",
        F.row_number().over(wsrc).cast("long").alias("src_rank"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n_src"),
    )
    frac = (F.lit(2) * F.col("src_rank") - F.lit(1)).cast("double") / (
        F.lit(2) * F.col("n_src")
    ).cast("double")
    return global_row_number(
        ranked.withColumn("frac", frac),
        [F.col("frac").asc(), F.col("source").asc(), F.col("doc_id").asc()],
        "pos",
    ).select("doc_id", "source", "src_rank", "pos")


def length_bucketed_batches(
    spark: SparkSession, sf_dir: str, bucket_tokens: int = 16, batch_size: int = 8
) -> DataFrame:
    """Length-bucketed batching: docs grouped into token-length buckets
    (floor(n_tokens / bucket_tokens)), then deterministically batched
    within each bucket — the standard padding-efficiency trick for
    sequence-model training (similar lengths share a batch, so pad
    waste is bounded by the bucket width).

    Order within a bucket is the sha256 shuffle key (reproducibly
    random), so batches are i.i.d. within their length class.

    Scale posture: one projection for the bucket id, one window
    partitioned by bucket (buckets are the parallel unit; a
    pathological single-bucket corpus should route through
    global_row_number instead), pure integer batch arithmetic.
    """
    from via_spark.operators.textstats import token_count_documents

    toks = token_count_documents(spark, sf_dir).select("doc_id", "n_ws_tokens")
    key = F.sha2(F.concat(F.lit("lb:"), F.col("doc_id").cast("string")), 256)
    b = toks.withColumn(
        "bucket", F.expr(f"n_ws_tokens div {int(bucket_tokens)}").cast("long")
    )
    w = Window.partitionBy("bucket").orderBy(key.asc(), F.col("doc_id").asc())
    return (
        b.withColumn("rn", F.row_number().over(w).cast("long"))
        .select(
            "doc_id",
            "n_ws_tokens",
            "bucket",
            F.expr(f"(rn - 1) div {int(batch_size)}").alias("batch_in_bucket"),
        )
    )


def curriculum_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: a global reading order that presents
    higher-quality documents first (decile 1 → 10) while shuffling
    reproducibly WITHIN each decile — quality-first curriculum with no
    ordering bias inside a quality class.

    Scale posture: composes two already-scale-safe pieces — the exact
    decile assignment (range-partitioned global rank) and a second
    global_row_number over (decile, sha256 key); no new shuffle shapes.
    """
    from via_spark.operators.curation import quality_deciles

    d = quality_deciles(spark, sf_dir).select("doc_id", "decile")
    keyed = d.withColumn(
        "cur_key",
        F.sha2(F.concat(F.lit("cur:"), F.col("doc_id").cast("string")), 256),
    )
    return global_row_number(
        keyed,
        [F.col("decile").asc(), F.col("cur_key").asc(), F.col("doc_id").asc()],
        "pos",
    ).select("doc_id", "decile", "pos")


PACK_BUDGET = 512   # context-window token budget per pack
PACK_BLOCK = 64     # consecutive docs per parallel packing block

_PACK_SCHEMA = (
    "source string, block_id long, pack_id long, "
    "n_docs long, pack_tokens long, waste long"
)


def greedy_pack_stats(
    spark: SparkSession,
    sf_dir: str,
    budget_tokens: int = PACK_BUDGET,
    block_docs: int = PACK_BLOCK,
) -> DataFrame:
    """Whole-document greedy sequence packing (first-fit in doc order):
    where :func:`token_shard_spans` SPLITS documents at shard
    boundaries, this packs each document whole into the current
    ``budget_tokens`` window and opens a new window when it doesn't
    fit — the no-split packing an instruction-tuning loader uses, where
    the interesting output is the per-pack WASTE (padding) the loader
    will burn. Oversized documents (> budget) occupy a pack alone.

    Greedy packing is inherently sequential (each pack boundary depends
    on every earlier document), so the deterministic parallel unit is
    pinned into the SEMANTICS: documents are packed within blocks of
    ``block_docs`` consecutive docs per source (block boundaries force
    a new pack). That makes the operator embarrassingly parallel at
    the cost of at most one partially-filled pack per block — the same
    trade every distributed packing implementation makes.

    Exactness: pure 64-bit integer arithmetic; the recurrence is
    mirrored row-for-row by a recursive-CTE oracle.

    Scale posture: one partitioned window ranks docs per source, one
    shuffle groups (source, block) — thousands of independent blocks
    per source at corpus scale — and the per-block Python is an
    Arrow-batched ``applyInPandas`` over ≤ ``block_docs`` rows
    (§2.11's grouped Arrow shape, same as mad_outliers).
    """
    import pandas as pd

    from via_spark.operators.textstats import token_count_documents

    b = int(budget_tokens)
    blk = int(block_docs)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    toks = token_count_documents(spark, sf_dir).select("doc_id", "n_ws_tokens")
    w = Window.partitionBy("source").orderBy("doc_id")
    blocked = (
        docs.join(toks, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("block_id", F.expr(f"(rn - 1) div {blk}").cast("long"))
    )

    def _pack_block(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id")
        source = pdf["source"].iloc[0]
        block_id = int(pdf["block_id"].iloc[0])
        packs: list[list[int]] = []  # [n_docs, pack_tokens]
        fill = 0
        for n in pdf["n_ws_tokens"].tolist():
            n = int(n)
            if not packs or (fill > 0 and fill + n > b):
                packs.append([0, 0])
                fill = 0
            packs[-1][0] += 1
            packs[-1][1] += n
            fill += n
        return pd.DataFrame(
            {
                "source": source,
                "block_id": block_id,
                "pack_id": range(len(packs)),
                "n_docs": [p[0] for p in packs],
                "pack_tokens": [p[1] for p in packs],
                "waste": [max(b - p[1], 0) for p in packs],
            }
        )

    return blocked.groupBy("source", "block_id").applyInPandas(
        _pack_block, _PACK_SCHEMA
    )


TRUNCATE_AT = 64  # max-sequence-length cut for the truncation loss report


def truncation_loss_by_source(
    spark: SparkSession, sf_dir: str, max_tokens: int = TRUNCATE_AT
) -> DataFrame:
    """What a hard ``max_tokens`` sequence cut costs, per source: how
    many documents get truncated and what fraction of each source's
    tokens falls past the cut — the table that decides between
    truncate / split / drop for each source before a training run
    (the split alternative is :func:`token_shard_spans`).

    Exactness: per-doc loss is ``greatest(n - max_tokens, 0)`` in
    64-bit integers; the rate is one exact-int IEEE division.

    Scale posture: one stateless projection into one map-side-combined
    hash agg keyed by source — no join, no window, no UDF.
    """
    from via_spark.operators.textstats import token_count_documents

    L = int(max_tokens)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    toks = token_count_documents(spark, sf_dir).select("doc_id", "n_ws_tokens")
    per_doc = docs.join(toks, "doc_id").select(
        "source",
        F.col("n_ws_tokens").alias("n"),
        F.greatest(F.col("n_ws_tokens") - L, F.lit(0)).cast("long").alias("lost"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("total_tokens"),
        F.sum((F.col("lost") > 0).cast("long")).alias("docs_truncated"),
        F.sum("lost").alias("tokens_lost"),
    ).select(
        "source",
        "n_docs",
        "total_tokens",
        "docs_truncated",
        "tokens_lost",
        (F.col("tokens_lost").cast("double") / F.col("total_tokens").cast("double"))
        .alias("loss_rate"),
    )


#: z-order quantization: 5 bits per dimension (32 levels), files = the
#: top 6 bits of the 10-bit z-value (64 files of 16 z-cells each).
Z_BITS = 5
Z_FILE_SHIFT = 4


def _interleave(qd: Column, qu: Column, bits: int = Z_BITS) -> Column:
    """Bit-interleave two ``bits``-wide ints: qd in odd positions, qu
    in even — the Morton/z-value. Pure shifts/masks (codegen-friendly,
    identical arithmetic in the DuckDB oracle)."""
    z = F.lit(0)
    for b in range(bits):
        z = z + (
            F.shiftleft(F.shiftright(qd, b).bitwiseAND(F.lit(1)), 2 * b + 1)
            + F.shiftleft(F.shiftright(qu, b).bitwiseAND(F.lit(1)), 2 * b)
        )
    return z


def zorder_layout_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout pruning report (oracle ✔): per-file min/max spans of
    BOTH clustering dimensions under two physical layouts — z-order
    (Morton-interleaved day × user-hash) and lexicographic (day-major,
    coarse-user-minor) — the numbers behind choosing OPTIMIZE ZORDER /
    cluster-by keys for a 100 TB table.

    A parquet/Delta reader prunes a file when the query predicate
    misses the file's [min, max] on a clustering column; this report
    measures those ranges. Z-order bounds BOTH spans (≈ √cells per
    file, the curve's locality guarantee), so single-dimension queries
    on EITHER day or user prune usefully; the lexicographic layout
    gives day queries perfect pruning and user queries almost none.
    Emitting both layouts from one scan makes the trade-off a queryable
    fact rather than folklore.

    Determinism: day quantized by integer arithmetic against the
    in-plan (broadcast, never collected) min/max anchor; user hashed
    with the shared 48-bit sha256-prefix idiom then reduced mod 32.

    Scale posture: one scan, one 1-row broadcast anchor, one hash agg
    on (layout, file_id) — ≤ 128 output rows at any input size; the
    z-value is a codegen projection (no UDF, no shuffle beyond the
    final tiny agg).
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("ts div 1000000000 div 86400").alias("day"),
        F.col("user_id").cast("string").alias("uid"),
    )
    anchor = ev.agg(
        F.min("day").alias("min_day"), F.max("day").alias("max_day")
    )
    levels = F.lit(2**Z_BITS)
    q = (
        ev.crossJoin(F.broadcast(anchor))
        .withColumn(
            "qd",
            F.expr(
                f"((day - min_day) * {2**Z_BITS}) div (max_day - min_day + 1)"
            ).cast("int"),
        )
        .withColumn("qu", (_hash48(F.col("uid")) % levels).cast("int"))
    )
    z = q.withColumn("z", _interleave(F.col("qd"), F.col("qu")))
    # Both layouts from ONE pass: each row explodes into its two
    # (layout, file_id) assignments, then a single (layout, file_id)
    # hash agg — one scan, one shuffle, instead of a union of two.
    assignments = F.array(
        F.struct(
            F.lit("zorder").alias("layout"),
            F.shiftright(F.col("z"), Z_FILE_SHIFT).alias("file_id"),
        ),
        F.struct(
            F.lit("lexicographic").alias("layout"),
            (
                F.shiftleft(F.col("qd"), 1) + F.shiftright(F.col("qu"), Z_BITS - 1)
            ).alias("file_id"),
        ),
    )
    return (
        z.select("qd", "qu", F.explode(assignments).alias("f"))
        .groupBy(F.col("f.layout").alias("layout"), F.col("f.file_id").alias("file_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("qd").alias("min_day_level"),
            F.max("qd").alias("max_day_level"),
            F.min("qu").alias("min_user_level"),
            F.max("qu").alias("max_user_level"),
        )
    )


def decile_lift_table(spark: SparkSession, sf_dir: str, tiles: int = 10) -> DataFrame:
    """Decile lift table over per-user total event value (the
    marketing/risk "top decile captures X% of value" report): users
    ranked by exact fixed-point total value, cut into ``tiles``
    floor-formula bins, each bin's value share and cumulative share in
    exact micro units, and the cumulative LIFT vs a uniform split
    (cum_share / (decile/tiles), >1e6 means concentration).

    Binning is the FLOOR formula ``(rn−1)·tiles div n + 1`` on the
    exact global rank — pinned on both engines (NOT SQL ntile, whose
    remainder-to-first-buckets split differs from the floor split when
    n mod tiles ≠ 0).

    Scale posture: per-user totals are one hash agg; the global rank
    rides ``global_row_number`` (range-partitioned offsets — no single
    global sort partition, and ``total`` falls out of the offsets for
    free); the lift table itself is ``tiles`` rows with a trivial
    running-sum window.
    """
    ev = load_table(spark, sf_dir, "events")
    totals = ev.groupBy("user_id").agg(
        F.sum(F.floor(F.col("value") * F.lit(1_000_000)).cast("long")).alias("v_fix")
    )
    ranked = global_row_number(
        totals,
        [F.col("v_fix").desc(), F.col("user_id").asc()],
        out="rn",
        total="n",
    )
    binned = ranked.withColumn(
        "decile", F.expr(f"(rn - 1) * {tiles} div n + 1").cast("int")
    )
    # the money sums ride decimal(38,0) (DuckDB mirror: HUGEINT):
    # cum_sum * 1e6 overflows BIGINT already at 10x fixture data — the
    # staged 10x probe caught exactly this. The 10-row report emits
    # BIGINT (good to ~9.2e12 whole value units).
    per = binned.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.col("v_fix").cast("decimal(38,0)")).alias("sum_dec"),
    )
    tot = per.agg(F.sum("sum_dec").cast("decimal(38,0)").alias("total_dec"))
    return (
        per.crossJoin(F.broadcast(tot))
        .withColumn(
            "share_micro", F.expr("cast(sum_dec * 1000000 div total_dec as long)")
        )
        .withColumn(
            "cum_share_micro",
            F.expr(
                "cast(sum(sum_dec) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED"
                " PRECEDING AND CURRENT ROW) * 1000000 div total_dec as long)"
            ),
        )
        .select(
            "decile",
            "n_users",
            F.expr("cast(sum_dec as long)").alias("sum_v_fix"),
            "share_micro",
            "cum_share_micro",
            F.expr(f"cum_share_micro * {tiles} div decile").alias("lift_micro"),
        )
    )
