"""Connected-components clustering of near-duplicate pairs (iterative).

A dedup pipeline needs more than candidate PAIRS — it needs cluster
ASSIGNMENT (keep one canonical document per component, drop the rest).
Pairs come from the LSH family (operators.dedup); this module closes
them into components with the standard scalable label-propagation loop:

* every doc starts labeled with its own id,
* each round every doc takes the min label among itself and its
  neighbors (one shuffle-join + one aggregation per round),
* converged when no label changed.

Rounds needed = component diameter. Near-dup components are shallow by
construction (near-dups of a doc are usually near-dups of each other),
so this converges in a handful of rounds; ``max_iter`` bounds the
pathological chain case.

Determinism: labels are ``min()`` aggregations of ids — no ordering or
partitioning sensitivity. The per-round convergence check is a scalar
count (driver CONTROL of an iterative algorithm, not a data collect).

Oracle: DuckDB ``WITH RECURSIVE`` transitive closure (min reachable id
per doc) computes the same fixpoint — ``dedup_clusters`` is fully
oracle-checked despite being iterative.

Scale posture (100 TB): each round shuffles (id, label) pairs — two
narrow columns — plus the edge list; this is the GraphX/GraphFrames CC
shape expressed in plain DataFrame ops. Labels are cached per round and
the previous round unpersisted, so lineage stays O(1) deep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from via_spark.operators.dedup import JACCARD_THRESHOLD, dedup_minhash_pairs
from via_spark.session import load_table, spread


def connected_components(
    vertices: DataFrame, edges: DataFrame, max_iter: int = 50
) -> DataFrame:
    """(id) vertices + (src, dst) undirected edges → (id, component),
    component = min id reachable from ``id``.

    Alternating LARGE-STAR / SMALL-STAR rounds (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond"): each round
    rewires every node's strictly-larger neighbors (large-star), then
    its not-larger neighbors (small-star), to the minimum of its
    closed neighborhood. Both operations preserve connectivity, only
    ever point edges at smaller ids, and converge in O(log² n) rounds
    REGARDLESS of how ids are laid out along the graph — the two
    schemes this replaced were each worst-case linear: plain min-label
    propagation moves one hop per round (r10: >20-round stall on the
    100× probe's near-dup chains), and propagation+pointer-jumping
    only doubles reach when the in-ball minimum lies TOWARD the
    component minimum (the r11 first fix; the probe's descending-id
    chains defeated it — measured 28+ trickling rounds).

    The fixpoint is one min-rooted star per component (edges form a
    child→parent function onto roots), detected structurally: no
    parent is also a child, and no child keeps two parents. Per-round
    cost is O(|E|) with one groupBy and one join per star step.
    """
    # canonical (child u, parent v) with v < u; self-loops dropped
    e = (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("u"),
            F.least("src", "dst").alias("v"),
        )
        .distinct()
        # checkpoint, not just cache: each round re-derives e, and the
        # accumulated lineage would otherwise make Catalyst re-analyze
        # (and re-run) the full candidate-generation pipeline per round
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iter):
        # large-star: for every node (both orientations), connect its
        # strictly-larger neighbors to min(closed neighborhood)
        b = e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            b.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", "u").alias("m"))
        )
        large = (
            b.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: connect each node's parents (all < it) and
        # itself to the minimum parent
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        new_e = (
            large.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .unionByName(
                mins2.select("u", F.col("m").alias("v")).where(
                    F.col("u") != F.col("m")
                )
            )
            .distinct()
            .localCheckpoint()  # eager: one O(E) materialization
        )
        e = new_e
        # fixpoint = star forest: every edge points a child at a ROOT
        # (no parent is itself a child) and the child→parent relation
        # is a function (no child kept two parents). Both violation
        # probes limit-1 into one union so convergence costs ONE job
        # per round, not two (each job is fixed scheduler overhead on
        # the checkpointed edge set).
        parent_is_child = e.alias("x").join(
            e.alias("y"), F.col("x.v") == F.col("y.u"), "left_semi"
        )
        multi_parent = (
            e.groupBy("u").agg(F.count(F.lit(1)).alias("np")).where(F.col("np") > 1)
        )
        violations = (
            parent_is_child.select(F.lit(1).alias("one"))
            .limit(1)
            .unionAll(multi_parent.select(F.lit(1).alias("one")).limit(1))
        )
        if violations.isEmpty():
            converged = True
            break
    if not converged:
        # NEVER return silently-split components
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(star-contraction fixpoint not reached); raise max_iter"
        )
    # star forest → labels: children take their root, everything else
    # (roots, isolated vertices) labels itself
    return (
        vertices.join(e, vertices["id"] == e["u"], "left")
        .select("id", F.coalesce(e["v"], vertices["id"]).alias("component"))
    )


def dedup_clusters(
    spark: SparkSession, sf_dir: str, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Cluster assignment over MinHash near-dup pairs: every document →
    (doc_id, cluster_rep, cluster_size); singletons represent
    themselves. ``cluster_rep`` (min doc_id of the component) is the
    canonical survivor a dedup pass would keep.

    Served from the session store (``store.cluster_labels``): the
    label-propagation loop runs ONCE per (dataset, threshold) and every
    consumer — this query, ``dedup_keep_best``, ``curation_funnel`` —
    scans a flat parquet of labels instead of re-walking the iterative
    loop's accumulated lineage. At 100 TB the label table is exactly
    what a production dedup pass persists.
    """
    from via_spark import store

    return store.cluster_labels(spark, sf_dir, threshold)


def dedup_clusters_compute(
    spark: SparkSession, sf_dir: str, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """The raw cluster-assignment computation (store builder)."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id")
    )
    pairs = dedup_minhash_pairs(spark, sf_dir, threshold)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = connected_components(docs, edges)
    return (
        comp.select(
            F.col("id").alias("doc_id"), F.col("component").alias("cluster_rep")
        )
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_rep")),
        )
    )


def dedup_keep_best(
    spark: SparkSession, sf_dir: str, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Dedup RESOLUTION: for every near-dup cluster keep the
    highest-quality member (quality_fix desc, doc_id asc tiebreak) —
    the step after cluster assignment where a training-data pipeline
    actually drops duplicates, keeping the best exemplar rather than an
    arbitrary one.

    Output: one row per cluster — the surviving doc, its quality, the
    cluster size and how many members were dropped.

    Scale posture: composes dedup_clusters (id-only shuffles) with the
    per-doc quality projection via ONE equi-join on doc_id, and the
    per-cluster argmax is a WindowGroupLimit — only the winner survives
    the rank shuffle.
    """
    from via_spark.operators.textstats import doc_quality_scores

    clusters = dedup_clusters(spark, sf_dir, threshold)
    quality = doc_quality_scores(spark, sf_dir).select("doc_id", "quality_fix")
    w = Window.partitionBy("cluster_rep").orderBy(
        F.col("quality_fix").desc(), F.col("doc_id").asc()
    )
    return (
        clusters.join(quality, "doc_id")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "cluster_rep",
            F.col("doc_id").alias("keep_doc_id"),
            "quality_fix",
            "cluster_size",
            (F.col("cluster_size") - 1).alias("n_dropped"),
        )
    )


def near_duplicate_rate_by_source(
    spark: SparkSession, sf_dir: str, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Dedup QA rollup: per source, how much of the corpus sits in
    multi-member near-dup clusters — the report a pipeline owner reads
    to decide which feed needs upstream fixing.

    Scale posture: one equi-join of the (store-served, three-column)
    cluster labels against the documents' source column, one hash agg
    keyed by source. Rates derive from exact BIGINT counts with a
    pinned operation order.
    """
    clusters = dedup_clusters(spark, sf_dir, threshold)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        src.join(clusters, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("cluster_size") > 1).cast("long")).alias("n_in_dup_clusters"),
        )
        .withColumn(
            "dup_rate",
            F.col("n_in_dup_clusters").cast("double") / F.col("n_docs").cast("double"),
        )
    )


def embedding_clusters_compute(
    spark: SparkSession, sf_dir: str, threshold: float | None = None
) -> DataFrame:
    """Raw embedding-cluster computation (store builder): connected
    components over the multi-probe sign-LSH cosine pair graph, with
    EXACT-DUPLICATE COLLAPSE first (r11).

    Identical non-zero vectors are interchangeable for components:
    cos(a, b) = 1 ≥ threshold binds the family into one clique, and
    every member has exactly the external cosines its representative
    has — so running LSH + propagation on one representative per
    distinct embedding (the family's min vec_id) and expanding labels
    afterwards returns token-identical output. The collapse is what
    keeps the build LINEAR in duplicate-family size: a family of f
    copies costs f map rows here, where the uncollapsed pipeline paid
    C(f,2) within-bucket candidates — the exact blow-up the r10 100×
    store probe measured (221 s, ~99% of its edges copy-family pairs).
    Zero-n_fix vectors stay singleton representatives: the pinned
    degenerate cosine is 0 < threshold, so they never edge (identical
    zero vectors included) — same as the uncollapsed plan.

    Label expansion is exact because each family rep IS the family min
    (component labels are min reachable vec_id, and reachable sets per
    family are equal member-to-member).
    """
    from via_spark.operators.dedup import EMB_COS_THRESHOLD, neardup_pairs_over
    from via_spark.functions.vector import dot_fix

    threshold = EMB_COS_THRESHOLD if threshold is None else threshold
    # spread(): the self-dot + (downstream) probe explode are per-row-
    # heavy map stages a single-split scan would serialize (gated —
    # no-op on an already-parallel cluster scan)
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding",
        dot_fix("embedding", "embedding").alias("n_fix"),
    )
    nz = e.where(F.col("n_fix") > 0)
    # family rep = min vec_id per identical embedding, carried OUT of
    # the same aggregation as a collected id list: one wide shuffle on
    # the embedding key instead of the r12 groupBy + shuffle-join-back
    # (which moved every 64-float row across the wire twice — the
    # measured ~3x-per-3.33x phase of the 100x store probe)
    fam = nz.groupBy("embedding").agg(
        F.min("vec_id").alias("rep"),
        F.collect_list("vec_id").alias("ids"),
    )
    vmap = (
        fam.select(F.explode("ids").alias("vec_id"), "rep")
        .unionByName(
            e.where(F.col("n_fix") == 0)
            .select("vec_id", F.col("vec_id").alias("rep"))
        )
        .localCheckpoint()  # fixpoint input: truncate the groupBy lineage
    )
    # narrow rep-id frame off the CHECKPOINTED map: the contraction's
    # vertex set and the final labeling join must not re-derive the
    # embeddings scan + self-dot chain (it re-ran twice in r12 — the
    # loop/expand phase's super-linear share)
    rep_ids = vmap.where(F.col("vec_id") == F.col("rep")).select("vec_id")
    reps = e.join(rep_ids, "vec_id")
    pairs = neardup_pairs_over(reps, threshold)
    edges = pairs.select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"))
    comp = connected_components(rep_ids.select(F.col("vec_id").alias("id")), edges)
    return (
        vmap.join(comp, vmap["rep"] == comp["id"])
        .select("vec_id", F.col("component").alias("cluster_rep"))
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_rep")),
        )
    )


def embedding_neardup_clusters(
    spark: SparkSession, sf_dir: str, threshold: float | None = None
) -> DataFrame:
    """Cluster assignment over embedding-cosine near-dup pairs: every
    vector → (vec_id, cluster_rep, cluster_size) — semantic dedup's
    counterpart to the lexical MinHash clusters, catching paraphrases
    and re-encodings that shingle overlap misses. ``cluster_rep``
    (min vec_id of the component) is the canonical survivor.

    Served from the session store (``store.embedding_cluster_labels``)
    exactly like the MinHash labels: the label-propagation fixpoint
    runs ONCE per (dataset, threshold), consumers scan a flat
    three-column parquet. Candidates come from the multi-probe LSH
    equi-join — never all-pairs — so the component edges are the same
    bounded set the pair query proves green.
    """
    from via_spark import store
    from via_spark.operators.dedup import EMB_COS_THRESHOLD

    threshold = EMB_COS_THRESHOLD if threshold is None else threshold
    return store.embedding_cluster_labels(spark, sf_dir, threshold)


def dedup_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-dedup token budget per source (oracle ✔): raw whitespace
    tokens beside the tokens that SURVIVE a dedup pass keeping only
    each near-dup cluster's canonical (min doc_id) — the number a
    training-budget plan actually spends, since duplicated tokens
    train like one copy. A source can look token-rich raw and collapse
    after dedup; ``kept_ratio`` is the per-source discount factor.

    Attribution rule: every doc's tokens count toward its OWN source's
    raw budget; only canonical docs contribute to the kept budget (a
    non-canonical mirror of another source's doc keeps nothing —
    cross-source syndication shows up as a low ratio on the mirroring
    side, matching ``source_overlap_matrix``'s view).

    Scale posture: rides the persisted cluster-label table
    (``store.cluster_labels`` — the artifact a production dedup pass
    materializes once); token counts are a stateless projection; one
    doc-grain join, one |sources|-row agg. BIGINT sums, one division.
    """
    from via_spark.functions.text import tokens
    from via_spark.operators.dedup import JACCARD_THRESHOLD as _t

    labels = dedup_clusters(spark, sf_dir)
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return (
        toks.join(labels.select("doc_id", "cluster_rep"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("doc_id") == F.col("cluster_rep"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("n_canonical"),
            F.sum("n_tokens").alias("raw_tokens"),
            F.sum(
                F.when(
                    F.col("doc_id") == F.col("cluster_rep"), F.col("n_tokens")
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("kept_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "n_canonical",
            "raw_tokens",
            "kept_tokens",
            (
                F.col("kept_tokens").cast("double")
                / F.col("raw_tokens").cast("double")
            ).alias("kept_ratio"),
        )
    )


def phash_clusters_compute(
    spark: SparkSession, sf_dir: str, max_hamming: int
) -> DataFrame:
    """The raw perceptual-hash cluster assignment (store builder):
    connected components over the dHash triple-block pair graph, with
    EXACT-DUPLICATE COLLAPSE first (r11, same construction as
    embedding_clusters_compute and the same proof): documents with an
    identical 64-bit dHash are interchangeable for connectivity —
    Hamming(h, h) = 0 ≤ max binds the family into a clique around its
    min doc_id, and every member has exactly the representative's
    external Hamming distances (simpler than the embedding case: no
    zero-norm carve-out, identical hashes ALWAYS edge). A family of f
    re-encodes costs f map rows instead of C(f,2) verified pairs."""
    from via_spark.operators import multimodal

    # one Arrow decode+hash pass, materialized: the family map, the
    # rep filter, and the pair explode all reuse it (this is the eager
    # once-per-dataset store builder, same contract as semdedup's loop)
    hashed = multimodal.image_dhash(spark, sf_dir).localCheckpoint()
    fam = hashed.groupBy("dhash").agg(F.min("doc_id").alias("rep"))
    vmap = (
        hashed.join(fam, "dhash")
        .select("doc_id", "rep")
        .localCheckpoint()  # fixpoint input: truncate the Arrow-hash lineage
    )
    reps = hashed.join(
        vmap.where(F.col("doc_id") == F.col("rep")).select("doc_id"), "doc_id"
    )
    pairs = multimodal.phash_pairs_over(reps, max_hamming)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    comp = connected_components(
        reps.select(F.col("doc_id").alias("id")), edges
    )
    return (
        vmap.join(comp, vmap["rep"] == comp["id"])
        .select("doc_id", F.col("component").alias("cluster_rep"))
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_rep")),
        )
    )


def phash_dup_clusters(
    spark: SparkSession, sf_dir: str, max_hamming: int | None = None
) -> DataFrame:
    """Cluster assignment over perceptual-hash near-dup pairs: every
    image payload → (doc_id, cluster_rep, cluster_size) — the cluster
    grain of the multimodal dedup story (a re-encoded image family
    collapses to one canonical survivor = min doc_id), completing the
    same pair→cluster ladder the lexical (MinHash) and semantic
    (embedding) families already climb.

    Served from the session store (``store.phash_cluster_labels``)
    exactly like those two: the label-propagation fixpoint runs ONCE
    per (dataset, max_hamming); consumers scan a flat three-column
    parquet. Candidate edges are the 4×16-bit block pigeonhole join —
    never all-pairs."""
    from via_spark import store
    from via_spark.operators.multimodal import PHASH_MAX_HAMMING

    max_hamming = PHASH_MAX_HAMMING if max_hamming is None else max_hamming
    return store.phash_cluster_labels(spark, sf_dir, max_hamming)


def dedup_family_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-family dedup comparison (oracle ✔): the cluster-size
    distribution of all three near-dup families side by side — lexical
    (MinHash shingles), semantic (embedding cosine), perceptual (dHash
    payload) — plus each family's duplicate rate (fraction of items
    that are NOT their cluster's canonical). The one-table answer to
    "which redundancy class dominates this corpus", and the QA view
    that catches a family silently degenerating (everything singleton,
    or one giant cluster) after a threshold change.

    Scale posture: all three inputs are the persisted label stores
    (each fixpoint ran once); this query is three label-table scans,
    one union, one hash agg — no pair or graph work re-runs. Cold
    sessions materialize the independent fixpoints concurrently
    (store.prewarm, guide §2.6).
    """
    from via_spark.operators.dedup import (
        EMB_COS_THRESHOLD,
        JACCARD_THRESHOLD,
    )
    from via_spark.operators.multimodal import PHASH_MAX_HAMMING
    from via_spark import store

    store.prewarm(spark, sf_dir)
    frames = [
        (
            "lexical_minhash",
            store.cluster_labels(spark, sf_dir, JACCARD_THRESHOLD),
        ),
        (
            "semantic_embedding",
            store.embedding_cluster_labels(spark, sf_dir, EMB_COS_THRESHOLD),
        ),
        (
            "perceptual_phash",
            store.phash_cluster_labels(spark, sf_dir, PHASH_MAX_HAMMING),
        ),
    ]
    labeled = None
    for family, f in frames:
        part = f.select(
            F.lit(family).alias("family"),
            F.col("cluster_rep"),
            F.col("cluster_size"),
        )
        labeled = part if labeled is None else labeled.unionByName(part)
    per_family = labeled.groupBy("family").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.count_distinct("cluster_rep").alias("n_clusters"),
        F.sum((F.col("cluster_size") > 1).cast("long")).alias("items_in_dup_clusters"),
        F.max("cluster_size").cast("long").alias("largest_cluster"),
    )
    return per_family.select(
        "family",
        "n_items",
        "n_clusters",
        "items_in_dup_clusters",
        "largest_cluster",
        (
            (F.col("n_items") - F.col("n_clusters")).cast("double")
            / F.col("n_items").cast("double")
        ).alias("duplicate_rate"),
    )


# --- PageRank (exact-integer, unrolled) ------------------------------------

PAGERANK_SCALE = 10**12   # rank fixed-point (integer mass conservation)
PAGERANK_ITERS = 3        # pinned unrolled power iterations
# damping pinned to the DYADIC 3/4 (not the literature's 0.85): both the
# teleport term S div 4N and the damped sum (3*s) div 4 stay in exact
# truncating integer division, so every engine computes identical ranks
PAGERANK_DAMP_NUM, PAGERANK_DAMP_DEN = 3, 4


def pagerank_event_types(spark: SparkSession, sf_dir: str,
                         iters: int = PAGERANK_ITERS) -> DataFrame:
    """Weighted PageRank over the behavioral transition graph (nodes =
    event types, edge weight = consecutive-pair count per
    ``event_type_transition_matrix``): which action is most central in
    user flows once indirect paths count, not just raw frequency.

    All arithmetic is exact fixed-point: ranks carry ``PAGERANK_SCALE``
    units of integer mass; per-edge contribution is
    ``(r·w) div w_tot`` (truncating div ≡ DuckDB ``//``); the update is
    ``S div (den·N) + (num·Σcontrib) div den`` with the dyadic 3/4
    damping. Nodes without out-edges drop their damped mass (the
    pinned "dangling mass discarded" variant — the teleport term keeps
    them ranked). Output: (event_type, rank_fix), Σ rank_fix ≤ SCALE.

    Scale posture: the generic shape is rank-table ⋈ edge-list on src,
    hash-agg on dst, per iteration — at web scale both sides partition
    by node key and each iteration is one shuffle. Here the edge list
    collapses to the |types|² transition table first (the heavy fact
    scan happens once per iteration only as Catalyst re-plans the
    shared subtree; its exchange is reused across iterations).
    """
    from via_spark.operators.timeseries import event_type_transition_matrix

    # A/B-measured: caching the edge table costs more in barrier than
    # the re-planned references save (ReusedExchange already dedups the
    # identical agg exchanges at runtime) — keep the plan cache-free
    edges = event_type_transition_matrix(spark, sf_dir).select(
        F.col("prev_type").alias("src"),
        F.col("next_type").alias("dst"),
        F.col("n").alias("w"),
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_total = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    out_tot = edges.groupBy("src").agg(F.sum("w").alias("w_tot"))
    num, den = PAGERANK_DAMP_NUM, PAGERANK_DAMP_DEN

    # base is the static (node, n_nodes) frame; each iteration's rank
    # frame is referenced exactly ONCE (by the next contrib join), so
    # plan depth stays LINEAR in iters — pulling n_nodes through the
    # rank chain instead would reference each level twice and
    # re-evaluate the chain 2^iters times
    base = nodes.crossJoin(F.broadcast(n_total))
    ranks = base.select("node", F.expr(f"{PAGERANK_SCALE} div n_nodes").alias("r"))
    for _ in range(iters):
        contrib = (
            edges.join(out_tot, "src")
            .join(ranks.select(F.col("node").alias("src"), "r"), "src")
            .select("dst", F.expr("(r * w) div w_tot").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            base.join(contrib, base.node == contrib.dst, "left")
            .select(
                "node",
                (
                    F.expr(f"{PAGERANK_SCALE} div ({den} * n_nodes)")
                    + F.expr(f"({num} * coalesce(s, 0L)) div {den}")
                ).alias("r"),
            )
        )
    return ranks.select(F.col("node").alias("event_type"), F.col("r").alias("rank_fix"))


def neardup_motif_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-motif census of the MinHash near-dup graph: nodes, edges,
    wedges (length-2 paths), triangles, and the global clustering
    coefficient ``3·triangles/wedges`` as 1e-6 fixed point. High
    clustering says near-dups arrive in dense families (one canonical
    survivor per family suffices); low clustering with many wedges
    says chained borderline pairs — the regime where transitive
    cluster-merge over-groups and thresholds need a second look.

    Scale posture: triangles are counted on ORDERED edges (a<b<c), the
    standard two-join motif plan whose candidate volume is bounded by
    wedge count, never nodes³; degrees/wedges are one hash agg. The
    pair list (already banded + verified upstream) is cached — it
    feeds five branches, and re-planning the MinHash pipeline per
    branch would rescan the corpus five times (same contract as the
    shingle-frame caches in operators/dedup.py).
    """
    edges = (
        dedup_minhash_pairs(spark, sf_dir)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .cache()
    )
    return motif_report_from_edges(edges)


def motif_report_from_edges(edges: DataFrame) -> DataFrame:
    """Motif census over an ordered (a < b) edge frame — the shared
    core of :func:`neardup_motif_report` (MinHash graph) and
    :func:`simhash_graph_triangles` (SimHash graph).

    Triangles are counted on the DEGREE-ORDERED orientation
    (Chiba-Nishizeki): each edge points from its lower-(degree, id)
    endpoint to the higher one, wedges are built only at the oriented
    SOURCE, and a wedge (u→v, u→w) closes iff the oriented edge v→w
    exists. Each triangle is counted exactly once and the orientation
    bounds any node's out-degree by O(√m) under arbitrary degree skew
    — the previous id-ordered two-join counted identically but let a
    low-id hub fan out its full raw degree. Ranks pack as
    ``deg·2^40 + node`` BIGINTs (unique, compares as the tuple) —
    VALID ONLY for node ids < 2^40 (≈1.1e12) and degrees < 2^23
    (BIGINT headroom; like winnowing's 2^20 position cap): outside
    those bounds the packed key overflows/collides identically in both
    engines, so oracle parity could not catch it. Near-dup doc ids and
    pair-bounded degrees sit orders of magnitude inside both.
    """
    # deg caches too: three consumers (the census agg + both rank-join
    # sides) would each re-run the endpoint explode + groupBy.
    # Cache lifetime: session-scoped with LRU eviction, the same
    # convention as every sh/hashed/packed cache in the dedup family —
    # a lazy builder cannot unpersist (the consumer hasn't run yet),
    # and repeated invocations re-use, not re-add, the same plan's
    # cache entry (Spark dedups by logical plan). Long-lived sessions
    # that churn DISTINCT corpora should spark.catalog.clearCache()
    # between datasets (ADVICE r11, documented not "fixed" by design).
    deg = (
        edges.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .cache()
    )
    nodes_edges = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum("deg") / 2).cast("long").alias("n_edges"),
        F.sum(F.expr("deg * (deg - 1) div 2")).alias("n_wedges"),
    )
    rank = deg.select("node", (F.col("deg") * F.lit(1 << 40) + F.col("node")).alias("rk"))
    labeled = edges.join(
        rank.select(F.col("node").alias("a"), F.col("rk").alias("rk_a")), "a"
    ).join(rank.select(F.col("node").alias("b"), F.col("rk").alias("rk_b")), "b")
    # cache: three consumers (both wedge legs + the closure probe) —
    # uncached, each re-ran the two rank joins; the r10 unification's
    # measured 2.1× regression was exactly this repeated edge scan
    oriented = labeled.select(
        F.when(F.col("rk_a") < F.col("rk_b"), F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(F.col("rk_a") < F.col("rk_b"), F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.greatest("rk_a", "rk_b").alias("rk_dst"),
    ).cache()
    o1 = oriented.select("src", F.col("dst").alias("v"), F.col("rk_dst").alias("rk_v"))
    o2 = oriented.select("src", F.col("dst").alias("w"), F.col("rk_dst").alias("rk_w"))
    tris = (
        o1.join(o2, "src")
        .where(F.col("rk_v") < F.col("rk_w"))
        .join(oriented.select(F.col("src").alias("v"), F.col("dst").alias("w")), ["v", "w"])
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        nodes_edges.crossJoin(F.broadcast(tris))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(F.col("n_wedges") == 0, F.lit(0).cast("long"))
            .otherwise(
                F.expr("(3 * n_triangles * 1000000) div n_wedges")
            )
            .alias("clustering_fix"),
        )
    )


def store_build_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational census of the four materialized label stores (r12
    staged; VERDICT r11 next-round #6a): one row per store with its
    input size and label-table shape, so the fixpoint outputs the
    scale probes (scripts/scaleup_stores.py) trend are visible IN the
    engine — a store whose group count or flagged share drifts between
    builds is the first sign of a dial stepping or a skewed corpus.
    Wall-clock and iteration counts are intentionally NOT here: they
    are nondeterministic, so they live in the probe artifacts
    (history/SCALEUP_STORES*.json), keeping this query fully oracle-checkable.

    Columns: store, input_rows, label_rows, n_groups (distinct
    cluster/rep), flagged_rows (non-root members / is_dup marks),
    flagged_share_micro (= flagged·1e6 div labels, truncating).

    Scale posture: each branch is one scan of an already-materialized
    label store (three columns) plus a count of its input table; the
    four 1-row aggs union. Never touches the pair pipelines. On a cold
    session the four independent fixpoints materialize CONCURRENTLY
    (store.prewarm, guide §2.6) instead of back to back — each build is
    a chain of small stages whose tails and driver-side convergence
    probes would otherwise leave the executors idle.
    """
    from via_spark import store
    from via_spark.operators.vector import semdedup_assignments

    store.prewarm(spark, sf_dir)

    def census(name, labels, rep, flagged, inp):
        n_in = inp.agg(F.count(F.lit(1)).alias("input_rows"))
        agg = labels.agg(
            F.count(F.lit(1)).cast("long").alias("label_rows"),
            F.countDistinct(rep).cast("long").alias("n_groups"),
            F.coalesce(
                F.sum(flagged.cast("long")), F.lit(0)
            ).cast("long").alias("flagged_rows"),
        )
        return (
            agg.crossJoin(F.broadcast(n_in))
            .select(
                F.lit(name).alias("store"),
                F.col("input_rows").cast("long"),
                "label_rows",
                "n_groups",
                "flagged_rows",
                F.expr(
                    "CASE WHEN label_rows = 0 THEN 0L "
                    "ELSE flagged_rows * 1000000L div label_rows END"
                ).alias("flagged_share_micro"),
            )
        )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    embs = load_table(spark, sf_dir, "embeddings").select("vec_id")
    mh = dedup_clusters(spark, sf_dir)
    ec = embedding_neardup_clusters(spark, sf_dir)
    ph = phash_dup_clusters(spark, sf_dir)
    sd = semdedup_assignments(spark, sf_dir)
    nonroot = lambda idc: F.col(idc) != F.col("cluster_rep")  # noqa: E731
    return (
        census("minhash_clusters", mh, F.col("cluster_rep"),
               nonroot("doc_id"), docs)
        .unionByName(census("embedding_clusters", ec,
                            F.col("cluster_rep"), nonroot("vec_id"), embs))
        .unionByName(census("phash_clusters", ph,
                            F.col("cluster_rep"), nonroot("doc_id"), docs))
        .unionByName(census("semdedup", sd, F.col("cluster"),
                            F.col("is_dup"), embs))
    )


def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution: for each cluster size, how
    many clusters and what share of the corpus sits in them — the
    dedup-regime readout (a healthy crawl shows a geometric tail;
    mirror-heavy corpora show mass in large clusters, boilerplate shows
    one giant component). Reads the same materialized cluster labels
    every dedup_* consumer rides.

    Exactness: clusters-per-size is ``count(*) div size`` over the
    label table (each member row carries its cluster_size, so the
    member count per size is an exact multiple); shares are one
    truncating division against the broadcast corpus total.

    Scale posture: one pass over the label store → |distinct sizes|-row
    hash agg; the corpus total attaches via broadcast scalar.
    """
    labels = dedup_clusters(spark, sf_dir).select("cluster_size")
    per = labels.groupBy("cluster_size").agg(F.count(F.lit(1)).alias("n_docs"))
    total = per.agg(F.sum("n_docs").alias("n_total"))
    return per.crossJoin(F.broadcast(total)).select(
        "cluster_size",
        F.expr("n_docs div cluster_size").alias("n_clusters"),
        "n_docs",
        F.expr("n_docs * 1000000L div n_total").alias("doc_share_micro"),
    )


def simhash_graph_triangles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Triangle census of the SimHash near-duplicate graph: node/edge
    counts, wedge count, triangle count, and the global clustering
    coefficient (3·triangles/wedges). Near-dup graphs from genuine
    duplication are locally dense (template families close into
    triangles, gcc → 1); hash-collision noise is locally sparse
    (gcc → 0) — a one-row health check on the whole dedup graph
    before trusting its connected components.

    Shares :func:`motif_report_from_edges` with the MinHash-graph
    ``neardup_motif_report`` — one census core, two candidate graphs
    (the two families genuinely disagree: simhash Hamming blocks and
    minhash bands admit different borderline pairs, so their censuses
    diverge and comparing them is the point). The core counts
    triangles on the degree-ordered orientation — O(√m) out-degree
    under any skew; see its docstring.

    The sf0.01 fixture's simhash graph is triangle-free (max degree
    2), so the oracle row there is a degenerate (…, 0, 0) census — the
    planted test (tests/test_operator_models.py) carries the triangle and gcc
    semantics on a known graph.
    """
    from via_spark.operators.dedup import dedup_simhash_pairs

    edges = dedup_simhash_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    return motif_report_from_edges(edges)
