"""Physical-plan regression tests: the scale-critical properties
(pushdown, broadcast, top-k heaps, window group limits) must survive
refactors — a correct-but-full-scan plan is a failure at 100 TB even
when the values match."""

from __future__ import annotations

import re


import __spark_entry__ as em
from via_spark.plans import executed_plan

QS = em.queries()


def _plan(spark, sf_oracle, name: str) -> str:
    return executed_plan(QS[name](spark, sf_oracle))


def test_time_range_pushdown(spark, sf_oracle):
    p = _plan(spark, sf_oracle, "time_range_orders")
    assert re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(o_orderdate", p), (
        "date range must reach the parquet scan"
    )


def test_rhythm_window_pushes_raw_ts(spark, sf_oracle):
    """The recent-window predicate must target the RAW int64 ts column
    (row-group skipping); a filter on the derived seconds column would
    scan everything."""
    p = _plan(spark, sf_oracle, "rhythm_recent_counts")
    assert re.search(r"PushedFilters: \[.*(GreaterThanOrEqual|LessThanOrEqual)\(ts", p), p[:2000]


def test_keyword_pushdown(spark, sf_oracle):
    p = _plan(spark, sf_oracle, "keyword_filter_customers")
    assert "EqualTo(c_mktsegment,BUILDING)" in p


def test_topk_plans_as_heap_not_sort(spark, sf_oracle):
    for name in ("newest_events", "knn_cosine_topk", "shipping_priority"):
        p = _plan(spark, sf_oracle, name)
        assert "TakeOrderedAndProject" in p, f"{name}: top-k must not global-sort"


def test_grouped_top1_uses_window_group_limit(spark, sf_oracle):
    assert "WindowGroupLimit" in _plan(spark, sf_oracle, "grouped_knn_top1")


def test_dimension_joins_broadcast(spark, sf_oracle):
    for name in ("shipping_priority", "local_supplier_volume", "suppressed_anomalies"):
        p = _plan(spark, sf_oracle, name)
        assert "BroadcastHashJoin" in p, f"{name}: small side must broadcast"
        assert "SortMergeJoin" not in p or name == "local_supplier_volume", (
            f"{name}: no unexpected sort-merge join"
        )


def test_spread_gate(spark, sf_oracle, tmp_path):
    """spread() must widen a narrow scan but NEVER coalesce an
    already-parallel input down to the session parallelism — the
    unconditional repartition(32) it replaced was a 100×-scale killer."""
    from via_spark.session import load_table, spread

    par = spark.sparkContext.defaultParallelism

    # narrow fixture scan (single parquet file = 1 split) → widened
    narrow = load_table(spark, sf_oracle, "documents")
    assert narrow.rdd.getNumPartitions() < par
    assert spread(narrow).rdd.getNumPartitions() == par

    # already-parallel input (simulating a multi-split cluster scan)
    # → passes through with its partitioning intact, no Exchange
    wide_n = par * 4
    path = str(tmp_path / "wide")
    narrow.repartition(wide_n).write.parquet(path)
    wide = spark.read.parquet(path)
    got = spread(wide)
    assert got.rdd.getNumPartitions() == wide.rdd.getNumPartitions()
    assert got is wide, "no-op path must not insert a Repartition node"

    # filters still push through the widened plan to the scan
    from via_spark.plans import executed_plan
    from pyspark.sql import functions as F

    p = executed_plan(spread(narrow).where(F.col("n_chars") > 100))
    assert "PushedFilters: [" in p and "GreaterThan(n_chars" in p


def test_tier2_partition_pruning(spark, sf_smoke, tmp_path):
    from via_spark.operators import promote

    clusters = promote.promotion_rollup(spark, sf_smoke, sample_size=200, novelty_min_count=1)
    path = str(tmp_path / "t2")
    promote.write_tier2(clusters, path)
    lo = clusters.agg({"start_ts": "min"}).collect()[0][0]
    p = executed_plan(promote.read_tier2(spark, path, lo, lo))
    assert "PartitionFilters: [" in p and "event_date" in p


def test_clusters_windowed_partition_pruning(spark, sf_oracle):
    """S8 as the driver sees it: the windowed forensic query's scan of
    the date-partitioned tier2 daily store must carry PartitionFilters
    on event_date (whole pruned days are never opened) AND a pushed
    start_ts range inside the surviving partitions."""
    from via_spark.operators import forensic

    p = executed_plan(forensic.clusters_windowed(spark, sf_oracle))
    assert "PartitionFilters: [" in p and "event_date" in p
    assert "PushedFilters: [" in p and "start_ts" in p


def test_per_day_topk_uses_window_group_limit(spark, sf_oracle):
    p = _plan(spark, sf_oracle, "per_day_topk")
    assert "WindowGroupLimit" in p, "per-day top-k must keep a k-row heap per day"


def test_min_cost_supplier_broadcasts_and_group_limits(spark, sf_oracle):
    p = _plan(spark, sf_oracle, "min_cost_supplier")
    assert "BroadcastHashJoin" in p
    assert "WindowGroupLimit" in p, "correlated-min shape must plan as a group limit"


def test_brand_supplier_counts_anti_join_broadcasts(spark, sf_oracle):
    p = _plan(spark, sf_oracle, "brand_supplier_counts")
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_hybrid_rrf_ranks_via_heaps(spark, sf_oracle):
    """The RRF rewrite contract: both ranking cuts come from ONE pass
    over the scored frame via a tagged WindowGroupLimit (per-partition
    heaps before the rank exchange — the data-sized work), the final
    fuse is a TakeOrderedAndProject heap, and nothing is cached (the
    old two-heap form persisted the full scored corpus per session)."""
    p = _plan(spark, sf_oracle, "hybrid_rrf")
    assert "WindowGroupLimit" in p, p[:2000]
    assert "TakeOrderedAndProject" in p, p[:2000]
    assert "InMemoryTableScan" not in p, "hybrid_rrf must not cache"


def test_ann_variants_plan_heaps(spark, sf_oracle):
    for name in ("ann_ivf_topk", "ann_quantized_topk"):
        p = _plan(spark, sf_oracle, name)
        assert "TakeOrderedAndProject" in p, f"{name}: candidate cut must heap"


def test_tfidf_topk_uses_window_group_limit(spark, sf_oracle):
    """Per-doc top-k must keep only k rows per doc through the rank
    shuffle — a full rank materialization is corpus-sized."""
    assert "WindowGroupLimit" in _plan(spark, sf_oracle, "tfidf_top_terms")


def test_gapfill_grid_sides_broadcast(spark, sf_oracle):
    """The generated grid (series × hour sequence) must assemble via
    broadcasts — the grid is metadata-sized, never a shuffled join."""
    p = _plan(spark, sf_oracle, "gapfill_locf")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_set_ops_push_date_range(spark, sf_oracle):
    """INTERSECT/EXCEPT cohort scans must push their year range to the
    parquet scan on both sides."""
    for name in ("repeat_buyers", "lapsed_buyers"):
        p = _plan(spark, sf_oracle, name)
        assert re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(o_orderdate", p), name


def test_quantized_ann_no_nested_rescale(spark, sf_oracle):
    """quantized_vec must evaluate the 127/max|x| scale ONCE per row
    (array_repeat), not once per element: a nested array_max inside the
    per-element lambda is O(d²)/row and showed up as a 25× bench
    regression at sf0.1."""
    p = _plan(spark, sf_oracle, "ann_quantized_topk")
    assert p.count("array_max") <= 4, "per-element array_max re-evaluation leaked back in"


def test_round5_ops_plan_shapes(spark, sf_oracle):
    """New-operator scale contracts: global top-k bigrams heap instead
    of sorting the n-gram vocabulary; per-group cuts (per-lang trigrams,
    per-query batched kNN) keep k rows per group through the rank
    shuffle; the batched-kNN query block broadcasts."""
    p = _plan(spark, sf_oracle, "bigram_top_terms")
    assert "TakeOrderedAndProject" in p
    assert "WindowGroupLimit" in _plan(spark, sf_oracle, "char_trigram_profile")
    p = _plan(spark, sf_oracle, "knn_batch_topk")
    assert "WindowGroupLimit" in p and "Broadcast" in p
    # cluster argmax keeps one row per cluster through the rank shuffle
    assert "WindowGroupLimit" in _plan(spark, sf_oracle, "dedup_keep_best")
    # mix allocation joins the 1-row totals via broadcast, no shuffle join
    p = _plan(spark, sf_oracle, "source_mix_allocation")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    # per-source signature terms keep top_k rows per source
    assert "WindowGroupLimit" in _plan(spark, sf_oracle, "distinctive_terms_by_source")
    # the rolling distinct-count fans via a generated offset list plus a
    # broadcast bound — never a shuffled join of the pair frame
    p = _plan(spark, sf_oracle, "rolling_7d_active_users")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    # chunking is scan -> project -> generate: a shuffle here would make
    # the RAG fan-out pay a pointless exchange before embedding
    p = _plan(spark, sf_oracle, "chunk_documents")
    assert "Exchange" not in p, "chunk_documents must be shuffle-free"


def test_events_in_window_pushdown_both_encodings(spark, tmp_path):
    """events_in_window must (a) push the ts range predicate to the
    parquet scan on BOTH fixture encodings of events.ts — int64
    nanoseconds and TIMESTAMP(MICROS) — and (b) honor the documented
    inclusive ts ∈ [lo_ns, hi_ns] contract exactly, including bounds
    that are not multiples of 1000 ns (the micros path must round the
    lower bound UP to the next whole microsecond; floor division here
    leaked rows up to 999 ns early)."""
    from pyspark.sql import functions as F

    from via_spark.session import events_in_window

    rows = [(1, 10_000_000_000), (2, 10_000_001_000), (3, 10_000_002_000)]
    lo_ns, hi_ns = 10_000_000_001, 10_000_002_000  # excludes row 1 exactly

    # --- encoding 1: raw int64 nanoseconds ---
    long_dir = tmp_path / "long_enc"
    df = spark.createDataFrame(rows, "event_id long, ts long")
    df.write.parquet(str(long_dir / "events.parquet"))
    got = events_in_window(spark, str(long_dir), lo_ns, hi_ns)
    assert sorted(r["event_id"] for r in got.collect()) == [2, 3]
    p = executed_plan(got)
    assert re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(ts", p), p[:2000]

    # --- encoding 2: TIMESTAMP(MICROS) ---
    ts_dir = tmp_path / "ts_enc"
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))).write.parquet(
            str(ts_dir / "events.parquet")
        )
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    got = events_in_window(spark, str(ts_dir), lo_ns, hi_ns)
    out = {r["event_id"]: r["ts"] for r in got.collect()}
    # floor(lo_ns/1000) would re-admit event 1 at 999 ns below the bound
    assert sorted(out) == [2, 3], out
    assert out[2] == 10_000_001_000 and out[3] == 10_000_002_000  # normalized ns
    p = executed_plan(got)
    assert re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(ts", p), p[:2000]


def test_tier1_from_events_bounded_read_pushes_ts(spark, sf_smoke):
    """The wired raw-events path: a bounded tier1 build must reach the
    scan with the ts range predicate (row-group skipping on the one
    full-scan-shaped read in the engine)."""
    from via_spark.operators import rhythm
    from via_spark.session import load_table

    hi = load_table(spark, sf_smoke, "events").agg({"ts": "max"}).collect()[0][0]
    df = rhythm.tier1_from_events(spark, sf_smoke, lo_ns=hi - 86_400 * 10**9, hi_ns=hi)
    p = executed_plan(df)
    assert re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(ts", p), p[:2000]


def test_events_ts_normalization_requires_utc(spark):
    """_events_ts_to_ns must refuse to cast NTZ→TS under a non-UTC
    session tz instead of silently shifting every timestamp (configure()
    swallows conf.set failures, so the conf is verified at use time)."""
    import pytest
    from pyspark.sql import functions as F

    from via_spark.session import _events_ts_to_ns

    df = spark.range(1).select(F.timestamp_micros(F.lit(10_000_000)).alias("ts"))
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.raises(RuntimeError, match="UTC"):
            _events_ts_to_ns(df)
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert _events_ts_to_ns(df).collect()[0]["ts"] == 10_000_000_000


def test_no_row_python_udf_in_any_query_plan(spark, sf_oracle):
    """Engine-wide invariant: NO query plans a row-at-a-time Python UDF
    (BatchEvalPython). Python appears only as Arrow-vectorized stages
    (mapInPandas/applyInPandas → MapInPandas/FlatMapGroupsInPandas,
    ArrowEvalPython), whose batch transfer is 10-100× cheaper — the
    difference between a plan that survives 100 TB and one that
    doesn't. Covers every driver query, so a future operator slipping
    a @udf into a hot path fails here."""
    offenders = []
    for name, fn in QS.items():
        plan = executed_plan(fn(spark, sf_oracle))
        if "BatchEvalPython" in plan:
            offenders.append(name)
    assert not offenders, f"row-Python UDFs found in: {offenders}"


def test_tier1_identical_on_both_ts_encodings(spark, sf_smoke, tmp_path):
    """End-to-end encoding robustness: the fixture generation ships
    events.ts as TIMESTAMP(MICROS); earlier generations shipped int64
    nanoseconds (read long via nanosAsLong). Building tier1 from a
    long-ns copy must yield exactly the rows the native micros fixture
    yields (the reader test covers pushdown; this covers the full
    derive — templates, hashes, second/ns columns)."""
    from via_spark.operators import rhythm
    from via_spark.session import load_table

    long_dir = tmp_path / "long_ns"
    long_dir.mkdir()
    # load_table normalizes ts to long ns; writing that frame produces
    # exactly the shape a nanosAsLong read of a NANOS fixture yields
    load_table(spark, sf_smoke, "events").write.parquet(
        str(long_dir / "events.parquet")
    )

    a = {tuple(r) for r in rhythm.tier1_from_events(spark, sf_smoke).collect()}
    b = {tuple(r) for r in rhythm.tier1_from_events(spark, str(long_dir)).collect()}
    assert a == b


def test_tpch_q7_q8_q10_shapes(spark, sf_oracle):
    """The multi-way TPC-H shapes must broadcast every dimension side
    (zero sort-merge joins — the fact-fact orderkey join hashes) and
    Q10's top-k must heap."""
    for name, heap in (
        ("volume_shipping", False),
        ("returned_item_report", True),
        ("nation_market_share", False),
    ):
        p = _plan(spark, sf_oracle, name)
        assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p, name
        if heap:
            assert "TakeOrderedAndProject" in p, name


def test_round6_operators_plan_shapes(spark, sf_oracle):
    """New-in-round-6 operators keep the bucketed/broadcast shapes:
    no cartesian products anywhere; the gram/band candidate joins are
    hash equi-joins; unigram surprisal's only nested-loop join is the
    broadcast 1-row totals frame (the pinned scalar-broadcast pattern)."""
    from via_spark.operators import dedup, textstats

    p = executed_plan(textstats.dup_ngram_stats(spark, sf_oracle))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p

    p = executed_plan(dedup.incremental_minhash_pairs(spark, sf_oracle))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p

    p = executed_plan(textstats.unigram_surprisal_scores(spark, sf_oracle))
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") == 1  # 1-row totals only


def test_tpch_q9_q15_q17_q18_q22_shapes(spark, sf_oracle):
    """Round-6 TPC-H shapes: every dimension side broadcasts (the only
    sort-merge joins allowed are fact-fact orderkey joins — none of
    these plans should need one), Q18's final cut heaps, and Q22's
    never-ordered test is a broadcast anti-join (the above-average
    slice is small)."""
    for name, heap in (
        ("large_volume_customers", True),
        ("small_quantity_revenue", False),
        ("top_supplier_revenue", False),
        ("profit_by_nation_year", False),
    ):
        p = _plan(spark, sf_oracle, name)
        assert "BroadcastHashJoin" in p and "CartesianProduct" not in p, name
        if heap:
            assert "TakeOrderedAndProject" in p, name
    p = _plan(spark, sf_oracle, "dormant_high_balance_customers")
    assert "LeftAnti" in p and "CartesianProduct" not in p


def test_curation_round6_plan_shapes(spark, sf_oracle):
    """New curation/ordering operators keep their scale-critical
    shapes: the length trim's bounds join broadcasts (never a shuffle
    of documents against the histogram); the per-source cap executes as
    WindowGroupLimit (only `cap` rows per source survive); readability
    is a pure projection (zero exchanges); the correlation matrix is
    one global agg (no join at all)."""
    from via_spark.operators import curation, stats, textstats

    p = executed_plan(textstats.length_filtered_documents(spark, sf_oracle))
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p

    p = executed_plan(curation.per_source_cap_sample(spark, sf_oracle))
    assert "WindowGroupLimit" in p

    p = executed_plan(textstats.readability_scores(spark, sf_oracle))
    assert "Exchange" not in p

    p = executed_plan(stats.column_correlation_matrix(spark, sf_oracle))
    assert "Join" not in p and p.count("Exchange") <= 1

    p = executed_plan(
        __import__("via_spark.operators.vector", fromlist=["vector"]).centroid_similarity_matrix(
            spark, sf_oracle
        )
    )
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p


def test_round6_batch45_plan_shapes(spark, sf_oracle):
    """Z-score joins moments back via broadcast (no fact-table window);
    the skew report never windows over keys (windows only over the
    count-of-counts histogram); rollup/grouping-sets are single
    grouping-set aggs with no sort-merge join; trigram mining heaps its
    top-k."""
    from via_spark.operators import relational, stats, timeseries

    p = executed_plan(stats.value_zscore_by_type(spark, sf_oracle))
    assert "BroadcastHashJoin" in p
    assert "Window" not in p, "moments must come from an agg, not a window"

    p = executed_plan(stats.join_key_skew_report(spark, sf_oracle))
    assert "Join" not in p

    p = executed_plan(relational.rollup_region_nation_revenue(spark, sf_oracle))
    assert "Expand" in p and "SortMergeJoin" not in p

    p = executed_plan(relational.orders_grouping_sets(spark, sf_oracle))
    assert "Expand" in p and "Join" not in p

    p = executed_plan(timeseries.behavior_trigrams(spark, sf_oracle))
    assert "TakeOrderedAndProject" in p


def test_round8_p95_plan_shapes(spark, sf_oracle):
    """The rank-based discrete p95 (r8 rework, ADVICE-r7: no
    interpolated double anywhere) must keep the intended plan: the
    cumulative windows run over the per-group value HISTOGRAM (map-side
    combined hash agg, window partitioned by the group key — never an
    unpartitioned window, never a window over the raw fact scan), and
    the per-type threshold broadcasts back onto a pruned fact scan."""
    p = _plan(spark, sf_oracle, "above_p95_events")
    assert "BroadcastHashJoin" in p, "threshold join must broadcast"
    # every window partitions by the group key (no global sort)
    assert "windowspecdefinition(event_type" in p
    assert "windowspecdefinition()" not in p
    # windows consume the histogram agg, not the fact table: the agg
    # below them is keyed on (event_type, value-bucket) with a partial
    # (map-side) phase
    assert "partial_count" in p
    # the fact branch feeding the join is a pruned scan incl. event_id
    assert "ReadSchema: struct<event_id:bigint,event_type:string,value:double>" in p

    p2 = _plan(spark, sf_oracle, "hourly_value_p95")
    assert "windowspecdefinition(hour_num" in p2
    assert "windowspecdefinition()" not in p2
    assert "partial_count" in p2
    assert "percentile" not in p2, "no interpolated percentile remains"


def test_repeated_span_scrub_plan_shape(spark, sf_oracle):
    """The span scrub must stay an equi-key pipeline: gram visibility
    is a hash agg on the 64-bit gram hash, the hot set joins back by
    equi-join, the covered-position SET aggregates per document, and
    reassembly filters each doc's token array in place — never a
    cartesian product, never a window, never a global sort, and never
    a token-level explode (only gram rows shuffle)."""
    p = _plan(spark, sf_oracle, "repeated_span_scrub")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Window" not in p
    assert "partial_count" in p  # map-side combine on the gram hashes
    # per-doc covered-position set; reassembly is array-local
    assert "collect_set" in p and "filter(toks" in p


def test_weighted_doc_sample_plan_shape(spark, sf_oracle):
    """The weighted sample is one codegen projection into a top-k heap:
    no shuffle anywhere, and the scan must NOT read the text column —
    the weight comes from the n_chars stat column."""
    p = _plan(spark, sf_oracle, "weighted_doc_sample")
    assert "TakeOrderedAndProject" in p, "top-k must not global-sort"
    assert "Exchange" not in p, "a shuffle-free projection acquired a shuffle"
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m and "text" not in m.group(1), "scan must prune the text column"


def test_half_life_decay_plan_shape(spark, sf_oracle):
    """The decay agg must keep the plain-count shape: ONE hash-key
    shuffle with map-side partials, the anchor day as a 1-row broadcast
    (never a shuffled join), and a pruned 3-column scan."""
    p = _plan(spark, sf_oracle, "half_life_decay_counts")
    assert p.count("Exchange hashpartitioning") == 1, p[:2000]
    assert "partial_sum" in p, "map-side partial aggregation lost"
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    m = re.search(r"ReadSchema: struct<ts:[^>]*event_type[^>]*value[^>]*>", p)
    assert m, "main scan must prune to (ts, event_type, value)"


def test_source_repeat_factors_plan_shape(spark, sf_oracle):
    """Epoch planning must stay the one-corpus-pass shape: the corpus
    totals branch re-derives from the per-source aggregate, and AQE
    must resolve that to a ReusedExchange of the per-source shuffle —
    one corpus scan — with map-side partials and the totals joining
    back as a broadcast, never a sort-merge."""
    df = QS["source_repeat_factors"](spark, sf_oracle)
    df.collect()  # ReusedExchange only materializes in the final AQE plan
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in p
    assert "ReusedExchange" in p, "totals branch re-scans the corpus"
    assert "partial_sum" in p, "map-side partial aggregation lost"
    assert "SortMergeJoin" not in p


def test_source_overlap_matrix_plan_shape(spark, sf_oracle):
    """The pair join must key on the shingle hash (bounded |sources|
    rows per group — never cartesian), and the per-source totals must
    attach as broadcasts."""
    p = _plan(spark, sf_oracle, "source_overlap_matrix")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p, "sources-sized totals must broadcast"


def test_weighted_sample_per_source_plan_shape(spark, sf_oracle):
    """Per-source weighted top-k must push a k-row heap per group below
    the rank shuffle (WindowGroupLimit), never a full per-source sort
    materialization, and never read the text column."""
    p = _plan(spark, sf_oracle, "weighted_sample_per_source")
    assert "WindowGroupLimit" in p
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m and "text" not in m.group(1), "scan must prune the text column"


def test_oov_rate_plan_shape(spark, sf_oracle):
    """The vocabulary cut must plan as a top-k heap (TakeOrderedAndProject,
    never a global Sort), and the membership join must broadcast the
    V-row vocab — no shuffle-keyed join on the token stream."""
    p = _plan(spark, sf_oracle, "oov_rate_documents")
    assert "TakeOrderedAndProject" in p, "vocab cut must be a top-k heap"
    assert "BroadcastHashJoin" in p, "vocab membership must broadcast"
    assert "SortMergeJoin" not in p


def test_char_entropy_plan_shape(spark, sf_oracle):
    """Entropy must stay native (no Python eval anywhere) and its window
    must run over the per-doc char HISTOGRAM partitioned by doc_id —
    never an unpartitioned corpus window."""
    p = _plan(spark, sf_oracle, "char_entropy_bits")
    assert "EvalPython" not in p, "entropy must be JVM-native"
    assert re.search(r"Window .*partitionBy=\[doc_id", p) or "doc_id" in p
    assert "CartesianProduct" not in p


def test_greedy_pack_group_shape(spark, sf_oracle):
    """Packing's Python boundary must be the grouped-Arrow shape
    (FlatMapGroupsInPandas over (source, block)) — one such stage, no
    row-at-a-time Python, no cartesian."""
    p = _plan(spark, sf_oracle, "greedy_pack_stats")
    assert p.count("FlatMapGroupsInPandas") == 1
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_truncation_loss_plan_shape(spark, sf_oracle):
    """The loss rollup is a projection + one source-keyed hash agg with
    map-side partials — no window, no Python, no extra join beyond the
    doc_id-keyed token attach."""
    p = _plan(spark, sf_oracle, "truncation_loss_by_source")
    assert "EvalPython" not in p and "Window" not in p
    assert "partial_count" in p or "HashAggregate" in p


def test_prefix_dup_plan_shape(spark, sf_oracle):
    """Prefix grouping must aggregate on the fingerprint — no join at
    all in the group-level form, no Python, and the scan must prune
    down to (doc_id, text)."""
    p = _plan(spark, sf_oracle, "prefix_dup_groups")
    assert "Join" not in p and "EvalPython" not in p
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m and "lang" not in m.group(1) and "source" not in m.group(1)


def test_kmv_plan_shape(spark, sf_oracle):
    """The KMV sketch must stay a distinct-project pipeline: a 2-column
    pruned scan (day derives from raw ts; no other column read), the
    per-day k-smallest cut optimized to WindowGroupLimit (never a
    global sort), and no join wider than a broadcast."""
    p = _plan(spark, sf_oracle, "kmv_distinct_report")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" not in p
    assert "WindowGroupLimit" in p, "rank<=k cut must group-limit, not full-sort"
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all(
        set(s.split(",")[0].split(":")[:1]) <= {"ts"} and "props" not in s
        for s in schemas
    ), schemas


def test_bloom_plan_shape(spark, sf_oracle):
    """The Bloom report must keep the broadcast-bitmap shape: the
    build-side priority filter pushed to the orders scan, every join a
    broadcast hash join (the bit-set is ≤ m rows), and 2-column pruned
    scans on both sides."""
    p = _plan(spark, sf_oracle, "bloom_semi_join_fpr")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" not in p, "bit-set/member joins must broadcast"
    assert "BroadcastHashJoin" in p
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(o_orderpriority,1-URGENT", p), (
        "build-side cut must reach the orders scan"
    )
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert all("o_totalprice" not in s and "c_name" not in s for s in schemas)


def test_matryoshka_plan_shape(spark, sf_oracle):
    """Both recall sides must keep the batched-broadcast kNN shape: the
    query frame broadcast (the only nested-loop joins in the plan),
    per-query cuts as WindowGroupLimit, and the vec_id < n_queries
    predicate pushed to the parquet scan."""
    p = _plan(spark, sf_oracle, "matryoshka_recall_report")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") == 2, (
        "exactly the two query-frame broadcasts may nested-loop"
    )
    assert "WindowGroupLimit" in p
    assert re.search(r"PushedFilters: \[[^\]]*LessThan\(vec_id,5", p)


def test_user_state_intervals_plan_shape(spark, sf_oracle):
    """The RLE islands pipeline must reuse ONE user_id shuffle across
    both windows and the run rollup (lag, cumulative-sum, and the
    (user, run) agg all live under the same partitioning) — never a
    data-wide window, never a second exchange."""
    p = _plan(spark, sf_oracle, "user_state_intervals")
    assert p.count("Exchange hashpartitioning") == 1, p[:2000]
    assert "Exchange SinglePartition" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_zorder_plan_shape(spark, sf_oracle):
    """Both layouts must come from ONE pass: a single events scan (plus
    the 1-row min/max anchor scan), the anchor broadcast, the z/lex
    assignment exploded in-row, and a single (layout, file_id) hash
    agg — never a union of per-layout scans."""
    p = _plan(spark, sf_oracle, "zorder_layout_report")
    assert p.count("Exchange hashpartitioning") == 1, "one shuffle, not per-layout"
    assert p.count("Exchange SinglePartition") == 1  # the 1-row anchor agg
    assert p.count("BroadcastNestedLoopJoin") == 1  # the anchor broadcast
    assert len(re.findall(r"ReadSchema:", p)) == 2, "events scanned once + anchor"


def test_kmv_retention_plan_shape(spark, sf_oracle):
    """The retention-overlap sketch must stay equi-key end to end: the
    day-pair frames broadcast, per-day and per-pair cuts group-limit,
    2-column pruned scans, and never a cartesian/nested-loop join."""
    p = _plan(spark, sf_oracle, "kmv_retention_overlap")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "WindowGroupLimit" in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all("props" not in s and "value" not in s for s in schemas)


def test_hash_sample_quantile_plan_shape(spark, sf_oracle):
    """Both quantile sides must ride histograms, never row-stream
    windows: the sample cut is a WindowGroupLimit, every cumulative
    window runs over the per-(type, value) histogram aggregates, and
    no join is wider than a broadcast."""
    p = _plan(spark, sf_oracle, "hash_sample_quantile_report")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "WindowGroupLimit" in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all("props" not in s and "user_id" not in s for s in schemas)


def test_value_drift_plan_shape(spark, sf_oracle):
    """Drift must aggregate BEFORE aligning: event rows hit exactly one
    (type, day, bin) histogram agg; day alignment and the TVD terms
    join bin rows only — pruned 3-column scans, broadcast anchor, no
    cartesian, no window anywhere."""
    p = _plan(spark, sf_oracle, "value_drift_tvd")
    assert "CartesianProduct" not in p
    assert "Window" not in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all("props" not in s and "user_id" not in s for s in schemas)


def test_bloom_sizing_curve_plan_shape(spark, sf_oracle):
    """The sweep must stay one hash pass: the build-side priority cut
    pushed to the orders scan, the per-m bit-sets broadcast, and no
    join wider than a broadcast — adding a size adds a modulo, never a
    scan or a shuffle join."""
    p = _plan(spark, sf_oracle, "bloom_sizing_curve")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(o_orderpriority,1-URGENT", p)


def test_cm_frequency_plan_shape(spark, sf_oracle):
    """Count-Min must aggregate first: one exact-count hash agg feeds
    both the ≤ d·w counter matrix (broadcast back) and the estimate
    join — the event stream shuffles once, everything after is
    distinct-key-sized; 1-column pruned scan, no cartesian, no
    window."""
    p = _plan(spark, sf_oracle, "cm_frequency_report")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Window" not in p
    assert "BroadcastHashJoin" in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all(s.strip() == "user_id:bigint" for s in schemas), schemas


def test_join_output_planner_plan_shape(spark, sf_oracle):
    """The planner must never execute the planned join: per-side
    1-column pruned scans into key-level hash aggs, histogram ⋈
    histogram broadcast join, broadcast scalar totals (the one BNLJ is
    the 1-row totals frame), and the top-20 as a TakeOrderedAndProject
    heap — no sort-merge, no cartesian, no window."""
    p = _plan(spark, sf_oracle, "join_output_planner")
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "Window" not in p
    assert "BroadcastHashJoin" in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all(
        s.strip() in ("o_custkey:bigint", "user_id:bigint") for s in schemas
    ), schemas


def test_contingency_chi2_plan_shape(spark, sf_oracle):
    """Chi-square cells: one (type, hour) hash agg per margin branch
    over 2-column pruned scans; margins broadcast back (the one BNLJ
    is the 1-row grand total) — no sort-merge, no cartesian, no
    window, nothing event-row-sized after the first agg."""
    p = _plan(spark, sf_oracle, "contingency_chi2")
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "Window" not in p
    assert p.count("BroadcastHashJoin") >= 2
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all(
        set(c.split(":")[0] for c in s.split(",")) == {"ts", "event_type"}
        for s in schemas
    ), schemas


def test_gram_novelty_plan_shape(spark, sf_oracle):
    """Novelty without pairwise comparison: the exploded gram stream
    shuffles into two hash aggs (per-gram min-doc, per-doc counts) and
    joins at DOC grain — no gram-keyed join back onto the exploded
    stream, no doc×doc product, no window; 2-column pruned scans."""
    p = _plan(spark, sf_oracle, "gram_novelty_by_doc")
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "Window" not in p and "BroadcastNestedLoopJoin" not in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all(
        s.strip() == "doc_id:bigint,text:string" for s in schemas
    ), schemas


def test_source_marginal_utility_plan_shape(spark, sf_oracle):
    """The source rollup joins the doc-sized novelty aggregate to a
    2-column documents scan (broadcast), then one ≤ |sources|-row agg
    — same no-pairwise guarantees as the per-doc shape."""
    p = _plan(spark, sf_oracle, "source_marginal_utility")
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "Window" not in p and "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p


def test_containment_pairs_plan_shape(spark, sf_oracle):
    """Containment candidates must be an equi-join on shingle keys
    (prefix × postings) — never a doc×doc product; verify joins
    shingle arrays onto deduplicated pairs; scans prune to
    (doc_id, text)."""
    p = _plan(spark, sf_oracle, "containment_dedup_pairs")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all(
        s.strip() == "doc_id:bigint,text:string" for s in schemas
    ), schemas


def test_winsorized_stats_plan_shape(spark, sf_oracle):
    """Winsorizing must never rescan or reshuffle the fact table: one
    (type, value) histogram agg; thresholds and clamped sums both ride
    that histogram, bounds broadcast back onto histogram rows; scans
    prune to (event_type, value); windows run over histogram rows only
    (partitioned — no global sort)."""
    p = _plan(spark, sf_oracle, "winsorized_stats")
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all(
        set(c.split(":")[0] for c in s.split(",")) == {"event_type", "value"}
        for s in schemas
    ), schemas


def test_vocab_growth_plan_shape(spark, sf_oracle):
    """The growth curve's heavy work is the two gram-stream hash aggs;
    the cumulative windows run over checkpoint-count rows only (a
    provably tiny frame — the accepted single-partition window class,
    same as join_key_skew_report's count-of-counts histogram); scans
    prune to (doc_id, text), no joins beyond the checkpoint-grain
    merge."""
    p = _plan(spark, sf_oracle, "vocab_growth_curve")
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all(
        s.strip() == "doc_id:bigint,text:string" for s in schemas
    ), schemas


def test_cooccurrence_lift_plan_shape(spark, sf_oracle):
    """The pair join must be keyed on (user, day) — bounded |types|²
    fanout per key, never a cross product; margins and the user-day
    total broadcast back onto the |types|²-row pair frame; scans prune
    to (ts, user_id, event_type)."""
    p = _plan(spark, sf_oracle, "cooccurrence_lift")
    assert "CartesianProduct" not in p
    assert "Window" not in p
    assert p.count("BroadcastHashJoin") >= 2
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    # the user-day-total branch prunes event_type away entirely
    assert schemas and all(
        set(c.split(":")[0] for c in s.split(","))
        <= {"ts", "user_id", "event_type"}
        for s in schemas
    ), schemas


def test_interarrival_profile_plan_shape(spark, sf_oracle):
    """The lag window partitions by (user, type) — bounded frames,
    never a global sort; the quantile windows run over the gap
    HISTOGRAM; 3-column pruned scan, no joins."""
    p = _plan(spark, sf_oracle, "interarrival_profile")
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all(
        set(c.split(":")[0] for c in s.split(","))
        == {"ts", "user_id", "event_type", "event_id"}
        for s in schemas
    ), schemas


def test_dedup_token_budget_plan_shape(spark, sf_oracle):
    """The budget rolls up the PERSISTED cluster-label table joined to
    a stateless token projection — one doc-grain join, one
    |sources|-row agg; no recursive walk, no pairwise structure in
    this plan."""
    p = _plan(spark, sf_oracle, "dedup_token_budget")
    assert "CartesianProduct" not in p
    assert "Window" not in p


def test_daily_trend_slopes_plan_shape(spark, sf_oracle):
    """All five regression sums aggregate the (type, day) count table;
    the rebase anchor broadcasts (the one BNLJ is that 1-row frame);
    2-column pruned scan, no windows, no sort-merge."""
    p = _plan(spark, sf_oracle, "daily_trend_slopes")
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "Window" not in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    # the min-day anchor branch prunes event_type away entirely
    assert schemas and all(
        set(c.split(":")[0] for c in s.split(",")) <= {"ts", "event_type"}
        for s in schemas
    ), schemas


def test_kmv_rolling_plan_shape(spark, sf_oracle):
    """The daily cut must precede the window spread (≤ 7·k rows per
    as-of day enter the merge re-cut — WindowGroupLimit on both
    row_number cuts); offsets generate via broadcast, never a shuffle;
    2-column pruned scans."""
    p = _plan(spark, sf_oracle, "kmv_rolling_distinct")
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "WindowGroupLimit" in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all(
        set(c.split(":")[0] for c in s.split(",")) <= {"ts", "user_id"}
        for s in schemas
    ), schemas


def test_ship_lag_profile_plan_shape(spark, sf_oracle):
    """The order-key join is the one fact-sized shuffle; everything
    after the (priority, lag) hash agg is histogram-sized; scans prune
    to the join key + date columns (+ priority on the orders side)."""
    p = _plan(spark, sf_oracle, "ship_lag_profile")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    cols = set()
    for s in schemas:
        cols |= {c.split(":")[0] for c in s.split(",")}
    assert cols <= {
        "l_orderkey", "l_shipdate", "o_orderkey", "o_orderdate", "o_orderpriority"
    }, schemas


def test_seasonal_zscore_plan_shape(spark, sf_oracle):
    """Cell moments are one hash agg to ≤ types·168 rows broadcast
    back onto the fact scan — no window over events, no sort-merge;
    the output is the outlier subset only."""
    p = _plan(spark, sf_oracle, "seasonal_zscore_outliers")
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "Window" not in p
    assert "BroadcastHashJoin" in p


def test_shared_span_pairs_plan_shape(spark, sf_oracle):
    """Span candidates must come from the gram-hash equi-join — never a
    doc×doc product; the run-length window partitions by the candidate
    pair (no global sort of the gram stream); scans prune to
    (doc_id, text); grams shuffle as xxhash64 values (no text column in
    the exchange)."""
    p = _plan(spark, sf_oracle, "shared_span_pairs")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all(
        s.strip() == "doc_id:bigint,text:string" for s in schemas
    ), schemas
    # the pair-grain window is partitioned (pos - row_number trick),
    # never an un-partitioned global ordering
    assert "Window" in p
    # equi-join on the gram hash; fixture scale may broadcast one side
    assert any(j in p for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_phash_dup_pairs_plan_shape(spark, sf_oracle):
    """dHash candidates must come from the triple-of-blocks equi-join
    (dedup.hamming_block_keys) over the CACHED fingerprint frame
    (decode+hash runs once, both join sides reuse it) — never an
    all-pairs product; the payload scan prunes to (doc_id, text)."""
    p = _plan(spark, sf_oracle, "phash_dup_pairs")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "InMemoryTableScan" in p  # fingerprints computed once
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all(
        s.strip() == "doc_id:bigint,text:string" for s in schemas
    ), schemas


def test_hll_plan_shape(spark, sf_oracle):
    """HLL must stay two hash aggs (register maxima, day rollup) plus a
    day-grain join — no window at all (contrast KMV's rank cut), no
    sort-merge, 2-column pruned scans (day derives from raw ts)."""
    p = _plan(spark, sf_oracle, "hll_distinct_report")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" not in p
    assert "WindowGroupLimit" not in p and "Window\n" not in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all(
        {c.split(":")[0] for c in s.split(",")} <= {"ts", "user_id"}
        for s in schemas
    ), schemas


def test_span_dup_token_stats_plan_shape(spark, sf_oracle):
    """Token-coverage rollup keeps shared_span_pairs' candidate shape
    (gram-hash equi-join, never doc×doc) and its windows stay
    PARTITIONED (pair-grain run recovery, doc-grain island merge —
    no global sort); scans prune to (doc_id, text, source)."""
    p = _plan(spark, sf_oracle, "span_dup_token_stats")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all(
        {c.split(":")[0] for c in s.split(",")} <= {"doc_id", "text", "source"}
        for s in schemas
    ), schemas
    assert "Window" in p


def test_span_scrub_plan_plan_shape(spark, sf_oracle):
    """The scrub plan rides the same gram-hash equi-join as
    shared_span_pairs (never doc×doc) with partitioned windows only;
    scans prune to (doc_id, text)."""
    p = _plan(spark, sf_oracle, "span_scrub_plan")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all(
        s.strip() == "doc_id:bigint,text:string" for s in schemas
    ), schemas
    assert "Window" in p


def test_retrieval_mrr_plan_shape(spark, sf_oracle):
    """MRR rides knn_batch_topk: broadcast query block (the 1-row MRR
    summary and the n_queries block are the only nested-loop sides),
    per-query WindowGroupLimit, no sort-merge join, 3-column scans."""
    p = _plan(spark, sf_oracle, "retrieval_mrr_report")
    assert "SortMergeJoin" not in p
    assert "WindowGroupLimit" in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all(
        {c.split(":")[0] for c in s.split(",")} <= {"vec_id", "label", "embedding"}
        for s in schemas
    ), schemas


def test_incremental_span_plan_shape(spark, sf_oracle):
    """Batch-vs-corpus span lookup: cost must ride the gram equi-join
    (never doc×doc, never a corpus self-join) with pair-partitioned
    windows; scans prune to (doc_id, text)."""
    p = _plan(spark, sf_oracle, "incremental_span_pairs")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all(
        s.strip() == "doc_id:bigint,text:string" for s in schemas
    ), schemas
    assert "Window" in p


def test_hll_union_plan_shape(spark, sf_oracle):
    """Sketch-algebra rollup: hash aggs only (per-source registers,
    union re-agg, scope rollup) — no window, no sort-merge join, scans
    prune to (text, source)."""
    p = _plan(spark, sf_oracle, "hll_union_report")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "WindowGroupLimit" not in p and "Window\n" not in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all(
        {c.split(":")[0] for c in s.split(",")} <= {"text", "source"}
        for s in schemas
    ), schemas


def test_audio_segment_plan_shape(spark, sf_oracle):
    """Audio framing is one linear Arrow stage: MapInPandas over a
    2-column pruned payload scan, zero shuffle, no join."""
    p = _plan(spark, sf_oracle, "audio_segment_plan")
    assert "MapInPandas" in p
    assert "Exchange hashpartitioning" not in p and "SortMergeJoin" not in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all(
        {c.split(":")[0] for c in s.split(",")} <= {"doc_id", "text"}
        for s in schemas
    ), schemas


def test_tokenizer_fertility_plan_shape(spark, sf_oracle):
    """Fertility rollup is per-row codegen counting + ONE hash agg on
    (source, lang): 3-column scan, no window, no join."""
    p = _plan(spark, sf_oracle, "tokenizer_fertility_by_source")
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p
    assert "Window" not in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all(
        {c.split(":")[0] for c in s.split(",")} <= {"text", "source", "lang"}
        for s in schemas
    ), schemas


def test_embedding_separability_plan_shape(spark, sf_oracle):
    """Separability is one (label, dim) hash agg over the exploded
    vectors + broadcast global sums + a label-grain agg — no window, no
    sort-merge join, 2-column scan."""
    p = _plan(spark, sf_oracle, "embedding_separability_report")
    assert "SortMergeJoin" not in p and "Window" not in p
    assert "BroadcastHashJoin" in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all(
        {c.split(":")[0] for c in s.split(",")} <= {"label", "embedding"}
        for s in schemas
    ), schemas


def _scan_count(p: str) -> int:
    return len(re.findall(r"Scan parquet", p))


def test_round9b_tpch_shape_plans(spark, sf_oracle):
    """The four adapted TPC-H shapes must keep their scale-critical
    structure: disjuncts pushed to both scans of a broadcast part join
    (Q19), one-pass conditional counts (Q12), and — the point of the
    window rewrites — each fact scanned exactly ONCE in the share and
    blame reports (Q20/Q21), where a naive agg-branch or correlated
    subquery would re-scan it."""
    p = _plan(spark, sf_oracle, "disjunctive_revenue")
    assert "BroadcastHashJoin" in p
    assert re.search(r"PushedFilters: \[.*p_brand", p), "part disjunct must push"
    assert re.search(r"PushedFilters: \[.*l_quantity", p), "qty disjunct must push"

    p = _plan(spark, sf_oracle, "returnflag_priority_counts")
    assert _scan_count(p) == 2  # lineitem + orders, once each
    assert re.search(r"PushedFilters: \[.*l_shipdate", p)

    p = _plan(spark, sf_oracle, "excess_shippers")
    assert _scan_count(p) == 4, "lineitem/part/supplier/nation once each"
    assert "windowspecdefinition(l_partkey" in p
    assert re.search(r"PushedFilters: \[.*StringStartsWith\(p_name", p)

    p = _plan(spark, sf_oracle, "late_only_suppliers")
    assert _scan_count(p) == 3, "lineitem/orders/supplier once each"
    assert "windowspecdefinition(l_orderkey" in p
    assert "TakeOrderedAndProject" in p


def test_round9b_pipeline_op_plans(spark, sf_oracle):
    """gopher: ONE documents scan, rules explode only after the per-doc
    signal collapse. dsir: exactly two documents scans (model-fit pass
    + scoring pass — the irreducible DSIR shape), bucket table joined
    by broadcast, totals attached by window (no third scan). ewma: ONE
    events scan, smoothing is a partitioned RANGE window over the
    daily agg."""
    p = _plan(spark, sf_oracle, "gopher_rule_audit")
    assert _scan_count(p) == 1
    assert "partial_sum" in p  # map-side combine on the rule pairs

    p = _plan(spark, sf_oracle, "dsir_importance_weights")
    assert _scan_count(p) == 2
    assert "BroadcastHashJoin" in p

    p = _plan(spark, sf_oracle, "ewma_daily_counts")
    assert _scan_count(p) == 1
    assert "windowspecdefinition(event_type" in p
    assert "windowspecdefinition()" not in p


def test_round9c_op_plans(spark, sf_oracle):
    """theil_sen / holt: ONE events scan each, the O(days) folds are
    array-local — no Join node anywhere. linear_interp: generated-grid
    assembly via broadcasts like gapfill_locf, and both ignore-nulls
    window passes ride ONE per-series window spec (no data-wide
    window). bigram LM: the 1-row vocabulary frame attaches by
    broadcast, never a shuffled join."""
    p = _plan(spark, sf_oracle, "theil_sen_trend")
    assert _scan_count(p) == 1 and "Join" not in p, p[:2000]

    p = _plan(spark, sf_oracle, "holt_linear_forecast")
    assert _scan_count(p) == 1 and "Join" not in p, p[:2000]

    p = _plan(spark, sf_oracle, "linear_interp_gapfill")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "windowspecdefinition(event_type" in p
    assert "windowspecdefinition()" not in p

    p = _plan(spark, sf_oracle, "bigram_lm_perplexity")
    assert p.count("BroadcastNestedLoopJoin") == 1, p[:2000]  # 1-row V only


def test_dedup_simhash_canonical_triple_plan_shape(spark, sf_oracle):
    """The canonical-triple filter (r12, dedup.hamming_pairs_over) emits
    each Hamming-<=3 pair exactly once straight out of the 20-triple
    block equi-join, so the plan must carry NO pair-keyed aggregate
    between join and output — the pre-r12 form paid a full distinct
    shuffle on the whole candidate set. Candidates stay a block-key
    equi-join, never a product. Red-if-reverted: adding .distinct()
    back puts HashAggregate(keys=[doc_a.., doc_b..]) into the plan."""
    p = _plan(spark, sf_oracle, "dedup_simhash_pairs")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert not re.search(r"HashAggregate\(keys=\[doc_a", p), (
        "post-join pair distinct reintroduced"
    )
    # candidates come from an equi-join (any physical equi strategy)
    assert any(
        j in p for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    ), p[:2000]


def test_semdedup_bucketed_chain_plan_shape(spark, sf_oracle):
    """The r12 bucketed SemDeDup dup scan must stay CELL-CONFINED
    (vector.semdedup_compute, production k=None path): the pair join is
    an equi-join on the (bkt, cid, scid) cell key — never a product —
    the per-bucket kk frame attaches by BROADCAST, and the bounded
    candidate set rebalances via the keyed pair-identity repartition
    before the per-pair dot. Red-if-reverted: dropping the sub-cell
    confinement widens the join key (no scid), and dropping the
    broadcast(kn) turns the kk attach into a shuffled join."""
    from via_spark.operators import vector
    from via_spark.plans import executed_plan

    p = executed_plan(vector.semdedup_compute(spark, sf_oracle))
    assert "CartesianProduct" not in p
    # the dup pair scan joins on the full cell triple
    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[bkt#\d+L?, cid#\d+, scid#\d+\]",
        p,
    ), p[:3000]
    # per-bucket kk attaches broadcast
    assert "BroadcastHashJoin" in p, p[:2000]
    # bounded candidate set rebalanced on pair identity before the dot
    assert re.search(r"hashpartitioning\(va#\d+L?, vb#\d+L?", p), p[:3000]


def test_tier2_triage_scores_against_broadcast_query(spark, tmp_path):
    """The API triage plan scores each candidate row against ONE
    broadcast query row: no Exchange keyed on ``dim``, no ExistingRDD
    scan (the marks are a JVM-side literal), and building the DataFrame
    runs no Spark job (the tier2 read passes its pinned schema, so no
    footer is read)."""
    import datetime

    from via_spark.api import VIAEngine
    from via_spark.operators import promote

    day = datetime.date(2026, 1, 1)
    rows = [
        ("event_cluster", h, 1, 2, 3, "svc", "ERROR", "novelty", "ctx", body, [], day)
        for h, body in (("h1", "disk full"), ("h2", "disk timeout"), ("h3", "login ok"))
    ]
    eng = VIAEngine(spark, str(tmp_path / "store"))
    promote.write_tier2(spark.createDataFrame(rows, promote.TIER2_SCHEMA), eng.tier2_path)

    sc = spark.sparkContext
    group = "test-triage-build"
    sc.setJobGroup(group, "build tier2_triage")
    try:
        df = eng.tier2_triage(["h1", "h1"], ["h2"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    p = executed_plan(df)
    assert not re.search(r"Exchange hashpartitioning\([^)]*\bdim\b", p), p
    assert "ExistingRDD" not in p, p
    assert "BroadcastNestedLoopJoin" in p, p
    assert [r["cluster_id"] for r in df.collect()] == ["h3"]
