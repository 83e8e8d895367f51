"""Bucketed-table join: the Exchange-free co-located join path."""

from __future__ import annotations

from via_spark import storage
from via_spark.plans import executed_plan
from via_spark.session import load_table


def test_bucketed_join_has_no_shuffle(spark, sf_smoke):
    orders = load_table(spark, sf_smoke, "orders")
    lineitem = load_table(spark, sf_smoke, "lineitem")
    try:
        storage.write_bucketed(orders, "b_orders", "o_orderkey", n_buckets=8)
        storage.write_bucketed(lineitem, "b_lineitem", "l_orderkey", n_buckets=8)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = storage.bucketed_join(
                spark, "b_orders", "b_lineitem", "o_orderkey", "l_orderkey"
            )
            plan = executed_plan(joined)
            assert "Exchange" not in plan, f"bucketed join must not shuffle:\n{plan[:1500]}"
            assert "SortMergeJoin" in plan
            # values identical to the plain join
            plain = orders.join(
                lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
            )
            assert joined.count() == plain.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        storage.drop_table(spark, "b_orders")
        storage.drop_table(spark, "b_lineitem")


def test_retention_drops_old_partitions(spark, tmp_path):
    import datetime

    from pyspark.sql import functions as F

    from via_spark import storage

    days = ["2026-01-01", "2026-01-02", "2026-01-03"]
    df = spark.createDataFrame(
        [(i, datetime.date.fromisoformat(d)) for i, d in enumerate(days) for _ in range(4)],
        "cluster_id long, event_date date",
    )
    path = str(tmp_path / "t2")
    df.write.partitionBy("event_date").parquet(path)

    dropped = storage.drop_partitions_before(path, "2026-01-03")
    assert dropped == ["event_date=2026-01-01", "event_date=2026-01-02"]
    remaining = spark.read.parquet(path)
    assert remaining.count() == 4
    assert remaining.where(F.col("event_date") < "2026-01-03").count() == 0


def test_compaction_reduces_files_preserves_values(spark, sf_smoke, tmp_path):
    from via_spark.operators import promote

    clusters = promote.promotion_rollup(
        spark, sf_smoke, sample_size=200, novelty_min_count=1
    )
    path = str(tmp_path / "t2")
    # three appends → ≥3 files per touched partition (micro-batch shape)
    for _ in range(3):
        promote.write_tier2(clusters, path)
    before = promote.read_tier2(spark, path).orderBy(
        "rhythm_hash", "start_ts"
    ).collect()

    res = storage.compact_partitions(spark, path, sort_col="start_ts")
    assert res["files_after"] < res["files_before"]
    assert res["rows"] == len(before)
    # one file per partition value
    import os

    for entry in os.listdir(path):
        if entry.startswith("event_date="):
            files = [
                f for f in os.listdir(os.path.join(path, entry))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, (entry, files)
    after = promote.read_tier2(spark, path).orderBy(
        "rhythm_hash", "start_ts"
    ).collect()
    assert after == before


def test_connected_components_basic(spark):
    from via_spark.operators.graph import connected_components

    verts = spark.createDataFrame([(i,) for i in range(7)], "id long")
    # chain 0-1-2, pair 4-5, singletons 3 and 6
    edges = spark.createDataFrame(
        [(1, 0), (1, 2), (5, 4)], "src long, dst long"
    )
    out = {
        r["id"]: r["component"]
        for r in connected_components(verts, edges).collect()
    }
    assert out == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4, 6: 6}


def test_compaction_cleans_stale_dirs(spark, sf_smoke, tmp_path):
    import os

    from via_spark.operators import promote

    clusters = promote.promotion_rollup(
        spark, sf_smoke, sample_size=200, novelty_min_count=1
    )
    path = str(tmp_path / "t2")
    promote.write_tier2(clusters, path)
    # leftovers from a "crashed" prior run must not break the next one
    os.makedirs(path + "._compact_tmp/junk")
    os.makedirs(path + "._compact_old/junk")
    res = storage.compact_partitions(spark, path)
    assert res["rows"] == clusters.count()
    assert not os.path.exists(path + "._compact_tmp")
    assert not os.path.exists(path + "._compact_old")


def test_connected_components_raises_on_non_convergence(spark):
    import pytest

    from via_spark.operators.graph import connected_components

    # a 6-chain needs ~5 rounds; max_iter=2 must raise, not split
    verts = spark.createDataFrame([(i,) for i in range(6)], "id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(verts, chain, max_iter=2)


def test_zorder_skips_more_row_groups_than_single_sort(spark, sf_oracle, tmp_path):
    """A 2-D box predicate must touch fewer parquet row groups on a
    Z-ordered layout than on a single-column sort — measured from the
    actual row-group min/max stats pyarrow sees."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from via_spark.session import load_table

    ev = load_table(spark, sf_oracle, "events").select(
        "event_id", "user_id", F.expr("ts div 1000000000").alias("ts_sec"), "value"
    )
    bounds = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("ts_sec"), F.max("ts_sec")
    ).collect()[0]
    u_lo, u_hi, t_lo, t_hi = bounds

    sorted_path = str(tmp_path / "ts_sorted")
    z_path = str(tmp_path / "zorder")
    block = 32 * 1024
    (
        ev.repartition(1).sortWithinPartitions("ts_sec")
        .write.mode("overwrite").option("parquet.block.size", str(block))
        .parquet(sorted_path)
    )
    storage.zorder_write(ev, z_path, "user_id", "ts_sec", block_size=block)

    # 10% box in both dimensions
    u_a, u_b = u_lo, u_lo + (u_hi - u_lo) // 10
    t_a, t_b = t_lo, t_lo + (t_hi - t_lo) // 10

    def touched(path):
        import glob, os

        total = hit = 0
        for f in glob.glob(os.path.join(path, "*.parquet")):
            md = pq.ParquetFile(f).metadata
            names = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                su = g.column(names["user_id"]).statistics
                st = g.column(names["ts_sec"]).statistics
                total += 1
                if su.min <= u_b and su.max >= u_a and st.min <= t_b and st.max >= t_a:
                    hit += 1
        return hit, total

    z_hit, z_total = touched(z_path)
    s_hit, s_total = touched(sorted_path)
    assert z_total >= 4, f"need multiple row groups to compare ({z_total})"
    # same rows, same result — but fewer groups to read under z-order
    assert z_hit < s_hit, (z_hit, z_total, s_hit, s_total)
    # and the data itself is intact
    got = spark.read.parquet(z_path)
    assert got.count() == ev.count()


def test_store_matches_raw_computation(spark, sf_smoke):
    """A store accessor returns exactly the rows of the computation it
    materializes: ``store.tier1`` against ``rhythm.tier1_from_events``
    and ``graph.dedup_clusters`` (the ``store.cluster_labels`` scan)
    against ``graph.dedup_clusters_compute``."""
    from via_spark import store
    from via_spark.operators import graph, rhythm

    t1_store = {tuple(r) for r in store.tier1(spark, sf_smoke).collect()}
    cl_store = {tuple(r) for r in graph.dedup_clusters(spark, sf_smoke).collect()}

    t1_raw = {tuple(r) for r in rhythm.tier1_from_events(spark, sf_smoke).collect()}
    cl_raw = {tuple(r) for r in graph.dedup_clusters_compute(spark, sf_smoke).collect()}

    assert t1_raw == t1_store
    assert cl_raw == cl_store


def _build_jobs(spark, group: str, build) -> list[int]:
    """Spark job ids run while ``build()`` builds (not collects) a plan."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "plan build")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_fixture_reads_run_no_job(spark, sf_smoke):
    """The session reader infers a fixture's schema once: building
    ``dedup_minhash_pairs`` a second time on the same sf dir reads its
    tables with the remembered schema, so the build runs no Spark job."""
    import __spark_entry__ as em

    build = em.queries()["dedup_minhash_pairs"]
    build(spark, sf_smoke)
    assert _build_jobs(spark, "test-warm-minhash", lambda: build(spark, sf_smoke)) == []


def test_built_store_read_runs_no_job(spark, sf_smoke):
    """Once ``store.cluster_labels`` is built, a further call is a
    parquet scan with the store's remembered schema: no Spark job."""
    from via_spark import store
    from via_spark.operators.dedup import JACCARD_THRESHOLD

    store.cluster_labels(spark, sf_smoke, JACCARD_THRESHOLD)
    jobs = _build_jobs(
        spark, "test-warm-labels",
        lambda: store.cluster_labels(spark, sf_smoke, JACCARD_THRESHOLD),
    )
    assert jobs == []


#: registered queries whose builder derives ``now`` through
#: ``rhythm.current_now`` — a collect at build time
CURRENT_NOW_BUILDERS = {
    "active_rules_projection",
    "clusters_windowed_tolerant",
    "forensic_clusters_windowed",
    "rhythm_anomalies",
    "rhythm_baseline_stats",
    "rhythm_frequency_sensitive",
    "rhythm_novelty_small_baseline",
    "rhythm_recent_counts",
    "suppressed_anomalies",
}


def test_all_queries_survive_empty_tables(spark, tmp_path):
    """Robustness invariant: every driver query must run (and typically
    return zero rows) over schema-only tables — a new deployment, a
    fresh partition, or a filtered-to-nothing day must not TypeError.
    Caught 11 queries crashing on current_now() = None before the
    empty-store pin (rhythm.py)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as em
    from tests.conftest import SF_SMOKE

    empty = tmp_path / "sf_empty"
    empty.mkdir()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        schema = pq.ParquetFile(f"{SF_SMOKE}/{t}.parquet").schema_arrow
        pq.write_table(
            pa.table({f.name: pa.array([], type=f.type) for f in schema}),
            str(empty / f"{t}.parquet"),
        )

    failures = []
    for name, fn in em.queries().items():
        try:
            fn(spark, str(empty)).collect()
        except Exception as exc:  # noqa: BLE001 — report all offenders at once
            failures.append(f"{name}: {type(exc).__name__}: {str(exc).splitlines()[0][:90]}")
    assert not failures, failures

    # Lazy-builder contract (queries()): with every fixture schema and
    # store already known, building a plan runs no Spark job. The only
    # exceptions derive ``now`` from the store (rhythm.current_now
    # collects the newest ts at build time).
    eager = {
        name
        for name, fn in em.queries().items()
        if _build_jobs(spark, f"test-rebuild-{name}", lambda fn=fn: fn(spark, str(empty)))
    }
    assert eager == CURRENT_NOW_BUILDERS, (
        sorted(eager - CURRENT_NOW_BUILDERS), sorted(CURRENT_NOW_BUILDERS - eager))
