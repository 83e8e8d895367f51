"""Structured Streaming pipeline tests (availableNow triggers — the
runtime surface the batch-only driver never exercises).

End-to-end: OTel-JSONL files → streaming ingest → date-partitioned
tier1 → foreachBatch detection → tier2 clusters; plus the event-time
windowed aggregation checked against its batch equivalent.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from via_spark.operators import promote, rhythm
from via_spark.streaming import pipeline

DETECT_VARIANT = dict(sample_size=200, novelty_min_count=1)


def _ingest(spark, sf_smoke, tmp_path):
    src = str(tmp_path / "otel_jsonl")
    tier1 = str(tmp_path / "tier1")
    pipeline.write_otel_fixture_jsonl(spark, sf_smoke, src, n_files=4)
    stream = pipeline.read_otel_stream(spark, src)
    q = pipeline.start_tier1_ingest(
        stream, tier1, str(tmp_path / "ckpt_ingest"), available_now=True
    )
    q.awaitTermination(120)
    return src, tier1


def _batch_equivalent(spark, sf_smoke):
    """The same render→flatten→hash computation, run as one batch plan."""
    from via_spark.functions.text import rhythm_hash, template
    from via_spark.operators.schema_infer import otel_envelope_from_events, otel_flatten

    flat = otel_flatten(otel_envelope_from_events(spark, sf_smoke))
    return flat.withColumn("template", template(F.col("body"))).withColumn(
        "rhythm_hash", rhythm_hash("service", "severity", F.col("template"))
    )


def test_streaming_ingest_matches_batch(spark, sf_smoke, tmp_path):
    _, tier1_path = _ingest(spark, sf_smoke, tmp_path)
    got = spark.read.parquet(tier1_path)
    expect = _batch_equivalent(spark, sf_smoke)
    assert got.count() == expect.count()
    # same rhythm_hash histogram as the batch path over the same rows
    g = {(r["rhythm_hash"], r["cnt"]) for r in
         got.groupBy("rhythm_hash").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    e = {(r["rhythm_hash"], r["cnt"]) for r in
         expect.groupBy("rhythm_hash").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert len(e) > 1
    assert g == e
    # date-partitioned layout
    import os
    assert any(d.startswith("event_date=") for d in os.listdir(tier1_path))


def test_streaming_detection_promotes_to_tier2(spark, sf_smoke, tmp_path):
    src, tier1_path = _ingest(spark, sf_smoke, tmp_path)
    tier2 = str(tmp_path / "tier2")
    tee = str(tmp_path / "tee")
    stream = pipeline.read_otel_stream(spark, src)
    q = pipeline.start_detection(
        spark, stream, tier1_path, tier2, str(tmp_path / "ckpt_detect"),
        window_sec=rhythm.DEFAULT_WINDOW_SEC, available_now=True,
        tee_path=tee, **DETECT_VARIANT,
    )
    q.awaitTermination(180)

    clusters = promote.read_tier2(spark, tier2)
    assert clusters.count() > 0
    row = clusters.first()
    assert row["entity_type"] == "event_cluster"
    assert row["anomaly_type"] in ("novelty", "frequency")
    # T8 tee sink received the same batch rows
    assert spark.read.parquet(tee).count() == spark.read.parquet(tier1_path).count()


def test_windowed_hash_counts_matches_batch(spark, sf_smoke, tmp_path):
    src, _ = _ingest(spark, sf_smoke, tmp_path)
    stream = pipeline.read_otel_stream(spark, src)
    agg = pipeline.windowed_hash_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["rhythm_hash"], r["n"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    batch = (
        _batch_equivalent(spark, sf_smoke)
        .withColumn("event_time", F.timestamp_seconds(F.col("ts")))
        .groupBy(F.window("event_time", "60 seconds").alias("win"), "rhythm_hash")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("ws"), "rhythm_hash", "n")
    )
    expect = {(r["ws"], r["rhythm_hash"], r["n"]) for r in batch.collect()}
    assert got == expect


def test_stateful_running_stats_accumulate(spark, sf_smoke, tmp_path):
    """applyInPandasWithState: totals accumulate across micro-batches
    and converge to the batch ground truth."""
    from via_spark.streaming import stateful

    src = str(tmp_path / "otel_jsonl")
    pipeline.write_otel_fixture_jsonl(spark, sf_smoke, src, n_files=4)
    stream = pipeline.read_otel_stream(spark, src, max_files_per_trigger=2)
    q = (
        stateful.running_hash_stats(stream)
        .writeStream.format("memory")
        .queryName("running_stats")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    updates = spark.sql("SELECT * FROM running_stats").collect()
    assert len(updates) > 0
    # multiple triggers happened (maxFilesPerTrigger=2 over 4 files)
    finals = {}
    for r in updates:
        cur = finals.get(r["rhythm_hash"])
        if cur is None or r["total_n"] > cur["total_n"]:
            finals[r["rhythm_hash"]] = r
    truth = {
        r["rhythm_hash"]: r["cnt"]
        for r in _batch_equivalent(spark, sf_smoke)
        .groupBy("rhythm_hash")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert {h: r["total_n"] for h, r in finals.items()} == truth
    for r in finals.values():
        assert r["ewma"] > 0 and r["last_ts"] > 0


def test_checkpoint_recovery_is_exactly_once(spark, sf_smoke, tmp_path):
    """Restarting an ingest query from its checkpoint with no new input
    writes nothing; adding one new file processes only that file —
    the exactly-once file-sink contract the reference's wait=False
    upserts could not give."""
    src = str(tmp_path / "otel_jsonl")
    tier1 = str(tmp_path / "tier1")
    ckpt = str(tmp_path / "ckpt")
    pipeline.write_otel_fixture_jsonl(spark, sf_smoke, src, n_files=2)

    q = pipeline.start_tier1_ingest(
        pipeline.read_otel_stream(spark, src), tier1, ckpt, available_now=True
    )
    q.awaitTermination(120)
    n1 = spark.read.parquet(tier1).count()

    # restart, no new data → no new rows
    q = pipeline.start_tier1_ingest(
        pipeline.read_otel_stream(spark, src), tier1, ckpt, available_now=True
    )
    q.awaitTermination(120)
    assert spark.read.parquet(tier1).count() == n1

    # one new file → exactly its rows are appended
    from via_spark.operators.schema_infer import otel_envelope_from_events

    one = otel_envelope_from_events(spark, sf_smoke).select("raw").limit(7)
    one.coalesce(1).write.mode("append").text(src)
    q = pipeline.start_tier1_ingest(
        pipeline.read_otel_stream(spark, src), tier1, ckpt, available_now=True
    )
    q.awaitTermination(120)
    assert spark.read.parquet(tier1).count() == n1 + 7


def test_stream_stream_interval_join_matches_batch(spark, sf_smoke, tmp_path):
    """Watermarked stream-stream escalation join equals the same join
    computed as one batch plan over the same input."""
    src = str(tmp_path / "otel_jsonl")
    pipeline.write_otel_fixture_jsonl(spark, sf_smoke, src, n_files=4)
    stream = pipeline.read_otel_stream(spark, src)
    q = (
        pipeline.correlated_escalations(stream, within_sec=3600)
        .writeStream.format("memory")
        .queryName("escalations")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_join"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        tuple(r)
        for r in spark.sql(
            "SELECT service, cause_ts, effect_ts FROM escalations"
        ).collect()
    }
    batch = pipeline.correlated_escalations(
        _batch_equivalent(spark, sf_smoke), within_sec=3600
    )
    expect = {tuple(r) for r in batch.select("service", "cause_ts", "effect_ts").collect()}
    assert len(expect) > 0, "fixture must contain ERROR→WARN pairs"
    assert got == expect


def test_detection_rereads_rules_per_trigger(spark, sf_smoke, tmp_path):
    """T6 streaming side: a rule written between triggers suppresses the
    hash in the NEXT batch without restarting the query pipeline."""
    from via_spark.operators import control

    src, tier1_path = _ingest(spark, sf_smoke, tmp_path)
    tier2 = str(tmp_path / "tier2")
    rules_path = str(tmp_path / "rules")

    # first pass: no rules — find the flagged hashes
    stream = pipeline.read_otel_stream(spark, src)
    q = pipeline.start_detection(
        spark, stream, tier1_path, tier2, str(tmp_path / "ck1"),
        window_sec=rhythm.DEFAULT_WINDOW_SEC, available_now=True,
        rules_path=rules_path, **DETECT_VARIANT,
    )
    q.awaitTermination(180)
    first = {r["rhythm_hash"] for r in promote.read_tier2(spark, tier2).collect()}
    assert first

    # operator suppresses one hash; a NEW trigger run must exclude it
    target = sorted(first)[0]
    now = spark.read.parquet(tier1_path).agg(F.max("ts")).collect()[0][0]
    rules = control.suppress(control.empty_rules(spark), target, ttl_sec=10**6, now=now)
    rules.write.mode("overwrite").parquet(rules_path)

    tier2b = str(tmp_path / "tier2b")
    q = pipeline.start_detection(
        spark, pipeline.read_otel_stream(spark, src), tier1_path, tier2b,
        str(tmp_path / "ck2"), window_sec=rhythm.DEFAULT_WINDOW_SEC,
        available_now=True, rules_path=rules_path, **DETECT_VARIANT,
    )
    q.awaitTermination(180)
    second = {r["rhythm_hash"] for r in promote.read_tier2(spark, tier2b).collect()}
    assert target not in second
    assert second == first - {target}


def _tier2_rows(spark, path):
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in promote.read_tier2(spark, path).collect()
    )


def test_stream_and_api_promote_identical_tier2(spark, sf_smoke, tmp_path):
    """One detect→promote step serves both callers: over the same tier1
    store, a detection trigger and the API verb at that store's newest
    ts write the same tier2 rows, each exactly once."""
    import os

    from via_spark.api import VIAEngine

    src, tier1_path = _ingest(spark, sf_smoke, tmp_path)  # <tmp>/tier1
    tier2_stream = str(tmp_path / "tier2_stream")
    q = pipeline.start_detection(
        spark, pipeline.read_otel_stream(spark, src), tier1_path, tier2_stream,
        str(tmp_path / "ckpt_detect"), window_sec=rhythm.DEFAULT_WINDOW_SEC,
        available_now=True, **DETECT_VARIANT,
    )
    q.awaitTermination(180)

    eng = VIAEngine(spark, str(tmp_path))
    assert eng.tier1_path == tier1_path and not os.path.exists(eng.tier2_path)
    now = spark.read.parquet(tier1_path).agg(F.max("ts")).collect()[0][0]
    out = eng.tier1_rhythm_anomalies(
        window_sec=rhythm.DEFAULT_WINDOW_SEC, now=now, **DETECT_VARIANT
    )

    streamed = _tier2_rows(spark, tier2_stream)
    assert streamed, "the fixture window must hold anomalies"
    assert _tier2_rows(spark, eng.tier2_path) == streamed
    # one tier2 row per returned anomaly: written once, not per re-run
    flagged = out["novel_anomalies"] + out["frequency_anomalies"]
    assert sorted(a["rhythm_hash"] for a in flagged) == sorted(
        r[1] for r in streamed
    )


def test_anomaly_free_trigger_leaves_no_tier2_dir(spark, sf_smoke, tmp_path):
    """No anomaly in the window → no tier2 write at all. A ``_SUCCESS``-
    only directory would break ``read_tier2`` schema inference."""
    import os

    from via_spark.api import VIAEngine

    src, tier1_path = _ingest(spark, sf_smoke, tmp_path)
    quiet = dict(sample_size=200, novelty_min_count=10**9,
                 frequency_min_count=10**9)
    tier2 = str(tmp_path / "tier2_stream")
    q = pipeline.start_detection(
        spark, pipeline.read_otel_stream(spark, src), tier1_path, tier2,
        str(tmp_path / "ckpt_detect"), window_sec=rhythm.DEFAULT_WINDOW_SEC,
        available_now=True, **quiet,
    )
    q.awaitTermination(180)
    assert q.exception() is None
    assert q.recentProgress, "the trigger must have run"
    assert not os.path.exists(tier2)

    eng = VIAEngine(spark, str(tmp_path))
    out = eng.tier1_rhythm_anomalies(window_sec=rhythm.DEFAULT_WINDOW_SEC, **quiet)
    assert out == {"novel_anomalies": [], "frequency_anomalies": []}
    assert not os.path.exists(eng.tier2_path)


def test_streaming_dedup_collapses_redelivery(spark, sf_smoke, tmp_path):
    """dropDuplicatesWithinWatermark: writing the SAME fixture twice
    into the source simulates at-least-once redelivery; the deduped
    stream must land each event_id exactly once."""
    src = str(tmp_path / "otel_dup")
    out = str(tmp_path / "deduped")
    # two identical file sets = every envelope delivered twice
    pipeline.write_otel_fixture_jsonl(spark, sf_smoke, src, n_files=2)
    import os, shutil
    for f in list(os.listdir(src)):
        if not f.startswith("_") and not f.startswith("."):
            shutil.copy(os.path.join(src, f), os.path.join(src, "dup_" + f))

    stream = pipeline.deduped_stream(pipeline.read_otel_stream(spark, src))
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    expect_n = _batch_equivalent(spark, sf_smoke).count()
    assert got.count() == expect_n, "each redelivered event must land once"
    assert got.select("event_id").distinct().count() == expect_n


def test_rollup_maintenance_matches_batch_and_refreshes(spark, sf_smoke, tmp_path):
    """Continuous-aggregate refresh: the incrementally-maintained
    rollup equals the batch rollup over all of tier1 — after the first
    ingest AND after more files arrive (invalidated dates recomputed,
    untouched dates left alone). Recompute-from-source also makes a
    replay rewrite identical values (idempotence)."""
    src = str(tmp_path / "otel_jsonl")
    tier1 = str(tmp_path / "tier1")
    rollup = str(tmp_path / "rollup")
    pipeline.write_otel_fixture_jsonl(spark, sf_smoke, src, n_files=2)

    def run_both():
        q = pipeline.start_tier1_ingest(
            pipeline.read_otel_stream(spark, src), tier1,
            str(tmp_path / "ckpt_ingest"), available_now=True
        )
        q.awaitTermination(120)
        q = pipeline.start_rollup_maintenance(
            spark, pipeline.read_otel_stream(spark, src), tier1, rollup,
            str(tmp_path / "ckpt_rollup"), gran_sec=60, available_now=True
        )
        q.awaitTermination(120)

    def batch_rollup():
        t1 = spark.read.parquet(tier1)
        return {
            (r["bucket_start"], r["rhythm_hash"], r["n"])
            for r in t1.withColumn(
                "bucket_start", F.col("ts") - F.col("ts") % 60
            )
            .groupBy("bucket_start", "rhythm_hash")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    run_both()
    got1 = {
        (r["bucket_start"], r["rhythm_hash"], r["n"])
        for r in spark.read.parquet(rollup).collect()
    }
    assert got1 == batch_rollup() and got1

    # more data arrives (the SAME fixture again → every bucket count
    # doubles, so stale values would be caught), incremental refresh
    import shutil
    for f in __import__("os").listdir(src):
        shutil.copy(f"{src}/{f}", f"{src}/again_{f}")
    run_both()
    got2 = {
        (r["bucket_start"], r["rhythm_hash"], r["n"])
        for r in spark.read.parquet(rollup).collect()
    }
    assert got2 == batch_rollup()
    assert {(b, h, 2 * n) for b, h, n in got1} == got2


def test_streaming_session_windows_match_batch(spark, sf_smoke, tmp_path):
    """T5 session form as a true streaming agg: session_window merges
    events separated by < gap into one session per hash; availableNow
    completes all state, so the result must equal the batch
    session_window over the same rows."""
    src, _ = _ingest(spark, sf_smoke, tmp_path)
    stream = pipeline.read_otel_stream(spark, src)
    agg = pipeline.session_hash_counts_stream(stream, gap="300 seconds")
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["session_start"], r["session_end"], r["rhythm_hash"], r["n"])
        for r in spark.sql("SELECT * FROM sess_counts").collect()
    }
    batch = (
        _batch_equivalent(spark, sf_smoke)
        .withColumn("event_time", F.timestamp_seconds(F.col("ts")))
        .groupBy(
            F.session_window("event_time", "300 seconds").alias("sw"), "rhythm_hash"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("sw.start").cast("long").alias("ss"),
            F.col("sw.end").cast("long").alias("se"),
            "rhythm_hash",
            "n",
        )
    )
    expect = {(r["ss"], r["se"], r["rhythm_hash"], r["n"]) for r in batch.collect()}
    assert got == expect and len(got) > 1


def test_neardup_gate_flags_stream_duplicates(spark, tmp_path):
    """The streaming near-dup ingest gate: batch 1 seeds the signature
    store; batch 2 contains a near-copy of an admitted doc (one token
    changed) plus a fresh doc plus an intra-batch near-pair — the
    near-copy and the higher intra-batch id get flagged, everything
    else is admitted and its signatures land in the store."""
    import json
    import os

    src = str(tmp_path / "docs_src")
    store = str(tmp_path / "neardup_store")
    os.makedirs(src)

    base = "the quick brown fox jumps over the lazy dog again and again today"
    neardup = base.replace("today", "tomorrow")
    twin_a = "streaming gates keep corpora clean by banding minhash signatures nightly"
    twin_b = twin_a.replace("nightly", "daily")
    fresh = "completely unrelated text about parquet row groups and predicate pushdown"

    def run_batch(rows, tag):
        with open(os.path.join(src, f"{tag}.jsonl"), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        stream = spark.readStream.schema("doc_id long, text string").json(src)
        q = pipeline.start_neardup_gate(
            spark, stream, store, str(tmp_path / "ckpt_gate"),
            available_now=True,
        )
        q.awaitTermination(120)

    run_batch([{"doc_id": 1, "text": base},
               {"doc_id": 2, "text": twin_a}], "b1")
    adm1 = {r["doc_id"] for r in spark.read.parquet(f"{store}/admitted").collect()}
    assert adm1 == {1, 2}
    assert spark.read.parquet(f"{store}/flagged").count() == 0

    run_batch([{"doc_id": 10, "text": neardup},       # near-dup of corpus doc 1
               {"doc_id": 11, "text": fresh},          # genuinely new
               {"doc_id": 12, "text": twin_b},         # near-dup of corpus doc 2
               {"doc_id": 13, "text": "intra batch twins share almost every trigram of this sentence body"},
               {"doc_id": 14, "text": "intra batch twins share almost every trigram of this sentence core"}], "b2")
    flagged = {
        (r["doc_id"], r["matched_doc"])
        for r in spark.read.parquet(f"{store}/flagged").collect()
    }
    assert (10, 1) in flagged and (12, 2) in flagged
    assert (14, 13) in flagged, "intra-batch pair resolves to the lower id"
    adm = {r["doc_id"] for r in spark.read.parquet(f"{store}/admitted").collect()}
    assert adm == {1, 2, 11, 13}
    # store only carries admitted signatures
    sig_ids = {r["doc_id"] for r in spark.read.parquet(f"{store}/bands").collect()}
    assert sig_ids == {1, 2, 11, 13}


def test_neardup_gate_replay_is_idempotent(spark, tmp_path):
    """Replaying a batch (same batch_id, same rows — the restart between
    sink write and checkpoint commit) must leave the store EXACTLY as
    the first run did: the batch's own signatures must not act as
    corpus on the replay (the self-match bug), and partition overwrite
    must not duplicate rows."""
    store = str(tmp_path / "gate_replay_store")

    base = "the quick brown fox jumps over the lazy dog again and again today"
    b0 = spark.createDataFrame(
        [(1, base), (2, "unrelated words about columnar storage and shuffles")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(10, base.replace("today", "tomorrow")),
         (11, "another genuinely novel document mentioning watermarks and state")],
        "doc_id long, text string",
    )

    def snapshot():
        out = {}
        for sub in ("admitted", "flagged", "bands", "shingles"):
            rows = spark.read.parquet(f"{store}/{sub}").collect()
            out[sub] = sorted(tuple(str(v) for v in r) for r in rows)
        return out

    pipeline.neardup_gate_process_batch(spark, b0, 0, store)
    pipeline.neardup_gate_process_batch(spark, b1, 1, store)
    first = snapshot()
    flagged = {r["doc_id"] for r in spark.read.parquet(f"{store}/flagged").collect()}
    assert flagged == {10}

    # replay batch 1 (crash-after-write, retry): store must be unchanged
    pipeline.neardup_gate_process_batch(spark, b1, 1, store)
    assert snapshot() == first


def test_store_exists_resolves_uri_schemes(spark, tmp_path):
    """_store_exists must answer through the Hadoop FileSystem of the
    path's own scheme (ADVICE r6: an os.path check is forever-false on
    remote stores and silently disables the gate's corpus join) — pin
    plain paths, explicit file: URIs, and the missing-path case."""
    p = tmp_path / "some_store"
    assert not pipeline._store_exists(spark, str(p))
    assert not pipeline._store_exists(spark, f"file://{p}")
    spark.range(3).write.parquet(str(p))
    assert pipeline._store_exists(spark, str(p))
    assert pipeline._store_exists(spark, f"file://{p}")
    assert not pipeline._store_exists(spark, f"file://{p}_nope")


def test_store_exists_fs_errors_propagate(tmp_path):
    """ADVICE-r7 (medium): a transient remote-FS error (S3 auth lapse,
    network) must PROPAGATE and fail the batch — swallowing it into
    False would silently skip the corpus join and the suppression
    rules and emit a wrong batch. Only the no-JVM-gateway case may
    fall back to the local check."""
    import pytest

    class _Boom:
        def __getattr__(self, name):
            raise RuntimeError("transient FS failure")

    class _BrokenFs:
        _jvm = _Boom()
        _jsc = _Boom()

    with pytest.raises(RuntimeError, match="transient FS failure"):
        pipeline._store_exists(_BrokenFs(), "s3a://bucket/store")

    class _NoGateway:
        _jvm = None
        _jsc = None

    p = tmp_path / "local_store"
    assert not pipeline._store_exists(_NoGateway(), str(p))
    p.mkdir()
    assert pipeline._store_exists(_NoGateway(), str(p))


def test_streaming_decay_partials_match_batch(spark, sf_smoke, tmp_path):
    """The streaming (day, hash) partials folded through the half-life
    fixed point must equal the batch computation run directly over the
    same events — exactly, because the weights are integer powers of
    two and the fold is an integer sum. This is the 100 TB shape: the
    stream maintains mergeable per-day counts; decay is applied at read
    time, never by rewriting state."""
    from via_spark.operators.timeseries import DECAY_CAP

    src = str(tmp_path / "otel_jsonl")
    pipeline.write_otel_fixture_jsonl(spark, sf_smoke, src, n_files=4)
    stream = pipeline.read_otel_stream(spark, src)
    q = (
        pipeline.daily_hash_counts_stream(stream)
        .writeStream.format("memory")
        .queryName("daily_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    daily = spark.sql("SELECT * FROM daily_counts")
    got = {
        r["rhythm_hash"]: (r["n_events"], r["decayed_count_fix"])
        for r in pipeline.half_life_decay_from_daily(daily).collect()
    }

    batch = _batch_equivalent(spark, sf_smoke).select(
        F.expr("CAST(ts div 86400 AS LONG)").alias("day"), "rhythm_hash"
    )
    anchor = batch.agg(F.max("day").alias("anchor_day"))
    expect = {
        r["rhythm_hash"]: (r["n_events"], r["decayed_count_fix"])
        for r in (
            batch.crossJoin(F.broadcast(anchor))
            .withColumn("age", F.col("anchor_day") - F.col("day"))
            .withColumn(
                "w_fix",
                F.expr(
                    f"CASE WHEN age <= {DECAY_CAP}"
                    f" THEN shiftleft(1L, {DECAY_CAP} - age) ELSE 0L END"
                ),
            )
            .groupBy("rhythm_hash")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("w_fix").alias("decayed_count_fix"),
            )
            .collect()
        )
    }
    assert got == expect and len(got) > 0


def test_streaming_kmv_store_matches_batch_sketch(spark, sf_smoke, tmp_path):
    """The streaming KMV store folded over micro-batches must produce
    BIT-IDENTICAL per-day estimates to the single-pass batch sketch
    over the same records — the merge property executed live, not just
    proven algebraically. Re-merging the last batch (replay) must not
    change a bit either."""
    from via_spark.operators.sketch import _hash48

    src = str(tmp_path / "otel_jsonl")
    store = str(tmp_path / "kmv_store")
    pipeline.write_otel_fixture_jsonl(spark, sf_smoke, src, n_files=4)
    stream = pipeline.read_otel_stream(spark, src).select(
        F.expr("CAST(ts div 86400 AS LONG)").alias("day"),
        _hash48(F.col("rhythm_hash")).alias("uh"),
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda b, _id: pipeline.merge_kmv_partials(spark, b, store)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["day"]: r["kmv_estimate"]
        for r in pipeline.kmv_estimates_from_store(spark, store).collect()
    }

    batch = _batch_equivalent(spark, sf_smoke).select(
        F.expr("CAST(ts div 86400 AS LONG)").alias("day"),
        _hash48(F.col("rhythm_hash")).alias("uh"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("day").orderBy(F.col("uh").asc())
    expect = {
        r["day"]: (
            float(r["n_head"])
            if r["n_head"] < 64
            else float((64 - 1) * 2**48) / float(r["kth_min"])
        )
        for r in batch.distinct()
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= 64)
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_head"), F.max("uh").alias("kth_min"))
        .collect()
    }
    assert got == expect and len(got) > 0

    # replay: merging the final batch again must be a no-op
    last_batch = batch  # superset replay is the worst case
    pipeline.merge_kmv_partials(spark, last_batch, store)
    again = {
        r["day"]: r["kmv_estimate"]
        for r in pipeline.kmv_estimates_from_store(spark, store).collect()
    }
    assert again == got


def test_streaming_cm_store_matches_batch_sketch(spark, sf_smoke, tmp_path):
    """The streaming Count-Min counter store folded over micro-batches
    must produce BIT-IDENTICAL per-key estimates to the single-pass
    batch sketch over the same records: counters are integer sums, the
    per-batch partials partition the occurrence set, and integer
    addition is associative. Replaying a batch (same id, same content)
    must not change a bit — the batch_id=N overwrite partition is the
    idempotence mechanism, since addition itself is not idempotent."""
    from via_spark.operators.sketch import cm_probes

    src = str(tmp_path / "otel_jsonl")
    store = str(tmp_path / "cm_store")
    pipeline.write_otel_fixture_jsonl(spark, sf_smoke, src, n_files=4)
    stream = pipeline.read_otel_stream(spark, src).select(
        F.explode(cm_probes(F.col("service"))).alias("rp")
    ).select("rp.row_i", "rp.pos")

    replayed = {}

    def fold(b, bid):
        replayed[bid] = [tuple(r) for r in b.collect()]
        pipeline.merge_cm_partials(spark, b, bid, store)

    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "ckpt_cm"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(replayed) >= 1

    keys = _batch_equivalent(spark, sf_smoke).select("service").distinct()
    probes = keys.select(
        F.col("service").alias("key"), F.explode(cm_probes(F.col("service"))).alias("rp")
    ).select("key", "rp.row_i", "rp.pos")
    got = {
        r["key"]: r["cm_estimate"]
        for r in pipeline.cm_estimates_from_store(spark, store, probes).collect()
    }

    # single-pass batch sketch over the same records, same probe family
    occ = _batch_equivalent(spark, sf_smoke).select(
        F.col("service").alias("key"),
        F.explode(cm_probes(F.col("service"))).alias("rp"),
    ).select("key", "rp.row_i", "rp.pos")
    counters = occ.groupBy("row_i", "pos").agg(F.count(F.lit(1)).alias("counter"))
    expect = {
        r["key"]: r["cm_estimate"]
        for r in occ.join(counters, ["row_i", "pos"])
        .groupBy("key")
        .agg(F.min("counter").alias("cm_estimate"))
        .collect()
    }
    assert got == expect and len(got) > 0
    # one-sided error, executed live: estimate >= exact occurrence count
    exact = {
        r["key"]: r["n"]
        for r in _batch_equivalent(spark, sf_smoke)
        .groupBy(F.col("service").alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert all(got[k] >= exact[k] for k in exact)

    # replay the last batch verbatim: same id, same content, no change
    last_id = max(replayed)
    last_df = spark.createDataFrame(
        replayed[last_id] or [], "row_i int, pos long"
    )
    pipeline.merge_cm_partials(spark, last_df, last_id, store)
    again = {
        r["key"]: r["cm_estimate"]
        for r in pipeline.cm_estimates_from_store(spark, store, probes).collect()
    }
    assert again == got

    # a key the stream never saw estimates 0 through the same read path
    ghost = spark.createDataFrame([("svc_never_seen_xyz",)], "key string")
    gprobes = ghost.select(
        "key", F.explode(cm_probes(F.col("key"))).alias("rp")
    ).select("key", "rp.row_i", "rp.pos")
    gval = pipeline.cm_estimates_from_store(spark, store, gprobes).collect()
    assert len(gval) == 1 and gval[0]["cm_estimate"] >= 0


def test_streaming_bloom_store_matches_batch_filter(spark, sf_smoke, tmp_path):
    """The streaming Bloom bit store folded over micro-batches must
    equal the batch-built filter BIT FOR BIT (set union is associative
    and order-free), never false-negative a streamed key, and be a
    no-op under replay (union is natively idempotent — no per-batch
    partitioning needed, unlike the Count-Min counter store)."""
    from via_spark.operators.sketch import bloom_positions

    src = str(tmp_path / "otel_jsonl")
    store = str(tmp_path / "bloom_store")
    pipeline.write_otel_fixture_jsonl(spark, sf_smoke, src, n_files=4)
    stream = pipeline.read_otel_stream(spark, src).select(
        F.explode(bloom_positions(F.col("service"))).alias("pos")
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda b, _id: pipeline.merge_bloom_partials(spark, b, store)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_bloom"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = _batch_equivalent(spark, sf_smoke)
    # bit-for-bit: streamed store == batch-built position set
    got_bits = {r["pos"] for r in spark.read.parquet(store).collect()}
    want_bits = {
        r["pos"]
        for r in batch.select(
            F.explode(bloom_positions(F.col("service"))).alias("pos")
        )
        .distinct()
        .collect()
    }
    assert got_bits == want_bits and len(got_bits) > 0

    # zero false negatives, executed live through the read path
    keys = batch.select("service").distinct()
    probes = keys.select(
        F.col("service").alias("key"),
        F.explode(bloom_positions(F.col("service"))).alias("pos"),
    )
    member = pipeline.bloom_membership_from_store(spark, store, probes)
    assert all(r["bloom_positive"] == 1 for r in member.collect())
    assert member.count() == keys.count()

    # replay the whole stream's worth of bits: a strict no-op
    pipeline.merge_bloom_partials(
        spark,
        batch.select(F.explode(bloom_positions(F.col("service"))).alias("pos")),
        store,
    )
    assert {r["pos"] for r in spark.read.parquet(store).collect()} == got_bits


def test_streaming_mg_store_heavy_hitters(spark, sf_smoke, tmp_path):
    """The streaming Misra-Gries store folded over micro-batches must
    honor the mergeable-summaries contract, executed live: every
    reported key's true count lies in [mg_count, mg_count +
    error_bound]; every key whose true count exceeds error_bound IS
    reported (heavy-hitter completeness — non-vacuous here: the
    fixture's DEBUG severity carries ~40% of events, far above the
    bound at k=2); and error_bound <= n/(k+1). Replaying the last
    batch verbatim (same id, same content) must not change a row —
    the batch_id=N overwrite partition is the idempotence mechanism,
    since counter addition is not idempotent."""
    src = str(tmp_path / "otel_jsonl")
    store = str(tmp_path / "mg_store")
    k = 2
    pipeline.write_otel_fixture_jsonl(spark, sf_smoke, src, n_files=4)
    stream = pipeline.read_otel_stream(spark, src).select(
        F.xxhash64(F.col("severity")).alias("key")
    )

    replayed = {}

    def fold(b, bid):
        replayed[bid] = [tuple(r) for r in b.collect()]
        pipeline.merge_mg_partials(spark, b, bid, store, k=k)

    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "ckpt_mg"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(replayed) >= 1

    got = {
        r["key"]: r for r in pipeline.mg_heavy_hitters_from_store(spark, store).collect()
    }
    assert len(got) > 0
    err = next(iter(got.values()))["error_bound"]
    total_n = next(iter(got.values()))["total_n"]

    exact = {
        r["key"]: r["n"]
        for r in _batch_equivalent(spark, sf_smoke)
        .groupBy(F.xxhash64(F.col("severity")).alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert total_n == sum(exact.values())
    assert err <= total_n // (k + 1)
    # bracket: lower bound never overshoots, upper bound never undershoots
    for key, row in got.items():
        assert row["mg_count"] <= exact[key] <= row["upper_bound"]
    # completeness: genuinely heavy keys are always present — and the
    # fixture genuinely has one (assert the check is not vacuous)
    heavy = {key for key, n in exact.items() if n > err}
    assert heavy and heavy <= set(got)

    # replay the last batch verbatim: same id, same content, no change
    last_id = max(replayed)
    last_df = spark.createDataFrame(replayed[last_id] or [], "key long")
    pipeline.merge_mg_partials(spark, last_df, last_id, store, k=k)
    again = {
        r["key"]: r for r in pipeline.mg_heavy_hitters_from_store(spark, store).collect()
    }
    assert {key: tuple(r) for key, r in again.items()} == {
        key: tuple(r) for key, r in got.items()
    }


def test_mg_partials_planted_multibatch(spark, tmp_path):
    """Deterministic MG partial-merge model check on planted skew,
    driven batch-by-batch without the streaming harness: three batches
    with a known Zipf-ish key distribution; the store must keep <= k
    summary rows per batch, realize decr_b <= n_b/(k+1) in each, and
    the read-time bracket must hold for EVERY key including ones the
    summary dropped (mg_count = 0 floor). Re-merging an EARLIER batch
    id (out-of-order replay, not just the latest) must leave the store
    bit-identical."""
    store = str(tmp_path / "mg_store")
    k = 3
    batches = [
        [100] * 60 + [200] * 25 + [300] * 10 + [400] * 3 + [500] * 2,
        [100] * 40 + [200] * 30 + [600] * 20 + [300] * 10,
        [100] * 50 + [700] * 30 + [200] * 15 + [500] * 5,
    ]
    for bid, keys in enumerate(batches):
        b = spark.createDataFrame([(key,) for key in keys], "key long")
        pipeline.merge_mg_partials(spark, b, bid, store, k=k)
        part = spark.read.parquet(f"{store}/batch_id={bid}").collect()
        summary = [r for r in part if r["key"] is not None]
        meta = [r for r in part if r["key"] is None]
        assert len(summary) <= k and len(meta) == 1
        assert meta[0]["n"] == len(keys)
        assert meta[0]["decr"] <= len(keys) // (k + 1)

    from collections import Counter

    exact = Counter(key for keys in batches for key in keys)
    got = {
        r["key"]: r for r in pipeline.mg_heavy_hitters_from_store(spark, store).collect()
    }
    err = next(iter(got.values()))["error_bound"]
    assert next(iter(got.values()))["total_n"] == sum(exact.values())
    for key, n in exact.items():
        row = got.get(key)
        low = row["mg_count"] if row is not None else 0
        high = low + err
        assert low <= n <= high
    heavy = {key for key, n in exact.items() if n > err}
    assert heavy and heavy <= set(got)  # 100 is unmissable by construction

    # out-of-order replay: re-merge batch 0 verbatim, store unchanged
    before = sorted(
        (tuple(r) for r in spark.read.parquet(store).collect()), key=repr
    )
    b0 = spark.createDataFrame([(key,) for key in batches[0]], "key long")
    pipeline.merge_mg_partials(spark, b0, 0, store, k=k)
    after = sorted(
        (tuple(r) for r in spark.read.parquet(store).collect()), key=repr
    )
    assert after == before


def test_streaming_sample_store_matches_batch_sample(spark, sf_smoke, tmp_path):
    """The streaming bottom-m-by-hash sample folded over micro-batches
    must be BIT-IDENTICAL to the single-pass batch bottom-m cut over
    the same records (union-then-recut = recut-of-union, executed
    live), and the read-time rank quantiles must equal the same
    all-integer quantile computed on the batch sample. Replaying the
    last batch verbatim must not change a row (set-union idempotence,
    same posture as KMV/Bloom)."""
    from via_spark.operators.sketch import _hash48

    src = str(tmp_path / "otel_jsonl")
    store = str(tmp_path / "sample_store")
    m = 16
    pipeline.write_otel_fixture_jsonl(spark, sf_smoke, src, n_files=4)

    def sampled_cols(df):
        return df.select(
            F.col("severity").alias("grp"),
            _hash48(F.col("event_id").cast("string")).alias("sk"),
            F.col("event_id").alias("tie"),
            F.length("body").cast("long").alias("vfix"),
        )

    stream = sampled_cols(pipeline.read_otel_stream(spark, src))
    replayed = {}

    def fold(b, bid):
        replayed[bid] = [tuple(r) for r in b.collect()]
        pipeline.merge_sample_partials(spark, b, store, m=m)

    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "ckpt_sample"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(replayed) >= 1

    got = sorted(tuple(r) for r in spark.read.parquet(store).collect())

    from pyspark.sql import Window

    batch = sampled_cols(
        _batch_equivalent(spark, sf_smoke).withColumn(
            "event_id", F.abs(F.xxhash64("service", "severity", "body", "ts"))
        )
    ).distinct()
    w = Window.partitionBy("grp").orderBy(F.col("sk").asc(), F.col("tie").asc())
    expect = sorted(
        tuple(r)
        for r in batch.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= m)
        .drop("_rn")
        .collect()
    )
    assert got == expect

    # read-time quantiles == the batch-side rank quantiles on the cut
    import math

    by_grp = {}
    for grp, sk, tie, vfix in expect:
        by_grp.setdefault(grp, []).append(vfix)

    def rank_q(vals, num, den=100):
        vals = sorted(vals)
        n = len(vals)
        cum = 0
        seen = 0
        for v in vals:
            seen += 1
            if den * seen >= num * n:
                return v
        raise AssertionError

    qrows = {
        r["grp"]: r
        for r in pipeline.sample_quantiles_from_store(spark, store).collect()
    }
    assert set(qrows) == set(by_grp)
    for grp, vals in by_grp.items():
        assert qrows[grp]["sample_m"] == len(vals)
        assert qrows[grp]["s50_fix"] == rank_q(vals, 50)
        assert qrows[grp]["s95_fix"] == rank_q(vals, 95)

    # replay the last batch verbatim: idempotent set union, no change
    last_id = max(replayed)
    last_df = spark.createDataFrame(
        replayed[last_id] or [], "grp string, sk long, tie long, vfix long"
    )
    pipeline.merge_sample_partials(spark, last_df, store, m=m)
    again = sorted(tuple(r) for r in spark.read.parquet(store).collect())
    assert again == got


def test_cm_store_checkpoint_restart_exactly_once(spark, sf_smoke, tmp_path):
    """Checkpoint-recovery for the ADDITIVE sketch store — the case
    where a processing mistake would actually corrupt state (counter
    addition is not idempotent): run the Count-Min fold over an
    initial file set, STOP, append more files, restart the SAME
    checkpoint. The restarted query must process only the new files
    (batch ids continue, no partition is double-added), and the final
    estimates must be bit-identical to the single-pass batch sketch
    over the full data — proving checkpoint recovery composes with the
    per-batch-partition replay posture end to end."""
    from via_spark.operators.sketch import cm_probes

    src = str(tmp_path / "otel_jsonl")
    store = str(tmp_path / "cm_store")
    ckpt = str(tmp_path / "ckpt_cm_restart")
    pipeline.write_otel_fixture_jsonl(spark, sf_smoke, src, n_files=2)

    def probes_of(df):
        return df.select(
            F.explode(cm_probes(F.col("service"))).alias("rp")
        ).select("rp.row_i", "rp.pos")

    seen_batches = []

    def fold(b, bid):
        seen_batches.append(bid)
        pipeline.merge_cm_partials(spark, b, bid, store)

    def run_once():
        q = (
            probes_of(pipeline.read_otel_stream(spark, src))
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    first_batches = list(seen_batches)
    assert first_batches

    # restart with NO new data: nothing runs, store untouched
    before = sorted(tuple(r) for r in spark.read.parquet(store).collect())
    run_once()
    assert sorted(tuple(r) for r in spark.read.parquet(store).collect()) == before

    # append a second tranche, restart the same checkpoint
    from via_spark.operators.schema_infer import otel_envelope_from_events

    extra = otel_envelope_from_events(spark, sf_smoke).select("raw").limit(500)
    extra.coalesce(1).write.mode("append").text(src)
    run_once()
    new_batches = seen_batches[len(first_batches):]
    # the restarted run continued the batch-id sequence — no id reuse,
    # so no existing partition could have been overwritten with a
    # double-add
    assert all(b > max(first_batches) for b in new_batches if new_batches)

    # final estimates == single-pass batch sketch over ALL current rows
    allrows = spark.read.text(src)
    from via_spark.operators.schema_infer import otel_flatten

    flat = otel_flatten(allrows, raw_col="value")
    occ = flat.select(
        F.col("service").alias("key"),
        F.explode(cm_probes(F.col("service"))).alias("rp"),
    ).select("key", "rp.row_i", "rp.pos")
    counters = occ.groupBy("row_i", "pos").agg(F.count(F.lit(1)).alias("counter"))
    expect = {
        r["key"]: r["cm_estimate"]
        for r in occ.join(counters, ["row_i", "pos"])
        .groupBy("key")
        .agg(F.min("counter").alias("cm_estimate"))
        .collect()
    }
    keys = flat.select("service").distinct()
    probes = keys.select(
        F.col("service").alias("key"),
        F.explode(cm_probes(F.col("service"))).alias("rp"),
    ).select("key", "rp.row_i", "rp.pos")
    got = {
        r["key"]: r["cm_estimate"]
        for r in pipeline.cm_estimates_from_store(spark, store, probes).collect()
    }
    assert got == expect and len(got) > 0


def test_store_has_data_sees_through_metadata_shell(spark, tmp_path):
    """The round-9 soak race: a streaming file sink creates the store
    directory and _spark_metadata BEFORE any data commit; a concurrent
    reader must treat that shell (and a batch write's _temporary tree)
    as not-yet-written, while one committed data file flips it."""
    store = tmp_path / "store"
    assert pipeline._store_has_data(spark, str(store)) is False  # absent
    (store / "_spark_metadata").mkdir(parents=True)
    (store / "_spark_metadata" / "0").write_text("{}")
    (store / "_temporary" / "0").mkdir(parents=True)
    (store / "_temporary" / "0" / "part-000.parquet").write_text("x")
    assert pipeline._store_has_data(spark, str(store)) is False  # shell only
    part = store / "event_date=2026-01-01"
    part.mkdir()
    (part / "part-000.parquet").write_text("x")
    assert pipeline._store_has_data(spark, str(store)) is True
    # local fallback path (no JVM gateway) agrees
    class _NoJvm:
        _jvm = None
        _jsc = None
    assert pipeline._store_has_data(_NoJvm(), str(store)) is True
    assert pipeline._store_has_data(_NoJvm(), str(tmp_path / "nope")) is False


def test_streaming_hll_store_matches_batch_sketch(spark, sf_smoke, tmp_path):
    """The streaming HLL register store folded over micro-batches must
    be BIT-IDENTICAL to the single-pass batch sketch over the same
    records — register-max merge executed live. Replaying a superset
    batch must not change a bit (max is idempotent AND commutative, so
    this store needs no per-batch partitioning at all)."""
    from via_spark.operators.sketch import HLL_P, hll_register_rows

    src = str(tmp_path / "otel_jsonl")
    store = str(tmp_path / "hll_store")
    pipeline.write_otel_fixture_jsonl(spark, sf_smoke, src, n_files=4)
    stream = hll_register_rows(
        pipeline.read_otel_stream(spark, src).select(
            F.expr("CAST(ts div 86400 AS LONG)").alias("day"),
            F.col("rhythm_hash").alias("uid"),
        )
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda b, _id: pipeline.merge_hll_partials(spark, b, store)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["day"], r["registers_hit"], r["hll_estimate"])
        for r in pipeline.hll_estimates_from_store(spark, store, p=HLL_P).collect()
    }

    batch = hll_register_rows(
        _batch_equivalent(spark, sf_smoke).select(
            F.expr("CAST(ts div 86400 AS LONG)").alias("day"),
            F.col("rhythm_hash").alias("uid"),
        )
    )
    m = 1 << HLL_P
    alpha = 0.7213 / (1.0 + 1.079 / float(m))
    expect = set()
    reg_rows = batch.groupBy("day", "reg").agg(F.max("rank").alias("m_rank")).collect()
    per_day: dict = {}
    for r in reg_rows:
        per_day.setdefault(r["day"], []).append(r["m_rank"])
    for day, ranks in per_day.items():
        denom = sum(1.0 / (1 << mr) for mr in ranks) + (float(m) - len(ranks))
        expect.add((day, len(ranks), alpha * float(m) * float(m) / denom))
    assert got == expect and len(got) > 0

    # replay: re-merging the WHOLE stream again must be a no-op
    pipeline.merge_hll_partials(spark, batch.groupBy("day", "reg").agg(
        F.max("rank").alias("m_rank")
    ).selectExpr("day", "reg", "m_rank AS rank"), store)
    again = {
        (r["day"], r["registers_hit"], r["hll_estimate"])
        for r in pipeline.hll_estimates_from_store(spark, store, p=HLL_P).collect()
    }
    assert again == got


def _vec(i, dim=8, scale=1.0):
    v = [0.0] * dim
    v[i % dim] = scale
    return v


def test_embedding_gate_flags_and_admits(spark, tmp_path):
    """The streaming embedding near-dup gate: batch 0 seeds the
    signature store; batch 1 carries an exact copy of an admitted
    vector, a fresh orthogonal vector, and an intra-batch twin pair —
    the copy and the higher twin id get flagged, everything else is
    admitted and only admitted signatures land in sigs/."""
    store = str(tmp_path / "emb_gate_store")

    b0 = spark.createDataFrame(
        [(1, _vec(0)), (2, _vec(1))],
        "vec_id long, embedding array<float>",
    )
    b1 = spark.createDataFrame(
        [
            (10, _vec(0)),            # exact dup of corpus vec 1
            (11, _vec(2)),            # genuinely new
            (13, _vec(3, scale=2.0)),  # intra-batch twin (lower id)
            (14, _vec(3, scale=3.0)),  # intra-batch twin (higher id)
        ],
        "vec_id long, embedding array<float>",
    )
    pipeline.embedding_gate_process_batch(spark, b0, 0, store)
    assert spark.read.parquet(f"{store}/flagged").count() == 0
    pipeline.embedding_gate_process_batch(spark, b1, 1, store)

    flagged = {
        (r["vec_id"], r["matched_vec"])
        for r in spark.read.parquet(f"{store}/flagged").collect()
    }
    assert (10, 1) in flagged
    assert (14, 13) in flagged, "intra-batch pair resolves to the lower id"
    adm = {r["vec_id"] for r in spark.read.parquet(f"{store}/admitted").collect()}
    assert adm == {1, 2, 11, 13}
    sig_ids = {r["vec_id"] for r in spark.read.parquet(f"{store}/sigs").collect()}
    assert sig_ids == adm, "store carries admitted signatures only"


def test_embedding_gate_replay_is_idempotent(spark, tmp_path):
    """Replaying a batch (same batch_id, same rows) must leave the
    store byte-identical: the corpus read excludes the batch's own
    partition (no self-match flip) and overwrite cannot duplicate."""
    store = str(tmp_path / "emb_gate_replay")

    b0 = spark.createDataFrame(
        [(1, _vec(0)), (2, _vec(1))],
        "vec_id long, embedding array<float>",
    )
    b1 = spark.createDataFrame(
        [(10, _vec(0)), (11, _vec(2))],
        "vec_id long, embedding array<float>",
    )

    def snapshot():
        out = {}
        for sub in ("admitted", "flagged", "sigs"):
            rows = spark.read.parquet(f"{store}/{sub}").collect()
            out[sub] = sorted(tuple(str(v) for v in r) for r in rows)
        return out

    pipeline.embedding_gate_process_batch(spark, b0, 0, store)
    pipeline.embedding_gate_process_batch(spark, b1, 1, store)
    first = snapshot()
    assert {r["vec_id"] for r in spark.read.parquet(f"{store}/flagged").collect()} == {10}
    pipeline.embedding_gate_process_batch(spark, b1, 1, store)
    assert snapshot() == first


def test_embedding_gate_matches_incremental_batch_op(spark, tmp_path):
    """Gate-vs-batch equivalence: seeding the gate with the residue
    corpus (vec_id % 5 != 4) and feeding the residue batch must flag
    exactly ``dedup.incremental_embedding_pairs``'s (new, corpus)
    pairs — same probes, same adaptive bits (corpus internally clean,
    so the admitted store IS the batch op's corpus side and both size
    the dial from the same total N)."""
    import random

    from via_spark.operators.dedup import incremental_embedding_pairs

    rng = random.Random(7)
    dim = 64
    rows = []
    for i in range(40):
        v = [rng.uniform(-1, 1) for _ in range(dim)]
        rows.append((i, v))
    # plant: batch vec 24 (24 % 5 == 4) = exact copy of corpus vec 7
    rows[24] = (24, rows[7][1])
    d = tmp_path / "sf"
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(str(d / "embeddings.parquet"))

    expected = {
        (r["new_vec"], r["corpus_vec"])
        for r in incremental_embedding_pairs(
            spark, str(d), threshold=0.8
        ).collect()
    }
    assert (24, 7) in expected

    store = str(tmp_path / "emb_gate_eq")
    corpus = spark.createDataFrame(
        [r for r in rows if r[0] % 5 != 4],
        "vec_id long, embedding array<float>",
    )
    batch = spark.createDataFrame(
        [r for r in rows if r[0] % 5 == 4],
        "vec_id long, embedding array<float>",
    )
    pipeline.embedding_gate_process_batch(spark, corpus, 0, store, threshold=0.8)
    assert spark.read.parquet(f"{store}/flagged").count() == 0, (
        "fixture corpus must be internally clean for the equivalence"
    )
    pipeline.embedding_gate_process_batch(spark, batch, 1, store, threshold=0.8)
    got = {
        (r["vec_id"], r["matched_vec"])
        for r in spark.read.parquet(f"{store}/flagged").collect()
        if r["matched_vec"] % 5 != 4  # corpus matches only (no intra rows)
    }
    assert got == expected


def test_embedding_gate_state_stays_bounded_on_duplicative_feed(spark, tmp_path):
    """The 10x-feed posture: replaying the same duplicative content
    across many batches must NOT grow the signature store — admitted
    state is bounded by DISTINCT content, not feed volume, and exact
    copies share the full wide signature so every dial step still
    catches them."""
    store = str(tmp_path / "emb_gate_soak")
    base = [(i, _vec(i % 6, scale=1.0 + i % 6)) for i in range(6)]

    pipeline.embedding_gate_process_batch(
        spark,
        spark.createDataFrame(base, "vec_id long, embedding array<float>"),
        0,
        store,
    )
    n_sigs0 = spark.read.parquet(f"{store}/sigs").count()
    assert n_sigs0 == 6
    for k in range(1, 10):
        replay = [
            (100 * k + i, v) for i, v in base  # fresh ids, same vectors
        ]
        pipeline.embedding_gate_process_batch(
            spark,
            spark.createDataFrame(
                replay, "vec_id long, embedding array<float>"
            ),
            k,
            store,
        )
    assert spark.read.parquet(f"{store}/sigs").count() == n_sigs0, (
        "duplicative feed must not grow gate state"
    )
    assert spark.read.parquet(f"{store}/flagged").count() == 9 * 6


def test_adaptive_bits_for_matches_plan_formula(spark):
    """Driver-side dial == in-plan dial: bit_length(max(n div 8, 1))
    clamped — spot the clamp edges and a mid value against the SQL
    form length(bin(...))."""
    from pyspark.sql import functions as F

    from via_spark.operators.dedup import (
        MAX_SIGN_BITS,
        MIN_SIGN_BITS,
        SIGN_TARGET_OCCUPANCY,
    )

    for n in (0, 1, 7, 8, 64, 2000, 20000, 10**9):
        sql_bits = (
            spark.range(1)
            .select(
                F.least(
                    F.lit(MAX_SIGN_BITS),
                    F.greatest(
                        F.lit(MIN_SIGN_BITS),
                        F.length(
                            F.bin(
                                F.expr(
                                    f"greatest({n} div {SIGN_TARGET_OCCUPANCY}, 1)"
                                )
                            )
                        ),
                    ),
                ).alias("bits")
            )
            .collect()[0]["bits"]
        )
        assert pipeline.adaptive_bits_for(n) == sql_bits, n
