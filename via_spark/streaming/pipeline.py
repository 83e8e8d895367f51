"""Structured Streaming pipelines (SURVEY.md §2.10, T1–T8).

Capability parity (semantics, not code) with the reference:
* T1 micro-batch ingest  — client flushes ≤100 recs / 0.5 s
  (``otel_mock/main.py:22-24,88-104``) → file-source micro-batches with
  a 0.5 s processing-time trigger (``INGEST_TRIGGER``).
* T2 periodic analysis   — 60 s worker loop over the last 60 s
  (``app/worker.py:13-36``) → 60 s trigger ``foreachBatch`` that runs
  the SAME batch detection plan (rhythm.anomaly_summary, through
  promote.detect_and_promote) against the accumulated tier1 store;
  plus a genuine event-time tumbling-window aggregation
  (``windowed_hash_counts``) the reference approximates with wall-clock
  scans.
* T4 watermark           — the reference has none (late events silently
  skew history); we add ``withWatermark(2 minutes)`` as a documented
  improvement.
* T7 stream→batch promotion — anomalies detected in a trigger are
  rolled up (A3) and appended to the date-partitioned tier2 store
  within the same ``foreachBatch``; the rollup is part of the detection
  plan, so the write is a projection of its checkpoint.
* T8 dual-sink tee       — one batch written to two sinks inside a
  single ``foreachBatch`` (the streamer's JSONL + API tee).

Determinism: detection inside a trigger uses ``now = max(ts in store)``
(never wall-clock), so replaying the same files yields the same tier2
rows — SURVEY.md §7.4 decision 2 carried into streaming.

Scale posture (100 TB/day): ingest is an append-only partitioned
parquet sink (no shuffle); the windowed aggregation is the only stateful
operator and its state is bounded by the watermark horizon × distinct
hashes. Detection is NOT independent of store size: each trigger scans
all of tier1 once for ``now = max(ts)`` and once more for the baseline
top-k (the newest ``sample_size`` rows before the window, 10k by
default; a partition-local top-k with no global sort), and the window
twice, for its per-hash counts and its per-hash first rows (which are
also the rollup's representative and sample logs). Swap the file
source for Kafka by changing ``read_otel_stream`` only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from via_spark.operators import promote
from via_spark.operators.schema_infer import otel_flatten

INGEST_TRIGGER = "0.5 seconds"   # T1
ANALYSIS_TRIGGER = "60 seconds"  # T2
WATERMARK = "120 seconds"        # T4 (improvement over reference)


def _store_exists(spark: SparkSession, path: str) -> bool:
    """Does a parquet store exist yet at ``path`` — on ANY Hadoop
    filesystem (local, HDFS, S3A), not just the local one?

    foreachBatch bodies use this to absorb exactly the
    store-not-yet-written case; ``os.path`` would answer false forever
    on a remote ``store_dir`` and silently skip corpus joins. Resolves
    through the Hadoop FileSystem of the path's own scheme, so
    ``file:``, ``hdfs:``, and ``s3a:`` stores all answer correctly.

    The local-path fallback covers ONLY the no-JVM-gateway case (a
    mocked/stopped session, detected before any FS call). A transient
    remote-FS failure (S3 auth lapse, network) must PROPAGATE and fail
    the batch: swallowing it would return False, silently skip the
    corpus join and the suppression rules, and emit a wrong batch —
    the exactly-once replay contract turns that into a retry instead.
    """
    if getattr(spark, "_jvm", None) is None or getattr(spark, "_jsc", None) is None:
        # No JVM gateway (mocked session) — local check is all there is.
        import os

        return os.path.isdir(path)
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def _store_has_data(spark: SparkSession, path: str) -> bool:
    """Does the store at ``path`` contain at least one COMMITTED data
    file — not just the directory the streaming file sink creates
    eagerly with ``_spark_metadata`` before any batch commits, and not
    a batch write's in-flight ``_temporary`` tree?

    The round-9 streaming soak caught the race ``_store_exists`` can't
    see: a detection trigger fired between sink start and first commit,
    ``spark.read.parquet`` found an existing-but-dataless directory and
    failed schema inference, poisoning the batch. A file counts as data
    iff no path component under the store starts with ``_`` or ``.``
    (``_spark_metadata/0``, ``_temporary/...``, dotfiles are metadata).
    Transient FS errors still PROPAGATE (same contract as
    ``_store_exists``)."""
    if getattr(spark, "_jvm", None) is None or getattr(spark, "_jsc", None) is None:
        import os

        if not os.path.isdir(path):
            return False
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            if any(not f.startswith(("_", ".")) for f in files):
                return True
        return False
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return False
    base = fs.makeQualified(jpath).toUri().getPath()
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        rel = st.getPath().toUri().getPath()
        if rel.startswith(base):
            rel = rel[len(base):].lstrip("/")
        parts = rel.split("/")
        if parts and not any(c.startswith(("_", ".")) for c in parts):
            return True
    return False


def read_otel_stream(spark: SparkSession, input_dir: str,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """S1 streaming flavor: OTel-JSONL files → flattened tier1 columns
    (``promote.tier1_rows``, the same derivation as the API ingest)."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.load(input_dir)
    return promote.tier1_rows(otel_flatten(raw, raw_col="value"))


def start_tier1_ingest(stream: DataFrame, tier1_path: str, checkpoint: str,
                       available_now: bool = False):
    """S4 sink: append-only date-partitioned parquet with exactly-once
    file-sink semantics (an upgrade over the reference's wait=False
    fire-and-forget upserts)."""
    writer = (
        stream.writeStream.format("parquet")
        .option("path", tier1_path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("event_date")
        .outputMode("append")
    )
    writer = (
        writer.trigger(availableNow=True)
        if available_now
        else writer.trigger(processingTime=INGEST_TRIGGER)
    )
    return writer.start()


def windowed_hash_counts(stream: DataFrame) -> DataFrame:
    """T2/T5 as a true event-time aggregation: per-hash counts in 60 s
    tumbling windows, late data bounded by the watermark."""
    return (
        stream.withColumn("event_time", F.timestamp_seconds(F.col("ts")))
        .withWatermark("event_time", WATERMARK)
        .groupBy(F.window("event_time", "60 seconds").alias("win"), F.col("rhythm_hash"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "rhythm_hash",
            "n",
        )
    )


def deduped_stream(stream: DataFrame) -> DataFrame:
    """Streaming exact dedup (beyond-reference, training-pipeline
    shape): drop re-deliveries of the same event within the watermark
    horizon via ``dropDuplicatesWithinWatermark`` — state is bounded by
    (distinct event_ids per watermark window), NOT by total stream
    history, which is what makes exact dedup feasible on an unbounded
    ingest at 100 TB/day. Replayed or at-least-once-delivered envelopes
    (the reference's wait=False upserts can double-send) collapse to one
    row."""
    return (
        stream.withColumn("event_time", F.timestamp_seconds(F.col("ts")))
        .withWatermark("event_time", WATERMARK)
        .dropDuplicatesWithinWatermark(["event_id"])
    )


def start_detection(
    spark: SparkSession,
    stream: DataFrame,
    tier1_path: str,
    tier2_path: str,
    checkpoint: str,
    window_sec: int = 60,
    available_now: bool = False,
    tee_path: str | None = None,
    rules_path: str | None = None,
    trigger_sec: float | None = None,
    batch_timings: list | None = None,
    **detect_kwargs,
):
    """T7: per-trigger detect → rollup (A3) → tier2 append.

    Each trigger re-reads the accumulated tier1 store (stream-static
    pattern, T3) with ``now`` = newest stored ts — identical semantics
    to the reference's worker pass, minus the wall clock. ``tee_path``
    demonstrates T8 (same batch, second sink). ``rules_path`` is the
    suppression/patch table, RE-READ every trigger (T6: an operator
    suppressing a hash mid-stream takes effect at the next batch — the
    broadcast-refresh pattern for slowly-changing reference data).

    ``trigger_sec`` decouples evaluation CADENCE from the event-time
    analysis WINDOW (``window_sec``): processing-time triggers fire on
    wall-clock phase, so worst-case detection latency is a full trigger
    interval + compute — a 60 s trigger can take ~60 s to SEE an event
    planted right after a fire (measured: history/SOAK_r9.json 59.5 s,
    compute only ~2 s). Running the same 60 s-window analysis on a
    shorter trigger bounds latency by ``trigger_sec`` + compute with
    identical detection semantics (the reference's ``app/worker.py:13`` sleep(60)
    loop is an operating point, not a floor). Default ``None`` keeps
    the reference cadence (ANALYSIS_TRIGGER).

    ``batch_timings``, when provided, collects one dict per trigger
    (batch_id, fire wall-clock, compute seconds) — the trigger-phase vs
    compute split the soak budget is measured from.

    Spark work per trigger, in order:

    1. the T8 tee append, when ``tee_path`` is set;
    2. a listing of the tier1 files (``_store_has_data``; no job) — a
       store with no committed data ends the trigger here; tier1 is
       read with the pinned ``promote.TIER1_SCHEMA`` (no footer read);
    3. ``now = max(ts)`` over all of tier1 — ``None`` (no rows) ends
       the trigger with nothing written;
    4. the rules table read, when ``rules_path`` exists;
    5. one plan for detection and the tier2 rollup (window counts and
       per-hash first rows, baseline top-k over the pre-window history,
       stats, joins), run once into a ``localCheckpoint``, then the
       anomaly columns of its few rows collected from there;
    6. only when there are anomalies: ONE tier2 append, a projection of
       the checkpoint (``promote.detect_and_promote``).
    """

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        import time as _time

        t_fire = _time.monotonic()
        if tee_path is not None:  # T8 dual-sink tee
            batch_df.write.mode("append").parquet(tee_path)
        # ONLY the not-yet-written case is absorbed; a transient read
        # failure must propagate (fail the batch, retried by the
        # engine) — absorbing it would silently run detection without
        # the store, or worse, without the suppression rules.
        # _store_has_data (not _store_exists): the ingest QUERY creates
        # the directory + _spark_metadata before committing any data
        # file, and reading that shell fails schema inference
        if not _store_has_data(spark, tier1_path):
            return  # ingest has not committed any files yet
        tier1 = spark.read.schema(promote.TIER1_SCHEMA).parquet(tier1_path)
        now = tier1.agg(F.max("ts")).collect()[0][0]
        rules = None
        if rules_path is not None and _store_exists(spark, rules_path):
            from via_spark.operators import control

            rules = control.active_rules(
                spark.read.schema(control.RULES_SCHEMA).parquet(rules_path), now
            )
        promote.detect_and_promote(
            spark, tier1, now, window_sec, tier2_path, rules=rules,
            **detect_kwargs,
        )
        if batch_timings is not None:
            batch_timings.append(
                {
                    "batch_id": batch_id,
                    "fire_monotonic": round(t_fire, 3),
                    "compute_s": round(_time.monotonic() - t_fire, 3),
                }
            )

    writer = stream.writeStream.foreachBatch(on_batch).option(
        "checkpointLocation", checkpoint
    )
    trigger = (
        ANALYSIS_TRIGGER if trigger_sec is None else f"{trigger_sec} seconds"
    )
    writer = (
        writer.trigger(availableNow=True)
        if available_now
        else writer.trigger(processingTime=trigger)
    )
    return writer.start()


def write_otel_fixture_jsonl(spark: SparkSession, sf_dir: str, out_dir: str,
                             n_files: int = 4) -> None:
    """Test/demo helper: render the events fixture as OTel-JSONL files
    (the reference streamer's live_stream.jsonl shape, T8 source side)."""
    from via_spark.operators.schema_infer import otel_envelope_from_events

    env = otel_envelope_from_events(spark, sf_dir).select("raw")
    env.repartition(n_files).write.mode("overwrite").text(out_dir)


def correlated_escalations(
    stream: DataFrame,
    severity_from: str = "ERROR",
    severity_to: str = "WARN",
    within_sec: int = 3600,
) -> DataFrame:
    """Stream-stream interval self-join: escalation correlation.

    Pairs each ``severity_from`` event with every ``severity_to`` event
    of the SAME service that follows within ``within_sec`` — the
    "did this error precede that degradation" question the reference
    answers manually via two UI searches. Both sides carry watermarks,
    so Spark bounds the join state to the interval horizon; this is the
    canonical watermarked interval-join pattern (state O(rate × horizon)
    per key, independent of stream length).
    """
    base = stream.select(
        "service",
        "severity",
        "body",
        F.timestamp_seconds(F.col("ts")).alias("event_time"),
    )
    a = (
        base.where(F.col("severity") == severity_from)
        .withWatermark("event_time", WATERMARK)
        .select(
            F.col("service").alias("svc_a"),
            F.col("body").alias("cause_body"),
            F.col("event_time").alias("t_a"),
        )
    )
    b = (
        base.where(F.col("severity") == severity_to)
        .withWatermark("event_time", WATERMARK)
        .select(
            F.col("service").alias("svc_b"),
            F.col("body").alias("effect_body"),
            F.col("event_time").alias("t_b"),
        )
    )
    return a.join(
        b,
        (F.col("svc_a") == F.col("svc_b"))
        & (F.col("t_b") > F.col("t_a"))
        & (F.col("t_b") <= F.col("t_a") + F.expr(f"INTERVAL {within_sec} SECONDS")),
    ).select(
        F.col("svc_a").alias("service"),
        "cause_body",
        "effect_body",
        F.col("t_a").cast("long").alias("cause_ts"),
        F.col("t_b").cast("long").alias("effect_ts"),
    )


def start_rollup_maintenance(
    spark: SparkSession,
    stream: DataFrame,
    tier1_path: str,
    rollup_path: str,
    checkpoint: str,
    gran_sec: int = 60,
    available_now: bool = False,
):
    """Continuous-aggregate maintenance (the streaming form of
    ``windows.hypertable_rollup``): keep a materialized per-hash
    bucket-count rollup incrementally refreshed as data streams in —
    the TimescaleDB continuous-aggregate refresh pattern.

    Per trigger: the batch names the INVALIDATED buckets (distinct
    (bucket_date) touched by its rows); those dates are recomputed FROM
    TIER1 (the source of truth) and swapped in via dynamic partition
    overwrite. Recompute-from-source makes the refresh idempotent —
    a replayed batch (failure/restart) rewrites the same partitions
    with the same values, so the sink stays exactly-once without a
    transactional store; and reading tier1 while writing the rollup
    path means no plan ever reads the files it is overwriting.

    Scale posture: refresh cost is O(rows in touched dates), not
    O(history); a trigger touching today rewrites only today's rollup
    partition. Late data (within the ingest watermark) lands in an
    older date and simply invalidates that one date.
    """

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        touched = [
            r["event_date"]
            for r in batch_df.select("event_date").distinct().collect()
        ]
        # _store_has_data: tier1 is written by a DIFFERENT query — its
        # directory can exist dataless between sink start and first
        # commit (see start_detection's guard)
        if not touched or not _store_has_data(spark, tier1_path):
            return
        tier1 = spark.read.schema(promote.TIER1_SCHEMA).parquet(tier1_path)
        recomputed = (
            tier1.where(F.col("event_date").isin(touched))
            .withColumn(
                "bucket_start", F.col("ts") - F.col("ts") % F.lit(gran_sec)
            )
            .groupBy("event_date", "bucket_start", "rhythm_hash")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (
                recomputed.write.mode("overwrite")
                .partitionBy("event_date")
                .parquet(rollup_path)
            )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    writer = stream.writeStream.foreachBatch(on_batch).option(
        "checkpointLocation", checkpoint
    )
    writer = (
        writer.trigger(availableNow=True)
        if available_now
        else writer.trigger(processingTime=ANALYSIS_TRIGGER)
    )
    return writer.start()


def session_hash_counts_stream(stream: DataFrame, gap: str = "300 seconds") -> DataFrame:
    """T5's session form as a TRUE streaming aggregation:
    ``session_window`` merges events separated by <= ``gap`` into one
    growing session per hash; the watermark bounds how long an open
    session can wait for late events before its state is finalized and
    evicted — state is O(open sessions), not O(history)."""
    return (
        stream.withColumn("event_time", F.timestamp_seconds(F.col("ts")))
        .withWatermark("event_time", WATERMARK)
        .groupBy(
            F.session_window(F.col("event_time"), gap).alias("sw"),
            F.col("rhythm_hash"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("sw.start").cast("long").alias("session_start"),
            F.col("sw.end").cast("long").alias("session_end"),
            "rhythm_hash",
            "n",
        )
    )


def start_neardup_gate(
    spark: SparkSession,
    stream: DataFrame,
    store_dir: str,
    checkpoint: str,
    threshold: float | None = None,
    band_cap: int | None = None,
    available_now: bool = False,
):
    """Streaming near-dup ingest gate (beyond-reference,
    training-pipeline shape): every micro-batch of documents
    (doc_id, text) is MinHash-banded and joined against the persisted
    signature store of everything admitted so far; near-dups of the
    corpus (or of an earlier doc in the same batch) are flagged, the
    rest are admitted and their signatures appended — so the store is
    self-maintaining and per-batch cost is |batch| × bucket width,
    never |corpus|².

    Layout under ``store_dir`` (all parquet, batch_id-partitioned):
      bands/     (doc_id, band, band_key)  — the LSH join side
      shingles/  (doc_id, sh)              — the verify side
      admitted/  (doc_id, text)
      flagged/   (doc_id, matched_doc, jaccard)

    Exactly-once: each batch writes ``batch_id=<n>`` partition dirs
    with overwrite, and the corpus read EXCLUDES the current batch_id's
    own partition — so a replayed batch (restart between sink write and
    checkpoint commit) sees exactly the pre-batch corpus again and
    rewrites the same partitions with the same deterministic content
    (tested: tests/test_streaming.py replay-idempotency).

    Intra-batch pairs resolve to the LOWER doc_id (the batch's arrival
    order surrogate): the higher id is flagged against the lower, and
    only survivors enter the store.

    Scale posture: identical join shape to
    ``dedup.incremental_minhash_pairs`` — the batch side is small so
    Spark broadcast-joins it against the stored band table; the
    hot-bucket cap applies on both sides; shingle arrays stay out of
    the LSH shuffle (joined back on candidates only).
    """

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        neardup_gate_process_batch(
            spark, batch_df, batch_id, store_dir, threshold, band_cap
        )

    writer = stream.writeStream.foreachBatch(on_batch).option(
        "checkpointLocation", checkpoint
    )
    writer = (
        writer.trigger(availableNow=True)
        if available_now
        else writer.trigger(processingTime=ANALYSIS_TRIGGER)
    )
    return writer.start()


def neardup_gate_process_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    threshold: float | None = None,
    band_cap: int | None = None,
) -> None:
    """One deterministic gate step (the foreachBatch body of
    :func:`start_neardup_gate`, module-level so replay idempotency is
    directly testable): flag near-dups of the pre-batch corpus and of
    lower-id batch peers, admit the rest, append admitted signatures
    under ``batch_id=<n>`` partitions with overwrite.

    The corpus read filters out the CURRENT batch_id partition: on a
    replay, the batch's own previously-written signatures must not act
    as corpus (every admitted doc would match itself and flip to
    flagged — the classic replay self-match bug).
    """
    from via_spark.operators.dedup import (
        BAND_KEY_CAP,
        JACCARD_THRESHOLD,
        capped_bands,
        jaccard,
        minhash_bands,
        shingle_frame,
    )

    thr = JACCARD_THRESHOLD if threshold is None else threshold
    cap = BAND_KEY_CAP if band_cap is None else band_cap

    def _write(df: DataFrame, sub: str) -> None:
        df.write.mode("overwrite").parquet(f"{store_dir}/{sub}/batch_id={batch_id}")

    batch_df = batch_df.cache()
    sh = shingle_frame(batch_df).cache()
    bands = capped_bands(minhash_bands(sh), cap).cache()

    # 1) batch vs stored corpus (excluding this batch's own partition)
    cands = []
    if _store_exists(spark, f"{store_dir}/bands"):
        not_self = F.col("batch_id") != batch_id
        corpus_bands = (
            spark.read.schema(bands.schema).parquet(f"{store_dir}/bands")
            .where(not_self)
            .select(F.col("doc_id").alias("matched_doc"), "band", "band_key")
        )
        corpus_sh = (
            spark.read.schema(sh.schema).parquet(f"{store_dir}/shingles")
            .where(not_self)
            .select(F.col("doc_id").alias("matched_doc"), F.col("sh").alias("sh_b"))
        )
        c = (
            corpus_bands.join(bands, ["band", "band_key"])
            .select("doc_id", "matched_doc")
            .dropDuplicates(["doc_id", "matched_doc"])
            .join(sh.select("doc_id", F.col("sh").alias("sh_a")), "doc_id")
            .join(corpus_sh, "matched_doc")
        )
        cands.append(c)
    # 2) intra-batch (lower id wins)
    a = bands.select(F.col("doc_id").alias("matched_doc"), "band", "band_key")
    intra = (
        a.join(bands, ["band", "band_key"])
        .where(F.col("matched_doc") < F.col("doc_id"))
        .select("doc_id", "matched_doc")
        .dropDuplicates(["doc_id", "matched_doc"])
        .join(sh.select("doc_id", F.col("sh").alias("sh_a")), "doc_id")
        .join(
            sh.select(F.col("doc_id").alias("matched_doc"), F.col("sh").alias("sh_b")),
            "matched_doc",
        )
    )
    cands.append(intra)
    flagged = None
    for c in cands:
        f_ = (
            c.withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
            .where(F.col("jaccard") >= thr)
            .select("doc_id", "matched_doc", "jaccard")
        )
        flagged = f_ if flagged is None else flagged.unionByName(f_)
    flagged = flagged.cache()
    dup_ids = flagged.select("doc_id").distinct()
    admitted = batch_df.join(dup_ids, "doc_id", "left_anti").cache()

    _write(flagged, "flagged")
    _write(admitted.select("doc_id", "text"), "admitted")
    adm_ids = admitted.select("doc_id")
    _write(bands.join(adm_ids, "doc_id"), "bands")
    _write(sh.join(adm_ids, "doc_id"), "shingles")
    for df in (admitted, flagged, bands, sh, batch_df):
        df.unpersist()


def adaptive_bits_for(n: int) -> int:
    """The batch occupancy dial (dedup.adaptive_sign_frame's in-plan
    formula) as a driver-side integer — bits = clamp(bit_length(max(n
    div OCC, 1)), MIN, MAX). The streaming gate sizes its bucket
    prefix with THIS so streaming near-dup state rides the same
    occupancy math the batch dial proved sub-linear; bit_length ==
    length(bin(x)) for x ≥ 1, so the two forms cannot disagree."""
    from via_spark.operators.dedup import (
        MAX_SIGN_BITS,
        MIN_SIGN_BITS,
        SIGN_TARGET_OCCUPANCY,
    )

    return min(
        MAX_SIGN_BITS,
        max(MIN_SIGN_BITS, max(n // SIGN_TARGET_OCCUPANCY, 1).bit_length()),
    )


def start_embedding_gate(
    spark: SparkSession,
    stream: DataFrame,
    store_dir: str,
    checkpoint: str,
    threshold: float | None = None,
    available_now: bool = False,
):
    """Streaming EMBEDDING near-dup ingest gate — the semantic twin of
    :func:`start_neardup_gate`: every micro-batch of vectors (vec_id,
    embedding) joins the persisted signature store of everything
    admitted so far via multi-probe sign-LSH; near-dups (cosine ≥
    threshold against an admitted vector, or against a lower-id batch
    peer) are flagged, survivors are admitted and their signatures
    appended.

    The bucket width is the ADAPTIVE bits dial (r10's batch dial,
    mirrored): signatures persist at the full MAX_SIGN_BITS width and
    each batch derives its join key as the first ``bits`` characters,
    bits sized from (pre-batch corpus + batch) by the same occupancy
    formula (:func:`adaptive_bits_for`) — so per-batch join volume
    stays |batch| × occupancy as the corpus grows, with NO signature
    rewrite when the dial steps up (prefix truncation is free).

    Layout under ``store_dir`` (parquet, batch_id-partitioned):
      sigs/     (vec_id, embedding, n_fix, b_wide) — admitted only
      admitted/ (vec_id)
      flagged/  (vec_id, matched_vec, score)

    Exactly-once: identical posture to the text gate — per-batch
    ``batch_id=<n>`` overwrite partitions, corpus read excludes the
    current batch_id, every step deterministic, so a replayed batch
    rewrites byte-identical content (tested).
    """

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        embedding_gate_process_batch(
            spark, batch_df, batch_id, store_dir, threshold
        )

    writer = stream.writeStream.foreachBatch(on_batch).option(
        "checkpointLocation", checkpoint
    )
    writer = (
        writer.trigger(availableNow=True)
        if available_now
        else writer.trigger(processingTime=ANALYSIS_TRIGGER)
    )
    return writer.start()


def embedding_gate_process_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    threshold: float | None = None,
) -> None:
    """One deterministic embedding-gate step (module-level so replay
    idempotency is directly testable). Candidate shape is EXACTLY
    ``dedup.incremental_embedding_pairs``: the batch side explodes
    Hamming-1 probes of its bits-prefix, the corpus/peer side joins on
    its exact prefix — each candidate pair matches exactly one probe,
    so no pair dedup. Intra-batch pairs resolve to the LOWER vec_id;
    matches are checked against ALL lower-id batch peers (flagged or
    not — same chain semantics as the text gate).

    Zero-n_fix vectors never flag (pinned degenerate cosine = 0) and
    are admitted as singletons — identical to the batch family."""
    from via_spark.operators.dedup import (
        EMB_COS_THRESHOLD,
        MAX_SIGN_BITS,
        _sign_bucket,
        probe_buckets,
    )
    from via_spark.functions.vector import dot_fix, with_cosine

    thr = EMB_COS_THRESHOLD if threshold is None else threshold

    def _write(df: DataFrame, sub: str) -> None:
        df.write.mode("overwrite").parquet(
            f"{store_dir}/{sub}/batch_id={batch_id}"
        )

    batch = (
        batch_df.select("vec_id", "embedding")
        .withColumn("n_fix", dot_fix("embedding", "embedding"))
        .withColumn(
            "b_wide", _sign_bucket(F.col("embedding"), dims=MAX_SIGN_BITS)
        )
        .cache()
    )
    n_batch = batch.count()

    corpus = None
    n_corpus = 0
    if _store_exists(spark, f"{store_dir}/sigs"):
        corpus = spark.read.schema(batch.schema).parquet(f"{store_dir}/sigs").where(
            F.col("batch_id") != batch_id
        )
        n_corpus = corpus.count()
    bits = adaptive_bits_for(n_corpus + n_batch)

    def _prefix(col: str):
        return F.substring(F.col(col), 1, bits)

    probes = batch.select(
        "vec_id", F.col("embedding").alias("emb_a"),
        F.col("n_fix").alias("na_fix"),
        F.explode(
            probe_buckets(_prefix("b_wide"), bits=bits, radius=1)
        ).alias("bucket"),
    )
    cands = []
    if corpus is not None:
        cands.append(
            probes.join(
                corpus.select(
                    F.col("vec_id").alias("matched_vec"),
                    F.col("embedding").alias("emb_b"),
                    F.col("n_fix").alias("nb_fix"),
                    _prefix("b_wide").alias("bucket"),
                ),
                "bucket",
            )
        )
    peers = batch.select(
        F.col("vec_id").alias("matched_vec"),
        F.col("embedding").alias("emb_b"),
        F.col("n_fix").alias("nb_fix"),
        _prefix("b_wide").alias("bucket"),
    )
    cands.append(
        probes.join(peers, "bucket").where(
            F.col("matched_vec") < F.col("vec_id")
        )
    )
    flagged = None
    for c in cands:
        f_ = (
            with_cosine(c, "emb_a", "emb_b", na="na_fix", nb="nb_fix")
            .where(F.col("score") >= thr)
            .select("vec_id", "matched_vec", "score")
        )
        flagged = f_ if flagged is None else flagged.unionByName(f_)
    flagged = flagged.cache()
    dup_ids = flagged.select("vec_id").distinct()
    admitted = batch.join(dup_ids, "vec_id", "left_anti").cache()

    _write(flagged, "flagged")
    _write(admitted.select("vec_id"), "admitted")
    _write(
        admitted.select("vec_id", "embedding", "n_fix", "b_wide"), "sigs"
    )
    for df in (admitted, flagged, batch):
        df.unpersist()


def daily_hash_counts_stream(stream: DataFrame) -> DataFrame:
    """T-family extension backing the half-life decay score on an
    unbounded ingest: per (epoch-day, rhythm_hash) event counts as a
    true event-time aggregation (1-day tumbling windows, epoch-aligned;
    late data bounded by the watermark). State is O(hashes x days in
    the watermark horizon) — NOT stream history — because the decay
    weights are applied at READ time by
    :func:`half_life_decay_from_daily`, never by rewriting state: the
    per-day partials are the associative, exactly-mergeable form."""
    return (
        stream.withColumn("event_time", F.timestamp_seconds(F.col("ts")))
        .withWatermark("event_time", WATERMARK)
        .groupBy(
            F.window("event_time", "86400 seconds").alias("win"),
            F.col("rhythm_hash"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            (F.unix_timestamp(F.col("win.start")) / 86400)
            .cast("long")
            .alias("day"),
            "rhythm_hash",
            "n",
        )
    )


def half_life_decay_from_daily(daily: DataFrame) -> DataFrame:
    """Fold (day, rhythm_hash, n) partials into the per-hash half-life
    decay score — the identical power-of-two fixed point as the batch
    operator (``timeseries.DECAY_CAP``), so the streaming-maintained
    table reduces to EXACTLY the number the batch pass computes: the
    weights are integers, the fold is an integer sum, and reduction
    order cannot change a bit. Anchor = newest day present."""
    from via_spark.operators.timeseries import DECAY_CAP

    anchor = daily.agg(F.max("day").alias("anchor_day"))
    return (
        daily.crossJoin(F.broadcast(anchor))
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
            F.sum("n").alias("n_events"),
            F.sum(F.col("n") * F.col("w_fix")).alias("decayed_count_fix"),
        )
    )


#: Sketch-store schemas, shared by each fold (write) and its
#: ``*_from_store`` reader; CM and MG add the ``batch_id`` partition.
KMV_STORE_DDL = "day long, uh long"
CM_STORE_DDL = "row_i int, pos long, n long"
BLOOM_STORE_DDL = "pos long"
MG_STORE_DDL = "key long, cnt long, decr long, n long"
SAMPLE_STORE_DDL = "grp string, sk long, tie long, vfix long"
HLL_STORE_DDL = "day long, reg long, m_rank int"


def _fold_into_store(
    spark: SparkSession, store_path: str, ddl: str, incoming: DataFrame, merge
) -> None:
    """Collect-and-rewrite fold of a set-valued sketch store (KMV,
    Bloom, sample, HLL): ``merge`` (idempotent, so a no-op extra on the
    first batch) over the store's rows plus ``incoming``, collected —
    ≤ state-sized, and no plan then reads the files it overwrites — and
    written back. ONLY a store with no committed data means "first
    batch"; a read error propagates and leaves the store as it was."""
    if _store_has_data(spark, store_path):
        existing = spark.read.schema(ddl).parquet(store_path)
        incoming = existing.unionByName(incoming)
    rows = merge(incoming).collect()
    spark.createDataFrame(rows, ddl).coalesce(1).write.mode("overwrite").parquet(
        store_path
    )


def merge_kmv_partials(
    spark: SparkSession, batch_df: DataFrame, store_path: str, k: int = 64
) -> None:
    """foreachBatch body for streaming distinct-count sketches: fold a
    micro-batch's per-(day, uh) hash partials into a parquet KMV store
    that keeps only the k smallest hashes per day.

    Losslessness is the KMV merge property pinned by
    tests/test_sketch.py::test_kmv_partial_states_merge_losslessly:
    union-then-recut of bottom-k sets equals the bottom-k of the
    union, so the store's estimate after any micro-batch split is
    bit-identical to the single-pass batch sketch — the streaming
    counterpart of ``operators.sketch.kmv_distinct_report``, with
    state O(k · days) instead of O(distinct · days).

    The overwrite is idempotent under replay (merging a batch twice is
    a set union with itself), the same exactly-once posture as the
    near-dup gate's signature store.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("day").orderBy(F.col("uh").asc())
    # the cut is ≤ k·days rows
    _fold_into_store(
        spark, store_path, KMV_STORE_DDL, batch_df.select("day", "uh"),
        lambda df: df.distinct()
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select("day", "uh"),
    )


def kmv_estimates_from_store(spark: SparkSession, store_path: str, k: int = 64) -> DataFrame:
    """Read-time estimator over the streaming KMV store: per day,
    (k-1)·2^48/kth_min once k hashes accumulated, exact count below —
    the same formula as ``sketch.kmv_distinct_report``."""
    store = spark.read.schema(KMV_STORE_DDL).parquet(store_path)
    agg = store.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_head"), F.max("uh").alias("kth_min")
    )
    return agg.select(
        "day",
        F.when(F.col("n_head") < k, F.col("n_head").cast("double"))
        .otherwise(
            F.lit(float((k - 1) * 2**48)) / F.col("kth_min").cast("double")
        )
        .alias("kmv_estimate"),
    )


def merge_cm_partials(
    spark: SparkSession, batch_df: DataFrame, batch_id: int, store_path: str
) -> None:
    """foreachBatch body for streaming Count-Min frequency sketches:
    fold one micro-batch's probe occurrences into a parquet counter
    store. ``batch_df`` carries one row per (row_i, pos) probe of each
    event occurrence — the caller expands probes with the canonical
    hash family (``operators.sketch.cm_probes``), the same division of
    labor as :func:`merge_kmv_partials` (the caller hashes, the body
    folds), which keeps this module free of a sketch-module import
    edge.

    Counters are plain sums, so per-batch partials merge by ADDITION —
    but addition is NOT idempotent, so unlike the KMV store a replayed
    batch must not re-add. Each batch's ≤ d·w-row partial therefore
    lands in its OWN ``batch_id=N`` store partition via overwrite:
    replaying batch N rewrites partition N with identical content
    instead of double-counting — the same per-batch-partition
    exactly-once posture as the near-dup gate's signature store. The
    read-time estimator sums across partitions, and integer addition
    is associative, so the streamed estimate is bit-identical to the
    single-pass batch sketch over the same records
    (tests/test_streaming.py pins it live).
    """
    part = batch_df.groupBy("row_i", "pos").agg(F.count(F.lit(1)).alias("n"))
    rows = part.collect()  # ≤ depth·width rows by construction
    spark.createDataFrame(rows, CM_STORE_DDL).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{store_path}/batch_id={int(batch_id)}")


def cm_estimates_from_store(
    spark: SparkSession, store_path: str, probes_df: DataFrame
) -> DataFrame:
    """Read-time Count-Min estimator over the streaming counter store:
    total counters = sum of per-batch partials per (row_i, pos);
    estimate per key = min over its probe rows. ``probes_df`` carries
    (key, row_i, pos) — one row per probe, expanded by the caller with
    the SAME ``sketch.cm_probes`` family the stream used. A probe
    position no batch ever hit has counter 0 (the left join's null →
    0), so never-seen keys estimate 0 — standard CM semantics.

    Scale posture: the counter aggregate is ≤ d·w rows per batch
    partition, summed into one ≤ d·w-row broadcast; the estimate is a
    broadcast join + min-agg on the keys frame — no shuffle ever
    carries more than the keys being asked about.
    """
    counters = (
        spark.read.schema(CM_STORE_DDL).parquet(store_path)
        .groupBy("row_i", "pos")
        .agg(F.sum("n").alias("counter"))
    )
    return (
        probes_df.join(F.broadcast(counters), ["row_i", "pos"], "left")
        .select("key", F.coalesce(F.col("counter"), F.lit(0)).alias("counter"))
        .groupBy("key")
        .agg(F.min("counter").alias("cm_estimate"))
    )


def merge_bloom_partials(
    spark: SparkSession, batch_df: DataFrame, store_path: str
) -> None:
    """foreachBatch body for a streaming Bloom membership filter: fold
    one micro-batch's set-bit positions into a parquet bit store.
    ``batch_df`` carries one ``pos`` row per set position — the caller
    expands keys with the canonical family
    (``operators.sketch.bloom_positions``).

    Merge is SET UNION of bit positions, which — like the KMV bottom-k
    union and unlike Count-Min addition — is natively idempotent:
    replaying any batch unions in bits already present, so no
    per-batch partitioning is needed. State is ≤ m rows regardless of
    stream length; the rewrite is collect-and-overwrite like the KMV
    store (tiny by construction, no read/overwrite race).
    """
    _fold_into_store(
        spark, store_path, BLOOM_STORE_DDL, batch_df.select("pos"),
        lambda df: df.distinct(),
    )


def bloom_membership_from_store(
    spark: SparkSession, store_path: str, probes_df: DataFrame
) -> DataFrame:
    """Read-time Bloom probe over the streaming bit store: positive
    iff EVERY probed position is set. ``probes_df`` carries
    (key, pos) — one row per probe, expanded by the caller with the
    SAME ``sketch.bloom_positions`` family the stream used. Never
    false-negative for streamed keys (their bits are all set by
    construction — the live test pins it); false positives are the
    filter's one-sided error, measured by the batch report.
    """
    bits = spark.read.schema(BLOOM_STORE_DDL).parquet(store_path).distinct().withColumn(
        "set_bit", F.lit(1)
    )
    return (
        probes_df.join(F.broadcast(bits), "pos", "left")
        .groupBy("key")
        .agg(F.min(F.coalesce("set_bit", F.lit(0))).alias("bloom_positive"))
    )


def merge_mg_partials(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    k: int = 8,
) -> None:
    """foreachBatch body for a streaming Misra-Gries heavy-hitters
    summary: compress one micro-batch's exact per-``key`` counts into
    a ≤ k-counter partial and land it in the batch's own
    ``batch_id=N`` store partition.

    The per-batch reduction is the mergeable-summaries cut (Agarwal
    et al., PODS'12): take the batch's exact counts, subtract the
    (k+1)-th largest count ``decr_b`` from every counter, and keep the
    positives — at most k survive, and since k+1 keys each carried at
    least ``decr_b`` occurrences, ``decr_b <= n_b/(k+1)``. Selection
    is purely value-based (``cnt > decr_b``), so the partial's content
    is a deterministic function of the batch — replaying batch N
    rewrites partition N bit-identically instead of double-counting,
    the same per-batch-partition exactly-once posture as the Count-Min
    store (counter ADDITION is not idempotent, unlike the KMV/Bloom
    set unions).

    Each partition carries its ≤ k summary rows plus one ``key IS
    NULL`` meta row recording (``decr_b``, ``n_b``) so the read-time
    estimator can reconstitute exact error bounds. Driver-side cost is
    one top-(k+1) collect per batch (``TakeOrderedAndProject``, never
    a full key-space collect).
    """
    counts = batch_df.groupBy("key").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.col("cnt").desc(), F.col("key").asc()).limit(k + 1).collect()
    n_b = counts.agg(F.sum("cnt")).collect()[0][0] or 0
    decr = int(top[k]["cnt"]) if len(top) > k else 0
    rows = [
        (int(r["key"]), int(r["cnt"]) - decr, None, None)
        for r in top
        if int(r["cnt"]) > decr
    ]
    rows.append((None, None, decr, int(n_b)))
    spark.createDataFrame(rows, MG_STORE_DDL).coalesce(1).write.mode("overwrite").parquet(
        f"{store_path}/batch_id={int(batch_id)}"
    )


def mg_heavy_hitters_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Read-time Misra-Gries estimator over the streaming partial
    store: per-key lower bound = sum of that key's partial counters;
    ``error_bound`` = sum of every batch's realized decrement, so the
    true count of ANY key (reported or not) lies in
    ``[mg_count, mg_count + error_bound]`` with ``mg_count = 0`` for
    absent keys. Completeness follows: every key whose true count
    exceeds ``error_bound`` (<= n/(k+1) by the per-batch bound) must
    appear in at least one partial, so genuine heavy hitters are never
    silently dropped — the live test pins both properties.

    Scale posture: state is ≤ (k+1)·batches rows; the aggregate is one
    hash-agg over that tiny store and the meta totals broadcast back —
    nothing here ever touches the raw stream again.
    """
    store = spark.read.schema(MG_STORE_DDL).parquet(store_path)
    meta = store.where(F.col("key").isNull()).agg(
        F.sum("decr").alias("error_bound"), F.sum("n").alias("total_n")
    )
    summary = (
        store.where(F.col("key").isNotNull())
        .groupBy("key")
        .agg(F.sum("cnt").alias("mg_count"))
    )
    return summary.crossJoin(F.broadcast(meta)).select(
        "key",
        "mg_count",
        (F.col("mg_count") + F.col("error_bound")).alias("upper_bound"),
        "error_bound",
        "total_n",
    )


def merge_sample_partials(
    spark: SparkSession, batch_df: DataFrame, store_path: str, m: int = 64
) -> None:
    """foreachBatch body for a streaming bottom-m-by-hash uniform row
    sample: fold one micro-batch's candidate rows into a parquet store
    that keeps, per group, only the ``m`` rows with the smallest
    sample hash. ``batch_df`` carries (``grp``, ``sk``, ``tie``,
    ``vfix``) — the caller computes ``sk`` with the canonical 48-bit
    family (``operators.sketch._hash48``), the same caller-hashes
    division of labor as the KMV/CM/Bloom folds.

    This is the streaming counterpart of
    ``sketch.hash_sample_quantile_report``'s sample side: a bottom-m
    set is a mergeable bounded state exactly like the KMV bottom-k —
    union-then-recut of per-batch bottom-m sets equals the bottom-m of
    the union, so the store after any micro-batch split is
    bit-identical to the batch sample over the same records. Merge is
    a SET UNION (distinct on the full row; a replayed row is the
    identical row), so the fold is idempotent and needs no per-batch
    partitioning — same replay posture as KMV and Bloom, opposite of
    the additive CM/MG stores.

    Scale posture: state is ≤ m·groups rows; each fold touches the
    batch once for its own bottom-m cut, then unions row sets that are
    both ≤ m·groups.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("grp").orderBy(F.col("sk").asc(), F.col("tie").asc())

    def bottom_m(df: DataFrame) -> DataFrame:
        return (
            df.distinct()
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= m)
            .drop("_rn")
        )

    # ≤ m·groups rows by construction
    _fold_into_store(
        spark, store_path, SAMPLE_STORE_DDL,
        bottom_m(batch_df.select("grp", "sk", "tie", "vfix")), bottom_m,
    )


def sample_quantiles_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Read-time quantile estimator over the streaming sample store:
    per group, the rank-based discrete p50/p95 of ``vfix`` over the
    stored sample — the same all-integer definition as
    ``sketch.hash_sample_quantile_report``'s sample side (min v with
    den·|{x ≤ v}| ≥ num·n over the per-(group, value) histogram), so
    the streamed estimates are bit-identical to the batch sample
    quantiles whenever the stores match (which the merge property
    guarantees and the live test pins).

    Scale posture: the store is ≤ m·groups rows; everything here is
    histogram-sized window arithmetic over that."""
    from pyspark.sql import Window

    store = spark.read.schema(SAMPLE_STORE_DDL).parquet(store_path)
    hist = store.groupBy("grp", "vfix").agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("grp")
        .orderBy("vfix")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("grp")
    c = hist.withColumn("cum", F.sum("c").over(wcum)).withColumn(
        "n", F.sum("c").over(wall)
    )
    parts = None
    for num, den, col in ((50, 100, "s50_fix"), (95, 100, "s95_fix")):
        q = (
            c.where(F.lit(den) * F.col("cum") >= F.lit(num) * F.col("n"))
            .groupBy("grp")
            .agg(F.min("vfix").alias(col), F.max("n").alias("_n"))
        )
        q = q.withColumnRenamed("_n", "sample_m") if parts is None else q.drop("_n")
        parts = q if parts is None else parts.join(q, "grp")
    return parts.select("grp", "sample_m", "s50_fix", "s95_fix")


def merge_hll_partials(
    spark: SparkSession, batch_df: DataFrame, store_path: str
) -> None:
    """foreachBatch body for streaming HyperLogLog distinct sketches:
    fold a micro-batch's (day, reg, rank) register observations (the
    caller expands them with the canonical definition,
    ``operators.sketch.hll_register_rows`` — same caller-hashes
    division of labor as :func:`merge_kmv_partials`) into a parquet
    register store keeping max(rank) per (day, reg).

    MAX is idempotent AND commutative, so this store is replay-safe by
    construction with no per-batch partitioning at all (stronger than
    both the KMV set-union and the Count-Min per-batch-partition
    postures): merging any batch any number of times, in any order,
    yields the same registers — and the streamed registers equal the
    single-pass batch sketch's registers bit-for-bit
    (tests/test_streaming.py::test_streaming_hll_store_matches_batch_sketch).
    State is O(2^p · days) regardless of cardinality.
    """
    # ≤ 2^p · days rows
    _fold_into_store(
        spark, store_path, HLL_STORE_DDL,
        batch_df.select("day", "reg", F.col("rank").alias("m_rank")),
        lambda df: df.groupBy("day", "reg").agg(F.max("m_rank").alias("m_rank")),
    )


def hll_estimates_from_store(
    spark: SparkSession, store_path: str, p: int = 5
) -> DataFrame:
    """Read-time estimator over the streaming HLL register store: the
    same raw-estimator arithmetic as ``sketch.hll_distinct_report``
    (alpha from literal arithmetic, harmonic denominator of exact
    dyadic doubles), so the streamed estimate is bit-identical to the
    batch sketch over the same records."""
    m = 1 << p
    store = spark.read.schema(HLL_STORE_DDL).parquet(store_path)
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(float(m)))
    per_day = store.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("registers_hit"),
        F.sum(
            F.lit(1.0) / F.expr("cast(shiftleft(1L, m_rank) as double)")
        ).alias("inv_sum_hit"),
    )
    return per_day.select(
        "day",
        "registers_hit",
        (
            alpha
            * F.lit(float(m))
            * F.lit(float(m))
            / (F.col("inv_sum_hit") + (F.lit(float(m)) - F.col("registers_hit")))
        ).alias("hll_estimate"),
    )
