"""Session-scoped materialized stores: tier1, tier2 and the label tables.

In the reference architecture tier1 is a STORED table, maintained by
ingest and scanned by every query (``app/services/ingestion_service.py``
writes, every analysis reads). The fixture contract instead hands each
query the RAW ``events`` table, so a naive implementation re-runs the
template-masking regexes + sha256 rhythm hashing for every query in a
session — work the production system does exactly once per row, at
ingest time.

``tier1(spark, sf_dir)`` restores the production shape: the first call
materializes the derived tier1 view to a session-scoped parquet
directory (sorted by the raw nanosecond timestamp so row-group min/max
stats support time-range skipping, like the ingest path's
``sortWithinPartitions``), and every later call is a plain parquet scan
of that store — predicate pushdown and column pruning intact, which a
``.persist()`` (InMemoryRelation) would NOT preserve.

Every store in this module has one accessor shape (:func:`_stored`):
build the key (Spark applicationId, kind, absolute sf_dir, params),
materialize on first use (:func:`_materialize`), and read the result
back through ``session.read_parquet`` — the same reader as the fixture
tables, so a store's schema is inferred once per session and every
later read passes it.

Staleness contract (applies to every store in this module): the key
carries NO file fingerprint — a new session or a different dataset
re-materializes, but within a session the fixture tables are immutable
inputs, so no staleness path exists. At cluster scale the stores are
written by the ingest/promotion pipelines, not derived ad hoc. If the
underlying parquet were rewritten mid-application, consumers would
keep reading the materialized store; restart the session to force
re-derivation.

Scale posture: at 100 TB this module IS the architecture — tier1 is
written once, date-partitioned and ts-sorted, by the streaming ingest
(``streaming.pipeline``); queries never re-derive it. Locally the same
write-once/read-many shape is reproduced per session.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession

from via_spark.session import read_parquet

_STORES: dict[tuple, str] = {}
_LOCK = threading.Lock()
_INFLIGHT: dict[tuple, threading.Event] = {}
#: session-warmed markers (prewarm) — NOT filesystem paths, so they
#: never mix into _STORES/_cleanup (ADVICE r14 #4)
_WARMED: set[tuple] = set()


def _cleanup() -> None:
    for path in _STORES.values():
        shutil.rmtree(path, ignore_errors=True)


atexit.register(_cleanup)


def _materialize(key: tuple, prefix: str, write) -> str:
    """Build-once path for a store key, safe under concurrent callers.

    The first thread to ask for a missing key builds it; concurrent
    askers for the SAME key block on an event instead of duplicating
    the build (the fixpoint builders are multi-job pipelines — running
    one twice would double executor work for nothing). DIFFERENT keys
    build concurrently: Spark's scheduler interleaves their jobs, so
    independent store builds back-fill each other's stragglers
    (guide §2.6) — :func:`prewarm` exploits exactly that.
    """
    while True:
        with _LOCK:
            path = _STORES.get(key)
            if path is not None:
                return path
            ev = _INFLIGHT.get(key)
            if ev is None:
                ev = threading.Event()
                _INFLIGHT[key] = ev
                break
        ev.wait()  # another thread is building this key; re-check after
        exc = getattr(ev, "exc", None)
        if exc is not None:
            # the build we waited on failed — surface ITS error instead
            # of each waiter re-running the expensive failed fixpoint
            # (ADVICE r14 #1); a fresh caller (no event held) retries
            raise exc
    path = tempfile.mkdtemp(prefix=prefix)
    try:
        write(path)
    except BaseException as exc:
        shutil.rmtree(path, ignore_errors=True)
        ev.exc = exc  # waiters re-raise this after wake-up
        with _LOCK:
            del _INFLIGHT[key]
        ev.set()
        raise
    with _LOCK:
        _STORES[key] = path
        del _INFLIGHT[key]
    ev.set()
    return path


def _key(spark: SparkSession, kind: str, sf_dir: str, *params) -> tuple:
    return (spark.sparkContext.applicationId, kind, os.path.abspath(sf_dir), *params)


def _stored(spark: SparkSession, kind: str, sf_dir: str, params: tuple, build) -> DataFrame:
    """The ``kind`` store for (``sf_dir``, ``params``): ``build()``'s
    frame, written on first use and read back through the session
    reader on every call."""
    path = _materialize(
        _key(spark, kind, sf_dir, *params),
        f"via_{kind}_",
        lambda p: build().write.mode("overwrite").parquet(p),
    )
    return read_parquet(spark, path)


def prewarm(spark: SparkSession, sf_dir: str) -> None:
    """Materialize the four label stores CONCURRENTLY (no-op when
    already built). The four fixpoints are independent multi-job
    pipelines of small stages; serial builds leave most executors idle
    during each round's tail and the driver-side convergence probes.
    Submitting them from a thread pool overlaps those gaps (guide
    §2.6: actions are only sequential because driver code calls them
    sequentially) — measured 10.4 s → ~4 s cold for the four-store
    census (history/OPTIMIZATION_r14.md). Store consumers that need several
    stores call this first; single-store consumers skip it.
    """
    memo = _key(spark, "prewarmed", sf_dir)
    with _LOCK:
        if memo in _WARMED:
            return  # already warmed this session — skip the thread pool
    from concurrent.futures import ThreadPoolExecutor

    from via_spark.operators import graph, vector

    def _build(fn):
        # job descriptions/groups are thread-local, so each concurrent
        # build is labelled independently in the UI
        return lambda: fn(spark, sf_dir)

    jobs = [
        _build(graph.dedup_clusters),
        _build(graph.embedding_neardup_clusters),
        _build(graph.phash_dup_clusters),
        _build(vector.semdedup_assignments),
    ]
    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        futures = [pool.submit(j) for j in jobs]
        for f in futures:
            f.result()  # propagate the first build error
    with _LOCK:
        # session-warmed marker lives in its own set: _STORES holds only
        # real temp paths for _cleanup's rmtree (ADVICE r14 #4)
        _WARMED.add(memo)


def tier1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tier1 log store for ``sf_dir`` — materialized on first use."""
    from via_spark.operators import rhythm  # lazy: rhythm imports nothing back

    return _stored(
        spark, "tier1", sf_dir, (),
        lambda: rhythm.tier1_from_events(spark, sf_dir).sortWithinPartitions("ts_ns"),
    )


def cluster_labels(spark: SparkSession, sf_dir: str, threshold: float) -> DataFrame:
    """Dedup cluster labels for ``sf_dir`` — materialized on first use
    per threshold.

    The label-propagation loop (graph.connected_components) is
    iterative: each round's cache keeps EXECUTION cheap, but the
    returned frame's logical plan still carries every round's joins, so
    each consumer (dedup_clusters / dedup_keep_best / curation_funnel)
    pays the optimizer walk again and re-drives the loop's per-round
    actions. Writing the converged labels once gives every consumer a
    three-column parquet scan — the same write-once shape as tier1/2.
    """
    from via_spark.operators import graph

    return _stored(
        spark, "clusters", sf_dir, (threshold,),
        lambda: graph.dedup_clusters_compute(spark, sf_dir, threshold),
    )


def tier2_daily_path(spark: SparkSession, sf_dir: str, **variant) -> str:
    """Path of the DATE-PARTITIONED tier2 daily store (S5 layout) —
    materialized on first use per detection-variant.

    Unlike :func:`tier2` (a flat per-analysis snapshot), this store is
    written through ``promote.write_tier2`` with ``partitionBy
    ("event_date")`` — the production layout whose daily partitions
    windowed forensic queries prune (S8). Returns the PATH rather than
    a DataFrame because consumers go through ``promote.read_tier2``,
    which applies the partition-pruning window predicates on the read.

    An empty rollup (schema-only fixtures) is written unpartitioned so
    the path stays readable — Spark records the schema in an empty
    part-file, whereas a partitioned write of zero rows writes no files
    at all and the read-back would fail schema inference.
    """
    from via_spark.operators import promote, rhythm

    def _write(p: str) -> None:
        t1 = tier1(spark, sf_dir)
        now = rhythm.current_now(t1)
        anomalies = rhythm.find_rhythm_anomalies(
            spark, sf_dir, now=now, tier1=t1, **variant
        )
        daily = promote.daily_rollup(anomalies, t1)
        if daily.isEmpty():
            daily.write.mode("overwrite").parquet(p)
        else:
            promote.write_tier2(daily, p, mode="overwrite")

    key = _key(spark, "tier2daily", sf_dir, tuple(sorted(variant.items())))
    return _materialize(key, "via_tier2daily_", _write)


def tier2(spark: SparkSession, sf_dir: str, **variant) -> DataFrame:
    """The tier2 forensic store for ``sf_dir`` — materialized on first
    use per detection-variant.

    The reference's tier2 is a STORED collection written by the
    promotion pipeline and READ by every forensic query
    (``promotion_service.py`` writes, ``forensic_analysis_service.py``
    reads). Rebuilding it inline per query is worse than wasteful here:
    the forensic text path references the tier2 frame in THREE plan
    branches (canonical rows, sparse embeddings, final score join), so
    the whole detection→rollup pipeline re-executes once per branch.
    A parquet store collapses that to one small scan per branch —
    and unlike ``.cache()``, it pins no shuffle layout and keeps AQE
    free (the measured 5× cache regression documented in forensic.py).
    """
    from via_spark.operators import promote

    return _stored(
        spark, "tier2", sf_dir, (tuple(sorted(variant.items())),),
        lambda: promote.promotion_rollup(spark, sf_dir, **variant),
    )


def embedding_cluster_labels(
    spark: SparkSession, sf_dir: str, threshold: float
) -> DataFrame:
    """Embedding near-dup cluster labels — materialized on first use
    per threshold, same write-once shape as :func:`cluster_labels` (the
    MinHash labels)."""
    from via_spark.operators import graph

    return _stored(
        spark, "emb_clusters", sf_dir, (threshold,),
        lambda: graph.embedding_clusters_compute(spark, sf_dir, threshold),
    )


def phash_cluster_labels(
    spark: SparkSession, sf_dir: str, max_hamming: int
) -> DataFrame:
    """Perceptual-hash (dHash) near-dup cluster labels — materialized on
    first use per max_hamming, same write-once shape as
    :func:`cluster_labels`."""
    from via_spark.operators import graph

    return _stored(
        spark, "phash_clusters", sf_dir, (max_hamming,),
        lambda: graph.phash_clusters_compute(spark, sf_dir, max_hamming),
    )


def semdedup_labels(spark: SparkSession, sf_dir: str,
                    k: int | None, iters: int, tau: float) -> DataFrame:
    """SemDeDup (two-level k-means + within-sub-cell near-dup) label
    table — materialized on first use per (k, iters, tau), same
    write-once shape as :func:`cluster_labels`.
    ``k=None`` (the adaptive two-level path) is the only value the
    production surface passes; an explicit ``k`` selects the flat
    pinned path and is cached under its literal value — planted-
    fixture tests call ``vector.semdedup_compute`` directly instead."""
    from via_spark.operators import vector

    return _stored(
        spark, "semdedup", sf_dir, (k, iters, tau),
        lambda: vector.semdedup_compute(spark, sf_dir, k, iters, tau),
    )
