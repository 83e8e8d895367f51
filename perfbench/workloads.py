"""The benchmark's workloads: what one set-up and one pass do, and the
correctness checks that run beside them (never inside a timer).

Each workload drives the engine only through its public entry points:
``via_spark.streaming.pipeline``, ``via_spark.api.VIAEngine``, the
``__spark_entry__.queries()`` builders and ``via_spark.store``.

* ``cadence`` — VIA's 60-s worker loop: land one window of OTel-JSONL,
  run the tier1 ingest and the detection stream (``availableNow``), then
  read tier2 clusters, triage and the stream tail through the API.
* ``dedup`` — the LLM-data batch suite over a fresh corpus per pass.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import shutil
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import duckdb

from perfbench import gen

WINDOW_SEC = gen.WINDOW_SEC


def force(df):
    """Materialize every output column in one JVM-side reduction (the
    ``bench.py`` method: a bare ``count()`` would let Catalyst prune the
    expensive projections away). Returns ``(rows, max xxhash64)``."""
    from pyspark.sql import functions as F

    h = F.xxhash64(F.struct(*[F.col(c) for c in df.columns])).alias("h")
    return df.select(h).agg(F.count("h"), F.max("h"))


class Runner:
    """Runs operations under their own Spark job group and records them."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.ops: list[dict] = []
        #: streaming run id → job group of the operation that started it
        self.stream_groups: dict[str, str] = {}
        #: per streaming query: its operation's group and progress figures
        self.stream_progress: list[dict] = []
        self.pass_no = -1

    def op(self, name: str, fn):
        group = f"pb.{self.pass_no}.{len(self.ops)}.{name}"
        self.spark.sparkContext.setJobGroup(group, name)
        self.tracer.op = group
        rec = {"pass": self.pass_no, "name": name, "group": group, "ok": True,
               "traced": self.tracer.enabled}
        self.ops.append(rec)
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", opname=name):
                out = fn()
        except Exception:  # an operation failure is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            rec["ok"] = False
            out = None
        rec["ms"] = 1000.0 * (time.perf_counter() - t0)
        return out

    def untimed(self) -> None:
        """Put Spark work done outside the operations (checks, probes) in
        a group of its own, so it is never joined to an operation."""
        self.spark.sparkContext.setJobGroup("pb.untimed", "benchmark bookkeeping")
        self.tracer.op = None

    def fail(self, reason: str, name: str | None = None) -> None:
        """Mark the latest operation named ``name`` (else the latest one)
        failed: a failed correctness check counts as a failed operation."""
        print(f"# check failed: {reason}", file=sys.stderr)
        rec = next((o for o in reversed(self.ops) if o["name"] == name), self.ops[-1])
        rec["ok"] = False
        rec.setdefault("checks", []).append(reason)

    def frame(self, build, reduce: bool):
        """A DataFrame-returning operation: L0 build, L1 plan, execute.
        ``reduce`` forces every column through :func:`force` and returns
        ``(rows, max hash)``; otherwise the rows themselves are returned."""
        with self.tracer.span("l0.build"):
            df = build()
        if reduce:
            df = force(df)
        if self.tracer.enabled:
            with self.tracer.span("l1.optimize"):
                df._jdf.queryExecution().executedPlan()
        with self.tracer.span("exec"):
            rows = df.collect()
        return (rows[0][0], rows[0][1]) if reduce else [r.asDict() for r in rows]


# --- canonical row hashing for oracle comparison ----------------------------

def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "__float__") and not isinstance(v, (int, bool)):
        return repr(float(v))  # Decimal
    return v


def canonical(cols: list[str], rows) -> list[tuple]:
    """Rows with columns in name order, values normalized, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


# --- cadence -----------------------------------------------------------------

class Cadence:
    """VIA's 60-s worker loop with writes beside reads."""

    name = "cadence"
    history_windows = 2
    warmup_passes = 1
    min_timed_passes = 2

    def __init__(self, seed: int, work: str):
        self.feed = gen.OtelFeed(seed)
        self.work = work

    # set-up: a fresh base dir with the history ingested and detected once
    def prepare_setup(self, rep: int) -> None:
        self.base = os.path.join(self.work, f"cadence{rep}")
        self.src = os.path.join(self.base, "otel")
        self.tier1 = os.path.join(self.base, "tier1")
        self.tier2 = os.path.join(self.base, "tier2")
        self.landed = 0
        self.window = 0
        for _ in range(self.history_windows):
            self._land()

    def setup(self, spark, runner) -> float:
        from via_spark.api import VIAEngine

        t0 = time.perf_counter()
        self._ingest(spark, runner)
        self._detect(spark, runner)
        self.engine = VIAEngine(spark, self.base)
        return time.perf_counter() - t0

    def _land(self) -> None:
        self.landed += self.feed.write_window(self.window, self.src)
        self.window += 1

    def _ingest(self, spark, runner) -> None:
        from via_spark.streaming import pipeline

        started = time.time()
        with runner.tracer.span("l0.build"):
            stream = pipeline.read_otel_stream(spark, self.src)
            q = pipeline.start_tier1_ingest(
                stream, self.tier1, os.path.join(self.base, "ckpt_ingest"), available_now=True)
        self._await(q, runner, started)

    def _detect(self, spark, runner) -> None:
        from via_spark.streaming import pipeline

        started = time.time()
        with runner.tracer.span("l0.build"):
            stream = pipeline.read_otel_stream(spark, self.src)
            q = pipeline.start_detection(
                spark, stream, self.tier1, self.tier2,
                os.path.join(self.base, "ckpt_detect"),
                window_sec=WINDOW_SEC, available_now=True)
        self._await(q, runner, started)

    @staticmethod
    def _await(q, runner, started: float) -> None:
        """Wait for an ``availableNow`` query; record its progress figures
        (``query_start_ms``: from the start call to the first trigger)."""
        runner.stream_groups[str(q.runId)] = runner.tracer.op
        with runner.tracer.span("exec"):
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        prog = q.recentProgress
        runner.stream_progress.append({
            "group": runner.tracer.op,
            "add_batch_ms": sum(p.durationMs.get("addBatch", 0) for p in prog),
            "query_start_ms": (_iso_s(prog[0].timestamp) - started) * 1000 if prog else 0.0,
        })

    def prepare_pass(self, p: int) -> None:
        if p >= self.warmup_passes:
            self._land()

    def warmup_pass(self, spark, runner) -> None:
        """The set-ups already ran ingest and detection; warm the reads."""
        self._reads(runner)

    def run_pass(self, spark, runner) -> None:
        runner.op("stream.ingest", lambda: self._ingest(spark, runner))
        runner.op("stream.detect", lambda: self._detect(spark, runner))
        self._reads(runner)

    def _reads(self, runner) -> None:
        clusters = runner.op("api.tier2_clusters", lambda: runner.frame(
            lambda: self.engine.tier2_clusters(text_filter=None), reduce=False))
        pos = [clusters[0]["cluster_id"]] if clusters else []
        self.triage = runner.op("api.tier2_triage", lambda: runner.frame(
            lambda: self.engine.tier2_triage(pos), reduce=False))
        self.tail = runner.op("api.stream_tail", lambda: self._tail(runner))
        self.clusters = clusters

    def _tail(self, runner):
        with runner.tracer.span("l0.build"):
            return self.engine.stream_tail(limit=50)

    def check_pass(self, runner) -> None:
        """tier1 holds every landed envelope exactly once; each detected
        window's tier2 rows are exactly its planted anomalies; the API
        reads answer from the same stores."""
        con = duckdb.connect()
        try:
            n = con.sql(f"SELECT count(*) FROM read_parquet('{self.tier1}/**/*.parquet')").fetchone()[0]
            if n != self.landed:
                runner.fail(f"tier1 rows {n} != landed envelopes {self.landed}", "stream.ingest")
            rows = con.sql(
                f"SELECT anomaly_type, service, severity, body, start_ts "
                f"FROM read_parquet('{self.tier2}/**/*.parquet', hive_partitioning=true)").fetchall()
        finally:
            con.close()
        got: dict[int, list] = {}
        for atype, svc, sev, body, start in rows:
            w = (start - self.feed.epoch) // WINDOW_SEC
            got.setdefault(w, []).append((atype, svc, sev, body))
        first = self.history_windows - 1  # set-up detects the last history window
        for w in range(first, self.window):
            want = self.feed.planted(w)
            have = got.pop(w, [])
            # exactly once: a replayed sink write would duplicate a row
            ok = sorted(k[:3] for k in have) == sorted(want) and all(
                b.startswith(want[(a, s, v)]) for a, s, v, b in have)
            if not ok:
                runner.fail(f"window {w}: tier2 {sorted(have)} != planted {sorted(want.items())}",
                            "stream.detect")
        if got:
            runner.fail(f"tier2 rows outside detected windows: {sorted(got)}", "stream.detect")
        if not self.clusters:
            runner.fail("tier2_clusters answered empty over a non-empty tier2", "api.tier2_clusters")
        if not self.triage:
            runner.fail("tier2_triage answered empty for a stored cluster", "api.tier2_triage")
        newest = (self.feed.window_start(self.window - 1) + WINDOW_SEC - 1)
        if (not self.tail or len(self.tail) != 50 or self.tail[0]["ts"] != newest
                or any(a["ts"] < b["ts"] for a, b in zip(self.tail, self.tail[1:]))):
            runner.fail("stream_tail is not the newest 50 rows, newest first", "api.stream_tail")

    def rows_per_pass(self) -> int:
        return self.feed.per_window

    def pass_extras(self, runner) -> dict:
        return {}

    def after_pass(self, spark) -> None:
        pass


def _iso_s(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


# --- dedup -------------------------------------------------------------------

DEDUP_OPS = ("dedup_minhash_pairs", "dedup_simhash_pairs", "neardup_embedding_pairs",
             "phash_dup_pairs", "lsh_density_outliers", "dedup_clusters")


class Dedup:
    """The LLM-data batch suite, each pass over a corpus no pass has seen."""

    name = "dedup"
    warmup_passes = 1
    min_timed_passes = 2
    n_docs = 600
    n_families = 25
    family_size = 3

    def __init__(self, seed: int, work: str):
        import __spark_entry__ as entry

        self.seed = seed
        self.work = work
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()

    def prepare_setup(self, rep: int) -> None:
        pass

    def setup(self, spark, runner) -> float:
        # nothing to build ahead of a pass: each pass brings its own corpus
        t0 = time.perf_counter()
        spark.range(1).collect()
        return time.perf_counter() - t0

    def prepare_pass(self, p: int) -> None:
        self.dir = os.path.join(self.work, f"corpus{p}")
        self.corpus = gen.write_corpus(self.dir, self.seed * 1000 + p + 7,
                                       self.n_docs, self.n_families, self.family_size)

    def warmup_pass(self, spark, runner) -> None:
        """The cold first pass is the one checked against the oracles."""
        self.check_oracles(spark, runner)

    def run_pass(self, spark, runner) -> None:
        self.results = {}
        for name in DEDUP_OPS:
            self.results[name] = runner.op(name, lambda name=name: runner.frame(
                lambda: self.queries[name](spark, self.dir), reduce=True))

    def check_pass(self, runner) -> None:
        """Row-count sanity on every pass: one label row per document or
        vector, and at least the planted pairs in every pair output."""
        planted = len(self.corpus["pairs"])
        for name, res in getattr(self, "results", {}).items():
            if res is None:
                continue
            n = res[0]
            if name in ("lsh_density_outliers", "dedup_clusters"):
                if n != self.n_docs:
                    runner.fail(f"{name}: {n} label rows for {self.n_docs} inputs")
            elif n < planted:
                runner.fail(f"{name}: {n} pairs < {planted} planted duplicate pairs")

    def check_oracles(self, spark, runner) -> None:
        """Full-row check of one corpus: every op's rows equal its DuckDB
        ``oracle_sql()`` rows, and every planted duplicate pair (and
        family) is recovered. DuckDB evaluates the oracles on one thread
        while Spark collects; none of it is timed."""
        with ThreadPoolExecutor(max_workers=1) as pool:
            oracle = pool.submit(self._oracle_rows)
            got = {name: runner.op(f"check.{name}", lambda name=name: self._spark_rows(spark, name))
                   for name in DEDUP_OPS}
            want = oracle.result()
        planted = set(self.corpus["pairs"])
        for name, res in got.items():
            if res is None:
                continue
            cols, rows = res
            if canonical(cols, rows) != want[name]:
                runner.fail(f"{name}: Spark rows differ from the DuckDB oracle", f"check.{name}")
            if name == "dedup_clusters":
                rep = {r["doc_id"]: r["cluster_rep"] for r in rows}
                lost = [(a, b) for a, b in planted if rep.get(a) != rep.get(b)]
            elif name == "lsh_density_outliers":
                continue
            else:
                a, b = cols[0], cols[1]
                lost = sorted(planted - {(min(r[a], r[b]), max(r[a], r[b])) for r in rows})
            if lost:
                runner.fail(f"{name}: planted duplicates not recovered: {lost[:5]}", f"check.{name}")

    def _spark_rows(self, spark, name):
        df = self.queries[name](spark, self.dir)
        return df.columns, df.collect()

    def _oracle_rows(self) -> dict[str, list[tuple]]:
        con = duckdb.connect(config={"threads": 1})
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet')")
            out = {}
            for name in DEDUP_OPS:
                rel = con.sql(self.oracles[name])
                out[name] = canonical(rel.columns, rel.fetchall())
            return out
        finally:
            con.close()

    def rows_per_pass(self) -> int:
        return self.corpus["rows"]

    def pass_extras(self, runner) -> dict:
        """Embedding near-dup candidate volume of a traced pass (the LSH
        candidates captured from ``dedup.neardup_scored_candidates``),
        counted after the pass."""
        frames = [f for op, f in runner.tracer.captured
                  if op and op.endswith("neardup_embedding_pairs")]
        runner.tracer.captured.clear()
        pairs = self.results.get("neardup_embedding_pairs")
        if not frames or pairs is None:
            return {}
        return {"candidates": frames[0].count(), "pairs": pairs[0]}

    def after_pass(self, spark) -> None:
        # no pass may reuse (or pile up) another pass's session caches
        spark.catalog.clearCache()
        shutil.rmtree(self.dir, ignore_errors=True)


WORKLOADS = {w.name: w for w in (Cadence, Dedup)}
