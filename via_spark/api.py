"""Engine facade mirroring the reference's 14 HTTP endpoints.

A user of the reference (``README.md:194-218``: ingest/stream,
stream/tail, analysis/tier1/rhythm_anomalies, analysis/tier2/clusters,
analysis/tier2/triage, control suppress/patch/rules + two deletes,
schemas detect/save/list/get) drives this class instead of HTTP routes
— same verbs, same semantics, DataFrames/dicts in place of JSON bodies.
No web framework: the engine is a library; any HTTP layer is a thin
shim over these methods.

State model: one base directory holds the four stores —
``tier1/`` and ``tier2/`` (date-partitioned parquet), ``rules/`` and
``schemas/`` (small parquet tables), ``evals/`` (YAML regression
cases). ``now`` is an explicit parameter on every time-dependent verb
(SURVEY.md §7.4 decision 2); omit it and the engine derives it from the
newest stored event, never the wall clock.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from via_spark.operators import control, forensic, promote, rhythm, schema_infer
from via_spark.session import configure


class VIAEngine:
    """The reference's API surface over Spark-managed stores."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = configure(spark)
        self.base = base_dir
        self.tier1_path = os.path.join(base_dir, "tier1")
        self.tier2_path = os.path.join(base_dir, "tier2")
        self.rules_path = os.path.join(base_dir, "rules")
        self.registry_path = os.path.join(base_dir, "schemas")
        self.evals_dir = os.path.join(base_dir, "evals")
        os.makedirs(base_dir, exist_ok=True)

    # -- ingestion & streaming ------------------------------------------------

    def ingest_stream(self, logs: list[dict]) -> dict:
        """POST /ingest/stream — batch of OTel-JSON envelopes → tier1."""
        if not logs:
            return {"status": "ok", "tier1_ingested": 0}
        raw = self.spark.createDataFrame(
            [(json.dumps(o),) for o in logs], "raw string"
        )
        return self._ingest_flat(schema_infer.otel_flatten(raw))

    def ingest_file(self, path: str, source_name: str) -> dict:
        """Registry-driven file ingestion: read ``path`` with the SAVED
        schema for ``source_name`` (detect → save → READ, the full
        onboarding loop) and append the rows to tier1."""
        schema = self.schemas_get(source_name)
        if schema is None:
            return {"status": "error", "detail": f"unknown source {source_name!r}"}
        flat = schema_infer.read_with_schema(self.spark, schema, path)
        return self._ingest_flat(flat)

    def _ingest_flat(self, flat: DataFrame) -> dict:
        """(service, severity, body, ts) → tier1 append. The ingested
        count rides the write via an Observation, so the flatten +
        template + sha256 pipeline executes ONCE, not once per count."""
        from pyspark.sql import Observation

        tier1 = promote.tier1_rows(flat)
        obs = Observation()
        (
            tier1.observe(obs, F.count(F.lit(1)).alias("n"))
            .repartition("event_date")
            .sortWithinPartitions("ts")  # row-group stats sharpen ts skipping (O2)
            .write.mode("append")
            .partitionBy("event_date")
            .parquet(self.tier1_path)
        )
        return {"status": "ok", "tier1_ingested": obs.get["n"]}

    def stream_tail(self, limit: int = 50, text_filter: str | None = None) -> list[dict]:
        """GET /stream/tail — newest tier1 rows, optional case-insensitive
        substring filter (P4/K4)."""
        t1 = self._tier1()
        if text_filter:
            t1 = t1.where(F.contains(F.lower("body"), F.lit(text_filter.lower())))
        rows = t1.orderBy(F.col("ts").desc(), F.col("event_id").desc()).limit(limit)
        return [r.asDict() for r in rows.collect()]

    # -- analysis -------------------------------------------------------------

    def tier1_rhythm_anomalies(self, window_sec: int = 300, now: int | None = None,
                               **detect_kwargs) -> dict:
        """POST /analysis/tier1/rhythm_anomalies — detect AND promote
        (the reference promotes within the same call, T7)."""
        t1 = self._tier1()
        if now is None:
            now = t1.agg(F.max("ts")).collect()[0][0]
        rows = promote.detect_and_promote(
            self.spark, t1, now, window_sec, self.tier2_path,
            rules=self._active_rules(now), **detect_kwargs,
        )
        out = [r.asDict() for r in rows]
        return {
            "novel_anomalies": [a for a in out if a["anomaly_type"] == "novelty"],
            "frequency_anomalies": [a for a in out if a["anomaly_type"] == "frequency"],
        }

    def run_evals(self, window_sec: int = 300, now: int | None = None,
                  **detect_kwargs) -> list[dict]:
        """Replay every generated eval case against a fresh detection
        pass (no promotion side effects) and report each case's verdict.

        Beyond the reference: it GENERATES eval YAMLs on every patch
        (``control_service.py:37-58``) but never executes them; this
        runner closes the regression loop — a patched hash must stay
        non-anomalous."""
        import glob

        t1 = self._tier1()
        if now is None:
            now = t1.agg(F.max("ts")).collect()[0][0]
        flagged = set()
        if now is not None:  # empty store → no detections, cases still judged
            anomalies = rhythm.find_rhythm_anomalies(
                self.spark, sf_dir="", tier1=t1, now=now, window_sec=window_sec,
                rules=self._active_rules(now), **detect_kwargs,
            )
            flagged = {r["rhythm_hash"] for r in anomalies.collect()}
        results = []
        for path in sorted(glob.glob(os.path.join(self.evals_dir, "*.yml"))):
            case = control.read_eval_case(path)
            actual = case["rhythm_hash"] in flagged
            results.append({
                "case": os.path.basename(path),
                "rhythm_hash": case["rhythm_hash"],
                "expected_is_anomaly": case["expected_is_anomaly"],
                "actual_is_anomaly": actual,
                "passed": actual == case["expected_is_anomaly"],
            })
        return results

    def tier2_clusters(self, start_ts: int | None = None, end_ts: int | None = None,
                       text_filter: str | None = None, limit: int = 100,
                       now: int | None = None) -> DataFrame:
        """POST /analysis/tier2/clusters — S8 partition pruning + V2/V3.

        Suppressed/patched hashes are filtered out, like the reference's
        forensic search (``forensic_analysis_service.py:63-65``)."""
        c = self._tier2(start_ts, end_ts)
        return forensic.cluster_search_over(
            self.spark, self._without_ruled(c, now), text_filter=text_filter,
            limit=limit,
        )

    def tier2_triage(self, positive_ids: list[str], negative_ids: list[str] | None = None,
                     limit: int = 50, now: int | None = None) -> DataFrame:
        """POST /analysis/tier2/triage — V4; empty positives → empty
        result (reference early-return, `forensic_analysis_service.py:76-77`).
        Suppressed/patched hashes are filtered like tier2_clusters."""
        c = self._tier2()
        return forensic.triage_over(
            self.spark, self._without_ruled(c, now), positive_ids, negative_ids, limit
        )

    # -- adaptive control loop ------------------------------------------------

    def control_suppress(self, rhythm_hash_: str, ttl_sec: int, now: int) -> dict:
        self._write_rules(control.suppress(self._rules(), rhythm_hash_, ttl_sec, now))
        return {"status": "ok", "suppressed": rhythm_hash_, "expires_at": now + ttl_sec}

    def control_patch(self, rhythm_hash_: str, now: int, reason: str = "",
                      context_logs: list[str] | None = None) -> dict:
        """POST /control/patch — permanent allow-list + eval case (S12)."""
        self._write_rules(control.patch(self._rules(), rhythm_hash_, now, reason or "patch"))
        eval_path = control.write_eval_case(
            self.evals_dir, rhythm_hash_, context_logs or [], now
        )
        return {"status": "ok", "patched": rhythm_hash_, "eval_case": eval_path}

    def control_rules(self, now: int) -> list[dict]:
        """GET /control/rules — active rules only (P6)."""
        return [r.asDict() for r in control.active_rules(self._rules(), now).collect()]

    def control_delete_patch(self, rhythm_hash_: str) -> dict:
        self._write_rules(control.deactivate(self._rules(), rhythm_hash_))
        return {"status": "ok", "deactivated": rhythm_hash_}

    control_delete_suppress = control_delete_patch  # same deactivation semantics

    # -- schema management ----------------------------------------------------

    def schemas_detect(self, sample_logs: list[str]) -> dict | None:
        return schema_infer.detect_schema(sample_logs)

    def schemas_detect_file(self, path: str) -> dict | None:
        """Detect an onboardable schema from a FILE: columnar formats
        (ORC/Parquet — footer-only column-name mapping) first, else
        fall back to sampling the first lines as text."""
        det = schema_infer.detect_columnar_schema(self.spark, path)
        if det is not None:
            return det
        head = self.spark.read.text(path).limit(100).collect()
        return schema_infer.detect_schema([r["value"] for r in head])

    def schemas_save(self, source_name: str, schema: dict) -> dict:
        schema_infer.save_schema(self.spark, self.registry_path, source_name, schema)
        return {"status": "ok", "source_name": source_name}

    def schemas_list(self) -> list[str]:
        return schema_infer.list_schemas(self.spark, self.registry_path)

    def schemas_get(self, source_name: str) -> dict | None:
        return schema_infer.get_schema(self.spark, self.registry_path, source_name)

    # -- internals ------------------------------------------------------------

    def _read_or_empty(self, path: str, schema: str) -> DataFrame:
        """Missing store → typed empty frame (a fresh engine answers
        every read endpoint with empty results, like the reference's
        empty collections). ONLY the path-missing case is absorbed —
        any other read failure propagates, so a transient error can
        never masquerade as an empty table (and, via the next write,
        silently wipe it)."""
        import os

        if not os.path.exists(path):
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(path)

    def _tier1(self) -> DataFrame:
        return self._read_or_empty(self.tier1_path, promote.TIER1_SCHEMA)

    def _tier2(self, start_ts: int | None = None, end_ts: int | None = None) -> DataFrame:
        if not os.path.exists(self.tier2_path):
            return self.spark.createDataFrame([], promote.TIER2_SCHEMA)
        return promote.read_tier2(self.spark, self.tier2_path, start_ts, end_ts)

    def _rules(self) -> DataFrame:
        if not os.path.exists(self.rules_path):
            return control.empty_rules(self.spark)
        return self.spark.read.schema(control.RULES_SCHEMA).parquet(self.rules_path)

    def _active_rules(self, now: int | None) -> DataFrame | None:
        """Rules in force at ``now``; None when no rule was ever written,
        so detection plans no anti-join against an empty table."""
        if not os.path.exists(self.rules_path):
            return None
        return control.active_rules(self._rules(), now)

    def _without_ruled(self, clusters: DataFrame, now: int | None) -> DataFrame:
        """Drop clusters whose hash has an active suppress/patch rule.
        ``now`` defaults to the newest stored cluster end (data-derived,
        never wall clock — SURVEY.md §7.4 decision 2). No rules store →
        nothing can be ruled out: no ``max(end_ts)`` job, no anti-join."""
        if not os.path.exists(self.rules_path):
            return clusters
        if now is None:
            now = clusters.agg(F.max("end_ts")).collect()[0][0] or 0
        return control.apply_rules(clusters, self._rules(), now)

    def _write_rules(self, rules: DataFrame) -> None:
        # The rules table is tiny: snapshot it on the driver and write
        # from the snapshot, so the overwrite can never race the lazy
        # plan that is reading the same path (a cached-then-evicted
        # partition would otherwise recompute from a truncated source
        # and silently drop rules — i.e. re-enable suppressed alerts).
        rows = rules.collect()
        snap = self.spark.createDataFrame(rows, control.RULES_SCHEMA)
        snap.write.mode("overwrite").parquet(self.rules_path)
