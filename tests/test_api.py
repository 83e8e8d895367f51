"""End-to-end facade test with PLANTED anomalies — the reference's
oracle-by-construction test strategy (SURVEY.md §5.3): generate a log
stream whose anomalies are known by construction, run the full
ingest → detect → promote → search → control loop through the
reference-shaped API, and assert the engine flags exactly the planted
patterns."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from via_spark.api import VIAEngine

WINDOW = 300
NOW = 10_000


def _envelope(ts: int, service: str, severity: str, body: str) -> dict:
    return {
        "resourceLogs": [
            {
                "resource": {
                    "attributes": [
                        {"key": "host.name", "value": {"stringValue": "test-host"}},
                        {"key": "service.name", "value": {"stringValue": service}},
                    ]
                },
                "scopeLogs": [
                    {
                        "logRecords": [
                            {
                                "timeUnixNano": str(ts * 1_000_000_000),
                                "severityText": severity,
                                "body": {"stringValue": body},
                            }
                        ]
                    }
                ],
            }
        ]
    }


def _workload() -> list[dict]:
    """History (ts 0..9699) + recent window (ts 9700..10000) with two
    planted anomalies:

    * steady login traffic every 10 s — continues at its normal rate in
      the window (must NOT be flagged)
    * payment traffic every 100 s in history (mean≈3/window) — spikes to
      30 occurrences in the window (frequency anomaly by construction)
    * a FATAL pattern seen 3× in the window and never before
      (novelty anomaly by construction)
    """
    logs = []
    for ts in range(0, NOW - WINDOW, 10):
        logs.append(_envelope(ts, "auth-service", "INFO", f"User login succeeded id={ts}"))
    for ts in range(0, NOW - WINDOW, 100):
        logs.append(_envelope(ts, "payment-service", "INFO", f"Payment processed id={ts}"))
    lo = NOW - WINDOW
    for i in range(30):
        logs.append(_envelope(lo + i * 10, "auth-service", "INFO", f"User login succeeded id={i}"))
    for i in range(30):
        logs.append(_envelope(lo + i * 10 + 1, "payment-service", "INFO", f"Payment processed id={i}"))
    for i in range(3):
        logs.append(_envelope(lo + 50 + i, "payment-service", "FATAL",
                              f"Quantum fluctuation detected in shard {i}"))
    return logs


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    eng = VIAEngine(spark, str(tmp_path_factory.mktemp("via_store")))
    res = eng.ingest_stream(_workload())
    assert res["tier1_ingested"] == len(_workload())
    return eng


def test_planted_anomalies_detected_exactly(engine):
    out = engine.tier1_rhythm_anomalies(window_sec=WINDOW, now=NOW)
    novel, freq = out["novel_anomalies"], out["frequency_anomalies"]
    assert len(novel) == 1 and len(freq) == 1, (novel, freq)
    assert "Quantum fluctuation" in novel[0]["body"]
    assert novel[0]["severity"] == "FATAL"
    assert novel[0]["anomaly_context"] == "New pattern seen 3 times."
    assert "Payment processed" in freq[0]["body"]
    assert re.fullmatch(
        r"Count 30 breached threshold of \d+\.\d \(normalized μ=\d+\.\d, σ=\d+\.\d\)",
        freq[0]["anomaly_context"],
    )
    # steady login traffic must NOT be flagged
    assert not any("login" in a["body"] for a in novel + freq)


def test_suppress_then_reanalyze(engine):
    out = engine.tier1_rhythm_anomalies(window_sec=WINDOW, now=NOW)
    target = out["novel_anomalies"][0]["rhythm_hash"]
    engine.control_suppress(target, ttl_sec=600, now=NOW)
    again = engine.tier1_rhythm_anomalies(window_sec=WINDOW, now=NOW)
    hashes = {a["rhythm_hash"] for a in again["novel_anomalies"] + again["frequency_anomalies"]}
    assert target not in hashes
    assert len(again["frequency_anomalies"]) == 1
    # rules listing shows the active suppression
    rules = engine.control_rules(now=NOW)
    assert any(r["rhythm_hash"] == target and r["rule"] == "SUPPRESS" for r in rules)
    # expiry releases it
    assert engine.control_rules(now=NOW + 601) == []


def test_patch_writes_eval_case_and_deactivate(engine, tmp_path):
    res = engine.control_patch("deadbeef:cafe", now=NOW, context_logs=["ctx log"])
    assert "eval_case" in res
    assert any(r["rhythm_hash"] == "deadbeef:cafe" for r in engine.control_rules(NOW))
    engine.control_delete_patch("deadbeef:cafe")
    assert not any(r["rhythm_hash"] == "deadbeef:cafe" for r in engine.control_rules(NOW))


def test_tier2_clusters_and_triage(engine):
    engine.tier1_rhythm_anomalies(window_sec=WINDOW, now=NOW)  # ensure promoted
    # NOW+601: past the suppression test_suppress_then_reanalyze left
    # behind (forensic search honors active rules, reference parity)
    later = NOW + 601
    clusters = engine.tier2_clusters(text_filter=None, now=later).collect()
    assert len(clusters) >= 2
    # V3 pinned ordering: count desc, cluster_id asc
    counts = [c["incident_count"] for c in clusters]
    assert counts == sorted(counts, reverse=True) or len(set(counts)) < len(counts)
    # text-filtered search finds the quantum cluster
    hits = engine.tier2_clusters(text_filter="quantum", now=later).collect()
    assert len(hits) >= 1 and all("Quantum" in h["body"] for h in hits)
    # S8: a time window outside the data prunes to nothing
    assert engine.tier2_clusters(start_ts=1, end_ts=2, now=later).count() == 0
    # triage: positive example excluded from results, empty positives → []
    pos = hits[0]["cluster_id"]
    rec = engine.tier2_triage([pos], now=later).collect()
    assert all(r["cluster_id"] != pos for r in rec)
    assert engine.tier2_triage([], now=later).count() == 0


def test_forensic_search_honors_suppression(engine):
    """Reference parity (forensic_analysis_service.py:63-65): a
    suppressed/patched hash is filtered out of cluster search AND
    triage; deactivation restores it."""
    later = NOW + 601
    q = engine.tier2_clusters(text_filter="quantum", now=later).collect()[0]["cluster_id"]
    other = next(
        c["cluster_id"]
        for c in engine.tier2_clusters(text_filter=None, now=later).collect()
        if c["cluster_id"] != q
    )
    engine.control_suppress(q, ttl_sec=600, now=later)
    assert engine.tier2_clusters(text_filter="quantum", now=later + 1).count() == 0
    assert all(
        r["cluster_id"] != q
        for r in engine.tier2_triage([other], now=later + 1).collect()
    )
    engine.control_delete_suppress(q)
    assert engine.tier2_clusters(text_filter="quantum", now=later + 1).count() >= 1


def test_no_rules_store_reads_like_inert_rules(spark, tmp_path):
    """tier2 reads skip the rules anti-join when no rules store exists;
    the answers equal those under a store whose every rule is expired or
    inactive, and an active suppression still filters."""
    import os

    eng = VIAEngine(spark, str(tmp_path / "rules_store"))
    eng.ingest_stream(_workload())
    out = eng.tier1_rhythm_anomalies(window_sec=WINDOW, now=NOW)
    hashes = [a["rhythm_hash"] for a in out["novel_anomalies"] + out["frequency_anomalies"]]
    assert len(hashes) == 2

    def reads(now):
        clusters = eng.tier2_clusters(text_filter=None, now=now).collect()
        pos = [clusters[0]["cluster_id"]]
        return (sorted(map(tuple, clusters)),
                sorted(map(tuple, eng.tier2_triage(pos, now=now).collect())))

    assert not os.path.exists(eng.rules_path)
    bare = {now: reads(now) for now in (None, NOW)}
    assert len(bare[NOW][0]) == 2 and bare[NOW][1]

    eng.control_suppress(hashes[0], ttl_sec=1, now=0)  # expired long ago
    eng.control_patch(hashes[1], now=NOW)
    eng.control_delete_patch(hashes[1])  # inactive
    assert os.path.exists(eng.rules_path) and eng.control_rules(now=NOW) == []
    assert {now: reads(now) for now in (None, NOW)} == bare

    eng.control_suppress(hashes[0], ttl_sec=600, now=NOW)
    clusters = eng.tier2_clusters(text_filter=None, now=NOW).collect()
    assert [c["cluster_id"] for c in clusters] == [hashes[1]]
    assert eng.tier2_triage([hashes[1]], now=NOW).count() == 0


def test_schema_endpoints(engine):
    import json

    line = json.dumps(_envelope(1, "svc", "INFO", "hello"))
    det = engine.schemas_detect([line])
    assert det and det["source_type"] == "otel"
    engine.schemas_save("otel_src", det)
    assert engine.schemas_list() == ["otel_src"]
    assert engine.schemas_get("otel_src")["source_type"] == "otel"
    assert engine.schemas_get("nope") is None


def test_run_evals_closes_regression_loop(engine):
    """Beyond the reference: generated eval cases are REPLAYED — a
    patched hash must stay non-anomalous; deactivating the patch makes
    the case fail, proving the runner actually detects regressions."""
    out = engine.tier1_rhythm_anomalies(window_sec=WINDOW, now=NOW)
    target = (out["novel_anomalies"] + out["frequency_anomalies"])[0]["rhythm_hash"]
    engine.control_patch(target, now=NOW, context_logs=["planted context"])

    results = engine.run_evals(window_sec=WINDOW, now=NOW)
    mine = [r for r in results if r["rhythm_hash"] == target]
    assert mine and all(r["passed"] for r in mine)

    # regression: un-patch -> the hash is flagged again -> case fails
    engine.control_delete_patch(target)
    results = engine.run_evals(window_sec=WINDOW, now=NOW)
    mine = [r for r in results if r["rhythm_hash"] == target]
    assert mine and all(
        r["actual_is_anomaly"] and not r["passed"] for r in mine
    )
    # restore the patch so later tests see the original rule state
    engine.control_patch(target, now=NOW, context_logs=["planted context"])


def test_ingest_file_via_saved_schema(engine, spark, tmp_path):
    """detect -> save -> READ: a saved registry schema is executable.
    OTel JSONL and BGL lines both land in tier1 through the same path."""
    import json as _json

    before = spark.read.parquet(engine.tier1_path).count()

    # OTel file
    otel_path = str(tmp_path / "onboard_otel.jsonl")
    lines = [_json.dumps(_envelope(20_000 + i, "onboard-svc", "INFO", f"file row {i}"))
             for i in range(5)]
    with open(otel_path, "w") as fh:
        fh.write("\n".join(lines))
    det = engine.schemas_detect(lines)
    engine.schemas_save("onboard_otel", det)
    res = engine.ingest_file(otel_path, "onboard_otel")
    assert res == {"status": "ok", "tier1_ingested": 5}

    # BGL file
    bgl_path = str(tmp_path / "onboard.bgl")
    bgl_lines = [
        f"{30_000 + i} 1970.01.01 node{i} 08.00.00 dev RAS KERNEL INFO file bgl row {i}"
        for i in range(3)
    ]
    with open(bgl_path, "w") as fh:
        fh.write("\n".join(bgl_lines))
    det = engine.schemas_detect(bgl_lines)
    assert det and det["source_type"] == "bgl"
    engine.schemas_save("onboard_bgl", det)
    res = engine.ingest_file(bgl_path, "onboard_bgl")
    assert res == {"status": "ok", "tier1_ingested": 3}

    after = spark.read.parquet(engine.tier1_path)
    assert after.count() == before + 8
    assert after.where(F.col("service") == "onboard-svc").count() == 5
    assert after.where(F.col("body").contains("file bgl row")).count() == 3

    # unknown source errors cleanly
    assert engine.ingest_file(otel_path, "nope")["status"] == "error"


def test_fresh_engine_reads_are_empty_not_errors(spark, tmp_path):
    """Every read endpoint on a brand-new engine answers with empty
    results (like the reference's empty collections), not
    PATH_NOT_FOUND crashes."""
    eng = VIAEngine(spark, str(tmp_path / "fresh_store"))
    assert eng.stream_tail() == []
    out = eng.tier1_rhythm_anomalies(window_sec=300)
    assert out == {"novel_anomalies": [], "frequency_anomalies": []}
    assert eng.tier2_clusters(text_filter=None).count() == 0
    assert eng.tier2_clusters(text_filter="x").count() == 0
    assert eng.tier2_triage(["h"]).count() == 0
    assert eng.control_rules(now=0) == []
    assert eng.run_evals() == []
    assert eng.schemas_list() == []


def test_ingest_csv_via_detected_schema(engine, spark, tmp_path):
    """Third onboardable format (beyond-reference): header-mapped CSV
    detected, saved, and executed through the same registry loop."""
    csv_path = str(tmp_path / "onboard.csv")
    lines = ["ts,severity,service,message"] + [
        f"{40_000 + i},WARN,csv-svc,csv row number {i}" for i in range(4)
    ] + ["not-a-ts,WARN,csv-svc,malformed row"]
    with open(csv_path, "w") as fh:
        fh.write("\n".join(lines))

    det = engine.schemas_detect(lines)
    assert det and det["source_type"] == "csv"
    engine.schemas_save("onboard_csv", det)
    res = engine.ingest_file(csv_path, "onboard_csv")
    assert res == {"status": "ok", "tier1_ingested": 4}  # malformed dropped

    t1 = spark.read.parquet(engine.tier1_path)
    got = t1.where(F.col("service") == "csv-svc")
    assert got.count() == 4
    assert {r["severity"] for r in got.collect()} == {"WARN"}

    # detection priority: OTel stays OTel, BGL stays BGL
    assert engine.schemas_detect(["garbage , with, bad col names!"]) is None


def test_ingest_orc_via_detected_schema(engine, spark, tmp_path):
    """Fourth onboardable format: a columnar ORC file is detected from
    its footer (column-name alias mapping, no data read), saved to the
    registry, and executed through the same detect -> save -> READ loop
    — including the malformed-row (P7) drop for a NULL timestamp."""
    orc_path = str(tmp_path / "onboard_orc")
    rows = [(50_000 + i, "ERROR", "orc-svc", f"orc row number {i}") for i in range(5)]
    rows.append((None, "ERROR", "orc-svc", "malformed row"))
    spark.createDataFrame(
        rows, "time long, loglevel string, app string, msg string"
    ).write.mode("overwrite").orc(orc_path)

    det = engine.schemas_detect_file(orc_path + "/")  # dir of .orc parts
    assert det is None  # no extension on the dir — detection is honest
    part = [p for p in __import__("os").listdir(orc_path) if p.endswith(".orc")][0]
    det = engine.schemas_detect_file(f"{orc_path}/{part}")
    assert det and det["source_type"] == "orc"
    assert {f["name"] for f in det["fields"]} == {"timestamp", "level", "service", "message"}

    engine.schemas_save("onboard_orc", det)
    res = engine.ingest_file(orc_path, "onboard_orc")
    assert res == {"status": "ok", "tier1_ingested": 5}  # NULL-ts row dropped

    t1 = spark.read.parquet(engine.tier1_path)
    got = t1.where(F.col("service") == "orc-svc")
    assert got.count() == 5
    assert {r["severity"] for r in got.collect()} == {"ERROR"}


def test_ingest_parquet_with_native_timestamp(engine, spark, tmp_path):
    """Columnar onboarding converts a native timestamp column to epoch
    seconds through the UTC-pinned session."""
    pq_path = str(tmp_path / "onboard_pq")
    spark.sql(
        "SELECT timestamp'2024-01-01 00:00:40' AS ts, 'WARN' AS severity, "
        "'pq-svc' AS source, 'parquet row' AS body"
    ).write.mode("overwrite").parquet(pq_path)
    part = [p for p in __import__("os").listdir(pq_path) if p.endswith(".parquet")][0]
    det = engine.schemas_detect_file(f"{pq_path}/{part}")
    assert det and det["source_type"] == "parquet"
    engine.schemas_save("onboard_pq", det)
    assert engine.ingest_file(pq_path, "onboard_pq") == {"status": "ok", "tier1_ingested": 1}
    t1 = spark.read.parquet(engine.tier1_path)
    assert t1.where(F.col("service") == "pq-svc").collect()[0]["ts"] == 1704067240


def test_sql_catalog_facade(spark, sf_oracle):
    """The SQL surface reaches every table AND the derived stores, and
    a SQL aggregation matches its DataFrame twin exactly."""
    from via_spark import sqlcat

    names = sqlcat.register_tables(spark, sf_oracle)
    assert {"orders", "events", "tier1", "tier2"} <= set(names)
    got = {
        (r["severity"], r["n"])
        for r in spark.sql(
            "SELECT severity, count(*) AS n FROM tier1 GROUP BY severity"
        ).collect()
    }
    from via_spark import store

    expect = {
        (r["severity"], r["n"])
        for r in store.tier1(spark, sf_oracle)
        .groupBy("severity")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expect and len(got) >= 4
    assert spark.sql("SELECT count(*) AS n FROM tier2").collect()[0]["n"] > 0
