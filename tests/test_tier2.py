"""Tier-2 store behavior: partitioned write, partition-pruned read, and
the detect→promote step that writes it.

The rollup VALUES are covered by the DuckDB oracle
(test_oracle_parity::promotion_rollup); this file covers the storage
semantics the oracle can't see — daily partition layout, pruning, and
roundtrip fidelity of the array column — and pins the one-plan
``promote.detect_and_promote`` on a planted tier1.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import functions as F

from via_spark.operators import promote, rhythm


def _clusters(spark, sf_smoke):
    # sf0.001 has only 1000 events; a 200-point baseline leaves enough
    # unseen hashes for novelty to fire (probed: 5 clusters)
    return promote.promotion_rollup(spark, sf_smoke, sample_size=200, novelty_min_count=1)


def test_tier2_roundtrip_and_pruning(spark, sf_smoke, tmp_path):
    clusters = _clusters(spark, sf_smoke)
    rows = clusters.collect()
    assert len(rows) > 0, "sensitive variant must produce clusters on the fixture"
    for r in rows:
        assert r["entity_type"] == "event_cluster"
        assert r["start_ts"] <= r["end_ts"]
        assert 1 <= len(r["sample_logs"]) <= rhythm.SAMPLE_LOGS_MAX
        assert r["count"] >= len(r["sample_logs"])

    path = str(tmp_path / "tier2")
    promote.write_tier2(clusters, path)

    # daily partition directories exist (S5's one-collection-per-day analog)
    parts = [d for d in os.listdir(path) if d.startswith("event_date=")]
    assert parts, "expected event_date=... partition dirs"

    back = promote.read_tier2(spark, path)
    assert back.count() == len(rows)
    # array column survives the roundtrip intact
    sample = back.orderBy("rhythm_hash").select("sample_logs").first()[0]
    assert isinstance(sample, list) and all(isinstance(s, str) for s in sample)

    # windowed read prunes partitions: filter on the partition column must
    # appear in the scan's PartitionFilters, not as a post-scan Filter
    lo = min(r["start_ts"] for r in rows)
    windowed = promote.read_tier2(spark, path, lo, lo)
    plan = windowed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert windowed.count() >= 1
    assert windowed.where(~F.col("start_ts").between(lo, lo)).count() == 0


def test_append_accumulates_partitions(spark, sf_smoke, tmp_path):
    clusters = _clusters(spark, sf_smoke)
    path = str(tmp_path / "tier2")
    n = clusters.count()
    promote.write_tier2(clusters, path)
    promote.write_tier2(clusters, path)  # append mode is the default
    assert promote.read_tier2(spark, path).count() == 2 * n


# --- detect_and_promote on a planted tier1 -----------------------------------

NOW, WINDOW = 1000, 60  # recent window = [940, 1000]


def _planted_tier1(spark):
    """Hashes: A breaches its baseline rate with 9 recent rows (the
    5-row sample is cut; two rows tie on ts and order by event_id; one
    sits on the window's inclusive edge), B is new with 3 rows (its
    representative ties on ts), C is new but suppressed by a rule, D is
    steady traffic, E is new but seen once."""
    day0 = datetime.date(1970, 1, 1)
    rows = []

    def add(h, ts, eid, sev="INFO"):
        rows.append((f"svc-{h}", sev, f"{h} event {eid}", ts, eid, f"{h} event *", f"h{h}", day0))

    add("base", 100, 1000)
    add("base", 900, 1001)
    for i in range(19):
        add("A", 110 + 40 * i, 2000 + i)
    add("A", 939, 2100)
    for i in range(200):
        add("D", 100 + 4 * i, 3000 + i)
    add("A", 940, 50)
    add("A", 950, 7)
    add("A", 950, 3)
    for j, ts in enumerate((951, 952, 953, 960, 970, 1000)):
        add("A", ts, 60 + j)
    add("B", 990, 21, "FATAL")
    add("B", 990, 20, "FATAL")
    add("B", 995, 22, "FATAL")
    for j in range(4):
        add("C", 980 + j, 40 + j, "WARN")
    for j in range(3):
        add("D", 960 + j, 90 + j)
    add("E", 999, 99)
    return spark.createDataFrame(rows, promote.TIER1_SCHEMA)


def _log(eid, ts, h, sev):
    return (
        f'{{"event_id":{eid},"ts":{ts},"service":"svc-{h}",'
        f'"severity":"{sev}","body":"{h} event {eid}"}}'
    )


_A_CTX = "Count 9 breached threshold of 5.2 (normalized μ=1.4, σ=1.5)"
_B_CTX = "New pattern seen 3 times."

#: the tier2 rows the former separate rollup (recent-window re-scan,
#: semi-join, aggregation, join) wrote for the planted tier1
PLANTED_TIER2 = [
    ("event_cluster", "hA", 940, 1000, 9, "svc-A", "INFO", "frequency", _A_CTX,
     "A event 50",
     [_log(50, 940, "A", "INFO"), _log(3, 950, "A", "INFO"), _log(7, 950, "A", "INFO"),
      _log(60, 951, "A", "INFO"), _log(61, 952, "A", "INFO")],
     datetime.date(1970, 1, 1)),
    ("event_cluster", "hB", 990, 995, 3, "svc-B", "FATAL", "novelty", _B_CTX,
     "B event 20",
     [_log(20, 990, "B", "FATAL"), _log(21, 990, "B", "FATAL"), _log(22, 995, "B", "FATAL")],
     datetime.date(1970, 1, 1)),
]


def test_detect_and_promote_writes_pinned_tier2(spark, tmp_path, monkeypatch):
    """The fused step returns the 8-column anomaly rows and writes, as a
    projection of its checkpoint (no parquet scan in the write plan),
    exactly the tier2 rows of the former detect-then-rollup pair."""
    tier1 = str(tmp_path / "tier1")
    _planted_tier1(spark).write.partitionBy("event_date").parquet(tier1)
    rules = spark.createDataFrame([("hC",)], "rhythm_hash string")
    write_plans = []
    write = promote.write_tier2

    def recording_write(clusters, path, mode="append"):
        write_plans.append(clusters._jdf.queryExecution().executedPlan().toString())
        write(clusters, path, mode)

    monkeypatch.setattr(promote, "write_tier2", recording_write)
    path = str(tmp_path / "tier2")
    rows = promote.detect_and_promote(
        spark, spark.read.schema(promote.TIER1_SCHEMA).parquet(tier1), NOW, WINDOW,
        path, rules=rules,
    )
    assert sorted(tuple(r) for r in rows) == [
        ("hA", "svc-A", "INFO", "A event 50", 940, "frequency", _A_CTX, 9),
        ("hB", "svc-B", "FATAL", "B event 20", 990, "novelty", _B_CTX, 3),
    ]
    assert all(tuple(r.asDict()) == rhythm.ANOMALY_COLUMNS for r in rows)
    assert len(write_plans) == 1 and "Scan parquet" not in write_plans[0]
    got = sorted(tuple(r) for r in promote.read_tier2(spark, path).collect())
    assert got == PLANTED_TIER2


def test_detection_plan_scans_tier1_three_times(spark, tmp_path):
    """One detection plan: the window is scanned once for the counts and
    once for the per-hash first rows, the baseline once for its top-k —
    whose TakeOrderedAndProject runs once for the bounds and the counts
    alike."""
    tier1 = str(tmp_path / "tier1")
    _planted_tier1(spark).write.partitionBy("event_date").parquet(tier1)
    summary = rhythm.anomaly_summary(
        spark, "", tier1=spark.read.schema(promote.TIER1_SCHEMA).parquet(tier1),
        now=NOW, window_sec=WINDOW,
    )
    plan = summary._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 3
    assert plan.count("TakeOrderedAndProject") == 1
