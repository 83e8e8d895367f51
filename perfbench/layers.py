"""Per-layer metrics of a traced run.

Every figure is a median over the traced timed passes of a per-pass
total, unless its name says otherwise. Spans give the driver-side layers
(L0 build, L1 optimize, session reads, store builds); the Spark event
log, joined to operations by job group, gives the scheduler (L3), the
executors (L4) and the Python evaluation (functions) layers; streaming
progress and the API operations give the streaming and API layers.

Every metric is reported on every workload. A layer a workload does not
exercise reads 0 there (README.md lists where each one applies).
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench.tracing import find_event_log, parse_event_log

CADENCE_OPS = ("stream.ingest", "stream.detect", "api.tier2_clusters",
               "api.tier2_triage", "api.stream_tail")
DEDUP_OPS = ("dedup_minhash_pairs", "dedup_simhash_pairs", "neardup_embedding_pairs",
             "phash_dup_pairs", "lsh_density_outliers", "dedup_clusters")

_EVENT_FIELDS = {  # metric → (GroupStats attribute, unit)
    "l3.jobs": ("jobs", "count"),
    "l3.stages": ("stages", "count"),
    "l3.tasks": ("tasks", "count"),
    "l3.scheduler_delay_s": ("scheduler_delay_s", "s"),
    "l3.shuffle_read_mb": ("shuffle_read_mb", "MB"),
    "l3.shuffle_write_mb": ("shuffle_write_mb", "MB"),
    "l4.executor_run_s": ("executor_run_s", "s"),
    "l4.executor_cpu_s": ("executor_cpu_s", "s"),
    "l4.gc_s": ("gc_s", "s"),
    "l4.spill_mb": ("spill_mb", "MB"),
    "functions.python_bytes": ("python_bytes", "B"),
    "functions.python_rows": ("python_rows", "count"),
}


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _slope(ys: list[float]) -> float:
    """Least-squares slope of ``ys`` over their index."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx, my = (n - 1) / 2, sum(ys) / n
    return sum((i - mx) * (y - my) for i, y in enumerate(ys)) / sum(
        (i - mx) ** 2 for i in range(n))


def per_layer(record, runner, tracer, event_log, app_id, untraced) -> dict:
    passes = record["passes"]
    traced_passes = [p["pass"] for p in passes if p["traced"]]
    ops = [o for o in runner.ops if o["pass"] in traced_passes]
    groups = parse_event_log(find_event_log(str(event_log), app_id))

    # job groups of each operation: its own, plus those of the streaming
    # queries it started (Structured Streaming runs them under the run id)
    op_groups: dict[str, list[str]] = defaultdict(list)
    for o in ops:
        op_groups[o["group"]].append(o["group"])
    for run_id, group in runner.stream_groups.items():
        if group in op_groups:
            op_groups[group].append(run_id)

    spans_by_op: dict[str, list[dict]] = defaultdict(list)
    for s in tracer.spans:
        if s["op"] is not None and "end" in s:
            spans_by_op[s["op"]].append(s)

    def l0_ms(o) -> float:
        """Build time of one operation, cut at its first Spark job."""
        first_job = min((groups[g].first_submit_ms for g in op_groups[o["group"]]
                         if g in groups), default=float("inf"))
        total = 0.0
        for s in spans_by_op[o["group"]]:
            if s["name"] == "l0.build":
                end = min(s["end"] * 1e3, max(first_job, s["start"] * 1e3))
                total += end - s["start"] * 1e3
        return total

    def span_total(o, name) -> tuple[int, float]:
        ss = [s for s in spans_by_op[o["group"]] if s["name"] == name]
        return len(ss), sum(1e3 * (s["end"] - s["start"]) for s in ss)

    # per-operation event-log figures, kept in the run record for audits
    record["op_layers"] = {o["group"]: {g: groups[g].as_dict() for g in op_groups[o["group"]]
                                        if g in groups} for o in ops}

    per_pass: dict[str, list[float]] = defaultdict(list)
    for p in traced_passes:
        p_ops = [o for o in ops if o["pass"] == p]
        tot = defaultdict(float)
        for o in p_ops:
            tot["l0.build_ms"] += l0_ms(o)
            tot["l1.optimize_ms"] += span_total(o, "l1.optimize")[1]
            n, ms = span_total(o, "session.read_parquet")
            tot["session.read_parquet_calls"] += n
            tot["session.read_parquet_ms"] += ms
            tot["store.build_s.cluster_labels"] += span_total(o, "store.cluster_labels")[1] / 1e3
            for g in op_groups[o["group"]]:
                if g not in groups:
                    continue
                stats = groups[g].as_dict()
                for metric, (attr, _) in _EVENT_FIELDS.items():
                    tot[metric] += stats[attr]
        driver_s = (tot["l0.build_ms"] + tot["l1.optimize_ms"]) / 1e3
        tot["driver.share"] = driver_s / max(driver_s + tot["l4.executor_run_s"], 1e-9)
        for k, v in tot.items():
            per_pass[k].append(v)

    out: dict[str, tuple[float, str]] = {
        "l0.build_ms": (_median(per_pass["l0.build_ms"]), "ms"),
        "l1.optimize_ms": (_median(per_pass["l1.optimize_ms"]), "ms"),
        "session.read_parquet_calls": (_median(per_pass["session.read_parquet_calls"]), "count"),
        "session.read_parquet_ms": (_median(per_pass["session.read_parquet_ms"]), "ms"),
    }
    for metric, (_, unit) in _EVENT_FIELDS.items():
        out[metric] = (_median(per_pass[metric]), unit)
    out["driver.share"] = (_median(per_pass["driver.share"]), "ratio")

    # dedup: wasted LSH verify work and the per-pass cluster-label build
    yields = [p["pairs"] / p["candidates"] for p in passes
              if p.get("candidates")]
    out["dedup.candidate_yield"] = (_median(yields), "ratio")
    out["store.build_s.cluster_labels"] = (_median(per_pass["store.build_s.cluster_labels"]), "s")
    out["store.cached_mb"] = (_median(p["cached_mb"] for p in passes), "MB")

    # streaming and API layers (cadence)
    def op_ms(name, pool) -> list[float]:
        return [o["ms"] for o in pool if o["name"] == name and o["ok"]]

    out["streaming.ingest_s"] = (_median(op_ms("stream.ingest", ops)) / 1e3, "s")
    out["streaming.detect_s"] = (_median(op_ms("stream.detect", ops)) / 1e3, "s")
    group_pass = {o["group"]: o["pass"] for o in ops}
    add_ms, start_ms = defaultdict(float), defaultdict(float)
    for sp in runner.stream_progress:
        if sp["group"] in group_pass:
            add_ms[group_pass[sp["group"]]] += sp["add_batch_ms"]
            start_ms[group_pass[sp["group"]]] += sp["query_start_ms"]
    out["streaming.add_batch_ms"] = (_median(add_ms.values()), "ms")
    out["streaming.query_start_ms"] = (_median(start_ms.values()), "ms")
    # every cycle after the cold first one, warm-up and timed alike
    detects = [o["ms"] for o in runner.ops if o["name"] == "stream.detect" and o["pass"] >= 1]
    out["streaming.detect_slope_ms_per_cycle"] = (_slope(detects), "ms")
    for name in ("tier2_clusters", "tier2_triage", "stream_tail"):
        out[f"api.{name}_ms"] = (_median(op_ms(f"api.{name}", ops)), "ms")

    # tracing overhead: traced passes against the untraced passes of this run
    traced_wall = _median(p["wall_s"] for p in passes if p["traced"])
    untraced_wall = _median(p["wall_s"] for p in passes if not p["traced"])
    out["trace.pass_p50_s"] = (traced_wall, "s")
    out["trace.untraced_pass_p50_s"] = (untraced_wall, "s")
    out["trace.overhead_s"] = (traced_wall - untraced_wall if untraced_wall else 0.0, "s")

    # per-operation latency, from the untraced timed passes
    for name in CADENCE_OPS + DEDUP_OPS:
        out[f"op.{name}.p50_ms"] = (_median(op_ms(name, untraced)), "ms")
    return out
