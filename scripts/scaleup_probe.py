"""Measured scale-up probe: do the plans' costs grow LINEARLY?

The repo's 100 TB posture is argued per operator (SCALE.md) and pinned
as plan shapes (tests/test_plans.py); this script adds the measured
leg: replicate the sf0.1 fixture K× into /tmp with key offsets and
token-rewritten text, then time a representative query set warm at 1×
and K× and report the runtime ratio. A bucketed/banded/broadcast plan
should scale ≈ K (or better, amortizing fixed overhead); anything
super-linear is a candidate quadratic blow-up the plan pins missed.

Replication rules (chosen so K× multiplies WORK, not pathology):

* events    — event_id/user_id offset per replica (K× users, per-user
              history constant — sessions/windows stay bounded), ts
              unchanged (the calendar span is the design bound for the
              array-local fold family, so day-grain state stays fixed).
* documents — doc_id offset; every token prefixed with the replica tag
              (disjoint vocabularies → replicas are UNRELATED docs: no
              cross-replica near-dup cliques, so dedup output scales
              K× like a real corpus, not quadratically like a
              copy-paste corpus would).
* embeddings— vec_id offset, vectors unchanged (K× scan+dot work).
* orders/lineitem — orderkey offset, custkey/suppkey unchanged
              (K× facts over the same dims — the usual fact/dim shape).
* dims      — copied as-is.

Usage::

    python scripts/scaleup_probe.py [--factor 10] [--out /tmp/via_scaleup]

Prints one JSON line: {"factor": K, "queries": {name: {"t1": s,
"tk": s, "ratio": r}}, ...}.  No repo state is touched.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from via_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
DIMS = ("region", "nation", "customer", "supplier", "part")

# family-representative probes: agg/window/join/rank/text/vector/dedup
PROBES = [
    "rhythm_recent_counts",     # bucketed count agg
    "rhythm_baseline_stats",    # duration-normalized stats
    "user_sessions",            # per-user gaps-and-islands
    "gapfill_locf",             # generated grid + LOCF
    "hourly_value_p95",         # rank-based discrete percentile
    "pricing_summary",          # TPC-H Q1 hash agg
    "shipping_priority",        # TPC-H Q3 3-way join + top-k
    "global_value_rank",        # exact global ranking
    "dedup_exact",              # hash-groupBy dedup
    "dedup_minhash_pairs",      # banded LSH candidate join
    "knn_cosine_topk",          # brute-force kNN scan
    "bm25_topk",                # sparse scoring
    "unigram_surprisal_scores", # token explode + broadcast model
    "greedy_pack_stats",        # grouped-Arrow packing
]

def build_scaled(spark, out: Path, factor: int) -> None:
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    for t in DIMS:
        shutil.copy(f"{SF_DIR}/{t}.parquet", out / f"{t}.parquet")

    k_col = F.explode(F.array(*[F.lit(i) for i in range(factor)])).alias("k")

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    n_ev = ev.agg(F.max("event_id")).collect()[0][0] + 1
    n_user = ev.agg(F.max("user_id")).collect()[0][0] + 1
    ev.select("*", k_col).select(
        (F.col("event_id") + F.col("k") * n_ev).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("k") * n_user).alias("user_id"),
        "event_type",
        "value",
        "props",
    ).write.parquet(str(out / "events.parquet"))

    doc = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_doc = doc.agg(F.max("doc_id")).collect()[0][0] + 1
    doc.select("*", k_col).select(
        (F.col("doc_id") + F.col("k") * n_doc).alias("doc_id"),
        F.when(F.col("k") == 0, F.col("text"))
        .otherwise(
            F.expr(
                "concat_ws(' ', transform(split(text, ' '),"
                " t -> concat('r', k, t)))"
            )
        )
        .alias("text"),
        "lang",
        "source",
        "n_chars",
    ).write.parquet(str(out / "documents.parquet"))

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n_vec = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    # Replica vectors must be DISTINCT (same contract as the documents
    # table's disjoint vocabularies): identical copies all land in the
    # same LSH bucket / k-means cell, so the TRUE near-dup pair set
    # grows as K² and the probe measures that pathology instead of K×
    # work (r10's 100× store probe: ~99% of its 9.9M edges were pure
    # copy-family pairs). Per-replica circular shift + xxhash sign
    # pattern keeps every within-replica norm and dot EXACT (signs
    # square away, shift is a permutation) while cross-replica cosines
    # collapse to noise — K× multiplies work, not blow-up.
    emb.select("*", k_col).select(
        (F.col("vec_id") + F.col("k") * n_vec).alias("vec_id"),
        F.when(F.col("k") == 0, F.col("embedding"))
        .otherwise(
            F.expr(
                "transform(sequence(0, size(embedding) - 1), i -> CAST("
                "  (CASE WHEN pmod(xxhash64(k, i), 2) = 0 THEN 1.0D ELSE -1.0D END)"
                "  * element_at(embedding, CAST(pmod(i + k, size(embedding)) AS INT) + 1)"
                " AS FLOAT))"
            )
        )
        .alias("embedding"),
        "label",
    ).write.parquet(str(out / "embeddings.parquet"))

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    n_ord = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
    orders.select("*", k_col).select(
        (F.col("o_orderkey") + F.col("k") * n_ord).alias("o_orderkey"),
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ).write.parquet(str(out / "orders.parquet"))

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    li.select("*", k_col).select(
        (F.col("l_orderkey") + F.col("k") * n_ord).alias("l_orderkey"),
        *[c for c in li.columns if c != "l_orderkey"],
    ).write.parquet(str(out / "lineitem.parquet"))


def timed(fn, reps: int = 3) -> float:
    fn()  # warm: plan + shuffle files + code cache
    return statistics.median(
        [(lambda t0: (fn(), time.time() - t0)[1])(time.time()) for _ in range(reps)]
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--out", default="/tmp/via_scaleup")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--probes", default=None,
                    help="comma-separated probe subset (for big --factor runs"
                         " where the token-explode families would dominate"
                         " wall-clock without adding signal)")
    ap.add_argument("--skip-build", action="store_true",
                    help="reuse an existing --out dataset (r15: lets paired"
                         " old/new-tree dial runs share one deterministic"
                         " build instead of paying it twice)")
    args = ap.parse_args()

    spark = get_spark("scaleup-probe")
    out = Path(args.out)
    if not (args.skip_build and (out / "documents.parquet").exists()):
        build_scaled(spark, out, args.factor)

    import __spark_entry__ as em

    qs = em.queries()
    probes = PROBES
    if args.probes:
        probes = [p.strip() for p in args.probes.split(",") if p.strip()]

    def force(df):
        cols = [F.col(c) for c in df.columns]
        df.select(F.xxhash64(F.struct(*cols)).alias("h")).agg(
            F.count("h"), F.max("h")
        ).collect()

    report = {}
    for name in probes:
        t1 = timed(lambda: force(qs[name](spark, SF_DIR)), args.reps)
        tk = timed(lambda: force(qs[name](spark, str(out))), args.reps)
        report[name] = {
            "t1": round(t1, 3),
            "tk": round(tk, 3),
            "ratio": round(tk / max(t1, 1e-9), 2),
        }
    worst = max(report.values(), key=lambda r: r["ratio"])["ratio"]
    print(
        json.dumps(
            {
                "factor": args.factor,
                "reps": args.reps,
                "worst_ratio": worst,
                "queries": report,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
