"""Phase profile of the embedding-CC store build at a given factor.

Times, cold, on the scaled corpus:
  collapse  — exact-dup family map (groupBy embedding + checkpoint)
  pairs     — neardup_pairs_over over the representatives (count)
  cc        — full embedding_clusters_compute forced (total)
so cc - (collapse + pairs) approximates the contraction-loop share.

Usage: python scripts/profile_emb_cc.py [--factor 100] [--reps 3]
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from via_spark.session import get_spark, load_table  # noqa: E402


def _timed(fn, reps: int) -> float:
    fn()
    return statistics.median(
        [(lambda t0: (fn(), time.time() - t0)[1])(time.time()) for _ in range(reps)]
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=100)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--out", default="/tmp/via_scaleup_embcc")
    args = ap.parse_args()

    spark = get_spark("profile-emb-cc")
    out = Path(args.out)
    from scripts.scaleup_probe import build_scaled

    build_scaled(spark, out, args.factor)
    sf = str(out)

    from via_spark.operators import graph
    from via_spark.operators.dedup import (
        EMB_COS_THRESHOLD,
        neardup_pairs_over,
    )
    from via_spark.functions.vector import dot_fix

    def vmap_and_reps():
        e = load_table(spark, sf, "embeddings").select(
            "vec_id", "embedding",
            dot_fix("embedding", "embedding").alias("n_fix"),
        )
        nz = e.where(F.col("n_fix") > 0)
        fam = nz.groupBy("embedding").agg(F.min("vec_id").alias("rep"))
        vmap = (
            nz.join(fam, "embedding")
            .select("vec_id", "rep")
            .unionByName(
                e.where(F.col("n_fix") == 0)
                .select("vec_id", F.col("vec_id").alias("rep"))
            )
            .localCheckpoint()
        )
        reps = e.join(
            vmap.where(F.col("vec_id") == F.col("rep")).select("vec_id"),
            "vec_id",
        )
        return vmap, reps

    # Build vmap/reps ONCE outside the timed closures (ADVICE r13):
    # vmap_and_reps()'s localCheckpoint eagerly re-materializes the
    # collapse phase, so calling it inside t_pairs charged a full
    # collapse rebuild to pairs_s and the contraction-share estimate
    # subtracted the collapse twice.
    _vmap_shared, _reps_shared = vmap_and_reps()

    def t_collapse():
        vmap, _ = vmap_and_reps()
        vmap.count()

    def t_pairs():
        neardup_pairs_over(_reps_shared, EMB_COS_THRESHOLD).count()

    def t_full():
        df = graph.embedding_clusters_compute(spark, sf, EMB_COS_THRESHOLD)
        cols = [F.col(c) for c in df.columns]
        df.select(F.xxhash64(F.struct(*cols)).alias("h")).agg(
            F.count("h"), F.max("h")
        ).collect()

    n_reps = _reps_shared.count()
    n_pairs = neardup_pairs_over(_reps_shared, EMB_COS_THRESHOLD).count()

    rep = {
        "factor": args.factor,
        "n_reps": n_reps,
        "n_pairs": n_pairs,
        "collapse_s": round(_timed(t_collapse, args.reps), 3),
        "pairs_s": round(_timed(t_pairs, args.reps), 3),
        "full_s": round(_timed(t_full, args.reps), 3),
    }
    print(json.dumps(rep))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
