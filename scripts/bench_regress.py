"""Same-JVM per-query regression gate over BENCH_FULL_MEDIAN*.json
(``bench.py`` writes them to ``.bench_out/``).

Cross-round single-run comparisons at fixture scale are noise
(committed evidence: four idle-box median-of-3 runs on UNCHANGED code
spanned 91.4-103.0 s total; individual queries move 2-3x between clean
runs). The only comparison that gates is: per-query MEDIANS taken
within one JVM each, compared against a noise floor derived from the
within-JVM sample spread of both runs.

    python scripts/bench_regress.py history/BENCH_FULL_MEDIAN3_r7.json \
        history/BENCH_FULL_MEDIAN5_r8.json [--ratio 2.0]

A query regresses iff BOTH hold:
  * new_median > ratio * old_median, and
  * new_median exceeds the query's noise band — the max of either
    run's within-JVM (max - min) sample spread added onto the old
    median — so a 0.1 s query jittering to 0.25 s does not page anyone.

The spread EXCLUDES each run's first sample: rep 1 carries store
builds, shuffle-file creation, and codegen warm-up, and folding it in
silently widened the band past real moves (r10's neardup_motif_report
2.1x median-5 regression sailed under the gate because its own 3.7 s
warm-up rep set the band at 1.65 s). Default ratio is 1.5 for the same
reason — the 2.0 gate only fired at >2x, exactly the size of move it
existed to catch.

Exit 0 = no regressions; 1 = regressions listed on stdout (JSON).
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--ratio", type=float, default=1.5)
    args = ap.parse_args()

    old = json.load(open(args.old))
    new = json.load(open(args.new))
    oq, nq = old["queries"], new["queries"]
    osamp, nsamp = old.get("samples", {}), new.get("samples", {})

    report = {
        "old": {"file": args.old, "reps": old.get("reps"), "total": old["value"]},
        "new": {"file": args.new, "reps": new.get("reps"), "total": new["value"]},
        "ratio_gate": args.ratio,
        "regressions": [],
        "missing_in_new": sorted(set(oq) - set(nq)),
        "added_in_new": sorted(set(nq) - set(oq)),
    }
    def _spread(samples):
        # drop the warm-up rep (store builds / codegen) — it is not
        # steady-state noise and it swamped the band (see module doc).
        # With exactly 2 samples the tail is a single rep: spread 0,
        # never a warm-up-inflated band (ADVICE r11).
        if not samples:
            return 0.0
        s = samples[1:] if len(samples) >= 2 else samples
        return max(s) - min(s)

    for name in sorted(set(oq) & set(nq)):
        om, nm = oq[name], nq[name]
        spread = max(_spread(osamp.get(name)), _spread(nsamp.get(name)))
        if nm > args.ratio * om and nm > om + spread:
            report["regressions"].append(
                {
                    "query": name,
                    "old_median": om,
                    "new_median": nm,
                    "ratio": round(nm / om, 2) if om else None,
                    "noise_spread": round(spread, 4),
                    "old_samples": osamp.get(name),
                    "new_samples": nsamp.get(name),
                }
            )
    print(json.dumps(report, indent=2))
    return 1 if report["regressions"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
