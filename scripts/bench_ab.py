#!/usr/bin/env python
"""Alternating isolated A/B benchmark: old tree vs new tree, same box,
interleaved windows — the paired discipline VERDICT r14 asked to be
committed as artifacts (item 8) instead of described in prose.

Each pass launches a FRESH interpreter/JVM per tree (cold JVM, store
builds amortized by the profile harness's warmup) and times the named
queries with scripts/profile_query.py's methodology. Passes alternate
old → new → old → new ... so box-noise drift hits both trees equally.

Usage::

    python scripts/bench_ab.py --queries a,b,c --old /root/r14tree \
        [--new /root/repo] [--passes 2] [--reps 3] [--out BENCH_AB_r15/x.json]

Writes {"queries": [...], "old": {q: [samples]}, "new": {q: [samples]},
"median_old": {...}, "median_new": {...}, "ratio_new_over_old": {...}}.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent

# Runs profile_query.py against TREE: the engine modules are imported
# from TREE before the script runs, so the script's own
# ``sys.path.insert(0, <its repo root>)`` cannot swap in another tree's
# via_spark; the pass fails unless they really come from TREE.
_PASS = """
import runpy, sys
from pathlib import Path
tree, script = Path(sys.argv[1]).resolve(), sys.argv[2]
sys.path.insert(0, str(tree))
import __spark_entry__, via_spark
for mod in (__spark_entry__, via_spark):
    if tree not in Path(mod.__file__).resolve().parents:
        sys.exit(f"{mod.__name__} imported from {mod.__file__}, not under {tree}")
sys.argv = [script, *sys.argv[3:]]
runpy.run_path(script, run_name="__main__")
"""


def run_pass(
    tree: str, queries: str, reps: int, sf_dir: str, extra_env: dict | None = None
) -> dict[str, float]:
    """One isolated profile pass in ``tree``; returns {query: median_sec}."""
    script = Path(tree) / "scripts" / "profile_query.py"
    if not script.exists():
        # old trees predate the harness — use the current copy
        script = _REPO / "scripts" / "profile_query.py"
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            _PASS,
            tree,
            str(script),
            "--queries",
            queries,
            "--reps",
            str(reps),
            "--sf-dir",
            sf_dir,
        ],
        cwd=tree,
        env={
            **__import__("os").environ,
            "PYTHONPATH": tree,
            **(extra_env or {}),
        },
        capture_output=True,
        text=True,
        timeout=3600,
    )
    line = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
    try:
        got = json.loads(line)["queries"] if proc.returncode == 0 else None
    except (json.JSONDecodeError, KeyError):
        got = None
    if got is None:
        print(proc.stdout[-2000:], file=sys.stderr)
        print(proc.stderr[-2000:], file=sys.stderr)
        raise RuntimeError(f"profile pass failed in {tree}")
    return got


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True)
    ap.add_argument("--old", required=True)
    ap.add_argument("--new", default=str(_REPO))
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--old-env", default=None, help="KEY=VAL[,KEY=VAL] applied to old passes"
    )
    ap.add_argument(
        "--new-env", default=None, help="KEY=VAL[,KEY=VAL] applied to new passes"
    )
    args = ap.parse_args()

    def parse_env(s):
        return dict(kv.split("=", 1) for kv in s.split(",")) if s else None

    env_old, env_new = parse_env(args.old_env), parse_env(args.new_env)
    names = [n.strip() for n in args.queries.split(",") if n.strip()]
    old: dict[str, list[float]] = {n: [] for n in names}
    new: dict[str, list[float]] = {n: [] for n in names}
    for i in range(args.passes):
        for label, tree, acc, env in (
            ("old", args.old, old, env_old),
            ("new", args.new, new, env_new),
        ):
            got = run_pass(tree, args.queries, args.reps, args.sf_dir, env)
            for n in names:
                if n in got:
                    acc[n].append(got[n])
            print(
                f"# pass {i + 1}/{args.passes} {label}: "
                + json.dumps(got, separators=(",", ":")),
                file=sys.stderr,
            )
    med_old = {n: round(statistics.median(v), 4) for n, v in old.items() if v}
    med_new = {n: round(statistics.median(v), 4) for n, v in new.items() if v}
    out = {
        "queries": names,
        "passes": args.passes,
        "reps": args.reps,
        "old_tree": args.old,
        "new_tree": args.new,
        "old_env": env_old,
        "new_env": env_new,
        "old": old,
        "new": new,
        "median_old": med_old,
        "median_new": med_new,
        "ratio_new_over_old": {
            n: round(med_new[n] / med_old[n], 3)
            for n in names
            if n in med_old and n in med_new and med_old[n] > 0
        },
    }
    text = json.dumps(out, indent=1)
    if args.out:
        p = Path(args.out)
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(text)
    print(text)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
