#!/usr/bin/env python3
"""Closed-loop benchmark of the VIA engine on Spark ``local[nproc]``.

Run from the root of a source tree::

    python3 perfbench/run.py --workload cadence --seed 1 --seconds 20 --trace 0

One client in this process drives one workload (``cadence`` or
``dedup``, see ``perfbench/README.md``). A run sets up several times and
reports the median set-up, warms up until the pass time has settled,
then times closed-loop passes for ``--seconds``. Correctness checks run
after each pass, outside the timers; a failed check fails its operation.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics (Spark event log plus in-memory spans; timed passes alternate
untraced, traced, untraced, ... and the difference of their medians is
reported as the tracing overhead). The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the full
record (operations, spans, box facts, tree identity) is written to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUP_REPS = 3
DRIVER_MEMORY = "2g"  # the default 16g does not fit a 15 GiB box


def tree_identity() -> dict:
    """Which engine tree is measured: ``via_spark`` must import from
    ``ROOT`` (never from another checkout on ``sys.path``)."""
    import via_spark

    where = Path(via_spark.__file__).resolve()
    if ROOT not in where.parents:
        raise SystemExit(f"via_spark imported from {where}, not from {ROOT}")
    digest = hashlib.sha256()
    for path in sorted([*ROOT.glob("via_spark/**/*.py"), ROOT / "__spark_entry__.py"]):
        digest.update(path.relative_to(ROOT).as_posix().encode())
        digest.update(path.read_bytes())
    ident = {"via_spark": str(where.parent), "source_sha256": digest.hexdigest()[:16],
             "git_rev": None, "git_dirty": None}
    try:
        rev = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        # only a checkout rooted at the measured tree identifies it
        if rev.returncode == 0 and Path(rev.stdout.split()[0]).resolve() == ROOT:
            dirty = subprocess.run(["git", "-C", str(ROOT), "status", "--porcelain",
                                    "--", "via_spark", "__spark_entry__.py"],
                                   capture_output=True, text=True, timeout=10)
            ident.update(git_rev=rev.stdout.split()[1], git_dirty=bool(dirty.stdout.strip()))
    except (OSError, subprocess.SubprocessError):
        pass  # a plain source export has no git metadata
    return ident


def session_env(work: Path, event_log: Path | None) -> None:
    """Environment for the Spark JVM launched by this process: local
    ``nproc`` cores, pinned driver memory, every scratch file inside the
    run's work dir, the measured tree on the Python workers' path and,
    for a traced run, an uncompressed single-file event log."""
    nproc = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    # no hsperfdata files in the system temp dir, from the launcher JVM either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    confs = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.eventLog.enabled": "false",
    }
    if event_log is not None:
        event_log.mkdir()
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(event_log),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"


def start_session(name: str):
    from via_spark.session import get_spark

    spark = get_spark(f"perfbench-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM this process launched and the
    Python workers it forked, and wait until all of them have ended."""
    from pyspark import SparkContext

    from perfbench import probes

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while probes.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def storage_mb(spark) -> float:
    """Memory and disk held by cached relations right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def p90(values: list[float]) -> float:
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def run(args) -> dict:
    from perfbench import probes
    from perfbench.tracing import Tracer, install_layer_spans
    from perfbench.workloads import WORKLOADS, Runner

    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    event_log = work / "eventlog" if args.trace else None
    session_env(work, event_log)
    facts = {"box_before": probes.box_facts(), "tree": tree_identity()}

    tracer = Tracer()
    wl = WORKLOADS[args.workload](args.seed, str(work))
    runner = Runner(None, tracer)
    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "seconds": args.seconds, **facts}

    with probes.RssSampler() as rss:
        # set-up, several times: a fresh session (the first one launches
        # the JVM) plus the workload's store / history build
        setups, spark = [], None
        for rep in range(SETUP_REPS):
            wl.prepare_setup(rep)
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = start_session(args.workload)
            runner.spark = spark
            session_s = time.perf_counter() - t0
            setups.append(session_s + wl.setup(spark, runner))
        record["setup_reps_s"] = setups

        if args.trace:
            install_layer_spans(tracer)
        # warm-up: the first pass is checked row-by-row against the
        # DuckDB oracles where the workload has them; pass times settle
        # by the last warm-up pass (README.md, "Warm-up")
        walls, cpus, timed_from = [], [], None
        # a traced run brackets each traced pass by untraced ones, so the
        # overhead estimate is not skewed by pass times still settling
        min_timed = max(wl.min_timed_passes, 3 if args.trace else 1)
        deadline = None
        p = 0
        while True:
            warm = p < wl.warmup_passes
            if not warm and timed_from is None:
                timed_from, deadline = p, time.perf_counter() + args.seconds
                rss.reset()
            runner.pass_no = p
            tracer.enabled = bool(args.trace) and not warm and (p - timed_from) % 2 == 1
            wl.prepare_pass(p)
            cpu0, t0 = probes.tree_cpu_s(), time.perf_counter()
            (wl.warmup_pass if warm else wl.run_pass)(spark, runner)
            wall, cpu = time.perf_counter() - t0, probes.tree_cpu_s() - cpu0
            tracer.enabled = False
            runner.untimed()
            wl.check_pass(runner)
            if not warm:
                walls.append(wall)
                cpus.append(cpu)
                record.setdefault("passes", []).append(
                    {"pass": p, "wall_s": wall, "cpu_s": cpu, "traced": runner.ops[-1]["traced"],
                     "cached_mb": storage_mb(spark), **wl.pass_extras(runner)})
            else:
                record.setdefault("warmup_s", []).append(wall)
            wl.after_pass(spark)
            p += 1
            if (deadline is not None and time.perf_counter() >= deadline
                    and len(walls) >= min_timed):
                break
        record["rss_peak_mb"] = rss.peak
        app_id = spark.sparkContext.applicationId
        stop_jvm(spark)

    tracer.close()
    record["box_after"] = probes.box_facts()
    record["steal_during_run_s"] = record["box_after"]["steal_s"] - record["box_before"]["steal_s"]
    record["ops"] = runner.ops
    record["stream_progress"] = runner.stream_progress
    timed_ops = [o for o in runner.ops if o["pass"] >= timed_from]
    untraced = [o for o in timed_ops if not o["traced"]]

    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    if not args.trace:
        op_ms = [o["ms"] for o in timed_ops]
        pass_p50 = statistics.median(walls)
        metrics = {
            # the first set-up also launches the JVM and runs cold
            "setup_s": (statistics.median(setups[1:]), "s"),
            "pass_p50_s": (pass_p50, "s"),
            "pass_cpu_s": (statistics.median(cpus), "s"),
            # typical operation latency; a median of 10-12 samples drawn
            # from 5-6 operation kinds jumps between kinds from run to run
            "op_gmean_ms": (statistics.geometric_mean(op_ms), "ms"),
            "op_p90_ms": (p90(op_ms), "ms"),
            "rows_per_s": (wl.rows_per_pass() / pass_p50, "1/s"),
            "rss_peak_mb": (record["rss_peak_mb"], "MB"),
        }
    else:
        from perfbench.layers import per_layer

        metrics = per_layer(record, runner, tracer, event_log, app_id, untraced)
        tracer.write(str(out_dir / f"{tag}-spans.json"))
    record["metrics"] = {k: v[0] for k, v in metrics.items()}
    (out_dir / f"{tag}.json").write_text(json.dumps(record, indent=1, default=str))
    shutil.rmtree(work, ignore_errors=True)

    failed = sum(not o["ok"] for o in runner.ops)
    return {
        "correct": failed == 0,
        "attempted": len(runner.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["cadence", "dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (ROOT / "via_spark" / "__init__.py").is_file() or not (
            ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no engine source tree at {ROOT}", file=sys.stderr)
        return 2
    # the script's own directory on sys.path could shadow stdlib modules
    sys.path[0] = str(ROOT)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
