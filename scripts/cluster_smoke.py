"""Standalone-cluster smoke: run the headline queries OFF local mode.

The repo's 100 TB posture is plan-asserted but normally executed only
on ``local[32]``, where driver and executors share one JVM and one
filesystem view. This script validates the session/store/config path
end-to-end against a real multi-process Spark standalone cluster: it
boots a Master and two Workers (three separate JVMs), connects a
SparkSession to ``spark://...``, runs the five headline queries from
``__spark_entry__.queries()`` at sf0.001/sf0.01, and checks each
returns rows with the expected schema. Anything that silently depended
on local mode — driver-side file paths leaking into executors,
configs set after session start, Python-worker env — fails loudly here.

Usage::

    python scripts/cluster_smoke.py [--sf-dir /root/testdata/sf0.01]
    python scripts/cluster_smoke.py --full   # whole queries() registry

``--full`` runs EVERY registered query on the cluster and value-checks
each against its DuckDB oracle (same order-insensitive repr-hash the
external driver uses) — the cheapest way to flush a local-mode
assumption (session confs, store paths, broadcast sizes, Python-worker
env) across all plans at once.

Prints one JSON line: {"ok": true, "queries": {name: rows}, ...}.
Exit code 0 iff every query ran (and, with --full, hash-matched).
Workers and master are torn down on exit (including on failure).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import socket
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

HEADLINE = [
    "rhythm_anomalies",
    "forensic_clusters_text",
    "dedup_minhash_pairs",
    "knn_cosine_topk",
    "bm25_topk",
]

MASTER_PORT = 7077


def _spark_home() -> Path:
    import pyspark

    return Path(pyspark.__file__).resolve().parent


def _wait_port(port: int, timeout: float = 60.0) -> None:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        with socket.socket() as s:
            s.settimeout(1.0)
            try:
                s.connect(("127.0.0.1", port))
                return
            except OSError:
                time.sleep(0.5)
    raise TimeoutError(f"port {port} did not open within {timeout}s")


def _spawn(cls: str, *args: str) -> subprocess.Popen:
    spark_class = _spark_home() / "bin" / "spark-class"
    env = dict(os.environ)
    env.setdefault("SPARK_NO_DAEMONIZE", "1")
    # each daemon needs a distinct, writable log/work dir
    env.setdefault("SPARK_LOG_DIR", "/tmp/spark-smoke-logs")
    return subprocess.Popen(
        [str(spark_class), cls, *args],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        env=env,
        start_new_session=True,
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--cores-per-worker", type=int, default=4)
    ap.add_argument("--mem-per-worker", default="4g")
    ap.add_argument("--full", action="store_true",
                    help="run the whole queries() registry with oracle hash parity")
    args = ap.parse_args()

    procs: list[subprocess.Popen] = []
    result: dict = {"ok": False, "master": f"spark://127.0.0.1:{MASTER_PORT}"}
    try:
        procs.append(
            _spawn(
                "org.apache.spark.deploy.master.Master",
                "-h", "127.0.0.1", "-p", str(MASTER_PORT),
                "--webui-port", "8091",
            )
        )
        _wait_port(MASTER_PORT)
        for i in range(2):
            procs.append(
                _spawn(
                    "org.apache.spark.deploy.worker.Worker",
                    f"spark://127.0.0.1:{MASTER_PORT}",
                    "-c", str(args.cores_per_worker),
                    "-m", args.mem_per_worker,
                    "--webui-port", str(8092 + i),
                    "-d", f"/tmp/spark-smoke-work-{i}",
                )
            )

        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master(f"spark://127.0.0.1:{MASTER_PORT}")
            .appName("via-cluster-smoke")
            # ship the engine to executors — the one step local mode hides
            .config("spark.submit.pyFiles", "")
            .config("spark.executorEnv.PYTHONPATH", str(REPO))
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.executor.memory", args.mem_per_worker)
            .getOrCreate()
        )
        try:
            import __spark_entry__ as em

            qs = em.queries()
            counts: dict[str, int] = {}
            mismatched: list[str] = []
            if args.full:
                import hashlib

                import duckdb

                con = duckdb.connect()
                for t in ("region nation customer supplier part orders "
                          "lineitem events documents embeddings").split():
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{args.sf_dir}/{t}.parquet')"
                    )

                def vhash(cols, rows):
                    order = sorted(range(len(cols)), key=lambda i: cols[i])
                    canon = sorted(
                        "|".join(repr(r[i]) for i in order) for r in rows
                    )
                    return hashlib.sha256("\n".join(canon).encode()).hexdigest()

                osql = em.oracle_sql()
                for name in qs:
                    df = qs[name](spark, args.sf_dir)
                    rows = [tuple(r) for r in df.collect()]
                    counts[name] = len(rows)
                    rel = con.sql(osql[name])
                    drows = rel.fetchall()
                    if len(rows) != len(drows) or vhash(df.columns, rows) != vhash(
                        rel.columns, drows
                    ):
                        mismatched.append(name)
                assert not mismatched, f"oracle mismatch on cluster: {mismatched}"
                result["oracle_hash_matches"] = len(counts)
            else:
                for name in HEADLINE:
                    df = qs[name](spark, args.sf_dir)
                    rows = df.collect()
                    assert df.columns, f"{name}: empty schema"
                    counts[name] = len(rows)
            # the smoke's point: this ran on a real cluster, not local
            assert not spark.sparkContext.master.startswith("local"), (
                "session fell back to local mode"
            )
            result.update(
                ok=True,
                queries=counts,
                sf_dir=args.sf_dir,
                executors=2,
                master_mode=spark.sparkContext.master,
            )
        finally:
            spark.stop()
    finally:
        for p in procs:
            try:
                os.killpg(p.pid, signal.SIGTERM)
            except OSError:
                pass
        for p in procs:
            try:
                p.wait(timeout=10)
            except subprocess.TimeoutExpired:
                try:
                    os.killpg(p.pid, signal.SIGKILL)
                except OSError:
                    pass
    print(json.dumps(result))
    return 0 if result["ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
