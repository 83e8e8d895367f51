"""Tracing for the per-layer run: in-memory spans around calls into each
layer's public functions, and a parser for Spark's own event log.

Spans live in a list until the run ends and are then written as JSON.
A span records its name, start, end, parent span and the operation it
belongs to; every operation runs under its own Spark job group, which
is how the event log's task metrics are joined back to it.

Layers and the boundaries wrapped here (the benchmark's own files only;
nothing in the engine is instrumented):

* L0 driver build — the query builder / API call / stream start,
  timed until the first Spark job of its group is submitted;
* session — every ``DataFrameReader.parquet`` call (count and time);
* L1 optimize — ``queryExecution().executedPlan()`` forced before the
  action, on the very frame the action then runs (the plan is cached on
  it, so nothing is planned twice);
* store — ``via_spark.store.cluster_labels``, the store a pass builds;
* dedup — ``neardup_scored_candidates``, whose frame is kept so the
  candidates can be counted after the pass;
* L3/L4 and functions — per-job-group aggregates of the event log's
  task metrics and of the Python-evaluation SQL metrics.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    """Span recorder. Disabled spans cost one attribute test, so the
    wrappers can stay installed while untraced passes run."""

    def __init__(self) -> None:
        self.enabled = False
        self.op: str | None = None
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        #: (operation, return value) of wrapped calls made with capture on
        self.captured: list[tuple[str | None, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "parent": stack[-1]["id"] if stack else None,
               "op": self.op, "start": time.time(), **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    def wrap(self, owner: object, attr: str, name: str, capture: bool = False) -> None:
        """Replace ``owner.attr`` by a spanned wrapper (undone by :meth:`close`);
        with ``capture``, traced calls also keep their return value."""
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
            if capture and self.enabled:
                self.captured.append((self.op, out))
            return out

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def install_layer_spans(tracer: Tracer) -> None:
    """Wrap each layer's public entry points named in the module docstring."""
    from pyspark.sql.readwriter import DataFrameReader

    from via_spark import store
    from via_spark.operators import dedup

    tracer.wrap(DataFrameReader, "parquet", "session.read_parquet")
    tracer.wrap(store, "cluster_labels", "store.cluster_labels")
    tracer.wrap(dedup, "neardup_scored_candidates", "dedup.scored_candidates", capture=True)


# --- event log ----------------------------------------------------------------

_PY_NODE_MARKERS = ("Python", "InPandas", "InArrow", "ArrowEval")
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def _python_row_accumulators(plan: dict, out: set) -> None:
    """Accumulator ids of the output-row metrics of Python-evaluation nodes."""
    if any(m in plan.get("nodeName", "") for m in _PY_NODE_MARKERS):
        out.update(m["accumulatorId"] for m in plan.get("metrics", ())
                   if m["name"] == "number of output rows")
    for child in plan.get("children", ()):
        _python_row_accumulators(child, out)


class GroupStats:
    """Event-log aggregates for one Spark job group."""

    __slots__ = ("jobs", "stages", "tasks", "first_submit_ms", "row_accs", "scheduler_delay_s",
                 "executor_run_s", "executor_cpu_s", "gc_s", "spill_mb",
                 "shuffle_read_mb", "shuffle_write_mb", "python_bytes", "python_rows")

    def __init__(self) -> None:
        self.jobs = 0
        self.stages: set[int] = set()
        self.tasks = 0
        self.first_submit_ms = float("inf")
        #: output-row accumulator id → rows, resolved to python_rows at the end
        self.row_accs: dict[int, float] = defaultdict(float)
        for k in self.__slots__[5:]:
            setattr(self, k, 0.0)

    def as_dict(self) -> dict:
        return {k: len(getattr(self, k)) if k == "stages" else getattr(self, k)
                for k in self.__slots__ if k != "row_accs"}


def parse_event_log(path: str) -> dict[str, GroupStats]:
    """Aggregate an uncompressed, non-rolling Spark event log by job group.

    A plan can arrive after the tasks that updated its metrics (AQE
    re-plans of cached relations), so Python output rows are resolved
    against the plan nodes only once the whole log is read."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    py_rows: set[int] = set()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if gid is None:
                    continue
                g = groups[gid]
                g.jobs += 1
                g.first_submit_ms = min(g.first_submit_ms, ev["Submission Time"])
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, gid)
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _python_row_accumulators(ev.get("sparkPlanInfo", {}), py_rows)
            elif kind == "SparkListenerTaskEnd":
                gid = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if gid is None or not m:
                    continue
                g = groups[gid]
                info = ev["Task Info"]
                g.tasks += 1
                g.stages.add(ev["Stage ID"])
                run_ms = m["Executor Run Time"]
                getting = (info["Finish Time"] - info["Getting Result Time"]
                           if info.get("Getting Result Time") else 0)
                delay = (info["Finish Time"] - info["Launch Time"] - run_ms
                         - m["Executor Deserialize Time"] - m["Result Serialization Time"]
                         - getting)
                g.scheduler_delay_s += max(0, delay) / 1e3
                g.executor_run_s += run_ms / 1e3
                g.executor_cpu_s += m["Executor CPU Time"] / 1e9
                g.gc_s += m["JVM GC Time"] / 1e3
                g.spill_mb += (m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / 2**20
                sr = m.get("Shuffle Read Metrics", {})
                g.shuffle_read_mb += (sr.get("Remote Bytes Read", 0)
                                      + sr.get("Local Bytes Read", 0)) / 2**20
                g.shuffle_write_mb += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0) / 2**20
                for acc in info.get("Accumulables", ()):
                    if acc.get("Name") in _PY_BYTES:
                        g.python_bytes += float(acc.get("Update", 0))
                    elif acc.get("Name") == "number of output rows":
                        g.row_accs[acc["ID"]] += float(acc.get("Update", 0))
    for g in groups.values():
        g.python_rows = sum(v for k, v in g.row_accs.items() if k in py_rows)
    return groups


def find_event_log(log_dir: str, app_id: str) -> str:
    """The event-log file of application ``app_id`` under ``log_dir``."""
    for name in os.listdir(log_dir):
        if app_id in name and not name.endswith(".inprogress"):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")
