"""Seeded input generators for the workloads.

Everything here is benchmark-side: it writes plain parquet / JSONL files
that the engine then reads through its public entry points. Nothing in
this module imports ``via_spark`` or Spark, so input generation never
shares a timer with the program under test.

* :class:`OtelFeed` — 60-s windows of OTel-JSONL at the reference's
  100 logs/s design rate, with steady patterns plus the otel_mock
  injection mix (novel FATAL, frequency spike, stack traces, latency).
* :func:`write_corpus` — a fresh documents + embeddings corpus with
  planted near-duplicate families, one per dedup pass.
"""

from __future__ import annotations

import json
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SYLLABLES = [a + b for a in "bcdfghklmnprstvz" for b in "aeiou"]


def vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct pronounceable letter-only words."""
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        words.add("".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), k)))
    return sorted(words)


def _letters(i: int, width: int = 4) -> str:
    """Base-26 letter code for ``i`` (digit-free template marker)."""
    out = []
    for _ in range(width):
        i, r = divmod(i, 26)
        out.append(string.ascii_lowercase[r])
    return "".join(reversed(out))


# --- dedup corpora -----------------------------------------------------------

def _write_documents(out_dir: str, rng: np.random.Generator, docs: list[str]) -> None:
    n = len(docs)
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(docs),
        "lang": pa.array([["en", "en", "de", "fr", "es", "zh"][i] for i in rng.integers(0, 6, n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(d) for d in docs], dtype=np.int64)),
    })
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))


def _write_embeddings(out_dir: str, rng: np.random.Generator, vecs: np.ndarray,
                      labels: np.ndarray) -> None:
    vecs = vecs.astype(np.float32)
    flat = pa.array(vecs.reshape(-1))
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    table = pa.table({
        "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels.astype(np.int32)),
    })
    pq.write_table(table, os.path.join(out_dir, "embeddings.parquet"))


def write_corpus(out_dir: str, seed: int, n_docs: int, n_families: int,
                 family_size: int) -> dict:
    """One fresh dedup corpus: ``n_docs`` documents (and as many 64-d
    embeddings) of which ``n_families`` families of ``family_size`` rows
    are planted duplicates — member 0 is the original, every other
    member an EXACT copy of its text and its vector (so every dedup
    kernel must pair them, whatever its recall dial). The remaining rows
    are unique: words drawn from a large vocabulary, vectors drawn
    independently. Returns the planted pairs for the recovery check."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    words = vocabulary(rng, 4000)
    docs = [" ".join(words[j] for j in rng.integers(0, len(words), int(rng.integers(20, 80))))
            for _ in range(n_docs)]
    vecs = rng.normal(0.0, 0.12, (n_docs, 64))
    labels = rng.integers(0, 10, n_docs)
    pairs = []
    heads = rng.choice(n_docs // family_size, n_families, replace=False) * family_size
    for h in heads:
        for m in range(1, family_size):
            docs[h + m] = docs[h]
            vecs[h + m] = vecs[h]
            pairs.append((int(h), int(h + m)))
    _write_documents(out_dir, rng, docs)
    _write_embeddings(out_dir, rng, vecs, labels)
    return {"rows": 2 * n_docs, "pairs": pairs}


# --- OTel feed (cadence) -----------------------------------------------------

SERVICES = ["auth-service", "payment-service", "api-gateway", "user-service",
            "notification-service", "db-cluster"]
_STEADY = [
    ("INFO", "request served path /api/orders/{n} status {n} in {n} ms"),
    ("INFO", "user {n} logged in from {ip}"),
    ("INFO", "cache refresh completed with {n} entries"),
    ("DEBUG", "heartbeat ok seq {n}"),
    ("DEBUG", "pool stats active {n} idle {n}"),
    ("WARN", "slow query took {n} ms on shard {n}"),
    ("WARN", "retrying connection to {ip} attempt {n}"),
    ("ERROR", "payment declined for order {n} code {n}"),
]
_LATENCY = ("INFO", "request latency degraded p99 {n} ms")
_STACK = ("ERROR", "java.lang.IllegalStateException: worker {n} failed\n"
                   "\tat com.via.Worker.run(Worker.java:{n})\n"
                   "\tat java.lang.Thread.run(Thread.java:{n})")
_SPIKE = ("ERROR", "Service Unavailable: Upstream failure - retrying {n}")
_NOVEL = ("FATAL", "Quantum entanglement collapse in sector {code}")

# otel_mock injection rates (BASELINE.md): novel 0.2 %, stack trace 0.5 %,
# frequency spike 1 %, latency 2 %
NOVEL_RATE, STACK_RATE, SPIKE_RATE, LATENCY_RATE = 0.002, 0.005, 0.01, 0.02
#: background rate of the spike template on every service (so a spike is
#: a FREQUENCY anomaly of a known pattern, not a novelty)
SPIKE_BACKGROUND = 2
WINDOW_SEC = 60
RATE_PER_S = 100  # the reference streamer's design rate (BASELINE.md)
FEED_EPOCH_S = 1_767_225_600  # 2026-01-01T00:00:00Z


class OtelFeed:
    """Deterministic 60-s windows of OTel-JSONL envelopes.

    Steady patterns (every template × service) appear a FIXED number of
    times per window at evenly spaced offsets, so their per-window count
    equals their baseline mean and no steady pattern can cross the
    detector's mean + 2.5·std frequency bar or its novelty test. Each
    window then plants, at the otel_mock rates:

    * one novel FATAL pattern whose template carries a window-specific
      letter code (absent from every earlier window → novelty);
    * a frequency spike of the retry-failure ERROR pattern on one
      service, rotating through the services so the previous window's
      spike (inside the next window's baseline) never hides this one;
    * multi-line stack traces and latency-degraded lines, spread over
      all services at fixed per-window counts (steady, never flagged).
    """

    def __init__(self, seed: int):
        self.seed = seed
        self.per_window = RATE_PER_S * WINDOW_SEC
        self.epoch = FEED_EPOCH_S + (seed % 1000) * 86_400
        rng = np.random.default_rng(seed)
        self.code_base = int(rng.integers(0, 26 ** 4 // 2))
        self.spike_offset = int(rng.integers(0, len(SERVICES)))

    def planted(self, w: int) -> dict[tuple[str, str, str], str]:
        """(anomaly_type, service, severity) → body marker planted in window ``w``."""
        return {
            ("novelty", self._novel_service(w), _NOVEL[0]):
                _NOVEL[1].format(code=_letters(self.code_base + w)),
            ("frequency", self._spike_service(w), _SPIKE[0]):
                _SPIKE[1].split(" - ")[0],
        }

    def _novel_service(self, w: int) -> str:
        return SERVICES[(self.spike_offset + w + 3) % len(SERVICES)]

    def _spike_service(self, w: int) -> str:
        return SERVICES[(self.spike_offset + w) % len(SERVICES)]

    def window_start(self, w: int) -> int:
        return self.epoch + w * WINDOW_SEC

    def records(self, w: int) -> list[tuple[str, str, str]]:
        """(service, severity, body template) for every line of window
        ``w``, before timestamps and number filling."""
        n = self.per_window
        n_novel = int(n * NOVEL_RATE)
        n_stack = int(n * STACK_RATE)
        n_spike = int(n * SPIKE_RATE)
        n_lat = int(n * LATENCY_RATE)
        out = [(self._novel_service(w), *_NOVEL)] * n_novel
        out += [(self._spike_service(w), *_SPIKE)] * n_spike
        out += [(s, *_SPIKE) for s in SERVICES for _ in range(SPIKE_BACKGROUND)]
        out += [(SERVICES[i % len(SERVICES)], *_STACK) for i in range(n_stack)]
        out += [(SERVICES[i % len(SERVICES)], *_LATENCY) for i in range(n_lat)]
        combos = [(s, sev, body) for s in SERVICES for sev, body in _STEADY]
        rest = n - len(out)
        out += [combos[i % len(combos)] for i in range(rest)]
        return out

    def write_window(self, w: int, out_dir: str) -> int:
        """Land window ``w`` as one JSONL file (written aside, then
        renamed in, so a streaming file source never sees a partial
        file). Returns the number of envelopes landed."""
        rng = np.random.default_rng((self.seed, w))
        recs = self.records(w)
        n = len(recs)
        t0 = self.window_start(w)
        code = _letters(self.code_base + w)
        # planted lines sit inside [t0 + 5, t0 + 55) so they never spill
        # into a neighbouring window's inclusive detection range
        offsets_ns = np.empty(n, dtype=np.int64)
        for i, (_, sev, body) in enumerate(recs):
            planted = body in (_NOVEL[1], _SPIKE[1])
            lo, hi = (5.0, 55.0) if planted else (0.0, 60.0)
            offsets_ns[i] = int((lo + (hi - lo) * ((i * 0.618034) % 1.0)) * 1e9)
        offsets_ns += rng.integers(0, 1000, n)
        order = np.argsort(offsets_ns, kind="stable")
        nums = rng.integers(1, 100_000, (n, 4))
        lines = []
        for i in order:
            svc, sev, body = recs[i]
            text = _fill(body, nums[i], code)
            ts_ns = t0 * 1_000_000_000 + int(offsets_ns[i])
            lines.append(json.dumps(_envelope(svc, sev, text, ts_ns)))
        os.makedirs(out_dir, exist_ok=True)
        final = os.path.join(out_dir, f"window-{w:06d}.jsonl")
        tmp = os.path.join(os.path.dirname(out_dir.rstrip("/")), f".window-{w:06d}.tmp")
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.replace(tmp, final)
        return n


def _fill(body: str, nums: np.ndarray, code: str) -> str:
    """Fill a body template: each ``{n}`` gets its own number, ``{ip}`` an
    IPv4 address, ``{code}`` the window's letter code."""
    parts = body.split("{n}")
    text = parts[0] + "".join(str(int(nums[k % 4]) + k) + p for k, p in enumerate(parts[1:]))
    ip = f"10.{nums[1] % 256}.{nums[2] % 256}.{nums[3] % 256}"
    return text.replace("{ip}", ip).replace("{code}", code)


def _envelope(service: str, severity: str, body: str, ts_ns: int) -> dict:
    """One OTel log record in the reference's envelope shape (FIXTURES.md A1)."""
    return {"resourceLogs": [{
        "resource": {"attributes": [
            {"key": "host.name", "value": {"stringValue": "bench-host"}},
            {"key": "service.name", "value": {"stringValue": service}},
        ]},
        "scopeLogs": [{"logRecords": [{
            "timeUnixNano": str(ts_ns),
            "severityText": severity,
            "body": {"stringValue": body},
        }]}],
    }]}
