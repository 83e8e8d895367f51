"""Text scalar functions: log templating, rhythm hashing, tokenizing.

Capability parity (semantics, not code) with the reference:
* template      — reference ``app/services/ingestion_service.py:16-21``
* rhythm_hash   — reference ``app/services/ingestion_service.py:23-28``
* severity_number — reference ``generate_logs.py:59``

Everything is a native Column expression (regexp_replace / sha2 /
concat), so it runs inside whole-stage codegen — no Python in the
per-row path, which is the difference between 100 TB working and not.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Masking regexes — applied IN THIS ORDER (UUID, then IPv4, then bare
# integers), matching the reference's three re.sub passes. The patterns
# are valid in both Java regex (Spark) and RE2 (DuckDB oracle).
UUID_RE = r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\b"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
INT_RE = r"\b\d+\b"

SEVERITY_NUMBER = {"DEBUG": 5, "INFO": 9, "WARN": 13, "ERROR": 17, "FATAL": 21}


def template(body: Column | str) -> Column:
    """Mask variable parts of a log body: UUIDs → '*', IPv4 → '*', ints → '*'."""
    col = F.col(body) if isinstance(body, str) else body
    out = F.regexp_replace(col, UUID_RE, "*")
    out = F.regexp_replace(out, IPV4_RE, "*")
    out = F.regexp_replace(out, INT_RE, "*")
    return out


def rhythm_hash(service: Column | str, severity: Column | str, tmpl: Column | str) -> Column:
    """``sha256(template)[:16] + ':' + sha256(service + ':' + severity)[:16]``."""
    svc = F.col(service) if isinstance(service, str) else service
    sev = F.col(severity) if isinstance(severity, str) else severity
    tm = F.col(tmpl) if isinstance(tmpl, str) else tmpl
    template_hash = F.substring(F.sha2(tm, 256), 1, 16)
    structural_hash = F.substring(F.sha2(F.concat_ws(":", svc, sev), 256), 1, 16)
    return F.concat(template_hash, F.lit(":"), structural_hash)


def severity_number(severity: Column | str) -> Column:
    """OTel severity text → number ({DEBUG:5, INFO:9, WARN:13, ERROR:17, FATAL:21})."""
    col = F.col(severity) if isinstance(severity, str) else severity
    mapping = F.create_map(
        *[F.lit(x) for kv in SEVERITY_NUMBER.items() for x in kv]
    )
    # element_at, not getItem: getItem with a Column key is deprecated
    # (warned on every bench run) and both are null-safe on a miss
    return F.element_at(mapping, col).cast("int")


def tokens(text: Column | str) -> Column:
    """Lowercased whitespace tokens with empties removed.

    This is THE pinned tokenizer for Simhash / BM25 / text stats
    (deterministic, SQL-expressible — see SURVEY.md §7.4 decision 3).
    """
    col = F.col(text) if isinstance(text, str) else text
    return F.array_remove(F.split(F.lower(col), r"\s+"), "")


def tokens_sql(text: str) -> str:
    r""":func:`tokens` as SQL text over the SQL expression ``text``, for
    higher-order functions written as one SQL string. The regex literal
    is escaped once more for the SQL parser (``'\\s+'`` parses to the
    regex ``\s+``)."""
    return rf"array_remove(split(lower({text}), '\\s+'), '')"
