"""DuckDB oracle SQL for every SQL-expressible query in __spark_entry__.

Each string must produce EXACTLY the rows/columns of the matching Spark
query at the same sf_dir (the driver hash-compares sorted values).
Shared building blocks live here so Spark code and oracle SQL pin the
same constants (window sizes, regexes, thresholds).

Portability rules used throughout:
* epoch seconds = integer division (``epoch_us(ts) // 1000000`` in
  DuckDB vs ``ts div 1000000000`` on Spark's nanos-as-long) — exact.
* doubles that reach the output are either products/quotients of
  identical inputs (IEEE-deterministic in both engines) or rounded
  half-up via ``floor(x*10+0.5)/10`` before printf-formatting.
* regexes restricted to the Java∩RE2 common subset.
"""

from __future__ import annotations

from via_spark.functions.text import INT_RE, IPV4_RE, UUID_RE
from via_spark.operators.rhythm import (
    DEFAULT_WINDOW_SEC,
    FREQUENCY_MIN_COUNT,
    FREQUENCY_STD_DEV_FACTOR,
    HISTORICAL_SAMPLE_SIZE,
    NOVELTY_MIN_COUNT,
)

# The fixture `events` table viewed as a tier1 log store — mirrors
# via_spark.operators.rhythm.tier1_from_events exactly.
TIER1_CTE = f"""
tier1_raw AS (
    SELECT
        event_id,
        epoch_us(ts) // 1000000 AS ts,
        'svc_' || CAST(user_id AS VARCHAR) AS service,
        event_type AS severity,
        event_type || ' value=' || printf('%.2f', value) || ' ' || props AS body
    FROM events
),
tier1 AS (
    SELECT
        *,
        regexp_replace(
          regexp_replace(
            regexp_replace(body, '{UUID_RE}', '*', 'g'),
          '{IPV4_RE}', '*', 'g'),
        '{INT_RE}', '*', 'g') AS template
    FROM tier1_raw
),
hashed AS (
    SELECT
        *,
        substr(sha256(template), 1, 16) || ':' ||
        substr(sha256(service || ':' || severity), 1, 16) AS rhythm_hash
    FROM tier1
)
"""

# now/window/baseline CTEs shared by the rhythm queries.
def _rhythm_prelude(window_sec: int, sample_size: int = HISTORICAL_SAMPLE_SIZE) -> str:
    return f"""
WITH {TIER1_CTE},
params AS (SELECT max(ts) AS now_ts FROM hashed),
recent AS (
    SELECT h.* FROM hashed h, params p
    WHERE h.ts BETWEEN p.now_ts - {window_sec} AND p.now_ts
),
baseline AS (
    SELECT h.* FROM hashed h, params p
    WHERE h.ts < p.now_ts - {window_sec}
    ORDER BY h.ts DESC, h.event_id DESC
    LIMIT {sample_size}
),
bounds AS (
    SELECT max(ts) AS newest_ts, min(ts) AS oldest_ts, count(*) AS n_points
    FROM baseline
),
scale AS (
    SELECT
        CAST({window_sec} AS DOUBLE) /
        greatest(CAST(1 AS BIGINT), newest_ts - oldest_ts) AS scaling_factor,
        n_points
    FROM bounds
),
stats AS (
    SELECT
        b.rhythm_hash,
        count(*) * s.scaling_factor AS mean,
        greatest(1.5, sqrt(count(*) * s.scaling_factor)) AS std_dev
    FROM baseline b, scale s
    WHERE s.n_points >= 2
    GROUP BY b.rhythm_hash, s.scaling_factor
),
recent_counts AS (
    SELECT rhythm_hash, count(*) AS r_count FROM recent GROUP BY rhythm_hash
),
rep AS (
    SELECT rhythm_hash, ts, service, severity, body
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY rhythm_hash ORDER BY ts ASC, event_id ASC) AS _rn
        FROM recent
    ) WHERE _rn = 1
)
"""


def tier1_view_sql() -> str:
    """Oracle for the tier1 projection itself (F1 template + F2 hash)."""
    return f"WITH {TIER1_CTE} SELECT event_id, ts, service, severity, body, template, rhythm_hash FROM hashed"


def rhythm_recent_counts_sql(window_sec: int = DEFAULT_WINDOW_SEC) -> str:
    return _rhythm_prelude(window_sec) + "SELECT rhythm_hash, r_count FROM recent_counts"


def rhythm_baseline_stats_sql(window_sec: int = DEFAULT_WINDOW_SEC) -> str:
    return _rhythm_prelude(window_sec) + "SELECT rhythm_hash, mean, std_dev FROM stats"


def _anomalies_cte(
    novelty_min_count: int,
    frequency_min_count: int,
    std_dev_factor: float,
) -> str:
    """J1+J2 classification as a CTE fragment (appended to _rhythm_prelude)."""
    return f"""
, joined AS (
    SELECT c.rhythm_hash, c.r_count, r.ts, r.service, r.severity, r.body,
           s.mean, s.std_dev,
           s.mean + s.std_dev * CAST({std_dev_factor!r} AS DOUBLE) AS threshold
    FROM recent_counts c
    JOIN rep r USING (rhythm_hash)
    LEFT JOIN stats s USING (rhythm_hash)
),
anomalies AS (
    SELECT
        rhythm_hash, service, severity, body, ts,
        CASE WHEN mean IS NULL THEN 'novelty' ELSE 'frequency' END AS anomaly_type,
        CASE WHEN mean IS NULL
             THEN 'New pattern seen ' || CAST(r_count AS VARCHAR) || ' times.'
             ELSE 'Count ' || CAST(r_count AS VARCHAR) ||
                  ' breached threshold of ' || printf('%.1f', floor(threshold*10 + 0.5)/10) ||
                  ' (normalized μ=' || printf('%.1f', floor(mean*10 + 0.5)/10) ||
                  ', σ=' || printf('%.1f', floor(std_dev*10 + 0.5)/10) || ')'
        END AS anomaly_context,
        r_count
    FROM joined
    WHERE (mean IS NULL AND r_count >= {novelty_min_count})
       OR (mean IS NOT NULL AND r_count > threshold AND r_count >= {frequency_min_count})
)
"""


def rhythm_anomalies_sql(
    window_sec: int = DEFAULT_WINDOW_SEC,
    sample_size: int = HISTORICAL_SAMPLE_SIZE,
    novelty_min_count: int = NOVELTY_MIN_COUNT,
    frequency_min_count: int = FREQUENCY_MIN_COUNT,
    std_dev_factor: float = FREQUENCY_STD_DEV_FACTOR,
) -> str:
    """The flagship: novelty (J1) + frequency (J2) detection with the
    reference's anomaly_context strings."""
    return (
        _rhythm_prelude(window_sec, sample_size)
        + _anomalies_cte(novelty_min_count, frequency_min_count, std_dev_factor)
        + """
SELECT rhythm_hash, service, severity, body, ts, anomaly_type, anomaly_context, r_count
FROM anomalies
"""
    )


def _tier2_clusters_chain(
    window_sec: int = DEFAULT_WINDOW_SEC,
    sample_size: int = 2000,
    novelty_min_count: int = 1,
    frequency_min_count: int = FREQUENCY_MIN_COUNT,
    std_dev_factor: float = FREQUENCY_STD_DEV_FACTOR,
) -> str:
    """Full WITH chain ending in clusters(…tier2 columns…) — the
    detection→promotion pipeline as reusable oracle CTEs."""
    return (
        _rhythm_prelude(window_sec, sample_size)
        + _anomalies_cte(novelty_min_count, frequency_min_count, std_dev_factor)
        + """
, member AS (
    SELECT r.* FROM recent r
    JOIN (SELECT DISTINCT rhythm_hash FROM anomalies) a USING (rhythm_hash)
),
agg AS (
    SELECT rhythm_hash,
           min(ts) AS start_ts,
           max(ts) AS end_ts,
           count(*) AS "count",
           list_slice(
               list(to_json(struct_pack(
                        event_id := event_id, ts := ts, service := service,
                        severity := severity, body := body))
                    ORDER BY ts, event_id),
               1, 5) AS sample_logs
    FROM member GROUP BY rhythm_hash
),
clusters AS (
    SELECT 'event_cluster' AS entity_type,
           rhythm_hash, start_ts, end_ts, "count",
           service, severity, anomaly_type, anomaly_context, body, sample_logs,
           DATE '1970-01-01' + CAST(start_ts // 86400 AS INTEGER) AS event_date
    FROM anomalies JOIN agg USING (rhythm_hash)
)
"""
    )


def promotion_rollup_sql(**kwargs) -> str:
    """A3/S5: member logs of each anomalous hash rolled into one tier2
    cluster row (sample_logs = first 5 serialized logs by ts, event_id).
    ``sample_logs`` is newline-joined to a flat string to mirror the
    driver-facing ``promotion_rollup_flat`` shape."""
    return _tier2_clusters_chain(**kwargs) + (
        "SELECT * REPLACE (array_to_string(sample_logs, chr(10)) AS sample_logs) "
        "FROM clusters"
    )


def _tier2_daily_chain(
    window_sec: int = DEFAULT_WINDOW_SEC,
    sample_size: int = 2000,
    novelty_min_count: int = 1,
    frequency_min_count: int = FREQUENCY_MIN_COUNT,
    std_dev_factor: float = FREQUENCY_STD_DEV_FACTOR,
) -> str:
    """Detection → per-day rollup (promote.daily_rollup): one cluster
    row per (rhythm_hash, event_date) over each anomalous hash's full
    history — ends in ``daily(…tier2 columns…)``."""
    return (
        _rhythm_prelude(window_sec, sample_size)
        + _anomalies_cte(novelty_min_count, frequency_min_count, std_dev_factor)
        + """
, dmember AS (
    SELECT h.*, DATE '1970-01-01' + CAST(ts // 86400 AS INTEGER) AS event_date
    FROM hashed h
    JOIN (SELECT DISTINCT rhythm_hash FROM anomalies) a USING (rhythm_hash)
),
dreps AS (
    SELECT rhythm_hash, event_date, service, severity, body
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY rhythm_hash, event_date ORDER BY ts, event_id) AS _rn
        FROM dmember
    ) WHERE _rn = 1
),
dagg AS (
    SELECT rhythm_hash, event_date,
           min(ts) AS start_ts,
           max(ts) AS end_ts,
           count(*) AS "count",
           list_slice(
               list(to_json(struct_pack(
                        event_id := event_id, ts := ts, service := service,
                        severity := severity, body := body))
                    ORDER BY ts, event_id),
               1, 5) AS sample_logs
    FROM dmember GROUP BY rhythm_hash, event_date
),
daily AS (
    SELECT 'event_cluster' AS entity_type,
           rhythm_hash, start_ts, end_ts, "count",
           r.service, r.severity, an.anomaly_type, an.anomaly_context, r.body,
           sample_logs, event_date
    FROM dagg
    JOIN dreps r USING (rhythm_hash, event_date)
    JOIN (SELECT DISTINCT rhythm_hash, anomaly_type, anomaly_context
          FROM anomalies) an USING (rhythm_hash)
)
"""
    )


def forensic_clusters_windowed_sql(
    lo_days: int | None = None, hi_days: int | None = None, **kwargs
) -> str:
    """S8: time-windowed scan of the daily tier2 store — window bounds
    derived from the same max-ts 'now' the Spark side collects; must
    mirror forensic.clusters_windowed / promote.read_tier2 exactly."""
    from via_spark.operators.forensic import WINDOWED_HI_DAYS, WINDOWED_LO_DAYS

    lo_days = WINDOWED_LO_DAYS if lo_days is None else lo_days
    hi_days = WINDOWED_HI_DAYS if hi_days is None else hi_days
    return _tier2_daily_chain(**kwargs) + f"""
SELECT entity_type, rhythm_hash, start_ts, end_ts, "count",
       service, severity, anomaly_type, anomaly_context, body,
       array_to_string(sample_logs, chr(10)) AS sample_logs, event_date
FROM daily, params p
WHERE start_ts BETWEEN p.now_ts - {lo_days * 86400}
                   AND p.now_ts - {hi_days * 86400}
"""


# ---------------------------------------------------------------------------
# Relational core oracles (via_spark.operators.relational)
# ---------------------------------------------------------------------------

# 1e-6 fixed-point helpers for reorder-stable money sums; must mirror
# via_spark.operators.relational.fixed6 exactly.
_FIX = "CAST(floor(({expr}) * 1000000) AS BIGINT)"


def _fixsum(expr: str, alias: str) -> str:
    return f"sum({_FIX.format(expr=expr)}) / 1000000.0 AS {alias}"


def time_range_orders_sql() -> str:
    return """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
FROM orders
WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                      AND TIMESTAMP '1996-12-31 23:59:59'
"""


def keyword_filter_customers_sql() -> str:
    return """
SELECT c_custkey, c_name, c_acctbal
FROM customer WHERE c_mktsegment = 'BUILDING'
"""


def fulltext_match_documents_sql() -> str:
    return r"""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE list_contains(string_split_regex(lower(text), '\s+'), 'hash')
  AND list_contains(string_split_regex(lower(text), '\s+'), 'merge')
"""


def live_tail_documents_sql(needle: str = "spark", limit: int = 50) -> str:
    return f"""
SELECT doc_id, text FROM documents
WHERE contains(lower(text), '{needle.lower()}')
ORDER BY doc_id DESC LIMIT {limit}
"""


def malformed_filter_events_sql() -> str:
    return """
SELECT event_id, event_type, k FROM (
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
) WHERE k IS NOT NULL AND k > 80
"""


_SEV_CASE = """
CASE event_type
    WHEN 'error' THEN 'ERROR' WHEN 'purchase' THEN 'WARN'
    WHEN 'signup' THEN 'INFO' WHEN 'click' THEN 'DEBUG'
    WHEN 'view' THEN 'DEBUG' END
"""

_SEVNUM_CASE = """
CASE severity
    WHEN 'DEBUG' THEN 5 WHEN 'INFO' THEN 9 WHEN 'WARN' THEN 13
    WHEN 'ERROR' THEN 17 WHEN 'FATAL' THEN 21 END
"""


def severity_histogram_sql() -> str:
    return f"""
SELECT severity, CAST({_SEVNUM_CASE} AS INTEGER) AS severity_number, count(*) AS n
FROM (SELECT {_SEV_CASE} AS severity FROM events)
GROUP BY 1, 2
"""


def json_payload_shaping_sql(limit: int = 100) -> str:
    return f"""
SELECT event_id,
       to_json(struct_pack(event_id := event_id, event_type := event_type,
                           user_id := user_id)) AS payload_json
FROM events ORDER BY event_id ASC LIMIT {limit}
"""


def newest_events_sql(n: int = 1000) -> str:
    return f"""
SELECT event_id, epoch_us(ts) // 1000000 AS ts_sec
FROM events ORDER BY ts_sec DESC, event_id DESC LIMIT {n}
"""


def pricing_summary_sql() -> str:
    disc = "l_extendedprice * (1 - l_discount)"
    charge = f"({disc}) * (1 + l_tax)"
    return f"""
SELECT l_returnflag, l_linestatus,
       {_fixsum('l_quantity', 'sum_qty')},
       {_fixsum('l_extendedprice', 'sum_base_price')},
       {_fixsum(disc, 'sum_disc_price')},
       {_fixsum(charge, 'sum_charge')},
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def shipping_priority_sql() -> str:
    rev = "l_extendedprice * (1 - l_discount)"
    return f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {_fixsum(rev, 'revenue')}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-03-15'
  AND l_shipdate  > TIMESTAMP '1996-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
LIMIT 10
"""


def local_supplier_volume_sql() -> str:
    rev = "l_extendedprice * (1 - l_discount)"
    return f"""
SELECT n_name, {_fixsum(rev, 'revenue')}
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                      AND TIMESTAMP '1996-12-31 23:59:59'
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# Vector / simhash / BM25 oracles (via_spark.operators.{vector,search})
# ---------------------------------------------------------------------------

# documents tokenized with the pinned tokenizer (functions.text.tokens)
DOC_TOKS_CTE = r"""
dtok AS (
    SELECT *, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
    FROM documents
)
"""

# fixed-point elementwise products (must mirror operators.vector exactly)
_DOT9 = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "s -> CAST(floor(CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)*1000000000.0) AS BIGINT)))"
)
_COS = (
    "CASE WHEN {na} = 0 OR {nb} = 0 THEN 0.0 "
    "ELSE CAST({d} AS DOUBLE)/(sqrt(CAST({na} AS DOUBLE))*sqrt(CAST({nb} AS DOUBLE))) END"
)


def _knn_scored_cte(query_id: int) -> str:
    return f"""
WITH e AS (SELECT * FROM embeddings),
q AS (SELECT embedding AS qe FROM e WHERE vec_id = {query_id}),
scored AS (
    SELECT e.vec_id, e.label,
           {_DOT9.format(a="e.embedding", b="q.qe")} AS d_fix,
           {_DOT9.format(a="e.embedding", b="e.embedding")} AS na_fix,
           {_DOT9.format(a="q.qe", b="q.qe")} AS nb_fix
    FROM e, q
),
cos AS (
    SELECT vec_id, label,
           {_COS.format(d="d_fix", na="na_fix", nb="nb_fix")} AS score
    FROM scored
)
"""


def knn_cosine_topk_sql(query_id: int = 0, k: int = 25) -> str:
    return (
        _knn_scored_cte(query_id)
        + f"""
SELECT vec_id, label, score FROM cos
WHERE vec_id <> {query_id}
ORDER BY score DESC, vec_id ASC LIMIT {k}
"""
    )


def grouped_knn_top1_sql(query_id: int = 0, limit: int = 100) -> str:
    return (
        _knn_scored_cte(query_id)
        + f"""
SELECT label, vec_id, score FROM (
    SELECT *, row_number() OVER (
        PARTITION BY label ORDER BY score DESC, vec_id ASC) AS _rn
    FROM cos
) WHERE _rn = 1
ORDER BY score DESC, label ASC LIMIT {limit}
"""
    )


def recommend_average_vector_sql(
    positive=(0, 1), negative=(2,), k: int = 50
) -> str:
    pos = ", ".join(str(i) for i in positive)
    neg = ", ".join(str(i) for i in negative)
    all_ids = ", ".join(str(i) for i in list(positive) + list(negative))
    n_pos, n_neg = len(positive), len(negative)
    return f"""
WITH e AS (SELECT * FROM embeddings),
ex AS (
    SELECT vec_id, r.i,
           CAST(floor(CAST(embedding[r.i + 1] AS DOUBLE)*1000000.0) AS BIGINT) AS v
    FROM e, range(64) r(i)
),
qd AS (
    SELECT i,
           2*{n_neg}*SUM(CASE WHEN vec_id IN ({pos}) THEN v ELSE 0 END)
           - {n_pos}*SUM(CASE WHEN vec_id IN ({neg}) THEN v ELSE 0 END) AS qn
    FROM ex WHERE vec_id IN ({all_ids}) GROUP BY i
),
q AS (SELECT list(qn ORDER BY i) AS qvec, SUM(qn*qn) AS nq_fix FROM qd),
scored AS (
    SELECT e.vec_id, e.label, q.nq_fix,
           list_sum(list_transform(list_zip(e.embedding, q.qvec),
               s -> CAST(floor(CAST(s[1] AS DOUBLE)*1000000.0) AS BIGINT) * s[2])) AS d_fix,
           list_sum(list_transform(e.embedding,
               x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)
                  * CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT))) AS nx_fix
    FROM e, q WHERE e.vec_id NOT IN ({all_ids})
)
SELECT vec_id, label,
       {_COS.format(d="d_fix", na="nq_fix", nb="nx_fix")} AS score
FROM scored
ORDER BY score DESC, vec_id ASC LIMIT {k}
"""


def simhash_documents_sql() -> str:
    return f"""
WITH {DOC_TOKS_CTE},
tok AS (SELECT doc_id, unnest(toks) AS t FROM dtok WHERE len(toks) > 0),
th AS (SELECT doc_id, substr(sha256(t), 1, 16) AS h FROM tok),
votes AS (
    SELECT doc_id, r.b,
           SUM((((strpos('0123456789abcdef', substr(h, (r.b // 4) + 1, 1)) - 1)
                 >> (r.b % 4)) & 1) * 2 - 1) AS v
    FROM th, range(64) r(b) GROUP BY doc_id, r.b
),
nibs AS (
    SELECT doc_id, b // 4 AS i,
           SUM((CASE WHEN v >= 0 THEN 1 ELSE 0 END) * (1 << (b % 4))) AS nib
    FROM votes GROUP BY doc_id, b // 4
)
SELECT doc_id, string_agg(printf('%x', CAST(nib AS INTEGER)), '' ORDER BY i) AS simhash
FROM nibs GROUP BY doc_id
"""


def _bm25_scored_cte(terms) -> str:
    tf_cols = ",\n           ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf_{i}" for i, t in enumerate(terms)
    )
    df_cols = ",\n           ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}" for i in range(len(terms))
    )
    k1, k1p1, one_minus_b, b = 1.2, 2.2, 0.25, 0.75
    terms_fix = "\n         + ".join(
        f"CAST(floor((floor(ln(1 + (n_docs - df_{i} + 0.5)/(df_{i} + 0.5)) * 1000000.0)/1000000.0)"
        f" * (tf_{i} * {k1p1!r}) / (tf_{i} + {k1!r} * ({one_minus_b!r} + {b!r} * dl / (CAST(sum_dl AS DOUBLE)/n_docs)))"
        f" * 1000000000.0) AS BIGINT)"
        for i in range(len(terms))
    )
    return f"""
WITH {DOC_TOKS_CTE},
dd AS (
    SELECT doc_id, len(toks) AS dl,
           {tf_cols}
    FROM dtok
),
stats AS (
    SELECT count(*) AS n_docs, SUM(dl) AS sum_dl,
           {df_cols}
    FROM dd
),
scored AS (
    SELECT doc_id,
           {terms_fix} AS score_fix
    FROM dd, stats
)
"""


def bm25_topk_sql(terms=("hash", "merge", "spark"), k: int = 50) -> str:
    return (
        _bm25_scored_cte(terms)
        + f"""
SELECT doc_id, score_fix, CAST(score_fix AS DOUBLE)/1000000000.0 AS score
FROM scored WHERE score_fix > 0
ORDER BY score_fix DESC, doc_id ASC LIMIT {k}
"""
    )


def hybrid_rrf_sql(
    terms=("hash", "merge", "spark"), query_id: int = 0, k: int = 50,
    cut_n: int = 1000,
) -> str:
    """Mirrors the engine's cut-based fusion: each ranking limited to
    its global top-``cut_n``, ranks assigned within the cut, full-outer
    fusion with a missing side contributing 0 (NULL rank)."""
    return (
        _bm25_scored_cte(terms)
        + f"""
, e AS (SELECT * FROM embeddings),
q AS (SELECT embedding AS qe FROM e WHERE vec_id = {query_id}),
hj AS (
    SELECT s.doc_id, s.score_fix,
           {_DOT9.format(a="e.embedding", b="q.qe")} AS d_fix,
           {_DOT9.format(a="e.embedding", b="e.embedding")} AS na_fix,
           {_DOT9.format(a="q.qe", b="q.qe")} AS nb_fix
    FROM scored s JOIN e ON s.doc_id = e.vec_id, q
),
cand AS (
    SELECT doc_id, score_fix,
           {_COS.format(d="d_fix", na="na_fix", nb="nb_fix")} AS dense_score
    FROM hj
),
dense_cut AS (
    SELECT doc_id, row_number() OVER (ORDER BY dense_score DESC, doc_id ASC)
           AS rank_dense
    FROM cand ORDER BY dense_score DESC, doc_id ASC LIMIT {cut_n}
),
sparse_cut AS (
    SELECT doc_id, row_number() OVER (ORDER BY score_fix DESC, doc_id ASC)
           AS rank_sparse
    FROM cand ORDER BY score_fix DESC, doc_id ASC LIMIT {cut_n}
)
SELECT COALESCE(d.doc_id, s.doc_id) AS doc_id,
       CAST(rank_dense AS INTEGER) AS rank_dense,
       CAST(rank_sparse AS INTEGER) AS rank_sparse,
       COALESCE(1.0/(60 + rank_dense), CAST(0.0 AS DOUBLE))
       + COALESCE(1.0/(60 + rank_sparse), CAST(0.0 AS DOUBLE)) AS rrf
FROM dense_cut d FULL OUTER JOIN sparse_cut s USING (doc_id)
ORDER BY rrf DESC, doc_id ASC LIMIT {k}
"""
    )


# ---------------------------------------------------------------------------
# Control-loop + schema-inference oracles (operators.{control,schema_infer})
# ---------------------------------------------------------------------------


def suppressed_anomalies_sql(n_rules: int = 2) -> str:
    """J3/P5: sensitive novelty detection minus the top-N recent hashes."""
    return (
        _rhythm_prelude(DEFAULT_WINDOW_SEC, 2000)
        + _anomalies_cte(1, FREQUENCY_MIN_COUNT, FREQUENCY_STD_DEV_FACTOR)
        + f"""
SELECT rhythm_hash, service, severity, body, ts, anomaly_type, anomaly_context, r_count
FROM anomalies
WHERE rhythm_hash NOT IN (
    SELECT rhythm_hash FROM recent_counts
    ORDER BY r_count DESC, rhythm_hash ASC LIMIT {n_rules}
)
"""
    )


def active_rules_projection_sql(n_rules: int = 12) -> str:
    """P6: deterministic fixture-derived rules, filtered to active+unexpired."""
    return (
        _rhythm_prelude(DEFAULT_WINDOW_SEC)
        + f"""
, ranked AS (
    SELECT rhythm_hash,
           row_number() OVER (ORDER BY r_count DESC, rhythm_hash ASC) AS rn
    FROM recent_counts
    ORDER BY r_count DESC, rhythm_hash ASC LIMIT {n_rules}
),
rules AS (
    SELECT rhythm_hash,
           CASE WHEN rn % 2 = 0 THEN 'SUPPRESS' ELSE 'ALLOW_LIST' END AS rule,
           CASE WHEN rn % 3 = 2 THEN NULL
                ELSE p.now_ts + (rn % 3 * 2 - 1) * 1000 END AS expires_at,
           (rn % 4 <> 0) AS is_active
    FROM ranked, params p
)
SELECT rhythm_hash, rule, expires_at
FROM rules, params p
WHERE is_active AND (expires_at IS NULL OR expires_at > p.now_ts)
"""
    )


_EVENT_FLAT = f"""
SELECT event_id,
       'svc_' || CAST(user_id AS VARCHAR) AS service,
       {_SEV_CASE} AS severity,
       epoch_us(ts) // 1000000 AS ts,
       event_type || ' value=' || printf('%.2f', value) || ' ' || props AS body
FROM events
"""


def otel_roundtrip_sql() -> str:
    """Oracle-by-construction: parse(render(x)) must equal x."""
    return f"SELECT event_id, service, severity, body, ts FROM ({_EVENT_FLAT})"


def bgl_roundtrip_sql() -> str:
    return f"""
SELECT event_id, ts, severity AS level, service, body AS message
FROM ({_EVENT_FLAT})
"""


# ---------------------------------------------------------------------------
# Dedup / ANN oracles (via_spark.operators.dedup)
# ---------------------------------------------------------------------------

def dedup_exact_sql() -> str:
    return r"""
WITH h AS (
    SELECT doc_id,
           sha256(array_to_string(
               list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''),
               ' ')) AS text_hash
    FROM documents
)
SELECT doc_id, text_hash,
       count(*)    OVER (PARTITION BY text_hash) AS group_size,
       doc_id = min(doc_id) OVER (PARTITION BY text_hash) AS is_canonical
FROM h
"""


# token-trigram distinct shingles (mirrors dedup._shingles with n=3)
_SHINGLES_CTE = r"""
dsh AS (
    SELECT doc_id,
           list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                          for i in range(1, len(t) - 1)]) AS sh
    FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        FROM documents
    ) WHERE len(t) >= 3
)
"""


def _minhash_bands_cte(k: int = 8, bands: int = 4) -> str:
    mh = ",\n           ".join(
        f"list_min(list_transform(sh, x -> substr(sha256('{i}:' || x), 1, 16))) AS mh_{i}"
        for i in range(k)
    )
    rows = k // bands
    keys = ", ".join(
        " || '|' || ".join(f"mh_{b * rows + r}" for r in range(rows)) for b in range(bands)
    )
    from via_spark.operators.dedup import BAND_KEY_CAP

    return f"""
sig AS (
    SELECT doc_id, sh,
           {mh}
    FROM dsh
),
bands_all AS (
    SELECT doc_id, sh, r.band, [{keys}][r.band + 1] AS band_key
    FROM sig, range({bands}) r(band)
),
bands AS (
    -- hot-bucket cap, mirroring operators.dedup.capped_bands
    SELECT doc_id, sh, band, band_key FROM (
        SELECT *, count(*) OVER (PARTITION BY band, band_key) AS _bn
        FROM bands_all
    ) WHERE _bn <= {BAND_KEY_CAP}
)
"""


def _pair_jaccard_sql(threshold: float) -> str:
    return f"""
, cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
ver AS (
    SELECT c.doc_a, c.doc_b,
           len(list_intersect(sa.sh, sb.sh))
           / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
    FROM cand c
    JOIN dsh sa ON sa.doc_id = c.doc_a
    JOIN dsh sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, jaccard FROM ver WHERE jaccard >= {threshold!r}
"""


def dedup_minhash_pairs_sql(threshold: float = 0.5) -> str:
    return "WITH " + _SHINGLES_CTE.strip() + "," + _minhash_bands_cte() + _pair_jaccard_sql(threshold)


def dedup_ngram_jaccard_sql(threshold: float = 0.2) -> str:
    return dedup_minhash_pairs_sql(threshold)


def incremental_minhash_pairs_sql(threshold: float = 0.5) -> str:
    """Batch-vs-corpus near-dup lookup, mirroring
    dedup.incremental_minhash_pairs (doc_id % 5 == 4 is the batch)."""
    from via_spark.operators.dedup import (
        INCREMENTAL_BATCH_RESIDUE,
        INCREMENTAL_MOD,
    )

    batch_pred = f"doc_id % {INCREMENTAL_MOD} = {INCREMENTAL_BATCH_RESIDUE}"
    return (
        "WITH " + _SHINGLES_CTE.strip() + "," + _minhash_bands_cte()
        + f"""
, cand AS (
    SELECT DISTINCT b.doc_id AS new_doc, c.doc_id AS corpus_doc
    FROM bands b JOIN bands c
      ON b.band = c.band AND b.band_key = c.band_key
    WHERE b.{batch_pred} AND NOT (c.{batch_pred})
),
ver AS (
    SELECT cand.new_doc, cand.corpus_doc,
           len(list_intersect(sa.sh, sb.sh))
           / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
    FROM cand
    JOIN dsh sa ON sa.doc_id = cand.new_doc
    JOIN dsh sb ON sb.doc_id = cand.corpus_doc
)
SELECT new_doc, corpus_doc, jaccard FROM ver WHERE jaccard >= {threshold!r}
"""
    )


def dedup_clusters_sql(threshold: float = 0.5) -> str:
    """Connected components of the MinHash pair graph via recursive
    transitive closure: component = min reachable doc_id — the same
    fixpoint the engine's label-propagation loop converges to."""
    return f"""
WITH RECURSIVE pairs AS (
{dedup_minhash_pairs_sql(threshold)}
),
edges AS (
    SELECT doc_a AS s, doc_b AS d FROM pairs
    UNION ALL
    SELECT doc_b AS s, doc_a AS d FROM pairs
),
reach(id, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s
),
rep AS (SELECT id, min(r) AS cluster_rep FROM reach GROUP BY id)
SELECT id AS doc_id, cluster_rep,
       count(*) OVER (PARTITION BY cluster_rep) AS cluster_size
FROM rep
"""


def _simhash_cte() -> str:
    """CTE chain ending in sim(doc_id, simhash) — shared by the simhash
    projection and the simhash-dedup oracle."""
    return f"""
{DOC_TOKS_CTE},
tok AS (SELECT doc_id, unnest(toks) AS t FROM dtok WHERE len(toks) > 0),
th AS (SELECT doc_id, substr(sha256(t), 1, 16) AS h FROM tok),
votes AS (
    SELECT doc_id, r.b,
           SUM((((strpos('0123456789abcdef', substr(h, (r.b // 4) + 1, 1)) - 1)
                 >> (r.b % 4)) & 1) * 2 - 1) AS v
    FROM th, range(64) r(b) GROUP BY doc_id, r.b
),
nibs AS (
    SELECT doc_id, b // 4 AS i,
           SUM((CASE WHEN v >= 0 THEN 1 ELSE 0 END) * (1 << (b % 4))) AS nib
    FROM votes GROUP BY doc_id, b // 4
),
sim AS (
    SELECT doc_id, string_agg(printf('%x', CAST(nib AS INTEGER)), '' ORDER BY i) AS simhash
    FROM nibs GROUP BY doc_id
)
"""


def dedup_simhash_pairs_sql(max_hamming: int = 3) -> str:
    nib = "strpos('0123456789abcdef', substr({c}, {i} + 1, 1)) - 1"
    hamming = " + ".join(
        f"bit_count(xor({nib.format(c='c.sh_a', i=i)}, {nib.format(c='c.sh_b', i=i)}))"
        for i in range(16)
    )
    return f"""
WITH {_simhash_cte().strip()},
blocks AS (
    SELECT doc_id, simhash, r.block, substr(simhash, r.block * 4 + 1, 4) AS block_key
    FROM sim, range(4) r(block)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sh_a,
                    b.doc_id AS doc_b, b.simhash AS sh_b
    FROM blocks a JOIN blocks b
      ON a.block = b.block AND a.block_key = b.block_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, ({hamming}) AS hamming
FROM cand c
WHERE ({hamming}) <= {max_hamming}
"""


def _sign_bucket_sql(offset: int = 0, bits: int = 8) -> str:
    """Sign-LSH bucket over dims [offset, offset+bits) — mirrors
    dedup._sign_bucket (distinct offsets = OR-construction tables)."""
    return " || ".join(
        f"(CASE WHEN embedding[{offset + i + 1}] >= 0 THEN '1' ELSE '0' END)"
        for i in range(bits)
    )


_SIGN_BUCKET = _sign_bucket_sql(0)

_DOT9_PAIR = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "s -> CAST(floor(CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)*1000000000.0) AS BIGINT)))"
)


def _adaptive_sign_ctes() -> str:
    """The adaptive-bits (bucket, bits) attach — mirrors
    dedup.adaptive_sign_frame: bits = clamp(len(bin(N div OCC)), MIN,
    MAX) from a 1-row corpus-count agg, bucket = first ``bits`` sign
    bits. Constants imported from the engine so the two sides cannot
    drift."""
    from via_spark.operators.dedup import (
        MAX_SIGN_BITS,
        MIN_SIGN_BITS,
        SIGN_TARGET_OCCUPANCY,
    )

    wide = _sign_bucket_sql(0, MAX_SIGN_BITS)
    return f"""nb AS (
    SELECT CAST(least({MAX_SIGN_BITS}, greatest({MIN_SIGN_BITS},
           length(bin(greatest(count(*) // {SIGN_TARGET_OCCUPANCY}, 1)))))
           AS INT) AS bits
    FROM embeddings
),
e AS (
    SELECT vec_id, label, embedding,
           substr({wide}, 1, nb.bits) AS bucket, nb.bits AS bits
    FROM embeddings, nb
)"""


# Hamming-1 probes of the variable-length prefix — mirrors
# dedup._VARIABLE_PROBES (i = 0 keeps the exact bucket).
_VARIABLE_PROBES_SQL = (
    "list_transform(range(0, bits + 1), i -> "
    "CASE WHEN i = 0 THEN bucket "
    "ELSE substr(bucket, 1, CAST(i - 1 AS INT)) || "
    "(CASE substr(bucket, CAST(i AS INT), 1) WHEN '0' THEN '1' ELSE '0' END) || "
    "substr(bucket, CAST(i + 1 AS INT)) END)"
)


def neardup_embedding_pairs_sql(
    threshold: float = 0.4, bits: int | None = None, radius: int = 1
) -> str:
    """Multi-probe pair join — mirrors dedup.neardup_embedding_pairs:
    side a explodes to its Hamming-radius bucket neighborhood; default
    ``bits=None`` is the adaptive corpus-sized dial. No DISTINCT: each
    candidate pair matches exactly one probe (the one flipping its
    differing bit set)."""
    if bits is None:
        assert radius == 1, "adaptive bits supports radius=1 only"
        return f"""
WITH {_adaptive_sign_ctes()},
ap AS (
    SELECT vec_id AS vec_a, embedding AS emb_a,
           unnest({_VARIABLE_PROBES_SQL}) AS pbucket
    FROM e
),
cand AS (
    SELECT ap.vec_a, ap.emb_a, b.vec_id AS vec_b, b.embedding AS emb_b
    FROM ap JOIN e b ON ap.pbucket = b.bucket AND ap.vec_a < b.vec_id
),
scored AS (
    SELECT vec_a, vec_b,
           {_DOT9_PAIR.format(a="emb_a", b="emb_b")} AS d_fix,
           {_DOT9_PAIR.format(a="emb_a", b="emb_a")} AS na_fix,
           {_DOT9_PAIR.format(a="emb_b", b="emb_b")} AS nb_fix
    FROM cand
)
SELECT vec_a, vec_b,
       {_COS.format(d="d_fix", na="na_fix", nb="nb_fix")} AS score
FROM scored
WHERE {_COS.format(d="d_fix", na="na_fix", nb="nb_fix")} >= {threshold!r}
"""
    probes = ["bucket"] + [_flip_bit_sql("bucket", i) for i in range(bits)]
    if radius >= 2:
        probes += [
            _flip_bit_sql(f"({_flip_bit_sql('bucket', i)})", j)
            for i in range(bits)
            for j in range(i + 1, bits)
        ]
    probe_list = ", ".join(probes)
    return f"""
WITH e AS (SELECT vec_id, embedding, {_sign_bucket_sql(0, bits)} AS bucket FROM embeddings),
ap AS (
    SELECT vec_id AS vec_a, embedding AS emb_a,
           unnest([{probe_list}]) AS bucket
    FROM e
),
cand AS (
    SELECT ap.vec_a, ap.emb_a, b.vec_id AS vec_b, b.embedding AS emb_b
    FROM ap JOIN e b ON ap.bucket = b.bucket AND ap.vec_a < b.vec_id
),
scored AS (
    SELECT vec_a, vec_b,
           {_DOT9_PAIR.format(a="emb_a", b="emb_b")} AS d_fix,
           {_DOT9_PAIR.format(a="emb_a", b="emb_a")} AS na_fix,
           {_DOT9_PAIR.format(a="emb_b", b="emb_b")} AS nb_fix
    FROM cand
)
SELECT vec_a, vec_b,
       {_COS.format(d="d_fix", na="na_fix", nb="nb_fix")} AS score
FROM scored
WHERE {_COS.format(d="d_fix", na="na_fix", nb="nb_fix")} >= {threshold!r}
"""


def incremental_embedding_pairs_sql(threshold: float = 0.4) -> str:
    """Batch-vs-corpus probed pair join — mirrors
    dedup.incremental_embedding_pairs: the residue batch (vec_id % 5
    == 4) explodes Hamming-1 probes of its adaptive-bits prefix and
    joins the corpus side's exact buckets; bits sized from the FULL
    table count (same dial as the self-join form). No DISTINCT — each
    (new, corpus) pair matches exactly one probe."""
    from via_spark.operators.dedup import (
        INCREMENTAL_BATCH_RESIDUE,
        INCREMENTAL_MOD,
    )

    res = f"vec_id % {INCREMENTAL_MOD} = {INCREMENTAL_BATCH_RESIDUE}"
    return f"""
WITH {_adaptive_sign_ctes()},
ap AS (
    SELECT vec_id AS new_vec, embedding AS emb_a,
           unnest({_VARIABLE_PROBES_SQL}) AS pbucket
    FROM e WHERE {res}
),
cand AS (
    SELECT ap.new_vec, ap.emb_a, b.vec_id AS corpus_vec, b.embedding AS emb_b
    FROM ap JOIN e b ON ap.pbucket = b.bucket AND NOT (b.{res})
),
scored AS (
    SELECT new_vec, corpus_vec,
           {_DOT9_PAIR.format(a="emb_a", b="emb_b")} AS d_fix,
           {_DOT9_PAIR.format(a="emb_a", b="emb_a")} AS na_fix,
           {_DOT9_PAIR.format(a="emb_b", b="emb_b")} AS nb_fix
    FROM cand
)
SELECT new_vec, corpus_vec,
       {_COS.format(d="d_fix", na="na_fix", nb="nb_fix")} AS score
FROM scored
WHERE {_COS.format(d="d_fix", na="na_fix", nb="nb_fix")} >= {threshold!r}
"""


def gate_health_report_sql(threshold: float = 0.4) -> str:
    """One-row embedding-gate health mirror — same chain as
    dedup.gate_health_report: batch (vec_id % 5 == 4) Hamming-1 probes
    join (a) corpus exact buckets and (b) lower-id batch peers; flagged
    = any match ≥ threshold; admit/flag/state aggregates in truncating
    fixed-point; max_flag_score over the UNION (0.0 when empty)."""
    from via_spark.operators.dedup import (
        INCREMENTAL_BATCH_RESIDUE,
        INCREMENTAL_MOD,
    )

    res = f"vec_id % {INCREMENTAL_MOD} = {INCREMENTAL_BATCH_RESIDUE}"
    score = _COS.format(d="d_fix", na="na_fix", nb="nb_fix")
    scored = """
    SELECT new_vec,
           {dot_ab} AS d_fix, {dot_aa} AS na_fix, {dot_bb} AS nb_fix
    FROM {cand}
""".format(
        dot_ab=_DOT9_PAIR.format(a="emb_a", b="emb_b"),
        dot_aa=_DOT9_PAIR.format(a="emb_a", b="emb_a"),
        dot_bb=_DOT9_PAIR.format(a="emb_b", b="emb_b"),
        cand="{cand}",
    )
    return f"""
WITH {_adaptive_sign_ctes()},
ap AS (
    SELECT vec_id AS new_vec, embedding AS emb_a,
           unnest({_VARIABLE_PROBES_SQL}) AS pbucket
    FROM e WHERE {res}
),
ccand AS (
    SELECT ap.new_vec, ap.emb_a, b.embedding AS emb_b
    FROM ap JOIN e b ON ap.pbucket = b.bucket AND NOT (b.{res})
),
pcand AS (
    SELECT ap.new_vec, ap.emb_a, b.embedding AS emb_b
    FROM ap JOIN e b
      ON ap.pbucket = b.bucket AND b.{res} AND b.vec_id < ap.new_vec
),
fc AS (
    SELECT new_vec, {score} AS score
    FROM ({scored.format(cand="ccand")})
    WHERE {score} >= {threshold!r}
),
fp AS (
    SELECT new_vec, {score} AS score
    FROM ({scored.format(cand="pcand")})
    WHERE {score} >= {threshold!r}
),
fu AS (SELECT * FROM fc UNION ALL SELECT * FROM fp),
stats AS (
    SELECT COALESCE(sum(CASE WHEN NOT ({res}) THEN 1 ELSE 0 END), 0)::BIGINT
             AS n_corpus,
           COALESCE(sum(CASE WHEN {res} THEN 1 ELSE 0 END), 0)::BIGINT
             AS n_batch
    FROM e
)
SELECT n_corpus, n_batch,
       (SELECT count(DISTINCT new_vec) FROM fc)::BIGINT AS n_flagged_vs_corpus,
       (SELECT count(DISTINCT new_vec) FROM fp)::BIGINT AS n_flagged_vs_peer,
       (SELECT count(DISTINCT new_vec) FROM fu)::BIGINT AS n_flagged,
       n_batch - (SELECT count(DISTINCT new_vec) FROM fu) AS n_admitted,
       n_corpus + n_batch - (SELECT count(DISTINCT new_vec) FROM fu)
         AS state_rows_after,
       CASE WHEN n_batch = 0 THEN 1000000
            ELSE (n_batch - (SELECT count(DISTINCT new_vec) FROM fu))
                 * 1000000 // n_batch END AS admit_rate_micro,
       COALESCE((SELECT max(score) FROM fu), CAST(0.0 AS DOUBLE))
         AS max_flag_score
FROM stats
"""


def gate_threshold_sweep_sql() -> str:
    """Flag-count sweep mirror — same unfiltered candidate chain as
    gate_health_report_sql, then a 7-way conditional distinct count
    with the admit rate in truncating fixed-point."""
    from via_spark.operators.dedup import (
        INCREMENTAL_BATCH_RESIDUE,
        INCREMENTAL_MOD,
        SWEEP_THRESHOLDS,
    )

    res = f"vec_id % {INCREMENTAL_MOD} = {INCREMENTAL_BATCH_RESIDUE}"
    score = _COS.format(d="d_fix", na="na_fix", nb="nb_fix")
    dots = (
        f"{_DOT9_PAIR.format(a='emb_a', b='emb_b')} AS d_fix, "
        f"{_DOT9_PAIR.format(a='emb_a', b='emb_a')} AS na_fix, "
        f"{_DOT9_PAIR.format(a='emb_b', b='emb_b')} AS nb_fix"
    )
    grid = ", ".join(f"({p})" for p in SWEEP_THRESHOLDS)
    return f"""
WITH {_adaptive_sign_ctes()},
ap AS (
    SELECT vec_id AS new_vec, embedding AS emb_a,
           unnest({_VARIABLE_PROBES_SQL}) AS pbucket
    FROM e WHERE {res}
),
cand AS (
    SELECT ap.new_vec, ap.emb_a, b.embedding AS emb_b
    FROM ap JOIN e b ON ap.pbucket = b.bucket AND NOT (b.{res})
    UNION ALL
    SELECT ap.new_vec, ap.emb_a, b.embedding AS emb_b
    FROM ap JOIN e b
      ON ap.pbucket = b.bucket AND b.{res} AND b.vec_id < ap.new_vec
),
scored AS (
    SELECT new_vec, {score} AS score
    FROM (SELECT new_vec, {dots} FROM cand)
),
nb2 AS (
    SELECT COALESCE(sum(CASE WHEN {res} THEN 1 ELSE 0 END), 0)::BIGINT
             AS n_batch
    FROM e
),
grid(threshold_pct) AS (VALUES {grid})
SELECT CAST(threshold_pct AS INT) AS threshold_pct,
       count(DISTINCT CASE WHEN score >= threshold_pct / 100.0
                           THEN new_vec END)::BIGINT AS n_flagged,
       CASE WHEN any_value(n_batch) = 0 THEN 1000000
            ELSE (any_value(n_batch)
                  - count(DISTINCT CASE WHEN score >= threshold_pct / 100.0
                                        THEN new_vec END))
                 * 1000000 // any_value(n_batch) END AS admit_rate_micro
FROM scored, grid, nb2
GROUP BY threshold_pct
"""


def semdedup_bucket_balance_sql() -> str:
    """Per-bucket balance mirror of the r12 sign-LSH level — the same
    bits dial / masked wide-bucket arithmetic as
    vector.semdedup_bucket_balance, with the per-bucket kk dial."""
    from via_spark.operators.vector import (
        SEMDEDUP_BKT_TARGET,
        SEMDEDUP_MAX_BITS,
        SEMDEDUP_MAX_K,
        SEMDEDUP_MIN_K,
    )

    return f"""
WITH bcfg AS (
  SELECT CASE WHEN count(*) < {SEMDEDUP_BKT_TARGET} THEN 0
         ELSE least({SEMDEDUP_MAX_BITS},
                    length(bin(count(*) // {SEMDEDUP_BKT_TARGET}))) END AS bits,
         count(*)::BIGINT AS n_total
  FROM embeddings
), eb AS (
  SELECT COALESCE(list_sum(list_transform(range(0, {SEMDEDUP_MAX_BITS}),
           i -> CASE WHEN embedding[(7 * i + 1) % 64 + 1] >= 0
                     THEN 1 << i ELSE 0 END)), 0)::BIGINT
         & ((1::BIGINT << (SELECT bits FROM bcfg)) - 1) AS bkt
  FROM embeddings
)
SELECT bkt, count(*)::BIGINT AS n_vectors,
       CAST(least({SEMDEDUP_MAX_K}, greatest({SEMDEDUP_MIN_K},
            1 << (length(bin(count(*))) // 3))) AS INT) AS kk,
       count(*) * 1000000 // (SELECT n_total FROM bcfg) AS share_micro,
       (SELECT bits FROM bcfg)::INT AS bits
FROM eb GROUP BY bkt
"""


def semdedup_containment_report_sql(
    tau: float | None = None, sample_n: int | None = None,
) -> str:
    """Containment mirror — exact sample×corpus truth pairs at tau vs
    same-cluster membership in the unrolled SemDeDup chain."""
    from via_spark.operators.vector import (
        SEMDEDUP_SAMPLE_N,
        SEMDEDUP_TAU,
    )

    tau = SEMDEDUP_TAU if tau is None else tau
    sample_n = SEMDEDUP_SAMPLE_N if sample_n is None else sample_n
    return f"""
WITH sd AS ({semdedup_assignments_sql(tau)}),
s AS (
  SELECT vec_id AS s_id, embedding AS s_emb FROM embeddings
  WHERE vec_id < {sample_n}
),
truth AS (
  SELECT DISTINCT least(s_id, e.vec_id) AS vec_a,
         greatest(s_id, e.vec_id) AS vec_b
  FROM embeddings e CROSS JOIN s
  WHERE e.vec_id <> s_id AND (
    {_COS.format(
        d=_DOT9_PAIR.format(a="s_emb", b="e.embedding"),
        na=_DOT9_PAIR.format(a="s_emb", b="s_emb"),
        nb=_DOT9_PAIR.format(a="e.embedding", b="e.embedding"),
    )}) >= {tau!r}
)
SELECT count(*)::BIGINT AS n_true_pairs,
       COALESCE(sum(CASE WHEN la.cluster = lb.cluster THEN 1 ELSE 0 END),
                0)::BIGINT AS n_contained,
       (CASE WHEN count(*) = 0 THEN NULL
             ELSE COALESCE(sum(CASE WHEN la.cluster = lb.cluster
                                THEN 1 ELSE 0 END), 0)
                  * 1000000 // count(*) END)::BIGINT AS containment_micro
FROM truth
JOIN sd la ON truth.vec_a = la.vec_id
JOIN sd lb ON truth.vec_b = lb.vec_id
"""


def store_build_report_sql() -> str:
    """Label-store census mirror — one row per store over the SAME
    chains the store builders materialize (reuses the four cluster /
    assignment oracle SQLs as CTE bodies, so this report re-proves the
    chains it summarizes)."""
    from via_spark.operators.dedup import (
        EMB_COS_THRESHOLD,
        JACCARD_THRESHOLD,
    )
    from via_spark.operators.multimodal import PHASH_MAX_HAMMING

    def census(name, chain, rep, flagged, inp):
        return f"""
SELECT '{name}' AS store,
       (SELECT count(*) FROM {inp})::BIGINT AS input_rows,
       count(*)::BIGINT AS label_rows,
       count(DISTINCT {rep})::BIGINT AS n_groups,
       COALESCE(sum(CASE WHEN {flagged} THEN 1 ELSE 0 END), 0)::BIGINT
         AS flagged_rows,
       (CASE WHEN count(*) = 0 THEN 0
             ELSE COALESCE(sum(CASE WHEN {flagged} THEN 1 ELSE 0 END), 0)
                  * 1000000 // count(*) END)::BIGINT AS flagged_share_micro
FROM ({chain})
"""

    return " UNION ALL ".join(
        [
            census(
                "minhash_clusters", dedup_clusters_sql(JACCARD_THRESHOLD),
                "cluster_rep", "doc_id <> cluster_rep", "documents",
            ),
            census(
                "embedding_clusters",
                embedding_neardup_clusters_sql(EMB_COS_THRESHOLD),
                "cluster_rep", "vec_id <> cluster_rep", "embeddings",
            ),
            census(
                "phash_clusters", phash_dup_clusters_sql(PHASH_MAX_HAMMING),
                "cluster_rep", "doc_id <> cluster_rep", "documents",
            ),
            census(
                "semdedup", semdedup_assignments_sql(),
                "cluster", "is_dup", "embeddings",
            ),
        ]
    )


def _flip_bit_sql(expr: str, i: int) -> str:
    return (
        f"substr({expr}, 1, {i}) || "
        f"(CASE substr({expr}, {i + 1}, 1) WHEN '0' THEN '1' ELSE '0' END) || "
        f"substr({expr}, {i + 2})"
    )


def ann_lsh_topk_sql(
    query_id: int = 0, k: int = 10, bits: int = 8, radius: int = 2,
    n_tables: int = 5,
) -> str:
    """Multi-probe OR-construction: per table t (dims [8t, 8t+8)), the
    query bucket + all buckets within Hamming ``radius``; a vector is a
    candidate when ANY table matches — mirrors dedup.ann_lsh_topk
    exactly."""

    def _probe_list(qb: str) -> str:
        probes = [qb] + [_flip_bit_sql(qb, i) for i in range(bits)]
        if radius >= 2:
            probes += [
                _flip_bit_sql(f"({_flip_bit_sql(qb, i)})", j)
                for i in range(bits)
                for j in range(i + 1, bits)
            ]
        return ",\n        ".join(probes)

    bucket_cols = ", ".join(
        f"{_sign_bucket_sql(8 * t, bits)} AS bucket{t}" for t in range(n_tables)
    )
    q_cols = ", ".join(f"bucket{t} AS qb{t}" for t in range(n_tables))
    probe_cols = ",\n    ".join(
        f"[{_probe_list(f'qb{t}')}] AS probes{t}" for t in range(n_tables)
    )
    any_table = " OR ".join(
        f"list_contains(qp.probes{t}, e.bucket{t})" for t in range(n_tables)
    )
    return f"""
WITH e AS (SELECT vec_id, label, embedding, {bucket_cols} FROM embeddings),
q AS (SELECT embedding AS qe, {q_cols} FROM e WHERE vec_id = {query_id}),
qp AS (
    SELECT qe, {probe_cols} FROM q
),
cand AS (
    SELECT e.vec_id, e.label, e.embedding, qp.qe FROM e, qp
    WHERE ({any_table}) AND e.vec_id <> {query_id}
),
scored AS (
    SELECT vec_id, label,
           {_DOT9_PAIR.format(a="embedding", b="qe")} AS d_fix,
           {_DOT9_PAIR.format(a="embedding", b="embedding")} AS na_fix,
           {_DOT9_PAIR.format(a="qe", b="qe")} AS nb_fix
    FROM cand
)
SELECT vec_id, label,
       {_COS.format(d="d_fix", na="na_fix", nb="nb_fix")} AS score
FROM scored
ORDER BY score DESC, vec_id ASC LIMIT {k}
"""


# ---------------------------------------------------------------------------
# Text-analysis + multimodal oracles (operators.{textstats,multimodal})
# ---------------------------------------------------------------------------

def token_count_documents_sql() -> str:
    return r"""
SELECT doc_id,
       len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS n_ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS n_bpe_tokens,
       length(text) AS n_chars
FROM documents
"""


_EN_STOPS = "('the','a','and','of','to','in','is','for')"


def doc_quality_scores_sql() -> str:
    return f"""
WITH {DOC_TOKS_CTE},
q AS (
    SELECT doc_id, len(toks) AS dl,
           len(list_filter(toks, x -> x IN {_EN_STOPS})) AS stops,
           length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
           length(text) AS n_chars,
           list_sum(list_transform(toks, x -> length(x))) AS tok_chars
    FROM dtok
)
SELECT doc_id, dl AS n_tokens,
       tok_chars / dl AS mean_token_len,
       stops / dl AS stopword_ratio,
       alpha_chars / n_chars AS alpha_ratio,
       CAST(floor((0.4*(stops / dl) + 0.3*(alpha_chars / n_chars)
                   + 0.3*least(1.0, dl / 100.0)) * 1000000.0) AS BIGINT) AS quality_fix
FROM q WHERE dl > 0
"""


def lang_id_documents_sql() -> str:
    langs = {
        "en": _EN_STOPS,
        "de": "('der','die','das','und','ist','nicht','mit','ein')",
        "es": "('el','la','los','de','que','y','en','un')",
        "fr": "('le','la','les','et','de','un','est','pour')",
    }
    score_cols = ",\n           ".join(
        f"len(list_filter(toks, x -> x IN {words})) AS s_{lang}"
        for lang, words in langs.items()
    )
    return f"""
WITH {DOC_TOKS_CTE},
s AS (
    SELECT doc_id, lang, text,
           {score_cols}
    FROM dtok WHERE len(toks) > 0
)
SELECT doc_id, lang,
       CASE WHEN length(regexp_extract(text, '[\\x{{4e00}}-\\x{{9fff}}]')) > 0 THEN 'zh'
            WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
            WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
            WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
            ELSE 'fr' END AS predicted_lang
FROM s
"""


def doc_fingerprint_sql(k: int = 4) -> str:
    return f"""
WITH {_SHINGLES_CTE.strip()}
SELECT doc_id,
       array_to_string(
           list_slice(list_sort(list_transform(sh, s -> substr(sha256(s), 1, 16))), 1, {k}),
           ':') AS fingerprint
FROM dsh
"""


def repetition_scores_sql() -> str:
    """Mirrors operators.textstats.repetition_scores: 8-token lines,
    planted first-line repeat (doc_id % 3 copies), dup fractions and
    top-2-gram char fraction, all 1e-6 fixed-point."""
    return f"""
WITH {DOC_TOKS_CTE.strip()},
planted AS (
    SELECT doc_id,
           list_concat(
               list_slice(toks, 1, CAST(floor(len(toks) / 8) * 8 AS INT)),
               flatten(list_transform(range(0, CAST(doc_id % 3 AS INT)),
                                      i -> list_slice(toks, 1, 8)))
           ) AS toks
    FROM dtok WHERE len(toks) >= 8
),
built AS (
    SELECT doc_id,
           CAST(len(toks) / 8 AS INT) AS nl,
           length(array_to_string(toks, ' ')) AS total_chars,
           list_transform(range(0, CAST(len(toks) / 8 AS INT)),
                          i -> array_to_string(list_slice(toks, i*8+1, i*8+8), ' ')) AS lines,
           list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS g2,
           list_transform(range(1, len(toks)-3),
                          i -> array_to_string(list_slice(toks, i, i+4), ' ')) AS g5
    FROM planted
),
counted AS (
    SELECT *, list_transform(list_distinct(g2),
                  g -> struct_pack(c := len(list_filter(g2, x -> x = g)), g := g)) AS cnt
    FROM built
),
m AS (
    SELECT *, list_max(list_transform(cnt, x -> x.c)) AS mc FROM counted
),
t AS (
    SELECT *, list_min(list_transform(list_filter(cnt, x -> x.c = mc), x -> x.g)) AS top_2gram
    FROM m
)
SELECT doc_id,
       CAST(nl AS BIGINT) AS n_lines,
       CAST(floor(1000000.0 * (nl - len(list_distinct(lines))) / nl) AS BIGINT) AS dup_line_frac_fix,
       CAST(floor(1000000.0 * (len(g5) - len(list_distinct(g5))) / len(g5)) AS BIGINT) AS dup_5gram_frac_fix,
       top_2gram,
       CAST(floor(1000000.0 * mc * length(top_2gram) / total_chars) AS BIGINT) AS top_2gram_char_frac_fix
FROM t
"""


def multimodal_features_sql() -> str:
    return """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS content_sha256,
       octet_length(encode(text)) % 640 + 1 AS fake_width,
       (octet_length(encode(text)) * 31) % 480 + 1 AS fake_height
FROM documents
"""


# ---------------------------------------------------------------------------
# Forensic entry-point-3 oracles (via_spark.operators.forensic)
# ---------------------------------------------------------------------------

# hashing-trick embedding dimension of one token column {t}:
# first 12 bits of sha256 mod 384 (mirrors functions.embed.token_dim_sql)
_HEXPOS = "strpos('0123456789abcdef', substr(sha256({t}), {i}, 1)) - 1"
_DIM = (
    f"((({_HEXPOS.format(t='{t}', i=1)}) * 256"
    f" + ({_HEXPOS.format(t='{t}', i=2)}) * 16"
    f" + ({_HEXPOS.format(t='{t}', i=3)})) % 384)"
)

_QVEC_CTE = r"""
qtok AS (
    SELECT unnest(list_filter(string_split_regex(lower('{text}'), '\s+'),
                              x -> x <> '')) AS t
),
qvec AS (SELECT {dim} AS dim, count(*) AS qw FROM qtok GROUP BY 1),
qn AS (SELECT SUM(qw*qw) AS qn2 FROM qvec)
"""


def _cemb_cte(src: str) -> str:
    return f"""
ctok AS (
    SELECT rhythm_hash,
           unnest(list_filter(string_split_regex(lower(body), '\\s+'),
                              x -> x <> '')) AS t
    FROM {src}
),
cemb AS (SELECT rhythm_hash, {_DIM.format(t='t')} AS dim, count(*) AS w
         FROM ctok GROUP BY rhythm_hash, dim),
cnorm AS (SELECT rhythm_hash, SUM(w*w) AS n2 FROM cemb GROUP BY rhythm_hash)
"""


_SCORE = (
    "CASE WHEN COALESCE(dot, 0) = 0 THEN 0.0 "
    "ELSE CAST(dot AS DOUBLE)/(sqrt(CAST(n2 AS DOUBLE))*sqrt(CAST(qn2 AS DOUBLE))) END"
)


def forensic_clusters_text_sql(text: str = "error", limit: int = 100) -> str:
    terms = [t for t in text.lower().split() if t]
    term_preds = " AND ".join(
        f"list_contains(list_filter(string_split_regex(lower(body), '\\s+'), x -> x <> ''), '{t}')"
        for t in terms
    )
    return (
        _tier2_clusters_chain()
        + f""", filtered AS (SELECT * FROM clusters WHERE {term_preds}),
{_QVEC_CTE.format(text=text, dim=_DIM.format(t='t'))},
{_cemb_cte('filtered').strip()},
dots AS (
    SELECT rhythm_hash, SUM(w*qw) AS dot
    FROM cemb JOIN qvec USING (dim) GROUP BY rhythm_hash
),
scored AS (
    SELECT f.rhythm_hash, f."count", f.service, f.severity, f.anomaly_type, f.body,
           d.dot, n.n2, q.qn2
    FROM filtered f
    LEFT JOIN dots d USING (rhythm_hash)
    JOIN cnorm n USING (rhythm_hash), qn q
)
SELECT rhythm_hash AS cluster_id, "count" AS incident_count,
       service, severity, anomaly_type, body,
       {_SCORE} AS score
FROM scored
ORDER BY score DESC, cluster_id ASC LIMIT {limit}
"""
    )


def forensic_clusters_zero_vector_sql(limit: int = 100) -> str:
    return (
        _tier2_clusters_chain()
        + f"""
SELECT rhythm_hash AS cluster_id, "count" AS incident_count,
       service, severity, anomaly_type, body, CAST(0.0 AS DOUBLE) AS score
FROM clusters
ORDER BY incident_count DESC, cluster_id ASC LIMIT {limit}
"""
    )


def forensic_triage_sql(n_pos: int = 2, n_neg: int = 1, limit: int = 50) -> str:
    return (
        _tier2_clusters_chain()
        + f""", marked AS (
    SELECT rhythm_hash, row_number() OVER (ORDER BY rhythm_hash) AS rn
    FROM (SELECT rhythm_hash FROM clusters ORDER BY rhythm_hash LIMIT {n_pos + n_neg})
),
"""
        + triage_scored_sql(n_pos, n_neg, limit, f"rn <= {n_pos}", f"rn > {n_pos}")
    )


def triage_scored_sql(
    n_pos: int, n_neg: int, limit: int, is_pos: str, is_neg: str
) -> str:
    """The triage tail over CTEs ``clusters`` (one canonical row per
    hash) and ``marked`` (one row per example listing; ``is_pos`` /
    ``is_neg`` are SQL predicates over its columns)."""
    return f"""{_cemb_cte('clusters').strip()},
qd AS (
    SELECT dim,
           2*{n_neg}*SUM(CASE WHEN {is_pos} THEN w ELSE 0 END)
           - {n_pos}*SUM(CASE WHEN {is_neg} THEN w ELSE 0 END) AS qw
    FROM cemb JOIN marked USING (rhythm_hash)
    GROUP BY dim HAVING qw <> 0
),
qn AS (SELECT SUM(qw*qw) AS qn2 FROM qd),
cand AS (
    SELECT * FROM clusters
    WHERE rhythm_hash NOT IN (SELECT rhythm_hash FROM marked)
),
dots AS (
    SELECT rhythm_hash, SUM(w*qw) AS dot
    FROM cemb JOIN qd USING (dim) GROUP BY rhythm_hash
),
scored AS (
    SELECT c.rhythm_hash, c."count", c.service, c.severity, c.anomaly_type,
           d.dot, n.n2, q.qn2
    FROM cand c
    LEFT JOIN dots d USING (rhythm_hash)
    JOIN cnorm n USING (rhythm_hash), qn q
)
SELECT rhythm_hash AS cluster_id, "count" AS incident_count,
       service, severity, anomaly_type,
       {_SCORE} AS score
FROM scored
ORDER BY score DESC, cluster_id ASC LIMIT {limit}
"""


# ---------------------------------------------------------------------------
# Widened relational coverage (Q4/Q14 shapes + salted aggregation)
# ---------------------------------------------------------------------------

def order_priority_counts_sql() -> str:
    return """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                      AND TIMESTAMP '1996-03-31 23:59:59'
  AND EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
"""


def promo_revenue_sql() -> str:
    rev = _FIX.format(expr="l_extendedprice * (1 - l_discount)")
    return f"""
WITH j AS (
    SELECT p_type, {rev} AS rev_fix
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate BETWEEN TIMESTAMP '1996-03-01'
                         AND TIMESTAMP '1996-03-31 23:59:59'
),
agg AS (
    SELECT SUM(CASE WHEN p_type LIKE 'PROMO%' THEN rev_fix ELSE 0 END) AS promo_fix,
           SUM(rev_fix) AS total_fix
    FROM j
)
SELECT CAST(promo_fix AS DOUBLE) / 1000000 AS promo_revenue,
       CAST(total_fix AS DOUBLE) / 1000000 AS total_revenue,
       100.0 * CAST(promo_fix AS DOUBLE) / total_fix AS promo_share_pct
FROM agg
"""


def salted_event_type_counts_sql() -> str:
    """The salting is shuffle-layout only — results equal a plain count."""
    return "SELECT event_type, count(*) AS n FROM events GROUP BY event_type"


# ---------------------------------------------------------------------------
# Window-family oracles (via_spark.operators.windows)
# ---------------------------------------------------------------------------

def sliding_hash_counts_sql() -> str:
    """120s/60s sliding windows: every event belongs to exactly the two
    epoch-aligned windows starting at (ts//60 - k)*60 for k in {0,1}."""
    return f"""
WITH {TIER1_CTE},
expanded AS (
    SELECT (h.ts // 60 - k.i) * 60 AS window_start, h.rhythm_hash
    FROM hashed h, range(2) k(i)
)
SELECT window_start, rhythm_hash, count(*) AS n
FROM expanded
GROUP BY window_start, rhythm_hash
"""


def session_hash_counts_sql(gap_sec: int = 86_400) -> str:
    """Gaps-and-islands: a new session starts when the gap from the
    previous event of the same hash EXCEEDS gap. Spark session_window
    merges TOUCHING intervals — an event at exactly prev + gap joins
    the session (proven on planted boundary data,
    tests/test_properties.py::test_session_window_gap_boundary), so the
    break predicate is strict >."""
    return f"""
WITH {TIER1_CTE},
marked AS (
    SELECT rhythm_hash, ts, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > {gap_sec} THEN 1 ELSE 0 END AS brk
    FROM hashed
    WINDOW w AS (PARTITION BY rhythm_hash ORDER BY ts, event_id)
),
grouped AS (
    SELECT *, SUM(brk) OVER (PARTITION BY rhythm_hash ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
    FROM marked
)
SELECT rhythm_hash, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n
FROM grouped GROUP BY rhythm_hash, sid
"""


# ---------------------------------------------------------------------------
# Distribution statistics (via_spark.operators.stats)
# ---------------------------------------------------------------------------

def value_percentiles_sql() -> str:
    """Both engines use linear interpolation a + (b-a)*frac — bit-exact."""
    return """
SELECT event_type,
       quantile_cont(value, 0.25) AS p25,
       quantile_cont(value, 0.50) AS p50,
       quantile_cont(value, 0.75) AS p75,
       quantile_cont(value, 0.95) AS p95,
       count(*) AS n
FROM events GROUP BY event_type
"""


def customer_order_distribution_sql() -> str:
    return """
SELECT c_count, count(*) AS custdist FROM (
    SELECT c.c_custkey, count(o.o_orderkey) AS c_count
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
) GROUP BY c_count
"""


def min_cost_supplier_sql(size: int = 15) -> str:
    cost = _FIX.format(expr="l_extendedprice")
    return f"""
WITH cost AS (
    SELECT p.p_partkey, p.p_brand, l.l_suppkey,
           sum({cost}) AS cost_fix
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size = {size}
    GROUP BY p.p_partkey, p.p_brand, l.l_suppkey
),
best AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY p_partkey
            ORDER BY cost_fix ASC, l_suppkey ASC) AS _rn
        FROM cost
    ) WHERE _rn = 1
)
SELECT p_partkey, p_brand, s.s_suppkey, s.s_name,
       cost_fix / 1000000.0 AS cost
FROM best JOIN supplier s ON best.l_suppkey = s.s_suppkey
"""


def large_orders_having_sql(min_qty: int = 300) -> str:
    return f"""
WITH big AS (
    SELECT l_orderkey, sum(CAST(l_quantity AS BIGINT)) AS sum_qty
    FROM lineitem GROUP BY l_orderkey HAVING sum_qty > {min_qty}
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       o.o_totalprice, CAST(big.sum_qty AS BIGINT) AS sum_qty
FROM big
JOIN orders o ON big.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey ASC LIMIT 100
"""


def brand_supplier_counts_sql() -> str:
    return """
SELECT p.p_brand, p.p_type, count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type
"""


def stratified_sample_sql(rates: dict[str, float] | None = None) -> str:
    """Deterministic per-stratum sampling: keep iff sha256-prefix of the
    event id falls under the stratum's 16-hex cutoff."""
    from via_spark.operators.curation import SAMPLE_RATES, hex_cutoff

    rates = rates or SAMPLE_RATES
    branches = " ".join(
        f"WHEN '{t}' THEN '{hex_cutoff(r)}'" for t, r in sorted(rates.items())
    )
    return f"""
SELECT event_id, event_type, user_id, value
FROM events
WHERE substr(sha256(CAST(event_id AS VARCHAR)), 1, 16)
      < CASE event_type {branches} ELSE '0000000000000000' END
"""


def quality_deciles_sql() -> str:
    return f"""
WITH q2 AS (
{doc_quality_scores_sql()}
),
r AS (
    SELECT doc_id, quality_fix,
           row_number() OVER (ORDER BY quality_fix DESC, doc_id ASC) AS rank,
           count(*) OVER () AS n
    FROM q2
)
SELECT doc_id, quality_fix,
       CAST(((rank - 1) * 10) // n + 1 AS INTEGER) AS decile
FROM r
"""


def benchmark_contamination_sql(bench_max_id: int = 10) -> str:
    return f"""
WITH {_SHINGLES_CTE.strip()},
hashed AS (
    SELECT DISTINCT doc_id, substr(sha256(s), 1, 16) AS h
    FROM (SELECT doc_id, unnest(sh) AS s FROM dsh)
),
overlap AS (
    SELECT c.doc_id, b.doc_id AS bench_id, count(*) AS shared_shingles
    FROM hashed c JOIN hashed b USING (h)
    WHERE c.doc_id >= {bench_max_id} AND b.doc_id < {bench_max_id}
    GROUP BY c.doc_id, b.doc_id
)
SELECT doc_id, bench_id, shared_shingles FROM (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id
        ORDER BY shared_shingles DESC, bench_id ASC) AS _rn
    FROM overlap
) WHERE _rn = 1
"""


def pii_scrub_documents_sql() -> str:
    from via_spark.operators.curation import EMAIL_RE, IPV4_RE

    return f"""
WITH t AS (
    SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com from 10.0.'
                || CAST(doc_id % 256 AS VARCHAR) || '.7' AS salted
    FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(salted, '{EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(salted, '{IPV4_RE}')) AS n_ips,
       regexp_replace(
           regexp_replace(salted, '{EMAIL_RE}', '[EMAIL]', 'g'),
           '{IPV4_RE}', '[IP]', 'g') AS scrubbed
FROM t
"""


def ann_quantized_topk_sql(query_id: int = 0, k: int = 10, oversample: int = 3) -> str:
    """INT8 quantized candidate ranking + full-precision rescore."""
    qv = (
        "list_transform({e}, x -> CAST(floor(CAST(x AS DOUBLE) * "
        "(CASE WHEN list_max(list_transform({e}, y -> abs(CAST(y AS DOUBLE)))) = 0 "
        "THEN 0.0 ELSE 127.0 / list_max(list_transform({e}, y -> abs(CAST(y AS DOUBLE)))) END)"
        ") AS BIGINT))"
    )
    qdot = (
        "list_sum(list_transform(list_zip("
        + qv.format(e="e.embedding") + ", " + qv.format(e="q.qe")
        + "), s -> s[1] * s[2]))"
    )
    d = _DOT9.format(a="e.embedding", b="q.qe")
    na = _DOT9.format(a="e.embedding", b="e.embedding")
    nb = _DOT9.format(a="q.qe", b="q.qe")
    return f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {query_id}),
cand AS (
    SELECT e.vec_id, e.label, e.embedding, q.qe,
           CAST({qdot} AS BIGINT) AS qdot
    FROM embeddings e, q
    WHERE e.vec_id <> {query_id}
    ORDER BY qdot DESC, e.vec_id ASC LIMIT {oversample * k}
)
SELECT vec_id, label, qdot,
       {_COS.format(d=d, na=na, nb=nb)} AS score
FROM cand e, q
ORDER BY score DESC, vec_id ASC LIMIT {k}
"""


def fuzzy_name_pairs_sql() -> str:
    """SymSpell deletion-key join + exact levenshtein verify."""
    return """
WITH c AS (SELECT c_custkey, lower(c_name) AS name FROM customer),
keyed AS (
    SELECT c_custkey, name,
           unnest(list_append(
               list_transform(range(0, length(name)),
                              i -> substr(name, 1, i) || substr(name, i + 2)),
               name)) AS k
    FROM c
),
cand AS (
    SELECT DISTINCT a.c_custkey AS key_a, b.c_custkey AS key_b,
           a.name AS name_a, b.name AS name_b
    FROM keyed a JOIN keyed b USING (k)
    WHERE a.c_custkey < b.c_custkey
)
SELECT key_a, key_b, name_a, name_b,
       CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
FROM cand WHERE levenshtein(name_a, name_b) <= 1
"""


def curation_funnel_sql() -> str:
    """Composition of the already-checked stages: canonical-of-cluster ∧
    decile ≤ 8 ∧ 50% hash sample, with lang + token count attached."""
    from via_spark.operators.curation import hex_cutoff

    half = hex_cutoff(0.5)
    return f"""
WITH clusters AS (
{dedup_clusters_sql()}
),
deciles AS (
{quality_deciles_sql()}
),
toks AS (
{token_count_documents_sql()}
)
SELECT d.doc_id, d.lang, deciles.decile, toks.n_ws_tokens AS n_tokens
FROM documents d
JOIN clusters ON d.doc_id = clusters.doc_id
             AND clusters.doc_id = clusters.cluster_rep
JOIN deciles ON d.doc_id = deciles.doc_id AND deciles.decile <= 8
JOIN toks ON d.doc_id = toks.doc_id
WHERE substr(sha256(CAST(d.doc_id AS VARCHAR)), 1, 16) < '{half}'
"""


def per_day_topk_sql(k: int = 3) -> str:
    """K5 literal per-shard form: top-k within each daily partition."""
    return f"""
WITH d AS (
    SELECT event_id,
           CAST(epoch_us(ts) // 1000000 // 86400 AS INTEGER) AS day, value
    FROM events
)
SELECT event_id, day, value, rk FROM (
    SELECT *, CAST(row_number() OVER (
        PARTITION BY day ORDER BY value DESC NULLS LAST, event_id ASC) AS INTEGER) AS rk
    FROM d
) WHERE rk <= {k}
"""


def ann_ivf_topk_sql(
    query_id: int = 0,
    k: int = 10,
    n_centroids: int | None = None,
    nprobe: int | None = None,
) -> str:
    """IVF probe search: deterministic-sample centroids, exact
    fixed-point argmax cell assignment, nprobe cells scored.
    Defaults pinned to the Spark-side constants."""
    from via_spark.operators.dedup import IVF_CENTROIDS, IVF_NPROBE

    n_centroids = IVF_CENTROIDS if n_centroids is None else n_centroids
    nprobe = IVF_NPROBE if nprobe is None else nprobe
    cdot = _DOT9.format(a="e.embedding", b="c.cemb")
    qdot = _DOT9.format(a="c.cemb", b="q.qe")
    d = _DOT9.format(a="e.embedding", b="q.qe")
    na = _DOT9.format(a="e.embedding", b="e.embedding")
    nb = _DOT9.format(a="q.qe", b="q.qe")
    return f"""
WITH c AS (
    SELECT vec_id AS cid, embedding AS cemb FROM embeddings
    WHERE vec_id < {n_centroids}
),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {query_id}),
cells AS (
    SELECT vec_id, label, embedding, cid FROM (
        SELECT e.vec_id, e.label, e.embedding, c.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {cdot} DESC, c.cid ASC) AS _rn
        FROM embeddings e, c
    ) WHERE _rn = 1
),
probes AS (
    SELECT cid FROM c, q ORDER BY {qdot} DESC, cid ASC LIMIT {nprobe}
),
scored AS (
    SELECT e.vec_id, e.label,
           {_COS.format(d=d, na=na, nb=nb)} AS score
    FROM cells e JOIN probes USING (cid), q
    WHERE e.vec_id <> {query_id}
)
SELECT vec_id, label, score FROM scored
ORDER BY score DESC, vec_id ASC LIMIT {k}
"""


def global_value_rank_sql() -> str:
    """Exact global ranking — oracle for rank.global_row_number's
    range-partition + offset composition (rank stays BIGINT: the
    operator targets corpora where an int would overflow)."""
    return """
SELECT event_id, value,
       row_number() OVER (ORDER BY value DESC NULLS LAST, event_id ASC) AS rank
FROM events
"""


def normalize_documents_sql() -> str:
    from via_spark.operators.textstats import ACCENT_WORDS

    words = ", ".join(f"'{w}'" for w in ACCENT_WORDS)
    n = len(ACCENT_WORDS)
    return rf"""
SELECT doc_id,
       array_to_string(
           list_filter(
               string_split_regex(
                   lower(strip_accents(
                       text || ' ' ||
                       [{words}][CAST(doc_id % {n} AS INTEGER) + 1])),
                   '\s+'),
               x -> x <> ''),
           ' ') AS norm_text
FROM documents
"""


def mad_outliers_sql(k: float = 3.0) -> str:
    """DuckDB median() IS quantile_cont(0.5) — same interpolation the
    pandas grouped-map reproduces, so med/mad are bit-identical."""
    return f"""
WITH m AS (
    SELECT event_type, median(value) AS med
    FROM events GROUP BY event_type
),
mm AS (
    SELECT e.event_type, any_value(m.med) AS med,
           median(abs(e.value - m.med)) AS mad
    FROM events e JOIN m USING (event_type)
    GROUP BY e.event_type
)
SELECT e.event_id, e.event_type, e.value, mm.med, mm.mad
FROM events e JOIN mm USING (event_type)
WHERE abs(e.value - mm.med) > {k!r} * mm.mad
"""


def event_type_severity_pivot_sql() -> str:
    cols = ", ".join(
        # CAST: DuckDB SUM yields HUGEINT whose repr diverges from Spark's
        # bigint through pandas canonicalization even when values match.
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS {t}"
        for t in ("view", "click", "signup", "purchase", "error")
    )
    return f"""
SELECT user_id % 10 AS user_bucket, {cols}
FROM events GROUP BY user_bucket
"""


def lineitem_rollup_sql() -> str:
    rev = _FIX.format(expr="l_extendedprice * (1 - l_discount)")
    return f"""
SELECT l_returnflag, l_linestatus,
       SUM({rev}) / 1000000.0 AS revenue,
       count(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def asof_last_purchase_sql() -> str:
    """DuckDB's native ASOF LEFT JOIN is the oracle for the engine's
    union+window as-of composition (inclusive ts match)."""
    return """
WITH ev AS (
    SELECT event_id, user_id, epoch_us(ts) // 1000000 AS ts_sec, event_type, value
    FROM events
),
pur AS (
    SELECT user_id, ts_sec, event_id, value AS purchase_value
    FROM ev WHERE event_type = 'purchase'
),
pd AS (
    SELECT user_id, ts_sec, event_id, purchase_value FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id, ts_sec ORDER BY event_id DESC) AS rn
        FROM pur
    ) WHERE rn = 1
)
SELECT e.event_id, e.user_id, e.ts_sec, e.event_type,
       p.event_id AS last_purchase_event,
       p.purchase_value AS last_purchase_value
FROM ev e ASOF LEFT JOIN pd p
  ON e.user_id = p.user_id AND e.ts_sec >= p.ts_sec
"""


def hypertable_rollup_sql() -> str:
    return f"""
WITH {TIER1_CTE},
g AS (SELECT unnest([60, 3600, 86400]) AS gran_sec)
SELECT g.gran_sec, h.ts - h.ts % g.gran_sec AS bucket_start,
       h.rhythm_hash, count(*) AS n
FROM hashed h, g
GROUP BY 1, 2, 3
"""


def range_containment_join_sql(gap_sec: int = 86_400) -> str:
    """Sessions (gaps-and-islands, strict-> break matching Spark
    session_window's touching-merge) + containment join on the hash."""
    return f"""
WITH {TIER1_CTE},
marked AS (
    SELECT rhythm_hash, ts, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > {gap_sec} THEN 1 ELSE 0 END AS brk
    FROM hashed
    WINDOW w AS (PARTITION BY rhythm_hash ORDER BY ts, event_id)
),
grouped AS (
    SELECT *, SUM(brk) OVER (PARTITION BY rhythm_hash ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
    FROM marked
),
sessions AS (
    SELECT rhythm_hash AS s_hash, min(ts) AS session_start,
           max(ts) AS session_end, count(*) AS session_size
    FROM grouped GROUP BY rhythm_hash, sid
)
SELECT h.event_id, h.rhythm_hash, h.ts,
       s.session_start, s.session_end, s.session_size
FROM hashed h
JOIN sessions s
  ON h.rhythm_hash = s.s_hash
 AND h.ts BETWEEN s.session_start AND s.session_end
"""


# ---------------------------------------------------------------------------
# Time-series oracles (via_spark.operators.timeseries)
# ---------------------------------------------------------------------------

_EVENTS_SEC_CTE = """
esec AS (
    SELECT event_id, event_type, value,
           epoch_us(ts) // 1000000 AS sec
    FROM events
)
"""


def hourly_rate_of_change_sql() -> str:
    return f"""
WITH {_EVENTS_SEC_CTE},
hourly AS (
    SELECT event_type, sec - sec % 3600 AS hour_start, count(*) AS n
    FROM esec GROUP BY 1, 2
)
SELECT event_type, hour_start, n,
       LAG(n) OVER w AS prev_n,
       n - LAG(n) OVER w AS delta
FROM hourly
WINDOW w AS (PARTITION BY event_type ORDER BY hour_start)
"""


def gapfill_locf_sql() -> str:
    return f"""
WITH {_EVENTS_SEC_CTE},
hourly AS (
    SELECT event_type, sec - sec % 3600 AS hour_start,
           count(*) AS n_obs,
           CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_fix
    FROM esec GROUP BY 1, 2
),
bounds AS (
    SELECT min(sec) - min(sec) % 3600 AS lo,
           max(sec) - max(sec) % 3600 AS hi
    FROM esec
),
hours AS (SELECT unnest(generate_series(lo, hi, 3600)) AS hour_start FROM bounds),
series AS (SELECT DISTINCT event_type FROM esec),
grid AS (SELECT event_type, hour_start FROM series, hours)
SELECT g.event_type, g.hour_start,
       COALESCE(h.n_obs, 0) AS n,
       last_value(h.sum_fix IGNORE NULLS) OVER (
           PARTITION BY g.event_type ORDER BY g.hour_start
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_fix
FROM grid g
LEFT JOIN hourly h ON h.event_type = g.event_type AND h.hour_start = g.hour_start
"""


def moving_avg_daily_sql() -> str:
    return """
WITH daily AS (
    SELECT epoch_us(o_orderdate) // 1000000 // 86400 AS day,
           CAST(SUM(CAST(floor(o_totalprice * 1000000) AS BIGINT)) AS BIGINT)
               AS revenue_fix
    FROM orders GROUP BY 1
)
SELECT day, revenue_fix,
       CAST(SUM(revenue_fix) OVER w AS BIGINT) // COUNT(*) OVER w AS mavg_fix,
       COUNT(*) OVER w AS days_in_frame
FROM daily
WINDOW w AS (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


def cube_order_counts_sql() -> str:
    return """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       CAST(SUM(CAST(floor(o_totalprice * 1000000) AS BIGINT)) AS BIGINT)
           AS revenue_fix
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def value_histogram_sql() -> str:
    return """
SELECT event_type, CAST(floor(value / 5.0) AS BIGINT) AS bin, count(*) AS n,
       CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_fix
FROM events GROUP BY 1, 2
"""


def tfidf_top_terms_sql(k: int = 3) -> str:
    return f"""
WITH {DOC_TOKS_CTE},
tok AS (SELECT doc_id, unnest(toks) AS term FROM dtok),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT count(*) AS n_docs FROM dtok),
scored AS (
    SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
           tf.tf * ((nd.n_docs * 1048576) // dfreq.df) AS score_fp
    FROM tf JOIN dfreq USING (term), nd
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score_fp DESC, term ASC) AS rnk
    FROM scored
)
SELECT doc_id, term, tf, df, score_fp, CAST(rnk AS INTEGER) AS rnk
FROM ranked WHERE rnk <= {k}
"""


def repeat_buyers_sql() -> str:
    return """
SELECT b.o_custkey, c.c_mktsegment
FROM (
    SELECT DISTINCT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate <  TIMESTAMP '1996-01-01'
    INTERSECT
    SELECT DISTINCT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
) b JOIN customer c ON c.c_custkey = b.o_custkey
"""


def lapsed_buyers_sql() -> str:
    return """
SELECT DISTINCT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate <  TIMESTAMP '1996-01-01'
EXCEPT
SELECT DISTINCT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
"""


def event_type_unpivot_sql() -> str:
    cols = ", ".join(
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS {t}"
        for t in ("view", "click", "signup", "purchase", "error")
    )
    arms = "\nUNION ALL\n".join(
        f"SELECT user_bucket, '{t}' AS event_type, {t} AS n FROM p"
        for t in ("view", "click", "signup", "purchase", "error")
    )
    return f"""
WITH p AS (
    SELECT user_id % 10 AS user_bucket, {cols}
    FROM events GROUP BY user_bucket
)
{arms}
"""


def severity_set_concat_sql() -> str:
    return """
SELECT user_id % 10 AS user_bucket,
       string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS event_types,
       count(DISTINCT event_type) AS n_types
FROM events GROUP BY user_bucket
"""


def referential_audit_sql() -> str:
    return """
SELECT 'orders_without_customer' AS violation, count(*) AS n
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'lineitems_without_order' AS violation, count(*) AS n
FROM lineitem l
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'orders_without_lineitems' AS violation, count(*) AS n
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
"""


def conversion_funnel_sql() -> str:
    """Mirrors operators.timeseries.conversion_funnel (first-touch
    ordered funnel; strict > between stages)."""
    return """
WITH v AS (
    SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
    SELECT e.user_id, min(e.ts) AS t2
    FROM events e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'click' AND e.ts > v.t1
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, min(e.ts) AS t3
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase' AND e.ts > c.t2
    GROUP BY e.user_id
)
SELECT 1 AS stage_idx, 'view' AS stage, count(*) AS users FROM v
UNION ALL
SELECT 2, 'view>click', count(*) FROM c
UNION ALL
SELECT 3, 'view>click>purchase', count(*) FROM p
"""


def cohort_retention_sql() -> str:
    """Mirrors operators.timeseries.cohort_retention."""
    return """
WITH om AS (
    SELECT DISTINCT o_custkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS m
    FROM orders
),
coh AS (
    SELECT o_custkey, min(m) AS cohort_month FROM om GROUP BY o_custkey
)
SELECT coh.cohort_month,
       CAST(datediff('month', coh.cohort_month, om.m) AS INT) AS month_offset,
       count(*) AS active_customers
FROM om JOIN coh ON om.o_custkey = coh.o_custkey
GROUP BY 1, 2
"""


def purchase_intervals_sql() -> str:
    return """
WITH p AS (
    SELECT event_id, user_id, epoch_us(ts) // 1000000 AS sec
    FROM events WHERE event_type = 'purchase'
)
SELECT user_id, event_id, sec,
       sec - LAG(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS gap_sec
FROM p
"""


def video_frame_sample_sql() -> str:
    return """
WITH v AS (
    SELECT doc_id,
           octet_length(encode(text)) % 120 + 1 AS duration
    FROM documents
),
k AS (SELECT doc_id, duration, LEAST(4, duration) AS k FROM v)
SELECT doc_id,
       i AS frame_index,
       (i * duration) // k AS frame_offset,
       k AS n_frames
FROM k, (SELECT unnest(generate_series(0, 3)) AS i) idx
WHERE i < k
"""


# ---------------------------------------------------------------------------
# Round-5 additions: activity rollup, n-gram tables, batched kNN,
# label centroids, JSON attribute stats
# ---------------------------------------------------------------------------

def weekly_active_users_sql() -> str:
    """Epoch-aligned 7-day buckets — mirrors timeseries.weekly_active_users
    (pure integer bucket function, no calendar semantics)."""
    return """
SELECT DATE '1970-01-01' + CAST((epoch_us(ts) // 1000000 // 604800) * 7 AS INTEGER)
           AS week_start,
       count(DISTINCT user_id) AS active_users,
       count(*) AS n_events
FROM events
GROUP BY 1
"""


def bigram_top_terms_sql(k: int = 50) -> str:
    return f"""
WITH {DOC_TOKS_CTE},
bg AS (
    SELECT unnest(list_transform(range(1, greatest(len(toks), 1)),
                                 i -> toks[i] || ' ' || toks[i + 1])) AS bigram
    FROM dtok
)
SELECT bigram, CAST(count(*) AS BIGINT) AS n
FROM bg
GROUP BY bigram
ORDER BY n DESC, bigram ASC
LIMIT {k}
"""


def char_trigram_profile_sql(per_lang: int = 10) -> str:
    return f"""
WITH g AS (
    SELECT lang,
           unnest(list_transform(range(1, greatest(length(text) - 1, 1)),
                                 i -> substr(text, i, 3))) AS gram
    FROM documents
),
counted AS (
    SELECT lang, gram, CAST(count(*) AS BIGINT) AS n
    FROM g GROUP BY lang, gram
),
ranked AS (
    SELECT lang, gram, n,
           CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, gram ASC) AS INT)
               AS rank
    FROM counted
)
SELECT lang, gram, n, rank FROM ranked WHERE rank <= {per_lang}
"""


def embedding_centroids_by_label_sql() -> str:
    """Flat per-(label, dim) fixed-point centroid — mirrors
    vector.embedding_centroids_by_label bit-for-bit."""
    return """
WITH ex AS (
    SELECT label, i - 1 AS dim,
           CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000000.0) AS BIGINT) AS x_fix
    FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
)
SELECT label, CAST(dim AS INT) AS dim,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(x_fix) AS BIGINT) AS sum_fix,
       CAST(sum(x_fix) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000000.0)
           AS centroid
FROM ex
GROUP BY label, dim
"""


def knn_batch_topk_sql(n_queries: int = 8, k: int = 3) -> str:
    """Batched exact kNN — per-query top-k, mirrors vector.knn_batch_topk."""
    return f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS qe
    FROM embeddings WHERE vec_id < {n_queries}
),
scored AS (
    SELECT q.query_id, e.vec_id, e.label,
           {_DOT9_PAIR.format(a="e.embedding", b="q.qe")} AS d_fix,
           {_DOT9_PAIR.format(a="e.embedding", b="e.embedding")} AS na_fix,
           {_DOT9_PAIR.format(a="q.qe", b="q.qe")} AS nb_fix
    FROM embeddings e, q
    WHERE e.vec_id <> q.query_id
),
ranked AS (
    SELECT query_id, vec_id, label,
           {_COS.format(d="d_fix", na="na_fix", nb="nb_fix")} AS score,
           CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY {_COS.format(d="d_fix", na="na_fix", nb="nb_fix")} DESC,
                        vec_id ASC
           ) AS INT) AS rank
    FROM scored
)
SELECT query_id, vec_id, label, rank, score FROM ranked WHERE rank <= {k}
"""


def props_json_stats_sql() -> str:
    return """
WITH k AS (
    SELECT event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
)
SELECT event_type,
       count(*) AS n_events,
       count(k) AS n_with_k,
       CAST(sum(k) AS BIGINT) AS sum_k,
       min(k) AS min_k,
       max(k) AS max_k,
       CAST(sum(k) AS DOUBLE) / CAST(count(k) AS DOUBLE) AS avg_k
FROM k
GROUP BY event_type
"""


def dedup_keep_best_sql(threshold: float = 0.5) -> str:
    """Cluster argmax by quality — composes the clusters and quality
    oracles; mirrors graph.dedup_keep_best."""
    return f"""
SELECT c.cluster_rep,
       c.doc_id AS keep_doc_id,
       q.quality_fix,
       c.cluster_size,
       c.cluster_size - 1 AS n_dropped
FROM ({dedup_clusters_sql(threshold)}) c
JOIN ({doc_quality_scores_sql()}) q ON c.doc_id = q.doc_id
QUALIFY row_number() OVER (
    PARTITION BY c.cluster_rep ORDER BY q.quality_fix DESC, c.doc_id ASC
) = 1
"""


def source_mix_allocation_sql(budget_fraction: float = 1.0) -> str:
    return """
WITH per AS (
    SELECT source, count(*) AS n_docs FROM documents GROUP BY source
),
tot AS (
    SELECT CAST(sum(n_docs) AS BIGINT) AS total,
           CAST(count(*) AS BIGINT) AS n_sources
    FROM per
)
SELECT source, n_docs,
       CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE) AS share,
       least(1.0, {bf!r} * (1.0 / CAST(n_sources AS DOUBLE))
                  / (CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE)))
           AS sampling_rate,
       CAST(floor(CAST(n_docs AS DOUBLE)
                  * least(1.0, {bf!r} * (1.0 / CAST(n_sources AS DOUBLE))
                          / (CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE))))
            AS BIGINT) AS planned_docs
FROM per, tot
""".format(bf=budget_fraction)


def embedding_norm_stats_sql() -> str:
    return f"""
WITH n AS (
    SELECT label, {_DOT9_PAIR.format(a="embedding", b="embedding")} AS n2_fix
    FROM embeddings
)
SELECT label,
       count(*) AS n,
       CAST(min(n2_fix) AS BIGINT) AS min_n2_fix,
       CAST(max(n2_fix) AS BIGINT) AS max_n2_fix,
       CAST(sum(n2_fix) AS BIGINT) AS sum_n2_fix,
       CAST(sum(n2_fix) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000000.0)
           AS mean_norm2
FROM n
GROUP BY label
"""


def user_sessions_sql(gap_sec: int = 21_600) -> str:
    """Gaps-and-islands sessionization — mirrors windows.user_sessions."""
    return f"""
WITH e AS (
    SELECT user_id, event_id, epoch_us(ts) // 1000000 AS sec FROM events
),
m AS (
    SELECT user_id, event_id, sec,
           CASE WHEN lag(sec) OVER w IS NULL
                     OR sec - lag(sec) OVER w > {gap_sec}
                THEN 1 ELSE 0 END AS is_new
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
),
s AS (
    SELECT user_id, sec,
           SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY sec, event_id
               ROWS UNBOUNDED PRECEDING
           ) AS session_id
    FROM m
)
SELECT user_id,
       CAST(session_id AS BIGINT) AS session_id,
       min(sec) AS session_start,
       max(sec) AS session_end,
       count(*) AS n_events,
       max(sec) - min(sec) AS duration_sec
FROM s
GROUP BY user_id, session_id
"""


def rolling_7d_active_users_sql() -> str:
    """Distinct (day,user) pairs fanned to a 7-day offset list —
    mirrors timeseries.rolling_7d_active_users."""
    return """
WITH du AS (
    SELECT DISTINCT epoch_us(ts) // 1000000 // 86400 AS day, user_id FROM events
),
fan AS (
    SELECT day + o AS as_of_day, user_id
    FROM du, unnest(range(0, 7)) AS t(o)
),
b AS (SELECT max(day) AS max_day FROM du)
SELECT DATE '1970-01-01' + CAST(as_of_day AS INTEGER) AS as_of_date,
       count(DISTINCT user_id) AS active_users_7d
FROM fan, b
WHERE as_of_day <= max_day
GROUP BY as_of_day
"""


def event_type_transition_matrix_sql() -> str:
    return """
WITH e AS (
    SELECT user_id, event_id, event_type, epoch_us(ts) // 1000000 AS sec
    FROM events
),
m AS (
    SELECT event_type AS next_type,
           lag(event_type) OVER (
               PARTITION BY user_id ORDER BY sec, event_id
           ) AS prev_type
    FROM e
)
SELECT prev_type, next_type, count(*) AS n
FROM m WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
"""


def events_profile_sql() -> str:
    """Per-column null/distinct audit — mirrors relational.events_profile
    (one aggregation pass, unpivoted to one row per column)."""
    cols = ["event_type", "user_id", "value", "props"]
    selects = []
    for c in cols:
        selects.append(f"""
SELECT '{c}' AS column_name,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       count(*) AS n_rows
FROM events""")
    return "\nUNION ALL\n".join(selects)


def distinctive_terms_by_source_sql(top_k: int = 5, min_count: int = 10) -> str:
    return f"""
WITH {DOC_TOKS_CTE},
st AS (
    SELECT source, unnest(toks) AS term FROM dtok
),
stc AS (
    SELECT source, term, CAST(count(*) AS BIGINT) AS n_st
    FROM st GROUP BY source, term
),
s_tot AS (SELECT source, CAST(sum(n_st) AS BIGINT) AS tot_s FROM stc GROUP BY source),
g AS (SELECT term, CAST(sum(n_st) AS BIGINT) AS n_g FROM stc GROUP BY term),
g_tot AS (SELECT CAST(sum(n_st) AS BIGINT) AS tot_g FROM stc),
lifted AS (
    SELECT stc.source, stc.term, stc.n_st,
           (CAST(stc.n_st AS DOUBLE) / CAST(s_tot.tot_s AS DOUBLE))
           / (CAST(g.n_g AS DOUBLE) / CAST(g_tot.tot_g AS DOUBLE)) AS lift
    FROM stc
    JOIN s_tot ON stc.source = s_tot.source
    JOIN g ON stc.term = g.term
    CROSS JOIN g_tot
    WHERE stc.n_st >= {min_count}
)
SELECT source, term, n_st, lift,
       CAST(row_number() OVER (
           PARTITION BY source ORDER BY lift DESC, term ASC
       ) AS INT) AS rank
FROM lifted
QUALIFY rank <= {top_k}
"""


def near_duplicate_rate_by_source_sql(threshold: float = 0.5) -> str:
    return f"""
SELECT d.source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN c.cluster_size > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_in_dup_clusters,
       CAST(sum(CASE WHEN c.cluster_size > 1 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS dup_rate
FROM documents d
JOIN ({dedup_clusters_sql(threshold)}) c ON d.doc_id = c.doc_id
GROUP BY d.source
"""


def retrieval_label_precision_sql(n_queries: int = 8, k: int = 3) -> str:
    return f"""
WITH topk AS ({knn_batch_topk_sql(n_queries, k)}),
ql AS (
    SELECT vec_id AS query_id, label AS query_label
    FROM embeddings WHERE vec_id < {n_queries}
)
SELECT t.query_id, ql.query_label,
       count(*) AS k,
       CAST(sum(CASE WHEN t.label = ql.query_label THEN 1 ELSE 0 END) AS BIGINT)
           AS n_match,
       CAST(sum(CASE WHEN t.label = ql.query_label THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS precision
FROM topk t JOIN ql ON t.query_id = ql.query_id
GROUP BY t.query_id, ql.query_label
"""


def revenue_concentration_sql() -> str:
    """Customer revenue deciles with exact integer decile formula —
    mirrors relational.revenue_concentration (NOT ntile)."""
    return """
WITH per AS (
    SELECT o_custkey,
           CAST(sum(CAST(floor(o_totalprice * 1000000) AS BIGINT)) AS BIGINT)
               AS revenue_fix
    FROM orders GROUP BY o_custkey
),
ranked AS (
    SELECT o_custkey, revenue_fix,
           row_number() OVER (ORDER BY revenue_fix DESC, o_custkey ASC) AS rank,
           count(*) OVER () AS n_customers,
           CAST(sum(revenue_fix) OVER () AS BIGINT) AS total_fix
    FROM per
)
SELECT ((rank - 1) * 10) // n_customers + 1 AS decile,
       count(*) AS n_customers,
       CAST(sum(revenue_fix) AS BIGINT) AS decile_revenue_fix,
       CAST(sum(revenue_fix) AS DOUBLE) / CAST(any_value(total_fix) AS DOUBLE)
           AS revenue_share
FROM ranked
GROUP BY ((rank - 1) * 10) // n_customers + 1
"""


def token_budget_shards_sql(budget_tokens: int = 8192) -> str:
    """Exclusive prefix sum over doc order — mirrors
    rank.token_budget_shards."""
    return f"""
WITH {DOC_TOKS_CTE},
t AS (
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens
    FROM dtok
),
p AS (
    SELECT doc_id, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (
               ORDER BY doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) AS start_offset
    FROM t
)
SELECT doc_id, n_tokens, start_offset,
       start_offset // {budget_tokens} AS shard_id
FROM p
"""


def chunk_documents_sql(chunk_tokens: int = 64, stride: int = 48) -> str:
    """Per-doc chunk windows over the pinned tokenizer — mirrors
    textstats.chunk_documents (DuckDB list slicing is 1-based inclusive,
    clamped to the list end like Spark's slice)."""
    return f"""
WITH {DOC_TOKS_CTE},
t AS (
    SELECT doc_id, toks, len(toks) AS dl FROM dtok WHERE len(toks) > 0
),
c AS (
    SELECT doc_id, dl, toks,
           unnest(range(0, dl, {stride})) AS start_tok,
           generate_subscripts(range(0, dl, {stride}), 1) - 1 AS chunk_id
    FROM t
)
SELECT doc_id,
       CAST(chunk_id AS INT) AS chunk_id,
       CAST(start_tok AS INT) AS start_tok,
       CAST(len(toks[start_tok + 1 : least(start_tok + {chunk_tokens}, dl)]) AS INT)
           AS n_chunk_tokens,
       array_to_string(toks[start_tok + 1 : least(start_tok + {chunk_tokens}, dl)], ' ')
           AS chunk_text
FROM c
"""


def value_quantile_normalized_sql() -> str:
    return """
WITH r AS (
    SELECT event_id, value,
           -- NULLS FIRST = Spark's ASC default (DuckDB defaults NULLS LAST)
           row_number() OVER (ORDER BY value ASC NULLS FIRST, event_id ASC) AS rank,
           count(*) OVER () AS n
    FROM events
)
SELECT event_id, value,
       CASE WHEN n = 1 THEN 0.0
            ELSE CAST(rank - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) END AS q
FROM r
"""


def label_drift_report_sql() -> str:
    return """
WITH e AS (
    SELECT event_type, epoch_us(ts) // 1000000 AS sec FROM events
),
b AS (SELECT min(sec) AS lo, max(sec) AS hi FROM e),
per AS (
    SELECT event_type,
           CAST(sum(CASE WHEN sec * 2 > lo + hi THEN 0 ELSE 1 END) AS BIGINT) AS n_a,
           CAST(sum(CASE WHEN sec * 2 > lo + hi THEN 1 ELSE 0 END) AS BIGINT) AS n_b
    FROM e, b GROUP BY event_type
),
tot AS (
    SELECT CAST(sum(n_a) AS BIGINT) AS tot_a, CAST(sum(n_b) AS BIGINT) AS tot_b
    FROM per
)
SELECT event_type, n_a, n_b,
       CAST(n_a AS DOUBLE) / CAST(tot_a AS DOUBLE) AS share_a,
       CAST(n_b AS DOUBLE) / CAST(tot_b AS DOUBLE) AS share_b,
       CASE WHEN CAST(n_a AS DOUBLE) / CAST(tot_a AS DOUBLE) = 0.0 THEN NULL
            ELSE (CAST(n_b AS DOUBLE) / CAST(tot_b AS DOUBLE))
                 / (CAST(n_a AS DOUBLE) / CAST(tot_a AS DOUBLE)) END AS share_ratio
FROM per, tot
"""


def chunk_bm25_topk_sql(
    terms=("hash", "merge", "spark"), k: int = 25,
    chunk_tokens: int = 64, stride: int = 48,
) -> str:
    """BM25 over the chunked corpus — chunk-level tf/df/avgdl, mirrors
    search.chunk_bm25_topk."""
    tf_cols = ",\n           ".join(
        f"len(list_filter(ctoks, x -> x = '{t}')) AS tf_{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n           ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms))
    )
    k1, k1p1, one_minus_b, b = 1.2, 2.2, 0.25, 0.75
    terms_fix = "\n         + ".join(
        f"CAST(floor((floor(ln(1 + (n_docs - df_{i} + 0.5)/(df_{i} + 0.5)) * 1000000.0)/1000000.0)"
        f" * (tf_{i} * {k1p1!r}) / (tf_{i} + {k1!r} * ({one_minus_b!r} + {b!r} * dl / (CAST(sum_dl AS DOUBLE)/n_docs)))"
        f" * 1000000000.0) AS BIGINT)"
        for i in range(len(terms))
    )
    return f"""
WITH chunks AS ({chunk_documents_sql(chunk_tokens, stride)}),
cd AS (
    SELECT doc_id, chunk_id,
           list_filter(string_split_regex(lower(chunk_text), '\\s+'), x -> x <> '')
               AS ctoks
    FROM chunks
),
dd AS (
    SELECT doc_id, chunk_id, len(ctoks) AS dl,
           {tf_cols}
    FROM cd
),
stats AS (
    SELECT count(*) AS n_docs, SUM(dl) AS sum_dl,
           {df_cols}
    FROM dd
),
scored AS (
    SELECT doc_id, chunk_id,
           {terms_fix} AS score_fix
    FROM dd, stats
)
SELECT doc_id, chunk_id, score_fix,
       CAST(score_fix AS DOUBLE)/1000000000.0 AS score
FROM scored WHERE score_fix > 0
ORDER BY score_fix DESC, doc_id ASC, chunk_id ASC LIMIT {k}
"""


def source_rebalanced_sample_sql(budget_fraction: float = 0.5) -> str:
    """Deterministic per-source downsampling at the mix-allocation
    rates — mirrors curation.source_rebalanced_sample."""
    return f"""
WITH alloc AS ({source_mix_allocation_sql(budget_fraction)})
SELECT d.doc_id, d.source, a.sampling_rate
FROM documents d
JOIN alloc a ON d.source = a.source
WHERE a.sampling_rate >= 1.0
   OR substr(sha256(CAST(d.doc_id AS VARCHAR)), 1, 12)
      < lpad(lower(hex(CAST(floor(a.sampling_rate * 281474976710656.0) AS BIGINT))), 12, '0')
"""


_REV6 = "CAST(floor(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT)"


def volume_shipping_sql(nation_a: str = "NATION_1", nation_b: str = "NATION_2") -> str:
    return f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS l_year,
       CAST(sum({_REV6}) AS BIGINT) AS revenue_fix
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE l.l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                       AND TIMESTAMP '1997-12-31 23:59:59'
  AND ((n1.n_name = '{nation_a}' AND n2.n_name = '{nation_b}')
       OR (n1.n_name = '{nation_b}' AND n2.n_name = '{nation_a}'))
GROUP BY 1, 2, 3
"""


def returned_item_report_sql(k: int = 20) -> str:
    return f"""
SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
       CAST(sum({_REV6}) AS BIGINT) AS revenue_fix
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                        AND TIMESTAMP '1996-03-31 23:59:59'
GROUP BY 1, 2, 3, 4
ORDER BY revenue_fix DESC, c_custkey ASC
LIMIT {k}
"""


def nation_market_share_sql(target_nation: str = "NATION_3",
                            region: str = "EUROPE",
                            p_type: str = "PROMO") -> str:
    return f"""
SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
       CAST(sum(CASE WHEN ns.n_name = '{target_nation}' THEN {_REV6}
                     ELSE 0 END) AS BIGINT) AS target_rev_fix,
       CAST(sum({_REV6}) AS BIGINT) AS total_rev_fix,
       CAST(sum(CASE WHEN ns.n_name = '{target_nation}' THEN {_REV6}
                     ELSE 0 END) AS DOUBLE)
       / CAST(sum({_REV6}) AS DOUBLE) AS mkt_share
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation ns ON s.s_nationkey = ns.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation nc ON c.c_nationkey = nc.n_nationkey
JOIN region r ON nc.n_regionkey = r.r_regionkey
WHERE p.p_type = '{p_type}' AND r.r_name = '{region}'
GROUP BY 1
"""


def large_volume_customers_sql(min_qty: float = 250.0, k: int = 100) -> str:
    return f"""
WITH big AS (
    SELECT l_orderkey,
           CAST(sum(CAST(floor(l_quantity * 1000000) AS BIGINT)) AS BIGINT)
             AS total_qty_fix
    FROM lineitem
    GROUP BY 1
    HAVING total_qty_fix > {int(min_qty * 1_000_000)}
)
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
       o.o_totalprice, b.total_qty_fix
FROM big b
JOIN orders o ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
LIMIT {k}
"""


def small_quantity_revenue_sql(brand: str = "Brand#4") -> str:
    # qty < 0.2 * avg(qty) over the part  ⟺  5·qty_fix·n < sum_fix (exact)
    return f"""
WITH li AS (
    SELECT l.*
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand = '{brand}'
),
stats AS (
    SELECT l_partkey AS sp_partkey,
           CAST(count(*) AS BIGINT) AS n_li,
           CAST(sum(CAST(floor(l_quantity * 1000000) AS BIGINT)) AS BIGINT)
             AS sum_qty_fix
    FROM li
    GROUP BY 1
)
SELECT CAST(sum(CAST(floor(l_extendedprice * 1000000) AS BIGINT)) AS BIGINT)
         AS revenue_fix,
       CAST(sum(CAST(floor(l_extendedprice * 1000000) AS BIGINT)) AS DOUBLE)
         / 7.0 / 1000000.0 AS avg_yearly
FROM li
JOIN stats ON li.l_partkey = stats.sp_partkey
WHERE 5 * CAST(floor(l_quantity * 1000000) AS BIGINT) * n_li < sum_qty_fix
"""


def top_supplier_revenue_sql() -> str:
    return f"""
WITH rev AS (
    SELECT l_suppkey, CAST(sum({_REV6}) AS BIGINT) AS total_rev_fix
    FROM lineitem
    WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                         AND TIMESTAMP '1996-03-31 23:59:59'
    GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, r.total_rev_fix
FROM rev r
JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.total_rev_fix = (SELECT max(total_rev_fix) FROM rev)
"""


def dormant_high_balance_customers_sql() -> str:
    # bal > avg(positive bal)  ⟺  bal_fix > sum_fix // n_pos (exact floor)
    return """
WITH pos AS (
    SELECT CAST(count(*) AS BIGINT) AS n_pos,
           CAST(sum(CAST(floor(c_acctbal * 1000000) AS BIGINT)) AS BIGINT)
             AS sum_bal_fix
    FROM customer
    WHERE c_acctbal > 0
)
SELECT n.n_name,
       CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(CAST(floor(c.c_acctbal * 1000000) AS BIGINT)) AS BIGINT)
         AS totacctbal_fix
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
CROSS JOIN pos
WHERE CAST(floor(c.c_acctbal * 1000000) AS BIGINT) > sum_bal_fix // n_pos
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY 1
"""


def profit_by_nation_year_sql() -> str:
    return """
SELECT n.n_name AS nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS o_year,
       CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)
                            - p_retailprice * l_quantity * 0.1)
                           * 1000000) AS BIGINT)) AS BIGINT) AS profit_fix
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY 1, 2
"""


def dup_ngram_stats_sql(n: int | None = None) -> str:
    """Per-doc distinct n-gram duplication counts — groups on the raw
    gram strings (the Spark side's 64-bit hash is internal only)."""
    from via_spark.operators.textstats import DUP_NGRAM_N

    n = DUP_NGRAM_N if n is None else n
    return f"""
WITH {DOC_TOKS_CTE},
g0 AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks) - {n - 2}),
                                 i -> concat_ws(' ', list_slice(toks, i, i + {n - 1})))) AS gram
    FROM dtok
    WHERE len(toks) >= {n}
),
g AS (SELECT DISTINCT doc_id, gram FROM g0),
sh AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(sh.gram) AS BIGINT) AS n_shared,
       count(sh.gram) / count(*) AS dup_ngram_ratio
FROM g LEFT JOIN sh USING (gram)
GROUP BY g.doc_id
"""


def unigram_surprisal_scores_sql() -> str:
    """Per-doc mean unigram surprisal in whole bits — exact integer
    quotient bit-length, no float log (mirrors textstats)."""
    return f"""
WITH {DOC_TOKS_CTE},
tok AS (SELECT doc_id, unnest(toks) AS t FROM dtok WHERE len(toks) > 0),
counts AS (SELECT t, count(*) AS cnt FROM tok GROUP BY t),
totals AS (SELECT count(*) AS total_toks FROM tok),
scored AS (
    SELECT doc_id,
           CAST(length(printf('%b', total_toks // cnt)) - 1 AS BIGINT) AS bits
    FROM tok JOIN counts USING (t), totals
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(bits) AS BIGINT) AS surprisal_bits,
       sum(bits) / count(*) AS mean_bits
FROM scored GROUP BY doc_id
"""


def readability_scores_sql() -> str:
    """Flesch-style readability — mirrors textstats.readability_scores
    (same regexes, same left-assoc double chain, same 1e-4 rounding)."""
    from via_spark.operators.textstats import SENTENCE_RE, SYLLABLE_RE

    return rf"""
WITH counted AS (
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(text, '{SENTENCE_RE}')) AS BIGINT)
             AS n_sentences,
           CAST(len(regexp_extract_all(lower(text), '{SYLLABLE_RE}')) AS BIGINT)
             AS n_syllables
    FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       floor((206.835
              - 1.015 * (CAST(greatest(n_words, 1) AS DOUBLE)
                         / CAST(greatest(n_sentences, 1) AS DOUBLE))
              - 84.6 * (CAST(n_syllables AS DOUBLE)
                        / CAST(greatest(n_words, 1) AS DOUBLE)))
             * 10000.0 + 0.5) / 10000.0 AS flesch
FROM counted
"""


def length_filtered_documents_sql() -> str:
    """Per-language central-90% length trim — mirrors
    textstats.length_filtered_documents' integer histogram cut."""
    return """
WITH hist AS (
    SELECT lang, n_chars, CAST(count(*) AS BIGINT) AS cnt
    FROM documents
    GROUP BY 1, 2
),
c AS (
    SELECT lang, n_chars, cnt,
           CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY n_chars) AS BIGINT) AS cum,
           CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
    FROM hist
),
bounds AS (
    SELECT lang, min(n_chars) AS lo, max(n_chars) AS hi
    FROM c
    WHERE 20 * cum > n AND 20 * (n - cum + cnt) > n
    GROUP BY 1
)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d
JOIN bounds b ON d.lang = b.lang
WHERE d.n_chars BETWEEN b.lo AND b.hi
"""


def centroid_similarity_matrix_sql() -> str:
    """Pairwise centroid cosine — mirrors
    vector.centroid_similarity_matrix (same pinned centroid expression,
    same fixed-point pair dot/norms)."""
    return """
WITH ex AS (
    SELECT label, i - 1 AS dim,
           CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000000.0) AS BIGINT) AS x_fix
    FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
),
cen AS (
    SELECT label, dim,
           CAST(sum(x_fix) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000000.0)
             AS c
    FROM ex
    GROUP BY 1, 2
),
norms AS (
    SELECT label,
           CAST(sum(CAST(floor(c * c * 1000000000.0) AS BIGINT)) AS BIGINT)
             AS norm_fix
    FROM cen
    GROUP BY 1
),
dots AS (
    SELECT a.label AS label_a, b.label AS label_b,
           CAST(sum(CAST(floor(a.c * b.c * 1000000000.0) AS BIGINT)) AS BIGINT)
             AS dot_fix
    FROM cen a
    JOIN cen b ON a.dim = b.dim AND a.label < b.label
    GROUP BY 1, 2
)
SELECT d.label_a, d.label_b, d.dot_fix,
       CASE WHEN na.norm_fix = 0 OR nb.norm_fix = 0 THEN 0.0
            ELSE CAST(d.dot_fix AS DOUBLE)
                 / (sqrt(CAST(na.norm_fix AS DOUBLE))
                    * sqrt(CAST(nb.norm_fix AS DOUBLE)))
       END AS cos_sim
FROM dots d
JOIN norms na ON d.label_a = na.label
JOIN norms nb ON d.label_b = nb.label
"""


def corpus_shuffle_positions_sql(epoch: int = 0) -> str:
    """Deterministic epoch shuffle order — mirrors
    rank.corpus_shuffle_positions (same sha256 key, same tiebreak)."""
    return f"""
SELECT doc_id,
       sha256('epoch-{epoch}:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
       CAST(row_number() OVER (
           ORDER BY sha256('epoch-{epoch}:' || CAST(doc_id AS VARCHAR)) ASC,
                    doc_id ASC) AS BIGINT) AS pos
FROM documents
"""


def mixture_interleave_positions_sql() -> str:
    """Proportional source interleave — mirrors
    rank.mixture_interleave_positions ((2r−1)/(2n_s) fractions)."""
    return """
WITH ranked AS (
    SELECT doc_id, source,
           CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY sha256('mix:' || CAST(doc_id AS VARCHAR)) ASC,
                        doc_id ASC) AS BIGINT) AS src_rank,
           CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
    FROM documents
)
SELECT doc_id, source, src_rank,
       CAST(row_number() OVER (
           ORDER BY CAST(2 * src_rank - 1 AS DOUBLE) / CAST(2 * n_src AS DOUBLE) ASC,
                    source ASC, doc_id ASC) AS BIGINT) AS pos
FROM ranked
"""


def column_correlation_matrix_sql() -> str:
    """Exact quantized Pearson matrix — mirrors
    stats.column_correlation_matrix (1e-3 fixed point, HUGEINT sums,
    pinned double formula)."""
    from via_spark.operators.stats import CORR_COLUMNS, CORR_SCALE

    f = {
        c: f"CAST(floor({c} * {CORR_SCALE}) AS HUGEINT)" for c in CORR_COLUMNS
    }
    sums = ["CAST(count(*) AS BIGINT) AS n"]
    for c in CORR_COLUMNS:
        sums.append(f"sum({f[c]}) AS s_{c}")
        sums.append(f"sum({f[c]} * {f[c]}) AS ss_{c}")
    selects = []
    for i, a in enumerate(CORR_COLUMNS):
        for b in CORR_COLUMNS[i + 1:]:
            sums.append(f"sum({f[a]} * {f[b]}) AS sp_{a}__{b}")
            num = (f"CAST(n AS DOUBLE) * CAST(sp_{a}__{b} AS DOUBLE)"
                   f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE)")
            va = (f"CAST(n AS DOUBLE) * CAST(ss_{a} AS DOUBLE)"
                  f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE)")
            vb = (f"CAST(n AS DOUBLE) * CAST(ss_{b} AS DOUBLE)"
                  f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)")
            selects.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b,"
                f" CASE WHEN ({va}) <= 0 OR ({vb}) <= 0"
                f" THEN CAST(0.0 AS DOUBLE)"
                f" ELSE ({num}) / (sqrt({va}) * sqrt({vb})) END AS corr"
                f" FROM one"
            )
    union = "\nUNION ALL\n".join(selects)
    return f"""
WITH one AS (SELECT {", ".join(sums)} FROM lineitem)
{union}
"""


def per_source_cap_sample_sql(cap: int = 50) -> str:
    """Deterministic per-source cap — mirrors
    curation.per_source_cap_sample."""
    return f"""
SELECT doc_id, source, CAST(rk AS BIGINT) AS sample_rank
FROM (
    SELECT doc_id, source,
           row_number() OVER (
               PARTITION BY source
               ORDER BY sha256('cap:' || CAST(doc_id AS VARCHAR)) ASC,
                        doc_id ASC) AS rk
    FROM documents
)
WHERE rk <= {cap}
"""


def value_zscore_by_type_sql() -> str:
    """Per-type z-scores — mirrors stats.value_zscore_by_type (exact
    fixed-point moments, pinned double chain, 1e-6 rounding)."""
    return """
WITH mom AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS s_fix,
           sum(CAST(floor(value * 1000000) AS HUGEINT)
               * CAST(floor(value * 1000000) AS HUGEINT)) AS ss_fix
    FROM events
    GROUP BY 1
)
SELECT e.event_id, e.event_type, e.value,
       CASE WHEN (CAST(ss_fix AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(s_fix AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s_fix AS DOUBLE) / CAST(n AS DOUBLE))) <= 0
            THEN CAST(0.0 AS DOUBLE)
            ELSE floor(((CAST(CAST(floor(e.value * 1000000) AS BIGINT) AS DOUBLE)
                         - CAST(s_fix AS DOUBLE) / CAST(n AS DOUBLE))
                        / sqrt(CAST(ss_fix AS DOUBLE) / CAST(n AS DOUBLE)
                               - (CAST(s_fix AS DOUBLE) / CAST(n AS DOUBLE))
                                 * (CAST(s_fix AS DOUBLE) / CAST(n AS DOUBLE))))
                       * 1000000.0 + 0.5) / 1000000.0
       END AS zscore
FROM events e
JOIN mom ON e.event_type = mom.event_type
"""


def join_key_skew_report_sql() -> str:
    """Exact per-key-count distribution stats — mirrors
    stats.join_key_skew_report's count-of-counts histogram math."""
    from via_spark.operators.stats import SKEW_KEYS

    blocks = []
    for table, key in SKEW_KEYS:
        blocks.append(f"""
SELECT '{table}.{key}' AS join_key, n_keys, n_rows, max_cnt, p50_cnt, p99_cnt,
       CAST(max_cnt AS DOUBLE) * CAST(n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE)
         AS skew_ratio
FROM (
    SELECT CAST(max(n_keys) AS BIGINT) AS n_keys,
           CAST(max(n_rows) AS BIGINT) AS n_rows,
           CAST(max(max_cnt) AS BIGINT) AS max_cnt,
           CAST(min(CASE WHEN 2 * cum >= n_keys THEN cnt END) AS BIGINT) AS p50_cnt,
           CAST(min(CASE WHEN 100 * cum >= 99 * n_keys THEN cnt END) AS BIGINT) AS p99_cnt
    FROM (
        SELECT cnt, n_keys_at,
               sum(n_keys_at) OVER (ORDER BY cnt) AS cum,
               sum(n_keys_at) OVER () AS n_keys,
               sum(cnt * n_keys_at) OVER () AS n_rows,
               max(cnt) OVER () AS max_cnt
        FROM (
            SELECT cnt, CAST(count(*) AS BIGINT) AS n_keys_at
            FROM (
                SELECT {key}, CAST(count(*) AS BIGINT) AS cnt
                FROM {table}
                GROUP BY 1
            )
            GROUP BY 1
        )
    )
)""")
    return "\nUNION ALL\n".join(blocks)


def daily_revenue_share_sql() -> str:
    """Percent-of-total per day — mirrors relational.daily_revenue_share."""
    return """
WITH agg AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           o_orderpriority AS priority,
           CAST(sum(CAST(floor(o_totalprice * 1000000) AS BIGINT)) AS BIGINT)
             AS rev_fix
    FROM orders
    GROUP BY 1, 2
)
SELECT day, priority, rev_fix,
       CAST(rev_fix AS DOUBLE)
       / CAST(sum(rev_fix) OVER (PARTITION BY day) AS DOUBLE) AS rev_share
FROM agg
"""


_OT6 = "CAST(floor(o_totalprice * 1000000) AS BIGINT)"


def rollup_region_nation_revenue_sql() -> str:
    return f"""
SELECT r.r_name, n.n_name,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum({_OT6}) AS BIGINT) AS rev_fix
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r.r_name, n.n_name)
"""


def orders_grouping_sets_sql() -> str:
    return f"""
SELECT o_orderpriority, o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum({_OT6}) AS BIGINT) AS rev_fix
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
"""


def behavior_trigrams_sql(k: int = 50) -> str:
    """NULL event_type rows are excluded before the lags (matches the
    Spark side — concat_ws vs || NULL semantics otherwise diverge)."""
    return f"""
WITH seq AS (
    SELECT
        lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e1,
        lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
        event_type AS e3
    FROM events
    WHERE event_type IS NOT NULL
)
SELECT e1 || '>' || e2 || '>' || e3 AS trigram, CAST(count(*) AS BIGINT) AS n
FROM seq
WHERE e1 IS NOT NULL
GROUP BY 1
ORDER BY n DESC, trigram ASC
LIMIT {k}
"""


def timed_conversion_funnel_sql(max_gap_sec: int = 3600) -> str:
    """Mirrors operators.timeseries.timed_conversion_funnel (first
    touch + attribution window)."""
    return f"""
WITH v AS (
    SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
    SELECT e.user_id, min(e.ts) AS t2
    FROM events e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'click' AND e.ts > v.t1
      AND e.ts <= v.t1 + INTERVAL {max_gap_sec} SECOND
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, min(e.ts) AS t3
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase' AND e.ts > c.t2
      AND e.ts <= c.t2 + INTERVAL {max_gap_sec} SECOND
    GROUP BY e.user_id
)
SELECT CAST(1 AS INT) AS stage_idx, 'view' AS stage, CAST(count(*) AS BIGINT) AS users FROM v
UNION ALL
SELECT 2, 'view>click', count(*) FROM c
UNION ALL
SELECT 3, 'view>click>purchase', count(*) FROM p
"""


def above_p95_events_sql() -> str:
    """Per-type p95 outliers — mirrors stats.above_p95_events
    (rank-based DISCRETE p95: smallest fixed-point value with
    100·cum ≥ 95·n, all-integer — interpolated quantile_cont could
    land an ulp on the other side of an integer vs Spark and shift the
    floored threshold by 1)."""
    return """
WITH q AS (
    SELECT event_id, event_type, value,
           CAST(floor(value * 1000000) AS BIGINT) AS vfix
    FROM events
),
hist AS (
    SELECT event_type, vfix AS v, count(*) AS c
    FROM q GROUP BY 1, 2
),
cum AS (
    SELECT event_type, v,
           sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cum,
           sum(c) OVER (PARTITION BY event_type) AS n
    FROM hist
),
thr AS (
    SELECT event_type, CAST(min(v) AS BIGINT) AS p95_fix
    FROM cum WHERE 100 * cum >= 95 * n GROUP BY 1
)
SELECT q.event_id, q.event_type, q.value, thr.p95_fix
FROM q JOIN thr ON q.event_type = thr.event_type
WHERE q.vfix > thr.p95_fix
"""


def daily_priority_percent_rank_sql() -> str:
    """percent_rank/cume_dist over the daily aggregate — mirrors
    stats.daily_priority_percent_rank."""
    return """
WITH agg AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           o_orderpriority AS priority,
           CAST(sum(CAST(floor(o_totalprice * 1000000) AS BIGINT)) AS BIGINT)
             AS rev_fix
    FROM orders
    GROUP BY 1, 2
)
SELECT day, priority, rev_fix,
       percent_rank() OVER (PARTITION BY day ORDER BY rev_fix ASC) AS pct_rank,
       cume_dist() OVER (PARTITION BY day ORDER BY rev_fix ASC) AS cume
FROM agg
"""


def event_type_share_drift_daily_sql() -> str:
    """Daily mix shares + day-over-day delta — mirrors
    timeseries.event_type_share_drift_daily (epoch-day buckets)."""
    return """
WITH agg AS (
    SELECT CAST(epoch_us(ts) // 1000000 // 86400 AS BIGINT) AS day_num,
           event_type, CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1, 2
),
shared AS (
    SELECT day_num, event_type, n,
           CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY day_num) AS DOUBLE)
             AS share
    FROM agg
)
SELECT day_num, event_type, n, share,
       share - lag(share, 1) OVER (PARTITION BY event_type ORDER BY day_num)
         AS share_delta
FROM shared
"""


def hourly_value_p95_sql() -> str:
    """Hourly exact p95 — mirrors timeseries.hourly_value_p95
    (rank-based discrete p95 over fixed-point values, all-integer)."""
    return """
WITH q AS (
    SELECT CAST(epoch_us(ts) // 1000000 // 3600 AS BIGINT) AS hour_num,
           CAST(floor(value * 1000000) AS BIGINT) AS vfix
    FROM events
),
hist AS (
    SELECT hour_num, vfix AS v, count(*) AS c
    FROM q GROUP BY 1, 2
),
cum AS (
    SELECT hour_num, v,
           sum(c) OVER (PARTITION BY hour_num ORDER BY v) AS cum,
           sum(c) OVER (PARTITION BY hour_num) AS n
    FROM hist
)
SELECT hour_num,
       CAST(min(v) AS BIGINT) AS p95_fix,
       CAST(max(n) AS BIGINT) AS n
FROM cum WHERE 100 * cum >= 95 * n
GROUP BY 1
"""


def embedding_drift_by_label_sql() -> str:
    """Old-vs-new per-label centroid cosine — mirrors
    vector.embedding_drift_by_label (vec_id-parity halves)."""
    return """
WITH ex AS (
    SELECT vec_id, label, i - 1 AS dim,
           CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000000.0) AS BIGINT) AS x_fix
    FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
),
old AS (
    SELECT label, dim,
           CAST(sum(x_fix) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000000.0) AS c_old
    FROM ex WHERE vec_id % 2 = 0 GROUP BY 1, 2
),
new AS (
    SELECT label, dim,
           CAST(sum(x_fix) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000000.0) AS c_new
    FROM ex WHERE vec_id % 2 = 1 GROUP BY 1, 2
),
fix AS (
    SELECT o.label,
           CAST(sum(CAST(floor(o.c_old * n.c_new * 1000000000.0) AS BIGINT)) AS BIGINT) AS dot_fix,
           CAST(sum(CAST(floor(o.c_old * o.c_old * 1000000000.0) AS BIGINT)) AS BIGINT) AS na_fix,
           CAST(sum(CAST(floor(n.c_new * n.c_new * 1000000000.0) AS BIGINT)) AS BIGINT) AS nb_fix
    FROM old o JOIN new n ON o.label = n.label AND o.dim = n.dim
    GROUP BY 1
)
SELECT label,
       CASE WHEN na_fix = 0 OR nb_fix = 0 THEN 0.0
            ELSE CAST(dot_fix AS DOUBLE)
                 / (sqrt(CAST(na_fix AS DOUBLE)) * sqrt(CAST(nb_fix AS DOUBLE)))
       END AS drift_cos
FROM fix
"""


def hard_negatives_sql(n_queries: int = 8, k: int = 3) -> str:
    """Different-label top-k — mirrors vector.hard_negatives."""
    return f"""
WITH q AS (
    SELECT vec_id AS query_id, label AS query_label, embedding AS qe
    FROM embeddings WHERE vec_id < {n_queries}
),
scored AS (
    SELECT q.query_id, q.query_label, e.vec_id, e.label,
           {_DOT9_PAIR.format(a="e.embedding", b="q.qe")} AS d_fix,
           {_DOT9_PAIR.format(a="e.embedding", b="e.embedding")} AS na_fix,
           {_DOT9_PAIR.format(a="q.qe", b="q.qe")} AS nb_fix
    FROM embeddings e CROSS JOIN q
    WHERE e.label <> q.query_label
),
ranked AS (
    SELECT query_id, query_label, vec_id, label,
           CASE WHEN na_fix = 0 OR nb_fix = 0 THEN 0.0
                ELSE CAST(d_fix AS DOUBLE)
                     / (sqrt(CAST(na_fix AS DOUBLE)) * sqrt(CAST(nb_fix AS DOUBLE)))
           END AS score
    FROM scored
)
SELECT query_id, query_label, vec_id, label,
       CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS INT) AS rank,
       score
FROM ranked
QUALIFY rank <= {k}
"""


def leakage_safe_split_sql(test_rate: float = 0.2) -> str:
    """Cluster-representative hash split — mirrors
    curation.leakage_safe_split over the dedup_clusters closure."""
    from via_spark.operators.curation import hex_cutoff

    return f"""
WITH clu AS (
{dedup_clusters_sql()}
)
SELECT doc_id, cluster_rep,
       CASE WHEN substr(sha256(CAST(cluster_rep AS VARCHAR)), 1, 16)
                 < '{hex_cutoff(test_rate)}'
            THEN 'test' ELSE 'train' END AS split
FROM clu
"""


def length_bucketed_batches_sql(bucket_tokens: int = 16, batch_size: int = 8) -> str:
    """Length buckets + deterministic intra-bucket batches — mirrors
    rank.length_bucketed_batches (same tokenizer, same sha256 order)."""
    return rf"""
WITH toks AS (
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS BIGINT) AS n_ws_tokens
    FROM documents
),
b AS (
    SELECT doc_id, n_ws_tokens,
           CAST(n_ws_tokens // {int(bucket_tokens)} AS BIGINT) AS bucket
    FROM toks
)
SELECT doc_id, n_ws_tokens, bucket,
       CAST((row_number() OVER (
                 PARTITION BY bucket
                 ORDER BY sha256('lb:' || CAST(doc_id AS VARCHAR)) ASC,
                          doc_id ASC) - 1) // {int(batch_size)} AS BIGINT)
         AS batch_in_bucket
FROM b
"""


def curriculum_positions_sql() -> str:
    """Quality-first curriculum order — mirrors
    rank.curriculum_positions over the decile assignment."""
    return f"""
WITH dec AS (
{quality_deciles_sql()}
)
SELECT doc_id, decile,
       CAST(row_number() OVER (
           ORDER BY decile ASC,
                    sha256('cur:' || CAST(doc_id AS VARCHAR)) ASC,
                    doc_id ASC) AS BIGINT) AS pos
FROM dec
"""


def repeated_span_scrub_sql(n: int | None = None, min_docs: int | None = None) -> str:
    """Boilerplate span removal — mirrors curation.repeated_span_scrub
    (1-based token positions; grams grouped on RAW strings, so a
    Spark-side 64-bit gram-hash collision would surface here as a value
    mismatch)."""
    from via_spark.operators.curation import SPAN_MIN_DOCS, SPAN_N

    n = SPAN_N if n is None else n
    min_docs = SPAN_MIN_DOCS if min_docs is None else min_docs
    return f"""
WITH {DOC_TOKS_CTE},
base AS (SELECT doc_id, toks, len(toks) AS n_tokens FROM dtok),
tok AS (
    SELECT doc_id, i AS pos, toks[i] AS tk
    FROM base, unnest(range(1, n_tokens + 1)) AS r(i)
),
grams AS (
    SELECT doc_id, i AS pos,
           concat_ws(' ', list_slice(toks, i, i + {n - 1})) AS gram
    FROM base, unnest(range(1, n_tokens - {n - 2})) AS r(i)
    WHERE n_tokens >= {n}
),
hot AS (
    SELECT gram
    FROM (SELECT DISTINCT doc_id, gram FROM grams)
    GROUP BY gram HAVING count(*) >= {min_docs}
),
cov AS (
    SELECT DISTINCT g.doc_id, c.p AS pos
    FROM grams g JOIN hot USING (gram), unnest(range(g.pos, g.pos + {n})) AS c(p)
),
kept AS (
    SELECT t.doc_id, t.pos, t.tk
    FROM tok t LEFT JOIN cov ON t.doc_id = cov.doc_id AND t.pos = cov.pos
    WHERE cov.pos IS NULL
),
agg AS (
    SELECT doc_id, count(*) AS n_kept,
           string_agg(tk, ' ' ORDER BY pos) AS scrubbed_text
    FROM kept GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(b.n_tokens AS BIGINT) AS n_tokens,
       CAST(b.n_tokens - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(a.scrubbed_text, '') AS scrubbed_text
FROM base b LEFT JOIN agg a USING (doc_id)
"""


def temperature_mixture_weights_sql(budget_docs: int | None = None) -> str:
    """Temperature-scaled (tau=0.5) source sampling weights — mirrors
    curation.temperature_mixture_weights: sqrt is correctly rounded in
    both engines, the normalizing denominator is an exact BIGINT sum of
    fixed-point weights, and planned_docs is 64-bit integer arithmetic."""
    from via_spark.operators.curation import MIXTURE_BUDGET_DOCS

    budget_docs = MIXTURE_BUDGET_DOCS if budget_docs is None else budget_docs
    return f"""
WITH per AS (
    SELECT source, count(*) AS n_docs FROM documents GROUP BY 1
),
w AS (
    SELECT source, n_docs,
           CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000000.0) AS BIGINT)
             AS w_fix
    FROM per
),
tot AS (
    SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs,
           CAST(sum(w_fix) AS BIGINT) AS denom
    FROM w
)
SELECT w.source,
       CAST(w.n_docs AS BIGINT) AS n_docs,
       CAST(w.n_docs AS DOUBLE) / CAST(tot.total_docs AS DOUBLE) AS share,
       w.w_fix,
       CAST(w.w_fix AS DOUBLE) / CAST(tot.denom AS DOUBLE) AS temp_weight,
       CAST(({int(budget_docs)} * w.w_fix) // tot.denom AS BIGINT) AS planned_docs
FROM w, tot
"""


def multimodal_resize_plan_sql(box: int | None = None) -> str:
    """Aspect-fit thumbnail box — mirrors
    multimodal.multimodal_resize_plan over the deterministic fake dims
    (integer div end to end)."""
    from via_spark.operators.multimodal import THUMB_BOX

    box = THUMB_BOX if box is None else box
    return f"""
WITH dims AS (
    SELECT doc_id,
           CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT) AS fake_width,
           CAST((octet_length(encode(text)) * 31) % 480 + 1 AS BIGINT) AS fake_height
    FROM documents
)
SELECT doc_id, fake_width, fake_height,
       greatest(1, (fake_width * {int(box)}) // greatest(fake_width, fake_height))
         AS thumb_width,
       greatest(1, (fake_height * {int(box)}) // greatest(fake_width, fake_height))
         AS thumb_height
FROM dims
"""


def half_life_decay_counts_sql() -> str:
    """1-day-half-life decayed count/value per event type — mirrors
    timeseries.half_life_decay_counts: every weight is the BIGINT
    ``2^(CAP-age_days)`` (zero past CAP), so the sums are exact
    integers and the emitted doubles are one correctly-rounded IEEE
    division by a pinned constant in both engines."""
    from via_spark.operators.timeseries import DECAY_CAP

    cap = int(DECAY_CAP)
    return f"""
WITH e AS (
    SELECT event_type, value,
           CAST(epoch_us(ts) // 1000000 // 86400 AS BIGINT) AS day
    FROM events
),
a AS (SELECT max(day) AS anchor_day FROM e),
wtd AS (
    SELECT event_type,
           CASE WHEN a.anchor_day - day <= {cap}
                THEN (CAST(1 AS BIGINT) << ({cap} - (a.anchor_day - day)))
                ELSE CAST(0 AS BIGINT) END AS w_fix,
           CAST(floor(value * 100) AS BIGINT) AS vfix
    FROM e, a
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(w_fix) AS BIGINT) AS decayed_count_fix,
       CAST(sum(vfix * w_fix) AS BIGINT) AS decayed_value_fix,
       CAST(CAST(sum(w_fix) AS BIGINT) AS DOUBLE) / {float(1 << cap)}
         AS decayed_count,
       CAST(CAST(sum(vfix * w_fix) AS BIGINT) AS DOUBLE) / {float(100 * (1 << cap))}
         AS decayed_value
FROM wtd
GROUP BY event_type
"""


def weighted_doc_sample_sql(k: int | None = None) -> str:
    """Deterministic weighted top-k document sample — mirrors
    curation.weighted_doc_sample: priority = (40-bit sha256 prefix of
    the doc id, scaled by 2^20) div length-weight, all 64-bit integer
    arithmetic; smallest k priorities win, ties by doc_id."""
    from via_spark.operators.curation import WEIGHTED_SAMPLE_K, _WSAMPLE_SCALE

    k = WEIGHTED_SAMPLE_K if k is None else int(k)
    return f"""
SELECT doc_id, source, n_chars,
       CAST((CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 10) AS BIGINT)
             * {int(_WSAMPLE_SCALE)}) // greatest(n_chars, 1) AS BIGINT) AS priority
FROM documents
ORDER BY priority, doc_id
LIMIT {k}
"""


def source_repeat_factors_sql(
    budget_mult: int | None = None, repeat_cap_milli: int | None = None
) -> str:
    """Data-constrained epoch planning — mirrors
    curation.source_repeat_factors: sqrt-damped milli-shares, then a
    pinned 64-bit integer evaluation order for target/repeat/effective/
    deficit (identical floor points in both engines)."""
    from via_spark.operators.curation import DATA_BUDGET_MULT, REPEAT_CAP_MILLI

    mult = DATA_BUDGET_MULT if budget_mult is None else int(budget_mult)
    cap = REPEAT_CAP_MILLI if repeat_cap_milli is None else int(repeat_cap_milli)
    return f"""
WITH {DOC_TOKS_CTE},
per AS (
    SELECT source, CAST(sum(len(toks)) AS BIGINT) AS n_tokens FROM dtok GROUP BY 1
),
w AS (
    SELECT source, n_tokens,
           CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000000.0) AS BIGINT)
             AS w_fix
    FROM per
),
tot AS (
    SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(w_fix) AS BIGINT) AS denom
    FROM w
),
x AS (
    SELECT w.source, w.n_tokens,
           CAST((w.w_fix * 1000) // tot.denom AS BIGINT) AS share_milli,
           {mult} * tot.total_tokens AS budget
    FROM w, tot
),
y AS (
    SELECT source, n_tokens, share_milli,
           CAST((budget * share_milli) // 1000 AS BIGINT) AS target_tokens
    FROM x
),
z AS (
    SELECT *, least({cap}, CAST((target_tokens * 1000) // n_tokens AS BIGINT))
              AS repeat_milli
    FROM y
)
SELECT source, n_tokens, share_milli, target_tokens, repeat_milli,
       CAST((n_tokens * repeat_milli) // 1000 AS BIGINT) AS effective_tokens,
       greatest(0, target_tokens
                   - CAST((n_tokens * repeat_milli) // 1000 AS BIGINT))
         AS deficit_tokens
FROM z
"""


def token_shard_spans_sql(budget_tokens: int | None = None) -> str:
    """Boundary-splitting shard spans — mirrors rank.token_shard_spans:
    exclusive prefix sums, then each nonempty document unnested over
    the shard range its [start, end) interval touches, span = integer
    clamp to the shard window."""
    from via_spark.operators.rank import TOKEN_SHARD_BUDGET

    b = TOKEN_SHARD_BUDGET if budget_tokens is None else int(budget_tokens)
    return f"""
WITH {DOC_TOKS_CTE},
t AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM dtok),
p AS (
    SELECT doc_id, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (
               ORDER BY doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) AS start_offset
    FROM t
),
s AS (
    SELECT doc_id, n_tokens, start_offset,
           unnest(generate_series(start_offset // {b},
                                  (start_offset + n_tokens - 1) // {b}))
             AS shard_id
    FROM p WHERE n_tokens > 0
)
SELECT doc_id, CAST(shard_id AS BIGINT) AS shard_id,
       CAST(greatest(start_offset, shard_id * {b}) - start_offset AS BIGINT)
         AS tok_start,
       CAST(least(start_offset + n_tokens, (shard_id + 1) * {b}) - start_offset
            AS BIGINT) AS tok_end
FROM s
"""


def neardup_quality_confound_sql() -> str:
    """Per-decile near-dup mass — mirrors
    curation.neardup_quality_confound by composing the decile ranking
    and the recursive transitive-closure clusters, shares as one
    division of exact integers."""
    return f"""
WITH d AS (
{quality_deciles_sql()}
),
c AS (
{dedup_clusters_sql()}
)
SELECT d.decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN c.cluster_size > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_members,
       CAST(sum(CASE WHEN c.doc_id <> c.cluster_rep THEN 1 ELSE 0 END) AS BIGINT)
         AS n_would_drop,
       CAST(CAST(sum(CASE WHEN c.cluster_size > 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_share,
       CAST(CAST(sum(CASE WHEN c.doc_id <> c.cluster_rep THEN 1 ELSE 0 END)
            AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS drop_share
FROM d JOIN c ON d.doc_id = c.doc_id
GROUP BY d.decile
"""


def doc_length_p95_by_source_sql() -> str:
    """Per-source discrete p95 token length — mirrors
    textstats.doc_length_p95_by_source (all-integer rank threshold
    over the per-source length histogram)."""
    return f"""
WITH {DOC_TOKS_CTE},
q AS (
    SELECT source, CAST(len(toks) AS BIGINT) AS v FROM dtok
),
hist AS (
    SELECT source, v, count(*) AS c FROM q GROUP BY 1, 2
),
cum AS (
    SELECT source, v,
           sum(c) OVER (PARTITION BY source ORDER BY v) AS cum,
           sum(c) OVER (PARTITION BY source) AS n
    FROM hist
)
SELECT source,
       CAST(min(v) AS BIGINT) AS p95_tokens,
       CAST(max(n) AS BIGINT) AS n
FROM cum WHERE 100 * cum >= 95 * n
GROUP BY 1
"""


def source_overlap_matrix_sql() -> str:
    """Inter-source shared-shingle matrix — mirrors
    dedup.source_overlap_matrix: distinct (source, shingle-hash) pairs,
    self-joined on the hash with source_a < source_b; Jaccard one
    division of exact integers."""
    return r"""
WITH dsh AS (
    SELECT doc_id, source,
           list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                          for i in range(1, len(t) - 1)]) AS sh
    FROM (
        SELECT doc_id, source,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        FROM documents
    ) WHERE len(t) >= 3
),
hs AS (
    SELECT DISTINCT source, substr(sha256(u.s), 1, 16) AS h
    FROM dsh, unnest(sh) AS u(s)
),
per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sh FROM hs GROUP BY 1),
pair AS (
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS shared_shingles
    FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
    GROUP BY 1, 2
)
SELECT p.source_a, p.source_b, p.shared_shingles,
       pa.n_sh AS n_a, pb.n_sh AS n_b,
       CAST(p.shared_shingles AS DOUBLE)
         / CAST(pa.n_sh + pb.n_sh - p.shared_shingles AS DOUBLE) AS jaccard
FROM pair p JOIN per pa ON p.source_a = pa.source
            JOIN per pb ON p.source_b = pb.source
"""


def weighted_sample_per_source_sql(k: int | None = None) -> str:
    """Per-source weighted top-k sample — mirrors
    curation.weighted_sample_per_source: same integer-rational priority
    as the global sample, ranked within each source."""
    from via_spark.operators.curation import PER_SOURCE_SAMPLE_K, _WSAMPLE_SCALE

    k = PER_SOURCE_SAMPLE_K if k is None else int(k)
    return f"""
WITH pri AS (
    SELECT doc_id, source, n_chars,
           CAST((CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 10)
                      AS BIGINT) * {int(_WSAMPLE_SCALE)})
                // greatest(n_chars, 1) AS BIGINT) AS priority
    FROM documents
),
r AS (
    SELECT *, row_number() OVER (
        PARTITION BY source ORDER BY priority ASC, doc_id ASC) AS _rn
    FROM pri
)
SELECT doc_id, source, n_chars, priority FROM r WHERE _rn <= {k}
"""


def minhash_jaccard_calibration_sql() -> str:
    """Estimated-vs-exact Jaccard per LSH candidate pair — mirrors
    dedup.minhash_jaccard_calibration (matching signature components
    over k=8; est divides by a power of two, exact is one division of
    integer counts, error one subtraction)."""
    from via_spark.operators.dedup import MINHASH_K

    k = int(MINHASH_K)
    matches = " + ".join(
        f"(CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    return (
        "WITH " + _SHINGLES_CTE.strip() + "," + _minhash_bands_cte()
        + f"""
, cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
m AS (
    SELECT c.doc_a, c.doc_b, CAST({matches} AS BIGINT) AS est_matches
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.doc_a
    JOIN sig sb ON sb.doc_id = c.doc_b
)
SELECT m.doc_a, m.doc_b, m.est_matches,
       CAST(m.est_matches AS DOUBLE) / {float(k)} AS est_jaccard,
       len(list_intersect(da.sh, db.sh))
         / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh)))
         AS jaccard,
       CAST(m.est_matches AS DOUBLE) / {float(k)}
         - len(list_intersect(da.sh, db.sh))
           / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh)))
         AS est_error
FROM m JOIN dsh da ON da.doc_id = m.doc_a
       JOIN dsh db ON db.doc_id = m.doc_b
"""
    )


def lang_metadata_confusion_sql() -> str:
    """Declared-vs-predicted language confusion matrix — mirrors
    textstats.lang_metadata_confusion over the lang-ID oracle."""
    return f"""
WITH ids AS (
{lang_id_documents_sql()}
),
cell AS (
    SELECT lang, predicted_lang, CAST(count(*) AS BIGINT) AS n
    FROM ids GROUP BY 1, 2
),
tot AS (
    SELECT lang, CAST(sum(n) AS BIGINT) AS lang_total FROM cell GROUP BY 1
)
SELECT c.lang, c.predicted_lang, c.n,
       CAST(c.n AS DOUBLE) / CAST(t.lang_total AS DOUBLE) AS share,
       c.lang = c.predicted_lang AS agrees
FROM cell c JOIN tot t ON c.lang = t.lang
"""


def boilerplate_span_audit_sql(
    n: int | None = None, min_docs: int | None = None, k: int | None = None
) -> str:
    """Top-k hot n-grams by distinct-doc spread — mirrors
    curation.boilerplate_span_audit (same n/min_docs as the span
    scrub; grouped by the 16-hex sha key with min-gram display)."""
    from via_spark.operators.curation import SPAN_AUDIT_K, SPAN_MIN_DOCS, SPAN_N

    n = SPAN_N if n is None else int(n)
    min_docs = SPAN_MIN_DOCS if min_docs is None else int(min_docs)
    k = SPAN_AUDIT_K if k is None else int(k)
    return rf"""
WITH dtok AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
    FROM documents
),
g AS (
    SELECT doc_id,
           unnest([array_to_string(toks[i:i+{n - 1}], ' ')
                   for i in range(1, len(toks) - {n - 2})]) AS gram
    FROM dtok WHERE len(toks) >= {n}
),
gk AS (SELECT doc_id, gram, substr(sha256(gram), 1, 16) AS key FROM g),
stats AS (
    SELECT key,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occurrences
    FROM gk GROUP BY 1 HAVING count(DISTINCT doc_id) >= {min_docs}
),
display AS (SELECT key, min(gram) AS gram FROM gk GROUP BY 1)
SELECT d.gram, s.n_docs, s.n_occurrences
FROM stats s JOIN display d ON s.key = d.key
ORDER BY s.n_docs DESC, d.gram ASC
LIMIT {k}
"""


def customer_rfm_segments_sql() -> str:
    """RFM quartile segmentation — mirrors
    relational.customer_rfm_segments: exact global rankings (ties by
    custkey), quartile = ((rank-1)*4) // n + 1, all-integer."""
    return """
WITH base AS (
    SELECT o_custkey AS c_custkey,
           CAST(date_diff('day', DATE '1970-01-01', CAST(max(o_orderdate) AS DATE))
                AS BIGINT) AS recency_day,
           CAST(count(*) AS BIGINT) AS frequency,
           CAST(sum(CAST(floor(o_totalprice * 1000000) AS BIGINT)) AS BIGINT)
             AS monetary_fix
    FROM orders GROUP BY 1
),
r AS (
    SELECT *,
           row_number() OVER (ORDER BY recency_day DESC, c_custkey ASC) AS rk_r,
           row_number() OVER (ORDER BY frequency DESC, c_custkey ASC) AS rk_f,
           row_number() OVER (ORDER BY monetary_fix DESC, c_custkey ASC) AS rk_m,
           count(*) OVER () AS n
    FROM base
)
SELECT c_custkey, recency_day, frequency, monetary_fix,
       CAST(((rk_r - 1) * 4) // n + 1 AS INTEGER) AS r_quartile,
       CAST(((rk_f - 1) * 4) // n + 1 AS INTEGER) AS f_quartile,
       CAST(((rk_m - 1) * 4) // n + 1 AS INTEGER) AS m_quartile,
       CAST((((rk_r - 1) * 4) // n + 1) * 100
            + (((rk_f - 1) * 4) // n + 1) * 10
            + (((rk_m - 1) * 4) // n + 1) AS INTEGER) AS rfm_segment
FROM r
"""


def embedding_neardup_clusters_sql(threshold: float = 0.4) -> str:
    """Connected components of the embedding near-dup pair graph via
    recursive transitive closure — mirrors
    graph.embedding_neardup_clusters (component = min reachable
    vec_id)."""
    return f"""
WITH RECURSIVE pairs AS (
{neardup_embedding_pairs_sql(threshold)}
),
edges AS (
    SELECT vec_a AS s, vec_b AS d FROM pairs
    UNION ALL
    SELECT vec_b AS s, vec_a AS d FROM pairs
),
reach(id, r) AS (
    SELECT vec_id, vec_id FROM embeddings
    UNION
    SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s
),
rep AS (SELECT id, min(r) AS cluster_rep FROM reach GROUP BY id)
SELECT id AS vec_id, cluster_rep,
       count(*) OVER (PARTITION BY cluster_rep) AS cluster_size
FROM rep
"""


def ingest_reject_reasons_sql() -> str:
    """Planted-corruption reject breakdown — mirrors
    schema_infer.ingest_reject_reasons: the classification is a pure
    function of event_id (% 7 == 0 loses severity, % 7 == 1 gets an
    unparseable ts), so the oracle derives the exact distribution
    arithmetically while the engine proves it by actually corrupting
    and re-parsing."""
    return """
SELECT CASE WHEN event_id % 7 = 0 THEN 'missing_severity'
            WHEN event_id % 7 = 1 THEN 'bad_ts'
            ELSE 'ok' END AS reason,
       CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY 1
"""


def oov_rate_documents_sql() -> str:
    """Corpus-derived top-V vocabulary OOV rates — mirrors
    textstats.oov_rate_documents: (count desc, token asc) vocabulary
    cut, LEFT-join membership, exact-int division."""
    return f"""
WITH {DOC_TOKS_CTE},
tok AS (SELECT doc_id, unnest(toks) AS t FROM dtok WHERE len(toks) > 0),
counts AS (SELECT t, count(*) AS cnt FROM tok GROUP BY t),
vocab AS (
    SELECT t, 1 AS in_vocab FROM counts ORDER BY cnt DESC, t ASC LIMIT 1000
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(1 - coalesce(in_vocab, 0)) AS BIGINT) AS n_oov,
       CAST(sum(1 - coalesce(in_vocab, 0)) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS oov_rate
FROM tok LEFT JOIN vocab USING (t)
GROUP BY doc_id
"""


def char_entropy_bits_sql() -> str:
    """Order-0 char-model whole-bit compression size — mirrors
    textstats.char_entropy_bits: same '[\\s\\S]' char extraction, same
    integer-quotient bit-length quantization (no float log)."""
    return r"""
WITH ch AS (
    SELECT doc_id, unnest(regexp_extract_all(text, '[\s\S]')) AS c
    FROM documents
),
hist AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY doc_id, c),
scored AS (
    SELECT doc_id, cnt,
           CAST(sum(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n
    FROM hist
),
bits AS (
    SELECT doc_id, cnt, n,
           cnt * CAST(length(printf('%b', n // cnt)) - 1 AS BIGINT) AS bits
    FROM scored
)
SELECT doc_id,
       CAST(max(n) AS BIGINT) AS n_chars,
       CAST(count(*) AS BIGINT) AS distinct_chars,
       CAST(sum(bits) AS BIGINT) AS entropy_bits,
       CAST(sum(bits) AS DOUBLE) / CAST(max(n) AS DOUBLE)
         AS mean_bits_per_char
FROM bits
GROUP BY doc_id
"""


def greedy_pack_stats_sql() -> str:
    """Blocked greedy whole-doc packing — mirrors rank.greedy_pack_stats
    (budget 512, block 64) with a recursive CTE replaying the exact
    first-fit recurrence per (source, block)."""
    return r"""
WITH RECURSIVE dtok AS (
    SELECT *, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
    FROM documents
),
ordered AS (
    SELECT source, doc_id, CAST(len(toks) AS BIGINT) AS n,
           row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
    FROM dtok
),
blocked AS (
    SELECT source, doc_id, n,
           CAST((rn - 1) // 64 AS BIGINT) AS block_id,
           row_number() OVER (
               PARTITION BY source, (rn - 1) // 64 ORDER BY doc_id
           ) AS brn
    FROM ordered
),
packed AS (
    SELECT source, block_id, brn, n,
           CAST(0 AS BIGINT) AS pack_id, n AS fill
    FROM blocked WHERE brn = 1
    UNION ALL
    SELECT b.source, b.block_id, b.brn, b.n,
           CASE WHEN p.fill > 0 AND p.fill + b.n > 512
                THEN p.pack_id + 1 ELSE p.pack_id END,
           CASE WHEN p.fill > 0 AND p.fill + b.n > 512
                THEN b.n ELSE p.fill + b.n END
    FROM packed p
    JOIN blocked b
      ON b.source = p.source AND b.block_id = p.block_id
     AND b.brn = p.brn + 1
)
SELECT source, block_id, pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS pack_tokens,
       CAST(greatest(512 - sum(n), 0) AS BIGINT) AS waste
FROM packed
GROUP BY source, block_id, pack_id
"""


def truncation_loss_by_source_sql() -> str:
    """Hard-sequence-cut loss per source — mirrors
    rank.truncation_loss_by_source (max_tokens=64, exact ints)."""
    return f"""
WITH {DOC_TOKS_CTE},
per_doc AS (
    SELECT source,
           CAST(len(toks) AS BIGINT) AS n,
           CAST(greatest(len(toks) - 64, 0) AS BIGINT) AS lost
    FROM dtok
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN lost > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_truncated,
       CAST(sum(lost) AS BIGINT) AS tokens_lost,
       CAST(sum(lost) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS loss_rate
FROM per_doc
GROUP BY source
"""


def prefix_dup_groups_sql() -> str:
    """First-16-token prefix fingerprint groups — mirrors
    dedup.prefix_dup_groups (sha256 over the space-joined slice)."""
    return f"""
WITH {DOC_TOKS_CTE},
keyed AS (
    SELECT doc_id,
           sha256(array_to_string(list_slice(toks, 1, 16), ' ')) AS prefix_key
    FROM dtok WHERE len(toks) > 0
)
SELECT prefix_key,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS canonical_doc_id,
       count(*) > 1 AS is_dup_group
FROM keyed
GROUP BY prefix_key
"""


def length_quality_heatmap_sql() -> str:
    """Length-decile × quality-decile cross-tab — mirrors
    curation.length_quality_heatmap (same decile arithmetic as
    quality_deciles over both orderings)."""
    return f"""
WITH {DOC_TOKS_CTE},
q2 AS (
{doc_quality_scores_sql()}
),
qr AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY quality_fix DESC, doc_id ASC) AS rank,
           count(*) OVER () AS n
    FROM q2
),
qd AS (
    SELECT doc_id, CAST(((rank - 1) * 10) // n + 1 AS INTEGER) AS quality_decile
    FROM qr
),
lr AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY len(toks) DESC, doc_id ASC) AS rank,
           count(*) OVER () AS n
    FROM dtok
),
ld AS (
    SELECT doc_id, CAST(((rank - 1) * 10) // n + 1 AS INTEGER) AS length_decile
    FROM lr
)
SELECT length_decile, quality_decile, CAST(count(*) AS BIGINT) AS n_docs
FROM ld JOIN qd USING (doc_id)
GROUP BY length_decile, quality_decile
"""


def ann_recall_report_sql(
    n_queries: int = 5, k: int = 10,
    n_centroids: int | None = None, nprobe: int | None = None,
) -> str:
    """Measured IVF recall@k vs the exact baseline — composes the
    knn_batch and ann_ivf oracle shapes per query; mirrors
    dedup.ann_recall_report's pinned tie-breaks and fixed-point dots."""
    from via_spark.operators.dedup import IVF_CENTROIDS, IVF_NPROBE

    n_centroids = IVF_CENTROIDS if n_centroids is None else n_centroids
    nprobe = IVF_NPROBE if nprobe is None else nprobe
    cdot = _DOT9.format(a="e.embedding", b="c.cemb")
    qdot = _DOT9.format(a="c.cemb", b="q.q_emb")
    d_e = _DOT9.format(a="e.embedding", b="q.q_emb")
    na_e = _DOT9.format(a="e.embedding", b="e.embedding")
    nb = _DOT9.format(a="q.q_emb", b="q.q_emb")
    d_v = _DOT9.format(a="v.embedding", b="q.q_emb")
    na_v = _DOT9.format(a="v.embedding", b="v.embedding")
    return f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS q_emb
    FROM embeddings WHERE vec_id < {n_queries}
),
c AS (
    SELECT vec_id AS cid, embedding AS cemb FROM embeddings
    WHERE vec_id < {n_centroids}
),
cells AS (
    SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {cdot} DESC, c.cid ASC) AS _rn
        FROM embeddings e, c
    ) WHERE _rn = 1
),
exact AS (
    SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_COS.format(d=d_e, na=na_e, nb=nb)} DESC,
                            e.vec_id ASC) AS _rn
        FROM embeddings e, q
        WHERE e.vec_id <> q.query_id
    ) WHERE _rn <= {k}
),
probes AS (
    SELECT query_id, cid FROM (
        SELECT q.query_id, c.cid,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {qdot} DESC, c.cid ASC) AS _rn
        FROM c, q
    ) WHERE _rn <= {nprobe}
),
ivf AS (
    SELECT query_id, vec_id FROM (
        SELECT q.query_id, v.vec_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_COS.format(d=d_v, na=na_v, nb=nb)} DESC,
                            v.vec_id ASC) AS _rn
        FROM cells v
        JOIN probes p ON v.cid = p.cid
        JOIN q ON q.query_id = p.query_id
        WHERE v.vec_id <> p.query_id
    ) WHERE _rn <= {k}
),
overlap AS (
    SELECT e.query_id, count(*) AS n_overlap
    FROM exact e JOIN ivf i
      ON e.query_id = i.query_id AND e.vec_id = i.vec_id
    GROUP BY e.query_id
)
SELECT q.query_id,
       {k} AS k,
       CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       CAST(coalesce(o.n_overlap, 0) AS DOUBLE) / {float(k)} AS recall_at_k
FROM q LEFT JOIN overlap o USING (query_id)
"""


def hour_of_week_profile_sql() -> str:
    """7×24 calendar-folded seasonal grid — mirrors
    timeseries.hour_of_week_profile (pure-integer dow/hour, fixed-point
    value sums)."""
    return """
WITH cells AS (
    SELECT event_type,
           (epoch_us(ts) // 1000000 // 86400 + 4) % 7 AS dow,
           (epoch_us(ts) // 1000000 // 3600) % 24 AS hour,
           CAST(floor(value * 1000000) AS BIGINT) AS vfix
    FROM events
)
SELECT event_type, dow, hour,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(vfix) AS BIGINT) AS sum_value_fix,
       CAST(sum(vfix) AS DOUBLE)
         / (CAST(count(*) AS DOUBLE) * 1000000.0) AS mean_value
FROM cells
GROUP BY event_type, dow, hour
"""


def user_activity_entropy_sql() -> str:
    """Per-user whole-bit behavioral entropy — mirrors
    timeseries.user_activity_entropy (integer-quotient bit-length
    quantization over the per-user type histogram)."""
    return """
WITH hist AS (
    SELECT user_id, event_type, count(*) AS cnt
    FROM events GROUP BY user_id, event_type
),
scored AS (
    SELECT user_id, cnt,
           CAST(sum(cnt) OVER (PARTITION BY user_id) AS BIGINT) AS n
    FROM hist
),
bits AS (
    SELECT user_id, cnt, n,
           cnt * CAST(length(printf('%b', n // cnt)) - 1 AS BIGINT) AS bits
    FROM scored
)
SELECT user_id,
       CAST(max(n) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS distinct_types,
       CAST(sum(bits) AS BIGINT) AS entropy_bits,
       CAST(sum(bits) AS DOUBLE) / CAST(max(n) AS DOUBLE)
         AS mean_bits_per_event
FROM bits
GROUP BY user_id
"""


def kmv_distinct_report_sql(k: int = 64) -> str:
    """Per-day K-Minimum-Values distinct-user estimate vs exact —
    mirrors sketch.kmv_distinct_report (48-bit sha256-prefix hashes;
    numerator (k-1)·2^48 exactly double-representable so both engines
    divide identical numbers; same epoch-day idiom as
    hour_of_week_profile_sql)."""
    num = float((k - 1) * 2**48)
    return f"""
WITH ev AS (
    SELECT epoch_us(ts) // 1000000 // 86400 AS day,
           CAST(user_id AS VARCHAR) AS uid
    FROM events
),
h AS (
    SELECT DISTINCT day,
           ('0x' || substr(sha256(uid), 1, 12))::BIGINT AS uh
    FROM ev
),
ranked AS (
    SELECT day, uh,
           row_number() OVER (PARTITION BY day ORDER BY uh ASC) AS _rn
    FROM h
),
heads AS (
    SELECT day, count(*) AS n_head, max(uh) AS kth_min
    FROM ranked WHERE _rn <= {k} GROUP BY day
),
ex AS (
    SELECT day, count(DISTINCT uid) AS exact_distinct
    FROM ev GROUP BY day
),
est AS (
    SELECT ex.day,
           CAST(ex.exact_distinct AS BIGINT) AS exact_distinct,
           CASE WHEN h.n_head < {k} THEN CAST(h.n_head AS DOUBLE)
                ELSE {num!r} / CAST(h.kth_min AS DOUBLE) END AS kmv_estimate
    FROM ex JOIN heads h USING (day)
)
SELECT day, exact_distinct, {k} AS k, kmv_estimate,
       abs(kmv_estimate - CAST(exact_distinct AS DOUBLE))
         / CAST(exact_distinct AS DOUBLE) AS rel_error
FROM est
"""


def bloom_semi_join_fpr_sql(m: int = 16384, k_hash: int = 3) -> str:
    """Bloom semi-join FPR by nation — mirrors sketch.bloom_semi_join_fpr
    (build side = URGENT orders' custkeys; positions
    sha256(i ':' key) mod m; positive iff every probed position is
    set)."""
    pos = (
        "(('0x' || substr(sha256(CAST(i AS VARCHAR) || ':' "
        f"|| CAST({{key}} AS VARCHAR)), 1, 12))::BIGINT % {m})"
    )
    return f"""
WITH idx AS (SELECT unnest(range({k_hash})) AS i),
urgent AS (
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
),
bits AS (
    SELECT DISTINCT {pos.format(key='o.o_custkey')} AS pos
    FROM urgent o, idx
),
probes AS (
    SELECT c.c_custkey, c.c_nationkey, {pos.format(key='c.c_custkey')} AS pos
    FROM customer c, idx
),
probed AS (
    SELECT p.c_custkey, p.c_nationkey,
           min(CASE WHEN b.pos IS NULL THEN 0 ELSE 1 END) AS bloom_positive
    FROM probes p LEFT JOIN bits b ON p.pos = b.pos
    GROUP BY p.c_custkey, p.c_nationkey
),
exact AS (SELECT DISTINCT o_custkey AS c_custkey FROM urgent),
scored AS (
    SELECT p.c_nationkey, p.bloom_positive,
           CASE WHEN e.c_custkey IS NULL THEN 0 ELSE 1 END AS is_member
    FROM probed p LEFT JOIN exact e USING (c_custkey)
),
agg AS (
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(is_member) AS BIGINT) AS n_members,
           CAST(sum(bloom_positive) AS BIGINT) AS n_bloom_positive,
           CAST(sum(CASE WHEN bloom_positive = 1 AND is_member = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positive
    FROM scored GROUP BY c_nationkey
)
SELECT n.n_name, a.n_customers, a.n_members, a.n_bloom_positive,
       a.n_false_positive,
       CASE WHEN a.n_customers = a.n_members THEN 0.0
            ELSE CAST(a.n_false_positive AS DOUBLE)
                   / CAST(a.n_customers - a.n_members AS DOUBLE) END AS fpr
FROM agg a JOIN nation n ON a.c_nationkey = n.n_nationkey
"""


def matryoshka_recall_report_sql(
    n_queries: int = 5, k: int = 10, d: int = 16
) -> str:
    """Truncated-dimension recall@k vs full-dim exact — mirrors
    vector.matryoshka_recall_report (fixed-point dots over
    list_slice prefixes, pinned tie-breaks)."""
    d_full = _DOT9.format(a="e.embedding", b="q.q_emb")
    na_full = _DOT9.format(a="e.embedding", b="e.embedding")
    nb_full = _DOT9.format(a="q.q_emb", b="q.q_emb")
    d_tr = _DOT9.format(a="e.t_emb", b="q.t_qemb")
    na_tr = _DOT9.format(a="e.t_emb", b="e.t_emb")
    nb_tr = _DOT9.format(a="q.t_qemb", b="q.t_qemb")
    return f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS q_emb,
           list_slice(embedding, 1, {d}) AS t_qemb
    FROM embeddings WHERE vec_id < {n_queries}
),
tr AS (
    SELECT vec_id, embedding, list_slice(embedding, 1, {d}) AS t_emb
    FROM embeddings
),
exact AS (
    SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_COS.format(d=d_full, na=na_full, nb=nb_full)} DESC,
                            e.vec_id ASC) AS _rn
        FROM tr e, q
        WHERE e.vec_id <> q.query_id
    ) WHERE _rn <= {k}
),
trunc AS (
    SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_COS.format(d=d_tr, na=na_tr, nb=nb_tr)} DESC,
                            e.vec_id ASC) AS _rn
        FROM tr e, q
        WHERE e.vec_id <> q.query_id
    ) WHERE _rn <= {k}
),
overlap AS (
    SELECT e.query_id, count(*) AS n_overlap
    FROM exact e JOIN trunc t
      ON e.query_id = t.query_id AND e.vec_id = t.vec_id
    GROUP BY e.query_id
)
SELECT q.query_id,
       {d} AS d,
       {k} AS k,
       CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       CAST(coalesce(o.n_overlap, 0) AS DOUBLE) / {float(k)} AS recall_at_k
FROM q LEFT JOIN overlap o USING (query_id)
"""


def user_state_intervals_sql() -> str:
    """SCD2-shaped value-change islands per user — mirrors
    windows.user_state_intervals (same (sec, event_id) total order as
    the sessionization oracles)."""
    return """
WITH ev AS (
    SELECT user_id, event_id, event_type,
           epoch_us(ts) // 1000000 AS sec
    FROM events
),
flagged AS (
    SELECT user_id, event_id, event_type, sec,
           CASE WHEN lag(event_type) OVER w IS NULL
                  OR lag(event_type) OVER w <> event_type
                THEN 1 ELSE 0 END AS is_new
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
),
runs AS (
    SELECT user_id, event_type, sec,
           CAST(sum(is_new) OVER (
               PARTITION BY user_id ORDER BY sec, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS run_id
    FROM flagged
)
SELECT user_id, run_id, event_type,
       CAST(min(sec) AS BIGINT) AS from_sec,
       CAST(max(sec) AS BIGINT) AS to_sec,
       CAST(count(*) AS BIGINT) AS n_events
FROM runs
GROUP BY user_id, run_id, event_type
"""


def zorder_layout_report_sql(bits: int = 5, file_shift: int = 4) -> str:
    """Per-file dimension spans under z-order vs lexicographic layout —
    mirrors rank.zorder_layout_report (integer-quantized day, 48-bit
    sha256-prefix user hash, Morton interleave by shifts/masks)."""
    levels = 2**bits
    z_terms = " + ".join(
        f"(((qd >> {b}) & 1) << {2 * b + 1}) + (((qu >> {b}) & 1) << {2 * b})"
        for b in range(bits)
    )
    stats = """
           CAST(count(*) AS BIGINT) AS n_rows,
           min(qd) AS min_day_level, max(qd) AS max_day_level,
           min(qu) AS min_user_level, max(qu) AS max_user_level"""
    return f"""
WITH ev AS (
    SELECT epoch_us(ts) // 1000000 // 86400 AS day,
           CAST(user_id AS VARCHAR) AS uid
    FROM events
),
anchor AS (SELECT min(day) AS min_day, max(day) AS max_day FROM ev),
q AS (
    SELECT ((day - min_day) * {levels}) // (max_day - min_day + 1) AS qd,
           ('0x' || substr(sha256(uid), 1, 12))::BIGINT % {levels} AS qu
    FROM ev, anchor
),
zq AS (SELECT qd, qu, {z_terms} AS z FROM q)
SELECT 'zorder' AS layout, z >> {file_shift} AS file_id,{stats}
FROM zq GROUP BY file_id
UNION ALL
SELECT 'lexicographic' AS layout,
       (qd << 1) + (qu >> {bits - 1}) AS file_id,{stats}
FROM zq GROUP BY file_id
"""


def kmv_retention_overlap_sql(k: int = 64) -> str:
    """Theta-sketch-style day-over-day audience overlap vs exact —
    mirrors sketch.kmv_retention_overlap (union sample = k smallest of
    the two k-min sets; Jaccard from both-sides members within it)."""
    num = float((k - 1) * 2**48)
    return f"""
WITH ev AS (
    SELECT epoch_us(ts) // 1000000 // 86400 AS day,
           CAST(user_id AS VARCHAR) AS uid
    FROM events
),
h AS (
    SELECT DISTINCT day,
           ('0x' || substr(sha256(uid), 1, 12))::BIGINT AS uh
    FROM ev
),
days AS (SELECT DISTINCT day FROM h),
pairs AS (
    SELECT a.day AS day_a, b.day AS day_b
    FROM days a JOIN days b ON b.day = a.day + 1
),
kmin AS (
    SELECT day, uh FROM (
        SELECT day, uh,
               row_number() OVER (PARTITION BY day ORDER BY uh ASC) AS _rn
        FROM h
    ) WHERE _rn <= {k}
),
pu_exact AS (
    SELECT day_a, day_b, uh, max(in_a) AS in_a, max(in_b) AS in_b FROM (
        SELECT p.day_a, p.day_b, s.uh, 1 AS in_a, 0 AS in_b
        FROM h s JOIN pairs p ON s.day = p.day_a
        UNION ALL
        SELECT p.day_a, p.day_b, s.uh, 0 AS in_a, 1 AS in_b
        FROM h s JOIN pairs p ON s.day = p.day_b
    ) GROUP BY day_a, day_b, uh
),
exact AS (
    SELECT day_a, day_b,
           CAST(count(*) AS BIGINT) AS exact_union,
           CAST(sum(in_a * in_b) AS BIGINT) AS exact_intersection
    FROM pu_exact GROUP BY day_a, day_b
),
pu_sk AS (
    SELECT day_a, day_b, uh, max(in_a) AS in_a, max(in_b) AS in_b FROM (
        SELECT p.day_a, p.day_b, s.uh, 1 AS in_a, 0 AS in_b
        FROM kmin s JOIN pairs p ON s.day = p.day_a
        UNION ALL
        SELECT p.day_a, p.day_b, s.uh, 0 AS in_a, 1 AS in_b
        FROM kmin s JOIN pairs p ON s.day = p.day_b
    ) GROUP BY day_a, day_b, uh
),
cut AS (
    SELECT * FROM (
        SELECT day_a, day_b, uh, in_a, in_b,
               row_number() OVER (
                   PARTITION BY day_a, day_b ORDER BY uh ASC) AS _rn
        FROM pu_sk
    ) WHERE _rn <= {k}
),
sk AS (
    SELECT c.day_a, c.day_b,
           CAST(count(*) AS BIGINT) AS m,
           max(c.uh) AS theta,
           CAST(sum(c.in_a * c.in_b) AS BIGINT) AS matches
    FROM cut c GROUP BY c.day_a, c.day_b
),
nu AS (
    SELECT day_a, day_b, count(*) AS n_union_hashes
    FROM pu_sk GROUP BY day_a, day_b
),
est AS (
    SELECT e.day_a, e.day_b, e.exact_union, e.exact_intersection,
           s.m, s.matches,
           CASE WHEN n.n_union_hashes < {k} THEN CAST(n.n_union_hashes AS DOUBLE)
                ELSE {num!r} / CAST(s.theta AS DOUBLE) END AS kmv_union,
           CAST(s.matches AS DOUBLE) / CAST(s.m AS DOUBLE) AS kmv_jaccard
    FROM exact e
    JOIN sk s ON e.day_a = s.day_a AND e.day_b = s.day_b
    JOIN nu n ON e.day_a = n.day_a AND e.day_b = n.day_b
)
SELECT day_a, day_b, {k} AS k, exact_union, exact_intersection,
       CAST(exact_intersection AS DOUBLE) / CAST(exact_union AS DOUBLE)
         AS exact_jaccard,
       kmv_union, kmv_jaccard,
       kmv_jaccard * kmv_union AS kmv_intersection
FROM est
"""


def hash_sample_quantile_report_sql(m: int = 256) -> str:
    """Bottom-m-by-hash sample quantiles vs exact — mirrors
    sketch.hash_sample_quantile_report (rank-based discrete quantiles
    over fixed-point values on BOTH sides; sampling error only)."""

    def rq(src: str, p: int, qcol: str) -> str:
        return f"""(
    SELECT event_type, min(vfix) AS {qcol}, max(n) AS n FROM (
        SELECT event_type, vfix,
               sum(c) OVER (PARTITION BY event_type ORDER BY vfix
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(c) OVER (PARTITION BY event_type) AS n
        FROM (SELECT event_type, vfix, count(*) AS c FROM {src}
              GROUP BY event_type, vfix)
    ) WHERE 100 * cum >= {p} * n GROUP BY event_type
)"""

    return f"""
WITH ev AS (
    SELECT event_type, event_id,
           CAST(floor(value * 1000000) AS BIGINT) AS vfix
    FROM events
),
smp AS (
    SELECT event_type, vfix FROM (
        SELECT event_type, vfix,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY ('0x' || substr(sha256(CAST(event_id AS VARCHAR)), 1, 12))::BIGINT ASC,
                            event_id ASC) AS _rn
        FROM ev
    ) WHERE _rn <= {m}
),
f50 AS {rq("ev", 50, "q50_fix")},
f95 AS {rq("ev", 95, "q95_fix")},
s50 AS {rq("smp", 50, "s50_fix")},
s95 AS {rq("smp", 95, "s95_fix")}
SELECT f50.event_type,
       CAST(f50.n AS BIGINT) AS n_rows,
       CAST(s50.n AS BIGINT) AS sample_m,
       CAST(f50.q50_fix AS DOUBLE) / 1000000.0 AS p50_exact,
       CAST(s50.s50_fix AS DOUBLE) / 1000000.0 AS p50_sample,
       CAST(abs(s50.s50_fix - f50.q50_fix) AS DOUBLE) / 1000000.0 AS p50_abs_err,
       CAST(f95.q95_fix AS DOUBLE) / 1000000.0 AS p95_exact,
       CAST(s95.s95_fix AS DOUBLE) / 1000000.0 AS p95_sample,
       CAST(abs(s95.s95_fix - f95.q95_fix) AS DOUBLE) / 1000000.0 AS p95_abs_err
FROM f50
JOIN f95 USING (event_type)
JOIN s50 USING (event_type)
JOIN s95 USING (event_type)
"""


def value_drift_tvd_sql(bins: int = 16) -> str:
    """Day-over-day TVD drift — mirrors stats.value_drift_tvd (exact
    cross-multiplied integer numerator, one final division)."""
    return f"""
WITH ev AS (
    SELECT event_type,
           epoch_us(ts) // 1000000 // 86400 AS day,
           CAST(floor(value * 1000000) AS BIGINT) AS vfix
    FROM events
),
anchor AS (
    SELECT event_type, min(vfix) AS vmin, max(vfix) AS vmax
    FROM ev GROUP BY event_type
),
binned AS (
    SELECT e.event_type, e.day,
           ((e.vfix - a.vmin) * {bins}) // (a.vmax - a.vmin + 1) AS bin,
           count(*) AS c
    FROM ev e JOIN anchor a USING (event_type)
    GROUP BY e.event_type, e.day, bin
),
totals AS (
    SELECT event_type, day, sum(c) AS n FROM binned GROUP BY event_type, day
),
pairs AS (
    SELECT t.event_type, t.day, t.n AS n_curr, p.n AS n_prev
    FROM totals t JOIN totals p
      ON t.event_type = p.event_type AND p.day = t.day - 1
),
aligned AS (
    SELECT event_type, day, bin,
           sum(c_curr) AS c_curr, sum(c_prev) AS c_prev FROM (
        SELECT event_type, day, bin, c AS c_curr, 0 AS c_prev FROM binned
        UNION ALL
        SELECT event_type, day + 1 AS day, bin, 0 AS c_curr, c AS c_prev
        FROM binned
    ) GROUP BY event_type, day, bin
),
terms AS (
    SELECT b.event_type, b.day, p.n_curr, p.n_prev,
           abs(b.c_curr * p.n_prev - b.c_prev * p.n_curr) AS term
    FROM aligned b JOIN pairs p ON b.event_type = p.event_type AND b.day = p.day
)
SELECT event_type, day,
       CAST(n_curr AS BIGINT) AS n_curr,
       CAST(n_prev AS BIGINT) AS n_prev,
       CAST(sum(term) AS DOUBLE)
         / (2.0 * CAST(n_curr AS DOUBLE) * CAST(n_prev AS DOUBLE)) AS tvd
FROM terms
GROUP BY event_type, day, n_curr, n_prev
"""


def bloom_sizing_curve_sql(
    sizes: tuple = (4096, 16384, 65536), k_hash: int = 3
) -> str:
    """Bloom FPR/fill at three sizes from one hash pass — mirrors
    sketch.bloom_sizing_curve."""
    size_list = ", ".join(str(int(m)) for m in sizes)
    return f"""
WITH idx AS (SELECT unnest(range({k_hash})) AS i),
ms AS (SELECT unnest([{size_list}]) AS m),
urgent AS (
    SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
),
build_h AS (
    SELECT ('0x' || substr(sha256(CAST(i AS VARCHAR) || ':'
            || CAST(o.o_custkey AS VARCHAR)), 1, 12))::BIGINT AS h
    FROM (SELECT o_custkey FROM orders
          WHERE o_orderpriority = '1-URGENT') o, idx
),
bits AS (
    SELECT DISTINCT ms.m, build_h.h % ms.m AS pos FROM build_h, ms
),
probe_h AS (
    SELECT c.c_custkey,
           ('0x' || substr(sha256(CAST(i AS VARCHAR) || ':'
            || CAST(c.c_custkey AS VARCHAR)), 1, 12))::BIGINT AS h
    FROM customer c, idx
),
probes AS (
    SELECT p.c_custkey, ms.m, p.h % ms.m AS pos FROM probe_h p, ms
),
probed AS (
    SELECT p.c_custkey, p.m,
           min(CASE WHEN b.pos IS NULL THEN 0 ELSE 1 END) AS bloom_positive
    FROM probes p LEFT JOIN bits b ON p.m = b.m AND p.pos = b.pos
    GROUP BY p.c_custkey, p.m
),
scored AS (
    SELECT p.m, p.bloom_positive,
           CASE WHEN u.o_custkey IS NULL THEN 0 ELSE 1 END AS is_member
    FROM probed p LEFT JOIN urgent u ON p.c_custkey = u.o_custkey
),
fill AS (SELECT m, count(*) AS n_set_bits FROM bits GROUP BY m),
nk AS (SELECT count(*) AS n_keys FROM urgent),
agg AS (
    SELECT m,
           CAST(count(*) AS BIGINT) AS n_probed,
           CAST(sum(is_member) AS BIGINT) AS n_members,
           CAST(sum(bloom_positive) AS BIGINT) AS n_bloom_positive,
           CAST(sum(CASE WHEN bloom_positive = 1 AND is_member = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positive
    FROM scored GROUP BY m
)
SELECT a.m, {k_hash} AS k_hash,
       CAST(nk.n_keys AS BIGINT) AS n_keys,
       a.n_probed, a.n_members, a.n_bloom_positive, a.n_false_positive,
       CAST(f.n_set_bits AS DOUBLE) / CAST(a.m AS DOUBLE) AS fill_fraction,
       CASE WHEN a.n_probed = a.n_members THEN 0.0
            ELSE CAST(a.n_false_positive AS DOUBLE)
                   / CAST(a.n_probed - a.n_members AS DOUBLE) END AS fpr
FROM agg a JOIN fill f ON a.m = f.m CROSS JOIN nk
"""


def cm_frequency_report_sql(depth: int = 4, width: int = 256) -> str:
    """Count-Min estimates vs exact per-user counts — mirrors
    sketch.cm_frequency_report (d×w counter sums, min over rows)."""
    return f"""
WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS uid FROM events),
exact AS (SELECT uid, count(*) AS exact_count FROM ev GROUP BY uid),
idx AS (SELECT unnest(range({depth})) AS row_i),
keyed AS (
    SELECT e.uid, e.exact_count, i.row_i,
           ('0x' || substr(sha256(CAST(i.row_i AS VARCHAR) || ':' || e.uid), 1, 12))::BIGINT
             % {width} AS pos
    FROM exact e, idx i
),
counters AS (
    SELECT row_i, pos, sum(exact_count) AS counter
    FROM keyed GROUP BY row_i, pos
),
est AS (
    SELECT k.uid, k.exact_count, min(c.counter) AS cm_estimate
    FROM keyed k JOIN counters c ON k.row_i = c.row_i AND k.pos = c.pos
    GROUP BY k.uid, k.exact_count
)
SELECT CAST(uid AS BIGINT) AS user_id,
       CAST(exact_count AS BIGINT) AS exact_count,
       {depth} AS depth, {width} AS width,
       CAST(cm_estimate AS BIGINT) AS cm_estimate,
       CAST(cm_estimate - exact_count AS BIGINT) AS overestimate,
       CAST(cm_estimate - exact_count AS DOUBLE)
         / CAST(exact_count AS DOUBLE) AS rel_overestimate
FROM est
"""


def join_output_planner_sql() -> str:
    """Planned-join output cardinality — mirrors
    stats.join_output_planner: per-side key histograms, exact
    per-matched-key output products, top 20 by output with the
    broadcast totals and one final skew division."""
    return """
WITH lft AS (
    SELECT o_custkey AS join_key, CAST(count(*) AS BIGINT) AS n_left
    FROM orders GROUP BY 1
),
rgt AS (
    SELECT user_id AS join_key, CAST(count(*) AS BIGINT) AS n_right
    FROM events GROUP BY 1
),
matched AS (
    SELECT join_key, n_left, n_right,
           CAST(n_left * n_right AS BIGINT) AS key_output
    FROM lft JOIN rgt USING (join_key)
),
totals AS (
    SELECT CAST(sum(key_output) AS BIGINT) AS total_output,
           CAST(count(*) AS BIGINT) AS n_matched_keys
    FROM matched
)
SELECT join_key, n_left, n_right, key_output, total_output, n_matched_keys,
       CAST(key_output AS DOUBLE) * CAST(n_matched_keys AS DOUBLE)
         / CAST(total_output AS DOUBLE) AS skew_ratio
FROM matched, totals
ORDER BY key_output DESC, join_key ASC
LIMIT 20
"""


def contingency_chi2_sql() -> str:
    """event_type × hour-of-day chi-square cells — mirrors
    stats.contingency_chi2: exact BIGINT margins and cross-multiplied
    deviation, per-cell DOUBLE expected/contribution with identical
    expression trees (no float accumulation)."""
    return """
WITH cells AS (
    SELECT event_type,
           CAST((epoch_us(ts) // 1000000 // 3600) % 24 AS INTEGER) AS hour,
           CAST(count(*) AS BIGINT) AS obs
    FROM events GROUP BY 1, 2
),
rt AS (SELECT event_type, CAST(sum(obs) AS BIGINT) AS row_total
       FROM cells GROUP BY 1),
ct AS (SELECT hour, CAST(sum(obs) AS BIGINT) AS col_total
       FROM cells GROUP BY 1),
nt AS (SELECT CAST(sum(obs) AS BIGINT) AS n_total FROM cells)
SELECT c.event_type, c.hour, c.obs, rt.row_total, ct.col_total, nt.n_total,
       CAST(nt.n_total * c.obs - rt.row_total * ct.col_total AS BIGINT) AS dev,
       CAST(rt.row_total AS DOUBLE) * CAST(ct.col_total AS DOUBLE)
         / CAST(nt.n_total AS DOUBLE) AS expected,
       CAST(nt.n_total * c.obs - rt.row_total * ct.col_total AS DOUBLE)
         * CAST(nt.n_total * c.obs - rt.row_total * ct.col_total AS DOUBLE)
         / (CAST(nt.n_total AS DOUBLE) * CAST(rt.row_total AS DOUBLE)
            * CAST(ct.col_total AS DOUBLE)) AS contribution
FROM cells c
JOIN rt USING (event_type)
JOIN ct USING (hour)
CROSS JOIN nt
"""


def gram_novelty_by_doc_sql() -> str:
    """Per-doc shingle novelty — mirrors dedup.gram_novelty_by_doc:
    distinct token trigrams, first-occurrence = min(doc_id) per gram,
    novel count = regroup of the first-occurrence table, one final
    division."""
    return f"""
WITH {_SHINGLES_CTE},
grams AS (SELECT doc_id, unnest(sh) AS g FROM dsh),
n_grams AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM grams GROUP BY 1
),
novel AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_novel FROM (
        SELECT g, min(doc_id) AS doc_id FROM grams GROUP BY g
    ) GROUP BY 1
)
SELECT g.doc_id, g.n_grams,
       CAST(coalesce(n.n_novel, 0) AS BIGINT) AS n_novel,
       CAST(coalesce(n.n_novel, 0) AS DOUBLE) / CAST(g.n_grams AS DOUBLE)
         AS novelty_rate
FROM n_grams g LEFT JOIN novel n USING (doc_id)
"""


def source_marginal_utility_sql() -> str:
    """Per-source marginal novelty — mirrors
    dedup.source_marginal_utility: sums of the per-doc counts over
    documents.source, one final division."""
    return f"""
WITH per_doc AS (
{gram_novelty_by_doc_sql()}
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(p.n_grams) AS BIGINT) AS n_grams,
       CAST(sum(p.n_novel) AS BIGINT) AS n_novel,
       CAST(sum(p.n_novel) AS DOUBLE) / CAST(sum(p.n_grams) AS DOUBLE)
         AS novelty_rate
FROM per_doc p JOIN documents d USING (doc_id)
GROUP BY d.source
"""


def containment_dedup_pairs_sql(t_num: int = 9, t_den: int = 10) -> str:
    """Prefix-filtered containment pairs — mirrors
    dedup.containment_dedup_pairs: rarest-first prefix of length
    m − ceil(t·m) + 1 (exact integer ceiling), posting-list equi-join
    for candidates, all-integer final gate 10·|A∩B| ≥ 9·|A|."""
    return f"""
WITH {_SHINGLES_CTE},
grams AS (SELECT doc_id, unnest(sh) AS g FROM dsh),
df AS (SELECT g, count(*) AS df_cnt FROM grams GROUP BY g),
sized AS (SELECT doc_id, len(sh) AS m FROM dsh),
ranked AS (
    SELECT gr.doc_id, gr.g, s.m,
           row_number() OVER (PARTITION BY gr.doc_id
                              ORDER BY d.df_cnt ASC, gr.g ASC) AS r
    FROM grams gr JOIN df d USING (g) JOIN sized s USING (doc_id)
),
prefix AS (
    SELECT doc_id AS doc_a, g FROM ranked
    WHERE r <= m - (({t_num} * m + {t_den - 1}) // {t_den}) + 1
),
cand AS (
    SELECT DISTINCT p.doc_a, gr.doc_id AS doc_b
    FROM prefix p JOIN grams gr USING (g)
    WHERE p.doc_a <> gr.doc_id
),
verify AS (
    SELECT c.doc_a, c.doc_b,
           CAST(len(a.sh) AS BIGINT) AS n_a,
           CAST(len(b.sh) AS BIGINT) AS n_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_overlap
    FROM cand c
    JOIN dsh a ON a.doc_id = c.doc_a
    JOIN dsh b ON b.doc_id = c.doc_b
)
SELECT doc_a, doc_b, n_a, n_b, n_overlap,
       CAST(n_overlap AS DOUBLE) / CAST(n_a AS DOUBLE) AS containment
FROM verify
WHERE {t_den} * n_overlap >= {t_num} * n_a
"""


def winsorized_stats_sql() -> str:
    """Winsorized robust stats — mirrors stats.winsorized_stats:
    rank-based discrete [p1, p99] clip bounds from the per-(type,
    value) histogram, BIGINT clamped sums weighted by histogram
    counts, one final division per mean."""
    return """
WITH ev AS (
    SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS vfix
    FROM events
),
hist AS (SELECT event_type, vfix, count(*) AS c FROM ev GROUP BY 1, 2),
cc AS (
    SELECT *,
           sum(c) OVER (PARTITION BY event_type ORDER BY vfix
                        ROWS UNBOUNDED PRECEDING) AS cum,
           sum(c) OVER (PARTITION BY event_type) AS n
    FROM hist
),
bounds AS (
    SELECT event_type,
           min(CASE WHEN 100 * cum >= 1 * n THEN vfix END) AS lo_fix,
           min(CASE WHEN 100 * cum >= 99 * n THEN vfix END) AS hi_fix
    FROM cc GROUP BY 1
),
clipped AS (
    SELECT h.event_type, h.vfix, h.c, b.lo_fix, b.hi_fix,
           greatest(b.lo_fix, least(b.hi_fix, h.vfix)) AS wfix
    FROM hist h JOIN bounds b USING (event_type)
)
SELECT event_type,
       CAST(sum(c) AS BIGINT) AS n,
       CAST(lo_fix AS DOUBLE) / 1000000.0 AS lo_clip,
       CAST(hi_fix AS DOUBLE) / 1000000.0 AS hi_clip,
       CAST(CAST(sum(vfix * c) AS BIGINT) AS DOUBLE)
         / (CAST(sum(c) AS DOUBLE) * 1000000.0) AS mean_raw,
       CAST(CAST(sum(wfix * c) AS BIGINT) AS DOUBLE)
         / (CAST(sum(c) AS DOUBLE) * 1000000.0) AS mean_winsorized,
       CAST(sum(CASE WHEN vfix < lo_fix THEN c ELSE 0 END) AS BIGINT)
         AS n_clipped_low,
       CAST(sum(CASE WHEN vfix > hi_fix THEN c ELSE 0 END) AS BIGINT)
         AS n_clipped_high
FROM clipped
GROUP BY event_type, lo_fix, hi_fix
"""


def vocab_growth_curve_sql(step: int = 50) -> str:
    """Heaps-law vocabulary growth — mirrors dedup.vocab_growth_curve:
    per-gram min(doc_id) first occurrences, per-checkpoint counts,
    cumulative windows over checkpoint rows, one final division."""
    return f"""
WITH {_SHINGLES_CTE},
grams AS (SELECT doc_id, unnest(sh) AS g FROM dsh),
occ AS (
    SELECT (doc_id // {step}) * {step} AS checkpoint, count(*) AS occ
    FROM grams GROUP BY 1
),
firsts AS (
    SELECT (doc_id // {step}) * {step} AS checkpoint, count(*) AS new_types
    FROM (SELECT g, min(doc_id) AS doc_id FROM grams GROUP BY g)
    GROUP BY 1
),
cum AS (
    SELECT o.checkpoint,
           coalesce(f.new_types, 0) AS new_types,
           sum(coalesce(f.new_types, 0)) OVER (ORDER BY o.checkpoint
               ROWS UNBOUNDED PRECEDING) AS cum_types,
           sum(o.occ) OVER (ORDER BY o.checkpoint
               ROWS UNBOUNDED PRECEDING) AS cum_occurrences
    FROM occ o LEFT JOIN firsts f USING (checkpoint)
)
SELECT checkpoint,
       CAST(new_types AS BIGINT) AS new_types,
       CAST(cum_types AS BIGINT) AS cum_types,
       CAST(cum_occurrences AS BIGINT) AS cum_occurrences,
       CAST(cum_types AS DOUBLE) / CAST(cum_occurrences AS DOUBLE)
         AS type_token_ratio
FROM cum
"""


def cooccurrence_lift_sql() -> str:
    """User-day type co-occurrence lift — mirrors
    timeseries.cooccurrence_lift: distinct (user, day, type) grain,
    bounded-fanout pair join, exact BIGINT numerator, one division."""
    return """
WITH ud AS (
    SELECT DISTINCT user_id,
           epoch_us(ts) // 1000000 // 86400 AS day,
           event_type
    FROM events
),
nud AS (
    SELECT CAST(count(*) AS BIGINT) AS n_user_days
    FROM (SELECT DISTINCT user_id, day FROM ud)
),
m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c FROM ud GROUP BY 1),
p AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS c_ab
    FROM ud a JOIN ud b ON a.user_id = b.user_id AND a.day = b.day
                       AND a.event_type < b.event_type
    GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.c_ab,
       ma.c AS c_a, mb.c AS c_b, nud.n_user_days,
       CAST(nud.n_user_days * p.c_ab AS DOUBLE)
         / (CAST(ma.c AS DOUBLE) * CAST(mb.c AS DOUBLE)) AS lift
FROM p
JOIN m ma ON ma.event_type = p.type_a
JOIN m mb ON mb.event_type = p.type_b
CROSS JOIN nud
"""


def interarrival_profile_sql() -> str:
    """Per-type inter-arrival cadence — mirrors
    timeseries.interarrival_profile: lag over (user, type) ordered by
    (ts, event_id), discrete rank p50/p95 over the gap histogram,
    exact-sum mean."""
    return """
WITH ev AS (
    SELECT user_id, event_type, event_id,
           epoch_us(ts) // 1000000 AS ts_s
    FROM events
),
gaps AS (
    SELECT event_type, ts_s - prev_s AS gap_s FROM (
        SELECT event_type, ts_s,
               lag(ts_s) OVER (PARTITION BY user_id, event_type
                               ORDER BY ts_s, event_id) AS prev_s
        FROM ev
    ) WHERE prev_s IS NOT NULL
),
hist AS (SELECT event_type, gap_s, count(*) AS c FROM gaps GROUP BY 1, 2),
cc AS (
    SELECT *,
           sum(c) OVER (PARTITION BY event_type ORDER BY gap_s
                        ROWS UNBOUNDED PRECEDING) AS cum,
           sum(c) OVER (PARTITION BY event_type) AS n
    FROM hist
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n_gaps,
       min(CASE WHEN 100 * cum >= 50 * n THEN gap_s END) AS p50_gap_s,
       min(CASE WHEN 100 * cum >= 95 * n THEN gap_s END) AS p95_gap_s,
       CAST(CAST(sum(gap_s * c) AS BIGINT) AS DOUBLE)
         / CAST(max(n) AS DOUBLE) AS mean_gap_s
FROM cc
GROUP BY event_type
"""


def dedup_token_budget_sql(threshold: float = 0.5) -> str:
    """Post-dedup token budget — mirrors graph.dedup_token_budget:
    cluster canonicals from the recursive component closure, raw vs
    canonical-only token sums per source, one division."""
    return f"""
WITH clusters AS (
{dedup_clusters_sql(threshold)}
),
dtok AS (
    SELECT doc_id, source,
           CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                x -> x <> '')) AS BIGINT) AS n_tokens
    FROM documents
)
SELECT t.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN c.doc_id = c.cluster_rep THEN 1 ELSE 0 END)
            AS BIGINT) AS n_canonical,
       CAST(sum(t.n_tokens) AS BIGINT) AS raw_tokens,
       CAST(sum(CASE WHEN c.doc_id = c.cluster_rep THEN t.n_tokens ELSE 0 END)
            AS BIGINT) AS kept_tokens,
       CAST(sum(CASE WHEN c.doc_id = c.cluster_rep THEN t.n_tokens ELSE 0 END)
            AS DOUBLE)
         / CAST(sum(t.n_tokens) AS DOUBLE) AS kept_ratio
FROM dtok t JOIN clusters c USING (doc_id)
GROUP BY t.source
"""


def daily_trend_slopes_sql() -> str:
    """Per-type daily-volume OLS slope — mirrors
    timeseries.daily_trend_slopes: (type, day) counts, min-day rebase,
    exact BIGINT cross-product numerator/denominator, one division."""
    return """
WITH daily AS (
    SELECT event_type,
           epoch_us(ts) // 1000000 // 86400 AS day,
           CAST(count(*) AS BIGINT) AS y
    FROM events GROUP BY 1, 2
),
anchor AS (SELECT min(day) AS day0 FROM daily),
rebased AS (
    SELECT event_type, day - day0 AS x, y FROM daily CROSS JOIN anchor
),
sums AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(x) AS BIGINT) AS sx,
           CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(x * x) AS BIGINT) AS sxx
    FROM rebased GROUP BY 1
)
SELECT event_type, n_days,
       CAST(n_days * sxy - sx * sy AS BIGINT) AS slope_num,
       CAST(n_days * sxx - sx * sx AS BIGINT) AS slope_den,
       CAST(n_days * sxy - sx * sy AS DOUBLE)
         / CAST(n_days * sxx - sx * sx AS DOUBLE) AS slope_per_day
FROM sums
"""


def kmv_rolling_distinct_sql(k: int = 64, window_days: int = 7) -> str:
    """Rolling-window distinct from merged per-day KMV sketches —
    mirrors sketch.kmv_rolling_distinct: daily bottom-k FIRST, spread
    each head row to its trailing-window as-of days, dedup, re-cut to
    k, same estimator; exact side from the full (day, uid) grain."""
    num = float((k - 1) * 2**48)
    return f"""
WITH ev AS (
    SELECT epoch_us(ts) // 1000000 // 86400 AS day,
           CAST(user_id AS VARCHAR) AS uid
    FROM events
),
h AS (
    SELECT DISTINCT day,
           ('0x' || substr(sha256(uid), 1, 12))::BIGINT AS uh
    FROM ev
),
bounds AS (SELECT max(day) AS max_day FROM h),
daily_heads AS (
    SELECT day, uh FROM (
        SELECT day, uh,
               row_number() OVER (PARTITION BY day ORDER BY uh ASC) AS _rn
        FROM h
    ) WHERE _rn <= {k}
),
spread_heads AS (
    SELECT DISTINCT d.day + o.o AS as_of_day, d.uh
    FROM daily_heads d, range({window_days}) o(o), bounds b
    WHERE d.day + o.o <= b.max_day
),
merged AS (
    SELECT as_of_day, count(*) AS n_head, max(uh) AS kth_min FROM (
        SELECT as_of_day, uh,
               row_number() OVER (PARTITION BY as_of_day ORDER BY uh ASC) AS _rn
        FROM spread_heads
    ) WHERE _rn <= {k} GROUP BY as_of_day
),
ex AS (
    SELECT as_of_day, count(DISTINCT uid) AS exact_rolling_distinct FROM (
        SELECT DISTINCT d.day + o.o AS as_of_day, d.uid
        FROM (SELECT DISTINCT day, uid FROM ev) d,
             range({window_days}) o(o), bounds b
        WHERE d.day + o.o <= b.max_day
    ) GROUP BY as_of_day
)
SELECT ex.as_of_day,
       CAST(ex.exact_rolling_distinct AS BIGINT) AS exact_rolling_distinct,
       {k} AS k,
       CASE WHEN m.n_head < {k} THEN CAST(m.n_head AS DOUBLE)
            ELSE {num!r} / CAST(m.kth_min AS DOUBLE) END AS kmv_estimate,
       abs(CASE WHEN m.n_head < {k} THEN CAST(m.n_head AS DOUBLE)
                ELSE {num!r} / CAST(m.kth_min AS DOUBLE) END
           - CAST(ex.exact_rolling_distinct AS DOUBLE))
         / CAST(ex.exact_rolling_distinct AS DOUBLE) AS rel_error
FROM ex JOIN merged m USING (as_of_day)
"""


def ship_lag_profile_sql() -> str:
    """Order-to-ship lag percentiles — mirrors stats.ship_lag_profile:
    day-difference BIGINTs, discrete-rank p50/p95 over the
    per-(priority, lag) histogram, exact-sum mean."""
    return """
WITH lags AS (
    SELECT o.o_orderpriority AS priority,
           CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                          CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lag_days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
hist AS (SELECT priority, lag_days, count(*) AS c FROM lags GROUP BY 1, 2),
cc AS (
    SELECT *,
           sum(c) OVER (PARTITION BY priority ORDER BY lag_days
                        ROWS UNBOUNDED PRECEDING) AS cum,
           sum(c) OVER (PARTITION BY priority) AS n
    FROM hist
)
SELECT priority,
       CAST(max(n) AS BIGINT) AS n_lineitems,
       min(CASE WHEN 100 * cum >= 50 * n THEN lag_days END) AS p50_lag_days,
       min(CASE WHEN 100 * cum >= 95 * n THEN lag_days END) AS p95_lag_days,
       CAST(CAST(sum(lag_days * c) AS BIGINT) AS DOUBLE)
         / CAST(max(n) AS DOUBLE) AS mean_lag_days
FROM cc
GROUP BY priority
"""


def seasonal_zscore_outliers_sql(z_threshold: float = 3.0) -> str:
    """Seasonal-cell outliers — mirrors
    timeseries.seasonal_zscore_outliers: (type, hour-of-week) cell
    moments from fixed-point sums, the same pinned double chain as
    value_zscore_by_type_sql, gate |z| > threshold with var > 0."""
    mean = "CAST(s_fix AS DOUBLE) / CAST(n AS DOUBLE)"
    var = (
        f"CAST(ss_fix AS DOUBLE) / CAST(n AS DOUBLE) - ({mean}) * ({mean})"
    )
    z = (
        f"(CAST(CAST(floor(e.value * 1000000) AS BIGINT) AS DOUBLE) - {mean})"
        f" / sqrt({var})"
    )
    return f"""
WITH ev AS (
    SELECT event_id, event_type, value,
           CAST((epoch_us(ts) // 1000000 // 3600) % 168 AS INTEGER) AS how
    FROM events
),
mom AS (
    SELECT event_type, how,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS s_fix,
           sum(CAST(floor(value * 1000000) AS HUGEINT)
               * CAST(floor(value * 1000000) AS HUGEINT)) AS ss_fix
    FROM ev GROUP BY 1, 2
)
SELECT e.event_id, e.event_type, e.how, e.value,
       ({mean}) / 1000000.0 AS cell_mean,
       n AS cell_n,
       floor(({z}) * 1000000.0 + 0.5) / 1000000.0 AS zscore
FROM ev e
JOIN mom USING (event_type, how)
WHERE ({var}) > 0 AND abs({z}) > {z_threshold!r}
"""


def shared_span_pairs_sql(anchor_n: int = 8, min_span: int = 12) -> str:
    """Oracle for operators.dedup.shared_span_pairs: raw-gram join
    (Spark side joins on xxhash64(gram) — equivalent absent 64-bit
    collisions, same contract as dup_ngram_stats), identical
    pos − row_number run-group recovery."""
    return rf"""
WITH tl AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'),
                       x -> x <> '') AS toks
    FROM documents
),
grams AS (
    SELECT doc_id, i AS p,
           array_to_string(toks[i:i+{anchor_n - 1}], ' ') AS gram
    FROM tl, unnest(range(1, len(toks) - {anchor_n - 2})) AS g(i)
    WHERE len(toks) >= {anchor_n}
),
aligned AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.p AS pa, a.p - b.p AS diff
    FROM grams a JOIN grams b USING (gram)
    WHERE a.doc_id < b.doc_id
),
spans AS (
    SELECT doc_a, doc_b, {anchor_n} + count(*) - 1 AS span
    FROM (
        SELECT doc_a, doc_b, diff, pa,
               pa - row_number() OVER (
                   PARTITION BY doc_a, doc_b, diff ORDER BY pa) AS grp
        FROM aligned
    )
    GROUP BY doc_a, doc_b, diff, grp
)
SELECT doc_a, doc_b, CAST(max(span) AS BIGINT) AS longest_span_tokens
FROM spans
GROUP BY 1, 2
HAVING max(span) >= {min_span}
"""


def phash_dup_pairs_sql(max_hamming: int = 3) -> str:
    """Oracle for operators.multimodal.phash_dup_pairs: recompute the
    deterministic dHash grid byte-exactly (ASCII fixture: char index ==
    byte index), pack MSB-first into a signed 64-bit value via two
    32-bit halves (no HUGEINT in the output path), then exact-pair
    xor + bit_count — the oracle may all-pairs at sf0.01; the engine
    side never does."""
    return rf"""
WITH docs AS (SELECT doc_id, text, length(text) AS n FROM documents),
bytes AS (
    SELECT doc_id, n,
           CAST((72 * (p - 1) + 71) // n AS BIGINT) AS j,
           ascii(substr(text, CAST(p AS INT), 1)) AS v
    FROM docs, unnest(range(1, n + 1)) AS bp(p)
),
grid AS (
    SELECT doc_id, CAST(j AS BIGINT) AS j
    FROM docs, unnest(range(0, 72)) AS gj(j)
),
cells AS (
    SELECT g.doc_id, g.j, COALESCE(s.cellv, 0) AS cellv
    FROM grid g
    LEFT JOIN (
        SELECT doc_id, j, SUM(v) AS cellv FROM bytes GROUP BY 1, 2
    ) s ON s.doc_id = g.doc_id AND s.j = g.j
),
bits AS (
    SELECT cur.doc_id,
           (cur.j // 9) * 8 + (cur.j % 9) AS k,
           CASE WHEN nxt.cellv > cur.cellv THEN 1 ELSE 0 END AS bit
    FROM cells cur
    JOIN cells nxt ON nxt.doc_id = cur.doc_id AND nxt.j = cur.j + 1
    WHERE cur.j % 9 < 8
),
halves AS (
    SELECT doc_id,
           SUM(CASE WHEN k < 32 THEN bit * (CAST(1 AS BIGINT) << (31 - k))
                    ELSE 0 END) AS hi,
           SUM(CASE WHEN k >= 32 THEN bit * (CAST(1 AS BIGINT) << (63 - k))
                    ELSE 0 END) AS lo
    FROM bits GROUP BY doc_id
),
hashes AS (
    SELECT doc_id,
           CAST(CASE WHEN hi >= 2147483648
                     THEN (hi - 4294967296) * 4294967296 + lo
                     ELSE hi * 4294967296 + lo END AS BIGINT) AS h
    FROM halves
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
FROM hashes a
JOIN hashes b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.h, b.h)) <= {max_hamming}
"""


def hll_distinct_report_sql(p: int = 5) -> str:
    """Mirrors sketch.hll_distinct_report: low-p-bit register, rank via
    binary-string length (never floor(log2)), harmonic denominator of
    exact dyadic doubles (order-independent: < 53 mantissa-bit spread),
    alpha as the same literal arithmetic."""
    m = 1 << p
    w_bits = 48 - p
    return f"""
WITH ev AS (
    SELECT epoch_us(ts) // 1000000 // 86400 AS day,
           CAST(user_id AS VARCHAR) AS uid
    FROM events
),
h AS (
    SELECT day, ('0x' || substr(sha256(uid), 1, 12))::BIGINT AS uh
    FROM ev
),
ranks AS (
    SELECT day,
           uh & {m - 1} AS reg,
           CASE WHEN (uh >> {p}) = 0 THEN {w_bits + 1}
                ELSE {w_bits + 1} - length(bin(uh >> {p})) END AS rank
    FROM h
),
per_reg AS (
    SELECT day, reg, max(rank) AS m_rank FROM ranks GROUP BY day, reg
),
per_day AS (
    SELECT day,
           CAST(count(*) AS BIGINT) AS registers_hit,
           SUM(1.0::DOUBLE / CAST((1::BIGINT << m_rank) AS DOUBLE)) AS inv_sum_hit
    FROM per_reg GROUP BY day
),
ex AS (
    SELECT day, count(DISTINCT uid) AS exact_distinct FROM ev GROUP BY day
)
SELECT d.day,
       ex.exact_distinct,
       d.registers_hit,
       CAST({m} - d.registers_hit AS BIGINT) AS zero_registers,
       (0.7213 / (1.0 + 1.079 / {float(m)!r})) * {float(m)!r} * {float(m)!r}
           / (d.inv_sum_hit + ({float(m)!r} - d.registers_hit)) AS hll_estimate,
       abs((0.7213 / (1.0 + 1.079 / {float(m)!r})) * {float(m)!r} * {float(m)!r}
           / (d.inv_sum_hit + ({float(m)!r} - d.registers_hit))
           - CAST(ex.exact_distinct AS DOUBLE)) / CAST(ex.exact_distinct AS DOUBLE)
           AS rel_error
FROM per_day d JOIN ex USING (day)
"""


def span_dup_token_stats_sql(anchor_n: int = 8, min_span: int = 12) -> str:
    """Mirrors dedup.span_dup_token_stats: same aligned-run recovery as
    shared_span_pairs_sql (doc_a != doc_b so each doc sees its own
    interval), gaps-and-islands interval merge, doc -> source rollup."""
    return rf"""
WITH tl AS (
    SELECT doc_id, source,
           list_filter(string_split_regex(lower(text), '\s+'),
                       x -> x <> '') AS toks
    FROM documents
),
grams AS (
    SELECT doc_id, i AS p,
           array_to_string(toks[i:i+{anchor_n - 1}], ' ') AS gram
    FROM tl, unnest(range(1, len(toks) - {anchor_n - 2})) AS g(i)
    WHERE len(toks) >= {anchor_n}
),
aligned AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.p AS pa, a.p - b.p AS diff
    FROM grams a JOIN grams b USING (gram)
    WHERE a.doc_id <> b.doc_id
),
runs AS (
    SELECT doc_a, min(pa) AS a_start, {anchor_n} + count(*) - 1 AS span
    FROM (
        SELECT doc_a, doc_b, diff, pa,
               pa - row_number() OVER (
                   PARTITION BY doc_a, doc_b, diff ORDER BY pa) AS grp
        FROM aligned
    )
    GROUP BY doc_a, doc_b, diff, grp
    HAVING {anchor_n} + count(*) - 1 >= {min_span}
),
intervals AS (
    SELECT DISTINCT doc_a AS doc_id, a_start AS lo,
           a_start + span - 1 AS hi
    FROM runs
),
marked AS (
    SELECT doc_id, lo, hi,
           max(hi) OVER (PARTITION BY doc_id ORDER BY lo, hi
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS prev_hi
    FROM intervals
),
islands AS (
    SELECT doc_id, lo, hi,
           SUM(CASE WHEN prev_hi IS NULL OR lo > prev_hi THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY lo, hi) AS island
    FROM marked
),
covered AS (
    SELECT doc_id, SUM(ilen) AS covered FROM (
        SELECT doc_id, island, max(hi) - min(lo) + 1 AS ilen
        FROM islands GROUP BY doc_id, island
    ) GROUP BY doc_id
)
SELECT t.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(t.toks)) AS BIGINT) AS total_tokens,
       CAST(SUM(COALESCE(c.covered, 0)) AS BIGINT) AS dup_span_tokens,
       CAST(SUM(COALESCE(c.covered, 0)) AS DOUBLE)
           / CAST(SUM(len(t.toks)) AS DOUBLE) AS dup_token_ratio
FROM tl t LEFT JOIN covered c USING (doc_id)
GROUP BY t.source
"""


def span_scrub_plan_sql(anchor_n: int = 8, min_span: int = 12) -> str:
    """Mirrors dedup.span_scrub_plan: keep-lowest orientation (only the
    higher doc of a pair accrues cuts), run recovery on the HIGH side's
    positions, gaps-and-islands merge per doc."""
    return rf"""
WITH tl AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'),
                       x -> x <> '') AS toks
    FROM documents
),
grams AS (
    SELECT doc_id, i AS p,
           array_to_string(toks[i:i+{anchor_n - 1}], ' ') AS gram
    FROM tl, unnest(range(1, len(toks) - {anchor_n - 2})) AS g(i)
    WHERE len(toks) >= {anchor_n}
),
aligned AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           b.p AS pb, b.p - a.p AS diff
    FROM grams a JOIN grams b USING (gram)
    WHERE a.doc_id < b.doc_id
),
cuts AS (
    SELECT DISTINCT doc_b AS doc_id, lo, lo + span - 1 AS hi FROM (
        SELECT doc_a, doc_b, diff, min(pb) AS lo,
               {anchor_n} + count(*) - 1 AS span
        FROM (
            SELECT doc_a, doc_b, diff, pb,
                   pb - row_number() OVER (
                       PARTITION BY doc_a, doc_b, diff ORDER BY pb) AS grp
            FROM aligned
        )
        GROUP BY doc_a, doc_b, diff, grp
        HAVING {anchor_n} + count(*) - 1 >= {min_span}
    )
),
marked AS (
    SELECT doc_id, lo, hi,
           max(hi) OVER (PARTITION BY doc_id ORDER BY lo, hi
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS prev_hi
    FROM cuts
),
islands AS (
    SELECT doc_id, lo, hi,
           SUM(CASE WHEN prev_hi IS NULL OR lo > prev_hi THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY lo, hi) AS island
    FROM marked
)
SELECT doc_id, min(lo) AS cut_lo, max(hi) AS cut_hi,
       CAST(max(hi) - min(lo) + 1 AS BIGINT) AS cut_tokens
FROM islands
GROUP BY doc_id, island
"""


def retrieval_mrr_report_sql(n_queries: int = 16, k: int = 10) -> str:
    """Mirrors vector.retrieval_mrr_report: reuses the batched-kNN CTE,
    LCM-2520 integer reciprocal ranks, one final division each for the
    per-query value and the corpus MRR."""
    lcm = 2520
    return f"""
WITH topk AS ({knn_batch_topk_sql(n_queries, k)}),
ql AS (
    SELECT vec_id AS query_id, label AS query_label
    FROM embeddings WHERE vec_id < {n_queries}
),
firsts AS (
    SELECT t.query_id, min(t.rank) AS first_match_rank
    FROM topk t JOIN ql ON t.query_id = ql.query_id
    WHERE t.label = ql.query_label
    GROUP BY t.query_id
),
per_q AS (
    SELECT ql.query_id, ql.query_label, f.first_match_rank,
           COALESCE({lcm} // f.first_match_rank, 0) AS rr_scaled
    FROM ql LEFT JOIN firsts f ON ql.query_id = f.query_id
),
summary AS (
    SELECT CAST(SUM(rr_scaled) AS DOUBLE)
               / ({float(lcm)!r} * CAST(count(*) AS DOUBLE)) AS mrr
    FROM per_q
)
SELECT p.query_id, p.query_label, p.first_match_rank,
       CAST(p.rr_scaled AS DOUBLE) / {float(lcm)!r} AS reciprocal_rank,
       s.mrr
FROM per_q p, summary s
"""


def incremental_span_pairs_sql(anchor_n: int = 8, min_span: int = 12) -> str:
    """Mirrors dedup.incremental_span_pairs: same residue split as
    incremental_minhash_pairs_sql, run recovery on the batch side's
    positions."""
    return rf"""
WITH tl AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'),
                       x -> x <> '') AS toks
    FROM documents
),
grams AS (
    SELECT doc_id, i AS p,
           array_to_string(toks[i:i+{anchor_n - 1}], ' ') AS gram
    FROM tl, unnest(range(1, len(toks) - {anchor_n - 2})) AS g(i)
    WHERE len(toks) >= {anchor_n}
),
aligned AS (
    SELECT DISTINCT b.doc_id AS new_doc, c.doc_id AS corpus_doc,
           b.p AS pn, b.p - c.p AS diff
    FROM grams b JOIN grams c USING (gram)
    WHERE b.doc_id % 5 = 4 AND c.doc_id % 5 <> 4
),
spans AS (
    SELECT new_doc, corpus_doc, {anchor_n} + count(*) - 1 AS span
    FROM (
        SELECT new_doc, corpus_doc, diff, pn,
               pn - row_number() OVER (
                   PARTITION BY new_doc, corpus_doc, diff ORDER BY pn) AS grp
        FROM aligned
    )
    GROUP BY new_doc, corpus_doc, diff, grp
)
SELECT new_doc, corpus_doc, CAST(max(span) AS BIGINT) AS longest_span_tokens
FROM spans
GROUP BY 1, 2
HAVING max(span) >= {min_span}
"""


def hll_union_report_sql(p: int = 5) -> str:
    """Mirrors sketch.hll_union_report: per-source register maxima over
    distinct token trigrams, re-merged into the __corpus__ union row,
    same literal-arithmetic estimator as hll_distinct_report_sql."""
    m = 1 << p
    w_bits = 48 - p
    est = (
        f"(0.7213 / (1.0 + 1.079 / {float(m)!r})) * {float(m)!r} * {float(m)!r}"
        f" / (w.inv_sum_hit + ({float(m)!r} - w.registers_hit))"
    )
    return rf"""
WITH tl AS (
    SELECT source,
           list_filter(string_split_regex(lower(text), '\s+'),
                       x -> x <> '') AS toks
    FROM documents
),
grams AS (
    SELECT source, array_to_string(toks[i:i+2], ' ') AS gram
    FROM tl, unnest(range(1, len(toks) - 1)) AS g(i)
    WHERE len(toks) >= 3
),
ranks AS (
    SELECT source AS scope,
           ('0x' || substr(sha256(gram), 1, 12))::BIGINT & {m - 1} AS reg,
           CASE WHEN (('0x' || substr(sha256(gram), 1, 12))::BIGINT >> {p}) = 0
                THEN {w_bits + 1}
                ELSE {w_bits + 1} - length(bin(
                    ('0x' || substr(sha256(gram), 1, 12))::BIGINT >> {p})) END
               AS rank
    FROM grams
),
per_src AS (
    SELECT scope, reg, max(rank) AS m_rank FROM ranks GROUP BY scope, reg
),
all_regs AS (
    SELECT scope, reg, m_rank FROM per_src
    UNION ALL
    SELECT '__corpus__' AS scope, reg, max(m_rank) AS m_rank
    FROM per_src GROUP BY reg
),
per_scope AS (
    SELECT scope,
           CAST(count(*) AS BIGINT) AS registers_hit,
           SUM(1.0::DOUBLE / CAST((1::BIGINT << m_rank) AS DOUBLE)) AS inv_sum_hit
    FROM all_regs GROUP BY scope
),
ex AS (
    SELECT source AS scope, count(DISTINCT gram) AS exact_distinct
    FROM grams GROUP BY source
    UNION ALL
    SELECT '__corpus__' AS scope, count(DISTINCT gram) AS exact_distinct
    FROM grams
)
SELECT w.scope, ex.exact_distinct, w.registers_hit,
       {est} AS hll_estimate,
       abs({est} - CAST(ex.exact_distinct AS DOUBLE))
           / CAST(ex.exact_distinct AS DOUBLE) AS rel_error
FROM per_scope w JOIN ex USING (scope)
"""


def audio_segment_plan_sql(win_ms: int = 400, hop_ms: int = 200) -> str:
    """Mirrors multimodal.audio_segment_plan: fake duration from payload
    bytes, hop-spaced windows with the tail clamped to the clip."""
    return f"""
WITH docs AS (
    SELECT doc_id,
           (octet_length(encode(text)) * 7) % 9000 + 500 AS dur
    FROM documents
)
SELECT doc_id,
       CAST(j AS BIGINT) AS seg_index,
       CAST(j * {hop_ms} AS BIGINT) AS start_ms,
       CAST(least(j * {hop_ms} + {win_ms}, dur) AS BIGINT) AS end_ms,
       CAST((dur - 1) // {hop_ms} + 1 AS BIGINT) AS n_segments
FROM docs, unnest(range(0, (dur - 1) // {hop_ms} + 1)) AS g(j)
"""


def tokenizer_fertility_by_source_sql() -> str:
    """Mirrors textstats.tokenizer_fertility_by_source: exact BIGINT
    sums of the two pinned tokenizations, single final divisions."""
    return r"""
WITH counts AS (
    SELECT source, lang,
           length(text) AS n_bytes,
           len(list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x <> '')) AS n_ws,
           len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]'))
               AS n_bpe
    FROM documents
)
SELECT source, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       CAST(sum(n_ws) AS BIGINT) AS total_ws_tokens,
       CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
       CAST(sum(n_bytes) AS DOUBLE) / CAST(sum(n_bpe) AS DOUBLE)
           AS bytes_per_bpe_token,
       CAST(sum(n_bpe) AS DOUBLE) / CAST(sum(n_ws) AS DOUBLE)
           AS bpe_per_ws_ratio
FROM counts
GROUP BY source, lang
"""


def phash_dup_clusters_sql(max_hamming: int = 3) -> str:
    """Connected components of the dHash pair graph via recursive
    transitive closure — mirrors graph.phash_dup_clusters (component =
    min reachable doc_id), same shape as embedding_neardup_clusters_sql."""
    return f"""
WITH RECURSIVE pairs AS (
{phash_dup_pairs_sql(max_hamming)}
),
edges AS (
    SELECT doc_a AS s, doc_b AS d FROM pairs
    UNION ALL
    SELECT doc_b AS s, doc_a AS d FROM pairs
),
reach(id, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s
),
rep AS (SELECT id, min(r) AS cluster_rep FROM reach GROUP BY id)
SELECT id AS doc_id, cluster_rep,
       count(*) OVER (PARTITION BY cluster_rep) AS cluster_size
FROM rep
"""


def embedding_separability_report_sql() -> str:
    """Mirrors vector.embedding_separability_report token-for-token:
    BIGINT fixed-point sums, HUGEINT squared-integer dim-sums, the same
    multiplication/division order in the final double expressions."""
    return """
WITH ex AS (
    SELECT label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
    FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
),
per_ld AS (
    SELECT label, dim,
           count(*) AS n_c,
           SUM(CAST(floor(x * 1000000000.0) AS BIGINT))
               AS sum_fix,
           SUM(CAST(floor((x * x)
                          * 1000000000.0) AS BIGINT)) AS ss_fix
    FROM ex GROUP BY label, dim
),
gtot AS (
    SELECT dim, CAST(SUM(sum_fix) AS BIGINT) AS gsum_fix,
           CAST(SUM(n_c) AS BIGINT) AS n_total
    FROM per_ld GROUP BY dim
),
per_label AS (
    SELECT p.label,
           CAST(MIN(p.n_c) AS BIGINT) AS n_c,
           CAST(MIN(g.n_total) AS BIGINT) AS n_total,
           CAST(SUM(p.ss_fix) AS BIGINT) AS ss_fix_sum,
           SUM(CAST(p.sum_fix AS HUGEINT) * CAST(p.sum_fix AS HUGEINT))
               AS musq_num,
           SUM((CAST(g.n_total AS HUGEINT) * p.sum_fix
                - CAST(p.n_c AS HUGEINT) * g.gsum_fix)
               * (CAST(g.n_total AS HUGEINT) * p.sum_fix
                  - CAST(p.n_c AS HUGEINT) * g.gsum_fix)) AS diff_sq_sum
    FROM per_ld p JOIN gtot g USING (dim)
    GROUP BY p.label
)
SELECT label,
       n_c AS n_vectors,
       CAST(ss_fix_sum AS DOUBLE) / 1000000000.0
           - CAST(musq_num AS DOUBLE)
             / ((CAST(n_c AS DOUBLE) * 1000000000.0) * 1000000000.0)
           AS within_ss,
       CAST(diff_sq_sum AS DOUBLE)
           / ((((CAST(n_c AS DOUBLE) * CAST(n_total AS DOUBLE))
                * CAST(n_total AS DOUBLE)) * 1000000000.0) * 1000000000.0)
           AS between_ss,
       (CAST(diff_sq_sum AS DOUBLE)
           / ((((CAST(n_c AS DOUBLE) * CAST(n_total AS DOUBLE))
                * CAST(n_total AS DOUBLE)) * 1000000000.0) * 1000000000.0))
       / (CAST(ss_fix_sum AS DOUBLE) / 1000000000.0
           - CAST(musq_num AS DOUBLE)
             / ((CAST(n_c AS DOUBLE) * 1000000000.0) * 1000000000.0))
           AS separability
FROM per_label
"""


def dedup_family_compare_sql() -> str:
    """Mirrors graph.dedup_family_compare: the three recursive-closure
    cluster CTEs unioned under family tags, one rollup. duplicate_rate
    = (items - clusters) / items (every non-canonical member is one
    duplicate to cut)."""
    return f"""
WITH lex AS (
{dedup_clusters_sql()}
),
sem AS (
{embedding_neardup_clusters_sql()}
),
per AS (
{phash_dup_clusters_sql()}
),
labeled AS (
    SELECT 'lexical_minhash' AS family, cluster_rep, cluster_size FROM lex
    UNION ALL
    SELECT 'semantic_embedding' AS family, cluster_rep, cluster_size FROM sem
    UNION ALL
    SELECT 'perceptual_phash' AS family, cluster_rep, cluster_size FROM per
)
SELECT family,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(count(DISTINCT cluster_rep) AS BIGINT) AS n_clusters,
       CAST(SUM(CASE WHEN cluster_size > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS items_in_dup_clusters,
       CAST(max(cluster_size) AS BIGINT) AS largest_cluster,
       CAST(count(*) - count(DISTINCT cluster_rep) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS duplicate_rate
FROM labeled
GROUP BY family
"""


def returnflag_priority_counts_sql() -> str:
    return """
SELECT l.l_returnflag,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY 1
"""


def disjunctive_revenue_sql(arms=None) -> str:
    from via_spark.operators.relational import DISJUNCT_ARMS

    arms = arms or DISJUNCT_ARMS
    ors = "\n   OR ".join(
        f"(p.p_brand = '{b}' AND p.p_size BETWEEN {slo} AND {shi}"
        f" AND l.l_quantity BETWEEN {qlo} AND {qhi})"
        for b, slo, shi, qlo, qhi in arms
    )
    return f"""
SELECT p.p_brand,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum({_REV6}) AS BIGINT) AS revenue_fix
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE {ors}
GROUP BY 1
"""


def excess_shippers_sql(name_prefix: str = "red ", year: int = 1996,
                        pct_num: int = 3, pct_den: int = 10) -> str:
    return f"""
WITH ps AS (
  SELECT l.l_partkey, l.l_suppkey,
         sum(CAST(floor(l.l_quantity * 1000000) AS BIGINT)) AS q_fix
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_name LIKE '{name_prefix}%'
    AND l.l_shipdate >= TIMESTAMP '{year}-01-01 00:00:00'
    AND l.l_shipdate <  TIMESTAMP '{year + 1}-01-01 00:00:00'
  GROUP BY 1, 2
), tot AS (
  SELECT l_partkey, sum(q_fix) AS tot_fix FROM ps GROUP BY 1
)
SELECT DISTINCT s.s_suppkey, s.s_name, n.n_name
FROM ps
JOIN tot USING (l_partkey)
JOIN supplier s ON ps.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE ps.q_fix * {pct_den} > tot.tot_fix * {pct_num}
"""


def late_only_suppliers_sql(late_days: int = 90, k: int = 25) -> str:
    return f"""
WITH lo AS (
  SELECT l.l_orderkey, l.l_suppkey,
         (l.l_shipdate > o.o_orderdate + INTERVAL {late_days} DAY) AS late
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
), per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late
  FROM lo GROUP BY 1
)
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lo WHERE late) b
JOIN per_order po ON b.l_orderkey = po.l_orderkey
JOIN supplier s ON b.l_suppkey = s.s_suppkey
WHERE po.n_supp > 1 AND po.n_late = 1
GROUP BY 1
ORDER BY numwait DESC, s_name ASC
LIMIT {k}
"""


def gopher_rule_audit_sql() -> str:
    return """
WITH sig AS (
  SELECT doc_id,
         len(toks) AS n,
         list_sum(list_transform(toks, t -> CAST(len(t) AS BIGINT))) AS chars,
         len(list_filter(toks,
             x -> x IN ('the','a','and','of','to','in','is','for'))) AS stop,
         len(list_distinct(toks)) AS uniq,
         list_max(list_transform(list_distinct(toks),
             u -> len(list_filter(toks, x -> x = u)))) AS top
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\\s+'),
                           x -> x <> '') AS toks
        FROM documents)
), p AS (
  SELECT (n BETWEEN 30 AND 60) AS word_count,
         (chars*10 BETWEEN 40*n AND 46*n) AS mean_word_len,
         (stop >= 2) AS stopword_hits,
         (uniq*2 >= n) AS unique_ratio,
         (top*10 <= n) AS top_token_share
  FROM sig
), pairs AS (
  SELECT 'word_count' AS rule, word_count AS ok FROM p
  UNION ALL SELECT 'mean_word_len', mean_word_len FROM p
  UNION ALL SELECT 'stopword_hits', stopword_hits FROM p
  UNION ALL SELECT 'unique_ratio', unique_ratio FROM p
  UNION ALL SELECT 'top_token_share', top_token_share FROM p
  UNION ALL SELECT 'all_rules',
    word_count AND mean_word_len AND stopword_hits
      AND unique_ratio AND top_token_share FROM p
)
SELECT rule,
       CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_fail
FROM pairs GROUP BY 1
"""


def dsir_importance_weights_sql(target_lang: str = "en",
                                n_buckets: int = 64) -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, (lang = '{target_lang}') AS is_target,
         ('0x' || substr(sha256(t), 1, 12))::BIGINT % {n_buckets} AS b
  FROM (SELECT doc_id, lang,
               unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                  x -> x <> '')) AS t
        FROM documents)
), buckets AS (
  SELECT b,
         sum(CASE WHEN is_target THEN 1 ELSE 0 END) + 1 AS t_b,
         sum(CASE WHEN is_target THEN 0 ELSE 1 END) + 1 AS r_b
  FROM tok GROUP BY 1
), totals AS (
  SELECT sum(t_b) AS t_tot, sum(r_b) AS r_tot FROM buckets
), bucket_bits AS (
  SELECT b,
         CASE WHEN q = 0 THEN CAST(-17 AS BIGINT)
              ELSE CAST(len(bin(q)) AS BIGINT) - 17 END AS bits
  FROM (SELECT b, (t_b * 65536) * r_tot // (r_b * t_tot) AS q
        FROM buckets, totals)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(bits) AS BIGINT) AS weight_bits
FROM tok JOIN bucket_bits USING (b)
GROUP BY 1
"""


def ewma_daily_counts_sql(window_days: int = 20) -> str:
    return f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS day,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
)
SELECT d1.event_type, d1.day,
       CAST(sum(CASE WHEN d1.day = d2.day THEN d2.cnt ELSE 0 END) AS BIGINT)
         AS cnt,
       CAST(sum(d2.cnt * (CAST(1 AS BIGINT) << ({window_days} - 1
                  - CAST(d1.day - d2.day AS INTEGER)))) * 1000000
            // {1 << window_days} AS BIGINT) AS ewma_fix
FROM daily d1
JOIN daily d2 ON d1.event_type = d2.event_type
            AND d1.day - d2.day BETWEEN 0 AND {window_days - 1}
GROUP BY 1, 2
"""


def semdedup_assignments_sql(tau: float = 0.3, dim: int = 64) -> str:
    """Unrolled BUCKETED two-level k-means + within-sub-cell dup
    marking — token-for-token the same integer/double op chain as
    vector.semdedup_compute's production (k=None) path: a sign-LSH
    bucket partition (bit i = sign of dimension (7i+1) mod 64 + 1;
    bits = 0 below the 4096-vector target → one bucket, the exact
    r11 chain), then per bucket a two-pass Lloyd loop with
    kk ≈ occupancy^(1/3) cells and a one-pass nearest-sub-seed split
    into ≤ kk sub-cells (floor-1e9 dots, floor-1e6 centroid sums,
    truncating // division, one int→double conversion per value;
    sub-assignment ties break to the lowest scid). The dials mirror
    the engine exactly: bits via CASE WHEN n < target THEN 0 ELSE
    length(bin(n // target)) END (≡ Python (n // target).bit_length()
    for n ≥ target), per-bucket kk via 1 << (length(bin(cnt)) // 3),
    clamped — integer ops only. Final cluster id =
    bkt·2^24 + cid·kk + scid."""
    d9 = (
        "list_sum(list_transform(range(1, {n}), i -> "
        "CAST(floor(CAST({a}[i] AS DOUBLE) * {b} * 1e9) AS BIGINT)))"
    )

    def dot(a, b, bcast=True):
        bi = f"{b}[i]" if bcast else f"CAST({b}[i] AS DOUBLE)"
        return d9.format(n=dim + 1, a=a, b=bi)

    def cos(dcol, na, nb):
        return (
            f"CASE WHEN {na} = 0 OR {nb} = 0 THEN 0.0 "
            f"ELSE {dcol} / (sqrt({na}) * sqrt({nb})) END"
        )

    assign = """
  SELECT vec_id, embedding, bkt, cid FROM (
    SELECT s.*, row_number() OVER (
        PARTITION BY vec_id ORDER BY ({score}) DESC, cid) AS rn
    FROM (
      SELECT e.vec_id, e.embedding, e.bkt, c.cid,
             {d} AS d, {na} AS na, {nc} AS nc
      FROM eb e JOIN {cents} c USING (bkt)) s
  ) WHERE rn = 1
"""

    def assign_sql(cents):
        return assign.format(
            score=cos("d", "na", "nc"),
            d=dot("e.embedding", "c.c"),
            na=dot("e.embedding", "e.embedding", bcast=False),
            nc=d9.format(n=dim + 1, a="c.c", b="c.c[i]"),
            cents=cents,
        )

    from via_spark.operators.vector import (
        SEMDEDUP_BKT_TARGET,
        SEMDEDUP_MAX_BITS,
        SEMDEDUP_MAX_K,
        SEMDEDUP_MIN_K,
    )

    subassign = """
  SELECT vec_id, embedding, bkt, cid, scid FROM (
    SELECT s.*, row_number() OVER (
        PARTITION BY vec_id ORDER BY ({score}) DESC, scid) AS rn
    FROM (
      SELECT e.vec_id, e.embedding, e.bkt, e.cid, c.scid,
             {d} AS d, {na} AS na, {nc} AS nc
      FROM a2 e JOIN subc c USING (bkt, cid)) s
  ) WHERE rn = 1
""".format(
        score=cos("d", "na", "nc"),
        d=dot("e.embedding", "c.c"),
        na=dot("e.embedding", "e.embedding", bcast=False),
        nc=d9.format(n=dim + 1, a="c.c", b="c.c[i]"),
    )

    return f"""
WITH bcfg AS (
  -- sign-LSH bucket bits: 0 below the target occupancy, else the bit
  -- length of n // target (mirrors vector._semdedup_bits; bin(0) is
  -- '0' of length 1 in DuckDB, hence the explicit < target guard)
  SELECT CASE WHEN count(*) < {SEMDEDUP_BKT_TARGET} THEN 0
         ELSE least({SEMDEDUP_MAX_BITS},
                    length(bin(count(*) // {SEMDEDUP_BKT_TARGET}))) END AS bits
  FROM embeddings
), eb AS (
  -- bucket bit i = sign (>= 0) of dimension (7i+1) mod 64 + 1;
  -- out-of-range [i] is NULL and NULL >= 0 is not true -> 0 bit
  SELECT vec_id, embedding,
         COALESCE(list_sum(list_transform(range(0, (SELECT bits FROM bcfg)),
           i -> CASE WHEN embedding[(7 * i + 1) % 64 + 1] >= 0
                     THEN 1 << i ELSE 0 END)), 0)::BIGINT AS bkt
  FROM embeddings
), kn AS (
  -- per-bucket kk = power of two at the bucket count's bit length
  -- // 3 (≈ occupancy^(1/3)), clamped (mirrors vector._semdedup_kn)
  SELECT bkt, least({SEMDEDUP_MAX_K}, greatest({SEMDEDUP_MIN_K},
         1 << (length(bin(count(*))) // 3))) AS kk
  FROM eb GROUP BY bkt
), seeds AS (
  SELECT e.vec_id, e.embedding, e.bkt,
         row_number() OVER (
           PARTITION BY e.bkt
           ORDER BY ('0x' || substr(sha256(CAST(e.vec_id AS VARCHAR)), 1, 12))::BIGINT,
                    e.vec_id) - 1 AS cid
  FROM eb e JOIN kn USING (bkt)
  QUALIFY cid < kn.kk
), cents0 AS (
  SELECT bkt, cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
  FROM seeds
), a1 AS ({assign_sql("cents0")}
), dims AS (
  SELECT bkt, cid, i,
         sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT)) AS s,
         count(*) AS n
  FROM a1, (SELECT unnest(range(1, {dim + 1})) AS i)
  GROUP BY 1, 2, 3
), cents1 AS (
  SELECT bkt, cid, list(CAST(s // n AS DOUBLE) / 1e6 ORDER BY i) AS c
  FROM dims GROUP BY bkt, cid
), a2 AS ({assign_sql("cents1")}
), sseeds AS (
  -- level 2: first kk members of each coarse cell in seed-hash order
  SELECT e.bkt, e.cid, e.embedding,
         row_number() OVER (
           PARTITION BY e.bkt, e.cid
           ORDER BY ('0x' || substr(sha256(CAST(e.vec_id AS VARCHAR)), 1, 12))::BIGINT,
                    e.vec_id) - 1 AS scid
  FROM a2 e JOIN kn USING (bkt)
  QUALIFY scid < kn.kk
), subc AS (
  SELECT bkt, cid, scid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
  FROM sseeds
), a3 AS ({subassign}
), dup AS (
  SELECT b.vec_id AS vb
  FROM a3 a JOIN a3 b
    ON a.bkt = b.bkt AND a.cid = b.cid AND a.scid = b.scid
   AND a.vec_id < b.vec_id
  WHERE ({cos(dot("a.embedding", "b.embedding", bcast=False),
              dot("a.embedding", "a.embedding", bcast=False),
              dot("b.embedding", "b.embedding", bcast=False))}) >= {tau}
  GROUP BY 1
)
SELECT a3.vec_id,
       a3.bkt * {1 << 24} + a3.cid * kn.kk + a3.scid AS cluster,
       (dup.vb IS NOT NULL) AS is_dup
FROM a3 JOIN kn USING (bkt) LEFT JOIN dup ON a3.vec_id = dup.vb
"""


def semdedup_cell_occupancy_sql(tau: float = 0.3, dim: int = 64) -> str:
    """Cell-size histogram over the two-level SemDeDup labels — wraps
    the full unrolled semdedup_assignments_sql so the occupancy view
    re-proves the same label chain it diagnoses."""
    return f"""
WITH sd AS ({semdedup_assignments_sql(tau, dim)})
SELECT cell_size, CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(cell_size) AS BIGINT) AS n_vectors
FROM (
  SELECT cluster, CAST(count(*) AS BIGINT) AS cell_size
  FROM sd GROUP BY 1
) GROUP BY 1
"""


def exact_dup_family_stats_sql() -> str:
    return """
WITH fam AS (
  SELECT embedding, count(*) AS f FROM embeddings GROUP BY embedding
)
SELECT CAST(sum(f) AS BIGINT) AS n_vectors,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(sum(CASE WHEN f > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_multi_families,
       CAST(max(f) AS BIGINT) AS largest_family,
       CAST((sum(f) - count(*)) * 1000000 // sum(f) AS BIGINT)
         AS collapsed_share_micro
FROM fam
"""


def semdedup_cell_purity_sql(tau: float = 0.3, dim: int = 64) -> str:
    """Majority-label share per two-level SemDeDup cell — wraps the
    unrolled label chain; majority ties break to the lowest label
    (mirrors the Spark window's (n DESC, label ASC))."""
    return f"""
WITH sd AS ({semdedup_assignments_sql(tau, dim)}),
per AS (
  SELECT sd.cluster, e.label, CAST(count(*) AS BIGINT) AS n
  FROM sd JOIN embeddings e ON e.vec_id = sd.vec_id
  GROUP BY 1, 2
),
sz AS (SELECT cluster, sum(n) AS cell_size FROM per GROUP BY 1),
top AS (
  SELECT cluster, label, n FROM (
    SELECT per.*, row_number() OVER (
        PARTITION BY cluster ORDER BY n DESC, label ASC) AS _rn
    FROM per
  ) WHERE _rn = 1
)
SELECT top.cluster, CAST(sz.cell_size AS BIGINT) AS cell_size,
       top.label AS majority_label,
       CAST(top.n * 1000000 // sz.cell_size AS BIGINT) AS purity_micro
FROM top JOIN sz ON top.cluster = sz.cluster
"""


def minhash_band_occupancy_sql() -> str:
    """Uncapped band-bucket histogram — the bands_all CTE of the
    MinHash chain, grouped twice (the capped ``bands`` CTE is part of
    the imported block but deliberately unused here)."""
    return (
        "WITH "
        + _SHINGLES_CTE.strip()
        + ","
        + _minhash_bands_cte()
        + """
, per AS (
  SELECT band, band_key, CAST(count(*) AS BIGINT) AS occupancy
  FROM bands_all GROUP BY 1, 2
)
SELECT CAST(band AS BIGINT) AS band, occupancy,
       CAST(count(*) AS BIGINT) AS n_buckets
FROM per GROUP BY 1, 2
"""
    )


def ivf_cell_balance_sql(n_centroids: int | None = None) -> str:
    """Vectors per IVF cell — the assignment CTEs of ann_ivf_topk_sql
    (deterministic-sample centroids, exact fixed-point argmax with
    cid-ascending tiebreak), grouped by cell."""
    from via_spark.operators.dedup import IVF_CENTROIDS

    n_centroids = IVF_CENTROIDS if n_centroids is None else n_centroids
    cdot = _DOT9.format(a="e.embedding", b="c.cemb")
    return f"""
WITH c AS (
    SELECT vec_id AS cid, embedding AS cemb FROM embeddings
    WHERE vec_id < {n_centroids}
),
cells AS (
    SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {cdot} DESC, c.cid ASC) AS _rn
        FROM embeddings e, c
    ) WHERE _rn = 1
),
per AS (
  SELECT cid, CAST(count(*) AS BIGINT) AS n_vectors FROM cells GROUP BY 1
),
tot AS (SELECT sum(n_vectors) AS n_total FROM per)
SELECT cid, n_vectors,
       CAST(n_vectors * 1000000 // n_total AS BIGINT) AS share_micro
FROM per, tot
"""


def pagerank_event_types_sql(iters: int = 3, scale: int = 10**12,
                             num: int = 3, den: int = 4) -> str:
    """Unrolled exact-integer PageRank — same truncating-division op
    chain as graph.pagerank_event_types."""
    parts = [f"""
WITH e AS (
    SELECT user_id, event_id, event_type, epoch_us(ts) // 1000000 AS sec
    FROM events
), m AS (
    SELECT event_type AS next_type,
           lag(event_type) OVER (
               PARTITION BY user_id ORDER BY sec, event_id
           ) AS prev_type
    FROM e
), edges AS (
    SELECT prev_type AS src, next_type AS dst, CAST(count(*) AS BIGINT) AS w
    FROM m WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
), nodes AS (
    SELECT src AS node FROM edges UNION SELECT dst FROM edges
), nt AS (SELECT count(*) AS n_nodes FROM nodes),
out_tot AS (SELECT src, sum(w) AS w_tot FROM edges GROUP BY 1),
r0 AS (
    SELECT node, {scale} // n_nodes AS r FROM nodes CROSS JOIN nt
)"""]
    for i in range(1, iters + 1):
        parts.append(f""", c{i} AS (
    SELECT dst, sum((r * w) // w_tot) AS s
    FROM edges JOIN out_tot USING (src)
    JOIN r{i - 1} ON r{i - 1}.node = edges.src
    GROUP BY 1
), r{i} AS (
    SELECT node,
           {scale} // ({den} * n_nodes) + ({num} * coalesce(s, 0)) // {den} AS r
    FROM nodes CROSS JOIN nt LEFT JOIN c{i} ON node = dst
)""")
    parts.append(
        f"\nSELECT node AS event_type, CAST(r AS BIGINT) AS rank_fix FROM r{iters}\n"
    )
    return "".join(parts)


def k_anonymity_audit_sql(k: int = 3) -> str:
    return f"""
SELECT lang, source, CAST(count(*) AS BIGINT) AS group_size,
       (count(*) < {k}) AS violates_k,
       CAST(CASE WHEN count(*) < {k} THEN 0 ELSE count(*) END AS BIGINT)
         AS published_size
FROM documents GROUP BY 1, 2
"""


def neardup_motif_report_sql(threshold: float = 0.5) -> str:
    return f"""
WITH pairs AS (
{dedup_minhash_pairs_sql(threshold)}
), e AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
), deg AS (
  SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1
), ne AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(deg) / 2 AS BIGINT) AS n_edges,
         CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
  FROM deg
), tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3
    ON e3.a = e1.a AND e3.b = e2.b
)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       CASE WHEN n_wedges = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST((3 * n_triangles * 1000000) // n_wedges AS BIGINT)
       END AS clustering_fix
FROM ne CROSS JOIN tri
"""


def bpe_merge_table_sql(merges: int = 3) -> str:
    """Unrolled BPE merge training — same string/integer op chain as
    textstats.bpe_merge_table (chr(1) boundary markers, leftmost
    non-overlapping replace, lexicographic argmax tiebreak)."""
    parts = [r"""
WITH w0 AS (
  SELECT count(*) AS cnt,
         regexp_replace(w, '(.)', chr(1) || '\1', 'g') || chr(1) AS s
  FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                  x -> x <> '')) AS w
        FROM documents)
  GROUP BY w
)"""]
    for i in range(1, merges + 1):
        parts.append(f""", p{i} AS (
  SELECT l, r, sum(cnt) AS pair_count FROM (
    SELECT t.cnt, t.syms[u.i] AS l, t.syms[u.i + 1] AS r
    FROM (SELECT cnt, list_filter(string_split(s, chr(1)), x -> x <> '') AS syms
          FROM w{i - 1}) t,
         unnest(range(1, len(t.syms))) AS u(i))
  GROUP BY 1, 2
), b{i} AS (
  SELECT l, r, pair_count FROM p{i}
  QUALIFY row_number() OVER (ORDER BY pair_count DESC, l ASC, r ASC) = 1
)""")
        if i < merges:
            parts.append(f""", w{i} AS (
  SELECT cnt,
         replace(s, chr(1) || l || chr(1) || r || chr(1),
                 chr(1) || l || r || chr(1)) AS s
  FROM w{i - 1} CROSS JOIN b{i}
)""")
    selects = [
        f"SELECT {i} AS step, l AS merge_left, r AS merge_right,"
        f" l || r AS merged, CAST(pair_count AS BIGINT) AS pair_count FROM b{i}"
        for i in range(1, merges + 1)
    ]
    parts.append("\n" + "\nUNION ALL\n".join(selects) + "\n")
    return "".join(parts)


def cusum_changepoints_sql(slack_div: int = 16, h_div: int = 4) -> str:
    return f"""
WITH RECURSIVE daily AS (
  SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS day,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
), enriched AS (
  SELECT event_type, day, cnt,
         sum(cnt) OVER (PARTITION BY event_type) * 1000000
           // count(cnt) OVER (PARTITION BY event_type) AS mean_fix,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM daily
), st AS (
  SELECT event_type, rn, day, mean_fix, n_days,
         greatest(CAST(0 AS BIGINT),
                  cnt * 1000000 - mean_fix - mean_fix // {slack_div}) AS s
  FROM enriched WHERE rn = 1
  UNION ALL
  SELECT e.event_type, e.rn, e.day, e.mean_fix, e.n_days,
         greatest(CAST(0 AS BIGINT),
                  st.s + (e.cnt * 1000000 - e.mean_fix
                          - e.mean_fix // {slack_div}))
  FROM st JOIN enriched e
    ON e.event_type = st.event_type AND e.rn = st.rn + 1
)
SELECT event_type,
       CAST(any_value(n_days) AS BIGINT) AS n_days,
       CAST(any_value(mean_fix) AS BIGINT) AS mean_fix,
       CAST(max(s) AS BIGINT) AS max_cusum,
       CAST(min(CASE WHEN s > mean_fix // {h_div} THEN day END) AS BIGINT)
         AS alarm_day
FROM st GROUP BY 1
"""


def theil_sen_trend_sql() -> str:
    return """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS day,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type,
         (b.cnt - a.cnt) * 1000000 // (b.day - a.day) AS slope_fix
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
), ranked AS (
  SELECT event_type, slope_fix,
         row_number() OVER (PARTITION BY event_type ORDER BY slope_fix) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n_pairs
  FROM pairs
), meds AS (
  SELECT event_type, n_pairs, slope_fix
  FROM ranked WHERE rn = (n_pairs + 1) // 2
)
SELECT d.event_type, CAST(count(*) AS BIGINT) AS n_days,
       CAST(COALESCE(any_value(m.n_pairs), 0) AS BIGINT) AS n_pairs,
       CAST(any_value(m.slope_fix) AS BIGINT) AS slope_fix
FROM daily d LEFT JOIN meds m ON d.event_type = m.event_type
GROUP BY 1
"""


def linear_interp_gapfill_sql() -> str:
    return f"""
WITH {_EVENTS_SEC_CTE},
hourly AS (
    SELECT event_type, sec - sec % 3600 AS hour_start,
           count(*) AS n_obs,
           CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_fix
    FROM esec GROUP BY 1, 2
),
bounds AS (
    SELECT min(sec) - min(sec) % 3600 AS lo,
           max(sec) - max(sec) % 3600 AS hi
    FROM esec
),
hours AS (SELECT unnest(generate_series(lo, hi, 3600)) AS hour_start FROM bounds),
series AS (SELECT DISTINCT event_type FROM esec),
grid AS (SELECT event_type, hour_start FROM series, hours),
j AS (
    SELECT g.event_type, g.hour_start, h.n_obs, h.sum_fix
    FROM grid g
    LEFT JOIN hourly h ON h.event_type = g.event_type AND h.hour_start = g.hour_start
),
w AS (
    SELECT event_type, hour_start, n_obs, sum_fix,
           last_value(sum_fix IGNORE NULLS) OVER wb AS prev_fix,
           last_value(CASE WHEN sum_fix IS NOT NULL THEN hour_start END
                      IGNORE NULLS) OVER wb AS prev_h,
           first_value(sum_fix IGNORE NULLS) OVER wf AS next_fix,
           first_value(CASE WHEN sum_fix IS NOT NULL THEN hour_start END
                       IGNORE NULLS) OVER wf AS next_h
    FROM j
    WINDOW wb AS (PARTITION BY event_type ORDER BY hour_start
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wf AS (PARTITION BY event_type ORDER BY hour_start
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, hour_start, COALESCE(n_obs, 0) AS n,
       CASE WHEN sum_fix IS NOT NULL THEN sum_fix
            WHEN prev_fix IS NULL OR next_fix IS NULL THEN NULL
            ELSE (prev_fix * (next_h - hour_start)
                  + next_fix * (hour_start - prev_h)) // (next_h - prev_h)
       END AS filled_fix
FROM w
"""


def holt_linear_forecast_sql() -> str:
    return """
WITH RECURSIVE daily AS (
  SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS day,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
), enriched AS (
  SELECT event_type, day, cnt,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n_days,
         max(day) OVER (PARTITION BY event_type) AS last_day
  FROM daily
), st AS (
  SELECT event_type, rn, n_days, last_day,
         cnt * 1000000 AS l, CAST(0 AS BIGINT) AS b
  FROM enriched WHERE rn = 1
  UNION ALL
  SELECT e.event_type, e.rn, e.n_days, e.last_day,
         (e.cnt * 1000000 + st.l + st.b) // 2,
         ((e.cnt * 1000000 + st.l + st.b) // 2 - st.l) // 4 + (3 * st.b) // 4
  FROM st JOIN enriched e
    ON e.event_type = st.event_type AND e.rn = st.rn + 1
)
SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
       CAST(last_day AS BIGINT) AS last_day,
       CAST(l AS BIGINT) AS level_fix, CAST(b AS BIGINT) AS trend_fix,
       CAST(l + b AS BIGINT) AS forecast_fix
FROM st WHERE rn = n_days
"""


def distinct_ngram_diversity_sql() -> str:
    return f"""
WITH {DOC_TOKS_CTE},
g1 AS (SELECT source, unnest(toks) AS gram FROM dtok),
g2 AS (
    SELECT source,
           unnest(list_transform(range(1, greatest(len(toks), 1)),
                                 i -> toks[i] || ' ' || toks[i + 1])) AS gram
    FROM dtok
),
g3 AS (
    SELECT source,
           unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                 i -> toks[i] || ' ' || toks[i + 1]
                                      || ' ' || toks[i + 2])) AS gram
    FROM dtok
),
gn AS (
    SELECT source, 1 AS n, gram FROM g1
    UNION ALL SELECT source, 2 AS n, gram FROM g2
    UNION ALL SELECT source, 3 AS n, gram FROM g3
),
agg AS (
    SELECT source, n,
           CAST(count(DISTINCT gram) AS BIGINT) AS uniq,
           CAST(count(*) AS BIGINT) AS total
    FROM gn GROUP BY 1, 2
)
SELECT source,
       CAST(max(CASE WHEN n = 1 THEN total END) AS BIGINT) AS n_tokens,
       CAST(max(CASE WHEN n = 1 THEN uniq END) AS BIGINT) AS uniq_1,
       CAST(max(CASE WHEN n = 1 THEN uniq * 1000000 // total END)
            AS BIGINT) AS distinct1_fix,
       CAST(COALESCE(max(CASE WHEN n = 2 THEN uniq END), 0) AS BIGINT) AS uniq_2,
       CAST(max(CASE WHEN n = 2 THEN uniq * 1000000 // total END)
            AS BIGINT) AS distinct2_fix,
       CAST(COALESCE(max(CASE WHEN n = 3 THEN uniq END), 0) AS BIGINT) AS uniq_3,
       CAST(max(CASE WHEN n = 3 THEN uniq * 1000000 // total END)
            AS BIGINT) AS distinct3_fix
FROM agg GROUP BY 1
"""


def bigram_lm_perplexity_sql() -> str:
    return f"""
WITH {DOC_TOKS_CTE},
bg AS (
    SELECT doc_id, toks[i] AS ctx, toks[i + 1] AS nxt
    FROM dtok, unnest(range(1, greatest(len(toks), 1))) AS t(i)
),
bgc AS (SELECT ctx, nxt, CAST(count(*) AS BIGINT) AS c_bg FROM bg GROUP BY 1, 2),
ctxc AS (SELECT ctx, CAST(count(*) AS BIGINT) AS c_ctx FROM bg GROUP BY 1),
voc AS (
    SELECT CAST(count(DISTINCT x) AS BIGINT) AS v
    FROM (SELECT unnest(toks) AS x FROM dtok)
),
scored AS (
    SELECT bg.doc_id,
           CAST(length(printf('%b', (c_ctx + v) // (c_bg + 1))) - 1
                AS BIGINT) AS bits
    FROM bg JOIN bgc USING (ctx, nxt) JOIN ctxc USING (ctx), voc
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(bits) AS BIGINT) AS surprisal_bits,
       CAST(sum(bits) * 1000000 // count(*) AS BIGINT) AS mean_bits_fix
FROM scored GROUP BY 1
"""


def l_diversity_audit_sql(l: int = 2, bucket: int = 500) -> str:
    return f"""
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS group_size,
       CAST(count(DISTINCT n_chars // {bucket}) AS BIGINT) AS distinct_sensitive,
       count(DISTINCT n_chars // {bucket}) < {l} AS violates_l
FROM documents
GROUP BY 1, 2
"""


def interval_overlap_pairs_sql(gap_sec: int = 21_600) -> str:
    return f"""
WITH e AS (
    SELECT user_id, event_id, epoch_us(ts) // 1000000 AS sec FROM events
),
m AS (
    SELECT user_id, event_id, sec,
           CASE WHEN lag(sec) OVER w IS NULL
                     OR sec - lag(sec) OVER w > {gap_sec}
                THEN 1 ELSE 0 END AS is_new
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
),
s AS (
    SELECT user_id, sec,
           SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY sec, event_id
               ROWS UNBOUNDED PRECEDING
           ) AS session_id
    FROM m
),
sess AS (
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           min(sec) AS session_start, max(sec) AS session_end
    FROM s GROUP BY user_id, session_id
),
daily AS (
    SELECT sec // 86400 AS day, CAST(count(*) AS BIGINT) AS n
    FROM e GROUP BY 1
),
thr AS (SELECT sum(n) // count(n) AS mean_n FROM daily),
hot AS (SELECT day, n AS day_events FROM daily, thr WHERE n > mean_n)
SELECT user_id, session_id, day, day_events,
       least(session_end + 1, (day + 1) * 86400)
       - greatest(session_start, day * 86400) AS overlap_sec
FROM sess JOIN hot
  ON session_start // 86400 <= day AND day <= session_end // 86400
"""


def pareto_frontier_parts_sql() -> str:
    return """
WITH p AS (
    SELECT p_partkey, p_brand, p_type, p_size,
           CAST(floor(p_retailprice * 1000000) AS BIGINT) AS price_fix
    FROM part
)
SELECT p_partkey, p_brand, p_type, p_size, price_fix
FROM p a
WHERE NOT EXISTS (
    SELECT 1 FROM p b
    WHERE (b.price_fix < a.price_fix AND b.p_size >= a.p_size)
       OR (b.price_fix = a.price_fix AND b.p_size > a.p_size)
)
"""


# --- round-10 oracles ---


def benford_digit_audit_sql() -> str:
    return """
WITH obs AS (
    SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 1000000) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
           CAST(count(*) AS BIGINT) AS n_obs
    FROM orders GROUP BY 1
), tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM obs),
bent(digit, benford_micro) AS (VALUES
    (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
    (6, 66947), (7, 57992), (8, 51153), (9, 45757)
), per AS (
    SELECT b.digit,
           CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs,
           CAST(b.benford_micro AS BIGINT) AS benford_micro,
           CAST(COALESCE(o.n_obs, 0) * 1000000 // t.n_total AS BIGINT) AS share_micro
    FROM bent b LEFT JOIN obs o USING (digit) CROSS JOIN tot t
), chi AS (
    SELECT CAST(sum((share_micro - benford_micro) * (share_micro - benford_micro)
                    // benford_micro) AS BIGINT) AS chi2_micro
    FROM per
)
SELECT per.digit, per.n_obs, per.share_micro, per.benford_micro,
       CAST(per.share_micro - per.benford_micro AS BIGINT) AS dev_micro,
       chi.chi2_micro
FROM per CROSS JOIN chi
"""


def iqr_outlier_report_sql() -> str:
    return """
WITH v AS (
    SELECT event_type, event_id,
           CAST(floor(value * 1000000) AS BIGINT) AS v_fix
    FROM events WHERE value IS NOT NULL
), ranked AS (
    SELECT event_type, v_fix,
           row_number() OVER (PARTITION BY event_type ORDER BY v_fix, event_id) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM v
), quart AS (
    SELECT event_type, CAST(max(n) AS BIGINT) AS n,
           min(CASE WHEN rn = greatest(1, (n + 1) // 4) THEN v_fix END) AS q1_fix,
           max(CASE WHEN rn = least(n, 3 * (n + 1) // 4) THEN v_fix END) AS q3_fix
    FROM ranked
    WHERE rn = greatest(1, (n + 1) // 4) OR rn = least(n, 3 * (n + 1) // 4)
    GROUP BY 1
)
SELECT v.event_type, q.n, q.q1_fix, q.q3_fix,
       CAST(q.q3_fix - q.q1_fix AS BIGINT) AS iqr_fix,
       CAST(sum(CASE WHEN 2 * v.v_fix < 2 * q.q1_fix - 3 * (q.q3_fix - q.q1_fix)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
       CAST(sum(CASE WHEN 2 * v.v_fix > 2 * q.q3_fix + 3 * (q.q3_fix - q.q1_fix)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_high
FROM v JOIN quart q USING (event_type)
GROUP BY 1, 2, 3, 4, 5
"""


def fd_histogram_sql() -> str:
    return """
WITH v AS (
    SELECT event_id, CAST(floor(value * 1000000) AS BIGINT) AS v_fix
    FROM events WHERE value IS NOT NULL
), ranked AS (
    SELECT v_fix,
           row_number() OVER (ORDER BY v_fix, event_id) AS rn,
           count(*) OVER () AS n
    FROM v
), quart AS (
    SELECT CAST(max(n) AS BIGINT) AS n,
           min(CASE WHEN rn = greatest(1, (n + 1) // 4) THEN v_fix END) AS q1_fix,
           max(CASE WHEN rn = least(n, 3 * (n + 1) // 4) THEN v_fix END) AS q3_fix
    FROM ranked
    WHERE rn = greatest(1, (n + 1) // 4) OR rn = least(n, 3 * (n + 1) // 4)
), stats AS (
    SELECT (SELECT min(v_fix) FROM v) AS min_fix,
           greatest(1, 2 * (q3_fix - q1_fix) //
                       len(list_filter(range(1, 200001), x -> x * x * x <= n))) AS width_fix
    FROM quart
)
SELECT CAST((v.v_fix - s.min_fix) // s.width_fix AS BIGINT) AS bin,
       CAST(s.min_fix + ((v.v_fix - s.min_fix) // s.width_fix) * s.width_fix AS BIGINT) AS bin_lo_fix,
       CAST(s.width_fix AS BIGINT) AS width_fix,
       CAST(count(*) AS BIGINT) AS n_rows
FROM v CROSS JOIN stats s
GROUP BY 1, 2, 3
"""


def ks_two_sample_drift_sql() -> str:
    return f"""
WITH {_EVENTS_SEC_CTE},
vv AS (SELECT * FROM esec WHERE value IS NOT NULL),
bounds AS (SELECT (min(sec) + max(sec) + 1) // 2 AS split_sec FROM vv),
steps AS (
    SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS v_fix,
           CAST(sum(CASE WHEN sec < b.split_sec THEN 1 ELSE 0 END) AS BIGINT) AS na_v,
           CAST(sum(CASE WHEN sec < b.split_sec THEN 0 ELSE 1 END) AS BIGINT) AS nb_v
    FROM vv CROSS JOIN bounds b
    GROUP BY 1, 2
), cum AS (
    SELECT event_type,
           sum(na_v) OVER (PARTITION BY event_type ORDER BY v_fix) AS cum_a,
           sum(nb_v) OVER (PARTITION BY event_type ORDER BY v_fix) AS cum_b,
           sum(na_v) OVER (PARTITION BY event_type) AS n_a,
           sum(nb_v) OVER (PARTITION BY event_type) AS n_b
    FROM steps
)
SELECT event_type,
       CAST(max(n_a) AS BIGINT) AS n_a,
       CAST(max(n_b) AS BIGINT) AS n_b,
       CAST(CASE WHEN max(n_a) > 0 AND max(n_b) > 0 THEN
            max(abs(cum_a * n_b - cum_b * n_a)) * 1000000 // (max(n_a) * max(n_b))
       END AS BIGINT) AS ks_micro
FROM cum
GROUP BY 1
"""


# Dense per-type daily count grid (gap days = 0) — shared by the
# lag-based staged statistics (ACF / STL / Fano); mirrors
# operators/timeseries.dense_daily_counts.
_DENSE_DAILY_CTE = """
daily AS (
    SELECT event_type, sec // 86400 AS day, CAST(count(*) AS BIGINT) AS cnt
    FROM esec GROUP BY 1, 2
),
dbounds AS (SELECT min(sec) // 86400 AS lo, max(sec) // 86400 AS hi FROM esec),
ddays AS (SELECT unnest(generate_series(lo, hi)) AS day FROM dbounds),
dseries AS (SELECT DISTINCT event_type FROM esec),
dense AS (
    SELECT s.event_type, d.day, CAST(COALESCE(dc.cnt, 0) AS BIGINT) AS cnt
    FROM dseries s CROSS JOIN ddays d
    LEFT JOIN daily dc ON dc.event_type = s.event_type AND dc.day = d.day
)
"""


def acf_daily_counts_sql() -> str:
    return f"""
WITH {_EVENTS_SEC_CTE},
{_DENSE_DAILY_CTE},
tot AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(cnt) AS BIGINT) AS s
    FROM dense GROUP BY 1
),
cen AS (
    SELECT d.event_type, d.day, t.n_days,
           CAST(t.n_days * d.cnt - t.s AS BIGINT) AS c
    FROM dense d JOIN tot t USING (event_type)
),
den AS (SELECT event_type, CAST(sum(c * c) AS BIGINT) AS den FROM cen GROUP BY 1),
lags AS (SELECT unnest(range(1, 8)) AS lag),
num AS (
    SELECT a.event_type, l.lag, CAST(sum(a.c * b.c) AS BIGINT) AS num
    FROM cen a
    CROSS JOIN lags l
    JOIN cen b ON b.event_type = a.event_type AND b.day = a.day + l.lag
    GROUP BY 1, 2
)
SELECT t.event_type, CAST(l.lag AS INT) AS lag, t.n_days,
       CAST(CASE WHEN dn.den > 0 THEN n.num * 1000000 // dn.den END AS BIGINT)
           AS acf_micro
FROM tot t
CROSS JOIN lags l
JOIN den dn USING (event_type)
LEFT JOIN num n ON n.event_type = t.event_type AND n.lag = l.lag
WHERE t.n_days > l.lag
"""


def stl_decompose_daily_sql() -> str:
    return f"""
WITH {_EVENTS_SEC_CTE},
{_DENSE_DAILY_CTE},
w AS (
    SELECT event_type, day, cnt,
           CASE WHEN count(*) OVER win = 7
                THEN sum(cnt) OVER win * 1000000 END AS win_sum_micro
    FROM dense
    WINDOW win AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
t AS (
    SELECT event_type, day, cnt,
           win_sum_micro // 7 AS trend_micro,
           (day + 4) % 7 AS dow,
           cnt * 1000000 - win_sum_micro // 7 AS detr_micro
    FROM w
),
seas AS (
    SELECT event_type, dow,
           CAST(sum(detr_micro) // count(*) AS BIGINT) AS seasonal_micro
    FROM t WHERE detr_micro IS NOT NULL GROUP BY 1, 2
)
SELECT t.event_type, t.day, CAST(t.dow AS INT) AS dow, t.cnt,
       CAST(t.trend_micro AS BIGINT) AS trend_micro,
       s.seasonal_micro,
       CAST(t.cnt * 1000000 - t.trend_micro - s.seasonal_micro AS BIGINT)
           AS resid_micro
FROM t LEFT JOIN seas s USING (event_type, dow)
"""


def fano_burstiness_by_type_sql() -> str:
    return f"""
WITH {_EVENTS_SEC_CTE},
{_DENSE_DAILY_CTE}
SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(cnt) * 1000000 // count(*) AS BIGINT) AS mean_micro,
       CAST((count(*) * sum(cnt * cnt) - sum(cnt) * sum(cnt)) * 1000000
            // (count(*) * sum(cnt)) AS BIGINT) AS fano_micro
FROM dense
GROUP BY 1
"""


def retrieval_ndcg_report_sql(n_queries: int = 16, k: int = 10) -> str:
    from via_spark.operators.vector import NDCG_DISC_MICRO, NDCG_IDCG_MICRO

    disc_rows = ", ".join(
        f"({i + 1}, {v})" for i, v in enumerate(NDCG_DISC_MICRO)
    )
    idcg_rows = ", ".join(
        f"({i + 1}, {v})" for i, v in enumerate(NDCG_IDCG_MICRO)
    )
    return f"""
WITH topk AS (SELECT * FROM ({knn_batch_topk_sql(n_queries, k)}) t),
ql AS (
    SELECT vec_id AS query_id, label AS query_label
    FROM embeddings WHERE vec_id < {n_queries}
),
lc AS (SELECT label, CAST(count(*) AS BIGINT) AS n_label FROM embeddings GROUP BY 1),
disc(rank, d_micro) AS (VALUES {disc_rows}),
idcg(n_rel, idcg_micro) AS (VALUES {idcg_rows}),
dcg AS (
    SELECT t.query_id, q.query_label,
           CAST(sum(CASE WHEN t.label = q.query_label THEN d.d_micro ELSE 0 END)
                AS BIGINT) AS dcg_micro
    FROM topk t JOIN ql q USING (query_id) JOIN disc d ON d.rank = t.rank
    GROUP BY 1, 2
),
per AS (
    SELECT dcg.query_id, dcg.query_label,
           CAST(least({k}, lc.n_label - 1) AS BIGINT) AS n_rel,
           dcg.dcg_micro,
           CAST(i.idcg_micro AS BIGINT) AS idcg_micro
    FROM dcg JOIN lc ON lc.label = dcg.query_label
    LEFT JOIN idcg i ON i.n_rel = least({k}, lc.n_label - 1)
),
scored AS (
    SELECT *, CAST(dcg_micro * 1000000 // idcg_micro AS BIGINT) AS ndcg_micro
    FROM per
),
m AS (
    SELECT CAST(sum(ndcg_micro) // count(ndcg_micro) AS BIGINT) AS mean_ndcg_micro
    FROM scored
)
SELECT s.query_id, s.query_label, s.n_rel, s.dcg_micro, s.idcg_micro,
       s.ndcg_micro, m.mean_ndcg_micro
FROM scored s CROSS JOIN m
"""


def ranker_overlap_report_sql(
    terms=("hash", "merge", "spark"), query_id: int = 0, cut_n: int = 1000
) -> str:
    """Mirrors search.ranker_overlap_report: hybrid_rrf's cut semantics,
    then set overlap per cut level instead of fusion."""
    return (
        _bm25_scored_cte(terms)
        + f"""
, e AS (SELECT * FROM embeddings),
q AS (SELECT embedding AS qe FROM e WHERE vec_id = {query_id}),
hj AS (
    SELECT s.doc_id, s.score_fix,
           {_DOT9.format(a="e.embedding", b="q.qe")} AS d_fix,
           {_DOT9.format(a="e.embedding", b="e.embedding")} AS na_fix,
           {_DOT9.format(a="q.qe", b="q.qe")} AS nb_fix
    FROM scored s JOIN e ON s.doc_id = e.vec_id, q
),
cand AS (
    SELECT doc_id, score_fix,
           {_COS.format(d="d_fix", na="na_fix", nb="nb_fix")} AS dense_score
    FROM hj
),
dense_cut AS (
    SELECT doc_id, row_number() OVER (ORDER BY dense_score DESC, doc_id ASC)
           AS rank_dense
    FROM cand ORDER BY dense_score DESC, doc_id ASC LIMIT {cut_n}
),
sparse_cut AS (
    SELECT doc_id, row_number() OVER (ORDER BY score_fix DESC, doc_id ASC)
           AS rank_sparse
    FROM cand ORDER BY score_fix DESC, doc_id ASC LIMIT {cut_n}
),
ranks AS (
    SELECT COALESCE(d.doc_id, s.doc_id) AS doc_id, rank_dense, rank_sparse
    FROM dense_cut d FULL OUTER JOIN sparse_cut s USING (doc_id)
),
cuts AS (SELECT unnest([5, 10, 20, 50]) AS k),
per AS (
    SELECT CAST(c.k AS BIGINT) AS k,
           CAST(sum(CASE WHEN r.rank_dense <= c.k AND r.rank_sparse <= c.k
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
           CAST(sum(CASE WHEN r.rank_dense <= c.k THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dense,
           CAST(sum(CASE WHEN r.rank_sparse <= c.k THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sparse
    FROM cuts c CROSS JOIN ranks r
    GROUP BY 1
)
SELECT k, n_common,
       CAST(CASE WHEN n_dense + n_sparse > n_common THEN
            n_common * 1000000 // (n_dense + n_sparse - n_common)
       END AS BIGINT) AS jaccard_micro
FROM per
"""
    )


def spearman_length_vocab_sql() -> str:
    return r"""
WITH d AS (
    SELECT doc_id, source, n_chars,
           CAST(len(list_distinct(
               list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')
           )) AS BIGINT) AS n_vocab
    FROM documents
),
ranked AS (
    SELECT source,
           CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
                AS BIGINT)
           - CAST(row_number() OVER (PARTITION BY source ORDER BY n_vocab, doc_id)
                AS BIGINT) AS d_rank
    FROM d
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(d_rank * d_rank) AS BIGINT) AS sum_d2,
       CAST(CASE WHEN count(*) >= 2 THEN
            (count(*) * (count(*) * count(*) - 1) - 6 * sum(d_rank * d_rank))
            * 1000000 // (count(*) * (count(*) * count(*) - 1))
       END AS BIGINT) AS rho_micro
FROM ranked
GROUP BY 1
"""


def rake_keyphrases_sql(k: int = 25) -> str:
    from via_spark.operators.textstats import STOPWORDS

    stop = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return rf"""
WITH dtok AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
    FROM documents
),
pos AS (
    SELECT doc_id, i AS pos, toks[i] AS tok
    FROM dtok, unnest(range(1, len(toks) + 1)) AS t(i)
),
ns AS (SELECT * FROM pos WHERE tok NOT IN ({stop})),
isl AS (
    SELECT *, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
    FROM ns
),
ph AS (
    SELECT doc_id, grp,
           string_agg(tok, ' ' ORDER BY pos) AS phrase,
           CAST(count(*) AS BIGINT) AS n_words
    FROM isl GROUP BY 1, 2
),
wsc AS (
    SELECT i.tok,
           CAST(sum(p.n_words) * 1000000 // count(*) AS BIGINT) AS wscore
    FROM isl i JOIN ph p USING (doc_id, grp)
    GROUP BY 1
),
psc AS (
    SELECT i.doc_id, i.grp, CAST(sum(w.wscore) AS BIGINT) AS score_micro
    FROM isl i JOIN wsc w USING (tok)
    GROUP BY 1, 2
),
agg AS (
    SELECT ph.phrase,
           CAST(max(ph.n_words) AS BIGINT) AS n_words,
           CAST(count(*) AS BIGINT) AS n_occ,
           CAST(max(p.score_micro) AS BIGINT) AS score_micro
    FROM ph JOIN psc p USING (doc_id, grp)
    GROUP BY 1
)
SELECT phrase, n_words, n_occ, score_micro
FROM agg ORDER BY score_micro DESC, phrase ASC LIMIT {k}
"""


def gini_token_concentration_sql() -> str:
    return r"""
WITH d AS (
    SELECT doc_id, source,
           CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS BIGINT) AS x
    FROM documents
),
ranked AS (
    SELECT source, x,
           CAST(row_number() OVER (PARTITION BY source ORDER BY x, doc_id)
                AS BIGINT) AS i
    FROM d
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(x) AS BIGINT) AS total_tokens,
       CAST(CASE WHEN sum(x) > 0 THEN
            (2 * sum(i * x) - (count(*) + 1) * sum(x)) * 1000000
            // (count(*) * sum(x))
       END AS BIGINT) AS gini_micro
FROM ranked
GROUP BY 1
"""


def poisson_bootstrap_ci_sql() -> str:
    from via_spark.operators.stats import BOOTSTRAP_REPS, POISSON1_CDF_MICRO

    cdf = ", ".join(str(t) for t in POISSON1_CDF_MICRO)
    return rf"""
WITH d AS (
    SELECT doc_id, source,
           CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS BIGINT) AS x
    FROM documents
),
reps AS (SELECT unnest(range(1, {BOOTSTRAP_REPS + 1})) AS rep),
weighted AS (
    SELECT d.source, d.x,
           CAST(len(list_filter([{cdf}],
                t -> ('0x' || substr(sha256(CAST(d.doc_id AS VARCHAR) || ':'
                                            || CAST(r.rep AS VARCHAR)), 1, 12)
                     )::BIGINT % 1000000 >= t)) AS BIGINT) AS w,
           r.rep
    FROM d CROSS JOIN reps r
),
rep_means AS (
    SELECT source, CAST(sum(w * x) * 1000000 // sum(w) AS BIGINT) AS rep_mean_micro
    FROM weighted
    GROUP BY source, rep
    HAVING sum(w) > 0
),
ci AS (
    SELECT source, list_sort(list(rep_mean_micro)) AS ms
    FROM rep_means GROUP BY 1
),
point AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(x) * 1000000 // count(*) AS BIGINT) AS mean_micro
    FROM d GROUP BY 1
)
SELECT p.source, p.n_docs, p.mean_micro,
       CAST(len(c.ms) AS BIGINT) AS n_reps,
       CAST(CASE WHEN len(c.ms) >= 3 THEN c.ms[2] END AS BIGINT) AS boot_lo_micro,
       CAST(CASE WHEN len(c.ms) >= 3 THEN c.ms[len(c.ms) - 1] END
            AS BIGINT) AS boot_hi_micro
FROM point p JOIN ci c USING (source)
"""


def attribution_last_touch_sql() -> str:
    return """
WITH ev AS (
    SELECT user_id, epoch_us(ts) // 1000000 AS sec, event_type, event_id,
           CAST(floor(value * 1000000) AS BIGINT) AS value_fix
    FROM events
),
purchases AS (SELECT user_id, sec, event_id AS purchase_id, value_fix
              FROM ev WHERE event_type = 'purchase'),
touches AS (SELECT user_id, sec, event_type, event_id
            FROM ev WHERE event_type <> 'purchase'),
pairs AS (
    SELECT p.purchase_id, t.event_type,
           row_number() OVER (PARTITION BY p.purchase_id
                              ORDER BY t.sec DESC, t.event_id DESC) AS rn
    FROM purchases p JOIN touches t
      ON t.user_id = p.user_id AND t.sec <= p.sec
),
att AS (
    SELECT p.purchase_id, p.value_fix, x.event_type AS asof_event_type
    FROM purchases p
    LEFT JOIN (SELECT * FROM pairs WHERE rn = 1) x USING (purchase_id)
),
per AS (
    SELECT asof_event_type,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(value_fix) AS BIGINT) AS value_fix
    FROM att GROUP BY 1
),
tot AS (SELECT CAST(sum(value_fix) AS BIGINT) AS total_fix FROM per)
SELECT per.asof_event_type, per.n_purchases, per.value_fix,
       CAST(per.value_fix AS DOUBLE) / CAST(tot.total_fix AS DOUBLE)
           AS value_share
FROM per CROSS JOIN tot
"""


def markov_next_event_accuracy_sql() -> str:
    return """
WITH base AS (
    SELECT user_id, event_id, event_type, epoch_us(ts) // 1000000 AS sec
    FROM events
),
bounds AS (SELECT (min(sec) + max(sec) + 1) // 2 AS split_sec FROM base),
trans AS (
    SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY sec, event_id)
               AS prev_type,
           event_type AS next_type,
           sec < b.split_sec AS is_train
    FROM base CROSS JOIN bounds b
),
t2 AS (SELECT * FROM trans WHERE prev_type IS NOT NULL),
model AS (
    SELECT prev_type, next_type AS predicted_type
    FROM (
        SELECT prev_type, next_type,
               row_number() OVER (PARTITION BY prev_type
                                  ORDER BY count(*) DESC, next_type ASC) AS rn
        FROM t2 WHERE is_train GROUP BY prev_type, next_type
    ) WHERE rn = 1
),
test AS (SELECT * FROM t2 WHERE NOT is_train)
SELECT t.prev_type,
       CAST(count(*) AS BIGINT) AS n_test,
       max(m.predicted_type) AS predicted_type,
       CAST(sum(CASE WHEN t.next_type = m.predicted_type THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       CAST(sum(CASE WHEN t.next_type = m.predicted_type THEN 1 ELSE 0 END)
            * 1000000 // count(*) AS BIGINT) AS acc_micro
FROM test t LEFT JOIN model m USING (prev_type)
GROUP BY 1
"""


# Last-touch attribution core (purchase -> latest prior non-purchase
# touch) — shared by attribution_last_touch_sql / conversion_lag_profile_sql.
_ATTRIBUTED_CTE = """
ev AS (
    SELECT user_id, epoch_us(ts) // 1000000 AS sec, event_type, event_id,
           CAST(floor(value * 1000000) AS BIGINT) AS value_fix
    FROM events
),
purchases AS (SELECT user_id, sec, event_id AS purchase_id, value_fix
              FROM ev WHERE event_type = 'purchase'),
touches AS (SELECT user_id, sec, event_type, event_id
            FROM ev WHERE event_type <> 'purchase'),
apairs AS (
    SELECT p.purchase_id, t.event_type, t.sec AS touch_sec,
           row_number() OVER (PARTITION BY p.purchase_id
                              ORDER BY t.sec DESC, t.event_id DESC) AS rn
    FROM purchases p JOIN touches t
      ON t.user_id = p.user_id AND t.sec <= p.sec
),
att AS (
    SELECT p.purchase_id, p.sec, p.value_fix,
           x.event_type AS asof_event_type, x.touch_sec
    FROM purchases p
    LEFT JOIN (SELECT * FROM apairs WHERE rn = 1) x USING (purchase_id)
)
"""


def conversion_lag_profile_sql() -> str:
    return f"""
WITH {_ATTRIBUTED_CTE},
lags AS (
    SELECT asof_event_type AS touch_type, sec - touch_sec AS lag_sec
    FROM att WHERE asof_event_type IS NOT NULL
),
per AS (
    SELECT touch_type, lag_sec, CAST(count(*) AS BIGINT) AS c
    FROM lags GROUP BY 1, 2
),
cum AS (
    SELECT touch_type, lag_sec,
           sum(c) OVER (PARTITION BY touch_type ORDER BY lag_sec
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(c) OVER (PARTITION BY touch_type) AS n,
           sum(c * lag_sec) OVER (PARTITION BY touch_type) AS lag_sum
    FROM per
)
SELECT touch_type,
       CAST(max(n) AS BIGINT) AS n_conversions,
       min(CASE WHEN 100 * cum >= 50 * n THEN lag_sec END) AS p50_lag_sec,
       min(CASE WHEN 100 * cum >= 95 * n THEN lag_sec END) AS p95_lag_sec,
       CAST(max(lag_sum) // max(n) AS BIGINT) AS mean_lag_sec
FROM cum
GROUP BY 1
"""


def quantization_error_report_sql() -> str:
    dot_pair = (
        "list_sum(list_transform(list_zip({a}, {b}), "
        "s -> CAST(floor(CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)*1000000000.0)"
        " AS BIGINT)))"
    )
    return f"""
WITH e AS (
    SELECT vec_id, label, embedding,
           list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
               AS maxabs
    FROM embeddings
),
r AS (
    SELECT vec_id, label, embedding, maxabs,
           CASE WHEN maxabs > 0 THEN
               list_transform(embedding,
                   x -> CAST(x AS DOUBLE)
                        - floor(CAST(x AS DOUBLE) * (127.0 / maxabs))
                          / (127.0 / maxabs))
           END AS resid
    FROM e
),
per AS (
    SELECT vec_id, label,
           CAST({dot_pair.format(a="embedding", b="embedding")} AS BIGINT)
               AS norm_fix,
           CAST(CASE WHEN maxabs > 0
                THEN {dot_pair.format(a="resid", b="resid")} END AS BIGINT)
               AS err_fix
    FROM r
),
scored AS (
    SELECT label,
           CASE WHEN norm_fix > 0 AND err_fix IS NOT NULL
                THEN CAST(err_fix * 1000000 // norm_fix AS BIGINT)
           END AS relerr_micro
    FROM per
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(count(relerr_micro) AS BIGINT) AS n_scored,
       CAST(sum(relerr_micro) // count(relerr_micro) AS BIGINT)
           AS mean_relerr_micro,
       CAST(max(relerr_micro) AS BIGINT) AS max_relerr_micro
FROM scored
GROUP BY 1
"""


def lsh_density_outliers_sql(
    tau: float = 0.2, min_pts: int = 2, bits: int | None = None, radius: int = 1
) -> str:
    """Mirrors dedup.lsh_density_outliers — the neardup probe join with
    vec_a <> vec_b (both directions), per-vec verified-neighbor counts;
    default ``bits=None`` is the adaptive corpus-sized dial. No
    DISTINCT: each ordered candidate pair matches exactly one probe."""
    if bits is None:
        assert radius == 1, "adaptive bits supports radius=1 only"
        head = f"""
WITH {_adaptive_sign_ctes()},
ap AS (
    SELECT vec_id AS vec_a, embedding AS emb_a,
           unnest({_VARIABLE_PROBES_SQL}) AS pbucket
    FROM e
),
cand AS (
    SELECT ap.vec_a, ap.emb_a, b.vec_id AS vec_b, b.embedding AS emb_b
    FROM ap JOIN e b ON ap.pbucket = b.bucket AND ap.vec_a <> b.vec_id
),"""
        return head + f"""
scored AS (
    SELECT vec_a, vec_b,
           {_DOT9_PAIR.format(a="emb_a", b="emb_b")} AS d_fix,
           {_DOT9_PAIR.format(a="emb_a", b="emb_a")} AS na_fix,
           {_DOT9_PAIR.format(a="emb_b", b="emb_b")} AS nb_fix
    FROM cand
),
counts AS (
    SELECT vec_a, CAST(count(*) AS BIGINT) AS n_neighbors
    FROM scored
    WHERE {_COS.format(d="d_fix", na="na_fix", nb="nb_fix")} >= {tau!r}
    GROUP BY 1
)
SELECT e.vec_id, e.label,
       CAST(COALESCE(c.n_neighbors, 0) AS BIGINT) AS n_neighbors,
       COALESCE(c.n_neighbors, 0) < {min_pts} AS is_outlier
FROM e LEFT JOIN counts c ON c.vec_a = e.vec_id
"""
    probes = ["bucket"] + [_flip_bit_sql("bucket", i) for i in range(bits)]
    if radius >= 2:
        probes += [
            _flip_bit_sql(f"({_flip_bit_sql('bucket', i)})", j)
            for i in range(bits)
            for j in range(i + 1, bits)
        ]
    probe_list = ", ".join(probes)
    return f"""
WITH e AS (SELECT vec_id, label, embedding, {_sign_bucket_sql(0, bits)} AS bucket FROM embeddings),
ap AS (
    SELECT vec_id AS vec_a, embedding AS emb_a,
           unnest([{probe_list}]) AS bucket
    FROM e
),
cand AS (
    SELECT ap.vec_a, ap.emb_a, b.vec_id AS vec_b, b.embedding AS emb_b
    FROM ap JOIN e b ON ap.bucket = b.bucket AND ap.vec_a <> b.vec_id
),
scored AS (
    SELECT vec_a, vec_b,
           {_DOT9_PAIR.format(a="emb_a", b="emb_b")} AS d_fix,
           {_DOT9_PAIR.format(a="emb_a", b="emb_a")} AS na_fix,
           {_DOT9_PAIR.format(a="emb_b", b="emb_b")} AS nb_fix
    FROM cand
),
counts AS (
    SELECT vec_a, CAST(count(*) AS BIGINT) AS n_neighbors
    FROM scored
    WHERE {_COS.format(d="d_fix", na="na_fix", nb="nb_fix")} >= {tau!r}
    GROUP BY 1
)
SELECT e.vec_id, e.label,
       CAST(COALESCE(c.n_neighbors, 0) AS BIGINT) AS n_neighbors,
       COALESCE(c.n_neighbors, 0) < {min_pts} AS is_outlier
FROM e LEFT JOIN counts c ON c.vec_a = e.vec_id
"""


def session_survival_curve_sql(gap_sec: int = 21_600) -> str:
    from via_spark.operators.windows import SURVIVAL_LADDER

    ladder = ", ".join(str(t) for t in SURVIVAL_LADDER)
    return f"""
WITH ev AS (
    SELECT user_id, event_id, epoch_us(ts) // 1000000 AS sec FROM events
),
marked AS (
    SELECT user_id, sec, event_id,
           CASE WHEN lag(sec) OVER w IS NULL
                  OR sec - lag(sec) OVER w > {gap_sec}
                THEN 1 ELSE 0 END AS is_new
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
),
sess AS (
    SELECT user_id,
           sum(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id,
           sec
    FROM marked
),
durs AS (
    SELECT max(sec) - min(sec) AS duration_sec
    FROM sess GROUP BY user_id, session_id
),
t AS (SELECT unnest([{ladder}]) AS t_sec)
SELECT CAST(t.t_sec AS BIGINT) AS t_sec,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(CASE WHEN d.duration_sec >= t.t_sec THEN 1 ELSE 0 END)
            AS BIGINT) AS n_surviving,
       CAST(sum(CASE WHEN d.duration_sec >= t.t_sec THEN 1 ELSE 0 END)
            * 1000000 // count(*) AS BIGINT) AS surv_micro
FROM durs d CROSS JOIN t
GROUP BY 1
"""


def good_turing_unseen_mass_sql() -> str:
    return r"""
WITH tok AS (
    SELECT source, unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                      x -> x <> '')) AS tok
    FROM documents
),
tc AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS vocab,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dis,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000 // sum(c)
            AS BIGINT) AS p_unseen_micro
FROM tc
GROUP BY 1
"""


def sorted_neighborhood_pairs_sql(w: int = 3, max_dist: int = 1) -> str:
    return f"""
WITH c AS (
    SELECT c_custkey, lower(c_name) AS name FROM customer
),
ranked AS (
    SELECT c_custkey, name,
           CAST(row_number() OVER (ORDER BY name, c_custkey) AS BIGINT) AS rn
    FROM c
),
offs AS (SELECT unnest(range(1, {w + 1})) AS off),
a AS (
    SELECT r.c_custkey AS key_a, r.name AS name_a, r.rn + o.off AS rn_b
    FROM ranked r CROSS JOIN offs o
)
SELECT a.key_a, b.c_custkey AS key_b, a.name_a, b.name AS name_b,
       CAST(levenshtein(a.name_a, b.name) AS INT) AS lev
FROM a JOIN ranked b ON b.rn = a.rn_b
WHERE levenshtein(a.name_a, b.name) <= {max_dist}
"""


def mann_whitney_drift_sql() -> str:
    return f"""
WITH {_EVENTS_SEC_CTE},
vv AS (SELECT * FROM esec WHERE value IS NOT NULL),
bounds AS (SELECT (min(sec) + max(sec) + 1) // 2 AS split_sec FROM vv),
steps AS (
    SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS v_fix,
           CAST(sum(CASE WHEN sec < b.split_sec THEN 1 ELSE 0 END) AS BIGINT) AS na_v,
           CAST(sum(CASE WHEN sec < b.split_sec THEN 0 ELSE 1 END) AS BIGINT) AS nb_v
    FROM vv CROSS JOIN bounds b
    GROUP BY 1, 2
),
cum AS (
    SELECT event_type, na_v, nb_v,
           COALESCE(sum(na_v + nb_v) OVER (
               PARTITION BY event_type ORDER BY v_fix
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
           sum(na_v) OVER (PARTITION BY event_type) AS n_a,
           sum(nb_v) OVER (PARTITION BY event_type) AS n_b
    FROM steps
)
SELECT event_type,
       CAST(max(n_a) AS BIGINT) AS n_a,
       CAST(max(n_b) AS BIGINT) AS n_b,
       CAST(CASE WHEN max(n_a) > 0 AND max(n_b) > 0 THEN
            sum(na_v * (2 * cum_before + (na_v + nb_v) + 1))
            - max(n_a) * (max(n_a) + 1)
       END AS BIGINT) AS u2,
       CAST(CASE WHEN max(n_a) > 0 AND max(n_b) > 0 THEN
            (2 * max(n_a) * max(n_b)
             - 2 * (sum(na_v * (2 * cum_before + (na_v + nb_v) + 1))
                    - max(n_a) * (max(n_a) + 1))) * 1000000
            // (2 * max(n_a) * max(n_b))
       END AS BIGINT) AS cliffs_delta_micro
FROM cum
GROUP BY 1
"""


def t_closeness_audit_sql(bucket: int = 500, t_micro: int = 250_000) -> str:
    return f"""
WITH d AS (
    SELECT lang, source, n_chars // {bucket} AS sens FROM documents
),
per AS (
    SELECT lang, source, sens, CAST(count(*) AS BIGINT) AS c_g
    FROM d GROUP BY 1, 2, 3
),
gdist AS (
    SELECT sens,
           CAST(sum(count(*)) OVER (ORDER BY sens
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
           CAST(sum(count(*)) OVER () AS BIGINT) AS n,
           CAST(count(*) OVER () AS BIGINT) AS m
    FROM d GROUP BY sens
),
groups AS (
    SELECT lang, source, CAST(sum(c_g) AS BIGINT) AS n_g FROM per GROUP BY 1, 2
),
grid AS (
    SELECT g.lang, g.source, g.n_g, gl.sens, gl.cum, gl.n, gl.m,
           CAST(COALESCE(p.c_g, 0) AS BIGINT) AS c_g
    FROM groups g CROSS JOIN gdist gl
    LEFT JOIN per p ON p.lang = g.lang AND p.source = g.source
                    AND p.sens = gl.sens
),
cum AS (
    SELECT lang, source, n_g, cum, n, m,
           sum(c_g) OVER (PARTITION BY lang, source ORDER BY sens
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_g
    FROM grid
),
agg AS (
    SELECT lang, source,
           CAST(max(n_g) AS BIGINT) AS group_size,
           CAST(CASE WHEN max(m) > 1 THEN
                sum(abs(cum_g * n - cum * n_g)) * 1000000
                // ((max(m) - 1) * max(n_g) * max(n))
           END AS BIGINT) AS emd_micro
    FROM cum GROUP BY 1, 2
)
SELECT lang, source, group_size, emd_micro,
       emd_micro > {t_micro} AS violates_t
FROM agg
"""


def surprisal_filter_yield_sql() -> str:
    from via_spark.operators.textstats import YIELD_BITS_LADDER

    ladder = ", ".join(str(t) for t in YIELD_BITS_LADDER)
    return f"""
WITH scores AS (SELECT * FROM ({unigram_surprisal_scores_sql()}) s),
t AS (SELECT unnest([{ladder}]) AS t_bits),
agg AS (
    SELECT t.t_bits,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(s.n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN s.surprisal_bits <= t.t_bits * s.n_tokens
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN s.surprisal_bits <= t.t_bits * s.n_tokens
                    THEN s.n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
    FROM scores s CROSS JOIN t
    GROUP BY 1
)
SELECT CAST(t_bits AS BIGINT) AS t_bits, n_docs, n_kept,
       CAST(n_kept * 1000000 // n_docs AS BIGINT) AS doc_share_micro,
       tokens_kept,
       CAST(tokens_kept * 1000000 // total_tokens AS BIGINT) AS token_share_micro
FROM agg
"""


def dup_cluster_size_histogram_sql() -> str:
    return f"""
WITH labels AS (SELECT * FROM ({dedup_clusters_sql()}) l),
per AS (
    SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_docs
    FROM labels GROUP BY 1
),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM per)
SELECT per.cluster_size,
       CAST(per.n_docs // per.cluster_size AS BIGINT) AS n_clusters,
       per.n_docs,
       CAST(per.n_docs * 1000000 // tot.n_total AS BIGINT) AS doc_share_micro
FROM per CROSS JOIN tot
"""


def semantic_contamination_sql(bench_max_id: int = 10, tau: float = 0.4) -> str:
    return f"""
WITH bench AS (
    SELECT vec_id AS bench_id, embedding AS b_emb
    FROM embeddings WHERE vec_id < {bench_max_id}
),
scored AS (
    SELECT e.vec_id, e.label, b.bench_id,
           {_DOT9_PAIR.format(a="e.embedding", b="b.b_emb")} AS d_fix,
           {_DOT9_PAIR.format(a="e.embedding", b="e.embedding")} AS na_fix,
           {_DOT9_PAIR.format(a="b.b_emb", b="b.b_emb")} AS nb_fix
    FROM embeddings e CROSS JOIN bench b
    WHERE e.vec_id >= {bench_max_id}
),
ranked AS (
    SELECT vec_id, label, bench_id,
           {_COS.format(d="d_fix", na="na_fix", nb="nb_fix")} AS cos,
           row_number() OVER (
               PARTITION BY vec_id
               ORDER BY {_COS.format(d="d_fix", na="na_fix", nb="nb_fix")} DESC,
                        bench_id ASC) AS rn
    FROM scored
)
SELECT vec_id, label, bench_id, cos AS best_cos, cos >= {tau!r} AS contaminated
FROM ranked WHERE rn = 1
"""


def forecast_baseline_backtest_sql() -> str:
    return f"""
WITH {_EVENTS_SEC_CTE},
{_DENSE_DAILY_CTE},
scored AS (
    SELECT event_type, cnt,
           lag(cnt, 1) OVER w AS prev1,
           lag(cnt, 7) OVER w AS prev7,
           first_value(cnt) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x0,
           CAST(row_number() OVER w - 1 AS BIGINT) AS t
    FROM dense
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
errs AS (
    SELECT event_type,
           abs(cnt - prev1) * 1000000 AS e_naive,
           abs(cnt - prev7) * 1000000 AS e_seasonal,
           abs(cnt * 1000000
               - (prev1 * 1000000 + (prev1 - x0) * 1000000 // (t - 1)))
               AS e_drift
    FROM scored WHERE t >= 7
),
agg AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_eval,
           CAST(sum(e_naive) // count(*) AS BIGINT) AS mae_naive_micro,
           CAST(sum(e_seasonal) // count(*) AS BIGINT) AS mae_seasonal_micro,
           CAST(sum(e_drift) // count(*) AS BIGINT) AS mae_drift_micro
    FROM errs GROUP BY 1
)
SELECT *,
       CASE WHEN mae_naive_micro <= mae_seasonal_micro
             AND mae_naive_micro <= mae_drift_micro THEN 'naive'
            WHEN mae_seasonal_micro <= mae_drift_micro THEN 'seasonal'
            ELSE 'drift' END AS best_method
FROM agg
"""


def attribution_linear_window_sql(window_sec: int = 86_400) -> str:
    return f"""
WITH ev AS (
    SELECT user_id, epoch_us(ts) // 1000000 AS sec, event_type, event_id,
           CAST(floor(value * 1000000) AS BIGINT) AS value_fix
    FROM events
),
purchases AS (
    SELECT user_id, sec AS p_sec, event_id AS purchase_id, value_fix
    FROM ev WHERE event_type = 'purchase'
),
touches AS (
    SELECT user_id, sec AS t_sec, event_type, event_id AS touch_id
    FROM ev WHERE event_type <> 'purchase'
),
pairs AS (
    SELECT p.purchase_id, p.value_fix, t.event_type, t.t_sec, t.touch_id
    FROM purchases p JOIN touches t
      ON t.user_id = p.user_id
     AND t.t_sec <= p.p_sec AND t.t_sec > p.p_sec - {window_sec}
),
credited AS (
    SELECT event_type,
           CAST(value_fix // count(*) OVER (PARTITION BY purchase_id)
                + CASE WHEN row_number() OVER (PARTITION BY purchase_id
                                ORDER BY t_sec DESC, touch_id DESC) = 1
                       THEN value_fix % count(*) OVER (PARTITION BY purchase_id)
                       ELSE 0 END AS BIGINT) AS credit_fix
    FROM pairs
),
unatt AS (
    SELECT CAST(NULL AS VARCHAR) AS event_type, p.value_fix AS credit_fix
    FROM purchases p
    WHERE NOT EXISTS (SELECT 1 FROM pairs x WHERE x.purchase_id = p.purchase_id)
),
per AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_credits,
           CAST(sum(credit_fix) AS BIGINT) AS credit_fix
    FROM (SELECT * FROM credited UNION ALL SELECT * FROM unatt)
    GROUP BY 1
),
tot AS (SELECT CAST(sum(credit_fix) AS BIGINT) AS total_fix FROM per)
SELECT per.event_type, per.n_credits, per.credit_fix,
       CAST(per.credit_fix AS DOUBLE) / CAST(tot.total_fix AS DOUBLE)
           AS credit_share
FROM per CROSS JOIN tot
"""


def runs_test_randomness_sql() -> str:
    return f"""
WITH {_EVENTS_SEC_CTE},
{_DENSE_DAILY_CTE},
med AS (
    SELECT event_type, cnt AS median_cnt
    FROM (
        SELECT event_type, cnt,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY cnt, day) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM dense
    ) WHERE rn = (n + 1) // 2
),
flagged AS (
    SELECT d.event_type,
           CASE WHEN d.cnt > m.median_cnt THEN 1 ELSE 0 END AS above,
           CASE WHEN lag(CASE WHEN d.cnt > m.median_cnt THEN 1 ELSE 0 END)
                     OVER w IS NULL
                  OR lag(CASE WHEN d.cnt > m.median_cnt THEN 1 ELSE 0 END)
                     OVER w <> CASE WHEN d.cnt > m.median_cnt THEN 1 ELSE 0 END
                THEN 1 ELSE 0 END AS new_run
    FROM dense d JOIN med m USING (event_type)
    WINDOW w AS (PARTITION BY d.event_type ORDER BY d.day)
)
SELECT event_type,
       CAST(sum(above) AS BIGINT) AS n_above,
       CAST(sum(1 - above) AS BIGINT) AS n_below,
       CAST(sum(new_run) AS BIGINT) AS n_runs,
       CAST(CASE WHEN sum(above) > 0 AND sum(1 - above) > 0 THEN
            1000000 + 2 * sum(above) * sum(1 - above) * 1000000
                      // (sum(above) + sum(1 - above))
       END AS BIGINT) AS expected_micro,
       CAST(CASE WHEN sum(above) > 0 AND sum(1 - above) > 0 THEN
            sum(new_run) * 1000000000000
            // (1000000 + 2 * sum(above) * sum(1 - above) * 1000000
                          // (sum(above) + sum(1 - above)))
       END AS BIGINT) AS ratio_micro
FROM flagged
GROUP BY 1
"""


def hhi_source_concentration_sql() -> str:
    return r"""
WITH d AS (
    SELECT source,
           CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS BIGINT) AS x
    FROM documents
),
per AS (SELECT source, CAST(sum(x) AS BIGINT) AS mass FROM d GROUP BY 1),
tot AS (SELECT CAST(sum(mass) AS BIGINT) AS total FROM per),
shares AS (
    SELECT per.source, per.mass,
           CAST(per.mass * 1000000 // tot.total AS BIGINT) AS share_micro
    FROM per CROSS JOIN tot
),
hhi AS (
    SELECT CAST(sum(share_micro * share_micro) // 1000000 AS BIGINT) AS hhi_micro,
           CAST(count(*) AS BIGINT) AS n_sources
    FROM shares
)
SELECT s.source, s.mass, s.share_micro, h.n_sources, h.hhi_micro
FROM shares s CROSS JOIN hhi h
"""


# ---------------------------------------------------------------------------
# Round-10 additions
# ---------------------------------------------------------------------------


def embedding_bucket_occupancy_sql() -> str:
    """Mirrors dedup.embedding_bucket_occupancy: adaptive (bucket, bits)
    attach, per-bucket occupancy, occupancy histogram."""
    return f"""
WITH {_adaptive_sign_ctes()},
per_bucket AS (
    SELECT bits, bucket, count(*) AS occupancy FROM e GROUP BY 1, 2
)
SELECT CAST(bits AS INTEGER) AS bits,
       CAST(occupancy AS BIGINT) AS occupancy,
       CAST(count(*) AS BIGINT) AS n_buckets
FROM per_bucket
GROUP BY bits, occupancy
"""


def neardup_lsh_recall_report_sql(
    threshold: float = 0.4, sample_n: int = 200
) -> str:
    """Mirrors dedup.neardup_lsh_recall_report: exact sample x corpus
    ground-truth pairs vs the adaptive LSH pair query restricted to the
    sample; one summary row."""
    from via_spark.operators.dedup import (
        MAX_SIGN_BITS,
        MIN_SIGN_BITS,
        SIGN_TARGET_OCCUPANCY,
    )

    return f"""
WITH lsh AS (
{neardup_embedding_pairs_sql(threshold)}
),
s AS (SELECT vec_id AS s_id, embedding AS s_emb FROM embeddings
      WHERE vec_id < {sample_n}),
truth AS (
    SELECT DISTINCT least(s.s_id, v.vec_id) AS vec_a,
                    greatest(s.s_id, v.vec_id) AS vec_b
    FROM embeddings v CROSS JOIN s
    WHERE v.vec_id <> s.s_id
      AND {_COS.format(
          d=_DOT9_PAIR.format(a="s.s_emb", b="v.embedding"),
          na=_DOT9_PAIR.format(a="s.s_emb", b="s.s_emb"),
          nb=_DOT9_PAIR.format(a="v.embedding", b="v.embedding"),
      )} >= {threshold!r}
),
hit AS (
    SELECT t.* FROM truth t
    JOIN (SELECT vec_a, vec_b FROM lsh
          WHERE vec_a < {sample_n} OR vec_b < {sample_n}) l
      USING (vec_a, vec_b)
),
nb AS (
    SELECT CAST(least({MAX_SIGN_BITS}, greatest({MIN_SIGN_BITS},
           length(bin(greatest(count(*) // {SIGN_TARGET_OCCUPANCY}, 1)))))
           AS INT) AS bits
    FROM embeddings
),
counts AS (
    SELECT (SELECT count(*) FROM truth) AS n_sample_pairs,
           (SELECT count(*) FROM hit) AS n_hit
)
SELECT CAST(nb.bits AS INTEGER) AS bits,
       CAST(n_sample_pairs AS BIGINT) AS n_sample_pairs,
       CAST(n_hit AS BIGINT) AS n_hit,
       CAST(CASE WHEN n_sample_pairs > 0
            THEN n_hit * 1000000 // n_sample_pairs END AS BIGINT)
           AS recall_micro
FROM counts, nb
"""


def clusters_windowed_tolerant_sql() -> str:
    """Mirrors forensic.clusters_windowed_tolerant: on a HEALTHY store
    the tolerant read is value-identical to the strict windowed scan,
    so the oracle is shared — the skip semantics under a corrupt day
    partition are proven by the planted test (tests/test_operator_models.py),
    which DuckDB cannot express."""
    return forensic_clusters_windowed_sql()


def _bm25_body_ctes(terms, src: str = "filtered") -> str:
    """BM25 CTEs over cluster BODIES (the tier2 ``bm25_vector`` leg) —
    same k1/b/IDF/fixed-point pinning as _bm25_scored_cte, keyed by
    rhythm_hash over ``src`` instead of doc_id over documents."""
    tf_cols = ",\n           ".join(
        f"len(list_filter(btoks, x -> x = '{t}')) AS tf_{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n           ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms))
    )
    k1, k1p1, one_minus_b, b = 1.2, 2.2, 0.25, 0.75
    terms_fix = "\n         + ".join(
        f"CAST(floor((floor(ln(1 + (n_docs - df_{i} + 0.5)/(df_{i} + 0.5)) * 1000000.0)/1000000.0)"
        f" * (tf_{i} * {k1p1!r}) / (tf_{i} + {k1!r} * ({one_minus_b!r} + {b!r} * dl / (CAST(sum_dl AS DOUBLE)/n_docs)))"
        f" * 1000000000.0) AS BIGINT)"
        for i in range(len(terms))
    )
    return f"""
btok AS (
    SELECT rhythm_hash,
           list_filter(string_split_regex(lower(body), '\\s+'),
                       x -> x <> '') AS btoks
    FROM {src}
),
bdd AS (
    SELECT rhythm_hash, len(btoks) AS dl,
           {tf_cols}
    FROM btok
),
bstats AS (
    SELECT count(*) AS n_docs, SUM(dl) AS sum_dl,
           {df_cols}
    FROM bdd
),
bscored AS (
    SELECT rhythm_hash,
           {terms_fix} AS score_fix
    FROM bdd, bstats
)"""


def hybrid_tier2_search_sql(
    text: str = "error", k: int = 50, cut_n: int = 100
) -> str:
    """Mirrors forensic.hybrid_tier2_search: text filter -> dense
    (hashing-trick cosine) + sparse (BM25 over body) cuts -> RRF."""
    terms = [t for t in text.lower().split() if t]
    term_preds = " AND ".join(
        f"list_contains(list_filter(string_split_regex(lower(body), '\\s+'), x -> x <> ''), '{t}')"
        for t in terms
    )
    return (
        _tier2_clusters_chain()
        + f""", filtered AS (SELECT * FROM clusters WHERE {term_preds}),
{_QVEC_CTE.format(text=text, dim=_DIM.format(t='t'))},
{_cemb_cte('filtered').strip()},
dots AS (
    SELECT rhythm_hash, SUM(w*qw) AS dot
    FROM cemb JOIN qvec USING (dim) GROUP BY rhythm_hash
),
dense0 AS (
    SELECT f.rhythm_hash, d.dot, n.n2, q.qn2
    FROM filtered f
    LEFT JOIN dots d USING (rhythm_hash)
    JOIN cnorm n USING (rhythm_hash), qn q
),
dense AS (
    SELECT rhythm_hash, {_SCORE} AS dense_score FROM dense0
),
{_bm25_body_ctes(terms).strip()},
dense_cut AS (
    SELECT rhythm_hash,
           row_number() OVER (ORDER BY dense_score DESC, rhythm_hash ASC)
               AS rank_dense
    FROM dense ORDER BY dense_score DESC, rhythm_hash ASC LIMIT {cut_n}
),
sparse_cut AS (
    SELECT rhythm_hash,
           row_number() OVER (ORDER BY score_fix DESC, rhythm_hash ASC)
               AS rank_sparse
    FROM bscored ORDER BY score_fix DESC, rhythm_hash ASC LIMIT {cut_n}
),
fused AS (
    SELECT rhythm_hash,
           CAST(rank_dense AS INTEGER) AS rank_dense,
           CAST(rank_sparse AS INTEGER) AS rank_sparse,
           COALESCE(1.0/(60 + rank_dense), CAST(0.0 AS DOUBLE))
           + COALESCE(1.0/(60 + rank_sparse), CAST(0.0 AS DOUBLE)) AS rrf
    FROM dense_cut FULL OUTER JOIN sparse_cut USING (rhythm_hash)
)
SELECT f2.rhythm_hash AS cluster_id, rank_dense, rank_sparse, rrf,
       f2."count" AS incident_count, f2.service, f2.severity,
       f2.anomaly_type, f2.body
FROM fused JOIN filtered f2 USING (rhythm_hash)
ORDER BY rrf DESC, cluster_id ASC LIMIT {k}
"""
    )


def dedup_threshold_sweep_sql() -> str:
    """Mirrors dedup.dedup_threshold_sweep: the 0.2-cut MinHash verify
    chain, then a 7-way conditional count per threshold_pct."""
    from via_spark.operators.dedup import SWEEP_THRESHOLDS

    pcts = ", ".join(str(p) for p in SWEEP_THRESHOLDS)
    return f"""
WITH pairs AS (
{dedup_minhash_pairs_sql(0.2)}
),
sweep AS (SELECT unnest([{pcts}]) AS threshold_pct)
SELECT CAST(s.threshold_pct AS INTEGER) AS threshold_pct,
       CAST(SUM(CASE WHEN p.jaccard >= s.threshold_pct / 100.0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
FROM sweep s CROSS JOIN pairs p
GROUP BY s.threshold_pct
"""


def simhash_bit_balance_report_sql() -> str:
    """Mirrors textstats.simhash_bit_balance_report via the simhash
    oracle's vote CTEs: bit b of a doc's fingerprint is 1 iff its vote
    sum is >= 0."""
    return f"""
WITH {DOC_TOKS_CTE},
tok AS (SELECT doc_id, unnest(toks) AS t FROM dtok WHERE len(toks) > 0),
th AS (SELECT doc_id, substr(sha256(t), 1, 16) AS h FROM tok),
votes AS (
    SELECT doc_id, r.b,
           SUM((((strpos('0123456789abcdef', substr(h, (r.b // 4) + 1, 1)) - 1)
                 >> (r.b % 4)) & 1) * 2 - 1) AS v
    FROM th, range(64) r(b) GROUP BY doc_id, r.b
)
SELECT CAST(b AS INTEGER) AS bit,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN v >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ones,
       CAST(SUM(CASE WHEN v >= 0 THEN 1 ELSE 0 END) * 1000000 // count(*)
            AS BIGINT) AS ones_micro
FROM votes
GROUP BY b
"""


def stopword_coverage_by_source_sql() -> str:
    """Mirrors textstats.stopword_coverage_by_source (en stopword set
    imported from the engine)."""
    from via_spark.operators.textstats import STOPWORDS

    stop = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return rf"""
WITH d AS (
    SELECT source,
           list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')
               AS toks
    FROM documents
),
per AS (
    SELECT source,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(toks, t -> t IN ({stop}))) AS BIGINT) AS n_stop
    FROM d
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(n_stop) AS BIGINT) AS n_stop,
       CAST(CASE WHEN SUM(n_tokens) > 0
            THEN SUM(n_stop) * 1000000 // SUM(n_tokens) END AS BIGINT)
           AS stop_micro
FROM per
GROUP BY source
"""


# ---------------------------------------------------------------------------
# Staged r10 batch 4 oracles
# ---------------------------------------------------------------------------


def neardup_source_flow_matrix_sql(threshold: float = 0.5) -> str:
    """Mirrors dedup.neardup_source_flow_matrix: verified MinHash pairs
    labeled with both endpoints' sources, canonicalized, counted."""
    return f"""
WITH pairs AS (
{dedup_minhash_pairs_sql(threshold)}
),
lab AS (
    SELECT least(sa.source, sb.source) AS src_a,
           greatest(sa.source, sb.source) AS src_b
    FROM pairs p
    JOIN documents sa ON sa.doc_id = p.doc_a
    JOIN documents sb ON sb.doc_id = p.doc_b
),
counts AS (
    SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs
    FROM lab GROUP BY src_a, src_b
)
SELECT src_a, src_b, n_pairs,
       n_pairs * 1000000 // CAST(sum(n_pairs) OVER () AS BIGINT) AS share_micro
FROM counts
"""


def simhash_graph_triangles_sql(max_hamming: int = 3) -> str:
    """Mirrors graph.simhash_graph_triangles: degree-ordered oriented
    wedge join over the simhash pair graph, each triangle once."""
    return f"""
WITH pairs AS (
{dedup_simhash_pairs_sql(max_hamming)}
),
edges AS (SELECT doc_a, doc_b FROM pairs),
deg AS (
    SELECT v, CAST(count(*) AS BIGINT) AS deg
    FROM (SELECT doc_a AS v FROM edges UNION ALL SELECT doc_b FROM edges)
    GROUP BY v
),
rk AS (SELECT v, deg * 1099511627776 + v AS rk FROM deg),
lab AS (
    SELECT e.doc_a, e.doc_b, ra.rk AS rk_a, rb.rk AS rk_b
    FROM edges e JOIN rk ra ON ra.v = e.doc_a JOIN rk rb ON rb.v = e.doc_b
),
o AS (
    SELECT CASE WHEN rk_a < rk_b THEN doc_a ELSE doc_b END AS src,
           CASE WHEN rk_a < rk_b THEN doc_b ELSE doc_a END AS dst,
           greatest(rk_a, rk_b) AS rk_dst
    FROM lab
),
tri AS (
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM o o1
    JOIN o o2 ON o1.src = o2.src AND o1.rk_dst < o2.rk_dst
    JOIN o o3 ON o3.src = o1.dst AND o3.dst = o2.dst
),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
    FROM deg
),
ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       CASE WHEN n_wedges = 0 THEN 0
            ELSE 3 * n_triangles * 1000000 // n_wedges END AS clustering_fix
FROM agg, ne, tri
"""


def term_burstiness_report_sql(k: int = 50, min_df: int = 5) -> str:
    """Mirrors textstats.term_burstiness_report (cf/df, Church-Gale)."""
    return f"""
WITH {DOC_TOKS_CTE.strip()},
tok AS (SELECT doc_id, unnest(toks) AS t FROM dtok),
tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY doc_id, t),
stats AS (
    SELECT t AS term, CAST(count(*) AS BIGINT) AS df,
           CAST(sum(tf) AS BIGINT) AS cf
    FROM tf GROUP BY t
)
SELECT term, df, cf, cf * 1000000 // df AS burstiness_micro
FROM stats WHERE df >= {min_df}
ORDER BY burstiness_micro DESC, term ASC LIMIT {k}
"""


def zipf_slope_by_source_sql(v: int = 100) -> str:
    """Mirrors textstats.zipf_slope_by_source: grid-floored ln OLS over
    each source's top-v rank-frequency points."""
    return f"""
WITH {DOC_TOKS_CTE.strip()},
tok AS (SELECT source, unnest(toks) AS t FROM dtok),
freq AS (SELECT source, t, count(*) AS cf FROM tok GROUP BY source, t),
ranked AS (
    SELECT source, cf,
           row_number() OVER (PARTITION BY source ORDER BY cf DESC, t ASC) AS r
    FROM freq
),
pts AS (
    SELECT source,
           CAST(floor(ln(r) * 1000000) AS BIGINT) AS x,
           CAST(floor(ln(cf) * 1000000) AS BIGINT) AS y
    FROM ranked WHERE r <= {v}
),
agg AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
    FROM pts GROUP BY source
)
SELECT source, n AS n_terms,
       CASE WHEN n * sxx - sx * sx <> 0
            THEN CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
       END AS zipf_slope
FROM agg
"""


def kneser_ney_bigram_report_sql(k: int = 50) -> str:
    """Mirrors textstats.kneser_ney_bigram_report: d=3/4 carried as
    quarters, every term truncating BIGINT arithmetic."""
    return f"""
WITH {DOC_TOKS_CTE.strip()},
dt2 AS (SELECT toks AS t FROM dtok WHERE len(toks) >= 2),
bg AS (
    SELECT t[i] AS w1, t[i + 1] AS w2
    FROM dt2, unnest(range(1, len(t))) AS u(i)
),
cnt AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY w1, w2),
ctx AS (
    SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
           CAST(count(*) AS BIGINT) AS n1p_fwd
    FROM cnt GROUP BY w1
),
cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p_bwd FROM cnt GROUP BY w2),
types AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM cnt)
SELECT cnt.w1, cnt.w2, cnt.c12,
       greatest(4 * cnt.c12 - 3, 0) * 1000000 // (4 * ctx.c1)
       + (3 * ctx.n1p_fwd * (cont.n1p_bwd * 1000000 // types.n_types))
         // (4 * ctx.c1) AS p_kn_micro
FROM cnt JOIN ctx USING (w1) JOIN cont USING (w2), types
ORDER BY cnt.c12 DESC, cnt.w1 ASC, cnt.w2 ASC LIMIT {k}
"""


def winnowing_fingerprint_stats_sql() -> str:
    """Mirrors textstats.winnowing_fingerprint_stats (k=4 token grams,
    w=4 windows, rightmost-min tie via the packed BIGINT)."""
    return f"""
WITH {DOC_TOKS_CTE.strip()},
docs2 AS (SELECT doc_id, source, toks AS t FROM dtok WHERE len(toks) >= 7),
grams AS (
    SELECT doc_id, source, i - 1 AS pos,
           t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS gram
    FROM docs2, unnest(range(1, len(t) - 2)) AS u(i)
),
packed AS (
    SELECT doc_id, source, pos,
           ('0x' || substr(sha256(gram), 1, 10))::BIGINT * 1048576
           + (1048575 - pos) AS pack
    FROM grams
),
sel AS (
    SELECT doc_id, source, pos,
           min(pack) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS winmin
    FROM packed
),
perdoc AS (
    SELECT doc_id, source,
           CAST(count(DISTINCT winmin) AS BIGINT) AS n_sel,
           CAST(max(pos) + 1 AS BIGINT) AS n_grams
    FROM sel WHERE pos >= 3 GROUP BY doc_id, source
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_grams) AS BIGINT) AS n_grams,
       CAST(sum(n_sel) AS BIGINT) AS n_selected,
       CAST(sum(n_sel) AS BIGINT) * 1000000
       // CAST(sum(n_grams) AS BIGINT) AS density_micro
FROM perdoc GROUP BY source
"""


def growth_accounting_daily_sql() -> str:
    """Mirrors timeseries.growth_accounting_daily (distinct (day,user),
    min/lag/lead per user, day-keyed state counts)."""
    return """
WITH du AS (
    SELECT DISTINCT epoch_us(ts) // 1000000 // 86400 AS day, user_id
    FROM events
),
lab AS (
    SELECT day, user_id,
           min(day) OVER (PARTITION BY user_id) AS first_day,
           lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day,
           lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
    FROM du
)
SELECT day,
       CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(sum(CASE WHEN day <> first_day AND prev_day = day - 1
                THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
       CAST(sum(CASE WHEN day <> first_day AND prev_day < day - 1
                THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
       CAST(sum(CASE WHEN next_day IS NULL OR next_day > day + 1
                THEN 1 ELSE 0 END) AS BIGINT) AS n_churning
FROM lab GROUP BY day
"""


def asof_nearest_event_sql(tolerance_sec: int = 3600) -> str:
    """Mirrors asof.asof_nearest_event: per purchase, the user's
    nearest non-purchase either direction, ties to backward. The two
    IGNORE NULLS carries share one CASE condition, so both fields come
    from the same neighboring row."""
    return f"""
WITH ev AS (
    SELECT event_id, user_id, epoch_us(ts) // 1000000 AS sec, event_type
    FROM events
),
carried AS (
    SELECT event_id, sec, event_type,
           last_value(CASE WHEN event_type <> 'purchase' THEN sec END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY sec, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_sec,
           last_value(CASE WHEN event_type <> 'purchase' THEN event_id END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY sec, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_id,
           first_value(CASE WHEN event_type <> 'purchase' THEN sec END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY sec, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_sec,
           first_value(CASE WHEN event_type <> 'purchase' THEN event_id END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY sec, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_id
    FROM ev
),
picked AS (
    SELECT event_id,
           CASE WHEN prev_sec IS NOT NULL
                     AND (next_sec IS NULL OR sec - prev_sec <= next_sec - sec)
                THEN prev_id ELSE next_id END AS nearest_event_id,
           CAST(CASE WHEN prev_sec IS NOT NULL
                     AND (next_sec IS NULL OR sec - prev_sec <= next_sec - sec)
                THEN sec - prev_sec ELSE next_sec - sec END AS BIGINT) AS gap_sec,
           CASE WHEN prev_sec IS NOT NULL
                     AND (next_sec IS NULL OR sec - prev_sec <= next_sec - sec)
                THEN 'backward' ELSE 'forward' END AS direction
    FROM carried WHERE event_type = 'purchase'
)
SELECT * FROM picked WHERE gap_sec <= {tolerance_sec}
"""


def decile_lift_table_sql(tiles: int = 10) -> str:
    """Mirrors rank.decile_lift_table (floor-formula binning on the
    exact global rank — NOT ntile)."""
    return f"""
WITH totals AS (
    SELECT user_id,
           CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS v_fix
    FROM events GROUP BY user_id
),
ranked AS (
    SELECT v_fix,
           row_number() OVER (ORDER BY v_fix DESC, user_id ASC) AS rn,
           count(*) OVER () AS n
    FROM totals
),
per AS (
    -- money sums ride HUGEINT (Spark mirror: decimal(38,0)) — the
    -- cumulative * 1e6 overflows BIGINT at 10x fixture data
    SELECT CAST((rn - 1) * {tiles} // n + 1 AS INT) AS decile,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(v_fix) AS HUGEINT) AS sum_dec
    FROM ranked GROUP BY 1
),
tot AS (SELECT CAST(sum(sum_dec) AS HUGEINT) AS total_dec FROM per),
cum AS (
    SELECT decile, n_users, sum_dec,
           CAST(sum_dec * 1000000 // total_dec AS BIGINT) AS share_micro,
           CAST(CAST(sum(sum_dec) OVER (ORDER BY decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
           * 1000000 // total_dec AS BIGINT) AS cum_share_micro
    FROM per, tot
)
SELECT decile, n_users, CAST(sum_dec AS BIGINT) AS sum_v_fix,
       share_micro, cum_share_micro,
       cum_share_micro * {tiles} // decile AS lift_micro
FROM cum
"""


def collocation_pmi_report_sql(k: int = 50, min_count: int = 5) -> str:
    """Mirrors textstats.collocation_pmi_report (Church-Hanks PMI,
    grid-floored single ln, frequency floor)."""
    return f"""
WITH {DOC_TOKS_CTE.strip()},
dt2 AS (SELECT toks AS t FROM dtok WHERE len(toks) >= 2),
bg AS (
    SELECT t[i] AS w1, t[i + 1] AS w2
    FROM dt2, unnest(range(1, len(t))) AS u(i)
),
cnt AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY w1, w2),
lft AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c_left FROM cnt GROUP BY w1),
rgt AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c_right FROM cnt GROUP BY w2),
tot AS (SELECT CAST(sum(c12) AS BIGINT) AS n_bigrams FROM cnt)
SELECT cnt.w1, cnt.w2, cnt.c12,
       CAST(floor(ln(CAST(cnt.c12 AS DOUBLE) * CAST(n_bigrams AS DOUBLE)
            / (CAST(c_left AS DOUBLE) * CAST(c_right AS DOUBLE)))
            * 1000000) AS BIGINT) AS pmi_micro
FROM cnt JOIN lft USING (w1) JOIN rgt USING (w2), tot
WHERE cnt.c12 >= {min_count}
ORDER BY pmi_micro DESC, cnt.w1 ASC, cnt.w2 ASC LIMIT {k}
"""


def type_hour_mutual_information_sql() -> str:
    """Mirrors timeseries.type_hour_mutual_information (grid-floored
    per-cell ln, N-weighted BIGINT sums, one truncating division)."""
    return """
WITH cells AS (
    SELECT event_type,
           CAST((epoch_us(ts) // 1000000 // 3600) % 24 AS INT) AS hour,
           CAST(count(*) AS BIGINT) AS c_xy
    FROM events GROUP BY event_type, hour
),
mx AS (SELECT event_type, CAST(sum(c_xy) AS BIGINT) AS c_x FROM cells GROUP BY event_type),
my AS (SELECT hour, CAST(sum(c_xy) AS BIGINT) AS c_y FROM cells GROUP BY hour),
tot AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_events FROM cells),
terms AS (
    SELECT c.c_xy * CAST(floor(ln(CAST(c.c_xy AS DOUBLE) * CAST(n_events AS DOUBLE)
               / (CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE))) * 1000000) AS BIGINT) AS term,
           c.event_type, c.hour
    FROM cells c JOIN mx USING (event_type) JOIN my USING (hour), tot
),
hx AS (
    SELECT CAST(sum(c_x * CAST(floor(ln(CAST(n_events AS DOUBLE)
               / CAST(c_x AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT) AS hx_sum
    FROM mx, tot
),
hy AS (
    SELECT CAST(sum(c_y * CAST(floor(ln(CAST(n_events AS DOUBLE)
               / CAST(c_y AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT) AS hy_sum
    FROM my, tot
),
agg AS (
    SELECT CAST(sum(term) AS BIGINT) AS mi_sum,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(count(DISTINCT hour) AS BIGINT) AS n_hours
    FROM terms
)
SELECT n_events, n_types, n_hours, n_cells,
       mi_sum // n_events AS mi_micro,
       hx_sum // n_events AS h_type_micro,
       hy_sum // n_events AS h_hour_micro
FROM agg, tot, hx, hy
"""


def positional_template_entropy_sql(positions: int = 10) -> str:
    """Mirrors textstats.positional_template_entropy (grid-floored
    per-count ln, BIGINT sums, truncating division)."""
    return f"""
WITH {DOC_TOKS_CTE.strip()},
head AS (
    SELECT source, i - 1 AS pos, toks[i] AS tok
    FROM dtok, unnest(range(1, least(len(toks), {positions}) + 1)) AS u(i)
),
counts AS (
    SELECT source, pos, tok, CAST(count(*) AS BIGINT) AS c
    FROM head GROUP BY source, pos, tok
),
per_pos AS (
    SELECT source, pos,
           CAST(sum(c) AS BIGINT) AS n_p,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT))
                AS BIGINT) AS clc_sum
    FROM counts GROUP BY source, pos
)
SELECT source, CAST(pos AS INT) AS pos, n_p AS n_docs, n_distinct,
       CAST(floor(ln(CAST(n_p AS DOUBLE)) * 1000000) AS BIGINT)
       - clc_sum // n_p AS entropy_micro
FROM per_pos
"""
