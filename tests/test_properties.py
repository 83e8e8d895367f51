"""Model-based property tests (hypothesis): the Spark detection plan
must agree with an independent pure-Python reference model on random
inputs — beyond the reference's test strategy (SURVEY.md §5.4 notes it
has no property tests).

The model reimplements the flagship semantics from the spec (novelty:
absent from baseline AND count >= 2; frequency: count > mean + 2.5*std
with duration-normalized stats) with none of the Spark machinery, so a
shared bug would have to be written twice independently.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from via_spark.operators import rhythm

WINDOW = 100

# random event streams: (ts, hash_id) with ts in [0, 400); the recent
# window is [300, 400) given now=399
EVENTS = st.lists(
    st.tuples(st.integers(min_value=0, max_value=399), st.integers(min_value=0, max_value=5)),
    min_size=1,
    max_size=60,
)


def _model(events, now, window_sec, sample_size=10_000,
           novelty_min=2, freq_min=3, std_factor=2.5):
    """Pure-Python re-implementation of the detection spec."""
    recent = [(ts, h) for ts, h in events if now - window_sec <= ts <= now]
    hist = sorted(
        [(ts, h, i) for i, (ts, h) in enumerate(events) if ts < now - window_sec],
        key=lambda x: (-x[0], -x[2]),
    )[:sample_size]
    stats = {}
    if len(hist) >= 2:
        newest, oldest = max(t for t, _, _ in hist), min(t for t, _, _ in hist)
        scale = window_sec / max(1, newest - oldest)
        counts = {}
        for _, h, _ in hist:
            counts[h] = counts.get(h, 0) + 1
        for h, c in counts.items():
            mean = c * scale
            stats[h] = (mean, max(1.5, math.sqrt(mean)))
    rcounts = {}
    for _, h in recent:
        rcounts[h] = rcounts.get(h, 0) + 1
    out = {}
    for h, c in rcounts.items():
        if h not in stats:
            if c >= novelty_min:
                out[h] = ("novelty", c)
        else:
            mean, std = stats[h]
            if c > mean + std * std_factor and c >= freq_min:
                out[h] = ("frequency", c)
    return out


@pytest.mark.usefixtures("spark")
@given(events=EVENTS)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_detection_matches_python_model(spark, events):
    now = 399
    rows = [(i, int(ts), f"svc_{h}", "INFO", f"body {h}") for i, (ts, h) in enumerate(events)]
    tier1 = spark.createDataFrame(
        rows, "event_id long, ts long, service string, severity string, body string"
    )
    from via_spark.functions.text import rhythm_hash, template
    from pyspark.sql import functions as F

    tier1 = tier1.withColumn("template", template(F.col("body"))).withColumn(
        "rhythm_hash", rhythm_hash("service", "severity", F.col("template"))
    )
    got = {
        r["rhythm_hash"]: (r["anomaly_type"], r["r_count"])
        for r in rhythm.find_rhythm_anomalies(
            spark, sf_dir="", tier1=tier1, now=now, window_sec=WINDOW
        ).collect()
    }
    # model keys are small hash ids; map through the real hash function
    hash_of = {
        int(row["service"].split("_")[1]): row["rhythm_hash"]
        for row in tier1.select("service", "rhythm_hash").distinct().collect()
    }
    expect = {hash_of[h]: v for h, v in _model(events, now, WINDOW).items()}
    assert got == expect


RANK_ROWS = st.lists(
    st.tuples(st.integers(min_value=0, max_value=30), st.integers(min_value=0, max_value=10**6)),
    min_size=0, max_size=40, unique_by=lambda t: t[1],
)


@pytest.mark.usefixtures("spark")
@given(rows=RANK_ROWS)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_global_row_number_matches_sorted_index(spark, rows):
    """rank.global_row_number (range partition + offsets) must equal the
    plain sorted index for any input, including empty, ties in the
    score column, and fewer rows than partitions."""
    from pyspark.sql import functions as F

    from via_spark.operators.rank import global_row_number

    df = spark.createDataFrame(rows, "score int, id long") if rows else (
        spark.createDataFrame([], "score int, id long")
    )
    got = {
        r["id"]: r["rank"]
        for r in global_row_number(
            df, [F.col("score").desc(), F.col("id").asc()], "rank"
        ).collect()
    }
    expect = {
        rid: i + 1
        for i, (_, rid) in enumerate(
            sorted(rows, key=lambda t: (-t[0], t[1]))
        )
    }
    assert got == expect


EDGE_SETS = st.lists(
    st.tuples(st.integers(min_value=0, max_value=12), st.integers(min_value=0, max_value=12)),
    min_size=0, max_size=15,
)


@pytest.mark.usefixtures("spark")
@given(edges=EDGE_SETS)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_connected_components_matches_union_find(spark, edges):
    """graph.connected_components must agree with a pure-Python
    union-find on random graphs (self-loops and duplicates included)."""
    from via_spark.operators.graph import connected_components

    n = 13
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {i: find(i) for i in range(n)}

    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    e = spark.createDataFrame(edges, "src long, dst long") if edges else (
        spark.createDataFrame([], "src long, dst long")
    )
    got = {
        r["id"]: r["component"] for r in connected_components(verts, e).collect()
    }
    assert got == expect


@given(
    bucket=st.integers(min_value=0, max_value=255),
    radius=st.integers(min_value=0, max_value=2),
)
@settings(max_examples=40, deadline=None)
def test_probe_buckets_cover_exact_hamming_ball(spark, bucket, radius):
    """Multi-probe LSH probes = EXACTLY the Hamming ball: every bucket
    within `radius` bit flips, no duplicates, nothing outside."""
    from pyspark.sql import functions as F

    from via_spark.operators.dedup import probe_buckets

    bits = 8
    key = format(bucket, f"0{bits}b")
    got = (
        spark.range(1)
        .select(probe_buckets(F.lit(key), bits=bits, radius=radius).alias("p"))
        .collect()[0]["p"]
    )
    ball = {
        format(bucket ^ m, f"0{bits}b")
        for m in range(256)
        if bin(m).count("1") <= radius
    }
    assert len(got) == len(set(got)), "duplicate probes"
    assert set(got) == ball


def test_hamming_keys_sql_twin_equality(spark):
    """_hb_keys_sql / _canonical_sid_sql (F.expr build-time twins) must
    equal the Column forms bit-for-bit, including bit-63 fingerprints."""
    from pyspark.sql import functions as F

    from via_spark.operators.dedup import (
        _canonical_sid,
        _canonical_sid_sql,
        hamming_block_keys,
        _hb_keys_sql,
    )

    import random

    rng = random.Random(3)
    vals = [0, -1, 1 << 62, -(1 << 63)] + [
        rng.getrandbits(64) - (1 << 63) for _ in range(40)
    ]
    df = spark.createDataFrame([(v,) for v in vals], "h long")
    keys = df.select(
        hamming_block_keys(F.col("h")).alias("col_form"),
        F.expr(_hb_keys_sql("h")).alias("sql_form"),
    )
    for r in keys.collect():
        assert r["col_form"] == r["sql_form"]
    pairs = df.selectExpr("h AS x").crossJoin(df.selectExpr("h AS y"))
    sids = pairs.select(
        _canonical_sid(F.col("x").bitwiseXOR(F.col("y"))).alias("col_form"),
        F.expr(_canonical_sid_sql("x ^ y")).alias("sql_form"),
    )
    for r in sids.collect():
        assert r["col_form"] == r["sql_form"]


_HP_CASE = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=(1 << 64) - 1),   # base fingerprint
        st.lists(st.integers(min_value=0, max_value=63),      # bits to flip
                 min_size=0, max_size=4),
    ),
    min_size=1, max_size=10,
)


@pytest.mark.usefixtures("spark")
@given(case=_HP_CASE)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_hamming_pairs_exactly_once(spark, case):
    """hamming_pairs_over emits every Hamming-≤3 pair EXACTLY once —
    the canonical-triple filter (r12) must neither drop a pair (the
    ≤3 completeness guarantee) nor emit duplicates (the old
    dropDuplicates is gone). Each base fingerprint appears twice
    (identical pair → all 20 triples intact → worst duplication case)
    plus one flipped neighbor spanning block boundaries / bit 63."""
    from via_spark.operators.dedup import hamming_pairs_over

    def s64(v):
        return v - (1 << 64) if v >= (1 << 63) else v

    rows = []
    for base, flips in case:
        rows.append(base)
        rows.append(base)  # identical copy
        h = base
        for b in flips:
            h ^= 1 << b
        rows.append(h)
    data = [(i, s64(h)) for i, h in enumerate(rows)]
    df = spark.createDataFrame(data, "doc_id long, h64 long")
    got = [
        (r.doc_a, r.doc_b, r.hamming)
        for r in hamming_pairs_over(df, "h64", 3).collect()
    ]
    expect = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            ham = bin(rows[i] ^ rows[j]).count("1")
            if ham <= 3:
                expect.add((i, j, ham))
    assert len(got) == len(set(got)), "duplicate pair emitted"
    assert set(got) == expect


@given(n_bytes=st.integers(min_value=0, max_value=10_000),
       n_frames=st.integers(min_value=1, max_value=16))
@settings(max_examples=60, deadline=None)
def test_sample_frame_indices_spec(n_bytes, n_frames):
    """Frame sampling invariants: ≤ n_frames indices, strictly
    increasing, all within the fake duration, always starts at 0."""
    from via_spark.operators.multimodal import sample_frame_indices

    duration = n_bytes % 120 + 1
    idx = sample_frame_indices(n_bytes, n_frames)
    assert 1 <= len(idx) <= n_frames
    assert idx[0] == 0
    assert all(a < b for a, b in zip(idx, idx[1:]))
    assert all(0 <= i < duration for i in idx)


_ts_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),                       # series key
        st.integers(min_value=0, max_value=50),            # sec
        st.integers(min_value=-100, max_value=100),        # value (int → exact)
    ),
    min_size=1,
    max_size=40,
)


@given(rows=_ts_rows)
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_gapfill_locf_matches_python_model(spark, rows):
    """gapfill_locf_over vs a pure-Python spec on random tiny series,
    bucket=10s: dense grid over the GLOBAL bucket span for every
    series, n=0 for empty buckets, filled_fix carried forward from the
    newest earlier observed bucket (None before the first)."""
    from via_spark.operators.timeseries import gapfill_locf_over

    ev = spark.createDataFrame(
        [(k, s, float(v)) for k, s, v in rows],
        "event_type string, sec long, value double",
    )
    got = {
        (r["event_type"], r["hour_start"]): (r["n"], r["filled_fix"])
        for r in gapfill_locf_over(ev, bucket_sec=10).collect()
    }

    B = 10
    lo = min(s for _, s, _ in rows) // B * B
    hi = max(s for _, s, _ in rows) // B * B
    series = {k for k, _, _ in rows}
    obs: dict = {}
    for k, s, v in rows:
        key = (k, s // B * B)
        n, t = obs.get(key, (0, 0))
        obs[key] = (n + 1, t + math.floor(v * 1_000_000))
    expect = {}
    for k in series:
        carried = None
        for b in range(lo, hi + B, B):
            if (k, b) in obs:
                carried = obs[(k, b)][1]
                expect[(k, b)] = (obs[(k, b)][0], carried)
            else:
                expect[(k, b)] = (0, carried)
    assert got == expect


@given(rows=_ts_rows)
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_rate_of_change_matches_python_model(spark, rows):
    """rate_of_change_over vs a pure-Python spec: per-series bucket
    counts with delta against the previous OBSERVED bucket (sparse —
    missing buckets are skipped, not zero-filled)."""
    from via_spark.operators.timeseries import rate_of_change_over

    ev = spark.createDataFrame(
        [(k, s) for k, s, _ in rows], "event_type string, sec long"
    )
    got = {
        (r["event_type"], r["hour_start"]): (r["n"], r["prev_n"], r["delta"])
        for r in rate_of_change_over(ev, bucket_sec=10).collect()
    }
    counts: dict = {}
    for k, s, _ in rows:
        counts[(k, s // 10 * 10)] = counts.get((k, s // 10 * 10), 0) + 1
    expect = {}
    for k in {k for k, _, _ in rows}:
        prev = None
        for b in sorted(b for kk, b in counts if kk == k):
            n = counts[(k, b)]
            expect[(k, b)] = (n, prev, None if prev is None else n - prev)
            prev = n
    assert got == expect


SESSION_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),      # user_id
        st.integers(min_value=0, max_value=500),    # sec
    ),
    min_size=0, max_size=40,
)


@pytest.mark.usefixtures("spark")
@given(rows=SESSION_EVENTS, gap=st.integers(min_value=1, max_value=120))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_user_sessions_match_python_model(spark, rows, gap):
    """windows.sessionize_over must agree with a pure-Python
    gaps-and-islands model on random event streams: same session
    boundaries, counts and durations, for any gap threshold, duplicate
    timestamps included (event_id breaks ties)."""
    from via_spark.operators.windows import sessionize_over

    events = [(u, i, s) for i, (u, s) in enumerate(rows)]
    df = (
        spark.createDataFrame(events, "user_id long, event_id long, sec long")
        if events else spark.createDataFrame([], "user_id long, event_id long, sec long")
    )
    got = {
        (r["user_id"], r["session_id"]): (
            r["session_start"], r["session_end"], r["n_events"], r["duration_sec"]
        )
        for r in sessionize_over(df, gap).collect()
    }

    expect = {}
    by_user = {}
    for u, i, s in events:
        by_user.setdefault(u, []).append((s, i))
    for u, evs in by_user.items():
        evs.sort()
        sid, prev, cur = 0, None, []
        for s, _ in evs:
            if prev is None or s - prev > gap:
                if cur:
                    expect[(u, sid)] = (min(cur), max(cur), len(cur), max(cur) - min(cur))
                sid += 1
                cur = []
            cur.append(s)
            prev = s
        if cur:
            expect[(u, sid)] = (min(cur), max(cur), len(cur), max(cur) - min(cur))
    assert got == expect


ACTIVITY = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20),   # day
        st.integers(min_value=0, max_value=5),    # user_id
    ),
    min_size=0, max_size=40,
)


@pytest.mark.usefixtures("spark")
@given(rows=ACTIVITY)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_rolling_distinct_matches_python_model(spark, rows):
    """timeseries.rolling_distinct_over must equal the brute-force
    trailing-7-day distinct count for every emitted as-of day, emit
    exactly the days with activity in their trailing window, and trim
    days past the newest activity day."""
    import datetime

    from via_spark.operators.timeseries import rolling_distinct_over

    df = (
        spark.createDataFrame(rows, "day long, user_id long")
        if rows else spark.createDataFrame([], "day long, user_id long")
    )
    got = {
        (r["as_of_date"] - datetime.date(1970, 1, 1)).days: r["active_users_7d"]
        for r in rolling_distinct_over(df).collect()
    }

    expect = {}
    if rows:
        max_day = max(d for d, _ in rows)
        for d in range(0, max_day + 1):
            users = {u for a, u in rows if d - 6 <= a <= d}
            if users:
                expect[d] = len(users)
    assert got == expect


PREFIX_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=100),  # id (may repeat → tiebreak)
        st.integers(min_value=-50, max_value=50), # value
    ),
    min_size=0, max_size=40,
)


@pytest.mark.usefixtures("spark")
@given(rows=PREFIX_ROWS)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_global_prefix_sum_matches_cumsum(spark, rows):
    """rank.global_prefix_sum (range partition + broadcast offsets) must
    equal the plain exclusive cumulative sum for any input — empty,
    negative values, duplicate sort keys (uid tiebreak), fewer rows
    than partitions."""
    from pyspark.sql import functions as F

    from via_spark.operators.rank import global_prefix_sum

    data = [(i, rid, v) for i, (rid, v) in enumerate(rows)]
    df = (
        spark.createDataFrame(data, "uid long, rid long, v long")
        if data else spark.createDataFrame([], "uid long, rid long, v long")
    )
    got = {
        r["uid"]: r["pfx"]
        for r in global_prefix_sum(
            df, [F.col("rid").asc(), F.col("uid").asc()], "v", "pfx"
        ).collect()
    }
    expect = {}
    acc = 0
    for uid, rid, v in sorted(data, key=lambda t: (t[1], t[0])):
        expect[uid] = acc
        acc += v
    assert got == expect


def test_fixture_ranked_columns_non_null(spark, sf_oracle):
    """Parity invariant behind the rank-ordered oracles: Spark ASC puts
    NULLs first while DuckDB ASC puts them last, so rank-over-value
    queries only agree while ranked columns are NULL-free. The oracles
    now pin Spark's NULL placement explicitly (NULLS FIRST/LAST), and
    this test documents + checks the fixture-side assumption so a
    future fixture regeneration with NULLs is noticed, not silently
    hashed into a mismatch."""
    from via_spark.session import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_oracle, "events")
    nulls = ev.where(
        F.col("value").isNull() | F.col("ts").isNull() | F.col("event_id").isNull()
    ).count()
    assert nulls == 0


def test_correlation_matrix_matches_numpy(spark, sf_oracle):
    """The one-pass fixed-point Pearson matrix agrees with numpy's
    corrcoef on the same 1e-3-quantized values (the quantization is the
    pinned semantic, so quantize the model too)."""
    import math

    import numpy as np

    from via_spark.operators.stats import CORR_COLUMNS, CORR_SCALE, column_correlation_matrix
    from via_spark.session import load_table

    got = {
        (r["col_a"], r["col_b"]): r["corr"]
        for r in column_correlation_matrix(spark, sf_oracle).collect()
    }
    pdf = (
        load_table(spark, sf_oracle, "lineitem")
        .select(*CORR_COLUMNS)
        .toPandas()
    )
    q = np.floor(pdf.to_numpy(dtype=np.float64) * CORR_SCALE)
    ref = np.corrcoef(q, rowvar=False)
    for i, a in enumerate(CORR_COLUMNS):
        for j, b in enumerate(CORR_COLUMNS):
            if i < j:
                assert math.isclose(got[(a, b)], ref[i, j], abs_tol=1e-9), (a, b)


def test_zscore_moments_match_model(spark, sf_oracle):
    """Group z-scores: mean of z ≈ 0 and var of z ≈ 1 per event_type
    (sanity on the moment math), and a spot value matches the direct
    formula on quantized values."""
    import numpy as np

    from via_spark.operators.stats import value_zscore_by_type
    from via_spark.session import load_table

    z = value_zscore_by_type(spark, sf_oracle).toPandas()
    for et, grp in z.groupby("event_type"):
        assert abs(grp["zscore"].mean()) < 1e-3, et
        assert abs(grp["zscore"].var(ddof=0) - 1.0) < 1e-3, et
    ev = load_table(spark, sf_oracle, "events").select("event_id", "event_type", "value").toPandas()
    et0 = ev["event_type"].iloc[0]
    vals = np.floor(ev.loc[ev.event_type == et0, "value"].to_numpy() * 1e6)
    mu, sd = vals.mean(), vals.std(ddof=0)
    eid = ev.loc[ev.event_type == et0, "event_id"].iloc[0]
    v = vals[0]
    expect = (v - mu) / sd
    got = float(z.loc[z.event_id == eid, "zscore"].iloc[0])
    assert abs(got - expect) < 1e-4


def test_mixture_interleave_is_proportional(spark, sf_oracle):
    """In the interleave order, every prefix of the corpus contains
    each source roughly in proportion to its share (within one doc per
    source per prefix — the defining property of the (2r−1)/(2n)
    schedule)."""
    from via_spark.operators.rank import mixture_interleave_positions
    from pyspark.sql import functions as F

    rows = (
        mixture_interleave_positions(spark, sf_oracle)
        .orderBy("pos")
        .select("source", "pos")
        .collect()
    )
    total = len(rows)
    n_src = {}
    for r in rows:
        n_src[r["source"]] = n_src.get(r["source"], 0) + 1
    seen = {s: 0 for s in n_src}
    for i, r in enumerate(rows, start=1):
        seen[r["source"]] += 1
        if i % 97 == 0:  # sample prefixes
            for s, n in n_src.items():
                expect = i * n / total
                assert abs(seen[s] - expect) <= 1.0 + n / total, (i, s)


def test_corpus_shuffle_changes_with_epoch(spark, sf_oracle):
    """Different epochs give different permutations; the same epoch is
    stable across invocations (reproducibility contract)."""
    from via_spark.operators.rank import corpus_shuffle_positions

    e0 = {r["doc_id"]: r["pos"] for r in corpus_shuffle_positions(spark, sf_oracle, epoch=0).collect()}
    e0b = {r["doc_id"]: r["pos"] for r in corpus_shuffle_positions(spark, sf_oracle, epoch=0).collect()}
    e1 = {r["doc_id"]: r["pos"] for r in corpus_shuffle_positions(spark, sf_oracle, epoch=1).collect()}
    assert e0 == e0b
    assert e0 != e1
    assert sorted(e0.values()) == list(range(1, len(e0) + 1))


def test_global_row_number_multi_partition_offsets(spark):
    """VERDICT r6 #5: the correctness argument of rank.global_row_number
    rests on the (partition id, local offset) layout of
    monotonically_increasing_id under repartitionByRange — but sf0.01
    parity can collapse into one partition, leaving the cross-partition
    offset path unproven.  Force 8 range partitions on a frame that
    provably SPANS several of them and assert the rank still equals the
    driver-computed sorted index (and likewise for global_prefix_sum)."""
    from pyspark.sql import functions as F

    from via_spark.operators.rank import global_prefix_sum, global_row_number

    rows = [((i * 37) % 500, i) for i in range(500)]  # scattered scores
    df = spark.createDataFrame(rows, "score int, id long")
    order = [F.col("score").desc(), F.col("id").asc()]

    # precondition: with 8 range partitions this data genuinely spreads
    # (otherwise the test silently degrades to the single-partition case)
    n_parts = (
        df.repartitionByRange(8, *order)
        .select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert n_parts >= 4, f"fixture collapsed into {n_parts} partitions"

    got = {
        r["id"]: r["rank"]
        for r in global_row_number(df, order, "rank", num_partitions=8).collect()
    }
    expect = {
        rid: i + 1
        for i, (_, rid) in enumerate(sorted(rows, key=lambda t: (-t[0], t[1])))
    }
    assert got == expect

    got_ps = {
        r["id"]: r["ps"]
        for r in global_prefix_sum(
            df, order, F.col("score"), "ps", num_partitions=8
        ).collect()
    }
    acc, expect_ps = 0, {}
    for score, rid in sorted(rows, key=lambda t: (-t[0], t[1])):
        expect_ps[rid] = acc
        acc += score
    assert got_ps == expect_ps


def test_leakage_safe_split_never_splits_a_cluster(spark, sf_oracle):
    """VERDICT r6 #4: the guarantee of curation.leakage_safe_split — no
    two members of one near-dup cluster on opposite sides of the
    train/test split — asserted directly against the independent cluster
    labels, so a future 'optimization' to a per-doc hash fails here."""
    from pyspark.sql import functions as F

    from via_spark.operators.curation import leakage_safe_split
    from via_spark.operators.graph import dedup_clusters

    split = leakage_safe_split(spark, sf_oracle).select("doc_id", "split")
    clusters = dedup_clusters(spark, sf_oracle).select(
        "doc_id", F.col("cluster_rep").alias("rep")
    )
    per_cluster = (
        clusters.join(split, "doc_id")
        .groupBy("rep")
        .agg(
            F.countDistinct("split").alias("n_sides"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )
    # non-vacuous: the fixture must contain at least one multi-member
    # near-dup cluster, and both split sides must be populated
    assert per_cluster.where(F.col("n_members") >= 2).count() > 0
    assert split.select("split").distinct().count() == 2
    torn = per_cluster.where(F.col("n_sides") > 1).count()
    assert torn == 0, f"{torn} clusters have members on both split sides"


def test_funnels_boundary_semantics(spark, tmp_path):
    """Planted journeys pin the funnel contracts oracle parity alone
    cannot distinguish from a spec error written twice: first-touch
    anchoring (earliest view), STRICT > ordering at each stage, the
    INCLUSIVE <= gap bound of the attribution window, and that the
    unbounded funnel admits exactly the conversions the window drops."""
    from pyspark.sql import functions as F

    from via_spark.operators.timeseries import (
        conversion_funnel,
        timed_conversion_funnel,
    )

    S = 1_000_000_000  # 1 s in ns
    GAP = 3600  # max_gap_sec used for the timed variant
    rows = []  # (event_id, ts, user_id, event_type, value, props)
    eid = 0

    def ev(user, typ, t_sec):
        nonlocal eid
        eid += 1
        rows.append((eid, t_sec * S, user, typ, 1.0, "{}"))

    # u1: clean conversion inside the window at every stage
    ev(1, "view", 100); ev(1, "click", 200); ev(1, "purchase", 300)
    # u2: click BEFORE the first view — never reaches stage 2
    ev(2, "click", 50); ev(2, "view", 100)
    # u3: click exactly AT t1 — strict > excludes it; a later click counts
    ev(3, "view", 100); ev(3, "click", 100); ev(3, "click", 150)
    # u4: click exactly at t1+GAP — inclusive <= admits it (timed too)
    ev(4, "view", 100); ev(4, "click", 100 + GAP)
    # u5: click at t1+GAP+1 — unbounded funnel admits, window drops
    ev(5, "view", 100); ev(5, "click", 101 + GAP)
    # u6: purchase before its click — reaches click, not purchase
    ev(6, "view", 100); ev(6, "purchase", 150); ev(6, "click", 200)
    # u7: first-touch anchor — SECOND view is closer to the click, but
    # the gap is measured from the FIRST view, pushing it outside
    ev(7, "view", 100); ev(7, "view", 5000); ev(7, "click", 100 + GAP + 10)
    # u8: purchase inside the unbounded order but outside t2's window
    ev(8, "view", 100); ev(8, "click", 200); ev(8, "purchase", 201 + GAP)
    # u9: no view at all — contributes to no stage
    ev(9, "click", 100); ev(9, "purchase", 200)

    d = tmp_path / "sf"
    spark.createDataFrame(
        rows,
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(d / "events.parquet"))
    sf = str(d)

    unb = {r["stage"]: r["users"] for r in conversion_funnel(spark, sf).collect()}
    tim = {
        r["stage"]: r["users"]
        for r in timed_conversion_funnel(spark, sf, max_gap_sec=GAP).collect()
    }

    # stage 1: everyone with a view (u1..u8 — u2's late view counts too)
    assert unb["view"] == 8 and tim["view"] == 8
    # stage 2 unbounded: strict > only (u1,u3,u4,u5,u6,u7,u8) — not u2/u9
    assert unb["view>click"] == 7
    # stage 2 timed: u5 (gap+1) and u7 (first-touch anchor) drop out;
    # u4 at exactly t1+GAP stays (inclusive bound)
    assert tim["view>click"] == 5
    # stage 3: u1 only — u6 ordered wrong, u8 outside the window
    assert unb["view>click>purchase"] == 2  # u1 and u8 (unbounded keeps u8)
    assert tim["view>click>purchase"] == 1


def test_session_window_gap_boundary(spark):
    """Boundary semantics of Spark session_window, proven on planted
    data because the fixture need not contain an exactly-at-gap pair:
    Spark merges TOUCHING intervals, so an event at exactly prev + gap
    JOINS the session and the oracle's break predicate must be strict >
    (writing it as >= diverged here — the latent parity bug this test
    caught; think daily logs landing at the same time-of-day under the
    86 400 s default gap)."""
    from pyspark.sql import functions as F

    G = 100
    rows = [
        ("h", 1000), ("h", 1000 + G - 1),   # gap G-1 → same session
        ("h", 5000), ("h", 5000 + G),       # gap exactly G → MERGES
        ("h", 9000),                        # singleton
        ("g", 1000), ("g", 1000 + G + 1),   # gap G+1 → splits
        ("g", 1000 + 2 * G + 1),            # chains (gap exactly G)
    ]
    df = spark.createDataFrame(rows, "h string, ts long")
    got = {
        (r["h"], r["s"], r["e"], r["n"])
        for r in df.groupBy(
            F.session_window(F.timestamp_seconds("ts"), f"{G} seconds").alias("sw"),
            "h",
        )
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"),
             F.count(F.lit(1)).alias("n"))
        .select("h", "s", "e", "n")
        .collect()
    }

    # the corrected oracle rule, computed independently: break only
    # when the gap strictly exceeds G
    expect = set()
    for h in {r[0] for r in rows}:
        ts = sorted(t for x, t in rows if x == h)
        sess = [[ts[0]]]
        for prev, cur in zip(ts, ts[1:]):
            if cur - prev > G:
                sess.append([cur])
            else:
                sess[-1].append(cur)
        for s in sess:
            expect.add((h, s[0], s[-1], len(s)))

    assert got == expect


def test_connected_components_long_chain_guard(spark):
    """Alternating large-star/small-star contraction converges in
    O(log² n) rounds on ANY id layout — the random-graph property test
    (≤15 tiny edges) never stresses this. Pin both sides of the guard:
    a long chain with enough rounds is correct, and a
    too-small max_iter RAISES instead of silently returning a split component
    (the failure mode that would quietly corrupt dedup clusters, the
    leakage-safe split, and keep-best resolution downstream)."""
    import pytest

    from via_spark.operators.graph import connected_components

    n = 30
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    # star contraction halves chain length per round — a 30-chain
    # reaches its star fixpoint well inside 8 rounds
    got = {
        r["id"]: r["component"]
        for r in connected_components(verts, chain, max_iter=8).collect()
    }
    assert got == {i: 0 for i in range(n)}

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(verts, chain, max_iter=2)


P95_ROWS = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),                  # group
        st.integers(min_value=-1000, max_value=1000),      # fixed-point value
    ),
    min_size=1, max_size=60,
)


@pytest.mark.usefixtures("spark")
@given(rows=P95_ROWS)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_p95_rank_threshold_matches_reference(spark, rows):
    """The histogram/cum-window discrete p95 must equal the definition
    it pins — smallest v with 100·|{x ≤ v}| ≥ 95·n per group — for any
    input: singleton groups, all-equal values, duplicates, negatives.
    (Oracle parity checks one fixture; this checks the formula.)"""
    from pyspark.sql import functions as F

    from via_spark.operators.stats import rank_quantile

    df = spark.createDataFrame(rows, "g string, v long")
    got = {
        (r["g"], r["p95_fix"], r["n"])
        for r in rank_quantile(df, ["g"], F.col("v"), 95).collect()
    }
    expect = set()
    groups = {}
    for g, v in rows:
        groups.setdefault(g, []).append(v)
    for g, vs in groups.items():
        vs.sort()
        n = len(vs)
        thr = next(v for i, v in enumerate(vs) if 100 * (i + 1) >= 95 * n)
        expect.add((g, thr, n))
    assert got == expect


SCRUB_DOCS = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d", "e"]),
        min_size=0, max_size=14,
    ),
    min_size=1, max_size=8,
)


@pytest.mark.usefixtures("spark")
@given(docs=SCRUB_DOCS)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_repeated_span_scrub_matches_reference(spark, docs, tmp_path_factory):
    """The span scrub must equal the definition it pins — remove every
    token position covered by some n-gram occurring in >= min_docs
    DISTINCT documents — for arbitrary corpora over a tiny alphabet
    (dense overlaps, self-repeats within one doc, empty docs). Uses
    n=3/min_docs=2 to make collisions likely at this size."""
    import uuid

    from pyspark.sql import functions as F

    from via_spark.operators.curation import repeated_span_scrub

    N, MIN_DOCS = 3, 2
    d = tmp_path_factory.mktemp("scrub") / uuid.uuid4().hex
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "lang", F.lit("en")
    ).withColumn("source", F.lit("t")).withColumn(
        "n_chars", F.length("text")
    ).write.parquet(str(d / "documents.parquet"))

    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["scrubbed_text"])
        for r in repeated_span_scrub(spark, str(d), n=N, min_docs=MIN_DOCS).collect()
    }

    # pure-Python reference
    from collections import defaultdict

    gram_docs = defaultdict(set)
    for i, toks in enumerate(docs):
        for p in range(len(toks) - N + 1):
            gram_docs[tuple(toks[p:p + N])].add(i)
    hot = {g for g, ds in gram_docs.items() if len(ds) >= MIN_DOCS}
    expect = {}
    for i, toks in enumerate(docs):
        covered = set()
        for p in range(len(toks) - N + 1):
            if tuple(toks[p:p + N]) in hot:
                covered.update(range(p, p + N))
        kept = [t for j, t in enumerate(toks) if j not in covered]
        expect[i] = (len(toks), len(covered), " ".join(kept))
    assert got == expect


DECAY_EVENTS = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),        # event_type
        st.integers(min_value=0, max_value=40),  # epoch day (spans CAP=20)
        # negatives included: floor(v*100) rounds toward -inf in Spark,
        # DuckDB, and Python alike — the property must hold there too
        st.floats(min_value=-1000.0, max_value=1000.0, allow_nan=False),
    ),
    min_size=1, max_size=30,
)


@pytest.mark.usefixtures("spark")
@given(events=DECAY_EVENTS)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_half_life_decay_matches_reference(spark, events, tmp_path_factory):
    """half_life_decay_counts must equal the definition it pins — each
    event weighs 2^-age_days vs the newest event's day, zero past
    DECAY_CAP — for arbitrary tiny corpora, including ages exactly AT
    the cap boundary and all-stale types whose decayed sums are 0."""
    import math
    import uuid
    from collections import defaultdict

    from via_spark.operators.timeseries import DECAY_CAP, half_life_decay_counts

    DAY_NS = 86_400 * 1_000_000_000
    rows = [
        (i, day * DAY_NS + (i % 86_400) * 1_000_000_000, i, typ, val, "{}")
        for i, (typ, day, val) in enumerate(events)
    ]
    d = tmp_path_factory.mktemp("decay") / uuid.uuid4().hex
    spark.createDataFrame(
        rows,
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(d / "events.parquet"))

    got = {
        r["event_type"]: (
            r["n_events"], r["decayed_count_fix"], r["decayed_value_fix"],
            r["decayed_count"], r["decayed_value"],
        )
        for r in half_life_decay_counts(spark, str(d)).collect()
    }

    anchor = max(day for _, day, _ in events)
    exp = defaultdict(lambda: [0, 0, 0])
    for typ, day, val in events:
        age = anchor - day
        w = (1 << (DECAY_CAP - age)) if age <= DECAY_CAP else 0
        exp[typ][0] += 1
        exp[typ][1] += w
        exp[typ][2] += math.floor(val * 100) * w
    expect = {
        t: (n, cf, vf, cf / float(1 << DECAY_CAP),
            vf / float(100 * (1 << DECAY_CAP)))
        for t, (n, cf, vf) in exp.items()
    }
    assert got == expect


def test_weighted_doc_sample_matches_reference(spark, tmp_path):
    """weighted_doc_sample must equal its pinned definition — k
    smallest (h·2^20 div weight, doc_id) — and keep the reservoir
    stability property the scheme exists for: adding a document never
    changes the priority of any existing one."""
    import hashlib

    from pyspark.sql import functions as F

    from via_spark.operators.curation import _WSAMPLE_SCALE, weighted_doc_sample

    def write(docs, sub):
        d = tmp_path / sub
        spark.createDataFrame(
            docs, "doc_id long, text string, source string"
        ).withColumn("lang", F.lit("en")).withColumn(
            "n_chars", F.length("text")
        ).write.parquet(str(d / "documents.parquet"))
        return str(d)

    def py_priority(doc_id, n_chars):
        h = int(hashlib.sha256(str(doc_id).encode()).hexdigest()[:10], 16)
        return (h * _WSAMPLE_SCALE) // max(n_chars, 1)

    # lengths spanning 0 (the greatest() guard) to very long
    docs = [(i, "x" * ((i * 37) % 200), f"s{i % 3}") for i in range(12)]
    sf = write(docs, "base")
    K = 5
    got = [
        (r["doc_id"], r["priority"])
        for r in weighted_doc_sample(spark, sf, k=K).collect()
    ]
    expect = sorted(
        ((py_priority(i, len(t)), i) for i, t, _ in docs)
    )[:K]
    assert got == [(i, p) for p, i in expect]
    # k larger than the corpus returns everything
    assert weighted_doc_sample(spark, sf, k=100).count() == len(docs)

    # stability: a 13th doc leaves the 12 existing priorities unchanged
    sf2 = write(docs + [(99, "y" * 50, "s0")], "grown")
    base = {
        r["doc_id"]: r["priority"]
        for r in weighted_doc_sample(spark, sf, k=100).collect()
    }
    grown = {
        r["doc_id"]: r["priority"]
        for r in weighted_doc_sample(spark, sf2, k=100).collect()
    }
    assert {i: grown[i] for i in base} == base


def test_half_life_decay_cap_boundary(spark, tmp_path):
    """Deterministic pin of the decay boundary the hypothesis corpus
    only probabilistically hits: an event aged exactly DECAY_CAP days
    carries weight exactly 1 (the smallest nonzero), one day older
    carries exactly 0, and a type whose every event is past the cap
    reports zero decayed mass alongside its true row count."""
    from via_spark.operators.timeseries import DECAY_CAP, half_life_decay_counts

    DAY_NS = 86_400 * 1_000_000_000
    anchor_day = 100
    rows = [
        # type "edge": one fresh event + one exactly AT the cap + one just past
        (1, anchor_day * DAY_NS, 1, "edge", 2.0, "{}"),
        (2, (anchor_day - DECAY_CAP) * DAY_NS, 1, "edge", 3.0, "{}"),
        (3, (anchor_day - DECAY_CAP - 1) * DAY_NS, 1, "edge", 5.0, "{}"),
        # type "stale": every event past the cap → zero decayed mass
        (4, (anchor_day - DECAY_CAP - 1) * DAY_NS, 2, "stale", 7.0, "{}"),
        (5, (anchor_day - 40) * DAY_NS, 2, "stale", 9.0, "{}"),
    ]
    d = tmp_path / "sf"
    spark.createDataFrame(
        rows,
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(d / "events.parquet"))

    got = {r["event_type"]: r for r in half_life_decay_counts(spark, str(d)).collect()}
    top = 1 << DECAY_CAP
    e = got["edge"]
    # fresh event: weight 2^CAP; at-cap event: weight exactly 1; past-cap: 0
    assert e["n_events"] == 3
    assert e["decayed_count_fix"] == top + 1
    assert e["decayed_value_fix"] == 200 * top + 300 * 1 + 500 * 0
    s = got["stale"]
    assert s["n_events"] == 2
    assert s["decayed_count_fix"] == 0 and s["decayed_value_fix"] == 0
    assert s["decayed_count"] == 0.0 and s["decayed_value"] == 0.0


SHARD_LENS = st.lists(st.integers(min_value=0, max_value=37), min_size=1, max_size=12)


@pytest.mark.usefixtures("spark")
@given(lens=SHARD_LENS)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_token_shard_spans_matches_reference(spark, lens, tmp_path_factory):
    """token_shard_spans must equal the pure-Python packing spec —
    clamp each doc's [start, end) stream interval to every shard it
    touches — for arbitrary length mixes (zero-length docs, docs larger
    than several shards, exact-boundary fits)."""
    import uuid

    from pyspark.sql import functions as F

    from via_spark.operators.rank import token_shard_spans

    B = 10
    rows = [
        (i, " ".join(f"t{i}x{j}" for j in range(n)), f"s{i % 2}")
        for i, n in enumerate(lens)
    ]
    d = tmp_path_factory.mktemp("spans") / uuid.uuid4().hex
    spark.createDataFrame(rows, "doc_id long, text string, source string").withColumn(
        "lang", F.lit("en")
    ).withColumn("n_chars", F.length("text")).write.parquet(
        str(d / "documents.parquet")
    )

    got = sorted(
        (r["doc_id"], r["shard_id"], r["tok_start"], r["tok_end"])
        for r in token_shard_spans(spark, str(d), budget_tokens=B).collect()
    )

    expect, start = [], 0
    for i, n in enumerate(lens):
        end = start + n
        if n > 0:
            for s in range(start // B, (end - 1) // B + 1):
                expect.append(
                    (i, s, max(start, s * B) - start, min(end, (s + 1) * B) - start)
                )
        start = end
    assert got == sorted(expect)


REPEAT_SIZES = st.lists(st.integers(min_value=1, max_value=120), min_size=1, max_size=6)


@pytest.mark.usefixtures("spark")
@given(sizes=REPEAT_SIZES)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_source_repeat_factors_matches_reference(spark, sizes, tmp_path_factory):
    """source_repeat_factors must equal the pinned integer evaluation
    order — milli-shares, targets, capped repeats, effective, deficit —
    computed in pure Python over arbitrary source-size mixes (Python
    ints floor-divide identically and math.sqrt is the same correctly
    rounded IEEE double)."""
    import math
    import uuid

    from pyspark.sql import functions as F

    from via_spark.operators.curation import (
        DATA_BUDGET_MULT,
        REPEAT_CAP_MILLI,
        source_repeat_factors,
    )

    rows = [
        (i, " ".join(f"tok{src}x{j}" for j in range(n)), src)
        for i, (src, n) in enumerate((f"s{k}", n) for k, n in enumerate(sizes))
    ]
    d = tmp_path_factory.mktemp("repeat") / uuid.uuid4().hex
    spark.createDataFrame(rows, "doc_id long, text string, source string").withColumn(
        "lang", F.lit("en")
    ).withColumn("n_chars", F.length("text")).write.parquet(
        str(d / "documents.parquet")
    )

    got = {
        r["source"]: (
            r["n_tokens"], r["share_milli"], r["target_tokens"],
            r["repeat_milli"], r["effective_tokens"], r["deficit_tokens"],
        )
        for r in source_repeat_factors(spark, str(d)).collect()
    }

    w = {f"s{k}": math.floor(math.sqrt(float(n)) * 1e9) for k, n in enumerate(sizes)}
    denom, total = sum(w.values()), sum(sizes)
    budget = DATA_BUDGET_MULT * total
    expect = {}
    for k, n in enumerate(sizes):
        src = f"s{k}"
        share = (w[src] * 1000) // denom
        target = (budget * share) // 1000
        repeat = min(REPEAT_CAP_MILLI, (target * 1000) // n)
        eff = (n * repeat) // 1000
        expect[src] = (n, share, target, repeat, eff, max(0, target - eff))
    assert got == expect


# --- round-9c cores vs pure-Python models -----------------------------------

_DAILY_ROWS = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),                 # series key
        st.integers(min_value=0, max_value=20),      # day
        st.integers(min_value=0, max_value=500),     # count
    ),
    min_size=1,
    max_size=30,
    unique_by=lambda r: (r[0], r[1]),                # one row per (key, day)
)


def _tdiv(a: int, b: int) -> int:
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


@given(rows=_DAILY_ROWS)
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_theil_sen_matches_python_model(spark, rows):
    """theil_sen_over vs the pure pairwise-slope lower-median model on
    random (key, day, cnt) frames — incl. negative slopes, whose
    truncation sign the dyadic div semantics pin."""
    from via_spark.operators.timeseries import theil_sen_over

    daily = spark.createDataFrame(rows, "event_type string, day long, cnt long")
    got = {
        r["event_type"]: (r["n_days"], r["n_pairs"], r["slope_fix"])
        for r in theil_sen_over(daily).collect()
    }
    series: dict = {}
    for k, d, c in rows:
        series.setdefault(k, []).append((d, c))
    for k, pts in series.items():
        pts.sort()
        slopes = sorted(
            _tdiv((c2 - c1) * 1_000_000, d2 - d1)
            for i, (d1, c1) in enumerate(pts)
            for d2, c2 in pts[i + 1:]
        )
        med = slopes[(len(slopes) + 1) // 2 - 1] if slopes else None
        assert got[k] == (len(pts), len(slopes), med), k


@given(rows=_DAILY_ROWS)
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_holt_matches_python_model(spark, rows):
    """holt_over vs the pure dyadic level/trend recursion on random
    frames — decreasing series exercise the negative-trend truncation."""
    from via_spark.operators.timeseries import holt_over

    daily = spark.createDataFrame(rows, "event_type string, day long, cnt long")
    got = {
        r["event_type"]: (
            r["n_days"], r["last_day"], r["level_fix"], r["trend_fix"],
            r["forecast_fix"],
        )
        for r in holt_over(daily).collect()
    }
    series: dict = {}
    for k, d, c in rows:
        series.setdefault(k, []).append((d, c))
    for k, pts in series.items():
        pts.sort()
        level, b = pts[0][1] * 1_000_000, 0
        for _, x in pts[1:]:
            new_level = _tdiv(x * 1_000_000 + level + b, 2)
            b = _tdiv(new_level - level, 4) + _tdiv(3 * b, 4)
            level = new_level
        assert got[k] == (
            len(pts), max(d for d, _ in pts), level, b, level + b
        ), k


@given(rows=_ts_rows)
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_linear_interp_matches_python_model(spark, rows):
    """linear_interp_over vs a pure-Python spec on random tiny series,
    bucket=10s: observed buckets keep their sum, interior gaps get the
    truncated linear blend, edges stay None."""
    from via_spark.operators.timeseries import linear_interp_over

    ev = spark.createDataFrame(
        [(k, s, float(v)) for k, s, v in rows],
        "event_type string, sec long, value double",
    )
    got = {
        (r["event_type"], r["hour_start"]): (r["n"], r["filled_fix"])
        for r in linear_interp_over(ev, bucket_sec=10).collect()
    }

    B = 10
    lo = min(s for _, s, _ in rows) // B * B
    hi = max(s for _, s, _ in rows) // B * B
    series = {k for k, _, _ in rows}
    obs: dict = {}
    for k, s, v in rows:
        key = (k, s // B * B)
        n, t = obs.get(key, (0, 0))
        obs[key] = (n + 1, t + math.floor(v * 1_000_000))
    expect = {}
    for k in series:
        buckets = list(range(lo, hi + B, B))
        observed = [b for b in buckets if (k, b) in obs]
        for b in buckets:
            if (k, b) in obs:
                expect[(k, b)] = obs[(k, b)]
                continue
            prevs = [o for o in observed if o < b]
            nexts = [o for o in observed if o > b]
            if not prevs or not nexts:
                expect[(k, b)] = (0, None)
                continue
            p0, p1 = max(prevs), min(nexts)
            v0, v1 = obs[(k, p0)][1], obs[(k, p1)][1]
            expect[(k, b)] = (0, _tdiv(v0 * (p1 - b) + v1 * (b - p0), p1 - p0))
    assert got == expect


_SKYLINE_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),   # price_fix (small: many ties)
        st.integers(min_value=0, max_value=9),   # size
    ),
    min_size=1,
    max_size=30,
)


@given(rows=_SKYLINE_ROWS)
@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_skyline_matches_bruteforce_dominance(spark, rows):
    """skyline2d_over vs the O(n^2) dominance definition on random
    point sets with heavy ties (the window formulation's risk zone)."""
    from via_spark.operators.relational import skyline2d_over

    pts = [(i, p, s) for i, (p, s) in enumerate(rows)]
    df = spark.createDataFrame(pts, "p_partkey long, price_fix long, p_size long")
    got = sorted(r["p_partkey"] for r in skyline2d_over(df).collect())
    expect = sorted(
        i
        for i, p, s in pts
        if not any(
            (q < p and t >= s) or (q == p and t > s) for _, q, t in pts
        )
    )
    assert got == expect


_SESS_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),         # user
        st.integers(min_value=0, max_value=400_000),   # start sec (~4.6 days)
        st.integers(min_value=0, max_value=90_000),    # duration
    ),
    min_size=1,
    max_size=12,
)
_HOT_DAYS = st.sets(st.integers(min_value=0, max_value=6), max_size=4)


@given(sessions=_SESS_ROWS, hot_days=_HOT_DAYS)
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_interval_overlap_matches_bruteforce(spark, sessions, hot_days):
    """interval_overlap_over vs the direct overlap definition: for
    every (session, hot day) pair, rows appear iff the spans intersect
    and carry the exact [start, end+1) ∩ [day·86400, (day+1)·86400)
    length — incl. multi-day sessions and day-boundary endpoints."""
    from via_spark.operators.windows import interval_overlap_over

    sess_rows = [
        (u, i, s, s + d) for i, (u, s, d) in enumerate(sessions)
    ]
    sess = spark.createDataFrame(
        sess_rows,
        "user_id long, session_id long, session_start long, session_end long",
    )
    hot = spark.createDataFrame(
        [(d, 100 + d) for d in sorted(hot_days)], "day long, day_events long"
    )
    got = sorted(
        (r["user_id"], r["session_id"], r["day"], r["day_events"],
         r["overlap_sec"])
        for r in interval_overlap_over(sess, hot).collect()
    )
    expect = sorted(
        (u, i, d, 100 + d,
         min(e + 1, (d + 1) * 86_400) - max(s, d * 86_400))
        for u, i, s, e in sess_rows
        for d in sorted(hot_days)
        if s < (d + 1) * 86_400 and e >= d * 86_400
    )
    assert got == expect


_TOKEN = st.sampled_from(["a", "b", "c", "dd", "e f".replace(" ", "")])
_DOC_LISTS = st.lists(
    st.tuples(
        st.sampled_from(["s1", "s2"]),
        st.lists(_TOKEN, min_size=0, max_size=8),
    ),
    min_size=1,
    max_size=10,
)


@given(docs=_DOC_LISTS)
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_distinct_ngram_matches_python_model(spark, docs):
    """distinct_ngram_over vs a pure-Python model on random tiny
    corpora: n-grams never cross doc boundaries, uniqueness pools per
    source, zero-bigram/trigram sources surface NULL ratios — an
    INDEPENDENT gram definition, guarding the class where an oracle
    written from the same (wrong) tokenization would agree."""
    from via_spark.operators.textstats import distinct_ngram_over

    d = spark.createDataFrame(
        [(s, t) for s, t in docs], "source string, toks array<string>"
    )
    got = {
        r["source"]: (
            r["n_tokens"], r["uniq_1"], r["distinct1_fix"],
            r["uniq_2"], r["distinct2_fix"],
            r["uniq_3"], r["distinct3_fix"],
        )
        for r in distinct_ngram_over(d).collect()
    }
    per_source: dict = {}
    for s, toks in docs:
        per_source.setdefault(s, []).append(toks)
    expect = {}
    for s, docs_toks in per_source.items():
        stats = {}
        for n in (1, 2, 3):
            grams = [
                " ".join(ts[i:i + n])
                for ts in docs_toks
                for i in range(len(ts) - n + 1)
            ]
            stats[n] = (len(set(grams)), len(grams))
        u1, t1 = stats[1]
        if t1 == 0:
            continue  # token-less source never appears
        u2, t2 = stats[2]
        u3, t3 = stats[3]
        expect[s] = (
            t1, u1, u1 * 1_000_000 // t1,
            u2, (u2 * 1_000_000 // t2) if t2 else None,
            u3, (u3 * 1_000_000 // t3) if t3 else None,
        )
    assert got == expect


@given(docs=st.lists(st.lists(_TOKEN, min_size=0, max_size=8),
                     min_size=1, max_size=10))
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bigram_lm_matches_python_model(spark, docs):
    """bigram_lm_over vs an independent pure-Python add-one bigram
    model on random tiny corpora (bit-length surprisal, docs with no
    bigrams absent)."""
    from collections import Counter

    from via_spark.operators.textstats import bigram_lm_over

    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, toks array<string>"
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["surprisal_bits"], r["mean_bits_fix"])
        for r in bigram_lm_over(d).collect()
    }
    bigrams = [
        (ts[i], ts[i + 1]) for ts in docs for i in range(len(ts) - 1)
    ]
    c_bg = Counter(bigrams)
    c_ctx = Counter(b[0] for b in bigrams)
    v = len({t for ts in docs for t in ts})
    expect = {}
    for i, ts in enumerate(docs):
        bits = [
            ((c_ctx[ts[j]] + v) // (c_bg[(ts[j], ts[j + 1])] + 1)).bit_length() - 1
            for j in range(len(ts) - 1)
        ]
        if bits:
            expect[i] = (len(bits), sum(bits), sum(bits) * 1_000_000 // len(bits))
    assert got == expect
