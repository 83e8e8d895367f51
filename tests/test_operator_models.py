"""Operator models, planted cases and plan shapes: Spark operators
checked against pure-Python reference models, against hand-computed
answers on planted inputs, and for scale-critical executed-plan shapes.
DuckDB value parity for the same queries lives in
tests/test_oracle_parity.py.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

import __spark_entry__ as entrymod


def test_quartiles_over_matches_python_model(spark):
    """Property check: pinned order-statistic quartiles vs a pure-Python
    model over a planted multiset with ties and singleton groups."""
    rows = [
        ("a", i, v)
        for i, v in enumerate([5, 1, 3, 3, 9, 7, 3, 2, 8, 4, 6, 3])
    ] + [("b", 100, 42)] + [("c", i + 200, v) for i, v in enumerate([10, 20])]
    df = spark.createDataFrame(rows, "event_type string, event_id long, v_fix long")
    from via_spark.operators.stats import quartiles_over

    got = {
        r["event_type"]: (r["n"], r["q1_fix"], r["q3_fix"])
        for r in quartiles_over(df, "event_type", "v_fix", "event_id").collect()
    }
    by_key: dict[str, list[int]] = {}
    for k, _, v in rows:
        by_key.setdefault(k, []).append(v)
    for k, vals in by_key.items():
        s = sorted(vals)
        n = len(s)
        q1 = s[max(1, (n + 1) // 4) - 1]
        q3 = s[min(n, 3 * (n + 1) // 4) - 1]
        assert got[k] == (n, q1, q3), k


def _dense_df(spark, rows):
    return spark.createDataFrame(rows, "event_type string, day long, cnt long")


def test_acf_over_matches_python_model(spark):
    """ACF at lags 1..7 vs a pure-Python integer model, including a
    constant series (NULL) and a short series (rows only for n > lag)."""
    series = {
        "a": [3, 1, 4, 1, 5, 9, 2, 6, 5, 3],
        "b": [7, 7, 7, 7, 7, 7, 7, 7],        # constant -> den = 0 -> NULL
        "c": [1, 2, 3],                        # only lags 1..2 emit rows
    }
    rows = [
        (k, d, v) for k, xs in series.items() for d, v in enumerate(xs)
    ]
    from via_spark.operators.timeseries import acf_over

    got = {
        (r["event_type"], r["lag"]): (r["n_days"], r["acf_micro"])
        for r in acf_over(_dense_df(spark, rows)).collect()
    }
    expected_keys = set()
    for k, xs in series.items():
        n, s = len(xs), sum(xs)
        cen = [n * x - s for x in xs]
        den = sum(c * c for c in cen)
        for lag in range(1, 8):
            if n <= lag:
                continue
            expected_keys.add((k, lag))
            num = sum(cen[i] * cen[i + lag] for i in range(n - lag))
            want = None if den == 0 else _trunc_div(num * 1_000_000, den)
            assert got[(k, lag)] == (n, want), (k, lag)
    assert set(got.keys()) == expected_keys


def _trunc_div(a, b):
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def test_stl_over_matches_python_model(spark):
    """STL components vs a pure-Python model on a 3-week series with a
    planted weekly pattern + linear trend."""
    xs = [10 + t + (5 if t % 7 == 0 else 0) for t in range(21)]
    rows = [("a", d, v) for d, v in enumerate(xs)]
    from via_spark.operators.timeseries import stl_over

    got = {r["day"]: r for r in stl_over(_dense_df(spark, rows)).collect()}
    n = len(xs)
    trend = {
        d: _trunc_div(sum(xs[d - 3:d + 4]) * 1_000_000, 7)
        for d in range(3, n - 3)
    }
    detr = {d: xs[d] * 1_000_000 - trend[d] for d in trend}
    seas = {}
    for dow in range(7):
        vals = [v for d, v in detr.items() if (d + 4) % 7 == dow]
        seas[dow] = _trunc_div(sum(vals), len(vals))
    for d in range(n):
        r = got[d]
        dow = (d + 4) % 7
        assert r["dow"] == dow and r["cnt"] == xs[d]
        assert r["trend_micro"] == trend.get(d)
        assert r["seasonal_micro"] == seas[dow]
        want_resid = (
            None if d not in trend else xs[d] * 1_000_000 - trend[d] - seas[dow]
        )
        assert r["resid_micro"] == want_resid, d
    # the planted dow-0 spike must dominate the seasonal component
    assert seas[(0 + 4) % 7] == max(seas.values())


def test_gini_over_matches_python_model(spark):
    rows = [
        ("equal", i, 10) for i in range(4)
    ] + [("skewed", i, v) for i, v in enumerate([0, 0, 0, 100])] + [
        ("empty", 0, 0)
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, x long")
    from via_spark.operators.textstats import gini_over

    got = {r["source"]: r for r in gini_over(df).collect()}
    assert got["equal"]["gini_micro"] == 0          # perfect equality
    # skewed: sorted [0,0,0,100], G = (2*400 - 5*100)/(4*100) = 0.75
    assert got["skewed"]["gini_micro"] == 750_000
    assert got["empty"]["gini_micro"] is None        # no mass, no Gini


def test_rake_over_plants(spark):
    """Planted RAKE semantics: stopwords split islands; a co-occurring
    pair outranks a lone word (degree beats frequency)."""
    docs = [
        (0, "red fox and red fox"),          # "red fox" twice (split by 'and')
        (1, "red fox"),
        (2, "the lonely the lonely the lonely"),  # "lonely" x3, always alone
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    from via_spark.operators.textstats import rake_over

    rows = {r["phrase"]: r for r in rake_over(df, k=10).collect()}
    # islands: 'and'/'the' never appear inside a phrase
    assert all(" and " not in p and p not in ("and", "the") for p in rows)
    # red: deg = 2*3 (three 2-word phrases) ... freq 3 -> wscore 2e6
    # fox: same -> "red fox" score 4e6; "lonely": deg 3*1, freq 3 -> 1e6
    assert rows["red fox"]["score_micro"] == 4_000_000
    assert rows["red fox"]["n_occ"] == 3 and rows["red fox"]["n_words"] == 2
    assert rows["lonely"]["score_micro"] == 1_000_000
    assert rows["lonely"]["n_occ"] == 3


def test_markov_over_planted_sequences(spark):
    """Planted holdout: train half teaches a->b; test half presents a->b
    (hit) and a->c (miss); type seen only in test predicts NULL and
    scores misses."""
    # sec 0..9 train (split at 10), 10..19 test
    seq = []
    eid = 0
    # user 1 train: a b a b a b  (transitions a->b x3, b->a x2)
    for t, ty in enumerate(["a", "b", "a", "b", "a", "b"]):
        seq.append((1, eid, ty, t)); eid += 1
    # user 1 test: a b a c  (a->b hit, b->a ..., a->c miss)
    for t, ty in enumerate(["a", "b", "a", "c"]):
        seq.append((1, eid, ty, 14 + t)); eid += 1
    # user 2 test-only: z a z a (z unseen in training -> NULL prediction)
    for t, ty in enumerate(["z", "a", "z", "a"]):
        seq.append((2, eid, ty, 14 + t)); eid += 1
    df = spark.createDataFrame(seq, "user_id long, event_id long, event_type string, sec long")
    from via_spark.operators.timeseries import markov_over

    got = {r["prev_type"]: r for r in markov_over(df).collect()}
    # 'a' test transitions: a->b (hit: model says b), a->c and user 2's
    # a->z (misses)
    a = got["a"]
    assert a["predicted_type"] == "b" and a["n_test"] == 3 and a["n_hits"] == 1
    assert a["acc_micro"] == 333_333
    # 'z' unseen in training: predicted NULL, both its transitions miss
    z = got["z"]
    assert z["predicted_type"] is None and z["n_test"] == 2 and z["n_hits"] == 0
    assert z["acc_micro"] == 0


def test_good_turing_planted_sources(spark):
    """A hapax-rich source carries high unseen mass; a saturated source
    (every type repeated) carries zero."""
    docs = [
        (0, "alpha beta gamma delta", "fresh"),       # 4 hapax / 4 tokens
        (1, "same same same word word", "stale"),     # no hapax
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    import via_spark.operators.textstats as ts
    from pyspark.sql import functions as F

    tok_counts = (
        df.select("source", F.explode(ts.tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    )
    got = {
        r["source"]: r
        for r in tok_counts.groupBy("source").agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab"),
            F.sum((F.col("c") == 1).cast("long")).alias("n_hapax"),
            F.expr("sum(if(c = 1, 1L, 0L)) * 1000000L div sum(c)").alias("p_unseen_micro"),
        ).collect()
    }
    assert got["fresh"]["p_unseen_micro"] == 1_000_000  # all tokens hapax
    assert got["stale"]["p_unseen_micro"] == 0
    assert got["fresh"]["n_hapax"] == 4 and got["stale"]["n_hapax"] == 0


def test_session_survival_planted_durations(spark):
    """Survival counts against hand-built sessions: durations 0 / 120 /
    4000 sec from three users (gap rule never splits them)."""
    rows = []
    eid = 0
    for uid, secs in [(1, [100]), (2, [100, 160, 220]), (3, [0, 4000])]:
        for s in secs:
            rows.append((uid, eid, s)); eid += 1
    ev = spark.createDataFrame(rows, "user_id long, event_id long, sec long")
    from via_spark.operators.windows import sessionize_over
    from pyspark.sql import functions as F

    sessions = sessionize_over(ev, 21_600).select("duration_sec")
    durs = sorted(r["duration_sec"] for r in sessions.collect())
    assert durs == [0, 120, 4000]
    ladder = [0, 60, 300, 900, 1800, 3600, 7200, 14400]
    lad = F.explode(F.array(*[F.lit(t).cast("long") for t in ladder])).alias("t_sec")
    got = {
        r["t_sec"]: r["n_surviving"]
        for r in sessions.select("duration_sec", lad)
        .groupBy("t_sec")
        .agg(F.sum((F.col("duration_sec") >= F.col("t_sec")).cast("long")).alias("n_surviving"))
        .collect()
    }
    assert got[0] == 3 and got[60] == 2 and got[300] == 1
    assert got[3600] == 1 and got[7200] == 0


def test_sorted_neighborhood_subset_of_symspell(spark, sf_oracle):
    """Blocking-strategy relationship: at max_dist=1 every SN pair must
    also be found by the SymSpell join (which is COMPLETE for d<=1), and
    SN's window-w recall on this fixture stays above its measured floor
    (the fixture's d<=1 families are digit substitutions scattered
    through sort order — SN's known weak case, which is exactly why the
    floor documents it)."""
    from via_spark.operators.curation import (
        fuzzy_name_pairs,
        sorted_neighborhood_pairs,
    )

    sn = {
        tuple(sorted((r["key_a"], r["key_b"])))
        for r in sorted_neighborhood_pairs(spark, sf_oracle).collect()
    }
    fz = {
        tuple(sorted((r["key_a"], r["key_b"])))
        for r in fuzzy_name_pairs(spark, sf_oracle).collect()
    }
    assert sn, "SN found no pairs — vacuous fixture"
    assert sn <= fz, f"SN invented pairs SymSpell (complete at d<=1) lacks: {sorted(sn - fz)[:5]}"
    recall = len(sn & fz) / len(fz)
    assert recall >= 0.15, recall


def test_mann_whitney_planted_shift(spark):
    """Cliff's delta vs a pure-Python pairwise model on planted halves —
    full separation => +1e6; overlap and ties land on the exact
    pairwise-dominance value."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window
    # mirror the operator's core on an in-memory (type, v_fix, is_a) frame
    def delta(spark_rows):
        df = spark.createDataFrame(
            spark_rows, "event_type string, v_fix long, is_a long"
        )
        steps = df.groupBy("event_type", "v_fix").agg(
            F.sum("is_a").alias("na_v"),
            F.sum(F.lit(1) - F.col("is_a")).alias("nb_v"),
        )
        w = Window.partitionBy("event_type").orderBy("v_fix")
        wt = Window.partitionBy("event_type")
        cum = steps.select(
            "event_type", "na_v", "nb_v",
            F.coalesce(
                F.sum(F.col("na_v") + F.col("nb_v")).over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ).alias("cum_before"),
            F.sum("na_v").over(wt).alias("n_a"),
            F.sum("nb_v").over(wt).alias("n_b"),
        )
        out = cum.groupBy("event_type").agg(
            F.expr(
                "(2 * max(n_a) * max(n_b)"
                " - 2 * (sum(na_v * (2 * cum_before + (na_v + nb_v) + 1))"
                "        - max(n_a) * (max(n_a) + 1))) * 1000000L"
                " div (2 * max(n_a) * max(n_b))"
            ).alias("d")
        ).collect()
        return {r["event_type"]: r["d"] for r in out}

    def python_delta(a, b):
        # Cliff's delta = (#(b>a) - #(a>b)) / (na*nb) over all pairs,
        # where dominance counts B-over-A as positive (B = second half)
        gt = sum(1 for x in a for y in b if y > x)
        lt = sum(1 for x in a for y in b if y < x)
        num = (gt - lt) * 1_000_000
        den = len(a) * len(b)
        q = abs(num) // den
        return q if num >= 0 else -q

    cases = {
        "sep": ([1, 2, 3], [10, 11]),        # full separation -> +1e6
        "rev": ([10, 11], [1, 2, 3]),        # reversed -> -1e6
        "tie": ([1, 2, 2, 3], [2, 3, 3]),    # heavy ties
        "same": ([5, 5], [5, 5, 5]),         # identical -> 0
    }
    rows = []
    for k, (a, b) in cases.items():
        rows += [(k, v, 1) for v in a] + [(k, v, 0) for v in b]
    got = delta(rows)
    for k, (a, b) in cases.items():
        assert got[k] == python_delta(a, b), (k, got[k], python_delta(a, b))
    assert got["sep"] == 1_000_000 and got["rev"] == -1_000_000 and got["same"] == 0


def _splan(spark, sf_oracle, name: str) -> str:
    from via_spark.plans import executed_plan

    fn = entrymod.queries()[name]
    return executed_plan(fn(spark, sf_oracle))


def test_staged_plan_shapes(spark, sf_oracle):
    """Scale-critical plan pins for the staged surface (the
    tests/test_plans.py discipline, applied before registration):

    - rake's top-k is a heap, its word-score join broadcasts;
    - density outliers / ranker overlap / sorted-neighborhood /
      attribution never produce an unbroadcast cross product — their
      candidates come from bucket/rank equi-joins; the only nested-loop
      joins allowed are the broadcast scalar/1-row attaches the whole
      repo uses (ranker_overlap's query vector; its full-outer of two
      <=cut_n cuts is a bounded SMJ by construction, full outer cannot
      broadcast);
    - the Poisson bootstrap never shuffles the corpus per replicate
      (the explode is inline on the scan side).
    """
    p = _splan(spark, sf_oracle, "rake_keyphrases")
    assert "TakeOrderedAndProject" in p, "rake top-k must not global-sort"
    assert "BroadcastHashJoin" in p, "word-score join must broadcast"

    for name in ("lsh_density_outliers", "ranker_overlap_report",
                 "sorted_neighborhood_pairs", "attribution_last_touch"):
        p = _splan(spark, sf_oracle, name)
        assert "CartesianProduct" not in p, f"{name}: cartesian product"
    # density candidates specifically: the bucket join must be a real
    # equi-join. Since r10's adaptive bits dial, the plan ALSO carries
    # 1-row broadcast scalar attaches (the corpus-count -> bits agg),
    # which read as BroadcastNestedLoopJoin Cross — the documented
    # exception (r9d learning), so pin the equi-join's presence rather
    # than blanket-forbidding BNLJ.
    p = _splan(spark, sf_oracle, "lsh_density_outliers")
    assert (
        "SortMergeJoin" in p
        or "BroadcastHashJoin" in p
        or "ShuffledHashJoin" in p
    ), "density must bucket-equi-join"

    p = _splan(spark, sf_oracle, "poisson_bootstrap_ci")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # the replicate explode must happen inline on the scan side — the
    # only exchanges are the (source, rep) agg and source-level joins
    assert p.count("Generate") >= 1, "replicates must come from an inline explode"


def test_t_closeness_planted_distributions(spark):
    """A group mirroring the global distribution scores EMD 0; a group
    concentrated at the extreme value scores the hand-computed EMD and
    violates t."""
    # global sens domain {0, 1, 2}; group "mirror" = 1 of each;
    # group "top" = 3 docs all at sens 2
    rows = (
        [("en", "mirror", s) for s in (0, 1, 2)]
        + [("en", "top", 2)] * 3
    )
    df = spark.createDataFrame(rows, "lang string, source string, sens long")
    from via_spark.operators.curation import t_closeness_over

    got = {r["source"]: r for r in t_closeness_over(df).collect()}
    # global counts: sens 0 -> 1, 1 -> 1, 2 -> 4 (n = 6, m = 3)
    # mirror (n_g = 3): |cum_g*n - cum*n_g| at sens 0: |1*6-1*3|=3,
    #   sens 1: |2*6-2*3|=6, sens 2: |3*6-6*3|=0 -> sum 9
    #   emd = 9 * 1e6 // (2 * 3 * 6) = 250_000 (boundary, not >t)
    assert got["mirror"]["emd_micro"] == 250_000
    assert got["mirror"]["violates_t"] is False
    # top (n_g = 3): sens 0: |0-1*3|=3, sens 1: |0-2*3|=6,
    #   sens 2: |3*6-6*3|=0 -> sum 9 ... same mass distance by symmetry
    assert got["top"]["emd_micro"] == 250_000
    # a true mirror of the global shape scores 0: rebuild with group
    # proportional to global
    rows2 = (
        [("en", "g", s) for s in (0, 1, 1, 2, 2, 2)]
        + [("en", "exact", s) for s in (0, 1, 1, 2, 2, 2)]
    )
    df2 = spark.createDataFrame(rows2, "lang string, source string, sens long")
    got2 = {r["source"]: r for r in t_closeness_over(df2).collect()}
    assert got2["exact"]["emd_micro"] == 0 and got2["g"]["emd_micro"] == 0


def test_forecast_backtest_planted_regimes(spark):
    """Each baseline wins exactly on its own generating process: a pure
    ramp gives drift MAE 0 (the average slope is exact integer), a pure
    weekly cycle gives seasonal MAE 0, and a constant series ties at 0
    with the pinned order picking 'naive'."""
    series = {
        "ramp": [10 + 3 * t for t in range(15)],
        "weekly": [(100 if t % 7 == 0 else 10) for t in range(15)],
        "flat": [5] * 15,
    }
    rows = [(k, d, v) for k, xs in series.items() for d, v in enumerate(xs)]
    dense = spark.createDataFrame(rows, "event_type string, day long, cnt long")
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # mirror the operator core on the in-memory dense frame
    w = Window.partitionBy("event_type").orderBy("day")
    t0 = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored = dense.select(
        "event_type", "cnt",
        F.lag("cnt", 1).over(w).alias("prev1"),
        F.lag("cnt", 7).over(w).alias("prev7"),
        F.first("cnt").over(t0).alias("x0"),
        (F.row_number().over(w) - 1).cast("long").alias("t"),
    ).where(F.col("t") >= 7)
    errs = scored.select(
        "event_type",
        (F.abs(F.col("cnt") - F.col("prev1")) * F.lit(1_000_000)).alias("e_naive"),
        (F.abs(F.col("cnt") - F.col("prev7")) * F.lit(1_000_000)).alias("e_seasonal"),
        F.abs(
            F.col("cnt") * F.lit(1_000_000)
            - (F.col("prev1") * F.lit(1_000_000)
               + F.expr("(prev1 - x0) * 1000000L div (t - 1)"))
        ).alias("e_drift"),
    )
    got = {
        r["event_type"]: r
        for r in errs.groupBy("event_type").agg(
            F.expr("sum(e_naive) div count(1)").alias("n"),
            F.expr("sum(e_seasonal) div count(1)").alias("s"),
            F.expr("sum(e_drift) div count(1)").alias("d"),
        ).collect()
    }
    assert got["ramp"]["d"] == 0 and got["ramp"]["n"] > 0
    assert got["weekly"]["s"] == 0 and got["weekly"]["n"] > 0
    assert got["flat"]["n"] == got["flat"]["s"] == got["flat"]["d"] == 0


def test_linear_attribution_conserves_value(spark, sf_oracle):
    """The remainder-to-newest-touch design means credits sum EXACTLY
    to the purchase value mass — no 1/n leak at any group count."""
    from pyspark.sql import functions as F

    from via_spark.operators.asof import attribution_linear_window
    from via_spark.operators.relational import fixed6
    from via_spark.session import load_table

    credited = attribution_linear_window(spark, sf_oracle).agg(
        F.sum("credit_fix")
    ).collect()[0][0]
    exact = (
        load_table(spark, sf_oracle, "events")
        .where(F.col("event_type") == "purchase")
        .agg(F.sum(fixed6(F.col("value"))))
        .collect()[0][0]
    )
    assert credited == exact


# --- r10 staged batch: hybrid tier2, tolerant federation, dial QA ---


def test_tolerant_windowed_skips_corrupt_day(spark, sf_oracle, tmp_path):
    """The U1 failure-tolerance semantics the reference implements with
    gather(return_exceptions=True) (forensic_analysis_service.py:55-60):
    corrupt ONE day partition of a copied tier2 daily store inside the
    queried window — the strict read fails the scan, the tolerant read
    returns exactly the surviving days' rows. A corrupt day the window
    prunes is never opened, so it fails neither read."""
    import datetime
    import shutil

    from py4j.protocol import Py4JJavaError
    from pyspark.sql.utils import CapturedException

    from via_spark import store
    from via_spark.operators import promote
    from via_spark.operators.forensic import (
        TIER2_VARIANT,
        WINDOWED_HI_DAYS,
        WINDOWED_LO_DAYS,
    )
    from via_spark.operators import rhythm

    src = store.tier2_daily_path(spark, sf_oracle, **TIER2_VARIANT)
    dst = tmp_path / "tier2_daily"
    shutil.copytree(src, dst)
    days = sorted(p for p in dst.iterdir() if p.name.startswith("event_date="))
    assert len(days) >= 2, "fixture store must span multiple days"

    t1 = store.tier1(spark, sf_oracle)
    now = rhythm.current_now(t1)
    lo, hi = now - WINDOWED_LO_DAYS * 86400, now - WINDOWED_HI_DAYS * 86400

    # the corrupt day lies inside the window: tier2 reads pass a pinned
    # schema, so a day the window prunes is never opened at all
    epoch = datetime.date(1970, 1, 1)
    first, last = (
        f"event_date={epoch + datetime.timedelta(days=t // 86400)}" for t in (lo, hi)
    )
    in_window = [p for p in days if first <= p.name <= last]
    pruned = [p for p in days if p not in in_window]
    assert len(in_window) >= 2, "window must span several stored days"
    assert pruned, "fixture store must hold days outside the window"
    victims = (pruned[0], in_window[0])
    healthy_days = {p.name for p in days if p not in victims}

    def corrupt(day):
        for f in day.glob("*.parquet"):
            f.write_bytes(b"PAR1 this is not a parquet file")

    # a corrupt day outside the window is pruned: the strict read holds
    corrupt(pruned[0])
    assert promote.read_tier2(spark, str(dst), start_ts=lo, end_ts=hi).collect()

    # strict read: a corrupt day inside the window fails the scan at collect
    corrupt(in_window[0])
    with pytest.raises((CapturedException, Py4JJavaError)):
        promote.read_tier2(spark, str(dst), start_ts=lo, end_ts=hi).collect()

    # tolerant read: only the surviving days' rows, none lost (the
    # operator's exact read shape: static schema so no footer inference,
    # per-read ignoreCorruptFiles skipping the corrupt day at scan time)
    got = (
        spark.read.schema(promote.TIER2_SCHEMA)
        .option("ignoreCorruptFiles", "true")
        .parquet(str(dst))
        .where(F.col("start_ts").between(lo, hi))
        .collect()
    )
    want = (
        spark.read.parquet(str(src))
        .where(F.col("start_ts").between(lo, hi))
        .where(
            F.date_format("event_date", "'event_date='yyyy-MM-dd").isin(
                *healthy_days
            )
        )
        .collect()
    )
    assert len(got) == len(want) and len(got) > 0


def test_hybrid_tier2_model_properties(spark, sf_oracle):
    """Fusion sanity on the fixture: every hit's body contains the
    query term (the filter leg), ranks are 1..n within each leg, and
    rrf is exactly 1/(60+rd) + 1/(60+rs) with a missing leg = 0."""
    from via_spark.operators.forensic import hybrid_tier2_search

    rows = hybrid_tier2_search(spark, sf_oracle).collect()
    assert rows, "fixture tier2 must produce hybrid hits"
    for r in rows:
        assert "error" in r["body"].lower()
        want = 0.0
        if r["rank_dense"] is not None:
            want += 1.0 / (60 + r["rank_dense"])
        if r["rank_sparse"] is not None:
            want += 1.0 / (60 + r["rank_sparse"])
        assert abs(r["rrf"] - want) < 1e-12
    for leg in ("rank_dense", "rank_sparse"):
        ranks = sorted(r[leg] for r in rows if r[leg] is not None)
        assert ranks == list(range(1, len(ranks) + 1))


def test_bucket_occupancy_accounts_for_every_vector(spark, sf_oracle):
    """sum(occupancy * n_buckets) == corpus size, and bits equals the
    adaptive formula for that corpus."""
    from via_spark.operators.dedup import (
        MAX_SIGN_BITS,
        MIN_SIGN_BITS,
        SIGN_TARGET_OCCUPANCY,
        embedding_bucket_occupancy,
    )
    from via_spark.session import load_table

    n = load_table(spark, sf_oracle, "embeddings").count()
    rows = embedding_bucket_occupancy(spark, sf_oracle).collect()
    assert sum(r["occupancy"] * r["n_buckets"] for r in rows) == n
    want_bits = min(
        MAX_SIGN_BITS,
        max(MIN_SIGN_BITS, max(n // SIGN_TARGET_OCCUPANCY, 1).bit_length()),
    )
    assert {r["bits"] for r in rows} == {want_bits}


def test_recall_report_bounds_and_truth_subset(spark, sf_oracle):
    """0 <= n_hit <= n_sample_pairs; recall_micro consistent; and the
    LSH hits really are a subset of the exact ground truth (no false
    'hit' can inflate recall)."""
    from via_spark.operators.dedup import neardup_lsh_recall_report

    r = neardup_lsh_recall_report(spark, sf_oracle).collect()
    assert len(r) == 1
    row = r[0]
    assert 0 <= row["n_hit"] <= row["n_sample_pairs"]
    assert row["recall_micro"] == row["n_hit"] * 1_000_000 // row["n_sample_pairs"]


def test_threshold_sweep_monotone_and_anchored(spark, sf_oracle):
    """n_pairs is non-increasing in threshold, every sweep threshold is
    present (zero counts included), and the 0.5 row equals the
    registered dedup_minhash_pairs count at its default threshold."""
    from via_spark.operators.dedup import (
        SWEEP_THRESHOLDS,
        dedup_minhash_pairs,
        dedup_threshold_sweep,
    )

    rows = {
        r["threshold_pct"]: r["n_pairs"]
        for r in dedup_threshold_sweep(spark, sf_oracle).collect()
    }
    assert set(rows) == set(SWEEP_THRESHOLDS)
    counts = [rows[p] for p in sorted(rows)]
    assert counts == sorted(counts, reverse=True)
    assert rows[50] == dedup_minhash_pairs(spark, sf_oracle).count()


def test_simhash_bit_balance_planted_stuck_bit(spark, tmp_path):
    """A single-token corpus plants every bit: each doc's votes are the
    token hash's own bits, so ones_micro is exactly 0 or 1e6 per bit
    matching the sha256 bit pattern — the 'stuck bit' the report is
    built to surface."""
    import hashlib

    from pyspark.sql import functions as F  # noqa: F811

    rows = [(i, "sentinel") for i in range(5)]
    d = tmp_path / "sf"
    spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "lang", F.lit("en")
    ).withColumn("source", F.lit("s")).withColumn(
        "n_chars", F.length("text")
    ).write.parquet(str(d / "documents.parquet"))

    from via_spark.operators.textstats import simhash_bit_balance_report

    got = {
        r["bit"]: r["ones_micro"]
        for r in simhash_bit_balance_report(spark, str(d)).collect()
    }
    # bit b lives in nibble b//4 (hex char order), position b%4; a
    # 1-bit votes +1 per token (sum > 0 -> bit 1), a 0-bit votes -1
    # (sum < 0 -> bit 0), so every doc fingerprints identically
    hexstr = hashlib.sha256(b"sentinel").hexdigest()[:16]
    for b in range(64):
        nib = int(hexstr[b // 4], 16)
        want = 1_000_000 if ((nib >> (b % 4)) & 1) else 0
        assert got[b] == want, b
    assert len(got) == 64


def test_stopword_coverage_planted_ratio(spark, tmp_path):
    """Planted ratios: 'the cat and dog' = 2/4 stopwords; a no-stopword
    doc = 0; an empty-token source yields NULL stop_micro."""
    from pyspark.sql import functions as F  # noqa: F811

    rows = [
        (0, "the cat and dog", "prose"),
        (1, "cat dog fox hen", "prose"),
        (2, "", "empty"),
    ]
    d = tmp_path / "sf"
    spark.createDataFrame(rows, "doc_id long, text string, source string").withColumn(
        "lang", F.lit("en")
    ).withColumn("n_chars", F.length("text")).write.parquet(
        str(d / "documents.parquet")
    )
    from via_spark.operators.textstats import stopword_coverage_by_source

    got = {r["source"]: r for r in stopword_coverage_by_source(spark, str(d)).collect()}
    p = got["prose"]
    assert (p["n_docs"], p["n_tokens"], p["n_stop"]) == (2, 8, 2)
    assert p["stop_micro"] == 2 * 1_000_000 // 8
    assert got["empty"]["stop_micro"] is None


# ---------------------------------------------------------------------------
# Staged batch 4 planted-semantics tests (the fixture graph is too
# sparse to exercise triangles / multi-pair flow cells, and the
# statistics need known-answer corpora — oracle parity alone would
# pass vacuously on several of these).
# ---------------------------------------------------------------------------


def _write_docs(spark, path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(path / "documents.parquet"))


def _unique_text(i: int, n: int = 40) -> str:
    return " ".join(f"tok{i}x{j}" for j in range(n))


def test_simhash_graph_triangles_planted(spark, tmp_path):
    """Docs 1,2,3 share one text (a closed triangle), 4,5 share another
    (one edge, no triangle), 6,7 are isolated: nodes=5, edges=4,
    wedges=3 (one per triangle vertex), triangles=1, gcc=1.0."""
    from via_spark.operators.graph import simhash_graph_triangles

    tri_text = _unique_text(100)
    edge_text = _unique_text(200)
    rows = [
        (i, tri_text, "en", "s", len(tri_text)) for i in (1, 2, 3)
    ] + [
        (i, edge_text, "en", "s", len(edge_text)) for i in (4, 5)
    ] + [
        (i, _unique_text(i), "en", "s", 1) for i in (6, 7)
    ]
    _write_docs(spark, tmp_path, rows)
    row = simhash_graph_triangles(spark, str(tmp_path)).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_wedges"], row["n_triangles"]) == (
        5, 4, 3, 1,
    )
    assert row["clustering_fix"] == 1_000_000


def test_neardup_source_flow_matrix_planted(spark, tmp_path):
    """One cross-source duplicate pair and one within-source pair:
    canonical cells (sA,sB) and (sB,sB), each share 1/2."""
    from via_spark.operators.dedup import neardup_source_flow_matrix

    dup1, dup2 = _unique_text(300), _unique_text(400)
    rows = [
        (1, dup1, "en", "sB", 1), (2, dup1, "en", "sA", 1),
        (3, dup2, "en", "sB", 1), (4, dup2, "en", "sB", 1),
        (5, _unique_text(5), "en", "sC", 1),
    ]
    _write_docs(spark, tmp_path, rows)
    got = {
        (r["src_a"], r["src_b"]): (r["n_pairs"], r["share_micro"])
        for r in neardup_source_flow_matrix(spark, str(tmp_path)).collect()
    }
    assert got == {("sA", "sB"): (1, 500000), ("sB", "sB"): (1, 500000)}


def test_term_burstiness_planted(spark, tmp_path):
    """A term worth cf=100 across df=5 docs (burstiness 20.0) must top
    the report; diffuse filler terms sit at 1.0."""
    from via_spark.operators.textstats import term_burstiness_report

    filler = " ".join(f"common{j}" for j in range(10))
    rows = [
        (i, ("burst " * 20) + filler, "en", "s", 1) for i in range(5)
    ] + [(i, filler, "en", "s", 1) for i in range(5, 12)]
    _write_docs(spark, tmp_path, rows)
    out = term_burstiness_report(spark, str(tmp_path)).collect()
    assert out[0]["term"] == "burst"
    assert (out[0]["df"], out[0]["cf"], out[0]["burstiness_micro"]) == (5, 100, 20_000_000)
    assert all(r["burstiness_micro"] == 1_000_000 for r in out[1:])


def test_zipf_slope_planted(spark, tmp_path):
    """A source built with freq(r) = round(600/r) must regress near
    slope −1; a uniform-frequency source is exactly 0 (y constant)."""
    from via_spark.operators.textstats import zipf_slope_by_source

    zipf_doc = " ".join(
        " ".join(f"z{r:02d}" for _ in range(round(600 / r))) for r in range(1, 41)
    )
    flat_doc = " ".join(" ".join(f"f{r:02d}" for _ in range(7)) for r in range(1, 41))
    _write_docs(spark, tmp_path, [
        (1, zipf_doc, "en", "zipf", 1), (2, flat_doc, "en", "flat", 1),
    ])
    got = {r["source"]: r for r in zipf_slope_by_source(spark, str(tmp_path)).collect()}
    assert got["flat"]["zipf_slope"] == 0.0
    assert -1.1 < got["zipf"]["zipf_slope"] < -0.9
    assert got["zipf"]["n_terms"] == 40 and got["flat"]["n_terms"] == 40


def test_kneser_ney_planted_exact(spark, tmp_path):
    """Hand-computed KN values on a 3-doc corpus: c(a b)=2, c(a c)=1,
    c1(a)=3, N1+(a·)=2, N1+(·b)=N1+(·c)=1, types=2 ⇒
    p(b|a) = 5e6//12 + 6*500000//12 = 666666,
    p(c|a) = 1e6//12 + 250000 = 333333 (sums to ~1)."""
    from via_spark.operators.textstats import kneser_ney_bigram_report

    _write_docs(spark, tmp_path, [
        (1, "a b", "en", "s", 3), (2, "a b", "en", "s", 3), (3, "a c", "en", "s", 3),
    ])
    out = kneser_ney_bigram_report(spark, str(tmp_path)).collect()
    got = {(r["w1"], r["w2"]): (r["c12"], r["p_kn_micro"]) for r in out}
    assert got == {("a", "b"): (2, 666666), ("a", "c"): (1, 333333)}
    assert out[0]["w2"] == "b"  # ordered by count desc


def test_winnowing_matches_python_model(spark, tmp_path):
    """The selected-fingerprint count must equal an independent Python
    winnowing (same sha256-40-bit hash, same packed rightmost-min tie),
    and every selection gap is ≤ w (the winnowing guarantee)."""
    import hashlib

    from via_spark.operators.textstats import (
        WINNOW_K, WINNOW_W, winnowing_fingerprint_stats,
    )

    toks = [f"w{(i * 7) % 13}x{i % 5}" for i in range(30)]
    text = " ".join(toks)
    _write_docs(spark, tmp_path, [(1, text, "en", "s", len(text))])

    grams = [
        " ".join(toks[i : i + WINNOW_K]) for i in range(len(toks) - WINNOW_K + 1)
    ]
    packs = [
        int(hashlib.sha256(g.encode()).hexdigest()[:10], 16) * (1 << 20)
        + ((1 << 20) - 1 - p)
        for p, g in enumerate(grams)
    ]
    sel_pos = []
    sel = set()
    for i in range(WINNOW_W - 1, len(packs)):
        m = min(packs[i - WINNOW_W + 1 : i + 1])
        sel.add(m)
        sel_pos.append(((1 << 20) - 1) - (m % (1 << 20)))
    gaps = [b - a for a, b in zip(sorted(set(sel_pos)), sorted(set(sel_pos))[1:])]
    assert all(g <= WINNOW_W for g in gaps)

    row = winnowing_fingerprint_stats(spark, str(tmp_path)).collect()[0]
    assert row["n_grams"] == len(grams)
    assert row["n_selected"] == len(sel)
    assert row["density_micro"] == len(sel) * 1_000_000 // len(grams)


def _write_events(spark, path, rows):
    spark.createDataFrame(
        rows,
        "event_id long, ts long, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(path / "events.parquet"))


NS = 1_000_000_000


def test_asof_nearest_event_planted(spark, tmp_path):
    """Direction pick, backward tie-break, tolerance exclusion, and
    forward-only fallback on a hand-built timeline."""
    from via_spark.operators.asof import asof_nearest_event

    rows = [
        (1, 100 * NS, 1, "view", 0.0, "{}"),
        (2, 103 * NS, 1, "purchase", 0.0, "{}"),   # backward gap 3 < fwd 7
        (3, 105 * NS, 1, "purchase", 0.0, "{}"),   # tie (5 both) → backward
        (4, 110 * NS, 1, "view", 0.0, "{}"),
        (5, 99999 * NS, 1, "purchase", 0.0, "{}"),  # nearest 99889s > tol
        (10, 10 * NS, 2, "purchase", 0.0, "{}"),    # forward-only
        (11, 20 * NS, 2, "view", 0.0, "{}"),
    ]
    d = tmp_path / "sf"
    _write_events(spark, d, rows)
    got = {
        r["event_id"]: (r["nearest_event_id"], r["gap_sec"], r["direction"])
        for r in asof_nearest_event(spark, str(d)).collect()
    }
    assert got == {
        2: (1, 3, "backward"),
        3: (1, 5, "backward"),
        10: (11, 10, "forward"),
    }


def test_decile_lift_table_planted(spark, tmp_path):
    """20 users with values 1..20 → 2 users per decile; top decile
    holds (20+19)/210 of the value; the last cumulative share is
    exactly 1e6 and its lift exactly 1e6."""
    from via_spark.operators.rank import decile_lift_table

    rows = [(i, i * NS, i, "purchase", float(i), "{}") for i in range(1, 21)]
    d = tmp_path / "sf"
    _write_events(spark, d, rows)
    out = {r["decile"]: r for r in decile_lift_table(spark, str(d)).collect()}
    assert sorted(out) == list(range(1, 11))
    assert all(out[i]["n_users"] == 2 for i in out)
    top = out[1]
    assert top["sum_v_fix"] == 39_000_000
    assert top["share_micro"] == 39_000_000 * 1_000_000 // 210_000_000
    assert out[10]["cum_share_micro"] == 1_000_000
    assert out[10]["lift_micro"] == 1_000_000


def test_growth_accounting_planted(spark, tmp_path):
    """User 1 active on days {1,2,5}, user 2 on {2}: day 1 = new, not
    churning (next is adjacent); day 2 = one retained + one new, both
    churning (gap / end); day 5 = resurrected, churning (end)."""
    from via_spark.operators.timeseries import growth_accounting_daily

    def ev(eid, day, uid):
        return (eid, day * 86400 * NS, uid, "view", 0.0, "{}")

    rows = [ev(1, 1, 1), ev(2, 2, 1), ev(3, 5, 1), ev(4, 2, 2)]
    d = tmp_path / "sf"
    _write_events(spark, d, rows)
    got = {
        r["day"]: (r["n_new"], r["n_retained"], r["n_resurrected"], r["n_churning"])
        for r in growth_accounting_daily(spark, str(d)).collect()
    }
    assert got == {1: (1, 0, 0, 0), 2: (1, 1, 0, 2), 5: (0, 0, 1, 1)}


def test_triangle_census_matches_bruteforce_on_random_graphs(spark, tmp_path):
    """Degree-ordered orientation is easy to get subtly wrong (double
    counts, dropped skew wedges): cross-check the census against a
    brute-force itertools count on deterministic pseudo-random graphs,
    including a star (hub skew, zero triangles) and a clique."""
    import itertools

    from via_spark.operators.graph import motif_report_from_edges

    def census(edges):
        e = spark.createDataFrame(edges, "a long, b long")
        return motif_report_from_edges(e).collect()[0]["n_triangles"]

    def brute(edges):
        es = {frozenset(e) for e in edges}
        nodes = sorted({x for e in edges for x in e})
        return sum(
            1 for a, b, c in itertools.combinations(nodes, 3)
            if {frozenset((a, b)), frozenset((a, c)), frozenset((b, c))} <= es
        )

    star = [(0, i) for i in range(1, 9)]                       # hub, 0 triangles
    clique = [(a, b) for a in range(5) for b in range(a + 1, 5)]  # C(5,3)=10
    h = lambda i, j: ((i * 2654435761 + j * 40503) % 97)       # noqa: E731
    rand = [(i, j) for i in range(12) for j in range(i + 1, 12) if h(i, j) < 30]
    for edges in (star, clique, rand):
        assert census(edges) == brute(edges), edges


def test_growth_accounting_identity_on_fixture(spark, sf_oracle):
    """new + retained + resurrected must equal each day's distinct
    active users — the accounting identity, checked on the fixture."""
    from pyspark.sql import functions as F

    from via_spark.operators.timeseries import growth_accounting_daily
    from via_spark.session import load_table

    got = {
        r["day"]: r["n_new"] + r["n_retained"] + r["n_resurrected"]
        for r in growth_accounting_daily(spark, sf_oracle).collect()
    }
    ev = load_table(spark, sf_oracle, "events")
    active = {
        r["day"]: r["n"]
        for r in ev.select(F.expr("ts div 1000000000 div 86400").alias("day"), "user_id")
        .distinct().groupBy("day").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == active


def test_batch45_plan_shapes(spark, sf_oracle):
    """Scale-shape pins for the new staged queries: zipf's per-source
    top-v must ride WindowGroupLimit, Kneser-Ney's report must heap
    (TakeOrderedAndProject), and nothing in the batch may plan a
    CartesianProduct."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    def plan(name):
        return qs[name](spark, sf_oracle)._jdf.queryExecution().executedPlan().toString()

    assert "WindowGroupLimit" in plan("zipf_slope_by_source")
    assert "TakeOrderedAndProject" in plan("kneser_ney_bigram_report")
    for name in ("simhash_graph_triangles", "winnowing_fingerprint_stats",
                 "neardup_source_flow_matrix", "term_burstiness_report",
                 "decile_lift_table", "growth_accounting_daily",
                 "asof_nearest_event"):
        assert "CartesianProduct" not in plan(name), name


def test_type_hour_mi_planted(spark, tmp_path):
    """Diagonal plant (each type only in its own hour) gives
    MI = H(type) = H(hour) = ln(4) exactly on the 1e-6 grid;
    an independent plant (every type in every hour equally) gives 0."""
    from via_spark.operators.timeseries import type_hour_mutual_information

    rows = [
        (i * 10 + r, (i * 3600 + 30) * NS, 1, f"t{i}", 0.0, "{}")
        for i in range(4) for r in range(2)
    ]
    d = tmp_path / "diag"
    d.mkdir()
    _write_events(spark, d, rows)
    row = type_hour_mutual_information(spark, str(d)).collect()[0]
    ln4 = 1_386_294  # floor(ln(4) * 1e6)
    assert (row["mi_micro"], row["h_type_micro"], row["h_hour_micro"]) == (
        ln4, ln4, ln4,
    )

    indep = [
        (1000 + i * 10 + h, (h * 3600 + 30) * NS, 1, f"t{i}", 0.0, "{}")
        for i in range(2) for h in range(2)
    ]
    d2 = tmp_path / "indep"
    d2.mkdir()
    _write_events(spark, d2, indep)
    row2 = type_hour_mutual_information(spark, str(d2)).collect()[0]
    assert row2["mi_micro"] == 0


def test_collocation_pmi_planted(spark, tmp_path):
    """An exclusive pair ('alpha' only ever precedes 'beta', 5 times,
    among 20 bigrams total) scores pmi = ln(5·20/25) = ln(4) exactly;
    rare filler bigrams are floored out by min_count."""
    from via_spark.operators.textstats import collocation_pmi_report

    filler = " ".join(f"f{j}" for j in range(16))  # 15 distinct bigrams
    rows = [(i, "alpha beta", "en", "s", 10) for i in range(5)] + [
        (100, filler, "en", "s", len(filler))
    ]
    _write_docs(spark, tmp_path, rows)
    out = collocation_pmi_report(spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert (out[0]["w1"], out[0]["w2"], out[0]["c12"], out[0]["pmi_micro"]) == (
        "alpha", "beta", 5, 1_386_294,
    )


def test_positional_template_entropy_planted(spark, tmp_path):
    """Templated source: all docs share token at pos 0 (entropy 0),
    split 2/2 at pos 1 (entropy = ln 2 with the 4-doc distribution
    {2,2}); organic source with all-distinct pos-0 tokens scores
    exactly ln(n)."""
    from via_spark.operators.textstats import positional_template_entropy

    rows = [
        (i, f"subject {'re' if i % 2 else 'fwd'} body{i}", "en", "tpl", 1)
        for i in range(4)
    ] + [(10 + i, f"open{i} text{i}", "en", "org", 1) for i in range(4)]
    _write_docs(spark, tmp_path, rows)
    got = {
        (r["source"], r["pos"]): (r["n_docs"], r["n_distinct"], r["entropy_micro"])
        for r in positional_template_entropy(spark, str(tmp_path)).collect()
    }
    ln2, ln4 = 693_147, 1_386_294
    assert got[("tpl", 0)] == (4, 1, 0)                 # fixed "subject"
    # {2,2}: ln(4) - (2·ln2 + 2·ln2)/4 = ln(4) - ln(2) = ln(2)
    assert got[("tpl", 1)] == (4, 2, ln4 - ln2)
    assert got[("org", 0)] == (4, 4, ln4)               # all distinct
