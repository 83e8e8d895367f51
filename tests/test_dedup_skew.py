"""Skew hardening for the MinHash band join (dedup.py hot-bucket cap).

The failure mode at corpus scale: one boilerplate template shared by a
fraction p of N docs puts (pN choose 2) candidate pairs into a single
(band, band_key) bucket — quadratic JOIN OUTPUT that no AQE skew-split
can fix (AQE rebalances input partitions; the blow-up is in the rows
the join emits). The standard public remedy (CCNet, BigQuery dedup
pipelines) is to drop band keys over a frequency ceiling and log them:
docs agreeing on a hot band are near-certain boilerplate, and identical
text is already collapsed by exact dedup upstream.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def planted_dir(spark, tmp_path_factory) -> str:
    """A 300-doc corpus where 10% share one boilerplate template —
    the planted hot band."""
    boiler = "terms of service apply to all content on this mirror site"
    rows = []
    for i in range(300):
        if i % 10 == 0:  # 30 docs, identical boilerplate
            text = boiler
        else:  # unique-ish word salad, no shared trigrams by construction
            text = " ".join(f"tok{i}x{j}" for j in range(12))
        rows.append((i, text, "en", "web", len(text)))
    d = tmp_path_factory.mktemp("planted")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def test_hot_band_keys_surfaces_planted_bucket(spark, planted_dir):
    from via_spark.operators import dedup

    hot = dedup.hot_band_keys(spark, planted_dir, band_cap=10).collect()
    # every band of the 30 identical docs is hot (identical signature)
    assert len(hot) >= 1
    assert all(r["n_docs"] == 30 for r in hot)


def test_band_cap_bounds_candidate_volume(spark, planted_dir):
    """With the cap OFF the planted template alone yields C(30,2)=435
    verified pairs; with a cap of 10 those buckets are dropped and the
    join output collapses. Also pins that the drop is bucket-precise:
    the unique docs' pairs (none) are unaffected."""
    from via_spark.operators import dedup

    uncapped = dedup.dedup_minhash_pairs(spark, planted_dir, band_cap=None)
    capped = dedup.dedup_minhash_pairs(spark, planted_dir, band_cap=10)
    n_uncapped = uncapped.count()
    n_capped = capped.count()
    assert n_uncapped >= 435
    assert n_capped == 0
    # default cap (5000) is inert on the fixture-scale corpus
    assert (
        dedup.dedup_minhash_pairs(spark, planted_dir).count() == n_uncapped
    )


def test_capped_bands_is_bucket_precise(spark, planted_dir):
    """capped_bands drops ONLY oversize buckets — total band rows
    shrink by exactly the hot buckets' membership."""
    from via_spark.operators import dedup

    bands = dedup.minhash_bands(dedup.shingled_documents(spark, planted_dir))
    total = bands.count()
    kept = dedup.capped_bands(bands, band_cap=10).count()
    hot_members = (
        bands.groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 10)
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    assert kept == total - (hot_members or 0)
    assert hot_members == 30 * 4  # 30 docs hot in all 4 bands


def test_incremental_pairs_consistent_with_self_join(spark, sf_oracle):
    """Batch-vs-corpus lookup must agree with the full self-join: a
    (new, corpus) pair is found incrementally IFF the self-join finds
    the same unordered pair — i.e. incremental dedup misses nothing
    about the arriving batch and invents nothing."""
    from via_spark.operators import dedup

    full = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.dedup_minhash_pairs(spark, sf_oracle).collect()
    }
    m, res = dedup.INCREMENTAL_MOD, dedup.INCREMENTAL_BATCH_RESIDUE

    def is_batch(d):
        return d % m == res

    expect = {
        (a, b) for a, b in full if is_batch(a) != is_batch(b)
    }
    got = {
        tuple(sorted((r["new_doc"], r["corpus_doc"])))
        for r in dedup.incremental_minhash_pairs(spark, sf_oracle).collect()
    }
    assert got == expect


def test_cap_recall_sweep_10x_fixture(spark, tmp_path):
    """VERDICT r6 #8 (depth): recall-vs-cap sweep at a 10× fixture.
    3000 docs = one 300-doc boilerplate template (the hot bucket,
    C(300,2)=44850 junk pairs) + 100 genuine near-dup twin pairs +
    2500 unique docs.  Across the whole cap sweep the pairs LOST must
    be exactly boilerplate-internal pairs — genuine-pair recall is
    invariant in the cap (1.0 relative to uncapped) for every cap that
    admits the twins' own buckets.  This is the quantified form of the
    cap's justification: it bounds the quadratic join output without
    costing a single real near-duplicate."""
    import time

    from via_spark.operators import dedup

    boiler = "terms of service apply to all content on this mirror site"
    rows = []
    twin_pairs = set()
    for i in range(3000):
        m = i % 30
        if m < 3:  # 300 docs of identical boilerplate
            text = boiler
        elif m in (3, 4):  # twin pairs: (i, i+1) for m == 3, identical text
            base = i if m == 3 else i - 1
            text = f"genuine pair {base} " + " ".join(
                f"tw{base}x{j}" for j in range(12)
            )
            if m == 3:
                twin_pairs.add((i, i + 1))
        else:  # unique word salad
            text = " ".join(f"tok{i}x{j}" for j in range(12))
        rows.append((i, text, "en", "web", len(text)))
    d = tmp_path / "planted10x"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(4).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    sf = str(d)

    boiler_ids = {i for i in range(3000) if i % 30 < 3}

    t0 = time.perf_counter()
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.dedup_minhash_pairs(spark, sf, band_cap=None).collect()
    }
    t_uncapped = time.perf_counter() - t0
    boiler_pairs = {(a, b) for a, b in uncapped if a in boiler_ids and b in boiler_ids}
    assert len(boiler_pairs) == 300 * 299 // 2  # the quadratic blow-up is real
    assert twin_pairs <= uncapped  # identical twins are always found

    for cap in (3, 10, 50, 299):
        t0 = time.perf_counter()
        capped = {
            (r["doc_a"], r["doc_b"])
            for r in dedup.dedup_minhash_pairs(spark, sf, band_cap=cap).collect()
        }
        t_capped = time.perf_counter() - t0
        lost = uncapped - capped
        assert capped <= uncapped, f"cap={cap} invented pairs"
        assert lost <= boiler_pairs, (
            f"cap={cap} lost {len(lost - boiler_pairs)} genuine pairs"
        )
        assert twin_pairs <= capped, f"cap={cap} dropped twin pairs"
        assert lost == boiler_pairs, f"cap={cap} kept hot-bucket pairs"
        print(
            f"cap={cap}: pairs={len(capped)} lost={len(lost)} "
            f"t={t_capped:.1f}s (uncapped {len(uncapped)} in {t_uncapped:.1f}s)"
        )

    # cap >= hot bucket size admits everything again (cap is not lossy
    # beyond its stated frequency ceiling)
    at_300 = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.dedup_minhash_pairs(spark, sf, band_cap=300).collect()
    }
    assert at_300 == uncapped


def test_source_overlap_matrix_planted_syndication(spark, tmp_path):
    """Plant a syndicated sentence shared by two of three sources and
    verify the matrix reports EXACTLY its shingles for that pair, zero
    for the others, and per-source totals consistent with each side's
    own distinct shingle count."""
    from pyspark.sql import functions as F

    from via_spark.operators.dedup import source_overlap_matrix

    syn = "breaking news syndicated wire copy runs everywhere tonight"
    # 8 tokens -> 6 distinct trigram shingles
    rows = [
        (0, f"{syn} alpha0 beta0 gamma0 delta0", "mirror_a"),
        (1, f"uniq1a uniq1b uniq1c {syn}", "mirror_b"),
        (2, "totally unrelated content with its own words here", "clean"),
    ]
    d = tmp_path / "sf"
    spark.createDataFrame(rows, "doc_id long, text string, source string").withColumn(
        "lang", F.lit("en")
    ).withColumn("n_chars", F.length("text")).write.parquet(
        str(d / "documents.parquet")
    )

    got = {
        (r["source_a"], r["source_b"]): r
        for r in source_overlap_matrix(spark, str(d)).collect()
    }
    pair = got[("mirror_a", "mirror_b")]
    assert pair["shared_shingles"] == 6  # the syndicated trigrams only
    # doc0: 12 tokens -> 10 shingles; doc1: 11 tokens -> 9 shingles
    assert (pair["n_a"], pair["n_b"]) == (10, 9)
    assert pair["jaccard"] == 6 / (10 + 9 - 6)
    for k in [("clean", "mirror_a"), ("clean", "mirror_b")]:
        assert k not in got  # zero shared shingles -> no row (inner join)


def test_minhash_calibration_planted(spark, tmp_path):
    """Identical docs must calibrate perfectly (8/8 components, exact
    Jaccard 1.0, zero error); a genuine near-dup pair reports an
    estimate in [0,1] with error = est - exact, and every candidate
    row keeps the MinHash identity est_matches == 8 iff the signature
    (and here the shingle set) is identical."""
    from pyspark.sql import functions as F

    from via_spark.operators.dedup import minhash_jaccard_calibration

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, base, "s"),
        (1, base, "s"),                      # identical twin
        (2, base + " lambda mu nu xi", "s"),  # superset near-dup
    ]
    d = tmp_path / "sf"
    spark.createDataFrame(rows, "doc_id long, text string, source string").withColumn(
        "lang", F.lit("en")
    ).withColumn("n_chars", F.length("text")).write.parquet(
        str(d / "documents.parquet")
    )

    got = {
        (r["doc_a"], r["doc_b"]): r
        for r in minhash_jaccard_calibration(spark, str(d)).collect()
    }
    twin = got[(0, 1)]
    assert twin["est_matches"] == 8 and twin["est_jaccard"] == 1.0
    assert twin["jaccard"] == 1.0 and twin["est_error"] == 0.0
    for (a, b), r in got.items():
        assert 0 <= r["est_matches"] <= 8
        assert abs(r["est_error"] - (r["est_jaccard"] - r["jaccard"])) == 0.0
        if r["jaccard"] == 1.0:
            assert r["est_matches"] == 8  # identical sets -> identical sigs


def test_gram_novelty_planted_redundancy(spark, tmp_path):
    """Planted novelty structure: doc0 is all-new (rate 1.0); doc2
    re-delivers doc0's text verbatim plus nothing else (rate 0.0 —
    pure redundancy with NO near-dup pair to doc1); doc1 mixes doc0's
    shingles with fresh ones at a known exact ratio. Source rollup
    must sum the same integers. Crucially doc2's redundancy is only
    visible corpus-wide: its Jaccard to doc1 is 0, so pairwise dedup
    alone would keep it."""
    from pyspark.sql import functions as F

    from via_spark.operators.dedup import (
        gram_novelty_by_doc,
        source_marginal_utility,
    )

    base = "alpha beta gamma delta epsilon"  # 5 toks -> 3 shingles
    rows = [
        (0, base, "s0"),
        (1, f"{base} zeta eta", "s1"),  # 7 toks -> 5 shingles, 2 new
        (2, base, "s2"),  # verbatim re-delivery of doc0
    ]
    d = tmp_path / "sf"
    spark.createDataFrame(rows, "doc_id long, text string, source string").withColumn(
        "lang", F.lit("en")
    ).withColumn("n_chars", F.length("text")).write.parquet(
        str(d / "documents.parquet")
    )

    got = {r["doc_id"]: r for r in gram_novelty_by_doc(spark, str(d)).collect()}
    assert (got[0]["n_grams"], got[0]["n_novel"]) == (3, 3)
    assert got[0]["novelty_rate"] == 1.0
    assert (got[1]["n_grams"], got[1]["n_novel"]) == (5, 2)
    assert got[1]["novelty_rate"] == 2 / 5
    assert (got[2]["n_grams"], got[2]["n_novel"]) == (3, 0)
    assert got[2]["novelty_rate"] == 0.0

    by_src = {
        r["source"]: r for r in source_marginal_utility(spark, str(d)).collect()
    }
    assert (by_src["s0"]["n_grams"], by_src["s0"]["n_novel"]) == (3, 3)
    assert (by_src["s1"]["n_grams"], by_src["s1"]["n_novel"]) == (5, 2)
    assert (by_src["s2"]["n_grams"], by_src["s2"]["n_novel"]) == (3, 0)
    assert by_src["s2"]["novelty_rate"] == 0.0


def test_containment_pairs_planted_snippet(spark, tmp_path):
    """The class Jaccard misses: a 6-shingle snippet verbatim inside a
    ~120-shingle container has Jaccard ≈ 0.05 (far below any near-dup
    threshold) but containment 1.0 — the pair MUST surface, in the
    snippet→container direction only. A doc sharing less than 9/10 of
    its shingles must NOT pair. Then brute-force equality: on the
    whole planted corpus the operator's pair set equals all-pairs
    ordered containment ≥ 9/10 computed in Python."""
    from pyspark.sql import functions as F

    from via_spark.operators.dedup import containment_dedup_pairs

    snippet = "quarterly revenue rose nine percent beating analyst estimates"
    filler = " ".join(f"w{i}a w{i}b" for i in range(60))
    rows = [
        (0, snippet, "s"),                            # 8 toks -> 6 shingles
        (1, f"{filler} {snippet}", "s"),              # container
        (2, f"{snippet} totally different tail here now", "s"),  # partial
        (3, "unrelated text with completely different words entirely", "s"),
    ]
    d = tmp_path / "sf"
    spark.createDataFrame(rows, "doc_id long, text string, source string").withColumn(
        "lang", F.lit("en")
    ).withColumn("n_chars", F.length("text")).write.parquet(
        str(d / "documents.parquet")
    )

    got = {
        (r["doc_a"], r["doc_b"]): r
        for r in containment_dedup_pairs(spark, str(d)).collect()
    }
    assert (0, 1) in got
    assert got[(0, 1)]["containment"] == 1.0
    # jaccard for the same pair is tiny — the asymmetric gate is the point
    assert got[(0, 1)]["n_overlap"] / (
        got[(0, 1)]["n_a"] + got[(0, 1)]["n_b"] - got[(0, 1)]["n_overlap"]
    ) < 0.1
    assert (1, 0) not in got  # container is NOT contained in snippet

    # brute force over the planted corpus
    def shingles(text):
        t = [x for x in text.lower().split() if x]
        return set(
            " ".join(t[i : i + 3]) for i in range(len(t) - 2)
        ) if len(t) >= 3 else set()

    sh = {i: shingles(t) for i, t, _ in rows}
    expect = {}
    for a in sh:
        for b in sh:
            if a != b and sh[a] and 10 * len(sh[a] & sh[b]) >= 9 * len(sh[a]):
                expect[(a, b)] = len(sh[a] & sh[b])
    assert set(got) == set(expect)
    for key, r in got.items():
        assert r["n_overlap"] == expect[key]


def test_containment_pairs_bruteforce_fixture(spark, sf_smoke):
    """Prefix-filter completeness on real fixture text: the operator's
    ordered pair set at t = 9/10 must EQUAL the all-pairs brute force
    over collected shingle sets — no candidate the pigeonhole
    guarantees can be lost to the rare-first prefix cut."""
    from via_spark.operators.dedup import containment_dedup_pairs, shingled_documents

    sh = {
        r["doc_id"]: set(r["sh"])
        for r in shingled_documents(spark, sf_smoke).collect()
    }
    expect = set()
    for a, sa in sh.items():
        for b, sb in sh.items():
            if a != b and 10 * len(sa & sb) >= 9 * len(sa):
                expect.add((a, b))
    got = {
        (r["doc_a"], r["doc_b"])
        for r in containment_dedup_pairs(spark, sf_smoke).collect()
    }
    assert got == expect and len(expect) > 0


def test_vocab_growth_planted_saturation(spark, tmp_path):
    """Planted saturation: checkpoint 0 introduces all grams;
    checkpoint `step` re-delivers only known text (zero new types,
    occurrences still advance); checkpoint 2·step adds exactly 2 fresh
    grams. Cumulative columns must be exact integer prefix sums and
    the type/token ratio must fall monotonically."""
    from pyspark.sql import functions as F

    from via_spark.operators.dedup import vocab_growth_curve

    base = "alpha beta gamma delta epsilon"  # 3 shingles
    rows = [
        (0, base, "s"),
        (50, base, "s"),                       # pure re-delivery
        (100, f"{base} zeta eta", "s"),        # 5 shingles, 2 new
    ]
    d = tmp_path / "sf"
    spark.createDataFrame(rows, "doc_id long, text string, source string").withColumn(
        "lang", F.lit("en")
    ).withColumn("n_chars", F.length("text")).write.parquet(
        str(d / "documents.parquet")
    )

    got = {r["checkpoint"]: r for r in vocab_growth_curve(spark, str(d)).collect()}
    assert set(got) == {0, 50, 100}
    assert (got[0]["new_types"], got[0]["cum_types"], got[0]["cum_occurrences"]) == (3, 3, 3)
    assert (got[50]["new_types"], got[50]["cum_types"], got[50]["cum_occurrences"]) == (0, 3, 6)
    assert (got[100]["new_types"], got[100]["cum_types"], got[100]["cum_occurrences"]) == (2, 5, 11)
    ratios = [got[k]["type_token_ratio"] for k in (0, 50, 100)]
    assert ratios == sorted(ratios, reverse=True)
    assert ratios[0] == 1.0 and ratios[1] == 0.5 and ratios[2] == 5 / 11


def test_dedup_token_budget_planted_mirror(spark, tmp_path):
    """Planted syndication: source 'mirror' re-delivers source
    'origin's doc verbatim (same cluster, origin's doc_id is smaller →
    canonical) plus one unique doc. origin keeps 100% of its tokens;
    mirror keeps only its unique doc's tokens; the mirrored copy's
    tokens are charged to mirror's raw budget but never to its kept
    budget. A clean source keeps everything."""
    from pyspark.sql import functions as F

    from via_spark.operators.graph import dedup_token_budget

    dup = " ".join(f"shared{i}" for i in range(40))  # 40 tokens, near-dup pair
    rows = [
        (0, dup, "origin"),
        (1, f"{dup} tail", "mirror"),  # 41 tokens, jaccard ~0.93 with doc0
        (2, " ".join(f"uniq{i}" for i in range(10)), "mirror"),
        (3, " ".join(f"clean{i}" for i in range(7)), "clean"),
    ]
    d = tmp_path / "sf"
    spark.createDataFrame(rows, "doc_id long, text string, source string").withColumn(
        "lang", F.lit("en")
    ).withColumn("n_chars", F.length("text")).write.parquet(
        str(d / "documents.parquet")
    )

    got = {r["source"]: r for r in dedup_token_budget(spark, str(d)).collect()}
    o = got["origin"]
    assert (o["n_docs"], o["n_canonical"], o["raw_tokens"], o["kept_tokens"]) == (1, 1, 40, 40)
    assert o["kept_ratio"] == 1.0
    m = got["mirror"]
    assert (m["n_docs"], m["n_canonical"], m["raw_tokens"], m["kept_tokens"]) == (2, 1, 51, 10)
    assert m["kept_ratio"] == 10 / 51
    c = got["clean"]
    assert (c["raw_tokens"], c["kept_tokens"], c["kept_ratio"]) == (7, 7, 1.0)


# --- adaptive sign-LSH bits dial (r10: VERDICT r9 asks #2/#3) ---


def test_adaptive_bits_formula_matches_python_model(spark):
    """bits = clamp(bit_length(max(N div OCC, 1)), MIN, MAX) — the in-plan
    1-row agg must reproduce the pure-Python model at boundary Ns
    (clamp-low, exact powers of two, clamp-high)."""
    from via_spark.operators.dedup import (
        MAX_SIGN_BITS,
        MIN_SIGN_BITS,
        SIGN_TARGET_OCCUPANCY,
        adaptive_sign_frame,
    )

    def model(n: int) -> int:
        return min(
            MAX_SIGN_BITS,
            max(MIN_SIGN_BITS, max(n // SIGN_TARGET_OCCUPANCY, 1).bit_length()),
        )

    for n in (1, 7, 8, 63, 64, 500, 512, 2000, 2048):
        e0 = (
            spark.range(n)
            .select(
                F.col("id").alias("vec_id"),
                F.array(*[(F.col("id") % 3 - 1).cast("float")] * 30).alias(
                    "embedding"
                ),
            )
        )
        got = adaptive_sign_frame(e0, ["vec_id"]).select("bits").first()["bits"]
        assert got == model(n), (n, got, model(n))


def test_probe_join_emits_each_pair_once(spark, sf_oracle):
    """A candidate pair at Hamming distance <= 1 matches EXACTLY one
    directional probe — so the probe-join needs no dropDuplicates (the
    r9 regression shuffled the candidate set for nothing). Proven on
    the real fixture."""
    from via_spark.operators.dedup import neardup_embedding_pairs

    # threshold=-1 keeps EVERY candidate (cosine >= -1 always), so the
    # output IS the raw candidate set
    pairs = neardup_embedding_pairs(spark, sf_oracle, threshold=-1.0)
    dup = pairs.groupBy("vec_a", "vec_b").count().where(F.col("count") > 1).count()
    assert dup == 0
    assert pairs.count() > 0
