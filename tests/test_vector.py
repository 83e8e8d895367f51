"""Vector-layer properties the DuckDB oracle can't express:
simhash locality sensitivity and hamming distance behavior."""

from __future__ import annotations

from pyspark.sql import functions as F

from via_spark.functions.simhash import hamming_hex, simhash_hex


def _fingerprint(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    out = df.select("id", simhash_hex(toks).alias("sh")).orderBy("id").collect()
    return [r["sh"] for r in out]


def test_simhash_locality(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = base.replace("today", "tonight")  # 1-token change
    far = "completely unrelated text about spark shuffle partitions and parquet files"
    a, b, c = _fingerprint(spark, [base, near, far])
    df = spark.createDataFrame([(a, b), (a, c)], "x string, y string")
    d_near, d_far = [
        r[0] for r in df.select(hamming_hex(F.col("x"), F.col("y"))).collect()
    ]
    assert d_near < d_far, f"near dup {d_near} should beat unrelated {d_far}"
    assert d_near <= 16
    assert len(a) == 16


def test_simhash_deterministic_and_identical_inputs(spark):
    t = "alpha beta gamma delta"
    a, b = _fingerprint(spark, [t, t])
    assert a == b
    df = spark.createDataFrame([(a, b)], "x string, y string")
    assert df.select(hamming_hex(F.col("x"), F.col("y"))).first()[0] == 0


def test_dense_embed_shell_with_fake_encoder(spark, sf_oracle):
    """The production mapInPandas embedding shell, driven by an injected
    fake model: proves the plumbing (schema, Arrow batch shape, id
    alignment) so the ONNX swap-in is a one-line encoder change."""
    import pytest

    from via_spark.functions import embed
    from via_spark.session import load_table

    d = load_table(spark, sf_oracle, "documents").limit(50)

    def fake_encoder(texts):
        # deterministic pure function of the text, one vector per input
        return [[float(len(t) % 7)] * embed.EMBED_DIM for t in texts]

    out = embed.dense_embedded(d, "doc_id", "text", encoder=fake_encoder)
    assert out.schema["embedding"].dataType.simpleString() == "array<float>"
    rows = out.collect()
    assert len(rows) == 50
    assert all(len(r["embedding"]) == embed.EMBED_DIM for r in rows)
    # id ↔ vector alignment survives the batch boundary
    texts = {r["doc_id"]: r["text"] for r in d.collect()}
    for r in rows:
        assert r["embedding"][0] == float(len(texts[r["id"]]) % 7)

    # wrong-width encoder is rejected by the shell's contract check
    bad = embed.dense_embedded(d, "doc_id", "text", encoder=lambda ts: [[1.0]] * len(ts))
    with pytest.raises(Exception, match="non-384-dim"):
        bad.collect()

    # default path without the optional runtime: clear actionable error
    try:
        import fastembed  # noqa: F401
    except ImportError:
        with pytest.raises(Exception, match="runtime"):
            embed.dense_embedded(d, "doc_id", "text").collect()


def test_dense_embedded_production_model(spark, sf_oracle):
    """End-to-end production embedding path — runs only in containers
    that ship the optional fastembed/ONNX runtime (skipped otherwise);
    proves _load_model_encoder + the Arrow shell against the real
    bge-small-en-v1.5 model."""
    import pytest

    pytest.importorskip("fastembed")
    from via_spark.functions import embed
    from via_spark.session import load_table

    d = load_table(spark, sf_oracle, "documents").limit(8)
    rows = embed.dense_embedded(d, "doc_id", "text").collect()
    assert len(rows) == 8
    assert all(len(r["embedding"]) == embed.EMBED_DIM for r in rows)
    # embeddings are unit-ish and text-dependent, not constant
    assert len({tuple(r["embedding"][:4]) for r in rows}) > 1


def test_ann_variants_recall_vs_exact(spark, sf_oracle):
    """Measured approximation quality: every ANN variant's top-10 vs
    the exact brute-force top-10, over 5 query vectors (a single-query
    recall number is one Bernoulli draw — multi-query floors are the
    statistic that matters; the old single-query form masked IVF
    sitting at 0.68 mean recall with nprobe=4). Measured at the pinned
    defaults on the fixture's near-random embeddings — the adversarial
    case for both partition- and sign-based candidate generation:
    INT8 quantize+rescore is exact-recovering (1.0 per query); IVF at
    nprobe=8/16 measures mean 0.90, min 0.7; 5-table multi-probe
    sign-LSH measures mean 0.88, min 0.8. A parameter change that guts
    any variant's candidate generation (fewer probes/tables/cells,
    tighter quantization) fails here."""
    from via_spark.operators import dedup, vector

    query_ids = [0, 7, 23, 41, 58]

    def recall(df, exact):
        got = {r["vec_id"] for r in df.collect()}
        return len(exact & got) / len(exact)

    per_query = {"ivf": [], "quant": [], "lsh": []}
    for qid in query_ids:
        exact = {
            r["vec_id"]
            for r in vector.knn_cosine_topk(spark, sf_oracle, query_id=qid, k=10).collect()
        }
        per_query["ivf"].append(
            recall(dedup.ann_ivf_topk(spark, sf_oracle, query_id=qid, k=10), exact)
        )
        per_query["quant"].append(
            recall(vector.ann_quantized_topk(spark, sf_oracle, query_id=qid, k=10), exact)
        )
        per_query["lsh"].append(
            recall(dedup.ann_lsh_topk(spark, sf_oracle, query_id=qid, k=10), exact)
        )

    mean = {k: sum(v) / len(v) for k, v in per_query.items()}
    assert min(per_query["quant"]) >= 0.9, per_query
    assert mean["ivf"] >= 0.85 and min(per_query["ivf"]) >= 0.6, per_query
    assert mean["lsh"] >= 0.8 and min(per_query["lsh"]) >= 0.5, per_query


def test_centroid_similarity_matrix_shape_and_range(spark, sf_oracle):
    """|labels| choose 2 pairs, each cosine in [-1, 1], and the pair
    (a, b) agrees with a brute-force numpy recompute within fixed-point
    tolerance."""
    import numpy as np

    from via_spark.operators.vector import centroid_similarity_matrix
    from via_spark.session import load_table

    out = centroid_similarity_matrix(spark, sf_oracle).collect()
    labels = [
        r["label"]
        for r in load_table(spark, sf_oracle, "embeddings").select("label").distinct().collect()
    ]
    n = len(labels)
    assert len(out) == n * (n - 1) // 2
    assert all(-1.0 - 1e-9 <= r["cos_sim"] <= 1.0 + 1e-9 for r in out)
    assert all(r["label_a"] < r["label_b"] for r in out)

    emb = load_table(spark, sf_oracle, "embeddings").select("label", "embedding").collect()
    by_label = {}
    for r in emb:
        by_label.setdefault(r["label"], []).append(np.array(r["embedding"], dtype=np.float64))
    cen = {k: np.mean(np.stack(v), axis=0) for k, v in by_label.items()}
    for r in out[:10]:
        a, b = cen[r["label_a"]], cen[r["label_b"]]
        ref = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(ref - r["cos_sim"]) < 1e-5, (r["label_a"], r["label_b"], ref, r["cos_sim"])


def test_hard_negatives_and_drift_semantics(spark, sf_oracle):
    """Hard negatives never share the query's label and are the
    genuinely most-similar cross-label vectors (each score upper-bounds
    the next rank); drift cosines are near 1 on the fixture (random
    halves of the same distribution barely move a centroid)."""
    from via_spark.operators.vector import embedding_drift_by_label, hard_negatives

    hn = hard_negatives(spark, sf_oracle).collect()
    assert len(hn) > 0
    by_q = {}
    for r in hn:
        assert r["label"] != r["query_label"]
        by_q.setdefault(r["query_id"], []).append(r)
    for rows in by_q.values():
        rows.sort(key=lambda r: r["rank"])
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores, reverse=True)

    # Fixture embeddings carry no label structure (random vectors), so
    # half-centroids are small noise residuals: only the range is
    # meaningful here. Discrimination is proven on planted structure
    # below.
    drift = embedding_drift_by_label(spark, sf_oracle).collect()
    assert len(drift) == 10
    assert all(-1.0 - 1e-9 <= r["drift_cos"] <= 1.0 + 1e-9 for r in drift)


def test_embedding_drift_detects_planted_shift(spark, tmp_path):
    """Planted structure: label 0's two halves share one direction
    (drift ≈ 1); label 1's halves point opposite ways (drift ≈ −1)."""
    from via_spark.operators.vector import embedding_drift_by_label

    def vec(direction, eps, i):
        base = [0.0] * 8
        base[direction] = 1.0
        base[(direction + 1) % 8] = eps * ((i % 3) - 1)
        return base

    rows = []
    for i in range(40):
        rows.append((i * 2, vec(0, 0.05, i), 0))        # label 0, even half
        rows.append((i * 2 + 1, vec(0, 0.05, i + 1), 0))  # label 0, odd half
        rows.append((1000 + i * 2, vec(2, 0.05, i), 1))   # label 1, even: +e2
        neg = [-x for x in vec(2, 0.05, i + 1)]
        rows.append((1001 + i * 2, neg, 1))               # label 1, odd: −e2
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = {
        r["label"]: r["drift_cos"]
        for r in embedding_drift_by_label(spark, str(tmp_path)).collect()
    }
    assert out[0] > 0.95
    assert out[1] < -0.95


def test_ann_recall_monotone_in_quality_dials(spark, sf_oracle):
    """The ANN quality dials must actually be dials: probing more IVF
    cells / a wider LSH Hamming radius yields a candidate SUPERSET, and
    exact re-ranking of a superset can only keep or improve recall of
    the true top-k — so per-query recall is provably non-decreasing in
    each dial, and probing EVERY IVF cell must recover the exact result
    (recall 1.0). A refactor that breaks candidate nesting (re-sampled
    centroids per call, table hashing drift) fails here even if the
    absolute recall floors still pass."""
    from via_spark.operators import dedup, vector

    query_ids = [0, 23, 58]
    exact = {
        qid: {
            r["vec_id"]
            for r in vector.knn_cosine_topk(
                spark, sf_oracle, query_id=qid, k=10
            ).collect()
        }
        for qid in query_ids
    }

    def recall(df, qid):
        got = {r["vec_id"] for r in df.collect()}
        return len(exact[qid] & got) / len(exact[qid])

    for qid in query_ids:
        ivf = [
            recall(dedup.ann_ivf_topk(spark, sf_oracle, query_id=qid, k=10,
                                      nprobe=p), qid)
            for p in (2, 8, dedup.IVF_CENTROIDS)
        ]
        assert ivf == sorted(ivf), f"IVF recall not monotone for q{qid}: {ivf}"
        assert ivf[-1] == 1.0, (
            f"probing all {dedup.IVF_CENTROIDS} cells must be exact, "
            f"got {ivf[-1]} for q{qid}"
        )
        lsh = [
            recall(dedup.ann_lsh_topk(spark, sf_oracle, query_id=qid, k=10,
                                      probe_radius=r), qid)
            for r in (0, 1, 2)
        ]
        assert lsh == sorted(lsh), f"LSH recall not monotone for q{qid}: {lsh}"


def test_ann_lsh_build_is_lazy(spark, sf_oracle):
    """ann_lsh_topk is a pure lazy plan builder since r9 (the former
    memoized-eager-point-lookup contract exception is retired): building
    the DataFrame may not run ANY Spark action, and the probe prefilter
    plans as a broadcast left-semi hash join on (table, bucket) — the
    join form of the old InSet-literal plan."""
    from unittest import mock

    from pyspark.sql import DataFrame

    from via_spark.operators import dedup

    def _no_jobs(name):
        def fail(self, *a, **k):  # pragma: no cover - failure path
            raise AssertionError(f"ann_lsh_topk ran DataFrame.{name} at build time")
        return fail

    with mock.patch.multiple(
        DataFrame,
        first=_no_jobs("first"),
        collect=_no_jobs("collect"),
        count=_no_jobs("count"),
        take=_no_jobs("take"),
        head=_no_jobs("head"),
        toPandas=_no_jobs("toPandas"),
    ):
        df = dedup.ann_lsh_topk(spark, sf_oracle, query_id=3, k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan, plan
    # the built plan still answers, and an absent query id yields empty
    assert df.limit(1).count() >= 0
    assert dedup.ann_lsh_topk(spark, sf_oracle, query_id=10**9).count() == 0


def test_embedding_neardup_clusters_planted(spark, tmp_path):
    """Semantic-dedup clusters: three near-identical vectors (pairwise
    cosine ~1) must form ONE cluster represented by the min vec_id;
    orthogonal vectors stay singletons — and transitivity holds even
    if LSH probing only surfaces a chain of the pairs."""
    from pyspark.sql import functions as F

    from via_spark.operators.graph import embedding_neardup_clusters

    dim = 8
    def vec(i, eps=0.0):
        v = [0.0] * dim
        v[0] = 1.0
        v[1] = eps
        v[i % dim] += 0.001 * i
        return v

    rows = [
        (0, vec(0), 0), (1, vec(1, 0.01), 0), (2, vec(2, -0.01), 0),  # one family
        (10, [0.0] * 4 + [1.0] + [0.0] * 3, 1),                        # orthogonal
        (11, [0.0] * 6 + [1.0, 0.0], 1),                               # orthogonal
    ]
    d = tmp_path / "sf"
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(d / "embeddings.parquet"))

    got = {
        r["vec_id"]: (r["cluster_rep"], r["cluster_size"])
        for r in embedding_neardup_clusters(spark, str(d)).collect()
    }
    assert got[0] == (0, 3) and got[1] == (0, 3) and got[2] == (0, 3)
    assert got[10] == (10, 1) and got[11] == (11, 1)


def test_ann_recall_report_planted_structure(spark, sf_oracle):
    """The report's recall must equal the directly-computed overlap of
    the exact and IVF top-k id sets (independent recomputation through
    the two underlying operators), and sit at/above the measured
    nprobe=8 floor documented in dedup.py."""
    from via_spark.operators.dedup import ann_ivf_topk, ann_recall_report
    from via_spark.operators.vector import knn_cosine_topk

    rep = {
        r["query_id"]: (r["n_overlap"], r["recall_at_k"])
        for r in ann_recall_report(spark, sf_oracle, n_queries=3, k=10).collect()
    }
    assert set(rep) == {0, 1, 2}
    for qid in rep:
        exact = {r["vec_id"] for r in knn_cosine_topk(spark, sf_oracle, query_id=qid, k=10).collect()}
        ivf = {r["vec_id"] for r in ann_ivf_topk(spark, sf_oracle, query_id=qid, k=10).collect()}
        n = len(exact & ivf)
        assert rep[qid] == (n, n / 10.0)
        assert rep[qid][1] >= 0.8, "recall floor at nprobe=8 (measured 0.9)"


def test_embedding_separability_python_reference_and_plant(spark, sf_oracle, tmp_path):
    """Every column equals a pure-Python integer model of the pinned
    quantized scatter decomposition (floats compare == — each is one
    conversion/division chain over exact integers). Then the semantic
    plant: two tight, well-separated synthetic labels must score orders
    of magnitude above an interleaved noise label."""
    import duckdb

    from pyspark.sql import functions as F

    from via_spark.operators.vector import embedding_separability_report

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT label, embedding FROM read_parquet('{sf_oracle}/embeddings.parquet')"
    ).fetchall()
    import math

    FIX = 1_000_000_000.0
    per_ld: dict = {}
    for label, emb in rows:
        for dim, x in enumerate(emb):
            n, sf_, ss = per_ld.get((label, dim), (0, 0, 0))
            xd = float(x)
            per_ld[(label, dim)] = (
                n + 1,
                sf_ + math.floor(xd * FIX),
                ss + math.floor((xd * xd) * FIX),
            )
    dims = sorted({d for _, d in per_ld})
    labels = sorted({l for l, _ in per_ld})
    gsum = {d: sum(per_ld[(l, d)][1] for l in labels) for d in dims}
    n_tot = {d: sum(per_ld[(l, d)][0] for l in labels) for d in dims}
    expect = {}
    for l in labels:
        n_c = per_ld[(l, dims[0])][0]
        N = n_tot[dims[0]]
        ss_sum = sum(per_ld[(l, d)][2] for d in dims)
        musq = sum(per_ld[(l, d)][1] ** 2 for d in dims)
        diffsq = sum(
            (N * per_ld[(l, d)][1] - n_c * gsum[d]) ** 2 for d in dims
        )
        within = float(ss_sum) / FIX - float(musq) / ((float(n_c) * FIX) * FIX)
        between = float(diffsq) / (
            (((float(n_c) * float(N)) * float(N)) * FIX) * FIX
        )
        expect[l] = (n_c, within, between, between / within)
    got = {
        r["label"]: (r["n_vectors"], r["within_ss"], r["between_ss"], r["separability"])
        for r in embedding_separability_report(spark, sf_oracle).collect()
    }
    assert got == expect

    # plant: tight separated clusters vs interleaved noise
    import random

    rng = random.Random(7)
    planted = []
    for i in range(30):
        planted.append((i, 0, [1.0 + rng.uniform(-0.01, 0.01)] + [0.0] * 7))
    for i in range(30, 60):
        planted.append((i, 1, [-1.0 + rng.uniform(-0.01, 0.01)] + [0.0] * 7))
    for i in range(60, 90):
        planted.append((i, 2, [rng.uniform(-1, 1) for _ in range(8)]))
    d = tmp_path / "sf"
    spark.createDataFrame(
        planted, "vec_id long, label int, embedding array<float>"
    ).write.parquet(str(d / "embeddings.parquet"))
    sep = {
        r["label"]: r["separability"]
        for r in embedding_separability_report(spark, str(d)).collect()
    }
    assert sep[0] > 100 * sep[2] and sep[1] > 100 * sep[2], sep


def test_semdedup_planted_duplicate_families(spark, tmp_path):
    """SemDeDup semantics on planted data: identical vectors always
    share a cluster (same scores, same pinned tiebreak) and every
    member except the lowest id is marked dup; mutually-orthogonal
    unique vectors are never marked (cosine 0 < tau). Calls the raw
    compute directly so the planted run doesn't touch the session
    store cache."""
    from via_spark.operators.vector import semdedup_compute

    dim = 16
    def onehot(i, scale=1.0):
        v = [0.0] * dim
        v[i % dim] = scale
        return v

    rows = (
        [(i, onehot(0), 0) for i in range(5)]            # family A: ids 0-4
        + [(10 + i, onehot(1, 2.0), 1) for i in range(3)]  # family B: 10-12
        + [(100 + i, onehot(2 + i), 2) for i in range(6)]  # singletons
    )
    d = tmp_path / "sf"
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(d / "embeddings.parquet"))

    got = {
        r["vec_id"]: (r["cluster"], r["is_dup"])
        for r in semdedup_compute(spark, str(d), k=4).collect()
    }
    assert len(got) == len(rows)
    assert all(0 <= c < 4 for c, _ in got.values())
    # family A: one cluster, min id survives
    a_clusters = {got[i][0] for i in range(5)}
    assert len(a_clusters) == 1
    assert got[0][1] is False
    assert all(got[i][1] for i in range(1, 5))
    # family B likewise
    b_clusters = {got[10 + i][0] for i in range(3)}
    assert len(b_clusters) == 1
    assert got[10][1] is False
    assert all(got[10 + i][1] for i in range(1, 3))
    # orthogonal singletons never marked
    assert not any(got[100 + i][1] for i in range(6))


def test_semdedup_bucketed_oracle_parity_multibucket(spark, tmp_path):
    """Engine-vs-DuckDB parity of the PRODUCTION (k=None) SemDeDup
    chain on a corpus ABOVE the sign-LSH bucket target — the sf0.01
    driver fixture (500 vectors) always takes the bits=0 single-bucket
    degenerate path, so the bucketed seeds/Lloyd/subsplit/cluster-id
    arithmetic would otherwise never be cross-engine-proven. 10240
    vectors → bits = 1 ((10240//4096).bit_length()), 2 buckets, real
    per-bucket kk dials. Replicas follow the probe-data contract
    (circular shift + deterministic sign flip → distinct vectors, no
    K² pathology)."""
    import duckdb

    from via_spark.operators.vector import semdedup_compute
    from via_spark.oracles import semdedup_assignments_sql

    base = (
        spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    rows = []
    for k in range(21):  # 21 x 500 = 10500 > 4096 -> bits 1
        for r in base:
            emb = list(r["embedding"])
            s = k % len(emb)
            shifted = emb[s:] + emb[:s]
            if k % 3 == 1:
                shifted = [-x for x in shifted]
            rows.append((r["vec_id"] + 100_000 * k, shifted))
    d = tmp_path / "sf"
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(str(d / "embeddings.parquet"))

    got = {
        r["vec_id"]: (r["cluster"], r["is_dup"])
        for r in semdedup_compute(spark, str(d)).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d / 'embeddings.parquet'}/*.parquet')"
    )
    expect = {
        int(v): (int(c), bool(dup))
        for v, c, dup in con.sql(semdedup_assignments_sql()).fetchall()
    }
    assert len(got) == len(rows)
    assert got == expect
    # the bucketed path really ran: cluster ids from >= 2 buckets
    assert len({c >> 24 for c, _ in got.values()}) >= 2

    # the balance diagnostic agrees cross-engine on the SAME corpus
    # (its sf0.01 parity row only ever sees the bits=0 single bucket)
    from via_spark.operators.vector import semdedup_bucket_balance
    from via_spark.oracles import semdedup_bucket_balance_sql

    bal = {
        r["bkt"]: (r["n_vectors"], r["kk"], r["share_micro"], r["bits"])
        for r in semdedup_bucket_balance(spark, str(d)).collect()
    }
    bal_exp = {
        int(b): (int(n), int(kk), int(sh), int(bits))
        for b, n, kk, sh, bits in con.sql(
            semdedup_bucket_balance_sql()
        ).fetchall()
    }
    assert bal == bal_exp and len(bal) >= 2
    assert sum(n for n, _, _, _ in bal.values()) == len(rows)


def test_semdedup_hot_bucket_worst_case(spark, tmp_path):
    """Adversarial sign skew: every vector shares the bucket bit's
    sign, so the ENTIRE >target corpus lands in ONE bucket — the
    documented worst case of the r12 sign-LSH level (SCALE.md). The
    build must fall back to the two-level k-means inside the hot
    bucket (its own adaptive kk) and stay engine-vs-DuckDB exact; a
    planted identical family must still resolve (same cell, lower-id
    survivor)."""
    import random

    import duckdb

    from via_spark.operators.vector import semdedup_compute
    from via_spark.oracles import semdedup_assignments_sql

    rng = random.Random(11)
    dim = 16
    rows = []
    for i in range(5000):  # > 4096 -> bits = 1; bucket dim = 2 (1-based)
        v = [rng.uniform(-1, 1) for _ in range(dim)]
        v[1] = abs(v[1]) + 0.01  # dim 2 positive for EVERY vector
        rows.append((i, [round(x, 4) for x in v]))
    fam = rows[17][1]
    for j in range(3):  # planted identical family at high ids
        rows.append((6000 + j, list(fam)))
    d = tmp_path / "sf"
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(str(d / "embeddings.parquet"))

    got = {
        r["vec_id"]: (r["cluster"], r["is_dup"])
        for r in semdedup_compute(spark, str(d)).collect()
    }
    assert len(got) == len(rows)
    # one hot bucket: every cluster id carries the same bucket prefix
    assert len({c >> 24 for c, _ in got.values()}) == 1
    # identical family: same cell; all but the lowest id marked dup
    f_ids = [17, 6000, 6001, 6002]
    assert len({got[i][0] for i in f_ids}) == 1
    # (id 17 itself may or may not be marked — tau can catch a lower-id
    # non-family neighbor; the copies are unconditionally dups)
    assert all(got[i][1] for i in f_ids[1:])

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d / 'embeddings.parquet'}/*.parquet')"
    )
    expect = {
        int(v): (int(c), bool(dup))
        for v, c, dup in con.sql(
            semdedup_assignments_sql(dim=dim)
        ).fetchall()
    }
    assert got == expect


def test_embedding_clusters_exact_collapse_semantics(spark, tmp_path):
    """The r11 exact-duplicate collapse must be invisible in the
    output: identical non-zero vectors cluster with their family min
    as rep; members inherit the rep's EXTERNAL near-dup edges
    (transitivity through the family); zero-n_fix vectors stay
    singletons even when byte-identical (pinned degenerate cosine 0 <
    threshold — the carve-out the collapse must not break)."""
    from via_spark.operators.graph import embedding_clusters_compute

    dim = 8
    def v(i, scale=1.0):
        x = [0.0] * dim
        x[i % dim] = scale
        return x

    rows = (
        [(i, v(0)) for i in range(4)]          # family A: ids 0-3 identical
        + [(10, v(0, 1.001))]                   # near-dup of A (cos≈1)
        + [(20, v(1)), (21, v(2))]              # orthogonal singletons
        + [(30, [0.0] * dim), (31, [0.0] * dim)]  # identical ZERO vectors
    )
    d = tmp_path / "sf"
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(str(d / "embeddings.parquet"))

    got = {
        r["vec_id"]: (r["cluster_rep"], r["cluster_size"])
        for r in embedding_clusters_compute(spark, str(d), 0.8).collect()
    }
    assert len(got) == len(rows)
    # family + its external near-dup: one component, rep = min id 0
    assert {got[i] for i in (0, 1, 2, 3, 10)} == {(0, 5)}
    # orthogonal singletons
    assert got[20] == (20, 1) and got[21] == (21, 1)
    # identical zero vectors NEVER merge (cosine pinned to 0)
    assert got[30] == (30, 1) and got[31] == (31, 1)


def test_phash_clusters_exact_collapse_semantics(spark, tmp_path):
    """Same construction for the dHash builder: byte-identical
    payloads share a dhash → one cluster around the min doc_id; there
    is deliberately NO zero-hash carve-out (Hamming(h,h)=0 always
    edges, unlike cosine's zero-norm pin)."""
    from via_spark.operators.graph import phash_clusters_compute

    rows = (
        [(i, "exactly the same payload bytes for the whole family") for i in range(3)]
        + [(10, "a completely different document body with other words")]
        + [(11, "yet another unrelated payload that hashes elsewhere")]
    )
    d = tmp_path / "sf"
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(d / "documents.parquet")
    )
    got = {
        r["doc_id"]: (r["cluster_rep"], r["cluster_size"])
        for r in phash_clusters_compute(spark, str(d), 3).collect()
    }
    assert len(got) == len(rows)
    assert {got[i] for i in (0, 1, 2)} == {(0, 3)}
    assert got[10][1] == 1 and got[11][1] == 1


def _numpy_dot_fix(x, y) -> int:
    """Independent reference for ``dot_fix``: float64 multiply, ×1e9,
    floor, exact int64 sum."""
    import numpy as np

    prod = np.asarray(x, dtype=np.float64) * np.asarray(y, dtype=np.float64) * 1e9
    return int(np.floor(prod).astype(np.int64).sum())


def test_dot_fix_matches_numpy_reference(spark, sf_oracle):
    """dot_fix gives the EXACT BIGINT of the numpy reference on the real
    fixture vectors and on adversarial inputs: negatives (floor goes
    toward -inf), zeros, tiny and large magnitudes, and products that
    are not exact in binary."""
    from via_spark.functions.vector import dot_fix
    from via_spark.session import load_table

    # real fixture pairs: every corpus vector against a rotating partner
    e = load_table(spark, sf_oracle, "embeddings").select("vec_id", "embedding")
    n = e.count()
    pairs = (
        e.join(
            e.selectExpr("(vec_id + 7) % {} as vec_id".format(n), "embedding as emb_b"),
            "vec_id",
        )
        .select(F.col("embedding").alias("x"), F.col("emb_b").alias("y"))
        .select("x", "y", dot_fix("x", "y").alias("d"))
        .collect()
    )
    assert len(pairs) == n
    assert all(r["d"] == _numpy_dot_fix(r["x"], r["y"]) for r in pairs)

    # synthetic adversarial values (exact-representability edge cases)
    rows = [
        ([0.0] * 4, [0.0] * 4),
        ([1.5, -2.25, 0.1, -0.1], [0.3, 0.7, -0.9, 1.0]),
        ([1e-9, -1e-9, 123.456, -654.321], [1e9, -1e9, 0.000123, 7.0]),
        ([0.1] * 4, [0.3] * 4),
    ]
    df = spark.createDataFrame(
        [(list(map(float, x)), list(map(float, y))) for x, y in rows],
        "x array<double>, y array<double>",
    )
    got = [r["d"] for r in df.select(dot_fix("x", "y").alias("d")).collect()]
    assert got == [_numpy_dot_fix(x, y) for x, y in rows]


def test_dot_fix_null_nan_ragged_yield_null(spark):
    """The dot's one NULL contract: a NULL element, a NaN element or
    arrays of different length give NULL, never a partial sum."""
    from via_spark.functions.vector import dot_fix

    rows = [
        (0, [1.0, 2.5], [1.0, 1.0]),
        (1, [1.0, None], [1.0, 1.0]),
        (2, [1.0, float("nan")], [1.0, 1.0]),
        (3, [1.0], [1.0, 2.0]),
    ]
    df = spark.createDataFrame(rows, "id long, x array<double>, y array<double>")
    got = {r["id"]: r["d"] for r in df.select("id", dot_fix("x", "y").alias("d")).collect()}
    assert got == {0: 3_500_000_000, 1: None, 2: None, 3: None}


def test_dot_fix_builds_no_python_lambda(spark, monkeypatch):
    """dot_fix and the cosine scorer are SQL expressions: building them
    makes no Python lambda (each one costs py4j round trips)."""
    import pyspark.sql.functions.builtin as builtin

    from via_spark.functions.vector import dot_fix, with_cosine

    def no_lambda(f):
        raise AssertionError("built a Python lambda")

    df = spark.range(1).selectExpr("array(1.0D, 2.0D) AS a", "array(2.0D, 1.0D) AS b")
    monkeypatch.setattr(builtin, "_create_lambda", no_lambda)
    dot_fix("a", "b")
    scored = with_cosine(df, "a", "b")
    monkeypatch.undo()
    assert abs(scored.first()["score"] - 0.8) < 1e-12


def test_dot_sites_plan_no_python_eval(spark, sf_oracle):
    """The four densest pair-grain dot sites evaluate the dot on the
    JVM: their plans hold no ArrowEvalPython (Python worker) node."""
    from via_spark.operators import dedup, vector
    from via_spark.plans import executed_plan

    for fn in (
        dedup.lsh_density_outliers,
        dedup.neardup_lsh_recall_report,
        vector.semdedup_compute,
        vector.semdedup_containment_report,
    ):
        assert "ArrowEvalPython" not in executed_plan(fn(spark, sf_oracle)), fn.__name__


def test_broadcast_query_norm_computed_on_query_side(spark, sf_oracle):
    """At a broadcast-query site the query's squared norm is projected on
    the query frame before the broadcast: above the cross join each
    candidate row evaluates two dots (its own norm and the pair's),
    not three."""
    from via_spark.operators import vector

    plan = vector.knn_batch_topk(spark, sf_oracle)._jdf.queryExecution().optimizedPlan().toString()
    above, below = plan.split("Join Cross", 1)
    assert above.count("zip_with") == 2
    assert below.count("zip_with") == 1


def test_semdedup_survives_null_element(spark, tmp_path):
    """One NULL element in one vector does not fail the SemDeDup build:
    that vector's cosines are NULL, so it is never marked a duplicate
    and never marks one; the planted identical family still resolves."""
    from via_spark.operators.vector import semdedup_compute

    dim = 16

    def onehot(i):
        v = [0.0] * dim
        v[i % dim] = 1.0
        return v

    rows = (
        [(i, onehot(0)) for i in range(5)]
        + [(100 + i, onehot(2 + i)) for i in range(6)]
        + [(200, [None] + [1.0] * (dim - 1))]
    )
    d = tmp_path / "sf"
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").write.parquet(
        str(d / "embeddings.parquet")
    )
    got = {r["vec_id"]: r["is_dup"] for r in semdedup_compute(spark, str(d)).collect()}
    assert len(got) == len(rows)
    assert got[200] is False
    assert got[0] is False and all(got[i] for i in range(1, 5))


def test_simhash_arrow_bit_identical_to_native(spark, sf_oracle):
    """simhash_hex_arrow (the Arrow fingerprint twin, r15) must render
    the EXACT 16-hex-char fingerprint the pinned native expression
    renders for every document it replaces — the whole fixture corpus
    plus adversarial token streams: empty-ish docs (1 token), vote ties
    (even token counts with repeated tokens), unicode tokens (utf-8
    byte hashing), and long repetitive streams."""
    from via_spark.functions.simhash import simhash_hex_arrow
    from via_spark.functions.text import tokens
    from via_spark.session import load_table

    d = load_table(spark, sf_oracle, "documents")
    t = d.withColumn("toks", tokens(F.col("text"))).where(F.size("toks") > 0)
    mismatch = t.where(
        simhash_hex(F.col("toks")) != simhash_hex_arrow(F.col("toks"))
    ).count()
    assert mismatch == 0

    rows = [
        ([],),  # empty aggregate → zero votes → all-ones fingerprint
        (["single"],),
        (["tie", "tie"],),  # even vote counts exercise the >= 0 tie-to-1
        (["a", "b", "a", "b", "a"],),
        (["héllo", "wörld", "日本語", "emoji🎉"],),
        ([f"tok{i % 7}" for i in range(500)],),
    ]
    df = spark.createDataFrame(rows, "toks array<string>")
    got = df.select(
        simhash_hex(F.col("toks")).alias("native"),
        simhash_hex_arrow(F.col("toks")).alias("arrow"),
    ).collect()
    assert all(r["native"] == r["arrow"] for r in got), got


def test_simhash_arrow_memo_is_bounded(spark, monkeypatch):
    """The Arrow kernel's per-worker token→hash memo is cleared once it
    exceeds SIMHASH_MEMO_MAX at a batch start, without changing output."""
    import pandas as pd

    from via_spark.functions import simhash

    simhash.simhash_hex_arrow(F.col("toks"))  # builds the kernel
    kernel = simhash._SIMHASH_PD.func
    memo = next(
        c.cell_contents for c in kernel.__closure__
        if isinstance(c.cell_contents, dict)
    )
    batch = pd.Series([[f"t{i}", f"u{i}", "shared"] for i in range(50)])
    want = kernel(batch).tolist()
    monkeypatch.setattr(simhash, "SIMHASH_MEMO_MAX", 10)
    assert len(memo) > 10
    assert kernel(batch).tolist() == want  # cleared, then refilled
    assert len(memo) == 101  # one batch's distinct tokens, not the history
