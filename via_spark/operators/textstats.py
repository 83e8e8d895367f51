"""Text-analysis operators for training-data pipelines (M6).

Beyond-reference capability (BASELINE.json north star): the per-document
text statistics an LLM data pipeline filters on — token counts, quality
scores, language ID, content fingerprints. All JVM-native column
expressions with DuckDB oracles.

Note on the fixture: ``documents.lang`` labels are synthetic (every
text is the same English-ish word salad), so the language heuristic is
validated for *correctness* on real multilingual samples in
``tests/test_textstats.py`` and for *parity* on the fixture.

Scale posture (100 TB): every operator is a stateless per-row
projection — no shuffle, no UDF, full whole-stage codegen; they compose
with any scan and keep predicate pushdown intact.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from via_spark.functions.text import tokens
from via_spark.operators.dedup import _shingles
from via_spark.session import load_table, nopush, spread

# BPE-ish pretokenizer: word runs OR single non-word non-space chars
BPE_RE = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"

QUALITY_FIX = 1_000_000.0

# Pinned stopword profiles (tiny, high-frequency function words).
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "es": ("el", "la", "los", "de", "que", "y", "en", "un"),
    "fr": ("le", "la", "les", "et", "de", "un", "est", "pour"),
}
CJK_RE = r"[\x{4e00}-\x{9fff}]"


def token_count_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + BPE-ish pretoken count + char count."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_RE), 0)).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars"),
    )


def _stop_hits(toks: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda x: x.isin(*words)))


def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals + one pinned composite score (1e-6 fixed-point):
    0.4·stopword_ratio + 0.3·alpha_ratio + 0.3·min(1, n_tokens/100)."""
    d = load_table(spark, sf_dir, "documents")
    t = d.withColumn("toks", tokens(F.col("text"))).withColumn("dl", F.size("toks"))
    alpha_chars = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    stop_ratio = _stop_hits(F.col("toks"), STOPWORDS["en"]) / F.col("dl")
    alpha_ratio = alpha_chars / F.length("text")
    len_norm = F.least(F.lit(1.0), F.col("dl") / F.lit(100.0))
    mean_tok_len = F.aggregate(
        F.transform(F.col("toks"), F.length), F.lit(0), lambda a, x: a + x
    ) / F.col("dl")
    quality = F.lit(0.4) * stop_ratio + F.lit(0.3) * alpha_ratio + F.lit(0.3) * len_norm
    return t.where(F.col("dl") > 0).select(
        "doc_id",
        F.col("dl").alias("n_tokens"),
        mean_tok_len.alias("mean_token_len"),
        stop_ratio.alias("stopword_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        F.floor(quality * F.lit(QUALITY_FIX)).cast("long").alias("quality_fix"),
    )


def lang_id_expr(text: Column, toks: Column) -> Column:
    """Heuristic language ID: CJK chars ⇒ zh, else argmax stopword hits
    with a pinned tie order (en > de > es > fr)."""
    scores = {lang: _stop_hits(toks, words) for lang, words in STOPWORDS.items()}
    m = F.greatest(*scores.values())
    pick = (
        F.when(scores["en"] == m, F.lit("en"))
        .when(scores["de"] == m, F.lit("de"))
        .when(scores["es"] == m, F.lit("es"))
        .otherwise(F.lit("fr"))
    )
    has_cjk = F.length(F.regexp_extract(text, CJK_RE, 0)) > 0
    return F.when(has_cjk, F.lit("zh")).otherwise(pick)


def lang_id_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID per document: CJK-character detection plus
    argmax stopword votes over the tokenized text (lang_id_expr),
    emitted next to the fixture's true label — all native column
    expressions, one scan."""
    d = load_table(spark, sf_dir, "documents")
    t = d.withColumn("toks", tokens(F.col("text"))).where(F.size("toks") > 0)
    return t.select(
        "doc_id", "lang", lang_id_expr(F.col("text"), F.col("toks")).alias("predicted_lang")
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str, k: int = 4) -> DataFrame:
    """Bottom-k sketch fingerprint: the k smallest 64-bit shingle hashes
    joined with ':' — a compact containment-comparable document id
    (rolling-hash family; same sketch ⇒ near-identical shingle sets)."""
    d = load_table(spark, sf_dir, "documents")
    t = d.withColumn("toks", tokens(F.col("text"))).where(F.size("toks") >= 3)
    sh = t.withColumn("sh", _shingles(F.col("toks")))
    hashes = F.transform(F.col("sh"), lambda s: F.substring(F.sha2(s, 256), 1, 16))
    return sh.select(
        "doc_id",
        F.concat_ws(":", F.slice(F.array_sort(hashes), 1, k)).alias("fingerprint"),
    )


# Repetition filters (Gopher/C4-style): lines are 8-token chunks.
LINE_TOKENS = 8
REP_FIX = 1_000_000.0


def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition quality signals per document:
    duplicate-line fraction, duplicate-5-gram fraction, and the
    character fraction covered by the most frequent word 2-gram.

    The fixture corpus is IID word salad with no natural repetition, so
    every row would score 0 on the dup metrics; like
    :func:`normalize_documents`, a deterministic repetition is planted
    (and mirrored in the oracle): the token list is truncated to a
    multiple of ``LINE_TOKENS`` and its first 8-token "line" is
    re-appended ``doc_id % 3`` times, so planted duplicates align with
    chunk boundaries and the metric genuinely fires on 2/3 of rows.

    Scale posture: pure per-row higher-order functions — no shuffle, no
    UDF; the 2-gram mode is found by sort + run-length scan
    (O(n log n) per row, vs the naive O(n·distinct) count-per-distinct
    loop), and stays inside whole-stage codegen.
    """
    # gated spread (r15): the repetition signals are per-row HOF-heavy
    # (line/gram assembly + sort + run-length scan per document) over a
    # single-split fixture scan — the same shape every spread() site
    # fixes; no-op on a multi-split cluster scan (guide §2.5)
    d = spread(load_table(spark, sf_dir, "documents"))
    L = LINE_TOKENS
    t = (
        d.select("doc_id", tokens(F.col("text")).alias("toks0"))
        # nopush: keep the tokenize out of the single-task scan stage
        # (same rationale as shingled_documents)
        .where(nopush(F.size("toks0") >= L))
        .select(
            "doc_id",
            F.concat(
                F.slice(
                    "toks0", 1, (F.floor(F.size("toks0") / L) * L).cast("int")
                ),
                F.flatten(
                    F.array_repeat(
                        F.slice("toks0", 1, L),
                        (F.col("doc_id") % 3).cast("int"),
                    )
                ),
            ).alias("toks"),
        )
    )
    nl = (F.size("toks") / L).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), nl - 1),
        lambda i: F.concat_ws(" ", F.slice("toks", i * L + 1, L)),
    )
    g2 = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.concat_ws(
            " ", F.element_at("toks", i), F.element_at("toks", i + 1)
        ),
    )
    g5 = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 4),
        lambda i: F.concat_ws(" ", F.slice("toks", i, 5)),
    )
    b = t.select(
        "doc_id",
        nl.alias("n_lines"),
        F.length(F.concat_ws(" ", F.col("toks"))).alias("total_chars"),
        lines.alias("lines"),
        g2.alias("g2"),
        g5.alias("g5"),
    )
    # Mode-of-array by sort + run-length scan: run starts are the
    # positions where the sorted array changes value; each run's length
    # is the gap to the next start.  Emits the same (c, g) struct shape
    # as the naive count-per-distinct loop, so the tie-break below
    # (lexicographically smallest max-count gram) is unchanged.
    s = F.array_sort("g2")
    starts = F.concat(
        F.array(F.lit(1).cast("bigint")),
        F.filter(
            F.sequence(F.lit(2), F.size("s2")),
            lambda i: F.element_at("s2", i.cast("int"))
            != F.element_at("s2", (i - 1).cast("int")),
        ),
    )
    b = b.withColumn("s2", s).withColumn("starts", starts)
    counted = F.transform(
        F.sequence(F.lit(1), F.size("starts")),
        lambda j: F.struct(
            (
                F.coalesce(
                    F.try_element_at("starts", (j + 1).cast("int")),
                    F.size("s2").cast("bigint") + 1,
                )
                - F.element_at("starts", j.cast("int"))
            )
            .cast("int")
            .alias("c"),
            F.element_at(
                "s2", F.element_at("starts", j.cast("int")).cast("int")
            ).alias("g"),
        ),
    )
    b = b.select(
        "doc_id", "n_lines", "total_chars", "lines", "g5", counted.alias("counted")
    ).withColumn("mc", F.array_max(F.transform("counted", lambda x: x["c"])))
    top2 = F.array_min(
        F.transform(
            F.filter("counted", lambda x: x["c"] == F.col("mc")), lambda x: x["g"]
        )
    )
    dup_line = F.floor(
        F.lit(REP_FIX)
        * (F.col("n_lines") - F.size(F.array_distinct("lines")))
        / F.col("n_lines")
    ).cast("long")
    dup_g5 = F.floor(
        F.lit(REP_FIX)
        * (F.size("g5") - F.size(F.array_distinct("g5")))
        / F.size("g5")
    ).cast("long")
    b = b.withColumn("top_2gram", top2)
    top_chars = F.floor(
        F.lit(REP_FIX) * F.col("mc") * F.length("top_2gram") / F.col("total_chars")
    ).cast("long")
    return b.select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        dup_line.alias("dup_line_frac_fix"),
        dup_g5.alias("dup_5gram_frac_fix"),
        "top_2gram",
        top_chars.alias("top_2gram_char_frac_fix"),
    )


# accent-fold map, built programmatically so src/dst stay aligned;
# covers the Latin accents DuckDB's ICU strip_accents folds identically
_ACCENTS = {
    "A": "ÀÁÂÃÄÅ", "a": "àáâãäå", "E": "ÈÉÊË", "e": "èéêë",
    "I": "ÌÍÎÏ", "i": "ìíîï", "O": "ÒÓÔÕÖ", "o": "òóôõö",
    "U": "ÙÚÛÜ", "u": "ùúûü", "C": "Ç", "c": "ç", "N": "Ñ", "n": "ñ",
    "Y": "Ý", "y": "ýÿ",
}
ACCENT_SRC = "".join(chars for chars in _ACCENTS.values())
ACCENT_DST = "".join(base * len(chars) for base, chars in _ACCENTS.items())

ACCENT_WORDS = (
    "Zürich", "café", "naïve", "Ångström", "señor", "Crème", "Brûlée", "Tokyö"
)


def accent_fold(c: Column) -> Column:
    """Fold Latin accents to ASCII (pinned translate map — matches
    DuckDB ``strip_accents`` on every mapped character)."""
    return F.translate(c, ACCENT_SRC, ACCENT_DST)


def normalize_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-text normalization ahead of exact dedup: accent-fold +
    casefold + whitespace collapse. The fixture corpus is pure ASCII, so
    a deterministic accented token (chosen by doc_id) is planted on
    every row — each row exercises the fold, and the oracle plants
    identically and folds with ICU ``strip_accents``."""
    d = load_table(spark, sf_dir, "documents")
    word = F.element_at(
        F.array(*[F.lit(w) for w in ACCENT_WORDS]),
        (F.col("doc_id") % len(ACCENT_WORDS)).cast("int") + 1,
    )
    salted = F.concat_ws(" ", F.col("text"), word)
    norm = F.array_join(tokens(accent_fold(salted)), " ")
    return d.select("doc_id", norm.alias("norm_text"))


def bigram_top_terms(spark: SparkSession, sf_dir: str, k: int = 50) -> DataFrame:
    """Corpus-wide top-k word bigrams (pinned tokenizer) — the n-gram
    frequency table a data pipeline builds for contamination checks,
    boilerplate detection and LM-ish corpus statistics.

    Scale posture: bigram generation is a per-row zip of two array
    slices (no shuffle), then ONE hash aggregation keyed by bigram with
    map-side partial counts, and the global top-k is a
    TakeOrderedAndProject heap — never a full sort of the n-gram
    vocabulary.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, n1), F.slice(toks, 2, n1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(k)
    )


def char_trigram_profile(spark: SparkSession, sf_dir: str, per_lang: int = 10) -> DataFrame:
    """Top character trigrams per language label — the profile table
    behind n-gram language identification (lang_id_documents consumes a
    pinned version of exactly this kind of table).

    Scale posture: trigram expansion is per-row (sequence + substring,
    no shuffle — spread: a single-split fixture scan would serialize
    this, the query's dominant map stage), counts are one hash agg
    keyed (lang, gram), and the per-language cut is a WindowGroupLimit
    — only ``per_lang`` rows per language survive the rank shuffle.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    grams = F.when(
        F.length("text") >= 3,
        F.expr("transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))"),
    ).otherwise(F.array().cast("array<string>"))
    counted = (
        d.select("lang", F.explode(grams).alias("gram"))
        .groupBy("lang", "gram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("gram").asc())
    return (
        counted.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= per_lang)
        .select("lang", "gram", "n", "rank")
    )


def distinctive_terms_by_source(
    spark: SparkSession, sf_dir: str, top_k: int = 5, min_count: int = 10
) -> DataFrame:
    """Signature terms per source: the ``top_k`` terms whose in-source
    frequency most exceeds their corpus frequency (lift =
    in-source share / global share, min support ``min_count``) — the
    domain-signature table a curation pass uses to understand what each
    source actually contains.

    Scale posture: one (source, term) hash agg over exploded tokens,
    then joins against the per-source and global totals (source totals
    broadcast — sources are few; term totals join on the term key);
    the per-source cut is a WindowGroupLimit. All counts are exact
    BIGINTs; the lift derives from them with one pinned operation
    order.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    st = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("n_st"))
    )
    s_tot = st.groupBy("source").agg(F.sum("n_st").alias("tot_s"))
    g = st.groupBy("term").agg(F.sum("n_st").alias("n_g"))
    g_tot = st.agg(F.sum("n_st").alias("tot_g"))
    lift = (
        F.col("n_st").cast("double") / F.col("tot_s").cast("double")
    ) / (F.col("n_g").cast("double") / F.col("tot_g").cast("double"))
    w = Window.partitionBy("source").orderBy(F.col("lift").desc(), F.col("term").asc())
    return (
        st.join(F.broadcast(s_tot), "source")
        .join(g, "term")
        .crossJoin(F.broadcast(g_tot))
        .where(F.col("n_st") >= min_count)
        .withColumn("lift", lift)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("source", "term", "n_st", "lift", "rank")
    )


def chunk_documents(
    spark: SparkSession, sf_dir: str, chunk_tokens: int = 64, stride: int = 48
) -> DataFrame:
    """Document chunking for RAG / pre-training: split each document
    into ``chunk_tokens``-token windows every ``stride`` tokens
    (overlap = chunk_tokens - stride), emitting one row per chunk with
    its token span and re-joined text.

    Scale posture: chunk boundaries are a per-row generated sequence
    (no shuffle, no UDF); the explode multiplies rows by ~dl/stride —
    the same fan-out the downstream embedding stage has to pay anyway.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens(F.col("text")).alias("toks"))
    t = t.withColumn("dl", F.size("toks")).where(F.col("dl") > 0)
    starts = F.expr(f"sequence(0, dl - 1, {stride})")
    return (
        t.select("doc_id", "dl", "toks", F.posexplode(starts).alias("chunk_id", "start_tok"))
        .withColumn("chunk_toks", F.expr(f"slice(toks, start_tok + 1, {chunk_tokens})"))
        .select(
            "doc_id",
            "chunk_id",
            "start_tok",
            F.size("chunk_toks").alias("n_chunk_tokens"),
            F.array_join("chunk_toks", " ").alias("chunk_text"),
        )
    )


# dup-ngram span statistics: n=3 so the IID word-salad fixture (≈40-word
# vocabulary) actually shares grams; production corpora use n≈8-13
DUP_NGRAM_N = 3


def dup_ngram_stats(
    spark: SparkSession, sf_dir: str, n: int = DUP_NGRAM_N
) -> DataFrame:
    """Exact-substring duplication signal (the public "Deduplicating
    Training Data Makes Language Models Better" metric family): per
    document, how many of its DISTINCT word n-grams also occur in at
    least one other document, and the duplicated fraction.

    Scale posture: grams are hashed to 64 bits (xxhash64) before any
    shuffle so the text payload never moves; the cross-document
    visibility question is one hash agg keyed on the gram hash plus one
    equi-join back — never a self-join of documents. Collision risk at
    64 bits is ~(#grams)²/2⁶⁵ (negligible below ~10¹² distinct grams;
    beyond that, widen to a 128-bit hash). The output carries only
    counts, so the oracle can group on raw gram strings and still
    value-match.
    """
    d = load_table(spark, sf_dir, "documents")
    t = (
        d.select("doc_id", tokens(F.col("text")).alias("toks"))
        .where(F.size("toks") >= n)
    )
    grams = t.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(toks) - {n - 1}),"
                f" i -> concat_ws(' ', slice(toks, i, {n})))"
            )
        ).alias("gram"),
    )
    dg = grams.select("doc_id", F.xxhash64("gram").alias("gh")).distinct()
    # r15: cross-document visibility as a WINDOW count over the gram
    # hash instead of the r14 agg + join-back — the join derived the
    # distinct gram frame TWICE (once per side; the broadcast side's
    # subtree cannot stage-reuse the shuffle side's) and at corpus
    # scale would broadcast the shared-gram vocabulary, which grows
    # with the corpus and eventually exceeds the broadcast cap
    # (guide §2.4/§3.1). The window shares the one derivation and
    # stays a keyed shuffle at any scale. Values identical: ndocs per
    # gh over the distinct frame is exactly the old agg's count.
    from pyspark.sql import Window

    wg = Window.partitionBy("gh")
    counted = dg.withColumn("ndocs", F.count(F.lit(1)).over(wg))
    return (
        counted.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_shared",
            (F.col("n_shared") / F.col("n_grams")).alias("dup_ngram_ratio"),
        )
    )


def unigram_surprisal_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-quality filtering signal (the public CCNet recipe family):
    per-document mean unigram surprisal against the corpus's own
    unigram model — wordy/typical documents score low, gibberish and
    rare-token soup score high.

    Surprisal is quantized to WHOLE BITS via exact integer arithmetic:
    ``s(t) = floor(log2(total_tokens / count(t)))`` computed as the bit
    length of the integer quotient (``length(bin(q)) - 1``), because
    neither engine guarantees correctly-rounded transcendental log —
    a float log could differ in the last ulp between JVM and libm and
    break value-exact parity. The quantized score preserves the
    filter's ordering power (CCNet buckets perplexity into 3 coarse
    bins anyway).

    Scale posture: the unigram table is vocabulary-sized (fits in a
    broadcast at any corpus scale); the per-token join is a broadcast
    hash join; everything else is one per-doc hash agg. The 1-row
    totals frame rides a broadcast crossJoin like the baseline stats.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    counts = tok.groupBy("t").agg(F.count(F.lit(1)).alias("cnt"))
    totals = tok.agg(F.count(F.lit(1)).alias("total_toks"))
    scored = (
        tok.join(counts, "t")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            (
                F.length(F.expr("bin(total_toks div cnt)")) - F.lit(1)
            ).cast("long").alias("bits"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("bits").alias("surprisal_bits"),
    ).select(
        "doc_id",
        "n_tokens",
        "surprisal_bits",
        (F.col("surprisal_bits") / F.col("n_tokens")).alias("mean_bits"),
    )


# Sentence-break and syllable-proxy regexes for readability_scores —
# restricted to the Java∩RE2 common subset so the DuckDB oracle matches.
SENTENCE_RE = r"[.!?]+"
SYLLABLE_RE = r"[aeiouy]+"


def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document readability report: word / sentence / syllable-proxy
    counts and a Flesch-reading-ease-style score (Flesch 1948, public
    formula: 206.835 − 1.015·(words/sentences) − 84.6·(syllables/word)).
    Syllables are the standard vowel-group proxy; counts use the pinned
    whitespace tokenizer. A classic LLM-corpus quality signal alongside
    doc_quality_scores.

    Determinism: all three counts are exact integers; the score is a
    fixed left-assoc chain of IEEE double ops on those integers
    (identical in DuckDB), rounded half-up to 1e-4 before output per
    the repo's float-output convention.

    Scale posture: stateless per-row projection — no shuffle, no UDF,
    whole-stage codegen end to end.
    """
    d = load_table(spark, sf_dir, "documents")
    counted = d.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_words"),
        F.regexp_count(F.col("text"), F.lit(SENTENCE_RE)).cast("long").alias(
            "n_sentences"
        ),
        F.regexp_count(F.lower(F.col("text")), F.lit(SYLLABLE_RE)).cast("long").alias(
            "n_syllables"
        ),
    )
    w = F.greatest(F.col("n_words"), F.lit(1)).cast("double")
    s = F.greatest(F.col("n_sentences"), F.lit(1)).cast("double")
    raw = (
        F.lit(206.835)
        - F.lit(1.015) * (w / s)
        - F.lit(84.6) * (F.col("n_syllables").cast("double") / w)
    )
    return counted.withColumn(
        "flesch",
        F.floor(raw * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0),
    )


def length_filtered_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language length trim: keep documents whose
    ``n_chars`` falls inside the central 90% of their language's length
    distribution (drop the bottom and top 5% by count, ties kept
    together so the cut is value-deterministic).

    The cut is pure integer arithmetic on a per-(lang, n_chars)
    histogram: with per-lang total n and cumulative count cum(v), value
    v survives iff 20·cum(v) > n (not in the bottom 5%) and
    20·(n − cum(v) + cnt(v)) > n (not in the top 5%).

    Scale posture (the reason for the histogram): the full corpus does
    ONE hash agg on (lang, n_chars); the cumulative window runs on the
    tiny histogram (|langs| × |distinct lengths| rows), never on
    documents — so there is no per-language sort of the corpus, no skew
    from low-cardinality lang partitions. The surviving [lo, hi] bounds
    broadcast back as a dim join.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    hist = d.groupBy("lang", "n_chars").agg(F.count(F.lit(1)).alias("cnt"))
    wlang = Window.partitionBy("lang")
    wcum = wlang.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
    kept_vals = (
        hist.withColumn("cum", F.sum("cnt").over(wcum))
        .withColumn("n", F.sum("cnt").over(wlang))
        .where(
            (F.lit(20) * F.col("cum") > F.col("n"))
            & (F.lit(20) * (F.col("n") - F.col("cum") + F.col("cnt")) > F.col("n"))
        )
    )
    bounds = kept_vals.groupBy("lang").agg(
        F.min("n_chars").alias("lo"), F.max("n_chars").alias("hi")
    )
    return (
        d.join(F.broadcast(bounds), "lang")
        .where(F.col("n_chars").between(F.col("lo"), F.col("hi")))
        .select("doc_id", "lang", "n_chars")
    )


def doc_length_p95_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source p95 document length in tokens — the data-derived
    cutoff a curation pipeline feeds its length filter instead of one
    global constant (sources differ: code vs chat vs web have wildly
    different healthy length bands; ``length_filtered_documents`` is
    the fixed-threshold form this table parameterizes).

    Exactness: token counts are already integers, so the rank-based
    discrete p95 (``stats.rank_quantile``) is pure integer
    arithmetic end to end — no double exists anywhere in the contract.

    Scale posture: inherits the pinned histogram shape — one map-side-
    combined hash agg to (source, length) counts, cumulative window
    over the histogram (never the corpus), parallelism follows the
    source count.
    """
    from via_spark.operators.stats import rank_quantile

    d = load_table(spark, sf_dir, "documents")
    t = d.select("source", F.size(tokens(F.col("text"))).cast("long").alias("len"))
    return rank_quantile(t, ["source"], F.col("len"), 95).select(
        "source", F.col("p95_fix").alias("p95_tokens"), "n"
    )


def lang_metadata_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata QA: the confusion matrix of the corpus's DECLARED
    language column against the heuristic language-ID prediction —
    per (lang, predicted_lang): count, the share of that declared
    language it represents, and whether the cell is the diagonal. The
    table a pipeline owner reads to decide how far to trust upstream
    lang tags before routing per-language processing on them.

    Exactness: counts are integers; the share is one correctly-rounded
    division by the per-lang total (broadcast back from a langs-sized
    aggregate).

    Scale posture: rides the single-scan lang-ID projection into one
    (lang, predicted) hash agg — both keys low-cardinality, map-side
    partials; the per-lang totals re-aggregate the TINY matrix, not
    the corpus.
    """
    ids = lang_id_documents(spark, sf_dir)
    cell = ids.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cell.groupBy("lang").agg(F.sum("n").alias("lang_total"))
    return (
        cell.join(F.broadcast(tot), "lang")
        .select(
            "lang",
            "predicted_lang",
            "n",
            (F.col("n").cast("double") / F.col("lang_total").cast("double"))
            .alias("share"),
            (F.col("lang") == F.col("predicted_lang")).alias("agrees"),
        )
    )


OOV_VOCAB_SIZE = 1000  # top-V corpus tokens form the "tokenizer" vocabulary


def oov_rate_documents(
    spark: SparkSession, sf_dir: str, vocab_size: int = OOV_VOCAB_SIZE
) -> DataFrame:
    """Out-of-vocabulary-rate filter signal: build the corpus's own
    top-``vocab_size`` token vocabulary (by frequency, ties broken by
    token text for a total order) and report, per document, how many of
    its tokens fall OUTSIDE that vocabulary. Real pipelines compute
    this against the training tokenizer's vocab to drop documents the
    tokenizer would shred into bytes (binary junk, wrong-script text);
    the corpus-derived vocab is the self-contained form of the same
    gate. Zero-token documents produce no row (pinned, same contract
    as ``unigram_surprisal_scores``).

    Exactness: counts are integers; the rate is one correctly-rounded
    IEEE division of two exact integers. The vocabulary cut is
    deterministic under the (count desc, token asc) total order.

    Scale posture: the candidate table is vocabulary-sized, so the
    top-V cut plans as ``TakeOrderedAndProject`` (never a global sort)
    and the membership join broadcasts the V-row vocab against the
    token stream — one hash agg per doc after that, no further shuffle.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    vocab = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("t").asc())
        .limit(int(vocab_size))
        .select("t", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "t", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.lit(1) - F.coalesce("in_vocab", F.lit(0)))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            (F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"))
            .alias("oov_rate"),
        )
    )


def char_entropy_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-0 character-model compression size per document — the
    classic gibberish/boilerplate detector (low bits/char = repetitive
    filler, high bits/char = encrypted/binary soup; natural prose sits
    in a narrow band). Each character's code length is quantized to
    WHOLE BITS via exact integer arithmetic — ``floor(log2(n / cnt))``
    as the bit length of the integer quotient — because neither engine
    guarantees correctly-rounded transcendental log (same pinned trick
    as ``unigram_surprisal_scores``).

    Exactness: chars come from ``regexp_extract_all(text, '[\\s\\S]')``,
    codepoint-identical between Java regex and RE2 (fixture is ASCII;
    both engines are codepoint-aware on the class). All counts and bit
    sums are 64-bit integers; mean_bits is one exact-int division.

    Scale posture: one explode → (doc_id, char) hash agg with map-side
    partials; the per-doc total rides a partitioned window over the
    tiny per-doc char histogram (≤ alphabet-size rows per doc), never
    the corpus. No UDF, no join.
    """
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    ch = d.select(
        "doc_id",
        F.explode(F.regexp_extract_all("text", F.lit(r"[\s\S]"), 0)).alias("c"),
    )
    hist = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("cnt"))
    n = F.sum("cnt").over(Window.partitionBy("doc_id"))
    scored = hist.withColumn("n", n).select(
        "doc_id",
        "cnt",
        "n",
        (
            F.col("cnt")
            * (F.length(F.expr("bin(n div cnt)")) - F.lit(1)).cast("long")
        ).alias("bits"),
    )
    return scored.groupBy("doc_id").agg(
        F.max("n").alias("n_chars"),
        F.count(F.lit(1)).cast("long").alias("distinct_chars"),
        F.sum("bits").alias("entropy_bits"),
    ).select(
        "doc_id",
        "n_chars",
        "distinct_chars",
        "entropy_bits",
        (F.col("entropy_bits").cast("double") / F.col("n_chars").cast("double"))
        .alias("mean_bits_per_char"),
    )


def tokenizer_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility rollup (oracle ✔): per (source, lang), how
    many bytes a training token buys — the number a data-budget plan
    multiplies corpus size by. Reports both tokenizations the repo
    pins (whitespace and the BPE-ish pretokenizer) so their divergence
    per source is visible: sources whose bpe/ws ratio runs high are
    punctuation/code-heavy and will fragment under a real BPE.

    All columns are exact BIGINT sums with single final divisions
    (bytes per BPE token, BPE-per-ws ratio) — bit-identical
    cross-engine, no float accumulation.

    Scale posture: per-row counting expressions (whole-stage codegen)
    into one hash agg keyed by (source, lang); nothing else moves.
    """
    d = load_table(spark, sf_dir, "documents")
    counts = d.select(
        "source",
        "lang",
        F.length("text").alias("n_bytes"),
        F.size(tokens(F.col("text"))).alias("n_ws"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_RE), 0)).alias("n_bpe"),
    )
    return (
        counts.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
            F.sum("n_ws").cast("long").alias("total_ws_tokens"),
            F.sum("n_bpe").cast("long").alias("total_bpe_tokens"),
        )
        .select(
            "source",
            "lang",
            "n_docs",
            "total_bytes",
            "total_ws_tokens",
            "total_bpe_tokens",
            (
                F.col("total_bytes").cast("double")
                / F.col("total_bpe_tokens").cast("double")
            ).alias("bytes_per_bpe_token"),
            (
                F.col("total_bpe_tokens").cast("double")
                / F.col("total_ws_tokens").cast("double")
            ).alias("bpe_per_ws_ratio"),
        )
    )


# --- BPE tokenizer training (merge-table learner) --------------------------

BPE_MERGE_STEPS = 3
BPE_SEP = "\x01"  # symbol boundary marker; cannot occur in whitespace tokens


def bpe_merge_table(spark: SparkSession, sf_dir: str,
                    merges: int = BPE_MERGE_STEPS) -> DataFrame:
    """Train the first ``merges`` BPE merges on the corpus (Sennrich et
    al. 2016, "Neural Machine Translation of Rare Words with Subword
    Units"): count adjacent symbol pairs weighted by word frequency,
    merge the most frequent pair (lexicographic (left, right) tiebreak
    — no RNG), rewrite the vocabulary, repeat. Output: one row per
    merge step (step, merge_left, merge_right, merged, pair_count) —
    the merge table a BPE tokenizer ships.

    Merge application is pinned to boundary-delimited string replace
    (``␁l␁r␁`` → ``␁lr␁``, leftmost non-overlapping on the source
    string) — measured IDENTICAL in Spark and DuckDB, including the
    self-overlapping run case (l = r on an odd run, where canonical
    left-greedy BPE would differ: ␁a␁×5 merges positions 1-2 and 4-5
    here, 1-2 and 3-4 greedily). Every quantity is an exact integer or
    string, so parity is structural.

    Scale posture: the ONE corpus-scale pass is the initial word-count
    hash agg; every iteration after it runs over the VOCABULARY table
    (words × their symbol strings — bounded by distinct words, not
    corpus tokens), exactly how production BPE trainers scale. Each
    iteration's vocab frame is cached (tiny), because the next
    iteration references it through both the pair argmax and the
    rewrite — uncached that doubles the evaluation per level.
    """
    # spread(): the one corpus-scale pass (token explode + word-count
    # agg) must not serialize on a single-split fixture scan
    d = spread(load_table(spark, sf_dir, "documents"))
    # '\x01a\x01b\x01c\x01' — SEP-interleaved character symbols
    interleaved = F.concat(
        F.regexp_replace(F.col("w"), "(.)", BPE_SEP + "$1"), F.lit(BPE_SEP)
    )
    words = (
        d.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("cnt", interleaved.alias("s"))
        .cache()
    )
    best_rows = []
    for step in range(1, merges + 1):
        # hoist the symbol array to its own projection — inlining the
        # split+filter into the transform lambda re-evaluates it per
        # element (O(len^2) per word)
        pairs = (
            words.select(
                "cnt",
                F.expr(f"filter(split(s, '{BPE_SEP}'), x -> x != '')").alias(
                    "syms"
                ),
            )
            .select(
                "cnt",
                F.explode(
                    F.when(
                        F.size("syms") < 2,
                        F.expr(
                            "cast(array() as array<struct<l:string,r:string>>)"
                        ),
                    ).otherwise(
                        F.expr(
                            "transform(sequence(1, size(syms) - 1),"
                            " i -> struct(element_at(syms, i) as l,"
                            " element_at(syms, i + 1) as r))"
                        )
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("pair_count"))
        )
        best = pairs.orderBy(
            F.col("pair_count").desc(), F.col("l").asc(), F.col("r").asc()
        ).limit(1)
        best_rows.append(
            best.select(
                F.lit(step).alias("step"),
                F.col("l").alias("merge_left"),
                F.col("r").alias("merge_right"),
                F.concat("l", "r").alias("merged"),
                "pair_count",
            )
        )
        if step < merges:
            words = (
                words.crossJoin(F.broadcast(best))
                .select(
                    "cnt",
                    F.expr(
                        f"replace(s, concat('{BPE_SEP}', l, '{BPE_SEP}', r, '{BPE_SEP}'),"
                        f" concat('{BPE_SEP}', l, r, '{BPE_SEP}'))"
                    ).alias("s"),
                )
                .cache()
            )
    out = best_rows[0]
    for b in best_rows[1:]:
        out = out.unionAll(b)
    return out


def distinct_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n diversity per source (the distinct-1/2/3 metric of
    Li et al. 2016, the standard lexical-diversity gauge for generated
    or scraped corpora): unique n-grams over total n-grams, n-grams
    taken WITHIN documents (never across doc boundaries), emitted as
    1e-6 fixed-point ratios of exact BIGINT counts.

    A source whose distinct-2 collapses is template spam even when its
    vocabulary (distinct-1) looks healthy — the cross-check
    ``vocab_growth_curve`` can't do at source grain.

    Scale posture: one documents scan exploded once per n; each n is a
    (source, gram) hash agg with map-side combine, then a source-grain
    rollup — counts only, no token stream survives the shuffle wider
    than the gram space. The three n branches union at source grain
    (3 rows per source) before a 1-pivot projection.
    """
    return distinct_ngram_over(
        load_table(spark, sf_dir, "documents").select(
            "source", tokens(F.col("text")).alias("toks")
        )
    )


def distinct_ngram_over(d: DataFrame) -> DataFrame:
    """Core distinct-n over ANY (source, toks array) frame —
    property-tested against a pure-Python model in
    tests/test_properties.py."""
    per_n = []
    for n in (1, 2, 3):
        if n == 1:
            grams = F.explode("toks").alias("gram")
        else:
            grams = F.explode(
                F.expr(
                    f"transform(slice(toks, 1, greatest(size(toks) - {n - 1}, 0)),"
                    f" (t, i) -> concat_ws(' ', slice(toks, i + 1, {n})))"
                )
            ).alias("gram")
        per_n.append(
            d.select("source", grams)
            .groupBy("source", "gram")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("uniq"),
                F.sum("c").alias("total"),
            )
            .select("source", F.lit(n).alias("n"), "uniq", "total")
        )
    u = per_n[0].unionByName(per_n[1]).unionByName(per_n[2])
    return (
        u.groupBy("source")
        .pivot("n", [1, 2, 3])
        .agg(
            F.first(
                F.expr("named_struct('uniq', uniq, 'total', total)")
            )
        )
        .select(
            "source",
            F.col("`1`.total").alias("n_tokens"),
            F.col("`1`.uniq").alias("uniq_1"),
            F.expr("`1`.uniq * 1000000L div `1`.total").alias("distinct1_fix"),
            F.coalesce(F.col("`2`.uniq"), F.lit(0)).alias("uniq_2"),
            F.expr(
                "if(`2`.total is null or `2`.total = 0, cast(null as long),"
                " `2`.uniq * 1000000L div `2`.total)"
            ).alias("distinct2_fix"),
            F.coalesce(F.col("`3`.uniq"), F.lit(0)).alias("uniq_3"),
            F.expr(
                "if(`3`.total is null or `3`.total = 0, cast(null as long),"
                " `3`.uniq * 1000000L div `3`.total)"
            ).alias("distinct3_fix"),
        )
    )


def bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring (the CCNet/KenLM filtering recipe one
    order up from ``unigram_surprisal_scores``): per-document mean
    surprisal of each in-doc token bigram under the corpus's own
    add-one-smoothed bigram model —
    ``p(t_i | t_{i-1}) = (c(t_{i-1} t_i) + 1) / (c(t_{i-1}) + V)``.
    Fluent text that repeats corpus-typical transitions scores low;
    shuffled or machine-garbled text scores high even when its unigram
    mix looks normal (the failure mode the unigram score can't see).

    Surprisal is quantized to WHOLE BITS exactly as the unigram query
    pins it: ``floor(log2((c_ctx + V) / (c_bg + 1)))`` via the bit
    length of the integer quotient — no transcendental log, bit-exact
    in both engines (the quotient is ≥ 1 because c_ctx ≥ c_bg and
    V ≥ 1).

    Scale posture: the bigram and context tables are gram-space-sized
    (≪ corpus at any scale, Heaps' law) and join the token stream as
    broadcast hash joins; V is a 1-row broadcast crossJoin. One
    documents scan feeds one explode; the rollup is a per-doc hash agg.
    (A/B-measured: spread() on the scan is SLOWER here — 1.87 s vs
    1.34 s warm at sf0.1 — because the heavy joins run after their own
    exchanges; the single-split scan is not the bottleneck.)
    """
    return bigram_lm_over(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", tokens(F.col("text")).alias("toks")
        )
    )


def bigram_lm_over(d: DataFrame) -> DataFrame:
    """Core bigram-LM surprisal over ANY (doc_id, toks array) frame —
    property-tested against a pure-Python model in
    tests/test_properties.py."""
    bg = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(toks, 1, greatest(size(toks) - 1, 0)),"
                " (t, i) -> named_struct('ctx', t, 'nxt', toks[i + 1]))"
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.ctx").alias("ctx"), F.col("b.nxt").alias("nxt"))
    bg_counts = bg.groupBy("ctx", "nxt").agg(F.count(F.lit(1)).alias("c_bg"))
    ctx_counts = bg.groupBy("ctx").agg(F.count(F.lit(1)).alias("c_ctx"))
    vocab = d.select(F.explode("toks").alias("t")).agg(
        F.count_distinct("t").alias("v")
    )
    scored = (
        bg.join(bg_counts, ["ctx", "nxt"])
        .join(ctx_counts, "ctx")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            (
                F.length(F.expr("bin((c_ctx + v) div (c_bg + 1))")) - F.lit(1)
            ).cast("long").alias("bits"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("bits").alias("surprisal_bits"),
    ).select(
        "doc_id",
        "n_bigrams",
        "surprisal_bits",
        F.expr("surprisal_bits * 1000000L div n_bigrams").alias("mean_bits_fix"),
    )


# --- round-10 additions ---


def spearman_length_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Spearman rank correlation between document length
    (n_chars) and vocabulary size (distinct pinned tokens) — the
    monotone-association audit behind 'does this feed's length signal
    proxy for lexical richness, or are its long documents boilerplate?'
    A boilerplate-heavy source shows low rho (long docs, few distinct
    tokens); natural text shows high rho (Herdan's law).

    Exactness: ranks are row_number over the PINNED total order
    (metric, then doc_id) — the deterministic tie-broken variant, not
    tie-averaged (averaged ties need n+1/2 rationals; the tiebreak keeps
    every rank an integer and is pinned in both engines). Then
    ``rho_micro = (n(n²−1) − 6·Σd²)·1e6 div (n(n²−1))`` — one signed
    truncating division of exact BIGINTs. Sources with n < 2 report
    NULL (no variance to correlate).

    Scale posture: one documents scan computes both metrics per row
    (token set is a per-row codegen expression, never shuffled); the
    two rankings are windows over the SAME source partitioning (one
    exchange, two sorts); the rollup is a per-source hash agg. BIGINT
    bound: n³ ≤ 9e18 → 2.6e6 docs per source; beyond that, rank on the
    stratified-sample tier.
    """
    from pyspark.sql import Window

    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.col("n_chars"),
            F.size(F.array_distinct(tokens(F.col("text")))).cast("long").alias("n_vocab"),
        )
    )
    w_len = Window.partitionBy("source").orderBy(F.col("n_chars").asc(), F.col("doc_id").asc())
    w_voc = Window.partitionBy("source").orderBy(F.col("n_vocab").asc(), F.col("doc_id").asc())
    ranked = d.select(
        "source",
        (F.row_number().over(w_len).cast("long") - F.row_number().over(w_voc).cast("long")).alias("d_rank"),
    )
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("d_rank") * F.col("d_rank")).alias("sum_d2"),
        F.expr(
            "if(count(1) >= 2,"
            " (count(1) * (count(1) * count(1) - 1)"
            "  - 6 * sum(d_rank * d_rank)) * 1000000L"
            " div (count(1) * (count(1) * count(1) - 1)),"
            " cast(null as long))"
        ).alias("rho_micro"),
    )


RAKE_TOP_K = 25


def rake_keyphrases(spark: SparkSession, sf_dir: str, k: int = RAKE_TOP_K) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) over the corpus:
    candidate phrases are maximal stopword-free token runs
    (gaps-and-islands on the pinned tokenizer + the pinned "en"
    stopword set), each word scores ``degree/frequency`` (degree =
    Σ length of phrases containing it), and a phrase scores the sum of
    its word scores — the classic unsupervised keyword surface for
    corpus labeling and topic triage.

    Exactness: word scores are ``deg·1e6 div freq`` BIGINTs; phrase
    scores are BIGINT sums over member occurrences; duplicate phrase
    texts collapse (identical scores by construction — word scores are
    corpus-global) with an occurrence count. Top-k by
    (score desc, phrase asc) is a pinned total order.

    Scale posture: one documents scan → posexplode → the island id is
    one per-doc window (bounded partitions); phrase assembly and word
    stats are hash aggs keyed by (doc, island) / token; the word-score
    join is |vocab|-sized (Heaps-law small, broadcast); the final cut
    is a TakeOrderedAndProject heap. Nothing is quadratic.
    """
    from pyspark.sql import Window

    return rake_over(load_table(spark, sf_dir, "documents"), k)


def rake_over(d: DataFrame, k: int = RAKE_TOP_K) -> DataFrame:
    """Core RAKE over ANY (doc_id, text) frame — planted-fixture tested
    (island boundaries, degree/freq scores) in tests/test_operator_models.py."""
    from pyspark.sql import Window

    pos = d.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    ns = pos.where(~F.col("tok").isin(*STOPWORDS["en"]))
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = ns.withColumn("grp", F.col("pos") - F.row_number().over(w))
    ph = isl.groupBy("doc_id", "grp").agg(
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(pos, tok))), p -> p.tok)"),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).alias("n_words"),
    )
    wsc = (
        isl.join(ph.select("doc_id", "grp", "n_words"), ["doc_id", "grp"])
        .groupBy("tok")
        .agg(F.expr("sum(n_words) * 1000000L div count(1)").alias("wscore"))
    )
    psc = (
        isl.join(F.broadcast(wsc), "tok")
        .groupBy("doc_id", "grp")
        .agg(F.sum("wscore").alias("score_micro"))
    )
    return (
        ph.join(psc, ["doc_id", "grp"])
        .groupBy("phrase")
        .agg(
            F.max("n_words").alias("n_words"),
            F.count(F.lit(1)).alias("n_occ"),
            F.max("score_micro").alias("score_micro"),
        )
        .orderBy(F.col("score_micro").desc(), F.col("phrase").asc())
        .limit(k)
        .select("phrase", "n_words", "n_occ", "score_micro")
    )


def gini_token_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of token mass across documents, per source —
    the scalar inequality complement to revenue_concentration's decile
    curve, applied to the training-data question 'is this feed's token
    budget spread across documents or locked in a few giants?' (High
    Gini sources are crawl-dump-shaped; low Gini sources are uniform.)

    Exactness: with per-doc token counts sorted ascending and 1-based
    ranks i, ``G = (2·Σ i·x_i − (n+1)·S) / (n·S)`` — numerator and
    denominator exact BIGINTs, one truncating division to 1e-6. Rank
    ties break on doc_id (the Σ i·x_i sum is tie-order invariant when
    the x values are equal, so the tiebreak only pins determinism).

    Scale posture: token counts are per-row codegen; one window sort
    per source; one hash agg. Same BIGINT envelope as the Spearman op.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("long").alias("x"),
    )
    return gini_over(d)


def gini_over(d: DataFrame) -> DataFrame:
    """Core Gini over ANY (source, doc_id, x) frame — property-tested
    against a pure-Python model in tests/test_operator_models.py."""
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.col("x").asc(), F.col("doc_id").asc())
    ranked = d.select("source", "x", F.row_number().over(w).cast("long").alias("i"))
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("x").alias("total_tokens"),
        F.expr(
            "if(sum(x) > 0,"
            " (2 * sum(i * x) - (count(1) + 1) * sum(x)) * 1000000L"
            " div (count(1) * sum(x)),"
            " cast(null as long))"
        ).alias("gini_micro"),
    )


def good_turing_unseen_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good–Turing unseen-vocabulary mass per source: the probability
    that the NEXT token drawn from a source is a type never seen there,
    estimated by the Turing formula P₀ = n₁/N (hapax count over token
    count) — the coverage answer behind 'have we crawled this feed to
    exhaustion' that vocab_growth_curve shows as a trend and this pins
    as the statistic. Also reports the frequency-of-frequencies head
    (hapax / dis legomena / vocabulary) that the full Simple Good-Turing
    smoother would consume.

    Exactness: all counts are exact integers off one (source, token)
    hash agg; ``p_unseen_micro = n₁·1e6 div N`` is the single division.

    Scale posture: token explode → (source, token) hash agg (gram-space
    sized, Heaps' law) → per-source rollup. One documents scan.
    """
    d = load_table(spark, sf_dir, "documents")
    tok_counts = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return tok_counts.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum((F.col("c") == 1).cast("long")).alias("n_hapax"),
        F.sum((F.col("c") == 2).cast("long")).alias("n_dis"),
        F.expr("sum(if(c = 1, 1L, 0L)) * 1000000L div sum(c)").alias(
            "p_unseen_micro"
        ),
    )


YIELD_BITS_LADDER = (3, 4, 5, 6)


def surprisal_filter_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-yield curve for the unigram-surprisal quality gate: for
    each candidate threshold t (mean bits/token), how many documents
    and how much token mass a ``mean surprisal ≤ t`` filter would keep
    — the number you read BEFORE picking the filter knob (CCNet-style
    pipelines tune the perplexity cut by exactly this curve; cutting at
    4 bits vs 5 bits can halve the corpus).

    Exactness: the threshold test is the integer cross-multiplication
    ``surprisal_bits ≤ t·n_tokens`` (no float mean anywhere); kept
    counts, kept token mass, and the 1e-6 shares are exact integers
    with one truncating division each.

    Scale posture: rides unigram_surprisal_scores (one explode + one
    broadcast model join), then ONE pass over the per-doc frame crossed
    with the 4-row broadcast ladder.
    """
    scores = unigram_surprisal_scores(spark, sf_dir).select(
        "n_tokens", "surprisal_bits"
    )
    ladder = F.explode(
        F.array(*[F.lit(t).cast("long") for t in YIELD_BITS_LADDER])
    ).alias("t_bits")
    return (
        scores.select("n_tokens", "surprisal_bits", ladder)
        .groupBy("t_bits")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(
                (F.col("surprisal_bits") <= F.col("t_bits") * F.col("n_tokens"))
                .cast("long")
            ).alias("n_kept"),
            F.sum(
                F.when(
                    F.col("surprisal_bits") <= F.col("t_bits") * F.col("n_tokens"),
                    F.col("n_tokens"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias("tokens_kept"),
        )
        .select(
            "t_bits",
            "n_docs",
            "n_kept",
            F.expr("n_kept * 1000000L div n_docs").alias("doc_share_micro"),
            "tokens_kept",
            F.expr("tokens_kept * 1000000L div total_tokens").alias("token_share_micro"),
        )
    )


def hhi_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of the corpus token mass
    across sources — the 'is the training mix dominated by a few feeds'
    scalar beside gini_token_concentration (Gini: inequality of DOCS
    within a source; HHI: concentration of the CORPUS across sources;
    temperature_mixture_weights is the knob this number motivates
    turning). 1e6·(1/n_sources) = perfectly balanced; 1e6 = monopoly.

    Exactness: per-source shares are ``mass·1e6 div total`` BIGINTs;
    HHI = Σ share²/1e6 one more truncating division. One row, with the
    per-source shares returned alongside for the drill-down.

    Scale posture: one documents scan → per-source hash agg → the HHI
    scalar attaches back via broadcast (|sources| rows throughout).
    """
    d = load_table(spark, sf_dir, "documents").select(
        "source", F.size(tokens(F.col("text"))).cast("long").alias("x")
    )
    per = d.groupBy("source").agg(F.sum("x").alias("mass"))
    total = per.agg(F.sum("mass").alias("total"))
    shares = per.crossJoin(F.broadcast(total)).select(
        "source",
        "mass",
        F.expr("mass * 1000000L div total").alias("share_micro"),
    )
    hhi = shares.agg(
        F.expr("sum(share_micro * share_micro) div 1000000L").alias("hhi_micro"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return shares.crossJoin(F.broadcast(hhi)).select(
        "source", "mass", "share_micro", "n_sources", "hhi_micro"
    )


def simhash_bit_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bit 1-fraction of the corpus simhash fingerprints — the
    health check for the 64-bit Hamming dedup family: a healthy token
    hash gives every bit a ~0.5 one-rate; a stuck bit (ones_micro near
    0 or 1e6) halves that bit's discriminating power and silently
    degrades dedup_simhash_pairs recall. 64 output rows.

    Scale posture: rides the session-cached fingerprint frame
    (``vector.simhash_documents`` — the same one every Hamming-family
    query shares) instead of re-running the sha256 vote aggregation:
    bit b of a fingerprint is exactly (vote_b >= 0), which is exactly
    nibble-bit b of the hex rendering, so decoding 64 bits from the
    16 hex chars reproduces the vote-derived output value-for-value
    (r12 — the r11 form recomputed the full vote pipeline per run,
    11.6 s median vs ~1 s from cache). Docs with zero tokens are
    excluded (simhash_documents drops them), mirroring the oracle's
    token-derived CTE.
    """
    from via_spark.operators.vector import simhash_documents

    sh = simhash_documents(spark, sf_dir).cache()
    # 64-bit array from the hex: bit b = (nibble(b//4) >> (b%4)) & 1 —
    # one F.expr parse (the r12 build-time pattern)
    bits_sql = "array(" + ", ".join(
        f"(shiftright(CAST(conv(substring(simhash, {b // 4 + 1}, 1), 16, 10)"
        f" AS INT), {b % 4}) & 1)"
        for b in range(64)
    ) + ")"
    exploded = sh.select(
        F.expr(f"posexplode({bits_sql})").alias("bit", "one")
    )
    return (
        exploded.groupBy("bit")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("one").cast("long")).alias("n_ones"),
        )
        .select(
            F.col("bit").cast("int").alias("bit"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_ones").cast("long").alias("n_ones"),
            F.expr("n_ones * 1000000L div n_docs").alias("ones_micro"),
        )
    )


def stopword_coverage_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source stopword token share — a fast fluency signal (natural
    English prose sits near 0.3-0.6; code dumps, tables, and boilerplate
    sit far lower) that complements the gopher rules' per-document
    cut with a corpus-level view. Exact integer counts, one division.

    Scale posture: one scan, per-row token filter against the broadcast
    stopword list (array_contains over a literal array — no join), one
    |sources|-row agg.
    """
    from via_spark.functions.text import tokens
    from via_spark.session import load_table

    stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.size(
            F.filter(tokens(F.col("text")), lambda t: F.array_contains(stop, t))
        ).cast("long").alias("n_stop"),
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_stop").alias("n_stop"),
        )
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_stop").cast("long").alias("n_stop"),
            F.expr(
                "CASE WHEN n_tokens > 0 THEN n_stop * 1000000L div n_tokens END"
            ).alias("stop_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Staged r10 batch 4: corpus-statistics + fingerprinting operators
# ---------------------------------------------------------------------------

BURSTINESS_MIN_DF = 5      # ignore rare terms (cf/df is noise at df < 5)
BURSTINESS_TOP_K = 50
ZIPF_TOP_V = 100           # rank-frequency points per source
KN_TOP_K = 50              # reported bigrams
WINNOW_K = 4               # winnowing k-gram length (tokens)
WINNOW_W = 4               # winnowing window (consecutive k-gram hashes)


def term_burstiness_report(
    spark: SparkSession,
    sf_dir: str,
    k: int = BURSTINESS_TOP_K,
    min_df: int = BURSTINESS_MIN_DF,
) -> DataFrame:
    """Top-``k`` burstiest terms: burstiness = cf/df (Church & Gale's
    "clumpiness") — terms whose collection frequency concentrates in
    few documents (cf ≫ df) are content-bearing or boilerplate, terms
    near 1.0 are diffuse function words. A curation signal for spotting
    template spam (one term repeated thousands of times in a handful of
    docs) that per-document repetition scores miss at corpus level.

    Exact: cf, df are integer counts; ``burstiness_micro = cf·1e6 div
    df`` is pure BIGINT.

    Scale posture: per-(doc, term) counts are one explode + hash agg
    (map-side partial combine collapses within-doc repeats before the
    shuffle); per-term df/cf is a second vocab-keyed agg; the top-k is
    a TakeOrderedAndProject heap. Nothing retains corpus-sized state.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    tf = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = tf.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
    )
    return (
        stats.where(F.col("df") >= min_df)
        .select(
            F.col("t").alias("term"),
            "df",
            "cf",
            F.expr("cf * 1000000L div df").alias("burstiness_micro"),
        )
        .orderBy(F.col("burstiness_micro").desc(), F.col("term").asc())
        .limit(k)
    )


def zipf_slope_by_source(
    spark: SparkSession, sf_dir: str, v: int = ZIPF_TOP_V
) -> DataFrame:
    """Zipf rank-frequency slope per source: OLS of ln(freq) on
    ln(rank) over each source's top-``v`` terms. Natural-language
    corpora sit near −1; templated or synthetic text flattens toward 0
    — a one-number corpus-quality fingerprint per source.

    Parity: both logs are floored to the 1e-6 grid immediately (the
    BM25 IDF idiom — neutralizes ln ULP skew between engines), so the
    OLS sums are exact BIGINT; the single slope division converts two
    identical BIGINTs to correctly-rounded doubles on both engines.

    Scale posture: per-(source, term) frequency is one explode + hash
    agg; the per-source top-``v`` rides WindowGroupLimit (only ``v``
    rows per source survive the rank shuffle); the OLS is a
    |sources|-row agg over ``v`` points each.
    """
    from pyspark.sql import Window

    d = spread(load_table(spark, sf_dir, "documents"))
    freq = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("cf"))
    )
    w = Window.partitionBy("source").orderBy(F.col("cf").desc(), F.col("t").asc())
    pts = (
        freq.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= v)
        .select(
            "source",
            F.floor(F.log(F.col("r").cast("double")) * 1e6).cast("long").alias("x"),
            F.floor(F.log(F.col("cf").cast("double")) * 1e6).cast("long").alias("y"),
        )
    )
    agg = pts.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return agg.select(
        "source",
        F.col("n").alias("n_terms"),
        F.when(den != 0, num.cast("double") / den.cast("double")).alias("zipf_slope"),
    )


def kneser_ney_bigram_report(
    spark: SparkSession, sf_dir: str, k: int = KN_TOP_K
) -> DataFrame:
    """Kneser-Ney smoothed bigram probabilities (absolute discount
    d = 0.75) for the corpus's top-``k`` bigrams — the classic n-gram
    LM smoothing (continuation counts, not raw frequency, back the
    backoff mass), as a corpus-level language-model quality probe
    beside the raw-MLE ``bigram_lm_perplexity``.

    P_KN(w2|w1) = max(c12 − d, 0)/c1 + (d·N1+(w1·)/c1) · N1+(·w2)/N1+(··)

    Exact fixed-point: d = 3/4 is carried as quarters, every term is
    BIGINT arithmetic with truncating div, so
    ``p_kn_micro = (max(4·c12−3, 0)·1e6) div (4·c1)
                 + (3·N1p_fwd·pcont_micro) div (4·c1)``
    with ``pcont_micro = N1p_bwd·1e6 div n_types`` is engine-identical.

    Scale posture: bigram counts are one in-row transform + hash agg;
    the context (c1, N1+(w1·)) and continuation (N1+(·w2)) tables are
    vocab-keyed re-aggregations of that same counts frame; n_types is a
    1-row broadcast; the report is a top-k heap.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.select(tokens(F.col("text")).alias("toks")).where(
        nopush(F.size("toks") >= 2)  # keep tokenize out of the 1-task scan stage
    )
    bg = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("toks"), i).alias("w1"),
                    F.element_at(F.col("toks"), i + 1).alias("w2"),
                ),
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c12"))
    ctx = c12.groupBy("w1").agg(
        F.sum("c12").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1p_fwd"),
    )
    cont = c12.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("n1p_bwd"))
    types = c12.agg(F.count(F.lit(1)).cast("long").alias("n_types"))
    return (
        c12.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))
        .withColumn("pcont_micro", F.expr("n1p_bwd * 1000000L div n_types"))
        .withColumn(
            "p_kn_micro",
            F.expr(
                "greatest(4 * c12 - 3, 0L) * 1000000L div (4 * c1)"
                " + (3 * n1p_fwd * pcont_micro) div (4 * c1)"
            ),
        )
        .select("w1", "w2", "c12", "p_kn_micro")
        .orderBy(F.col("c12").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(k)
    )


def winnowing_fingerprint_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Robust-winnowing fingerprint selection stats per source
    (Schleimer, Wilkerson & Aiken, SIGMOD'03 — the MOSS algorithm):
    hash every ``WINNOW_K``-token gram, slide a ``WINNOW_W``-hash
    window, select each window's minimum (rightmost on ties), and
    report how many DISTINCT fingerprints survive per source. Expected
    density is 2/(w+1) on random text; sources that select far fewer
    are internally repetitive. Complements ``doc_fingerprint`` (bottom-k
    sketch): winnowing guarantees any shared run of
    ``WINNOW_K + WINNOW_W − 1`` tokens shares a fingerprint.

    Ties pick the RIGHTMOST minimum via one packed BIGINT:
    ``pack = h40·2^20 + (2^20 − 1 − pos)`` — min pack is min hash,
    then max position. Positions are capped at 2^20 grams/doc (raise
    the pack split for longer docs).

    Scale posture: gram explode + one per-doc window (ROWS BETWEEN w−1
    PRECEDING — a single ordered pass per doc, no self-join), distinct
    per doc, then a |sources|-row agg. Docs shorter than one full
    window are excluded up front.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    t = d.select("doc_id", "source", tokens(F.col("text")).alias("toks")).where(
        F.size("toks") >= WINNOW_K + WINNOW_W - 1
    )
    grams = t.select(
        "doc_id",
        "source",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - WINNOW_K),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(F.col("toks"), i + j + 1) for j in range(WINNOW_K)]
                ),
            )
        ).alias("pos", "gram"),
    )
    from pyspark.sql import Window

    pack = (
        F.conv(F.substring(F.sha2(F.col("gram"), 256), 1, 10), 16, 10).cast("long")
        * F.lit(1 << 20)
        + (F.lit((1 << 20) - 1) - F.col("pos"))
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(WINNOW_W - 1), 0)
    perdoc = (
        grams.withColumn("pack", pack)
        .withColumn("winmin", F.min("pack").over(win))
        .where(F.col("pos") >= WINNOW_W - 1)
        .groupBy("doc_id", "source")
        .agg(
            F.countDistinct("winmin").cast("long").alias("n_sel"),
            (F.max("pos") + 1).cast("long").alias("n_grams"),
        )
    )
    return (
        perdoc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_grams").alias("n_grams"),
            F.sum("n_sel").alias("n_selected"),
        )
        .select(
            "source",
            "n_docs",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_selected").cast("long").alias("n_selected"),
            F.expr("n_selected * 1000000L div n_grams").alias("density_micro"),
        )
    )


PMI_MIN_COUNT = 5
PMI_TOP_K = 50


def collocation_pmi_report(
    spark: SparkSession, sf_dir: str, k: int = PMI_TOP_K, min_count: int = PMI_MIN_COUNT
) -> DataFrame:
    """Collocation extraction via pointwise mutual information (Church
    & Hanks 1990): top-``k`` adjacent token pairs by
    ``pmi = ln(c12·N / (c_left·c_right))`` among bigrams with
    ``c12 ≥ min_count`` (the standard frequency floor — PMI of rare
    pairs is noise). High-PMI pairs are multiword units ("new york",
    "machine learning") a tokenizer or phrase-miner should treat as
    one; corpus-level complement to the per-doc RAKE keyphrases.

    Parity: counts are exact integers; the single ln runs on one
    pinned double chain (CAST·CAST / (CAST·CAST)) and floors to the
    1e-6 grid immediately (the BM25 IDF idiom).

    Scale posture: same shape as the KN report — one in-row bigram
    transform + hash agg, two vocab-keyed re-aggregations joined back,
    a 1-row broadcast total, a top-k heap.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.select(tokens(F.col("text")).alias("toks")).where(
        nopush(F.size("toks") >= 2)  # keep tokenize out of the 1-task scan stage
    )
    bg = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("toks"), i).alias("w1"),
                    F.element_at(F.col("toks"), i + 1).alias("w2"),
                ),
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c12"))
    left = c12.groupBy("w1").agg(F.sum("c12").alias("c_left"))
    right = c12.groupBy("w2").agg(F.sum("c12").alias("c_right"))
    total = c12.agg(F.sum("c12").alias("n_bigrams"))
    return (
        c12.where(F.col("c12") >= min_count)
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "pmi_micro",
            F.expr(
                "cast(floor(ln(cast(c12 as double) * cast(n_bigrams as double)"
                " / (cast(c_left as double) * cast(c_right as double)))"
                " * 1000000) as long)"
            ),
        )
        .select("w1", "w2", "c12", "pmi_micro")
        .orderBy(F.col("pmi_micro").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(k)
    )


TEMPLATE_POSITIONS = 10


def positional_template_entropy(
    spark: SparkSession, sf_dir: str, positions: int = TEMPLATE_POSITIONS
) -> DataFrame:
    """Boilerplate-prefix detector: per (source, token position p ≤
    ``positions``), the entropy of the token distribution at that
    position across the source's documents. Templated corpora (every
    doc opens "subject : re :") pin early positions near 0 nats;
    organic prose keeps them near the source's unigram entropy. The
    positional view catches fixed headers that per-document repetition
    scores and corpus burstiness both miss.

    Exactness: per-position entropy = ln(n_p) − (Σ c·lng(c))/n_p with
    every ln grid-floored to 1e-6 (one pinned double chain per count),
    then pure BIGINT sums and one truncating division.

    Scale posture: one in-row slice limits each doc to ``positions``
    tokens BEFORE the explode (the explode is ≤ positions rows/doc,
    not |tokens|); counts are one (source, pos, token) hash agg with
    map-side partials; the report is |sources|·positions rows.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    head = d.select(
        "source",
        F.posexplode(F.slice(tokens(F.col("text")), 1, positions)).alias("pos", "tok"),
    )
    counts = head.groupBy("source", "pos", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per_pos = counts.groupBy("source", "pos").agg(
        F.sum("c").alias("n_p"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(
            F.expr(
                "c * cast(floor(ln(cast(c as double)) * 1000000) as long)"
            )
        ).alias("clc_sum"),
    )
    return per_pos.select(
        "source",
        F.col("pos").cast("int").alias("pos"),
        F.col("n_p").cast("long").alias("n_docs"),
        "n_distinct",
        F.expr(
            "cast(floor(ln(cast(n_p as double)) * 1000000) as long)"
            " - clc_sum div n_p"
        ).alias("entropy_micro"),
    )
