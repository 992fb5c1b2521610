"""Oracle-checked text-analysis queries over `documents` (U2 tokenizer +
north-star text ops: token stats, quality scoring, language-ID,
fingerprinting)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_flink_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    distinct_token_count,
    fingerprint,
    predict_lang,
    stopword_count,
    tokenize,
)
from gmall_flink_spark.sources.tables import session_stage, spread, table


def keyword_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2+J10+A2: tokenize → explode → count per (lang, word) — the keyword
    window pipeline shape (app/dws/DwsTrafficSourceKeywordPageViewWindow
    .java:52-73) with lang standing in for the window key."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("lang", F.explode(tokenize("text")).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("word_ct"))
        .orderBy("lang", "word")
    )


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per language: integer sums, final double ratios."""
    docs = table(spark, sf_dir, "documents").withColumn("toks", tokenize("text"))
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("doc_ct"),
            F.sum(F.size("toks")).alias("tok_sum"),
            F.sum(distinct_token_count(F.col("toks"))).alias("distinct_sum"),
        )
        .withColumn("avg_tokens", F.col("tok_sum") / F.col("doc_ct"))
        .orderBy("lang")
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring per source: stopword ratio, vocabulary diversity,
    mean length — all from exact integer tallies."""
    docs = table(spark, sf_dir, "documents").withColumn("toks", tokenize("text"))
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("doc_ct"),
            F.sum(F.size("toks")).alias("tok_sum"),
            F.sum(stopword_count(F.col("toks"))).alias("stop_sum"),
            F.sum(distinct_token_count(F.col("toks"))).alias("distinct_sum"),
        )
        .withColumn("stop_ratio", F.col("stop_sum") / F.col("tok_sum"))
        .withColumn("distinct_ratio", F.col("distinct_sum") / F.col("tok_sum"))
        .orderBy("source")
    )


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic vs the labeled lang column: confusion counts."""
    docs = table(spark, sf_dir, "documents").withColumn("toks", tokenize("text"))
    return (
        docs.withColumn("predicted", predict_lang(F.col("toks")))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("doc_ct"))
        .orderBy("lang", "predicted")
    )


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full + 8-token-prefix md5 fingerprints per document."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        fingerprint("text").alias("fp"),
        fingerprint("text", prefix_tokens=8).alias("fp8"),
    ).orderBy("doc_id")


def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting per source (north-star token-count op;
    complements the whitespace counts in text_token_stats)."""
    from gmall_flink_spark.functions.text import bpe_token_count, token_count

    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.sum(bpe_token_count("text")).alias("bpe_tokens"),
            F.sum(token_count("text")).alias("ws_tokens"),
            F.max(bpe_token_count("text")).alias("bpe_max"),
        )
        .orderBy("source")
    )


def text_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule-style quality filter flags (the classic pre-training
    filter battery: length bounds, mean-word-length band, stopword presence,
    symbol ratio), aggregated per source. Every rule is an exact integer
    comparison (e.g. mean word length in [3,10] ⇔ 3*n <= chars <= 10*n) so
    the filter decisions are engine-portable — no FP thresholds."""
    from gmall_flink_spark.functions.text import gopher_flags

    docs = table(spark, sf_dir, "documents").withColumn("toks", tokenize("text"))
    fl = gopher_flags(F.col("toks"), "text")
    flags = docs.select(
        "source", *[c.alias(name) for name, c in fl.items()]
    )
    keep = ~(
        F.col("f_short") | F.col("f_long") | F.col("f_word_len")
        | F.col("f_no_stop") | F.col("f_symbols")
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("doc_ct"),
            F.sum(F.col("f_short").cast("bigint")).alias("short_ct"),
            F.sum(F.col("f_long").cast("bigint")).alias("long_ct"),
            F.sum(F.col("f_word_len").cast("bigint")).alias("word_len_ct"),
            F.sum(F.col("f_no_stop").cast("bigint")).alias("no_stop_ct"),
            F.sum(F.col("f_symbols").cast("bigint")).alias("symbol_ct"),
            F.sum(keep.cast("bigint")).alias("keep_ct"),
        )
        .orderBy("source")
    )


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (doc, term) with top-3 terms per doc (doc_id < 20 slice):
    tf = term count in doc, idf = ln(N / df). Counts stay exact integers
    until ONE deterministic double formula per row; ranking orders by
    (round(tfidf,6) DESC, term) so ties break stably. The df frame is the
    same inverted index the dedup suite shuffles on — one hash shuffle per
    aggregation, no driver loops."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    n_docs = docs.count()  # scalar dimension (metadata-scale, not data)
    terms = docs.select("doc_id", F.explode(tokenize("text")).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = terms.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    scored = (
        tf.where(F.col("doc_id") < 20)
        .join(df_, "term")
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", "rk", "term", "tf", "df", "tfidf")
        .orderBy("doc_id", "rk")
    )


def _log2_bucket(n):
    """Power-of-2 length bucket — the ONE binning shared by the corpus
    histogram and the drift monitor, so the drift report's buckets always
    correspond to the published histogram. Callers filter n > 0."""
    return F.floor(F.log2(n)).cast("bigint")


def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length distribution: docs bucketed by floor(log2(token_ct))
    (the standard power-of-2 histogram for sequence-length planning), with
    exact token totals per bucket."""
    docs = table(spark, sf_dir, "documents").withColumn("toks", tokenize("text"))
    n = F.size("toks")
    bucket = _log2_bucket(n)
    return (
        docs.where(n > 0)
        .groupBy(bucket.alias("log2_bucket"))
        .agg(
            F.count(F.lit(1)).alias("doc_ct"),
            F.sum(n.cast("bigint")).alias("tok_total"),
            F.min(n.cast("bigint")).alias("tok_min"),
            F.max(n.cast("bigint")).alias("tok_max"),
        )
        .orderBy("log2_bucket")
    )


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signal (the Gopher duplicate-n-gram
    family): per source, total vs distinct 3-gram counts and the number of
    docs whose duplicate-3-gram fraction exceeds 20%. All integer
    arithmetic (5 * dup_ct > total_ct ⇔ ratio > 0.2), built entirely from
    JVM higher-order functions — the shuffle only moves four counters per
    source."""
    docs = table(spark, sf_dir, "documents").withColumn("toks", tokenize("text"))
    n = F.size("toks")
    grams = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(0), n - 3),
            lambda i: F.array_join(F.slice("toks", i + 1, 3), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    with_counts = docs.select(
        "source",
        F.size(grams).alias("total3"),
        F.size(F.array_distinct(grams)).alias("distinct3"),
    )
    dup = F.col("total3") - F.col("distinct3")
    return (
        with_counts.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("doc_ct"),
            F.sum(dup).alias("rep3_ct"),
            F.sum("total3").alias("total3_ct"),
            F.sum((5 * dup > F.col("total3")).cast("bigint")).alias("flagged_ct"),
        )
        .orderBy("source")
    )


#: winnowing parameters: character-gram size and window width — any match
#: of WINNOW_K + WINNOW_W - 1 = 11+ chars is guaranteed to share a
#: fingerprint, at ~2/(w+1) the density of the full hash stream
WINNOW_K = 8
WINNOW_W = 4

#: per-doc winnow fingerprints, a session stage: text_winnow_fingerprint
#: and winnow_match_pairs consume the SAME gram stream (the two heaviest
#: bench entries, ~11.7s combined at sf0.1 when each re-hashed the corpus
#: — r04 "What's wrong" #3); at production scale this is the persisted
#: fingerprint table both queries read.
@session_stage("documents")
def _winnow_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, doc_id, m, fp_ct, fps): gram count, fingerprint count, and
    the winnowed fingerprint array per document — hashed once, eagerly
    localCheckpointed, shared by both winnow queries."""
    from gmall_flink_spark.functions.text import char_gram_hashes, winnow

    n_grams = F.greatest(F.length("text") - WINNOW_K + 1, F.lit(0))
    # grams MUST land as a named column before winnow references it 5×
    # (CollapseProject only refuses to inline multiply-referenced
    # aliases) — otherwise the md5 gram stream re-evaluates per
    # reference (measured 20-25s vs 5s for this stage at sf0.1).
    docs = (
        spread(table(spark, sf_dir, "documents"), "doc_id")
        .select(
            "source",
            "doc_id",
            n_grams.alias("m"),
            char_gram_hashes("text", WINNOW_K).alias("grams"),
        )
        .withColumn("fps", winnow(F.col("grams"), WINNOW_W, F.col("m")))
        .select("source", "doc_id", "m", F.size("fps").alias("fp_ct"), "fps")
    )
    return docs.localCheckpoint(eager=True)


def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting via winnowing (the MOSS
    selection scheme): hash every character 8-gram, keep each 4-window's
    minimum, dedup — per source, the gram volume, fingerprints selected,
    distinct fingerprints, and the shared surplus (fp_total - fp_distinct,
    the cross-document overlap signal that drives copy detection).

    Scale: the gram/winnow stage is map-only JVM higher-order functions
    (~2/(w+1) selection density bounds the explode volume); the only
    shuffle is ONE per-source aggregate over the exploded fingerprints —
    never the raw gram stream. The per-doc stats ride along on the pos-0
    row of ``posexplode_outer`` so the corpus is scanned and hashed exactly
    once (a separate distinct-count branch would recompute the whole hash
    stream — measured 3-4× slower); the hash stream itself comes from the
    shared ``_winnow_docs`` fingerprint table, computed once per session
    for both winnow queries. At production scale the portable md5
    gram hash (the cross-engine-checkable choice) would swap for
    ``xxhash64``, which halves the map cost without changing the shape."""
    docs = _winnow_docs(spark, sf_dir)
    first = F.col("pos").isNull() | (F.col("pos") == 0)
    return (
        docs.select(
            "source", "m", "fp_ct", F.posexplode_outer("fps").alias("pos", "f")
        )
        .groupBy("source")
        .agg(
            F.sum(first.cast("bigint")).alias("doc_ct"),
            F.sum(F.when(first, F.col("m")).otherwise(0)).alias("gram_total"),
            F.sum(F.when(first, F.col("fp_ct")).otherwise(0)).alias("fp_total"),
            F.count_distinct("f").alias("fp_distinct"),
        )
        .withColumn("shared_ct", F.col("fp_total") - F.col("fp_distinct"))
        .orderBy("source")
    )


#: document-frequency cap for the winnow inverted index: the synthetic
#: vocabulary makes some 8-grams near-universal (df 383 of 500 docs at
#: sf0.01 — quadratic bucket at scale); pairs count only fingerprints
#: discriminative enough to appear in <= WINNOW_MAX_DF docs, the same
#: standard guard as NGRAM_MAX_DF / LSH_MAX_BUCKET.
WINNOW_MAX_DF = 20
WINNOW_TOP_PAIRS = 20


def winnow_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy detection from winnowing fingerprints: invert the per-doc
    fingerprint sets, drop non-discriminative fingerprints (df >
    WINNOW_MAX_DF), self-join the index, and report the top-20 document
    pairs by shared-fingerprint count (ties broken by ids). This is the
    detection half of text_winnow_fingerprint — the MOSS report of
    longest-overlap suspects.

    Scale: the self-join shuffles on the fingerprint hash; the df cap
    bounds every join bucket at MAX_DF (so a bucket contributes at most
    MAX_DF² candidate rows no matter the corpus size), and candidate
    volume ∝ genuinely-shared content, not corpus². The gram stream comes
    from the shared ``_winnow_docs`` fingerprint table (one hash pass per
    session for both winnow queries); note explode_outer+isNotNull, not
    explode — inner explode synthesizes a `size(fps) > 0` filter that
    predicate pushdown would inline below upstream projects, re-running
    their expressions inside the filter."""
    from pyspark.sql import Window

    inv = (
        _winnow_docs(spark, sf_dir)
        .select("doc_id", F.explode_outer("fps").alias("f"))
        .where(F.col("f").isNotNull())
    )
    w_df = Window.partitionBy("f")
    # materialize the pruned inverted index once: it feeds BOTH sides of
    # the self-join, so without this the explode + df-window re-executes
    # per side (at production scale this materialization is the persisted
    # index table)
    keep = (
        inv.withColumn("df", F.count(F.lit(1)).over(w_df))
        .where(F.col("df") <= WINNOW_MAX_DF)
        .select("doc_id", "f")
        .localCheckpoint(eager=True)
    )
    a = keep.select(F.col("doc_id").alias("a_id"), "f")
    b = keep.select(F.col("doc_id").alias("b_id"), "f")
    pairs = (
        a.join(b, "f")
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("shared_ct"))
    )
    w_rk = Window.orderBy(F.desc("shared_ct"), "a_id", "b_id")
    return (
        pairs.withColumn("rk", F.row_number().over(w_rk))
        .where(F.col("rk") <= WINNOW_TOP_PAIRS)
        .select("rk", "a_id", "b_id", "shared_ct")
        .orderBy("rk")
    )


def doc_quality_scores(docs: DataFrame) -> DataFrame:
    """(source, doc_id, score): the engine's ONE integer quality score —
    stopword + vocabulary-diversity rates in basis points, integer ``div``
    so no FP threshold, empty docs dropped. Shared by the adaptive decile
    filter (text_quality_deciles) and near-dup representative selection
    (queries/llm_dedup.py::dedup_rep_select); the DuckDB twin is
    SCORED_DOCS_SQL below — change BOTH or neither."""
    toked = docs.withColumn("toks", tokenize("text"))
    base = toked.select(
        "source",
        "doc_id",
        F.size("toks").cast("bigint").alias("n"),
        stopword_count(F.col("toks")).cast("bigint").alias("stop"),
        distinct_token_count(F.col("toks")).cast("bigint").alias("dist"),
    ).where(F.col("n") > 0)
    return base.select(
        "source",
        "doc_id",
        F.expr("(10000 * stop) div n + (10000 * dist) div n").alias("score"),
    )


def text_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ADAPTIVE quality filter audit: each doc gets the shared
    integer quality score (doc_quality_scores), docs are ranked into
    deciles within their source (ntile over a total order — score then
    doc_id), and the bottom four deciles are cut. Per-source quantile
    thresholds are the standard corpus move when sources have different
    score distributions — a global threshold over- or under-cuts per
    source. One row per (source, decile) with the kept/cut decision.

    Scale: one shuffle on source for the ntile ranking; the per-source sort
    is the honest cost of an exact quantile cut (an approximate variant
    would use approx-percentile thresholds map-side)."""
    from pyspark.sql import Window

    scored = doc_quality_scores(table(spark, sf_dir, "documents"))
    w = Window.partitionBy("source").orderBy("score", "doc_id")
    return (
        scored.withColumn("decile", F.ntile(10).over(w))
        .groupBy("source", "decile")
        .agg(
            F.count(F.lit(1)).alias("doc_ct"),
            F.min("score").alias("score_min"),
            F.max("score").alias("score_max"),
        )
        .withColumn("kept", (F.col("decile") > 4).cast("bigint"))
        .orderBy("source", "decile")
    )


# --------------------------------------------------------------- PII scrub

#: detection patterns shared (semantically) with the oracle — kept to the
#: regex subset Java and RE2 agree on
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\(\d{3}\) 555-\d{4}"
PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over the corpus: count emails / phone
    numbers / IPv4 addresses per source, mask them (<EMAIL>/<PHONE>/<IP>),
    and prove the redacted text is clean (residual_ct). The synthetic
    corpus carries no PII, so deterministic fixtures derived from doc_id
    are appended first (~1 in 7/11/13 docs each) — the operator under test
    is the detect/redact pipeline, which is all JVM-side regexp_* (no
    Python in the scan path; at 100 TB this is a single map stage fused
    into the parquet scan, then one small groupBy(source))."""
    docs = table(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" call ("),
                F.lpad((F.col("doc_id") % 800 + 200).cast("string"), 3, "0"),
                F.lit(") 555-"),
                F.lpad((F.col("doc_id") % 9000 + 1000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.lit(" from 10."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit("."),
                ((F.col("doc_id") * 7) % 256).cast("string"),
                F.lit("."),
                (F.col("doc_id") % 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    d = docs.select("doc_id", "source", injected.alias("t"))
    email_ct = F.size(F.regexp_extract_all("t", F.lit(PII_EMAIL), F.lit(0)))
    phone_ct = F.size(F.regexp_extract_all("t", F.lit(PII_PHONE), F.lit(0)))
    ip_ct = F.size(F.regexp_extract_all("t", F.lit(PII_IP), F.lit(0)))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), PII_EMAIL, "<EMAIL>"),
            PII_PHONE,
            "<PHONE>",
        ),
        PII_IP,
        "<IP>",
    )
    residual = (
        F.size(F.regexp_extract_all(redacted, F.lit(PII_EMAIL), F.lit(0)))
        + F.size(F.regexp_extract_all(redacted, F.lit(PII_PHONE), F.lit(0)))
        + F.size(F.regexp_extract_all(redacted, F.lit(PII_IP), F.lit(0)))
    )
    per_doc = d.select(
        "source",
        email_ct.alias("e"),
        phone_ct.alias("p"),
        ip_ct.alias("i"),
        residual.alias("r"),
        F.length(redacted).alias("red_len"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("doc_ct"),
            F.sum((F.col("e") + F.col("p") + F.col("i") > 0).cast("int"))
            .cast("bigint")
            .alias("docs_with_pii"),
            F.sum("e").cast("bigint").alias("email_ct"),
            F.sum("p").cast("bigint").alias("phone_ct"),
            F.sum("i").cast("bigint").alias("ip_ct"),
            F.sum("r").cast("bigint").alias("residual_ct"),
            F.sum("red_len").cast("bigint").alias("redacted_chars"),
        )
        .orderBy("source")
    )


def text_surprisal_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring, reproducibly: each token's rarity class
    is floor(log2(corpus_tokens / token_count)) — an INTEGER surprisal in
    log2 units — so per-doc surprisal is an exact int sum (no FP
    accumulation order to disagree with the oracle; log2's FP error can't
    cross an integer boundary for int inputs < 2^53 off exact powers).
    Output: per source, histogram of per-doc mean surprisal (x10 fixed
    point). The deterministic stand-in for model-perplexity filtering.

    Scale: one token-explode groupBy for the vocab (map-side partials), a
    broadcast of the scalar total, the token->rarity join (vocab << corpus,
    AQE broadcasts), one (source, doc) agg — shuffles carry counters."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("source", "doc_id", F.explode(tokenize("text")).alias("t"))
    vocab = toks.groupBy("t").agg(F.count(F.lit(1)).alias("ct"))
    total = toks.agg(F.count(F.lit(1)).alias("total"))
    rarity = vocab.crossJoin(F.broadcast(total)).select(
        "t",
        F.floor(F.log2(F.expr("total div ct").cast("double"))).cast("bigint").alias("r"),
    )
    per_doc = (
        toks.join(rarity, "t")
        .groupBy("source", "doc_id")
        .agg(F.sum("r").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    return (
        per_doc.select("source", F.expr("(10 * s) div n").alias("mean10x"))
        .groupBy("source", "mean10x")
        .agg(F.count(F.lit(1)).alias("doc_ct"))
        .orderBy("source", "mean10x")
    )


def _bigram_doc_mean10x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc bigram-LM mean conditional surprisal (x10 fixed point) —
    the shared scoring stage under text_bigram_lm_score (histogram view)
    and ccnet_ppl_buckets (per-source tercile view). Integer-exact: each
    bigram's class is floor(log2(ctx_ct div big_ct)), per-doc score is an
    int sum, so both consumers and both oracles agree bit-for-bit."""
    docs = table(spark, sf_dir, "documents")
    toked = docs.select("source", "doc_id", tokenize("text").alias("l")).where(
        F.size("l") >= 2
    )
    pairs = F.zip_with(
        F.slice(F.col("l"), F.lit(1), F.size("l") - 1),
        F.slice(F.col("l"), F.lit(2), F.size("l") - 1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    bg = toked.select(
        "source", "doc_id", F.explode(pairs).alias("p")
    ).select("source", "doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    ctx = bg.groupBy("a").agg(F.count(F.lit(1)).alias("cn"))
    bct = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("bn"))
    cls = bct.join(ctx, "a").select(
        "a",
        "b",
        F.floor(F.log2(F.expr("cn div bn").cast("double"))).cast("bigint").alias("r"),
    )
    per_doc = (
        bg.join(cls, ["a", "b"])
        .groupBy("source", "doc_id")
        .agg(F.sum("r").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    return per_doc.select(
        "source", "doc_id", F.expr("(10 * s) div n").alias("mean10x")
    )


def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring — the CCNet-style perplexity filter one
    conditional order up from text_surprisal_hist's unigram model, built
    with the same integer-exactness trick: each bigram's conditional
    surprisal class is floor(log2(ctx_ct div big_ct)) where ctx_ct counts
    bigrams starting with the prefix token (so big_ct <= ctx_ct and the
    class is a non-negative INTEGER; log2 of an int can't cross an integer
    boundary off exact powers). Per-doc score = exact int sum over the
    doc's bigrams; output is the per-source histogram of mean conditional
    surprisal (x10 fixed point). High mean = improbable token sequences
    (noise/garbled text); low = templated text — both tails are what an
    LM-perplexity filter cuts.

    Scale: one bigram-key shuffle for the conditional table (map-side
    partials), one prefix-token shuffle for contexts (both vocab²- and
    vocab-bounded, << corpus), the class join back on the bigram key (AQE
    broadcasts when it fits), one (source, doc) agg. Docs with < 2 tokens
    have no bigrams and are excluded by construction."""
    return (
        _bigram_doc_mean10x(spark, sf_dir)
        .groupBy("source", "mean10x")
        .agg(F.count(F.lit(1)).alias("doc_ct"))
        .orderBy("source", "mean10x")
    )


#: CCNet's perplexity-tercile labels, best (lowest mean surprisal) first.
PPL_BUCKETS = ["head", "middle", "tail"]


def ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail bucketing (Wenzek et al. 2020,
    arXiv:1911.00359): within each source, rank documents by LM surprisal
    (the bigram mean10x from _bigram_doc_mean10x) and cut the ranking into
    perplexity terciles — ``head`` (most fluent third, kept for training),
    ``middle`` (kept or sampled), ``tail`` (usually dropped). The bucket
    boundary is ntile(3) over (mean10x, doc_id), so ties break on doc_id
    and the assignment is exactly reproducible. Output is the per-source
    bucket ledger: doc count, score range, and a doc_id checksum so the
    oracle verifies MEMBERSHIP, not just counts.

    Scale: the scoring stage is the shared vocab-bounded bigram plan; the
    tercile is one window sort partitioned BY SOURCE — at 100 TB sources
    are the natural parallel unit (CCNet buckets per language/snapshot the
    same way), so no global sort ever happens. A skewed mega-source would
    switch to approx-quantile boundaries + a broadcast range join; at the
    gate SFs the exact window IS the contract."""
    per_doc = _bigram_doc_mean10x(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("mean10x", "doc_id")
    tiles = per_doc.withColumn("tile", F.ntile(3).over(w))
    bucket = (
        F.when(F.col("tile") == 1, F.lit(PPL_BUCKETS[0]))
        .when(F.col("tile") == 2, F.lit(PPL_BUCKETS[1]))
        .otherwise(F.lit(PPL_BUCKETS[2]))
    )
    return (
        tiles.select("source", bucket.alias("bucket"), "mean10x", "doc_id")
        .groupBy("source", "bucket")
        .agg(
            F.count(F.lit(1)).alias("doc_ct"),
            F.min("mean10x").alias("min_mean10x"),
            F.max("mean10x").alias("max_mean10x"),
            F.sum("doc_id").alias("doc_id_sum"),
        )
        .orderBy("source", "bucket")
    )


#: boilerplate-detection parameters: shingle width, the per-source document
#: frequency at which a shingle counts as boilerplate (templates/footers
#: repeat across a source's docs; content doesn't), and the per-doc
#: boilerplate fraction (basis points) above which a doc is flagged.
BP_N = 3
BP_MIN_DF = 2
BP_DOC_BP = 1000


def text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/template detection — the CCNet/RefinedWeb-style cleanup
    step that near-dup ops miss: a shingle repeating across >= BP_MIN_DF
    docs *of the same source* is template text (nav bars, footers, legal
    blurbs), and a doc whose distinct shingles are >= BP_DOC_BP/10000
    boilerplate is mostly template. Reports per source the boilerplate
    dictionary size, total boilerplate hits, average per-doc boilerplate
    fraction (basis points, integer-exact), and flagged-doc count.

    Scale: the tokenize+shingle kernel runs ONCE — the exploded
    per-doc-distinct shingle stream is locally checkpointed (guide §3.3:
    materialize an intermediate with several consumers; the r14 plan
    audit showed the un-cut form ran FOUR tokenize+shingle corpus
    passes, one per consumer). ONE (source, shingle) shuffle over the
    checkpointed stream builds the df table (map-side partials); the
    boilerplate dictionary is its high-df residue — orders smaller than
    the stream — checkpointed too so the hit join and the per-source
    dictionary sizes read it instead of re-aggregating. Both per-doc
    totals ride one pass over the stream: shingle_ct = count per doc,
    bp_ct = dictionary hits via a left join (AQE broadcasts the
    dictionary when it fits). No self-join anywhere, so unlike the
    pairwise ops no df cap is needed: cost is linear in corpus shingles
    at any scale; the checkpoint writes the stream bytes once — the same
    byte volume its own shuffle already moves."""
    from gmall_flink_spark.functions.text import tokenize

    docs = table(spark, sf_dir, "documents")
    toked = docs.select("source", "doc_id", tokenize("text").alias("toks")).where(
        F.size("toks") >= BP_N
    )
    sh = F.transform(
        F.sequence(F.lit(0), F.size("toks") - BP_N),
        lambda i: F.array_join(F.slice("toks", i + 1, BP_N), " "),
    )
    shingles = toked.select(
        "source", "doc_id", F.explode(F.array_distinct(sh)).alias("shingle")
    ).localCheckpoint(eager=False)
    df_tab = shingles.groupBy("source", "shingle").agg(F.count(F.lit(1)).alias("df"))
    bp_dict = (
        df_tab.where(F.col("df") >= BP_MIN_DF)
        .select("source", "shingle")
        .localCheckpoint(eager=False)
    )
    per_doc = (
        shingles.join(
            bp_dict.withColumn("hit", F.lit(1)), ["source", "shingle"], "left"
        )
        .groupBy("source", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("shingle_ct"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("bp_ct"),
        )
        .withColumn("frac_bp", F.expr("(10000 * bp_ct) div shingle_ct"))
    )
    bp_sizes = bp_dict.groupBy("source").agg(
        F.count(F.lit(1)).alias("bp_shingle_ct")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("doc_ct"),
            F.sum("bp_ct").alias("bp_hit_total"),
            F.expr("sum(frac_bp) div count(1)").alias("avg_bp"),
            F.sum((F.col("frac_bp") >= BP_DOC_BP).cast("bigint")).alias("flagged_ct"),
        )
        .join(bp_sizes, "source", "left")
        .select(
            "source",
            "doc_ct",
            F.coalesce("bp_shingle_ct", F.lit(0)).alias("bp_shingle_ct"),
            "bp_hit_total",
            "avg_bp",
            "flagged_ct",
        )
        .orderBy("source")
    )


def text_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-distribution drift monitor — the corpus-side complement of
    sim_label_drift: split each source into two deterministic halves
    (doc_id parity standing in for consecutive snapshots), histogram
    token counts into power-of-2 buckets per half, and report per source
    the half sizes, an integer chi-square-style drift statistic over the
    basis-point histograms (sum of (p_bp - q_bp)² div 100), and the
    largest single-bucket shift. All arithmetic is integer basis points,
    so the drift decision is engine-exact. A source whose length profile
    moves between snapshots changed its scraping or cleaning — catch it
    before it skews sequence packing and length sampling.

    Scale: ONE (source, bucket) count with the two halves as conditional
    aggregates (map-side partials; a bucket missing from one half simply
    counts 0 there, so no outer join and no per-half re-shuffle — VERDICT
    r06 #8 trimmed this from 9 shuffles to 3); per-source totals roll up
    from that tiny histogram and broadcast back for the basis-point
    arithmetic."""
    docs = table(spark, sf_dir, "documents").withColumn("toks", tokenize("text"))
    n = F.size("toks")
    binned = docs.where(n > 0).select(
        "source",
        (F.col("doc_id") % 2).cast("int").alias("half"),
        _log2_bucket(n).alias("bucket"),
    )
    hist = binned.groupBy("source", "bucket").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("ct0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("ct1"),
    )
    # half totals roll up from the tiny histogram — never a second scan
    tots = hist.groupBy("source").agg(
        F.sum("ct0").alias("tot0"), F.sum("ct1").alias("tot1")
    )
    bp0 = F.when(F.col("tot0") > 0, F.expr("(10000 * ct0) div tot0")).otherwise(0)
    bp1 = F.when(F.col("tot1") > 0, F.expr("(10000 * ct1) div tot1")).otherwise(0)
    both = hist.join(F.broadcast(tots), "source").withColumn("d", bp0 - bp1)
    return (
        both.groupBy("source")
        .agg(
            F.sum("ct0").alias("n0"),
            F.sum("ct1").alias("n1"),
            F.sum(F.expr("(d * d) div 100")).alias("drift_x2"),
            F.max(F.abs("d")).alias("max_bp_diff"),
        )
        .orderBy("source")
    )


QUERIES = {
    "text_length_drift": text_length_drift,
    "text_boilerplate": text_boilerplate,
    "text_bpe_tokens": text_bpe_tokens,
    "text_quality_deciles": text_quality_deciles,
    "text_winnow_fingerprint": text_winnow_fingerprint,
    "winnow_match_pairs": winnow_match_pairs,
    "text_repetition": text_repetition,
    "text_gopher_flags": text_gopher_flags,
    "text_length_histogram": text_length_histogram,
    "text_tfidf_top_terms": text_tfidf_top_terms,
    "keyword_split": keyword_split,
    "text_token_stats": text_token_stats,
    "text_quality": text_quality,
    "text_langid": text_langid,
    "text_fingerprint": text_fingerprint,
    "text_pii_scrub": text_pii_scrub,
    "text_surprisal_hist": text_surprisal_hist,
    "text_bigram_lm_score": text_bigram_lm_score,
    "ccnet_ppl_buckets": ccnet_ppl_buckets,
}

_TOKS = "list_filter(string_split(text, ' '), x -> x != '')"
_STOP_IN = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"

#: DuckDB twin of doc_quality_scores — a (source, doc_id, score) relation
#: body for interpolation as a CTE. Imported by queries/llm_dedup.py so
#: dedup_rep_select's oracle scores with the SAME arithmetic.
SCORED_DOCS_SQL = f"""
    SELECT source, doc_id,
           (10000 * stop) // n + (10000 * dist) // n AS score
    FROM (
        SELECT source, doc_id,
               CAST(len(toks) AS BIGINT) AS n,
               CAST(len(list_filter(toks, x -> x IN {_STOP_IN})) AS BIGINT) AS stop,
               CAST(len(list_distinct(toks)) AS BIGINT) AS dist
        FROM (SELECT source, doc_id, {_TOKS} AS toks FROM documents)
    ) WHERE n > 0
"""


def _score(lang: str) -> str:
    marks = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return f"len(list_filter(toks, x -> x IN ({marks})))"


# first language (code order) achieving the max marker score — mirrors
# functions/text.predict_lang's strictly-greater chain.
_PRED = (
    "CASE "
    + " ".join(
        f"WHEN s_{lang} = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN '{lang}'"
        for lang in sorted(LANG_MARKERS)
    )
    + " END"
)

ORACLE = {
    "text_winnow_fingerprint": f"""
        WITH g AS (
            SELECT source,
                   CASE WHEN len(text) >= {WINNOW_K} THEN
                       list_transform(range(1, len(text) - {WINNOW_K} + 2),
                           i -> ('0x' || substr(md5('0|' || substr(text, i, {WINNOW_K})),
                                                1, 15))::BIGINT)
                   ELSE [] END AS grams
            FROM documents
        ),
        wnd AS (
            SELECT source, len(grams) AS m,
                   list_distinct(
                       CASE WHEN len(grams) = 0 THEN []
                            WHEN len(grams) < {WINNOW_W} THEN [list_min(grams)]
                            ELSE list_transform(
                                range(1, len(grams) - {WINNOW_W} + 2),
                                j -> list_min(grams[j : j + {WINNOW_W} - 1]))
                       END) AS fps
            FROM g
        ),
        per_source AS (
            SELECT source, COUNT(*) AS doc_ct,
                   CAST(SUM(m) AS BIGINT) AS gram_total,
                   CAST(SUM(len(fps)) AS BIGINT) AS fp_total
            FROM wnd GROUP BY 1
        ),
        d AS (
            SELECT source, COUNT(DISTINCT f) AS fp_distinct
            FROM (SELECT source, unnest(fps) AS f FROM wnd) GROUP BY 1
        )
        SELECT source, doc_ct, gram_total, fp_total, fp_distinct,
               CAST(fp_total - fp_distinct AS BIGINT) AS shared_ct
        FROM per_source JOIN d USING (source)
        ORDER BY source
    """,
    "winnow_match_pairs": f"""
        WITH g AS (
            SELECT doc_id,
                   CASE WHEN len(text) >= {WINNOW_K} THEN
                       list_transform(range(1, len(text) - {WINNOW_K} + 2),
                           i -> ('0x' || substr(md5('0|' || substr(text, i, {WINNOW_K})),
                                                1, 15))::BIGINT)
                   ELSE [] END AS grams
            FROM documents
        ),
        wnd AS (
            SELECT doc_id,
                   list_distinct(
                       CASE WHEN len(grams) = 0 THEN []
                            WHEN len(grams) < {WINNOW_W} THEN [list_min(grams)]
                            ELSE list_transform(
                                range(1, len(grams) - {WINNOW_W} + 2),
                                j -> list_min(grams[j : j + {WINNOW_W} - 1]))
                       END) AS fps
            FROM g
        ),
        inv AS (SELECT doc_id, unnest(fps) AS f FROM wnd),
        keep AS (
            SELECT doc_id, f FROM (
                SELECT doc_id, f, COUNT(*) OVER (PARTITION BY f) AS df FROM inv
            ) WHERE df <= {WINNOW_MAX_DF}
        ),
        pairs AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared_ct
            FROM keep a JOIN keep b ON a.f = b.f AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT row_number() OVER (ORDER BY shared_ct DESC, a_id, b_id) AS rk,
               a_id, b_id, shared_ct
        FROM pairs
        QUALIFY rk <= {WINNOW_TOP_PAIRS}
        ORDER BY rk
    """,
    "text_quality_deciles": f"""
        WITH scored AS ({SCORED_DOCS_SQL}),
        ranked AS (
            SELECT source, score,
                   ntile(10) OVER (PARTITION BY source
                                   ORDER BY score, doc_id) AS decile
            FROM scored
        )
        SELECT source, decile, COUNT(*) AS doc_ct,
               MIN(score) AS score_min, MAX(score) AS score_max,
               CAST(CASE WHEN decile > 4 THEN 1 ELSE 0 END AS BIGINT) AS kept
        FROM ranked GROUP BY source, decile
        ORDER BY source, decile
    """,
    "text_tfidf_top_terms": f"""
        WITH terms AS (
            SELECT doc_id, unnest({_TOKS}) AS term FROM documents
        ),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
        df AS (SELECT term, COUNT(*) AS df
               FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY 1),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
            SELECT doc_id, term, tf, df,
                   round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
            FROM tf JOIN df USING (term), n
            WHERE doc_id < 20
        )
        SELECT doc_id,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, term) AS rk,
               term, tf, df, tfidf
        FROM scored
        QUALIFY rk <= 3
        ORDER BY doc_id, rk
    """,
    "text_length_histogram": f"""
        WITH t AS (SELECT len({_TOKS}) AS n FROM documents)
        SELECT CAST(floor(log2(n)) AS BIGINT) AS log2_bucket,
               COUNT(*) AS doc_ct,
               CAST(SUM(n) AS BIGINT) AS tok_total,
               MIN(n) AS tok_min, MAX(n) AS tok_max
        FROM t WHERE n > 0
        GROUP BY 1 ORDER BY 1
    """,
    "text_gopher_flags": f"""
        WITH t AS (
            SELECT source, {_TOKS} AS toks, text FROM documents
        ),
        f AS (
            SELECT source,
                   len(toks) < 20 AS f_short,
                   len(toks) > 85 AS f_long,
                   (4 * len(toks) > len(array_to_string(toks, ''))
                    OR len(array_to_string(toks, '')) > 5 * len(toks)) AS f_word_len,
                   len(list_filter(toks, x -> x IN {_STOP_IN})) = 0 AS f_no_stop,
                   10 * len(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) > len(text)
                       AS f_symbols
            FROM t
        )
        SELECT source, COUNT(*) AS doc_ct,
               CAST(SUM(CASE WHEN f_short THEN 1 ELSE 0 END) AS BIGINT) AS short_ct,
               CAST(SUM(CASE WHEN f_long THEN 1 ELSE 0 END) AS BIGINT) AS long_ct,
               CAST(SUM(CASE WHEN f_word_len THEN 1 ELSE 0 END) AS BIGINT) AS word_len_ct,
               CAST(SUM(CASE WHEN f_no_stop THEN 1 ELSE 0 END) AS BIGINT) AS no_stop_ct,
               CAST(SUM(CASE WHEN f_symbols THEN 1 ELSE 0 END) AS BIGINT) AS symbol_ct,
               CAST(SUM(CASE WHEN NOT (f_short OR f_long OR f_word_len OR f_no_stop
                                       OR f_symbols) THEN 1 ELSE 0 END) AS BIGINT)
                   AS keep_ct
        FROM f GROUP BY 1 ORDER BY 1
    """,
    "text_repetition": f"""
        WITH t AS (
            SELECT source,
                   list_transform(range(len(toks) - 2),
                                  i -> array_to_string(toks[i + 1 : i + 3], ' '))
                       AS g
            FROM (SELECT source, {_TOKS} AS toks FROM documents)
        ),
        c AS (
            SELECT source, len(g) AS total3, len(list_distinct(g)) AS distinct3
            FROM t
        )
        SELECT source, COUNT(*) AS doc_ct,
               CAST(SUM(total3 - distinct3) AS BIGINT) AS rep3_ct,
               CAST(SUM(total3) AS BIGINT) AS total3_ct,
               CAST(SUM(CASE WHEN 5 * (total3 - distinct3) > total3
                             THEN 1 ELSE 0 END) AS BIGINT) AS flagged_ct
        FROM c GROUP BY 1 ORDER BY 1
    """,
    "text_bpe_tokens": r"""
        WITH t AS (
            SELECT source,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+'))
                       AS bpe,
                   len(list_filter(string_split(text, ' '), x -> x != '')) AS ws
            FROM documents
        )
        SELECT source, CAST(SUM(bpe) AS BIGINT) AS bpe_tokens, CAST(SUM(ws) AS BIGINT) AS ws_tokens,
               MAX(bpe) AS bpe_max
        FROM t GROUP BY 1 ORDER BY 1
    """,
    "keyword_split": f"""
        SELECT lang, word, COUNT(*) AS word_ct
        FROM (SELECT lang, unnest({_TOKS}) AS word FROM documents)
        GROUP BY lang, word ORDER BY lang, word
    """,
    "text_token_stats": f"""
        WITH t AS (SELECT lang, {_TOKS} AS toks FROM documents)
        SELECT lang, COUNT(*) AS doc_ct,
               CAST(SUM(len(toks)) AS BIGINT) AS tok_sum,
               CAST(SUM(len(list_distinct(toks))) AS BIGINT) AS distinct_sum,
               SUM(len(toks)) * 1.0 / COUNT(*) AS avg_tokens
        FROM t GROUP BY lang ORDER BY lang
    """,
    "text_quality": f"""
        WITH t AS (SELECT source, {_TOKS} AS toks FROM documents)
        SELECT source, COUNT(*) AS doc_ct,
               CAST(SUM(len(toks)) AS BIGINT) AS tok_sum,
               CAST(SUM(len(list_filter(toks, x -> x IN {_STOP_IN}))) AS BIGINT) AS stop_sum,
               CAST(SUM(len(list_distinct(toks))) AS BIGINT) AS distinct_sum,
               SUM(len(list_filter(toks, x -> x IN {_STOP_IN}))) * 1.0 / SUM(len(toks)) AS stop_ratio,
               SUM(len(list_distinct(toks))) * 1.0 / SUM(len(toks)) AS distinct_ratio
        FROM t GROUP BY source ORDER BY source
    """,
    "text_langid": f"""
        WITH t AS (SELECT lang, {_TOKS} AS toks FROM documents),
        s AS (SELECT lang, {_score('de')} AS s_de, {_score('en')} AS s_en,
                     {_score('es')} AS s_es, {_score('fr')} AS s_fr,
                     {_score('zh')} AS s_zh
              FROM t)
        SELECT lang, {_PRED} AS predicted, COUNT(*) AS doc_ct
        FROM s GROUP BY 1, 2 ORDER BY lang, predicted
    """,
    "text_fingerprint": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
        SELECT doc_id,
               md5(array_to_string(toks, ' ')) AS fp,
               md5(array_to_string(toks[1:8], ' ')) AS fp8
        FROM t ORDER BY doc_id
    """,
}

# DuckDB twin of text_pii_scrub: same injection arithmetic, same patterns
# (RE2 dialect; 'g' = replace all, matching Spark's regexp_replace default)
_PII_INJ = """
    text
    || CASE WHEN doc_id % 7 = 0
            THEN ' contact user' || doc_id || '@example.com' ELSE '' END
    || CASE WHEN doc_id % 11 = 0
            THEN ' call (' || lpad(CAST(doc_id % 800 + 200 AS VARCHAR), 3, '0')
                 || ') 555-' || lpad(CAST(doc_id % 9000 + 1000 AS VARCHAR), 4, '0')
            ELSE '' END
    || CASE WHEN doc_id % 13 = 0
            THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                 || CAST((doc_id * 7) % 256 AS VARCHAR) || '.'
                 || CAST(doc_id % 100 AS VARCHAR)
            ELSE '' END
"""
_PII_E = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_P = r"\(\d{3}\) 555-\d{4}"
_PII_I = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

ORACLE["text_pii_scrub"] = f"""
    WITH d AS (SELECT doc_id, source, {_PII_INJ} AS t FROM documents),
    per AS (
        SELECT source,
               len(regexp_extract_all(t, '{_PII_E}')) AS e,
               len(regexp_extract_all(t, '{_PII_P}')) AS p,
               len(regexp_extract_all(t, '{_PII_I}')) AS i,
               regexp_replace(regexp_replace(regexp_replace(
                   t, '{_PII_E}', '<EMAIL>', 'g'),
                      '{_PII_P}', '<PHONE>', 'g'),
                      '{_PII_I}', '<IP>', 'g') AS red
        FROM d
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS doc_ct,
           CAST(SUM(CASE WHEN e + p + i > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_with_pii,
           CAST(SUM(e) AS BIGINT) AS email_ct,
           CAST(SUM(p) AS BIGINT) AS phone_ct,
           CAST(SUM(i) AS BIGINT) AS ip_ct,
           CAST(SUM(len(regexp_extract_all(red, '{_PII_E}'))
                    + len(regexp_extract_all(red, '{_PII_P}'))
                    + len(regexp_extract_all(red, '{_PII_I}'))) AS BIGINT)
               AS residual_ct,
           CAST(SUM(len(red)) AS BIGINT) AS redacted_chars
    FROM per GROUP BY source ORDER BY source
"""

ORACLE["text_surprisal_hist"] = f"""
    WITH toks AS (
        SELECT source, doc_id, unnest({_TOKS}) AS t FROM documents
    ),
    vocab AS (SELECT t, COUNT(*) AS ct FROM toks GROUP BY t),
    tot AS (SELECT COUNT(*) AS total FROM toks),
    rarity AS (
        SELECT t, CAST(floor(log2(CAST(total // ct AS DOUBLE))) AS BIGINT) AS r
        FROM vocab, tot
    ),
    per_doc AS (
        SELECT source, doc_id, SUM(r) AS s, COUNT(*) AS n
        FROM toks JOIN rarity USING (t)
        GROUP BY source, doc_id
    )
    SELECT source, CAST((10 * s) // n AS BIGINT) AS mean10x,
           CAST(COUNT(*) AS BIGINT) AS doc_ct
    FROM per_doc
    GROUP BY source, mean10x
    ORDER BY source, mean10x
"""

ORACLE["text_bigram_lm_score"] = f"""
    WITH t AS (
        SELECT source, doc_id, {_TOKS} AS l FROM documents
    ),
    bg AS (
        SELECT source, doc_id, l[i] AS a, l[i + 1] AS b
        FROM (SELECT source, doc_id, l, unnest(range(1, len(l))) AS i
              FROM t WHERE len(l) >= 2)
    ),
    ctx AS (SELECT a, COUNT(*) AS cn FROM bg GROUP BY a),
    bc AS (SELECT a, b, COUNT(*) AS bn FROM bg GROUP BY a, b),
    cls AS (
        SELECT a, b, CAST(floor(log2(CAST(cn // bn AS DOUBLE))) AS BIGINT) AS r
        FROM bc JOIN ctx USING (a)
    ),
    per_doc AS (
        SELECT source, doc_id, SUM(r) AS s, COUNT(*) AS n
        FROM bg JOIN cls USING (a, b)
        GROUP BY source, doc_id
    )
    SELECT source, CAST((10 * s) // n AS BIGINT) AS mean10x,
           CAST(COUNT(*) AS BIGINT) AS doc_ct
    FROM per_doc
    GROUP BY source, mean10x
    ORDER BY source, mean10x
"""

ORACLE["ccnet_ppl_buckets"] = f"""
    WITH t AS (
        SELECT source, doc_id, {_TOKS} AS l FROM documents
    ),
    bg AS (
        SELECT source, doc_id, l[i] AS a, l[i + 1] AS b
        FROM (SELECT source, doc_id, l, unnest(range(1, len(l))) AS i
              FROM t WHERE len(l) >= 2)
    ),
    ctx AS (SELECT a, COUNT(*) AS cn FROM bg GROUP BY a),
    bc AS (SELECT a, b, COUNT(*) AS bn FROM bg GROUP BY a, b),
    cls AS (
        SELECT a, b, CAST(floor(log2(CAST(cn // bn AS DOUBLE))) AS BIGINT) AS r
        FROM bc JOIN ctx USING (a)
    ),
    per_doc AS (
        SELECT source, doc_id, CAST((10 * SUM(r)) // COUNT(*) AS BIGINT) AS mean10x
        FROM bg JOIN cls USING (a, b)
        GROUP BY source, doc_id
    ),
    tiles AS (
        SELECT source, doc_id, mean10x,
               ntile(3) OVER (PARTITION BY source ORDER BY mean10x, doc_id) AS tile
        FROM per_doc
    )
    SELECT source,
           CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS doc_ct,
           CAST(MIN(mean10x) AS BIGINT) AS min_mean10x,
           CAST(MAX(mean10x) AS BIGINT) AS max_mean10x,
           CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum
    FROM tiles
    GROUP BY source, bucket
    ORDER BY source, bucket
"""

ORACLE["text_boilerplate"] = f"""
    WITH toked AS (
        SELECT source, doc_id, {_TOKS} AS toks FROM documents
    ),
    sh AS (
        SELECT DISTINCT source, doc_id, shingle FROM (
            SELECT source, doc_id,
                   unnest([array_to_string(toks[i + 1 : i + {BP_N}], ' ')
                           for i in range(0, len(toks) - {BP_N} + 1)]) AS shingle
            FROM toked
        )
    ),
    df_tab AS (
        SELECT source, shingle, COUNT(*) AS df FROM sh GROUP BY 1, 2
    ),
    bp_dict AS (SELECT source, shingle FROM df_tab WHERE df >= {BP_MIN_DF}),
    hits AS (
        SELECT s.source, s.doc_id, CAST(COUNT(*) AS BIGINT) AS bp_ct
        FROM sh s JOIN bp_dict b ON s.source = b.source AND s.shingle = b.shingle
        GROUP BY 1, 2
    ),
    doc_tot AS (
        SELECT source, doc_id, CAST(COUNT(*) AS BIGINT) AS shingle_ct
        FROM sh GROUP BY 1, 2
    ),
    per_doc AS (
        SELECT d.source,
               COALESCE(h.bp_ct, 0) AS bp_ct,
               (10000 * COALESCE(h.bp_ct, 0)) // d.shingle_ct AS frac_bp
        FROM doc_tot d LEFT JOIN hits h
          ON d.source = h.source AND d.doc_id = h.doc_id
    ),
    roll AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS doc_ct,
               CAST(SUM(bp_ct) AS BIGINT) AS bp_hit_total,
               CAST(SUM(frac_bp) AS BIGINT) // COUNT(*) AS avg_bp,
               CAST(SUM(CASE WHEN frac_bp >= {BP_DOC_BP} THEN 1 ELSE 0 END)
                    AS BIGINT) AS flagged_ct
        FROM per_doc GROUP BY source
    ),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS bp_shingle_ct
              FROM bp_dict GROUP BY source)
    SELECT r.source, r.doc_ct, COALESCE(s.bp_shingle_ct, 0) AS bp_shingle_ct,
           r.bp_hit_total, r.avg_bp, r.flagged_ct
    FROM roll r LEFT JOIN sizes s ON r.source = s.source
    ORDER BY r.source
"""

ORACLE["text_length_drift"] = f"""
    WITH binned AS (
        SELECT source, doc_id % 2 AS half,
               CAST(floor(log2(len({_TOKS}))) AS BIGINT) AS bucket
        FROM documents WHERE len({_TOKS}) > 0
    ),
    hist AS (
        SELECT source, half, bucket, CAST(COUNT(*) AS BIGINT) AS ct
        FROM binned GROUP BY 1, 2, 3
    ),
    tots AS (
        SELECT source, half, CAST(COUNT(*) AS BIGINT) AS tot
        FROM binned GROUP BY 1, 2
    ),
    bp AS (
        SELECT h.source, h.half, h.bucket, (10000 * h.ct) // t.tot AS bp, h.ct
        FROM hist h JOIN tots t ON h.source = t.source AND h.half = t.half
    ),
    paired AS (
        SELECT COALESCE(a.source, b.source) AS source,
               COALESCE(a.bp, 0) - COALESCE(b.bp, 0) AS d,
               COALESCE(a.ct, 0) AS ct0, COALESCE(b.ct, 0) AS ct1
        FROM (SELECT * FROM bp WHERE half = 0) a
        FULL JOIN (SELECT * FROM bp WHERE half = 1) b
          ON a.source = b.source AND a.bucket = b.bucket
    )
    SELECT source, CAST(SUM(ct0) AS BIGINT) AS n0,
           CAST(SUM(ct1) AS BIGINT) AS n1,
           CAST(SUM((d * d) // 100) AS BIGINT) AS drift_x2,
           CAST(MAX(abs(d)) AS BIGINT) AS max_bp_diff
    FROM paired GROUP BY source ORDER BY source
"""
