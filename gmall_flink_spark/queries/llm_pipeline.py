"""Oracle-checked corpus-pipeline queries (north-star training-data ops
beyond dedup/similarity): benchmark decontamination, deterministic hash
sampling, per-group selection, embedding quantization.

The benchmark set for decontamination is a deterministic slice of the
documents table (doc_id % 97 == 0) standing in for an eval set; at real
scale the benchmark is tiny next to the corpus, which is why its shingle
set broadcasts (llm/corpus.py)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_flink_spark.llm.corpus import (
    decontaminate_overlap,
    hash_sample,
    quantize_i8_sum,
    topk_per_group,
)
from gmall_flink_spark.llm.dedup import word_shingles
from gmall_flink_spark.llm.similarity import prep, with_norm
from gmall_flink_spark.sources.tables import session_stage, table

NGRAM_N = 5
BENCH_MOD = 97
SAMPLE_PCT = 5


def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination report: corpus docs sharing >=1 distinct 5-gram with
    the benchmark slice, with overlap and total shingle counts."""
    docs = table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % BENCH_MOD == 0)
    corpus = docs.where(F.col("doc_id") % BENCH_MOD != 0)
    return decontaminate_overlap(corpus, bench, n=NGRAM_N).orderBy("doc_id")


def covered_positions(
    toked: DataFrame,
    bench_sh: DataFrame,
    n: int = NGRAM_N,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The span-scrub kernel, shared VERBATIM by the batch report
    (llm_decontaminate_scrub) and the streaming writer
    (plans/clean_corpus_stream — VERDICT r12 task 4): over a
    (carry..., doc_id, toks) frame, the DISTINCT 1-based token positions
    covered by any benchmark-matching ``n``-gram. Positional shingles via
    posexplode over a transform (docs shorter than n emit none — no
    ANSI out-of-bounds); the benchmark shingle dictionary is broadcast
    (eval sets are small by definition); overlapping hits merge through
    the DISTINCT — the interval-union semantics of the substring-dedup
    family. One map pass + a hit-volume-bounded distinct, never a
    corpus-sized shuffle."""
    starts = toked.select(
        *carry,
        "doc_id",
        F.posexplode(
            F.expr(
                f"CASE WHEN size(toks) >= {n} THEN "
                f"transform(sequence(1, size(toks) - {n} + 1), "
                f"i -> concat_ws(' ', slice(toks, i, {n}))) "
                "ELSE array() END"
            )
        ).alias("pos0", "shingle"),
    )
    return (
        starts.join(F.broadcast(bench_sh), "shingle")
        .select(
            *carry,
            "doc_id",
            F.explode(F.expr(f"sequence(pos0 + 1, pos0 + {n})")).alias("p"),
        )
        .distinct()
    )


def llm_decontaminate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-level contamination SCRUB report — the removal step after
    llm_decontaminate's doc-level detection (the GPT-3 appendix-C style
    scrub: instead of dropping a contaminated document, remove exactly
    the token positions covered by any benchmark-matching NGRAM_N-gram
    and keep the rest). Per source: corpus docs, docs hit, token totals
    before/after, tokens removed, and a position checksum (sum of removed
    1-based token positions) that pins WHICH spans were cut, not just how
    many tokens — two different span layouts with equal counts cannot
    both match the oracle.

    Scale: the benchmark's distinct shingle set is broadcast (eval sets
    are small by definition); the corpus side is one map pass producing
    positional shingles (posexplode over a transform — no shuffle until
    the per-source aggregate); covered-position dedup is bounded by
    hit-span volume, not the corpus. Overlapping hits merge via the
    DISTINCT on (doc, position) — the interval-union semantics of the
    substring-dedup family, reused at the contamination boundary."""
    from gmall_flink_spark.functions.text import tokenize

    n = NGRAM_N
    docs = table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % BENCH_MOD == 0)
    bench_sh = (
        word_shingles(bench, n=n).select("shingle").distinct()
    )
    toked = docs.where(F.col("doc_id") % BENCH_MOD != 0).select(
        "source", "doc_id", tokenize("text").alias("toks")
    )
    covered = covered_positions(toked, bench_sh, carry=("source",))
    rem = covered.groupBy("source").agg(
        F.countDistinct("doc_id").alias("doc_hit_ct"),
        F.count(F.lit(1)).alias("tok_removed"),
        F.sum("p").cast("bigint").alias("removed_pos_ck"),
    )
    base = toked.groupBy("source").agg(
        F.count(F.lit(1)).alias("doc_ct"),
        F.sum(F.size("toks")).cast("bigint").alias("tok_total"),
    )
    j = base.join(rem, "source", "left")
    return j.select(
        "source",
        "doc_ct",
        F.coalesce("doc_hit_ct", F.lit(0)).cast("bigint").alias("doc_hit_ct"),
        "tok_total",
        F.coalesce("tok_removed", F.lit(0)).cast("bigint").alias("tok_removed"),
        F.coalesce("removed_pos_ck", F.lit(0)).cast("bigint").alias("removed_pos_ck"),
        (F.col("tok_total") - F.coalesce("tok_removed", F.lit(0)))
        .cast("bigint")
        .alias("tok_after"),
    ).orderBy("source")


def llm_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5% doc sample (portable-hash bucketing on doc_id),
    summarized per source — reproducible sampling for dataset versioning."""
    docs = table(spark, sf_dir, "documents")
    return (
        hash_sample(docs, F.col("doc_id"), pct=SAMPLE_PCT)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("sample_ct"),
            F.sum("n_chars").alias("chars_total"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("source")
    )


#: fixed-size per-stratum sample size
STRATUM_K = 8


def llm_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size deterministic sample: the STRATUM_K docs with the
    smallest portable hash per source (bottom-k-by-hash = uniform without
    replacement, seed-free). The fixed-size counterpart of the rate-based
    ``hash_sample`` — eval slices and audits want exactly-k per stratum, a
    rate can't guarantee that. Bottom-k state is mergeable exactly like the
    KMV sketch (min-k of a union), so at 100 TB each partition keeps a
    local k and one small shuffle merges per stratum — the corpus is never
    globally sorted."""
    from gmall_flink_spark.functions.text import md5_long, token_count

    docs = table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        md5_long(F.col("doc_id").cast("string")).alias("h"),
        token_count("text").cast("bigint").alias("tok"),
    )
    return (
        topk_per_group(docs, "source", [F.asc("h"), F.asc("doc_id")], k=STRATUM_K)
        .select("source", "rn", "doc_id", "tok")
        .orderBy("source", "rn")
    )


def llm_source_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 longest docs per source (window row_number — one shuffle on
    the group key, no global sort of the corpus)."""
    docs = table(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    return topk_per_group(
        docs, "source", [F.desc("n_chars"), F.asc("doc_id")], k=3
    ).orderBy("source", "rn")


def llm_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization checksum per label: each vector is
    L2-normalized and quantized to round(127*x/norm); the per-label integer
    sums make the pass exactly checkable cross-engine (norms surface as
    round(norm*1e4) integers so no FP sum crosses a shuffle)."""
    emb = with_norm(prep(table(spark, sf_dir, "embeddings")))
    return (
        emb.select(
            "label",
            quantize_i8_sum(F.col("vec"), F.col("norm")).alias("qsum"),
            F.round(F.col("norm") * 10000).cast("bigint").alias("norm_e4"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("vec_ct"),
            F.sum("qsum").alias("qsum_total"),
            F.sum("norm_e4").alias("norm_e4_total"),
        )
        .orderBy("label")
    )


#: session stage for the per-doc clean verdicts: TWO headline queries
#: (llm_clean_corpus, llm_corpus_build) consume the identical quality →
#: decontaminate → dedup chain; without the stage each re-runs the whole
#: decontamination join (guide §2.4).
@session_stage("documents")
def _clean_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The clean pipeline's per-doc verdict frame (source, doc_id, tok,
    q_ok, contam, dup): quality rules → decontamination → prefix-fp dedup
    flags, in drop order. Shared by llm_clean_corpus (the drop ledger)
    and llm_corpus_build (the full epoch-construction composition). Inside one build, ``flagged``
    feeds BOTH the dup-ranking branch and the final verdict join; as
    unshared subtrees Catalyst would run the quality + decontamination
    chain twice per execution, so it is localCheckpointed first (the
    frame is one row per doc — verdict columns only, never text)."""
    from gmall_flink_spark.functions.text import fingerprint, gopher_keep, tokenize
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % BENCH_MOD == 0)
    corpus = docs.where(F.col("doc_id") % BENCH_MOD != 0).withColumn(
        "toks", tokenize("text")
    )
    q_ok = gopher_keep(F.col("toks"), "text")
    contaminated = (
        decontaminate_overlap(corpus, bench, n=NGRAM_N)
        .select("doc_id", F.lit(True).alias("contam"))
    )
    flagged = (
        corpus.select(
            "source",
            "doc_id",
            F.size("toks").cast("bigint").alias("tok"),
            q_ok.alias("q_ok"),
            fingerprint("text", prefix_tokens=8).alias("fp"),
        )
        .join(contaminated, "doc_id", "left")
        .withColumn("contam", F.coalesce("contam", F.lit(False)))
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    dups = (
        flagged.where(F.col("q_ok") & ~F.col("contam"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") > 1)
        .select("doc_id", F.lit(True).alias("dup"))
    )
    return (
        flagged.join(dups, "doc_id", "left")
        .withColumn("dup", F.coalesce("dup", F.lit(False)))
        .localCheckpoint(eager=True)
    )


def llm_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus materialization: quality filter (Gopher-rule
    battery) → benchmark decontamination → near-exact dedup on the 8-token
    prefix fingerprint (keep lowest doc_id per cluster — head-clustering
    policy), accounted per source with one row per drop reason. Composes the
    individual north-star ops into the pipeline a training-data run actually
    executes; rules apply in that order so each doc is dropped exactly
    once."""
    ranked = _clean_ranked(spark, sf_dir)
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_ct"),
            F.sum((~F.col("q_ok")).cast("bigint")).alias("drop_quality_ct"),
            F.sum((F.col("q_ok") & F.col("contam")).cast("bigint")).alias("drop_contam_ct"),
            F.sum(F.col("dup").cast("bigint")).alias("drop_dup_ct"),
            F.sum(
                (F.col("q_ok") & ~F.col("contam") & ~F.col("dup")).cast("bigint")
            ).alias("kept_ct"),
        )
        .orderBy("source")
    )


def llm_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL epoch-construction composition — the one-query report a
    training-data run signs off on before materializing an epoch: the
    clean pipeline's keep set (quality → decontaminate → prefix-dedup,
    the _clean_ranked verdicts shared with llm_clean_corpus) feeds the
    temperature-scaled mixture (alpha = 1/2 integer-sqrt weights over the
    KEPT token mass — the mix must be decided on what survives cleaning,
    not the raw crawl) and the deterministic epoch shuffle (the
    llm_shard_manifest hash rule over kept docs). Per source: raw and
    kept volume, kept token mass, the quantized weight, the exact
    allocation out of MIX_TOKEN_TARGET, the implied repetition factor
    (epochs ×100), the shard spread of the kept docs (proves the epoch
    shuffle covers the shard space for every surviving source), and a
    kept-membership checksum.

    Scale: ONE verdict scan — total and kept statistics are conditional
    aggregates of the same pass (two consumers of the verdict frame would
    make Catalyst duplicate the whole decontamination subtree — the
    _triplet_rank lesson), one source-grain aggregate with map-side
    partials, a 1-row weight-total broadcast; |sources| rows end to
    end."""
    from gmall_flink_spark.functions.text import md5_long
    from gmall_flink_spark.queries.datasel import N_SHARDS, SHARD_CK_MOD

    ranked = _clean_ranked(spark, sf_dir).withColumn(
        "keep", F.col("q_ok") & ~F.col("contam") & ~F.col("dup")
    )
    stats = ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("total_ct"),
        F.sum(F.col("keep").cast("bigint")).alias("kept_ct"),
        F.sum(F.when(F.col("keep"), F.col("tok")).otherwise(0)).alias("kept_tok"),
        F.countDistinct(
            F.when(
                F.col("keep"),
                F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(N_SHARDS)),
            )
        ).alias("shard_spread"),
        F.sum(
            F.when(F.col("keep"), F.col("doc_id") % SHARD_CK_MOD).otherwise(0)
        ).alias("kept_id_ck"),
    )
    return corpus_mix_report(stats).orderBy("source")


def corpus_mix_report(stats: DataFrame) -> DataFrame:
    """The temperature-mix tail of the epoch sign-off, over a per-source
    statistics frame (source, total_ct, kept_ct, kept_tok, shard_spread,
    kept_id_ck): quantized sqrt weights, exact allocation out of
    MIX_TOKEN_TARGET, implied epochs ×100. Shared by the batch
    llm_corpus_build and the streaming card
    (plans/clean_corpus_stream.corpus_build_card), so the arithmetic has
    ONE home. The |sources|-row input is eagerly checkpointed before its
    two consumers (weight total + final select) — unmaterialized,
    Catalyst re-runs the producing chain per consumer (the nb_grid
    lesson; measured 18 → 10 cold shuffles on the batch query)."""
    j = stats.withColumn(
        "weight_q",
        F.floor(F.sqrt(F.col("kept_tok").cast("double"))).cast("bigint"),
    ).localCheckpoint(eager=True)
    tot = j.agg(F.sum("weight_q").alias("wt"))
    return (
        j.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "total_ct",
            "kept_ct",
            "kept_tok",
            "shard_spread",
            "kept_id_ck",
            "weight_q",
            F.when(
                F.col("wt") > 0,
                F.expr(f"{MIX_TOKEN_TARGET}L * weight_q div wt"),
            ).otherwise(F.lit(0)).cast("bigint").alias("alloc_tok"),
        )
        .withColumn(
            "epochs_x100",
            F.when(
                F.col("kept_tok") > 0,
                F.expr("100L * alloc_tok div kept_tok"),
            ).otherwise(F.lit(0)).cast("bigint"),
        )
    )


#: target mixture: per-source keep percentage (hash buckets of 100); sources
#: not listed keep MIX_DEFAULT. The deterministic form of data-mixture
#: reweighting — same doc set every run, no RNG state.
MIX = {"src0": 80, "src1": 40, "src2": 40}
MIX_DEFAULT = 10


def llm_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source mixing: downsample each source to its target
    rate via portable-hash bucketing (map-side predicate, no shuffle until
    the audit aggregation). Reports total vs kept per source."""
    docs = table(spark, sf_dir, "documents")
    pct = F.col("source")
    expr = F.lit(MIX_DEFAULT)
    for src, p in sorted(MIX.items()):
        expr = F.when(pct == src, F.lit(p)).otherwise(expr)
    from gmall_flink_spark.functions.text import md5_long

    kept = F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(100)) < expr
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_ct"),
            F.sum(kept.cast("bigint")).alias("kept_ct"),
        )
        .orderBy("source")
    )


#: sequence-packing budget (whitespace tokens per packed sequence) and the
#: token mass each sequential packing unit targets. The shard COUNT is
#: derived per run as ceil(total_tokens / PACK_SHARD_TOKENS), so packing
#: parallelism grows with the corpus (a fixed shard count measured ~11×
#: at the 10× probe because the sequential unit grew with input — r04
#: "What's wrong" #4); 64Ki tokens ≈ 256 packed bins per shard locally,
#: and at 100 TB the same knob sizes shards to a writer task's appetite.
PACK_BUDGET = 256
PACK_SHARD_TOKENS = 65536


def _pack_shards(total_tokens: int) -> int:
    return max(1, (int(total_tokens) + PACK_SHARD_TOKENS - 1) // PACK_SHARD_TOKENS)


#: corpus token total, a session stage so the shard-sizing pre-aggregation
#: runs its corpus scan once per session, not once per llm_pack_sequences
#: invocation (bench warm pass, probe, plan inspections would otherwise
#: each pay — and trigger — a real Spark job at DataFrame-construction
#: time). ``base`` is not part of the key: it is always the same
#: documents-derived frame.
@session_stage("documents")
def _pack_total_tokens(spark: SparkSession, sf_dir: str, base: DataFrame) -> int:
    return base.agg(F.sum("tok")).first()[0] or 0

#: deterministic split thresholds over 100 hash buckets: train <90, val <95,
#: test otherwise.
SPLIT_TRAIN = 90
SPLIT_VAL = 95


def split_expr(key_col):
    """THE train/val/test hash-split rule (portable md5 bucket of the
    string-cast key) — the one expression behind llm_split_assign and the
    leakage audit/fix pair in queries/llm_dedup, so the audited rule can
    never drift from the assigning rule."""
    from gmall_flink_spark.functions.text import md5_long

    b = F.pmod(md5_long(key_col.cast("string")), F.lit(100))
    return (
        F.when(b < SPLIT_TRAIN, "train")
        .when(b < SPLIT_VAL, "val")
        .otherwise("test")
    )


def llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing audit: shard the corpus into
    ceil(total_tokens / PACK_SHARD_TOKENS) hash shards (bins never span
    shards — the parallel unit self-sizes with the corpus), pack docs into
    PACK_BUDGET-token bins in doc_id order, and report per-bin doc count,
    token fill, and doc-id span. The fold runs JVM-side per group
    (llm/corpus.py::pack_greedy); only the tiny per-bin audit shuffles.
    The shard count needs one scalar pre-aggregation (sum of tokens) —
    the one-row cost every adaptive partitioner pays up front; it is
    memoized per (session, corpus content), so repeated invocations reuse
    the total instead of re-scanning."""
    from gmall_flink_spark.functions.text import token_count
    from gmall_flink_spark.llm.corpus import pack_greedy

    base = table(spark, sf_dir, "documents").select(
        "source", "doc_id", token_count("text").alias("tok")
    )
    shards = _pack_shards(_pack_total_tokens(spark, sf_dir, base))
    docs = base.select(
        "source",
        F.pmod(F.col("doc_id"), F.lit(shards)).alias("shard"),
        F.col("doc_id"),
        F.col("tok"),
    )
    return (
        pack_greedy(docs, ["source", "shard"], "doc_id", "tok", PACK_BUDGET)
        .groupBy("source", "shard", "bin")
        .agg(
            F.count(F.lit(1)).alias("doc_ct"),
            F.sum("tok").alias("tok_total"),
            F.min("doc").alias("first_doc"),
            F.max("doc").alias("last_doc"),
        )
        .orderBy("source", "shard", "bin")
    )


def llm_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: portable-hash bucket of
    doc_id → split (map-only, seed-free, stable across runs/engines — the
    dataset-versioning property), audited per source x split."""
    from gmall_flink_spark.functions.text import token_count

    docs = table(spark, sf_dir, "documents")
    split = split_expr(F.col("doc_id"))
    return (
        docs.select("source", split.alias("split"), "doc_id", token_count("text").alias("tok"))
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("doc_ct"),
            F.sum("tok").alias("tok_total"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("source", "split")
    )


#: token budget per source (whitespace tokens) and the hash-bucket
#: granularity of the cut. The budget cut is bucket-granular BY DESIGN:
#: pass 1 aggregates tokens per (source, hash-bucket) — one small shuffle;
#: pass 2 runs the cumulative sum on the tiny bucket table and keeps whole
#: buckets while the running total fits. The corpus itself is never
#: sorted — at 100 TB a per-doc running sum would order every row of a
#: source on one reducer, while the bucket table stays ~BUCKETS rows per
#: source no matter the corpus size.
TOKEN_BUDGET = 600
BUDGET_BUCKETS = 16


def llm_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget cut audit: docs land in a deterministic hash
    bucket (uniform, seed-free), buckets are taken in index order while the
    source's cumulative token count stays within TOKEN_BUDGET. One row per
    (source, bucket) with the running total and the kept/cut decision —
    the sampling manifest a budgeted training run materializes."""
    from gmall_flink_spark.functions.text import md5_long, token_count
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents").select(
        "source",
        F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(BUDGET_BUCKETS)).alias(
            "bucket"
        ),
        token_count("text").alias("tok"),
    )
    per_bucket = docs.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).alias("doc_ct"), F.sum("tok").alias("tok_subtotal")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        per_bucket.withColumn("cum_tok", F.sum("tok_subtotal").over(w))
        .withColumn(
            "kept", (F.col("cum_tok") <= TOKEN_BUDGET).cast("bigint")
        )
        .orderBy("source", "bucket")
    )


#: weighted-sample size per stratum
WEIGHTED_K = 8


def llm_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size WEIGHTED sample per source: the WEIGHTED_K docs with the
    smallest Efraimidis-Spirakis key -ln(u)/w (llm/corpus.py::exp_jump_key,
    w = token count) — longer docs are proportionally likelier to be drawn,
    the standard corpus-curation move when sampling by token mass rather
    than by document. Deterministic (hash-derived u), mergeable min-k state
    like the uniform bottom-k sampler: one small shuffle per stratum, the
    corpus is never sorted."""
    from gmall_flink_spark.functions.text import token_count
    from gmall_flink_spark.llm.corpus import exp_jump_key

    docs = table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        token_count("text").cast("bigint").alias("tok"),
    )
    keyed = docs.withColumn("k_key", exp_jump_key(F.col("doc_id"), F.col("tok")))
    return (
        topk_per_group(keyed, "source", [F.asc("k_key"), F.asc("doc_id")], k=WEIGHTED_K)
        .select("source", "rn", "doc_id", "tok", "k_key")
        .orderBy("source", "rn")
    )


#: vocabulary cut size for llm_vocab_topk
VOCAB_TOP_K = 50

#: chunking geometry for llm_chunk_split: 64-token windows every 48 tokens
#: (16-token overlap) — the fixed-context splitting step of RAG/training prep
CHUNK_SIZE = 64
CHUNK_STRIDE = 48


def llm_chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking audit: split each doc into CHUNK_SIZE-token
    windows every CHUNK_STRIDE tokens (llm/corpus.py::chunk_spans — strict
    tail subspans dropped) and report per source the doc/token totals,
    chunk count, chunk-token volume (the overlap inflation over
    token_total), and how many chunks are full-size.

    Scale: span accounting is computed per doc with array higher-order
    functions — the chunks are never exploded, so the only shuffle is the
    tiny per-source aggregate. A consumer materializing actual chunk rows
    pays the explode fan-out deliberately, downstream of this audit."""
    from gmall_flink_spark.functions.text import token_count
    from gmall_flink_spark.llm.corpus import chunk_spans

    docs = table(spark, sf_dir, "documents").select(
        "source", token_count("text").cast("bigint").alias("n")
    )
    per_doc = docs.withColumn(
        "spans", chunk_spans(F.col("n"), CHUNK_SIZE, CHUNK_STRIDE)
    ).select(
        "source",
        "n",
        F.size("spans").cast("bigint").alias("chunk_ct"),
        F.aggregate(
            "spans", F.lit(0).cast("bigint"), lambda acc, sp: acc + sp["len"]
        ).alias("chunk_tokens"),
        F.size(
            F.filter("spans", lambda sp: sp["len"] == CHUNK_SIZE)
        ).cast("bigint").alias("full_ct"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("doc_ct"),
            F.sum("n").alias("token_total"),
            F.sum("chunk_ct").alias("chunk_ct"),
            F.sum("chunk_tokens").alias("chunk_tokens"),
            F.sum("full_ct").alias("full_ct"),
        )
        .orderBy("source")
    )


def llm_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building — the tokenizer-training precursor every corpus
    pipeline runs: global token frequencies with document frequency, cut to
    the top VOCAB_TOP_K terms (ties broken lexicographically so the cut is
    deterministic).

    Scale: explode -> groupBy(token) is ONE shuffle with map-side partial
    aggregation (counts and partial-distinct doc sets combine before the
    exchange); the global cut is orderBy+limit, which Spark executes as
    TakeOrderedAndProject — each partition keeps its local top-k and only
    k rows per partition reach the driver-side merge, never a global
    sort. At 100 TB the same plan holds; only k and the token-key shuffle
    width grow."""
    from gmall_flink_spark.functions.text import tokenize

    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokenize("text")).alias("token"))
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("token_ct"),
        F.count_distinct("doc_id").alias("doc_ct"),
    )
    return counts.orderBy(F.desc("token_ct"), "token").limit(VOCAB_TOP_K)


#: merge-candidate cut size for llm_bpe_pairs
BPE_PAIR_TOP_K = 40


def _bigrams(toks_col: str):
    """Adjacent-token bigram array ('a b' strings) via zip_with over two
    shifted slices — the ONE encoding of a BPE pair, shared by the counting
    query and the merge round so the two can never disagree about a pair's
    identity. Caller guards size >= 2."""
    c = F.col(toks_col)
    return F.zip_with(
        F.slice(c, F.lit(1), F.size(c) - 1),
        F.slice(c, F.lit(2), F.size(c) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )


def llm_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-candidate counting — the inner statistic of one
    byte-pair-encoding merge round (tokenizer training): count every
    adjacent token bigram across the corpus with its document frequency and
    cut to the BPE_PAIR_TOP_K most frequent pairs (ties broken
    lexicographically). Training a real BPE vocab iterates this exact
    query, re-segmenting between rounds; the per-round cost is this plan.

    Scale: the bigram list is built per doc with zip_with over two shifted
    slices (no self-join, no positional explode join) — the only wide op is
    the groupBy(pair) with map-side partial aggregation, and the global cut
    is TakeOrderedAndProject (local top-k per partition), never a global
    sort. Same one-shuffle shape as llm_vocab_topk at any corpus size."""
    from gmall_flink_spark.functions.text import tokenize

    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize("text").alias("l")).where(F.size("l") >= 2)
    pairs = toks.select("doc_id", F.explode(_bigrams("l")).alias("pair"))
    counts = pairs.groupBy("pair").agg(
        F.count(F.lit(1)).alias("pair_ct"),
        F.count_distinct("doc_id").alias("doc_ct"),
    )
    return counts.orderBy(F.desc("pair_ct"), "pair").limit(BPE_PAIR_TOP_K)


def llm_bpe_merge_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full BPE merge round, accounted per source: select the single
    most frequent adjacent pair (the llm_bpe_pairs statistic, k=1) and
    apply it with exact greedy left-to-right non-overlapping semantics,
    reporting tokens before, merges applied, and tokens after. Greedy
    non-overlap is computed positionally: match positions that are
    CONSECUTIVE (only possible when the pair is a repeated token, e.g.
    "order order order") form islands where greedy takes ceil(run/2);
    isolated matches merge 1:1. Iterating this round with re-segmentation
    is exactly BPE vocabulary training.

    Scale: match positions come from a map-side array filter (no token
    explode); only the (usually sparse) match positions shuffle once on
    doc_id for the island window, and the winning pair is a 1-row
    broadcast. Cost per round ~ match density, not corpus size."""
    from gmall_flink_spark.functions.text import tokenize
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    toks = docs.select("source", "doc_id", tokenize("text").alias("l"))
    pairs = toks.where(F.size("l") >= 2).select(
        F.explode(_bigrams("l")).alias("pair")
    )
    top = (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("pair_ct"))
        .orderBy(F.desc("pair_ct"), "pair")
        .limit(1)
        .select(
            "pair",
            F.split_part(F.col("pair"), F.lit(" "), F.lit(1)).alias("a"),
            F.split_part(F.col("pair"), F.lit(" "), F.lit(2)).alias("b"),
        )
    )
    with_pair = toks.crossJoin(F.broadcast(top))
    # 1-based positions i where (l[i], l[i+1]) == (a, b) — map-side. The
    # when() guard keeps element_at in-bounds for 0/1-token docs (ANSI mode
    # throws on out-of-range element_at; sequence(1, 0) would also descend).
    match_pos = F.when(
        F.size("l") >= 2,
        F.filter(
            F.sequence(F.lit(1), F.size("l") - 1),
            lambda i: (F.element_at("l", i) == F.col("a"))
            & (F.element_at("l", i + 1) == F.col("b")),
        ),
    ).otherwise(F.array().cast("array<int>"))
    matches = with_pair.select(
        "source", "doc_id", "pair",
        F.explode(match_pos).alias("pos"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = matches.withColumn(
        "grp", F.col("pos") - F.row_number().over(w)
    )
    runs = (
        islands.groupBy("source", "doc_id", "pair", "grp")
        .agg(F.count(F.lit(1)).alias("run"))
        .groupBy("source", "doc_id", "pair")
        .agg(F.sum(F.expr("(run + 1) div 2")).alias("merges"))
    )
    # with_pair is already one row per doc — no distinct over match rows
    per_doc = (
        with_pair.select(
            "source", "doc_id", "pair", F.size("l").cast("bigint").alias("n")
        )
        .join(runs, ["source", "doc_id", "pair"], "left")
        .withColumn("merges", F.coalesce("merges", F.lit(0)))
    )
    return (
        per_doc.groupBy("source", "pair")
        .agg(
            F.count(F.lit(1)).alias("doc_ct"),
            F.sum("n").alias("tok_before"),
            F.sum("merges").alias("merge_ct"),
            (F.sum("n") - F.sum("merges")).alias("tok_after"),
        )
        .orderBy("source")
    )


def llm_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mix rebalancing — the data-mixing step of training-corpus
    assembly: each source gets a deterministic target weight (derived from
    the source id so the oracle shares it), its token-proportional target
    is converted to a per-source sampling rate in basis points, and docs
    are kept by the portable hash bucket (seed-free, reproducible — the
    same mechanism as llm_hash_sample). One row per source: current size,
    weight, rate, and the sampled result.

    Integer-exact end-to-end: target = (total_tok · weight) div total_w,
    rate_bp = min(10000, (10000 · target) div tok) — no FP proportions to
    disagree on.

    Scale: one per-source aggregate; the 20-row rate table broadcasts back
    onto the corpus for the map-side keep predicate; one aggregate over the
    kept rows. The global-window total runs on the tiny per-source table,
    never the corpus."""
    from pyspark.sql import Window

    from gmall_flink_spark.functions.text import md5_long, token_count

    docs = table(spark, sf_dir, "documents").select(
        "source",
        token_count("text").cast("bigint").alias("tok"),
        F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(10000)).alias(
            "bucket"
        ),
    )
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("doc_ct"), F.sum("tok").alias("tok_ct")
    )
    win = Window.partitionBy()
    rates = (
        per.withColumn(
            "weight", F.expr("1 + CAST(SUBSTRING(source, 4) AS BIGINT) % 5")
        )
        .withColumn("total_tok", F.sum("tok_ct").over(win))
        .withColumn("total_w", F.sum("weight").over(win))
        .withColumn(
            "rate_bp",
            F.least(
                F.lit(10000).cast("bigint"),
                F.expr("(10000 * ((total_tok * weight) div total_w)) div tok_ct"),
            ),
        )
        .select("source", "doc_ct", "tok_ct", "weight", "rate_bp")
        # materialize the tiny rate table (1 row per source): it feeds both
        # the broadcast keep-join AND the final report join, and without
        # this the per-source aggregate — a full corpus scan+tokenize —
        # executes once per reference (measured: 3 FileScans, 0 reuse)
        .localCheckpoint(eager=True)
    )
    kept = (
        docs.join(F.broadcast(rates.select("source", "rate_bp")), "source")
        .where(F.col("bucket") < F.col("rate_bp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("kept_ct"),
            F.sum("tok").alias("kept_tok"),
        )
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            "doc_ct",
            "tok_ct",
            "weight",
            "rate_bp",
            F.coalesce("kept_ct", F.lit(0)).alias("kept_ct"),
            F.coalesce("kept_tok", F.lit(0)).alias("kept_tok"),
        )
        .orderBy("source")
    )


#: web-governance synthesis parameters (engine builds the MESSY raw URL
#: from these and normalizes it; the DuckDB twin re-derives the CANONICAL
#: form straight from the same formulas — the normalizer is proven by
#: construction, never mirrored). URL_PATH_MOD = 50 makes same-resource
#: refetches exist at gate SF (collision period lcm(20 sources, 3 tlds,
#: 50 paths) = 300 < corpus size).
URL_TLDS = ["com", "org", "net"]
URL_PATH_MOD = 50
URL_BLOCKLIST = ["src0.com", "src3.org"]


def _raw_url() -> Column:
    """Scraped-URL noise from doc_id: mixed-case host, explicit default
    port, trailing slash, utm query, fragment — everything
    functions/web.normalize_url must strip."""
    did = F.col("doc_id")
    tld = F.element_at(
        F.array(*[F.lit(t) for t in URL_TLDS]), (did % 3 + 1).cast("int")
    )
    sub = F.when(did % 4 == 1, "WWW.").otherwise("www.")
    port = F.when(did % 5 == 0, ":443").otherwise("")
    slash = F.when(did % 6 == 2, "/").otherwise("")
    qs = F.when(
        did % 2 == 0, F.concat(F.lit("?utm="), (did % 9).cast("string"))
    ).otherwise("")
    frag = F.when(did % 7 == 3, "#sec").otherwise("")
    return F.concat(
        F.lit("https://"), sub, F.col("source"), F.lit("."), tld, port,
        F.lit("/p/"), (did % URL_PATH_MOD).cast("string"), slash, qs, frag,
    )


def web_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus intake governance (the RefinedWeb/C4 URL stage): per
    registrable domain — docs fetched, distinct canonical URLs, refetches
    of the same resource (crawl dup detection: doc_ct - url_ct), token
    mass, and the blocklist verdict. Raw URLs are synthesized noisy
    (case/port/slash/query/fragment) and pushed through
    functions/web.normalize_url + registered_domain; the oracle re-derives
    the canonical form from the synthesis formulas, so parity proves the
    normalizer strips exactly the noise and nothing else.

    Scale: normalization is scan-stage JVM regexp; one shuffle on domain
    with map-side partials (distinct-URL count is the second,
    Expand-based pass Catalyst plans for count+countDistinct)."""
    from gmall_flink_spark.functions.text import tokenize
    from gmall_flink_spark.functions.web import normalize_url, registered_domain

    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        F.size(tokenize("text")).alias("n_toks"),
        normalize_url(_raw_url()).alias("norm_url"),
    ).withColumn("domain", registered_domain("norm_url"))
    return (
        d.groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("doc_ct"),
            F.countDistinct("norm_url").alias("url_ct"),
            (F.count(F.lit(1)) - F.countDistinct("norm_url")).alias("refetch_ct"),
            F.sum("n_toks").alias("token_ct"),
        )
        .withColumn("is_blocked", F.col("domain").isin(URL_BLOCKLIST))
        .orderBy("domain")
    )


#: corpus-v2 synthesis rules (engine and oracle both derive v2 from v1
#: with these; the diff then has known ground truth): %DIFF_DROP docs
#: removed, %DIFF_EDIT survivors text-mutated, %DIFF_ADD docs cloned in
#: under NEGATED ids (-doc_id - 1) — disjoint from every non-negative
#: real id at ANY corpus size, where a fixed additive offset would
#: collide once ids exceed it (id fan-out would then double-count
#: identically on both sides and parity could not catch it).
DIFF_DROP, DIFF_EDIT, DIFF_ADD = 13, 11, 17


def corpus_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-versioning diff between two corpus snapshots (the
    crawl-over-crawl governance report): per source, how many docs were
    added, removed, changed, or unchanged, and the net character delta.
    Change detection compares 64-bit content fingerprints, never the
    texts — at 100 TB each snapshot manifest is (doc_id, source, len,
    xxhash64(text)) and the diff is one full-outer join on doc_id (two
    id shuffles; AQE merges them when manifests are co-bucketed by id,
    the layout a versioned corpus store would pin).

    v2 synthesizes from v1 by the DIFF_* rules, so the oracle re-derives
    both sides independently and the status taxonomy has exact ground
    truth (a %DROP doc that is also %EDIT is 'removed' — edits apply to
    survivors only; added clones are never re-edited)."""
    docs = table(spark, sf_dir, "documents")
    v1 = docs.select(
        "doc_id", "source",
        F.length("text").alias("len1"),
        F.xxhash64("text").alias("fp1"),
    )
    survivors = docs.where(F.col("doc_id") % DIFF_DROP != 0)
    t2 = F.when(
        F.col("doc_id") % DIFF_EDIT == 0, F.concat("text", F.lit(" rev2"))
    ).otherwise(F.col("text"))
    v2 = (
        survivors.select("doc_id", "source", t2.alias("text"))
        .unionByName(
            docs.where(F.col("doc_id") % DIFF_ADD == 0).select(
                (-F.col("doc_id") - 1).alias("doc_id"),
                "source",
                "text",
            )
        )
        .select(
            "doc_id",
            F.col("source").alias("source2"),
            F.length("text").alias("len2"),
            F.xxhash64("text").alias("fp2"),
        )
    )
    j = v1.join(v2, "doc_id", "full_outer").select(
        F.coalesce("source", "source2").alias("src"),
        F.when(F.col("fp1").isNull(), "added")
        .when(F.col("fp2").isNull(), "removed")
        .when(F.col("fp1") != F.col("fp2"), "changed")
        .otherwise("unchanged")
        .alias("status"),
        (
            F.coalesce("len2", F.lit(0)) - F.coalesce("len1", F.lit(0))
        ).cast("long").alias("delta"),
    )
    cnt = lambda s: F.sum((F.col("status") == s).cast("bigint")).alias(f"{s}_ct")  # noqa: E731
    return (
        j.groupBy(F.col("src").alias("source"))
        .agg(
            cnt("added"), cnt("removed"), cnt("changed"), cnt("unchanged"),
            F.sum("delta").alias("char_delta"),
        )
        .orderBy("source")
    )


#: temperature-mix parameters: the sampling temperature alpha = 1/2 is
#: realized as an INTEGER sqrt (floor(sqrt(tok_ct)) — exact in both
#: engines: IEEE sqrt is correctly rounded and the half-ulp boundary needs
#: tok_ct > 2^51), so the mixture weights carry no FP at all.
#: MIX_TOKEN_TARGET is the training budget being allocated.
MIX_TOKEN_TARGET = 1_000_000


def llm_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing — the multilingual/multi-source
    upsampling rule (mBERT/XLM-R style, alpha = 1/2: sample source s with
    probability ∝ tok_ct(s)^alpha): small sources are upsampled, dominant
    sources downsampled, flattening the mixture without equalizing it.
    Emits per source the exact integer allocation out of MIX_TOKEN_TARGET
    and the implied repetition factor (epochs x100; > 100 means the
    source repeats — the upsampling a data-loader materializes).

    Scale: one token-count aggregate with map-side partials, a 1-row
    weight-total broadcast, pure integer arithmetic after the quantized
    sqrt — |sources| rows end to end."""
    from gmall_flink_spark.functions.text import token_count

    per = (
        table(spark, sf_dir, "documents")
        .select("source", token_count("text").cast("bigint").alias("tok"))
        .groupBy("source")
        .agg(F.sum("tok").alias("tok_ct"), F.count(F.lit(1)).alias("doc_ct"))
        .withColumn(
            "weight_q", F.floor(F.sqrt(F.col("tok_ct").cast("double"))).cast("bigint")
        )
    )
    tot = per.agg(F.sum("weight_q").alias("wt"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "doc_ct",
            "tok_ct",
            "weight_q",
            F.expr(f"({MIX_TOKEN_TARGET} * weight_q) div wt").alias("alloc_tokens"),
            F.expr(f"(100 * (({MIX_TOKEN_TARGET} * weight_q) div wt)) div tok_ct").alias(
                "epochs_x100"
            ),
        )
        .orderBy("source")
    )


QUERIES = {
    "llm_temperature_mix": llm_temperature_mix,
    "llm_decontaminate": llm_decontaminate,
    "llm_decontaminate_scrub": llm_decontaminate_scrub,
    "llm_token_budget": llm_token_budget,
    "llm_source_mix": llm_source_mix,
    "llm_hash_sample": llm_hash_sample,
    "llm_stratified_sample": llm_stratified_sample,
    "llm_weighted_sample": llm_weighted_sample,
    "llm_source_topk": llm_source_topk,
    "llm_embed_quantize": llm_embed_quantize,
    "llm_clean_corpus": llm_clean_corpus,
    # llm_corpus_build registers in queries/datasel.py (it needs that
    # module's shard constants; datasel already imports this module)
    "llm_pack_sequences": llm_pack_sequences,
    "llm_split_assign": llm_split_assign,
    "llm_vocab_topk": llm_vocab_topk,
    "llm_bpe_pairs": llm_bpe_pairs,
    "llm_bpe_merge_round": llm_bpe_merge_round,
    "llm_chunk_split": llm_chunk_split,
    "llm_mix_rebalance": llm_mix_rebalance,
    "web_domain_mix": web_domain_mix,
    "corpus_version_diff": corpus_version_diff,
}

_TOKS = "list_filter(string_split(text, ' '), x -> x != '')"

#: distinct 5-gram shingles per doc (mirror of llm/dedup.word_shingles n=5)
_SHINGLES5 = f"""
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest([array_to_string(toks[i + 1 : i + {NGRAM_N}], ' ')
                       for i in range(0, len(toks) - {NGRAM_N} + 1)]) AS shingle
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents) t
    )
"""

#: the clean pipeline's per-doc verdict CTE chain (mirror of
#: _clean_ranked), shared by the llm_clean_corpus ledger and the
#: llm_corpus_build composition
_CLEAN_FLAGGED = f"""sh AS ({_SHINGLES5}),
        bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {BENCH_MOD} = 0),
        contam_ids AS (
            SELECT DISTINCT doc_id FROM sh
            JOIN bench USING (shingle)
            WHERE doc_id % {BENCH_MOD} != 0
        ),
        flagged AS (
            SELECT source, doc_id, CAST(len(toks) AS BIGINT) AS tok,
                   NOT (len(toks) < 20 OR len(toks) > 85
                        OR 4 * len(toks) > len(array_to_string(toks, ''))
                        OR len(array_to_string(toks, '')) > 5 * len(toks)
                        OR len(list_filter(toks, x -> x IN ('the','a','of','and','in'))) = 0
                        OR 10 * len(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) > len(text))
                       AS q_ok,
                   doc_id IN (SELECT doc_id FROM contam_ids) AS contam,
                   md5(array_to_string(toks[1:8], ' ')) AS fp
            FROM (SELECT source, doc_id, text, {_TOKS} AS toks FROM documents
                  WHERE doc_id % {BENCH_MOD} != 0)
        ),
        dups AS (
            SELECT doc_id FROM flagged
            WHERE q_ok AND NOT contam
            QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) > 1
        )"""

ORACLE = {
    "llm_token_budget": f"""
        WITH per_bucket AS (
            SELECT source,
                   ('0x' || substr(md5('0|' || doc_id::VARCHAR), 1, 15))::BIGINT
                       % {BUDGET_BUCKETS} AS bucket,
                   COUNT(*) AS doc_ct,
                   CAST(SUM(len({_TOKS})) AS BIGINT) AS tok_subtotal
            FROM documents GROUP BY 1, 2
        )
        SELECT source, bucket, doc_ct, tok_subtotal,
               CAST(SUM(tok_subtotal) OVER (
                   PARTITION BY source ORDER BY bucket
                   ROWS UNBOUNDED PRECEDING
               ) AS BIGINT) AS cum_tok,
               CAST(CASE WHEN SUM(tok_subtotal) OVER (
                   PARTITION BY source ORDER BY bucket
                   ROWS UNBOUNDED PRECEDING
               ) <= {TOKEN_BUDGET} THEN 1 ELSE 0 END AS BIGINT) AS kept
        FROM per_bucket ORDER BY source, bucket
    """,
    "llm_decontaminate": f"""
        WITH sh AS ({_SHINGLES5}),
        bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {BENCH_MOD} = 0),
        corpus AS (SELECT * FROM sh WHERE doc_id % {BENCH_MOD} != 0),
        totals AS (SELECT doc_id, COUNT(*) AS shingle_ct FROM corpus GROUP BY 1),
        hits AS (
            SELECT doc_id, COUNT(*) AS overlap_ct
            FROM corpus JOIN bench USING (shingle) GROUP BY 1
        )
        SELECT doc_id, overlap_ct, shingle_ct
        FROM totals JOIN hits USING (doc_id)
        ORDER BY doc_id
    """,
    # span scrub: positional shingles (the engine's 1-based covered range
    # sequence(pos0+1, pos0+n) ≡ range(i+1, i+n+1) over the 0-based list-
    # comprehension index i), interval union via DISTINCT (source, doc, p)
    "llm_decontaminate_scrub": f"""
        WITH toked AS (
            SELECT source, doc_id, {{_toks}} AS toks
            FROM documents WHERE doc_id % {BENCH_MOD} != 0
        ),
        bsh AS (
            SELECT DISTINCT shingle FROM (
                SELECT unnest([array_to_string(toks[i + 1 : i + {NGRAM_N}], ' ')
                               for i in range(0, len(toks) - {NGRAM_N} + 1)]) AS shingle
                FROM (SELECT {{_toks}} AS toks FROM documents
                      WHERE doc_id % {BENCH_MOD} = 0) b
            )
        ),
        starts AS (
            SELECT source, doc_id, i
            FROM (
                SELECT source, doc_id,
                       unnest([{{'i': i, 'sh': array_to_string(toks[i + 1 : i + {NGRAM_N}], ' ')}}
                               for i in range(0, len(toks) - {NGRAM_N} + 1)], recursive := true)
                FROM toked
            )
            WHERE sh IN (SELECT shingle FROM bsh)
        ),
        cov AS (
            SELECT DISTINCT source, doc_id, p FROM (
                SELECT source, doc_id, unnest(range(i + 1, i + {NGRAM_N} + 1)) AS p
                FROM starts
            )
        ),
        base AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS doc_ct,
                   CAST(SUM(len(toks)) AS BIGINT) AS tok_total
            FROM toked GROUP BY source
        ),
        rem AS (
            SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_hit_ct,
                   CAST(COUNT(*) AS BIGINT) AS tok_removed,
                   CAST(SUM(p) AS BIGINT) AS removed_pos_ck
            FROM cov GROUP BY source
        )
        SELECT b.source, b.doc_ct,
               CAST(COALESCE(r.doc_hit_ct, 0) AS BIGINT) AS doc_hit_ct,
               b.tok_total,
               CAST(COALESCE(r.tok_removed, 0) AS BIGINT) AS tok_removed,
               CAST(COALESCE(r.removed_pos_ck, 0) AS BIGINT) AS removed_pos_ck,
               CAST(b.tok_total - COALESCE(r.tok_removed, 0) AS BIGINT) AS tok_after
        FROM base b LEFT JOIN rem r USING (source)
        ORDER BY source
    """.replace("{_toks}", _TOKS),
    "llm_source_mix": f"""
        SELECT source, COUNT(*) AS total_ct,
               CAST(SUM(CASE WHEN
                   ('0x' || substr(md5('0|' || doc_id::VARCHAR), 1, 15))::BIGINT % 100
                   < (CASE source WHEN 'src0' THEN 80 WHEN 'src1' THEN 40
                                  WHEN 'src2' THEN 40 ELSE {MIX_DEFAULT} END)
                   THEN 1 ELSE 0 END) AS BIGINT) AS kept_ct
        FROM documents GROUP BY 1 ORDER BY 1
    """,
    "llm_hash_sample": f"""
        SELECT source, COUNT(*) AS sample_ct,
               CAST(SUM(n_chars) AS BIGINT) AS chars_total,
               MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM documents
        WHERE ('0x' || substr(md5('0|' || doc_id::VARCHAR), 1, 15))::BIGINT
              % 100 < {SAMPLE_PCT}
        GROUP BY 1 ORDER BY 1
    """,
    "llm_stratified_sample": f"""
        SELECT source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY ('0x' || substr(md5('0|' || doc_id::VARCHAR), 1, 15))::BIGINT,
                            doc_id
               ) AS rn,
               doc_id, CAST(len({_TOKS}) AS BIGINT) AS tok
        FROM documents
        QUALIFY rn <= {STRATUM_K}
        ORDER BY source, rn
    """,
    "llm_source_topk": """
        SELECT source, doc_id, n_chars,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id) AS rn
        FROM documents
        QUALIFY rn <= 3
        ORDER BY source, rn
    """,
    "llm_clean_corpus": f"""
        WITH {_CLEAN_FLAGGED}
        SELECT source, COUNT(*) AS total_ct,
               CAST(SUM(CASE WHEN NOT q_ok THEN 1 ELSE 0 END) AS BIGINT)
                   AS drop_quality_ct,
               CAST(SUM(CASE WHEN q_ok AND contam THEN 1 ELSE 0 END) AS BIGINT)
                   AS drop_contam_ct,
               CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM dups)
                             THEN 1 ELSE 0 END) AS BIGINT) AS drop_dup_ct,
               CAST(SUM(CASE WHEN q_ok AND NOT contam
                                  AND doc_id NOT IN (SELECT doc_id FROM dups)
                             THEN 1 ELSE 0 END) AS BIGINT) AS kept_ct
        FROM flagged GROUP BY 1 ORDER BY 1
    """,
    "llm_embed_quantize": """
        WITH n AS (
            SELECT label, v, sqrt(list_dot_product(v, v)) AS norm
            FROM (SELECT label, embedding::DOUBLE[] AS v FROM embeddings)
        ),
        q AS (
            SELECT label,
                   CAST(list_sum(list_transform(
                       v, x -> CAST(round(127.0 * x / norm) AS BIGINT)
                   )) AS BIGINT) AS qsum,
                   CAST(round(norm * 10000) AS BIGINT) AS norm_e4
            FROM n
        )
        SELECT label, COUNT(*) AS vec_ct,
               CAST(SUM(qsum) AS BIGINT) AS qsum_total,
               CAST(SUM(norm_e4) AS BIGINT) AS norm_e4_total
        FROM q GROUP BY 1 ORDER BY 1
    """,
    "llm_pack_sequences": f"""
        WITH RECURSIVE shardct AS (
            SELECT GREATEST(
                (CAST(SUM(len({_TOKS})) AS BIGINT) + {PACK_SHARD_TOKENS} - 1)
                    // {PACK_SHARD_TOKENS}, 1) AS s
            FROM documents
        ),
        base AS (
            SELECT source, doc_id % sc.s AS shard, doc_id,
                   CAST(len({_TOKS}) AS BIGINT) AS tok,
                   row_number() OVER (PARTITION BY source, doc_id % sc.s
                                      ORDER BY doc_id) AS rn
            FROM documents CROSS JOIN shardct sc
        ),
        packed AS (
            SELECT source, shard, rn, doc_id, tok,
                   tok AS fill,
                   CAST(CASE WHEN tok > {PACK_BUDGET} THEN 1 ELSE 0 END
                        AS BIGINT) AS bin
            FROM base WHERE rn = 1
            UNION ALL
            SELECT b.source, b.shard, b.rn, b.doc_id, b.tok,
                   CASE WHEN p.fill + b.tok > {PACK_BUDGET}
                        THEN b.tok ELSE p.fill + b.tok END,
                   CASE WHEN p.fill + b.tok > {PACK_BUDGET}
                        THEN p.bin + 1 ELSE p.bin END
            FROM packed p
            JOIN base b ON b.source = p.source AND b.shard = p.shard
                       AND b.rn = p.rn + 1
        )
        SELECT source, shard, bin, COUNT(*) AS doc_ct,
               CAST(SUM(tok) AS BIGINT) AS tok_total,
               MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM packed GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
    "llm_split_assign": f"""
        WITH t AS (
            SELECT source,
                   ('0x' || substr(md5('0|' || doc_id::VARCHAR), 1, 15))::BIGINT
                       % 100 AS bucket,
                   doc_id, CAST(len({_TOKS}) AS BIGINT) AS tok
            FROM documents
        )
        SELECT source,
               CASE WHEN bucket < {SPLIT_TRAIN} THEN 'train'
                    WHEN bucket < {SPLIT_VAL} THEN 'val'
                    ELSE 'test' END AS split,
               COUNT(*) AS doc_ct,
               CAST(SUM(tok) AS BIGINT) AS tok_total,
               MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM t GROUP BY 1, 2 ORDER BY 1, 2
    """,
}

ORACLE["llm_temperature_mix"] = f"""
    WITH per AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS doc_ct,
               CAST(SUM(len({_TOKS})) AS BIGINT) AS tok_ct,
               CAST(floor(sqrt(CAST(SUM(len({_TOKS})) AS DOUBLE))) AS BIGINT)
                   AS weight_q
        FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(weight_q) AS wt FROM per)
    SELECT source, doc_ct, tok_ct, weight_q,
           CAST(({MIX_TOKEN_TARGET} * weight_q) // wt AS BIGINT) AS alloc_tokens,
           CAST((100 * (({MIX_TOKEN_TARGET} * weight_q) // wt)) // tok_ct AS BIGINT)
               AS epochs_x100
    FROM per CROSS JOIN tot ORDER BY source
"""

ORACLE["llm_mix_rebalance"] = f"""
    WITH docs AS (
        SELECT source, CAST(len({_TOKS}) AS BIGINT) AS tok,
               ('0x' || substr(md5('0|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % 10000 AS bucket
        FROM documents
    ),
    per AS (
        SELECT source, COUNT(*) AS doc_ct, CAST(SUM(tok) AS BIGINT) AS tok_ct
        FROM docs GROUP BY source
    ),
    rates AS (
        SELECT source, doc_ct, tok_ct,
               1 + CAST(SUBSTRING(source, 4) AS BIGINT) % 5 AS weight,
               CAST(LEAST(10000,
                     (10000 * ((SUM(tok_ct) OVER () *
                                (1 + CAST(SUBSTRING(source, 4) AS BIGINT) % 5))
                               // SUM(1 + CAST(SUBSTRING(source, 4) AS BIGINT) % 5)
                                  OVER ()))
                     // tok_ct) AS BIGINT) AS rate_bp
        FROM per
    ),
    kept AS (
        SELECT d.source, COUNT(*) AS kept_ct, CAST(SUM(d.tok) AS BIGINT) AS kept_tok
        FROM docs d JOIN rates r ON d.source = r.source
        WHERE d.bucket < r.rate_bp
        GROUP BY d.source
    )
    SELECT r.source, r.doc_ct, r.tok_ct, r.weight, r.rate_bp,
           COALESCE(k.kept_ct, 0) AS kept_ct,
           COALESCE(k.kept_tok, 0) AS kept_tok
    FROM rates r LEFT JOIN kept k ON r.source = k.source
    ORDER BY r.source
"""

ORACLE["llm_chunk_split"] = f"""
    WITH t AS (SELECT source, CAST(len({_TOKS}) AS BIGINT) AS n FROM documents),
    spans AS (
        SELECT t.source, LEAST({CHUNK_SIZE}, t.n - s.start) AS len
        FROM t, LATERAL (SELECT unnest(range(0, GREATEST(t.n, 1), {CHUNK_STRIDE})) AS start) s
        WHERE t.n > 0
          AND (s.start = 0 OR s.start + {CHUNK_SIZE - CHUNK_STRIDE} < t.n)
    ),
    d AS (
        SELECT source, COUNT(*) AS doc_ct, CAST(SUM(n) AS BIGINT) AS token_total
        FROM t GROUP BY source
    ),
    c AS (
        SELECT source, COUNT(*) AS chunk_ct, CAST(SUM(len) AS BIGINT) AS chunk_tokens,
               CAST(SUM(CASE WHEN len = {CHUNK_SIZE} THEN 1 ELSE 0 END) AS BIGINT) AS full_ct
        FROM spans GROUP BY source
    )
    SELECT d.source, d.doc_ct, d.token_total,
           COALESCE(c.chunk_ct, 0) AS chunk_ct,
           COALESCE(c.chunk_tokens, 0) AS chunk_tokens,
           COALESCE(c.full_ct, 0) AS full_ct
    FROM d LEFT JOIN c ON d.source = c.source
    ORDER BY d.source
"""

ORACLE["llm_vocab_topk"] = f"""
    SELECT token, CAST(COUNT(*) AS BIGINT) AS token_ct,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_ct
    FROM (SELECT doc_id, unnest({_TOKS}) AS token FROM documents)
    GROUP BY token ORDER BY token_ct DESC, token LIMIT {VOCAB_TOP_K}
"""

ORACLE["llm_weighted_sample"] = f"""
    WITH d AS (
        SELECT source, doc_id,
               ('0x' || substr(md5('0|' || doc_id::VARCHAR), 1, 15))::BIGINT AS h,
               CAST(len({_TOKS}) AS BIGINT) AS tok
        FROM documents
    ),
    keyed AS (
        SELECT source, doc_id, tok,
               round(-ln((h + 0.5) / 1152921504606846976.0)
                     / greatest(CAST(tok AS DOUBLE), 1.0), 9) AS k_key
        FROM d
    )
    SELECT source,
           row_number() OVER (PARTITION BY source ORDER BY k_key, doc_id) AS rn,
           doc_id, tok, k_key
    FROM keyed
    QUALIFY rn <= {WEIGHTED_K}
    ORDER BY source, rn
"""

ORACLE["llm_bpe_pairs"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS l FROM documents),
    pairs AS (
        SELECT doc_id,
               unnest([l[i] || ' ' || l[i + 1] for i in range(1, len(l))]) AS pair
        FROM t WHERE len(l) >= 2
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS pair_ct,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_ct
    FROM pairs GROUP BY pair
    ORDER BY pair_ct DESC, pair LIMIT {BPE_PAIR_TOP_K}
"""

ORACLE["llm_bpe_merge_round"] = f"""
    WITH t AS (SELECT source, doc_id, {_TOKS} AS l FROM documents),
    allpairs AS (
        SELECT unnest([l[i] || ' ' || l[i + 1] for i in range(1, len(l))]) AS pair
        FROM t WHERE len(l) >= 2
    ),
    top AS (
        SELECT pair, string_split(pair, ' ')[1] AS a, string_split(pair, ' ')[2] AS b
        FROM (SELECT pair, COUNT(*) AS ct FROM allpairs GROUP BY pair
              ORDER BY ct DESC, pair LIMIT 1)
    ),
    matches AS (
        SELECT t.source, t.doc_id, top.pair, CAST(len(t.l) AS BIGINT) AS n,
               unnest([i for i in range(1, len(t.l))
                       if t.l[i] = top.a AND t.l[i + 1] = top.b]) AS pos
        FROM t, top
    ),
    islands AS (
        SELECT source, doc_id, pair,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM matches
    ),
    runs AS (
        SELECT source, doc_id, pair, CAST(SUM((run + 1) // 2) AS BIGINT) AS merges
        FROM (SELECT source, doc_id, pair, grp, COUNT(*) AS run
              FROM islands GROUP BY 1, 2, 3, 4)
        GROUP BY 1, 2, 3
    ),
    per_doc AS (
        SELECT dt.source, dt.doc_id, dt.pair, dt.n,
               COALESCE(r.merges, 0) AS merges
        FROM (SELECT d.source, d.doc_id, top.pair,
                     CAST(len(d.l) AS BIGINT) AS n
              FROM t d CROSS JOIN top) dt
        LEFT JOIN runs r ON dt.doc_id = r.doc_id
    )
    SELECT source, pair, CAST(COUNT(*) AS BIGINT) AS doc_ct,
           CAST(SUM(n) AS BIGINT) AS tok_before,
           CAST(SUM(merges) AS BIGINT) AS merge_ct,
           CAST(SUM(n) - SUM(merges) AS BIGINT) AS tok_after
    FROM per_doc GROUP BY source, pair ORDER BY source
"""

# canonical-URL twin derived from the SYNTHESIS formulas (never the
# engine's regexps): the normalizer is proven by construction
ORACLE["web_domain_mix"] = f"""
    WITH d AS (
        SELECT source,
               (['com','org','net'])[(doc_id % 3) + 1] AS tld,
               doc_id % {URL_PATH_MOD} AS path_id,
               len({_TOKS}) AS n_toks
        FROM documents
    ),
    u AS (
        SELECT source || '.' || tld AS domain,
               'https://www.' || source || '.' || tld || '/p/' ||
                   CAST(path_id AS VARCHAR) AS norm_url,
               n_toks
        FROM d
    )
    SELECT domain,
           CAST(COUNT(*) AS BIGINT) AS doc_ct,
           CAST(COUNT(DISTINCT norm_url) AS BIGINT) AS url_ct,
           CAST(COUNT(*) - COUNT(DISTINCT norm_url) AS BIGINT) AS refetch_ct,
           CAST(SUM(n_toks) AS BIGINT) AS token_ct,
           domain IN {tuple(URL_BLOCKLIST)} AS is_blocked
    FROM u GROUP BY domain ORDER BY domain
"""

# snapshot-diff twin: v2 re-derived from the same DIFF_* rules; texts
# compared directly (the engine compares xxhash64 fingerprints — parity
# again doubles as a collision check)
ORACLE["corpus_version_diff"] = f"""
    WITH v1 AS (
        SELECT doc_id, source, length(text) AS len1, text AS t1 FROM documents
    ),
    v2 AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % {DIFF_EDIT} = 0 THEN text || ' rev2'
                    ELSE text END AS t2
        FROM documents WHERE doc_id % {DIFF_DROP} != 0
        UNION ALL
        SELECT -doc_id - 1, source, text
        FROM documents WHERE doc_id % {DIFF_ADD} = 0
    ),
    v2l AS (SELECT doc_id, source AS source2, length(t2) AS len2, t2 FROM v2),
    j AS (
        SELECT COALESCE(v1.source, v2l.source2) AS source,
               CASE WHEN v1.doc_id IS NULL THEN 'added'
                    WHEN v2l.doc_id IS NULL THEN 'removed'
                    WHEN t1 != t2 THEN 'changed'
                    ELSE 'unchanged' END AS status,
               COALESCE(len2, 0) - COALESCE(len1, 0) AS delta
        FROM v1 FULL OUTER JOIN v2l ON v1.doc_id = v2l.doc_id
    )
    SELECT source,
           CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT)
               AS added_ct,
           CAST(SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
               AS removed_ct,
           CAST(SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
               AS changed_ct,
           CAST(SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT)
               AS unchanged_ct,
           CAST(SUM(delta) AS BIGINT) AS char_delta
    FROM j GROUP BY source ORDER BY source
"""
