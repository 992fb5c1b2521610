"""Text functions (SURVEY §2.10 U2 + BASELINE north-star text analysis).

The reference's only table function is the IK Chinese-segmentation UDTF
(util/SplitKeywordUDTF.java:19-34). Per SURVEY §7.3 risk #4 we pin a
deterministic tokenizer (single-space split, empties dropped) so results are
reproducible across engines; a real segmenter (e.g. jieba) is pluggable
behind the same explode-based surface.

Everything here is JVM-side built-ins (split/filter/md5/conv) — no Python
UDFs — so whole-stage codegen covers the hot path and the same expressions
run unchanged in Structured Streaming.

Portable hashing contract (shared with the DuckDB oracle):
    md5_long(x, seed) = int64(first 15 hex chars of md5(seed ~ '|' ~ x))
DuckDB equivalent: ('0x' || substr(md5(seed || '|' || x), 1, 15))::BIGINT.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: deterministic stopword list (vocabulary-appropriate for the testdata).
STOPWORDS = ("the", "a", "of", "and", "in")

#: marker words per language for the n-gram-free language-ID heuristic;
#: deterministic argmax with lexicographic tie-break.
LANG_MARKERS = {
    "de": ("window", "group", "merge"),
    "en": ("the", "a", "fast"),
    "es": ("data", "table", "row"),
    "fr": ("query", "filter", "join"),
    "zh": ("spark", "stream", "batch"),
}


def tokenize(text: Column | str) -> Column:
    """U2 tokenizer: split on single spaces, drop empties (pinned
    deterministic replacement for the IK analyzer; see ``segment`` for the
    pluggable real-segmenter path)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, " "), lambda x: x != "")


def segment(df, text_col: str = "text", out_col: str = "toks"):
    """Pluggable segmentation surface (U2): jieba-backed when the library is
    present (the IK-analyzer equivalent for Chinese,
    util/SplitKeywordUDTF.java:19-34), the pinned deterministic whitespace
    tokenizer otherwise. Oracle-checked queries use ``tokenize`` directly —
    this surface is for production corpora where a real segmenter exists;
    the jieba path is an Arrow-batched mapInPandas."""
    try:
        import jieba  # noqa: F401  # pragma: no cover - not in test env
    except ImportError:
        return df.withColumn(out_col, tokenize(text_col))

    import pandas as pd  # pragma: no cover - jieba path
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    schema = StructType(
        [*df.schema.fields, StructField(out_col, ArrayType(StringType()))]
    )

    def run(batches):  # pragma: no cover - jieba path
        import jieba

        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = pdf[text_col].map(lambda t: [w for w in jieba.cut(t) if w.strip()])
            yield pd.DataFrame(pdf)

    return df.mapInPandas(run, schema)


def token_count(text: Column | str) -> Column:
    return F.size(tokenize(text))


def stopword_count(tokens: Column) -> Column:
    return F.size(F.filter(tokens, lambda x: x.isin(*STOPWORDS)))


def distinct_token_count(tokens: Column) -> Column:
    return F.size(F.array_distinct(tokens))


def lang_score(tokens: Column, lang: str) -> Column:
    """Marker-hit count for one language."""
    markers = LANG_MARKERS[lang]
    return F.size(F.filter(tokens, lambda x: x.isin(*markers)))


def predict_lang(tokens: Column) -> Column:
    """Deterministic language-ID: argmax marker hits, ties broken by
    language code order (greatest-of chain keeps the first maximum)."""
    pred = F.lit(None).cast("string")
    best = F.lit(-1)
    for lang in sorted(LANG_MARKERS):  # later langs must strictly beat
        s = lang_score(tokens, lang)
        pred = F.when(s > best, F.lit(lang)).otherwise(pred)
        best = F.when(s > best, s).otherwise(best)
    return pred


def fingerprint_from_tokens(
    toks: Column | str, prefix_tokens: int | None = None
) -> Column:
    """``fingerprint`` over an ALREADY-TOKENIZED array column — for call
    sites that carry ``tokenize(text)`` anyway (the streaming scrub
    writer), so the split isn't paid twice per row. Byte-identical to
    fingerprint(text, ...) by construction: same slice, same join, same
    md5 — state files keyed by either stay interchangeable."""
    c = F.col(toks) if isinstance(toks, str) else toks
    if prefix_tokens is not None:
        c = F.slice(c, 1, prefix_tokens)
    return F.md5(F.array_join(c, " "))


def fingerprint(text: Column | str, prefix_tokens: int | None = None) -> Column:
    """Document fingerprint: md5 over the space-normalized token stream
    (optionally only the first N tokens — prefix fingerprint for clustering
    near-identical heads)."""
    return fingerprint_from_tokens(tokenize(text), prefix_tokens)


def char_gram_hashes(text_col: str, k: int) -> Column:
    """Portable hashes of every character ``k``-gram of a column (the
    rolling-hash stream document fingerprinting slides over). Same 60-bit
    md5 contract as ``md5_long`` (seed 0), computed entirely with JVM
    higher-order functions; empty array for docs shorter than ``k``."""
    grams = F.expr(
        f"transform(sequence(1, length({text_col}) - {k} + 1), i -> "
        f"cast(conv(substring(md5(concat('0|', substring({text_col}, i, {k}))), "
        f"1, 15), 16, 10) as bigint))"
    )
    return F.when(F.length(text_col) >= k, grams).otherwise(
        F.array().cast("array<bigint>")
    )


def winnow(grams: Column, w: int, n_grams: Column) -> Column:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, the MOSS
    scheme): slide a ``w``-window over the gram-hash stream and keep each
    window's minimum, deduplicated. Guarantees a match of length >= w+k-1
    between two docs shares at least one selected fingerprint, while
    keeping ~2/(w+1) of the hashes — the density/recall dial for
    document-fingerprint dedup. Streams shorter than ``w`` keep their
    single minimum.

    Implemented as an element-wise ``least`` over ``w`` shifted slices of
    the gram array (a zip_with tree): mins[j] = least(grams[j..j+w-1]).
    Two naive formulations measured much worse — transform-over-slices
    makes Catalyst's projection collapse inline the whole gram computation
    into every window (O(m²) hash evaluations, 60×+ slower), and an
    ``aggregate`` fold that appends each window's min copies the growing
    output array per element (O(m²) element copies, ~20× slower). The
    slice tree references ``grams`` w times — w redundant hash-stream
    evaluations per doc, linear and cheap.

    ``n_grams`` must be a cheap expression for ``size(grams)`` (e.g.
    ``length(text) - k + 1``); sizing off the gram array itself would
    re-evaluate the hash stream just to count it."""
    mins = None
    for i in range(w):
        s = F.slice(grams, 1 + i, n_grams - w + 1)
        mins = s if mins is None else F.zip_with(mins, s, lambda a, b: F.least(a, b))
    return F.array_distinct(
        F.when(n_grams <= 0, F.array().cast("array<bigint>"))
        .when(n_grams < w, F.array(F.array_min(grams)))
        .otherwise(mins)
    )


def md5_long(x: Column, seed: int | Column = 0) -> Column:
    """Portable 60-bit hash (see module docstring contract)."""
    seed_c = F.lit(seed) if isinstance(seed, int) else seed
    h = F.md5(F.concat(seed_c.cast("string"), F.lit("|"), x))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint")


#: BPE-ish pre-tokenizer pattern (GPT-2 style simplification): letter runs,
#: digit runs, and non-space punctuation runs — RE2/Java-compatible.
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def bpe_token_count(text: Column | str) -> Column:
    """Token count under the BPE-ish regex (north-star token counting: the
    whitespace count above underestimates subword cost; this pattern tracks
    it the way GPT-2-family pre-tokenizers segment)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_PATTERN), 0))

def gopher_flags(toks: Column, text: Column | str) -> dict[str, Column]:
    """The Gopher-rule quality battery (length bounds, mean-word-length
    band, stopword presence, symbol ratio) as named boolean flag columns —
    the SINGLE Python source of these thresholds (used by the batch query,
    the per-source flag report, and the streaming clean-corpus filter; the
    DuckDB oracles mirror them in SQL and the parity gate pins the pair).
    Every rule is an exact integer comparison, engine-portable."""
    text_c = F.col(text) if isinstance(text, str) else text
    n = F.size(toks)
    chars = F.length(F.array_join(toks, ""))
    symbols = F.length(F.regexp_replace(text_c, "[A-Za-z0-9 ]", ""))
    return {
        "f_short": n < 20,
        "f_long": n > 85,
        "f_word_len": (4 * n > chars) | (chars > 5 * n),
        "f_no_stop": stopword_count(toks) == 0,
        "f_symbols": 10 * symbols > F.length(text_c),
    }


def gopher_keep(toks: Column, text: Column | str) -> Column:
    """True when no Gopher flag fires (the keep predicate)."""
    from functools import reduce

    flags = list(gopher_flags(toks, text).values())
    return ~reduce(lambda a, b: a | b, flags)

