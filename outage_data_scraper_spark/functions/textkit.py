"""Text-analysis column functions for the training-data pipeline surface.

All pure pyspark.sql.functions (JVM-side, whole-stage codegen) — no Python
in the hot path. Each function has an exact ANSI-SQL mirror used by the
DuckDB oracles, so semantics are locked by the driver's correctness gate.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# English function words used by the n-gram-free language heuristic and the
# stopword-ratio quality signal. Deliberately tiny + frozen: the oracle SQL
# embeds the same list.
EN_STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"]

# Frozen punctuation class; mirrored verbatim in the oracle regex.
PUNCT_CLASS = r"[.,;:!?'\"()\[\]-]"


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty string → empty array."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def punct_count(text: Column) -> Column:
    return (F.length(text) - F.length(F.regexp_replace(text, PUNCT_CLASS, ""))).cast(
        "long"
    )


def punct_ratio(text: Column) -> Column:
    return F.when(F.length(text) == 0, F.lit(0.0)).otherwise(
        punct_count(text) / F.length(text)
    )


def stopword_count(text: Column) -> Column:
    toks = F.transform(tokens(text), lambda t: F.lower(t))
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).cast("long")


def stopword_ratio(text: Column) -> Column:
    n = token_count(text)
    return F.when(n == 0, F.lit(0.0)).otherwise(stopword_count(text) / n)


def mean_token_len(text: Column) -> Column:
    n = token_count(text)
    chars = F.length(F.regexp_replace(F.trim(text), r"\s+", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(chars / n)


def lang_id(text: Column) -> Column:
    """Heuristic language ID: 'en' if ≥12% of tokens are English function
    words, else 'und'. (A real model slots in as a pandas UDF; this frozen
    heuristic is the deterministic, oracle-checkable baseline.)"""
    return F.when(stopword_ratio(text) >= 0.12, F.lit("en")).otherwise(F.lit("und"))


# Frozen function-word sets for the multilingual heuristic; mirrored
# verbatim in the q44 oracle. Overlapping words ("de" in es/fr/de, "en"
# in es/fr) are fine — ties break deterministically (see lang_id_multi).
LANG_STOPWORDS = {
    "de": ["der", "die", "und", "den", "von", "zu", "das", "mit", "sich", "ist"],
    "en": EN_STOPWORDS,
    "es": ["el", "la", "de", "que", "y", "en", "los", "se", "del", "las"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "une", "est"],
}


def lang_id_multi(
    text: Column, min_ratio: float = 0.12, toks: Column | None = None
) -> Column:
    """Best-scoring language by function-word ratio, 'und' below
    ``min_ratio``. The argmax is an array_max over (score, lang) structs:
    Spark and DuckDB both compare structs field-by-field in declaration
    order, so ties break identically (higher score first, then the
    lexicographically LARGEST language code) — the property that keeps
    the q44 oracle value-exact. Pass a hoisted lowercased token column as
    ``toks`` when scoring many languages — the tokenizer subtree would
    otherwise re-evaluate once per language."""
    if toks is None:
        toks = F.transform(tokens(text), lambda t: F.lower(t))
    n = F.size(toks)

    def ratio(words: list[str]) -> Column:
        sw = F.array(*[F.lit(w) for w in words])
        cnt = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
        return F.when(n <= 0, F.lit(0.0)).otherwise(cnt / n)

    best = F.array_max(
        F.array(
            *[
                F.struct(ratio(words).alias("score"), F.lit(lang).alias("lang"))
                for lang, words in sorted(LANG_STOPWORDS.items())
            ]
        )
    )
    return F.when(best["score"] >= min_ratio, best["lang"]).otherwise(F.lit("und"))


def quality_score(text: Column) -> Column:
    """[0,1] doc-quality proxy: length band + stopword presence − punct
    excess. Mirrors common web-corpus filters (C4-style) in frozen form."""
    n = token_count(text)
    len_ok = F.when((n >= 20) & (n <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
    sw_ok = F.when(stopword_ratio(text) >= 0.05, F.lit(0.4)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(text) <= 0.1, F.lit(0.2)).otherwise(F.lit(0.0))
    return len_ok + sw_ok + punct_ok


def normalized(text: Column) -> Column:
    """Whitespace-collapsed, lowercased, trimmed — dedup canonical form."""
    return F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text
    (md5 is bit-identical between Spark and DuckDB, so exact-dedup is
    oracle-checkable)."""
    return F.md5(normalized(text))


def word_shingles(text: Column, k: int = 5) -> Column:
    """Array of k-word shingles (space-joined) from the normalized text.
    Building block for n-gram Jaccard / MinHash dedup.

    Built as a (k−1)-fold zip_with of suffix-shifted token arrays, NOT as
    transform(sequence(1, n−k+1), i -> slice(toks, i, k)): a slice inside
    a HOF lambda re-evaluates the token split per *position* — O(n_tokens
    × text_len) per row — while the zip form splits once per row (the k
    suffix slices share the split subtree via projection-level CSE).
    zip_with pads the shorter side with null and concat propagates it, so
    the tail positions (and any doc with < k tokens) drop out in the
    final null filter."""
    toks = F.split(normalized(text), " ")
    out = toks
    for j in range(1, k):
        # length = size(toks) over-covers the suffix, which slice allows;
        # a huge literal length (e.g. INT_MAX) silently yields all-null
        # elements downstream of zip_with (offset+length overflow).
        suffix = F.slice(toks, j + 1, F.size(toks))
        out = F.zip_with(out, suffix, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.filter(out, lambda x: x.isNotNull())


def shingle_hash64(text: Column, k: int = 5) -> Column:
    """Array of 64-bit shingle ids: an xxhash64 chain over the k token
    hashes at each position — the identity-only twin of word_shingles
    for operators that never need the shingle STRING (corpus-wide
    window counts, Jaccard set intersection, contamination probes).
    Building the space-joined window string just to hash it copies ~k
    tokens per position; hashing hash pairs is a fixed-width 16-byte op
    per fold step (r8 optimization, guide §2.3 narrower types /
    project-before-work). Same (k−1)-fold zip_with shape as
    word_shingles; the suffix tail positions (xxhash64 silently SKIPS a
    null argument rather than returning null, so they hold junk chain
    values, not nulls) are cut by an exact-length slice to
    max(n_tokens − k + 1, 0) — never a null filter, and never
    slice-to-INT_MAX (CLAUDE.md pitfall). Window equality ≡
    token-sequence equality up to an xxhash64 chain collision (~2⁻⁶⁴
    per pair — the same standing assumption the string form's
    xxhash64(window) made); token boundaries are inherent, so no length
    disambiguator column is needed."""
    toks = F.split(normalized(text), " ")
    th = F.transform(toks, lambda t: F.xxhash64(t))
    out = th
    for j in range(1, k):
        suffix = F.slice(th, j + 1, F.size(th))
        out = F.zip_with(out, suffix, lambda a, b: F.xxhash64(a, b))
    n_win = F.size(toks) - F.lit(k - 1)
    return F.slice(out, 1, F.greatest(n_win, F.lit(0)))


# -- Gopher-style document-quality rules ----------------------------------------
# Token-level re-statement of the Gopher/C4 web-corpus filter family
# (Rae et al. 2021 §A1.1), frozen so the DuckDB oracle can mirror each
# rule exactly. All take an ALREADY-TOKENIZED array column: callers hoist
# tokens(text) into a projection once — expressions inside HOF lambdas
# re-evaluate per element, so passing raw text here would re-tokenize
# O(n·distinct) times.

def type_token_ratio(toks: Column) -> Column:
    """|distinct tokens| / |tokens| — low values flag repetitive docs."""
    n = F.size(toks)
    return F.when(n <= 0, F.lit(0.0)).otherwise(F.size(F.array_distinct(toks)) / n)


def alpha_token_ratio(toks: Column) -> Column:
    """Fraction of tokens containing at least one ASCII letter."""
    n = F.size(toks)
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    return F.when(n <= 0, F.lit(0.0)).otherwise(alpha / n)


def top_token_ratio(toks: Column) -> Column:
    """Frequency share of the single most common token (dominance)."""
    n = F.size(toks)
    counts = F.transform(
        F.array_distinct(toks),
        lambda d: F.size(F.filter(toks, lambda t: t == d)),
    )
    return F.when(n <= 0, F.lit(0.0)).otherwise(F.array_max(counts) / n)


# Frozen rule thresholds (mirrored verbatim in the q43 oracle).
GOPHER_MIN_TOKENS = 20
GOPHER_MAX_TOKENS = 10_000
GOPHER_MEAN_LEN_LO = 3.0
GOPHER_MEAN_LEN_HI = 10.0
GOPHER_MIN_ALPHA = 0.9
GOPHER_MIN_STOPWORD = 0.02
GOPHER_MIN_TTR = 0.35
GOPHER_MAX_TOP = 0.2


def span_chunks(toks: Column, span_tokens: int = 4) -> Column:
    """Fixed-width token chunks as an array column (the dedup span unit).
    Callers MUST pass a materialized token column — HOF lambdas
    re-evaluate referenced expression trees per element."""
    n = F.ceil(F.size(toks) / F.lit(float(span_tokens))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.array_join(F.slice(toks, i * span_tokens + 1, span_tokens), " "),
    )
    # sequence(0, -1) DESCENDS ([0, -1]) — guard the empty-array case
    return F.when(n >= 1, chunks).otherwise(F.array().cast("array<string>"))


def dup_span_fraction(toks: Column, span_tokens: int = 4) -> Column:
    """WITHIN-document repetition: fraction of fixed-width spans that are
    repeats of an earlier span in the same document (Gopher §A1.1's
    duplicate line/paragraph fraction family, token-chunk form). Pure
    column algebra: 1 − distinct/total over the span array."""
    spans = span_chunks(toks, span_tokens)
    n = F.size(spans)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct(spans)) / n
    )


def gopher_keep_from_metrics(
    n: Column, mtl: Column, alpha: Column, stop: Column, ttr: Column, top: Column
) -> Column:
    """AND of the six frozen rules over ALREADY-COMPUTED metric columns.
    Callers computing the metrics as output columns anyway (q43) use this
    so the HOF metric trees — outside whole-stage codegen's subexpression
    elimination, and O(distinct×n) for dominance — evaluate exactly once
    per row."""
    return (
        (n >= GOPHER_MIN_TOKENS)
        & (n <= GOPHER_MAX_TOKENS)
        & mtl.between(GOPHER_MEAN_LEN_LO, GOPHER_MEAN_LEN_HI)
        & (alpha >= GOPHER_MIN_ALPHA)
        & (stop >= GOPHER_MIN_STOPWORD)
        & (ttr >= GOPHER_MIN_TTR)
        & (top <= GOPHER_MAX_TOP)
    )


def gopher_keep(text: Column, toks: Column) -> Column:
    """AND of the six frozen rules from raw text + hoisted tokens."""
    return gopher_keep_from_metrics(
        F.size(toks).cast("long"),
        mean_token_len(text),
        alpha_token_ratio(toks),
        stopword_ratio(text),
        type_token_ratio(toks),
        top_token_ratio(toks),
    )
