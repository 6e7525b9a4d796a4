"""BPE (byte-pair-encoding) merge training over a corpus.

Sennrich et al. 2016 trainer semantics, re-expressed for Spark's
execution model: the corpus-sized work happens exactly ONCE (the
word-frequency count — one shuffle at scan scale), and every merge
iteration after that touches only the VOCABULARY (distinct words +
freq), which is millions of rows at 100 TB corpus scale, not
trillions — the reason real tokenizer trainers are feasible at all.
That vocabulary is collected to the driver and the merge loop runs
there: per iteration, every adjacent-symbol pair is counted (weighted
by word freq), the most frequent pair wins with a deterministic
(freq DESC, left, right) tiebreak, and each word's symbols are
rewritten by a left-to-right non-overlapping scan. A Spark job per
merge would pay the ~0.2 s scheduling floor N times for micro-seconds
of O(vocab) work.

``train_bpe_py`` is the exact driver-side twin (same tokenization, same
loop) used by the committed q68 oracle. ``encode_words`` applies a
merge list on the Spark side as an ``F.aggregate`` fold with a
(out, prev) struct accumulator — pure JVM column algebra, no UDF.

The reference repo has no tokenizer-training analog; this is part of
the training-data-pipeline surface the task adds.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import textkit

#: end-of-word marker symbol (a distinct symbol, never split into chars)
END_TOKEN = "</w>"

MERGE_SCHEMA = "step int, left string, right string, merged string, pair_freq long"


def word_freq_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the normalized corpus — the single corpus-sized
    pass; everything downstream operates on this table only."""
    toks = textkit.tokens(textkit.normalized(F.col(text_col)))
    return (
        docs.select(F.explode(toks).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _symbols(word: Column) -> Column:
    """Initial symbol array: one symbol per character, plus END_TOKEN."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: word.substr(i, F.lit(1)),
    )
    return F.concat(chars, F.array(F.lit(END_TOKEN)))


def _apply_merge(sym: Column, a: str, b: str) -> Column:
    """Replace every left-to-right non-overlapping adjacent (a, b) with
    a+b: an aggregate fold carrying (emitted array, pending symbol)."""
    merged = a + b
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("prev"),
    )

    def step(acc, s):
        return (
            F.when(
                (acc["prev"] == a) & (s == b),
                F.struct(
                    F.concat(acc["out"], F.array(F.lit(merged))).alias("out"),
                    F.lit(None).cast("string").alias("prev"),
                ),
            )
            .when(
                acc["prev"].isNull(),
                F.struct(acc["out"].alias("out"), s.alias("prev")),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(acc["prev"])).alias("out"),
                    s.alias("prev"),
                )
            )
        )

    def fin(acc):
        return F.when(acc["prev"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["prev"]))
        )

    return F.aggregate(sym, init, step, fin)


def encode_words(
    words: DataFrame, merges: list[tuple[str, str]], word_col: str = "word"
) -> DataFrame:
    """Apply a learned merge list to a table of distinct words — the
    encode side. At corpus scale the right shape is: distinct words →
    encode here (vocab-sized) → hash/broadcast join the symbol arrays
    back onto the corpus; encoding cost is O(vocabulary), never
    O(corpus). Checkpoints every 8 merges to bound plan depth."""
    out = words.select(
        F.col(word_col), _symbols(F.col(word_col)).alias("sym")
    )
    for i, (a, b) in enumerate(merges):
        out = out.select(word_col, _apply_merge(F.col("sym"), a, b).alias("sym"))
        if (i + 1) % 8 == 0:
            out = out.localCheckpoint(eager=False)
    return out


def train_bpe(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
) -> DataFrame:
    """Learn ``n_merges`` BPE merges; returns the merge table
    (step, left, right, merged, pair_freq) — the artifact a tokenizer
    ships. Stops early if the vocabulary is fully merged.

    ONE corpus-sized Spark pass (``word_freq_table``), then the merge
    loop runs driver-side over the collected (word, freq) table: it is
    vocabulary-sized after that shuffle (millions of rows at 100 TB
    corpus scale), and each merge round is O(vocab symbols)."""
    spark = docs.sparkSession
    wf = {
        r.word: int(r.freq)
        for r in word_freq_table(docs, text_col).collect()
    }
    return spark.createDataFrame(_merge_loop_py(wf, n_merges), MERGE_SCHEMA)


# -- driver-side twin (oracle generator) --------------------------------------

def _apply_merge_py(sym: list[str], a: str, b: str) -> list[str]:
    out: list[str] = []
    prev: str | None = None
    for s in sym:
        if prev == a and s == b:
            out.append(a + b)
            prev = None
        elif prev is None:
            prev = s
        else:
            out.append(prev)
            prev = s
    if prev is not None:
        out.append(prev)
    return out


def train_bpe_py(
    texts: list[str | None], n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """Exact Python twin of train_bpe: same normalization (collapse
    whitespace, strip, lower — textkit.normalized) and tokenization,
    then the same merge loop."""
    wf: Counter[str] = Counter()
    for t in texts:
        if not t:
            continue
        for w in re.sub(r"\s+", " ", t, flags=re.ASCII).strip().lower().split(" "):
            if w:
                wf[w] += 1
    return _merge_loop_py(wf, n_merges)


def _merge_loop_py(
    wf: dict[str, int], n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """The merge loop over a (word, freq) map — shared by ``train_bpe``
    and its oracle twin. Every occurrence of a pair counts ('aaa'
    contributes (a, a) twice); ties break on (freq DESC, a, b) in
    code-point order, which is Spark's UTF8 binary order (UTF-8 byte
    order is code-point-preserving)."""
    vocab: dict[str, list[str]] = {w: list(w) + [END_TOKEN] for w in wf}
    merges: list[tuple[int, str, str, str, int]] = []
    for step_i in range(n_merges):
        pc: Counter[tuple[str, str]] = Counter()
        for w, sym in vocab.items():
            f = wf[w]
            for i in range(len(sym) - 1):
                pc[(sym[i], sym[i + 1])] += f
        if not pc:
            break
        (a, b), pf = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((step_i, a, b, a + b, pf))
        vocab = {w: _apply_merge_py(sym, a, b) for w, sym in vocab.items()}
    return merges


def encode_words_py(
    words: list[str], merges: list[tuple[str, str]]
) -> dict[str, list[str]]:
    """Exact Python twin of encode_words (the q79 oracle generator)."""
    out = {w: list(w) + [END_TOKEN] for w in words}
    for a, b in merges:
        out = {w: _apply_merge_py(sym, a, b) for w, sym in out.items()}
    return out
