"""Blocklist page filtering (C4 §2.2, Raffel et al. 2020: any page
containing a word/phrase from the "List of Dirty, Naughty, Obscene or
Otherwise Bad Words" is removed entirely).

Distinct from benchmark decontamination (dedup.benchmark_overlap counts
k-gram OVERLAP with an eval set to measure leakage) — this is a binary
drop-on-any-hit law over a curated phrase list, the first content
filter a C4-style pipeline runs. Matching is on the corpus-canonical
token stream (textkit.normalized → lowercased WHITESPACE tokens — no
punctuation folding: "BAD word" and "bad word" hit identically, but
"bad," does NOT match "bad", exactly as the module's own test
asserts), so the law is value-gatable.

Scale shape: the blocklist is a FROZEN constant folded into the plan
(an `isin` literal per phrase length — the degenerate broadcast: at
~2k real-list entries it ships with every task's plan, no join at
all); per phrase LENGTH the doc explodes to its n-grams of that length
once (lengths present in the list only — real lists are 1–3 tokens),
and the per-doc hit count is one map-side-combined aggregate. Nothing
corpus-sized ever shuffles except the (doc_id, hits) rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import textkit
from .shape import spread


def badwords_filter(
    docs: DataFrame,
    phrases: tuple[str, ...],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_col, n_hits, keep): n_hits counts every OCCURRENCE of every
    blocklist phrase in the doc's canonical token stream (a phrase
    occurring twice counts twice — the audit number); keep is C4's law:
    drop on ANY hit. Phrases are normalized through the same tokenizer
    as the text, and empty/whitespace phrases are rejected."""
    if not phrases:
        # an empty tuple used to fall through to hits=None and crash
        # with AttributeError at plan-build time (r8 advisor finding)
        raise ValueError("badwords_filter: phrases must be non-empty")
    by_len: dict[int, list[str]] = {}
    for p in phrases:
        toks = [t for t in p.strip().lower().split() if t]
        if not toks:
            raise ValueError(f"empty blocklist phrase: {p!r}")
        by_len.setdefault(len(toks), []).append(" ".join(toks))
    # spread: the n-gram scan is O(tokens × max phrase length) per doc
    # and would otherwise serialize into a one-split scan task (r8)
    base = spread(docs).select(
        F.col(id_col), textkit.tokens(textkit.normalized(F.col(text_col))).alias("__t")
    )
    hits = None
    for length, plist in sorted(by_len.items()):
        inset = ", ".join(
            "'" + p.replace("'", "''") + "'" for p in sorted(set(plist))
        )
        if length == 1:
            grams = F.expr("filter(__t, x -> x IN (" + inset + "))")
        else:
            # sequence(1, 0) DESCENDS (CLAUDE.md trap) — docs shorter
            # than the phrase emit no n-grams via the CASE guard
            grams = F.expr(
                f"filter(CASE WHEN size(__t) >= {length} THEN "
                f"transform(sequence(1, size(__t) - {length - 1}),"
                f" i -> array_join(slice(__t, i, {length}), ' '))"
                f" ELSE array() END, g -> g IN ({inset}))"
            )
        h = F.size(grams).cast("long")
        hits = h if hits is None else hits + h
    return base.select(
        F.col(id_col),
        hits.alias("n_hits"),
        (hits == 0).alias("keep"),
    )
