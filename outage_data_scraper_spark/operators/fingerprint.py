"""Winnowing document fingerprints (Schleimer–Wilkerson–Aiken, the
MOSS scheme, SIGMOD'03).

The third classic fingerprinting family next to MinHash (q20) and
SimHash (q21): hash every k-token shingle, then keep only the MINIMUM
hash of each sliding window of w consecutive shingle hashes (rightmost
position on ties). Winnowing gives the guarantee the other two lack:
any shared token run of length >= w + k - 1 between two documents
yields at least one IDENTICAL selected fingerprint, while keeping only
~2/(w+1) of all shingle hashes — the local, position-aware dedup /
plagiarism primitive. The reference repo has no analog; this extends
the training-data-pipeline surface (its only fingerprint is a
whole-document md5, util.py's drop_duplicates analog, covered by q17).

Scale shape: one Arrow-batched mapInPandas projection — the entire
selection is per-document, so the pass is embarrassingly parallel and
ZERO-shuffle (plan-asserted); at 100 TB it runs at scan speed, and the
output is ~2/(w+1) * n_shingles small. The array-HOF formulation was
rejected deliberately: the min-over-window lambda would reference the
O(n)-md5 keys array per element, and Catalyst's projection collapse
re-inlines hoisted subtrees into higher-order-function lambdas
(CLAUDE.md pitfall) — O(n^2) hashing. hashlib in an Arrow batch is the
honest O(n*w) with real hoisting.

Determinism / cross-engine law: tokens are the corpus-canonical
normalization (lower, \\s+ -> single space, trim — ASCII semantics,
matching Java/RE2 and the oracle's regexp_replace twin); the shingle
hash is the first 9 hex chars of md5 (36 bits — md5 is the only
Spark/DuckDB-shared hash, CLAUDE.md), and selection uses the packed
integer key  h * 2^24 + (2^24 - 1 - pos)  so "min hash, rightmost
position on ties" is a single integer min; pos < 2^24 is enforced.
The q85 oracle re-derives the identical selection in DuckDB list
comprehensions (1-based inclusive slices, '0x' hex cast, // integer
division) — two independent formulations of the same integer law.
"""

from __future__ import annotations

import hashlib
import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .shape import pair_mine, spread

#: pos is packed into the low 24 bits of the selection key
_POS_BITS = 24
_POS_MASK = (1 << _POS_BITS) - 1


def winnow_py(
    text: str | None, k: int = 4, w: int = 4
) -> list[tuple[int, int]]:
    """Plain-Python twin of the UDF (also the pytest brute-force
    anchor): selected (pos, fp) pairs for one document, pos ascending.

    pos is the 0-based shingle index; fp is the 36-bit shingle hash.
    Documents with fewer than k tokens yield nothing; with fewer than
    w shingles, the single window spans all of them (standard short-doc
    degeneration — the global minimum is selected).
    """
    t = re.sub(r"\s+", " ", text or "", flags=re.ASCII).strip().lower()
    toks = t.split(" ") if t else []
    n_kg = len(toks) - k + 1
    if n_kg <= 0:
        return []
    if n_kg - 1 > _POS_MASK:
        raise ValueError(f"winnow: document exceeds {_POS_MASK + 1} shingles")
    keys = [
        int(hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()[:9], 16)
        * (_POS_MASK + 1)
        + (_POS_MASK - i)
        for i in range(n_kg)
    ]
    sel = {min(keys[j : j + w]) for j in range(max(1, n_kg - w + 1))}
    return sorted(
        (_POS_MASK - (key & _POS_MASK), key >> _POS_BITS) for key in sel
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 4,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document winnowing fingerprints as (id_col, pos, fp) rows.

    One Arrow-batched mapInPandas over (id, text) — the selection is
    per-document, so the only exchange is `spread`'s small-input
    repartition (a no-op on any scan already yielding ≥cores splits,
    i.e. at scale; without it the whole Python winnow pass serializes
    into a one-split scan task — r8, 0.80 s → 0.46 s at sf0.1).
    Downstream cross-doc matching (fingerprint_overlap) mines pairs
    keyed on fp, which carries ~2/(w+1) of the shingle count.
    """
    src = spread(docs.select(F.col(id_col), F.col(text_col).alias("__text")))
    # Output id keeps the INPUT id column's type (a string doc_id must
    # not silently coerce to long at the Arrow boundary).
    id_type = docs.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("pos", T.LongType()),
            T.StructField("fp", T.LongType()),
        ]
    )

    def _batches(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            ids, poss, fps = [], [], []
            for i, t in zip(pdf[id_col], pdf["__text"]):
                for pos, fp in winnow_py(t, k, w):
                    ids.append(i)
                    poss.append(pos)
                    fps.append(fp)
            yield pd.DataFrame({id_col: ids, "pos": poss, "fp": fps})

    return src.mapInPandas(_batches, out_schema)


def fingerprint_overlap(
    docs: DataFrame,
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document pairs sharing >= min_shared winnowing fingerprints —
    the position-aware near-dup / plagiarism matcher winnowing exists
    for (MOSS's match step). Returns (id_a, id_b, n_shared), id_a <
    id_b.

    Scale shape: the map-only fingerprint pass, then
    ``shape.pair_mine`` on fp. The MOSS common-code cutoff (fps on more
    than max_df docs) doubles as the skew guard: a boilerplate shingle
    shared by 10^6 docs would otherwise mint df² pair rows in one task.
    """
    fps = (
        winnow_fingerprints(docs, k, w, id_col, text_col)
        .select(F.col(id_col), "fp")
        .distinct()
    )
    return (
        pair_mine(fps, "fp", id_col, max_df)
        .select(
            F.col("a").alias("id_a"),
            F.col("b").alias("id_b"),
            F.col("shared").alias("n_shared"),
        )
        .filter(F.col("n_shared") >= min_shared)
    )
