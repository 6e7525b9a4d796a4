"""Training-sequence packing manifest — the concat-and-chunk step a
GPT-style pretraining export runs after cleaning: all documents are
concatenated in a deterministic global order and the token stream is
cut every ``seq_len`` tokens; documents SPLIT across sequence
boundaries (the standard causal-LM packing, vs. the no-split shard
planner in ``shards.plan_shards`` which never splits a document).

The manifest answers, per training sequence: how many documents
contribute tokens to it, how many tokens it holds (``seq_len``
everywhere except the ragged tail), which documents open/close inside
it — what a loader needs to build attention-mask resets without
re-scanning the corpus.

Scale shape (the whole point at 100 TB):

  1. the global exclusive token offset per document comes from
     ``shards.exclusive_prefix``, the two-level distributed prefix sum
     that ``shards.plan_shards`` also runs (level-1 per-chunk windows in
     parallel; the ONLY single-partition window is over n/chunk chunk
     totals) — never a row-scale ``Window.orderBy`` with no partitionBy
     (CLAUDE.md law);
  2. each document explodes to the sequences it touches —
     1 + floor(len/seq_len) rows on average, so the exploded relation
     is ~(total_tokens/seq_len + n_docs) rows, linear in the corpus;
  3. one final hash-partition aggregate on seq_id.

All arithmetic is integer (token counts, integer DIV boundaries), so
the manifest is value-gatable cross-engine (oracle ``q98``).

The reference repo has no export surface; this generalizes its
"write parsed records out per run" step (`app/scraper.py` save loop)
to the artifact a trainer actually consumes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .shards import exclusive_prefix


def pack_sequences(
    df: DataFrame,
    size_col: str,
    order_col: str,
    seq_len: int,
    chunk: int = 4096,
) -> DataFrame:
    """Per-sequence packing manifest.

    ``df`` carries one row per document with an integer token count
    ``size_col`` and a unique integer global order ``order_col``.
    Documents with ``size <= 0`` occupy no tokens and are dropped.

    Returns (seq_id, n_docs, n_tokens, n_doc_ends, first_doc,
    last_doc), ordered semantics left to the caller:

    - ``n_docs``    — documents contributing ≥1 token to the sequence
    - ``n_tokens``  — tokens in the sequence (= seq_len except the tail)
    - ``n_doc_ends``— documents whose LAST token falls in the sequence
                      (the attention-reset count a loader needs)
    - ``first_doc`` / ``last_doc`` — order_col range touching the seq
    """
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    spans = exclusive_prefix(df.filter(F.col(size_col) > 0), size_col, order_col, chunk)
    L = int(seq_len)
    # a doc covering token interval [start, start+size) touches
    # sequences start DIV L .. (start+size-1) DIV L inclusive —
    # integer DIV boundaries, the cross-engine bucketing law.
    touched = spans.select(
        "ord",
        "size",
        "start",
        F.explode(
            F.sequence(
                F.expr(f"start DIV {L}"), F.expr(f"(start + size - 1) DIV {L}")
            )
        ).alias("seq_id"),
    )
    overlap = F.least(
        F.col("start") + F.col("size"), (F.col("seq_id") + 1) * L
    ) - F.greatest(F.col("start"), F.col("seq_id") * L)
    ends_here = F.expr(f"(start + size - 1) DIV {L}") == F.col("seq_id")
    return touched.groupBy("seq_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(overlap).cast("long").alias("n_tokens"),
        F.sum(F.when(ends_here, 1).otherwise(0)).cast("long").alias("n_doc_ends"),
        F.min("ord").alias("first_doc"),
        F.max("ord").alias("last_doc"),
    )


def chunk_windows(
    sized: DataFrame,
    size_col: str,
    id_col: str = "doc_id",
    window_len: int = 256,
    stride: int = 192,
) -> DataFrame:
    """WITHIN-document overlapping window chunking — the retrieval/RAG
    export (vs pack_sequences' cross-document concat-and-chunk): each
    document cuts into windows of ``window_len`` tokens starting every
    ``stride`` tokens (overlap = window_len − stride preserves context
    across cuts), the last window ragged, and a document shorter than
    one window emits exactly one chunk. No document ever crosses a
    chunk (retrieval chunks must quote one source).

    n_chunks(doc) = 1 + ceil(max(0, n − window_len) / stride) — the
    standard fixed-stride law; start_i = i·stride,
    len_i = min(window_len, n − start_i). All-integer, so the manifest
    is value-gatable cross-engine.

    Scale shape: a PURE PROJECTION + explode — zero shuffles, zero
    windows (each row is decided from its own token count). The
    exploded relation is Σ n_chunks ≈ total_tokens/stride rows, linear
    in the corpus; chunk text extraction then rides whatever scan
    already tokenizes the doc (slice(toks, start+1, len))."""
    if stride <= 0 or window_len <= 0:
        raise ValueError("window_len and stride must be positive")
    if stride > window_len:
        # the n_chunks law would mint a trailing chunk whose start
        # exceeds n (silent negative length); the documented
        # overlap = window_len - stride already assumes stride <= window
        # (r8 advisor finding)
        raise ValueError(
            f"stride={stride} > window_len={window_len}: windows would "
            "skip tokens and the trailing chunk law breaks"
        )
    n = F.col(size_col).cast("long")
    # DIV stays on the non-negative domain (the CLAUDE.md sign law:
    # Spark DIV truncates, DuckDB // floors — they agree only ≥ 0)
    n_chunks = F.lit(1) + F.expr(
        f"(greatest({size_col} - {window_len}, 0) + {stride} - 1) DIV {stride}"
    )
    exploded = sized.filter(n > 0).select(
        # empty docs emit no chunks (and sequence(1, 0) would DESCEND)
        F.col(id_col),
        n.alias("__n"),
        F.posexplode(F.sequence(F.lit(1), n_chunks)).alias("chunk_id", "__x"),
    )
    start = F.col("chunk_id").cast("long") * stride
    return exploded.select(
        F.col(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        start.alias("start"),
        F.least(F.lit(window_len).cast("long"), F.col("__n") - start).alias(
            "length"
        ),
    )
