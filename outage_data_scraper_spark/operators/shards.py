"""Size-budgeted training-shard planner — the export side of a corpus
pipeline: assign documents, in a deterministic global order, to shards
of ~``shard_bytes`` each (documents never split; a shard overflows by
at most one document), and emit the per-shard manifest a downstream
loader consumes.

The defining scale problem is the global running sum: a naive
``Window.orderBy(order_col)`` with no partitionBy funnels ALL rows
through ONE task. This implements the classic two-level distributed
prefix sum instead:

  level 1 — rows get a chunk id (order_col DIV chunk); the running sum
            WITHIN each chunk is a per-chunk window — parallel, each
            chunk ≈ chunk rows.
  level 2 — per-chunk totals (n/chunk rows — e.g. 10^4 for 10^10 rows
            at chunk=10^6) get THEIR running sum in a tiny
            single-partition window over group rows, then broadcast
            back as chunk offsets.

global_cum = chunk_offset + within_chunk_cum; shard_id = exclusive
prefix DIV budget (integer DIV — the boundary rule both engines share;
CLAUDE.md bucketing law). The SQL twin is the plain one-window form, so
the two-level decomposition is value-gated against the semantic
definition every round.

The reference repo has no export surface; this is the piece that turns
a cleaned 100 TB corpus into bounded shards with a manifest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exclusive_prefix(
    df: DataFrame, size_col: str, order_col: str, chunk: int = 4096
) -> DataFrame:
    """(ord, size, start): each row's exclusive running sum of
    ``size_col`` in ``order_col`` order (must be unique), as the
    two-level prefix sum of the module docstring."""
    base = df.select(
        F.col(order_col).alias("ord"),
        F.col(size_col).cast("long").alias("size"),
        F.expr(f"{order_col} DIV {int(chunk)}").alias("chk"),
    )
    w_in = Window.partitionBy("chk").orderBy("ord")
    within = base.withColumn("cum_in", F.sum("size").over(w_in))
    # level 2: chunk totals → exclusive chunk offsets. n/chunk rows —
    # the ONLY single-partition window, group-count sized, never
    # row-count sized.
    w_chk = Window.orderBy("chk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        base.groupBy("chk")
        .agg(F.sum("size").alias("tot"))
        .withColumn("off", F.coalesce(F.sum("tot").over(w_chk), F.lit(0)))
        .select("chk", "off")
    )
    return within.join(F.broadcast(offsets), "chk").select(
        "ord", "size", F.expr("off + cum_in - size").alias("start")
    )


def plan_shards(
    df: DataFrame,
    size_col: str,
    order_col: str,
    shard_bytes: int,
    chunk: int = 4096,
) -> DataFrame:
    """Per-document shard assignment: (order_col, size, shard_id).
    Deterministic in ``order_col`` (must be unique); sequential packing
    with overflow at the boundary — shard_id = (exclusive running
    size) DIV shard_bytes."""
    if shard_bytes <= 0:
        raise ValueError("shard_bytes must be positive")
    return exclusive_prefix(df, size_col, order_col, chunk).select(
        F.col("ord").alias(order_col),
        F.col("size"),
        F.expr(f"start DIV {int(shard_bytes)}").alias("shard_id"),
    )


def shard_manifest(assignment: DataFrame, order_col: str) -> DataFrame:
    """Per-shard manifest: (shard_id, n_docs, bytes, first, last) — what
    a loader needs to open exactly one shard."""
    return assignment.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("size").alias("bytes"),
        F.min(order_col).alias("first"),
        F.max(order_col).alias("last"),
    )
