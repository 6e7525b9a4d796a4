"""Mergeable HyperLogLog distinct-count sketch, cross-engine EXACT.

Spark ships approx_count_distinct and DuckDB ships approx_count_distinct,
but their internal hashes differ — neither can gate the other. This HLL
is built from md5 (the one hash both engines share) with every step in
integer arithmetic, so the SKETCH ITSELF — not just the estimate — is
bit-identical across engines and value-gated (q76):

- bucket: first 3 md5 hex chars → 12 bits → m = 4096 registers
- rho:    next 12 hex chars → 48-bit w; rho = 49 − bitlength(w)
          (w = 0 → 49) — pure integer, `bin()` string length in both
- registers: groupBy(bucket) max(rho) — ONE map-side-combined shuffle
          of at most m rows per partition; the register table IS the
          mergeable sketch (merge = max per bucket, associative — union
          of shard sketches equals the whole-corpus sketch, tested)
- harmonic sum: Σ 2^−rho summed as INTEGERS in units of 2^−49
          (term_u = 2^(49−rho) ≤ 2^49; 4096 terms < 2^61 — no float
          sum, no order sensitivity); empty registers contribute 2^49·V
- estimate: α_m·m²/Σ with the small-range linear-counting correction,
          computed in one frozen expression shape and rounded at the
          end only.

At 100 TB: the sketch is 4096 small ints regardless of cardinality;
partial aggregation means each task emits ≤ m rows, and sketches from
independent partitions/days/shards merge by max — the property that
makes distinct-count dashboards over 10^10 rows cheap.

Flajolet et al. 2007 semantics; α_4096 = 0.7213/(1 + 1.079/4096).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

P = 12
M = 1 << P
ALPHA = 0.7213 / (1.0 + 1.079 / M)


def hll_bucket_rho(value: Column) -> tuple[Column, Column]:
    """(bucket, rho) for one value — integer-exact in both engines."""
    h = F.md5(value.cast("string"))
    bucket = F.conv(F.substring(h, 1, 3), 16, 10).cast("int")
    w = F.conv(F.substring(h, 4, 12), 16, 10).cast("long")
    rho = F.when(w == 0, F.lit(49)).otherwise(
        F.lit(49) - F.length(F.bin(w)).cast("int")
    )
    return bucket, rho


def hll_registers(df: DataFrame, value_col: str) -> DataFrame:
    """The mergeable sketch: (bucket, rho) with rho = max over values.
    Merge two sketches by unionByName + this same groupBy-max."""
    bucket, rho = hll_bucket_rho(F.col(value_col))
    return (
        df.select(bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(registers: DataFrame) -> DataFrame:
    """One-row summary: (n_buckets, sum_u, est). sum_u is the harmonic
    sum in integer 2^-49 units incl. empty registers; est applies the
    linear-counting small-range correction. The frozen expression shape
    is mirrored verbatim by the q76 oracle."""
    # shiftleft via expr: the Python F.shiftleft only accepts an int
    # shift amount, not a Column
    agg = registers.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 49 - rho)")).alias("nz_sum_u"),
    )
    full = agg.withColumn(
        "sum_u",
        F.col("nz_sum_u")
        + (F.lit(M).cast("long") - F.col("n_buckets")) * F.lit(1 << 49).cast("long"),
    )
    two49 = float(1 << 49)
    est_raw = (
        F.lit(ALPHA)
        * F.lit(float(M))
        * F.lit(float(M))
        / (F.col("sum_u").cast("double") / F.lit(two49))
    )
    zeros = F.lit(M) - F.col("n_buckets")
    lc = F.lit(float(M)) * F.log(F.lit(float(M)) / zeros.cast("double"))
    est = F.when((est_raw <= F.lit(2.5 * M)) & (zeros > 0), lc).otherwise(est_raw)
    return full.select("n_buckets", "sum_u", F.round(est, 4).alias("est"))


# ------------------------------------------------------- Count-Min sketch

CMS_D = 4
CMS_W = 2048


def cms_bucket(value: Column, row: int, w: int = CMS_W) -> Column:
    """Row-``row`` bucket for a key — md5-based (the one hash both
    engines share, q76 pattern): first 8 hex chars of md5('{row}|'+key)
    → 32-bit int → mod w. Integer-exact in Spark (conv hex→dec) and
    DuckDB (('0x'||substr(md5(..),1,8))::BIGINT)."""
    h = F.md5(F.concat(F.lit(f"{row}|"), value.cast("string")))
    return F.pmod(F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(w)).cast(
        "int"
    )


def cms_table(
    df: DataFrame, key_col: str, d: int = CMS_D, w: int = CMS_W,
    cnt_col: str | None = None,
) -> DataFrame:
    """Mergeable Count-Min table: (row, bucket, cnt) — the d×w counter
    grid as rows. ONE pass over the data (posexplode of the d bucket
    ids, no d-fold re-scan) and ONE map-side-combined shuffle emitting
    ≤ d·w rows per task regardless of input size. Merge sketches from
    independent shards/days by unionByName + groupBy(row, bucket)
    sum — associative, the same property as hll_registers. Cormode &
    Muthukrishnan 2005 semantics.

    A cell counts the rows hashing into it, or with ``cnt_col`` the sum
    of that column over them: over a PRE-AGGREGATED (key, count)
    relation this is the IDENTICAL table the raw stream builds (the sum
    distributes over occurrences), with the d md5 hashes computed once
    per DISTINCT key instead of per occurrence (q81 feeds sketch,
    probes and exact counts from one corpus aggregation). A raw stream
    can't be pre-aggregated across micro-batches, so q111 counts rows."""
    buckets = F.array(*[cms_bucket(F.col(key_col), i, w) for i in range(d)])
    weight = F.lit(1) if cnt_col is None else F.col(cnt_col)
    return (
        df.select(weight.alias("__c"), F.posexplode(buckets).alias("row", "bucket"))
        .groupBy("row", "bucket")
        .agg(F.sum("__c").cast("long").alias("cnt"))
    )


def cms_estimate(
    table: DataFrame, candidates: DataFrame, key_col: str, d: int = CMS_D,
    w: int = CMS_W,
) -> DataFrame:
    """Point estimates: est(key) = min over the d rows of the key's
    counter — the classic CMS upper bound (est ≥ true count, tested).
    The d×w table (≤ 8192 rows) BROADCASTS to the candidate side, so
    estimating any number of keys is one narrow join — the property
    that makes a 100 TB heavy-hitter scan feasible: the corpus shuffles
    once into the sketch; candidates (a dictionary/sample, never the
    corpus) probe it."""
    probes = candidates.select(
        F.col(key_col),
        F.posexplode(
            F.array(*[cms_bucket(F.col(key_col), i, w) for i in range(d)])
        ).alias("row", "bucket"),
    )
    return (
        probes.join(F.broadcast(table), ["row", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_cnt"))
    )
