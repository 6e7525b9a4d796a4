"""Physical-shape helpers shared by the operators.

Each helper fixes one plan shape that several operators need, so the
reason for the shape lives next to the one place that builds it:

- ``spread``      round-robin a narrow input up to the cluster's
                  parallelism before a CPU-heavy projection
- ``pin_filter``  keep an expensive predicate above that exchange
- ``pair_mine``   df-capped co-occurrence pair mining (q19, q86, q114)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


_BYTE_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _conf_bytes(spark, key: str, default: int) -> int:
    """Parse a Spark byte-string conf ('134217728', '134217728b',
    '128m', '1g', uppercase variants); fall back to the documented
    default rather than failing the operator on an exotic format."""
    raw = str(spark.conf.get(key, str(default))).strip().lower()
    try:
        if raw.endswith("b"):
            raw = raw[:-1]
        if raw and raw[-1] in _BYTE_SUFFIX:
            return int(float(raw[:-1]) * _BYTE_SUFFIX[raw[-1]])
        return int(raw)
    except ValueError:
        return default


def spread(df: DataFrame) -> DataFrame:
    """Repartition a narrow input up to the cluster's parallelism before a
    CPU-heavy projection. Small parquet inputs arrive as one or two file
    splits (maxPartitionBytes ≫ file size), which would serialize the
    shingle/hash projections; at real scale the scan already yields more
    splits than cores and this is a no-op.

    Split count is ESTIMATED from the scan's input files using Spark's own
    packing formula (FilePartition.maxSplitBytes) — ``df.rdd`` would build
    the whole RDD conversion lineage just to probe parallelism. Non-file
    inputs (createDataFrame, post-shuffle plans) fall back to the RDD
    probe; anything un-stat-able skips the repartition (a wide scan never
    needs it)."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = None
    if not files:
        if df.rdd.getNumPartitions() < target:
            return df.repartition(target)
        return df

    sizes = []
    for f in files:
        if f.startswith("file:"):
            path = f[len("file:") :]
        elif "://" not in f:
            path = f
        else:
            return df  # remote store: scan splitting already ≈ target at scale
        try:
            sizes.append(os.stat(path).st_size)
        except OSError:
            return df
    max_part = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 134217728)
    open_cost = _conf_bytes(spark, "spark.sql.files.openCostInBytes", 4194304)
    padded = sum(sizes) + open_cost * len(sizes)
    max_split = min(max_part, max(open_cost, padded // max(target, 1)))
    est_splits = max(1, -(-padded // max(max_split, 1)))
    if est_splits < target:
        return df.repartition(target)
    return df


def pin_filter(df: DataFrame, pred) -> DataFrame:
    """Filter by an EXPENSIVE deterministic predicate without letting
    Catalyst push it below a spreading repartition (the one-split
    serialization pitfall: Filter pushes through
    RepartitionByExpression, so `spread(df).filter(pred)` evaluates
    pred serially inside the unsplit scan task). The predicate is
    evaluated inside a one-element explode and the filter references
    the generator's output — Generate is never pushed below an
    exchange and a filter on generator output cannot cross it. One
    Generate row per input row is noise next to the predicate itself
    (r8; measured 1.44 s → 0.26 s for the gopher pass at sf0.1)."""
    out = df.select("*", F.explode(F.array(pred)).alias("__keep"))
    return out.filter(F.col("__keep")).drop("__keep")


def pair_mine(
    rel: DataFrame, key: str, member: str, max_df: int, size: str | None = None
) -> DataFrame:
    """Member pairs that share keys: returns (a, b, shared) with a < b,
    plus (n_a, n_b) when ``size`` names a per-member column to carry.
    ``shared`` counts the keys a and b have in common among keys held by
    2..max_df members. ``rel`` must hold DISTINCT (key, member[, size])
    rows — a key's row count is then its member df.

    Physical shape (the token-partitioned candidate generation of
    set-similarity joins; q19, q86 and q114 all run it):

    1. ONE explicit-count ``repartition(defaultParallelism, key)``. An
       explicit count is exempt from AQE's byte-targeting coalescer,
       which would otherwise merge this small exchange into 1-2
       partitions and serialize the CPU-heavy pair explosion on top of
       it (the sessionize._bucketed_apply law; r8, q19 1.79 → 1.36 s at
       sf0.1). The window and the collect below reuse this partitioning.
    2. df as a window count per key, and the 2 ≤ df ≤ max_df cap applied
       BEFORE collect_list, so no unbounded per-key list ever
       materializes. Singleton keys cannot pair; a key held by more than
       max_df members is boilerplate (site chrome, a common-code
       shingle) that carries no pair evidence but would mint df² pair
       rows in one task — the cut that removes non-evidence also caps
       the fan-out at max_df² pairs per key at any scale.
    3. collect_list(struct(member[, size])) per key, exploded against
       itself into a < b pairs on the same partitioning.
    4. ONE groupBy(a, b): ``count`` is the shared-key count; the sizes
       ride along as any_value, so no per-member sizes table is joined
       back.

    A df-table join plus a key self-join would shuffle the key relation
    twice more (r8 measured q86 at 1.25 s that way vs 0.66 s at sf0.1)."""
    by_key = rel.repartition(rel.sparkSession.sparkContext.defaultParallelism, key)
    kept = by_key.withColumn(
        "__df", F.count(F.lit(1)).over(Window.partitionBy(key))
    ).filter((F.col("__df") >= 2) & (F.col("__df") <= max_df))
    fields = [F.col(member).alias("m")] + ([F.col(size).alias("n")] if size else [])
    lists = kept.groupBy(key).agg(F.collect_list(F.struct(*fields)).alias("__ms"))
    pairs = (
        lists.select(F.explode("__ms").alias("__a"), "__ms")
        .select("__a", F.explode("__ms").alias("__b"))
        .filter(F.col("__a.m") < F.col("__b.m"))
    )
    aggs = [F.count(F.lit(1)).alias("shared")]
    if size:
        aggs += [F.any_value("__a.n").alias("n_a"), F.any_value("__b.n").alias("n_b")]
    return pairs.groupBy(F.col("__a.m").alias("a"), F.col("__b.m").alias("b")).agg(*aggs)
