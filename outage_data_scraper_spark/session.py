"""SparkSession factory with the engine's tuned defaults.

Local mode mirrors the sandbox (single JVM, many cores); the same config
block is what we'd pass to spark-submit on a real cluster — partitioning
choices elsewhere in the engine (salted-host repartition, AQE skew hints)
are what make it scale, not these knobs.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
MIN_CODEGEN_CACHE = 4096
CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"


def codegen_cache_entries() -> int:
    """``SPARK_GRAFT_CODEGEN_CACHE`` (default 8192), validated: an int of
    at least MIN_CODEGEN_CACHE, else ValueError — a smaller or malformed
    value would silently bring back the codegen-cache churn documented
    in get_spark (or fail only later, at JVM session build)."""
    raw = os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "8192")
    try:
        n = int(raw)
    except ValueError:
        n = -1
    if n < MIN_CODEGEN_CACHE:
        raise ValueError(
            f"SPARK_GRAFT_CODEGEN_CACHE must be an int >= {MIN_CODEGEN_CACHE}, got {raw!r}"
        )
    return n


def get_spark(
    app_name: str = "outage-data-scraper-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    - AQE on: runtime coalescing + skew-join splitting (SURVEY.md §4.2).
    - Arrow on: every pandas UDF moves data as Arrow batches.
    - No speculative execution: fetch tasks are side-effecting
      (SURVEY.md §7.3 — duplicate fetches would corrupt fetch_log).
    """
    codegen_cache = str(codegen_cache_entries())
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # KB-sized html/text payloads: smaller Arrow batches bound the
        # per-task in-flight memory (batch ≈ 2k × ~8KB ≈ 16MB)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.speculation", "false")
        # Codegen class cache (static conf, default 100 entries): a
        # workload with more distinct whole-stage-codegen units than the
        # cap recompiles EVERY unit on EVERY re-execution — the 60-query
        # suite holds ~10^3 units, and the churn cost ~35% of the
        # headline wall (A/B/A/B alternated sessions, r8:
        # headline floor 4.67/5.11 at the default vs 3.26/2.97 at 8192).
        # The cap must exceed the driver's distinct-plan working set;
        # it bounds compiled-class count, never data, so results and
        # scale behavior are unchanged (a production driver running a
        # query mix wants the same headroom).
        .config(CODEGEN_CACHE_CONF, codegen_cache)
        # partition columns stay strings — a schemaless catalog read must
        # not see a layout='8' directory flip to int via type inference
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate() hands back a running session unchanged for static
    # confs, so a different codegen-cache request is silently ignored
    requested = (extra_conf or {}).get(CODEGEN_CACHE_CONF, codegen_cache)
    actual = spark.conf.get(CODEGEN_CACHE_CONF)
    if actual != requested:
        warnings.warn(
            f"{CODEGEN_CACHE_CONF}={requested} requested but the reused "
            f"SparkSession runs with {actual}: static confs apply only "
            "when the session is first built",
            stacklevel=2,
        )
    return spark
