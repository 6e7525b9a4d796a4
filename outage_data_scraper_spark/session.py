"""SparkSession factory with the engine's tuned defaults.

Local mode mirrors the sandbox (single JVM, many cores); the same config
block is what we'd pass to spark-submit on a real cluster — partitioning
choices elsewhere in the engine (salted-host repartition, AQE skew hints)
are what make it scale, not these knobs.
"""

from __future__ import annotations

import os
import warnings

from pyspark import SparkContext
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


DAEMON_MODULE_CONF = "spark.python.daemon.module"
WORKER_DAEMON = "outage_data_scraper_spark.pyworker"
# the dir that holds the package: a worker imports the daemon module
# from here, so it must be the worker's cwd or on its PYTHONPATH
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the SparkContext get_spark last built and the conf it requested: Spark
# reports some values rewritten (a file: warehouse URI, its own JVM
# options prepended), so a repeat of the build request is no change
_built: tuple[SparkContext | None, dict[str, str]] = (None, {})


def worker_daemon_conf(master: str) -> dict[str, str]:
    """``{spark.python.daemon.module: pyworker}`` when the Python workers
    can import this package, else ``{}`` (Spark's default daemon).

    Only ``local``/``local[...]`` masters qualify: their workers inherit
    the driver's cwd and environment, so the package is importable there
    when its parent dir is the cwd or on ``PYTHONPATH``."""
    if master != "local" and not master.startswith("local["):
        return {}
    roots = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    here = os.path.realpath(PACKAGE_PARENT)
    if not any(r and os.path.realpath(r) == here for r in roots):
        return {}
    return {DAEMON_MODULE_CONF: WORKER_DAEMON}


def engine_conf(
    master: str,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """Every conf ``get_spark`` requests for ``master``: the engine
    defaults, the worker daemon module, then ``extra_conf`` on top."""
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # KB-sized html/text payloads: smaller Arrow batches bound the
        # per-task in-flight memory (batch ≈ 2k × ~8KB ≈ 16MB)
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        "spark.speculation": "false",
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
        CODEGEN_CACHE_CONF: str(codegen_cache_entries()),
        # partition columns stay strings — a schemaless catalog read must
        # not see a layout='8' directory flip to int via type inference
        "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        **worker_daemon_conf(master),
        **(extra_conf or {}),
    }


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
    - Python workers: on a ``local[...]`` master whose workers can import
      this package (its parent dir is the cwd or on ``PYTHONPATH``), the
      daemon is ``pyworker``, so workers import the installed, compiled
      pyspark rather than ``$SPARK_HOME/python/lib/pyspark.zip`` whenever
      the two versions match, and the zip otherwise. Any other master,
      or a package the workers cannot import, keeps Spark's default
      daemon, whose workers import the zip.

    Static and SparkContext confs apply only when the session is first
    built: a reused session that runs with a different value for any
    requested conf (engine default, daemon module or ``extra_conf``)
    warns, naming the key.
    """
    global _built
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    conf = engine_conf(master, shuffle_partitions, extra_conf)
    reused = SparkContext._active_spark_context is not None
    spark = SparkSession.builder.appName(app_name).master(master).config(map=conf).getOrCreate()
    if not reused:
        _built = (spark.sparkContext, conf)
        return spark
    built = _built[1] if _built[0] is spark.sparkContext else {}
    # getOrCreate() copies non-SQL confs into the session's SQL conf
    # without applying them, so those are read back from the context
    context_conf = spark.sparkContext.getConf()
    for key, requested in conf.items():
        actual = (spark.conf.get(key, None) if key.startswith("spark.sql.")
                  else context_conf.get(key))
        if actual != requested and built.get(key) != requested:
            warnings.warn(
                f"{key}={requested} requested but the reused SparkSession "
                f"runs with {actual}: static confs apply only when the "
                "session is first built",
                stacklevel=2,
            )
    return spark
