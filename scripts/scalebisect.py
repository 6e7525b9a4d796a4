"""Bisect harness for the crawl scaling regression (round-4 work).

Runs the crawl bench at one parallelism level in a taskset-pinned
subprocess, min-of-N, with knobs to toggle the round-3 hot-path changes:

  SB_MODE=current        round-3 code as shipped (salt=num_parts, lane_cap=1)
  SB_MODE=salt16         round-2-style pop params (salt=16, static lanes)
  SB_MODE=poponly        materialize the pop only (no fetch/parse)
  SB_MODE=nosort         current pop, fused stage without whole-partition sort

Usage: python scripts/scalebisect.py <cores> [runs]
Prints one line: MODE cores wall_s (min over runs).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def job(spark, n_urls: int, num_parts: int, mode: str) -> float:
    from pyspark.sql import functions as F

    from outage_data_scraper_spark.frontier.priority import pop_wave, seeds_to_frontier
    from outage_data_scraper_spark.parsers.parse import fused_fetch_parse
    from outage_data_scraper_spark.sources.fixtures import make_fixture_fetcher
    from outage_data_scraper_spark.sources.seeds import synthetic_seeds

    seeds = synthetic_seeds(spark, n_urls, n_hosts=max(n_urls // 50, 8))
    frontier = seeds_to_frontier(seeds)

    t0 = time.monotonic()
    if mode == "salt16":
        popped = pop_wave(frontier, per_host_k=1_000_000, num_parts=num_parts,
                          salt=16, lane_cap=1_000_000_000)
    else:
        popped = pop_wave(frontier, per_host_k=1_000_000, num_parts=num_parts,
                          salt=num_parts, lane_cap=1)
    if mode == "poponly":
        popped.write.format("noop").mode("overwrite").save()
        return time.monotonic() - t0
    parsed = fused_fetch_parse(
        popped, make_fixture_fetcher, num_parts=num_parts,
        rate_per_host=1e9, simulated_clock=True,
    )
    parsed.filter(F.col("kind").isin("record", "text")).write.format(
        "noop").mode("overwrite").save()
    return time.monotonic() - t0


def child(cores: int, runs: int, mode: str) -> None:
    from outage_data_scraper_spark.session import get_spark

    n_urls = int(os.environ.get("SB_URLS", "100000"))
    parts = int(os.environ.get("SB_PARTS", "32"))
    extra = {}
    for kv in os.environ.get("SB_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            extra[k] = v
    spark = get_spark(app_name=f"scalebisect-{cores}", master=f"local[{cores}]",
                      shuffle_partitions=parts, extra_conf=extra)
    try:
        job(spark, min(n_urls, 4000), parts, mode)  # warmup
        walls = [job(spark, n_urls, parts, mode) for _ in range(runs)]
    finally:
        spark.stop()
    print(f"SB_WALLS={','.join(f'{w:.3f}' for w in walls)}")


def main():
    import subprocess

    cores = int(sys.argv[1])
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    mode = os.environ.get("SB_MODE", "current")
    total = os.cpu_count() or 32
    pin = f"{total - cores}-{total - 1}" if cores < total else f"0-{total - 1}"
    code = (
        "import sys; sys.path.insert(0, '.');"
        "from scripts.scalebisect import child;"
        f"child({cores}, {runs}, '{mode}')"
    )
    out = subprocess.run(
        ["taskset", "-c", pin, sys.executable, "-c", code],
        capture_output=True, text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    walls = None
    for line in out.stdout.splitlines():
        if line.startswith("SB_WALLS="):
            walls = [float(x) for x in line.split("=")[1].split(",")]
    if walls is None:
        print(out.stderr[-3000:])
        sys.exit(1)
    print(f"{mode} p{cores} min={min(walls):.3f} walls={walls}")


if __name__ == "__main__":
    main()
