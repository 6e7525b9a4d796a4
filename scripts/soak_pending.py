"""Soak: pending() cost over a long crawl — flat with compaction.

The frontier is an append-only enqueue log and "pending" is derived
(frontier ANTI fetch_log), so a 10³-wave crawl accumulates 10³ fetch_log
snapshot dirs; without maintenance every pending() probe lists and scans
the files of the whole append history (one scan, but one more dir of small
files per wave). This soak simulates a 10⁶-URL crawl across N_WAVES waves
(each wave appends one fetch_log snapshot marking ~10⁶/N_WAVES URLs done —
the append pattern of run_wave, without paying fetch/parse time) and times
the pending anti-join each wave's pop pays (run() stops on an empty pop, no
separate probe), as `pending().limit(1).count()` at checkpoints, in two regimes:

  compacted:  Crawler.compact() every COMPACT_EVERY waves
  append-only: never compacted (the degenerate baseline)

Usage: python scripts/soak_pending.py [--urls 1000000] [--waves 1000]
Writes one JSON line per probe to stdout and a summary block at the end —
numbers land in SCALE.md §pending-soak.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from outage_data_scraper_spark.catalog import SnapshotCatalog  # noqa: E402
from outage_data_scraper_spark.frontier.crawler import Crawler  # noqa: E402
from outage_data_scraper_spark.frontier.priority import seeds_to_frontier  # noqa: E402
from outage_data_scraper_spark.session import get_spark  # noqa: E402
from outage_data_scraper_spark.sources.seeds import synthetic_seeds  # noqa: E402


def done_slice(spark, lo: int, hi: int, n_urls: int, n_hosts: int, wave: int):
    """FETCH_LOG-shaped rows for seed ids [lo, hi) — regenerated from the
    synthetic_seeds formula, so no frontier scan per simulated wave."""
    seeds = synthetic_seeds(spark, n_urls, n_hosts).filter(
        (F.col("seed_seq") >= lo) & (F.col("seed_seq") < hi)
    )
    return seeds.select(
        "url",
        F.lit(wave).alias("wave"),
        F.current_timestamp().alias("ts"),
        F.lit(200).alias("status"),
        F.lit(None).cast("string").alias("reason"),
        F.lit(100).cast("long").alias("bytes"),
        F.lit(0).cast("int").alias("partition_id"),
        "emc",
        F.lit("cc").alias("state"),
        F.lit("0").alias("layout"),
    )


def run_regime(spark, n_urls: int, n_waves: int, compact_every: int | None,
               probe_every: int) -> list[dict]:
    n_hosts = max(n_urls // 50, 8)
    tmp = tempfile.mkdtemp(prefix=f"soak_{'cmp' if compact_every else 'raw'}_")
    cat = SnapshotCatalog(tmp)
    c = Crawler(spark, cat, lambda: None, num_parts=16)
    c.bootstrap(synthetic_seeds(spark, n_urls, n_hosts))
    batch = n_urls // n_waves
    probes = []
    try:
        for w in range(1, n_waves + 1):
            lo, hi = (w - 1) * batch, w * batch
            cat.write("fetch_log", done_slice(spark, lo, hi, n_urls, n_hosts, w), wave=w)
            if compact_every and w % compact_every == 0:
                t0 = time.monotonic()
                cat.compact(spark, "fetch_log")
                compact_s = time.monotonic() - t0
            else:
                compact_s = None
            if w % probe_every == 0 or w == n_waves:
                t0 = time.monotonic()
                c.pending().limit(1).count()
                probe = {
                    "regime": "compacted" if compact_every else "append-only",
                    "wave": w,
                    "snapshots": len(cat.snapshots("fetch_log")),
                    "pending_probe_s": round(time.monotonic() - t0, 3),
                }
                if compact_s is not None:
                    probe["compact_s"] = round(compact_s, 3)
                probes.append(probe)
                print(json.dumps(probe), flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return probes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--urls", type=int, default=1_000_000)
    ap.add_argument("--waves", type=int, default=1000)
    ap.add_argument("--probe-every", type=int, default=50)
    ap.add_argument("--compact-every", type=int, default=100)
    ap.add_argument("--raw-waves", type=int, default=None,
                    help="wave count for the append-only baseline (default: same)")
    args = ap.parse_args()

    spark = get_spark(app_name="soak-pending", master="local[8]", shuffle_partitions=16)
    compacted = run_regime(spark, args.urls, args.waves, args.compact_every,
                           args.probe_every)
    raw = run_regime(spark, args.urls, args.raw_waves or args.waves, None,
                     args.probe_every)
    summary = {
        "urls": args.urls,
        "waves": args.waves,
        "compact_every": args.compact_every,
        "compacted_probe_s_first": compacted[0]["pending_probe_s"],
        "compacted_probe_s_last": compacted[-1]["pending_probe_s"],
        "compacted_probe_s_max": max(p["pending_probe_s"] for p in compacted),
        "append_only_probe_s_first": raw[0]["pending_probe_s"],
        "append_only_probe_s_last": raw[-1]["pending_probe_s"],
    }
    print("SUMMARY " + json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()
