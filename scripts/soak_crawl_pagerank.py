"""4M-URL crawl soak with PageRank reprioritization AND revisit
scheduling live in the wave loop (VERDICT r5 item 7), plus a
KILL/RESUME mode at soak scale (VERDICT r6 item 4).

Frontier: 4M ccl seeds (linked synthetic web — pages carry
deterministic cross-host outlinks, so the crawl DISCOVERS a real host
graph as it runs). Loop per wave:

  wave  -> run_wave (pop, fetch, parse, commit snapshots) under a
        GLOBAL wave budget (pop_wave wave_budget): per-host quotas
        alone would admit every pending host, so the budget is what
        makes rank feedback decide WHO gets crawled, not just in what
        order.
  after waves 1 and 3 (rank-refresh cadence): host edges projected
        from the frontier (graph.ccl_host_edges — zero joins),
        pagerank_micro over the crawled host space, applied LAZILY via
        Crawler.set_host_priorities — host-count-sized state + one
        broadcast join at pop time; a rank refresh never rewrites the
        frontier (the eager reprioritize+overwrite path measured
        101.7 s at 4M rows and is tested separately in test_ccl.py).
  after wave 4: revisit_schedule over the fetch log (content sig =
        xxhash64 of page text) picks the earliest-due refresh batch ->
        request_recrawl, so waves 5-6 interleave refetches with fresh
        URLs under the SAME zero-duplicate accounting.

Checks (hard asserts, computed from the COMMITTED waves table so they
hold identically across kill/resume): records == fetches ==
sum(popped); every URL fetched exactly once EXCEPT the recrawl batch
(exactly twice); popped host mean-rank jumps after each rank refresh
(the reprioritization is observable in the pop order, not just
plumbed).

Kill/resume mode (--kill-wave N): a CHILD process runs the soak and
os._exit(137)s in the exact crash window the marker protocol defends —
after wave N's records/pages/fetch_log/frontier commits, before the
wave marker. The parent then opens the same catalog in a FRESH JVM,
asserts the partial wave-N snapshots are present (proof the kill
landed inside the window), calls resume() TWICE (idempotence: same
next-wave, no state change), asserts the rollback removed every
wave-N row, and re-runs waves N..W with the full rank/revisit cadence
(host_rank / recrawl / seen_bloom state reloads from the catalog).
Final invariants then prove no re-fetch and no loss across the crash.

Usage: python scripts/soak_crawl_pagerank.py [--urls 4000000]
       [--hosts 80000] [--waves 6] [--catalog /tmp/soak_pr]
       [--kill-wave N]
Emits one JSON line; paste the table into BENCH.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _build(args):
    # 4M-scale bloom/bitset collects OOM the 8g default heap (r7 run:
    # wave-3 Pickler OOM); the soak owns the machine, so take the heap
    # the r6 ops soak uses unless the caller overrides
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    from outage_data_scraper_spark.session import get_spark
    from outage_data_scraper_spark.catalog import SnapshotCatalog
    from outage_data_scraper_spark.frontier.crawler import Crawler
    from outage_data_scraper_spark.sources.fixtures import make_fixture_fetcher

    spark = get_spark(master="local[32]", shuffle_partitions=256)
    cat = SnapshotCatalog(args.catalog)
    c = Crawler(
        spark, cat, make_fixture_fetcher,
        per_host_k=args.per_host_k, num_parts=args.num_parts, salt=16,
        seen_mode="bloom", simulated_clock=True,
        wave_budget=args.wave_budget,
        bloom_expected_n=args.bloom_n or args.urls * 4, bloom_fpp=1e-4,
    )
    return spark, cat, c


def soak_loop(spark, cat, c, args, start_wave: int, kill_wave: int | None):
    """Waves start_wave..args.waves with the rank/revisit cadence.
    All cadence inputs reload from catalog tables, so the loop is
    crash/resume-transparent. With kill_wave set, cat.write is wrapped
    to hard-exit the process right before that wave's marker commit —
    the exact window between table commits and the commit point."""
    from pyspark.sql import functions as F

    from outage_data_scraper_spark.frontier.revisit import revisit_schedule
    from outage_data_scraper_spark.operators.graph import (
        ccl_host_edges,
        pagerank_micro,
    )

    if kill_wave is not None:
        orig_write = cat.write

        def write_or_die(table, df, **kw):
            if table == "waves" and kw.get("wave") == kill_wave:
                print(f"KILL: exiting before wave-{kill_wave} marker",
                      file=sys.stderr)
                sys.stderr.flush()
                os._exit(137)  # hard kill — no cleanup, like a SIGKILL
            return orig_write(table, df, **kw)

        cat.write = write_or_die

    # persisted host ranks (if a refresh already ran pre-crash) for the
    # mean-rank observability metric
    ranks = (
        cat.read(spark, "host_rank").localCheckpoint(eager=True)
        if cat.exists("host_rank")
        else None
    )
    rank_refresh_s, pop_mean_rank = {}, {}
    waves = []
    for w in range(start_wave, args.waves + 1):
        ws = c.run_wave(w)
        if ws is None:  # frontier exhausted: nothing was committed
            break
        waves.append(ws)
        print(f"wave {w}: popped={ws.popped} ok={ws.ok} failed={ws.failed} "
              f"records={ws.records} children={ws.children} wall={ws.wall_s:.1f}s",
              file=sys.stderr)

        if ranks is not None:
            mr = (
                c.fetch_log().filter(F.col("wave") == w)
                .select(F.expr("parse_url(url, 'HOST')").alias("node"))
                .join(F.broadcast(ranks), "node", "left")
                .agg(F.avg("rank_micro").alias("m"))
                .collect()[0]["m"]
            )
            pop_mean_rank[w] = round(float(mr or 0.0), 1)
            print(f"  mean rank_micro of wave-{w} pops: {pop_mean_rank[w]}",
                  file=sys.stderr)

        if w in (1, 3):  # rank-refresh cadence
            t = time.monotonic()
            frontier = c.frontier()
            edges = ccl_host_edges(frontier)
            n_edges = edges.count()
            assert n_edges > 0, "no host edges discovered (bloom undersized?)"
            print(f"  host edges: {n_edges}", file=sys.stderr)
            nodes = frontier.select(F.col("host").alias("node")).distinct()
            ranks = pagerank_micro(edges, nodes, n_iter=5).localCheckpoint(eager=True)
            c.set_host_priorities(ranks)
            rank_refresh_s[w] = round(time.monotonic() - t, 1)
            mr = (
                c.fetch_log().filter(F.col("wave") == w)
                .select(F.expr("parse_url(url, 'HOST')").alias("node"))
                .join(F.broadcast(ranks), "node", "left")
                .agg(F.avg("rank_micro").alias("m"))
                .collect()[0]["m"]
            )
            pop_mean_rank[w] = round(float(mr or 0.0), 1)
            print(f"  rank refresh after wave {w}: {rank_refresh_s[w]}s; "
                  f"wave-{w} pop mean rank (retro): {pop_mean_rank[w]}",
                  file=sys.stderr)

        if w == 4:  # revisit scheduling: earliest-due refresh batch
            t = time.monotonic()
            hist = (
                cat.read(spark, "pages")
                .select(
                    "url", F.col("warc_ts").alias("ts"),
                    F.xxhash64("text").cast("string").alias("sig"),
                )
            )
            sched = revisit_schedule(hist, id_col="url", ts_col="ts", sig_col="sig")
            due = sched.orderBy("next_fetch_epoch", "entity").limit(args.recrawl_n)
            recrawl_urls = due.select(F.col("entity").alias("url")).localCheckpoint(
                eager=True
            )
            c.request_recrawl(recrawl_urls)
            print(f"  revisit: requested {recrawl_urls.count()} recrawls "
                  f"({time.monotonic() - t:.1f}s)", file=sys.stderr)
    return waves, rank_refresh_s, pop_mean_rank


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--urls", type=int, default=4_000_000)
    p.add_argument("--hosts", type=int, default=80_000)
    p.add_argument("--waves", type=int, default=6)
    p.add_argument("--per-host-k", type=int, default=50)
    p.add_argument("--num-parts", type=int, default=256)
    p.add_argument("--recrawl-n", type=int, default=10_000)
    p.add_argument("--wave-budget", type=int, default=400_000)
    p.add_argument("--bloom-n", type=int, default=0,
                   help="bloom capacity; default 4x --urls (children room). "
                        "An undersized bloom saturates and silently "
                        "suppresses ALL discovered children as 'seen'.")
    p.add_argument("--catalog", default="/tmp/soak_pr")
    p.add_argument("--kill-wave", type=int, default=0,
                   help="kill the driver after wave N's table commits but "
                        "before the wave marker, then resume in a fresh "
                        "process (parent orchestrates both phases)")
    p.add_argument("--child-kill", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args()

    # -------- parent orchestration of the kill/resume experiment --------
    if args.kill_wave and not args.child_kill:
        cmd = [sys.executable, os.path.abspath(__file__)] + [
            a for a in sys.argv[1:]
        ] + ["--child-kill"]
        print(f"spawning kill-phase child (dies before wave-{args.kill_wave} "
              f"marker) ...", file=sys.stderr)
        t_kill = time.monotonic()
        rc = subprocess.call(cmd)
        kill_phase_s = time.monotonic() - t_kill
        assert rc == 137, f"kill child exited {rc}, expected 137"
        print(f"child killed as planned ({kill_phase_s:.1f}s); resuming in "
              f"this (fresh-JVM) process", file=sys.stderr)

    from pyspark.sql import functions as F

    from outage_data_scraper_spark.sources.seeds import synthetic_seeds

    resume_stats = None
    t0 = time.monotonic()
    if args.kill_wave and not args.child_kill:
        # -------- resume phase: fresh process over the crashed catalog ----
        spark, cat, c = _build(args)
        kw = args.kill_wave
        # pre-rollback evidence: the kill landed AFTER the wave's table
        # commits (partial wave-N rows visible) and BEFORE the marker
        partial_fetches = c.fetch_log().filter(F.col("wave") == kw).count()
        assert partial_fetches > 0, (
            "kill window missed: no partial wave rows — the child died "
            "before any table commit, which does not exercise the marker"
        )
        assert c.last_committed_wave() == kw - 1, c.last_committed_wave()
        t_res = time.monotonic()
        nxt = c.resume()
        resume_s = time.monotonic() - t_res
        assert nxt == kw, (nxt, kw)
        # marker idempotence: resume again — same answer, no state change
        sig_before = c.fetch_log().count()
        assert c.resume() == kw
        assert c.fetch_log().count() == sig_before
        # rollback removed every partial row
        assert c.fetch_log().filter(F.col("wave") == kw).count() == 0
        for table in ("records", "pages"):
            if cat.exists(table):
                n = cat.read(spark, table).filter(F.col("wave") == kw).count() \
                    if "wave" in cat.read(spark, table).columns else 0
                assert n == 0, (table, n)
        resume_stats = {
            "kill_wave": kw,
            "partial_fetches_rolled_back": partial_fetches,
            "resume_s": round(resume_s, 1),
        }
        print(f"resume: rolled back {partial_fetches} partial wave-{kw} "
              f"fetches in {resume_s:.1f}s; continuing from wave {kw}",
              file=sys.stderr)
        start_wave, boot_s = nxt, 0.0
    else:
        spark, cat, c = _build(args)
        if not args.child_kill or not cat.exists("waves"):
            shutil.rmtree(args.catalog, ignore_errors=True)
            cat = type(cat)(args.catalog)
            c.cat = cat
            c.bootstrap(synthetic_seeds(spark, args.urls, args.hosts, family="ccl"))
        boot_s = time.monotonic() - t0
        print(f"bootstrap {args.urls} urls / {args.hosts} hosts: {boot_s:.1f}s",
              file=sys.stderr)
        start_wave = 1

    _, rank_refresh_s, pop_mean_rank = soak_loop(
        spark, cat, c, args, start_wave,
        kill_wave=args.kill_wave if args.child_kill else None,
    )
    wall = time.monotonic() - t0

    # ---------------- invariants (from COMMITTED state) ----------------
    wrows = sorted(
        cat.read(spark, "waves").collect(), key=lambda r: r["wave"]
    )
    fl = c.fetch_log()
    n_fetches = fl.count()
    n_popped = sum(r["popped"] for r in wrows)
    n_records = cat.read(spark, "records").count()
    n_failed = sum(r["failed"] for r in wrows)
    assert n_fetches == n_popped, (n_fetches, n_popped)
    assert n_records == n_popped - n_failed, (n_records, n_popped, n_failed)

    per_url = fl.groupBy("url").count()
    n_twice = per_url.filter(F.col("count") == 2).count()
    n_more = per_url.filter(F.col("count") > 2).count()
    recrawl_urls = (
        cat.read(spark, "recrawl").select("url").distinct()
        if cat.exists("recrawl")
        else None
    )
    recrawled_twice = (
        per_url.filter(F.col("count") == 2)
        .join(recrawl_urls, "url", "left_anti")
        .count()
        if recrawl_urls is not None
        else 0
    )
    assert n_more == 0, f"{n_more} URLs fetched >2x"
    assert recrawled_twice == 0, f"{recrawled_twice} double-fetches outside the recrawl batch"

    out = {
        "metric": "crawl_soak_pagerank_4m",
        "urls": args.urls,
        "hosts": args.hosts,
        "wave_budget": args.wave_budget,
        "waves": [
            {"wave": r["wave"], "popped": r["popped"], "ok": r["ok"],
             "failed": r["failed"], "children": r["children"],
             "wall_s": round(r["wall_s"], 1)}
            for r in wrows
        ],
        "crawled": n_fetches,
        "records": n_records,
        "double_fetched_recrawls": n_twice,
        "recrawl_requested": args.recrawl_n,
        "rank_refresh_s": rank_refresh_s,
        "pop_mean_rank_micro": pop_mean_rank,
        "bootstrap_s": round(boot_s, 1),
        "total_wall_s": round(wall, 1),
        "urls_per_s": round(n_fetches / wall, 1),
    }
    if resume_stats:
        out["kill_resume"] = resume_stats
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
