"""The two crawl workloads: crawl_linked (bulk crawl of the linked
synthetic web) and poll_reference (re-polling a reference-shaped seed
list). Both drive ``frontier.crawler.Crawler`` with the exact seen mode and
the simulated politeness clock, and check their catalogs against
pure-Python twins built from ``sources.fixtures`` and ``parsers.families``.
"""

from __future__ import annotations

import os
import random
import shutil
import time
import zlib

from . import harness
from .harness import Run, Workload, geomean, late_median, median

# crawl_linked: 5k seeds on n/50 log-uniform hosts; about 7.5k fetches in
# three waves (the seeds, then first- and second-hop outlinks)
CRAWL_SEEDS, CRAWL_SEEDS_TOY = 5_000, 400
# poll_reference: 285 seeds over every (state, layout) entry, 214 hosts
POLL_SEEDS, POLL_HOSTS, POLL_HOT_HOST = 285, 214, 28
POLL_WAVES_PER_S = 0.3  # fixed wave count per run: round(seconds x this)
TEXT_SAMPLE_MOD = 64  # crawl_linked text check: urls with crc32 % 64 == 0


def _crawler(r: Run, root: str):
    from outage_data_scraper_spark.catalog import SnapshotCatalog
    from outage_data_scraper_spark.frontier.crawler import Crawler
    from outage_data_scraper_spark.sources.fixtures import make_fixture_fetcher

    shutil.rmtree(root, ignore_errors=True)
    cat = SnapshotCatalog(root)
    c = Crawler(
        r.spark, cat, make_fixture_fetcher, per_host_k=1_000_000,
        num_parts=2 * r.n_cores, rate_per_host=1000.0,
        seen_mode="exact", simulated_clock=True,
    )
    return c, cat


def _check(name: str, ok: bool, detail: str = "") -> dict:
    return {"check": name, "ok": bool(ok), "detail": detail}


def _footprint_lines(fp: dict) -> list[str]:
    lines = [
        f"catalog.{t}: {v['files']} files, {v['bytes']} bytes, {v['snapshots']} snapshots read per scan"
        for t, v in fp["tables"].items()
    ]
    return lines + [
        f"catalog.files {fp['files']} count",
        f"catalog.bytes_per_url {fp['bytes_per_url']:.6g} B",
        f"catalog.max_snapshots {fp['max_snapshots']} count",
    ]


def crawl_layer_detail(tracer, steps_stats: list[dict], fp: dict) -> dict:
    """Module-level numbers of the traced waves, named by module."""
    tot = tracer.totals()

    def self_s(name: str) -> float:
        return tot.get(name, {}).get("self_s", 0.0)

    waves = [s for s in tracer.spans if s.name == "crawler.run_wave"]
    n_waves, n_steps = max(len(waves), 1), max(len(steps_stats), 1)
    wall = sum(s.end - s.start for s in waves)
    driver_self = sum(tracer.self_time(s) for s in waves)
    cand = tracer.counts.get("seen.candidates", 0)
    out = {
        "fetch.fetch_s": self_s("fetch.fetch_wave"),
        "fetch.urls": tracer.counts.get("fetch.urls", 0),
        "fetch.non200": tracer.counts.get("fetch.non200", 0),
        "parse.parse_s": self_s("parse.parse_wave"),
        "parse.rows_out": tracer.counts.get("parse.rows_out", 0),
        "seen.filter_s": self_s("seen.filter_unseen"),
        "seen.candidates": cand,
        "seen.kept_ratio": tracer.counts.get("seen.kept", 0) / cand if cand else 0.0,
        "crawler.pending_s": self_s("crawler.pending"),
        "crawler.wave_wall_s": wall,
        "crawler.driver_self_s": driver_self,
        "crawler.covered_s": wall - driver_self,
        "catalog.read_s": self_s("catalog.read"),
        "priority.pop_s": self_s("priority.pop_wave"),
        "priority.popped": tracer.counts.get("priority.popped", 0),
        "catalog.files": fp["files"],
        "catalog.bytes_per_url": fp["bytes_per_url"],
        "catalog.max_snapshots": fp["max_snapshots"],
        "spark.jobs_per_wave": sum(s["jobs"] for s in steps_stats) / n_steps,
        "spark.stages_per_wave": sum(s["stages"] for s in steps_stats) / n_steps,
        "spark.tasks_per_wave": sum(s["tasks"] for s in steps_stats) / n_steps,
        "trace.waves": n_waves,
    }
    for table in ("fetch_log", "records", "pages", "frontier", "waves", "recrawl"):
        out[f"catalog.write_s.{table}"] = self_s(f"catalog.write.{table}")
    return out


def wave_self_s(tracer) -> float:
    """Median wave wall not covered by any layer span."""
    return median([tracer.self_time(s) for s in tracer.spans if s.name == "crawler.run_wave"])


# -- crawl_linked --------------------------------------------------------------


def ccl_closure(seed_urls: list[str]) -> set[str]:
    """Every URL reachable from the seeds over the linked web's outlinks."""
    from outage_data_scraper_spark.sources.fixtures import ccl_child_urls

    seen, todo = set(seed_urls), list(seed_urls)
    while todo:
        for child in ccl_child_urls(todo.pop()):
            if child not in seen:
                seen.add(child)
                todo.append(child)
    return seen


def check_linked_crawl(fetched: list[str], texts: dict[str, str], expected: set[str]) -> list[dict]:
    """The fetched URL list against the closure, and sampled page texts
    against parse_payload over the fixture renderer."""
    from outage_data_scraper_spark.parsers.families import parse_payload
    from outage_data_scraper_spark.sources.fixtures import render

    got = set(fetched)
    sample = sorted(u for u in expected if zlib.crc32(u.encode()) % TEXT_SAMPLE_MOD == 0)
    bad_text = [
        u for u in sample
        if texts.get(u) != parse_payload("ccl", render(u, "ccl"), u)[2]
    ]
    return [
        _check("fetched set equals closure", got == expected,
               f"missing {len(expected - got)}, extra {len(got - expected)}"),
        _check("every url fetched exactly once", len(fetched) == len(got),
               f"{len(fetched) - len(got)} duplicate fetches"),
        _check("sampled page text equals twin", not bad_text and len(sample) > 0,
               f"{len(bad_text)} of {len(sample)} sampled texts differ"),
    ]


class CrawlLinked(Workload):
    """One cycle is one bulk crawl, bootstrap excluded, run to quiescence."""

    name = "crawl_linked"

    def __init__(self, r: Run, toy: bool):
        self.r = r
        self.n = CRAWL_SEEDS_TOY if toy else CRAWL_SEEDS
        # the seed offsets the synthetic id space: new hosts and outlinks,
        # same seed count
        self.offset = (r.seed % 1000) * self.n
        self.ready: list = []
        self.n_generated = 0
        self.seed_urls: list[str] | None = None

    def seeds(self, n: int, offset: int):
        from pyspark.sql import functions as F

        from outage_data_scraper_spark.sources.seeds import synthetic_seeds

        return synthetic_seeds(self.r.spark, offset + n, max(n // 50, 8), family="ccl").filter(
            F.col("seed_seq") >= offset
        )

    def generate(self, rep: int) -> None:
        """Input generation: a fresh catalog bootstrapped with the seeds."""
        self.n_generated += 1
        c, cat = _crawler(self.r, self.r.path(f"crawl-{self.n_generated}"))
        c.bootstrap(self.seeds(self.n, self.offset))
        self.ready.append((c, cat))

    def warm(self) -> None:
        """None: the measured crawl is the session's first, as in a batch
        crawl job. A warm-up crawl pays every wave's fixed cost once more,
        and only a full crawl warms every wave shape (after a one- or
        two-wave warm-up the next crawl still took 40% longer than the
        third), which the run's time budget cannot afford."""

    def trace_warm(self) -> None:
        """The traced run compares an untraced with a traced crawl, so
        both must be warm: one discarded crawl first."""
        self.cycle()

    def cycle(self) -> dict:
        if not self.ready:
            self.generate(self.n_generated)
        c, cat = self.ready.pop(0)
        t0 = time.monotonic()
        stats = c.run(max_waves=10)
        wall = time.monotonic() - t0
        return {
            "wall": wall, "steps": [s.wall_s for s in stats],
            "items": sum(s.popped for s in stats), "cat": cat,
        }

    def check(self, cyc: dict) -> list[dict]:
        from pyspark.sql import functions as F

        spark, cat = self.r.spark, cyc["cat"]
        if self.seed_urls is None:
            self.seed_urls = [row.url for row in self.seeds(self.n, self.offset).select("url").collect()]
        fetched = [row.url for row in cat.read(spark, "fetch_log").select("url").collect()]
        pages = cat.read(spark, "pages").select("url", "text")
        hits = pages.filter(
            F.pmod(F.crc32(F.col("url")), F.lit(TEXT_SAMPLE_MOD)) == 0
        ).collect()
        texts = {row.url: row.text for row in hits}
        return check_linked_crawl(fetched, texts, ccl_closure(self.seed_urls))

    def verify(self, cycles: list[dict]) -> tuple[list[dict], int, int]:
        checks, failed = [], 0
        for cyc in cycles:
            cc = self.check(cyc)
            failed += not all(c["ok"] for c in cc)
            checks += cc
        self.footprint = harness.catalog_footprint(cycles[-1]["cat"].root, cycles[-1]["items"])
        return checks, len(cycles), failed

    def e2e(self, cycles: list[dict]) -> dict:
        walls = [c["wall"] for c in cycles]
        return {
            "cycle_s": median(walls),
            "throughput": sum(c["items"] for c in cycles) / sum(walls),
        }

    def named(self, cycles: list[dict]) -> dict:
        walls = [c["wall"] for c in cycles]
        return {
            "crawl.urls_per_s": (sum(c["items"] for c in cycles) / sum(walls), "URLs/s"),
            "crawl.wall_s": (median(walls), "s"),
            "crawl.fetches": (median([c["items"] for c in cycles]), "count"),
        }

    def report(self) -> list[str]:
        return _footprint_lines(self.footprint)

    def layer_detail(self, tracer, untraced, traced, steps_stats) -> dict:
        fp = harness.catalog_footprint(traced[-1]["cat"].root, traced[-1]["items"])
        return crawl_layer_detail(tracer, steps_stats, fp)

    def driver_self_s(self, tracer, steps_stats) -> float:
        return wave_self_s(tracer)


# -- poll_reference ------------------------------------------------------------


def reference_seeds(seed: int) -> list[dict]:
    """285 seeds over all registry entries on 214 hosts (one host holds
    28 seeds, as in the reference's own list). Sizes are fixed; the
    workload seed permutes which seeds share a host and the event order."""
    from outage_data_scraper_spark.parsers.registry import FAMILY_BY_STATE_LAYOUT

    entries = sorted(FAMILY_BY_STATE_LAYOUT)
    shape = random.Random(0)
    per_entry = [1] * len(entries)
    weights = [1.0 / (k + 1) for k in range(len(entries))]
    for k in shape.choices(range(len(entries)), weights=weights, k=POLL_SEEDS - len(entries)):
        per_entry[k] += 1
    # host sizes: one hot host, then pairs and singles up to 214 hosts
    n_rest_hosts = POLL_HOSTS - 1
    n_pairs = (POLL_SEEDS - POLL_HOT_HOST) - n_rest_hosts
    host_sizes = [POLL_HOT_HOST] + [2] * n_pairs + [1] * (n_rest_hosts - n_pairs)

    rng = random.Random(seed)
    order = list(range(len(entries)))
    rng.shuffle(order)
    slots = [(e, j) for e in range(len(entries)) for j in range(per_entry[e])]
    rng.shuffle(slots)
    host_of = {}
    it = iter(slots)
    for h, size in enumerate(host_sizes):
        for _ in range(size):
            host_of[next(it)] = f"u{h}.utility-{h % 17}.example"
    rows = []
    for event_seq, e in enumerate(order):
        state, layout = entries[e]
        for j in range(per_entry[e]):
            rows.append({
                "event_seq": event_seq, "seed_seq": j, "state": state, "layout": layout,
                "emc": f"EMC {state}{layout}-{j}",
                "url": f"https://{host_of[(e, j)]}/outages/{state}{layout}-{j}/",
                "bucket": "data",
            })
    return rows


def poll_twin(rows: list[dict]) -> dict[str, str]:
    """url -> page text for every URL the seeds reach, in pure Python."""
    from outage_data_scraper_spark.parsers.families import canonical_text, parse_payload
    from outage_data_scraper_spark.parsers.registry import family_for
    from outage_data_scraper_spark.sources.fixtures import FAMILY_ENDPOINTS, endpoint_kind, render

    out: dict[str, str] = {}
    todo = []
    for row in rows:
        fam = family_for(row["state"], row["layout"])
        todo.extend((row["url"] + s, fam) for s in FAMILY_ENDPOINTS.get(fam, [""]))
    while todo:
        url, fam = todo.pop()
        if url in out:
            continue
        levels, children, text = parse_payload(endpoint_kind(url, fam), render(url, fam), url)
        out[url] = text if text is not None else canonical_text(levels)
        todo.extend((c, fam) for c in children)
    return out


def check_poll_waves(fetches: dict[int, list[str]], texts: dict[int, dict[str, str]],
                     twin: dict[str, str]) -> dict[int, list[dict]]:
    """Per wave: the whole frontier fetched exactly once, and every page
    text identical to the twin (hence identical across waves)."""
    frontier = set(twin)
    out = {}
    for wave, urls in sorted(fetches.items()):
        got = set(urls)
        wave_texts = texts.get(wave, {})
        bad = [u for u, t in wave_texts.items() if twin.get(u) != t]
        out[wave] = [
            _check("wave fetches the whole frontier", got == frontier,
                   f"missing {len(frontier - got)}, extra {len(got - frontier)}"),
            _check("wave fetches each url once", len(urls) == len(got),
                   f"{len(urls) - len(got)} duplicate fetches"),
            _check("page texts equal twin", not bad and set(wave_texts) == frontier,
                   f"{len(bad)} differ, {len(frontier - set(wave_texts))} missing"),
        ]
    return out


class PollReference(Workload):
    """Bootstrapped once in set-up; one cycle is one re-poll wave:
    request_recrawl of the whole frontier, then run_wave."""

    name = "poll_reference"

    def __init__(self, r: Run, toy: bool):
        self.r = r
        self.rows = reference_seeds(r.seed)
        self.ready: list = []
        self.c = self.cat = None
        self.wave = 0
        self.timed_waves: list[int] = []

    def generate(self, rep: int) -> None:
        from outage_data_scraper_spark.sources.seeds import seeds_df

        c, cat = _crawler(self.r, self.r.path(f"poll-{rep}"))
        c.bootstrap(seeds_df(self.r.spark, self.rows))
        self.ready.append((c, cat))

    def warm(self) -> None:
        """The bootstrap crawl: run the seed list to quiescence."""
        self.c, self.cat = self.ready[0]
        self.c.run(max_waves=10)
        self.wave = self.c.last_committed_wave()

    def cycle(self) -> dict:
        c = self.c
        self.wave += 1
        t0 = time.monotonic()
        c.request_recrawl(c.frontier().select("url"))
        s = c.run_wave(self.wave)
        wall = time.monotonic() - t0
        self.timed_waves.append(self.wave)
        return {"wall": wall, "steps": [wall], "items": s.popped}

    def check_all(self) -> dict[int, list[dict]]:
        """Checks per timed wave, read back from the catalog."""
        spark, cat = self.r.spark, self.cat
        fetches: dict[int, list[str]] = {w: [] for w in self.timed_waves}
        for row in cat.read(spark, "fetch_log").select("url", "wave").collect():
            if row.wave in fetches:
                fetches[row.wave].append(row.url)
        texts: dict[int, dict[str, str]] = {}
        for snap in cat.snapshots("pages"):
            if snap["wave"] not in fetches:
                continue
            path = os.path.join(cat.root, "pages", snap["dir"])
            texts[snap["wave"]] = {
                row.url: row.text for row in spark.read.parquet(path).select("url", "text").collect()
            }
        return check_poll_waves(fetches, texts, poll_twin(self.rows))

    def fixed_cycles(self, seconds: float) -> int:
        return max(3, round(seconds * POLL_WAVES_PER_S))

    def verify(self, cycles: list[dict]) -> tuple[list[dict], int, int]:
        per_wave = self.check_all()
        checks = [c for cc in per_wave.values() for c in cc]
        failed = sum(not all(c["ok"] for c in cc) for cc in per_wave.values())
        self.footprint = harness.catalog_footprint(self.cat.root, sum(c["items"] for c in cycles))
        return checks, len(cycles), failed

    def e2e(self, cycles: list[dict]) -> dict:
        walls = [c["wall"] for c in cycles]
        return {
            "cycle_s": median(walls),
            "throughput": sum(c["items"] for c in cycles) / sum(walls),
        }

    def report(self) -> list[str]:
        return _footprint_lines(self.footprint)

    def layer_detail(self, tracer, untraced, traced, steps_stats) -> dict:
        return crawl_layer_detail(tracer, steps_stats, self.footprint)

    def driver_self_s(self, tracer, steps_stats) -> float:
        return wave_self_s(tracer)

    def named(self, cycles: list[dict]) -> dict:
        walls = [c["wall"] for c in cycles]
        return {
            "poll.wave_s_p50": (median(walls), "s"),
            "poll.wave_s_late": (late_median(walls), "s"),
            "poll.fetches_per_wave": (median([c["items"] for c in cycles]), "count"),
        }
