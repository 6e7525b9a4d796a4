"""The crawl wave loop: iterative BSP over snapshot-versioned tables.

Replaces the reference's sequential handler loop (app/main.py:13–64) with:

    seeds → frontier (append-only enqueue log)
    repeat per wave:
        pending  = frontier ⟕̸ fetch_log           (anti-join: not yet fetched)
        popped   = top-k per host by the ordering law (priority.pop_wave)
        parsed   = ONE mapInPandas stage: fetch w/ politeness, then the
                   vectorized family parsers        (parse.fused_fetch_parse)
        stop if popped was empty (no text/error rows) — nothing committed
        append records / pages-text / fetch_log
        children = discovered URLs, deduped against everything enqueued
                   (exact anti-join or Bloom fast path), written straight
                   to frontier; their count is the written files' footer
                   row count, and no children commit no frontier snapshot
        commit wave marker (one driver-written parquet row: no Spark job)
        stop if the wave drained pending (WaveStats.drained)

State design: the frontier is an *append-only enqueue log* whose rows
carry no status; "pending" is derived (frontier ANTI fetch_log), so no
table is ever rewritten in place
— every wave is a set of appends plus one wave-marker commit. A killed job
resumes by rolling back any table snapshot newer than the last committed
wave marker (resume()); re-fetching never happens because fetch_log is the
source of truth for "done" (north rule: resumable mid-frontier).

Shuffle budget per wave: one hash shuffle for the per-host window pop, one
repartition(salted_part) for the fused fetch+parse stage — matching
SURVEY.md §4.4's "exactly two shuffles per wave" — and one Python stage
(the fetched payloads never leave the worker that fetched them). The
pending anti-join is evaluated once per wave: the wave's own pop is the
termination test, not a separate emptiness probe.

Stop rule: ``run()`` stops after a committed wave that provably left
nothing pending, so a drained crawl runs no trailing empty wave. The
proof is exact and costs no Spark action: the wave found no children,
no domain budget apportioned it, a wave budget (if any) did not bind
(``popped < wave_budget``), and no host popped ``per_host_k`` URLs
(``pop_wave``'s ``host_popped`` rides the fused stage into the wave's
one counting aggregate). Then every pending URL was popped and is now
in fetch_log. A wave that cannot prove it runs the next wave, whose
empty pop ends the crawl as before.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from .. import schemas
from ..functions import urlkit
from ..catalog import SnapshotCatalog
# fetch_wave / parse_wave: the two-stage API, re-exported for callers that
# wrap the crawler's stage functions by module attribute
from ..parsers.parse import fused_fetch_parse, parse_wave  # noqa: F401
from .fetch import fetch_wave  # noqa: F401
from .priority import pop_wave, seeds_to_frontier
# filter_unseen_bloom: the sketch probe under the module-attribute name
# such wrappers patch; the child chain calls it through this global
from .seen import BloomFilter, bloom_from_df, filter_unseen_exact
from .seen import filter_unseen_sketch as filter_unseen_bloom


def _row(schema: StructType, **row) -> pa.Table:
    """One bookkeeping row as a pyarrow.Table, which SnapshotCatalog.write
    commits from the driver: no Spark job, no Python task."""
    return pa.Table.from_pylist([row], schema=to_arrow_schema(schema))


def first_discoveries(parsed: DataFrame, wave: int) -> DataFrame:
    """The wave's discovered children as frontier rows, one per child URL:
    its first discovery by (event_seq, seed_seq, depth, child_seq,
    child_rank) — the reference's visited semantics. The ``rn == 1`` cut
    plans a WindowGroupLimit whose Partial half keeps each map task's
    top-1 per URL below the child_url exchange (tests/test_plans.py)."""
    w_first = Window.partitionBy("child_url").orderBy(
        "event_seq", "seed_seq", "depth", "child_seq", "child_rank"
    )
    return (
        parsed.filter(F.col("kind") == "child")
        .withColumn("rn", F.row_number().over(w_first))
        .filter(F.col("rn") == 1)
        .select(
            F.col("child_url").alias("url"),
            urlkit.host(F.col("child_url")).alias("host"),
            F.lit(0.0).alias("priority"),
            (F.col("depth") + 1).alias("depth"),
            "event_seq", "seed_seq",
            F.col("child_rank").alias("child_seq"),
            "state", "layout", "emc", "family",
            F.lit(wave).alias("wave"),
        )
    )


@dataclass
class WaveStats:
    """One committed wave. Every field but ``drained`` is a column of the
    ``waves`` marker row (schemas.WAVES). ``drained`` is True when the
    wave provably popped every pending URL and found no children, so the
    next pop is empty (module docstring, stop rule)."""

    wave: int
    popped: int
    ok: int
    failed: int
    records: int
    children: int
    wall_s: float
    drained: bool


class Crawler:
    def __init__(
        self,
        spark: SparkSession,
        catalog: SnapshotCatalog,
        fetcher_factory,
        per_host_k: int = 4,
        num_parts: int = 32,
        salt: int = 1,
        rate_per_host: float = 10.0,
        seen_mode: str = "exact",
        simulated_clock: bool = True,
        bloom_expected_n: int = 100_000,
        bloom_fpp: float = 1e-4,
        host_budget: int | None = None,
        wave_budget: int | None = None,
        domain_budget: int | None = None,
    ):
        # each would otherwise fail inside wave 1 (pmod by zero, a
        # zero-partition repartition, a zero-rate pacer) or silently: a
        # zero-row pop reads as "crawl done" (run() returns []), and a
        # zero host budget goes unenforced
        for knob, v in (("per_host_k", per_host_k), ("num_parts", num_parts),
                        ("salt", salt), ("host_budget", host_budget),
                        ("wave_budget", wave_budget), ("domain_budget", domain_budget)):
            if v is not None and v < 1:
                raise ValueError(f"{knob} must be >= 1, got {v!r}")
        if not rate_per_host > 0:
            raise ValueError(f"rate_per_host must be > 0, got {rate_per_host!r}")
        self.spark = spark
        self.cat = catalog
        self.fetcher_factory = fetcher_factory
        self.per_host_k = per_host_k
        self.num_parts = num_parts
        self.salt = salt
        self.rate_per_host = rate_per_host
        if seen_mode not in ("exact", "bloom"):
            raise ValueError(f"seen_mode must be 'exact' or 'bloom', got {seen_mode!r}")
        if seen_mode == "bloom":
            BloomFilter.sized(1, bloom_fpp)  # raises unless 0 < fpp < 1
        self.seen_mode = seen_mode
        self.simulated_clock = simulated_clock
        self.BLOOM_EXPECTED_N = bloom_expected_n
        self.BLOOM_FPP = bloom_fpp
        self.host_budget = host_budget
        # global per-wave fetch budget: with it set, frontier priority
        # (e.g. PageRank host-rank feedback) decides which hosts make
        # the wave, not just fetch order — see priority.pop_wave
        self.wave_budget = wave_budget
        # fairness mode: the budget apportions across registered domains
        # (Hamilton quotas over pending pools) before any global cut, so
        # one mega-registrant cannot eat a budgeted wave
        self.domain_budget = domain_budget

    # -- state ---------------------------------------------------------------
    def bootstrap(self, seeds: DataFrame) -> None:
        frontier = seeds_to_frontier(seeds)
        self.cat.write("frontier", frontier, mode="overwrite", wave=0)
        if self.seen_mode == "bloom":
            self._bloom_add(frontier.select("url"), wave=0)

    # -- persistent Bloom seen-set --------------------------------------------
    # The Bloom filter is incrementally maintained in the seen_bloom table
    # (one merged bitset row, overwritten and wave-stamped each wave, and
    # written from the driver as one parquet file): each
    # wave ORs in only the NEWLY enqueued URLs instead of rebuilding from
    # the full frontier — at 10^10-URL scale a rebuild would be a
    # full-table scan per wave.
    def _bloom_load(self):
        if not self.cat.exists("seen_bloom"):
            return None
        # only ever overwritten: the live set is the one current row
        row = self.cat.read(self.spark, "seen_bloom").first()
        if row is None:
            return None
        return BloomFilter.from_bytes(row.m, row.k, bytes(row.bitset))

    def _bloom_add(self, urls: DataFrame, wave: int, base=None):
        """OR urls into ``base`` (the bitset the caller already holds;
        None starts afresh) and persist the result as seen_bloom."""
        fresh = bloom_from_df(
            urls, expected_n=self.BLOOM_EXPECTED_N, fpp=self.BLOOM_FPP
        )
        merged = fresh if base is None else base.merge(fresh)
        row = _row(schemas.SEEN_BLOOM, wave=wave, m=merged.m, k=merged.k,
                   bitset=merged.to_bytes())
        self.cat.write("seen_bloom", row, mode="overwrite", wave=wave)
        return merged

    def frontier(self) -> DataFrame:
        return self.cat.read(self.spark, "frontier", schema=schemas.FRONTIER)

    def fetch_log(self) -> DataFrame:
        return self.cat.read(self.spark, "fetch_log", schema=schemas.FETCH_LOG)

    def pending(self) -> DataFrame:
        """frontier ⟕̸ done. A URL is done once fetched — UNLESS a
        re-crawl was requested after its latest fetch: requests live in
        the wave-stamped `recrawl` table, and a fetch from a LATER wave
        than the newest request satisfies it (each request triggers
        exactly one refetch, idempotently across resume). The recrawl
        table is a refresh batch (≪ frontier), so the extra join is
        broadcast-sized at any scale."""
        done = self.fetch_log().select("url", "wave")
        if self.cat.exists("recrawl"):
            req = (
                self.cat.read(self.spark, "recrawl")
                .groupBy("url")
                .agg(F.max("wave").alias("__req_w"))
            )
            done = (
                done.groupBy("url")
                .agg(F.max("wave").alias("__f_w"))
                .join(F.broadcast(req), "url", "left")
                .filter(F.col("__req_w").isNull() | (F.col("__f_w") > F.col("__req_w")))
            )
        pending = filter_unseen_exact(self.frontier(), done.select("url"))
        if self.host_budget is not None:
            # per-host crawl budget (wave-granular: within a wave the pop
            # is already bounded by per_host_k, so total fetches per host
            # stay ≤ budget + per_host_k − 1): hosts that have spent their
            # budget of successful fetches stop enqueuing. One aggregate
            # over fetch_log — at scale this shares the compacted log the
            # anti-join reads anyway.
            exhausted = (
                self.fetch_log()
                .filter(F.col("status") == 200)
                .groupBy(urlkit.host(F.col("url")).alias("host"))
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") >= self.host_budget)
                .select("host")
            )
            pending = pending.join(exhausted, "host", "left_anti")
        return pending

    def set_host_priorities(self, ranks: DataFrame) -> None:
        """Persist host-level priorities (pagerank_micro output:
        (node, rank_micro)) as the ``host_rank`` table. run_wave applies
        them LAZILY at pop time via a broadcast join
        (graph.reprioritize_frontier) — rank refreshes never rewrite the
        frontier. At a 10^10-row frontier a rewrite per refresh is a
        full-table pass (measured 101.7 s at just 4M rows, BENCH.md);
        the lazy form is host-count-sized state plus one broadcast join
        the pop stage already pays two shuffles around. The eager
        overwrite (reprioritize + cat.write mode=overwrite) remains
        valid when a materialized priority column is wanted."""
        self.cat.write(
            "host_rank",
            ranks.select("node", "rank_micro"),
            mode="overwrite",
            wave=self.last_committed_wave(),
        )

    def request_recrawl(self, urls: DataFrame) -> None:
        """Schedule already-fetched URLs for one refetch on the next
        wave(s): appends them to the `recrawl` table stamped with the
        last committed wave, so pending() re-opens them until a newer
        fetch lands. (The cuckoo seen-set variant is the matching
        library piece when enqueue-dedup must also forget — see
        frontier/seen.py:unsee_urls.)"""
        marker = urls.select("url").withColumn(
            "wave", F.lit(self.last_committed_wave())
        )
        self.cat.write("recrawl", marker, wave=self.last_committed_wave())

    def last_committed_wave(self) -> int:
        w = self.cat.last_wave("waves")
        return w if w is not None else 0

    def resume(self) -> int:
        """Roll back any partial wave so all tables agree with the last
        committed wave marker; returns the next wave id to run."""
        last = self.last_committed_wave()
        for table in ("records", "pages", "fetch_log", "frontier", "seen_bloom", "recrawl"):
            snaps = [
                s["id"]
                for s in self.cat.snapshots(table)
                if s.get("wave") is not None and s["wave"] <= last
            ]
            if self.cat.snapshots(table):
                self.cat.rollback(table, max(snaps) if snaps else 0)
        return last + 1

    # -- one wave ------------------------------------------------------------
    def wave_plan(self, wave: int) -> DataFrame:
        """The wave's lazy plan: pending → pop → robots verdict → ONE fused
        fetch+parse Python stage (PARSE_OUT_SCHEMA rows). Two shuffles
        beyond those of the pending anti-join (none on the first wave,
        whose fetch_log is empty): the per-host window pop and the salted
        fetch repartition."""
        pending = self.pending()
        if self.cat.exists("host_rank"):
            from ..operators.graph import reprioritize_frontier

            pending = reprioritize_frontier(
                pending, self.cat.read(self.spark, "host_rank")
            )
        popped = pop_wave(
            pending, self.per_host_k, self.num_parts, self.salt,
            wave_budget=self.wave_budget,
            domain_budget=self.domain_budget,
        ).withColumn("wave", F.lit(wave))

        # robots gate (north rule; absent in the reference, default-allow
        # to preserve crawl parity). The gate only FLAGS rows: the fetch
        # stage logs a denied URL as a 451 error row without requesting
        # it, so allowed and denied URLs come from one evaluation of the
        # pop. Crawl-delay rides the gate's broadcast join onto the wave
        # as a per-row rate_override column (req/s) — the robots table is
        # never collected driver-side (10^8 hosts ≈ 10 GB at target scale).
        if self.cat.exists("robots"):
            from .robots import robots_gate

            robots = self.cat.read(self.spark, "robots", schema=schemas.ROBOTS)
            popped = (
                robots_gate(popped, robots, default_allow=True, flag="robots_allow")
                .withColumn(
                    "rate_override",
                    F.when(F.col("crawl_delay") > 0, 1.0 / F.col("crawl_delay")),
                )
                .drop("crawl_delay")
            )

        return fused_fetch_parse(
            popped,
            self.fetcher_factory,
            num_parts=self.num_parts,
            rate_per_host=self.rate_per_host,
            simulated_clock=self.simulated_clock,
        )

    def run_wave(self, wave: int) -> WaveStats | None:
        """Run and commit one wave; None (and nothing committed) when the
        pop is empty, i.e. the crawl is done."""
        t0 = time.monotonic()
        parsed = self.wave_plan(wave).cache()
        try:
            return self._commit_wave(wave, parsed, t0)
        finally:
            # an aborted wave (resume() pattern) must not pin cached
            # DataFrames in the session for its lifetime
            parsed.unpersist()

    def _commit_wave(self, wave: int, parsed: DataFrame, t0: float) -> WaveStats | None:
        # ONE wall-clock per wave, fixed driver-side: F.current_timestamp()
        # is per-action, and the wave runs several actions — records and
        # pages must share the same run_ts (the reference calls timenow()
        # once per parse, ga_scraper.py:212–214)
        from datetime import datetime, timezone

        wave_ts = datetime.now(timezone.utc).replace(tzinfo=None, microsecond=0)
        run_ts = F.lit(wave_ts).cast("timestamp")

        # ONE action over the cached parse output yields every per-kind
        # count the wave needs (records/pages emptiness gates + ok/failed
        # stats) — three separate counting jobs otherwise dominate the
        # per-wave fixed cost at small wave sizes. Every popped URL yields
        # exactly one text or error row (robots denials included), so
        # ok + failed == 0 is the crawl's termination test: no separate
        # pending probe. The same action takes the largest per-host
        # popped count, which the stop rule reads.
        kind_stats = (
            parsed.groupBy("kind", (F.col("status") == 200).alias("ok"))
            .agg(F.count(F.lit(1)).alias("count"), F.max("host_popped").alias("host_popped"))
            .collect()
        )
        n_records = sum(r["count"] for r in kind_stats if r["kind"] == "record")
        n_pages = sum(r["count"] for r in kind_stats if r["kind"] == "text")
        ok = sum(
            r["count"] for r in kind_stats if r["kind"] in ("error", "text") and r["ok"]
        )
        failed = sum(
            r["count"] for r in kind_stats if r["kind"] in ("error", "text") and not r["ok"]
        )
        if ok + failed == 0:
            return None

        # records PARTITIONED BY (state, layout) — the engine analog of
        # the reference's {state}/layout_{id}/ CSV path (app/main.py:29)
        records = parsed.filter(F.col("kind") == "record").select(
            "url", "state", "layout", "emc", "level", "data",
            run_ts.alias("run_ts"), F.col("wave"),
        )

        # pages partition spec days(warc_ts) per FIXTURES.md §1.1 —
        # month/day filters (O24) prune files; run_ts is one day per
        # wave, so each fetch task writes one pages file
        pages = parsed.filter(F.col("kind") == "text").select(
            "url", run_ts.alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            F.col("text"), F.lit("en").alias("lang"),
            F.date_format(run_ts, "yyyy-MM-dd").alias("warc_day"),
        )

        log = parsed.filter(F.col("kind").isin("error", "text")).select(
            "url", "wave", run_ts.alias("ts"), "status", "reason",
            "bytes", "partition_id", "emc", "state", "layout",
        )

        # The three table commits are independent (different tables →
        # different manifests; all read the CACHED parse output) and each
        # is a separate Spark job whose scheduling gaps dominate the
        # per-wave fixed cost at small wave sizes — submit them
        # concurrently (Spark supports multi-threaded action submission;
        # the FAIR/FIFO scheduler interleaves their tasks). Crash safety
        # is unchanged: every snapshot is wave-stamped and resume() rolls
        # back anything newer than the last committed wave marker, which
        # is still written LAST, sequentially.
        from concurrent.futures import ThreadPoolExecutor

        writes = [lambda: self.cat.write("fetch_log", log, wave=wave)]
        if n_records:
            writes.append(
                lambda: self.cat.write(
                    "records", records, wave=wave, partition_by=["state", "layout"]
                )
            )
        if n_pages:
            writes.append(
                lambda: self.cat.write("pages", pages, wave=wave, partition_by=["warc_day"])
            )
        # children: keep first discovery per URL (visited semantics), then
        # drop anything already enqueued — exact anti-join or Bloom. This
        # chain touches only frontier/seen_bloom, so it rides the same
        # concurrent pool as the three table commits above (it is usually
        # the wave's longest tail: window + anti-join + write + bloom OR).
        # The children go straight to frontier, uncached: the write is
        # the chain's one job, its files' footers give the count, and an
        # empty write commits no snapshot.
        def child_chain() -> int:
            children = first_discoveries(parsed, wave)
            if self.seen_mode == "exact":
                fresh = filter_unseen_exact(children, self.frontier().select("url"))
            else:
                # one seen_bloom read per wave: the bitset probed here is
                # the base the wave's new URLs are ORed into below
                bloom = self._bloom_load()
                if bloom is None:  # e.g. bootstrapped before bloom mode existed
                    bloom = self._bloom_add(self.frontier().select("url"), wave=wave - 1)
                fresh = filter_unseen_bloom(children, bloom)
            snap = self.cat.write("frontier", fresh, wave=wave, skip_empty=True)
            if snap is None:
                return 0
            if self.seen_mode == "bloom":
                # the URLs read back from the snapshot just written: the
                # window and probe behind `fresh` do not run again
                added = self.cat.read(self.spark, "frontier", snapshot=snap, since=snap - 1,
                                      schema=schemas.FRONTIER)
                self._bloom_add(added.select("url"), wave=wave, base=bloom)
            return self.cat.snapshot_rows("frontier", snap)

        with ThreadPoolExecutor(max_workers=len(writes) + 1) as pool:
            child_fut = pool.submit(child_chain)
            for fut in [pool.submit(w) for w in writes]:
                fut.result()  # propagate the first failure, wave aborts
            n_children = child_fut.result()

        popped = ok + failed
        host_max = max(r["host_popped"] for r in kind_stats)
        drained = (
            n_children == 0
            and self.domain_budget is None
            and (self.wave_budget is None or popped < self.wave_budget)
            and host_max < self.per_host_k
        )
        stats = WaveStats(
            wave, popped, ok, failed, n_records, n_children, time.monotonic() - t0,
            drained,
        )
        # the wave commit point: one driver-written row, no Spark job
        marker = {c: getattr(stats, c) for c in schemas.WAVES.fieldNames()}
        self.cat.write("waves", _row(schemas.WAVES, **marker), wave=wave)
        return stats

    def compact(self) -> None:
        """Long-crawl maintenance: rewrite every table's live state as one
        snapshot (Iceberg rewrite_data_files analog). Appends are one
        snapshot per wave per table, so a 10^4-wave crawl would otherwise
        list and open 10^4 snapshot dirs of small files per read — the
        `pending` anti-join included. Compaction cuts that file count.
        Safe at any wave boundary: compact() stamps the snapshot with the
        table's last committed wave, so resume() keeps it."""
        for table in ("records", "pages", "fetch_log", "frontier", "waves", "recrawl"):
            if self.cat.exists(table):
                self.cat.compact(self.spark, table)

    def run(self, max_waves: int = 10) -> list[WaveStats]:
        """Run waves until the crawl is done: after a wave that drained
        pending, or at a wave whose pop is empty (it commits nothing)."""
        out = []
        wave = self.last_committed_wave() + 1 if self.cat.exists("waves") else 1
        for w in range(wave, wave + max_waves):
            ws = self.run_wave(w)
            if ws is None:  # empty pop: the crawl is done
                break
            out.append(ws)
            if ws.drained:
                break
        return out
