"""End-to-end crawl over the fixture mini-web (FIXTURES.md §4):
ordering parity with the reference's sequential loop, seen-set equality,
byte-identical text across runs, politeness, and kill/resume.
"""

import pytest
from pyspark.sql import functions as F

from outage_data_scraper_spark.catalog import SnapshotCatalog
from outage_data_scraper_spark.frontier.crawler import Crawler
from outage_data_scraper_spark.sources import fixtures
from outage_data_scraper_spark.sources.fixtures import make_fixture_fetcher
from outage_data_scraper_spark.sources.seeds import fixture_miniweb_seeds


def crawl(spark, root, **kw):
    cat = SnapshotCatalog(root)
    c = Crawler(
        spark, cat, make_fixture_fetcher,
        per_host_k=kw.pop("per_host_k", 4), num_parts=8, salt=kw.pop("salt", 1),
        rate_per_host=100.0, **kw,
    )
    c.bootstrap(fixture_miniweb_seeds(spark))
    c.run(max_waves=30)
    return c, cat


def reference_order(spark):
    """The reference's sequential crawl order (app/main.py:21 + two-hop
    discovery ga_scraper.py:393–403), simulated from the fixture defs."""
    seeds = fixture_miniweb_seeds(spark).orderBy("event_seq", "seed_seq").collect()
    order = []
    for s in seeds:
        if s.state == "tx":  # GA1 family: two endpoints in fixed order
            order.append(s.url + "data/boundaries.json")
            order.append(s.url + "data/outages.json")
        else:  # kubra: anchor then children in discovery order
            order.append(s.url)
            order.extend(fixtures.kubra_child_urls(s.url))
    return order


@pytest.fixture(scope="module")
def crawled(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("crawl"))
    return crawl(spark, root)


def test_final_seen_set_matches_reference(spark, crawled):
    c, cat = crawled
    fetched = {r.url for r in c.fetch_log().select("url").distinct().collect()}
    assert fetched == set(reference_order(spark))


def test_crawl_ordering_law_reproduces_reference(spark, crawled):
    c, _ = crawled
    # ordering law (SURVEY.md §7.3): sort fetched URLs by
    # (event_seq, seed_seq, depth, child_seq) — must equal the reference's
    # sequential order exactly.
    rows = (
        c.frontier()
        .orderBy("event_seq", "seed_seq", "depth", "child_seq")
        .select("url")
        .collect()
    )
    assert [r.url for r in rows] == reference_order(spark)


def test_no_url_fetched_twice(crawled):
    c, _ = crawled
    dupes = (
        c.fetch_log().groupBy("url").count().filter(F.col("count") > 1).count()
    )
    assert dupes == 0


def test_text_byte_identical_across_runs(spark, crawled, tmp_path_factory):
    _, cat1 = crawled
    root2 = str(tmp_path_factory.mktemp("crawl2"))
    _, cat2 = crawl(spark, root2, per_host_k=2, salt=2)  # different config
    t1 = {r.url: r.text for r in cat1.read(spark, "pages").select("url", "text").collect()}
    t2 = {r.url: r.text for r in cat2.read(spark, "pages").select("url", "text").collect()}
    assert t1.keys() == t2.keys()
    for u in t1:
        assert t1[u].encode() == t2[u].encode(), u


def test_politeness_pacing_within_partition(spark, crawled):
    c, _ = crawled
    # hot host has 5 seeds → 10 endpoint URLs; with per_host_k=4 the pop
    # must spread them over ≥3 waves
    hot = c.fetch_log().filter(F.col("url").contains("hot.fixture-utility"))
    waves = {r.wave for r in hot.select("wave").distinct().collect()}
    assert len(waves) >= 3


def test_records_long_format_types(spark, crawled):
    _, cat = crawled
    rec = cat.read(spark, "records")
    levels = {r.level for r in rec.select("level").distinct().collect()}
    assert {"per_county", "per_outage", "per_zipcode"} <= levels
    # typed view via from_json (per-family schema): GA1 per_county
    county = rec.filter(F.col("level") == "per_county").select(
        F.from_json("data", "name string, customersAffected long, customersOutNow long").alias("r")
    ).select("r.*")
    assert county.filter(
        (F.col("customersAffected") == 0) & (F.col("customersOutNow") == 0)
    ).count() == 0


def test_kill_and_resume_no_refetch(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("crawl-resume"))
    cat = SnapshotCatalog(root)
    c = Crawler(spark, cat, make_fixture_fetcher, per_host_k=2, num_parts=8,
                salt=1, rate_per_host=100.0)
    c.bootstrap(fixture_miniweb_seeds(spark))
    c.run_wave(1)
    c.run_wave(2)
    # simulate a mid-wave kill: records snapshot for wave 3 committed (with
    # the crawler's records spec), but no fetch_log / wave marker
    partial = cat.read(spark, "records").limit(3)
    cat.write("records", partial, wave=3, partition_by=["state", "layout"])
    assert c.resume() == 3  # rolls the orphan snapshot back
    before = cat.read(spark, "records").count()
    c.run(max_waves=30)
    # fetch_log URL multiset unchanged vs a clean run: no URL fetched twice
    assert (
        c.fetch_log().groupBy("url").count().filter(F.col("count") > 1).count() == 0
    )
    fetched = {r.url for r in c.fetch_log().select("url").collect()}
    assert fetched == set(reference_order(spark))
    assert cat.read(spark, "records").count() >= before


def test_compact_mid_crawl_then_resume(spark, tmp_path_factory):
    """Compaction at a wave boundary must be invisible to the crawl: state
    identical, snapshot count collapsed, and a subsequent resume() keeps
    the compacted snapshots (regression for the wave=None rollback bug)."""
    root = str(tmp_path_factory.mktemp("crawl-compact"))
    cat = SnapshotCatalog(root)
    c = Crawler(spark, cat, make_fixture_fetcher, per_host_k=2, num_parts=8,
                salt=1, rate_per_host=100.0)
    c.bootstrap(fixture_miniweb_seeds(spark))
    c.run_wave(1)
    c.run_wave(2)
    before = {
        "records": cat.read(spark, "records").count(),
        "fetch_log": c.fetch_log().count(),
        "frontier": c.frontier().count(),
    }
    c.compact()
    assert len(cat.snapshots("fetch_log")) == 1
    assert c.resume() == 3  # compacted snapshots survive the rollback
    assert cat.read(spark, "records").count() == before["records"]
    assert c.fetch_log().count() == before["fetch_log"]
    assert c.frontier().count() == before["frontier"]
    # crawl continues normally after compaction + resume
    c.run(max_waves=30)
    assert c.fetch_log().groupBy("url").count().filter(F.col("count") > 1).count() == 0
    fetched = {r.url for r in c.fetch_log().select("url").collect()}
    assert fetched == set(reference_order(spark))


def test_request_recrawl_refetches_exactly_once(spark, tmp_path_factory):
    """Refresh crawl: a recrawl request re-opens fetched URLs for exactly
    one refetch (idempotent across resume), everything else stays done."""
    root = str(tmp_path_factory.mktemp("crawl-recrawl"))
    cat = SnapshotCatalog(root)
    c = Crawler(spark, cat, make_fixture_fetcher, per_host_k=10, num_parts=8,
                salt=1, rate_per_host=100.0)
    c.bootstrap(fixture_miniweb_seeds(spark))
    c.run(max_waves=30)
    assert c.pending().limit(1).count() == 0  # crawl drained
    baseline = {r.url: r["count"] for r in c.fetch_log().groupBy("url").count().collect()}

    refresh = c.fetch_log().select("url").distinct().limit(5)
    refresh_urls = {r.url for r in refresh.collect()}
    c.request_recrawl(refresh)
    reopened = {r.url for r in c.pending().select("url").collect()}
    assert reopened == refresh_urls

    c.run(max_waves=5)
    counts = {r.url: r["count"] for r in c.fetch_log().groupBy("url").count().collect()}
    for url, n in counts.items():
        expect = baseline[url] + (1 if url in refresh_urls else 0)
        assert n == expect, f"{url}: {n} != {expect}"
    assert c.pending().limit(1).count() == 0  # request satisfied, done again
    # resume-safe: the satisfied request never re-opens
    c.resume()
    assert c.pending().limit(1).count() == 0


def test_unknown_seen_mode_rejected(spark, tmp_path):
    """A mistyped seen_mode must fail at construction, not silently run
    the child chain's Bloom branch."""
    with pytest.raises(ValueError, match="Exact"):
        Crawler(spark, SnapshotCatalog(str(tmp_path)), make_fixture_fetcher,
                seen_mode="Exact")


@pytest.mark.parametrize("fpp", [1.5, 1.0, 0.0])
def test_bloom_fpp_outside_unit_interval_rejected(spark, tmp_path, fpp):
    """fpp >= 1 sizes a saturating filter that suppresses every child as
    seen; fpp = 0 has no finite size. Both must fail at construction."""
    with pytest.raises(ValueError, match="fpp"):
        Crawler(spark, SnapshotCatalog(str(tmp_path)), make_fixture_fetcher,
                seen_mode="bloom", bloom_fpp=fpp)


@pytest.mark.parametrize("k", [0, -1])
def test_per_host_k_below_one_rejected(spark, tmp_path, k):
    """A zero-row pop reads as a finished crawl: run() would return []."""
    with pytest.raises(ValueError, match="per_host_k"):
        Crawler(spark, SnapshotCatalog(str(tmp_path)), make_fixture_fetcher,
                per_host_k=k)


@pytest.mark.parametrize(
    "knob",
    [
        {"num_parts": 0}, {"salt": 0}, {"rate_per_host": 0.0}, {"rate_per_host": -1.0},
        {"wave_budget": 0}, {"wave_budget": -3}, {"domain_budget": 0}, {"host_budget": 0},
    ],
    ids=lambda kw: "{}={}".format(*next(iter(kw.items()))),
)
def test_knob_out_of_range_rejected(spark, tmp_path, knob):
    """Each of these otherwise fails inside wave 1, after bootstrap has
    written the frontier (pmod by zero, a zero-partition repartition, a
    zero-rate pacer), or silently: a zero wave/domain budget pops nothing
    and reads as a finished crawl, a zero host budget is not enforced."""
    name = next(iter(knob))
    with pytest.raises(ValueError, match=name):
        Crawler(spark, SnapshotCatalog(str(tmp_path)), make_fixture_fetcher, **knob)


def test_wave_marker_commit_launches_no_spark_job(spark, tmp_path_factory):
    """The wave marker is one driver-written row: committing it runs no
    Spark job, so it adds nothing to the wave's serial tail."""
    root = str(tmp_path_factory.mktemp("crawl-marker-jobs"))
    cat = SnapshotCatalog(root)
    c = Crawler(spark, cat, make_fixture_fetcher, per_host_k=4, num_parts=8,
                rate_per_host=100.0)
    c.bootstrap(fixture_miniweb_seeds(spark))
    sc, marker_jobs = spark.sparkContext, []
    real_write = cat.write

    def write(name, df, **kw):
        if name != "waves":
            return real_write(name, df, **kw)
        sc.setJobGroup("wave-marker", "wave-marker")
        try:
            return real_write(name, df, **kw)
        finally:
            sc.setJobGroup(None, None)
            marker_jobs.append(sc.statusTracker().getJobIdsForGroup("wave-marker"))

    cat.write = write
    stats = c.run(max_waves=30)
    assert stats and marker_jobs == [[]] * len(stats)
    got = sorted(tuple(r) for r in cat.read(spark, "waves").drop("wall_s").collect())
    assert got == [(s.wave, s.popped, s.ok, s.failed, s.records, s.children) for s in stats]


def test_children_snapshot_per_wave(spark, crawled):
    """The child chain writes children straight to frontier: a wave with
    no children commits no frontier snapshot, and a wave's children count
    equals the rows of the snapshot it wrote."""
    _, cat = crawled
    children = {r.wave: r.children for r in cat.read(spark, "waves").collect()}
    snaps = {s["wave"]: s for s in cat.snapshots("frontier") if s["wave"]}
    assert 0 in children.values() and any(children.values()), children
    assert set(snaps) == {w for w, n in children.items() if n}
    for w, snap in snaps.items():
        path = f"{cat.root}/frontier/{snap['dir']}"
        assert spark.read.parquet(path).count() == children[w]


def test_bloom_seen_mode_crawl(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("crawl-bloom"))
    cat = SnapshotCatalog(root)
    c = Crawler(spark, cat, make_fixture_fetcher, per_host_k=4, num_parts=8,
                salt=1, rate_per_host=100.0, seen_mode="bloom")
    c.bootstrap(fixture_miniweb_seeds(spark))
    c.run(max_waves=30)
    fetched = {r.url for r in c.fetch_log().select("url").distinct().collect()}
    # bloom may only *suppress* (fp) — at this scale expect exact equality
    assert fetched == set(reference_order(spark))


def test_bloom_state_persists_across_waves(spark, tmp_path_factory):
    """seen_bloom is maintained incrementally (one OR per wave), and the
    persisted bitset suppresses re-enqueue of already-seen children."""
    root = str(tmp_path_factory.mktemp("crawl-bloomstate"))
    cat = SnapshotCatalog(root)
    c = Crawler(spark, cat, make_fixture_fetcher, per_host_k=4, num_parts=8,
                rate_per_host=100.0, seen_mode="bloom")
    c.bootstrap(fixture_miniweb_seeds(spark))
    assert cat.exists("seen_bloom")
    c.run(max_waves=30)
    # bloom contains every fetched URL: probing it suppresses all of them
    from outage_data_scraper_spark.frontier.seen import filter_unseen_sketch
    bloom = c._bloom_load()
    fetched = c.fetch_log().select("url").distinct()
    assert filter_unseen_sketch(fetched, bloom).count() == 0
    # crawl result unchanged vs reference order
    urls = {r.url for r in fetched.collect()}
    assert urls == set(reference_order(spark))


def test_bloom_settings_changed_on_resume_raise(spark, tmp_path_factory):
    """A Bloom crawl reopened with another bloom_expected_n sizes its new
    bitset differently from the persisted one: the wave's merge raises a
    ValueError naming both shapes, and no wave commits."""
    root = str(tmp_path_factory.mktemp("crawl-bloomshape"))
    cat = SnapshotCatalog(root)
    kw = dict(per_host_k=4, num_parts=8, rate_per_host=100.0, seen_mode="bloom")
    Crawler(spark, cat, make_fixture_fetcher, **kw).bootstrap(fixture_miniweb_seeds(spark))
    c = Crawler(spark, cat, make_fixture_fetcher, bloom_expected_n=1_000, **kw)
    assert c.resume() == 1
    with pytest.raises(ValueError, match=r"\(m, k\).*persisted filter was built with other"):
        c.run(max_waves=30)
    assert c.last_committed_wave() == 0


def _first_discoveries_input(spark):
    from outage_data_scraper_spark.parsers.parse import PARSE_OUT_SCHEMA

    return spark.createDataFrame(
        [("http://a.com/", "a.com", None, None, None, None, 0, 0, 0, 0, 1, 10, 0, 1,
          "child", None, None, None, "http://a.com/x", 0, 200, None)],
        PARSE_OUT_SCHEMA,
    )


def _sitemap_input(spark):
    from outage_data_scraper_spark.sources.sitemap import SITEMAP_SCHEMA

    return spark.createDataFrame(
        [("http://a.com/", None, None, 0.9, "url", 0, "a.xml")], SITEMAP_SCHEMA
    )


@pytest.mark.parametrize("builder", ["seeds", "first_discoveries", "sitemap"])
def test_frontier_row_builders_match_schema(spark, builder):
    """Every frontier row builder yields exactly schemas.FRONTIER's
    fields and types, in order: no column the table does not declare."""
    from outage_data_scraper_spark import schemas
    from outage_data_scraper_spark.frontier.crawler import first_discoveries
    from outage_data_scraper_spark.frontier.priority import seeds_to_frontier
    from outage_data_scraper_spark.sources.sitemap import frontier_rows_from_sitemap

    df = {
        "seeds": lambda: seeds_to_frontier(fixture_miniweb_seeds(spark)),
        "first_discoveries": lambda: first_discoveries(_first_discoveries_input(spark), 1),
        "sitemap": lambda: frontier_rows_from_sitemap(_sitemap_input(spark)),
    }[builder]()
    got = [(f.name, f.dataType) for f in df.schema.fields]
    assert got == [(f.name, f.dataType) for f in schemas.FRONTIER.fields]


def test_catalog_with_status_columns_resumes(spark, crawled, tmp_path_factory):
    """A catalog whose frontier was written with the former ``status`` and
    ``salted_part`` columns still resumes and crawls to the same fetch_log
    URL set as a fresh crawl: reads select schemas.FRONTIER's fields."""
    from outage_data_scraper_spark.frontier.priority import seeds_to_frontier

    root = str(tmp_path_factory.mktemp("crawl-oldfrontier"))
    cat = SnapshotCatalog(root)
    old = seeds_to_frontier(fixture_miniweb_seeds(spark)).select(
        "url", "host", F.lit(0).alias("salted_part"), "priority", "depth",
        "event_seq", "seed_seq", "child_seq", "state", "layout", "emc",
        F.lit("pending").alias("status"), "wave", "family",
    )
    cat.write("frontier", old, mode="overwrite", wave=0)
    assert {"status", "salted_part"} <= set(cat.read(spark, "frontier").columns)
    c = Crawler(spark, cat, make_fixture_fetcher, per_host_k=4, num_parts=8,
                salt=1, rate_per_host=100.0)
    assert c.resume() == 1
    c.run(max_waves=30)
    fresh, _ = crawled
    assert sorted(r.url for r in c.fetch_log().select("url").collect()) == sorted(
        r.url for r in fresh.fetch_log().select("url").collect()
    )


def test_bloom_crawl_reads_seen_bloom_once_per_wave(spark, tmp_path_factory, monkeypatch):
    """The child chain probes with the bitset it loads and ORs the wave's
    new URLs into that same bitset: one seen_bloom read per wave, also on
    waves that find children."""
    reads = []
    orig_read = SnapshotCatalog.read

    def read(self, spark_, name, *a, **kw):
        if name == "seen_bloom":
            reads.append(name)
        return orig_read(self, spark_, name, *a, **kw)

    monkeypatch.setattr(SnapshotCatalog, "read", read)
    root = str(tmp_path_factory.mktemp("crawl-bloomreads"))
    c = Crawler(spark, SnapshotCatalog(root), make_fixture_fetcher, per_host_k=4,
                num_parts=8, rate_per_host=100.0, seen_mode="bloom")
    c.bootstrap(fixture_miniweb_seeds(spark))
    per_wave = []
    wave = 1
    while (ws := c.run_wave(wave)) is not None:
        per_wave.append((ws.children, len(reads)))
        reads.clear()
        wave += 1
    assert any(children for children, _ in per_wave), per_wave
    assert [n for _, n in per_wave] == [1] * len(per_wave), per_wave


def test_budget_cuts_reject_null_law_column(spark):
    """The histogram cuts equal the sorted law only over non-null law
    columns: a NULL priority must raise, not silently drop its row."""
    from outage_data_scraper_spark.frontier.priority import pop_wave

    fr = spark.createDataFrame(
        [
            (f"http://h{i}.x.net/{i}", f"h{i}.x.net", None if i == 3 else float(i),
             0, i, 0, 0, None, None, None, None, 0)
            for i in range(6)
        ],
        "url string, host string, priority double, "
        "depth int, event_seq int, seed_seq int, child_seq int, "
        "state string, layout string, emc string, family string, wave int",
    )
    with pytest.raises(ValueError, match="NULLs in order column.*priority"):
        pop_wave(fr, per_host_k=2, num_parts=4, wave_budget=2).collect()
    with pytest.raises(ValueError, match="NULLs in order column.*priority"):
        pop_wave(fr, per_host_k=2, num_parts=4, domain_budget=2).collect()


def test_failed_concurrent_commit_aborts_wave_and_resumes_clean(
    spark, tmp_path_factory
):
    """Round 3 commits records/pages/fetch_log concurrently; if ONE write
    fails the wave must abort (no marker), and resume() must roll back
    whichever sibling snapshots already landed — then a clean re-run of
    the wave still yields zero duplicate fetches."""
    root = str(tmp_path_factory.mktemp("crawl-parallel-fail"))
    cat = SnapshotCatalog(root)
    c = Crawler(spark, cat, make_fixture_fetcher, per_host_k=2, num_parts=8,
                salt=1, rate_per_host=100.0)
    c.bootstrap(fixture_miniweb_seeds(spark))
    c.run_wave(1)

    real_write = cat.write

    def failing_write(name, df, **kw):
        if name == "pages":
            raise RuntimeError("simulated pages-commit failure")
        return real_write(name, df, **kw)

    cat.write = failing_write
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="simulated pages-commit failure"):
        c.run_wave(2)
    cat.write = real_write

    # no wave-2 marker; siblings that landed (fetch_log/records) roll back
    assert c.last_committed_wave() == 1
    assert c.resume() == 2
    for table in ("records", "pages", "fetch_log"):
        waves = [s.get("wave") for s in cat.snapshots(table)]
        assert all(w is not None and w <= 1 for w in waves), (table, waves)

    c.run(max_waves=30)
    assert (
        c.fetch_log().groupBy("url").count().filter(F.col("count") > 1).count() == 0
    )
    assert {r.url for r in c.fetch_log().select("url").collect()} == set(
        reference_order(spark)
    )


def test_host_budget_caps_fetches_per_host(spark, tmp_path_factory):
    """host_budget stops enqueuing a host once it has spent its budget of
    successful fetches (wave-granular: per-host total ≤ budget +
    per_host_k − 1); other hosts keep crawling to completion."""
    root = str(tmp_path_factory.mktemp("crawl-budget"))
    cat = SnapshotCatalog(root)
    c = Crawler(spark, cat, make_fixture_fetcher, per_host_k=2, num_parts=8,
                salt=1, rate_per_host=100.0, host_budget=3)
    c.bootstrap(fixture_miniweb_seeds(spark))
    c.run(max_waves=30)
    per_host = {
        r.host: r.n
        for r in c.fetch_log()
        .filter(F.col("status") == 200)
        .groupBy(F.lower(F.substring_index(
            F.substring_index(F.col("url"), "://", -1), "/", 1
        )).alias("host"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per_host, "no successful fetches"
    assert all(n <= 3 + 2 - 1 for n in per_host.values()), per_host
    # unbudgeted crawl fetches strictly more URLs in total
    root2 = str(tmp_path_factory.mktemp("crawl-nobudget"))
    cat2 = SnapshotCatalog(root2)
    c2 = Crawler(spark, cat2, make_fixture_fetcher, per_host_k=2, num_parts=8,
                 salt=1, rate_per_host=100.0)
    c2.bootstrap(fixture_miniweb_seeds(spark))
    c2.run(max_waves=30)
    assert c2.fetch_log().count() > c.fetch_log().count()


def test_wave_budget_cut_exact_vs_sorted_limit(spark):
    """_budget_cut (two-phase histogram — no single-reducer full sort)
    must equal the naive global orderBy().limit() on the full ordering
    law + url tiebreak, across constant-priority, ranked-priority and
    budget>pool regimes."""
    import random

    from outage_data_scraper_spark.frontier.priority import ORDER_COLS, pop_wave

    rng = random.Random(1)
    for trial, budget in enumerate((1, 37, 500)):
        rows = []
        for i in range(1500):
            host = f"h{rng.randrange(40)}.x.net"
            prio = 0.0 if trial == 0 else -rng.randrange(5) / 7.0
            rows.append(
                (f"http://{host}/{i}", host, prio, rng.randrange(3),
                 0 if trial < 2 else rng.randrange(2), i, rng.randrange(4),
                 None, None, None, None, 0)
            )
        fr = spark.createDataFrame(
            rows,
            "url string, host string, priority double, "
            "depth int, event_seq int, seed_seq int, child_seq int, "
            "state string, layout string, emc string, family string, wave int",
        ).repartition(8)
        got = sorted(
            r.url
            for r in pop_wave(fr, per_host_k=10, num_parts=8, wave_budget=budget).collect()
        )
        ref = sorted(
            r.url
            for r in pop_wave(fr, per_host_k=10, num_parts=8)
            .orderBy(*[F.col(c).asc() for c in ORDER_COLS], F.col("url").asc())
            .limit(budget)
            .collect()
        )
        assert got == ref, f"trial {trial}"


def test_domain_budget_pop_fairness(spark):
    """pop_wave(domain_budget=N): a mega-registrant cannot eat the
    wave — quotas apportion by pending share (Hamilton law), each
    domain pops its best rows by the ordering law, Σ popped == budget
    (budget ≤ pool, every domain pool ≥ its quota)."""
    from outage_data_scraper_spark.frontier.priority import pop_wave

    rows = []
    # mega.com: 950 pending across 19 hosts; five small .org.uk
    # registrants with 10 pending each (1000 total pending)
    for i in range(950):
        host = f"h{i % 19}.mega.com"
        rows.append((f"http://{host}/{i}", host, 0.0, 0, 0, i, 0,
                     None, None, None, None, 0))
    for d in range(5):
        for i in range(10):
            host = f"w.site{d}.org.uk"
            rows.append((f"http://{host}/{i}", host, 0.0, 0, 0,
                         10_000 + d * 100 + i, 0,
                         None, None, None, None, 0))
    fr = spark.createDataFrame(
        rows,
        "url string, host string, priority double, "
        "depth int, event_seq int, seed_seq int, child_seq int, "
        "state string, layout string, emc string, family string, wave int",
    ).repartition(8)
    popped = pop_wave(fr, per_host_k=100, num_parts=8, domain_budget=100)
    got = popped.collect()
    assert len(got) == 100
    # shares: mega.com floor(100·950/1000) = 95; each site{d}.org.uk
    # (org.uk is a two-level suffix → the eTLD+1 is site{d}.org.uk)
    # floor(100·10/1000) = 1
    mega = [r for r in got if r.host.endswith(".mega.com")]
    small = [r for r in got if r.host.endswith(".org.uk")]
    assert len(mega) == 95
    assert len(small) == 5 and len({r.host for r in small}) == 5
    # within-domain selection follows the ordering law: smallest
    # seed_seq rows pop first
    assert sorted(r.seed_seq for r in got if "site0" in r.host) == [10_000]


def test_domain_budget_quota_exceeding_pool_forfeits_unit(spark):
    """A domain handed floor+1 with only floor rows forfeits that one
    unit (documented); totals never exceed the budget."""
    from outage_data_scraper_spark.frontier.priority import pop_wave

    rows = []
    for i in range(99):
        rows.append((f"http://a.big.com/{i}", "a.big.com", 0.0, 0, 0, i,
                     0, None, None, None, None, 0))
    rows.append(("http://b.tiny.com/0", "b.tiny.com", 0.0, 0, 0, 999, 0,
                 None, None, None, None, 0))
    fr = spark.createDataFrame(
        rows,
        "url string, host string, priority double, "
        "depth int, event_seq int, seed_seq int, child_seq int, "
        "state string, layout string, emc string, family string, wave int",
    ).repartition(4)
    got = pop_wave(fr, per_host_k=200, num_parts=8, domain_budget=100).collect()
    # big: floor(100*99/100)=99 → 99 kept; tiny: floor(1)=1 → 1 kept
    assert len(got) == 100


def test_focused_priority_evidence_law(spark):
    """Best in-link wins (max, not sum); anchor terms count DISTINCT;
    unscored parents contribute anchor evidence only."""
    from outage_data_scraper_spark.frontier.focus import focused_priority

    links = spark.createDataFrame(
        [
            (1, 100, "spark spark spark"),   # 1 distinct hit, parent 1
            (2, 100, "nothing here"),        # 0 hits, parent 2 (strong)
            (3, 200, "spark join stuff"),    # 2 hits, parent unscored
        ],
        "src long, dst long, anchor string",
    )
    scores = spark.createDataFrame(
        [(1, 1_000_000), (2, 4_000_000)], "node long, score_micro long"
    )
    got = {
        r.dst: (r.n_inlinks, r.priority_micro)
        for r in focused_priority(
            links, scores, ["spark", "join"],
            inherit_bp=5000, anchor_bonus_micro=100_000,
        ).collect()
    }
    # dst 100: max(1M*0.5 + 1*100k, 4M*0.5 + 0) = max(600k, 2M) = 2M
    assert got[100] == (2, 2_000_000)
    # dst 200: parent 3 unscored → coalesce 0; two distinct terms
    assert got[200] == (1, 200_000)


def test_focused_priority_case_fold_and_empty_terms(spark):
    """Anchors fold case before matching; empty query raises."""
    import pytest

    from outage_data_scraper_spark.frontier.focus import focused_priority

    links = spark.createDataFrame(
        [(1, 9, "Spark JOIN now")], "src long, dst long, anchor string"
    )
    scores = spark.createDataFrame([(1, 0)], "node long, score_micro long")
    r = focused_priority(
        links, scores, ["spark", "join"], anchor_bonus_micro=7
    ).collect()[0]
    assert r.priority_micro == 14
    with pytest.raises(ValueError):
        focused_priority(links, scores, [])


def test_focused_priority_null_anchor_contributes_score_only(spark):
    """A NULL anchor must not null the contrib (r8 advisor finding): a
    dst whose in-links all carry NULL anchors gets the inherited-score
    evidence, never a NULL priority."""
    from outage_data_scraper_spark.frontier.focus import focused_priority

    links = spark.createDataFrame(
        [(1, 9, None), (2, 9, None)], "src long, dst long, anchor string"
    )
    scores = spark.createDataFrame(
        [(1, 10000), (2, 20000)], "node long, score_micro long"
    )
    r = focused_priority(links, scores, ["spark"]).collect()[0]
    assert r.n_inlinks == 2
    assert r.priority_micro == 20000 * 8500 // 10000


def test_domain_cut_histogram_equals_naive_rank(spark):
    """The grouped histogram cut must equal the per-domain sorted-limit
    law exactly, across regimes: skewed mega-domain, tiny domains,
    quota == pool, degenerate all-constant law columns."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from outage_data_scraper_spark.frontier.priority import (
        ORDER_COLS,
        _domain_cut,
    )
    from outage_data_scraper_spark.functions.urlkit import registered_domain

    rng = random.Random(3)
    for trial, (n, const_law) in enumerate([(3000, False), (800, True)]):
        rows = []
        for i in range(n):
            if rng.random() < 0.6:
                dom = "mega.com"
            else:
                dom = f"d{rng.randrange(7)}.org.uk"
            host = f"h{rng.randrange(5)}.{dom}"
            pr = 0.0 if const_law else float(rng.randrange(4))
            ev = 0 if const_law else rng.randrange(6)
            rows.append(
                (f"http://{host}/{i}", host, pr, 0, ev, i, 0)
            )
        fr = spark.createDataFrame(
            rows,
            "url string, host string, priority double, "
            "depth int, event_seq int, seed_seq int, child_seq int",
        ).repartition(8)
        for budget in (1, 50, n // 3, n, n * 2):
            got = sorted(
                r.url for r in _domain_cut(fr, budget).collect()
            )
            # naive law: Hamilton quotas + per-domain full rank
            from outage_data_scraper_spark.operators.sampling import (
                allocate_quotas,
            )

            pool = fr.withColumn("__dom", registered_domain(F.col("host")))
            qt = allocate_quotas(pool, "__dom", budget).select(
                "__dom", F.col("quota").alias("__q")
            )
            wd = Window.partitionBy("__dom").orderBy(
                *([F.col(c).asc() for c in ORDER_COLS] + [F.col("url").asc()])
            )
            ref = sorted(
                r.url
                for r in pool.withColumn("__rn", F.row_number().over(wd))
                .join(qt, "__dom")
                .filter(F.col("__rn") <= F.col("__q"))
                .collect()
            )
            assert got == ref, (trial, budget)


def _manifests(root) -> dict:
    import pathlib

    return {
        str(p.relative_to(root)): p.read_bytes()
        for p in sorted(pathlib.Path(root).rglob("_manifest.json"))
    }


def test_fetch_log_bytes_and_partition_id(spark, crawled):
    """The fused fetch+parse stage fills fetch_log.bytes (payload length)
    and fetch_log.partition_id (the fetch task's partition)."""
    c, _ = crawled
    family = {r.url: r.family for r in c.frontier().select("url", "family").collect()}
    rows = c.fetch_log().select("url", "status", "bytes", "partition_id").collect()
    assert rows
    for r in rows:
        assert r.partition_id is not None and 0 <= r.partition_id < 8, r
        assert r.bytes is not None and r.bytes >= 0, r
        if r.status == 200:
            assert r.bytes == len(fixtures.render(r.url, family[r.url])), r
        else:
            assert r.bytes == 0, r


@pytest.mark.parametrize(
    "budget", [{}, {"wave_budget": 8}, {"domain_budget": 8}], ids=["plain", "wave", "domain"]
)
def test_run_on_finished_crawl_commits_nothing(spark, tmp_path_factory, budget):
    """Once the pop is empty, run_wave returns None and run() returns []
    without writing a single snapshot (no fetch_log, frontier or waves
    commit for the empty wave)."""
    root = str(tmp_path_factory.mktemp("crawl-finished"))
    c, _ = crawl(spark, root, **budget)
    assert {r.url for r in c.fetch_log().select("url").collect()} == set(
        reference_order(spark)
    )
    before = _manifests(root)
    last = c.last_committed_wave()
    assert c.run(max_waves=5) == []
    assert c.run_wave(last + 1) is None
    assert _manifests(root) == before
    assert c.last_committed_wave() == last


def _jobs_so_far(spark) -> int:
    """Highest ungrouped Spark job id so far (every thread's jobs)."""
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1)


def test_run_evaluates_pending_once_per_wave(spark, tmp_path_factory):
    """run() has no separate emptiness probe and, once a wave drains
    pending, no trailing empty wave: with per_host_k above every host's
    pool the last committed wave proves the next pop empty, so pending()
    is built once per committed wave and no Spark job runs after it."""
    root = str(tmp_path_factory.mktemp("crawl-pending-count"))
    cat = SnapshotCatalog(root)
    c = Crawler(spark, cat, make_fixture_fetcher, per_host_k=100, num_parts=8,
                rate_per_host=100.0)
    c.bootstrap(fixture_miniweb_seeds(spark))
    calls, wave_ends = [], []
    real_pending, real_run_wave = c.pending, c.run_wave
    c.pending = lambda: calls.append(1) or real_pending()

    def run_wave(wave):
        try:
            return real_run_wave(wave)
        finally:
            wave_ends.append(_jobs_so_far(spark))

    c.run_wave = run_wave
    stats = c.run(max_waves=30)
    assert stats and len(calls) == len(stats) == len(wave_ends)
    assert stats[-1].drained and not any(s.drained for s in stats[:-1])
    assert _jobs_so_far(spark) == wave_ends[-1]
    assert {r.url for r in c.fetch_log().select("url").collect()} == set(
        reference_order(spark)
    )


def test_zero_child_wave_that_leaves_host_urls_keeps_crawling(spark, tmp_path_factory):
    """A wave with no children does not stop the crawl while a host
    popped per_host_k URLs: three seeds on one host (two endpoints each,
    no outlinks) at per_host_k=1 take one wave per URL."""
    root = str(tmp_path_factory.mktemp("crawl-k1-no-children"))
    cat = SnapshotCatalog(root)
    c = Crawler(spark, cat, make_fixture_fetcher, per_host_k=1, num_parts=8,
                rate_per_host=100.0)
    c.bootstrap(
        fixture_miniweb_seeds(spark).filter(
            F.col("url").contains("//hot.") & (F.col("seed_seq") < 3)
        )
    )
    seeds = {r.url for r in c.frontier().select("url").collect()}
    assert len(seeds) == 6
    stats = c.run(max_waves=30)
    assert [(s.popped, s.children, s.drained) for s in stats] == [(1, 0, False)] * 6
    assert sorted(r.url for r in c.fetch_log().select("url").collect()) == sorted(seeds)


def test_binding_wave_budget_keeps_crawling(spark, tmp_path_factory):
    """A wave whose pop the wave budget cut is not drained, even with no
    children and every host below per_host_k: the crawl goes on until
    every reachable URL is fetched once."""
    root = str(tmp_path_factory.mktemp("crawl-wave-budget"))
    c, _ = crawl(spark, root, per_host_k=100, wave_budget=8)
    stats = c.cat.read(spark, "waves").orderBy("wave").collect()
    assert any(s.popped == 8 and s.children == 0 for s in stats[:-1]), stats
    log = [r.url for r in c.fetch_log().select("url").collect()]
    assert sorted(log) == sorted(set(reference_order(spark)))


def _robots_for_all_hosts(spark, c, policy: str, crawl_delay):
    hosts = [r.host for r in c.frontier().select("host").distinct().collect()]
    return spark.createDataFrame(
        [(h, "2024-08-01 00:00:00", None, policy, crawl_delay) for h in hosts],
        "host string, fetched_ts string, rules string, allow_all string, crawl_delay double",
    ).withColumn("fetched_ts", F.to_timestamp("fetched_ts"))


def test_robots_deny_all_commits_451_wave_then_terminates(spark, tmp_path_factory):
    """A wave whose every popped URL is robots-denied is not an empty
    wave: it commits its 451 rows (with bytes 0 and a fetch partition),
    and the next run() finds nothing pending and stops."""
    root = str(tmp_path_factory.mktemp("crawl-deny-all"))
    cat = SnapshotCatalog(root)
    c = Crawler(spark, cat, make_fixture_fetcher, per_host_k=100, num_parts=8,
                rate_per_host=100.0)
    c.bootstrap(fixture_miniweb_seeds(spark))
    cat.write("robots", _robots_for_all_hosts(spark, c, "deny", None))
    n_seeds = c.frontier().count()

    stats = c.run(max_waves=10)
    assert [(s.wave, s.popped, s.ok, s.failed, s.records) for s in stats] == [
        (1, n_seeds, 0, n_seeds, 0)
    ]
    log = c.fetch_log().collect()
    assert len(log) == n_seeds
    assert {(r.status, r.reason, r.bytes) for r in log} == {(451, "robots disallow", 0)}
    assert all(0 <= r.partition_id < 8 for r in log)
    assert not cat.exists("pages")

    before = _manifests(root)
    assert c.run(max_waves=10) == []
    assert _manifests(root) == before


def test_crawl_delay_robots_table_keeps_crawl_output(spark, crawled, tmp_path_factory):
    """Crawl-delay only paces (simulated clock): a crawl under a robots
    table that sets a delay for every host fetches the same URL set and
    extracts byte-identical page texts as the crawl without one."""
    _, cat1 = crawled
    root = str(tmp_path_factory.mktemp("crawl-delay"))
    cat2 = SnapshotCatalog(root)
    c2 = Crawler(spark, cat2, make_fixture_fetcher, per_host_k=4, num_parts=8,
                 rate_per_host=100.0)
    c2.bootstrap(fixture_miniweb_seeds(spark))
    cat2.write("robots", _robots_for_all_hosts(spark, c2, "allow", 5.0))
    c2.run(max_waves=30)

    def fetched(cat):
        return {r.url for r in cat.read(spark, "fetch_log").select("url").collect()}

    def texts(cat):
        return {r.url: r.text for r in cat.read(spark, "pages").select("url", "text").collect()}

    assert fetched(cat2) == fetched(cat1)
    assert texts(cat2) == texts(cat1)
