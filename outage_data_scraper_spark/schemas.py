"""Explicit schemas for every engine table (SURVEY.md §1, FIXTURES.md §1).

The reference infers every schema dynamically from payload dicts
(reference: app/scrapers/*.py `pd.DataFrame(list_of_dicts)`); the engine
inverts that — schema-on-write, one fixed StructType per table, so scans
prune columns and Catalyst folds constants.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Core input: Common-Crawl-style pages table (BASELINE.json input_hint).
# Partition spec: days(warc_ts) as a warc_day column. No bucket(16, url):
# that serves point lookups by URL, and no query issues one.
# ---------------------------------------------------------------------------
PAGES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Seeds: one row per (event file, emc entry), mirroring the reference event
# JSON shape {layout, emc:{name→url}, bucket, folder} (app/main.py:13–17).
# (event_seq, seed_seq) capture the reference's deterministic iteration
# order over event files and dict insertion order (app/main.py:21), which is
# the crawl-ordering law the frontier must reproduce (SURVEY.md §7.3).
# ---------------------------------------------------------------------------
SEEDS = StructType(
    [
        StructField("event_seq", IntegerType(), False),
        StructField("seed_seq", IntegerType(), False),
        StructField("state", StringType(), False),
        StructField("layout", StringType(), False),
        StructField("emc", StringType(), False),
        StructField("url", StringType(), False),
        StructField("bucket", StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Frontier: the distributed priority queue as an append-only enqueue log.
# A row carries no status: a URL is pending while fetch_log holds no fetch
# of it (frontier/crawler.py:Crawler.pending), and the fetch partition is
# computed at pop time (priority.pop_wave). Sort key (priority, event_seq,
# seed_seq, depth, child_seq) is a refinement of the reference's
# sequential order (SURVEY.md §7.3).
# ---------------------------------------------------------------------------
FRONTIER = StructType(
    [
        StructField("url", StringType(), False),
        StructField("host", StringType(), False),
        StructField("priority", DoubleType(), False),
        StructField("depth", IntegerType(), False),
        StructField("event_seq", IntegerType(), False),
        StructField("seed_seq", IntegerType(), False),
        StructField("child_seq", IntegerType(), False),
        StructField("state", StringType(), True),
        StructField("layout", StringType(), True),
        StructField("emc", StringType(), True),
        StructField("family", StringType(), True),
        StructField("wave", IntegerType(), False),
    ]
)

# The crawler's persistent Bloom seen-set: one merged bitset row,
# overwritten and wave-stamped each wave (frontier/crawler.py). It keeps
# the `visited` semantics of il_scraper.py:200–204 (false positives only
# suppress re-fetches).
SEEN_BLOOM = StructType(
    [
        StructField("wave", IntegerType(), False),
        StructField("m", LongType(), False),
        StructField("k", IntegerType(), False),
        StructField("bitset", BinaryType(), False),
    ]
)

# One wave-marker row per committed crawl wave: its append is the wave's
# commit point (frontier/crawler.py). Columns are WaveStats' fields except
# its in-memory `drained` flag.
WAVES = StructType(
    [
        StructField("wave", IntegerType(), False),
        StructField("popped", LongType(), False),
        StructField("ok", LongType(), False),
        StructField("failed", LongType(), False),
        StructField("records", LongType(), False),
        StructField("children", LongType(), False),
        StructField("wall_s", DoubleType(), False),
    ]
)

ROBOTS = StructType(
    [
        StructField("host", StringType(), False),
        StructField("fetched_ts", TimestampType(), False),
        StructField("rules", StringType(), True),
        StructField("allow_all", StringType(), True),  # "allow" | "deny" | "rules"
        StructField("crawl_delay", DoubleType(), True),
    ]
)

# Per-fetch outcome row; mirrors the reference failure sink columns
# state/layout/emc/reason/timestamp (app/main.py:19,32–48) plus lineage.
FETCH_LOG = StructType(
    [
        StructField("url", StringType(), False),
        StructField("wave", IntegerType(), False),
        StructField("ts", TimestampType(), False),
        StructField("status", IntegerType(), False),
        StructField("reason", StringType(), True),
        StructField("bytes", LongType(), True),
        StructField("partition_id", IntegerType(), True),
        StructField("emc", StringType(), True),
        StructField("state", StringType(), True),
        StructField("layout", StringType(), True),
    ]
)

# Long-format extracted records: one row per (url, level, record). `data`
# is the record as canonical JSON; per-family typed views come from
# F.from_json with the family schema. A page's extracted text, the
# byte-identical invariant target (BASELINE.json input_hint), is its
# `pages` row.
RECORDS = StructType(
    [
        StructField("url", StringType(), False),
        StructField("state", StringType(), True),
        StructField("layout", StringType(), True),
        StructField("emc", StringType(), True),
        StructField("level", StringType(), False),
        StructField("data", StringType(), False),
        StructField("run_ts", TimestampType(), False),
        StructField("wave", IntegerType(), False),
    ]
)

# Multimodal asset table: opaque binary payload + typed metadata
# (training-data pipeline surface; decode itself is stubbed, plumbing real).
ASSETS = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), True),
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_s", DoubleType(), True),
    ]
)
