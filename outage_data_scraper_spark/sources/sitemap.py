"""Sitemap (sitemaps.org XML) discovery source.

The third seed channel next to event-file seeds (sources/seeds.py) and
two-hop in-page discovery (parsers O6): a site's sitemap.xml enumerates
crawlable URLs with lastmod / changefreq / priority hints. The
reference has no sitemap handling (its seed list is the fixed event-
file URL set); a generic web-scale crawler needs it for cold-start
coverage of cooperative hosts.

Pure stdlib ElementTree parse, namespace-tolerant; `<sitemapindex>`
nesting is returned as follow-up fetch targets rather than fetched here
(fetching is the frontier's job — discovery stays side-effect-free).
Gzip sitemaps decompress transparently. Malformed XML yields zero rows
for that document, never a task abort (O23 discipline).

Scale shape: one sitemap document per row through an Arrow-batched
mapInPandas (they are bounded at 50k URLs / 50 MB by the protocol, so
one document is always batch-sized); the output feeds
frontier_rows_from_sitemap, a narrow projection onto the frontier
schema whose priority column inverts the sitemap's 0..1 hint (our
ordering law pops ascending).
"""

from __future__ import annotations

import gzip
import io
import xml.etree.ElementTree as ET
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import urlkit

SITEMAP_SCHEMA = (
    "url string, lastmod string, changefreq string, sm_priority double, "
    "kind string, pos int, sitemap_file string"
)


def _localname(tag: str) -> str:
    return tag.rsplit("}", 1)[-1].lower()


def parse_sitemap(blob: bytes) -> list[dict]:
    """Rows from one sitemap document: kind='url' for page entries,
    kind='sitemap' for nested index entries (follow-up fetch targets).
    Malformed XML → empty list."""
    if blob[:2] == b"\x1f\x8b":
        try:
            with gzip.GzipFile(fileobj=io.BytesIO(blob)) as f:
                blob = f.read()
        except (OSError, EOFError):
            return []
    try:
        root = ET.fromstring(blob)
    except ET.ParseError:
        return []
    rootname = _localname(root.tag)
    if rootname not in ("urlset", "sitemapindex"):
        return []
    kind = "url" if rootname == "urlset" else "sitemap"
    out = []
    for pos, entry in enumerate(root):
        if _localname(entry.tag) not in ("url", "sitemap"):
            continue
        fields = {"loc": None, "lastmod": None, "changefreq": None, "priority": None}
        for child in entry:
            name = _localname(child.tag)
            if name in fields and child.text is not None:
                fields[name] = child.text.strip()
        if not fields["loc"]:
            continue
        try:
            prio = float(fields["priority"]) if fields["priority"] else None
        except ValueError:
            prio = None
        out.append(
            {
                "url": fields["loc"],
                "lastmod": fields["lastmod"],
                "changefreq": fields["changefreq"],
                "sm_priority": prio,
                "kind": kind,
                "pos": pos,
            }
        )
    return out


def read_sitemaps(spark: SparkSession, path: str) -> DataFrame:
    """Read sitemap XML (optionally .gz) files under ``path``."""
    files = spark.read.format("binaryFile").load(path).select("path", "content")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["url", "lastmod", "changefreq", "sm_priority", "kind", "pos",
                "sitemap_file"]
        for b in batches:
            rows: list[dict] = []
            for path_, content in zip(b["path"], b["content"]):
                for r in parse_sitemap(bytes(content)):
                    r["sitemap_file"] = str(path_)
                    rows.append(r)
            yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(run, SITEMAP_SCHEMA)


def frontier_rows_from_sitemap(
    entries: DataFrame, event_seq: int = 0, default_priority: float = 0.5
) -> DataFrame:
    """Project kind='url' sitemap entries onto the frontier schema.

    priority = −sitemap_priority (ordering law pops ASCENDING, sitemap
    hints are 0..1 descending-importance), default 0.5 per the protocol;
    seed_seq is a GLOBAL row number over (sitemap_file, pos) — per-file
    numbering would tie the full ordering-law key across files and make
    pop order nondeterministic. The global window is a total order, the
    price of the determinism contract; sitemap batches are protocol-
    bounded (50k URLs/doc), so the sort is seed-sized, not corpus-sized."""
    from pyspark.sql import Window

    w = Window.orderBy("sitemap_file", "pos")
    urls = entries.filter(F.col("kind") == "url")
    return urls.select(
        "url",
        urlkit.host(F.col("url")).alias("host"),
        (-F.coalesce(F.col("sm_priority"), F.lit(default_priority))).alias("priority"),
        F.lit(0).cast("int").alias("depth"),
        F.lit(event_seq).cast("int").alias("event_seq"),
        (F.row_number().over(w) - 1).cast("int").alias("seed_seq"),
        F.lit(0).cast("int").alias("child_seq"),
        F.lit(None).cast("string").alias("state"),
        F.lit(None).cast("string").alias("layout"),
        F.lit(None).cast("string").alias("emc"),
        F.lit("cc").alias("family"),
        F.lit(0).cast("int").alias("wave"),
    )
