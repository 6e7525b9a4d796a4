"""robots.txt gate as a broadcast-joined allow/deny filter.

The reference never consults robots.txt (it even disables TLS
verification, ga_scraper.py:25–27, and spoofs the UA, util.py:66–69).
The engine adds the gate as a north-rule requirement, **default-allow**
so crawl-ordering parity with the reference holds on the fixture seeds.

Rules are stored pre-parsed in the robots cache table as a JSON array of
disallow path-prefixes for our UA; matching is pure column algebra
(from_json + exists/startswith) — no UDF, broadcast join against the
small robots dimension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import urlkit


def parse_robots_txt(body: str, user_agent: str = "*") -> tuple[list[str], float | None]:
    """Minimal robots.txt parser (driver/fetch-side, not in the hot path):
    returns (disallow_prefixes, crawl_delay) for the matching UA group."""
    disallow: list[str] = []
    delay: float | None = None
    applies = False
    for raw in body.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, val = [p.strip() for p in line.split(":", 1)]
        key = key.lower()
        if key == "user-agent":
            applies = val == "*" or val.lower() in user_agent.lower()
        elif applies and key == "disallow" and val:
            disallow.append(val)
        elif applies and key == "crawl-delay":
            try:
                delay = float(val)
            except ValueError:
                pass
    return disallow, delay


def robots_gate(
    candidates: DataFrame,
    robots: DataFrame,
    default_allow: bool = True,
    flag: str | None = None,
) -> DataFrame:
    """Filter candidate URLs through the robots cache — or, with ``flag``
    set, keep every candidate and put the verdict in that boolean column
    (the crawler fetches the allowed rows and logs the denied ones from
    the same frame, so the wave's pop is evaluated once).

    ``robots`` columns: host, rules (JSON array of disallow prefixes),
    allow_all ('allow'|'deny'|'rules'). Missing host → default policy.
    The robots table is tiny relative to the frontier → broadcast join.

    Output carries a ``crawl_delay`` column (null where the host has
    none) so Crawl-delay rides the SAME join into the fetch stage as a
    per-row rate override — the robots table is never collected to the
    driver (at 10^8 hosts that would be a driver OOM).
    """
    r = robots.select(
        F.col("host").alias("__r_host"),
        F.col("allow_all").alias("__r_policy"),
        F.from_json(F.col("rules"), "array<string>").alias("__r_disallow"),
        F.col("crawl_delay").alias("__r_delay"),
    )
    path = urlkit.path_and_query(F.col("url"))
    joined = candidates.join(
        F.broadcast(r), candidates["host"] == F.col("__r_host"), "left"
    )
    denied_by_rules = F.exists(
        F.coalesce(F.col("__r_disallow"), F.array().cast("array<string>")),
        lambda p: path.startswith(p),
    )
    allowed = (
        F.when(F.col("__r_policy").isNull(), F.lit(default_allow))
        .when(F.col("__r_policy") == "allow", F.lit(True))
        .when(F.col("__r_policy") == "deny", F.lit(False))
        .otherwise(~denied_by_rules)
    )
    # a NULL verdict denies in both forms, as filter() drops it
    gated = (
        joined.withColumn(flag, F.coalesce(allowed, F.lit(False)))
        if flag else joined.filter(allowed)
    )
    return (
        gated.withColumn("crawl_delay", F.col("__r_delay"))
        .drop("__r_host", "__r_policy", "__r_disallow", "__r_delay")
    )


def sitemap_urls(body: str) -> list[str]:
    """`Sitemap:` directives from a robots.txt body (UA-independent per
    the protocol — they live outside user-agent groups). First hop of
    the robots → sitemap → frontier discovery chain: fetch these, then
    feed the documents to sources/sitemap.read_sitemaps /
    frontier_rows_from_sitemap."""
    out: list[str] = []
    for raw in body.splitlines():
        line = raw.split("#", 1)[0].strip()
        if line.lower().startswith("sitemap:"):
            url = line.split(":", 1)[1].strip()
            if url:
                out.append(url)
    return out
