"""URL column functions — pure pyspark.sql.functions, no Python UDFs.

Everything here stays inside whole-stage codegen; the same logic is
expressible in ANSI SQL (the DuckDB oracles in __spark_entry__.py mirror
it with split_part/lower), which is how the driver cross-checks it.

The reference never canonicalizes URLs (it fetches seed strings verbatim,
app/main.py:21); canonicalization is a north-rule addition needed for the
URL-seen set to be well-defined at 10^10 scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def strip_fragment(url: Column) -> Column:
    """Drop everything from the first '#'."""
    return F.substring_index(url, "#", 1)


def scheme(url: Column) -> Column:
    return F.lower(F.substring_index(url, "://", 1))


def authority(url: Column) -> Column:
    """host[:port], lowercased. Port is kept: the reference treats
    `host:89` seeds as distinct endpoints (events/tx/layout_8.json)."""
    rest = F.substring_index(strip_fragment(url), "://", -1)
    return F.lower(F.substring_index(rest, "/", 1))


def host(url: Column) -> Column:
    """Politeness key: authority including port (one token bucket each)."""
    return authority(url)


def path_and_query(url: Column) -> Column:
    """Everything after the authority, '' if none (no trailing-/ added)."""
    rest = F.substring_index(strip_fragment(url), "://", -1)
    return F.when(
        F.length(rest) > F.length(F.substring_index(rest, "/", 1)),
        F.substring(rest, F.length(F.substring_index(rest, "/", 1)) + 1, F.lit(2_000_000)),
    ).otherwise(F.lit(""))


def canonicalize(url: Column) -> Column:
    """scheme://host[:port]<path?query> with fragment stripped and
    scheme+authority lowercased; path/query case preserved."""
    return F.concat(scheme(url), F.lit("://"), authority(url), path_and_query(url))


def url_hash(url: Column) -> Column:
    """64-bit stable hash for the seen-set and bucketing."""
    return F.xxhash64(url)


# Frozen two-level public-suffix mini-list (the full PSL is a fetched
# artifact; this frozen subset keeps the LAW testable offline — swap in
# the real list as a broadcast table in production). Mirrored verbatim
# in the q102 oracle.
TWO_LEVEL_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "com.br", "co.in",
)


def registered_domain(host_col: Column) -> Column:
    """eTLD+1 — the REGISTERED domain (example.co.uk, not
    h3.example.co.uk and not co.uk): the key crawl BUDGETS belong to.
    Politeness is per-host (one token bucket per authority — subdomains
    are distinct servers) but caps/quotas are per-registrant, or a
    wildcard-subdomain host minting *.spam.co.uk gets a fresh budget
    per subdomain. Port stripped; if the last two labels form a listed
    two-level public suffix the registered domain is three labels,
    otherwise two; hosts at or below suffix size return whole."""
    h = F.substring_index(host_col, ":", 1)
    labels = F.split(h, r"\.")
    n = F.size(labels)
    last2 = F.array_join(F.slice(labels, -2, 2), ".")
    last3 = F.array_join(F.slice(labels, -3, 3), ".")
    is_two_level = F.array_contains(
        F.array(*[F.lit(s) for s in TWO_LEVEL_SUFFIXES]), last2
    )
    return (
        F.when(n <= 2, h)
        .when(is_two_level & (n >= 3), last3)
        .otherwise(last2)
    )


def adaptive_lanes(
    cnt: Column, num_parts: int, salt: int = 4, lane_cap: int = 500
) -> Column:
    """Lane count for a host with ``cnt`` popped rows:
    min(salt, ⌈cnt∕lane_cap⌉) — small hosts keep one lane (exact
    politeness pacing at full rate), larger hosts split into up to
    ``salt`` lanes. The SAME column rides the popped rows as ``n_lanes``
    so the fetch-stage pacer divides rate_per_host by the host's ACTUAL
    lane count, not the configured maximum."""
    eff_salt = min(salt, num_parts)
    return F.least(
        F.lit(eff_salt), F.greatest(F.lit(1), F.ceil(cnt / F.lit(lane_cap)))
    ).cast("long")


def salted_part(host_col: Column, num_parts: int, rn: Column, lanes: Column) -> Column:
    """Partition id that keeps one host co-located while spreading hot
    hosts across ``lanes`` fetch lanes (SURVEY.md §4.3: 28/285 seed URLs
    share one host — naive repartition(host) straggles at scale). A
    host's lanes map to CONSECUTIVE partitions starting at its host hash,
    so its token-bucket state stays on ≤ lanes executors while a hot
    host's parse work fans out.

    ``rn`` is the per-host row_number the caller already computed for
    the top-k pop and ``lanes`` is adaptive_lanes over the count of the
    same window (free, same partitioning), so lane = (rn−1) mod lanes
    gives every lane the same row count ±1. Small hosts stay on ONE
    partition (and the pacer, receiving the same lane count as
    ``n_lanes``, paces them at the FULL configured rate); only hosts
    larger than lane_cap split.
    The earlier static scheme (base(host)·salt + url-hash lane) collapsed
    hosts into only num_parts∕salt groups — TWO at the bench's salt=16
    over 32 partitions — so one hash bit split the Zipf mass into a ±24%
    partition-size spread, a straggler tail at every cluster size.
    """
    lane = F.pmod(rn.cast("long") - 1, lanes)
    return F.pmod(F.xxhash64(host_col) + lane, F.lit(num_parts)).cast("int")
