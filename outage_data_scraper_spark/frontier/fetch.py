"""Distributed fetch stage: mapInPandas batches with politeness pacing.

Replaces the reference's sequential per-URL loop (app/main.py:21–41) and
its urlopen/selenium I/O (app/scrapers/util.py:63–89). One Spark stage per
wave (``fetch_stage``, which the crawler runs fused with the parser): the
popped frontier batch is repartitioned by ``salted_part`` (host
co-location), then each partition sorts its rows by the ordering law,
paces per-host token buckets, and calls a pluggable fetcher.

Fetchers are pure callables ``url -> (status, reason, payload_bytes)``;
tests use the deterministic fixture renderer, the bench uses a latency
model with a simulated clock — the engine never needs the real network to
be validated (SURVEY.md §5). Speculative execution must stay off: fetches
are side-effecting (session.py sets spark.speculation=false).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

from .politeness import HostPacer

# (url, family) → status, reason, payload
FetchFn = Callable[[str, str], tuple[int, str | None, bytes | None]]

FETCH_RESULT_SCHEMA = (
    "url string, host string, state string, layout string, emc string, "
    "family string, depth int, event_seq int, seed_seq int, child_seq int, "
    "wave int, status int, reason string, bytes long, html binary, "
    "host_popped long, partition_id int, wait_s double"
)

_IN_COLS = [
    "url", "host", "state", "layout", "emc", "family",
    "depth", "event_seq", "seed_seq", "child_seq", "wave",
]
_OPT_COLS = ("rate_override", "n_lanes", "robots_allow", "host_popped")


def fetch_wave(
    popped: DataFrame,
    fetcher_factory: Callable[[], FetchFn],
    num_parts: int = 32,
    rate_per_host: float = 1.0,
    simulated_clock: bool = True,
) -> DataFrame:
    """Fetch every popped URL; returns FETCH_RESULT_SCHEMA rows (raw html
    included — the two-stage form, for callers that persist payloads)."""
    return fetch_stage(
        popped, fetcher_factory, FETCH_RESULT_SCHEMA, lambda chunk: chunk,
        num_parts=num_parts, rate_per_host=rate_per_host,
        simulated_clock=simulated_clock,
    )


def fetch_stage(
    popped: DataFrame,
    fetcher_factory: Callable[[], FetchFn],
    schema: str,
    finish: Callable[[pd.DataFrame], pd.DataFrame],
    num_parts: int = 32,
    rate_per_host: float = 1.0,
    simulated_clock: bool = True,
) -> DataFrame:
    """The ONE fetch ``mapInPandas`` stage: repartition by ``salted_part``
    (host co-location), fetch each partition with ``fetch_partition`` and
    yield ``finish(chunk)`` per fetched chunk — the identity for
    ``fetch_wave``, the parser for ``parsers.parse.fused_fetch_parse``.

    ``fetcher_factory`` is called once per partition (so connection pools /
    fixture stores initialize executor-side, not on the driver).

    Optional ``popped`` columns, each nullable per row. The first three
    are the only inputs to pacing besides ``rate_per_host``:
    - ``rate_override`` (req/s): robots Crawl-delay, joined in by the
      robots gate — never a driver-side host dict, which would OOM at
      10^8-host scale. Null means ``rate_per_host``.
    - ``n_lanes``: the host's fetch-lane count from ``pop_wave``; each
      lane paces at rate∕n_lanes. Null means one lane at the full rate.
    - ``robots_allow``: False marks a robots-denied URL, logged as a 451
      without a request (``robots.robots_gate(..., flag=...)``).

    ``host_popped`` (pop_wave's per-host popped count) is not a pacing
    input: it passes through to every output row, null when absent.
    """
    opt = [c for c in _OPT_COLS if c in popped.columns]
    part = popped.repartition(num_parts, "salted_part").select(*_IN_COLS, *opt)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pacer = HostPacer(rate_per_host, sim=simulated_clock)
        for chunk in fetch_partition(batches, fetcher_factory(), pacer):
            yield finish(chunk)

    return part.mapInPandas(run, schema)


def _nullable(chunk: pd.DataFrame, col: str, cast) -> list:
    """A per-row column as native Python values (None where null or where
    the column is absent) — zip over a pandas Series yields numpy scalars."""
    if col not in chunk:
        return [None] * len(chunk)
    return [None if pd.isna(x) else cast(x) for x in chunk[col].tolist()]


def fetch_partition(
    batches: Iterator[pd.DataFrame], fetcher: FetchFn, pacer: HostPacer
) -> Iterator[pd.DataFrame]:
    """Fetch one partition's URLs in crawl-ordering-law order.

    Materializes the WHOLE partition's metadata rows before sorting: the
    ordering law is per-partition, and a wave partition larger than one
    Arrow batch (~10k rows) must not fall back to batch-local order.
    Metadata rows are ~100 bytes — cheap. The FETCHED PAYLOADS are not
    partition-buffered: the sorted frame is walked in 10k-row chunks, each
    fetched and yielded before the next starts, so peak task memory is
    O(chunk payloads), not O(partition payloads) (one pacer spans the
    chunks, keeping politeness exact across the whole partition).
    """
    from pyspark import TaskContext

    tc = TaskContext.get()
    pid = tc.partitionId() if tc is not None else -1
    chunks = list(batches)
    if not chunks:
        return
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    pdf = pdf.sort_values(
        ["event_seq", "seed_seq", "depth", "child_seq", "url"]
    ).reset_index(drop=True)
    for lo in range(0, len(pdf), 10_000):
        chunk = pdf.iloc[lo : lo + 10_000].reset_index(drop=True)
        out = {"status": [], "reason": [], "bytes": [], "html": []}
        waits = []
        for url, h, fam, rate, ln, allow in zip(
            chunk["url"].tolist(), chunk["host"].tolist(), chunk["family"].tolist(),
            _nullable(chunk, "rate_override", float), _nullable(chunk, "n_lanes", int),
            _nullable(chunk, "robots_allow", bool),
        ):
            if allow is False:  # denied: logged, never requested or paced
                status, reason, payload, wait = 451, "robots disallow", None, 0.0
            else:
                wait = pacer.acquire(h, rate, ln)
                try:
                    status, reason, payload = fetcher(url, fam)
                except Exception as e:  # failure-capture side output (O23)
                    status, reason, payload = 599, str(e), None
            out["status"].append(status)
            out["reason"].append(reason)
            out["bytes"].append(len(payload) if payload is not None else 0)
            out["html"].append(payload)
            waits.append(wait)
        yield chunk[_IN_COLS].assign(
            **out, host_popped=_nullable(chunk, "host_popped", int),
            partition_id=pid, wait_s=waits,
        )
