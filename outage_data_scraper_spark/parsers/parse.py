"""The vectorized parse stage: fetch results → long-format outputs.

One ``mapInPandas`` pass per wave emits, per fetched page:

- ``kind='record'`` rows — one per extracted record, with (level, data)
  where data is the record's canonical JSON (typed views come from
  F.from_json with the family schema downstream);
- one ``kind='text'`` row — the page's extracted text, the byte-identical
  per-url invariant (BASELINE.json input_hint);
- ``kind='child'`` rows — discovered URLs (two-hop kubra discovery, O6),
  with child_rank preserving discovery order (ga_scraper.py:393–403);
- ``kind='error'`` rows — per-URL failure capture (O23); a payload that
  fails to parse never aborts the wave, mirroring the reference's per-URL
  try/except (app/main.py:22–41).

Narrow stage: no shuffle — it runs on the fetch stage's partitioning.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..frontier.fetch import _IN_COLS, fetch_stage
from ..sources.fixtures import endpoint_kind
from .families import canonical_text, parse_payload

PARSE_OUT_SCHEMA = (
    "url string, host string, state string, layout string, emc string, "
    "family string, depth int, event_seq int, seed_seq int, child_seq int, "
    "wave int, bytes long, partition_id int, host_popped long, kind string, "
    "level string, data string, text string, child_url string, child_rank int, "
    "status int, reason string"
)

# every output row carries its page's fetch metadata (fetch_log's bytes and
# partition_id come from the page's text/error row) and its host's popped
# count (the crawler's stop rule reads its max)
_CARRY = [*_IN_COLS, "bytes", "partition_id", "host_popped"]

_OUT_COLS = [*_CARRY, "kind", "level", "data", "text", "child_url", "child_rank", "status", "reason"]


def _parse_fetched_batch(batch: pd.DataFrame) -> pd.DataFrame:
    """Parse one Arrow batch of fetch results → long-format rows.
    Tuple-based row building (no per-row dicts) — this loop is the
    per-page hot path of the whole engine."""
    rows: list[tuple] = []
    # .tolist(), not .to_numpy(): numpy scalars (np.int64/np.str_) in the
    # row tuples make the output pd.DataFrame(...) construction ~5× slower
    # (pandas re-infers each cell); native Python objects skip that.
    cols = [batch[c].tolist() for c in _CARRY]
    status_a = batch["status"].tolist()
    reason_a = batch["reason"].tolist()
    html_a = batch["html"].tolist()
    carries = list(zip(*cols)) if cols and cols[0] else []
    for i in range(len(batch)):
        carry = carries[i]
        status, reason, html = status_a[i], reason_a[i], html_a[i]
        if status != 200 or html is None:
            rows.append(carry + ("error", None, None, None, None, None, status, reason))
            continue
        try:
            url = carry[0]
            kind = endpoint_kind(url, carry[5])  # url, family
            levels, children, text = parse_payload(kind, bytes(html), url)
        except Exception as e:
            rows.append(carry + ("error", None, None, None, None, None, 598, f"parse: {e}"))
            continue
        for level, recs in levels.items():
            for r in recs:
                rows.append(
                    carry
                    + ("record", level,
                       json.dumps(r, separators=(",", ":"), ensure_ascii=False),
                       None, None, None, 200, None)
                )
        if text is None:
            text = canonical_text(levels)
        rows.append(carry + ("text", None, None, text, None, None, 200, None))
        for rank, child in enumerate(children):
            rows.append(carry + ("child", None, None, None, child, rank, 200, None))
    return pd.DataFrame(rows, columns=_OUT_COLS)


def fused_fetch_parse(
    popped: DataFrame,
    fetcher_factory,
    num_parts: int = 32,
    rate_per_host: float = 1.0,
    simulated_clock: bool = True,
) -> DataFrame:
    """Fetch AND parse in ONE mapInPandas stage — the stage every
    ``Crawler`` wave runs.

    The two-stage form (fetch_wave → parse_wave) round-trips every raw
    html payload through Arrow twice and runs two Python workers per
    task; fusing halves the Python process count and removes the biggest
    serde hop — raw payload bytes never leave the worker that fetched
    them. The fetch half is ``frontier.fetch.fetch_stage`` itself, so the
    ordering law, the chunking, the pacing and the optional
    ``rate_override`` / ``n_lanes`` / ``robots_allow`` columns behave
    exactly as in ``fetch_wave``. Use the two-stage form only when raw
    html must be persisted.
    """
    return fetch_stage(
        popped, fetcher_factory, PARSE_OUT_SCHEMA, _parse_fetched_batch,
        num_parts=num_parts, rate_per_host=rate_per_host,
        simulated_clock=simulated_clock,
    )


def parse_wave(fetched: DataFrame) -> DataFrame:
    """Parse every 200-status page; pass fetch failures through as errors."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield _parse_fetched_batch(batch)

    return fetched.mapInPandas(run, PARSE_OUT_SCHEMA)
