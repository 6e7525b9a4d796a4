"""Per-host politeness token buckets, enforced inside fetch partitions.

The reference's politeness is fixed `time.sleep(3/5/10/30)` between
navigations plus a 10 s request timeout (reference: app/scrapers/
ga_scraper.py:404,411,726; util.py:74). The engine replaces that with a
token bucket per host, living inside each fetch partition. Host→partition
affinity (urlkit.salted_part) puts a host's rows on its ``n_lanes`` lanes
(pop_wave's per-row lane count); each lane's bucket paces at
rate/``n_lanes``, so the host's aggregate stays within its rate.

Clocks are injectable so tests run with a simulated clock (no wall sleep)
and the bench uses a deterministic latency model instead of the network.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field


@dataclass
class SimClock:
    """Virtual clock: sleep() advances time instantly; now() reads it."""

    t: float = 0.0

    def now(self) -> float:
        return self.t

    def sleep(self, s: float) -> None:
        self.t += max(s, 0.0)


@dataclass
class TokenBucket:
    """rate tokens/sec, burst capacity; acquire() blocks until a token."""

    rate: float
    capacity: float = 1.0
    clock_now: callable = time.monotonic
    clock_sleep: callable = time.sleep
    tokens: float = field(default=None)  # type: ignore[assignment]
    last: float = field(default=None)  # type: ignore[assignment]

    def __post_init__(self):
        if self.tokens is None:
            self.tokens = self.capacity
        if self.last is None:
            self.last = self.clock_now()

    def acquire(self) -> float:
        """Take one token, sleeping if necessary; returns the wait time."""
        now = self.clock_now()
        self.tokens = min(self.capacity, self.tokens + (now - self.last) * self.rate)
        self.last = now
        if self.tokens >= 1.0:
            self.tokens -= 1.0
            return 0.0
        need = (1.0 - self.tokens) / self.rate
        self.clock_sleep(need)
        self.last = self.clock_now()
        self.tokens = 0.0
        return need


class HostPacer:
    """One token bucket per host, lazily created inside a fetch partition.

    The fetch stage passes each row's own pacing columns to ``acquire``:
    ``rate`` is the robots Crawl-delay joined onto the wave (no
    driver-side host dict at 10^8-host scale; None means
    ``rate_per_host``), ``lanes`` the host's lane count from pop_wave.
    """

    def __init__(self, rate_per_host: float, sim: bool = False):
        self.rate_per_host = rate_per_host
        self.sim = sim
        self.clock = SimClock() if sim else None
        self._buckets: dict[str, TokenBucket] = {}

    def acquire(
        self, host: str, rate: float | None = None, lanes: int | None = None
    ) -> float:
        """Take one token from ``host``'s bucket, created on first use at
        ``rate``∕``lanes`` req/s: the host's lanes pace in parallel, so
        each takes an equal share of the host's budget. A null ``lanes``
        is one lane at the full rate."""
        b = self._buckets.get(host)
        if b is None:
            rate = self.rate_per_host if rate is None else rate
            b = TokenBucket(
                rate=rate / max(lanes or 1, 1),
                capacity=1.0,
                clock_now=self.clock.now if self.sim else time.monotonic,
                clock_sleep=self.clock.sleep if self.sim else time.sleep,
            )
            self._buckets[host] = b
        return b.acquire()
