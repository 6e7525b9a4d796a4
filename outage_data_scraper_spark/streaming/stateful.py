"""Custom stateful streaming operator: incremental outage sessionization.

The batch sessionizers (operators/sessionize.py) need the whole series;
this is their streaming form — `applyInPandasWithState` tracks one open
outage session per (utility, county) key across micro-batches and emits a
session row the moment the feed shows customers-out back at/below the
threshold, or when the key times out (no observations past the timeout →
the session is closed as stale).

This is the engine shape for the reference's polling semantics run
continuously: each crawl wave appends observations; the tracker emits
finished outages with no re-read of history (state is O(open sessions),
not O(observations) — the property that matters at 10^10 scale).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "emc string, session_start timestamp, session_end timestamp, "
    "duration_min double, n_obs long, peak_out long, closed_by string"
)
STATE_SCHEMA = "start long, last long, n long, peak long"


def _track(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    threshold: int = 0,
    stale_timeout_ms: int | None = None,
) -> Iterator[pd.DataFrame]:
    (emc,) = key
    if state.hasTimedOut:
        # stale key: no observations within the processing-time timeout —
        # close the open session as-is so liveness never depends on the
        # feed recovering
        if state.exists:
            s, last, n, p = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        "emc": emc,
                        "session_start": pd.Timestamp(s, unit="s"),
                        "session_end": pd.Timestamp(last, unit="s"),
                        "duration_min": (last - s) / 60.0,
                        "n_obs": n,
                        "peak_out": p,
                        "closed_by": "timeout",
                    }
                ]
            )
        return
    rows = pd.concat(list(pdfs)).sort_values("ts")
    cur: tuple[int, int, int, int] | None = state.get if state.exists else None
    out: list[dict[str, Any]] = []
    for ts, val in zip(rows["ts"], rows["out"]):
        epoch = int(ts.timestamp())
        val = int(val)
        if val > threshold:
            if cur is None:
                cur = (epoch, epoch, 1, val)
            else:
                s, _, n, p = cur
                cur = (s, epoch, n + 1, max(p, val))
        elif cur is not None:
            s, last, n, p = cur
            out.append(
                {
                    "emc": emc,
                    "session_start": pd.Timestamp(s, unit="s"),
                    "session_end": pd.Timestamp(last, unit="s"),
                    "duration_min": (last - s) / 60.0,
                    "n_obs": n,
                    "peak_out": p,
                    "closed_by": "recovered",
                }
            )
            cur = None
    if cur is not None:
        state.update(cur)
        if stale_timeout_ms is not None:
            state.setTimeoutDuration(stale_timeout_ms)
    elif state.exists:
        state.remove()
    if out:
        yield pd.DataFrame(out)


def streaming_sessionize(
    observations: DataFrame, threshold: int = 0, stale_timeout_ms: int | None = None
) -> DataFrame:
    """observations: streaming DF (emc string, ts timestamp, out long).

    ``stale_timeout_ms``: close a key's open session with
    closed_by='timeout' after that much processing time with no new
    observations (ProcessingTimeTimeout). None keeps sessions open until
    the feed recovers — the reference's effective behavior, since its
    pollers simply stop writing rows when a site goes quiet.
    """

    def fn(key, pdfs, state):
        yield from _track(
            key, pdfs, state, threshold=threshold, stale_timeout_ms=stale_timeout_ms
        )

    conf = (
        GroupStateTimeout.NoTimeout
        if stale_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return observations.groupBy("emc").applyInPandasWithState(
        fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=conf,
    )


# ---------------------------------------------------------------------------
# Event-time session windows (q84): deterministic, value-gated replay form.
# ---------------------------------------------------------------------------
# The emission set and labels are a pure function of the data when the
# input replays as TIME-ORDERED NON-OVERLAPPING files (one per
# micro-batch). Probe-confirmed rules (integer-millisecond arithmetic,
# us -> ms is floor in both engines):
#   - watermark before batch k = floor_ms(max ts of files < k) - delay
#   - a timeout fires on STRICT watermark excess; after the last file a
#     no-data batch runs with the final watermark (global max - delay)
#   - a key with data in a batch is invoked with the data, never with
#     hasTimedOut (data beats timeout; ordered non-overlapping files
#     make the gap rule close such sessions identically, and keep
#     setTimeoutTimestamp always ahead of the watermark)
# Emission (mirrored by the q84 oracle SQL):
#   non-final session with successor in file f: 'timeout' iff
#     floor_ms(max ts of files <= f-2) - delay > floor_ms(last) + gap,
#     else 'gap'; final session: emitted iff
#     floor_ms(global max) - delay > floor_ms(last) + gap ('timeout'),
#     otherwise it never emits (state outlives the replay).



import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

SESSION_OUT_SCHEMA = StructType(
    [
        StructField("key", LongType()),
        StructField("s_start", TimestampType()),
        StructField("s_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("closed_by", StringType()),
    ]
)
SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start", TimestampType()),
        StructField("last", TimestampType()),
        StructField("n", LongType()),
    ]
)


def write_time_split(
    df: DataFrame, out_dir: str, thresholds: list, ts_col: str = "ts"
) -> list[str]:
    """Replay prep: split rows into len(thresholds)+1 ts-ordered,
    non-overlapping parquet files (file i = rows in [t_{i-1}, t_i)),
    mtimes forced monotone so the file stream replays them in time
    order. Empty ranges are skipped (an empty file would still burn a
    micro-batch but carries no watermark information)."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    bounds = [None, *thresholds, None]
    paths = []
    for i in range(len(bounds) - 1):
        part = df
        if bounds[i] is not None:
            part = part.filter(F.col(ts_col) >= F.lit(bounds[i]))
        if bounds[i + 1] is not None:
            part = part.filter(F.col(ts_col) < F.lit(bounds[i + 1]))
        tmp = os.path.join(out_dir, f"_tmp{i}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        files = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
        if files:
            dst = os.path.join(out_dir, f"part-{i:03d}.parquet")
            shutil.copy(os.path.join(tmp, files[0]), dst)
            os.utime(dst, (1_700_000_000 + i * 10,) * 2)
            paths.append(dst)
        shutil.rmtree(tmp)
    return paths


def _ms(ts) -> int:
    """Event time in integer ms with no float round trip (a float epoch
    at 10^9 s cannot represent microseconds exactly). Batch rows arrive
    as pandas Timestamps (.value = ns); state tuples come back as plain
    naive datetimes representing UTC (session TZ) — timegm keeps those
    integer-exact."""
    if hasattr(ts, "value"):
        return int(ts.value) // 1_000_000
    import calendar

    return (calendar.timegm(ts.timetuple()) * 1_000_000 + ts.microsecond) // 1000


def sessionize_stream(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "key",
    gap_s: int = 1800,
    delay_s: int = 900,
) -> DataFrame:
    """Streaming session windows: consecutive events of a key belong to
    one session while inter-event gaps stay ≤ gap_s; sessions close by
    a gap-separated successor ('gap') or by the watermark passing
    last + gap ('timeout')."""
    gap_ms = gap_s * 1000

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "key": [key[0]],
                    "s_start": [start],
                    "s_end": [last],
                    "n_events": [n],
                    "closed_by": ["timeout"],
                }
            )
            return
        rows = pd.concat(list(pdfs)).sort_values(ts_col)
        cur = list(state.get) if state.exists else None
        out = []
        for t in rows[ts_col]:
            if cur is None:
                cur = [t, t, 1]
            elif _ms(t) - _ms(cur[1]) > gap_ms:
                out.append((key[0], cur[0], cur[1], cur[2], "gap"))
                cur = [t, t, 1]
            else:
                cur[1] = t
                cur[2] += 1
        state.update((cur[0], cur[1], cur[2]))
        state.setTimeoutTimestamp(_ms(cur[1]) + gap_ms)
        if out:
            yield pd.DataFrame(
                out, columns=["key", "s_start", "s_end", "n_events", "closed_by"]
            )

    return (
        stream.select(F.col(key_col).alias("key"), F.col(ts_col).cast("timestamp").alias(ts_col))
        .withWatermark(ts_col, f"{delay_s} seconds")
        .groupBy("key")
        .applyInPandasWithState(
            fn, SESSION_OUT_SCHEMA, SESSION_STATE_SCHEMA, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def _replay(
    spark: SparkSession,
    src: DataFrame,
    thresholds: list,
    work_dir: str,
    op,
    out_schema: StructType,
) -> DataFrame:
    """The replay every stateful stream here is gated through: time-split
    ``src`` (a batch DataFrame with a ``ts`` column) into ordered files,
    stream them one file per micro-batch through ``op`` (stream →
    stateful stream), drain with availableNow into a parquet sink, and
    read the sink back with ``out_schema``."""
    from .poll import run_available_now

    in_dir = os.path.join(work_dir, "in")
    write_time_split(src, in_dir, thresholds, ts_col="ts")
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(in_dir)
    )
    sink = os.path.join(work_dir, "sink")
    run_available_now(op(stream), sink, os.path.join(work_dir, "ckpt"))
    return spark.read.schema(out_schema).parquet(sink)


def run_stateful_sessions(
    spark: SparkSession,
    events: DataFrame,
    thresholds: list,
    work_dir: str,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap_s: int = 1800,
    delay_s: int = 900,
) -> DataFrame:
    """Full replay: time-split files → stateful stream → availableNow
    parquet sink → read back as (key, s_start_us, s_end_us, n_events,
    closed_by) with integer epoch-µs boundaries (cross-engine-stable)."""
    src = events.select(
        F.col(key_col).cast("long").alias("key"),
        F.col(ts_col).cast("timestamp").alias("ts"),
    )

    def op(stream):
        return sessionize_stream(
            stream, ts_col="ts", key_col="key", gap_s=gap_s, delay_s=delay_s
        )

    return _replay(spark, src, thresholds, work_dir, op, SESSION_OUT_SCHEMA).select(
        "key",
        F.unix_micros(F.col("s_start")).alias("s_start_us"),
        F.unix_micros(F.col("s_end")).alias("s_end_us"),
        "n_events",
        "closed_by",
    )


# ---------------------------------------------------------------------------
# Streaming exact dedup: keyed seen-state, first occurrence emitted once
# ---------------------------------------------------------------------------

DEDUP_OUT_SCHEMA = StructType(
    [
        StructField("sig", StringType()),
        StructField("first_ts", TimestampType()),
        StructField("first_id", LongType()),
        StructField("n_first_batch", LongType()),
    ]
)
DEDUP_STATE_SCHEMA = StructType([StructField("n_seen", LongType())])


def dedup_stream(
    stream: DataFrame,
    sig_col: str = "sig",
    ts_col: str = "ts",
    id_col: str = "rid",
) -> DataFrame:
    """Streaming EXACT dedup — the q17 batch operator as keyed state:
    per signature, the FIRST micro-batch containing it emits exactly
    one row (the batch's min-(ts, id) occurrence plus that batch's
    occurrence count); every later batch only bumps the seen counter
    in state and emits nothing. State is O(distinct signatures) — the
    content analog of the crawl's URL-seen set; at unbounded-key scale
    swap NoTimeout for an event-time TTL exactly like the cuckoo
    filter's deletable window (state eviction changes re-emit
    semantics, so the TTL variant is a different, documented
    contract).

    Determinism (what makes it VALUE-GATABLE): emitted rows depend
    only on (a) which file/batch first contains a signature and (b)
    the min-(ts, id) row within that batch — both pure functions of
    the data + the fixed file thresholds, reproduced by the batch
    oracle. The within-batch pandas sort is total (ts, id)."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        rows = pd.concat(list(pdfs))
        if state.exists:
            (n,) = state.get
            state.update((n + len(rows),))
            return
            yield  # pragma: no cover — generator marker
        rows = rows.sort_values([ts_col, id_col])
        first = rows.iloc[0]
        state.update((len(rows),))
        yield pd.DataFrame(
            {
                "sig": [key[0]],
                "first_ts": [first[ts_col]],
                "first_id": [int(first[id_col])],
                "n_first_batch": [len(rows)],
            }
        )

    return stream.groupBy(sig_col).applyInPandasWithState(
        fn,
        DEDUP_OUT_SCHEMA,
        DEDUP_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def run_streaming_dedup(
    spark,
    events: DataFrame,
    thresholds: list,
    work_dir: str,
    sig_expr,
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Full replay: time-split files → keyed-state dedup stream →
    availableNow parquet sink → read back as (sig, first_ts_us,
    first_id, n_first_batch)."""
    src = events.select(
        sig_expr.alias("sig"),
        F.col(ts_col).cast("timestamp").alias("ts"),
        F.col(id_col).cast("long").alias("rid"),
    )

    def op(stream):
        return dedup_stream(stream, sig_col="sig", ts_col="ts", id_col="rid")

    return _replay(spark, src, thresholds, work_dir, op, DEDUP_OUT_SCHEMA).select(
        "sig",
        F.unix_micros(F.col("first_ts")).alias("first_ts_us"),
        "first_id",
        "n_first_batch",
    )


# ---------------------------------------------------------------------------
# TTL-evicting streaming dedup: watermark-bounded seen-state
# ---------------------------------------------------------------------------

DEDUP_TTL_OUT_SCHEMA = StructType(
    [
        StructField("sig", StringType()),
        StructField("first_ts", TimestampType()),
        StructField("first_id", LongType()),
    ]
)
DEDUP_TTL_STATE_SCHEMA = StructType([StructField("last_ms", LongType())])


def dedup_stream_ttl(
    stream: DataFrame,
    ttl_s: int,
    delay_s: int = 900,
    sig_col: str = "sig",
    ts_col: str = "ts",
    id_col: str = "rid",
) -> DataFrame:
    """The UNBOUNDED-KEY form of dedup_stream: seen-state is EVICTED by
    the watermark ttl_s after a key's last sighting, so state is
    O(keys live inside one TTL window) — the shape a 10^10-key stream
    actually needs — at the price of a DIFFERENT contract: a key
    re-emits once per eviction "island" (first occurrence per island),
    not once ever.

    Still value-gatable, because every emission is a pure function of
    the data + file thresholds under the probe-confirmed q84 watermark
    laws: the watermark live DURING batch k is cummax(file maxes
    through k−1) − delay; a timeout fires on STRICT excess; data beats
    timeout within a batch. Hence a sighting at batch q re-emits iff
    an intervening NO-DATA batch e (p < e < q) had watermark >
    last_seen + ttl — maximized at e = q−1, so the law is
    `q ≥ p+2 AND cummax(through q−2) − delay > last_seen + ttl`
    (adjacent-batch sightings can NEVER re-emit: the watermark lags
    one file). The q97 oracle folds exactly this per key with a
    recursive CTE over its ≤ n_files sighting batches.

    Timeout timestamps are always > watermark by construction here:
    time-split files mean every ts in file k exceeds all earlier
    files' maxima, so last_seen + ttl > watermark + ttl − delay."""
    ttl_ms = int(ttl_s) * 1000

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            state.remove()  # eviction emits nothing — islands re-open lazily
            return
            yield  # pragma: no cover — generator marker
        rows = pd.concat(list(pdfs)).sort_values([ts_col, id_col])
        mx = _ms(rows[ts_col].iloc[-1])
        out = None
        if state.exists:
            (last,) = state.get
            new_last = max(int(last), mx)
        else:
            first = rows.iloc[0]
            out = pd.DataFrame(
                {
                    "sig": [key[0]],
                    "first_ts": [first[ts_col]],
                    "first_id": [int(first[id_col])],
                }
            )
            new_last = mx
        state.update((new_last,))
        state.setTimeoutTimestamp(new_last + ttl_ms)
        if out is not None:
            yield out

    return (
        stream.withWatermark(ts_col, f"{int(delay_s)} seconds")
        .groupBy(sig_col)
        .applyInPandasWithState(
            fn,
            DEDUP_TTL_OUT_SCHEMA,
            DEDUP_TTL_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_streaming_dedup_ttl(
    spark,
    events: DataFrame,
    thresholds: list,
    work_dir: str,
    sig_expr,
    ttl_s: int,
    delay_s: int = 900,
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Full replay of dedup_stream_ttl over time-split files → parquet
    sink → (sig, first_ts_us, first_id), possibly several rows per sig
    (one per eviction island)."""
    src = events.select(
        sig_expr.alias("sig"),
        F.col(ts_col).cast("timestamp").alias("ts"),
        F.col(id_col).cast("long").alias("rid"),
    )

    def op(stream):
        return dedup_stream_ttl(
            stream, ttl_s, delay_s, sig_col="sig", ts_col="ts", id_col="rid"
        )

    return _replay(spark, src, thresholds, work_dir, op, DEDUP_TTL_OUT_SCHEMA).select(
        "sig",
        F.unix_micros(F.col("first_ts")).alias("first_ts_us"),
        "first_id",
    )
