"""Sessionization of outage time series (SURVEY.md O26/O27).

Two implementations of the reference's offline sessionizers
(scripts/bluefire/step1_ganz.py, step1_threshold.py):

1. ``sessionize_sql`` — gaps-and-islands in pure window algebra: a
   session is a maximal run of consecutive observations with
   CustomersOut ≥ threshold within a (utility, state, county, city)
   group. Fully Catalyst-optimized and DuckDB-oracle-checkable. This is
   the step1_ganz threshold-crossing semantics.

2. ``sessionize_threshold_state_machine`` — the full step1_threshold
   merger (cases on Δcustomers vs threshold + abs_diff, split/merge of
   tracked outages, step1_threshold.py:37–200) as a deterministic
   per-group fold in ``applyInPandas``: inherently sequential *within* a
   group, embarrassingly parallel *across* groups — the reference's
   single-threaded loop becomes one Arrow batch per group.

Scale: groups (utility×state×county×city) are plentiful and small →
groupBy hash-distributes well; skewed mega-groups are bounded by the
15-min cadence (~35k rows/year/group), well within one Arrow batch.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

GROUP_KEYS = ["UtilityName", "StateName", "CountyName", "CityName"]

# buckets the (utility…city) groups hash into for one pandas fold each
# (_bucketed_apply): many whole groups per Arrow exchange
GROUP_BUCKETS = 1024


def sessionize_sql(
    ts_df: DataFrame,
    threshold: float = 0,
    keys: list[str] = GROUP_KEYS,
    ts_col: str = "RecordDateTime",
    val_col: str = "CustomersOut",
) -> DataFrame:
    """Gaps-and-islands sessionization + per-session properties.

    Output: one row per outage session with start/end, duration (min),
    peak + time-weighted-mean value (O27: Σ gapᵢ·valᵢ / Σ gapᵢ,
    step1_ganz.py:49–57, forward gaps within the session).
    """
    w = Window.partitionBy(*keys).orderBy(ts_col)
    active = (F.col(val_col) > threshold).cast("int")
    marked = (
        ts_df.withColumn("is_active", active)
        .withColumn("prev_active", F.lag("is_active", 1, 0).over(w))
        .withColumn(
            "session_start", ((F.col("is_active") == 1) & (F.col("prev_active") == 0)).cast("int")
        )
        .withColumn("session_id", F.sum("session_start").over(w))
        .filter(F.col("is_active") == 1)
    )
    ws = Window.partitionBy(*keys, "session_id").orderBy(ts_col)
    gaps = marked.withColumn(
        "gap_s",
        F.coalesce(
            F.unix_timestamp(F.lead(ts_col, 1).over(ws))
            - F.unix_timestamp(F.col(ts_col)),
            F.lit(0),
        ),
    )
    return gaps.groupBy(*keys, "session_id").agg(
        F.min(ts_col).alias("session_start_ts"),
        F.max(ts_col).alias("session_end_ts"),
        (
            (F.unix_timestamp(F.max(ts_col)) - F.unix_timestamp(F.min(ts_col)))
            / 60.0
        ).alias("duration_min"),
        F.count(F.lit(1)).alias("n_obs"),
        F.max(val_col).alias("peak_value"),
        (
            F.sum(F.col("gap_s") * F.col(val_col))
            / F.when(F.sum("gap_s") > 0, F.sum("gap_s")).otherwise(F.lit(None))
        ).alias("tw_mean_value"),
        # exact numerator Σ gapᵢ·valᵢ (integer-exact when val is integral)
        F.sum(F.col("gap_s") * F.col(val_col)).alias("tw_numerator"),
        F.sum("gap_s").alias("active_s"),
    )


_SM_SCHEMA = (
    "UtilityName string, StateName string, CountyName string, CityName string, "
    "session_id int, session_start_ts timestamp, session_end_ts timestamp, "
    "duration_min double, n_obs long, peak_customers_out long, case_d_splits int"
)


def _bucketed_apply(pous, fold, schema, empty):
    """Run a per-(utility…city)-group pandas fold with MANY groups per
    Arrow exchange. groupBy(keys).applyInPandas pays one Arrow round trip
    per group, and AQE's byte-targeting coalescer merges the small
    grouping shuffle into one task — serializing a CPU-heavy Python fold.
    Grouping by xxhash64(keys) % GROUP_BUCKETS behind an explicit
    repartition (exempt from AQE coalescing; already satisfies the
    applyInPandas partitioning requirement, so the plan keeps ONE
    exchange) restores both amortization and parallelism; results are
    identical, as every group lands in exactly one bucket. Memory per
    task is bounded by |input|/GROUP_BUCKETS. ``empty`` builds a dtyped
    empty output frame (a bucket whose groups all fold to zero rows must
    not hand Arrow object-dtyped columns)."""

    def fold_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        outs = [
            fold(g) for _, g in pdf.groupby(GROUP_KEYS, sort=False, dropna=False)
        ]
        outs = [o for o in outs if len(o)]
        return pd.concat(outs, ignore_index=True) if outs else empty()

    bucketed = pous.withColumn(
        "__bucket", F.pmod(F.xxhash64(*GROUP_KEYS), F.lit(GROUP_BUCKETS))
    )
    n_tasks = min(GROUP_BUCKETS, pous.sparkSession.sparkContext.defaultParallelism)
    return (
        bucketed.repartition(n_tasks, "__bucket")
        .groupBy("__bucket")
        .applyInPandas(fold_bucket, schema)
    )


def sessionize_threshold_state_machine(
    pous: DataFrame,
    threshold: int = 0,
    abs_diff: int = 50,
) -> DataFrame:
    """step1_threshold merger semantics (step1_threshold.py:37–200) as a
    per-group ordered fold: a new session opens when customers-out rises
    from ≤threshold; within a session, a jump |Δ| > abs_diff splits a new
    tracked outage (case D); the session closes when customers-out falls
    to ≤threshold. Groups fold in hash buckets (_bucketed_apply)."""

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("RecordDateTime")
        out_rows = []
        cur = None
        sid = 0
        splits = 0
        prev_out = 0
        for ts, out in zip(pdf["RecordDateTime"], pdf["CustomersOut"]):
            out = int(out) if pd.notna(out) else 0
            if out > threshold:
                if cur is None:
                    sid += 1
                    splits = 0
                    cur = {"start": ts, "end": ts, "n": 1, "peak": out}
                else:
                    if abs(out - prev_out) > abs_diff:
                        splits += 1  # case D: tracked-outage split
                    cur["end"] = ts
                    cur["n"] += 1
                    cur["peak"] = max(cur["peak"], out)
            else:
                if cur is not None:
                    out_rows.append((sid, cur, splits))
                    cur = None
            prev_out = out
        if cur is not None:
            out_rows.append((sid, cur, splits))
        keys = pdf.iloc[0][GROUP_KEYS].tolist() if len(pdf) else [None] * 4
        return pd.DataFrame(
            [
                {
                    "UtilityName": keys[0],
                    "StateName": keys[1],
                    "CountyName": keys[2],
                    "CityName": keys[3],
                    "session_id": s,
                    "session_start_ts": c["start"],
                    "session_end_ts": c["end"],
                    "duration_min": (c["end"] - c["start"]).total_seconds() / 60.0,
                    "n_obs": c["n"],
                    "peak_customers_out": c["peak"],
                    "case_d_splits": sp,
                }
                for s, c, sp in out_rows
            ],
            columns=[
                "UtilityName", "StateName", "CountyName", "CityName",
                "session_id", "session_start_ts", "session_end_ts",
                "duration_min", "n_obs", "peak_customers_out", "case_d_splits",
            ],
        )

    def empty():
        return pd.DataFrame(
            {
                "UtilityName": pd.Series(dtype=object),
                "StateName": pd.Series(dtype=object),
                "CountyName": pd.Series(dtype=object),
                "CityName": pd.Series(dtype=object),
                "session_id": pd.Series(dtype="int32"),
                "session_start_ts": pd.Series(dtype="datetime64[ns]"),
                "session_end_ts": pd.Series(dtype="datetime64[ns]"),
                "duration_min": pd.Series(dtype="float64"),
                "n_obs": pd.Series(dtype="int64"),
                "peak_customers_out": pd.Series(dtype="int64"),
                "case_d_splits": pd.Series(dtype="int32"),
            }
        )

    return _bucketed_apply(pous, fold, _SM_SCHEMA, empty)


# -- full step1_threshold merger ------------------------------------------------

_MERGER_SCHEMA = (
    "UtilityName string, StateName string, CountyName string, CityName string, "
    "CountyFIPS string, CustomersTracked long, start_time timestamp, "
    "end_time timestamp, customer_affected_mean double, duration_s long"
)


class _Tracked:
    """One concurrently-tracked outage (a `tracking` list entry,
    step1_threshold.py:56–64). Equality spans every mutable field — the
    reference stores dicts and resolves indices with list.index(), whose
    first-equal-match semantics we must reproduce; `closed` mirrors the
    popped entries' removed keys (a closed entry can never equal a live
    one)."""

    __slots__ = ("start", "end", "rco", "total", "mean", "rdt", "closed")

    def __init__(self, start, end, rco, total, mean, rdt, closed=False):
        self.start, self.end, self.rco = start, end, rco
        self.total, self.mean, self.rdt = total, mean, rdt
        self.closed = closed

    def copy(self):
        return _Tracked(
            self.start, self.end, self.rco, self.total, self.mean, self.rdt, self.closed
        )

    def __eq__(self, other):
        return (
            self.start == other.start and self.end == other.end
            and self.rco == other.rco and self.total == other.total
            and self.mean == other.mean and self.rdt == other.rdt
            and self.closed == other.closed
        )


def _first_index(lst, item):
    """list.index() by equality — the reference's index-resolution quirk:
    a duplicate-equal entry resolves to its FIRST occurrence."""
    for i, x in enumerate(lst):
        if x == item:
            return i
    raise ValueError


def _merge_segment(rows, threshold, abs_diff):
    """The concurrent-outage fold over one segment (rows between zero-
    CustomersOut breaks), re-expressing step1_threshold.py:37–331.

    ``rows`` are (epoch_seconds:int, customers_out:int): the caller
    converts timestamps up front — integer-second arithmetic is exact for
    the whole-second cadence data and ~4× faster than per-row Timestamp /
    Timedelta objects in this Python-bound fold.

    - empty tracking → open a new tracked outage (case 0)
    - rise below threshold×rco (or |Δ|<abs_diff) → extend last (case A)
    - rise at/above both → open a NEW concurrent outage (case B)
    - fall below threshold×rco (or |Δ|<abs_diff) → shrink last (case C)
    - fall at/above both → close the tracked outage whose size is nearest
      the drop (case D); if none is near, either split the nearest in two
      (D-1, drop ≤ its size) or close a size-descending run whose sizes
      fit inside the drop (D-2)
    - end of segment → close everything still tracked, skipping zero-
      duration entries

    Returns [(start, end, mean, duration_s)] per closed outage.
    """
    results = []
    tracking: list[_Tracked] = []
    prev_out = None
    prev_ts = None
    for ts, out in rows:
        if not tracking:
            tracking.append(_Tracked(ts, ts, out, 0.0, float(out), ts))
            prev_out, prev_ts = out, ts
            continue
        last = tracking[-1].copy()
        delta = out - prev_out
        rel = threshold * last.rco
        if (delta < rel or abs(delta) < abs_diff) and out >= prev_out:
            # case A — absorb the rise into the newest tracked outage
            cur = tracking[-1]
            cur.end = ts
            cur.rco = last.rco + delta
            cur.total += (ts - last.end) * last.rco
            cur.mean = cur.total / (cur.end - cur.start)
        elif (delta >= rel and abs(delta) >= abs_diff) and out >= prev_out:
            # case B — a distinct new outage rides on top of the tracked ones
            tracking.append(_Tracked(ts, ts, delta, 0.0, float(delta), ts))
        elif (-delta < rel or abs(delta) < abs_diff) and out <= prev_out:
            # case C — absorb the dip into the newest tracked outage
            cur = tracking[-1]
            cur.end = ts
            cur.rco = last.rco + delta
            cur.total += (ts - last.end) * last.rco
            cur.mean = cur.total / (cur.end - cur.start)
        elif (-delta >= rel and abs(delta) >= abs_diff) and out <= prev_out:
            # case D — restoration: close the best-matching tracked outage(s)
            drop = prev_out - out
            closest = 0
            for o in tracking:
                if abs(drop - o.rco) < abs(drop - tracking[closest].rco):
                    closest = _first_index(tracking, o)
            to_pop = []
            if abs(drop - tracking[closest].rco) >= max(10, 0.1 * drop):
                if drop <= tracking[closest].rco:
                    # D-1: split the nearest outage into (drop, remainder)
                    c = tracking[closest]
                    dur = c.end - c.start
                    rem = c.mean - drop
                    split = c.copy()
                    split.rco = rem
                    split.mean = rem
                    split.total = rem * dur
                    tracking.append(split)
                    c.rco = drop
                    c.mean = drop
                    c.total = drop * dur
                    to_pop.append(closest)
                else:
                    # D-2: close a size-descending run that fits in the drop
                    tracking = sorted(tracking, key=lambda o: o.rco, reverse=True)
                    for o in tracking:
                        if o.rco < drop:
                            closest = _first_index(tracking, o)
                            break
                    acc = 0.0
                    for i in range(closest, len(tracking)):
                        acc += tracking[i].rco
                        if acc >= drop:
                            acc -= tracking[i].rco
                            continue
                        to_pop.append(i)
            else:
                to_pop.append(closest)
            for i in to_pop:
                o = tracking[i]
                o.end = ts
                o.total += (ts - last.end) * o.rco
                o.mean = o.total / (o.end - o.start)
                o.closed = True
                results.append(
                    (o.start, o.end, o.mean, int(o.end - o.start))
                )
            tracking = sorted(
                (o.copy() for o in tracking if _first_index(tracking, o) not in to_pop),
                key=lambda o: o.start,
            )
        else:
            # reference "case E": a row matching no case (only possible
            # with NaN CustomersOut, which fails every comparison) is
            # skipped WITHOUT updating prev — tracked outages persist
            # across it and the next row diffs against the pre-NaN value
            continue
        prev_out, prev_ts = out, ts
    for o in tracking:
        o.total += (prev_ts - o.end) * o.rco
        o.end = prev_ts
        secs = o.end - o.start
        if secs == 0:
            continue
        o.mean = o.total / secs
        results.append((o.start, o.end, o.mean, int(secs)))
    return results


def merger_monthly_property(
    merged: DataFrame, month_start: str, month_end: str
) -> DataFrame:
    """Monthly grower report over threshold-merger output
    (step2_grower_property.py:70–105): per utility, the outage frequency,
    average duration, average customer_affected_mean, and the
    customer_affected_mean × duration total/average for outages STARTING
    inside [month_start, month_end] — both bounds INCLUSIVE, matching the
    reference's `<=` on the next month's first instant (an outage starting
    exactly at the boundary lands in both adjacent reports there too).
    Durations in minutes (the reference sums Timedeltas)."""
    win = merged.filter(
        (F.col("start_time") >= F.lit(month_start))
        & (F.col("start_time") <= F.lit(month_end))
    )
    dur_min = F.col("duration_s") / 60.0
    return win.groupBy("UtilityName").agg(
        F.count(F.lit(1)).alias("frequency"),
        (F.sum(dur_min) / F.count(F.lit(1))).alias("avg_duration_min"),
        (F.sum("customer_affected_mean") / F.count(F.lit(1))).alias(
            "avg_customer_affected_mean"
        ),
        F.sum(F.col("customer_affected_mean") * dur_min).alias(
            "total_customer_affected_x_duration"
        ),
        (
            F.sum(F.col("customer_affected_mean") * dur_min) / F.count(F.lit(1))
        ).alias("avg_customer_affected_x_duration"),
    )


def threshold_merger(
    pous: DataFrame,
    threshold: float = 0.1,
    abs_diff: float = 0.0,
) -> DataFrame:
    """The reference's FULL step1_threshold pipeline as one distributed
    operator (step1_threshold.py:380–420 outer loop + merger above):

    1. dedup exact-duplicate observations per (group, timestamp), keeping
       the first minimum CustomersOut (groupby idxmin parity),
    2. split each group's time-ordered series into segments wherever the
       PREVIOUS row's CustomersOut was 0 (is_new, step1_threshold.py:13),
    3. run the concurrent-outage merger per segment,
    4. keep only closed outages with duration > 0.

    Sequential within a (utility, state, county, city) group, parallel
    across groups — groups are plentiful and cadence-bounded.

    The (utility…city) groups are tiny (~10²–10⁴ rows) and plentiful,
    so one applyInPandas call PER GROUP pays one Arrow round trip each —
    per-call overhead dominated the fold 5:1 at 1500 groups. The groups
    fold in GROUP_BUCKETS hash buckets instead (_bucketed_apply).
    """

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        # dedup (ts → first occurrence of the min reading): stable sort +
        # drop_duplicates ≡ groupby idxmin, but survives all-NaN groups
        # (idxmin yields NaN there and the .loc lookup would KeyError)
        pdf = pdf.sort_values(
            ["RecordDateTime", "CustomersOut"], kind="stable"
        ).drop_duplicates("RecordDateTime", keep="first")
        keys = pdf.iloc[0][GROUP_KEYS].tolist()
        fips = pdf.iloc[0]["CountyFIPS"]
        tracked = int(pdf.iloc[0]["CustomersTracked"])
        # integer epoch seconds: exact for the whole-second cadence and
        # far cheaper than Timestamp objects in the sequential fold
        # (normalize to ns first — Arrow can hand datetime64[us]/[ms])
        ts_s = (
            pdf["RecordDateTime"].astype("datetime64[ns]").astype("int64")
            // 1_000_000_000
        ).to_numpy()
        outs = pdf["CustomersOut"].to_numpy()
        out_rows = []
        seg: list[tuple] = []
        prev = None
        for ts, out in zip(ts_s.tolist(), outs.tolist()):
            # null/NaN stays NaN: it must flow into the fold as the
            # reference's case-E row (skipped, prev untouched) — coercing
            # to 0 would wrongly CLOSE every tracked outage and split the
            # segment. (One divergence, documented: a segment-OPENING NaN
            # poisons the reference's tracking list so the whole segment
            # emits nothing; the fold reproduces that too, since every
            # subsequent row fails the NaN comparisons.)
            out = int(out) if out == out and out is not None else float("nan")
            if prev is not None and prev == 0 and seg:
                out_rows += _merge_segment(seg, threshold, abs_diff)
                seg = []
            seg.append((ts, out))
            prev = out
        if seg:
            out_rows += _merge_segment(seg, threshold, abs_diff)
        kept = [r for r in out_rows if r[3] > 0]
        n = len(kept)
        # column-wise construction: per-row dicts + per-row pd.Timestamp
        # dominate the operator's wall time at 10^4+ sessions/group batch
        return pd.DataFrame(
            {
                "UtilityName": [keys[0]] * n,
                "StateName": [keys[1]] * n,
                "CountyName": [keys[2]] * n,
                "CityName": [keys[3]] * n,
                "CountyFIPS": [fips] * n,
                "CustomersTracked": [tracked] * n,
                "start_time": pd.to_datetime([r[0] for r in kept], unit="s"),
                "end_time": pd.to_datetime([r[1] for r in kept], unit="s"),
                "customer_affected_mean": [r[2] for r in kept],
                "duration_s": [r[3] for r in kept],
            }
        )

    def empty():
        return pd.DataFrame(
            {
                "UtilityName": pd.Series(dtype=object),
                "StateName": pd.Series(dtype=object),
                "CountyName": pd.Series(dtype=object),
                "CityName": pd.Series(dtype=object),
                "CountyFIPS": pd.Series(dtype=object),
                "CustomersTracked": pd.Series(dtype="int64"),
                "start_time": pd.Series(dtype="datetime64[ns]"),
                "end_time": pd.Series(dtype="datetime64[ns]"),
                "customer_affected_mean": pd.Series(dtype="float64"),
                "duration_s": pd.Series(dtype="int64"),
            }
        )

    return _bucketed_apply(pous, fold, _MERGER_SCHEMA, empty)


def ganz_events(
    pous: DataFrame,
    threshold: float = 0.05,
    keys: list[str] = GROUP_KEYS,
    ts_col: str = "RecordDateTime",
    out_col: str = "CustomersOut",
    tracked_col: str = "CustomersTracked",
) -> DataFrame:
    """The EXACT step1_ganz event detector (step1_ganz.py:61–89 merger +
    :150–166 outer loop) as pure window algebra — the relative-threshold,
    inclusive-boundary semantics ``sessionize_sql`` approximates with an
    absolute ``val > threshold``.

    Reference semantics, re-derived declaratively:

    - dedup per (group, ts) keeping the min reading (the groupby-idxmin
      at step1_ganz.py:140–143; ``tracked`` is constant within a group —
      it's read from ``outage_rows[0]`` there — so min() is exact),
    - segments split AFTER zero-reading rows (is_new, :13–25),
    - a row is "above" iff reading >= threshold × tracked — the ``>=``
      crossing at :72–75: a reading exactly at θ×tracked OPENS an event,
    - an event is a maximal run of consecutive above rows PLUS the single
      below row that terminates it (:79–85 sets the end index at the
      first below row and slices start:end+1); an above-run still open at
      segment end is DROPPED (flag never cleared → no event appended),
    - time-weighted mean = Σ gapᵢ·readingᵢ over consecutive in-event row
      pairs / duration (helper, :49–57: the last row's reading is unused),
    - zero-duration events are dropped (:44–45 and the :173 filter).

    Everything stays in whole-stage codegen: three windows sharing the
    (keys) hash partitioning plus one aggregate — at 100 TB this is one
    shuffle on the group keys, reused across all four steps.
    """
    evt_keys = [*keys, "seg_id", "run_id"]
    wk = Window.partitionBy(*keys).orderBy(ts_col)
    wseg = Window.partitionBy(*keys, "seg_id").orderBy(ts_col)
    wevt = Window.partitionBy(*evt_keys).orderBy(ts_col)

    dedup = pous.groupBy(*keys, ts_col).agg(
        F.min(out_col).alias("out"), F.min(tracked_col).alias("tracked")
    )
    segmented = dedup.withColumn(
        "seg_id",
        F.sum(
            F.when(F.lag("out", 1).over(wk) == 0, 1).otherwise(0)
        ).over(wk.rowsBetween(Window.unboundedPreceding, 0)),
    )
    marked = (
        segmented.withColumn("above", F.col("out") >= threshold * F.col("tracked"))
        .withColumn("prev_above", F.coalesce(F.lag("above", 1).over(wseg), F.lit(False)))
        .withColumn(
            "run_id",
            F.sum(
                F.when(F.col("above") & ~F.col("prev_above"), 1).otherwise(0)
            ).over(wseg.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    in_event = marked.filter(F.col("above") | F.col("prev_above"))
    gapped = in_event.withColumn(
        "gap_s",
        F.unix_timestamp(F.lead(ts_col, 1).over(wevt)) - F.unix_timestamp(ts_col),
    )
    events = gapped.groupBy(*evt_keys).agg(
        F.min(ts_col).alias("start_time"),
        F.max(ts_col).alias("end_time"),
        F.max(F.when(~F.col("above"), 1).otherwise(0)).alias("closed"),
        F.max("tracked").alias("CustomersTracked"),
        F.sum(F.col("gap_s") * F.col("out")).alias("weighted_s"),
    )
    dur = F.unix_timestamp("end_time") - F.unix_timestamp("start_time")
    return (
        events.filter((F.col("closed") == 1) & (dur > 0))
        .select(
            *keys,
            "CustomersTracked",
            "start_time",
            "end_time",
            dur.alias("duration_s"),
            (F.col("weighted_s") / dur).alias("customer_affected_mean"),
        )
    )
