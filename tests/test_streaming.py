"""Structured-Streaming polling analog: incremental, exactly-once over
an append-only records directory (SURVEY.md §1.4 / §2.3)."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from outage_data_scraper_spark.streaming.poll import (
    poll_stream,
    run_available_now,
    windowed_outage_counts,
)

OBS = StructType(
    [
        StructField("emc", StringType()),
        StructField("run_ts", TimestampType()),
        StructField("n", LongType()),
    ]
)


def _write_wave(spark, path, emc, ts_list):
    df = (
        spark.createDataFrame([(emc, ts, 1) for ts in ts_list], "emc string, run_ts string, n long")
        .withColumn("run_ts", F.to_timestamp("run_ts"))
        .select("emc", "run_ts", "n")
    )
    df.coalesce(1).write.mode("append").parquet(path)


@pytest.fixture()
def dirs(tmp_path):
    return (
        str(tmp_path / "records"),
        str(tmp_path / "sink"),
        str(tmp_path / "ckpt"),
    )


def _read_sink(spark, sink):
    return spark.read.parquet(sink)


def test_available_now_is_incremental_and_exactly_once(spark, dirs):
    src, sink, ckpt = dirs
    # two waves (= two files = two micro-batches): the second wave's
    # event time pushes the watermark past the first wave's window
    _write_wave(spark, src, "EMC A", ["2024-08-01 10:01:00", "2024-08-01 10:05:00"])
    _write_wave(spark, src, "EMC A", ["2024-08-01 11:00:00"])

    stream = poll_stream(spark, src, OBS)
    assert stream.isStreaming
    run_available_now(windowed_outage_counts(stream), sink, ckpt)
    first = {(r.emc, str(r.window_start), r.n_records) for r in _read_sink(spark, sink).collect()}
    assert ("EMC A", "2024-08-01 10:00:00", 2) in first  # closed by watermark
    assert not any(w == "2024-08-01 11:00:00" for _, w, _ in first)  # still open

    # poll again with NO new files: nothing new emitted (exactly-once)
    run_available_now(windowed_outage_counts(poll_stream(spark, src, OBS)), sink, ckpt)
    assert len(_read_sink(spark, sink).collect()) == len(first)

    # a third wave closes the 11:00 window
    _write_wave(spark, src, "EMC A", ["2024-08-01 12:00:00"])
    run_available_now(windowed_outage_counts(poll_stream(spark, src, OBS)), sink, ckpt)
    rows = {(r.emc, str(r.window_start), r.n_records) for r in _read_sink(spark, sink).collect()}
    assert ("EMC A", "2024-08-01 11:00:00", 1) in rows


def test_crawler_pages_dir_feeds_stream(spark, tmp_path):
    """The snapshot catalog's data layout (snap=*/part-*.parquet) is
    directly consumable as a streaming source via glob."""
    from outage_data_scraper_spark import schemas
    from outage_data_scraper_spark.catalog import SnapshotCatalog
    from outage_data_scraper_spark.frontier.crawler import Crawler
    from outage_data_scraper_spark.sources.fixtures import make_fixture_fetcher
    from outage_data_scraper_spark.sources.seeds import fixture_miniweb_seeds

    cat = SnapshotCatalog(str(tmp_path / "cat"))
    c = Crawler(spark, cat, make_fixture_fetcher, per_host_k=10, num_parts=8)
    c.bootstrap(fixture_miniweb_seeds(spark))
    c.run(max_waves=5)

    src = os.path.join(str(tmp_path / "cat"), "records")
    # records snapshots are hive-partitioned by (state, layout); a
    # recursive file lookup streams the data files directly (partition
    # columns live in dir names, the remaining columns in the files)
    data_schema = StructType(
        [f for f in schemas.RECORDS.fields if f.name not in ("state", "layout")]
    )
    stream = (
        spark.readStream.schema(data_schema)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    # stateless incremental projection (all crawl records share one
    # run_ts, so a watermarked agg would never close — the windowed path
    # is covered above)
    proj = stream.filter(F.col("level") == "per_county").select("url", "level", "emc")
    sink, ckpt = str(tmp_path / "s"), str(tmp_path / "c")
    run_available_now(proj, sink, ckpt)
    got = spark.read.parquet(sink)
    assert got.count() > 0
    assert {r.level for r in got.select("level").distinct().collect()} == {"per_county"}


def test_stateful_streaming_sessionizer(spark, tmp_path):
    """applyInPandasWithState: sessions survive micro-batch boundaries and
    emit exactly when the feed recovers."""
    from outage_data_scraper_spark.streaming.stateful import streaming_sessionize

    src = str(tmp_path / "obs")
    obs_schema = "emc string, ts string, out long"

    def wave(rows):
        df = (
            spark.createDataFrame(rows, obs_schema)
            .withColumn("ts", F.to_timestamp("ts"))
            .select("emc", "ts", "out")
        )
        df.coalesce(1).write.mode("append").parquet(src)

    # wave 1 opens a session for EMC A (no close yet)
    wave([("A", "2024-08-01 10:00:00", 50), ("A", "2024-08-01 10:15:00", 80)])
    # wave 2 (separate file → separate micro-batch) recovers A, and B
    # opens+closes within the batch
    wave([
        ("A", "2024-08-01 10:30:00", 0),
        ("B", "2024-08-01 10:00:00", 7),
        ("B", "2024-08-01 10:10:00", 0),
    ])

    from outage_data_scraper_spark import schemas  # noqa: F401
    from pyspark.sql.types import LongType, StringType, StructField, StructType, TimestampType

    stream = (
        spark.readStream.schema(
            StructType([
                StructField("emc", StringType()),
                StructField("ts", TimestampType()),
                StructField("out", LongType()),
            ])
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sessions = streaming_sessionize(stream, threshold=0)
    q = (
        sessions.writeStream.format("parquet")
        .option("path", str(tmp_path / "sink"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.emc, str(r.session_start), r.n_obs, r.peak_out, r.closed_by)
        for r in spark.read.parquet(str(tmp_path / "sink")).collect()
    }
    assert ("A", "2024-08-01 10:00:00", 2, 80, "recovered") in got
    assert ("B", "2024-08-01 10:00:00", 1, 7, "recovered") in got


def test_stateful_timeout_closes_stale_session(spark, tmp_path):
    """A key whose feed goes quiet must emit closed_by='timeout' without
    ever recovering: EMC A opens a session in batch 1, then only EMC B
    observations arrive; the ProcessingTimeTimeout fires on a later
    micro-batch and closes A's session as stale."""
    import time

    from pyspark.sql.types import LongType, StringType, StructField, StructType, TimestampType

    from outage_data_scraper_spark.streaming.stateful import streaming_sessionize

    src = str(tmp_path / "obs")

    def wave(rows):
        df = (
            spark.createDataFrame(rows, "emc string, ts string, out long")
            .withColumn("ts", F.to_timestamp("ts"))
            .select("emc", "ts", "out")
        )
        df.coalesce(1).write.mode("append").parquet(src)

    wave([("A", "2024-08-01 10:00:00", 50), ("A", "2024-08-01 10:15:00", 80)])
    for i in range(3):  # keep micro-batches coming; A never recovers
        wave([("B", f"2024-08-01 10:0{i}:00", 5 + i)])

    stream = (
        spark.readStream.schema(
            StructType([
                StructField("emc", StringType()),
                StructField("ts", TimestampType()),
                StructField("out", LongType()),
            ])
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sessions = streaming_sessionize(stream, threshold=0, stale_timeout_ms=200)
    q = (
        sessions.writeStream.format("parquet")
        .option("path", str(tmp_path / "sink"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.monotonic() + 60
        closed = set()
        while time.monotonic() < deadline:
            time.sleep(2)
            try:
                closed = {
                    (r.emc, str(r.session_start), r.n_obs, r.peak_out, r.closed_by)
                    for r in spark.read.parquet(str(tmp_path / "sink")).collect()
                }
            except Exception:
                continue
            if any(c[0] == "A" and c[4] == "timeout" for c in closed):
                break
    finally:
        q.stop()
    assert ("A", "2024-08-01 10:00:00", 2, 80, "timeout") in closed
    # B stayed active to the end, then timed out too (feed stopped)
    assert all(c[4] == "timeout" for c in closed)


def test_streaming_cms_equals_batch_sketch(spark, tmp_path):
    """The foreachBatch-maintained CMS merged across 3 micro-batches is
    cell-for-cell identical to the batch sketch over the same values —
    the mergeability law run through a real streaming checkpoint."""
    from pyspark.sql import functions as F

    from outage_data_scraper_spark.operators.sketch import cms_table
    from outage_data_scraper_spark.streaming.sketches import run_streaming_cms

    rows = [(i, f"t{i % 17}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, term string")
    streamed = run_streaming_cms(
        spark, df, 3, str(tmp_path / "w"), "term", "doc_id", d=2, w=64
    )
    batch = cms_table(df, "term", d=2, w=64)
    got = {(r.row, r.bucket): r.cnt for r in streamed.collect()}
    want = {(r.row, r.bucket): r.cnt for r in batch.collect()}
    assert got == want and sum(got.values()) == 2 * 300
