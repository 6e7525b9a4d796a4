"""Snapshot catalog: append / overwrite / time travel / rollback."""

import pytest

from outage_data_scraper_spark.catalog import SnapshotCatalog


def _df(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "x int")


def test_append_and_time_travel(spark, tmp_catalog_dir):
    cat = SnapshotCatalog(tmp_catalog_dir)
    s1 = cat.write("t", _df(spark, [1, 2]))
    s2 = cat.write("t", _df(spark, [3]))
    assert sorted(r.x for r in cat.read(spark, "t").collect()) == [1, 2, 3]
    assert sorted(r.x for r in cat.read(spark, "t", snapshot=s1).collect()) == [1, 2]
    assert cat.current_snapshot_id("t") == s2


@pytest.mark.parametrize("partition_by", [None, ["p"]], ids=["flat", "partitioned"])
def test_skip_empty_commits_nothing_and_footers_count_rows(spark, tmp_catalog_dir, partition_by):
    """skip_empty: a write of no rows commits no snapshot and returns None;
    a committed snapshot's rows come from its parquet footers (no Spark
    job) and ``since`` reads back only the rows it added."""
    cat = SnapshotCatalog(tmp_catalog_dir)

    def write(vals):
        df = spark.createDataFrame([(v, v % 2) for v in vals], "x int, p int")
        return cat.write("t", df, partition_by=partition_by, skip_empty=True)

    s1 = write([1, 2])
    before = cat.snapshots("t")
    assert write([]) is None
    assert cat.snapshots("t") == before
    s2 = write([3, 4, 5])
    assert s2 == s1 + 1

    sc = spark.sparkContext
    sc.setJobGroup("footer-rows", "footer-rows")
    try:
        rows = [cat.snapshot_rows("t", s1), cat.snapshot_rows("t", s2)]
    finally:
        sc.setJobGroup(None, None)
    assert rows == [2, 3]
    assert list(sc.statusTracker().getJobIdsForGroup("footer-rows")) == []
    added = cat.read(spark, "t", snapshot=s2, since=s1)
    assert sorted(r.x for r in added.collect()) == [3, 4, 5]
    assert sorted(r.x for r in cat.read(spark, "t", since=s2 - 2).collect()) == [1, 2, 3, 4, 5]


def test_overwrite_resets_state(spark, tmp_catalog_dir):
    cat = SnapshotCatalog(tmp_catalog_dir)
    cat.write("t", _df(spark, [1, 2]))
    cat.write("t", _df(spark, [9]), mode="overwrite")
    cat.write("t", _df(spark, [10]))
    assert sorted(r.x for r in cat.read(spark, "t").collect()) == [9, 10]


def test_write_rejects_unknown_mode(spark, tmp_catalog_dir):
    """A mistyped mode must fail before anything is written: stored in
    the manifest, read() would treat it as an append."""
    cat = SnapshotCatalog(tmp_catalog_dir)
    cat.write("t", _df(spark, [1]))
    with pytest.raises(ValueError, match="Overwrite"):
        cat.write("t", _df(spark, [9]), mode="Overwrite")
    assert len(cat.snapshots("t")) == 1
    assert [r.x for r in cat.read(spark, "t").collect()] == [1]


def test_rollback_drops_newer_snapshots(spark, tmp_catalog_dir):
    cat = SnapshotCatalog(tmp_catalog_dir)
    s1 = cat.write("t", _df(spark, [1]), wave=1)
    cat.write("t", _df(spark, [2]), wave=2)
    cat.rollback("t", s1)
    assert [r.x for r in cat.read(spark, "t").collect()] == [1]
    assert cat.last_wave("t") == 1


def test_compact_preserves_state_and_prunes_snapshots(spark, tmp_catalog_dir):
    cat = SnapshotCatalog(tmp_catalog_dir)
    for i in range(4):
        cat.write("t", _df(spark, [i]))
    before = sorted(r.x for r in cat.read(spark, "t").collect())
    cat.compact(spark, "t")
    assert sorted(r.x for r in cat.read(spark, "t").collect()) == before
    assert len(cat.snapshots("t")) == 1
    # appends continue normally after compaction
    cat.write("t", _df(spark, [9]))
    assert sorted(r.x for r in cat.read(spark, "t").collect()) == before + [9]


def test_compact_default_wave_is_last_wave(spark, tmp_catalog_dir):
    """Regression: an unstamped (wave=None) compaction snapshot would be
    rolled back by Crawler.resume() — deleting the table's only data."""
    cat = SnapshotCatalog(tmp_catalog_dir)
    cat.write("t", _df(spark, [1]), wave=1)
    cat.write("t", _df(spark, [2]), wave=2)
    cat.compact(spark, "t")
    assert cat.snapshots("t")[-1]["wave"] == 2
    assert cat.last_wave("t") == 2
    # resume()-style rollback to the last committed wave keeps the data
    keep = [s["id"] for s in cat.snapshots("t") if s.get("wave") is not None and s["wave"] <= 2]
    cat.rollback("t", max(keep))
    assert sorted(r.x for r in cat.read(spark, "t").collect()) == [1, 2]


def test_compact_keeps_partition_spec(spark, tmp_catalog_dir):
    cat = SnapshotCatalog(tmp_catalog_dir)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "x int, p string")
    cat.write("t", df, partition_by=["p"])
    cat.write("t", spark.createDataFrame([(3, "a")], "x int, p string"), partition_by=["p"])
    cat.compact(spark, "t")
    assert cat.snapshots("t")[-1]["partition_by"] == ["p"]
    got = {(r.x, r.p) for r in cat.read(spark, "t").collect()}
    assert got == {(1, "a"), (2, "b"), (3, "a")}


@pytest.mark.parametrize("partitioned", [False, True], ids=["flat", "partitioned"])
@pytest.mark.parametrize("n", [1, 10, 50])
def test_read_is_one_scan_at_any_depth(spark, tmp_catalog_dir, n, partitioned):
    """n appended snapshots read as ONE parquet scan (no Union, whatever
    the depth), the snap=<id> partition level never leaks into the
    columns, and time travel returns exactly the rows of snapshots ≤ s.
    Partition values like "007" stay strings under the table schema.
    The 50-deep flat table is written from the driver as pyarrow.Tables
    (no Spark job per row), which the one-scan read treats the same."""
    import pyarrow as pa
    from pyspark.sql.types import StructType

    from outage_data_scraper_spark.plans import count_nodes

    cat = SnapshotCatalog(tmp_catalog_dir)
    pvals = ["01", "007", "7"]
    driver_written = n == 50 and not partitioned
    for i in range(n):
        if driver_written:
            df = pa.table({"x": pa.array([i], pa.int32()), "p": [pvals[i % 3]]})
        else:
            df = spark.createDataFrame([(i, pvals[i % 3])], "x int, p string")
        cat.write("t", df, partition_by=["p"] if partitioned else None)
    schema = StructType.fromDDL("x int, p string")
    for df in (cat.read(spark, "t"), cat.read(spark, "t", schema=schema)):
        assert count_nodes(df, "Scan parquet") == 1
        assert count_nodes(df, "Union") == 0
        assert "snap" not in df.columns
        assert sorted(df.columns) == ["p", "x"]
    typed = cat.read(spark, "t", schema=schema)
    assert typed.columns == ["x", "p"]
    assert {r.p for r in typed.collect()} == set(pvals[: min(n, 3)])
    for s in cat.snapshots("t"):
        got = sorted((r.x, r.p) for r in cat.read(spark, "t", snapshot=s["id"]).collect())
        assert got == [(i, pvals[i % 3]) for i in range(s["id"])]


def test_append_rejects_mixed_partition_spec(spark, tmp_catalog_dir):
    """One scan reads one dir layout per live set, so an append must keep
    the live snapshots' spec; the write fails before any data lands."""
    cat = SnapshotCatalog(tmp_catalog_dir)
    df = spark.createDataFrame([(1, "a")], "x int, p string")
    cat.write("t", df, partition_by=["p"])
    with pytest.raises(ValueError, match=r"'t'.*None.*\['p'\]"):
        cat.write("t", df)
    with pytest.raises(ValueError, match=r"'t'.*\['x'\].*\['p'\]"):
        cat.write("t", df, partition_by=["x"])
    assert len(cat.snapshots("t")) == 1
    assert [(r.x, r.p) for r in cat.read(spark, "t").collect()] == [(1, "a")]


def test_overwrite_may_change_partition_spec(spark, tmp_catalog_dir):
    cat = SnapshotCatalog(tmp_catalog_dir)
    cat.write("t", spark.createDataFrame([(1, "a")], "x int, p string"), partition_by=["p"])
    cat.write("t", spark.createDataFrame([(2, "b")], "x int, p string"), mode="overwrite")
    cat.write("t", spark.createDataFrame([(3, "c")], "x int, p string"))
    assert sorted((r.x, r.p) for r in cat.read(spark, "t").collect()) == [(2, "b"), (3, "c")]
    # time travel to before the overwrite still reads the old layout
    assert [(r.x, r.p) for r in cat.read(spark, "t", snapshot=1).collect()] == [(1, "a")]


# -- driver-written snapshots (pyarrow.Table) ----------------------------------


def _tbl(vals):
    import pyarrow as pa

    return pa.table({"x": pa.array(vals, pa.int32())})


def test_arrow_table_write_launches_no_spark_job(spark, tmp_catalog_dir):
    """A pyarrow.Table snapshot is one parquet file written on the driver:
    no Spark job runs between the write call and its manifest commit."""
    import os

    cat = SnapshotCatalog(tmp_catalog_dir)
    sc = spark.sparkContext
    sc.setJobGroup("arrow-write", "arrow-write")
    try:
        s1 = cat.write("t", _tbl([1, 2]), wave=1)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("arrow-write") == []
    snap_dir = os.path.join(tmp_catalog_dir, "t", cat.snapshots("t")[0]["dir"])
    assert os.listdir(snap_dir) == ["part-00000.parquet"]
    assert cat.last_wave("t") == 1 and cat.current_snapshot_id("t") == s1
    assert sorted(r.x for r in cat.read(spark, "t").collect()) == [1, 2]


def test_bookkeeping_rows_read_with_spark_written_types(spark, tmp_catalog_dir):
    """The crawler's driver-written waves and seen_bloom rows read back
    with the types of the Spark-written rows they replace (a
    createDataFrame over the same DDL), schemaless and under the table
    schema alike."""
    from outage_data_scraper_spark import schemas
    from outage_data_scraper_spark.frontier.crawler import _row

    cat = SnapshotCatalog(tmp_catalog_dir)
    cases = {
        "waves": (
            schemas.WAVES,
            "wave int, popped long, ok long, failed long, records long, "
            "children long, wall_s double",
            dict(wave=1, popped=3, ok=2, failed=1, records=5, children=4, wall_s=0.5),
        ),
        "seen_bloom": (
            schemas.SEEN_BLOOM,
            "wave int, m long, k int, bitset binary",
            dict(wave=1, m=64, k=3, bitset=b"\x01" * 8),
        ),
    }
    for name, (schema, ddl, row) in cases.items():
        cat.write(name, _row(schema, **row), wave=1)
        cat.write(f"{name}_spark", spark.createDataFrame([tuple(row.values())], ddl))
        want = cat.read(spark, f"{name}_spark").schema.simpleString()
        assert want == schema.simpleString(), name
        assert cat.read(spark, name).schema.simpleString() == want, name
        typed = cat.read(spark, name, schema=schema)
        assert typed.schema.simpleString() == want, name
        assert typed.first().asDict() == row


def test_mixed_spark_and_driver_snapshots_read_as_one_scan(spark, tmp_catalog_dir):
    """A live set that mixes Spark-written and driver-written snapshots
    (e.g. waves after compact()) is still one scan, and time travel
    returns exactly the rows of snapshots <= s."""
    from pyspark.sql.types import StructType

    from outage_data_scraper_spark.plans import count_nodes

    cat = SnapshotCatalog(tmp_catalog_dir)
    cat.write("t", _df(spark, [0]))
    cat.write("t", _tbl([1]))
    cat.write("t", _df(spark, [2]))
    cat.write("t", _tbl([3]))
    schema = StructType.fromDDL("x int")
    for df in (cat.read(spark, "t"), cat.read(spark, "t", schema=schema)):
        assert count_nodes(df, "Scan parquet") == 1
        assert count_nodes(df, "Union") == 0
        assert df.columns == ["x"]
        assert sorted(r.x for r in df.collect()) == [0, 1, 2, 3]
    for s in cat.snapshots("t"):
        assert sorted(r.x for r in cat.read(spark, "t", snapshot=s["id"]).collect()) == list(
            range(s["id"])
        )


@pytest.mark.parametrize("kind", ["dataframe", "table"])
def test_orphan_snapshot_dir_is_replaced_not_merged(spark, tmp_catalog_dir, kind):
    """A killed writer leaves an uncommitted snap=<next id> dir; the next
    write replaces it, so the stray file never reaches a read."""
    import os

    import pyarrow.parquet as pq

    cat = SnapshotCatalog(tmp_catalog_dir)
    cat.write("t", _tbl([1]))
    orphan = os.path.join(tmp_catalog_dir, "t", "snap=00000002")
    os.makedirs(orphan)
    pq.write_table(_tbl([666]), os.path.join(orphan, "part-00007-stray.parquet"))
    cat.write("t", _df(spark, [2]) if kind == "dataframe" else _tbl([2]))
    assert cat.snapshots("t")[-1]["dir"] == "snap=00000002"
    assert not os.path.exists(os.path.join(orphan, "part-00007-stray.parquet"))
    assert sorted(r.x for r in cat.read(spark, "t").collect()) == [1, 2]


def test_arrow_table_write_rejects_partition_by(spark, tmp_catalog_dir):
    import os

    cat = SnapshotCatalog(tmp_catalog_dir)
    with pytest.raises(ValueError, match="'t'.*cannot be partitioned"):
        cat.write("t", _tbl([1]), partition_by=["x"])
    assert not cat.exists("t")
    assert not os.path.exists(os.path.join(tmp_catalog_dir, "t"))
