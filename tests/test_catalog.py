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
    Partition values like "007" stay strings under the table schema."""
    from pyspark.sql.types import StructType

    from outage_data_scraper_spark.plans import count_nodes

    cat = SnapshotCatalog(tmp_catalog_dir)
    pvals = ["01", "007", "7"]
    for i in range(n):
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
