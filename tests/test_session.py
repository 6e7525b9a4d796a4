"""Session factory: which pyspark the Python workers import, and the
warning for a conf that a reused session ignores."""

import os
import sys
import zipfile

import pytest

from outage_data_scraper_spark import pyworker
from outage_data_scraper_spark.session import (
    DAEMON_MODULE_CONF,
    PACKAGE_PARENT,
    WORKER_DAEMON,
    engine_conf,
    get_spark,
)

FIXTURE_ARGS = dict(app_name="odss-tests", master="local[8]", shuffle_partitions=8)


def test_workers_import_the_installed_pyspark(spark):
    """Workers of a local session import the non-zip pyspark of the JVM's
    version, and keep no importer for $SPARK_HOME's pyspark.zip or for a
    jar (Spark's core jar holds no Python)."""

    def _worker_origin(_):  # nested: cloudpickle ships it by value
        import sys
        import zipimport

        import pyspark

        zips = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        yield pyspark.__file__, pyspark.__version__, [
            k for k in zips if "pyspark.zip" in k or ".jar" in k]

    assert spark.sparkContext.getConf().get(DAEMON_MODULE_CONF) == WORKER_DAEMON
    rows = spark.sparkContext.parallelize(range(4), 4).mapPartitions(_worker_origin).collect()
    assert len(rows) == 4
    for file, version, archive_importers in rows:
        assert ".zip" not in file
        assert version == spark.version
        assert archive_importers == []


def _fake_zip(tmp_path, version):
    path = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", f"__version__: str = '{version}'\n")
    return str(path)


def _without_zips(path):
    return [p for p in path if os.path.basename(p) != pyworker.ZIP_NAME]


def _installed():
    return pyworker.installed_version(_without_zips(sys.path))


def _jar(tmp_path, name, members):
    path = tmp_path / name
    with zipfile.ZipFile(path, "w") as zf:
        for m in members:
            zf.writestr(m, "")
    return str(path)


def test_zip_of_the_installed_version_is_dropped(tmp_path):
    """The zip goes, and with it every jar that holds no Python source
    (Spark's core jar); a jar with Python stays."""
    z = _fake_zip(tmp_path, _installed())
    core = _jar(tmp_path, "core.jar", ["org/apache/X.class"])
    py_jar = _jar(tmp_path, "py.jar", ["mod.py"])
    rest = _without_zips(sys.path)
    path = [z, core, py_jar, *rest]
    cache = {z: object(), os.path.join(z, "pyspark"): object(),
             core: object(), os.path.join(core, "org"): object(), py_jar: object()}
    assert pyworker.prefer_installed_pyspark(path, cache)
    assert path == [py_jar, *rest]
    assert list(cache) == [py_jar]


def test_zip_of_another_version_is_kept(tmp_path):
    z = _fake_zip(tmp_path, "0.0.1")
    path = [z, _jar(tmp_path, "core.jar", ["org/apache/X.class"]), *_without_zips(sys.path)]
    before = list(path)
    cache = {z: object()}
    assert not pyworker.prefer_installed_pyspark(path, cache)
    assert path == before and z in cache


def test_zip_without_an_installed_copy_is_kept(tmp_path):
    z = _fake_zip(tmp_path, _installed())
    empty = tmp_path / "empty"
    empty.mkdir()
    path = [z, str(empty)]
    assert not pyworker.prefer_installed_pyspark(path, {})
    assert path == [z, str(empty)]


def test_daemon_module_needs_a_local_master_and_an_importable_package(tmp_path, monkeypatch):
    """A package dir that is neither the cwd nor on PYTHONPATH, or a
    non-local master, leaves Spark's default daemon."""
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", str(tmp_path / "elsewhere"))
    assert DAEMON_MODULE_CONF not in engine_conf("local[2]")
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), PACKAGE_PARENT]))
    assert engine_conf("local[2]")[DAEMON_MODULE_CONF] == WORKER_DAEMON
    assert engine_conf("local")[DAEMON_MODULE_CONF] == WORKER_DAEMON
    for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]"):
        assert DAEMON_MODULE_CONF not in engine_conf(master)
    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.chdir(PACKAGE_PARENT)
    assert engine_conf("local[2]")[DAEMON_MODULE_CONF] == WORKER_DAEMON
    # an explicit request wins over the engine's choice
    assert engine_conf("local[2]", extra_conf={DAEMON_MODULE_CONF: "pyspark.daemon"})[
        DAEMON_MODULE_CONF] == "pyspark.daemon"


@pytest.mark.parametrize(
    "key,env,extra",
    [
        ("spark.driver.memory", {"SPARK_GRAFT_DRIVER_MEM": "3g"}, None),
        (DAEMON_MODULE_CONF, {}, {DAEMON_MODULE_CONF: "pyspark.daemon"}),
        ("spark.sql.warehouse.dir", {}, {"spark.sql.warehouse.dir": "/nonexistent/wh"}),
    ],
    ids=["driver-memory", "daemon-module", "warehouse-dir"],
)
def test_reused_session_warns_for_every_ignored_conf(spark, monkeypatch, key, env, extra):
    """The session is built once; a later request for another value of a
    SparkContext or static conf is ignored, and the warning names it."""
    for k, v in env.items():
        monkeypatch.setenv(k, v)
    with pytest.warns(UserWarning, match=rf"^{key}=.* requested but the reused SparkSession"):
        assert get_spark(**FIXTURE_ARGS, extra_conf=extra) is spark
    assert spark.sparkContext.getConf().get(DAEMON_MODULE_CONF) == WORKER_DAEMON
