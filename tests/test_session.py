"""Session defaults."""

from __future__ import annotations

import logging
import os
import shutil

import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F

from kafka_data_explorer_cdc_spark import session
from kafka_data_explorer_cdc_spark.session import PACKAGE_ROOT, local_cpus, local_fs_conf
from kafka_data_explorer_cdc_spark.streaming.windows import read_events_stream

#: The override is compiled with javac; without it the stock FileSystem
#: stays and only the fallback tests apply.
needs_override = pytest.mark.skipif(
    shutil.which("javac") is None, reason="the local FileSystem override needs javac"
)
OVERRIDE = "kdec.fs.ForkFreeLocalFileSystem"


def test_local_cpus_defaults_to_usable_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == len(os.sched_getaffinity(0))


def test_local_cpus_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == 3


def test_local_workers_get_the_package_root(spark):
    """Python UDF workers import the package by module name, so a local
    session puts the package root on their PYTHONPATH: the running
    context's worker environment carries it, and so does a worker."""
    assert os.path.isdir(os.path.join(PACKAGE_ROOT, "kafka_data_explorer_cdc_spark"))
    env = spark.sparkContext.environment["PYTHONPATH"]
    assert PACKAGE_ROOT in env.split(os.pathsep)
    worker_path = F.udf(lambda _: os.environ.get("PYTHONPATH", ""))
    got = spark.range(1).select(worker_path("id")).first()[0]
    assert PACKAGE_ROOT in got.split(os.pathsep)


def _hadoop(spark, stock: bool):
    """The session's Hadoop conf, or a copy that names Hadoop's stock
    local FileSystem for both the FileSystem and FileContext APIs."""
    jvm = spark._jvm
    conf = jvm.org.apache.hadoop.conf.Configuration(spark._jsc.hadoopConfiguration())
    if stock:
        conf.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
        conf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    return jvm, jvm.org.apache.hadoop.fs, conf, jvm.java.net.URI("file:///")


@needs_override
def test_local_fs_override_in_effect(spark):
    """Both Hadoop APIs resolve ``file:`` to the override, and the JVM
    that runs the session has its jar on the class path."""
    jvm, hfs, conf, root = _hadoop(spark, stock=False)
    assert hfs.FileSystem.get(root, conf).getRaw().getClass().getName() == OVERRIDE + "$Raw"
    afs = hfs.FileContext.getFileContext(root, conf).getDefaultFileSystem()
    assert afs.getClass().getName() == OVERRIDE + "$Fs"
    assert afs.getRawFs().getClass().getName() == OVERRIDE + "$RawFs"
    jar = spark.sparkContext.getConf().get("spark.driver.defaultExtraClassPath").split(os.pathsep)[0]
    assert os.path.basename(jar).startswith("localfs-") and not session._jvm_lacks(jar)
    assert session._jvm_lacks(jar + ".missing")


def _write_through_filesystem(spark, stock: bool, base: str) -> None:
    jvm, hfs, conf, root = _hadoop(spark, stock)
    perm = hfs.permission.FsPermission
    fs = hfs.FileSystem.newInstance(root, conf)
    try:
        assert (fs.getRaw().getClass().getName() == OVERRIDE + "$Raw") != stock
        fs.mkdirs(hfs.Path(base + "/dir_default"))
        fs.mkdirs(hfs.Path(base + "/dir_700"), perm(0o700))
        fs.mkdirs(hfs.Path(base + "/dir_sticky"), perm(0o1777))
        fs.create(hfs.Path(base + "/file_default")).close()
        fs.create(hfs.Path(base + "/dir_700/file_640"), perm(0o640), True, 4096, 1, 1 << 20, None).close()
        fs.create(hfs.Path(base + "/file_set")).close()
        fs.setPermission(hfs.Path(base + "/file_set"), perm(0o604))
        fs.mkdirs(hfs.Path(base + "/dir_set"))
        fs.setPermission(hfs.Path(base + "/dir_set"), perm(0o777))
    finally:
        fs.close()


def _write_through_filecontext(spark, stock: bool, base: str) -> None:
    """The streaming checkpoint's route: mkdir, create, rename over."""
    jvm, hfs, conf, root = _hadoop(spark, stock)
    perm = hfs.permission.FsPermission
    gw = spark.sparkContext._gateway
    fc = hfs.FileContext.getFileContext(root, conf)
    assert (fc.getDefaultFileSystem().getClass().getName() == OVERRIDE + "$Fs") != stock
    no_opts = gw.new_array(hfs.Options.CreateOpts, 0)
    with_perm = gw.new_array(hfs.Options.CreateOpts, 1)
    with_perm[0] = hfs.Options.CreateOpts.perms(perm(0o600))
    create = jvm.java.util.EnumSet.of(hfs.CreateFlag.CREATE)
    fc.mkdir(hfs.Path(base + "/ctx/dir_default"), perm.getDirDefault(), True)
    fc.mkdir(hfs.Path(base + "/ctx/dir_750"), perm(0o750), True)
    fc.create(hfs.Path(base + "/ctx/file_default"), create, no_opts).close()
    fc.create(hfs.Path(base + "/ctx/dir_750/file_600"), create, with_perm).close()
    fc.create(hfs.Path(base + "/ctx/tmp"), create, no_opts).close()
    overwrite = gw.new_array(hfs.Options.Rename, 1)
    overwrite[0] = hfs.Options.Rename.OVERWRITE
    fc.rename(hfs.Path(base + "/ctx/tmp"), hfs.Path(base + "/ctx/file_default"), overwrite)


def _modes(base: str) -> dict[str, int]:
    out = {}
    for dirpath, dirs, files in os.walk(base):
        for name in dirs + files:
            path = os.path.join(dirpath, name)
            out[os.path.relpath(path, base)] = os.lstat(path).st_mode
    return out


@needs_override
@pytest.mark.parametrize("write", [_write_through_filesystem, _write_through_filecontext])
def test_local_fs_override_modes_match_stock(spark, tmp_path, write):
    """Files, .crc files and directories get the stock modes: the
    default ones (umask applied), explicit ones, and a sticky directory
    (which the override leaves to the stock chmod)."""
    write(spark, True, str(tmp_path / "stock"))
    write(spark, False, str(tmp_path / "override"))
    stock, override = _modes(str(tmp_path / "stock")), _modes(str(tmp_path / "override"))
    assert any(name.endswith(".crc") for name in stock)
    assert override == stock


@needs_override
def test_local_fs_override_link_status_matches_stock(spark, tmp_path):
    jvm, hfs, conf, root = _hadoop(spark, stock=True)
    stock = hfs.RawLocalFileSystem()
    stock.initialize(root, conf)
    override = hfs.FileSystem.get(root, spark._jsc.hadoopConfiguration()).getRaw()
    (tmp_path / "target").write_text("x")
    os.symlink(tmp_path / "target", tmp_path / "link")
    os.symlink(tmp_path / "gone", tmp_path / "dangling")

    def status(fs, name):
        st = fs.getFileLinkStatus(hfs.Path(str(tmp_path / name)))
        return st.isSymlink(), st.getSymlink().toString() if st.isSymlink() else None, st.getLen()

    for name in ("link", "dangling", "target"):
        assert status(override, name) == status(stock, name), name
    assert status(override, "link")[:2] == (True, "file:" + str(tmp_path / "target"))
    for fs in (stock, override):
        with pytest.raises(Exception, match="FileNotFoundException"):
            fs.getFileLinkStatus(hfs.Path(str(tmp_path / "absent")))
    stock.close()


def test_symlinked_parquet_stream_drains(spark, sf_dir):
    """``read_events_stream`` links its input file into a directory; the
    stream reads through the link with whatever FileSystem is in effect."""
    path = os.path.join(sf_dir, "events.parquet")
    rows = []
    q = (
        read_events_stream(spark, path).writeStream
        .foreachBatch(lambda df, _: rows.append(df.count()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.exception() is None
    assert sum(rows) == spark.read.parquet(path).count() > 0


@pytest.fixture
def no_jvm(monkeypatch):
    """``local_fs_conf`` as before the first session of a process."""
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)


def test_local_fs_conf_without_javac(no_jvm, monkeypatch, tmp_path, caplog):
    monkeypatch.setenv("PATH", str(tmp_path))
    monkeypatch.setattr(session, "JAR_CACHE", str(tmp_path / "cache"))
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert local_fs_conf("local[2]") == {}
    assert [r.getMessage() for r in caplog.records if "javac is not on PATH" in r.getMessage()]
    assert not (tmp_path / "cache").exists()


def test_local_fs_conf_with_unwritable_cache(no_jvm, monkeypatch, tmp_path, caplog):
    (tmp_path / "file").write_text("")
    monkeypatch.setattr(session, "JAR_CACHE", str(tmp_path / "file" / "cache"))
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert local_fs_conf("local[2]") == {}
    assert len(caplog.records) == 1


def test_local_fs_conf_skips_cluster_and_running_context(spark, no_jvm, monkeypatch):
    assert local_fs_conf("spark://host:7077") == {}
    assert local_fs_conf("local-cluster[2,1,1024]") == {}
    monkeypatch.setattr(SparkContext, "_active_spark_context", spark.sparkContext)
    assert local_fs_conf("local[2]") == {}


@needs_override
def test_local_fs_conf_compiles_once(no_jvm, monkeypatch, tmp_path):
    monkeypatch.setattr(session, "JAR_CACHE", str(tmp_path))
    conf = local_fs_conf("local[2]")
    jar = conf["spark.driver.defaultExtraClassPath"]
    assert os.path.dirname(jar) == str(tmp_path) and os.listdir(tmp_path) == [os.path.basename(jar)]
    assert conf["spark.hadoop.fs.file.impl"] == OVERRIDE
    assert conf["spark.hadoop.fs.AbstractFileSystem.file.impl"] == OVERRIDE + "$Fs"
    mtime = os.stat(jar).st_mtime_ns
    assert local_fs_conf("local[2]") == conf
    assert os.stat(jar).st_mtime_ns == mtime
