"""SparkSession factory with scale-conscious defaults.

Designed for a large multi-executor cluster (100 TB target) but testable
on ``local[N]``:

- AQE on (adaptive coalescing + skew-join handling at runtime)
- Arrow on (all pandas UDF / mapInPandas paths are Arrow-batched)
- session timezone pinned to UTC (oracle comparisons are UTC)
- local Python UDF workers find this package (its root on their path)
- shuffle partitions sized to the local core count; on a real cluster
  AQE coalesces from the configured initial value, so over-provisioning
  the initial partition count is safe.
- a fork-free local FileSystem (``jvm/ForkFreeLocalFileSystem.java``).
  Without libhadoop, Hadoop's local FileSystem starts a ``chmod``
  process for every file, ``.crc`` file and directory it creates, and a
  ``readlink`` for every checkpoint rename: about 62 processes per CDC
  micro-batch. The override sets permissions through ``java.nio`` and
  reads a link only for a symbolic link. :func:`get_spark` compiles it
  with ``javac`` into a jar cached in ``.jar-cache/`` beside the package
  (keyed by the source and the pyspark version), adds the jar to the
  driver's class path, after any class path the caller sets, and
  registers it for ``file:`` through
  both the FileSystem and the FileContext (streaming checkpoint) APIs.
  It is skipped, with one warning, when ``javac`` is not on ``PATH``,
  the compile fails or the cache is not writable; it is not tried for a
  non-local master or when a SparkContext is already running. A cluster
  keeps the stock FileSystem, and HDFS/S3 paths are untouched.
"""

from __future__ import annotations

import hashlib
import logging
import os
import re
import shutil
import subprocess
import tempfile
import zipfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

#: The directory that holds this package.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: Compiled jars, inside the checkout rather than under TMPDIR so that a
#: run with a fresh TMPDIR does not pay the compile again.
JAR_CACHE = os.path.join(PACKAGE_ROOT, ".jar-cache")
_LOCAL_FS_SOURCE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "ForkFreeLocalFileSystem.java"
)
_LOCAL_FS_CLASS = "kdec.fs.ForkFreeLocalFileSystem"
#: The launcher appends this to ``spark.driver.extraClassPath`` from
#: whichever source sets that (builder conf, ``--driver-class-path``,
#: ``spark-defaults.conf``), so the jar joins a caller's class path
#: rather than replacing it. Its default is empty.
_CLASS_PATH = "spark.driver.defaultExtraClassPath"

_log = logging.getLogger(__name__)


def local_cpus() -> int:
    """Cores for a local run: ``$SPARK_GRAFT_CPUS`` if set, else the
    cores this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "kafka-data-explorer-cdc-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[N]`` with N from :func:`local_cpus`
    for local runs; on a cluster, leave unset and submit normally.
    """
    cpus = local_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local: one partition per core; cluster: raise initial count and
        # let AQE coalesce (spark.sql.adaptive.coalescePartitions).
        shuffle_partitions = cpus

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # generous driver memory for many-core local runs; harmless on cluster
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local"):
        # Python UDF workers import this package by module name; put its
        # root on their path, whatever the driver's working directory
        b = b.config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
    conf = dict(extra_conf or {})
    fs_conf = local_fs_conf(master)
    if fs_conf and conf.get(_CLASS_PATH):
        fs_conf[_CLASS_PATH] += os.pathsep + conf.pop(_CLASS_PATH)
    for k, v in {**fs_conf, **conf}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # When the driver hands us an existing session, runtime-settable confs
    # still need pinning for oracle-exactness.
    configure_runtime(spark)
    return spark


def local_fs_conf(master: str) -> dict[str, str]:
    """The confs that put the fork-free local FileSystem in a new local
    session (class path and ``file:`` implementations), or ``{}`` to keep
    the stock one. Never raises: a missing ``javac``, a failed compile or
    an unwritable :data:`JAR_CACHE` log one warning and give ``{}``. Only
    a ``local``/``local[...]`` master runs its executors in the driver
    JVM; ``local-cluster`` executors would not have the jar."""
    if (
        not re.fullmatch(r"local(\[.*\])?", master)
        or SparkContext._active_spark_context is not None
    ):
        return {}
    javac = shutil.which("javac")
    if javac is None:
        reason = "javac is not on PATH"
    else:
        try:
            jar = _local_fs_jar(javac)
        except (OSError, subprocess.SubprocessError) as e:
            reason = f"cannot build {_LOCAL_FS_CLASS}: {getattr(e, 'stderr', None) or e}"
        else:
            if _jvm_lacks(jar):
                reason = "the JVM is already running without it"
            else:
                return {
                    _CLASS_PATH: jar,
                    "spark.hadoop.fs.file.impl": _LOCAL_FS_CLASS,
                    "spark.hadoop.fs.AbstractFileSystem.file.impl": _LOCAL_FS_CLASS + "$Fs",
                }
    _log.warning(
        "keeping Hadoop's stock local FileSystem, which starts a chmod "
        "process per file it writes (%s)", reason,
    )
    return {}


def _local_fs_jar(javac: str) -> str:
    """The compiled override in :data:`JAR_CACHE`, built on first use.
    The jar is written to a temporary name and renamed into place, so
    concurrent sessions that build it at once do not race."""
    import pyspark
    from pyspark.find_spark_home import _find_spark_home

    with open(_LOCAL_FS_SOURCE, "rb") as fh:
        source = fh.read()
    key = hashlib.sha256(source + b"\0" + pyspark.__version__.encode()).hexdigest()[:16]
    jar = os.path.join(JAR_CACHE, f"localfs-{key}.jar")
    if os.path.isfile(jar):
        return jar
    os.makedirs(JAR_CACHE, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=JAR_CACHE) as tmp:
        classes = os.path.join(tmp, "classes")
        # --release 17: the same class files whichever JDK javac belongs
        # to, and loadable by any JVM Spark runs on
        subprocess.run(
            [javac, "--release", "17", "-nowarn",
             "-cp", os.path.join(_find_spark_home(), "jars", "*"),
             "-d", classes, _LOCAL_FS_SOURCE],
            capture_output=True, text=True, check=True, timeout=300,
        )
        part = os.path.join(tmp, "localfs.jar")
        with zipfile.ZipFile(part, "w") as zf:
            for dirpath, _, files in os.walk(classes):
                for name in files:
                    path = os.path.join(dirpath, name)
                    zf.write(path, os.path.relpath(path, classes))
        os.replace(part, jar)
    return jar


def _jvm_lacks(jar: str) -> bool:
    """True when a driver JVM already runs (a stopped session's, or one a
    launcher started) and the jar is not on its class path."""
    if SparkContext._gateway is None:
        return "PYSPARK_GATEWAY_PORT" in os.environ
    class_path = SparkContext._gateway.jvm.System.getProperty("java.class.path")
    return jar not in class_path.split(os.pathsep)


def configure_runtime(spark: SparkSession) -> None:
    """Pin runtime-settable confs on an externally-provided session."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
