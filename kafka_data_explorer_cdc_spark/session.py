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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: The directory that holds this package.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # When the driver hands us an existing session, runtime-settable confs
    # still need pinning for oracle-exactness.
    configure_runtime(spark)
    return spark


def configure_runtime(spark: SparkSession) -> None:
    """Pin runtime-settable confs on an externally-provided session."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
