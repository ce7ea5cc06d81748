"""Session defaults."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kafka_data_explorer_cdc_spark.session import PACKAGE_ROOT, local_cpus


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
