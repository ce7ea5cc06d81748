"""Session defaults that need no SparkSession to check."""

from __future__ import annotations

import os

from kafka_data_explorer_cdc_spark.session import local_cpus


def test_local_cpus_defaults_to_usable_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == len(os.sched_getaffinity(0))


def test_local_cpus_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == 3
