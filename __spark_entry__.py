"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over ``kafka_data_explorer_cdc_spark.queries`` — the
registry holds every implemented operator from SURVEY.md §2, each with
a Spark builder and (where SQL-expressible) a DuckDB oracle string.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _ROOT)

from kafka_data_explorer_cdc_spark.kql import kql_unpersist_caches
from kafka_data_explorer_cdc_spark.queries import oracles as _oracles
from kafka_data_explorer_cdc_spark.queries import queries as _queries
from kafka_data_explorer_cdc_spark.session import configure_runtime


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Runs the full reference ingestion path (envelope → unwrap → mapping)
    feeding the KQL summarize query — the reference's bread and butter.
    """
    configure_runtime(spark)
    return _queries()["a14_avg_sales_by_city"](spark, "/root/testdata/sf0.001")


def driver_order(names: Iterable[str], root: str = _ROOT) -> list[str]:
    """``names`` ordered stalest driver check first.

    The driver re-checks only a head of ``queries()`` each round and
    writes its results to ``CORRECTNESS_r<N>.json`` under ``root``. An
    entry ranks by the newest round with a row for it; an entry with no
    row, or whose newest row failed, ranks as round 0. A ``no_oracle``
    row is a rows-only check and counts as passed. The sort is stable,
    so ties (and everything, with no artifacts on disk) keep the given
    order.
    """
    rounds = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            rounds[path] = int(m.group(1))
    newest: dict[str, int] = {}
    for path in sorted(rounds, key=rounds.get):
        with open(path) as fh:
            for name, row in json.load(fh).items():
                passed = row.get("err") in (None, "no_oracle") and all(
                    row.get(k) is not False
                    for k in ("rows_match", "schema_match", "hash_match")
                )
                newest[name] = rounds[path] if passed else 0
    return sorted(names, key=lambda n: newest.get(n, 0))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    ``driver_order``."""
    fns = _queries()
    wrapped = {}
    for name in driver_order(fns):
        def make(f):
            def run(spark: SparkSession, sf_dir: str) -> DataFrame:
                configure_runtime(spark)
                # release the PREVIOUS query's caches (operator persists
                # and KQL materialize()/fork caches outlive the plan that
                # reads them by design) so a full-registry driver sweep
                # doesn't accumulate MEMORY_AND_DISK entries across
                # hundreds of queries; the current query's caches stay
                # live until the next call.
                spark.catalog.clearCache()
                kql_unpersist_caches()
                return f(spark, sf_dir)

            return run

        wrapped[name] = make(fns[name])
    return wrapped


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    return _oracles()
