"""Streaming order generator — the reference's orders-generator loop
(``/root/reference/orders-generator/main.go:81-92``: one random order
every 3 s, custid∈[1,1000], amount∈[100,199], city uniform over six
cities) re-expressed as a Structured Streaming rate source.

:func:`order_stream_deterministic` reads a ``rate-micro-batch`` source
with a fixed ``rowsPerBatch``, so batch boundaries are deterministic
(the plain ``rate`` source's batch sizes depend on wall-clock). Values
are derived from the monotonically increasing ``value`` column with the
same LCG-style integer expressions as the batch twin
(``queries/reference.py:a08``), so a given sequence number always
yields the same order on any executor.

It scales without shuffles: the rate source parallelizes over
``numPartitions`` and every derived column is a per-row projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cdc.envelope import CITIES


def _order_columns(df: DataFrame) -> DataFrame:
    """Map the rate source's ``value`` sequence to order fields with the
    exact expressions of the a08 batch generator."""
    city = F.col("value") % 6
    expr = None
    for i, name in enumerate(CITIES[:-1]):
        expr = F.when(city == i, name) if expr is None else expr.when(city == i, name)
    return df.select(
        F.col("timestamp").alias("ts"),
        (F.col("value") + 1).alias("orderid"),
        ((F.col("value") * 48271) % 1000 + 1).alias("custid"),
        ((F.col("value") * 16807) % 100 + 100).alias("amount"),
        expr.otherwise(CITIES[-1]).alias("city"),
    )


def order_stream_deterministic(
    spark: SparkSession, rows_per_batch: int = 100, num_partitions: int = 4
) -> DataFrame:
    """Deterministic generator for tests: every micro-batch carries
    exactly ``rows_per_batch`` sequential orders."""
    raw = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("numPartitions", num_partitions)
        .option("startTimestamp", 0)
        .load()
    )
    return _order_columns(raw)
