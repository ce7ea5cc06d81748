"""Streaming order generator — the reference's orders-generator loop
(``/root/reference/orders-generator/main.go:81-92``: one random order
every 3 s, custid∈[1,1000], amount∈[100,199], city uniform over six
cities) re-expressed as a Structured Streaming rate source.

:func:`order_stream_deterministic` reads a ``rate-micro-batch`` source
with a fixed ``rowsPerBatch``, so batch boundaries are deterministic
(the plain ``rate`` source's batch sizes depend on wall-clock). Values
are derived from the monotonically increasing ``value`` column by
:func:`order_columns`, the LCG-style integer expressions the batch twin
(``queries/reference.py:a08``) also uses, so a given sequence number
always yields the same order on any executor.

It scales without shuffles: the rate source parallelizes over
``numPartitions`` and every derived column is a per-row projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cdc.envelope import city_of


def order_columns(seq: Column) -> list[Column]:
    """The order fields of sequence number ``seq`` (0-based): the one
    expression set of the batch generator (a08, over ``spark.range``)
    and the streaming one (over the rate source's ``value``)."""
    return [
        (seq + 1).alias("orderid"),
        ((seq * 48271) % 1000 + 1).alias("custid"),
        ((seq * 16807) % 100 + 100).alias("amount"),
        city_of(seq).alias("city"),
    ]


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
    return raw.select(
        F.col("timestamp").alias("ts"), *order_columns(F.col("value"))
    )
