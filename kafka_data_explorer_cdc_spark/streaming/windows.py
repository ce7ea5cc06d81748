"""Streaming windowed aggregation, watermarking, and dedup (B21-B23).

These share their plan fragments with the batch twins in
``queries/relational.py`` (b21/b21b) — Structured Streaming runs the
same Catalyst plan incrementally with state in the state store. The
watermark bounds that state: windows older than (max event time − delay)
are finalized and evicted, which is what makes hours-long streams over
100 TB/day of events possible with constant memory.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

from ..io import _load_events


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-based events stream with the ts unit sniffed from the parquet
    footer — the batch loader's decode (``io._load_events``) through
    ``spark.readStream``, so streaming and batch agree to the
    microsecond whatever physical unit the testdata was generated with
    (round-3 postmortem: a hardcoded unit silently relocated every event
    to 1970).

    Spark's FileStreamSource requires a *directory* to monitor; the
    driver testdata ships single parquet files, so a plain file is
    symlinked into a temp dir first (local-mode test path only — on a
    cluster the source is a directory or a Kafka topic).
    """
    if os.path.isfile(path):
        d = tempfile.mkdtemp(prefix="events_stream_")
        os.symlink(path, os.path.join(d, os.path.basename(path)))
        path = d
    return _load_events(spark.readStream, path)


def streaming_dedup(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup on event_id. The watermark lets the state
    store evict ids older than the horizon — unbounded streams, bounded
    state (B23)."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


#: Bounded-replay state sizing for the registry/test path: a stateful
#: operator opens one state-store instance PER shuffle partition per
#: operator — a per-partition open/commit cost that dominates
#: wall-clock on a small bounded replay (measured on the stream-stream
#: join at sf0.1: 16 s at 32 partitions → 3 s at 8, identical
#: results). Registry entries pass this EXPLICITLY; the function
#: default is cluster parallelism so the scale path is the default
#: path (round-10 verdict: s51's automaton at 20× volume was bound by
#: the old pinned 8-way state parallelism).
REPLAY_STATE_PARTITIONS = 8


def run_to_memory(
    df: DataFrame,
    table_name: str,
    output_mode: str = "append",
    state_partitions: int | None = None,
) -> None:
    """Drain a bounded stream into an in-memory table (test/oracle path):
    trigger availableNow processes the whole backlog then stops.

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for the
    query's lifetime (restored after). State partitioning is fixed by
    the first checkpoint, so this is a per-query sizing decision, not
    a tuning afterthought: size it to state volume and executor count.
    Default (None) = ``sparkContext.defaultParallelism`` — every core
    runs a state store, the sizing a real cluster wants. Small bounded
    replays (this repo's registry/tests) pass
    :data:`REPLAY_STATE_PARTITIONS` explicitly because per-partition
    store open/commit overhead dominates their tiny state volumes."""
    spark = df.sparkSession
    if state_partitions is None:
        state_partitions = spark.sparkContext.defaultParallelism
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(table_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
