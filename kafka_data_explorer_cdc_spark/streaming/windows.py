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
import shutil
import tempfile
import time
import uuid

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


#: Bounded-replay state sizing for :func:`run_to_memory`: a stateful
#: operator opens one state-store instance PER shuffle partition per
#: operator — a per-partition open/commit cost that dominates
#: wall-clock on a small bounded replay (measured on the stream-stream
#: join at sf0.1: 16 s at 32 partitions → 3 s at 8, identical
#: results). State partitioning is fixed by the first checkpoint, so a
#: long-running stream sizes it to state volume and executor count
#: instead.
REPLAY_STATE_PARTITIONS = 8


def run_to_memory(df: DataFrame, output_mode: str = "append") -> DataFrame:
    """Drain a bounded stream into an in-memory table (test/oracle path)
    and return the drained rows as a frame: trigger availableNow
    processes the whole backlog then stops, with
    ``spark.sql.shuffle.partitions`` pinned to
    :data:`REPLAY_STATE_PARTITIONS` for the query's lifetime.

    The memory sink's temp view is dropped before returning. The frame
    still reads the sink's rows, and they are freed with it, so a sweep
    of many drains does not hold every sink's rows in the driver."""
    spark = df.sparkSession
    name = f"drain_{uuid.uuid4().hex}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(REPLAY_STATE_PARTITIONS))
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    drained = spark.table(name)
    spark.catalog.dropTempView(name)
    return drained


def stage_ordered(out_dir: str, frames: list[tuple[str, DataFrame]]) -> None:
    """Land each ``(file_name, frame)`` of ``frames`` in ``out_dir`` as
    ONE flat parquet file (``out_dir`` must exist), with mtimes 10 s
    apart in list order.

    This is how a bounded replay delivers exactly these frames, one per
    micro-batch and in this order, to a file source read with
    ``maxFilesPerTrigger=1``: the source does not recurse into
    directories, and it orders files by mtime (two writes can land in
    the same clock tick, so the mtimes are set, not left to the
    writes)."""
    now = time.time()
    for i, (fname, df) in enumerate(frames):
        scratch = tempfile.mkdtemp(prefix="_stage_", dir=out_dir)
        try:
            df.coalesce(1).write.mode("overwrite").parquet(scratch)
            part = next(
                p for p in sorted(os.listdir(scratch))
                if p.startswith("part-") and p.endswith(".parquet")
            )
            dest = os.path.join(out_dir, fname)
            os.rename(os.path.join(scratch, part), dest)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        os.utime(dest, (now + 10 * i, now + 10 * i))
