"""Exactly-once APPEND sink for ``foreachBatch``.

``ParquetStateSink`` (pipeline.py) already gives exactly-once for
KEYED state: replaying a batch re-merges the same keys, so duplicates
collapse. Fact/event streams have no key to merge on — an at-least-once
replay of an append batch lands every row twice. The standard upgrade
(what the reference's batched-ingest sink gets from its ingest-dedup
tags, `pg-source-config.json`'s delivery story) is a TRANSACTIONAL
append keyed on the micro-batch id:

- every micro-batch writes to its OWN partition directory
  ``batch_id=N`` via dynamic partition overwrite, so the write is
  atomic-per-batch and self-replacing;
- a crash between the sink write and the checkpoint commit makes
  Structured Streaming replay batch N — which OVERWRITES the partial
  ``batch_id=N`` directory instead of appending next to it;
- readers see at most one copy of every batch: at-least-once delivery
  x idempotent write = effectively exactly-once.

That guarantee holds within ONE checkpoint. Partitions are keyed by
Structured Streaming's batch id, and a fresh checkpoint restarts the
ids at 0, so its batch N replaces the earlier run's ``batch_id=N``
instead of adding to it (batches of 10 and 10 rows, then a restarted
batch 0 of 3 rows, read back 13 rows, not 23). ``out_dir`` must keep
the checkpoint it was written with.

Scale shape: the overwrite touches ONE partition directory per batch
(dynamic mode never lists or rewrites other batches' directories), and
the layout composes with b63's small-file compaction downstream. No
shuffle is added — rows land with whatever partitioning the batch
already has.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class IdempotentBatchSink:
    """``foreachBatch`` callable implementing the batch-id transactional
    append described in the module docstring.

    Usage::

        sink = IdempotentBatchSink(out_dir)
        stream.writeStream.foreachBatch(sink).start()

    Replay safety is testable without a crash harness: calling
    ``sink(df, n)`` twice — even with a partial first write — leaves
    exactly one copy of the final batch (tests/test_streaming.py).
    Pair ``out_dir`` with one checkpoint for its whole life: a stream
    restarted on a fresh checkpoint reuses batch ids and overwrites the
    earlier run's partitions.
    """

    def __init__(self, out_dir: str):
        self.out_dir = out_dir

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        (
            batch.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            # dynamic: replace ONLY the batch_id=N directory this write
            # produces — static mode would truncate the whole table.
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(self.out_dir)
        )
