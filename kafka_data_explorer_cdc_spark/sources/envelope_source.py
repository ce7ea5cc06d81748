"""A first-class CDC-envelope *connector* via Spark 4's Python Data
Source API — the reference's source-connector role (Debezium→Kafka,
`pg-source-config.json`) as a pluggable Spark source instead of a
loader helper.

``spark.dataSource.register(CdcEnvelopeDataSource)`` then::

    spark.read.format("cdc_envelopes").load(dir)        # batch
    spark.readStream.format("cdc_envelopes").load(dir)  # tail the "topic"

Schema mirrors a Kafka topic dump plus provenance metadata columns
(the connector equivalent of Kafka's partition/offset columns):
``value`` (the envelope JSON line), ``src_file``, ``line_no``. The
stream is a raw transport like the Kafka reader: pass it to
``start_cdc_pipeline(source=...)``, which decodes it (parse → unwrap →
merge, malformed lines dead-lettered) as it does every transport.

Scale/execution design:

- **batch**: one ``InputPartition`` per file — files scan in parallel
  across executors, no driver materialization; rows stream out of a
  generator (never a list).
- **streaming**: a partition-based
  :class:`DataSourceStreamReader` whose offset is ``{"files_done": n}``
  over the sorted file list. ``partitions(start, end)`` plans one
  ``InputPartition`` per newly-arrived file and ``read`` runs in
  executor tasks — the micro-batch scan parallelizes exactly like the
  batch reader, so throughput scales with the cluster, not with one
  driver Python process. New files appended to the directory are
  picked up next micro-batch — the Kafka-tail semantics the file
  replay models. Offsets commit through the normal checkpoint, so
  restart/replay goes through the sink's idempotent merge like any
  other source.

Immutable-file contract: the tail reader trusts ``os.listdir`` — a
file is consumed whole the first micro-batch it is visible, so
writers must publish files atomically (write to a ``.``/``_``-prefixed
temp name, then rename — both prefixes are ignored while in flight).

(The Python worker boundary costs one serialization hop vs the JVM
text source — this connector is the *extensibility* story: the same
API shape would wrap a REST paginator, a proprietary binlog, or any
system without a JVM connector.)
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

SCHEMA = "value string, src_file string, line_no bigint"


def _list_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for f in os.listdir(path):
        full = os.path.join(path, f)
        if not f.startswith(("_", ".")) and os.path.isfile(full):
            out.append(full)
    return sorted(out)


def _read_lines(path: str) -> Iterator[tuple]:
    with open(path, encoding="utf-8") as f:
        for i, line in enumerate(f):
            line = line.rstrip("\n")
            if line:
                yield (line, os.path.basename(path), i)


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class CdcEnvelopeBatchReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("cdc_envelopes: .load(path) is required")

    def partitions(self):
        return [_FilePartition(p) for p in _list_files(self.path)]

    def read(self, partition: _FilePartition):
        yield from _read_lines(partition.path)


class CdcEnvelopePartitionStreamReader(DataSourceStreamReader):
    """Executor-parallel tail (the streaming path): offsets are
    positions in the sorted file list; each micro-batch plans one
    :class:`InputPartition` per newly-arrived file, and ``read`` runs
    in executor tasks — no driver-side row materialization, so the
    micro-batch scan parallelizes like the batch reader. File paths
    must be executor-visible (shared storage on a real cluster — the
    same contract as every file-based Spark source)."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("cdc_envelopes: .load(path) is required")

    def initialOffset(self) -> dict:
        return {"files_done": 0}

    def latestOffset(self) -> dict:
        return {"files_done": len(_list_files(self.path))}

    def partitions(self, start: dict, end: dict):
        files = _list_files(self.path)
        return [
            _FilePartition(p)
            for p in files[start["files_done"]: end["files_done"]]
        ]

    def read(self, partition: _FilePartition):
        yield from _read_lines(partition.path)

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up: source files are immutable


class CdcEnvelopeDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "cdc_envelopes"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema):
        return CdcEnvelopeBatchReader(self.options)

    def streamReader(self, schema):
        return CdcEnvelopePartitionStreamReader(self.options)


def register(spark) -> None:
    """Idempotent registration of the connector on a session."""
    spark.dataSource.register(CdcEnvelopeDataSource)
