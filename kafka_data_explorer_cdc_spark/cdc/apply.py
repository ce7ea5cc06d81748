"""CDC apply: latest-state materialization and SCD2 history.

The reference's sink is at-least-once (Connect offset topics,
``docker-compose.yaml:35-37``) and append-only — ADX receives every
change event. Materializing "current state of the source table" from a
CDC log is the canonical downstream task (SURVEY.md §2A A12):

- total order within a key comes from ``lsn`` (``README.md:284-286``)
- ``op='d'`` tombstones the key; ``before``-image carries the key
- at-least-once duplicates (same ``lsn`` replayed) must collapse

Spark-first: a single ``row_number()`` window over ``(key ORDER BY lsn
DESC)`` — one shuffle on the key, no driver-side state, arbitrarily
partitionable ⇒ scales to 100 TB of change log. The same window is
the arbitration of the incremental merge: ``ParquetStateSink`` in
``streaming/pipeline.py`` applies each micro-batch by calling
:func:`latest_state` over the touched buckets plus the batch, keeping
tombstones. The CDC tests check that sink against a pure-Python replay
of the log (``cdc/generator.expected_final_state``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_state(
    changes: DataFrame,
    key_cols: list[str],
    seq_col: str = "lsn",
    op_col: str = "op",
    delete_op: str = "d",
    keep_deletes: bool = False,
) -> DataFrame:
    """Collapse a CDC change log to current state.

    ``changes`` must carry one row per change event with a flat
    after-image, the key columns, a monotone sequence column, and the op
    code. Duplicate (key, seq) deliveries collapse automatically because
    ``row_number`` picks exactly one row per key. With
    ``keep_deletes=True`` the winning tombstones survive (needed when
    compacting a micro-batch that must still delete from prior state).

    Ties on ``seq_col`` break deterministically on the op code (desc:
    u > d > c). A real WAL never assigns one lsn to two distinct events
    for a key — ties only arise from at-least-once redelivery, where the
    rows are identical and any pick is right — but a deterministic order
    keeps the winner stable across plans/partitionings regardless.
    """
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(seq_col).desc(), F.col(op_col).desc()
    )
    out = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if not keep_deletes:
        out = out.filter(F.col(op_col) != delete_op)
    return out


def scd2_history(
    changes: DataFrame,
    key_cols: list[str],
    seq_col: str = "lsn",
    op_col: str = "op",
    delete_op: str = "d",
) -> DataFrame:
    """Type-2 slowly-changing-dimension view of a CDC log: one row per
    version of each key, with ``valid_from``/``valid_to`` sequence
    bounds and ``is_current``.

    Each change event opens a version valid from its own sequence
    number until the key's next event (``lead`` over the key window);
    the newest non-delete version per key is current; delete events
    close the prior version but contribute no row themselves. One
    window shuffle on the key — the same scale shape as latest_state
    (SURVEY.md §2A A12 extended to full history, the standard warehouse
    materialization of a Debezium stream).
    """
    w = Window.partitionBy(*key_cols).orderBy(F.col(seq_col).asc())
    versioned = changes.withColumn(
        "valid_to", F.lead(F.col(seq_col)).over(w)
    ).withColumn(
        "is_current",
        (F.col("valid_to").isNull()) & (F.col(op_col) != delete_op),
    )
    return (
        versioned.filter(F.col(op_col) != delete_op)
        .withColumnRenamed(seq_col, "valid_from")
    )
