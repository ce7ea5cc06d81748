"""Streaming soak / latency harness (SURVEY.md §5.3; VERDICT r4 #8).

A long-running CDC stream is only healthy if per-micro-batch latency is
*flat*: any state-size leak (unbounded tombstones, unpruned join
buffers, manifest growth) shows up as a monotone upward latency trend
long before it shows up as an OOM. The reference's pipeline runs
containers indefinitely (``docker-compose.yaml``) with no such probe;
this harness is the missing instrument.

Shape: Spark's ``rate`` source synthesizes an infinite CDC change log
(monotone ``lsn`` = the rate counter, keyspace-cycled ``orderid``, a
deterministic create/update/delete mix) → the same ``foreachBatch``
sink path production uses (:class:`ParquetStateSink`, bucketed
incremental merges) → a timing wrapper records each micro-batch's wall
clock. After N batches the run reports the latency distribution
(p50/p95/max), a least-squares drift slope over the post-warmup
batches, and the final state size.

Why latency MUST plateau here (the invariants the soak verifies, not
assumes): the keyspace cycles, so live state is ≤ ``keyspace`` rows
regardless of run length; tombstones are overwritten when their key
cycles back; the incremental sink reads/rewrites only touched buckets,
so merge input is O(state ∩ touched buckets), not O(history). A
violation of any of these — the leak classes above — breaks the
plateau and fails the drift gate.

Run standalone for the recorded 100-batch numbers::

    python -m kafka_data_explorer_cdc_spark.streaming.soak
"""

from __future__ import annotations

import shutil
import statistics
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import ParquetStateSink

_CITIES = ["Seattle", "New Delhi", "London", "Sao Paulo", "Sydney"]


def cdc_rate_stream(
    spark: SparkSession, rows_per_second: int = 5000, keyspace: int = 500
) -> DataFrame:
    """Rate-source CDC generator: the flat shape ``flatten_after``
    produces (orderid, custid, amount, city, op, lsn), with ``lsn``
    the monotone rate counter — an infinite, deterministic stand-in
    for the Debezium stream (reference ``orders-generator/main.go``
    emits the same endless insert/update/delete mix against Postgres).

    Op mix: every 17th event is a delete; a later event on the same
    cycled key legitimately re-creates it (higher lsn wins), so the
    stream continuously exercises insert, update, delete, AND
    key-resurrection paths of the merge.
    """
    v = F.col("value")
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .select(
            (v % keyspace).alias("orderid"),
            (v % 100).alias("custid"),
            ((v % 10000) / F.lit(100.0)).alias("amount"),
            F.element_at(
                F.array(*[F.lit(c) for c in _CITIES]),
                (v % len(_CITIES) + 1).cast("int"),
            ).alias("city"),
            F.when(v % 17 == 5, F.lit("d")).otherwise(F.lit("u")).alias("op"),
            (v + 1).alias("lsn"),
        )
    )


class TimedSink:
    """Wraps any sink with ``apply_batch(batch, batch_id)``, recording per-batch wall-clock
    and row count. The count is taken on the raw batch before the merge
    (rate-source recompute is trivial); timing covers ONLY the inner
    sink's work, so the gate measures the merge path, not the probe."""

    def __init__(self, inner):
        self.inner = inner
        self.records: list[dict] = []

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        n = batch.count()
        t0 = time.monotonic()
        self.inner.apply_batch(batch, batch_id)
        self.records.append(
            {
                "batch_id": batch_id,
                "rows": n,
                "seconds": time.monotonic() - t0,
            }
        )


def _drift_slope(xs: list[float], ys: list[float]) -> float:
    """Least-squares slope (sec per batch) — the leak detector."""
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    den = sum((x - mx) ** 2 for x in xs)
    if den == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / den


def run_soak(
    spark: SparkSession,
    state_root: str,
    checkpoint_dir: str,
    n_batches: int = 100,
    rows_per_second: int = 5000,
    keyspace: int = 500,
    n_buckets: int = 8,
    warmup_batches: int = 5,
    vacuum_every: int | None = 20,
    timeout_seconds: float = 600.0,
) -> dict:
    """Run the rate-source CDC pipeline for ``n_batches`` micro-batches
    and return the latency/leak report.

    ``vacuum_every``: call :meth:`ParquetStateSink.vacuum` every that
    many batches (retaining the last 10 versions) — the disk-side twin
    of the latency gate; without it a soak run's version history grows
    linearly with batches even though live state is bounded.
    """
    sink = ParquetStateSink(
        spark,
        state_root,
        ["orderid"],
        n_buckets=n_buckets,
        tombstone_gc_lsn_lag=rows_per_second * 60,
    )
    timed = TimedSink(sink)

    def apply(batch: DataFrame, batch_id: int) -> None:
        timed.apply_batch(batch, batch_id)
        if vacuum_every and batch_id > 0 and batch_id % vacuum_every == 0:
            sink.vacuum(retain_last=10)

    q = (
        cdc_rate_stream(spark, rows_per_second, keyspace)
        .writeStream.option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="0 seconds")
        .foreachBatch(apply)
        .start()
    )
    try:
        deadline = time.monotonic() + timeout_seconds
        while len(timed.records) < n_batches:
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"soak produced only {len(timed.records)}/{n_batches} "
                    f"batches in {timeout_seconds}s"
                )
            if not q.isActive:
                raise RuntimeError(f"soak query died: {q.exception()}")
            time.sleep(0.1)
    finally:
        q.stop()

    recs = timed.records[:n_batches]
    post = [r for r in recs[warmup_batches:] if r["rows"] > 0]
    lat = sorted(r["seconds"] for r in post)
    third = max(1, len(post) // 3)
    first_med = statistics.median(r["seconds"] for r in post[:third])
    last_med = statistics.median(r["seconds"] for r in post[-third:])
    slope = _drift_slope(
        [float(r["batch_id"]) for r in post], [r["seconds"] for r in post]
    )
    cur = sink.current()
    state_rows = cur.count() if cur is not None else 0
    return {
        "n_batches": len(recs),
        "rows_total": sum(r["rows"] for r in recs),
        "p50_s": lat[len(lat) // 2],
        "p95_s": lat[min(len(lat) - 1, int(len(lat) * 0.95))],
        "max_s": lat[-1],
        "first_third_median_s": first_med,
        "last_third_median_s": last_med,
        "drift_slope_s_per_batch": slope,
        "projected_drift_over_run_s": slope * len(post),
        "state_rows": state_rows,
        "retained_versions": len(sink.versions()),
        "records": recs,
    }


def main() -> None:  # pragma: no cover - recorded-run entry point
    from ..session import get_spark

    spark = get_spark()
    state = tempfile.mkdtemp(prefix="soak_state_")
    ckpt = tempfile.mkdtemp(prefix="soak_ckpt_")
    try:
        rep = run_soak(spark, state, ckpt, n_batches=100)
        rep.pop("records")
        import json

        print(json.dumps(rep, indent=2))
    finally:
        shutil.rmtree(state, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


if __name__ == "__main__":  # pragma: no cover
    main()
