"""Loader robustness tests — the round-3 events-ts postmortem gate.

Round 3 shipped a loader that hardcoded the events.ts physical unit as
TIMESTAMP(NANOS); when the testdata regenerated as timestamp[us] every
event silently landed in January 1970 and 11 queries went wrong. These
tests make the next unit change fail loudly:

- an invariant on the real testdata (loaded min(ts) is a plausible year),
- a chaos fixture written in each of ns / us / ms / s physical units that
  must all load to IDENTICAL timestamps, in batch and as a file stream.
"""

from __future__ import annotations

import datetime
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from kafka_data_explorer_cdc_spark.io import load, _load_events
from kafka_data_explorer_cdc_spark.streaming.windows import (
    read_events_stream,
    run_to_memory,
)


def test_events_ts_year_invariant(spark, sf_dir):
    """Loaded events must live in plausible event-time, not 1970."""
    row = (
        load(spark, sf_dir, "events")
        .select(
            F.year(F.min("ts")).alias("min_year"),
            F.year(F.max("ts")).alias("max_year"),
        )
        .collect()[0]
    )
    assert row.min_year >= 2020, f"events.ts decoded to {row.min_year} — unit bug"
    assert row.max_year <= 2100


# Second-precision instants so every unit (s/ms/us/ns) represents them exactly.
_INSTANTS = [
    datetime.datetime(2024, 1, 1, 0, 0, 7),
    datetime.datetime(2024, 1, 15, 12, 30, 0),
    datetime.datetime(2024, 1, 30, 23, 59, 59),
]


def _write_fixture(tmp_path, unit: str, as_int64: bool) -> str:
    epoch = datetime.datetime(1970, 1, 1)
    scale = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[unit]
    vals = [int((t - epoch).total_seconds()) * scale for t in _INSTANTS]
    ts_arr = (
        pa.array(vals, type=pa.int64())
        if as_int64
        else pa.array(vals, type=pa.timestamp(unit)).cast(pa.timestamp(unit))
    )
    # pa.array of raw ints with timestamp type: construct via cast from int64
    if not as_int64:
        ts_arr = pa.array(vals, type=pa.int64()).cast(pa.timestamp(unit))
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], type=pa.int64()),
            "ts": ts_arr,
            "user_id": pa.array([10, 20, 30], type=pa.int64()),
            "event_type": pa.array(["a", "b", "c"]),
            "value": pa.array([1.0, 2.0, 3.0]),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    path = str(tmp_path / f"events_{unit}_{'int' if as_int64 else 'ts'}.parquet")
    pq.write_table(table, path)
    return path


_ENCODINGS = [
    ("ms", False),
    ("us", False),
    ("ns", False),
    ("s", True),
    ("ms", True),
    ("us", True),
    ("ns", True),
]


@pytest.mark.parametrize(
    "unit,as_int64,stream",
    [
        pytest.param(unit, as_int64, stream, id=f"{unit}-{as_int64}" + "-stream" * stream)
        for stream in (False, True)
        for unit, as_int64 in _ENCODINGS
    ],
)
def test_events_loader_unit_chaos(spark, tmp_path, unit, as_int64, stream):
    """Every physical encoding of the same instants loads identically,
    through the batch loader and through the file stream."""
    path = _write_fixture(tmp_path, unit, as_int64)
    if stream:
        name = f"chaos_{unit}_{int(as_int64)}_{uuid.uuid4().hex[:8]}"
        run_to_memory(read_events_stream(spark, path), name)
        events = spark.table(name)
    else:
        events = _load_events(spark.read, path)
    got = sorted(r.ts for r in events.select("ts").collect())
    assert got == _INSTANTS, f"unit={unit} int64={as_int64}: {got}"


def test_events_loader_int64_directory(spark, tmp_path):
    """A raw-int64 events DIRECTORY (not a single file) must load: the
    footer probes (arrow type + divisor inference) both need the resolved
    member file, not the directory path (ADVICE r4)."""
    d = tmp_path / "events.parquet"
    d.mkdir()
    src = _write_fixture(tmp_path, "ns", True)
    import shutil

    shutil.copy(src, str(d / "part-0.parquet"))
    got = sorted(r.ts for r in _load_events(spark.read, str(d)).select("ts").collect())
    assert got == _INSTANTS


def test_ts_guard_revalidates_after_failure(spark, tmp_path):
    """A caught-and-retried failing load must fail AGAIN — the guard may
    only cache success, otherwise the retry silently reads garbage dates
    (ADVICE r4)."""
    src = pq.read_table("/root/testdata/sf0.001/orders.parquet")
    idx = src.schema.get_field_index("o_orderdate")
    ns = src.set_column(
        idx, "o_orderdate", src.column("o_orderdate").cast(pa.timestamp("ns"))
    )
    d = tmp_path / "sfy"
    d.mkdir()
    pq.write_table(ns, str(d / "orders.parquet"))
    for _ in range(2):
        with pytest.raises(ValueError, match="o_orderdate"):
            load(spark, str(d), "orders").collect()


def test_non_events_tables_reject_exotic_timestamp_units(spark, tmp_path):
    """orders/lineitem rely on Spark's native s/ms/us conversion; a
    regeneration to ns (or raw int64) must raise with the column named,
    not silently load garbage dates (the round-3 failure mode)."""
    src = pq.read_table("/root/testdata/sf0.001/orders.parquet")
    idx = src.schema.get_field_index("o_orderdate")
    ns = src.set_column(
        idx, "o_orderdate", src.column("o_orderdate").cast(pa.timestamp("ns"))
    )
    d = tmp_path / "sfx"
    d.mkdir()
    pq.write_table(ns, str(d / "orders.parquet"))
    with pytest.raises(ValueError, match="o_orderdate"):
        load(spark, str(d), "orders").collect()
