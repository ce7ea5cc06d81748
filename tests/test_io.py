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
        events = run_to_memory(read_events_stream(spark, path))
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


# -- io.derived: the write-once store for derived layouts


@pytest.fixture
def store(tmp_path, monkeypatch):
    """A private temp dir for ``io.derived`` and a one-table SF dir
    holding a copy of ``orders``."""
    import tempfile

    cache = tmp_path / "cache"
    cache.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(cache))
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(
        pq.read_table("/root/testdata/sf0.001/orders.parquet"),
        str(sf / "orders.parquet"),
    )
    return cache, sf


def _a20_rows(tbl: pa.Table) -> int:
    keys = tbl.column("o_orderkey").to_pylist()
    return sum(1 for k in keys if k % 4 in (1, 2))


def test_derived_rebuilds_when_source_changes(spark, store):
    """A rewritten source file gets a new directory, and the entries
    built on the store serve the new rows, not the old derivation."""
    from kafka_data_explorer_cdc_spark.io import derived
    from kafka_data_explorer_cdc_spark.queries.reference import (
        a20_schema_evolution_ingest,
    )
    from kafka_data_explorer_cdc_spark.queries.streaming_q import _change_log_dir

    _, sf = store
    src = str(sf / "orders.parquet")

    def n_inserts(d: str) -> int:
        with open(f"{d}/0_inserts.txt") as fh:
            return sum(1 for _ in fh)

    def built(d: str) -> None:
        with open(f"{d}/rows", "w") as fh:
            fh.write(str(pq.read_metadata(src).num_rows))

    full = pq.read_table(src)
    d1 = derived("t", src, built)
    assert a20_schema_evolution_ingest(spark, str(sf)).count() == _a20_rows(full)
    assert n_inserts(_change_log_dir(spark, str(sf))) == full.num_rows

    half = full.slice(0, full.num_rows // 2)
    pq.write_table(half, src)
    d2 = derived("t", src, built)
    assert d2 != d1
    assert open(f"{d2}/rows").read() == str(half.num_rows)
    assert a20_schema_evolution_ingest(spark, str(sf)).count() == _a20_rows(half)
    assert n_inserts(_change_log_dir(spark, str(sf))) == half.num_rows


def test_derived_failed_build_publishes_nothing(spark, store, monkeypatch):
    """A build that raises leaves no directory behind, and the next call
    builds again: b48 must recover after its JSON copy failed once."""
    from pyspark.sql.readwriter import DataFrameWriter

    from kafka_data_explorer_cdc_spark.io import derived
    from kafka_data_explorer_cdc_spark.queries.relational import (
        b48_multiformat_scan,
    )

    cache, sf = store
    src = str(sf / "orders.parquet")

    def boom(d: str) -> None:
        open(f"{d}/partial", "w").close()
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        derived("t", src, boom)
    assert list(cache.iterdir()) == []
    d = derived("t", src, lambda d: open(f"{d}/ok", "w").close())
    assert sorted(p.name for p in cache.iterdir()) == [d.rsplit("/", 1)[1]]

    with monkeypatch.context() as m:
        def no_json(self, path, *a, **k):
            raise RuntimeError("json write failed")

        m.setattr(DataFrameWriter, "json", no_json)
        with pytest.raises(RuntimeError, match="json write failed"):
            b48_multiformat_scan(spark, str(sf))
    n = pq.read_metadata(src).num_rows
    got = {r["fmt"]: r["n_rows"] for r in b48_multiformat_scan(spark, str(sf)).collect()}
    assert got == {"parquet": n, "csv": n, "json": n}


def test_derived_reuses_published_dir(spark, store, sf_dir):
    """A second call returns the published directory as it is, without
    calling ``build``; the shared s29/s30 change log is not rewritten."""
    import os

    from kafka_data_explorer_cdc_spark.io import derived
    from kafka_data_explorer_cdc_spark.queries.streaming_q import _change_log_dir

    _, sf = store
    src = str(sf / "orders.parquet")
    calls = []

    def build(d: str) -> None:
        calls.append(d)
        open(f"{d}/ok", "w").close()

    d1 = derived("t", src, build)
    assert derived("t", src, build) == d1
    assert len(calls) == 1 and os.listdir(d1) == ["ok"]

    c1 = _change_log_dir(spark, sf_dir)
    stamp = {f: os.path.getmtime(os.path.join(c1, f)) for f in sorted(os.listdir(c1))}
    assert _change_log_dir(spark, sf_dir) == c1
    assert {
        f: os.path.getmtime(os.path.join(c1, f)) for f in sorted(os.listdir(c1))
    } == stamp


def test_derived_concurrent_publisher_wins(store):
    """If another builder publishes first, this build's copy is dropped
    and the published directory returned."""
    import os

    from kafka_data_explorer_cdc_spark.io import derived

    cache, sf = store

    def build(d: str) -> None:
        open(f"{d}/mine", "w").close()
        # the key is the temp name without its leading dot and random suffix
        other = os.path.join(cache, os.path.basename(d)[1:].rsplit(".", 1)[0])
        os.mkdir(other)
        open(f"{other}/theirs", "w").close()

    d = derived("t", str(sf / "orders.parquet"), build)
    assert os.listdir(d) == ["theirs"]
    assert [p.name for p in cache.iterdir()] == [os.path.basename(d)]
