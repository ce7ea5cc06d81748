"""Streaming semantic tests (SURVEY.md §5.3): watermark late-data
behavior, at-least-once replay idempotence through the streaming CDC
pipeline, and checkpoint-restart recovery — the behaviors the DuckDB
oracle cannot observe."""

from __future__ import annotations

import json
import os
import tempfile
import time
import uuid

import pytest
from pyspark.sql import functions as F

from kafka_data_explorer_cdc_spark.cdc.generator import (
    expected_final_state,
    generate_change_log,
)
from kafka_data_explorer_cdc_spark.streaming.pipeline import (
    ParquetStateSink,
    start_cdc_pipeline,
)
from kafka_data_explorer_cdc_spark.streaming.windows import (
    run_to_memory,
    streaming_dedup,
)


def _tmp(prefix):
    return tempfile.mkdtemp(prefix=prefix)


EVENTS_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def test_watermark_drops_late_rows_in_windowed_agg(spark):
    """Three micro-batches (maxFilesPerTrigger=1): the last contains a
    row 20 minutes older than batch 1's max event time. With a
    10-minute watermark the windowed aggregation must discard it —
    observable both in the output windows and in the
    numRowsDroppedByWatermark metric.

    Spark ≥3.4 watermark semantics (SPARK-40925, multiple-stateful-
    operator support): late events are filtered against the PREVIOUS
    micro-batch's watermark, while state eviction uses the current one.
    A late row therefore needs the watermark to have advanced one full
    batch *before* the batch that carries it — hence three batches here,
    with the late row alone in the last.

    (Note ``dropDuplicates``+watermark does NOT filter late rows — the
    watermark there only bounds state eviction; late-row discard is an
    aggregation/window semantic.)"""
    indir = _tmp("wm_in_")
    sch = "event_id long, ts string, user_id long, event_type string, value double, props string"

    def mk(rows):
        return spark.createDataFrame(rows, sch).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    batches = [
        mk([(i, "2024-01-01 12:00:00", 1, "view", 1.0, "{}") for i in range(10)]),
        mk([(101, "2024-01-01 12:01:00", 1, "fresh", 1.0, "{}")]),
        mk([(100, "2024-01-01 11:40:00", 1, "late", 1.0, "{}")]),  # 20 min late
    ]
    # file source orders by modification time; force b0 < b1 < b2
    now = time.time()
    for i, b in enumerate(batches):
        p = os.path.join(indir, f"b{i}")
        b.coalesce(1).write.parquet(p)
        t = now - 300 + i * 100
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (t, t))

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(indir + "/*")
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("win_start"), "event_type", "n")
    )
    name = f"wm_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    types = {r["event_type"] for r in spark.table(name).collect()}
    assert "fresh" in types and "view" in types
    assert "late" not in types, "row behind the watermark must be discarded"
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    assert dropped >= 1, "metric must record the watermark-dropped row"


def test_streaming_dedup_collapses_duplicates(spark):
    """dropDuplicates within the watermark horizon: the same event_ids
    delivered twice in one stream yield exactly one output row each;
    the drained frame outlives the memory sink's dropped temp view."""
    indir = _tmp("dd_in_")
    rows = [(i, "2024-01-01 12:00:00", 1, "view", 1.0, "{}") for i in range(25)]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.parquet(os.path.join(indir, "a"))
    df.coalesce(1).write.parquet(os.path.join(indir, "b"))
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(indir + "/*")
    out = run_to_memory(streaming_dedup(stream, watermark="10 minutes"))
    assert not [t for t in spark.catalog.listTables() if t.name.startswith("drain_")]
    assert out.count() == 25
    assert out.select("event_id").distinct().count() == 25


@pytest.fixture(scope="module")
def cdc_stream_setup(spark):
    log = generate_change_log(n_keys=40, n_ops=200, seed=7)
    indir = _tmp("cdcs_in_")
    # two files -> two (or more) micro-batches under maxFilesPerTrigger
    half = len(log) // 2
    for i, chunk in enumerate([log[:half], log[half:]]):
        with open(os.path.join(indir, f"part{i}.jsonl"), "w") as f:
            for env in chunk:
                f.write(json.dumps(env) + "\n")
    return log, indir


def test_streaming_cdc_pipeline_end_to_end(spark, cdc_stream_setup):
    log, indir = cdc_stream_setup
    state, ckpt = _tmp("cdcs_state_"), _tmp("cdcs_ckpt_")
    q = start_cdc_pipeline(spark, indir, state, ckpt, available_now=True)
    q.awaitTermination()
    final = ParquetStateSink(spark, state, ["orderid"]).current()
    got = {
        r["orderid"]: (r["custid"], r["amount"], r["city"])
        for r in final.collect()
    }
    want = {
        k: (v["custid"], v["amount"], v["city"])
        for k, v in expected_final_state(log).items()
    }
    assert got == want


def test_streaming_cdc_replay_is_idempotent(spark, cdc_stream_setup):
    """Re-running the whole stream with a FRESH checkpoint against the
    existing state (i.e., every event redelivered) must not change the
    final state — the at-least-once → exactly-once upgrade."""
    log, indir = cdc_stream_setup
    state, ckpt1, ckpt2 = _tmp("cdcr_state_"), _tmp("cdcr_c1_"), _tmp("cdcr_c2_")
    for ckpt in (ckpt1, ckpt2):
        q = start_cdc_pipeline(spark, indir, state, ckpt, available_now=True)
        q.awaitTermination()
    final = ParquetStateSink(spark, state, ["orderid"]).current()
    got = {
        r["orderid"]: (r["custid"], r["amount"], r["city"])
        for r in final.collect()
    }
    want = {
        k: (v["custid"], v["amount"], v["city"])
        for k, v in expected_final_state(log).items()
    }
    assert got == want


def test_streaming_cdc_checkpoint_resume(spark, cdc_stream_setup):
    """Same checkpoint, second run after new data arrives: only the new
    file is processed (offsets resume), and state reflects the union."""
    log, indir = cdc_stream_setup
    state, ckpt = _tmp("cdcx_state_"), _tmp("cdcx_ckpt_")
    q = start_cdc_pipeline(spark, indir, state, ckpt, available_now=True)
    q.awaitTermination()
    # new change: delete one surviving key via a fresh envelope file
    survivors = expected_final_state(log)
    victim = sorted(survivors)[0]
    max_lsn = max(e["payload"]["source"]["lsn"] for e in log)
    delete_env = {
        "payload": {
            "before": survivors[victim],
            "after": None,
            "source": {"table": "orders_info", "lsn": max_lsn + 1, "txId": 1,
                       "ts_ms": 0, "version": "x", "connector": "postgresql",
                       "name": "myserver", "snapshot": "false", "db": "postgres",
                       "schema": "inventory", "xmin": None},
            "op": "d",
            "ts_ms": 0,
            "transaction": None,
        }
    }
    with open(os.path.join(indir, "part_late.jsonl"), "w") as f:
        f.write(json.dumps(delete_env) + "\n")
    q = start_cdc_pipeline(spark, indir, state, ckpt, available_now=True)
    q.awaitTermination()
    final = ParquetStateSink(spark, state, ["orderid"]).current()
    keys = {r["orderid"] for r in final.collect()}
    assert victim not in keys
    assert keys == set(survivors) - {victim}


def test_rate_micro_batch_generator_matches_batch_twin(spark):
    """The streaming generator (A8's streaming twin) must emit exactly
    the rows the seeded batch generator produces for the same sequence
    numbers — generator parity across batch and streaming."""
    from kafka_data_explorer_cdc_spark.queries.reference import a08_order_generator
    from kafka_data_explorer_cdc_spark.streaming.generator import (
        order_stream_deterministic,
    )

    name = f"gen_{uuid.uuid4().hex[:8]}"
    q = (
        order_stream_deterministic(spark, rows_per_batch=500)
        .drop("ts")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {tuple(r) for r in spark.table(name).collect()}
    assert len(got) == 500
    want = {
        tuple(r)
        for r in a08_order_generator(spark, "unused").limit(500).collect()
    }
    assert got == want


def test_apply_in_pandas_with_state_running_counts(spark):
    """Custom stateful operator (applyInPandasWithState): two micro-
    batches of per-user events; after the run, the LAST emission per
    user must equal the global (count, sum) over both batches — state
    survived across batches and merged correctly."""
    from kafka_data_explorer_cdc_spark.streaming.stateful import (
        stateful_running_counts,
    )

    indir = _tmp("st_in_")
    sch = "event_id long, ts string, user_id long, event_type string, value double, props string"
    rows1 = [(i, "2024-01-01 12:00:00", i % 3, "view", 1.5, "{}") for i in range(30)]
    rows2 = [(100 + i, "2024-01-01 12:05:00", i % 3, "view", 2.0, "{}") for i in range(15)]
    now = time.time()
    for j, rows in enumerate([rows1, rows2]):
        df = spark.createDataFrame(rows, sch).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        p = os.path.join(indir, f"b{j}")
        df.coalesce(1).write.parquet(p)
        t = now - 200 + j * 100
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (t, t))

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(indir + "/*")
    )
    name = f"st_{uuid.uuid4().hex[:8]}"
    q = (
        stateful_running_counts(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name).toPandas()
    # final emission per user = last occurrence in the appended memory table
    final = out.groupby("user_id").last()
    assert sorted(final.index) == [0, 1, 2]
    for uid in (0, 1, 2):
        n1 = sum(1 for r in rows1 if r[2] == uid)
        n2 = sum(1 for r in rows2 if r[2] == uid)
        assert final.loc[uid, "n_events"] == n1 + n2
        assert abs(final.loc[uid, "total_value"] - (n1 * 1.5 + n2 * 2.0)) < 1e-9


def test_state_sink_time_travel(spark, cdc_stream_setup):
    """Each micro-batch leaves an immutable state version; time travel
    must show monotonically growing key coverage and the last version
    must equal current()."""
    from kafka_data_explorer_cdc_spark.streaming.pipeline import (
        ParquetStateSink,
        start_cdc_pipeline,
    )

    log, indir = cdc_stream_setup
    state, ckpt = _tmp("tt_state_"), _tmp("tt_ckpt_")
    q = start_cdc_pipeline(spark, indir, state, ckpt, available_now=True)
    q.awaitTermination()
    sink = ParquetStateSink(spark, state, ["orderid"])
    vs = sink.versions()
    assert len(vs) >= 1
    last = sink.at_version(vs[-1])
    cur = sink.current()
    assert sorted(r["orderid"] for r in last.collect()) == sorted(
        r["orderid"] for r in cur.collect()
    )


def test_state_sink_merge_is_incremental(spark, cdc_stream_setup):
    """Merge cost must scale with the micro-batch, not total state: a
    follow-up batch touching ONE key rewrites only that key's hash
    bucket — every other bucket stays at its old version (manifest
    pointers unchanged, old files untouched on disk)."""
    log, indir = cdc_stream_setup
    state, ckpt = _tmp("inc_state_"), _tmp("inc_ckpt_")
    # 16 buckets whatever the core count, so the fixture spreads over
    # several of them
    sink = ParquetStateSink(spark, state, ["orderid"], n_buckets=16)
    q = start_cdc_pipeline(spark, indir, state, ckpt, available_now=True, sink=sink)
    q.awaitTermination()
    m0 = sink._manifest()
    assert len(m0["buckets"]) > 1, "fixture must populate several buckets"

    survivors = expected_final_state(log)
    victim = sorted(survivors)[0]
    # strictly above any lsn the SHARED module indir may carry — the
    # checkpoint-resume test appends a delete of this same victim at
    # max_lsn + 1, and an equal-lsn update would tie with its tombstone
    max_lsn = max(e["payload"]["source"]["lsn"] for e in log) + 10
    update_env = {
        "payload": {
            "before": None,
            "after": dict(survivors[victim], amount=99999),
            "source": {"table": "orders_info", "lsn": max_lsn + 1, "txId": 1,
                       "ts_ms": 0, "version": "x", "connector": "postgresql",
                       "name": "myserver", "snapshot": "false", "db": "postgres",
                       "schema": "inventory", "xmin": None},
            "op": "u",
            "ts_ms": 0,
            "transaction": None,
        }
    }
    with open(os.path.join(indir, "part_update.jsonl"), "w") as f:
        f.write(json.dumps(update_env) + "\n")
    q = start_cdc_pipeline(spark, indir, state, ckpt, available_now=True, sink=sink)
    q.awaitTermination()

    m1 = sink._manifest()
    changed = {b for b in m1["buckets"] if m1["buckets"][b] != m0["buckets"].get(b)}
    assert len(changed) == 1, f"one-key batch must rewrite one bucket: {changed}"
    # and the state is still exactly right
    final = {r["orderid"]: r["amount"] for r in sink.current().collect()}
    assert final[victim] == 99999
    assert set(final) == set(survivors)


def test_max_files_per_trigger_bounds_batches(spark):
    """Size-bound parity with the reference's flush.size.bytes
    (adx-sink-config.json:5): with maxFilesPerTrigger=1 an availableNow
    drain of a 2-file backlog must process 2 bounded micro-batches (2
    state versions), not one big one — and still converge to the same
    final state."""
    log = generate_change_log(n_keys=40, n_ops=200, seed=11)
    indir, state, ckpt = _tmp("mft_in_"), _tmp("mft_state_"), _tmp("mft_ckpt_")
    third = len(log) // 3
    for i, chunk in enumerate([log[:third], log[third : 2 * third], log[2 * third :]]):
        with open(os.path.join(indir, f"part{i}.jsonl"), "w") as f:
            for env in chunk:
                f.write(json.dumps(env) + "\n")
    q = start_cdc_pipeline(
        spark, indir, state, ckpt, available_now=True, max_files_per_trigger=1
    )
    q.awaitTermination()
    sink = ParquetStateSink(spark, state, ["orderid"])
    assert len(sink.versions()) >= 3, "backlog must split into bounded batches"
    got = {
        r["orderid"]: (r["custid"], r["amount"], r["city"])
        for r in sink.current().collect()
    }
    want = {
        k: (v["custid"], v["amount"], v["city"])
        for k, v in expected_final_state(log).items()
    }
    assert got == want


def test_kafka_source_reader(spark):
    """Exercise read_kafka_envelopes end-to-end construction. This
    container ships no spark-sql-kafka package (and no broker), so the
    expected local outcome is a DOCUMENTED skip; on a cluster with the
    package deployed the same test checks that the reader returns the
    raw record stream (the ``value`` column start_cdc_pipeline
    decodes)."""
    from kafka_data_explorer_cdc_spark.streaming.pipeline import (
        read_kafka_envelopes,
    )

    try:
        df = read_kafka_envelopes(spark, "localhost:9092")
    except Exception as e:
        if "Failed to find data source: kafka" in str(e):
            pytest.skip(
                "spark-sql-kafka not deployable in this container "
                "(no package, no network): Kafka source is "
                "construction-blocked, covered by the file-replay twin"
            )
        raise
    assert "value" in df.columns


def test_kafka_sink_writer_constructs(spark):
    """The Kafka write path must build a valid streaming writer from
    envelope rows (no broker in this container — start() untested)."""
    from kafka_data_explorer_cdc_spark.cdc.envelope import (
        orders_info,
        to_change_envelopes,
    )
    from kafka_data_explorer_cdc_spark.streaming.pipeline import (
        write_kafka_envelopes,
    )
    from kafka_data_explorer_cdc_spark.io import load

    env_schema = to_change_envelopes(
        orders_info(load(spark, "/root/testdata/sf0.001", "orders")), "c"
    ).schema
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("CAST(value AS STRING) AS key", "'{}' AS value")
    )
    w = write_kafka_envelopes(stream, "broker:9092", "t", _tmp("ks_"))
    assert w is not None
    assert [f.name for f in env_schema.fields] == ["key", "value"]


def test_malformed_envelopes_go_to_dead_letter(spark, cdc_stream_setup):
    """Corrupt lines (bad JSON / missing key) must never reach the
    merged state — they land losslessly in the dead-letter parquet."""
    log, _ = cdc_stream_setup
    indir, state, ckpt = _tmp("dlq_in_"), _tmp("dlq_state_"), _tmp("dlq_ckpt_")
    garbage = ['{"this is not an envelope', '{"payload": {"op": "c"}}']
    with open(os.path.join(indir, "mixed.jsonl"), "w") as f:
        for env in log:
            f.write(json.dumps(env) + "\n")
        for g in garbage:
            f.write(g + "\n")
    q = start_cdc_pipeline(spark, indir, state, ckpt, available_now=True)
    q.awaitTermination()
    sink = ParquetStateSink(spark, state, ["orderid"])
    got = {r["orderid"] for r in sink.current().collect()}
    assert got == set(expected_final_state(log)), "state must ignore garbage"
    dlq = sink.dead_letters()
    assert dlq is not None
    raws = sorted(r["raw_value"] for r in dlq.collect())
    assert raws == sorted(garbage)


FLAT_SCHEMA = "orderid long, custid long, amount long, city string, op string, lsn long"


def _flat_batch(spark, rows):
    return spark.createDataFrame(rows, FLAT_SCHEMA)


def test_tombstones_survive_out_of_order_batches(spark):
    """The round-2 resurrection bug, distilled: a delete in batch 1
    followed by a LOWER-lsn straggler for the same key in batch 2 must
    not resurrect the key. Requires the stored state to retain the
    winning tombstone's lsn (cdc/apply.py keep_deletes contract)."""
    state = _tmp("tomb_state_")
    sink = ParquetStateSink(spark, state, ["orderid"], n_buckets=4)
    sink.apply_batch(
        _flat_batch(spark, [(1, 7, 100, "Rome", "c", 10), (1, None, None, None, "d", 30)]),
        0,
    )
    assert sink.current().count() == 0
    # straggler: an update that happened BEFORE the delete, delivered after
    sink.apply_batch(_flat_batch(spark, [(1, 7, 999, "Rome", "u", 20)]), 1)
    assert sink.current().count() == 0, "lower-lsn straggler must not resurrect"
    # the stored (raw) form still remembers the tombstone
    m = sink._manifest()
    raw = sink._read_buckets(m["buckets"], m["schema"])
    tomb = raw.filter("op = 'd'").collect()
    assert len(tomb) == 1 and tomb[0]["lsn"] == 30
    # a genuinely newer event DOES re-create the key
    sink.apply_batch(_flat_batch(spark, [(1, 8, 50, "Oslo", "c", 40)]), 2)
    cur = sink.current().collect()
    assert len(cur) == 1 and cur[0]["amount"] == 50


def test_tombstone_gc_horizon(spark):
    """With tombstone_gc_lsn_lag set, tombstones older than (max lsn
    ever seen - lag) are dropped at the next merge of their bucket —
    bounded state, watermark-style contract. n_buckets=1 so every batch
    touches the tombstone's bucket."""
    state = _tmp("tgc_state_")
    sink = ParquetStateSink(
        spark, state, ["orderid"], n_buckets=1, tombstone_gc_lsn_lag=50
    )
    sink.apply_batch(
        _flat_batch(spark, [(1, 7, 100, "Rome", "c", 5), (1, None, None, None, "d", 10)]),
        0,
    )
    m = sink._manifest()
    raw = sink._read_buckets(m["buckets"], m["schema"])
    assert raw.filter("op = 'd'").count() == 1, "young tombstone retained"
    # max_lsn jumps to 100 -> horizon 50 -> lsn-10 tombstone GC'd
    sink.apply_batch(_flat_batch(spark, [(2, 9, 1, "Oslo", "c", 100)]), 1)
    m = sink._manifest()
    raw = sink._read_buckets(m["buckets"], m["schema"])
    assert raw.filter("op = 'd'").count() == 0, "expired tombstone GC'd"
    assert sink._manifest()["max_lsn"] == 100
    assert {r["orderid"] for r in sink.current().collect()} == {2}


def test_legacy_manifest_rejected(spark):
    """A pre-bucketing LATEST pointer ({'version': n}, no 'buckets')
    must fail loudly with a descriptive error, not KeyError or silently
    empty state."""
    state = _tmp("legacy_state_")
    with open(os.path.join(state, "LATEST"), "w") as f:
        json.dump({"version": 3}, f)
    sink = ParquetStateSink(spark, state, ["orderid"])
    with pytest.raises(ValueError, match="incompatible state format"):
        sink.current()
    # a bucketed manifest that does not record the stored schema: bucket
    # reads take their schema from the manifest, so it fails loud too
    with open(os.path.join(state, "LATEST"), "w") as f:
        json.dump({"version": 3, "buckets": {"0": 3}, "max_lsn": 7}, f)
    with pytest.raises(ValueError, match="incompatible state format"):
        sink.current()
    # one that does not record its bucket count: keys are hashed with
    # the recorded count, so it fails loud too
    with open(os.path.join(state, "LATEST"), "w") as f:
        json.dump({"version": 3, "buckets": {"0": 3}, "max_lsn": 7,
                   "schema": {"type": "struct", "fields": []}}, f)
    with pytest.raises(ValueError, match="incompatible state format"):
        sink.current()


def test_reopened_sink_keeps_its_bucket_count(spark):
    """A sink opened on an existing root hashes keys with the bucket
    count recorded in its manifest. Rehashing with another count would
    send each key's update to another bucket and leave its stored row
    behind (13 rows for 8 keys), so an explicit count that disagrees
    raises, and the default (None) uses the recorded one."""
    state = _tmp("reopen_state_")
    ParquetStateSink(spark, state, ["orderid"], n_buckets=16).apply_batch(
        _flat_batch(spark, [(k, k, k, "Rome", "c", k) for k in range(1, 9)]), 0
    )
    update = _flat_batch(spark, [(k, k, k * 10, "Oslo", "u", 100 + k) for k in range(1, 9)])
    with pytest.raises(ValueError, match="hashed into 16 buckets"):
        ParquetStateSink(spark, state, ["orderid"], n_buckets=4).apply_batch(update, 1)
    sink = ParquetStateSink(spark, state, ["orderid"])
    assert sink.versions() == [0]
    sink.apply_batch(update, 1)
    assert sink._manifest()["n_buckets"] == 16
    assert sorted((r["orderid"], r["amount"]) for r in sink.current().collect()) == [
        (k, k * 10) for k in range(1, 9)
    ]


def test_default_bucket_count_is_one_per_core(spark):
    """``n_buckets=None`` sizes a new root at one bucket per core and
    records the count in every manifest, so a batch that touches every
    bucket writes one file per core."""
    state = _tmp("cores_state_")
    sink = ParquetStateSink(spark, state, ["orderid"])
    sink.apply_batch(
        _flat_batch(spark, [(k, k, k, "Rome", "c", k) for k in range(1, 1001)]), 0
    )
    cores = spark.sparkContext.defaultParallelism
    m = sink._manifest()
    assert m["n_buckets"] == cores
    assert len(m["buckets"]) == cores
    files = [
        f for d, _, fs in os.walk(os.path.join(state, "v0")) for f in fs
        if f.endswith(".parquet")
    ]
    assert len(files) == cores


def test_state_sink_crash_between_write_and_commit(spark):
    """A crash after the state files are written and before the manifest
    commits (injected through ``on_merge``, which runs exactly there)
    leaves the committed state and its versions unchanged; a fresh sink
    replaying the same batch under the same id then lands the right
    state at exactly one new version. The stranded ``v{N}/`` dir is not
    a version: time travel to it raises."""
    state = _tmp("crash_state_")
    b0 = _flat_batch(spark, [(k, k, k, "Rome", "c", k) for k in range(1, 9)])
    sink = ParquetStateSink(spark, state, ["orderid"], n_buckets=4)
    sink.apply_batch(b0, 0)
    before = sorted(tuple(r) for r in sink.current().collect())
    versions = sink.versions()

    def crash(cur, merged, version):
        raise RuntimeError("crash before commit")

    b1 = _flat_batch(spark, [(1, 1, 111, "Oslo", "u", 100), (9, 9, 9, "Pune", "c", 101)])
    crashing = ParquetStateSink(spark, state, ["orderid"], n_buckets=4, on_merge=crash)
    with pytest.raises(RuntimeError, match="crash before commit"):
        crashing.apply_batch(b1, 1)
    assert os.listdir(os.path.join(state, f"v{versions[-1] + 1}")), "state was written"
    assert sink.versions() == versions
    assert sorted(tuple(r) for r in sink.current().collect()) == before
    with pytest.raises(FileNotFoundError):
        sink.at_version(versions[-1] + 1)

    ParquetStateSink(spark, state, ["orderid"], n_buckets=4).apply_batch(b1, 1)
    assert sink.versions() == versions + [versions[-1] + 1]
    got = {r["orderid"]: r["amount"] for r in sink.current().collect()}
    assert got == {**{k: k for k in range(1, 9)}, 1: 111, 9: 9}


DLQ_FLAT_SCHEMA = FLAT_SCHEMA + ", raw_value string"


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` under a fresh job group; return (result, jobs launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_state_sink_batch_job_count(spark):
    """A micro-batch's fixed cost is its job count: one observed probe
    (which also materializes the persisted batch), the dead-letter
    append, and the merge write's shuffle-map and write jobs — no
    groupBy probe and no schema-inference job on the bucket read. The
    append runs in a thread beside the merge and must keep the caller's
    job group, so all four count. And building ``current()`` launches
    no job at all."""
    state = _tmp("jobs_state_")
    sink = ParquetStateSink(spark, state, ["orderid"], n_buckets=4)
    sink.apply_batch(
        spark.createDataFrame(
            [(k, 1, k, "Rome", "c", k, "ok") for k in range(1, 9)],
            DLQ_FLAT_SCHEMA,
        ),
        0,
    )
    batch = spark.createDataFrame(
        [(k, 2, k * 10, "Oslo", "u", 100 + k, "ok") for k in range(1, 9)]
        + [(None, None, None, None, None, None, "garbage"),
           (9, None, None, None, "c", None, "no lsn")],
        DLQ_FLAT_SCHEMA,
    )
    _, n = _jobs_in_group(spark, "sink_batch_jobs", lambda: sink.apply_batch(batch, 1))
    assert n == 4, f"apply_batch with bad rows and touched state ran {n} jobs"
    cur, n = _jobs_in_group(spark, "sink_current_jobs", sink.current)
    assert n == 0, f"building current() ran {n} jobs"
    assert sorted((r["orderid"], r["amount"]) for r in cur.collect()) == [
        (k, k * 10) for k in range(1, 9)
    ]


def test_state_sink_manifest_metrics(spark):
    """Every manifest commits its micro-batch's metrics, taken from the
    probe's observed aggregates: rows in (dead letters included), dead
    letters, and buckets touched."""
    state = _tmp("metrics_state_")
    sink = ParquetStateSink(spark, state, ["orderid"], n_buckets=4)
    rows = [(k, 1, k, "Rome", "c", k, "ok") for k in range(1, 7)] + [
        (None, None, None, None, None, None, '{"this is not an envelope'),
        (3, None, None, None, "c", None, '{"payload": {"op": "c"}}'),
    ]
    sink.apply_batch(spark.createDataFrame(rows, DLQ_FLAT_SCHEMA), 0)
    m = sink._manifest()
    want_buckets = {
        r["b"]
        for r in spark.range(1, 7)
        .select(F.pmod(F.xxhash64(F.col("id")), F.lit(4)).alias("b"))
        .collect()
    }
    assert m["metrics"] == {
        "rows_in": 8, "dead_letters": 2, "buckets_touched": len(want_buckets),
    }
    assert set(m["buckets"]) == {str(b) for b in want_buckets}
    assert m["max_lsn"] == 6
    assert sink.dead_letters().count() == 2
    # a batch of only malformed rows touches nothing and carries the
    # stored schema forward
    sink.apply_batch(spark.createDataFrame(rows[-2:], DLQ_FLAT_SCHEMA), 1)
    m1 = sink._manifest()
    assert m1["metrics"] == {"rows_in": 2, "dead_letters": 2, "buckets_touched": 0}
    assert m1["schema"] == m["schema"] and m1["buckets"] == m["buckets"]


def test_failed_dead_letter_append_commits_nothing(spark):
    """The dead-letter append runs beside the merge; the sink joins it
    before the commit. If the append fails, the batch fails and commits
    nothing, although its merge has written; once the fault is gone, a
    replay of the batch lands the right state at exactly one new
    version."""
    state = _tmp("dlq_fail_state_")
    sink = ParquetStateSink(spark, state, ["orderid"], n_buckets=4)
    sink.apply_batch(
        spark.createDataFrame(
            [(k, 1, k, "Rome", "c", k, "ok") for k in range(1, 9)], DLQ_FLAT_SCHEMA
        ),
        0,
    )
    before = sorted(tuple(r) for r in sink.current().collect())
    versions = sink.versions()
    batch = spark.createDataFrame(
        [(k, 2, k * 10, "Oslo", "u", 100 + k, "ok") for k in range(1, 9)]
        + [(None, None, None, None, None, None, "garbage"),
           (9, None, None, None, "c", None, "no lsn")],
        DLQ_FLAT_SCHEMA,
    )
    dead_letter = os.path.join(state, "dead_letter")
    with open(dead_letter, "w") as f:
        f.write("not a directory")
    with pytest.raises(Exception, match="dead_letter"):
        sink.apply_batch(batch, 1)
    assert sink.versions() == versions
    assert sorted(tuple(r) for r in sink.current().collect()) == before

    os.remove(dead_letter)
    sink.apply_batch(batch, 1)
    assert sink.versions() == versions + [versions[-1] + 1]
    assert sorted((r["orderid"], r["amount"]) for r in sink.current().collect()) == [
        (k, k * 10) for k in range(1, 9)
    ]
    assert sorted(r["raw_value"] for r in sink.dead_letters().collect()) == [
        "garbage", "no lsn",
    ]


def test_envelope_schema_evolution_tolerated(spark):
    """Debezium envelopes grow fields over time (new columns, new
    source metadata). Unknown fields at any nesting level must be
    ignored by the declared-schema parse — the pipeline keeps running
    and merges the known columns."""
    log = generate_change_log(n_keys=5, n_ops=20, seed=3)
    # v2-ish envelopes: extra column in after, extra source field,
    # extra top-level payload member
    for env in log:
        p = env["payload"]
        if p.get("after"):
            p["after"]["loyalty_tier"] = "gold"
        p["source"]["sequence"] = "[1,2]"
        p["extra_block"] = {"new": True}
    indir, state, ckpt = _tmp("ev_in_"), _tmp("ev_state_"), _tmp("ev_ckpt_")
    with open(os.path.join(indir, "log.jsonl"), "w") as f:
        for env in log:
            f.write(json.dumps(env) + "\n")
    q = start_cdc_pipeline(spark, indir, state, ckpt, available_now=True)
    q.awaitTermination()
    sink = ParquetStateSink(spark, state, ["orderid"])
    got = {r["orderid"] for r in sink.current().collect()}
    assert got == set(expected_final_state(log))
    assert sink.dead_letters() is None, "evolved envelopes are not garbage"


def test_dead_letters_broken_queue_raises(spark):
    """``dead_letters()`` is None only when no committed version has
    dead letters: a committed dead-letter file that is not parquet
    raises on read instead of passing for "no dead letters", and the
    flat ``dead_letter/*.parquet`` layout of older sink versions raises
    at once."""
    state = _tmp("dlq_read_state_")
    sink = ParquetStateSink(spark, state, ["orderid"], n_buckets=4)
    assert sink.dead_letters() is None
    sink.apply_batch(_flat_batch(spark, [(1, 1, 1, "Rome", "c", 1)]), 0)
    assert sink.dead_letters() is None
    committed = sink.log.dir("dead_letter", 0)
    os.makedirs(committed)
    assert sink.dead_letters().count() == 0
    with open(os.path.join(committed, "part-0.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    dl = sink.dead_letters()
    assert dl is not None
    with pytest.raises(Exception, match="part-0.parquet"):
        dl.collect()
    open(os.path.join(state, "dead_letter", "part-1.parquet"), "wb").close()
    with pytest.raises(ValueError, match="part-1.parquet"):
        sink.dead_letters()


def test_dead_letters_commit_with_the_state(spark):
    """Dead letters follow the state log's visibility rule: a batch
    whose merge fails shows none, its replay shows exactly one copy,
    and what a crashed attempt wrote is not read as the dead letters of
    the clean batch that commits that version instead."""

    def crash(cur, merged, version):
        raise RuntimeError("crash before commit")

    batch = spark.createDataFrame(
        [(k, 1, k, "Rome", "c", k, "ok") for k in range(1, 5)]
        + [(None, None, None, None, None, None, "garbage"),
           (9, None, None, None, "c", None, "no lsn")],
        DLQ_FLAT_SCHEMA,
    )
    state = _tmp("dlq_commit_state_")
    with pytest.raises(RuntimeError, match="crash before commit"):
        ParquetStateSink(
            spark, state, ["orderid"], n_buckets=2, on_merge=crash
        ).apply_batch(batch, 0)
    sink = ParquetStateSink(spark, state, ["orderid"], n_buckets=2)
    assert sink.versions() == []
    assert sink.dead_letters() is None
    sink.apply_batch(batch, 0)
    assert sorted(r["raw_value"] for r in sink.dead_letters().collect()) == [
        "garbage", "no lsn",
    ]

    state = _tmp("dlq_retry_state_")
    with pytest.raises(RuntimeError, match="crash before commit"):
        ParquetStateSink(
            spark, state, ["orderid"], n_buckets=2, on_merge=crash
        ).apply_batch(batch, 0)
    sink = ParquetStateSink(spark, state, ["orderid"], n_buckets=2)
    sink.apply_batch(batch.filter(F.col("raw_value") == "ok"), 0)
    assert sink._manifest()["metrics"]["dead_letters"] == 0
    assert sink.dead_letters() is None


def test_sink_contract(spark):
    """The state sink contract (``ParquetStateSink``'s docstring): replay
    idempotence, restartable batch ids, out-of-order tombstone safety,
    live-rows-only reads."""
    sink = ParquetStateSink(spark, _tmp("contract_state_"), ["orderid"], n_buckets=4)

    b0 = _flat_batch(
        spark,
        [
            (1, 7, 100, "Rome", "c", 10),
            (2, 8, 50, "Oslo", "c", 11),
            (1, None, None, None, "d", 30),
        ],
    )
    sink.apply_batch(b0, 0)
    assert {r["orderid"] for r in sink.current().collect()} == {2}
    # replay idempotence (at-least-once redelivery under a new batch id)
    sink.apply_batch(b0, 1)
    assert {r["orderid"] for r in sink.current().collect()} == {2}
    # out-of-order straggler below the tombstone's seq must stay dead
    sink.apply_batch(_flat_batch(spark, [(1, 7, 999, "Rome", "u", 20)]), 2)
    assert {r["orderid"] for r in sink.current().collect()} == {2}
    # genuinely newer event re-creates
    sink.apply_batch(_flat_batch(spark, [(1, 9, 1, "Pune", "c", 40)]), 3)
    got = {r["orderid"]: r["city"] for r in sink.current().collect()}
    assert got == {1: "Pune", 2: "Oslo"}
    # a stream restarted on a fresh checkpoint numbers its batches from
    # 0 again, and its batch 1 is redelivered: ids already applied must
    # not overwrite committed state (key 2 is in none of these batches)
    for batch_id, row in [
        (0, (1, 9, 2, "Lima", "u", 50)),
        (1, (1, 9, 3, "Kyiv", "u", 60)),
        (1, (1, 9, 3, "Kyiv", "u", 60)),
    ]:
        sink.apply_batch(_flat_batch(spark, [row]), batch_id)
    got = {r["orderid"]: r["city"] for r in sink.current().collect()}
    assert got == {1: "Kyiv", 2: "Oslo"}


def test_kafka_wire_format_round_trip(spark, sf_dir):
    """File-backed contract test for the Kafka producer path: the exact
    (key, value) wire projection write_kafka_envelopes publishes is
    written to text files (standing in for the topic), read back, and
    parse_envelope→unwrap must reproduce the source rows and keys.
    Only the broker hop itself is unexercised (no broker in this
    container)."""
    from kafka_data_explorer_cdc_spark.cdc.envelope import (
        flatten_after,
        orders_info,
        parse_envelope,
        to_change_envelopes,
        unwrap,
    )
    from kafka_data_explorer_cdc_spark.io import load
    from kafka_data_explorer_cdc_spark.streaming.pipeline import (
        envelope_wire_format,
    )

    info = orders_info(load(spark, sf_dir, "orders")).limit(200)
    wire = envelope_wire_format(to_change_envelopes(info, "c"))
    assert wire.columns == ["key", "value"]
    out = _tmp("wire_")
    wire.select("value").write.mode("overwrite").text(out)

    flat = flatten_after(unwrap(parse_envelope(spark.read.text(out)))).select(
        "orderid", "custid", "amount", "city"
    )
    got = sorted(tuple(r) for r in flat.collect())
    want = sorted(tuple(r) for r in info.collect())
    assert got == want
    # the message key must carry the record key (partitioning contract)
    keys = {r["key"] for r in wire.collect()}
    assert keys == {str(r["orderid"]) for r in info.collect()}


def test_streaming_funnel_state_spans_microbatches(spark, tmp_path):
    """A click in micro-batch 1 must pair with a purchase in
    micro-batch 2 — the conversion only exists if the click survived in
    the state store across batches (maxFilesPerTrigger=1 forces the two
    files into separate batches, oldest file first)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_data_explorer_cdc_spark.streaming.stateful import (
        streaming_funnel,
    )

    indir = tmp_path / "funnel_in"
    indir.mkdir()

    def write(path, rows):
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array(
                        [pd.Timestamp(r[1]) for r in rows], pa.timestamp("us")
                    ),
                    "user_id": pa.array([r[2] for r in rows], pa.int64()),
                    "event_type": pa.array([r[3] for r in rows]),
                    "value": pa.array([0.0] * len(rows)),
                    "props": pa.array(["{}"] * len(rows)),
                }
            ),
            str(path),
        )

    # batch 1: two clicks (one will age out of the horizon)
    write(indir / "a_batch1.parquet", [
        (1, "2024-01-01 10:00:00", 7, "click"),
        (2, "2024-01-01 10:30:00", 7, "click"),
    ])
    # batch 2: purchase at 10:35 — pairs ONLY with the 10:30 click
    write(indir / "b_batch2.parquet", [
        (3, "2024-01-01 10:35:00", 7, "purchase"),
    ])
    os.utime(indir / "a_batch1.parquet", (1_000_000, 1_000_000))
    os.utime(indir / "b_batch2.parquet", (2_000_000, 2_000_000))

    from kafka_data_explorer_cdc_spark.io import SCHEMAS

    ev = (
        spark.readStream.schema(SCHEMAS["events"])
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir))
    )
    name = f"funnel_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_funnel(ev)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["user_id"]: r["conversions"]
        for r in spark.table(name)
        .groupBy("user_id")
        .agg(F.sum("conversions").alias("conversions"))
        .collect()
    }
    assert got == {7: 1}


def test_funnel_fn_resolution_invariant():
    """_funnel_fn must count identically whether pandas hands it the ts
    column as datetime64[ns] or datetime64[us] (pandas 2 / pyarrow
    without nanosecond coercion) — the silent-unit failure class the
    round-3 postmortem is about (ADVICE r4)."""
    import pandas as pd

    from kafka_data_explorer_cdc_spark.streaming.stateful import _funnel_fn

    class FakeState:
        exists = False

        def update(self, v):
            self.value = v

    rows = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                [
                    "2024-01-01 10:00:00",  # click (ages out)
                    "2024-01-01 10:30:00",  # click
                    "2024-01-01 10:35:00",  # purchase -> 1 conversion
                ]
            ),
            "event_type": ["click", "click", "purchase"],
        }
    )
    results = {}
    for unit in ("ns", "us"):
        pdf = rows.assign(ts=rows["ts"].astype(f"datetime64[{unit}]"))
        out = list(_funnel_fn((7,), iter([pdf]), FakeState()))
        results[unit] = int(out[0]["conversions"].iloc[0]) if out else 0
    # 10:00 click is 35 min before the purchase (outside the 10-min
    # horizon); 10:30 is inside -> exactly 1 conversion in BOTH units.
    assert results["ns"] == results["us"] == 1


def test_transform_with_state_totals_matches_batch(spark, tmp_path):
    """Spark 4.1 transformWithStateInPandas (typed-state API): final
    Update-mode emission per user must equal the batch GROUP BY.
    Skipped where google.protobuf is broken (this container) — the
    API's driver worker requires it."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf unavailable: transformWithState "
                    "driver worker cannot start in this environment")
    from kafka_data_explorer_cdc_spark.io import load
    from kafka_data_explorer_cdc_spark.streaming.stateful import (
        transform_with_state_totals,
    )
    from kafka_data_explorer_cdc_spark.streaming.windows import (
        read_events_stream, run_to_memory,
    )

    sf_dir = "/root/testdata/sf0.001"
    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    drained = run_to_memory(
        transform_with_state_totals(ev), output_mode="update"
    )
    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6))
        for r in drained
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"),
             F.max("total_value").alias("total_value"))
        .collect()
    }
    want = {
        r["user_id"]: (r["n"], round(r["tv"], 6))
        for r in load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("tv"))
        .collect()
    }
    assert got == want


def test_vacuum_drops_old_versions_keeps_readers(spark):
    """ParquetStateSink.vacuum: history beyond retain_last disappears,
    but every retained manifest stays fully readable — v-dirs still
    referenced by a retained manifest's bucket map survive even when
    their own manifest is dropped."""
    log = generate_change_log(n_keys=40, n_ops=240, seed=19)
    indir = _tmp("vac_in_")
    # 6 files + maxFilesPerTrigger=1 -> 6 micro-batches -> 6 versions
    chunk = len(log) // 6
    for i in range(6):
        with open(os.path.join(indir, f"p{i}.jsonl"), "w") as f:
            for env in log[i * chunk : (i + 1) * chunk if i < 5 else len(log)]:
                f.write(json.dumps(env) + "\n")
    state, ckpt = _tmp("vac_state_"), _tmp("vac_ckpt_")
    q = start_cdc_pipeline(
        spark, indir, state, ckpt, available_now=True, max_files_per_trigger=1
    )
    q.awaitTermination()
    sink = ParquetStateSink(spark, state, ["orderid"])
    before = sink.versions()
    assert len(before) >= 5
    rep = sink.vacuum(retain_last=2)
    assert rep["dropped_manifests"] == len(before) - 2
    assert sink.versions() == before[-2:]
    # readers unchanged: latest state still equals the batch oracle
    got = {
        r["orderid"]: (r["custid"], r["amount"], r["city"])
        for r in sink.current().collect()
    }
    want = {
        k: (v["custid"], v["amount"], v["city"])
        for k, v in expected_final_state(log).items()
    }
    assert got == want
    # time travel on a retained version still resolves every bucket
    assert sink.at_version(before[-2]) is not None
    sink.at_version(before[-2]).count()
    # idempotent: a second vacuum finds nothing to drop
    rep2 = sink.vacuum(retain_last=2)
    assert rep2 == {"dropped_manifests": 0, "dropped_dirs": 0}


def test_soak_latency_flat_and_state_bounded(spark):
    """Soak harness (VERDICT r4 #8): N rate-source micro-batches through
    the full incremental CDC sink; per-batch latency must show no
    upward drift (state-leak detector) and live state must stay within
    the keyspace bound. The recorded 100-batch run lives in BASELINE.md;
    this keeps the gate in CI at a suite-friendly size."""
    from kafka_data_explorer_cdc_spark.streaming.soak import run_soak

    state, ckpt = _tmp("soak_state_"), _tmp("soak_ckpt_")
    rep = run_soak(
        spark,
        state,
        ckpt,
        n_batches=25,
        rows_per_second=4000,
        keyspace=300,
        warmup_batches=4,
        vacuum_every=10,
    )
    assert rep["n_batches"] == 25
    assert rep["rows_total"] > 0
    # leak gate: drift projected over the whole run must stay well under
    # the typical batch cost (flat plateau), with an absolute floor so a
    # noisy-but-flat run on a loaded machine doesn't flake
    assert rep["projected_drift_over_run_s"] < max(
        1.0, 2.0 * rep["p50_s"]
    ), rep
    assert rep["last_third_median_s"] < max(
        2.5 * rep["first_third_median_s"], rep["first_third_median_s"] + 0.5
    ), rep
    # state bounded by the cycling keyspace (live rows; tombstoned keys
    # may be temporarily absent)
    assert 0 < rep["state_rows"] <= 300
    # vacuum kept version history bounded
    assert rep["retained_versions"] <= 15


def _flat_changes(spark, rows):
    """(orderid, custid, amount, city, op, lsn) rows as a flat batch."""
    return spark.createDataFrame(
        rows, "orderid long, custid long, amount long, city string, op string, lsn long"
    )


def test_agg_view_incremental_matches_reaggregation(spark):
    """AggViewSink: inserts, update (moves a key ACROSS groups),
    delete — after each batch the maintained view equals re-aggregating
    the live state from scratch."""
    from kafka_data_explorer_cdc_spark.streaming.matview import AggViewSink

    root = _tmp("mv_state_")
    sink = AggViewSink(spark, root, ["orderid"], "city", "amount")

    def view_dict():
        return {
            r["city"]: (r["n_rows"], float(r["sum_value"]))
            for r in sink.view().collect()
        }

    def reagg_dict():
        cur = sink.current()
        return {
            r["city"]: (r["n"], float(r["s"]))
            for r in cur.groupBy("city")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("amount").cast("decimal(18,2)")).cast("double").alias("s"))
            .collect()
        }

    sink.apply_batch(_flat_changes(spark, [
        (1, 10, 100, "A", "c", 1), (2, 20, 50, "A", "c", 2),
        (3, 30, 70, "B", "c", 3),
    ]), 0)
    assert view_dict() == {"A": (2, 150.0), "B": (1, 70.0)} == reagg_dict()
    # update moves key 2 from group A to group B and changes amount
    sink.apply_batch(_flat_changes(spark, [
        (2, 20, 60, "B", "u", 10),
    ]), 1)
    assert view_dict() == {"A": (1, 100.0), "B": (2, 130.0)} == reagg_dict()
    # delete key 3 (empty groups drop out of the view)
    sink.apply_batch(_flat_changes(spark, [
        (3, None, None, None, "d", 20),
    ]), 2)
    assert view_dict() == {"A": (1, 100.0), "B": (1, 60.0)} == reagg_dict()


def test_agg_view_replay_and_straggler_are_noops(spark):
    """The at-least-once hazards: (a) a replayed batch_id must not
    double-apply its delta; (b) a lower-lsn straggler for a deleted key
    must neither resurrect the key nor perturb the view; (c) a batch id
    repeated by a restarted stream is applied, not skipped."""
    from kafka_data_explorer_cdc_spark.streaming.matview import AggViewSink

    root = _tmp("mv_state2_")
    sink = AggViewSink(spark, root, ["orderid"], "city", "amount")
    b0 = _flat_changes(spark, [
        (1, 10, 100, "A", "c", 1), (2, 20, 50, "B", "c", 2),
    ])
    b1 = _flat_changes(spark, [(2, None, None, None, "d", 30)])
    sink.apply_batch(b0, 0)
    sink.apply_batch(b1, 1)
    want = {r["city"]: (r["n_rows"], float(r["sum_value"]))
            for r in sink.view().collect()}
    assert want == {"A": (1, 100.0)}
    # (a) replay both batches with their original ids
    sink.apply_batch(b0, 0)
    sink.apply_batch(b1, 1)
    # (b) straggler: an update for deleted key 2 with lsn below the
    # tombstone's arrives in a NEW batch
    sink.apply_batch(
        _flat_changes(spark, [(2, 20, 999, "B", "u", 5)]), 2
    )
    got = {r["city"]: (r["n_rows"], float(r["sum_value"]))
           for r in sink.view().collect()}
    assert got == want
    assert sink.current().filter(F.col("orderid") == 2).count() == 0
    # (c) a stream restarted on a fresh checkpoint repeats batch id 0,
    # this time with a new key: its delta must land in the view
    sink.apply_batch(_flat_changes(spark, [(3, 30, 70, "C", "c", 40)]), 0)
    got = {r["city"]: (r["n_rows"], float(r["sum_value"]))
           for r in sink.view().collect()}
    reagg = {
        r["city"]: (r["n"], float(r["s"]))
        for r in sink.current().groupBy("city")
        .agg(F.count("*").alias("n"),
             F.sum(F.col("amount").cast("decimal(18,2)")).cast("double").alias("s"))
        .collect()
    }
    assert got == reagg == {"A": (1, 100.0), "C": (1, 70.0)}


def test_agg_view_vacuum_keeps_only_the_newest_view(spark):
    """Each merge writes a full copy of the view; vacuum leaves the one
    that is read, and the view reads the same."""
    from kafka_data_explorer_cdc_spark.streaming.matview import AggViewSink

    root = _tmp("mv_vac_")
    sink = AggViewSink(spark, root, ["orderid"], "city", "amount")
    for i in range(8):
        sink.apply_batch(_flat_changes(spark, [
            (i, i, 10 * i, "AB"[i % 2], "c", i + 1), (i // 2, None, None, None, "d", 100 + i),
        ]), i)
    before = sorted(map(tuple, sink.view().collect()))
    assert len(os.listdir(os.path.join(root, "agg_view"))) == 8
    rep = sink.vacuum(retain_last=2)
    assert rep["dropped_views"] == 7 and sink.inner.versions() == [6, 7]
    assert os.listdir(os.path.join(root, "agg_view")) == ["v7"]
    assert sorted(map(tuple, sink.view().collect())) == before
    assert sink.vacuum(retain_last=2)["dropped_views"] == 0


def test_change_feed_types_counts_and_compaction(spark):
    """ChangeFeedSink: per-commit change rows carry the right types and
    images, compaction reproduces current(), a replayed batch adds
    nothing to the feed, a batch id repeated by a restarted stream is
    not skipped, and rows a crash stranded before the commit stay
    unread."""
    from kafka_data_explorer_cdc_spark.streaming.changefeed import ChangeFeedSink

    root = _tmp("cf_state_")
    sink = ChangeFeedSink(spark, root, ["orderid"])
    b0 = _flat_changes(spark, [
        (1, 10, 100, "A", "c", 1), (2, 20, 50, "B", "c", 2),
        (3, 30, 70, "B", "c", 3),
    ])
    b1 = _flat_changes(spark, [
        (2, 20, 60, "C", "u", 10),            # update (moves group, new amount)
        (3, None, None, None, "d", 11),        # delete
        (4, 40, 80, "A", "c", 12),             # insert
        (1, 10, 999, "A", "u", 0),             # straggler: loses to lsn 1 -> no change
    ])
    sink.apply_batch(b0, 0)
    sink.apply_batch(b1, 1)
    feed = sink.feed().collect()
    by_type = {}
    for r in feed:
        by_type.setdefault((r["_commit_version"], r["_change_type"]), []).append(r)
    assert len(by_type[(0, "insert")]) == 3
    assert len(by_type[(1, "insert")]) == 1
    assert len(by_type[(1, "delete")]) == 1
    assert len(by_type[(1, "update_preimage")]) == 1
    assert len(by_type[(1, "update_postimage")]) == 1
    # the straggler produced NO change row
    assert len(feed) == 3 + 4
    pre = by_type[(1, "update_preimage")][0]
    post = by_type[(1, "update_postimage")][0]
    assert (pre["amount"], pre["city"]) == (50, "B")
    assert (post["amount"], post["city"]) == (60, "C")
    assert by_type[(1, "delete")][0]["orderid"] == 3
    # compaction == current state
    got = {(r["orderid"], r["amount"], r["city"]) for r in sink.compact().collect()}
    want = {(r["orderid"], r["amount"], r["city"]) for r in sink.current().collect()}
    assert got == want == {(1, 100, "A"), (2, 60, "C"), (4, 80, "A")}
    # replay adds nothing
    sink.apply_batch(b1, 1)
    assert len(sink.feed().collect()) == len(feed)
    # cursor read: only commit 1's rows
    assert len(sink.feed(since_version=0).collect()) == 4
    # a stream restarted on a fresh checkpoint repeats batch id 0: its
    # insert reaches the feed, and the feed still compacts to the state
    sink.apply_batch(_flat_changes(spark, [(5, 50, 10, "B", "c", 20)]), 0)
    got = {(r["orderid"], r["amount"], r["city"]) for r in sink.compact().collect()}
    want = {(r["orderid"], r["amount"], r["city"]) for r in sink.current().collect()}
    assert got == want == {(1, 100, "A"), (2, 60, "C"), (4, 80, "A"), (5, 10, "B")}
    # a crash after the feed write and before the state commit strands
    # that version's feed rows; a next commit that merges nothing (its
    # only row is keyless) must not make them readable
    emit = sink.inner.on_merge

    def crash(*args):
        emit(*args)
        raise RuntimeError("crash before commit")

    sink.inner.on_merge = crash
    with pytest.raises(RuntimeError, match="crash before commit"):
        sink.apply_batch(_flat_changes(spark, [(6, 60, 1, "D", "c", 30)]), 1)
    sink.inner.on_merge = emit
    sink.apply_batch(_flat_changes(spark, [(None, None, None, None, "c", 31)]), 2)
    got = {(r["orderid"], r["amount"], r["city"]) for r in sink.compact().collect()}
    assert got == want


def test_custom_envelope_source_batch_and_stream(spark):
    """Python Data Source connector (sources/envelope_source.py):
    batch reads parallelize one partition per file with provenance
    columns; the streaming form tails the directory — files appended
    AFTER the stream starts arrive in later micro-batches (Kafka-tail
    semantics at file granularity)."""
    from kafka_data_explorer_cdc_spark.sources.envelope_source import register

    register(spark)
    indir = _tmp("cds_in_")
    for i in range(3):
        with open(os.path.join(indir, f"f{i}.jsonl"), "w") as f:
            for j in range(10):
                f.write(json.dumps({"n": i * 10 + j}) + "\n")
    # batch: one partition per file, all rows, provenance columns
    df = spark.read.format("cdc_envelopes").load(indir)
    assert df.rdd.getNumPartitions() == 3
    assert df.count() == 30
    assert set(df.columns) == {"value", "src_file", "line_no"}
    assert df.filter(F.col("src_file") == "f1.jsonl").count() == 10

    # streaming (default = executor-parallel partition reader): drain,
    # then append a new file -> arrives in a later micro-batch. Idle
    # ticks fire between the drain and the append (processingTime=0),
    # so this also covers the idle-batch path of the partition reader.
    seen = []
    parts = []

    def _sink(b, bid):
        n = b.count()
        if n:
            parts.append(b.rdd.getNumPartitions())
        seen.append(n)

    q = (
        spark.readStream.format("cdc_envelopes").load(indir)
        .writeStream.trigger(processingTime="0 seconds")
        .foreachBatch(_sink)
        .option("checkpointLocation", _tmp("cds_ckpt_"))
        .start()
    )
    try:
        deadline = time.time() + 60
        while sum(seen) < 30 and time.time() < deadline:
            time.sleep(0.2)
        assert sum(seen) == 30, seen
        # first non-empty micro-batch scanned 3 files -> 3 task partitions
        # (reads happen in executor tasks, not on the driver)
        assert parts[0] == 3, parts
        # atomic publish: dot-prefixed names are invisible to the tail
        tmp = os.path.join(indir, ".f3_late.jsonl")
        with open(tmp, "w") as f:
            for j in range(5):
                f.write(json.dumps({"n": 100 + j}) + "\n")
        os.rename(tmp, os.path.join(indir, "f3_late.jsonl"))
        deadline = time.time() + 60
        while sum(seen) < 35 and time.time() < deadline:
            time.sleep(0.2)
        assert sum(seen) == 35, seen
    finally:
        q.stop()


def test_envelope_source_stream_reader_dispatch():
    """The streaming path is the partition-based DataSourceStreamReader
    (executor-side reads). Pure-Python — no session."""
    from kafka_data_explorer_cdc_spark.sources.envelope_source import (
        CdcEnvelopeDataSource,
        CdcEnvelopePartitionStreamReader,
    )

    indir = _tmp("cds_plan_")
    ds = CdcEnvelopeDataSource(options={"path": indir})
    assert isinstance(ds.streamReader(None), CdcEnvelopePartitionStreamReader)

    # partition planning: one InputPartition per newly-arrived file,
    # empty plan for an empty offset range (the idle micro-batch case)
    for i in range(4):
        with open(os.path.join(indir, f"f{i}.jsonl"), "w") as f:
            f.write('{"n": %d}\n' % i)
    pr = CdcEnvelopePartitionStreamReader({"path": indir})
    assert pr.latestOffset() == {"files_done": 4}
    ps = pr.partitions({"files_done": 1}, {"files_done": 4})
    assert [os.path.basename(p.path) for p in ps] == [
        "f1.jsonl", "f2.jsonl", "f3.jsonl"
    ]
    assert pr.partitions({"files_done": 4}, {"files_done": 4}) == []
    assert list(pr.read(ps[0])) == [('{"n": 1}', "f1.jsonl", 0)]


def _connector_stream(spark, indir):
    from kafka_data_explorer_cdc_spark.sources.envelope_source import register

    register(spark)
    return spark.readStream.format("cdc_envelopes").load(indir)


def _write_log(path, lines):
    with open(path, "w") as f:
        for line in lines:
            f.write(line + "\n")


def test_connector_source_dead_letters_malformed_line(spark):
    """A transport passed as ``source=`` is decoded by the pipeline the
    way the default file replay is: a malformed line reaches the
    dead-letter queue exactly once, and the queue agrees with the
    dead-letter count the manifests commit."""
    log = generate_change_log(n_keys=5, n_ops=20, seed=5)
    indir, state, ckpt = _tmp("cdl_in_"), _tmp("cdl_state_"), _tmp("cdl_ckpt_")
    bad = '{"this is not an envelope'
    _write_log(os.path.join(indir, "log.jsonl"), [json.dumps(e) for e in log] + [bad])
    q = start_cdc_pipeline(
        spark, indir, state, ckpt, available_now=True,
        source=_connector_stream(spark, indir),
    )
    q.awaitTermination()
    sink = ParquetStateSink(spark, state, ["orderid"])
    assert {r["orderid"] for r in sink.current().collect()} == set(
        expected_final_state(log)
    )
    dlq = sink.dead_letters()
    assert dlq is not None, "the malformed line was counted but not stored"
    assert [r["raw_value"] for r in dlq.collect()] == [bad]
    counted = sum(sink.log.read(v)["metrics"]["dead_letters"] for v in sink.versions())
    assert counted == 1
    # a source= stream is bounded by its own option, so the text-source
    # bound is refused rather than silently dropped
    with pytest.raises(ValueError, match="maxOffsetsPerTrigger"):
        start_cdc_pipeline(
            spark, indir, state, ckpt, max_files_per_trigger=1,
            source=_connector_stream(spark, indir),
        )


def test_connector_source_honours_after_schema(spark):
    """``after_schema`` applies to a ``source=`` transport too: a
    DDL-evolved envelope column passed through the connector is parsed
    and kept in state."""
    from pyspark.sql import types as T

    from kafka_data_explorer_cdc_spark.cdc.envelope import ORDERS_ROW_SCHEMA

    log = generate_change_log(n_keys=5, n_ops=20, seed=7)
    for env in log:
        after = env["payload"].get("after")
        if after:
            after["loyalty_tier"] = f"tier{after['orderid']}"
    indir, state, ckpt = _tmp("cev_in_"), _tmp("cev_state_"), _tmp("cev_ckpt_")
    _write_log(os.path.join(indir, "log.jsonl"), [json.dumps(e) for e in log])
    evolved = T.StructType(
        list(ORDERS_ROW_SCHEMA.fields)
        + [T.StructField("loyalty_tier", T.StringType())]
    )
    q = start_cdc_pipeline(
        spark, indir, state, ckpt, available_now=True,
        source=_connector_stream(spark, indir), after_schema=evolved,
    )
    q.awaitTermination()
    sink = ParquetStateSink(spark, state, ["orderid"])
    got = {r["orderid"]: r["loyalty_tier"] for r in sink.current().collect()}
    assert got == {k: f"tier{k}" for k in expected_final_state(log)}
    assert sink.dead_letters() is None


def test_left_outer_stream_join_flushes_unmatched_on_final_batch(spark, tmp_path):
    """s33's load-bearing semantic: a clicks-side row with NO purchase
    within its interval must be emitted NULL-padded once the final
    availableNow micro-batch advances the watermark past its match
    window — outer-join state eviction doubles as negative-result
    emission. Crafted frame: one convertible click, one dead-end click,
    and late sentinel rows on BOTH sides that push each side's
    watermark far past every real row."""
    import pandas as pd

    from pyspark.sql import functions as F

    rows = [
        # (user, type, ts-minute)
        (1, "click", 0),      # converts at minute 5
        (1, "purchase", 5),
        (2, "click", 0),      # never converts → must surface null-padded
        (3, "click", 500),    # click-side watermark sentinel
        (3, "purchase", 500),  # purchase-side watermark sentinel
    ]
    pdf = pd.DataFrame(
        {
            "user_id": [r[0] for r in rows],
            "event_type": [r[1] for r in rows],
            "ts": [pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=r[2]) for r in rows],
        }
    )
    src = str(tmp_path / "ev.parquet")
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(src)
    from kafka_data_explorer_cdc_spark.streaming.windows import run_to_memory

    ev = spark.readStream.schema(
        "user_id bigint, event_type string, ts timestamp"
    ).parquet(src)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "30 minutes")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "30 minutes")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts > c_ts "
            "AND p_ts <= c_ts + INTERVAL 10 MINUTES"
        ),
        "leftOuter",
    )
    out = {
        (r["c_user"], r["p_ts"] is not None)
        for r in run_to_memory(joined, output_mode="append").collect()
    }
    assert (1, True) in out, "matched click must emit the joined row"
    assert (2, False) in out, (
        "unmatched click must be flushed null-padded by the final "
        "availableNow watermark batch"
    )


def test_streaming_last_touch_state_spans_microbatches(spark, tmp_path):
    """A click in micro-batch 1 must attribute a purchase in
    micro-batch 2 (carry survives the state store), a purchase outside
    the 7-day lookback must fall to 'direct', and a later touch must
    overwrite the carry — the O(1)-state contract of
    streaming_last_touch."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_data_explorer_cdc_spark.io import SCHEMAS
    from kafka_data_explorer_cdc_spark.streaming.stateful import (
        streaming_last_touch,
    )

    indir = tmp_path / "lt_in"
    indir.mkdir()

    def write(path, rows):
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array(
                        [pd.Timestamp(r[1]) for r in rows], pa.timestamp("us")
                    ),
                    "user_id": pa.array([r[2] for r in rows], pa.int64()),
                    "event_type": pa.array([r[3] for r in rows]),
                    "value": pa.array(
                        [float(r[4]) for r in rows], pa.float64()
                    ),
                    "props": pa.array(["{}"] * len(rows)),
                }
            ),
            str(path),
        )

    # batch 1: user 7 clicks, then views (view overwrites the carry);
    # user 8's only touch is 8 days before their purchase
    write(indir / "a_batch1.parquet", [
        (1, "2024-01-01 10:00:00", 7, "click", 0.0),
        (2, "2024-01-01 11:00:00", 7, "view", 0.0),
        (3, "2024-01-01 09:00:00", 8, "click", 0.0),
    ])
    # batch 2: purchases — user 7 credited to 'view' (cross-batch
    # carry), user 8 falls outside 7 days -> 'direct'
    write(indir / "b_batch2.parquet", [
        (4, "2024-01-02 12:00:00", 7, "purchase", 10.0),
        (5, "2024-01-09 09:00:01", 8, "purchase", 20.0),
    ])
    os.utime(indir / "a_batch1.parquet", (1_000_000, 1_000_000))
    os.utime(indir / "b_batch2.parquet", (2_000_000, 2_000_000))

    ev = (
        spark.readStream.schema(SCHEMAS["events"])
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir))
    )
    name = f"lt_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_last_touch(ev)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["channel"], r["value"]) for r in spark.table(name).collect()
    )
    assert got == [("direct", 20.0), ("view", 10.0)]


def test_streaming_session_window_merges_across_microbatches(spark, tmp_path):
    """Session-window state must MERGE across micro-batches: batch 1
    opens a session for user 7 (events 10:00, 10:10); batch 2 extends
    it (10:25 — 15 min gap, inside the 20-min session gap) and opens a
    separate later session (12:00); a far-future batch-3 event pushes
    the watermark so both sessions flush. One merged 3-event session
    + one singleton must come out — not the per-batch fragments."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    indir = tmp_path / "sess_in"
    indir.mkdir()

    def write(path, rows):
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array(
                        [pd.Timestamp(r[1]) for r in rows], pa.timestamp("us")
                    ),
                    "user_id": pa.array([r[2] for r in rows], pa.int64()),
                    "event_type": pa.array(["view"] * len(rows)),
                    "value": pa.array([0.0] * len(rows)),
                    "props": pa.array(["{}"] * len(rows)),
                }
            ),
            str(path),
        )

    write(indir / "a_batch1.parquet", [
        (1, "2024-01-01 10:00:00", 7),
        (2, "2024-01-01 10:10:00", 7),
    ])
    write(indir / "b_batch2.parquet", [
        (3, "2024-01-01 10:25:00", 7),
        (4, "2024-01-01 12:00:00", 7),
    ])
    write(indir / "c_batch3.parquet", [
        (5, "2024-01-02 00:00:00", 99),  # watermark push
    ])
    os.utime(indir / "a_batch1.parquet", (1_000_000, 1_000_000))
    os.utime(indir / "b_batch2.parquet", (2_000_000, 2_000_000))
    os.utime(indir / "c_batch3.parquet", (3_000_000, 3_000_000))

    from kafka_data_explorer_cdc_spark.io import SCHEMAS

    ev = (
        spark.readStream.schema(SCHEMAS["events"])
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir))
    )
    name = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        ev.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "20 minutes"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            F.col("session_window.start").alias("s"),
            F.col("session_window.end").alias("e"),
            "n",
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, str(r.s), str(r.e)): r.n
        for r in spark.table(name).filter(F.col("user_id") == 7).collect()
    }
    assert got == {
        (7, "2024-01-01 10:00:00", "2024-01-01 10:45:00"): 3,
        (7, "2024-01-01 12:00:00", "2024-01-01 12:20:00"): 1,
    }


def test_kafka_source_options_contract():
    """Broker-less pin on the waived Kafka transport (COVERAGE.md §2A):
    the exact option dict the production reader hands to
    readStream.format('kafka') — bootstrap servers, subscribe topic,
    startingOffsets, and the maxOffsetsPerTrigger batch bound mapping
    the reference's flush.size.bytes (adx-sink-config.json:5). The
    load() call needs the spark-sql-kafka package; this contract does
    not, so it runs everywhere."""
    from kafka_data_explorer_cdc_spark.streaming.pipeline import (
        kafka_source_options,
    )

    assert kafka_source_options("broker1:9092,broker2:9092") == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "subscribe": "myserver.inventory.orders_info",
        "startingOffsets": "earliest",
    }
    assert kafka_source_options(
        "b:9092",
        topic="t",
        starting_offsets="latest",
        max_offsets_per_trigger=10_000,
    ) == {
        "kafka.bootstrap.servers": "b:9092",
        "subscribe": "t",
        "startingOffsets": "latest",
        "maxOffsetsPerTrigger": "10000",
    }


def test_s50_watermark_actually_drops_late_rows(spark, sf_dir):
    """The s50 oracle would also pass if the watermark never dropped
    anything AND the oracle mirrored that bug — pin the semantics
    independently: rows kept must be strictly fewer than rows
    delivered (base + heartbeat + redeliveries + restamped copies),
    and the shortfall must be exactly the redelivered rows whose hour
    window closed under max(ts) - 10 min."""
    from kafka_data_explorer_cdc_spark.io import load
    from kafka_data_explorer_cdc_spark.queries import REGISTRY

    out = REGISTRY["s50_stream_late_data_watermark"].fn(spark, sf_dir)
    kept = out.agg(F.sum("n_events")).collect()[0][0]

    ev = load(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts")).collect()[0][0]
    n_base = ev.count()
    n_dupes = ev.filter(F.col("event_id") % 100 == 0).count()
    n_restamped = ev.filter(F.col("event_id") % 97 == 0).count()
    delivered = n_base + 1 + n_dupes + n_restamped  # + heartbeat
    dropped_expected = (
        ev.filter(F.col("event_id") % 100 == 0)
        .filter(
            F.window("ts", "1 hour").getField("end")
            <= F.lit(mx) - F.expr("INTERVAL 10 MINUTES")
        )
        .count()
    )
    assert dropped_expected > 0, "fixture must plant droppable rows"
    assert kept == delivered - dropped_expected


def test_s51_state_crosses_micro_batches(spark):
    """s51's whole point is the automaton carry in the state store: at
    the driver's correctness SF at least one completed sequence must
    START in one time-sliced micro-batch and COMPLETE in a later one
    (verified: 6 such at sf0.01, 68 at sf0.1), and the streamed output
    must equal the batch compiler's (k72) row-for-row."""
    from kafka_data_explorer_cdc_spark.io import load
    from kafka_data_explorer_cdc_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.01"
    out = REGISTRY["s51_stream_sequence_detect"].fn(spark, sf).toPandas()
    batch = REGISTRY["k72_kql_sequence_detect"].fn(spark, sf).toPandas()
    key = lambda df: sorted(  # noqa: E731
        (r.user_id, r.f1_ts, r.f2_ts, r.f3_ts) for r in df.itertuples()
    )
    assert key(out) == key(batch)

    ev = load(spark, sf, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    cuts = [lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3]
    cross = sum(
        1
        for r in out.itertuples()
        if any(r.f1_ts < c <= r.f3_ts for c in cuts)
    )
    assert cross > 0, "no sequence spans a micro-batch boundary"


def test_streaming_space_saving_eviction_and_guarantee(spark):
    """Space-saving under REAL eviction pressure (200 distinct users,
    m=16) across two micro-batches: the heavy user must be tracked
    with bracketing bounds, counters sum to n, and the tracked set is
    exactly m."""
    import os
    import tempfile
    import time

    from pyspark.sql import functions as F

    from kafka_data_explorer_cdc_spark.streaming.stateful import (
        streaming_space_saving,
    )
    from kafka_data_explorer_cdc_spark.streaming.windows import run_to_memory

    # heavy user 7: 200 events; 200 light users: 2 events each
    rows = []
    eid = 0
    for half in range(2):
        for i in range(100):
            rows.append((eid, eid, 7, "click")); eid += 1
        for u in range(100 + half * 100, 200 + half * 100):
            rows.append((eid, eid, u, "click")); eid += 1
            rows.append((eid, eid, u, "click")); eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string"
    )
    d = tempfile.mkdtemp(prefix="ss_")
    n = df.count()
    half_n = n // 2
    df.filter(F.col("event_id") < half_n).coalesce(1).write.parquet(
        os.path.join(d, "a")
    )
    df.filter(F.col("event_id") >= half_n).coalesce(1).write.parquet(
        os.path.join(d, "b")
    )
    # mtime-order the two dirs so batch a precedes b
    now = time.time()
    os.utime(os.path.join(d, "a"), (now - 20, now - 20))
    os.utime(os.path.join(d, "b"), (now - 10, now - 10))
    ev = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d + "/*")
    )
    sink = run_to_memory(
        streaming_space_saving(ev, m=16), output_mode="append"
    ).toPandas()
    final = sink[sink["n_seen"] == sink["n_seen"].max()]
    assert final["n_seen"].iloc[0] == n  # Σ counters == events processed
    assert len(final) == 16  # eviction kept exactly m counters
    hv = final[final["user_id"] == 7]
    assert len(hv) == 1  # heavy hitter guaranteed tracked (200 > n/16)
    c, err = int(hv["c"].iloc[0]), int(hv["err"].iloc[0])
    assert c - err <= 200 <= c  # bracketing bound


def test_cdc_schema_evolution_restart_captures_new_column(spark):
    """The Debezium DDL-evolution upgrade path: run v1, stop, restart
    the SAME state/checkpoint with an evolved after-schema once the
    source table gained a column. The restarted pipeline parses and
    CAPTURES the new column, the sink widens stored state, and
    pre-evolution rows read as null for it — warehouse ADD COLUMN
    semantics."""
    from pyspark.sql import types as T

    from kafka_data_explorer_cdc_spark.cdc.envelope import ORDERS_ROW_SCHEMA
    from kafka_data_explorer_cdc_spark.cdc.generator import (
        expected_final_state,
        generate_change_log,
    )

    log = generate_change_log(n_keys=6, n_ops=24, seed=11)
    indir, state, ckpt = _tmp("evo_in_"), _tmp("evo_state_"), _tmp("evo_ckpt_")
    with open(os.path.join(indir, "v1.jsonl"), "w") as f:
        for env in log:
            f.write(json.dumps(env) + "\n")
    q = start_cdc_pipeline(spark, indir, state, ckpt, available_now=True)
    q.awaitTermination()
    survivors = expected_final_state(log)
    assert "loyalty_tier" not in ParquetStateSink(
        spark, state, ["orderid"]
    ).current().columns

    # DDL on the source: orders gained loyalty_tier; one survivor gets
    # a v2 update envelope carrying it
    victim = sorted(survivors)[0]
    max_lsn = max(e["payload"]["source"]["lsn"] for e in log)
    after = dict(survivors[victim], loyalty_tier="gold")
    upd = {
        "payload": {
            "before": None,
            "after": after,
            "source": {"table": "orders_info", "lsn": max_lsn + 1, "txId": 1,
                       "ts_ms": 0, "version": "x", "connector": "postgresql",
                       "name": "myserver", "snapshot": "false",
                       "db": "postgres", "schema": "inventory", "xmin": None},
            "op": "u",
            "ts_ms": 0,
            "transaction": None,
        }
    }
    with open(os.path.join(indir, "v2.jsonl"), "w") as f:
        f.write(json.dumps(upd) + "\n")
    evolved = T.StructType(
        list(ORDERS_ROW_SCHEMA.fields)
        + [T.StructField("loyalty_tier", T.StringType())]
    )
    q = start_cdc_pipeline(
        spark, indir, state, ckpt, available_now=True, after_schema=evolved
    )
    q.awaitTermination()
    sink = ParquetStateSink(spark, state, ["orderid"])
    final = sink.current()
    assert "loyalty_tier" in final.columns
    rows = {r["orderid"]: r for r in final.collect()}
    assert rows[victim]["loyalty_tier"] == "gold"
    # pre-evolution rows: widened with nulls, values intact
    other = sorted(k for k in rows if k != victim)[0]
    assert rows[other]["loyalty_tier"] is None
    assert rows[other]["city"] == survivors[other]["city"]
    assert sink.dead_letters() is None


def test_timer_sessions_evict_silent_session(spark, tmp_path):
    """s60's operator: a session whose user NEVER returns must be
    emitted by the EVENT-TIME TIMER (hasTimedOut + remove) when
    another key's later events advance the watermark past
    last_event + gap — not by a closing arrival. Also pins the
    in-batch closure path and the per-session stats."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_data_explorer_cdc_spark.io import SCHEMAS
    from kafka_data_explorer_cdc_spark.streaming.stateful import (
        streaming_timer_sessions,
    )

    indir = tmp_path / "timer_in"
    indir.mkdir()

    def write(path, rows):
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array(
                        [pd.Timestamp(r[1]) for r in rows], pa.timestamp("us")
                    ),
                    "user_id": pa.array([r[2] for r in rows], pa.int64()),
                    "event_type": pa.array(["view"] * len(rows)),
                    "value": pa.array([r[3] for r in rows], pa.float64()),
                    "props": pa.array(["{}"] * len(rows)),
                }
            ),
            str(path),
        )

    # batch 1: user 7 has two events 5 min apart (one session), then a
    # third 40 min later (> 20-min gap -> closes the first IN-BATCH and
    # opens a second); user 9 is the watermark mover
    write(indir / "a_batch1.parquet", [
        (1, "2024-01-01 10:00:00", 7, 1.25),
        (2, "2024-01-01 10:05:00", 7, 2.50),
        (3, "2024-01-01 10:45:00", 7, 4.00),
        (4, "2024-01-01 10:00:00", 9, 0.0),
    ])
    # batch 2: ONLY user 9 — advances the watermark to 13:30, far past
    # user 7's open-session timeout (10:45 + 20 min); user 7's second
    # session can only emit via the timer path
    write(indir / "b_batch2.parquet", [
        (5, "2024-01-01 14:00:00", 9, 0.0),
    ])
    os.utime(indir / "a_batch1.parquet", (1_000_000, 1_000_000))
    os.utime(indir / "b_batch2.parquet", (2_000_000, 2_000_000))

    ev = (
        spark.readStream.schema(SCHEMAS["events"])
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir))
        .withWatermark("ts", "30 minutes")
    )
    name = f"timer_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_timer_sessions(ev)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        (r["user_id"], str(r["session_start"])): r
        for r in spark.table(name).collect()
    }
    # in-batch closure: 10:00-10:05, 2 events, 125+250 cents, 300 s gap
    s1 = rows[(7, "2024-01-01 10:00:00")]
    assert s1["n_events"] == 2 and s1["sum_cents"] == 375
    assert str(s1["session_end"]) == "2024-01-01 10:05:00"
    assert s1["max_gap_s"] == 300.0
    # TIMER eviction: the 10:45 singleton emitted with no closing event
    s2 = rows[(7, "2024-01-01 10:45:00")]
    assert s2["n_events"] == 1 and s2["sum_cents"] == 400
    assert s2["max_gap_s"] == 0.0


def test_counter_increase_state_stays_bounded():
    """REGRESSION (round-11 ADVICE): streaming_counter_increase must
    carry the running total MOD modulus in state — the un-modded sum
    grows without bound over the stream's lifetime and eventually
    wraps int64. Kernel invariants across many batches: new_total
    stays in [0, modulus), and the emitted counter path (last_cnt)
    is identical to the one the UN-modded running total produces."""
    import numpy as np

    from kafka_data_explorer_cdc_spark.streaming.stateful import (
        _counter_increase_kernel,
    )

    rng = np.random.default_rng(7)
    modulus = 1_000
    total, last_cnt, seen = 0, 0, 0
    raw_total = 0  # the unbounded twin the old implementation stored
    for _ in range(50):
        vals = rng.uniform(0.0, 50.0, size=64)
        inc, rst, total, last_cnt = _counter_increase_kernel(
            vals, total, last_cnt, seen, modulus
        )
        seen = 1
        step = np.floor(vals * 100.0).astype("int64")
        raw_total += int(step.sum())
        assert 0 <= total < modulus, "state residue must stay bounded"
        assert total == raw_total % modulus
        assert last_cnt == raw_total % modulus  # cnt[-1] == total here
        assert inc.min() >= 0 and set(np.unique(rst)) <= {0, 1}


def test_bottomk_sample_split_invariant(spark, sf_dir):
    """s61's core claim: the bottom-k hash-rank sample is identical
    under ANY micro-batch split — replaying with a DIFFERENT trigger
    size (2 files/batch vs the entry's 1) must yield exactly the batch
    engine's bottom-k, element for element."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kafka_data_explorer_cdc_spark.io import load
    from kafka_data_explorer_cdc_spark.operators.text import poly_hash
    from kafka_data_explorer_cdc_spark.queries.streaming_q import (
        _time_sliced_events_dir,
        run_to_memory,
    )
    from kafka_data_explorer_cdc_spark.streaming.stateful import (
        streaming_bottomk_sample,
    )

    indir = _time_sliced_events_dir(spark, sf_dir)
    schema = load(spark, sf_dir, "events").schema
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")  # different split than s61
        .parquet(indir)
        .withColumn("rnk", F.expr(poly_hash("CAST(event_id AS STRING)")))
    )
    sink = run_to_memory(
        streaming_bottomk_sample(ev, k=32), output_mode="append"
    )
    latest = sink.withColumn(
        "__mx", F.max("n_seen").over(Window.partitionBy("event_type"))
    ).filter(F.col("n_seen") == F.col("__mx"))
    streamed = {
        (r["event_type"], r["pos"]): r["event_id"]
        for r in latest.collect()
    }
    events = load(spark, sf_dir, "events").withColumn(
        "rnk", F.expr(poly_hash("CAST(event_id AS STRING)"))
    )
    w = Window.partitionBy("event_type").orderBy("rnk", "event_id")
    batch = {
        (r["event_type"], r["pos"]): r["event_id"]
        for r in events.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= 32)
        .collect()
    }
    assert streamed == batch and len(streamed) > 0
