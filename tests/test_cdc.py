"""CDC-replay tests (SURVEY.md §5.2): a deterministic Debezium-envelope
fixture with c/u/d ops and at-least-once duplicate deliveries, decoded
the pipeline's way (parse → unwrap → flatten_after) and applied through
``latest_state`` and through the pipeline's own state sink
(``ParquetStateSink.apply_batch``), compared against a pure-Python
"apply the log" oracle (``cdc/generator.expected_final_state``). The
hypothesis properties draw the log, its split into micro-batches, their
order and the sink's bucket count at random.
"""

from __future__ import annotations

import random
import shutil
import tempfile

import pytest

from kafka_data_explorer_cdc_spark.cdc import (
    flatten_after,
    latest_state,
    parse_envelope,
    unwrap,
)
from kafka_data_explorer_cdc_spark.cdc.generator import (
    change_log_df,
    expected_final_state,
    generate_change_log,
)
from kafka_data_explorer_cdc_spark.streaming.pipeline import ParquetStateSink


def _flat(spark, log):
    """The change rows of ``log``, decoded as the pipeline decodes."""
    return flatten_after(unwrap(parse_envelope(change_log_df(spark, log))))


@pytest.fixture(scope="module")
def log():
    return generate_change_log(n_keys=50, n_ops=300, seed=42)


@pytest.fixture(scope="module")
def flat(spark, log):
    return _flat(spark, log).cache()


def _as_state_dict(df):
    return {
        r["orderid"]: {
            "orderid": r["orderid"],
            "custid": r["custid"],
            "amount": r["amount"],
            "city": r["city"],
        }
        for r in df.select("orderid", "custid", "amount", "city").collect()
    }


def test_fixture_covers_all_ops(log):
    ops = {e["payload"]["op"] for e in log}
    assert ops == {"c", "u", "d"}
    lsns = [e["payload"]["source"]["lsn"] for e in log]
    assert len(lsns) != len(set(lsns)), "fixture must contain duplicate deliveries"


def test_latest_state_matches_python_oracle(flat, log):
    got = _as_state_dict(latest_state(flat, ["orderid"]))
    assert got == expected_final_state(log)


def test_batch_merge_equals_full_replay(spark, flat, log, tmp_path):
    """Splitting the log into micro-batches and merging each through the
    sink must equal the one-shot replay — the exactly-once-via-
    idempotence story.
    """
    sink = ParquetStateSink(spark, str(tmp_path), ["orderid"])
    n = flat.count()
    cuts = [0, n // 3, 2 * n // 3, n]
    ordered = flat.orderBy("lsn").collect()
    for batch_id, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
        sink.apply_batch(spark.createDataFrame(ordered[lo:hi], flat.schema), batch_id)
    assert _as_state_dict(sink.current()) == expected_final_state(log)


def test_batch_merge_idempotent_on_replay(spark, flat, log, tmp_path):
    """Re-delivering an entire batch (at-least-once) must not change
    state, and a batch the caller cached keeps its cache."""
    level = flat.storageLevel
    assert level.useMemory, "the module fixture is cached"
    sink = ParquetStateSink(spark, str(tmp_path), ["orderid"])
    sink.apply_batch(flat, 0)
    sink.apply_batch(flat, 1)
    assert flat.storageLevel == level
    assert _as_state_dict(sink.current()) == expected_final_state(log)


def test_delete_tombstones_removed(flat, log):
    deleted = {
        e["payload"]["before"]["orderid"]
        for e in log
        if e["payload"]["op"] == "d"
    } - set(expected_final_state(log))
    final_keys = {
        r["orderid"] for r in latest_state(flat, ["orderid"]).select("orderid").collect()
    }
    assert final_keys.isdisjoint(deleted)


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False


if HAVE_HYPOTHESIS:

    def _live_state(sink):
        live = sink.current()
        if live is None:
            return {}
        return {
            r["orderid"]: (r["custid"], r["amount"], r["city"])
            for r in live.collect()
        }

    def _replayed(log):
        return {
            k: (v["custid"], v["amount"], v["city"])
            for k, v in expected_final_state(log).items()
        }

    @given(
        seed=st.integers(min_value=0, max_value=2**31 - 1),
        n_keys=st.integers(min_value=1, max_value=30),
        n_ops=st.integers(min_value=1, max_value=120),
        split=st.floats(min_value=0.1, max_value=0.9),
        n_buckets=st.integers(min_value=1, max_value=4),
    )
    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_property_incremental_merge_equals_python_replay(
        spark, seed, n_keys, n_ops, split, n_buckets
    ):
        """Property: for ANY generated change log, applying it in two
        arbitrary-size micro-batches through the sink equals the
        pure-Python sequential replay — key invariant of the CDC sink
        (order within batches, cross-batch boundaries, delete handling,
        duplicate delivery and bucket count all drawn at random)."""
        log = generate_change_log(n_keys=n_keys, n_ops=n_ops, seed=seed)
        cut = max(1, int(len(log) * split))
        # a fresh root per example: function-scoped fixtures are not
        # reset between hypothesis examples
        root = tempfile.mkdtemp(prefix="cdc_prop_")
        try:
            sink = ParquetStateSink(spark, root, ["orderid"], n_buckets=n_buckets)
            chunks = [c for c in (log[:cut], log[cut:]) if c]
            for batch_id, chunk in enumerate(chunks):
                sink.apply_batch(_flat(spark, chunk), batch_id)
            assert _live_state(sink) == _replayed(log)
        finally:
            shutil.rmtree(root, ignore_errors=True)

    @given(
        seed=st.integers(min_value=0, max_value=2**31 - 1),
        n_keys=st.integers(min_value=1, max_value=25),
        n_ops=st.integers(min_value=1, max_value=100),
        n_chunks=st.integers(min_value=2, max_value=5),
        perm_seed=st.integers(min_value=0, max_value=2**31 - 1),
        n_buckets=st.integers(min_value=1, max_value=4),
    )
    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_property_shuffled_batches_converge(
        spark, seed, n_keys, n_ops, n_chunks, perm_seed, n_buckets
    ):
        """Property: applying the micro-batches through the sink in ANY
        order converges to the same final state as the in-order Python
        replay, and re-delivering one of them under a new batch id
        changes nothing. This is the invariant the round-2
        tombstone-retention bug violated: without stored tombstones, a
        delete in an early batch is resurrected by a lower-lsn event
        delivered later. Micro-batch boundaries give no cross-batch
        ordering guarantee (file listing ties, Kafka partition
        interleave), so order-insensitivity is the correctness bar, not
        a nice-to-have."""
        log = generate_change_log(n_keys=n_keys, n_ops=n_ops, seed=seed)
        k = min(n_chunks, len(log))
        bounds = [round(i * len(log) / k) for i in range(k + 1)]
        chunks = [log[lo:hi] for lo, hi in zip(bounds, bounds[1:]) if hi > lo]
        rng = random.Random(perm_seed)
        rng.shuffle(chunks)
        want = _replayed(log)
        root = tempfile.mkdtemp(prefix="cdc_prop_")
        try:
            sink = ParquetStateSink(spark, root, ["orderid"], n_buckets=n_buckets)
            for batch_id, chunk in enumerate(chunks):
                sink.apply_batch(_flat(spark, chunk), batch_id)
            assert _live_state(sink) == want
            sink.apply_batch(_flat(spark, rng.choice(chunks)), len(chunks))
            assert _live_state(sink) == want
        finally:
            shutil.rmtree(root, ignore_errors=True)
