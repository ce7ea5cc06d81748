"""Custom arbitrary-stateful streaming operators via
``applyInPandasWithState`` (PySpark's route to hand-written state
machines — ``flatMapGroupsWithState`` is JVM-only; SURVEY.md §7).

The state store holds one Arrow-encodable tuple per key; each
micro-batch delivers that key's new rows as pandas batches, the
callback folds them into state and emits output rows. Keys are
hash-partitioned, state is per-key and checkpointed — the operator
scales horizontally exactly like a streaming aggregation and recovers
from the checkpoint like any built-in stateful op.

Used sparingly by design: windowed aggs, streaming dedup, and
session_window cover the common cases JVM-side (see ``windows.py``);
this surface exists for semantics Catalyst cannot express — running
per-key accumulators with custom emission rules, decaying counters,
cross-event pattern state.

Two operators live here:

- :func:`stateful_running_counts` — the canonical accumulator
  template (per-user running count/sum, emission per touched key).
- :func:`streaming_funnel` — a stream-side range join (click→purchase
  within a horizon) no built-in streaming operator expresses. State
  per user is the clicks still inside the horizon, pruned every
  invocation, so state is O(rate × horizon), not stream length; the
  per-key work is a sorted merge (numpy searchsorted). Correctness
  across micro-batches assumes per-key event-time-ordered arrival
  (true for replayed logs and Kafka partitioned by user); a deployment
  facing disorder puts a watermarked sort-buffer stage in front — the
  state logic is unchanged by that.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)


_UNIT_SECONDS = {"days": 86400, "hours": 3600, "minutes": 60, "seconds": 1}


def _window_seconds(text: str) -> int:
    """Seconds in a ``"<n> <unit>"`` window literal (``"30 minutes"``,
    ``"7 days"``)."""
    qty, unit = text.split()
    return int(qty) * _UNIT_SECONDS[unit]


def _sorted_batch(pdfs, by=("ts", "event_id")) -> pd.DataFrame:
    """The per-group (ts, event_id)-ordered batch, cheaply.

    Every state fn in this module starts with
    ``pd.concat(list(pdfs)).sort_values([...], kind="mergesort")`` —
    per-GROUP pandas overhead paid keys x micro-batches times. This
    helper skips the concat when the group arrived as one Arrow chunk
    (the common case) and sorts via a stable ``np.lexsort`` over the
    key arrays + one ``take`` instead of a whole-DataFrame
    ``sort_values`` — the identical stable order (last key primary),
    roughly a third of the per-call cost on small groups and
    asymptotically cheaper on large ones (two key gathers instead of a
    full-frame sort)."""
    import numpy as np

    chunks = list(pdfs)
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
    if len(pdf) <= 1:
        return pdf
    order = np.lexsort(tuple(pdf[c].to_numpy() for c in reversed(by)))
    if np.array_equal(order, np.arange(len(order))):
        return pdf
    return pdf.take(order)


def _running_counts_fn(
    key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (n_events, total_value) = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n_events += len(pdf)
        total_value += float(pdf["value"].sum())
    state.update((n_events, total_value))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n_events],
            "total_value": [total_value],
        }
    )


def stateful_running_counts(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum) accumulator: every micro-batch
    emits the updated cumulative totals for the users it touched.

    The built-in unbounded streaming aggregation expresses the same
    SUM/COUNT — this exists as the canonical template for state
    machines that aren't aggregations (emission-on-change, custom
    merge logic), with the same scale shape: one shuffle on the key,
    state in the store, no driver involvement."""
    return events.groupBy("user_id").applyInPandasWithState(
        _running_counts_fn,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n_events long, total_value double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: click→purchase horizon, microseconds (10 minutes)
_HORIZON_US = 600_000_000

_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("conversions", LongType()),
    ]
)

def _funnel_fn(
    key: Tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    import numpy as np

    (user_id,) = key
    clicks = list(state.get[0]) if state.exists else []
    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values("ts", kind="mergesort")
    # Unit-safe: pandas may surface the Arrow timestamp[us] column as
    # datetime64[us] (pandas 2 without nanosecond coercion) or
    # datetime64[ns]; converting through datetime64[us] yields epoch
    # micros regardless of the incoming resolution.
    ts_us = rows["ts"].to_numpy().astype("datetime64[us]").astype("int64")
    kinds = rows["event_type"].to_numpy()
    conversions = 0
    click_arr = np.array(clicks, dtype="int64")
    for t, kind in zip(ts_us, kinds):
        if kind == "click":
            click_arr = np.append(click_arr, t)
        elif kind == "purchase":
            # pairs: click strictly before purchase, purchase within
            # [click, click + horizon] — i.e. click in [t - horizon, t)
            lo = np.searchsorted(click_arr, t - _HORIZON_US, side="left")
            hi = np.searchsorted(click_arr, t, side="left")
            conversions += int(hi - lo)
    # prune state to the horizon behind the newest event seen
    if len(ts_us):
        keep_from = ts_us.max() - _HORIZON_US
        click_arr = click_arr[click_arr >= keep_from]
    state.update(([int(x) for x in click_arr],))
    if conversions:
        yield pd.DataFrame(
            {"user_id": [user_id], "conversions": [conversions]}
        )


def streaming_funnel(events: DataFrame) -> DataFrame:
    """Per-user click→purchase conversions within a 10-minute horizon,
    as an incremental stateful stream. Emits (user_id, conversions)
    deltas per micro-batch; downstream sums them per user. Equivalent
    batch form: the b06 range join — the differential gate replays the
    events table through this operator and checks the summed deltas
    against that SQL."""
    from pyspark.sql.types import ArrayType

    state_schema = StructType(
        [StructField("clicks", ArrayType(LongType()))]
    )
    return (
        events.select("user_id", "ts", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _funnel_fn,
            outputStructType=_OUTPUT_SCHEMA,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def transform_with_state_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum) via ``transformWithStateInPandas``
    — the Spark 4.1 typed-state successor to ``applyInPandasWithState``
    (:func:`stateful_running_counts` is the same semantics on the old
    API; both are kept because the two APIs checkpoint differently and
    migrating real pipelines means running both).

    The new API's state is named and typed per variable
    (``getValueState`` here; list/map state and event-time timers exist
    for richer machines) and supports TTL — at scale that replaces the
    hand-rolled pruning the old-API funnel does manually. Same scale
    shape as any streaming aggregation: one shuffle on the key, state
    store per partition, no driver involvement.

    ENVIRONMENT-GATED: the API's driver worker needs a working
    ``google.protobuf`` (absent in this container — import fails with
    "cannot import name 'descriptor'"), so there is no registry entry
    (the driver gate would record a spurious error); the differential
    test in tests/test_streaming.py skips unless protobuf imports.
    The semantics it would verify are s28-shaped: last Update-mode
    emission per user == batch GROUP BY count/sum."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState(
                "agg", "n_events long, total_value double"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._agg.exists():
                n_events, total_value = self._agg.get()
            else:
                n_events, total_value = 0, 0.0
            for pdf in rows:
                n_events += len(pdf)
                total_value += float(pdf["value"].sum())
            self._agg.update((n_events, total_value))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n_events],
                    "total_value": [total_value],
                }
            )

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            RunningTotals(),
            outputStructType="user_id long, n_events long, total_value double",
            outputMode="Update",
            timeMode="None",
        )
    )


#: last-touch attribution lookback, microseconds (7 days)
_LOOKBACK_US = 7 * 86_400 * 1_000_000


def _last_touch_fn(
    key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    touch_type, touch_us = state.get if state.exists else (None, None)
    # Match the batch twin's (ts, event_id) tie order exactly.
    rows = _sorted_batch(pdfs)
    ts_us = rows["ts"].to_numpy().astype("datetime64[us]").astype("int64")
    kinds = rows["event_type"].to_numpy()
    values = rows["value"].to_numpy()
    out_channel, out_value = [], []
    for t, kind, v in zip(ts_us, kinds, values):
        if kind == "purchase":
            if touch_us is not None and t - touch_us <= _LOOKBACK_US:
                out_channel.append(touch_type)
            else:
                out_channel.append("direct")
            out_value.append(float(v))
        else:
            touch_type, touch_us = str(kind), int(t)
    state.update((touch_type, touch_us))
    if out_channel:
        yield pd.DataFrame({"channel": out_channel, "value": out_value})


def streaming_last_touch(events: DataFrame) -> DataFrame:
    """Last-touch attribution as an incremental stateful stream: per
    user the state is ONE (touch_type, touch_ts) pair — the most recent
    non-purchase event seen — and each purchase is emitted credited to
    that carry if it lies within the 7-day lookback, else 'direct'.
    The streaming twin of the batch b87 window (last(ignorenulls) over
    UNBOUNDED PRECEDING..1 PRECEDING): identical semantics, O(1) state
    per user instead of a window over history — the shape a real-time
    marketing-attribution pipeline runs on the live event bus.

    Same ordered-arrival contract as :func:`streaming_funnel` (per-key
    event-time order across micro-batches; a watermarked sort buffer in
    front handles true disorder); within a batch rows are sorted by
    (ts, event_id), the batch twin's exact tie order."""
    from pyspark.sql.types import DoubleType, StringType

    state_schema = StructType(
        [
            StructField("touch_type", StringType()),
            StructField("touch_us", LongType()),
        ]
    )
    out_schema = StructType(
        [
            StructField("channel", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    return (
        events.select("user_id", "ts", "event_id", "event_type", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _last_touch_fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_sequence_detect(
    events: DataFrame,
    steps: tuple = ("view", "click", "purchase"),
    step_win: str = "24 hours",
    span_win: str = "96 hours",
) -> DataFrame:
    """k72's windowed sequence automaton as an incremental stateful
    STREAM (``evaluate sequence_detect``'s streaming twin): per user,
    greedy non-overlapping matching of the step event types where each
    step arrives within ``step_win`` of the previous matched step and
    within ``span_win`` of the first; one output row per completed
    sequence with the per-step timestamps, emitted in the micro-batch
    that completes it.

    State per key is the automaton carry alone — (current step,
    first-step ts, previous-step ts, intermediate stamps) as int64
    micros, a FIXED-width tuple regardless of stream length or event
    rate: the provably-bounded-state property that makes this operator
    deployable on an unbounded 100 TB/day stream (contrast the
    streaming_funnel above, whose state is O(rate x horizon)).

    Ordering contract (same as streaming_funnel, documented there):
    per-key event-time-ordered arrival across micro-batches; rows
    WITHIN a batch are sorted here. The s51 gate replays time-sliced
    files so the contract holds by construction and the output is
    value-identical to the batch compiler's (k72's recursive-CTE
    oracle verifies both)."""
    import numpy as np

    from pyspark.sql.types import TimestampType

    n = len(steps)
    if n != 3:
        raise ValueError("streaming_sequence_detect: pinned to 3 steps")
    out_schema = StructType(
        [StructField("user_id", LongType())]
        + [StructField(f"f{i + 1}_ts", TimestampType()) for i in range(n)]
    )
    state_schema = StructType(
        [
            StructField("cur", LongType()),
            StructField("t1", LongType()),
            StructField("tprev", LongType()),
            StructField("s2", LongType()),
        ]
    )

    step_us = _window_seconds(step_win) * 1_000_000
    span_us = _window_seconds(span_win) * 1_000_000

    def fn(key, pdfs, state: GroupState):
        cur, t1, tprev, s2 = state.get if state.exists else (0, -1, -1, -1)
        # stable mergesort + event_id tie-break: duplicate per-key
        # timestamps would otherwise make the automaton's matches
        # nondeterministic (the k72 batch twin and the s51 oracle both
        # order by ts, event_id).
        pdf = _sorted_batch(pdfs)
        ts = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        et = pdf["event_type"].to_numpy()
        rows = []
        for i in range(len(pdf)):
            t = int(ts[i])
            for _retry in (0, 1):
                if et[i] != steps[cur]:
                    break
                if cur > 0 and (t - tprev > step_us or t - t1 > span_us):
                    cur, t1, tprev, s2 = 0, -1, -1, -1
                    continue
                if cur == 0:
                    t1 = t
                elif cur == 1:
                    s2 = t
                tprev = t
                cur += 1
                if cur == n:
                    rows.append((key[0], t1, s2, t))
                    cur, t1, tprev, s2 = 0, -1, -1, -1
                break
        state.update((int(cur), int(t1), int(tprev), int(s2)))
        out = pd.DataFrame(
            rows, columns=["user_id", "f1_ts", "f2_ts", "f3_ts"]
        )
        for c in ("f1_ts", "f2_ts", "f3_ts"):
            out[c] = pd.to_datetime(out[c], unit="us")
        yield out

    return (
        events.select("user_id", "ts", "event_type", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_space_saving(
    events: DataFrame,
    m: int = 64,
    key_col: str = "event_type",
    item_col: str = "user_id",
) -> DataFrame:
    """Streaming heavy hitters via the SPACE-SAVING summary (Metwally
    et al. 2005) — per key, at most ``m`` (item, count, err) counters
    whatever the item cardinality or stream length: the provably-
    bounded-state top-k/frequency operator for unbounded streams
    (d27's frequent-items sketch is the batch twin; this is the live
    form with cross-batch state carry).

    Each micro-batch is PRE-AGGREGATED to per-item weights first
    (vectorized value_counts), then folded with the WEIGHTED update —
    space-saving summaries are mergeable, so folding per-batch counts
    is exactly equivalent in guarantee to per-event updates: tracked
    ``c`` overestimates the true count by at most ``err``
    (c - err <= true <= c), and every item with true count > n/m is
    tracked. The sequential loop is over the batch's DISTINCT items
    (deterministic user_id order), never per event.

    Emission: the full counter table per touched key each batch,
    stamped with ``n_seen`` = Σ counters (= events processed, the
    space-saving invariant) so a sink read selects the newest summary
    per key by max n_seen. State is three m-length arrays per key.

    Scale: keys hash-partition across executors like any streaming
    agg; a SINGLE hot key is the documented limit of the per-key form
    — there you run per-PARTITION summaries and merge at read (the
    same mergeability exploited here per batch)."""
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField(key_col, StringType()),
            StructField("n_seen", LongType()),
            StructField(item_col, LongType()),
            StructField("c", LongType()),
            StructField("err", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("users", ArrayType(LongType())),
            StructField("counts", ArrayType(LongType())),
            StructField("errs", ArrayType(LongType())),
        ]
    )

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            users, counts, errs = state.get
            d = {
                int(u): [int(c), int(e)]
                for u, c, e in zip(users, counts, errs)
            }
        else:
            d = {}
        for pdf in pdfs:
            # mergeable weighted fold: batch pre-aggregated to
            # per-item counts, deterministic item order
            vc = pdf[item_col].value_counts().sort_index()
            for u, w in vc.items():
                u, w = int(u), int(w)
                if u in d:
                    d[u][0] += w
                elif len(d) < m:
                    d[u] = [w, 0]
                else:
                    mn = min(d, key=lambda k: (d[k][0], k))
                    mu = d[mn][0]
                    del d[mn]
                    d[u] = [mu + w, mu]
        items = sorted(d)
        state.update(
            (
                [int(u) for u in items],
                [int(d[u][0]) for u in items],
                [int(d[u][1]) for u in items],
            )
        )
        n_seen = sum(v[0] for v in d.values())
        yield pd.DataFrame(
            {
                key_col: key[0],
                "n_seen": n_seen,
                item_col: items,
                "c": [d[u][0] for u in items],
                "err": [d[u][1] for u in items],
            }
        )

    return (
        events.select(key_col, item_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_multitouch_attribution(
    events: DataFrame,
    horizon: str = "7 days",
    touch_types: tuple = ("view", "click", "signup"),
) -> DataFrame:
    """b119's U-shaped multi-touch attribution as an incremental
    stateful STREAM: per user, the touch buffer inside the attribution
    horizon is the ONLY state (O(rate × horizon), the streaming_funnel
    bound — pruned every event), and each arriving purchase emits its
    credit rows (channel, integer-micro credit) in the micro-batch
    that contains it.

    Credit math mirrors the batch compiler EXACTLY — 40/20/40 first/
    middle/last with the 1-touch=100% and 2-touch=50/50 degenerate
    forms, strict ``touch.ts < purchase.ts``, inclusive 7-day lookback,
    and HALF-UP micro quantization — so the b119 DuckDB oracle verifies
    the state machine value-exactly (the s51/k72 unified-engine
    contract: one closed-form answer for both engines).

    Ordering contract: per-key event-time-ordered arrival across
    micro-batches (time-sliced replay / Kafka keyed by user);
    within-batch rows are sorted here with the event_id tie-break."""
    import math

    n_ = len(touch_types)
    out_schema = StructType(
        [
            StructField("channel", StringType()),
            StructField("cr", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("ts", ArrayType(LongType())),
            StructField("ch", ArrayType(StringType())),
        ]
    )

    hor_us = _window_seconds(horizon) * 1_000_000
    touch_set = set(touch_types)

    def fn(key, pdfs, state: GroupState):
        buf_ts, buf_ch = ([], [])
        if state.exists:
            t0, c0 = state.get
            buf_ts, buf_ch = list(t0), list(c0)
        rows = []
        pdf = _sorted_batch(pdfs)
        ts = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        et = pdf["event_type"].to_numpy()
        val = pdf["value"].to_numpy()
        for i in range(len(pdf)):
            t = int(ts[i])
            # prune to the horizon (inclusive lower bound)
            lo = t - hor_us
            k = 0
            while k < len(buf_ts) and buf_ts[k] < lo:
                k += 1
            if k:
                buf_ts, buf_ch = buf_ts[k:], buf_ch[k:]
            if et[i] in touch_set:
                buf_ts.append(t)
                buf_ch.append(et[i])
            elif et[i] == "purchase":
                idx = [j for j in range(len(buf_ts)) if buf_ts[j] < t]
                n = len(idx)
                if n:
                    v = float(val[i])
                    for pos, j in enumerate(idx):
                        if n == 1:
                            w = 1.0
                        elif n == 2:
                            w = 0.5
                        elif pos == 0 or pos == n - 1:
                            w = 0.4
                        else:
                            w = 0.2 / (n - 2)
                        rows.append(
                            (buf_ch[j],
                             int(math.floor((v * w) * 1e6 + 0.5)))
                        )
        state.update((buf_ts, buf_ch))
        yield pd.DataFrame(rows, columns=["channel", "cr"])

    return (
        events.select("user_id", "ts", "event_type", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_cusum(
    events: DataFrame,
    mu0: float = 50.0,
    slack: float = 5.0,
    threshold: float = 250.0,
    key_col: str = "event_type",
    val_col: str = "value",
) -> DataFrame:
    """Streaming CUSUM change-point detection (Page 1954): per key,
    the one-sided statistic S_t = max(0, S_{t-1} + x_t - mu0 - slack)
    tracked live, emitting one row per THRESHOLD UP-CROSSING (S_t >
    h while S_{t-1} <= h) — the sparse alarm form that a monitoring
    pipeline acts on (no reset, so the statistic's closed form
    S_t = P_t - min_{j<=t} P_j over the prefix sums P makes the WHOLE
    operator SQL-expressible for the oracle: a windowed cumsum +
    running min + lag, no recursion).

    State per key is THREE doubles — (prefix sum, running min of
    prefix sums, previous statistic) — fixed width regardless of
    stream length or rate, the provably-bounded-state property.
    fp contract: the per-key accumulation is a strictly sequential
    left fold in (ts, event_id) order on both the stream (numpy
    cumsum over sorted batches + carried prefix) and the oracle
    (ordered window SUM), so statistics agree bit-for-bit.

    Ordering contract: per-key event-time-ordered arrival across
    micro-batches (same as every operator in this module); rows
    within a batch are sorted here."""
    import numpy as np

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
        StringType,
    )

    out_schema = StructType(
        [
            StructField(key_col, StringType()),
            StructField("ts", TimestampType()),
            StructField("event_id", LongType()),
            StructField("stat", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("p", DoubleType()),
            StructField("runmin", DoubleType()),
            StructField("prev", DoubleType()),
        ]
    )

    def fn(key, pdfs, state: GroupState):
        p, runmin, prev = state.get if state.exists else (0.0, 0.0, 0.0)
        pdf = _sorted_batch(pdfs)
        x = pdf[val_col].to_numpy(dtype="float64")
        if len(x):
            # strictly sequential folds (ufunc.accumulate), bit-equal
            # to the oracle's ordered window SUM / running MIN
            # carry rides INSIDE the accumulate so the fold order is
            # (((p + y1) + y2) + ...), identical to the oracle's
            # single stream-long running sum
            ps = np.add.accumulate(
                np.concatenate(([p], x - mu0 - slack))
            )[1:]
            rm = np.minimum(runmin, np.minimum.accumulate(ps))
            stat = ps - rm
            prev_arr = np.concatenate(([prev], stat[:-1]))
            hit = (stat > threshold) & (prev_arr <= threshold)
            out = pdf.loc[hit, ["ts", "event_id"]].copy()
            out.insert(0, key_col, key[0])
            out["stat"] = stat[hit]
            p, runmin, prev = float(ps[-1]), float(rm[-1]), float(stat[-1])
        else:
            out = pd.DataFrame(
                columns=[key_col, "ts", "event_id", "stat"]
            )
        state.update((p, runmin, prev))
        yield out

    return (
        events.select(key_col, "ts", "event_id", val_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _counter_increase_kernel(values, total, last_cnt, seen, modulus):
    """One vectorized batch step of counter-increase extraction,
    module-level so the state-bound contract is unit-testable
    (tests/test_streaming.py): given the batch's value column (sorted,
    float64 ndarray) and the carried state, return
    ``(inc, rst, new_total, new_last_cnt)``.

    State keeps the running total MOD ``modulus``: ``cnt`` only ever
    reads ``(total + acc) % modulus``, so the residue is sufficient —
    and the un-modded running sum would grow without bound over the
    stream's lifetime (silent int64 wrap on a long-running counter).
    Invariant: ``0 <= new_total < modulus`` whatever the stream length.
    """
    import numpy as np

    step = np.floor(values * 100.0).astype("int64")
    cnt = (total + np.add.accumulate(step)) % modulus
    prev = np.concatenate(([last_cnt], cnt[:-1]))
    delta = cnt - prev
    first = np.zeros(len(cnt), dtype=bool)
    if not seen:
        first[0] = True
    inc = np.where(delta >= 0, delta, cnt)
    inc = np.where(first, 0, inc)
    rst = ((delta < 0) & ~first).astype("int64")
    new_total = int((total + int(step.sum())) % modulus)
    return inc, rst, new_total, int(cnt[-1])


def streaming_counter_increase(
    events: DataFrame,
    modulus: int = 10_000_000,
    key_col: str = "event_type",
) -> DataFrame:
    """Prometheus-style counter-increase extraction (the ``increase``
    / ``rate`` primitive): the stream carries a monotonic counter
    that occasionally RESETS (process restart); the operator emits,
    per event, the reset-adjusted increment — delta when the counter
    moved forward, the new counter value after a reset (counting from
    0, the Prometheus convention), 0 for a key's first-ever sample.
    Windowed rates are then an ordinary rollup of the emitted rows.

    The counter here is derived deterministically from the value
    column (floor(value*100) running total mod ``modulus``) so the
    batch SQL twin replays it exactly; a real deployment reads the
    counter off the wire and keeps ONLY this operator's state: three
    BOUNDED int64s per key — (running total mod modulus, last
    counter, seen) — whatever the stream length. Per-batch work is one accumulate + one diff
    (no per-row Python). Ordering contract as per this module."""
    import numpy as np

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField(key_col, StringType()),
            StructField("ts", TimestampType()),
            StructField("event_id", LongType()),
            StructField("inc", LongType()),
            StructField("rst", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("total", LongType()),
            StructField("last_cnt", LongType()),
            StructField("seen", LongType()),
        ]
    )

    def fn(key, pdfs, state: GroupState):
        total, last_cnt, seen = (
            state.get if state.exists else (0, 0, 0)
        )
        pdf = _sorted_batch(pdfs)
        if len(pdf):
            inc, rst, total, last_cnt = _counter_increase_kernel(
                pdf["value"].to_numpy(dtype="float64"),
                total,
                last_cnt,
                seen,
                modulus,
            )
            out = pdf[["ts", "event_id"]].copy()
            out.insert(0, key_col, key[0])
            out["inc"] = inc
            out["rst"] = rst
            seen = 1
        else:
            out = pd.DataFrame(
                columns=[key_col, "ts", "event_id", "inc", "rst"]
            )
        state.update((total, last_cnt, seen))
        yield out

    return (
        events.select(key_col, "ts", "event_id", "value")
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_timer_sessions(
    events: DataFrame,
    gap_minutes: int = 20,
    key_col: str = "user_id",
) -> DataFrame:
    """Custom sessionization with EVENT-TIME TIMER eviction — the one
    arbitrary-state facility the other operators in this module don't
    exercise: a session that never sees another event is closed by
    ``state.hasTimedOut`` when the watermark passes last_event + gap
    (``GroupStateTimeout.EventTimeTimeout`` +
    ``state.setTimeoutTimestamp``), not by a later arrival. This is
    how a production session store bounds itself: idle keys are
    EVICTED BY TIMER, so state is O(active users in the gap horizon)
    even when users never return. Sessions closed by a later event
    emit in that batch; sessions closed by silence emit in the batch
    whose watermark passes them.

    Versus the built-in ``session_window`` (s45): same windows, but
    the custom state carries per-session stats the built-in aggregate
    can't express together — exact integer value cents, the maximum
    intra-session gap, and the event count — and the emission rule is
    explicit timer logic, unit-testable against the batch islands
    twin. Break contract: a gap STRICTLY greater than ``gap_minutes``
    starts a new session (mirrored in the oracle).

    Per-batch work is vectorized islands (one diff + cumsum +
    reduceat per key-batch — no per-row Python); the requirement is
    the module's usual per-key ordered arrival. Callers must put
    ``withWatermark`` on the stream — EventTimeTimeout needs it."""
    import numpy as np

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    gap_us = gap_minutes * 60 * 1_000_000

    out_schema = StructType(
        [
            StructField(key_col, LongType()),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_events", LongType()),
            StructField("sum_cents", LongType()),
            StructField("max_gap_s", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("st", LongType()),
            StructField("last", LongType()),
            StructField("n", LongType()),
            StructField("cents", LongType()),
            StructField("mg", LongType()),
        ]
    )

    def _row(uid, st, last, n, cents, mg):
        return (
            uid,
            pd.Timestamp(st, unit="us"),
            pd.Timestamp(last, unit="us"),
            int(n),
            int(cents),
            float(mg) / 1e6,
        )

    cols = [
        key_col, "session_start", "session_end",
        "n_events", "sum_cents", "max_gap_s",
    ]

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            st, last, n, cents, mg = state.get
            state.remove()
            yield pd.DataFrame(
                [_row(key[0], st, last, n, cents, mg)], columns=cols
            )
            return
        pdf = _sorted_batch(pdfs)
        ts = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        cents = np.floor(
            pdf["value"].to_numpy(dtype="float64") * 100.0
        ).astype("int64")
        carried = state.exists
        if carried:
            c_st, c_last, c_n, c_cents, c_mg = state.get
            ts = np.concatenate(([c_last], ts))
            cents = np.concatenate(([0], cents))
        diffs = np.diff(ts)
        brk = diffs > gap_us
        # group starts: index 0 plus every break position + 1
        starts = np.concatenate(([0], np.flatnonzero(brk) + 1))
        ends = np.concatenate((starts[1:], [len(ts)]))
        rows = []
        st_ = last_ = n_ = cents_ = mg_ = 0
        for gi, (a, b) in enumerate(zip(starts, ends)):
            g_ts = ts[a:b]
            g_gaps = diffs[a : b - 1]  # intra-group gaps only
            g_mg = int(g_gaps.max()) if len(g_gaps) else 0
            if gi == 0 and carried:
                # continuation (or bare carry if brk right after it):
                # the carried pseudo-row is g_ts[0]
                st_ = c_st
                n_ = c_n + (b - a - 1)
                cents_ = c_cents + int(cents[a + 1 : b].sum())
                mg_ = max(c_mg, g_mg)
            else:
                st_ = int(g_ts[0])
                n_ = b - a
                cents_ = int(cents[a:b].sum())
                mg_ = g_mg
            last_ = int(g_ts[-1])
            if gi < len(starts) - 1:
                rows.append(_row(key[0], st_, last_, n_, cents_, mg_))
        state.update((int(st_), int(last_), int(n_), int(cents_), int(mg_)))
        state.setTimeoutTimestamp(last_ // 1000 + gap_minutes * 60 * 1000)
        yield pd.DataFrame(rows, columns=cols)

    return (
        events.select(key_col, "ts", "event_id", "value")
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_bottomk_sample(
    events: DataFrame,
    k: int = 32,
    key_col: str = "event_type",
    rank_col: str = "rnk",
    item_col: str = "event_id",
) -> DataFrame:
    """Deterministic streaming reservoir — the BOTTOM-K HASH-RANK
    sample (the KMV/bottom-k sketch used as a sampler): per key, keep
    the k stream elements with the smallest portable-hash rank
    (ties by item id). Because the rank is a pure function of the
    element, the sample is ORDER- AND SPLIT-INVARIANT: any micro-batch
    partitioning of the stream yields exactly the batch engine's
    bottom-k — a uniform sample that is VALUE-EXACT under a
    differential oracle, unlike rand()-based reservoirs (d44/d31 are
    the batch at-rest twins; this is the live form with cross-batch
    min-k state carry).

    State per key: two k-length arrays (ranks, items) plus the seen
    count — O(k) whatever the stream length or cardinality. Per-batch
    work is one vectorized nsmallest over state ∪ batch. Emission:
    the full current sample per touched key each batch, stamped with
    cumulative ``n_seen`` so a sink read selects the newest per key
    by max n_seen (the s55 convention)."""
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField(key_col, StringType()),
            StructField("n_seen", LongType()),
            StructField("pos", LongType()),
            StructField(item_col, LongType()),
            StructField(rank_col, LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("ranks", ArrayType(LongType())),
            StructField("items", ArrayType(LongType())),
            StructField("seen", LongType()),
        ]
    )

    def fn(key, pdfs, state: GroupState):
        import numpy as np

        if state.exists:
            ranks, items, seen = state.get
            pairs = list(zip(ranks, items))
        else:
            pairs, seen = [], 0
        for pdf in pdfs:
            seen += len(pdf)
            pairs.extend(
                zip(
                    pdf[rank_col].astype("int64"),
                    pdf[item_col].astype("int64"),
                )
            )
            # min-k of a union is associative/commutative — fold per
            # batch, keep k
            pairs = sorted((int(r), int(i)) for r, i in pairs)[:k]
        state.update(
            (
                [r for r, _ in pairs],
                [i for _, i in pairs],
                int(seen),
            )
        )
        yield pd.DataFrame(
            {
                key_col: key[0],
                "n_seen": int(seen),
                "pos": np.arange(1, len(pairs) + 1, dtype="int64"),
                item_col: pd.Series(
                    [i for _, i in pairs], dtype="int64"
                ),
                rank_col: pd.Series(
                    [r for r, _ in pairs], dtype="int64"
                ),
            }
        )

    return (
        events.select(key_col, rank_col, item_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
