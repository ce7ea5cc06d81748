"""One benchmark workload, run in its own process by ``run.py``.

Usage (normally only through run.py, which sets the environment)::

    python3 cdcbench/workload.py --workload cdc_ingest --seed 1 \
        --seconds 10 --trace 0 --run-dir <dir> --t0 <monotonic> --out <json>

The process keeps its files inside ``--run-dir`` (run.py points
TMPDIR, ``SPARK_LOCAL_DIRS`` and ``java.io.tmpdir`` there), builds its
inputs from the seed, sets up, runs the timed closed loop (one client),
checks every result against an oracle and writes one JSON document to
``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys
import time
from dataclasses import dataclass, field
from typing import Callable

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
import tracing  # noqa: E402

# cdc_ingest drains this many one-file micro-batches per --seconds. The
# count is fixed by the arguments, not by the speed of the program, so
# both sides of a comparison do the same work.
CDC_FILES_PER_SECOND = 1.0
CDC_EVENTS_PER_FILE = 1000
# interactive times this many whole passes per --seconds; a pass takes
# about 4 s on 4 cores.
PASSES_PER_SECOND = 0.3
# interactive's state backlog: ingested once in set-up.
STATE_FILES, STATE_EVENTS_PER_FILE = 6, 1000
# Scale of the star-schema tables the registry entries read.
TABLES_SF = 0.01

GOLDEN_KQL = {
    "golden_avg_sales": "Orders\n| summarize avg_sales = avg(amount) by city \n| render columnchart",
    "golden_total_sales": "Orders \n| summarize total = sum(amount) by city \n| sort by total\n| render piechart ",
    "golden_order_counts": "Orders\n| summarize orders_cnt = count() by city\n| sort by orders_cnt\n| render linechart   ",
    "golden_top5": "Orders | top 5 by orderid",
}
INTERACTIVE_ENTRIES = [
    "k17_kql_filtered_pipeline",
    "k76_kql_series_periods_detect",
    "k81_kql_series_fit_2lines",
    "k106_kql_geohash",
    "a13_recent_orders_topk",
    "a14_avg_sales_by_city",
    "b03_join_broadcast",
]
_MODULE_LAYER = {"kql_q": "kql", "relational": "relational", "reference": "reference"}


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    run_dir: str
    spans: object
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    def path(self, *p: str) -> str:
        return os.path.join(self.run_dir, *p)

    def fail(self, n: int, why: str) -> None:
        self.failed += n
        self.notes.append(why)


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _release(spark) -> None:
    from kafka_data_explorer_cdc_spark.kql import kql_unpersist_caches

    spark.catalog.clearCache()
    kql_unpersist_caches()


# ---------------------------------------------------------------- cdc_ingest


class _TimedSink:
    """Wraps the state sink so each ``apply_batch`` is a span."""

    def __init__(self, inner, spans, parent):
        self.inner, self.spans, self.parent = inner, spans, parent
        self.batches: list[tuple[int, int]] = []

    def apply_batch(self, batch, batch_id):
        with self.spans.span("sink.apply_batch", parent=self.parent) as sid:
            self.inner.apply_batch(batch, batch_id)
        self.batches.append((batch_id, sid))


def _drain(ctx: Ctx, backlog: inputs.Backlog, tag: str):
    """Write ``backlog`` and drain it with ``start_cdc_pipeline``, one
    file per micro-batch. Returns the sink, the query, the drain's wall
    time and, when traced, ``(batch_id, span id)`` per micro-batch."""
    from kafka_data_explorer_cdc_spark.streaming.pipeline import (
        ParquetStateSink,
        start_cdc_pipeline,
    )

    indir, state, ckpt = ctx.path(tag, "in"), ctx.path(tag, "state"), ctx.path(tag, "ckpt")
    inputs.write_backlog(backlog, indir)
    sink = ParquetStateSink(ctx.spark, state, ["orderid"])
    with ctx.spans.span("stream.drain") as sid:
        used = _TimedSink(sink, ctx.spans, sid) if ctx.spans.enabled else sink
        t = time.monotonic()
        q = start_cdc_pipeline(
            ctx.spark, indir, state, ckpt, available_now=True,
            max_files_per_trigger=1, sink=used,
        )
        q.awaitTermination()
        elapsed = time.monotonic() - t
    if q.exception() is not None:
        raise RuntimeError(f"drain {tag} failed: {q.exception()}")
    return sink, q, elapsed, getattr(used, "batches", [])


def _ingest_once(ctx: Ctx, backlog: inputs.Backlog, root: str):
    """Apply the whole backlog to a fresh sink as one batch: the same
    parse, unwrap and merge as the pipeline, without a streaming query."""
    from kafka_data_explorer_cdc_spark.cdc.envelope import parse_envelope, unwrap
    from kafka_data_explorer_cdc_spark.streaming.pipeline import (
        ParquetStateSink,
        flatten_after,
    )

    indir = os.path.join(root, "in")
    inputs.write_backlog(backlog, indir)
    raw = ctx.spark.read.text(indir)
    sink = ParquetStateSink(ctx.spark, os.path.join(root, "state"), ["orderid"])
    sink.apply_batch(flatten_after(unwrap(parse_envelope(raw), keep_raw=True)), 0)
    return sink


def _check_state(ctx: Ctx, sink, backlog: inputs.Backlog, what: str) -> None:
    rows = [
        (r["orderid"], r["custid"], r["amount"], r["city"], r["lsn"])
        for r in sink.current().collect()
    ]
    bad = checks.state_mismatches(rows, inputs.replay(backlog.valid))
    if bad:
        ctx.fail(bad, f"{what}: {bad} keys differ from the lsn replay")
    dl = sink.dead_letters()
    got = [r["raw_value"] for r in dl.collect()] if dl is not None else []
    bad = checks.multiset_mismatches(got, backlog.malformed)
    if bad:
        ctx.fail(bad, f"{what}: {bad} dead-letter rows differ from the injected lines")


def cdc_ingest(ctx: Ctx) -> None:
    n_files = max(4, round(ctx.seconds * CDC_FILES_PER_SECOND))
    with ctx.spans.span("generator"):
        warm = inputs.change_backlog(ctx.seed + 1_000_003, 2, CDC_EVENTS_PER_FILE // 2)
        backlog = inputs.change_backlog(ctx.seed, n_files, CDC_EVENTS_PER_FILE)
    with ctx.spans.span("warmup"):
        sink = _drain(ctx, warm, "warm")[0]
        _check_state(ctx, sink, warm, "warm-up drain")
    ctx.extra["t_first_op"] = time.monotonic()
    ctx.spans.op = "cdc_ingest:0"
    ctx.spark.sparkContext.setJobGroup(ctx.spans.op, "cdc_ingest drain")
    ctx.extra["drain_start"] = time.time()
    sink, q, elapsed, batches = _drain(ctx, backlog, "main")
    ctx.spans.op = None
    progress = [json.loads(p.json) for p in q.recentProgress]
    triggers = [p for p in progress if p.get("numInputRows", 0) > 0]
    lat = [p["durationMs"]["triggerExecution"] / 1e3 for p in triggers]
    ctx.attempted = backlog.n_lines
    ctx.extra.update(elapsed=elapsed, latencies=lat, n_ops=backlog.n_lines,
                     state_root=ctx.path("main", "state"), triggers=triggers,
                     batches=batches, events=backlog.n_lines)
    _check_state(ctx, sink, backlog, "drain")


# --------------------------------------------------------- interactive


@dataclass
class Op:
    name: str
    build: Callable
    check: Callable  # (df) -> number of failed checks (0 = correct)
    layer: str


def _registry_ops(ctx: Ctx, names: list[str], sf_dir: str) -> list[Op]:
    from kafka_data_explorer_cdc_spark.queries import REGISTRY
    from tests.oracle_utils import compare, duckdb_conn

    con = duckdb_conn(sf_dir)

    def make(name: str) -> Op:
        q = REGISTRY[name]

        def check(df) -> int:
            if q.oracle is None:
                return 0 if df.count() > 0 else 1
            try:
                compare(df, con.execute(q.oracle).df(), name)
            except AssertionError as e:
                ctx.notes.append(str(e)[:300])
                return 1
            return 0

        layer = _MODULE_LAYER.get(q.fn.__module__.rsplit(".", 1)[-1], "other")
        return Op(name, lambda: q.fn(ctx.spark, sf_dir), check, layer)

    return [make(n) for n in names]


def _golden_ops(ctx: Ctx, sink, oracle_state: dict) -> list[Op]:
    from kafka_data_explorer_cdc_spark.kql import kql

    def make(name: str, text: str) -> Op:
        def build():
            with ctx.spans.span("sink.current"):
                orders = sink.current()
            with ctx.spans.span("kql.compile"):
                return kql(text, {"Orders": orders})

        def check(df) -> int:
            return checks.golden_mismatches(name, df.collect(), oracle_state)

        return Op(name, build, check, "golden")

    return [make(n, t) for n, t in GOLDEN_KQL.items()]


def _run_op(ctx: Ctx, op: Op, op_id: str, check: bool) -> tuple[float, bool]:
    ctx.spans.op = op_id
    ctx.spark.sparkContext.setJobGroup(op_id, op.name)
    ok = True
    with ctx.spans.span("op"):
        t = time.monotonic()
        try:
            with ctx.spans.span(f"build.{op.layer}"):
                df = op.build()
            with ctx.spans.span("exec.force"):
                _force(df)
        except Exception as e:  # a failed operation is counted, not fatal
            ctx.notes.append(f"{op.name}: {type(e).__name__}: {str(e)[:300]}")
            ok, df = False, None
        lat = time.monotonic() - t
    if ok and ctx.spans.enabled:
        ctx.extra.setdefault("catalyst", []).append(tracing.catalyst_phases_ms(df))
    if ok and check:
        t = time.monotonic()
        bad = op.check(df)
        ctx.extra["check_s"] = ctx.extra.get("check_s", 0.0) + time.monotonic() - t
        if bad:
            ctx.notes.append(f"{op.name}: result differs from its oracle")
            ok = False
    ctx.spans.op = None
    _release(ctx.spark)
    return lat, ok


def _query_loop(ctx: Ctx, ops: list[Op], workload: str) -> None:
    """Warm every op once, then time whole passes over them.

    Results are checked on the warm-up pass and again on the last timed
    pass (after each op's latency is taken), so a result that goes stale
    or wrong from a repeated call on counts as a failed operation. The
    pass count comes from ``seconds`` at a fixed rate, not from the
    clock, so every op runs equally often and both sides of a
    comparison do the same work."""
    with ctx.spans.span("warmup"):
        for op in ops:
            _, ok = _run_op(ctx, op, f"{workload}:warm:{op.name}", check=True)
            ctx.attempted += 1
            ctx.failed += 0 if ok else 1
    ctx.extra.pop("catalyst", None)
    ctx.extra["check_s"] = 0.0
    ctx.extra["t_first_op"] = t0 = time.monotonic()
    lat = []
    passes = max(1, round(ctx.seconds * PASSES_PER_SECOND))
    for k in range(passes):
        for i, op in enumerate(ops):
            dt, ok = _run_op(ctx, op, f"{workload}:{k}:{i}", check=k == passes - 1)
            ctx.attempted += 1
            ctx.failed += 0 if ok else 1
            lat.append(dt)
    # the timed window, without the last pass's (untimed) checks
    elapsed = time.monotonic() - t0 - ctx.extra["check_s"]
    ctx.extra.update(elapsed=elapsed, latencies=lat, n_ops=len(lat))


def interactive(ctx: Ctx) -> None:
    with ctx.spans.span("generator"):
        backlog = inputs.change_backlog(ctx.seed, STATE_FILES, STATE_EVENTS_PER_FILE)
        sf_dir = ctx.path("tables")
        inputs.write_tables(sf_dir, ctx.seed, TABLES_SF)
    with ctx.spans.span("state.build"):
        sink = _ingest_once(ctx, backlog, ctx.path("state"))
    _check_state(ctx, sink, backlog, "state backlog")
    ctx.extra["state_root"] = sink.root
    ctx.extra["events"] = backlog.n_lines
    ops = _golden_ops(ctx, sink, inputs.replay(backlog.valid))
    ops += _registry_ops(ctx, INTERACTIVE_ENTRIES, sf_dir)
    _query_loop(ctx, ops, "interactive")


WORKLOADS = {"cdc_ingest": cdc_ingest, "interactive": interactive}


# heap after a young or full collection; a remark or cleanup pause
# moves nothing, so the heap after it still holds the young objects
_GC_AFTER = re.compile(r"Pause (?:Young|Full)\b.* \d+[KMG]->(\d+)([KMG])\(")
_MB = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}


def jvm_heap_mb(spark, gc_log: str) -> dict[str, float]:
    """The driver JVM's committed heap (pinned: -Xms = -Xmx,
    pre-touched) and its peak live set: the largest heap after a
    collection in the GC log, or the use now if the run never collected.
    G1 lets the heap fill before it collects, so the peak heap use
    follows the heap size; what survives a collection is what the
    program holds."""
    heap = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    with open(gc_log) as fh:
        after = [int(m[1]) * _MB[m[2]] for m in _GC_AFTER.finditer(fh.read())]
    return {"committed": heap.getCommitted() / 2**20,
            "live_peak": max(after, default=heap.getUsed() / 2**20)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    run_dir = os.path.abspath(args.run_dir)
    gc_log = os.path.join(run_dir, "gc.log")
    spans = tracing.Spans() if args.trace else tracing.NoSpans()
    conf = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # The heap is committed and touched at start (-Xms = -Xmx with
        # AlwaysPreTouch): a growing heap makes the JVM's resident size
        # follow GC timing. run.py takes the pinned heap out of the
        # sampled memory and adds the heap's peak live set from the GC
        # log (jvm_heap_mb).
        "spark.driver.extraJavaOptions":
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch "
            f"-Xlog:gc:file={gc_log}",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
        })

    from kafka_data_explorer_cdc_spark.session import get_spark

    with spans.span("session.start"):
        spark = get_spark(app_name=f"cdcbench-{args.workload}", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
    ctx = Ctx(spark, args.seed, args.seconds, run_dir, spans)
    try:
        WORKLOADS[args.workload](ctx)
        heap = jvm_heap_mb(spark, gc_log)
    finally:
        spark.stop()
    x = ctx.extra
    lat = x["latencies"]
    out = {
        "workload": args.workload,
        "attempted": ctx.attempted,
        "failed": min(ctx.failed, ctx.attempted),
        "notes": ctx.notes,
        "latencies": lat,
        "jvm_heap_mb": heap,
        "e2e": {
            "setup_s": x["t_first_op"] - args.t0,
            "throughput_per_s": x["n_ops"] / x["elapsed"],
            "latency_p50_s": statistics.median(lat),
        },
    }
    if args.trace:
        import layers

        out["layers"], out["spans"] = layers.compute(
            args.workload, ctx, spans,
            tracing.read_event_log(os.path.join(run_dir, "eventlog")),
            int(os.environ["SPARK_GRAFT_CPUS"]),
        )
    with open(args.out, "w") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
