"""Per-layer metrics of a traced run (``--trace 1``).

Every metric in ``NAMES`` is reported for every workload; a layer the
workload does not exercise reports 0. Per-operation times are medians
over the timed operations; counters, bytes and executor times are totals
over the timed window divided by its units of work (queries for
``interactive``, micro-batches for ``cdc_ingest``). The two memory
metrics are filled in by run.py, which samples the process tree.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

import pyarrow.parquet as pq

import tracing

NAMES = {
    "session.start_s": "s", "session.warmup_s": "s",
    "stream.trigger_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.latest_offset_ms": "ms", "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.commit_offsets_ms": "ms",
    "stream.engine_self_ms": "ms", "stream.triggers_per_drain": "count",
    "sink.apply_s": "s", "sink.jobs_per_batch": "count", "sink.tasks_per_batch": "count",
    "sink.buckets_touched_per_batch": "count", "sink.rows_rewritten_per_event": "count",
    "sink.files_written_per_batch": "count", "sink.bytes_written_per_batch": "B",
    "sink.state_files": "count", "sink.live_rows": "count", "sink.tombstones": "count",
    "sink.dlq_rows": "count", "disk_bytes_per_event": "B",
    "kql.compile_s": "s",
    "queries.build_s.kql": "s", "queries.build_s.relational": "s",
    "queries.build_s.reference": "s",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.force_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.executor_run_s": "s", "exec.executor_cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "B", "exec.shuffle_write_bytes": "B",
    "exec.input_bytes": "B", "exec.core_idle_share": "share",
    "latency_p90_s": "s",
    "memory.outside_heap_peak_mb": "MB", "memory.heap_live_peak_mb": "MB",
}


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _dur(spans: list[dict]) -> list[float]:
    return [r["end"] - r["start"] for r in spans]


def _state_metrics(root: str, events: int) -> dict[str, float]:
    """Layout and contents of the sink's state, read from its manifests
    and parquet footers (no Spark)."""
    with open(os.path.join(root, "LATEST")) as fh:
        latest = json.load(fh)
    files = []
    for b, ver in latest["buckets"].items():
        files += glob.glob(os.path.join(root, f"v{ver}", f"__bucket={b}", "*.parquet"))
    live = tomb = 0
    for f in files:
        ops = pq.read_table(f, columns=["op"]).column("op").to_pylist()
        tomb += sum(o == "d" for o in ops)
        live += sum(o != "d" for o in ops)
    dlq = sum(pq.read_metadata(f).num_rows
              for f in glob.glob(os.path.join(root, "dead_letter", "*.parquet")))
    total = sum(os.path.getsize(os.path.join(d, f))
                for d, _, fs in os.walk(root) for f in fs)
    return {"sink.state_files": len(files), "sink.live_rows": live,
            "sink.tombstones": tomb, "sink.dlq_rows": dlq,
            "disk_bytes_per_event": total / events}


def _batch_metrics(root: str, batch_ids: list[int], events: int) -> dict[str, float]:
    touched, nfiles, nbytes, rows = [], [], [], 0
    for n in batch_ids:
        path = os.path.join(root, f"manifest_v{n}.json")
        with open(path) as fh:
            touched.append(sum(v == n for v in json.load(fh)["buckets"].values()))
        fs = glob.glob(os.path.join(root, f"v{n}", "*", "*.parquet"))
        nfiles.append(len(fs))
        nbytes.append(sum(os.path.getsize(f) for f in fs))
        rows += sum(pq.read_metadata(f).num_rows for f in fs)
    return {"sink.buckets_touched_per_batch": _med(touched),
            "sink.files_written_per_batch": _med(nfiles),
            "sink.bytes_written_per_batch": _med(nbytes),
            "sink.rows_rewritten_per_event": rows / events}


def _stream_metrics(rows: list[dict], sink_ms: dict[int, float]) -> dict[str, float]:
    trig = [p for p in rows if p.get("numInputRows", 0) > 0]
    if not trig:
        return {}
    d = [p["durationMs"] for p in trig]

    self_ms = [p["durationMs"]["triggerExecution"]
               - sink_ms.get(p["batchId"], p["durationMs"].get("addBatch", 0))
               for p in trig]
    return {
        "stream.trigger_ms": _med(x["triggerExecution"] for x in d),
        "stream.add_batch_ms": _med(x.get("addBatch", 0) for x in d),
        "stream.latest_offset_ms": _med(x.get("latestOffset", 0) for x in d),
        "stream.query_planning_ms": _med(x.get("queryPlanning", 0) for x in d),
        "stream.wal_commit_ms": _med(x.get("walCommit", 0) for x in d),
        "stream.commit_offsets_ms": _med(x.get("commitOffsets", 0) for x in d),
        "stream.engine_self_ms": _med(self_ms),
        "stream.triggers_per_drain": len(trig) / len({p["runId"] for p in trig}),
    }


def _exec_metrics(jobs: list[dict], units: int, wall: float, cores: int) -> dict[str, float]:
    def tot(k: str) -> float:
        return float(sum(j[k] for j in jobs))

    units = max(units, 1)
    return {
        "exec.jobs": len(jobs) / units, "exec.stages": tot("stages") / units,
        "exec.tasks": tot("tasks") / units,
        "exec.executor_run_s": tot("run_ms") / 1e3 / units,
        "exec.executor_cpu_s": tot("cpu_ns") / 1e9 / units,
        "exec.gc_s": tot("gc_ms") / 1e3 / units,
        "exec.shuffle_read_bytes": tot("shuffle_read") / units,
        "exec.shuffle_write_bytes": tot("shuffle_write") / units,
        "exec.input_bytes": tot("input") / units,
        "exec.core_idle_share": 1.0 - tot("run_ms") / 1e3 / (wall * cores),
    }


def compute(workload: str, ctx, spans: tracing.Spans, log: dict,
            cores: int) -> tuple[dict[str, float], list[dict]]:
    x = ctx.extra
    m = {k: 0.0 for k in NAMES}
    m["session.start_s"] = _med(_dur(spans.named("session.start")))
    m["session.warmup_s"] = _med(_dur(spans.named("warmup")))
    lat = sorted(x["latencies"])
    m["latency_p90_s"] = statistics.quantiles(lat, n=10)[8] if len(lat) > 1 else lat[0]
    jobs = log["jobs"]
    timed = [r for r in spans.named("op") if ":warm:" not in (r["op"] or "")]
    if workload == "cdc_ingest":
        apply_spans = {r["id"]: r for r in spans.named("sink.apply_batch")}
        batches = [(b, apply_spans[sid]) for b, sid in x["batches"]]
        sink_ms = {b: (r["end"] - r["start"]) * 1e3 for b, r in batches}
        m.update(_stream_metrics(x["triggers"], sink_ms))
        m["sink.apply_s"] = _med(v / 1e3 for v in sink_ms.values())
        per_batch = [tracing.jobs_in(jobs, [(r["start"], r["end"])]) for _, r in batches]
        m["sink.jobs_per_batch"] = _med(len(j) for j in per_batch)
        m["sink.tasks_per_batch"] = _med(sum(k["tasks"] for k in j) for j in per_batch)
        m.update(_batch_metrics(x["state_root"], [b for b, _ in batches], x["events"]))
        m.update(_state_metrics(x["state_root"], x["events"]))
        drain = [r for r in spans.named("stream.drain") if r["start"] >= x["drain_start"]]
        window = [(r["start"], r["end"]) for r in drain]
        m.update(_exec_metrics(tracing.jobs_in(jobs, window), len(batches),
                               x["elapsed"], cores))
    else:
        m.update(_state_metrics(x["state_root"], x["events"]))
        timed_ops = {r["op"] for r in timed}
        for layer in ("kql", "relational", "reference"):
            b = [r for r in spans.named(f"build.{layer}") if r["op"] in timed_ops]
            m[f"queries.build_s.{layer}"] = _med(_dur(b))
        m["kql.compile_s"] = _med(_dur(
            [r for r in spans.named("kql.compile") if r["op"] in timed_ops]))
        cat = x.get("catalyst", [])
        for k in ("analysis", "optimization", "planning"):
            m[f"catalyst.{k}_ms"] = _med(c[k] for c in cat)
        m["exec.force_s"] = _med(_dur(
            [r for r in spans.named("exec.force") if r["op"] in timed_ops]))
        m.update(_exec_metrics(tracing.jobs_in(jobs, [(r["start"], r["end"]) for r in timed]),
                               len(timed), x["elapsed"], cores))
    return m, spans.with_self_time()
