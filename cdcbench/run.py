"""Benchmark entry point: run one workload once and print one JSON line.

    python3 cdcbench/run.py --workload cdc_ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The workload runs in a fresh child
process (``workload.py``) inside its own directory under
``.cdcbench/``, which is removed afterwards. This process samples the
child's process tree (Python driver, JVM, Python workers) for peak
resident memory (proportional set size; the JVM heap, pinned and
pre-touched, is counted by its peak live set as the JVM's GC log
reports it), records
host facts, appends one record to
``.cdcbench/results.jsonl`` and prints, as the last line of standard
output, ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``. A traced run also writes the layer table, with the
tracing overhead against the untraced records on file, to
``.cdcbench/layers_<workload>.txt``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("cdc_ingest", "interactive")
TIMEOUT_S = 170
E2E_UNITS = {"setup_s": "s", "throughput_per_s": "1/s", "latency_p50_s": "s",
             "peak_rss_mb": "MB"}
# Driver heap: well under physical memory, so a run never swaps.
DRIVER_MEM = "1g"
# Reading a JVM's smaps_rollup takes ~15 ms and its mmap lock, so memory
# is sampled once a second. The heap is pinned and pre-touched, so the
# samples follow the memory outside it; its live set comes from the JVM.
SAMPLE_EVERY_S = 1.0


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def _read(path: str) -> str:
    try:
        with open(path) as fh:
            return fh.read().strip()
    except OSError:
        return ""


def _commit() -> str:
    head = _read(os.path.join(ROOT, ".git", "HEAD"))
    if head.startswith("ref: "):
        return _read(os.path.join(ROOT, ".git", head[5:])) or "unknown"
    return head or "unknown"


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared between processes (the
    Python workers are forked from one daemon) count once in a sum."""
    for line in _read(f"/proc/{pid}/smaps_rollup").splitlines():
        if line.startswith("Pss:"):
            return int(line.split()[1])
    return 0


def _tree_pss_kb(root_pid: int) -> int:
    """Memory of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            stat = _read(f"/proc/{d}/stat")
            if stat:
                ppid = int(stat.rsplit(")", 1)[1].split()[1])
                children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root_pid]
    while todo:
        p = todo.pop()
        total += _pss_kb(p)
        todo += children.get(p, [])
    return total


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def _stop_group(pgid: int) -> None:
    """Kill whatever is left of the child's process group and wait."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 5
        while _group_alive(pgid) and time.monotonic() < deadline:
            time.sleep(0.05)


def run_child(args, run_dir: str) -> tuple[dict | None, float]:
    out_path = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env.update({
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_CPUS": str(_nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        # every JVM, the launcher's too: no /tmp/hsperfdata, temp files here
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "PYTHONHASHSEED": "0",
        # glibc's per-thread malloc arenas made the JVM's memory outside
        # the heap differ by up to 120 MB between runs of the same work
        "MALLOC_ARENA_MAX": "2",
    })
    t0 = time.monotonic()
    child = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "workload.py"),
         "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(args.trace),
         "--run-dir", run_dir, "--t0", repr(t0), "--out", out_path],
        cwd=run_dir, env=env, start_new_session=True,
        stdout=sys.stderr, stderr=sys.stderr,
    )
    # The peak counts memory held over two successive samples, so a
    # one-sample spike is dropped: a sample that catches a child the JVM
    # is spawning (it shares the JVM's address space until it execs)
    # can count the JVM twice.
    peak_kb, last_kb, sampled = 0, 0, 0.0
    try:
        while child.poll() is None:
            now = time.monotonic()
            if now - sampled >= SAMPLE_EVERY_S:
                kb = _tree_pss_kb(child.pid)
                peak_kb, last_kb, sampled = max(peak_kb, min(kb, last_kb)), kb, now
            if now - t0 > TIMEOUT_S:
                print(f"cdcbench: {args.workload} exceeded {TIMEOUT_S} s", file=sys.stderr)
                break
            time.sleep(0.05)
    finally:
        _stop_group(child.pid)
        child.wait()
    if child.returncode != 0 or not os.path.exists(out_path):
        return None, peak_kb / 1024
    with open(out_path) as fh:
        return json.load(fh), peak_kb / 1024


def _median_e2e(records: list[dict], rec: dict, traced: bool) -> tuple[dict[str, float], int]:
    """Medians over the records of ``rec``'s workload, commit and length."""
    rows = [r["e2e"] for r in records if r["trace"] == traced and all(
        r.get(k) == rec[k] for k in ("workload", "seconds")) and
        r["host"]["commit"] == rec["host"]["commit"]]
    if not rows:
        return {}, 0
    return {k: statistics.median(r[k] for r in rows) for k in E2E_UNITS}, len(rows)


def layer_table(rec: dict, records: list[dict]) -> str:
    """Per-layer table plus tracing overhead (traced median minus
    untraced median of each end-to-end metric, over the records on file)."""
    import layers

    lines = [f"# {rec['workload']}  seed={rec['seed']}  commit={rec['host']['commit']}  "
             f"nproc={rec['host']['nproc']}  steal={rec['host']['steal_share']:.3f}",
             "", f"{'metric':34s} {'value':>16s}  unit"]
    for k, unit in layers.NAMES.items():
        lines.append(f"{k:34s} {rec['layers'][k]:16.6g}  {unit}")
    traced, n_t = _median_e2e(records, rec, True)
    plain, n_p = _median_e2e(records, rec, False)
    lines += ["", "tracing overhead (traced median - untraced median)"]
    if plain:
        lines.append(f"  runs: traced {n_t}, untraced {n_p}")
        for k, unit in E2E_UNITS.items():
            lines.append(f"  {k:20s} {traced[k] - plain[k]:+12.6g} {unit}  "
                         f"({traced[k]:.6g} vs {plain[k]:.6g})")
    else:
        lines.append("  no untraced run of this workload, commit and length on file yet")
    lines += ["", f"{'span':22s} {'count':>6s} {'total_ms':>12s} {'self_ms':>12s}"]
    agg: dict[str, list[float]] = {}
    for s in rec["spans"]:
        a = agg.setdefault(s["name"], [0, 0.0, 0.0])
        a[0] += 1
        a[1] += s["dur_ms"]
        a[2] += s["self_ms"]
    for name, (n, tot, own) in agg.items():
        lines.append(f"{name:22s} {n:6d} {tot:12.1f} {own:12.1f}")
    return "\n".join(lines) + "\n"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # so an interrupted run still stops its child and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("kafka_data_explorer_cdc_spark/__init__.py", "tests/oracle_utils.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"cdcbench: {need} not found under {ROOT}; run from a checkout "
                  "of the repository", file=sys.stderr)
            return 2

    base = os.path.join(ROOT, ".cdcbench")
    run_dir = os.path.join(base, f"run-{uuid.uuid4().hex[:12]}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    host = {"nproc": _nproc(), "loadavg": _read("/proc/loadavg"),
            "pressure_cpu_start": _read("/proc/pressure/cpu"), "commit": _commit()}
    cpu0 = _cpu_times()
    try:
        res, peak_mb = run_child(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    cpu1 = _cpu_times()
    delta = [b - a for a, b in zip(cpu0, cpu1)]
    host["steal_share"] = delta[7] / max(1, sum(delta)) if len(delta) > 7 else 0.0
    host["pressure_cpu_end"] = _read("/proc/pressure/cpu")
    if res is None:
        print(f"cdcbench: {args.workload} run failed", file=sys.stderr)
        return 1
    # The pinned heap is resident whatever the program does with it, and
    # G1 fills it before collecting: count the heap by its peak live set.
    heap = res["jvm_heap_mb"]
    outside_heap_mb = peak_mb - heap["committed"]
    res["e2e"]["peak_rss_mb"] = outside_heap_mb + heap["live_peak"]
    rec = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": bool(args.trace), "host": host, "attempted": res["attempted"],
           "failed": res["failed"], "notes": res["notes"], "e2e": res["e2e"],
           "tree_pss_mb": peak_mb, "jvm_heap_mb": heap,
           "latencies": res["latencies"], "time": time.time()}
    results = os.path.join(base, "results.jsonl")
    with open(results, "a") as fh:
        fh.write(json.dumps(rec) + "\n")
    for note in res["notes"]:
        print(f"cdcbench: {note}", file=sys.stderr)

    if args.trace:
        import layers

        res["layers"].update({"memory.outside_heap_peak_mb": outside_heap_mb,
                              "memory.heap_live_peak_mb": heap["live_peak"]})
        rec.update(layers=res["layers"], spans=res["spans"])
        with open(results) as fh:
            records = [json.loads(line) for line in fh]
        table = layer_table(rec, records)
        with open(os.path.join(base, f"layers_{args.workload}.txt"), "w") as fh:
            fh.write(table)
        with open(os.path.join(base, f"spans_{args.workload}.json"), "w") as fh:
            json.dump(res["spans"], fh)
        print(table, file=sys.stderr)
        metrics = {k: {"value": res["layers"][k], "unit": u} for k, u in layers.NAMES.items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
