"""Self-tests of the benchmark.

    python3 cdcbench/selftest.py          # input, check and span tests (seconds)
    python3 cdcbench/selftest.py --traced # also a short traced cdc_ingest run

The functions are plain ``test_*`` functions, so pytest can collect this
file too (``python3 -m pytest cdcbench/selftest.py``).
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import inputs  # noqa: E402
import tracing  # noqa: E402


def _digest(directory: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as fh:
            h.update(name.encode() + fh.read())
    return h.hexdigest()


def test_same_seed_same_bytes():
    scratch = os.path.join(os.path.dirname(HERE), ".cdcbench")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as d:
        for run in ("a", "b"):
            inputs.write_backlog(inputs.change_backlog(5, 4, 300), os.path.join(d, run, "log"))
            inputs.write_tables(os.path.join(d, run, "tables"), 5, 0.001)
        inputs.write_backlog(inputs.change_backlog(6, 4, 300), os.path.join(d, "c", "log"))
        for sub in ("log", "tables"):
            assert _digest(os.path.join(d, "a", sub)) == _digest(os.path.join(d, "b", sub))
        assert _digest(os.path.join(d, "a", "log")) != _digest(os.path.join(d, "c", "log"))


def test_backlog_covers_the_traffic_mix():
    b = inputs.change_backlog(3, 6, 500)
    ops = {p["op"] for p in b.valid}
    assert ops == {"c", "u", "d"}
    lines = [ln for f in b.files for ln in f]
    assert len(lines) == len(b.valid) + len(b.malformed) + len(b.valid) // 17
    assert len(lines) - len(set(lines)) >= len(b.valid) // 17  # redeliveries
    assert b.malformed and all(m in lines for m in b.malformed)
    # stragglers: some file holds an lsn lower than the previous file's highest
    def lsns(f):
        out = []
        for ln in f:
            try:
                out.append(json.loads(ln)["payload"]["source"]["lsn"] or 0)
            except json.JSONDecodeError:
                pass
        return out
    assert any(min(lsns(b.files[i + 1])) < max(lsns(b.files[i])) for i in range(5))
    # inserts take ascending keys
    keys = [p["after"]["orderid"] for p in b.valid if p["op"] == "c"]
    assert keys == sorted(keys) and len(set(keys)) == len(keys)


def test_replay_is_highest_lsn_wins():
    b = inputs.change_backlog(9, 3, 400)
    state = inputs.replay(b.valid)
    last: dict[int, dict] = {}
    for p in sorted(b.valid, key=lambda p: p["source"]["lsn"]):
        last[(p["after"] or p["before"])["orderid"]] = p
    want = {k: (p["after"]["custid"], p["after"]["amount"], p["after"]["city"], p["source"]["lsn"])
            for k, p in last.items() if p["op"] != "d"}
    assert state == want


def _rows(state):
    return [(k, *v) for k, v in state.items()]


def test_planted_wrong_state_is_a_failure():
    state = inputs.replay(inputs.change_backlog(4, 2, 300).valid)
    assert checks.state_mismatches(_rows(state), state) == 0
    k = next(iter(state))
    wrong = dict(state)
    wrong[k] = (state[k][0], state[k][1] + 1, *state[k][2:])
    assert checks.state_mismatches(_rows(wrong), state) == 1
    del wrong[k]
    assert checks.state_mismatches(_rows(wrong), state) == 1
    assert checks.state_mismatches(_rows(state) + _rows(state)[:1], state) == 1
    assert checks.multiset_mismatches(["a", "b"], ["a", "b"]) == 0
    assert checks.multiset_mismatches(["a", "a"], ["a", "b"]) == 2


def _golden_rows(name, state):
    """The golden results as Spark would return them (dict-like rows)."""
    by_city: dict[str, list[int]] = {}
    for _, amount, city, _ in state.values():
        by_city.setdefault(city, []).append(amount)
    if name == "golden_avg_sales":
        return [{"city": c, "avg_sales": sum(a) / len(a)} for c, a in by_city.items()]
    if name == "golden_total_sales":
        rows = [{"city": c, "total": sum(a)} for c, a in by_city.items()]
        return sorted(rows, key=lambda r: -r["total"])
    if name == "golden_order_counts":
        rows = [{"city": c, "orders_cnt": len(a)} for c, a in by_city.items()]
        return sorted(rows, key=lambda r: -r["orders_cnt"])
    keys = sorted(state, reverse=True)[:5]
    return [dict(zip(("orderid", "custid", "amount", "city", "lsn"), (k, *state[k]))) for k in keys]


def test_planted_wrong_result_is_a_failure():
    state = inputs.replay(inputs.change_backlog(8, 2, 300).valid)
    for name in ("golden_avg_sales", "golden_total_sales", "golden_order_counts", "golden_top5"):
        rows = _golden_rows(name, state)
        assert checks.golden_mismatches(name, rows, state) == 0, name
        bad = [dict(r) for r in rows]
        col = [c for c in bad[0] if c not in ("city", "orderid")][0]
        bad[0][col] = bad[0][col] + 1
        assert checks.golden_mismatches(name, bad, state) >= 1, name
    rows = _golden_rows("golden_total_sales", state)
    assert checks.golden_mismatches("golden_total_sales", rows[::-1], state) >= 1


class _FakeSpark:
    """Just enough of a session for ``workload._query_loop``."""

    class sparkContext:  # noqa: N801
        @staticmethod
        def setJobGroup(*_):
            pass

    class catalog:  # noqa: N801
        @staticmethod
        def clearCache():
            pass


class _FakeDF:
    class write:  # noqa: N801
        @staticmethod
        def format(_):
            return _FakeDF.write

        @staticmethod
        def mode(_):
            return _FakeDF.write

        @staticmethod
        def save():
            pass


def test_result_going_wrong_after_warmup_is_a_failure():
    """An op that answers right once and wrong from then on (a stale
    cache, say) must fail on the last timed pass, not only pass the
    warm-up check."""
    import workload

    calls = []

    def build():
        calls.append(1)
        return _FakeDF()

    def check(_df):
        return 0 if len(calls) == 1 else 1

    ctx = workload.Ctx(_FakeSpark(), 1, 10, HERE, tracing.NoSpans())
    ops = [workload.Op("stale", build, check, "kql"),
           workload.Op("right", _FakeDF, lambda _df: 0, "kql")]
    workload._query_loop(ctx, ops, "interactive")
    passes = round(10 * workload.PASSES_PER_SECOND)
    assert ctx.attempted == 2 * (1 + passes)
    assert ctx.failed == 1, ctx.notes
    assert len(ctx.extra["latencies"]) == 2 * passes


def test_self_time_and_nesting():
    s = tracing.Spans()
    with s.span("op") as op:
        with s.span("child"):
            time.sleep(0.02)
        with s.span("child"):
            time.sleep(0.02)
        time.sleep(0.01)
    rows = {r["id"]: r for r in s.with_self_time()}
    assert rows[op]["self_ms"] < rows[op]["dur_ms"] - 35
    check_nesting(list(rows.values()))


def check_nesting(spans: list[dict]) -> None:
    by_id = {r["id"]: r for r in spans}
    for r in spans:
        assert 0 <= r["self_ms"] <= r["dur_ms"] + 1e-6, r
        if r["parent"] is not None:
            p = by_id[r["parent"]]
            assert p["start"] <= r["start"] and r["end"] <= p["end"], (r, p)


def test_benchmark_json_matches_the_code():
    import layers
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.NAMES


def traced_run_reconciles(workload: str = "cdc_ingest", seconds: int = 4) -> None:
    """Run one short traced workload and check that the layers add up."""
    root = os.path.dirname(HERE)
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", str(seconds), "--trace", "1"],
        cwd=root, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert 0 < m["sink.apply_s"] * 1e3 <= m["stream.trigger_ms"]
    assert m["stream.engine_self_ms"] > 0
    assert m["sink.live_rows"] > 0 and m["sink.dlq_rows"] > 0
    with open(os.path.join(root, ".cdcbench", f"spans_{workload}.json")) as fh:
        check_nesting(json.load(fh))


if __name__ == "__main__":
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    if "--traced" in sys.argv:
        tests.append(traced_run_reconciles)
    for t in tests:
        t()
        print(f"ok  {t.__name__}")
