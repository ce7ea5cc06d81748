"""Result checks. Each returns the number of failed items (0 = correct)."""

from __future__ import annotations

from collections import Counter


def state_mismatches(rows: list[tuple], oracle: dict[int, tuple]) -> int:
    """Keys whose stored row differs from the replay.

    ``rows`` are ``(orderid, custid, amount, city, lsn)`` read from the
    sink; ``oracle`` maps ``orderid -> (custid, amount, city, lsn)``. A
    missing, extra, duplicated or different key counts once.
    """
    got: dict[int, tuple] = {}
    bad = 0
    for k, *v in rows:
        if k in got:
            bad += 1
        got[k] = tuple(v)
    for k in got.keys() | oracle.keys():
        if got.get(k) != oracle.get(k):
            bad += 1
    return bad


def multiset_mismatches(got: list, want: list) -> int:
    a, b = Counter(got), Counter(want)
    return sum(((a - b) + (b - a)).values())


def _by_city(state: dict[int, tuple]) -> dict[str, list[int]]:
    out: dict[str, list[int]] = {}
    for _, amount, city, _ in state.values():
        out.setdefault(city, []).append(amount)
    return out


def golden_mismatches(name: str, rows: list, state: dict[int, tuple]) -> int:
    """Compare one golden KQL result with the answer computed from the
    Python replay ``state`` (``orderid -> (custid, amount, city, lsn)``)."""
    cities = _by_city(state)
    if name == "golden_avg_sales":
        want = {c: sum(a) / len(a) for c, a in cities.items()}
        got = {r["city"]: r["avg_sales"] for r in rows}
        bad = len(got.keys() ^ want.keys())
        return bad + sum(abs(got[c] - want[c]) > 1e-9 * abs(want[c]) for c in got.keys() & want.keys())
    if name in ("golden_total_sales", "golden_order_counts"):
        col, fn = ("total", sum) if name == "golden_total_sales" else ("orders_cnt", len)
        want = {c: fn(a) for c, a in cities.items()}
        got = [(r["city"], r[col]) for r in rows]
        bad = multiset_mismatches(got, list(want.items()))
        vals = [v for _, v in got]
        return bad + sum(x < y for x, y in zip(vals, vals[1:]))  # sort by: descending
    if name == "golden_top5":
        keys = sorted(state, reverse=True)[:5]
        want = [(k, *state[k]) for k in keys]
        got = [(r["orderid"], r["custid"], r["amount"], r["city"], r["lsn"]) for r in rows]
        return multiset_mismatches(got, want) + (len(got) != len(want))
    raise KeyError(name)
