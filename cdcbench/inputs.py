"""Seeded O(n) input generators for the benchmark.

Everything the program under test reads is made here from the seed:
the Debezium change-event backlog (``change_backlog``) and the small
star-schema tables the registry entries scan (``write_tables``). The
same seed gives byte-identical files. The package's own
``cdc.generator.generate_change_log`` is not used: it re-sorts the live
keys on every event, which makes it quadratic.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CITIES = ["New Delhi", "Seattle", "New York", "Austin", "Chicago", "Cleveland"]

# Fixed seconds-since-epoch base for input file mtimes: the file source
# orders a backlog by modification time, so pinning mtimes pins the
# micro-batch order.
_MTIME_BASE = 1_700_000_000


@dataclass
class Backlog:
    """A change-event backlog split into files, plus what the oracle needs.

    ``files`` holds the lines of each input file in write order.
    ``valid`` holds every well-formed event payload in lsn order, so a
    highest-lsn-wins replay is a single pass. ``malformed`` holds the
    injected dead-letter lines verbatim.
    """

    files: list[list[str]] = field(default_factory=list)
    valid: list[dict] = field(default_factory=list)
    malformed: list[str] = field(default_factory=list)

    @property
    def n_lines(self) -> int:
        return sum(len(f) for f in self.files)


def _envelope(op: str, before, after, lsn: int, ts: int, txid: int) -> dict:
    return {
        "payload": {
            "before": before,
            "after": after,
            "source": {
                "version": "1.2.0.Final",
                "connector": "postgresql",
                "name": "myserver",
                "ts_ms": ts,
                "snapshot": "false",
                "db": "postgres",
                "schema": "inventory",
                "table": "orders_info",
                "txId": txid,
                "lsn": lsn,
                "xmin": None,
            },
            "op": op,
            "ts_ms": ts + 1,
            "transaction": None,
        }
    }


def change_backlog(
    seed: int,
    n_files: int,
    events_per_file: int,
    dup_every: int = 17,
    malformed_every: int = 211,
    straggler_share: float = 0.02,
) -> Backlog:
    """Debezium envelope lines for ``n_files`` files in O(total events).

    Traffic: inserts take ascending ``orderid`` (the reference's SERIAL
    key); updates and deletes pick a live key uniformly; every
    ``dup_every``-th event is redelivered verbatim (at-least-once); every
    ``malformed_every``-th event is followed by one malformed line
    (truncated JSON or a keyless/lsn-less envelope, alternating); and a
    ``straggler_share`` of lines move one or two files later, so a lower
    lsn can arrive after a higher one, including after a delete.
    """
    rng = random.Random(seed)
    live: list[int] = []
    pos: dict[int, int] = {}
    rows: dict[int, dict] = {}
    lsn, ts, next_key = 34_220_200, 1_602_057_392_691, 1
    out = Backlog(files=[[] for _ in range(n_files)])
    n_events = n_files * events_per_file
    for i in range(n_events):
        f = i // events_per_file
        lsn += rng.randint(1, 9)
        ts += rng.randint(1, 3000)
        r = rng.random()
        if len(live) < 8 or r < 0.5:
            key = next_key
            next_key += 1
            row = {
                "orderid": key,
                "custid": rng.randint(1, 1000),
                "amount": rng.randint(100, 199),
                "city": CITIES[rng.randrange(len(CITIES))],
            }
            pos[key] = len(live)
            live.append(key)
            rows[key] = row
            env = _envelope("c", None, row, lsn, ts, 653 + i)
        elif r < 0.85:
            key = live[rng.randrange(len(live))]
            before = rows[key]
            after = dict(
                before,
                amount=rng.randint(100, 199),
                city=CITIES[rng.randrange(len(CITIES))],
            )
            rows[key] = after
            env = _envelope("u", before, after, lsn, ts, 653 + i)
        else:
            key = live[rng.randrange(len(live))]
            j, last = pos.pop(key), live.pop()
            if last != key:
                live[j] = last
                pos[last] = j
            env = _envelope("d", rows.pop(key), None, lsn, ts, 653 + i)
        line = json.dumps(env, separators=(",", ":"))
        out.valid.append(env["payload"])
        lines = [line]
        if dup_every and i % dup_every == dup_every - 1:
            lines.append(line)
        if malformed_every and i % malformed_every == malformed_every - 1:
            if (i // malformed_every) % 2:
                bad = line[: len(line) // 2]
            else:
                broken = json.loads(line)
                broken["payload"]["source"]["lsn"] = None
                bad = json.dumps(broken, separators=(",", ":"))
            out.malformed.append(bad)
            lines.append(bad)
        for ln in lines:
            dest = f
            if rng.random() < straggler_share:
                dest = min(n_files - 1, f + rng.randint(1, 2))
            out.files[dest].append(ln)
    return out


def write_backlog(backlog: Backlog, directory: str) -> None:
    """Write one ``.json`` file per backlog file, mtimes ascending."""
    os.makedirs(directory, exist_ok=True)
    for k, lines in enumerate(backlog.files):
        path = os.path.join(directory, f"part-{k:05d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.utime(path, (_MTIME_BASE + k, _MTIME_BASE + k))


def replay(valid: list[dict]) -> dict[int, tuple]:
    """Pure-Python highest-lsn-wins oracle over lsn-ordered payloads.

    Returns ``orderid -> (custid, amount, city, lsn)`` for live keys.
    """
    state: dict[int, tuple] = {}
    for p in valid:
        if p["op"] == "d":
            state.pop(p["before"]["orderid"], None)
        else:
            a = p["after"]
            state[a["orderid"]] = (a["custid"], a["amount"], a["city"], p["source"]["lsn"])
    return state


# --------------------------------------------------------------------------
# Star-schema tables for the registry entries
# --------------------------------------------------------------------------

_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold"]
_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
_LANGS = ["en", "zh", "de", "fr", "es"]
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000
_EPOCH_2024_US = 1_704_067_200 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(directory: str, name: str, cols: dict[str, pa.Array | np.ndarray | list]) -> None:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(directory, f"{name}.parquet"))


def write_tables(directory: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables the registry reads, sized by ``sf``.

    Schemas and value domains follow the package's declared table
    schemas (``io.SCHEMAS``): timestamps are naive microseconds, money
    has two decimals, keys are dense from 0. Returns row counts.
    """
    os.makedirs(directory, exist_ok=True)
    rng = np.random.default_rng(abs(seed))  # numpy refuses negative seeds
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc, n_emb, dim = 500, 500, 64

    _write(directory, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(directory, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(directory, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype="int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(directory, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype="int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype="int64")
    adj, noun = rng.integers(0, 7, n_part), rng.integers(0, 7, n_part)
    _write(directory, "part", {
        "p_partkey": pk,
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [_TYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype="int32"),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    odate = _EPOCH_1995_US + rng.integers(0, 2400, n_ord) * _DAY_US
    _write(directory, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype="int64"),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [_PRIORITIES[p] for p in rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    lo = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    n_li = len(lo)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype("float64")
    _write(directory, "lineitem", {
        "l_orderkey": lo,
        "l_partkey": rng.integers(0, n_part, n_li, dtype="int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype="int64"),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[x] for x in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[x] for x in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(np.repeat(odate, lines) + rng.integers(1, 121, n_li) * _DAY_US),
    })
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + _EPOCH_2024_US
    _write(directory, "events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, 150, n_ev, dtype="int64"),
        "event_type": [_EVENT_TYPES[t] for t in rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i % 10 == 9:
            # plant a near-duplicate of an earlier document (one word changed)
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[w] for w in rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    _write(directory, "documents", {
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": [_LANGS[x] for x in rng.integers(0, 5, n_doc)],
        "source": [f"src{x}" for x in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(size=(10, dim))
    vecs = centroids[labels] + rng.normal(scale=0.8, size=(n_emb, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write(directory, "embeddings", {
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype("int32"),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_li, "events": n_ev, "documents": n_doc, "embeddings": n_emb,
    }
