"""Seeded inputs for the benchmark workloads.

Everything here is pure NumPy/pyarrow and deterministic in the seed:
the same seed always yields byte-identical tables, the same graph
catalog and the same request stream.

- ``write_tables`` builds the ten catalog tables the engine reads
  (TPC-H-style star schema plus events, documents and embeddings) at a
  given scale factor, one single-row-group parquet file per table —
  the layout ``catalog.table`` expects.
- ``ServeScript`` builds the serving workload: a catalog of acyclic
  graphs within the reference's bounds (n <= 30 vertices, <= 20
  graphs) and a request script over it, with the expected answer of
  every read computed from a pure-Python model of the catalog state at
  that request.
"""

from __future__ import annotations

import datetime as dt
import os
from collections import deque
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- tables

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = (["en", "zh", "es", "de", "fr"], [0.44, 0.15, 0.15, 0.14, 0.12])
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64


def _ts(base: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    """Naive microsecond timestamps (parquet isAdjustedToUTC=false)."""
    epoch_us = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(epoch_us + offsets_us.astype(np.int64), pa.timestamp("us"))


def _days(rng: np.random.Generator, n: int, first: dt.datetime, span: int) -> pa.Array:
    return _ts(first, rng.integers(0, span + 1, n) * 86_400_000_000)


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten catalog tables at scale factor ``sf`` (sf=0.01 gives
    1500 customers, 15000 orders, 60000 line items, 10000 events)."""
    rng = np.random.default_rng([seed, 0x7AB1E5])
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = 10 * n_cust
    n_line = 4 * n_ord
    n_evt = max(100, int(1_000_000 * sf))
    n_user = max(5, int(15_000 * sf))
    n_doc = max(20, int(50_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, dt.datetime(1995, 1, 1), 2404),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, dt.datetime(1995, 1, 2), 2498),
    })
    month_us = 30 * 86_400_000_000
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": _ts(dt.datetime(2024, 1, 1), np.sort(rng.integers(0, month_us, n_evt))),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), i64),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    words = np.asarray(WORDS, dtype=object)
    texts = [
        " ".join(words[rng.integers(0, len(WORDS), k)])
        for k in rng.integers(10, 100, n_doc)
    ]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": _pick(rng, LANGS[0], n_doc, p=LANGS[1]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], i64),
    })
    labels = rng.integers(0, 10, n_doc)
    centres = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = 0.15 * centres[labels] + rng.normal(0.0, 1.0, (n_doc, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_doc), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )
    return out_dir


# ----------------------------------------------------------------- serve

MAX_GRAPHS = 20  # Assignment 2.pdf p.4: at most 20 graphs in the store
INITIAL_GRAPHS = 12
MAX_VERTICES = 30  # Assignment 2.pdf p.2: at most 30 vertices per graph


def random_tree(rng: np.random.Generator) -> tuple[int, list[tuple[int, int]]]:
    """A random recursive tree on 1..n (n >= 2): every vertex has an
    edge, so every in-range start is present in the graph."""
    n = int(rng.integers(2, MAX_VERTICES + 1))
    return n, [(int(rng.integers(1, v)), v) for v in range(2, n + 1)]


def bfs_model(n: int, edges: list[tuple[int, int]], start: int) -> tuple[str, list[int], int]:
    """Pure-Python reference: (BFS order string, DFS leaves, rounds).

    BFS order is (level, vid) ascending; the DFS leaves are the
    vertices with no child in the traversal tree whose parent(v) is
    v's min-vid neighbour one level up; rounds counts the engine's
    frontier expansions, including the last, empty one."""
    adj: dict[int, set[int]] = {v: set() for v in range(1, n + 1)}
    for s, d in edges:
        adj[s].add(d)
        adj[d].add(s)
    level = {start: 0}
    todo = deque([start])
    while todo:
        v = todo.popleft()
        for w in adj[v]:
            if w not in level:
                level[w] = level[v] + 1
                todo.append(w)
    order = " ".join(str(v) for v in sorted(level, key=lambda v: (level[v], v)))
    parents = {
        min(w for w in adj[v] if level.get(w) == level[v] - 1)
        for v in level if level[v] > 0
    }
    leaves = sorted(v for v in level if v not in parents)
    return order, leaves, max(level.values()) + 1


@dataclass(frozen=True)
class Request:
    seq: int
    kind: str  # "bfs" | "dfs" | "write" | "bad"
    gid: str
    start: int = 0
    n: int = 0
    edges: tuple[tuple[int, int], ...] = ()
    expect: object = None  # BFS order string / DFS leaf list
    rounds: int = 0


class ServeScript:
    """Seeded catalog plus a script of ``length`` requests.

    The mix is exact in every script: 5% (at least one) reads whose
    start vertex is out of range, 20% writes (a whole-matrix add while
    the catalog holds fewer than MAX_GRAPHS graphs, else a modify), and
    BFS and DFS reads splitting the rest evenly, in shuffled order with
    the last request a read.

    The skeleton (kinds, their order, tree shapes, start positions,
    which graph a request hits) comes from a fixed generator, so every
    seed asks for the same work request by request; the seed draws the
    vertex labels of every tree and the graph names. Read latency
    depends mostly on how many BFS rounds a read takes, and with only
    a few reads per run a per-seed skeleton made the median read time
    scatter by about 20% between seeds."""

    SKELETON_SEED = 0x5E7E

    def __init__(self, seed: int, length: int):
        shape = np.random.default_rng(self.SKELETON_SEED)
        self._label = np.random.default_rng([seed, 0x1AB3])
        self._names = [f"G{i}" for i in self._label.permutation(MAX_GRAPHS) + 1]
        self._perm: dict[str, np.ndarray] = {}
        self.graphs: dict[str, tuple[int, list[tuple[int, int]]]] = {}
        for slot in range(INITIAL_GRAPHS):
            self._put(self._names[slot], random_tree(shape))
        self.initial = dict(self.graphs)
        bad = max(1, round(0.05 * length))
        writes = round(0.20 * length)
        reads = length - bad - writes
        kinds = [str(k) for k in shape.permutation(
            ["bfs"] * ((reads + 1) // 2) + ["dfs"] * (reads // 2))]
        for kind in ["write"] * writes + ["bad"] * bad:
            # never after the last read, so every write is read back
            kinds.insert(int(shape.integers(0, len(kinds))), kind)
        self._written: str | None = None
        self.requests = [self._request(shape, seq, kind) for seq, kind in enumerate(kinds)]

    def _put(self, gid: str, tree: tuple[int, list[tuple[int, int]]]) -> None:
        """Store ``tree`` under ``gid`` with seeded vertex labels."""
        n, edges = tree
        perm = self._label.permutation(n) + 1
        self._perm[gid] = perm
        self.graphs[gid] = (n, [(int(perm[s - 1]), int(perm[d - 1])) for s, d in edges])

    def _request(self, rng: np.random.Generator, seq: int, kind: str) -> Request:
        """One request; the one right after a write targets the graph
        just written, as a client reading back its own change."""
        slots = len(self.graphs)
        gid = self._names[int(rng.integers(0, slots))]
        if self._written is not None:
            gid, self._written = self._written, None
        n, edges = self.graphs[gid]
        if kind == "write":
            if slots < MAX_GRAPHS and rng.random() < 0.5:
                gid = self._names[slots]
            self._put(gid, random_tree(rng))
            self._written = gid
            n, edges = self.graphs[gid]
            return Request(seq, "write", gid, n=n, edges=tuple(edges))
        if kind == "bad":
            return Request(seq, "bad", gid, start=n + int(rng.integers(1, 11)), n=n)
        start = int(self._perm[gid][int(rng.integers(0, n))])
        order, leaves, rounds = bfs_model(n, edges, start)
        expect = order if kind == "bfs" else leaves
        return Request(seq, kind, gid, start=start, n=n, expect=expect, rounds=rounds)
