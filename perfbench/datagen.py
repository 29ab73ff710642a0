"""Seeded benchmark inputs, generated outside every timed window.

Everything here is plain numpy/pyarrow: the engine only ever sees the files
and edge lists these functions return.

- ``star_schema`` writes the TPC-H-shaped star schema (plus the ``events``
  and ``documents`` extension tables the relational lanes read) as one
  parquet file per table, with the column names, types and value domains of
  the engine's catalog (``catalog.SCHEMAS``).
- ``cc_graphs`` builds edge lists for connected components that mix many
  shallow components with a few deep chains, and the labels a union-find
  assigns to them.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per unit of scale factor (sf0.1 → 15k customers, 600k lineitems)
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: datetime.date, end: datetime.date, n: int) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start, "D")
    days = base + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _keyed_names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in range(n)], pa.string())


def star_tables(seed: int, sf: float = 0.1) -> dict[str, pa.Table]:
    """The star schema as Arrow tables, a pure function of ``(seed, sf)``."""
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(rows * sf)) for t, rows in ROWS_PER_SF.items()}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
            "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
            "c_name": _keyed_names("Customer", n["customer"]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"], dtype=np.int32)),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
            "s_name": _keyed_names("Supplier", n["supplier"]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"], dtype=np.int32)),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n["part"], dtype=np.int64)),
            "p_name": _pick(rng, names, n["part"]),
            "p_brand": _pick(rng, [f"Brand#{k}" for k in range(1, 26)], n["part"]),
            "p_type": _pick(rng, PART_TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"], dtype=np.int32)),
            "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) * 0.1, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n["orders"], dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"], dtype=np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
            "o_totalprice": _cents(rng, 1000.0, 500_000.0, n["orders"]),
            "o_orderdate": _days(rng, datetime.date(1995, 1, 1), datetime.date(2001, 8, 1), n["orders"]),
            "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], nl, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n["part"], nl, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _days(rng, datetime.date(1995, 1, 2), datetime.date(2001, 11, 4), nl),
        }
    )
    ne = n["events"]
    # strictly increasing event times over 30 days of 2024, microsecond grain
    gaps = rng.uniform(1.0, 2.0, ne)
    offs = np.cumsum(gaps) / gaps.sum() * (30 * 86400 - 60) * 1_000_000
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offs.astype(np.int64).astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, ne, dtype=np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()),
        }
    )
    nd = n["documents"]
    lens = rng.integers(10, 101, nd)
    words = np.asarray(DOC_WORDS, dtype=object)[rng.integers(0, len(DOC_WORDS), int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - k : e]) for e, k in zip(ends, lens)]
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, nd, p=LANG_P),
            "source": pa.array([f"src{k % 20}" for k in range(nd)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return out


def star_schema(out_dir: str, seed: int, sf: float = 0.1) -> str:
    """Write ``star_tables(seed, sf)`` as ``<out_dir>/<table>.parquet``
    (one row group each, like the engine's reference test data); returns
    ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)
    return out_dir


class Graph:
    """One connected-components input: an undirected edge list over node
    ids plus the expected ``node -> min node id of its component``."""

    def __init__(self, edges: list[tuple[int, int]], diameter: int) -> None:
        self.edges = edges
        self.diameter = diameter
        self.labels = union_find_labels(edges)


def union_find_labels(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Reference labelling: every node maps to the smallest id in its
    component (path-halving union-find over the edge list)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def cc_graph(rng: np.random.Generator, diameter: int, shallow: int = 400, chains: int = 4) -> Graph:
    """A graph whose deepest component has the given diameter: ``shallow``
    small components (stars and short paths, diameter <= 3) plus ``chains``
    simple paths, one of exactly ``diameter`` edges and the rest shorter.
    Node ids are a random permutation, so a chain's minimum id sits at a
    random position and label propagation needs up to ``diameter`` rounds."""
    sizes = [int(s) for s in rng.integers(2, 5, shallow)]  # 2..4 nodes → diameter <= 3
    chain_lens = [diameter] + [int(x) for x in rng.integers(1, diameter + 1, chains - 1)]
    total = sum(sizes) + sum(c + 1 for c in chain_lens)
    ids = rng.permutation(total).astype(np.int64) + 1
    edges: list[tuple[int, int]] = []
    pos = 0
    for s in sizes:
        nodes = ids[pos : pos + s]
        pos += s
        if rng.random() < 0.5:  # star: diameter 2
            edges += [(int(nodes[0]), int(v)) for v in nodes[1:]]
        else:  # path: diameter s - 1
            edges += [(int(a), int(b)) for a, b in zip(nodes[:-1], nodes[1:])]
    for c in chain_lens:
        nodes = ids[pos : pos + c + 1]
        pos += c + 1
        edges += [(int(a), int(b)) for a, b in zip(nodes[:-1], nodes[1:])]
    order = rng.permutation(len(edges))
    return Graph([edges[i] for i in order], diameter)
