"""Seeded input generator for the benchmark workloads.

Writes every table the engine's sources layer knows (the TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``) as one parquet
file each, with the same column types as the engine's sf0.1 reference
test data (``events.ts`` is ``timestamp[us]``, embeddings are
``list<float>``...).

Row counts and value distributions follow that reference data as
measured by ``shape.py`` (figures in ``README.md``): at ``scale=1.0``
every table has its sf0.1 row count, and the smoke test's
``scale=0.01`` gives sf0.001 counts.

Table *content* comes from a fixed base seed, so every run measures the
same amount of work. The run's ``--seed`` decides only orders:

* ``batch_session``: the row order of ``documents`` and ``embeddings``
  (and, in ``worker.py``, the order of the steps);
* ``stream_refresh``: the row order inside each day-aligned arrival file.

Run standalone to inspect the sizes: ``python3 perfbench/gen.py DIR``.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_SEED = 20240101

# Rows per table at scale 1.0: the sf0.1 reference counts. The smoke
# test runs at a fraction.
ROWS = {
    "customer": 15000,
    "supplier": 1000,
    "part": 20000,
    "orders": 150000,
    "lineitem": 600000,
    "events": 100000,
    "event_users": 1500,
    "documents": 5000,
    "embeddings": 2000,
}
EVENT_DAYS = 30
NEAR_DUP_P = 0.05  # a document is an earlier one plus the token "dup"
ARRIVAL_FILES = 10  # day-aligned; a run feeds them in order until its window ends

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

TS = pa.timestamp("us")


def _n(table: str, scale: float) -> int:
    return max(5, int(round(ROWS[table] * scale)))


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_schema(scale: float) -> dict[str, pa.Table]:
    """The eight relational tables plus ``events`` (time-ordered)."""
    rng = np.random.default_rng(BASE_SEED)
    n_nation = 25
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(n_nation), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(n_nation)],
            "n_regionkey": pa.array([i % 5 for i in range(n_nation)], pa.int32()),
        }
    )
    nc = _n("customer", scale)
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, n_nation, nc), pa.int32()),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }
    )
    ns = _n("supplier", scale)
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, n_nation, ns), pa.int32()),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99),
        }
    )
    npart = _n("part", scale)
    keys = np.arange(npart)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": [
                f"{P_ADJ[a]} {P_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(P_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900 + (keys % 1000) / 10.0, 2),
        }
    )
    no = _n("orders", scale)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, no, 1000.0, 500000.0),
            "o_orderdate": pa.array(_days(rng, no, "1995-01-01", "2001-08-01"), TS),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }
    )
    nl = _n("lineitem", scale)
    qty = rng.integers(1, 51, nl).astype("float64")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", "2001-11-04"), TS),
        }
    )
    ne = _n("events", scale)
    start = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    span = EVENT_DAYS * 86_400_000_000
    ts = np.sort(start + rng.integers(0, span, ne))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), TS),
            "user_id": pa.array(rng.integers(0, _n("event_users", scale), ne), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    return out


def corpus(scale: float) -> dict[str, pa.Table]:
    """``documents`` (word salad with near duplicates) and
    ``embeddings`` (unit vectors, 64 dims, 10 labels)."""
    rng = np.random.default_rng(BASE_SEED + 1)
    nd = _n("documents", scale)
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < NEAR_DUP_P:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(WORDS, k)))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, nd, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    nv = _n("embeddings", scale)
    v = rng.standard_normal((nv, 64)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )
    return {"documents": docs, "embeddings": emb}


def _write(table: pa.Table, path: str, stats: dict, name: str) -> None:
    pq.write_table(table, path)
    stats[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def _shuffled(table: pa.Table, rng) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def generate(workload: str, seed: int, out_dir: str, scale: float = 1.0) -> dict:
    """Write ``workload``'s inputs under ``out_dir``; return
    ``{name: {"rows", "bytes"}}`` per file written.

    Tables are written as ``<name>.parquet`` (the DuckDB twins and
    ``load_table`` both resolve them there): all ten for
    ``batch_session``; for ``stream_refresh`` only ``events``, next to
    ``arrivals/events_<i>.parquet``, ``ARRIVAL_FILES`` day-aligned slices
    of ``events`` in time order.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = star_schema(scale)
    if workload == "batch_session":
        tables.update(corpus(scale))
        tables["documents"] = _shuffled(tables["documents"], rng)
        tables["embeddings"] = _shuffled(tables["embeddings"], rng)
    stats: dict = {}
    if workload == "stream_refresh":
        events = tables["events"]
        day = pc.cast(events["ts"], pa.int64()).to_numpy() // 86_400_000_000
        first = int(day.min())
        adir = os.path.join(out_dir, "arrivals")
        os.makedirs(adir, exist_ok=True)
        parts = []
        for i in range(ARRIVAL_FILES):
            mask = day == first + i
            part = _shuffled(events.filter(pa.array(mask)), rng)
            path = os.path.join(adir, f"events_{i:03d}.parquet")
            _write(part, path, stats, f"arrival_{i}")
            parts.append(part)
        # the batch twins read exactly the events that arrive
        tables = {"events": pa.concat_tables(parts)}
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"), stats, name)
    return stats


if __name__ == "__main__":
    info = generate(
        sys.argv[2] if len(sys.argv) > 2 else "batch_session",
        int(sys.argv[3]) if len(sys.argv) > 3 else 0,
        sys.argv[1],
    )
    json.dump(info, sys.stdout, indent=1)
    print()
