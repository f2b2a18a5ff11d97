"""Seeded input corpus for the benchmark.

Writes the eight tables the benchmark's queries read (the TPC-H-style
star schema and ``events``; column names and types follow FIXTURES.md)
into one directory, every value drawn from a
``numpy`` generator seeded by the run seed. Row counts depend only on
the scale arguments, never on the seed, so two seeds give inputs of the
same size but different bytes and row order.

The fact tables (``lineitem``, ``orders``, ``events``) are written as
directories of ``PARTS`` files so a scan has one split per core, the way
a lake table is laid out; small dimensions are single files.

Self-check (same seed -> byte-identical, different seed -> different)::

    python3 perfbench/gen.py --selfcheck
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PARTS = 4

# Rows per unit of scale factor (sf=1 is the TPC-H-style "sf1").
_BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
_SPLIT = ("lineitem", "orders", "events")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _ts(start: str, n: int, days: int, rng: np.random.Generator) -> np.ndarray:
    base = np.datetime64(start, "D")
    return base + rng.integers(0, days, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _shuffled(t: pa.Table, rng: np.random.Generator) -> pa.Table:
    return t.take(pa.array(rng.permutation(t.num_rows)))


def star_tables(sf: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    n = {k: max(int(v * sf), 25) for k, v in _BASE_ROWS.items()}
    nc, ns, npart, no, nl = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"]
    )
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }),
        "part": pa.table({
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": np.array(_PTYPES)[rng.integers(0, 6, npart)],
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": pa.array(_ts("1995-01-01", no, 2404, rng), pa.timestamp("us")),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)],
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": pa.array(_ts("1995-01-02", nl, 2498, rng), pa.timestamp("us")),
        }),
    }
    # Keys are dense 0..n-1 by construction; the seed decides where each
    # row sits in the files.
    for t in ("customer", "supplier", "part", "orders", "lineitem"):
        out[t] = _shuffled(out[t], rng)
    return out


def events_table(sf: float, rng: np.random.Generator) -> pa.Table:
    """Time-ordered event log: a stream source replays files in order."""
    ne = max(int(_BASE_ROWS["events"] * sf), 100)
    users = max(ne * 15 // 1000, 10)
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, ne)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    return pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, users, ne).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })


def write_corpus(out_dir: str, seed: int, sf: float, events_sf: float) -> dict:
    """Generate every table into ``out_dir``; return rows and bytes per table."""
    rng = np.random.default_rng(seed)
    tables = star_tables(sf, rng)
    tables["events"] = events_table(events_sf, rng)
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if name in _SPLIT:
            os.makedirs(path)
            step = -(-t.num_rows // PARTS)
            for i in range(PARTS):
                pq.write_table(t.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))
        else:
            pq.write_table(t, path)
        sizes[name] = {"rows": t.num_rows, "bytes": _tree_bytes(path)}
    return sizes


def _tree_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def selfcheck(root: str) -> int:
    """Same seed -> byte-identical corpus; another seed -> different bytes."""
    digests = []
    for i, seed in enumerate((7, 7, 8)):
        d = os.path.join(root, f"c{i}")
        write_corpus(d, seed, sf=0.001, events_sf=0.001)
        digests.append(tree_digest(d))
    same, differ = digests[0] == digests[1], digests[0] != digests[2]
    print(f"same seed identical: {same}; other seed differs: {differ}")
    return 0 if same and differ else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--selfcheck", action="store_true")
    args = ap.parse_args()
    if not args.selfcheck:
        ap.error("only --selfcheck is runnable on its own")
    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.join(os.path.dirname(here), ".perfbench", "selfcheck")
    os.makedirs(root, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=root)
    try:
        return selfcheck(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
