"""Seeded input generator for the benchmark.

Everything the program under test receives is made here from the run's
seed: the ten star-schema tables the registry entries read, the staged
ingest slices, the orders table and the operation stream of the upsert
workload. This module imports only numpy and pyarrow, never the program,
so the inputs do not depend on the code being measured.

The same seed gives byte-identical parquet files and identical operation
lists; ``digest`` hashes a directory's files so tests can check that.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The tables carry the column names and value domains of the project's
# synthetic TPC-H-like test data (scale factor sf: lineitem = 6M x sf).
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["cold", "small", "large", "red", "blue", "green", "heavy", "light"]
PART_NOUN = ["widget", "bolt", "ring", "gear", "nut", "screw", "spring", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
EMB_DIM = 64

_EPOCH = dt.datetime(1970, 1, 1)
_US_PER_DAY = 86_400_000_000


def _us(when: dt.datetime) -> int:
    return (when - _EPOCH) // dt.timedelta(microseconds=1)


def _days(rng, n, lo: dt.datetime, hi: dt.datetime) -> pa.Array:
    """Whole-day timestamps uniform in [lo, hi]."""
    span = (hi - lo).days
    d = rng.integers(0, span + 1, n)
    return pa.array(_us(lo) + d * _US_PER_DAY, pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys]


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables at scale factor ``sf``, all drawn from ``seed``."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": _names("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": _names("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    ok = np.arange(n_ord, dtype=np.int64)
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
    })
    t["events"] = make_events(rng, n_ev, n_users)
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vec)
    return t


def make_events(rng, n: int, n_users: int) -> pa.Table:
    """Event stream rows: ids ascending, timestamps ascending over 30 days."""
    start = _us(dt.datetime(2024, 1, 1))
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n)) + start
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # a near-duplicate of an earlier document, so dedup has work
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        k = int(rng.integers(10, 100))
        texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (10, EMB_DIM))
    label = rng.integers(0, 10, n)
    x = 0.15 * centers[label] + rng.normal(0.0, 1.0, (n, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def write_table(table: pa.Table, path: str) -> int:
    """Write one parquet file deterministically; returns its size."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> int:
    """``<sf_dir>/<name>.parquet`` per table; returns total bytes."""
    return sum(
        write_table(tb, os.path.join(sf_dir, f"{name}.parquet"))
        for name, tb in tables.items()
    )


def stage_slices(seed: int, waves: int, files: int, rows: int, dest: str,
                 warm_files: int | None = None) -> dict:
    """Event slices for the ingest drain: a warm-up wave of ``warm_files``
    files, then ``waves`` waves of ``files`` parquet files, about ``rows``
    rows each, under ``dest/wave_<w>/``; event ids are contiguous across
    all of them. Slice sizes vary by +-10% around ``rows`` (a seeded
    re-slicing). Returns {"rows", "waves": [[path, ...], ...]}."""
    rng = np.random.default_rng([seed, 2])
    counts = [files if warm_files is None else warm_files] + [files] * waves
    sizes = rng.integers(int(rows * 0.9), int(rows * 1.1) + 1, sum(counts))
    ev = make_events(rng, int(sizes.sum()), n_users=1500)
    out = {"rows": ev.num_rows, "waves": []}
    pos = 0
    i = 0
    for w, n_files in enumerate(counts):
        paths = []
        for f in range(n_files):
            n = int(sizes[i])
            i += 1
            p = os.path.join(dest, f"wave_{w:02d}", f"slice_{f:03d}.parquet")
            write_table(ev.slice(pos, n), p)
            paths.append(p)
            pos += n
        out["waves"].append(paths)
    return out


def orders_with_seq(seed: int, n: int) -> pa.Table:
    """The upsert workload's base table: orders plus a ``seq`` column."""
    rng = np.random.default_rng([seed, 3])
    ok = np.arange(n, dtype=np.int64)
    return pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, max(150, n // 10), n),
        "o_totalprice": _money(rng, n, 1000.0, 500_000.0),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
        "seq": np.zeros(n, dtype=np.int64),
    })


def lake_ops(seed: int, n_rows: int, n_ops: int, cycle: int, upsert_at: int,
             upsert_keys: int) -> list[dict]:
    """The upsert workload's operation stream.

    Mostly point lookups, alternating between the clustered key
    (``o_orderkey``, min/max pruned) and ``o_custkey`` (Bloom pruned);
    operation ``upsert_at`` of every ``cycle`` is a merge of
    ``upsert_keys`` keys drawn from the newest 5% of orders. Merged rows
    get a new price, status and the operation's sequence number."""
    rng = np.random.default_rng([seed, 4])
    n_cust = max(150, n_rows // 10)
    hot = max(upsert_keys, n_rows // 20)
    ops = []
    for i in range(n_ops):
        if i % cycle == upsert_at:
            keys = np.sort(rng.choice(hot, upsert_keys, replace=False)) + (n_rows - hot)
            ops.append({
                "op": "upsert",
                "seq": i + 1,
                "keys": [int(k) for k in keys],
                "price": [float(p) for p in _money(rng, upsert_keys, 1000.0, 500_000.0)],
                "status": [("F", "O", "P")[j] for j in rng.integers(0, 3, upsert_keys)],
            })
        elif i % 2 == 0:
            ops.append({"op": "lookup", "col": "o_orderkey",
                        "value": int(rng.integers(0, n_rows))})
        else:
            ops.append({"op": "lookup", "col": "o_custkey",
                        "value": int(rng.integers(0, n_cust))})
    return ops


def entry_order(seed: int, names: list[str]) -> list[str]:
    """The query-mix pass order for this seed."""
    rng = np.random.default_rng([seed, 5])
    return [names[i] for i in rng.permutation(len(names))]


def digest(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes)."""
    h = hashlib.sha256()
    for d, _dirs, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
