"""Seeded input generator for the benchmark.

Writes the ten tables the query registry reads (``region nation
customer supplier part orders lineitem events documents embeddings``),
one parquet file each, with the schemas and value distributions of the
project's synthetic test data, at any scale factor. It uses numpy and
pyarrow only, never the package under test, so a change to the program
cannot change its own inputs.

Row counts follow the test data: lineitem ``6 M x sf``, orders
``1.5 M x sf``, events ``1 M x sf``, documents ``max(500, 50 k x sf)``,
embeddings ``max(500, 20 k x sf)``. Every document draws its tokens
from one 30-word vocabulary, so the heavy-hitter query always has
frequent items, and a seeded 5% of documents repeat an earlier
document plus the token ``dup``, so the dedup queries always find
pairs.

Usage::

    python3 perfbench/gen.py <out_dir> <sf> <seed>
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark "
    "stream table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DUP_SHARE = 0.05
EMBED_DIM = 64
# rows per parquet row group: several groups per fact table, so Spark
# can split one file over all local cores
ROW_GROUP = 100_000


def _days(rng, n: int, first: dt.date, last: dt.date) -> np.ndarray:
    """Uniform calendar days in [first, last] as timestamp[us] values."""
    span = (last - first).days + 1
    day0 = np.datetime64(first, "D")
    return (day0 + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    codes = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(codes, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMBED_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM), pa.int32()),
                flat,
            ),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at scale ``sf``; the same (sf, seed) gives the
    same rows. Each table draws from its own child generator, so one
    table's row count never shifts another table's values."""
    rngs = dict(
        zip(TABLES, np.random.default_rng(seed).spawn(len(TABLES)))
    )
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    r = rngs["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(r, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(r, SEGMENTS, n_cust),
        }
    )

    r = rngs["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(r, n_supp, -999.99, 9999.99),
        }
    )

    r = rngs["part"]
    keys = np.arange(n_part)
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": _pick(r, names, n_part),
            "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(r, PART_TYPES, n_part),
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )

    r = rngs["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(r, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(
                r, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)
            ),
            "o_orderpriority": _pick(r, PRIORITIES, n_ord),
        }
    )

    r = rngs["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
            "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(r, n_line, 900.0, 105000.0),
            "l_discount": r.integers(0, 11, n_line) / 100.0,
            "l_tax": r.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(r, ["F", "O"], n_line),
            "l_shipdate": _days(
                r, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)
            ),
        }
    )

    r = rngs["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(r.integers(0, month_us, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": (np.datetime64("2024-01-01T00:00:00", "us") + ts),
            "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
            "event_type": _pick(r, EVENT_TYPES, n_ev),
            "value": np.round(r.exponential(50.0, n_ev), 2),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]
            ),
        }
    )

    t["documents"] = _documents(rngs["documents"], n_docs)
    t["embeddings"] = _embeddings(rngs["embeddings"], n_vecs)
    return t


def generate(out_dir: str | Path, sf: float, seed: int) -> dict[str, dict]:
    """Write the tables under ``out_dir`` unless a complete copy is
    already there; return per-table ``{files, rows, bytes}``. The
    layout file is written last, so its presence marks a finished
    copy."""
    out = Path(out_dir)
    layout_path = out / "_LAYOUT.json"
    if layout_path.exists():
        return json.loads(layout_path.read_text())
    tmp = out.with_name(out.name + ".tmp")
    for stale in (tmp, out):
        shutil.rmtree(stale, ignore_errors=True)
    tmp.mkdir(parents=True)
    layout = {}
    for name, table in make_tables(sf, seed).items():
        path = tmp / f"{name}.parquet"
        pq.write_table(table, path, row_group_size=ROW_GROUP)
        layout[name] = {
            "files": 1,
            "rows": table.num_rows,
            "bytes": path.stat().st_size,
        }
    (tmp / "_LAYOUT.json").write_text(json.dumps(layout, sort_keys=True))
    os.replace(tmp, out)
    return layout


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    print(json.dumps(generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))))
