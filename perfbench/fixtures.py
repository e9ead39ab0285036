"""Deterministic synthetic fixtures for the benchmark.

The tables have the schema and value distributions of the project's test
fixtures (see FIXTURES.md): a TPC-H-style star schema plus the ``events``,
``documents`` and ``embeddings`` tables. Row counts scale with ``sf`` the
same way (lineitem = 6M x sf). Column types follow the fixture files as
they are stored, not FIXTURES.md's tables: the files hold ``o_orderdate``,
``l_shipdate`` and ``events.ts`` as timestamp[us] (INT64 micros without a
UTC flag, read by Spark as timestamp_ntz), where FIXTURES.md lists
timestamp[ms] and timestamp[ns]. The data seed is fixed, so every checkout
generates byte-identical parquet files; the workload seed given to
``run.py`` only reorders operations and never touches the data.

Fixtures are written by a child process (``python3 fixtures.py DIR SF``),
so the benchmark process never imports numpy or pyarrow itself and a run's
timed set-up pays for them when the package imports them, on the first run
in a checkout as on every later one.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys

DATA_SEED = 42
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000


def generate(sf: float) -> dict:
    """All fixture tables (pyarrow) at scale factor ``sf`` (lineitem = 6M x sf rows)."""
    import numpy as np
    import pyarrow as pa

    def money(rng, lo: float, hi: float, n: int):
        return np.round(rng.uniform(lo, hi, n), 2)

    def choice(rng, values: list[str], n: int, p=None):
        idx = rng.choice(len(values), size=n, p=p)
        return pa.array(np.asarray(values, dtype=object)[idx], pa.string())

    epoch_1995 = np.datetime64("1995-01-01", "us")
    order_days = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")) / np.timedelta64(1, "D"))
    rng = np.random.default_rng(DATA_SEED)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": choice(rng, _SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(rng, -999.99, 9999.99, n_supp),
        }
    )
    part_names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": choice(rng, part_names, n_part),
            "p_brand": choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": choice(rng, _PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    order_day = rng.integers(0, order_days + 1, n_ord)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": choice(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(epoch_1995 + order_day * np.timedelta64(1, "D"), pa.timestamp("us")),
            "o_orderpriority": choice(rng, _PRIORITIES, n_ord),
        }
    )
    li_order = rng.integers(0, n_ord, n_li)
    ship_day = order_day[li_order] + rng.integers(1, 96, n_li)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(li_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": choice(rng, ["A", "N", "R"], n_li),
            "l_linestatus": choice(rng, ["F", "O"], n_li),
            "l_shipdate": pa.array(epoch_1995 + ship_day * np.timedelta64(1, "D"), pa.timestamp("us")),
        }
    )
    ev_offsets = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_offsets.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev), pa.int64()),
            "event_type": choice(rng, _EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the same words with one
            # or two marker tokens appended (what the dedup operators find)
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_WORDS, n_words)))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": choice(rng, _LANGS, n_doc, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()[:16]


def ensure(data_root: str, sf: float) -> tuple[str, dict[str, str]]:
    """Write the fixtures for ``sf`` under ``data_root`` unless present.

    Returns the dataset directory and the sha256 prefix of every file, which
    keys the oracle cache and stamps the result."""
    sf_dir = os.path.join(data_root, f"sf{sf}")
    if not os.path.exists(os.path.join(sf_dir, "_COMPLETE")):
        subprocess.run([sys.executable, os.path.abspath(__file__), sf_dir, str(sf)], check=True, timeout=600)
    digests = {t: file_digest(os.path.join(sf_dir, f"{t}.parquet")) for t in TABLES}
    return sf_dir, digests


def write(sf_dir: str, sf: float) -> None:
    """Generate and write every table, then mark the directory complete."""
    import shutil

    import pyarrow.parquet as pq

    tmp = sf_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, table in generate(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), compression="snappy")
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    if os.path.exists(sf_dir):
        shutil.rmtree(sf_dir)
    os.replace(tmp, sf_dir)


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]))
