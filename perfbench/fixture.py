"""Deterministic batch fixture for the benchmark.

Writes the ten catalog tables (TPC-H-shaped star schema, ``events``,
``documents``, ``embeddings``) with the column names, types and value
domains of the repository's test data (TESTDATA.md), so every catalog query and its DuckDB
oracle run on it unchanged. The fixture depends only on ``SCALE`` and
``FIXTURE_SEED``: it is built once per checkout, verified by row counts,
and reused by every run. The workload seed never reaches it; batch
workloads use their seed to permute query order instead.

Fact tables are split into ``FACT_FILES`` parquet files so each scan is
several tasks, not one.

    python3 perfbench/fixture.py OUT_DIR      # build (idempotent)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 20240101
#: Relational and ``events`` row counts scale linearly with SCALE
#: (SCALE=1 matches the sf0.01 test data); ``documents`` scales at twice
#: that. SCALE=30 makes every mix query's pass time mostly executor time.
SCALE = 30
#: Fixed: the similarity query scores every 100th vector against all of
#: them, so its cost grows with the square of this count.
EMBEDDINGS = 3500
FACT_FILES = 8
VERSION = 2

WORDS = (
    "a the data spark stream batch table query scan filter join group agg sort"
    " window hash key value row column line part order customer merge fast slow"
    " big small vector index shard token corpus model train eval cache plan"
).split()
LANGS = ("en", "en", "en", "en", "de", "es", "fr", "zh")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_NAMES = ("small ring", "red widget", "blue bolt", "green gear", "steel pin", "brass nut")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def row_counts() -> dict[str, int]:
    """Rows per table; lineitem's count is drawn, so the manifest
    records it after generation."""
    return {
        "region": 5,
        "nation": 25,
        "customer": 1500 * SCALE,
        "supplier": 100 * SCALE,
        "part": 2000 * SCALE,
        "orders": 15000 * SCALE,
        "events": 10000 * SCALE,
        "documents": 1000 * SCALE,
        "embeddings": EMBEDDINGS,
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal doubles, as the test data carries."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _write(out: str, name: str, table: pa.Table, files: int = 1) -> None:
    path = os.path.join(out, f"{name}.parquet")
    if files == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def _days(base: datetime, offsets: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents with realistic dup mass: ~5% exact copies
    and ~5% near copies (a few words substituted) of earlier docs."""
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and roll < 0.10:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)], pa.string()),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centers = rng.normal(0, 1, (labels, dim))
    label = rng.integers(0, labels, n)
    vecs = centers[label] + rng.normal(0, 0.6, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(pa.array(np.arange(n + 1) * dim, pa.int32()), flat),
            "label": pa.array(label.astype(np.int32), pa.int32()),
        }
    )


def generate(out: str) -> dict[str, int]:
    rng = np.random.default_rng(FIXTURE_SEED)
    counts = row_counts()
    os.makedirs(out)
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(out, "region", pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": names}))
    _write(
        out,
        "nation",
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    )
    n = counts["customer"]
    _write(
        out,
        "customer",
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n)],
                "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n),
                "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n)],
            }
        ),
    )
    n = counts["supplier"]
    _write(
        out,
        "supplier",
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(n), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n)],
                "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n),
            }
        ),
    )
    n_part = counts["part"]
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    _write(
        out,
        "part",
        pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [PART_NAMES[j] for j in rng.integers(0, len(PART_NAMES), n_part)],
                "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
                "p_type": [PART_TYPES[j] for j in rng.integers(0, len(PART_TYPES), n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
                "p_retailprice": retail,
            }
        ),
    )
    n_ord = counts["orders"]
    order_day = rng.integers(0, 2405, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(
        out,
        "orders",
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, counts["customer"], n_ord), pa.int64()),
                "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _days(datetime(1995, 1, 1), order_day),
                "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
            }
        ),
        FACT_FILES,
    )
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(okey)
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    flags = rng.integers(0, 6, n_li)
    _write(
        out,
        "lineitem",
        pa.table(
            {
                "l_orderkey": pa.array(okey, pa.int64()),
                "l_partkey": pa.array(partkey, pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, counts["supplier"], n_li), pa.int64()),
                "l_linenumber": pa.array(lineno),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * retail[partkey], 2),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": [("A", "N", "R")[j // 2] for j in flags],
                "l_linestatus": [("F", "O")[j % 2] for j in flags],
                "l_shipdate": _days(datetime(1995, 1, 2), order_day[okey] + rng.integers(1, 122, n_li)),
            }
        ),
        FACT_FILES,
    )
    counts["lineitem"] = n_li
    n_ev = counts["events"]
    month_us = 30 * 86400 * 10**6
    ts_us = np.sort(rng.integers(0, month_us, n_ev))
    _write(
        out,
        "events",
        pa.table(
            {
                "event_id": pa.array(np.arange(n_ev), pa.int64()),
                "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"), pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, 150 * SCALE, n_ev), pa.int64()),
                "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)],
                "value": _money(rng, 0.01, 490.0, n_ev),
                "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)],
            }
        ),
        FACT_FILES,
    )
    _write(out, "documents", _documents(rng, counts["documents"]), FACT_FILES)
    _write(out, "embeddings", _embeddings(rng, counts["embeddings"]), FACT_FILES)
    return counts


def verify(out: str) -> dict[str, int]:
    """Re-count every table against the manifest; raise on a mismatch
    or a missing/partial build."""
    with open(os.path.join(out, "MANIFEST.json")) as f:
        manifest = json.load(f)
    if manifest.get("version") != VERSION or manifest.get("scale") != SCALE:
        raise ValueError(f"fixture at {out} is from another generator version")
    for name, rows in manifest["rows"].items():
        got = pq.ParquetDataset(os.path.join(out, f"{name}.parquet")).read(columns=[]).num_rows
        if got != rows:
            raise ValueError(f"fixture table {name}: {got} rows, manifest says {rows}")
    return manifest["rows"]


def ensure(out: str) -> dict[str, int]:
    """Build the fixture at ``out`` unless a verified one is there."""
    if os.path.exists(os.path.join(out, "MANIFEST.json")):
        try:
            return verify(out)
        except (ValueError, OSError):
            shutil.rmtree(out)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    counts = generate(tmp)
    with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
        json.dump({"version": VERSION, "scale": SCALE, "seed": FIXTURE_SEED, "rows": counts}, f)
    os.replace(tmp, out)
    return verify(out)


if __name__ == "__main__":
    print(json.dumps(ensure(sys.argv[1])))
