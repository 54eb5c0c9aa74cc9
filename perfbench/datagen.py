"""Seeded input generator for the benchmark.

Two kinds of input, both a pure function of ``seed``:

* ``make_tables``: the engine's star schema (region, nation, customer,
  supplier, part, orders, lineitem, events, documents, embeddings), one
  single-row-group snappy parquet file per table, with the column names,
  physical types and value domains of the repo's test tables (TESTDATA.md).
  Row counts scale with ``sf`` like the test tables do (lineitem = 6M x sf).
* ``make_ingest_files``: CSV and JSONL files for the ingest pipeline,
  with ~5% empty cells and some files carrying an ``id`` column.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
DUP_FRAC = 0.05  # documents that repeat an earlier document plus " dup"
N_SOURCES = 20  # documents.source takes this many values


def _days(rng, n, start, span):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _keyed_names(prefix, n):
    return pa.array([f"{prefix}#{k:09d}" for k in range(n)])


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf),
        "embeddings": min(2_000, int(50_000 * sf)),
    }


def _documents(rng, n):
    lengths = rng.integers(10, 100, n)
    words = np.array(WORDS)[rng.integers(0, len(WORDS), int(lengths.sum()))]
    texts, pos = [], 0
    for k in lengths:
        texts.append(" ".join(words[pos : pos + k]))
        pos += k
    n_dup = int(n * DUP_FRAC)
    for d in rng.choice(np.arange(1, n), n_dup, replace=False):
        texts[d] = texts[int(rng.integers(0, d))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{d % N_SOURCES}" for d in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n):
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def make_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every catalog table under ``out_dir``; returns rows per table."""
    rows = table_rows(sf)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = rows["customer"], rows["supplier"], rows["part"]
    n_ord, n_line, n_ev = rows["orders"], rows["lineitem"], rows["events"]
    cols: dict[str, dict] = {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": pa.array(REGIONS),
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": _keyed_names("Customer", n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": _keyed_names("Supplier", n_supp),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": _pick(
                rng, [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN], n_part
            ),
            "p_brand": _pick(rng, [f"Brand#{k}" for k in range(1, 26)], n_part),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(
                900 + (np.arange(n_part) % 1000) / 10, 1
            ),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000, 500000),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", 2405),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900, 105000),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", 2499),
        },
        "events": {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.sort(
                np.datetime64("2024-01-01", "us")
                + rng.integers(0, 30 * 86_400_000_000, n_ev).astype(
                    "timedelta64[us]"
                )
            ),
            "user_id": rng.integers(0, max(1, n_cust // 10), n_ev).astype(
                np.int64
            ),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": _pick(rng, [f'{{"k": {k}}}' for k in range(100)], n_ev),
        },
        "documents": _documents(rng, rows["documents"]),
        "embeddings": _embeddings(rng, rows["embeddings"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, data in cols.items():
        tbl = pa.table(data)
        pq.write_table(
            tbl,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, tbl.num_rows),
            compression="snappy",
        )
    return rows


# --- ingest files -------------------------------------------------------------

INGEST_TYPES = {
    "amount": "DECIMAL(12,2)",
    "qty": "INT",
    "day": "DATE",
    "score": "DOUBLE",
    "active": "BOOLEAN",
}
CITIES = ["Austin", "Berlin", "Lagos", "Lima", "Osaka", "Oslo", "Pune", "Quito"]
FIRST = ["ada", "bo", "cy", "di", "ed", "flo", "gus", "hal", "ivy", "jo"]
EMPTY_FRAC = 0.05
FORMATS = {"csv": ",", "jsonl": None}  # format -> field separator


def _ingest_columns(rng, n: int, with_id: bool) -> dict[str, list]:
    day0 = np.datetime64("2020-01-01", "D")
    cols = {
        "name": [
            f"{FIRST[a]}_{b}"
            for a, b in zip(rng.integers(0, 10, n), rng.integers(0, 100_000, n))
        ],
        "city": np.array(CITIES)[rng.integers(0, len(CITIES), n)].tolist(),
        "amount": [f"{v:.2f}" for v in rng.uniform(-500, 50_000, n)],
        "qty": [str(v) for v in rng.integers(0, 1000, n)],
        "day": [str(d) for d in day0 + rng.integers(0, 1500, n)],
        "score": [repr(float(v)) for v in np.round(rng.random(n), 6)],
        "active": np.where(rng.random(n) < 0.5, "true", "false").tolist(),
    }
    for values in cols.values():
        for i in np.flatnonzero(rng.random(n) < EMPTY_FRAC):
            values[i] = ""
    if with_id:
        cols = {"id": [str(v) for v in rng.permutation(n) + 1], **cols}
    return cols


def _write_delimited(path: str, sep: str, cols: dict[str, list]) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.write(sep.join(cols) + "\n")
        f.writelines(sep.join(row) + "\n" for row in zip(*cols.values()))


def _write_jsonl(path: str, cols: dict[str, list]) -> None:
    numeric = {"id": int, "qty": int, "amount": float, "score": float}
    names = list(cols)
    with open(path, "w", encoding="utf-8") as f:
        for row in zip(*cols.values()):
            rec = {}
            for k, v in zip(names, row):
                if k in numeric:
                    rec[k] = numeric[k](v) if v else None
                elif k == "active":
                    rec[k] = (v == "true") if v else None
                else:
                    rec[k] = v
            f.write(json.dumps(rec) + "\n")


def make_ingest_files(out_dir: str, seed: int, rows: int, files: list[dict]) -> dict:
    """Write one file per entry of ``files`` ({"format", "with_id"});
    returns the manifest keyed by file stem.

    Each manifest entry: path, format, rows, bytes, with_id, and the
    user-declared ``types`` the load applies.
    """
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    manifest = {}
    for entry in files:
        fmt, with_id = entry["format"], entry["with_id"]
        stem = f"{fmt}_{'withid' if with_id else 'noid'}"
        cols = _ingest_columns(rng, rows, with_id)
        sep = FORMATS[fmt]
        path = os.path.join(out_dir, f"{stem}.{fmt}")
        if sep is None:
            _write_jsonl(path, cols)
        else:
            _write_delimited(path, sep, cols)
        types = dict(INGEST_TYPES)
        if with_id:
            types["id"] = "INT"
        manifest[stem] = {
            "path": path,
            "format": fmt,
            "rows": rows,
            "bytes": os.path.getsize(path),
            "with_id": with_id,
            "types": types,
        }
    return manifest

