"""Seeded benchmark inputs: the ten parquet tables and the video manifest.

The engine only ever sees what this module writes. Tables follow the
schemas and value shapes of the engine's test tables (TPC-H-like star
schema, an ``events`` stream, ``documents`` with ~5% appended near
duplicates, unit-norm 64-d ``embeddings``), sized by a scale factor ``sf``
with the same row-count rules. The same (seed, sf) always gives the same
bytes; outputs are cached under the work directory and generation is never
timed.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "the a join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
LANGS = (["en"] * 8) + (["fr", "es", "zh", "de"] * 3)
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
TYPES = ["PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD"]
SEGMENTS = ["FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

VIDEO_EXTS = ["mp4", "avi", "mkv"]
OTHER_EXTS = ["txt", "json", "jpg"]
RESOLUTIONS = ["240p", "480p", "720p", "1080p"]

_US_PER_DAY = 86_400_000_000
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings",
)


def _rng(seed: int, name: str) -> np.random.Generator:
    """Independent stream per (seed, table) so tables don't shift each other."""
    digest = hashlib.sha256(f"{seed}:{name}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    us = rng.integers(lo, hi + 1, n).astype(np.int64) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = max(1, round(6_000_000 * sf))
    n_ev = max(1, round(1_000_000 * sf))
    n_user = max(1, round(15_000 * sf))
    n_doc = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    r = _rng(seed, "customer")
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
        }
    )

    r = _rng(seed, "supplier")
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
        }
    )

    r = _rng(seed, "part")
    keys = np.arange(n_part)
    names = [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": names,
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
            "p_type": np.array(TYPES)[r.integers(0, 6, n_part)],
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
        }
    )

    r = _rng(seed, "orders")
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["O", "F", "P"])[r.integers(0, 3, n_ord)],
            "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(r, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
        }
    )

    r = _rng(seed, "lineitem")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
            "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105_000.0, n_line),
            "l_discount": r.integers(0, 11, n_line) / 100.0,
            "l_tax": r.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["N", "R", "A"])[r.integers(0, 3, n_line)],
            "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, n_line)],
            "l_shipdate": _days(r, "1995-01-02", "2001-11-04", n_line),
        }
    )

    r = _rng(seed, "events")
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + r.integers(0, 30 * _US_PER_DAY, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, n_user, n_ev), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
            "value": np.maximum(0.01, np.round(r.exponential(50.0, n_ev), 2)),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
        }
    )

    r = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(n_doc):
        if i > 0 and r.random() < 0.05:  # near duplicate of an earlier doc
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            n_words = int(r.integers(10, 101))
            texts.append(" ".join(np.array(VOCAB)[r.integers(0, len(VOCAB), n_words)]))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[r.integers(0, len(LANGS), n_doc)],
            "source": [f"src{s}" for s in r.integers(0, 20, n_doc)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )

    r = _rng(seed, "embeddings")
    vecs = r.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return t


def ensure_tables(root: str, seed: int, sf: float) -> str:
    """Write the tables for (seed, sf) once; return their directory."""
    out = os.path.join(root, f"tables-sf{sf:g}-seed{seed}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        for name, table in make_tables(seed, sf).items():
            pq.write_table(table, os.path.join(out, f"{name}.parquet"))
        with open(done, "w") as fh:
            fh.write("ok\n")
    return out


def make_manifest(seed: int, n_files: int) -> list[str]:
    """``gs://bucket/videos/{label}/{res}/video_{i}.{ext}`` paths; about one
    in ten has a non-video extension that the engine's filter drops."""
    r = _rng(seed, "manifest")
    labels = r.integers(0, 10, n_files)
    res = r.integers(0, len(RESOLUTIONS), n_files)
    other = r.random(n_files) < 0.1
    ext_v = r.integers(0, len(VIDEO_EXTS), n_files)
    ext_o = r.integers(0, len(OTHER_EXTS), n_files)
    return [
        f"gs://bucket/videos/label{labels[i]}/{RESOLUTIONS[res[i]]}/video_{i}."
        + (OTHER_EXTS[ext_o[i]] if other[i] else VIDEO_EXTS[ext_v[i]])
        for i in range(n_files)
    ]


def ensure_manifest(root: str, seed: int, n_files: int) -> str:
    path = os.path.join(root, f"manifest-n{n_files}-seed{seed}.txt")
    if not os.path.exists(path):
        os.makedirs(root, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            fh.write("\n".join(make_manifest(seed, n_files)) + "\n")
        os.replace(tmp, path)
    return path
