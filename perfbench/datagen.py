"""Deterministic tables for the benchmark.

Writes the ten tables the query registry reads (``pontem_spark.sources.tables.TABLES``)
as one parquet file each: a TPC-H-like star schema, an ``events`` stream sorted
by time, ``documents`` over a 30-word vocabulary with 5% near-duplicates
(another document's text plus `` dup``), and unit-norm 64-d ``embeddings``.
Row counts scale with ``sf`` like TPC-H. The same ``(sf, seed)`` always gives
the same values.

With seed 42 the draws replay those of the project's read-only test tables
(TESTDATA.md, FIXTURES.md section 2): at sf 0.001, 0.01 and 0.1 every value
equals the test tables' value, except that a few ``events.ts`` values (2 of
10,000 rows at sf 0.01) differ by one microsecond.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

# The order of every list matters: a draw picks an index into it.
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
ADJECTIVES = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
NOUNS = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ORDER_STATUS = ["O", "F", "P"]
RETURN_FLAGS = ["R", "A", "N"]
LINE_STATUS = ["O", "F"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
WORDS = (
    "the a spark query table join group filter window data order customer part line "
    "fast slow big small hash sort merge scan agg stream batch vector key value row column"
).split()


def _dates(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, (hi_d - lo_d).astype(np.int64) + 1, n)
    return (lo_d + days).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out: dict[str, pd.DataFrame] = {}

    out["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, n_part), rng.choice(NOUNS, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(ORDER_STATUS, n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": rng.choice(RETURN_FLAGS, n_line),
            "l_linestatus": rng.choice(LINE_STATUS, n_line),
            "l_shipdate": _dates(rng, n_line, "1995-01-02", "2001-11-04"),
        }
    )

    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev))
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(15, int(15_000 * sf)), n_ev).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }
    )

    text = [" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))) for _ in range(n_doc)]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        text[i] = text[int(rng.integers(0, n_doc))] + " dup"
    out["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": text,
            "lang": rng.choice(LANGS, n_doc),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )

    vecs = rng.normal(0.0, 1.0, (n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    return out


def write(out_dir: str, sf: float, seed: int) -> None:
    """Write every table to ``out_dir/<name>.parquet`` (atomically per file)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        df.to_parquet(path + ".tmp", index=False)
        os.replace(path + ".tmp", path)
