"""Seeded generator for the registry's input tables.

The registry queries read ten parquet tables from one directory: a
TPC-H-shaped star schema plus ``events``, ``documents`` and
``embeddings``. The benchmark cannot read a fixture from outside its
own checkout, so it writes these tables itself. Column names, types
and value domains follow the schemas in FIXTURES.md; every value is
drawn from ``numpy.random.default_rng(seed)``, so one seed always
gives the same bytes. Row counts scale with ``sf`` like the fixtures:
6M lineitem rows per unit of scale.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _ts(start: str, offsets_us: np.ndarray) -> pd.Series:
    # microsecond timestamps, like the fixtures: Spark reads nanosecond
    # parquet timestamps as plain longs
    ts = pd.Timestamp(start) + pd.to_timedelta(offsets_us, unit="us")
    return pd.Series(ts).astype("datetime64[us]")


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pd.Series:
    span = (pd.Timestamp(end) - pd.Timestamp(start)).days
    return _ts(start, rng.integers(0, span + 1, n) * 86_400_000_000)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate: a prefix of an earlier document plus a marker
            src = texts[int(rng.integers(0, i))].split(" ")
            keep = max(5, int(len(src) * rng.uniform(0.6, 0.95)))
            texts.append(" ".join(src[:keep]) + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    lang = rng.choice(LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": lang,
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pd.DataFrame:
    centers = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n)
    v = centers[label] + rng.normal(scale=0.8, size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(v.astype(np.float32)),
            "label": label.astype(np.int32),
        }
    )


def make_tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """All ten registry tables at scale ``sf`` as pandas frames."""
    rng = np.random.default_rng(seed)
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_cust, n_part = int(150_000 * sf), int(200_000 * sf)
    n_supp, n_ev = max(10, int(10_000 * sf)), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))

    def names(prefix: str, n: int) -> list[str]:
        return [f"{prefix}#{i:09d}" for i in range(n)]

    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": names("Customer", n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": names("Supplier", n_supp),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part)
                )
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
        }
    )
    ts = np.sort(rng.choice(30 * 86_400_000_000, n_ev, replace=False))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts("2024-01-01", ts),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, max(500, int(50_000 * sf)))
    t["embeddings"] = _embeddings(rng, 500 if sf <= 0.01 else 2000)
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, dict[str, int]]:
    """Write every table as ``<out_dir>/<name>.parquet`` (one file each,
    which the streaming source's glob filter needs) and return rows and
    bytes per table."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, df in make_tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
        sizes[name] = {"rows": len(df), "bytes": os.path.getsize(path)}
    return sizes
