"""Synthetic input tables for the benchmark.

Writes the ten tables the engine's catalog knows (``region`` … ``embeddings``)
as one parquet file each, with the column names and types of the repo's
test fixtures and similar value distributions: uniform keys, TPC-H-like
dates and prices, an ``events`` stream over January 2024, random documents
over a 30-word vocabulary and unit-length 64-dimension embeddings.

The tables depend only on the scale factor: the data seed is fixed, so the
frozen statement plan (``deck.json``) and its costs stay valid. A run's
``--seed`` orders statements and picks write key ranges, never data.

    python3 perfbench/gen_data.py [outdir] [sf]     # default .data/sf0.01
"""

from __future__ import annotations

import os
import shutil
import sys

DATA_SEED = 42

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def tables(sf: float) -> dict:
    """Table name -> pandas DataFrame at scale factor ``sf``."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(DATA_SEED)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_user = int(15_000 * sf)
    n_doc = int(50_000 * sf)
    n_vec = 2000 if sf >= 0.1 else 500

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, span, n):
        return pd.Timestamp(start) + pd.to_timedelta(
            rng.integers(0, span, n), unit="D"
        )

    def ts_us(values):
        return pd.Series(values).astype("datetime64[us]")

    out = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": list(REGIONS),
        }),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{ADJ[a]} {NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part),
                                rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(P_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": ts_us(days("1995-01-01", 2400, n_ord)),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), n_li),
            "l_linestatus": rng.choice(("F", "O"), n_li),
            "l_shipdate": ts_us(days("1995-01-02", 2500, n_li)),
        }),
    }
    # events: ids follow time order, as in an append-only stream
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts_us(pd.Timestamp("2024-01-01") + pd.to_timedelta(offs, "us")),
        "user_id": rng.integers(0, n_user, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [
        " ".join(rng.choice(VOCAB, int(k)))
        for k in rng.integers(10, 100, n_doc)
    ]
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(("de", "en", "es", "fr", "zh"), n_doc,
                           p=(0.14, 0.44, 0.14, 0.14, 0.14)),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + 0.8 * rng.normal(size=(n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)),
        "label": labels.astype(np.int32),
    })
    return out


def ensure(out_dir: str, sf: float) -> str:
    """Write the tables to ``out_dir`` unless a complete copy is there.

    Writes to a sibling directory and renames it into place, so an
    interrupted run never leaves a partial table set behind."""
    if os.path.exists(os.path.join(out_dir, "_COMPLETE")):
        return out_dir
    tmp = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, df in tables(sf).items():
        df.to_parquet(os.path.join(tmp, f"{name}.parquet"), index=False)
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return out_dir


if __name__ == "__main__":
    here = os.path.dirname(os.path.abspath(__file__))
    target = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        here, ".data", "sf0.01"
    )
    ensure(target, float(sys.argv[2]) if len(sys.argv) > 2 else 0.01)
    print(target)
