"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of the seed:

* ``write_tables`` writes the ten parquet tables the ``queries()``
  contract reads (a TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings``), with the column names, dtypes and
  value domains of the reference test data.
* ``make_panel`` builds a Numerai-style (era, ticker) panel with
  features, a price series, a prediction and a target, rows shuffled so
  the panel has no physical order.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 0 and roll < 0.05:  # near duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and roll < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(WORDS, k)))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.standard_normal((10, dim))
    vecs = centers[labels] * 0.5 + rng.standard_normal((n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def table_frames(seed: int, sf: float) -> dict[str, pd.DataFrame | pa.Table]:
    """The ten contract tables at scale factor ``sf`` (sf 0.01 is 60k
    lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_part = int(150_000 * sf), int(200_000 * sf)
    n_supp, n_ord, n_line = int(10_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(int(15_000 * sf), 10)
    n_docs, n_vecs = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    out: dict[str, pd.DataFrame | pa.Table] = {}
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
            "c_acctbal": _money(rng, -1000, 10_000, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -1000, 10_000, n_supp),
        }
    )
    out["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(P_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }
    )
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US,
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
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": EPOCH_1995 + (1 + rng.integers(0, 2499, n_line)) * DAY_US,
        }
    )
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": EPOCH_2024 + ts,
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_vecs)
    return out


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write the contract tables as ``<out_dir>/<name>.parquet`` (one
    file, one row group each, like the reference data)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, frame in table_frames(seed, sf).items():
        table = frame if isinstance(frame, pa.Table) else pa.Table.from_pandas(
            frame, preserve_index=False
        )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def make_panel(seed: int, eras: int, tickers: int, n_features: int) -> pd.DataFrame:
    """Numerai-style panel: one row per (era, ticker) with quantized
    features in {0, .25, .5, .75, 1}, a positive ``close`` random walk
    per ticker, a ``prediction`` correlated with the features and a
    noisy ``target``. Rows are shuffled.

    The features' weights in the prediction are fixed, not drawn from
    the seed: how far ``FeaturePenalizer`` must iterate depends on the
    prediction's feature exposures, and with seeded weights its time
    swung twofold from seed to seed."""
    rng = np.random.default_rng(seed)
    n = eras * tickers
    era = np.repeat(np.arange(1, eras + 1, dtype=np.int32), tickers)
    ticker = np.tile(np.array([f"T{i:05d}" for i in range(tickers)]), eras)
    feats = rng.integers(0, 5, (n, n_features)) / 4.0
    steps = rng.normal(0.0, 0.02, (eras, tickers))
    close = 100.0 * np.exp(np.cumsum(steps, axis=0)).reshape(n)
    signal = feats @ np.linspace(1.0, -1.0, n_features)
    prediction = signal + rng.normal(0.0, 1.0, n)
    target = 0.3 * signal + rng.normal(0.0, 1.0, n)
    frame = pd.DataFrame({"era": era, "ticker": ticker})
    for j in range(n_features):
        frame[f"feature{j}"] = feats[:, j]
    frame["close"] = np.round(close, 6)
    frame["prediction"] = prediction
    frame["target"] = target
    return frame.iloc[rng.permutation(n)].reset_index(drop=True)
